"""Link-graph benchmark: one seeded workload in a fresh Spark session.

    python3 perfbench/run.py --workload corpus-pipeline --seed 1 --seconds 30 --trace 0

Run from the repository root. The run starts a ``local[nproc]`` session
and a short warm-up (``setup_s``), generates the seed's input outside
every timer, then repeats the workload's seven timed steps (see
workloads.py) while another repetition still fits in ``--seconds``; at
least one always runs. After each repetition, outside every timer, the
outputs are checked against independent oracles.

The last line of stdout is one JSON object: ``correct``, ``attempted``
and ``failed`` (timed steps, and steps that raised or failed their
check), and ``metrics``, each the median over repetitions. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics, prints a per-span table and writes the spans to
``.bench_work/traces``.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def confine_to_checkout(run_dir: str) -> None:
    """Point every scratch location of Python, the JVM and Spark inside the
    checkout, and put the engine on the Python workers' import path
    (``mapInPandas`` workers otherwise fail with ModuleNotFoundError)."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PG_ITERSTATE_DIR"] = os.path.join(run_dir, "iterstate")
    os.makedirs(os.environ["PG_ITERSTATE_DIR"], exist_ok=True)


def session_conf(run_dir: str) -> dict[str, str]:
    """The engine's own heap default stays in force; scratch locations move
    into the checkout. The JVM compiles with C1 only
    (``TieredStopAtLevel=1``): with the default tiered JIT, WCC ran faster
    on each of its first five calls in one session, and a job calls each
    kernel once, so every step would be timed part-way through C2's
    compilation, at a speed set by how far C2 got on a shared host.
    README.md gives the measurements."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1"
        ),
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def warmup(spark, nproc: int) -> None:
    """Compile the common operators and start the Python workers, so JIT
    and codegen warm-up is charged to set-up, not to the first step."""
    from pyspark.sql import functions as F

    df = spark.range(0, 200_000, 1, nproc).select(
        (F.col("id") % 1000).alias("k"), "id"
    )
    agg = df.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    df.join(agg, "k").agg(F.sum("c")).collect()
    spark.range(0, 10_000, 1, nproc).mapInPandas(lambda it: it, "id long").count()


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def memcpy_gb_s(mb: int = 64, passes: int = 3) -> float:
    """Best single-thread copy bandwidth: explains a run on a busy host."""
    import numpy as np

    a = np.ones(mb * 1_000_000 // 8)
    b = np.empty_like(a)
    best = float("inf")
    for _ in range(passes):
        t = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t)
    return mb / 1000 / best


def prepare_input(spark, wl, seed: int, out: str, tracer) -> tuple[str, float]:
    """Generate the seed's input table under ``out``; returns its path and
    the seconds generation took. Every run generates its input, so every
    run's JVM has done the same work before the job starts."""
    from workloads import generate

    source = os.path.join(out, "source")
    with tracer.span("sources.datagen") as rec:
        generate(spark, wl, seed, source)
    return source, tracer.duration(rec)


def main() -> int:
    args = parse_args()
    sys.path.insert(0, ROOT)
    try:
        from spans import Tracer
        from workloads import STEPS, WORKLOADS, release, run_job
        from checks import check
        from metrics import end_to_end, per_layer
        from paragrapher_spark import get_spark
    except ImportError as exc:
        print(f"cannot import the engine or the benchmark: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(WORK, "runs", run_id)
    confine_to_checkout(run_dir)
    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer(run_id, enabled=bool(args.trace))
    spark = None
    try:
        spark = get_spark(
            app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
            extra_conf=session_conf(run_dir),
        )
        spark.sparkContext.setLogLevel("ERROR")
        tracer.record("session.start", T_START, time.monotonic())
        with tracer.span("session.warmup"):
            warmup(spark, nproc)
        setup_s = time.monotonic() - T_START
        tracer.attach(spark)
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()

        source, datagen_s = prepare_input(spark, wl, args.seed, run_dir, tracer)

        reps: list[tuple[dict, dict]] = []
        work_done: list[dict] = []
        attempted = failed = 0
        window = time.monotonic()
        ticks = cpu_ticks()
        while True:
            rep_start = time.monotonic()
            work = os.path.join(run_dir, f"rep{len(reps)}")
            first_span = len(tracer.spans)
            attempted += len(STEPS)
            try:
                with tracer.span("job", rep=len(reps)):
                    res = run_job(spark, wl, source, work, tracer)
            except Exception:
                traceback.print_exc()
                done = {s["name"] for s in tracer.spans[first_span:]
                        if s["name"] in STEPS and s.get("ok")}
                failed += len(STEPS) - len(done)
                break
            rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
            try:
                bad, facts = check(wl, source, res)
            except Exception:  # an output the checks cannot even read
                traceback.print_exc()
                failed += len(STEPS)
                break
            for step, why in bad:
                print(f"check failed: {step}: {why}", file=sys.stderr)
            if facts["star_rounds"] != wl.wcc_rounds:
                # a property of this seed's input, not an engine fault
                print(f"note: seed {args.seed}'s graph needs {facts['star_rounds']} "
                      f"WCC rounds, the workload's inputs {wl.wcc_rounds}; its wcc_s "
                      "is not comparable with other seeds'", file=sys.stderr)
            failed += len({step for step, _ in bad})
            spans = tracer.spans[first_span:]
            work_done.append({
                "vertices": res.graph.num_vertices, "edges": res.graph.num_edges,
                "supersteps": res.resumed.iterations, "wcc_rounds": res.wcc.rounds,
                "input_wcc_rounds": facts["star_rounds"],
                "lpa_rounds": res.lpa.iterations, "triangles": res.triangles,
            })
            reps.append((
                end_to_end(tracer, spans, res, setup_s),
                per_layer(tracer, spans, res, facts, datagen_s, rss_mb) if args.trace else {},
            ))
            release(spark, work)
            if failed:
                break
            elapsed = time.monotonic() - window
            if elapsed + (time.monotonic() - rep_start) > args.seconds:
                break

        steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
        info = {
            "workload": wl.name, "seed": args.seed, "run_id": run_id,
            "nproc": nproc, "memcpy_gb_s": round(memcpy_gb_s(), 3),
            "steal_pct": round(100 * steal / max(total, 1), 2),
            "repetitions": len(reps), "work": work_done,
        }
        print(json.dumps({"info": info}))
        if not reps:
            return 1
        pick = 1 if args.trace else 0
        metrics = {
            name: {"value": statistics.median(r[pick][name][0] for r in reps),
                   "unit": reps[0][pick][name][1]}
            for name in reps[0][pick]
        }
        if args.trace:
            print(tracer.table())
            report_overhead(wl.name, args.seed, reps)
            tracer.write(os.path.join(
                WORK, "traces", f"{wl.name}-seed{args.seed}-{run_id}.jsonl"))
        else:
            save_untraced(wl.name, args.seed, metrics)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics,
        }))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def save_untraced(workload: str, seed: int, metrics: dict) -> None:
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{workload}-seed{seed}.json"), "w") as fh:
        json.dump(metrics, fh)


def report_overhead(workload: str, seed: int, reps: list) -> None:
    """Tracing overhead: this traced job_s minus the untraced job_s of the
    same workload and seed, when an untraced run of it left its result."""
    traced = statistics.median(r[0]["job_s"][0] for r in reps)
    path = os.path.join(WORK, "results", f"{workload}-seed{seed}.json")
    if not os.path.exists(path):
        print(f"tracing overhead: no untraced run of seed {seed} to compare")
        return
    with open(path) as fh:
        plain = json.load(fh)["job_s"]["value"]
    print(f"tracing overhead: traced job_s {traced:.3f} - untraced job_s "
          f"{plain:.3f} = {traced - plain:+.3f} s")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
