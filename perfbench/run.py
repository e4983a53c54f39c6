"""The repository's benchmark: one command, one Spark process.

    python3 perfbench/run.py --workload routes --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up (session start, input generation,
the warm-up jobs) is timed on its own; then the workload's job repeats
for ``--seconds`` seconds, each job metered for wall time, process-tree
CPU, peak tree RSS, host steal and a capacity probe. Every job's output
is checked after the timed region. With ``--trace 1`` a separate cut
run then times each layer on its own (see workloads.py).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Lines above it give every metric
by name and unit, each job's diagnostics, and any check failure. A
record of the run, spans included, is written to
``.perfbench/runs/`` when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LOAD_REPS = 3  # input generation + load repeats per run; setup_s takes the median
DEADLINE_S = 110.0  # start no further timed job after this much of the run

E2E_UNITS = {
    "job_s": "s",
    "items_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    return p.parse_args(argv)


def _start_session(tmp: str):
    from meter import driver_heap_mb
    from osmptparser_spark.session import get_spark

    # One task thread. Each Arrow-UDF task keeps a JVM task thread, its
    # Arrow writer thread and a Python worker busy at once, and at these
    # input sizes more task threads did not make jobs faster (measured
    # on 4 vCPUs, routes: 1.87-2.63 s jobs with 1 thread, 2.04-2.83 s
    # with 2, 2.15-3.47 s with 4) but did make them slower under
    # hypervisor steal, which stalls every task a stage waits for.
    n, heap = 1, driver_heap_mb()
    confs = {
        "spark.driver.memory": f"{heap}m",
        # a heap of fixed size from the start: no resize decisions, so
        # GC work and resident memory do not depend on when the heap grew
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap}m -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if not os.environ.get("SPARK_LOCAL_DIRS"):  # set, it wins over spark.local.dir
        confs["spark.local.dir"] = os.path.join(tmp, "local")
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=2 * n, confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and the JVM, then wait for every process this run
    started (the JVM and its Python workers) to end."""
    from meter import descendants
    from pyspark import SparkContext

    pids = descendants()
    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while (alive := [p for p in pids if _running(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive:
        os.kill(p, signal.SIGKILL)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _clean(spark) -> None:
    """Drop every cached table and persisted RDD the last job left, so
    the next job does all of its work again."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def run(args, record: dict) -> dict:
    from meter import JobMeter, capacity_probe_s

    t_start = time.perf_counter()
    import workloads  # imports the program: charged to session start

    wl = workloads.WORKLOADS[args.workload](args.seed, args.smoke)
    spark = _start_session(record["tmp"])
    record["spark"] = spark
    session_start = time.perf_counter() - t_start

    loads = []
    for _ in range(LOAD_REPS):
        t = time.perf_counter()
        inp = wl.load(spark)
        loads.append(time.perf_counter() - t)
    t = time.perf_counter()
    for _ in range(wl.warmup_jobs):
        wl.job(spark, inp)
        _clean(spark)
    warmup = time.perf_counter() - t
    setup_s = session_start + statistics.median(loads) + warmup

    jobs, outputs = [], []
    t_loop = time.perf_counter()
    while not jobs or (
        time.perf_counter() - t_loop < args.seconds
        and time.perf_counter() - t_start < DEADLINE_S
    ):
        rec = {"probe_s": capacity_probe_s()}
        try:
            with JobMeter() as jm:
                out = wl.job(spark, inp)
            outputs.append((len(jobs), out))
        except Exception:  # a failed job is counted and reported, not fatal
            rec["error"] = traceback.format_exc()
            print(rec["error"], file=sys.stderr)
        rec.update(wall_s=jm.wall, cpu_s=jm.cpu, peak_rss_mb=jm.peak_rss / 1e6, steal_s=jm.steal)
        _clean(spark)
        jobs.append(rec)
    for i, out in outputs:
        jobs[i]["problems"] = wl.check(out, inp)
    del outputs
    failed = sum(1 for j in jobs if "error" in j or j.get("problems"))

    # a job that ran to the end is timed even when its check failed
    ok = [j for j in jobs if "error" not in j] or jobs
    walls = [j["wall_s"] for j in ok]
    e2e = {
        "job_s": statistics.median(walls),
        "items_per_s": inp.items / statistics.median(walls),
        "cpu_s": statistics.median([j["cpu_s"] for j in ok]),
        "peak_rss_mb": statistics.median([j["peak_rss_mb"] for j in ok]),
        "setup_s": setup_s,
    }
    layers = dict.fromkeys(workloads.LAYER_METRICS, 0)
    layers.update(
        {
            "session.start_s": session_start,
            "input.load_s": statistics.median(loads),
            "warmup_s": warmup,
            "host.steal_s": sum(j["steal_s"] for j in jobs),
            "host.probe_s": statistics.median([j["probe_s"] for j in jobs]),
        }
    )
    attempted = len(jobs)
    if args.trace:
        from spans import Tracer

        attempted += 1
        tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
        try:
            cut, problems = wl.cut(spark, inp, tracer)
            layers.update(cut)
            layers["cut_sum_s"] = sum(
                tracer.self_seconds(s.name) for s in tracer.spans if s.parent
            )
            layers["trace_overhead_s"] = tracer.get("cut").seconds - e2e["job_s"]
        except Exception:
            problems = [traceback.format_exc()]
        _clean(spark)
        record["spans"] = [vars(s) for s in tracer.spans]
        record["cut_problems"] = problems
        failed += bool(problems)

    record.update(
        workload=args.workload,
        seed=args.seed,
        items=inp.items,
        item_unit=wl.item_unit,
        load_reps_s=loads,
        jobs=jobs,
        e2e=e2e,
        layers=layers,
    )
    _report(record)
    chosen = (
        {k: {"value": v, "unit": workloads.LAYER_METRICS[k]} for k, v in layers.items()}
        if args.trace
        else {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": chosen,
    }


def _report(record: dict) -> None:
    import workloads

    jobs = record["jobs"]
    n = len(jobs)
    print(f"workload {record['workload']} seed {record['seed']}: "
          f"{record['items']} {record['item_unit']}, {n} timed jobs")
    for i, j in enumerate(jobs):
        status = "error" if "error" in j else ("FAILED CHECK" if j.get("problems") else "ok")
        print(f"  job {i}: wall {j['wall_s']:.3f} s  cpu {j['cpu_s']:.2f} s  "
              f"rss {j['peak_rss_mb']:.0f} MB  steal {j['steal_s']:.2f} s  "
              f"probe {j['probe_s']:.4f} s  {status}")
        for p in j.get("problems", []):
            print(f"    check: {p}")
    for p in record.get("cut_problems", []):
        print(f"  cut check: {p}")
    failed = sum(1 for j in jobs if "error" in j or j.get("problems"))
    print(f"  failed_frac {failed / n:.4f} ({failed} of {n} jobs)")
    print(f"  job_s is the median of n={n}; no percentile above it has 10 "
          f"samples beyond it at this n" if n < 20 else
          f"  p90 job_s {statistics.quantiles([j['wall_s'] for j in jobs], n=10)[-1]:.3f} s (n={n})")
    for k, v in record["e2e"].items():
        print(f"  {k:<26} {v:>14.6g} {E2E_UNITS[k]}")
    if "spans" in record:
        for k, v in record["layers"].items():
            print(f"  {k:<26} {v:>14.6g} {workloads.LAYER_METRICS[k]}")


def main(argv=None) -> int:
    args = _parse(argv)
    # on SIGTERM unwind through the finally blocks: stop the JVM, remove tmp
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import osmptparser_spark  # noqa: F401  (fail fast outside a checkout)
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="tmp-", dir=work)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    record: dict = {"tmp": tmp}
    try:
        result = run(args, record)
    finally:
        try:
            _stop_session(record.get("spark"))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    record.pop("spark")
    record.pop("tmp")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(work, "runs", name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
