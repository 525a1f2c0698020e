"""pagerank_spark benchmark: one workload per run, closed loop, one client.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pr-small --seed 1 --seconds 10 --trace 0

A run builds the session on ``local[<usable cpus>]`` (``setup_s``),
writes the seeded inputs and computes the oracle (not timed), runs one
JIT-cold op (``first_op_s``), the workload's untimed warm-up ops, and
then ops back to back for ``--seconds``, at least two (``op_s.p50``).
Every op's output is checked. With ``--trace 1`` the same run then
restarts the session with Spark's event log on, repeats the warm-up
and timed ops, and reports per-layer counters from the log instead of
the end-to-end metrics; ``trace.overhead`` is the traced median op over
the untraced one.

Human-readable records go to stdout first; the last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding
the metrics that ``BENCHMARK.json`` lists for the chosen mode. Every
record is also appended to ``.perfbench/results.jsonl``, which
``perfbench/compare.py`` reads. All scratch files stay under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import platform
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
UNITS = {"setup_s": "s", "first_op_s": "s", "op_s.p50": "s", "peak_rss_mb": "MB"}
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
MIN_TIMED_OPS = 2


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf(
        "SC_CLK_TCK"
    )


def isolate_scratch() -> None:
    """Point every temporary file of Python, the JVM and Spark at
    ``.perfbench/``."""
    for d in ("tmp", "spark-local", "eventlog", "warehouse", "inputs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def session(cpus: int, **conf):
    from pagerank_spark.session import get_spark

    conf.update({
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    })
    spark = get_spark(master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit (the
    gateway JVM otherwise outlives ``spark.stop()`` until this process
    exits)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def make_workload(name: str, seed: int):
    from workloads import OperatorMix, PageRankPipeline

    if name == "pr-small":
        return PageRankPipeline(seed, WORK)
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    return OperatorMix(seed, WORK, entry)


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM child, from /proc."""
    me = os.getpid()
    pids = [me]
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                comm, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if int(rest.split()[1]) == me and comm.endswith("(java"):
            pids.append(int(stat.split("/")[2]))
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n}
    i = n - 11
    return {"value": sorted(values)[i], "percentile": 100.0 * (i + 1) / n,
            "samples": n}


def one_op(workload, spark, spans, log: list):
    """Run and check one op; a raised error counts as a failed op."""
    from workloads import OpResult

    t0 = time.perf_counter()
    try:
        res = workload.op(spark, spans)
    except Exception:
        traceback.print_exc()
        res = OpResult(time.perf_counter() - t0, False, ["op raised"])
    for e in res.errors:
        print(f"check failed: {e}", file=sys.stderr)
    log.append(res)
    return res


def run_ops(workload, spark, spans, seconds: float, log: list) -> list:
    """The workload's warm-up ops, then ops back to back until
    ``seconds`` have passed and at least ``MIN_TIMED_OPS`` have run.
    Returns the timed ops; every op is also appended to ``log``."""
    for _ in range(workload.warmup_ops):
        one_op(workload, spark, spans, log)
    spans.windows.clear()
    timed = []
    t0 = time.perf_counter()
    while len(timed) < MIN_TIMED_OPS or time.perf_counter() - t0 < seconds:
        timed.append(one_op(workload, spark, spans, log))
    return timed


def traced_phase(workload, cpus: int, seconds: float, log: list):
    """A fresh session with the event log on: the warm-up and timed ops
    again, then the log turned into per-span counters (per op)."""
    from eventlog import COUNTERS, span_profile
    from workloads import OperatorMix, PageRankPipeline, Spans

    log_dir = os.path.join(WORK, "eventlog")
    spark = session(cpus, **EVENT_LOG_CONF,
                    **{"spark.eventLog.dir": "file://" + log_dir})
    app_id = spark.sparkContext.applicationId
    spans = Spans(spark.sparkContext)
    traced = run_ops(workload, spark, spans, seconds, log)
    stop(spark)
    path = os.path.join(log_dir, app_id)
    profile, check = span_profile(path, spans.windows, len(traced))
    os.remove(path)

    # Every workload reports every span; a span it does not run is 0.
    out = {
        f"{span}.{k}": profile.get(span, {}).get(k, 0.0)
        for span in PageRankPipeline.spans + OperatorMix.spans
        for k in COUNTERS
    }
    iterations = statistics.median(r.iterations for r in traced)
    pr = profile.get("graph.pagerank")
    out["graph.pagerank.iterations"] = float(iterations)
    out["graph.pagerank.jobs_per_iter"] = pr["jobs"] / iterations if pr else 0.0
    out["graph.pagerank.s_per_iter"] = pr["wall_s"] / iterations if pr else 0.0
    check["op_walls_s"] = [r.wall_s for r in traced]
    return out, check


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pr-small", "sf-mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    isolate_scratch()
    sys.path[:0] = [HERE, ROOT]
    cpus = len(os.sched_getaffinity(0))

    # set-up: process start → session built and one trivial action run
    t0 = time.perf_counter()
    spark = session(cpus)
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    setup_s = seconds_since_process_start()

    from workloads import Spans

    workload = make_workload(args.workload, args.seed)
    prep = workload.prepare()
    ops: list = []
    spans = Spans(spark.sparkContext)
    first = one_op(workload, spark, spans, ops)
    timed = run_ops(workload, spark, spans, args.seconds, ops)
    sc = spark.sparkContext
    env = {
        "cpus": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": spark.version,
        "python": platform.python_version(),
        "defaultParallelism": sc.defaultParallelism,
        "master": sc.master,
    }
    end_to_end = {
        "setup_s": setup_s,
        "first_op_s": first.wall_s,
        "op_s.p50": statistics.median(r.wall_s for r in timed),
        "peak_rss_mb": peak_rss_mb(),
    }
    per_layer = traced = None
    if args.trace:
        spark.stop()
        per_layer, traced = traced_phase(workload, cpus, args.seconds, ops)
        per_layer["session.get_spark.wall_s"] = get_spark_s
        per_layer["trace.overhead"] = (
            statistics.median(traced["op_walls_s"]) / end_to_end["op_s.p50"]
        )
    else:
        stop(spark)

    failed = sum(not r.ok for r in ops)
    details = {
        "op_s.tail": tail([r.wall_s for r in timed]),
        "fail_ratio": failed / len(ops),
        "op_walls_s": [r.wall_s for r in ops],
        "prep": prep,
        "trace": traced,
    }
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "env": env,
            "end_to_end": end_to_end, "details": details,
            "per_layer": per_layer,
        }) + "\n")

    print(f"env: {json.dumps(env)}")
    print(f"prep (not timed): {json.dumps(prep)}")
    for name, value in end_to_end.items():
        print(f"{args.workload} {name} = {value:.4f} {UNITS[name]}")
    t = details["op_s.tail"]
    print(f"{args.workload} op_s.tail = {t['value']} s "
          f"(p{t['percentile']}, {t['samples']} timed ops)")
    print(f"{args.workload} fail_ratio = {details['fail_ratio']:.4f} "
          f"({failed}/{len(ops)} ops)")
    if traced:
        for span, r in traced["residual"].items():
            flag = "ok" if r <= 0.05 else "NOT RECONCILED"
            print(f"span {span}: wall = driver + in-job within {r:.2%} ({flag})")
        print(f"jobs outside every span: {traced['unattributed_jobs']}")

    values = per_layer if args.trace else end_to_end
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in listed
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
