#!/usr/bin/env python3
"""Benchmark command: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload pql_session --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root.  Spark runs on ``local[nproc]``.  The
run generates its inputs from ``--seed`` inside the checkout, starts
the session and runs one untimed pass of the workload's items.  Then
it issues items (a registry key: plan build plus full materialization)
back to back for a fixed number of whole passes, as many as fit in
``--seconds`` on a 4-core host.  Checks run between items, outside the
timed region.  The last line on stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(a separate run with spans and Spark's event log on).  The line
before it is a ``detail`` object with sample counts, errors and host
context.  The exit code is 1 when a check fails.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import hostinfo  # noqa: E402
from workloads import WORKLOADS, digest  # noqa: E402

# stop issuing passes once this much wall time has gone, so a slow
# host still ends the run well inside its time limit
MAX_LOOP_WALL_S = 100.0
FAILED_VALUE = 1e9

END_TO_END_UNITS = {"setup_s": "s", "queries_per_s": "1/s",
                    "query_p50_s": "s", "query_p90_s": "s",
                    "docs_per_s": "1/s", "cpu_s_per_kdoc": "s"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def start_spark(conf: dict[str, str]):
    from pythonql_spark import get_spark
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and every
    process it started (the Python workers) have exited."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    started = [p for p in hostinfo.tree_cpu() if p != os.getpid()]
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()     # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    left, deadline = started, time.monotonic() + 10
    while time.monotonic() < deadline:
        left = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not left:
            return
        time.sleep(0.05)
    for p in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


@dataclass
class Loop:
    """What the timed loop saw."""
    keys: list[str] = field(default_factory=list)
    latency_s: list[float] = field(default_factory=list)  # inf = failed
    errors: list[str] = field(default_factory=list)
    cpu: hostinfo.CpuSplit = field(default_factory=hostinfo.CpuSplit)
    pass_s: list[float] = field(default_factory=list)
    passes: int = 0
    failed: int = 0
    timed_s: float = 0.0
    write_bytes: int = 0

    @property
    def attempted(self) -> int:
        return len(self.keys)


def warm_up(wl, spark) -> tuple[dict[str, str], list[str]]:
    """Run one untimed pass of the workload's items.  It takes the
    fresh JVM's JIT and codegen compilation of every item.  Timed, that
    one-off cost made ``query_p90_s`` spread 0.19-0.21 over ten runs,
    against 0.12 for the same runs' later passes.  Returns each
    output's digest and the errors of the items that failed."""
    digests, errors = {}, []
    for key in wl.items:
        try:
            result = wl.materialize(key, wl.build(spark, key), -1)
            digests[key] = digest(wl.result_frame(key, result))
            wl.discard(key, result)
        except Exception as e:
            errors.append(f"{key} (warm-up): {type(e).__name__}: "
                          f"{str(e).strip()[:300]}")
    return digests, errors


def timed_loop(wl, spark, passes: int, tracer=None,
               max_wall_s: float = MAX_LOOP_WALL_S,
               first_digest: dict[str, str] | None = None) -> Loop:
    """Closed loop, one client: issue the workload's items back to
    back for ``passes`` whole passes, or fewer when the loop's wall
    time passes ``max_wall_s``.  Only plan build plus materialization
    is timed; read-back, oracle checks and digests run between items.
    Every item is fenced: a failure is recorded as failed with infinite
    latency and the loop goes on.  Each output must match the digest of
    the same key's first output, ``first_digest`` holding the untimed
    pass's."""
    def span(name):
        return tracer.span(name) if tracer else contextlib.nullcontext()

    lp = Loop()
    first_digest = dict(first_digest or {})
    checked: set[str] = set()
    t_start = time.perf_counter()
    while True:
        timed_before = lp.timed_s
        for key in wl.pass_order(lp.passes):
            if tracer:
                tracer.item = lp.attempted
            lp.keys.append(key)
            before = hostinfo.tree_cpu()
            t0 = time.perf_counter()
            try:
                with span("item"):
                    with span("build"):
                        df = wl.build(spark, key)
                    with span("action"):
                        result = wl.materialize(key, df, lp.passes)
                err = None
            except Exception as e:
                err = (f"{key} (pass {lp.passes}): {type(e).__name__}: "
                       f"{str(e).strip()[:300]}")
            t1 = time.perf_counter()
            lp.cpu = lp.cpu + hostinfo.cpu_delta(before, hostinfo.tree_cpu())
            lp.timed_s += t1 - t0
            if err:
                lp.failed += 1
                lp.errors.append(err)
                lp.latency_s.append(math.inf)
                continue
            lp.latency_s.append(t1 - t0)
            try:
                if isinstance(result, str):        # a written directory
                    lp.write_bytes += sum(
                        os.path.getsize(os.path.join(d, f))
                        for d, _, fs in os.walk(result) for f in fs)
                frame = wl.result_frame(key, result)
                if key not in checked:
                    checked.add(key)
                    lp.errors += wl.check(key, frame)
                dg = digest(frame)
                if first_digest.setdefault(key, dg) != dg:
                    lp.errors.append(
                        f"{key}: pass {lp.passes} output digest {dg} != "
                        f"first output {first_digest[key]}")
                wl.discard(key, result)
            except Exception as e:
                lp.errors.append(f"{key}: check raised {type(e).__name__}: "
                                 f"{str(e)[:300]}")
        lp.passes += 1
        lp.pass_s.append(lp.timed_s - timed_before)
        if (lp.passes >= passes
                or time.perf_counter() - t_start > max_wall_s):
            break
    if tracer:
        tracer.item = None
    return lp


def end_to_end(lp: Loop, wl, setup_s: float) -> dict:
    """The end-to-end metrics of one run.  A failed item misses every
    latency bound, so one failure turns every latency metric into
    ``FAILED_VALUE``; its input records count neither in ``docs_per_s``
    nor in the denominator of ``cpu_s_per_kdoc``."""
    ok_items = lp.attempted - lp.failed
    docs = wl.docs_per_pass * ok_items / len(wl.items)
    failed = lp.failed > 0
    metrics = {
        "setup_s": setup_s,
        "queries_per_s": ok_items / lp.timed_s,
        "query_p50_s": math.inf if failed else percentile(lp.latency_s, 0.5),
        "query_p90_s": math.inf if failed else percentile(lp.latency_s, 0.9),
        "docs_per_s": docs / lp.timed_s,
        "cpu_s_per_kdoc": (lp.cpu.total_s / (docs / 1000.0)
                           if docs else math.inf),
    }
    # JSON has no infinity
    return {k: {"value": v if math.isfinite(v) else FAILED_VALUE,
                "unit": END_TO_END_UNITS[k]}
            for k, v in metrics.items()}


def run(args, work: str, t_proc0: float) -> tuple[dict, dict]:
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    data_dir, out_dir = os.path.join(work, "data"), os.path.join(work, "out")
    for d in (data_dir, out_dir):
        os.makedirs(d)

    wl = WORKLOADS[args.workload](args.seed, data_dir, out_dir, cpus)
    t = time.perf_counter()
    inputs = wl.make_inputs()
    gen_s = time.perf_counter() - t

    # ---- set-up: process start -> session up, inputs registered
    sys.path.insert(0, ROOT)
    import bench
    import pythonql_spark.benchqueries  # noqa: F401  (the key registry)
    marks = [time.perf_counter()]
    conf = spark_conf(work, bool(args.trace))
    spark = start_spark(conf)
    marks.append(time.perf_counter())
    wl.register(spark)
    marks.append(time.perf_counter())
    setup_s = marks[-1] - t_proc0 - gen_s
    setup_parts = {"start_and_imports_s": marks[0] - t_proc0 - gen_s,
                   "session_s": marks[1] - marks[0],
                   "register_s": marks[2] - marks[1]}

    t = time.perf_counter()
    first_digest, warm_errors = warm_up(wl, spark)
    warm_s = time.perf_counter() - t
    tracer = None
    if args.trace:
        from tracing import Tracer
        tracer = Tracer(spark.sparkContext)
        tracer.install()

    host = {"loadavg1_pre": hostinfo.loadavg1(),
            "probe_s": bench.single_thread_probe()}
    steal = hostinfo.StealMeter()
    t = time.perf_counter()
    lp = timed_loop(wl, spark, wl.timed_passes(args.seconds), tracer,
                    first_digest=first_digest)
    loop_s = time.perf_counter() - t
    host["steal_frac"] = steal.read()
    host["loadavg1_post"] = hostinfo.loadavg1()
    lp.errors[:0] = warm_errors

    try:
        errs, final = wl.final_checks(spark)
        lp.errors += errs
    except Exception as e:
        lp.errors.append(f"final checks raised {type(e).__name__}: {e}")
        final = {}

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "passes": lp.passes, "attempted": lp.attempted,
        "failed": lp.failed, "latency_samples": lp.attempted - lp.failed,
        "timed_s": lp.timed_s, "pass_s": lp.pass_s, "setup_s": setup_s,
        "setup_parts": setup_parts, "gen_s": gen_s, "warm_up_s": warm_s,
        "loop_wall_s": loop_s, "inputs": inputs, "host": host,
        "final": final, "errors": lp.errors, "cpu": vars(lp.cpu),
        "items": [[k, round(x, 4)] for k, x in zip(lp.keys, lp.latency_s)],
    }
    if tracer:
        metrics = traced_metrics(spark, wl, tracer, work, lp, detail)
        shutdown_spark(spark)
    else:
        shutdown_spark(spark)
        metrics = end_to_end(lp, wl, setup_s)
    wl.close()
    result = {"correct": not lp.errors and lp.failed == 0,
              "attempted": lp.attempted, "failed": lp.failed,
              "metrics": metrics}
    return result, detail


def traced_metrics(spark, wl, tracer, work, lp: Loop, detail) -> dict:
    from pythonql_spark.sources import load_table
    from tracing import layer_metrics, operator_probes, read_event_log

    docs = load_table(spark, wl.data_dir, "documents")
    probes = operator_probes(spark, docs, tracer)
    timed_item_s = [s["end"] - s["start"] for s in tracer.spans
                    if s["name"] == "item"]
    spark.stop()                           # flushes the event log
    jobs, stages = read_event_log(os.path.join(work, "eventlog"))
    m = layer_metrics(tracer.spans, jobs, stages, set(range(lp.attempted)))
    n = max(lp.attempted, 1)
    cpu = lp.cpu
    m["sources.write.bytes"] = lp.write_bytes / n
    m.update(probes)
    m["dedup.hot_buckets"] = float(detail["final"].get("hot", 0))
    m["cpu.driver_py_s"] = cpu.driver_py_s / n
    m["cpu.jvm_s"] = cpu.jvm_s / n
    m["cpu.py_workers_s"] = cpu.py_workers_s / n
    host = detail["host"]
    m["host.steal_frac"] = host["steal_frac"]
    m["host.loadavg1"] = host["loadavg1_pre"]
    m["host.probe_s"] = host["probe_s"]
    m["trace.overhead_s"] = tracer.overhead_s / n
    m["trace.item_p50_s"] = statistics.median(timed_item_s) \
        if timed_item_s else 0.0
    tracer.dump(os.path.join(
        ROOT, ".perfbench_out",
        f"spans-{detail['workload']}-seed{detail['seed']}.json"))
    units = {}
    for k in m:
        units[k] = ("s" if k.endswith("_s") else
                    "bytes" if k.endswith("bytes") else
                    "ratio" if k.endswith(("ratio", "frac")) else
                    "load" if k.startswith("host.loadavg") else "count")
    return {k: {"value": float(v), "unit": units[k]}
            for k, v in sorted(m.items())}


def main(argv=None) -> int:
    t_proc0 = time.perf_counter() - hostinfo.process_age_s()
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # everything the JVM and the Python workers write stays in the run's
    # work directory, and the workers import the engine from this checkout
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the spark-submit launcher too): no hsperfdata file in
    # /tmp, temp files in the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={os.path.join(work, 'derby')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        result, detail = run(args, work, t_proc0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):    # only when no other run's
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"detail": detail}, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
