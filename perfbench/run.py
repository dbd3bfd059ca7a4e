"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload analyst_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the seed
under ``.perfbench_work/`` (the only place it writes), starts one Spark
session on ``local[nproc]``, sets up, measures rounds of operations until
``--seconds`` have been spent in them (at least three rounds), checks
every output, and prints two JSON lines on stdout: the host settings,
then the result

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the run records spans and a Spark
event log and the metrics are the per-layer ones. Exit code 2 means the
engine package could not be imported; 1 means the run itself failed.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Rounds measured even when fewer would fill --seconds: the first measured
# round still runs about 10% slow while the JIT warms, and the median of
# three keeps it out of the result.
MIN_ROUNDS = 3


def load_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """Units of the end-to-end and per-layer metrics, by name, from
    ``BENCHMARK.json``. A layer a workload does not touch reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_host(work: str) -> dict:
    """Benchmark-only host settings: one local executor as wide as the
    cores this process may use, a JVM heap well below physical RAM, and
    every scratch directory inside the work directory."""
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, int(phys_gb // 4)))}g"
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # every JVM the launcher starts: temp files in the work directory, no
    # hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    return {
        "nproc": nproc(),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "phys_gb": round(phys_gb, 1),
        "load1_start": os.getloadavg()[0],
    }


def session_conf(work: str, trace: bool) -> dict[str, str]:
    from spans import event_log_conf

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    return conf


def calibrate_ms(reps: int = 5) -> float:
    """Median time of a fixed pure-Python loop, in ms: a host-speed
    reading taken at the start and end of every run, so that a shift of
    the host between runs can be told from a change of the program."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS, so the peak read
    later excludes the input generation."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def status_mb(pid: int | str, field: str) -> float:
    """A memory field of /proc/<pid>/status (VmHWM: peak resident set,
    VmRSS: current resident set), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(f"{field}:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, from /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    process it started (the Python workers) have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    workers = descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in workers:
        if alive(p):
            os.kill(p, 9)


def pctl(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def per_round(spans, rounds: int, pick) -> float:
    """Median over rounds of the per-round sum of ``pick(span)``."""
    sums = [0.0] * rounds
    for s in spans:
        r = s.attrs.get("round")
        if r is not None and r >= 0:
            sums[r] += pick(s)
    return statistics.median(sums) if sums else 0.0


def layer_metrics(ctx, rounds, ops, counters, error_lines, units) -> dict[str, dict]:
    from spans import GroupCounters

    tr = ctx.tracer
    n = len(rounds)
    m = {k: 0.0 for k in units}
    m.update({k: v for k, v in ctx.layer.items() if k in m})
    m["session.start_s"] = ctx.session_s
    m["session.warmup_s"] = ctx.setup_s - ctx.session_s
    m["execute.driver_error_lines"] = error_lines
    m["trace.batch_s"] = statistics.median(rounds)
    empty = GroupCounters()

    def cnt(s):
        return counters.get(s.group, empty)

    build = [s for s in tr.by_layer("queries") if "round" in s.attrs]
    measured = [
        s for s in tr.spans
        if s.attrs.get("spark_group") and "round" in s.attrs and s.layer != "queries"
    ]
    if build:
        m["queries.build_s"] = per_round(build, n, lambda s: s.duration)
        m["queries.build_jobs"] = per_round(build, n, lambda s: cnt(s).jobs)
        req = sum(o.seconds for o in ops)
        m["queries.build_share"] = sum(s.duration for s in build) / req
        for k in (k.rsplit(".", 1)[1] for k in units if k.startswith("queries.build_share.")):
            kb = [o.build_s for o in ops if o.name == k]
            kt = [o.seconds for o in ops if o.name == k]
            if kt:
                m[f"queries.build_share.{k}"] = sum(kb) / sum(kt)
    m["execute.run_s"] = per_round(measured, n, lambda s: s.duration)
    for name in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
                 "cpu_s", "gc_s", "failed_tasks"):
        m[f"execute.{name}"] = per_round(measured, n, lambda s: getattr(cnt(s), name))
    m["execute.task_max_over_p50"] = max(
        [cnt(s).skew() for s in measured] or [1.0]
    )
    for s in tr.by_layer("operators", "graph.connected_components"):
        m["operators.graph.build_jobs"] = cnt(s).jobs
    checks = tr.by_layer("checks")
    if checks:
        m["checks.audit_s"] = per_round(checks, n, lambda s: s.duration)
    serve = tr.by_layer("warehouse", "serve")
    if serve:
        from fortune_500_financial_insights_pipeline_spark.warehouse import SERVING_QUERIES

        per_query = per_round(serve, n, lambda s: s.duration) / len(SERVING_QUERIES)
        m["warehouse.serve_ms"] = per_query * 1e3
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


def run(args, work: str, host: dict) -> dict:
    from spans import Tracer, fold_event_log

    from fortune_500_financial_insights_pipeline_spark.session import get_spark
    from workloads import WORKLOADS, Ctx

    end_to_end, per_layer = load_metrics()

    phases = host["phases"] = {}
    t = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, work)
    wl.generate()
    gc.collect()
    reset_peak_rss()

    t0 = time.perf_counter()
    phases["generate_s"] = t0 - t
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", extra_conf=session_conf(work, args.trace)
    )
    try:
        ctx = Ctx(spark=spark, tracer=Tracer(bool(args.trace), spark.sparkContext))
        ctx.session_s = time.perf_counter() - t0
        wl.setup(ctx)
        ctx.setup_s = time.perf_counter() - t0
        host["spark_version"] = spark.version
        host["master"] = spark.sparkContext.master

        rounds: list[float] = []
        ops = []
        while len(rounds) < MIN_ROUNDS or sum(rounds) < args.seconds:
            i = len(rounds)
            first = len(ctx.tracer.spans)
            r_ops = wl.round(ctx, i)
            for s in ctx.tracer.spans[first:]:
                s.attrs["round"] = i
            for o in r_ops:
                o.round = i
            rounds.append(sum(o.seconds for o in r_ops))
            ops += r_ops
        t = time.perf_counter()
        phases["measure_s"] = t - t0 - ctx.setup_s
        lang = spark._jvm.java.lang
        host["peak_rss_mb"] = {
            "python": status_mb("self", "VmHWM"),
            "jvm": status_mb(lang.ProcessHandle.current().pid(), "VmHWM"),
        }
        ctx.layer["peak_rss_mb"] = sum(host["peak_rss_mb"].values())
        # What the program still holds after the rounds. The JVM's peak
        # resident set follows G1's timing-driven heap growth (the same
        # inputs gave 1.1 to 1.8 GB), so the heap is counted as the live
        # objects left after full collections. Python drops its references
        # first, and Spark's cleaner gets a moment to release the
        # checkpoint blocks and shuffles they held.
        gc.collect()
        for _ in range(2):
            lang.System.gc()
            time.sleep(0.5)
        mx = lang.management.ManagementFactory.getMemoryMXBean()
        host["retained_mb"] = {
            "python": status_mb("self", "VmRSS"),
            "jvm_heap": mx.getHeapMemoryUsage().getUsed() / 2**20,
            "jvm_nonheap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
        }
        wl.verify(ctx, ops)
        phases["verify_s"] = time.perf_counter() - t
        if args.trace:
            t = time.perf_counter()
            wl.probe(ctx)
            phases["probe_s"] = time.perf_counter() - t
    finally:
        stop_spark(spark)

    failed = sum(not o.ok for o in ops)
    host["load1_end"] = os.getloadavg()[0]
    host["calib_ms_end"] = calibrate_ms()
    host["rounds"] = len(rounds)
    host["op_ms"] = {}
    for o in ops:
        host["op_ms"].setdefault(o.name, []).append(round(o.seconds * 1e3, 1))
    if wl.notes:
        host["notes"] = wl.notes
    if wl.errors:
        host["errors"] = wl.errors
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed}
    if args.trace:
        counters = fold_event_log(os.path.join(work, "eventlog"))
        with open(os.path.join(work, "spark.log"), errors="replace") as f:
            error_lines = sum(1 for line in f if re.search(r"\bERROR\b", line))
        result["metrics"] = layer_metrics(ctx, rounds, ops, counters, error_lines, per_layer)
        return result
    # Every round issues the same operations, so latency percentiles are
    # taken per round and then the median over rounds: pooling them would
    # move p50 across the gap between fast and slow operations whenever
    # the number of rounds changes parity. They are the metrics of the
    # analyst_mix loop; on the batch workloads a round holds four or five
    # different operations, so they are printed on the host line only.
    per_round_ms = [[o.seconds * 1e3 for o in ops if o.round == i] for i in range(len(rounds))]
    host["latency_ms"] = {
        "p50": statistics.median(pctl(r, 0.5) for r in per_round_ms),
        "p90": statistics.median(pctl(r, 0.9) for r in per_round_ms),
    }
    host["requests_per_s"] = len(ops) / sum(rounds)
    batch_s = statistics.median(rounds)
    metrics = {
        "setup_s": ctx.setup_s,
        "batch_s": batch_s,
        "input_rows_per_s": wl.rows_per_round / batch_s,
        "retained_mb": sum(host["retained_mb"].values()),
    }
    result["metrics"] = {k: {"value": metrics[k], "unit": u} for k, u in end_to_end.items()}
    return result


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = pin_host(work)
    host["calib_ms_start"] = calibrate_ms()
    sys.path.insert(0, ROOT)
    try:
        import fortune_500_financial_insights_pipeline_spark.queries  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine package: {e}", file=sys.stderr)
        return 2

    # Spark's JVM and Python workers inherit fds 1 and 2: send both to the
    # run's log (its ERROR lines are counted), keep the real stdout
    # for the two result lines.
    out, err = os.dup(1), os.dup(2)
    log = os.open(os.path.join(work, "spark.log"), os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(log, 1)
    os.dup2(log, 2)
    try:
        result = run(args, work, host)
    except Exception:  # noqa: BLE001 — boundary: report and exit nonzero
        sys.stdout.flush()
        os.dup2(err, 2)
        traceback.print_exc()
        return 1
    finally:
        sys.stdout.flush()
        os.dup2(out, 1)
        os.dup2(err, 2)
        os.close(log)
    print(json.dumps({"host": host}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
