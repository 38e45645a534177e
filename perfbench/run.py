"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One client thread drives a
closed loop of ops against a ``local[4]`` Spark session built by
``session.get_spark``. The run generates its inputs from the seed,
pays set-up (session start, standing state, one untimed warm pass),
then times ops for about ``--seconds`` seconds, checking every op's
output. Each workload turns ``--seconds`` into a fixed number of op
groups (a pass, a day) from its nominal group time, so every run of a
workload has the same sample count. Each op's latency is the best of
its groups; the throughput is that of the fastest group.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the session also writes a Spark event log: after the
untimed set-up and the same untraced timed phase, untraced and traced
op groups alternate a fixed number of times, the traced ones with one
span per layer call, and the last line carries the per-layer metrics of
the traced groups. Everything the run writes
stays under ``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("olap_small", "daily_increment")


class Context:
    def __init__(self, seed: int, work: Path, tracer):
        self.seed = seed
        self.work = str(work)
        self.tmp = str(work / "tmp")
        self.tracer = tracer


def isolate(work: Path) -> None:
    """Keep every file the run writes inside ``work``, and give Spark's
    Python workers the checkout on their import path."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "spark-local").mkdir()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile
    tempfile.tempdir = str(work / "tmp")
    os.chdir(work)  # spark-warehouse and friends land here
    sys.path.insert(0, str(ROOT))


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and so its Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "goetl_spark" / "__init__.py").is_file():
        print(f"perfbench: no goetl_spark package under {ROOT}; run from "
              "the root of a source checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    work = ROOT / ".perfbench_work" / args.workload
    isolate(work)
    try:
        return run(args, spec, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another workload's run is using it


def run(args, spec, work: Path) -> int:
    import importlib

    import harness
    from harness import RssSampler, Tracer, cpu_times, steal_pct

    rss = RssSampler()
    rss.start()
    tracer = Tracer(bool(args.trace))
    ctx = Context(args.seed, work, tracer)
    wl = importlib.import_module(args.workload).Workload(ctx)

    t = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t

    from goetl_spark.session import get_spark

    extra = None
    if args.trace:
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.dir": f"file://{work / 'eventlog'}"}
        (work / "eventlog").mkdir()
    t0 = time.perf_counter()
    spark = get_spark(master="local[4]", shuffle_partitions=4, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    tracer.attach(spark)
    tracer.pause()

    attempted = failed = 0
    i = 0  # index of the next op

    def one() -> float:
        """Run the next op and check its output; returns its latency."""
        nonlocal attempted, failed, i
        attempted += 1
        a = time.perf_counter()
        try:
            out = wl.op(i)
            lat = time.perf_counter() - a
            problem = wl.check(i, out)
        except Exception:
            lat = time.perf_counter() - a
            problem = traceback.format_exc(limit=3)
        if problem is not None:
            failed += 1
            print(f"perfbench: op {i} failed: {problem}", file=sys.stderr)
        i += 1
        return lat

    def group() -> list[float]:
        """One op group (a pass of queries, a day): the latency of each
        op, by its position in the group."""
        return [one() for _ in range(wl.group_size)]

    try:
        t = time.perf_counter()
        wl.setup(spark)
        state_s = time.perf_counter() - t
        t = time.perf_counter()
        for _ in range(wl.warm_ops):
            one()
        warm_s = time.perf_counter() - t
        setup_s = start_s + state_s + warm_s

        # timed phase: closed loop, one client, a fixed number of op
        # groups. Hypervisor steal is read from /proc/stat around each
        # group and printed, so a contaminated run carries the evidence.
        groups, steals = [], []
        cpu0 = cpu_times()
        for _ in range(wl.timed_groups(args.seconds)):
            c = cpu_times()
            groups.append(group())
            steals.append(steal_pct(c, cpu_times()))
        steal = steal_pct(cpu0, cpu_times())
        write_amp = wl.write_amp()

        # traced phase: untraced and traced groups alternate over the
        # same ops, so the trace's overhead is a like-for-like ratio
        untraced, traced = [], []
        for pair in range(wl.trace_pairs if args.trace else 0):
            if pair:
                tracer.pause()
            untraced.append(group())
            tracer.resume()
            traced.append(group())
    finally:
        stop_spark(spark)
    peak_mb = rss.stop()

    # Every group runs the same ops in the same order, so each op
    # position has one latency per group. The op latency is the best of
    # its groups and the throughput that of the fastest group: a burst
    # of steal that slows one group does not reach the figures.
    best = [min(g[k] for g in groups) for k in range(wl.group_size)]
    fastest = min(range(len(groups)), key=lambda g: sum(groups[g]))
    wall = sum(groups[fastest])
    rows = sum(wl.input_rows(wl.warm_ops + fastest * wl.group_size + k)
               for k in range(wl.group_size))
    tail_v, tail_label = harness.tail(best)
    print(f"perfbench {args.workload} seed={args.seed}: generate {gen_s:.2f}s, "
          f"start {start_s:.2f}s, state {state_s:.2f}s, warm {warm_s:.2f}s; "
          f"{len(groups)} timed groups of {wl.group_size} ops, best latency "
          f"per op {[round(x, 3) for x in best]}, op_tail_s = {tail_label}; "
          f"host.steal_pct {steal:.2f} (per group: {[round(x, 1) for x in steals]}), "
          f"host.peak_rss_mb {peak_mb:.0f}{wl.notes()}")

    if args.trace:
        events = harness.read_event_log(str(work / "eventlog"))
        layer = harness.layer_metrics(tracer, events, len(traced) * wl.group_size)
        layer["session.start_s"] = start_s
        layer["session.warm_s"] = warm_s
        layer["host.steal_pct"] = steal
        layer["host.peak_rss_mb"] = peak_mb
        layer["trace.overhead_frac"] = sum(
            statistics.median(g[k] for g in traced) for k in range(wl.group_size)
        ) / sum(statistics.median(g[k] for g in untraced)
                for k in range(wl.group_size)) - 1.0
        values = {m["name"]: layer[m["name"]] for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(best),
            "op_tail_s": tail_v,
            "ops_per_s": wl.group_size / wall,
            "rows_per_s": rows / wall,
            "write_amp": write_amp,
            "op_ok_frac": 1.0 - failed / attempted,
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {k: values[k] for k in units}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
