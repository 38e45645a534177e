"""Job-level profile of one registered query via the Spark event log.

Runs the bench-warm prefix + one timed rep with
``spark.eventLog.enabled``, then parses the event log into a per-job
table (job id, duration, description, stage row counts) so the r17
optimization round can see WHERE a slow query's wall time goes —
job-launch floors vs a single heavy stage — without the (disabled) UI.

Usage:
    python scripts/profile_query.py <query_name> [sf_dir]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    evdir = "/tmp/goetl_eventlog"
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    import bench
    from goetl_spark import queries as catalog
    from goetl_spark.session import get_spark

    fn = catalog.queries()[name]
    spark = get_spark(
        "goetl-spark-profile", master=f"local[{cpus}]",
        extra_conf={"spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": f"file://{evdir}"})
    bench.warm(spark, sf_dir, cpus)
    spark.sparkContext.setJobDescription(f"PROFILE:{name}")
    t0 = time.perf_counter()
    fn(spark, sf_dir).count()
    wall = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    # flush the event log
    spark.stop()

    logs = sorted(Path(evdir).glob("**/events_*"),
                  key=lambda p: p.stat().st_mtime)
    raw = logs[-1].read_bytes()
    if logs[-1].name.endswith(".zstd"):
        import subprocess
        raw = subprocess.run(["zstd", "-dc", str(logs[-1])],
                             capture_output=True).stdout
    events = []
    for line in raw.decode(errors="replace").splitlines():
        try:
            events.append(json.loads(line))
        except json.JSONDecodeError:
            pass
    jobs: dict[int, dict] = {}
    stage_of_job: dict[int, int] = {}
    for e in events:
        k = e.get("Event")
        if k == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = {
                "t0": e["Submission Time"],
                "desc": props.get("spark.job.description", "")[:90],
                "callsite": (props.get("callSite.short")
                             or e.get("Stage Infos", [{}])[-1]
                             .get("Stage Name", ""))[:70],
                "stages": len(e.get("Stage IDs", [])),
            }
            for sid in e.get("Stage IDs", []):
                stage_of_job[sid] = jid
        elif k == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in jobs:
                jobs[jid]["t1"] = e["Completion Time"]
        elif k == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            jid = stage_of_job.get(si["Stage ID"])
            if jid is not None:
                jobs[jid].setdefault("stage_names", []).append(
                    f'{si["Stage Name"].split(" at ")[0]}'
                    f'×{si["Number of Tasks"]}')
    profiled = [j for j in jobs.values() if j["desc"].startswith("PROFILE")]
    total_ms = sum(j.get("t1", j["t0"]) - j["t0"] for j in profiled)
    print(f"query={name} wall={wall:.2f}s jobs={len(profiled)} "
          f"sum_job_ms={total_ms}")
    prev_end = None
    for j in sorted(profiled, key=lambda j: j["t0"]):
        dur = j.get("t1", j["t0"]) - j["t0"]
        gap = "" if prev_end is None else f" gap={j['t0'] - prev_end}ms"
        prev_end = j.get("t1", j["t0"])
        print(f"  {dur:6d}ms{gap:>12s}  {','.join(j.get('stage_names', []))[:110]}")
    # non-PROFILE jobs launched during the window (e.g. streaming)
    others = [j for j in jobs.values()
              if not j["desc"].startswith("PROFILE")
              and j["t0"] > min((p["t0"] for p in profiled), default=0)]
    if others:
        o_ms = sum(j.get("t1", j["t0"]) - j["t0"] for j in others)
        print(f"  (+{len(others)} concurrent non-labeled jobs, "
              f"sum {o_ms}ms — streaming triggers etc.)")
        for j in sorted(others, key=lambda j: j["t0"]):
            dur = j.get("t1", j["t0"]) - j["t0"]
            print(f"   ~{dur:6d}ms  {','.join(j.get('stage_names', []))[:100]}")


if __name__ == "__main__":
    main()
