"""Per-job/stage profile of one or more registered queries (guide §1/§7).

Runs each named query through the noop sink in a session with event
logging enabled, then parses the event log into per-job wall times and
per-stage executor metrics — the local[32] stand-in for the Spark UI's
Stages tab (the UI is disabled in this sandbox).

Usage: python scripts/profile_query.py <query> [query ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from scraping_jobsdb_spark.plans.queries import REGISTRY
    from scraping_jobsdb_spark.session import get_spark

    names = sys.argv[1:]
    evdir = tempfile.mkdtemp(prefix="sjs_evlog_")
    spark = get_spark(
        app_name="profile_query",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # warm like bench.py so JIT/worker startup is excluded
    for warm in ("groupby_min_max", "pandas_udf_token_count"):
        REGISTRY[warm].spark_fn(spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()

    marks: list[tuple[str, float, float]] = []
    for name in names:
        q = REGISTRY[name]
        # one untimed run first (page cache / codegen), then the timed run
        q.spark_fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        sc.setJobDescription(f"Q:{name}")
        t0 = time.time()
        q.spark_fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        t1 = time.time()
        sc.setJobDescription(None)
        marks.append((name, t0, t1))
        print(f"== {name}: {t1 - t0:.3f}s wall", flush=True)

    app_id = sc.applicationId
    spark.stop()

    # Spark 4 rolling layout: eventlog_v2_<appId>/events_*_<appId>[.|]
    cand = [os.path.join(evdir, app_id)]
    v2 = os.path.join(evdir, f"eventlog_v2_{app_id}")
    if os.path.isdir(v2):
        cand = sorted(
            os.path.join(v2, f)
            for f in os.listdir(v2)
            if f.startswith("events_")
        )
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    lines: list[str] = []
    for c in cand:
        if c.endswith(".zstd"):
            import zstandard

            with open(c, "rb") as fh:
                raw = zstandard.ZstdDecompressor().stream_reader(fh).read()
            lines.extend(raw.decode().splitlines())
        else:
            lines.extend(open(c).read().splitlines())
    if True:
        for line in lines:
            ev = json.loads(line)
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"] / 1000.0,
                    "desc": ev.get("Properties", {}).get(
                        "spark.job.description", ""
                    ),
                    "stages": [
                        s["Stage ID"] for s in ev.get("Stage Infos", [])
                    ],
                }
            elif et == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                stages[si["Stage ID"]] = {
                    "name": si["Stage Name"].split("\n")[0][:90],
                    "tasks": si["Number of Tasks"],
                    "t0": si.get("Submission Time", 0) / 1000.0,
                    "t1": si.get("Completion Time", 0) / 1000.0,
                }
            elif et == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sid = ev["Stage ID"]
                stage_metrics[sid]["run_ms"] += m.get("Executor Run Time", 0)
                stage_metrics[sid]["cpu_ms"] += (
                    m.get("Executor CPU Time", 0) / 1e6
                )
                stage_metrics[sid]["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                stage_metrics[sid]["fetch_ms"] += sr.get("Fetch Wait Time", 0)
                stage_metrics[sid]["sh_read"] += sr.get(
                    "Remote Bytes Read", 0
                ) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                stage_metrics[sid]["sh_write"] += sw.get(
                    "Shuffle Bytes Written", 0
                )
                stage_metrics[sid]["deser_ms"] += m.get(
                    "Executor Deserialize Time", 0
                )

    for name, t0, t1 in marks:
        print(f"\n==== {name} ({t1 - t0:.3f}s wall) ====")
        qjobs = [
            (jid, j)
            for jid, j in sorted(jobs.items())
            if t0 - 0.05 <= j["t0"] <= t1 + 0.05
        ]
        gap_prev = t0
        for jid, j in qjobs:
            dur = j.get("t1", j["t0"]) - j["t0"]
            gap = j["t0"] - gap_prev
            gap_prev = j.get("t1", j["t0"])
            sids = [s for s in j["stages"] if s in stages]
            print(
                f"  job {jid}: {dur:6.3f}s (+{gap:5.3f}s driver gap) "
                f"{len(j['stages'])} stages"
            )
            for sid in sorted(sids):
                st = stages[sid]
                m = stage_metrics[sid]
                sdur = st["t1"] - st["t0"]
                print(
                    f"    stage {sid:4d} {sdur:6.3f}s {st['tasks']:4d}t "
                    f"run={m['run_ms']:7.0f}ms cpu={m['cpu_ms']:7.0f}ms "
                    f"gc={m['gc_ms']:5.0f}ms deser={m['deser_ms']:5.0f}ms "
                    f"fetch={m['fetch_ms']:5.0f}ms "
                    f"shR={m['sh_read']/1e6:7.2f}MB shW={m['sh_write']/1e6:7.2f}MB"
                    f"  {st['name']}"
                )
        tail = t1 - gap_prev
        print(f"  (tail after last job: {tail:5.3f}s)")


if __name__ == "__main__":
    main()
