"""Re-capture ``data/small_eventlog.jsonl``, the event-log parser's
test input: a tiny neardup query and one snapshot commit, each under its
own job group, with call sites tagged as in a traced benchmark run.

    python3 perfbench/tests/capture_eventlog.py   # from the repo root

The log is trimmed to the event kinds the parser reads, and the
environment and job properties are cut down to what it needs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [os.path.dirname(HERE), ROOT]

import gen  # noqa: E402
import eventlog  # noqa: E402
from spans import Tracer  # noqa: E402

KEEP_PROPS = ("spark.jobGroup.id", "callSite.short", "spark.sql.execution.id")


def plan_skeleton(plan: dict) -> dict:
    return {
        "nodeName": plan["nodeName"],
        "metrics": [m for m in plan.get("metrics", [])
                    if m["name"] == "number of output rows"],
        "children": [plan_skeleton(c) for c in plan.get("children", [])],
    }


def main() -> None:
    from featuregenerator_spark.session import get_spark
    from featuregenerator_spark.sources.snapshots import SnapshotTable

    import __spark_entry__

    work = tempfile.mkdtemp(prefix="perfbench-capture-", dir=HERE)
    try:
        ev = os.path.join(work, "events")
        os.makedirs(ev)
        sf = gen.cached(work, "corpus", 7, dict(
            n_base=60, cluster_rate=0.2, cluster_size=3, vocab=500, langs=2,
            edit_rate=0.04), gen.corpus)
        spark = get_spark("capture", cores=2, shuffle_partitions=2, extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{ev}",
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
        })
        tracer = Tracer(True)
        tracer.tag_call_sites(spark)
        sc = spark.sparkContext
        sc.setJobGroup("op-0", "op")
        __spark_entry__.queries()["neardup_token_jaccard"](spark, sf).collect()
        sc.setJobGroup("commit-1", "commit")
        SnapshotTable(spark, os.path.join(work, "t"), stats_cols=["doc_id"]).commit_append(
            spark.read.parquet(os.path.join(sf, "documents.parquet")))
        tracer.unwrap_all()
        spark.stop()
        out = []
        for path in eventlog.log_files(ev):
            for line in open(path):
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    e["Properties"] = {k: v for k, v in e["Properties"].items()
                                       if k in KEEP_PROPS}
                    e.pop("Stage Infos", None)
                elif kind == "SparkListenerTaskEnd":
                    e["Task Info"]["Accumulables"] = [
                        a for a in e["Task Info"].get("Accumulables", [])
                        if a.get("Metadata") == "sql"]
                elif kind == "SparkListenerStageCompleted":
                    e["Stage Info"] = {"Stage ID": e["Stage Info"]["Stage ID"]}
                elif kind.endswith(("SQLExecutionStart",
                                    "SQLAdaptiveExecutionUpdate")):
                    e = {"Event": kind, "executionId": e["executionId"],
                         "sparkPlanInfo": plan_skeleton(e["sparkPlanInfo"])}
                elif kind != "SparkListenerJobEnd":
                    continue
                # call sites name source files: keep them checkout-relative
                out.append(json.dumps(e).replace(ROOT + os.sep, "/src/"))
        with open(os.path.join(HERE, "data", "small_eventlog.jsonl"), "w") as f:
            f.write("\n".join(out) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
