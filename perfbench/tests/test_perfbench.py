"""The benchmark's own tests: generator determinism per seed, span
self-time arithmetic, and the event-log parser on a small captured log
(``data/small_eventlog.jsonl``, re-made by ``capture_eventlog.py``).

    python3 -m pytest perfbench/tests -q      # from the repo root

None of these start Spark.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import gen  # noqa: E402
from run import growth  # noqa: E402
from spans import Span, Tracer, covered, self_time  # noqa: E402
from workloads import spark_round4, trailing_week  # noqa: E402

LOG = os.path.join(HERE, "data", "small_eventlog.jsonl")
SHAPE = dict(n_days=5, convs_per_day=60, mean_turns=12, hot_turns_per_day=100)
CORPUS = dict(n_base=200, cluster_rate=0.1, cluster_size=4, vocab=3000,
              langs=3, edit_rate=0.04)


# ------------------------------------------------------------ generators


def test_transcripts_deterministic_per_seed():
    a = gen.transcripts(5, **SHAPE)["transcripts"]
    b = gen.transcripts(5, **SHAPE)["transcripts"]
    c = gen.transcripts(6, **SHAPE)["transcripts"]
    assert a.equals(b)
    assert not a.equals(c)


def test_transcripts_days_are_even_and_complete():
    t = gen.transcripts(5, **SHAPE)["transcripts"]
    counts = {r["values"]: r["counts"] for r in pc.value_counts(t.column("ds")).to_pylist()}
    assert len(counts) == SHAPE["n_days"]  # no spill-over tail day
    n = np.array(list(counts.values()))
    assert n.min() > 0.7 * n.mean()
    hot = t.filter(pc.equal(t.column("conv_id"), "hot"))
    assert len(set(hot.column("ds").to_pylist())) == SHAPE["n_days"]


def test_transcripts_time_moves_forward_per_conversation():
    t = gen.transcripts(5, **SHAPE)["transcripts"].to_pandas()
    t = t.sort_values(["conv_id", "turn_idx"])
    assert (t.groupby("conv_id")["turn_idx"].apply(
        lambda s: list(s) == list(range(len(s))))).all()
    assert (t.groupby("conv_id")["ts"].apply(lambda s: s.is_monotonic_increasing)).all()


def test_snapshots_follow_their_turn():
    tables = gen.transcripts_with_snapshots(5, **SHAPE)
    s, t = tables["snapshots"], tables["transcripts"]
    sel = np.flatnonzero(t.column("turn_idx").to_numpy() % 10 == 0)
    assert s.num_rows == sel.size
    lag = (s.column("snap_ts").cast("int64").to_numpy()
           - t.column("ts").cast("int64").to_numpy()[sel])
    assert lag.min() >= 1_000_000 and lag.max() <= 30_000_000  # 1-30 s after
    assert s.equals(gen.transcripts_with_snapshots(5, **SHAPE)["snapshots"])


def test_corpus_deterministic_with_planted_clusters():
    a = gen.corpus(3, **CORPUS)
    b = gen.corpus(3, **CORPUS)
    assert a["documents"].equals(b["documents"])
    assert a["planted"].equals(b["planted"])
    assert not a["documents"].equals(gen.corpus(4, **CORPUS)["documents"])
    docs = a["documents"].to_pandas().set_index("doc_id")
    planted = a["planted"].to_pandas()
    assert sorted(docs.index) == list(range(len(docs)))
    sizes = planted.groupby("cluster").size()
    assert (sizes == CORPUS["cluster_size"]).all()
    # a cluster shares one language and stays textually close
    for _, members in planted.groupby("cluster")["doc_id"]:
        assert docs.loc[list(members), "lang"].nunique() == 1


def test_cache_builds_once_per_seed_and_shape(tmp_path):
    calls = []

    def build(seed, **shape):
        calls.append(seed)
        return gen.corpus(seed, **shape)

    d1 = gen.cached(str(tmp_path), "corpus", 1, CORPUS, build)
    mtime = os.path.getmtime(os.path.join(d1, "documents.parquet"))
    time.sleep(0.01)
    assert gen.cached(str(tmp_path), "corpus", 1, CORPUS, build) == d1
    assert os.path.getmtime(os.path.join(d1, "documents.parquet")) == mtime
    d2 = gen.cached(str(tmp_path), "corpus", 2, CORPUS, build)
    d3 = gen.cached(str(tmp_path), "corpus", 1, {**CORPUS, "langs": 2}, build)
    assert len({d1, d2, d3}) == 3 and calls == [1, 2, 1]


# ----------------------------------------------------------------- spans


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span("op", 0.0, 10.0, None, "op-0", {}),
        Span("build", 1.0, 4.0, 0, "op-0", {}),
        Span("sink", 3.0, 9.0, 0, "op-0", {}),  # overlaps build by 1s
        Span("inner", 5.0, 6.0, 2, "op-0", {}),  # grandchild: not op's
    ]
    assert self_time(spans, 0) == pytest.approx(2.0)
    assert self_time(spans, 2) == pytest.approx(5.0)
    assert self_time(spans, 3) == pytest.approx(1.0)


def test_tracer_nests_and_wraps():
    class Box:
        def f(self, x):
            return x + 1

    tr = Tracer(True)
    tr.op = "op-0"
    tr.wrap(Box, "f", "box.f", lambda attrs, out: attrs.update(out=out))
    with tr.span("outer"):
        assert Box().f(1) == 2
    tr.unwrap_all()
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [
        ("outer", None, "op-0"), ("box.f", 0, "op-0")]
    assert tr.spans[1].attrs == {"out": 2}
    assert tr.spans[0].start <= tr.spans[1].start <= tr.spans[1].end <= tr.spans[0].end
    assert Box.f.__name__ == "f" and not hasattr(Box.f, "__wrapped__")


def test_disabled_tracer_records_and_wraps_nothing():
    class Box:
        def f(self):
            return 1

    orig = Box.f
    tr = Tracer(False)
    tr.wrap(Box, "f", "box.f")
    with tr.span("outer"):
        Box().f()
    assert tr.spans == [] and Box.f is orig


# ------------------------------------------------------- event-log parser


def test_parser_groups_jobs_by_job_group():
    groups = eventlog.parse([LOG], sql_nodes=lambda n: "Join" in n)
    assert set(groups) == {"op-0", "commit-1"}
    op, commit = groups["op-0"], groups["commit-1"]
    for g in (op, commit):
        assert g.jobs == len(g.job_spans) >= 1
        assert g.stages >= 1 and g.tasks >= g.stages
        assert g.first_submit == min(a for a, _ in g.job_spans)
        assert all(a <= b for a, b in g.job_spans)
        assert g.executor_run_s > 0 and g.executor_cpu_s > 0
        assert sum(len(v) for v in g.stage_tasks.values()) == g.tasks
        assert sum(g.module_run_s.values()) == pytest.approx(g.executor_run_s)
    # the pair query's join output rows, and none for the commit
    assert op.sql_metric["number of output rows"] == 30
    assert commit.sql_metric == {}
    # the commit's write and stats jobs are issued in sources/snapshots.py
    assert commit.module_run_s["sources/snapshots.py"] > 0
    assert set(op.module_run_s) == {"other"}
    assert op.shuffle_write_bytes > 0


def test_parser_without_sql_nodes_counts_no_metric():
    groups = eventlog.parse([LOG])
    assert all(not g.sql_metric for g in groups.values())


def test_module_of():
    assert eventlog.module_of(
        "collect at /x/featuregenerator_spark/sources/snapshots.py:262"
    ) == "sources/snapshots.py"
    assert eventlog.module_of("count at /x/featuregenerator_spark/job.py:219") == "job.py"
    assert eventlog.module_of("collect at /x/perfbench/workloads.py:9") == "other"
    assert eventlog.module_of(None) == "other"


def test_straggler_ratio_uses_the_heaviest_stage():
    g = eventlog.Group()
    g.stage_tasks[1] = [1.0, 1.0, 1.0, 5.0]
    g.stage_tasks[2] = [0.5, 0.5]
    assert g.straggler_ratio() == pytest.approx(5.0)
    assert eventlog.Group().straggler_ratio() == 0.0


# ------------------------------------------------------------- helpers


def test_growth_compares_last_and_first_ops():
    assert growth([1, 1, 1, 1, 1, 2, 2, 2, 2, 2]) == pytest.approx(2.0)
    assert growth([2.0, 4.0, 3.0]) == pytest.approx(1.5)
    assert growth([]) == 0.0


def test_spark_round4_is_half_up():
    assert spark_round4(0.80005) == 0.8001
    assert spark_round4(0.79994) == 0.7999


def test_trailing_week_spans_seven_days():
    lo, hi = trailing_week("2024-01-10")
    assert lo.isoformat() == "2024-01-04T00:00:00"
    assert hi.isoformat() == "2024-01-10T23:59:59.999999"
