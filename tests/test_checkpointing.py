"""truncate_lineage: reliable checkpoints when a dir is configured.

Every iterative operator (star contraction, PageRank, BFS, the greedy
MMR loop) truncates per-round lineage through
``caching.truncate_lineage``. Locally that is ``localCheckpoint`` —
executor-local blocks, no directory needed. On a cluster an executor
WILL die during a long iteration, and localCheckpoint'd blocks are
unrecoverable (lineage is gone), so when a checkpoint directory is set
(``SparkContext.setCheckpointDir`` / ``SPARK_GRAFT_CHECKPOINT_DIR``)
the same call must become a RELIABLE checkpoint.
"""

import os

from pyspark.sql import functions as F

from etl_data_spark.caching import truncate_lineage
from etl_data_spark.operators.dedup import connected_components


class _StubSC:
    def __init__(self, d):
        self._d = d

    def getCheckpointDir(self):
        return self._d


class _StubSession:
    def __init__(self, d):
        self.sparkContext = _StubSC(d)


class _StubDF:
    def __init__(self, d):
        self.sparkSession = _StubSession(d)
        self.calls = []

    def checkpoint(self, eager=True):
        self.calls.append(("reliable", eager))
        return self

    def localCheckpoint(self, eager=True):
        self.calls.append(("local", eager))
        return self


def test_dispatch_prefers_reliable_when_dir_set():
    df = _StubDF("/ckpt")
    assert truncate_lineage(df) is df
    assert df.calls == [("reliable", True)]


def test_dispatch_falls_back_to_local_without_dir():
    df = _StubDF(None)
    assert truncate_lineage(df) is df
    assert df.calls == [("local", True)]


def test_connected_components_under_reliable_checkpoints(spark, tmp_path):
    """End-to-end: with a checkpoint dir configured, the materialised pair
    set (and, when contracted, every contraction round) writes real
    checkpoint RDDs to it and the labels stay exact."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None, "suite must start without a dir"
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        # chain 0-1-2-3 + clique {10,11,12} + singleton pair (20,21)
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
            ["id_a", "id_b"],
        )
        got = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(pairs).collect()
        }
        assert got == {
            (0, 0), (1, 0), (2, 0), (3, 0),
            (10, 10), (11, 10), (12, 10),
            (20, 20), (21, 20),
        }
        written = [
            os.path.join(root, f)
            for root, _, files in os.walk(ckpt)
            for f in files
        ]
        assert written, "no reliable checkpoint files were written"
    finally:
        # Option(null) => None on the Scala side: restores the unset state
        # so later tests keep the local fallback
        sc._jsc.setCheckpointDir(None)
        assert sc.getCheckpointDir() is None


def test_connected_components_under_reliable_checkpoints_contracted(
    spark, tmp_path, monkeypatch
):
    """The same pins when the graph is contracted instead of finished on
    the driver."""
    from etl_data_spark.operators import dedup

    monkeypatch.setattr(dedup, "_LOCAL_FINISH_EDGES", 0)
    test_connected_components_under_reliable_checkpoints(spark, tmp_path)


def test_pagerank_under_reliable_checkpoints(spark, tmp_path):
    """End-to-end: PageRank's per-round truncate_lineage takes the
    reliable branch when a dir is configured — checkpoint files appear
    and the ranks are identical to the localCheckpoint run."""
    from etl_data_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (4, 0)], ["u", "v"]
    )
    base = {
        r["v"]: round(r["r"], 9) for r in pagerank(edges, iters=12).collect()
    }

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None, "suite must start without a dir"
    ckpt = str(tmp_path / "ckpt_pr")
    sc.setCheckpointDir(ckpt)
    try:
        got = {
            r["v"]: round(r["r"], 9)
            for r in pagerank(edges, iters=12).collect()
        }
        assert got == base
        written = [
            os.path.join(root, f)
            for root, _, files in os.walk(ckpt)
            for f in files
        ]
        assert written, "no reliable checkpoint files were written"
    finally:
        sc._jsc.setCheckpointDir(None)
        assert sc.getCheckpointDir() is None


def test_session_factory_env_sets_checkpoint_dir(tmp_path, monkeypatch):
    """get_spark wires SPARK_GRAFT_CHECKPOINT_DIR through to the context
    (respecting an already-set dir), without restarting the JVM."""
    from etl_data_spark.session import get_spark

    import pytest

    ckpt = str(tmp_path / "envckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt)
    # the suite's SparkContext already exists, so cleanCheckpoints cannot
    # be applied — the factory must say so rather than silently configure
    # checkpoints that accumulate forever (r7 advice)
    with pytest.warns(RuntimeWarning, match="cleanCheckpoints"):
        spark = get_spark(app_name="ckpt-env-test")
    try:
        got = spark.sparkContext.getCheckpointDir()
        assert got is not None and ckpt.lstrip("/") in got
        df = spark.range(5)
        out = truncate_lineage(df.withColumn("x", F.col("id") * 2))
        assert out.count() == 5
    finally:
        spark.sparkContext._jsc.setCheckpointDir(None)
        assert spark.sparkContext.getCheckpointDir() is None
