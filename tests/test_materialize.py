"""The reuse materialization derives its strategy from the master
(localCheckpoint on ``local*``, persist otherwise) and must never
change WHAT any consumer computes. Pinned here on the LSH pair
generator — the heaviest consumer family — plus the helper's own
contract on both derived branches."""

import pytest

from carbon_clickhouse_spark.materialize import materialize


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again"),
        (2, "the quick brown fox jumps over the lazy dog again"),
        (3, "a completely different document about spark shuffles"),
        (4, "a completely different document about spark shuffles"),
        (5, "unique text with no duplicate partner in this corpus"),
        (6, "the quick brown fox jumps over the lazy cat again"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture()
def cluster_master(spark, monkeypatch):
    """The session as materialize() sees it on a cluster master."""
    monkeypatch.setattr(spark.sparkContext, "master", "spark://cluster:7077")


def _pairs(docs):
    from carbon_clickhouse_spark.datapipe.dedup import minhash_lsh_pairs

    return sorted(
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs).collect()
    )


def test_all_strategies_identical_rows(docs, request):
    local = _pairs(docs)
    request.getfixturevalue("cluster_master")
    assert _pairs(docs) == local
    assert local, "fixture must produce pairs"


def test_default_is_local_checkpoint(docs):
    assert docs.sparkSession.sparkContext.master.startswith("local")
    out = materialize(docs)
    # lazy localCheckpoint plans as a materialized-RDD scan
    assert "ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()
    assert not out.storageLevel.useMemory


def test_persist_keeps_lineage_and_caches(docs, cluster_master):
    out = materialize(docs)
    assert out.storageLevel.useMemory  # marked for caching
    assert out.storageLevel.useDisk
    # a cached relation over the original plan, not a checkpointed RDD
    assert "InMemoryTableScan" in (
        out._jdf.queryExecution().executedPlan().toString()
    )
    out.unpersist()
