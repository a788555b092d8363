"""Boundedness of the per-session operator memos (``session.memo``): the
evict hook frees block-manager storage, checkpoint blocks included, and
inserting a new sf_dir displaces entries of old ones, so a session never
accumulates memo storage across scale factors or tiers. Staged scratch
inputs and drained live streams are entries under the same rule.
"""

import os

import pytest
from pyspark import StorageLevel

from fits2db_spark import session, tables
from fits2db_spark.operators import joins, scans, streaming_batch
from fits2db_spark.registry import all_queries
from fits2db_spark.session import free_memo_checkpoints

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


@pytest.fixture(autouse=True)
def _force_ladder(monkeypatch):
    """These tests exercise the phase-1 memos, which only populate on the
    radius-ladder path; the ladder is skipped below _XM_LADDER_MIN_ROWS
    catalog rows, so at fixture scale no phase-1 memo would be built.
    Force the ladder on so the memo lifecycle under test actually runs."""
    monkeypatch.setattr(joins, "_XM_LADDER_MIN_ROWS", 0)


def _storage_count(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _stored_rdd_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _memo_keys(prefix: str = "") -> list[tuple[str, str, str]]:
    return [k for k in session._MEMO if k[2].startswith(prefix)]


def test_free_memo_checkpoints_empties_caches_and_storage(spark):
    free_memo_checkpoints()
    base = _storage_count(spark)
    qs = all_queries()
    qs["join_xmatch_nearest"](spark, SF_A).count()
    scans.fits_ingest(spark, SF_A).count()
    assert _memo_keys("xmatch_") and _memo_keys("staged:nation_fits")
    assert _storage_count(spark) > base
    free_memo_checkpoints()
    assert not session._MEMO
    assert _storage_count(spark) <= base, "checkpoint blocks not freed"
    # memos rebuild transparently on the next invocation
    assert qs["join_xmatch_nearest"](spark, SF_A).count() > 0
    assert len(_memo_keys("xmatch_")) == len(joins._XM_LADDER)


def _sorted_rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_new_sf_dir_displaces_old_checkpoints(spark):
    from fits2db_spark.operators.advanced import _ps_pairs

    free_memo_checkpoints()
    qs = all_queries()
    ps = _ps_pairs(spark, SF_A)
    ps.count()
    assert ps.storageLevel != StorageLevel.NONE
    qs["join_xmatch_nearest"](spark, SF_A).count()
    fits_rows = _sorted_rows(scans.fits_ingest(spark, SF_A))
    live_rows = _sorted_rows(streaming_batch.stream_live_tumbling(spark, SF_A))
    staged = next(v for k, v in session._MEMO.items() if k[2] == "staged:nation_fits")
    staged_mtime = os.stat(os.path.join(staged, "nation.fits")).st_mtime_ns
    assert _memo_keys("live_tumbling")
    assert {k[1] for k in session._MEMO} == {SF_A}
    qs["join_xmatch_nearest"](spark, SF_B).count()
    assert {k[1] for k in session._MEMO} == {SF_B}, (
        "old sf_dir's entries must be evicted on displacement"
    )
    assert ps.storageLevel == StorageLevel.NONE, "evicted graph memo still cached"
    # the evicted staged input and drained stream are rewritten and
    # drained again on the next call at SF_A, with the same rows
    assert _sorted_rows(scans.fits_ingest(spark, SF_A)) == fits_rows
    assert _sorted_rows(streaming_batch.stream_live_tumbling(spark, SF_A)) == live_rows
    assert {k[1] for k in _memo_keys("staged:nation_fits")} == {SF_A}
    assert {k[1] for k in _memo_keys("live_tumbling")} == {SF_A}
    assert os.stat(os.path.join(staged, "nation.fits")).st_mtime_ns > staged_mtime
    scans.fits_datasource_pushdown(spark, SF_A).count()
    scans.fits_datasource_pushdown(spark, SF_B).count()
    assert {k[1] for k in _memo_keys("staged:nation_fits")} == {SF_B}
    free_memo_checkpoints()


def test_same_sf_dir_keeps_multiple_ops(spark):
    """Displacement is by sf_dir, not total size: nearest + knn at one
    sf_dir coexist (both are consumed by the same bench tier)."""
    free_memo_checkpoints()
    qs = all_queries()
    qs["join_xmatch_nearest"](spark, SF_A).count()
    qs["join_xmatch_knn"](spark, SF_A).count()
    prefixes = {k[2].rsplit("_r", 1)[0] for k in _memo_keys("xmatch_")}
    assert prefixes == {"xmatch_nearest", "xmatch_knn"}, prefixes
    assert len(_memo_keys("xmatch_")) == 2 * len(joins._XM_LADDER)
    free_memo_checkpoints()


def test_free_memo_checkpoints_covers_full_aux_registry(spark):
    """The evict hook must empty the whole memo store — the graph memos
    (_ps_pairs, _co_supply_counts), the vector memos (cov_gram_parts),
    the llm_text shingle/array/band memos, a staged input and a drained
    live stream — and return block-manager storage to its pre-build
    level."""
    from fits2db_spark.operators import advanced
    from fits2db_spark.operators.llm_vectors import cov_gram_parts

    free_memo_checkpoints()
    base = _storage_count(spark)
    advanced._co_supply_counts(spark, SF_A).count()  # also builds _ps_pairs
    cov_gram_parts(spark, SF_A).count()
    all_queries()["dedup_near_minhash"](spark, SF_A).count()
    scans.fits_ingest(spark, SF_A).count()
    streaming_batch.stream_live_tumbling(spark, SF_A).count()
    names = {k[2] for k in session._MEMO}
    assert {
        "ps_pairs", "cosupply", "cov_gram_parts", "doc_arrays", "bands",
        "staged:nation_fits", "live_tumbling",
    } <= names
    assert _storage_count(spark) > base
    free_memo_checkpoints()
    assert not session._MEMO, "memo survived free_memo_checkpoints"
    assert _storage_count(spark) <= base, "memo blocks not freed"
    # memos rebuild transparently on the next invocation
    assert advanced._co_supply_counts(spark, SF_A).count() > 0
    free_memo_checkpoints()


@pytest.mark.parametrize("free", [free_memo_checkpoints, tables.clear_cache])
def test_checkpointed_memos_free_their_blocks(spark, free):
    """graph_kcore's edge list and dedup_components_bigstar's fixpoint are
    localCheckpoint-ed memos. ``unpersist()`` does not free checkpoint
    blocks, so releasing them must drop the RDD behind the frame's
    LogicalRDD from the block manager."""
    free_memo_checkpoints()
    qs = all_queries()
    qs["graph_kcore"](spark, SF_A).collect()
    qs["dedup_components_bigstar"](spark, SF_A).collect()
    memos = {k[2]: df for k, df in session._MEMO.items()}
    ids = {
        name: memos[name]._jdf.queryExecution().analyzed().rdd().id()
        for name in ("kcore_edges", "cc_bigstar")
    }
    assert set(ids.values()) <= _stored_rdd_ids(spark)
    free()
    leaked = {n: i for n, i in ids.items() if i in _stored_rdd_ids(spark)}
    assert not leaked, f"checkpoint blocks survived {free.__name__}: {leaked}"
