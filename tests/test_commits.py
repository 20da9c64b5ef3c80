"""Commit points + time travel (IndexCommit / SnapshotDeletionPolicy /
DirectoryReader.open(IndexCommit) analogs, index/builder.py +
search/executor.py Index(generation=...))."""

import pytest

from lucene_spark.index.builder import (
    IndexConfig,
    append_to_index,
    build_index,
    list_commits,
    purge_deletes,
)
from lucene_spark.search.executor import Index, search_topk
from lucene_spark.search.plan import normalize


ROWS1 = [(i, f"alpha beta gamma doc{i}") for i in range(20)]
ROWS2 = [(i, "alpha delta epsilon") for i in range(100, 110)]

CFG = dict(docid_col="doc_id", content_col="content", num_segments=2,
           order_cols=("doc_id",))


def _build(spark, d, rows):
    df = spark.createDataFrame(rows, "doc_id long, content string")
    return build_index(spark, df, d, IndexConfig(**CFG))


def test_retained_commit_is_openable_and_frozen(spark, tmp_path):
    d = str(tmp_path / "idx")
    _build(spark, d, ROWS1)
    assert list_commits(d) == [0]
    df2 = spark.createDataFrame(ROWS2, "doc_id long, content string")
    paths = append_to_index(spark, df2, d, IndexConfig(**CFG), keep_commits=True)
    assert list_commits(d) == [0, 1]

    live = Index(spark, paths)
    old = Index(spark, paths, generation=0)
    assert live.generation == 1 and old.generation == 0
    assert live.field_stats.doc_count == 30
    assert old.field_stats.doc_count == 20

    # the appended docs are invisible at the old commit on EVERY path:
    q = normalize(should=["delta"], pre_analyzed=True)
    assert search_topk(live, q, k=50).count() == 10
    assert search_topk(old, q, k=50).count() == 0
    # shared term: old commit sees only the original postings
    q = normalize(should=["alpha"], pre_analyzed=True)
    assert search_topk(old, q, k=100).count() == 20
    assert search_topk(live, q, k=100).count() == 30
    # stats differ per commit (idf at the old commit uses old df)
    assert old.term_stats_for(["alpha"])["alpha"][0] == 20
    assert live.term_stats_for(["alpha"])["alpha"][0] == 30
    # stored-fields reads respect the snapshot bound
    assert old.docs.count() == 20 and live.docs.count() == 30


def test_default_policy_gcs_old_commits(spark, tmp_path):
    d = str(tmp_path / "idx")
    _build(spark, d, ROWS1)
    df2 = spark.createDataFrame(ROWS2, "doc_id long, content string")
    paths = append_to_index(spark, df2, d, IndexConfig(**CFG))  # keep_commits=False
    assert list_commits(d) == [1]
    with pytest.raises(ValueError, match="openable commits"):
        Index(spark, paths, generation=0)


def test_second_retained_append_keeps_chain(spark, tmp_path):
    d = str(tmp_path / "idx")
    _build(spark, d, ROWS1)
    df2 = spark.createDataFrame(ROWS2, "doc_id long, content string")
    append_to_index(spark, df2, d, IndexConfig(**CFG), keep_commits=True)
    df3 = spark.createDataFrame([(200, "zeta eta")], "doc_id long, content string")
    paths = append_to_index(spark, df3, d, IndexConfig(**CFG), keep_commits=True)
    assert list_commits(d) == [0, 1, 2]
    assert Index(spark, paths, generation=0).field_stats.doc_count == 20
    assert Index(spark, paths, generation=1).field_stats.doc_count == 30
    assert Index(spark, paths, generation=2).field_stats.doc_count == 31


def test_purge_invalidates_retained_commits(spark, tmp_path):
    """purge_deletes rewrites segment files in place — retained commits
    can no longer be served and must drop out of list_commits."""
    d = str(tmp_path / "idx")
    _build(spark, d, ROWS1)
    df2 = spark.createDataFrame(ROWS2, "doc_id long, content string")
    paths = append_to_index(spark, df2, d, IndexConfig(**CFG), keep_commits=True)
    idx = Index(spark, paths)
    idx.delete_docs_df(spark.createDataFrame([(0,), (1,)], "docid long"))
    purge_deletes(spark, d, IndexConfig(**CFG))
    gens = list_commits(d)
    assert gens == [2]
    with pytest.raises(ValueError, match="openable commits"):
        Index(spark, IndexPaths_(d), generation=0)


def IndexPaths_(d):
    from lucene_spark.index.builder import IndexPaths

    return IndexPaths(d)


def _hits(df):
    return [(r["docid"], round(r["score"], 6)) for r in df.collect()]


def test_live_reader_is_point_in_time(spark, tmp_path):
    """An Index opened before an append keeps answering from its own
    commit: segments appended later are invisible on the pruned and the
    exhaustive path alike, and both equal the generation=0 answer."""
    from lucene_spark.search.executor import search_exhaustive

    d = str(tmp_path / "idx")
    filler = " ".join(f"w{j}" for j in range(20))
    rows = [(i, ("alpha " if i < 30 else "") + "beta " + filler) for i in range(40)]
    paths = _build(spark, d, rows)
    stale = Index(spark, paths)
    more = spark.createDataFrame(
        [(i, "alpha alpha alpha") for i in range(100, 110)], "doc_id long, content string"
    )
    append_to_index(spark, more, d, IndexConfig(**CFG), keep_commits=True)

    q = normalize(should=["alpha", "beta"], pre_analyzed=True)
    pruned = _hits(search_topk(stale, q, k=5))
    exhaustive = _hits(search_exhaustive(stale, q, k=5))
    frozen = _hits(search_topk(Index(spark, paths, generation=0), q, k=5))
    assert pruned == exhaustive == frozen
    assert [docid for docid, _ in pruned] == [0, 1, 2, 3, 4]
    assert stale.docs.count() == 40


def test_collected_commit_reader_says_so(spark, tmp_path):
    """A reader whose commit a default append garbage-collected fails with
    a message naming the superseded generation, on both query paths."""
    from lucene_spark.search.executor import search_exhaustive

    d = str(tmp_path / "idx")
    paths = _build(spark, d, ROWS1)
    stale = Index(spark, paths)
    df2 = spark.createDataFrame(ROWS2, "doc_id long, content string")
    append_to_index(spark, df2, d, IndexConfig(**CFG))  # keep_commits=False
    q = normalize(should=["alpha"], pre_analyzed=True)
    for run in (search_topk, search_exhaustive):
        with pytest.raises(RuntimeError, match=r"generation 0 .*superseded.*keep_commits=True"):
            run(stale, q, k=5)
    assert search_topk(Index(spark, paths), q, k=50).count() == 30
