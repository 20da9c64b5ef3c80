"""Deletes: tombstones (liveDocs analog) + merge-time purge.

Reference semantics: deleted docs stop matching immediately but collection
statistics keep counting them until segments merge
(index/PendingDeletes.java:31-34, IndexWriter.java:1911); the purge mirrors
what SegmentMerger does to deleted docs."""

import numpy as np
import pytest

from lucene_spark.search.plan import normalize


@pytest.fixture()
def deletable_index(spark, tmpdir_index):
    from lucene_spark.corpus import corpus_spark_df
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import Index

    docs = corpus_spark_df(spark, 300, seed=21)
    cfg = IndexConfig(num_segments=3, hot_df_threshold=60, index_positions=True)
    return Index(spark, build_index(spark, docs, tmpdir_index, cfg)), cfg


def test_deleted_docs_stop_matching_everywhere(deletable_index):
    from lucene_spark.search.executor import (
        count_hits, search_exhaustive, search_phrase, search_topk,
    )

    idx, _ = deletable_index
    q = normalize(should=["import"])
    before = [r["docid"] for r in search_topk(idx, q, k=5).collect()]
    n_before = count_hits(idx, q)
    idx.delete_docs(before[:2])
    assert set(idx.deleted) == set(before[:2])

    after = [r["docid"] for r in search_topk(idx, q, k=5).collect()]
    assert not set(after) & set(before[:2])
    after_ex = [r["docid"] for r in search_exhaustive(idx, q, k=5).collect()]
    assert not set(after_ex) & set(before[:2])
    assert count_hits(idx, q) == n_before - 2
    ph = [r["docid"] for r in search_phrase(idx, ["import", "return"], k=50).collect()]
    assert not set(ph) & set(before[:2])


def test_delete_keeps_stats_until_purge(deletable_index):
    """Scores of surviving docs must be UNCHANGED by a delete (idf/doclen
    still count tombstoned docs) — only the hit set shrinks."""
    from lucene_spark.search.executor import search_topk

    idx, _ = deletable_index
    q = normalize(should=["vector"])
    before = {r["docid"]: r["score"] for r in search_topk(idx, q, k=20).collect()}
    victim = sorted(before)[0]
    idx.delete_docs([victim])
    after = {r["docid"]: r["score"] for r in search_topk(idx, q, k=20).collect()}
    assert victim not in after
    for d, s in after.items():
        if d in before:
            assert s == before[d]


def test_later_deletes_reach_cached_tombstones(spark, tmp_path):
    """Workers keep each segment's tombstones across queries, keyed on the
    tombstone file set: a delete between two searches in one session must
    reach the second search, never a stale cached array."""
    from lucene_spark.corpus import corpus_spark_df
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search import executor
    from lucene_spark.search.executor import Index, search_exhaustive, search_topk

    # one segment, so every query is one task and the reused workers take
    # turns: after a few searches each of them holds the segment's entry
    cfg = IndexConfig(num_segments=1)
    idx = Index(spark, build_index(spark, corpus_spark_df(spark, 200, seed=21), str(tmp_path), cfg))
    q = normalize(should=["import"])
    ranked = lambda df: [(r["docid"], r["score"]) for r in df.collect()]
    first = ranked(search_topk(idx, q, k=10))
    idx.delete_docs([first[0][0]])
    for _ in range(8):
        second = ranked(search_topk(idx, q, k=10))
    assert first[0][0] not in {d for d, _ in second}
    idx.delete_docs([second[0][0]])
    third = ranked(search_topk(idx, q, k=10))
    want = ranked(search_exhaustive(idx, q, k=10, quantize=True, dtype=np.float32))
    assert [d for d, _ in third] == [d for d, _ in want]
    assert [s for _, s in third] == pytest.approx([s for _, s in want], rel=1e-6)
    assert not {first[0][0], second[0][0]} & {d for d, _ in third}

    # the same key on the driver: one read per file set, a new set replaces it
    (sid, _), = idx.segment_files()
    read = lambda: executor._segment_deletes(idx.paths.fs, idx.paths.tombstones,
                                             idx.tombstone_files, sid)
    held = read()
    assert read() is held and set(held) == set(idx.deleted)
    idx.delete_docs([third[0][0]])
    assert set(read()) == set(idx.deleted) == set(held) | {third[0][0]}


def test_delete_by_term(deletable_index):
    from lucene_spark.search.executor import count_hits

    idx, _ = deletable_index
    n = count_hits(idx, normalize(should=["vector"]))
    ndel = idx.delete_by_term("vector")
    assert ndel == n
    assert count_hits(idx, normalize(should=["vector"])) == 0


def test_delete_by_term_is_distributed(deletable_index, monkeypatch):
    """delete_by_term must never materialize matching docids on the driver:
    the postings decode flows straight into the per-segment tombstone parquet
    (liveDocs shape, index/PendingDeletes.java:31). We make every row-
    materializing driver API raise for the duration of the delete."""
    from pyspark.sql import DataFrame

    from lucene_spark.search.executor import count_hits

    idx, _ = deletable_index
    n = count_hits(idx, normalize(should=["import"]))
    assert n > 0

    def boom(self, *a, **k):
        raise AssertionError("driver-side row materialization on the delete path")

    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    monkeypatch.setattr(DataFrame, "take", boom)
    try:
        ndel = idx.delete_by_term("import")
    finally:
        monkeypatch.undo()
    assert ndel == n
    assert count_hits(idx, normalize(should=["import"])) == 0
    # every tombstone landed in its owning segment (manifest docid ranges)
    tomb = idx.tombstones.toPandas()
    assert len(tomb) == n
    ranges = {
        int(r["segment_id"]): (int(r["first_docid"]), int(r["last_docid"]))
        for r in idx._segment_ranges().toPandas().to_dict("records")
    }
    for d, s in zip(tomb["docid"], tomb["segment_id"]):
        lo, hi = ranges[int(s)]
        assert lo <= int(d) <= hi


def test_purge_rewrites_segments(spark, deletable_index):
    """After purge: tombstones gone, stats shrink, and results equal a fresh
    index built over the live docs with the same docids."""
    from lucene_spark.index.builder import IndexConfig, build_index, purge_deletes
    from lucene_spark.search.executor import Index, search_topk

    idx, cfg = deletable_index
    q = normalize(should=["import", "return"])
    victims = [r["docid"] for r in search_topk(idx, q, k=4).collect()][:3]
    idx.delete_docs(victims)
    # snapshot the live docs BEFORE the in-place purge rewrites the shards
    live_path = idx.paths.root + "_live"
    docs = idx.docs
    docs.filter(~docs.docid.isin([int(v) for v in victims])).write.parquet(live_path)
    n_purged = purge_deletes(spark, idx.paths.root, cfg)
    assert n_purged == 3

    idx2 = Index(spark, idx.paths)  # reopen: new generation
    assert idx2.generation == idx.generation + 1
    assert len(idx2.deleted) == 0
    assert idx2.field_stats.max_doc == idx.field_stats.max_doc - 3

    # reference: fresh build over the live docs, docids preserved
    ref_cfg = IndexConfig(
        docid_col="docid", order_cols=("docid",), num_segments=3,
        hot_df_threshold=60, index_positions=True,
    )
    ref_paths = build_index(
        spark, spark.read.parquet(live_path), idx.paths.root + "_ref", ref_cfg
    )
    ref = Index(spark, ref_paths)
    got = [(r["docid"], r["score"]) for r in search_topk(idx2, q, k=10).collect()]
    want = [(r["docid"], r["score"]) for r in search_topk(ref, q, k=10).collect()]
    assert got == want


def test_legacy_json_tombstones_migrate_on_open(deletable_index, spark):
    """v4 indexes stored deletes as tombstones/delete-*.json; a v5 open must
    fold them into the parquet tombstone table (not silently resurface the
    deleted docs) and remove the legacy files (ADVICE r3; SegmentInfos-style
    version gating, SegmentInfos.java:305)."""
    from lucene_spark.index import fsio
    from lucene_spark.search.executor import Index, search_topk

    idx, _ = deletable_index
    q = normalize(should=["import"])
    victims = [r["docid"] for r in search_topk(idx, q, k=4).collect()][:2]

    tdir = idx.paths.fs_path(idx.paths.tombstones)
    fsio.mkdirs(idx.paths.fs, tdir)
    fsio.write_json_atomic(
        idx.paths.fs, tdir + "/delete-00000.json",
        {"docids": [int(victims[0])]},
    )
    fsio.write_json_atomic(
        idx.paths.fs, tdir + "/delete-00001.json",
        {"docids": [int(v) for v in victims]},  # overlap: dedup must hold
    )

    idx2 = Index(spark, idx.paths)  # reopen triggers the migration
    assert set(idx2.deleted) == set(int(v) for v in victims)
    assert not fsio.list_files(idx2.paths.fs, tdir, suffix=".json")
    hits = [r["docid"] for r in search_topk(idx2, q, k=10).collect()]
    assert not set(hits) & set(victims)
    # idempotent: a second open finds nothing to migrate and the delete
    # set is unchanged
    idx3 = Index(spark, idx.paths)
    assert set(idx3.deleted) == set(int(v) for v in victims)


def test_newer_format_version_refuses_to_open(deletable_index, spark):
    from lucene_spark.index import fsio
    from lucene_spark.search.executor import Index

    idx, _ = deletable_index
    p = idx.paths.fs_path(idx.paths.field_stats)
    fs = fsio.read_json(idx.paths.fs, p)
    assert fs["format_version"] >= 5  # stamped at commit
    fsio.write_json_atomic(idx.paths.fs, p, {**fs, "format_version": 99})
    with pytest.raises(RuntimeError, match="format_version 99"):
        Index(spark, idx.paths)
    fsio.write_json_atomic(idx.paths.fs, p, fs)


def test_delete_by_query(spark, tmp_path):
    """deleteDocuments(Query) analog: docs matching a boolean query are
    tombstoned; searches and counts shrink accordingly."""
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import Index, count_hits, search_topk
    from lucene_spark.search.plan import normalize

    rows = [
        (0, "keep this alpha"),
        (1, "drop beta gamma"),
        (2, "drop beta delta"),
        (3, "keep gamma too"),
    ]
    docs = spark.createDataFrame(rows, "docid long, content string")
    cfg = IndexConfig(docid_col="docid", order_cols=("docid",), num_segments=2,
                      hot_df_threshold=100)
    idx = Index(spark, build_index(spark, docs, str(tmp_path / "dbq"), cfg))
    n = idx.delete_by_query(normalize(must=["drop", "beta"], pre_analyzed=True))
    assert n == 2
    assert count_hits(idx, normalize(should=["beta"], pre_analyzed=True)) == 0
    hits = search_topk(idx, normalize(should=["gamma"], pre_analyzed=True), k=5).collect()
    assert [r["docid"] for r in hits] == [3]  # doc 1 tombstoned


def test_append_collision_refused_and_update_semantics(spark, tmp_path):
    """Appending existing user docids refuses by default; update=True is
    IndexWriter.updateDocument (delete-then-add): the old doc disappears,
    the new content is searchable under the same user id."""
    import pytest as _pt

    from lucene_spark.index.builder import IndexConfig, append_to_index, build_index
    from lucene_spark.search.executor import Index, count_hits, hydrate, search_topk
    from lucene_spark.search.plan import normalize

    docs = spark.createDataFrame(
        [(i, f"alpha w{i}") for i in range(10)], "docid long, content string"
    )
    d = str(tmp_path / "upd")
    cfg = IndexConfig(docid_col="docid", order_cols=("docid",), num_segments=2)
    build_index(spark, docs, d, cfg)
    clash = spark.createDataFrame([(5, "alpha updated")], "docid long, content string")

    with _pt.raises(ValueError, match="already\\s+exist"):
        append_to_index(spark, clash, d, cfg)

    append_to_index(spark, clash, d, cfg, update=True)
    idx = Index(spark, __import__("lucene_spark.index.builder", fromlist=["IndexPaths"]).IndexPaths(d))
    # total live docs unchanged: 10 (doc 5 replaced, not duplicated)
    assert count_hits(idx, normalize(should=["alpha"], pre_analyzed=True)) == 10
    # the old content is gone, the new is live
    assert count_hits(idx, normalize(should=["w5"], pre_analyzed=True)) == 0
    hits = search_topk(idx, normalize(should=["updated"], pre_analyzed=True), k=5)
    assert [r["docid"] for r in hydrate(idx, hits).collect()] == [5]


def test_purge_preserves_analysis_stamps(spark, tmp_path):
    """purge_deletes called WITHOUT the original cfg must carry the
    analysis_fingerprint / index_positions stamps forward unchanged
    (ADVICE r4): a defaulted refinalize used to restamp both, breaking
    later appends and flipping has_positions."""
    from lucene_spark.index import fsio
    from lucene_spark.index.builder import (
        IndexConfig, append_to_index, build_index, purge_deletes,
    )
    from lucene_spark.search.executor import Index

    rows = [(i, f"running jumper stems doc{i} token{i % 3}") for i in range(8)]
    docs = spark.createDataFrame(rows, "docid long, content string")
    cfg = IndexConfig(docid_col="docid", order_cols=("docid",), num_segments=2,
                      index_positions=True, stemmer="porter")
    root = str(tmp_path / "stampidx")
    paths = build_index(spark, docs, root, cfg)
    idx = Index(spark, paths)
    stamped = fsio.read_json(paths.fs, paths.fs_path(paths.field_stats))
    assert stamped["analysis_fingerprint"] == cfg.analysis_fingerprint()

    idx.delete_docs([3])
    purge_deletes(spark, root)  # note: NO cfg — default IndexConfig()

    after = fsio.read_json(paths.fs, paths.fs_path(paths.field_stats))
    assert after["analysis_fingerprint"] == cfg.analysis_fingerprint()
    assert after["index_positions"] is True
    idx2 = Index(spark, paths)
    assert idx2.has_positions is True
    # append with the TRUE cfg is still accepted (the old restamp refused it)
    more = spark.createDataFrame([(100, "appended running text")],
                                 "docid long, content string")
    append_to_index(spark, more, root, cfg)
    assert Index(spark, paths).field_stats.max_doc == 8
