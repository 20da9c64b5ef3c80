"""End-to-end index build: structure, stats, determinism, resume (FIXTURES.md §8)."""

import glob
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_manifest_and_field_stats(built_index, ref_index):
    fs = built_index.field_stats
    assert fs.max_doc == 600
    assert fs.doc_count == ref_index.doc_count  # docs with >=1 token
    assert fs.sum_total_term_freq == ref_index.sum_ttf
    manifests = sorted(glob.glob(os.path.join(built_index.paths.segments, "*.json")))
    assert len(manifests) == 4
    rows = [json.load(open(m)) for m in manifests]
    assert sum(r["num_docs"] for r in rows) == 600
    assert all(r["status"] == "complete" for r in rows)
    # docid ranges are disjoint and ordered by segment
    spans = sorted((r["first_docid"], r["last_docid"]) for r in rows if r["num_docs"])
    for (a, b), (c, d) in zip(spans, spans[1:]):
        assert b < c


def test_docids_dense_and_deterministic(built_index):
    docs = built_index.docs.select("docid", "repo", "path", "commit").orderBy("docid").collect()
    assert [r["docid"] for r in docs] == list(range(600))
    keys = [(r["repo"], r["path"], r["commit"]) for r in docs]
    assert keys == sorted(keys)  # docid order == (repo,path,commit) order


def test_content_sha256_per_row(built_index):
    """input_hint hard gate: per-row content sha256 equality vs source."""
    bad = built_index.docs.filter(
        F.sha2(F.col("content"), 256) != F.col("content_sha256")
    ).count()
    assert bad == 0


def test_term_stats_match_reference(built_index, ref_index):
    got = {r["term"]: (r["df"], r["ttf"]) for r in built_index.term_stats.collect()}
    want = {
        t: (len(p), sum(p.values())) for t, p in ref_index.postings.items()
    }
    assert got == want


def test_norms_match_reference(built_index, ref_index):
    rows = built_index.norms.collect()
    got = {r["docid"]: (r["doclen"], r["norm_byte"]) for r in rows}
    # norms shard stores every doc (incl. empty with doclen 0)
    for docid, dl in ref_index.doclen.items():
        assert got[docid][0] == dl
        assert got[docid][1] == ref_index.norm_byte[docid]


def test_merged_postings_roundtrip(built_index, ref_index):
    """Segment postings decode to exactly the reference postings."""
    from lucene_spark.search.executor import decoded_postings

    terms = ["import", "return", "def", "public", "error", "vector"]
    dec = decoded_postings(built_index, terms).collect()
    got = {}
    for r in dec:
        got.setdefault(r["term"], {})[r["docid"]] = r["tf"]
    for t in terms:
        assert got.get(t, {}) == ref_index.postings.get(t, {}), t


def _hot_term_segment_rows(built_index, term="import"):
    return (
        built_index.seg_postings.filter(F.col("term") == term)
        .orderBy("segment_id")
        .collect()
    )


def test_hot_terms_are_salted(built_index):
    """A hot (df >= 100) term is split across the segments, one row per
    segment (4 segments -> 4 rows), and those rows' df/ttf sum to the global
    term stats. The per-segment rows are the only partitioning of a term's
    postings; there is no salted merged copy."""
    rows = _hot_term_segment_rows(built_index)
    assert len(rows) == 4
    assert sorted(r["segment_id"] for r in rows) == sorted({r["segment_id"] for r in rows})
    df, ttf = built_index.term_stats_for(["import"])["import"]
    assert df >= 100
    assert (df, ttf) == (sum(r["df"] for r in rows), sum(r["ttf"] for r in rows))


def test_salted_postings_in_docid_order(built_index):
    """A hot term's per-segment rows hold ascending, disjoint
    [first_docid, last_docid] ranges in segment_id order."""
    rows = _hot_term_segment_rows(built_index)
    spans = [(r["first_docid"], r["last_docid"]) for r in rows]
    assert all(first <= last for first, last in spans)
    for (_, prev_last), (nxt_first, _) in zip(spans, spans[1:]):
        assert prev_last < nxt_first


def test_resume_skips_completed_segments(spark, tmpdir_index):
    """Kill-and-resume (FIXTURES.md §8): drop half the manifests, rebuild,
    assert completed segments are skipped and output is identical."""
    from lucene_spark.corpus import corpus_spark_df
    from lucene_spark.index.builder import IndexConfig, IndexPaths, build_index

    docs = corpus_spark_df(spark, 300, seed=7)
    cfg = IndexConfig(num_segments=4, hot_df_threshold=50, merge_bucket_segments=2)
    paths = build_index(spark, docs, tmpdir_index, cfg)

    def snapshot():
        seg_rows = {
            (r["term"], r["segment_id"], r["df"], r["ttf"], r["first_docid"], r["last_docid"])
            for r in spark.read.parquet(paths.postings).select(
                "term", "segment_id", "df", "ttf", "first_docid", "last_docid"
            ).collect()
        }
        stats = {
            (r["term"], r["df"], r["ttf"])
            for r in spark.read.parquet(paths.term_stats).collect()
        }
        return seg_rows, stats

    before = snapshot()
    # simulate a killed build: remove half the manifests + downstream outputs
    manifests = sorted(glob.glob(os.path.join(paths.segments, "*.json")))
    for m in manifests[: len(manifests) // 2]:
        os.remove(m)
    import shutil

    shutil.rmtree(paths.term_stats)
    os.remove(paths.field_stats)

    build_index(spark, docs, tmpdir_index, cfg)
    manifests2 = sorted(glob.glob(os.path.join(paths.segments, "*.json")))
    rows = [json.load(open(m)) for m in manifests2]
    assert len(rows) == 4
    assert snapshot() == before
    # manifest metrics sum to global field stats (lineage invariant)
    with open(paths.field_stats) as f:
        fs = json.load(f)
    assert fs["max_doc"] == sum(r["num_docs"] for r in rows) == 300
    assert fs["sum_total_term_freq"] == sum(r["sum_doclen"] for r in rows)


def test_append_swaps_generation_atomically(spark, tmpdir_index):
    """append_to_index must build the new snapshot artifacts BEFORE flipping
    the field_stats commit marker: no delete-before-rebuild window (ADVICE
    r1). After the append, generation advances and the old artifact dirs are
    garbage-collected."""
    from lucene_spark.corpus import corpus_spark_df
    from lucene_spark.index.builder import (
        IndexConfig, append_to_index, build_index, live_generation,
    )
    from lucene_spark.search.executor import Index

    docs = corpus_spark_df(spark, 100, seed=3)
    cfg = IndexConfig(num_segments=2)
    paths = build_index(spark, docs, tmpdir_index, cfg)
    assert live_generation(paths) == 0
    assert os.path.exists(os.path.join(paths.term_stats_g(0), "_SUCCESS"))
    assert not glob.glob(os.path.join(tmpdir_index, "merged*"))
    batch2 = corpus_spark_df(spark, 60, seed=9)
    append_to_index(spark, batch2, tmpdir_index, cfg)
    assert live_generation(paths) == 1
    assert os.path.exists(os.path.join(paths.term_stats_g(1), "_SUCCESS"))
    assert not os.path.exists(paths.term_stats_g(0))  # GC'd
    assert not glob.glob(os.path.join(tmpdir_index, "merged*"))
    idx = Index(spark, paths)
    assert idx.generation == 1
    assert idx.field_stats.max_doc == 160


def test_expand_terms_unlimited_for_counts(spark, tmpdir_index):
    """Counting rewrites must enumerate EVERY matching term — >1024 distinct
    prefix matches used to be silently truncated (ADVICE r1 / VERDICT #2)."""
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import Index, decoded_postings

    n_terms = 1300
    rows = [
        ("r", f"p{i:03d}", "c", "py",
         " ".join(f"pfx{j:04d}" for j in range(i * 65, (i + 1) * 65)))
        for i in range(n_terms // 65)
    ]
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    paths = build_index(spark, docs, tmpdir_index, IndexConfig(num_segments=2))
    idx = Index(spark, paths)
    terms = idx.expand_terms(prefix="pfx")
    assert len(terms) == n_terms
    n = decoded_postings(idx, terms).select("docid").distinct().count()
    assert n == n_terms // 65  # every doc matches
    assert len(idx.expand_terms(prefix="pfx", max_terms=100)) == 100


def test_build_through_file_uri_root(spark, tmpdir_index):
    """The builder's side-channel IO goes through pyarrow.fs (FSDirectory
    seam): a file:// URI root must behave identically to a plain path —
    build, resume no-op, search, stats."""
    from lucene_spark.corpus import corpus_spark_df
    from lucene_spark.index.builder import IndexConfig, build_index, live_generation
    from lucene_spark.search.executor import Index, search_topk
    from lucene_spark.search.plan import normalize

    root = "file://" + tmpdir_index + "/idx"
    docs = corpus_spark_df(spark, 200, seed=11)
    cfg = IndexConfig(num_segments=3, hot_df_threshold=50, index_positions=True)
    paths = build_index(spark, docs, root, cfg)
    assert live_generation(paths) == 0
    idx = Index(spark, paths)
    got = [
        (r["docid"], r["score"])
        for r in search_topk(idx, normalize(must=["import", "return"]), k=5).collect()
    ]
    assert len(got) == 5
    # plain-path build over the same docs gives identical results
    paths2 = build_index(spark, docs, tmpdir_index + "/idx2", cfg)
    idx2 = Index(spark, paths2)
    got2 = [
        (r["docid"], r["score"])
        for r in search_topk(idx2, normalize(must=["import", "return"]), k=5).collect()
    ]
    assert got == got2
    # resume is a no-op through the URI too
    assert build_index(spark, docs, root, cfg).root == paths.root
    assert idx.term_stats_for(["import"])["import"] == idx2.term_stats_for(["import"])["import"]


def test_resumed_flag_set_on_skip(spark, tmpdir_index):
    from lucene_spark.corpus import corpus_spark_df
    from lucene_spark.index.builder import IndexConfig, build_index

    docs = corpus_spark_df(spark, 100, seed=3)
    cfg = IndexConfig(num_segments=2)
    build_index(spark, docs, tmpdir_index, cfg)
    # full rebuild request: everything resumable is skipped, outputs intact
    paths = build_index(spark, docs, tmpdir_index, cfg)
    assert os.path.exists(paths.field_stats)


def test_build_through_s3_scheme_root(spark, tmpdir_index):
    """Cluster-shaped smoke: the index root is a NON-file URI scheme.
    Spark serves s3mock:// via a RawLocalFileSystem subclass (committed
    test jar); the pyarrow side-channel resolves the same scheme to an
    OBJECT-STORE-semantics handler whose move() raises — so every manifest
    / field_stats write exercises write_json_atomic's no-atomic-rename
    degraded path, exactly what a real s3:// root would hit. Build,
    search, distributed delete, and result identity vs a plain-path build."""
    import shutil

    from lucene_spark.corpus import corpus_spark_df
    from lucene_spark.index.builder import IndexConfig, build_index, live_generation
    from lucene_spark.search.executor import Index, count_hits, search_topk
    from lucene_spark.search.plan import normalize

    backing = tmpdir_index + "/s3root"
    shutil.rmtree(backing, ignore_errors=True)
    root = "s3mock://" + backing
    docs = corpus_spark_df(spark, 200, seed=9)
    cfg = IndexConfig(num_segments=2, hot_df_threshold=60, index_positions=True)
    paths = build_index(spark, docs, root, cfg)
    assert live_generation(paths) == 0
    idx = Index(spark, paths)
    got = [
        (r["docid"], r["score"])
        for r in search_topk(idx, normalize(should=["import", "return"]), k=5).collect()
    ]
    paths2 = build_index(spark, docs, tmpdir_index + "/plain", cfg)
    want = [
        (r["docid"], r["score"])
        for r in search_topk(Index(spark, paths2), normalize(should=["import", "return"]), k=5).collect()
    ]
    assert got == want and len(got) == 5
    # distributed delete writes its tombstone parquet through the scheme too
    n = count_hits(idx, normalize(should=["import"]))
    assert idx.delete_by_term("import") == n > 0
    assert count_hits(idx, normalize(should=["import"])) == 0


def test_docid_col_named_docid_docs_table_readable(spark, tmp_path):
    """A user docid_col literally named 'docid' must not duplicate the
    column in the docs table (any later docs read/hydrate would fail)."""
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import Index, hydrate, search_topk
    from lucene_spark.search.plan import normalize

    docs = spark.createDataFrame(
        [(7, "alpha beta"), (9, "alpha gamma")], "docid long, content string"
    )
    cfg = IndexConfig(docid_col="docid", order_cols=("docid",), num_segments=1,
                      keep_content=False)
    idx = Index(spark, build_index(spark, docs, str(tmp_path / "dd"), cfg))
    assert idx.docs.columns.count("docid") == 1
    top = search_topk(idx, normalize(should=["alpha"], pre_analyzed=True), k=5)
    hyd = hydrate(idx, top).collect()
    assert sorted(r["docid"] for r in hyd) == [7, 9]
    assert "content" not in idx.docs.columns  # keep_content=False honored


def test_duplicate_user_docids_refused(spark, tmp_path):
    """Duplicate values in docid_col silently merge postings across rows;
    the per-segment build must refuse (the sorted docid column makes the
    adjacency check complete — equal values co-locate)."""
    import pytest as _pt

    from lucene_spark.index.builder import IndexConfig, build_index

    docs = spark.createDataFrame(
        [(5, "alpha one"), (5, "alpha two"), (6, "beta")],
        "docid long, content string",
    )
    cfg = IndexConfig(docid_col="docid", order_cols=("docid",), num_segments=1)
    with _pt.raises(Exception, match="duplicate docid"):
        build_index(spark, docs, str(tmp_path / "dup"), cfg)


def test_s3_scheme_root_new_surfaces(spark, tmpdir_index):
    """The round-4 surfaces work through a non-file URI root too:
    synonym/stemmer build (fingerprint stamp via the degraded atomic-write
    path), check_index (pyarrow + Spark reads through the scheme), and
    updateDocument-style append."""
    import shutil

    from lucene_spark.index.builder import IndexConfig, append_to_index, build_index
    from lucene_spark.index.check import check_index
    from lucene_spark.search.executor import Index, count_hits
    from lucene_spark.search.plan import normalize

    backing = tmpdir_index + "/s3new"
    shutil.rmtree(backing, ignore_errors=True)
    root = "s3mock://" + backing
    docs = spark.createDataFrame(
        [(i, f"hash join runs w{i}") for i in range(30)],
        "docid long, content string",
    )
    cfg = IndexConfig(docid_col="docid", order_cols=("docid",), num_segments=2,
                      index_positions=True, synonyms=(("join", "merge"),))
    idx = Index(spark, build_index(spark, docs, root, cfg))
    assert count_hits(idx, normalize(should=["merge"], pre_analyzed=True)) == 30
    assert check_index(idx)["clean"]
    # append with a mismatched chain refuses through the scheme too
    import pytest as _pt

    more = spark.createDataFrame([(100, "fresh join doc")], "docid long, content string")
    bad = IndexConfig(docid_col="docid", order_cols=("docid",), num_segments=1)
    with _pt.raises(ValueError, match="analysis chain mismatch"):
        append_to_index(spark, more, root, bad)
    append_to_index(spark, more, root, cfg)
    idx2 = Index(spark, idx.paths)
    assert count_hits(idx2, normalize(should=["merge"], pre_analyzed=True)) == 31
