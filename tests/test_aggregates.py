"""Facets/grouping/stats/join collectors + NRT append + percolator stream."""

import pytest
from pyspark.sql import functions as F

from lucene_spark.search.plan import normalize


def test_facet_counts(built_index, ref_index):
    from lucene_spark.search.aggregates import facet_counts

    got = {r["lang"]: r["n"] for r in facet_counts(built_index, normalize(should=["import"]), "lang").collect()}
    docs = {r["docid"]: r["lang"] for r in built_index.docs.select("docid", "lang").collect()}
    want = {}
    for d in ref_index.postings["import"]:
        want[docs[d]] = want.get(docs[d], 0) + 1
    assert got == want


def test_range_facets(built_index):
    from lucene_spark.search.aggregates import range_facets

    q = normalize(should=["import"])
    got = range_facets(built_index, q, "docid", [0, 200, 400, 600]).collect()
    assert sum(r["n"] for r in got) > 0
    assert [r["bucket"] for r in got] == sorted(r["bucket"] for r in got)


def test_group_topk_and_diversified(built_index):
    from lucene_spark.search.aggregates import diversified_topk, group_topk

    q = normalize(should=["import", "return"])
    rows = group_topk(built_index, q, "lang", 2).collect()
    per = {}
    for r in rows:
        per.setdefault(r["lang"], []).append(r)
    for lang, rs in per.items():
        assert len(rs) <= 2
        assert [r["rnk"] for r in sorted(rs, key=lambda r: r["rnk"])] == list(range(1, len(rs) + 1))

    div = diversified_topk(built_index, q, "lang", k=6, max_per_key=2).collect()
    langs = [r["lang"] for r in div]
    assert all(langs.count(l) <= 2 for l in set(langs))
    scores = [r["score"] for r in div]
    assert scores == sorted(scores, reverse=True)


def test_docvalues_stats(built_index, ref_index):
    from lucene_spark.search.aggregates import docvalues_stats

    got = docvalues_stats(built_index, normalize(should=["vector"]), "docid").collect()[0]
    want_ids = sorted(ref_index.postings["vector"])
    assert got["n"] == len(want_ids)
    assert got["min_v"] == want_ids[0] and got["max_v"] == want_ids[-1]
    assert got["sum_v"] == sum(want_ids)


def test_join_matches(built_index, spark):
    from lucene_spark.search.aggregates import join_matches

    dim = spark.createDataFrame(
        [(l, f"Language {l}") for l in ["py", "java", "go", "js"]], "lang string, label string"
    )
    got = join_matches(built_index, normalize(should=["import"]), dim, "lang", "total").collect()
    assert all(r["label"].startswith("Language") for r in got)
    assert all(r["join_score"] > 0 and r["n_hits"] > 0 for r in got)


def test_append_to_index(spark, tmpdir_index):
    """NRT append: new docs get fresh docids/segments; stats + queries see
    the union; sha gate still holds."""
    from lucene_spark.corpus import corpus_spark_df
    from lucene_spark.index.builder import IndexConfig, append_to_index, build_index
    from lucene_spark.search.executor import Index, search_topk
    from lucene_spark.pyref import build_ref_index, search as ref_search
    from lucene_spark.corpus import make_corpus

    cfg = IndexConfig(num_segments=2, hot_df_threshold=50)
    batch1 = corpus_spark_df(spark, 120, seed=1)
    build_index(spark, batch1, tmpdir_index, cfg)
    batch2 = corpus_spark_df(spark, 80, seed=2)
    paths = append_to_index(spark, batch2, tmpdir_index, cfg)
    idx = Index(spark, paths)
    assert idx.field_stats.max_doc == 200

    # reference: batch1 sorted then batch2 sorted, docids 0..199
    rows1 = sorted(make_corpus(120, seed=1), key=lambda r: (r[0], r[1], r[2]))
    rows2 = sorted(make_corpus(80, seed=2), key=lambda r: (r[0], r[1], r[2]))
    ref = build_ref_index([(i, r[4]) for i, r in enumerate(rows1 + rows2)])
    got = search_topk(idx, normalize(should=["import", "error"]), k=10).collect()
    want = ref_search(ref, ["import", "error"], k=10)
    assert [r["docid"] for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-6)
    bad = idx.docs.filter(F.sha2(F.col("content"), 256) != F.col("content_sha256")).count()
    assert bad == 0


def test_percolate_stream(spark, tmp_path):
    """Structured Streaming percolator: stream-static join via memory sink."""
    import time

    from lucene_spark.streaming import percolate_stream

    src = str(tmp_path / "stream_src")
    spark.createDataFrame(
        [(1, "spark join table"), (2, "der hund katze"), (3, "nothing relevant")],
        "doc_id long, text string",
    ).write.parquet(src)
    queries = spark.createDataFrame(
        [(1, ["spark", "join"], 2), (2, ["katze"], 1)],
        "qid int, terms array<string>, min_match int",
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = percolate_stream(spark, stream, queries, query_name="perc_test")
    try:
        q.processAllAvailable()
        got = {(r["qid"], r["doc_id"]) for r in spark.sql("SELECT * FROM perc_test").collect()}
    finally:
        q.stop()
    assert got == {(1, 1), (2, 2)}


def test_drill_sideways_removes_own_dim_filter(built_index):
    """Each dimension's sideways counts ignore its own filter but apply the
    others (DrillSideways.java:71)."""
    from lucene_spark.search.aggregates import drill_sideways, facet_counts
    from lucene_spark.search.executor import search_exhaustive

    import hashlib

    commit1 = hashlib.sha1(b"commit1").hexdigest()[:12]
    q = normalize(should=["import"])
    got = drill_sideways(built_index, q, {"lang": "py", "commit": commit1}).collect()
    by_dim = {}
    for r in got:
        by_dim.setdefault(r["dim"], {})[r["value"]] = r["n"]
    # manual check for the 'lang' dimension: matches filtered to commit1 only
    m = search_exhaustive(built_index, q, k=None).join(
        built_index.docs.select("docid", "lang", "commit"), "docid"
    )
    want = {
        r["lang"]: r["n"]
        for r in m.filter(F.col("commit") == commit1).groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_dim["lang"] == want
    # sideways counts include sibling values beyond the selected one
    assert len(by_dim["lang"]) > 1 and len(by_dim["commit"]) > 1


def test_block_join_score_modes(built_index):
    from lucene_spark.search.aggregates import block_join_parents

    q = normalize(should=["import"])
    mx = {r["parent"]: r["score"] for r in block_join_parents(built_index, q, "lang", "max", k=10).collect()}
    tot = {r["parent"]: r["score"] for r in block_join_parents(built_index, q, "lang", "total", k=10).collect()}
    avg = {r["parent"]: r["score"] for r in block_join_parents(built_index, q, "lang", "avg", k=10).collect()}
    non = {r["parent"]: r["score"] for r in block_join_parents(built_index, q, "lang", "none", k=10).collect()}
    assert set(mx) == set(tot) == set(avg) == set(non)
    for p in mx:
        assert tot[p] >= mx[p] >= avg[p] > 0
        assert non[p] == 1.0


def test_rescore_reorders_by_combined_score(built_index):
    from lucene_spark.search.aggregates import rescore
    from lucene_spark.search.executor import search_exhaustive

    q1 = normalize(should=["import", "return"])
    q2 = normalize(should=["vector"])
    got = {r["docid"]: r["score"]
           for r in rescore(built_index, q1, q2, n=30, k=30, w_first=1.0, w_second=3.0).collect()}
    s1 = {r["docid"]: r["score"] for r in search_exhaustive(built_index, q1, k=30).collect()}
    s2 = {r["docid"]: r["score"] for r in search_exhaustive(built_index, q2, k=None).collect()}
    assert set(got) == set(s1)  # rescoring never changes the candidate set
    for d in got:
        assert got[d] == pytest.approx(s1[d] + 3.0 * s2.get(d, 0.0), rel=1e-9)


def test_common_terms_split(built_index):
    """'import' is hot (df>=100), idents are rare: the split must
    send hot terms to SHOULD and rare ones to MUST."""
    from lucene_spark.search.aggregates import common_terms_query

    stats = built_index.term_stats_for(["import"])
    rare_term = built_index.term_stats.filter("df < 20").limit(1).collect()[0]["term"]
    q = common_terms_query(built_index, ["import", rare_term], max_df_fraction=0.3)
    assert dict(q.required).keys() == {rare_term}
    assert dict(q.optional).keys() == {"import"}


def test_sort_search_after_multi_key(spark, built_index):
    """Multi-key field sort cursor: pages concatenate to the full sorted
    list with no gaps or duplicates (lexicographic strictly-after)."""
    from lucene_spark.search.aggregates import sort_search_after, sort_topk
    from lucene_spark.search.plan import normalize

    q = normalize(should=["stream"])
    spec = [("lang", True), ("path", False)]
    full = sort_topk(built_index, q, spec, k=1000).collect()
    assert len(full) > 12  # vacuity guard
    pages, cursor = [], None
    while True:
        if cursor is None:
            page = full[:5]
        else:
            page = sort_search_after(
                built_index, q, spec, 5, [cursor["lang"], cursor["path"]],
                cursor["docid"],
            ).collect()
        if not page:
            break
        pages.extend(page)
        cursor = page[-1]
    assert [r["docid"] for r in pages] == [r["docid"] for r in full]


def test_facet_tree_rollup_and_children(built_index, ref_index):
    """Hierarchical facets: rollup counts equal per-prefix sums of the
    matching docs' paths; getTopChildren filters to the immediate children
    of the parent node."""
    from pyspark.sql import functions as F

    from lucene_spark.search.aggregates import facet_tree

    q = normalize(should=["import"])
    path = F.concat_ws("/", F.col("lang"), (F.col("docid") % 2).cast("string"))
    got = {r["node"]: r["n"] for r in facet_tree(built_index, q, path).collect()}

    docs = {r["docid"]: r["lang"] for r in built_index.docs.select("docid", "lang").collect()}
    want = {}
    for d in ref_index.postings["import"]:
        p1, p2 = docs[d], f"{docs[d]}/{d % 2}"
        want[p1] = want.get(p1, 0) + 1
        want[p2] = want.get(p2, 0) + 1
    assert got == want

    # children of the most common lang: exactly its depth-2 nodes
    top_lang = max((v, k) for k, v in want.items() if "/" not in k)[1]
    kids = facet_tree(built_index, q, path, parent=top_lang, k=10).collect()
    assert {r["node"] for r in kids} == {
        k for k in want if k.startswith(top_lang + "/")
    }
    # rollup invariant: parent count == sum of child counts (every doc has
    # a full-depth path here)
    assert want[top_lang] == sum(want[k] for k in want if k.startswith(top_lang + "/"))
    # ordering: count desc, node asc
    pairs = [(r["n"], r["node"]) for r in kids]
    assert pairs == sorted(pairs, key=lambda t: (-t[0], t[1]))
