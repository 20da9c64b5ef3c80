"""Search correctness: golden BM25 scores + engine==reference differentials.

Style mirrors TestWANDScorer.testBasics (exact docids + float scores on a
tiny hand-checked corpus) and the CheckHits invariant pruned == exhaustive
(lucene/core/src/test/org/apache/lucene/search/TestWANDScorer.java:90-140,
test-framework/.../CheckHits.java:102-222).
"""

import math

import numpy as np
import pytest

from lucene_spark.pyref import build_ref_index, search as ref_search
from lucene_spark.search.plan import normalize, parse


# --- tiny hand-checked golden (no Spark) ------------------------------------

def test_bm25_hand_computed_single_term():
    """3 docs, no stopwords removed lengths: verify BM25 by hand.

    docs: d0='cat', d1='cat cat dog', d2='dog'
    For 'cat': df=2, N=3 -> idf = ln(1 + (3-2+0.5)/(2+0.5)) = ln(1.6)
    avgdl = (1+3+1)/3 = 5/3; doclens exact (<40 so quantization is identity)
    d0: tf=1, dl=1: norm = 1.2*(0.25 + 0.75*1/(5/3)) = 1.2*0.7 = 0.84
        score = idf * (1 - 1/(1 + 1/0.84))
    d1: tf=2, dl=3: norm = 1.2*(0.25+0.75*3/(5/3)) = 1.2*1.6 = 1.92
        score = idf * (1 - 1/(1 + 2/1.92))
    """
    idx = build_ref_index([(0, "cat"), (1, "cat cat dog"), (2, "dog")])
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    s0 = idf * (1 - 1 / (1 + 1 / 0.84))
    s1 = idf * (1 - 1 / (1 + 2 / 1.92))
    hits = ref_search(idx, ["cat"], k=10)
    assert [d for d, _ in hits] == [0, 1]  # d0 shorter -> higher score
    assert hits[0][1] == pytest.approx(s0, rel=1e-6)
    assert hits[1][1] == pytest.approx(s1, rel=1e-6)


def test_bm25_tie_breaks_by_docid():
    idx = build_ref_index([(5, "x y"), (2, "x y"), (9, "x y")])
    hits = ref_search(idx, ["x"], k=3)
    assert [d for d, _ in hits] == [2, 5, 9]
    assert hits[0][1] == hits[1][1] == hits[2][1]


def test_repeated_query_term_qtf_weight():
    idx = build_ref_index([(0, "cat"), (1, "dog")])
    one = ref_search(idx, ["cat"], k=1)[0][1]
    two = ref_search(idx, ["cat", "cat"], k=1)[0][1]
    assert two == pytest.approx(2 * one, rel=1e-6)


# --- parser / normalizer -----------------------------------------------------

def test_parse_free_text_is_or():
    q = parse("error handler")
    assert q.required == ()
    assert q.optional == (("error", 1), ("handler", 1))


def test_parse_and():
    q = parse("import AND numpy")
    assert q.required == (("import", 1), ("numpy", 1))
    assert q.optional == ()


def test_parse_not_and_minus():
    q = parse("foo NOT bar -baz")
    assert q.optional == (("foo", 1),)
    assert q.excluded == ("bar", "baz")


def test_parse_stopword_only_is_match_none():
    q = parse("the and of")
    assert q.is_match_none


def test_normalize_must_and_must_not_same_term():
    q = normalize(must=["foo"], must_not=["foo"])
    assert q.is_match_none  # BooleanQuery.java:365-375


def test_normalize_duplicate_should_to_qtf():
    q = normalize(should=["foo", "foo", "bar"])
    assert q.optional == (("bar", 1), ("foo", 2))  # BooleanQuery.java:429-446


def test_query_terms_are_analyzed():
    q = normalize(should=["IMPORT", "The"])
    assert q.optional == (("import", 1),)  # lowercased; stopword dropped


# --- Spark engine vs pure-Python reference (differential) --------------------

QUERIES = [
    ("single common", dict(should=["import"])),
    ("single rare", dict(should=["vector"])),
    ("single absent", dict(should=["zzzznotaterm"])),
    ("or 3", dict(should=["error", "handler", "vector"])),
    ("or hot+rare", dict(should=["import", "cipher"])),
    ("repeated qtf", dict(should=["import", "import"])),
    ("and 2", dict(must=["import", "return"])),
    ("and 3", dict(must=["import", "return", "def"])),
    ("and rare", dict(must=["vector", "stream"])),
    ("and+should", dict(must=["import"], should=["vector", "error"])),
    ("not", dict(should=["import"], must_not=["vector"])),
    ("and not", dict(must=["import", "def"], must_not=["return"])),
    ("stop only", dict(should=["the"])),
    ("or msm2", dict(should=["import", "return", "class", "vector"], min_should_match=2)),
    ("req_fold", dict(must=["import"], should=["import", "return", "class"])),
]


@pytest.mark.parametrize("name,clauses", QUERIES, ids=[q[0] for q in QUERIES])
@pytest.mark.parametrize("k", [1, 10])
def test_topk_matches_reference(built_index, ref_index, name, clauses, k):
    """Engine per-segment block-max top-k == pure-Python exhaustive top-k:
    same docids, same float32 scores, same order."""
    from lucene_spark.search.executor import search_topk

    q = normalize(**clauses)
    got = search_topk(built_index, q, k=k).collect()

    mode = "and" if clauses.get("must") else "or"
    terms = list(clauses.get("must", [])) + list(clauses.get("should", []))
    want = ref_search(ref_index, terms, k=k, mode=mode,
                      must_not=clauses.get("must_not", ()))
    # and+should / msm: the reference's 'and' and 'or' modes ignore
    # optional-should scoring and msm; recompute expected via the
    # optional-aware reference
    msm = clauses.get("min_should_match", 0)
    if clauses.get("must") and clauses.get("should") or msm:
        want = _ref_req_opt(ref_index, clauses.get("must", []), clauses["should"], k, msm)
        assert want, name

    assert [r["docid"] for r in got] == [d for d, _ in want], name
    for r, (_, s) in zip(got, want):
        assert r["score"] == s, name


def _ref_req_opt(idx, must, should, k, msm=0):
    """Reference ReqOptSumScorer: docs matching all MUST (or, without
    MUST, any SHOULD) and at least ``msm`` SHOULD clause instances; score
    adds SHOULD, float32 in sorted-term order."""
    from collections import Counter

    from lucene_spark.pyref import score_term

    must_c, should_c = Counter(must), Counter(should)
    per = {t: score_term(idx, t) for t in set(must) | set(should)}
    if must_c:
        docs = set.intersection(*(set(per[t]) for t in must_c))
    else:
        docs = set().union(*(set(per[t]) for t in should_c))
    docs = {d for d in docs if sum(c for t, c in should_c.items() if d in per[t]) >= msm}
    out = []
    for d in docs:
        s = np.float32(0)
        for t in sorted(set(must_c) | set(should_c)):
            qtf = must_c.get(t, 0) + should_c.get(t, 0)
            if d in per[t]:
                s = s + np.float32(qtf) * per[t][d]
        out.append((d, float(s)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.mark.parametrize("name,clauses", QUERIES[:8], ids=[q[0] for q in QUERIES[:8]])
def test_exhaustive_float64_matches_reference_ranks(built_index, ref_index, name, clauses):
    """The SQL exhaustive path (float64, unquantized) must produce the same
    RANKING as the reference (scores differ: doubles, no norm byte)."""
    from lucene_spark.search.executor import search_exhaustive

    q = normalize(**clauses)
    got = search_exhaustive(built_index, q, k=10).collect()
    mode = "and" if clauses.get("must") else "or"
    terms = list(clauses.get("must", [])) + list(clauses.get("should", []))
    want = ref_search(ref_index, terms, k=10, mode=mode, quantize=False)
    assert [r["docid"] for r in got] == [d for d, _ in want], name
    for r, (_, s) in zip(got, want):
        assert r["score"] == pytest.approx(s, rel=1e-5), name


def test_wand_pruning_equals_exhaustive_random_corpora(spark, tmp_path):
    """CheckHits invariant on seeded random corpora (FIXTURES.md §7)."""
    import random

    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import Index, search_topk

    for seed in (0, 1):
        rng = random.Random(seed)
        vocab = [f"w{j}" for j in range(60)]
        rows = []
        for i in range(250):
            content = " ".join(rng.choices(vocab, k=rng.randrange(1, 60)))
            rows.append((f"r{i%4}", f"p{i}", "c0", "py", content))
        docs = spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
        d = str(tmp_path / f"rand{seed}")
        idx = Index(spark, build_index(spark, docs, d, IndexConfig(num_segments=3, hot_df_threshold=40)))
        ref = build_ref_index(
            [(i, r[4]) for i, r in enumerate(sorted(rows, key=lambda r: (r[0], r[1], r[2])))]
        )
        for terms in (["w0", "w1", "w2", "w3"], ["w5"], ["w1", "w2"]):
            got = search_topk(idx, normalize(should=terms), k=10).collect()
            want = ref_search(ref, terms, k=10)
            assert [r["docid"] for r in got] == [d0 for d0, _ in want], (seed, terms)
            for r, (_, s) in zip(got, want):
                assert r["score"] == pytest.approx(s, rel=1e-6)


def test_maxscore_midterm_theta_keeps_earlier_contributions(spark, tmp_path, monkeypatch):
    """Theta-starvation regression (MaxScoreBulkScorer window soundness):
    rare df < k, so theta first turns positive MID-way through the hot
    term's chunk loop. Docs already seen via the rare term sit in the hot
    term's LOW-upper-bound blocks; if those blocks are skipped on the
    ub-only test, the rare docs silently lose their hot-term contribution
    and final scores diverge from the exhaustive reference."""
    import lucene_spark.search.executor as ex
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import Index, search_topk

    monkeypatch.setattr(ex, "MAXSCORE_CHUNK", 2)  # 2 blocks per theta window

    rows = []
    for i in range(1500):
        if i < 300:  # high-tf hot docs -> highest-ub blocks decode first
            content = " ".join(["hot"] * 8)
        else:
            content = "hot " + " ".join(f"pad{j}" for j in range(i % 7))
        if 1200 <= i < 1205:  # rare docs (df=5 < k) live in LOW-ub blocks
            content += " rare"
        rows.append((i, content))
    docs = spark.createDataFrame(rows, "docid long, content string")
    d = str(tmp_path / "midterm")
    cfg = IndexConfig(docid_col="docid", order_cols=("docid",), num_segments=1,
                      hot_df_threshold=5000)
    idx = Index(spark, build_index(spark, docs, d, cfg))

    ref = build_ref_index(rows)
    for k in (10, 20):
        got = search_topk(idx, normalize(should=["rare", "hot"]), k=k).collect()
        want = ref_search(ref, ["rare", "hot"], k=k)
        assert [r["docid"] for r in got] == [d0 for d0, _ in want], k
        for r, (_, s) in zip(got, want):
            assert r["score"] == pytest.approx(s, rel=1e-6), k


def test_bm25_monotonicity_axioms():
    """BaseSimilarityTestCase-style axioms: score up with tf, down with dl,
    down with df (BaseSimilarityTestCase.java:537-541)."""
    from lucene_spark.search.scorer import idf, score_arrays

    avgdl = 20.0
    s = score_arrays(np.array([1, 2, 5, 10]), np.array([20, 20, 20, 20]), 1.5, avgdl)
    assert np.all(np.diff(s) > 0)  # tf up -> score up
    s2 = score_arrays(np.array([2, 2, 2]), np.array([5, 20, 100]), 1.5, avgdl)
    assert np.all(np.diff(s2) < 0)  # dl up -> score down
    assert idf(1, 100) > idf(10, 100) > idf(90, 100)  # df up -> idf down


def test_count_and_searchafter(built_index, ref_index):
    import numpy as np

    from lucene_spark.search.executor import count_hits, search_after, search_exhaustive

    q = normalize(should=["import"])
    assert count_hits(built_index, q) == len(ref_index.postings["import"])
    # pagination: page2 == rows 10..19 of the full ranking
    full = search_exhaustive(built_index, q, k=20).collect()
    page1 = full[:10]
    cursor = page1[-1]
    page2 = search_after(
        built_index, q, 10, cursor["score"], cursor["docid"],
        quantize=False, dtype=np.float64,
    ).collect()
    assert [r["docid"] for r in page2] == [r["docid"] for r in full[10:20]]


def test_searchafter_pruned_matches_reference_deep_paging(built_index, ref_index):
    """The cursor-aware pruned path must page identically (docids AND
    float32 scores) to the pure-Python reference ranking across consecutive
    pages — hot-term disjunctions exercise the theta-seeding machinery."""
    from lucene_spark.pyref import search as ref_search
    from lucene_spark.search.executor import search_after

    cases = [
        (["import"], "or", []),  # hot single term
        (["import", "vector", "return"], "or", []),
        (["import", "return"], "and", []),
        (["import"], "or", ["vector"]),
    ]
    for terms, mode, must_not in cases:
        if mode == "and":
            q = normalize(must=terms, must_not=must_not)
        else:
            q = normalize(should=terms, must_not=must_not)
        full = ref_search(ref_index, terms, k=10**6, mode=mode, must_not=must_not)
        for p in range(1, 5):  # pages 2..5
            if len(full) < p * 10 + 1:
                break
            cur_d, cur_s = full[p * 10 - 1]
            got = [
                (r["docid"], r["score"])
                for r in search_after(built_index, q, 10, cur_s, cur_d).collect()
            ]
            assert got == full[p * 10 : (p + 1) * 10], (terms, mode, p)


def test_hydrate_returns_stored_fields(built_index):
    from lucene_spark.search.executor import hydrate, search_topk

    top = search_topk(built_index, normalize(should=["import"]), k=5)
    rows = hydrate(built_index, top).collect()
    assert len(rows) == 5
    assert all(r["content"] is not None and r["repo"].startswith("org/") for r in rows)


def test_block_skipping_happens(built_index):
    """Block-max metrics: conjunction with a rare lead must decode fewer
    blocks than exist (the BlockMaxConjunction skip effect). Uses the exact
    per-segment metrics path (one row per segment, summed — no value-set
    dedup collapse)."""
    from lucene_spark.search.executor import block_skip_metrics, search_topk

    got = search_topk(built_index, normalize(must=["vector", "import"]), k=5).collect()
    assert got, "expected hits"
    m = block_skip_metrics(built_index, normalize(must=["vector", "import"]), k=5)
    assert m["blocks_total"] > 0
    assert m["blocks_decoded"] <= m["blocks_total"]
    # every segment contributes exactly one metrics row: totals must be at
    # least the number of segments that hold the lead term's postings
    nseg = built_index.seg_postings.filter("term = 'vector'").select(
        "segment_id"
    ).distinct().count()
    assert m["blocks_total"] >= nseg


def test_query_cache_hits_and_delete_correctness(spark, tmp_path):
    """LRUQueryCache analog: repeated filter-shaped (range) queries hit the
    cache after min_frequency recurrences; results are identical with the
    cache on; deletes stay correct because entries store RAW sets and
    live-docs apply at read (LRUQueryCache.java:262-280)."""
    from lucene_spark.corpus import corpus_spark_df
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import Index, search_tree
    from lucene_spark.search.plan import QRange, parse

    docs = corpus_spark_df(spark, 200, seed=13)
    idx = Index(
        spark,
        build_index(spark, docs, str(tmp_path / "qc"),
                    IndexConfig(num_segments=2, hot_df_threshold=60)),
    )
    node = QRange(field=None, lo="im", hi="io")  # term range on content
    baseline = sorted(r["docid"] for r in search_tree(idx, node, k=None).collect())

    cache = idx.enable_query_cache(max_entries=4, min_frequency=2)
    r1 = sorted(r["docid"] for r in search_tree(idx, node, k=None).collect())
    assert cache.stats()["misses"] == 1 and cache.stats()["entries"] == 0
    r2 = sorted(r["docid"] for r in search_tree(idx, node, k=None).collect())
    assert cache.stats()["misses"] == 2 and cache.stats()["entries"] == 1
    r3 = sorted(r["docid"] for r in search_tree(idx, node, k=None).collect())
    assert cache.stats()["hits"] == 1
    assert baseline == r1 == r2 == r3 and len(baseline) > 0

    # delete a cached-set member -> it must vanish WITHOUT cache invalidation
    victim = baseline[0]
    idx.delete_docs([victim])
    r4 = sorted(r["docid"] for r in search_tree(idx, node, k=None).collect())
    assert victim not in r4 and set(r4) == set(baseline) - {victim}
    assert cache.stats()["hits"] == 2  # still served from cache

    # LRU eviction at max_entries
    for lo in "abcdef":
        n2 = QRange(field=None, lo=lo, hi=lo + "zzzz")
        search_tree(idx, n2, k=None).collect()
        search_tree(idx, n2, k=None).collect()
    st = cache.stats()
    assert st["entries"] <= 4 and st["evictions"] >= 1


def test_query_cache_frequency_history_is_bounded():
    """The persist-eligibility tracker must be a bounded recent-history
    window (FrequencyTrackingRingBuffer analog,
    UsageTrackingQueryCachingPolicy.java:33): many one-off keys cannot grow
    driver memory, and a key seen long ago ages out of eligibility
    (ADVICE r3)."""
    from lucene_spark.search.cache import QueryCache

    class FakeDF:
        def persist(self, *_):
            return self

        def unpersist(self):
            return self

    c = QueryCache(max_entries=4, min_frequency=2, history_size=10)
    for i in range(1000):
        c.get_or_compute(f"oneoff-{i}", FakeDF)
    assert len(c._freq) <= 10  # bounded despite 1000 distinct keys
    assert len(c._cache) == 0  # nothing recurred -> nothing persisted

    # a key that recurs within the window becomes persist-eligible...
    c.get_or_compute("hot", FakeDF)
    c.get_or_compute("hot", FakeDF)
    assert "hot" in c._cache
    # ...but one-off churn ages a non-cached key's history out
    c2 = QueryCache(max_entries=4, min_frequency=2, history_size=10)
    c2.get_or_compute("stale", FakeDF)
    for i in range(20):
        c2.get_or_compute(f"churn-{i}", FakeDF)
    assert "stale" not in c2._freq


def test_dismax_combine_semantics(spark, built_index):
    """DisjunctionMaxQuery: score = max clause + tie * sum(others)
    (DisjunctionMaxScorer); tie=0 -> pure max; tie=1 -> plain sum."""
    import numpy as np
    from lucene_spark.search.executor import dismax_topk, search_exhaustive
    from lucene_spark.search.plan import normalize

    qs = [normalize(should=["stream"]), normalize(should=["hash"])]
    a = {r["docid"]: r["score"] for r in search_exhaustive(built_index, qs[0], k=None).collect()}
    b = {r["docid"]: r["score"] for r in search_exhaustive(built_index, qs[1], k=None).collect()}
    assert a and b  # corpus-vocabulary terms; empty would make this vacuous
    for tie in (0.0, 0.3, 1.0):
        got = dismax_topk(built_index, qs, k=10, tie=tie).collect()
        want = {}
        for d in set(a) | set(b):
            ss = [s for s in (a.get(d), b.get(d)) if s is not None]
            want[d] = max(ss) + tie * (sum(ss) - max(ss))
        ranked = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        assert [r["docid"] for r in got] == [d for d, _ in ranked]
        for r, (_, s) in zip(got, ranked):
            assert r["score"] == pytest.approx(s, rel=1e-12)


def test_feature_functions_shapes(spark, built_index):
    """FeatureField composition: unknown functions raise; saturation output
    equals base score + w*(1 - p/(f+p)) recomputed from the docs table
    (numeric path also covered by the oracle entry
    feature_saturation_topk at sf0.01)."""
    import pytest as _pt
    from lucene_spark.search.executor import feature_topk, search_exhaustive
    from lucene_spark.search.plan import normalize

    q = normalize(should=["stream"])
    with _pt.raises(ValueError, match="unknown feature function"):
        feature_topk(built_index, q, "lang", function="nope")

    # commit column is constant-width hex (12 chars); use its length via a
    # real numeric: n/a in this corpus, so validate with pivot math on a
    # constant feature: f constant -> ranking identical to plain BM25 and
    # every score shifted by the same amount
    got = feature_topk(built_index, q, "docid", function="saturation",
                       weight=0.0, pivot=5.0, k=10).collect()
    base = search_exhaustive(built_index, q, k=10).collect()
    assert [r["docid"] for r in got] == [r["docid"] for r in base]
    for a, b in zip(got, base):
        assert a["score"] == _pt.approx(b["score"], rel=1e-12)  # w=0 no-op


def test_feature_null_contributes_zero(spark, tmp_path):
    """A matching doc whose feature column is NULL keeps its query score
    (FeatureField-as-SHOULD contributes 0 for absent features,
    FeatureField.java:106; ADVICE r4 — a NULL must not null the sum)."""
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import Index, feature_topk, search_exhaustive
    from lucene_spark.search.plan import normalize

    rows = [
        (0, "stream processing engine", 4.0),
        (1, "stream of records", None),
        (2, "batch only words", 9.0),
    ]
    docs = spark.createDataFrame(rows, "docid long, content string, pagerank double")
    cfg = IndexConfig(docid_col="docid", order_cols=("docid",), num_segments=1)
    idx = Index(spark, build_index(spark, docs, str(tmp_path / "feat"), cfg))

    q = normalize(should=["stream"], pre_analyzed=True)
    got = {r["docid"]: r["score"]
           for r in feature_topk(idx, q, "pagerank", function="saturation",
                                 weight=2.0, pivot=1.0, k=10).collect()}
    base = {r["docid"]: r["score"] for r in search_exhaustive(idx, q, k=None).collect()}
    assert set(got) == {0, 1}  # the NULL-feature doc still matches
    assert got[1] == pytest.approx(base[1], rel=1e-12)  # feature adds 0
    assert got[0] == pytest.approx(base[0] + 2.0 * (1 - 1.0 / (4.0 + 1.0)), rel=1e-12)


def test_or_not_theta_never_inflated_by_excluded_docs(spark):
    """Round-6 soundness fix: with OR + MUST_NOT, the pruning threshold
    must only rise from docs that can actually be returned. Excluded docs
    holding top-k slots previously inflated theta and silently dropped
    true hits (tie-heavy tail pruned in one segment). MUST_NOT is now an
    up-front ban mask merged into liveDocs (ReqExclScorer.java:26)."""
    import shutil

    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import (
        Index, search_exhaustive, search_topk,
    )
    from lucene_spark.search.plan import normalize

    rows, did = [], 0
    for _ in range(800):  # high-scoring docs destined for exclusion
        rows.append((did, "alpha banned")); did += 1
    for i in range(120):
        rows.append((did, "alpha clean " + "pad " * (i % 7))); did += 1
    for i in range(1200):  # tie-heavy tail that must survive
        rows.append((did, "beta gamma " + "pad " * (i % 11))); did += 1
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    shutil.rmtree("/tmp/lucene_spark_test_ornot", ignore_errors=True)
    cfg = IndexConfig(docid_col="doc_id", content_col="content",
                      num_segments=2, order_cols=("doc_id",),
                      stop_words=frozenset())
    idx = Index(spark, build_index(spark, docs, "/tmp/lucene_spark_test_ornot", cfg))
    q = normalize(should=["alpha", "beta"], must_not=["banned"],
                  stop_words=frozenset())
    a = [(r["docid"], round(r["score"], 6)) for r in search_topk(idx, q, k=10).collect()]
    b = [(r["docid"], round(r["score"], 6)) for r in search_exhaustive(idx, q, k=10).collect()]
    assert a == b
    assert a  # vacuity guard
