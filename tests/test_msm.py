"""minimumNumberShouldMatch (BooleanQuery.java:125) + theta seeding.

Behavior vectors follow TestBooleanMinShouldMatch's strategy
(lucene/core/src/test/org/apache/lucene/search/TestBooleanMinShouldMatch.java):
a brute-force verify over all docs plus pruned-vs-exhaustive differentials
across msm values and clause shapes. The pruned path is the batched analog
of freq-counting WAND (WANDScorer.java:55, BooleanScorerSupplier.java:297-306).
"""

import numpy as np
import pytest

from lucene_spark.search.plan import NormalizedQuery, normalize


def test_normalize_msm_stored_and_counts_duplicates():
    q = normalize(should=["w1", "w1", "w2"], pre_analyzed=True, min_should_match=2)
    assert q.min_should_match == 2
    assert dict(q.optional) == {"w1": 2, "w2": 1}


def test_normalize_msm_pure_disjunction_one_is_default():
    q = normalize(should=["w1", "w2"], pre_analyzed=True, min_should_match=1)
    assert q.min_should_match == 0  # >=1 SHOULD is the default OR semantics


def test_normalize_msm_fold_into_must_autocredits():
    # the SHOULD 'w1' folds into MUST 'w1'; every doc passing MUST matches
    # it, so the stored requirement drops by one
    q = normalize(must=["w1"], should=["w1", "w2"], pre_analyzed=True, min_should_match=1)
    assert q.min_should_match == 0
    assert dict(q.required) == {"w1": 2}
    q2 = normalize(must=["w1"], should=["w1", "w2"], pre_analyzed=True, min_should_match=2)
    assert q2.min_should_match == 1


def test_normalize_msm_infeasible_is_match_none():
    # more SHOULD matches demanded than clauses exist (BooleanQuery.java:289)
    q = normalize(should=["w1", "w2"], pre_analyzed=True, min_should_match=3)
    assert q.is_match_none
    # MUST present but msm exceeds the SHOULD clause count -> MatchNone too
    q2 = normalize(must=["w0"], should=["w1"], pre_analyzed=True, min_should_match=2)
    assert q2.is_match_none


def _brute_should_sets(idx, terms):
    """docid -> set of matched terms, via the decoded-postings path."""
    from lucene_spark.search.executor import decoded_postings

    out = {}
    for r in decoded_postings(idx, sorted(set(terms))).collect():
        out.setdefault(r["docid"], set()).add(r["term"])
    return out


SHAPES = [
    ("or4", dict(should=["import", "return", "class", "vector"])),
    ("or_dup", dict(should=["import", "import", "return", "vector"])),
    ("req_opt", dict(must=["import"], should=["return", "class", "vector"])),
    ("req_fold", dict(must=["import"], should=["import", "return", "class"])),
    ("not_opt", dict(should=["import", "return", "class"], must_not=["lambda"])),
]


@pytest.mark.parametrize("name,clauses", SHAPES)
@pytest.mark.parametrize("msm", [0, 1, 2, 3, 4])
def test_msm_pruned_equals_exhaustive(built_index, name, clauses, msm):
    from lucene_spark.search.executor import search_exhaustive, search_topk

    q = normalize(**clauses, min_should_match=msm)
    got = search_topk(built_index, q, k=25, quantize=False, dtype=np.float64).collect()
    want = search_exhaustive(built_index, q, k=25).collect()
    assert [r["docid"] for r in got] == [r["docid"] for r in want], (name, msm)
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-9), (name, msm)


@pytest.mark.parametrize("msm", [2, 3])
def test_msm_hit_set_brute_force(built_index, msm):
    """The exhaustive msm hit set == brute-force count over matched clause
    instances (duplicate clauses each count, TestBooleanMinShouldMatch
    verify() analog)."""
    from lucene_spark.search.executor import search_exhaustive

    clauses = dict(should=["import", "import", "return", "vector"])
    q = normalize(**clauses, min_should_match=msm)
    counts = {t: c for t, c in q.optional}
    matched = _brute_should_sets(built_index, list(counts))
    want_docs = {
        d for d, ts in matched.items()
        if sum(counts[t] for t in ts) >= msm
    }
    got_docs = {
        r["docid"] for r in search_exhaustive(built_index, q, k=None).collect()
    }
    assert got_docs == want_docs


def test_msm_small_chunks_differential(built_index, monkeypatch):
    """Chunked theta refresh + msm candidate protection: shrink the chunk
    window so theta transitions mid-term."""
    import lucene_spark.search.executor as ex

    monkeypatch.setattr(ex, "MAXSCORE_CHUNK", 1)
    q = normalize(should=["import", "return", "class", "vector"], min_should_match=2)
    got = ex.search_topk(built_index, q, k=15, quantize=False, dtype=np.float64).collect()
    want = ex.search_exhaustive(built_index, q, k=15).collect()
    assert [(r["docid"], round(r["score"], 9)) for r in got] == [
        (r["docid"], round(r["score"], 9)) for r in want
    ]


def test_msm_randomized_differential(spark, tmp_path):
    """Random corpora x random msm: pruned == exhaustive, all pages."""
    import random

    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import (
        Index, search_exhaustive, search_topk,
    )

    rng = random.Random(7)
    vocab = [f"w{j}" for j in range(30)]
    rows = []
    for i in range(300):
        content = " ".join(rng.choices(vocab, k=rng.randrange(1, 40)))
        rows.append((f"r{i%3}", f"p{i}", "c0", "py", content))
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    idx = Index(
        spark,
        build_index(spark, docs, str(tmp_path / "msmrand"),
                    IndexConfig(num_segments=3, hot_df_threshold=40)),
    )
    for trial in range(6):
        n_terms = rng.randrange(2, 6)
        terms = rng.sample(vocab, n_terms)
        must = terms[: rng.randrange(0, 2)]
        should = terms[len(must):]
        msm = rng.randrange(0, len(should) + 1)
        q = normalize(must=must, should=should, pre_analyzed=True,
                      min_should_match=msm)
        got = search_topk(idx, q, k=50, quantize=False, dtype=np.float64).collect()
        want = search_exhaustive(idx, q, k=50).collect()
        assert [r["docid"] for r in got] == [r["docid"] for r in want], (
            trial, must, should, msm,
        )
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)


def test_theta_seed_same_results_fewer_blocks(built_index):
    """MaxScoreAccumulator-analog seeding: identical results, never MORE
    blocks decoded (search/MaxScoreAccumulator.java:23)."""
    from lucene_spark.search.executor import (
        block_skip_metrics, search_topk, seed_theta,
    )

    q = normalize(should=["import", "vector"])
    seed = seed_theta(built_index, q, k=10)
    assert seed > 0.0
    base = search_topk(built_index, q, k=10).collect()
    seeded = search_topk(built_index, q, k=10, theta_seed=seed).collect()
    assert [(r["docid"], r["score"]) for r in base] == [
        (r["docid"], r["score"]) for r in seeded
    ]
    m0 = block_skip_metrics(built_index, q, k=10)
    m1 = block_skip_metrics(built_index, q, k=10, theta_seed=seed)
    assert m1["blocks_decoded"] <= m0["blocks_decoded"]


def test_theta_seed_refuses_unsound_shapes(built_index):
    from lucene_spark.search.executor import seed_theta

    assert seed_theta(built_index, normalize(must=["import"], should=["vector"])) == 0.0
    assert (
        seed_theta(
            built_index,
            normalize(should=["import", "return", "vector"], min_should_match=2),
        )
        == 0.0
    )


def test_auto_seed_theta_default_on_and_sound(built_index):
    """The default top-k path now derives a FREE stats-only theta seed
    (auto_seed_theta, MaxScoreAccumulator analog): results identical to
    seeding disabled, never MORE blocks decoded, and the seed refuses
    unsound shapes (MUST / msm / NOT / deletes / unknown max_dl)."""
    import numpy as np
    from lucene_spark.search.executor import (
        auto_seed_theta, block_skip_metrics, search_topk, _flat_plan,
    )
    from lucene_spark.search.plan import normalize

    for should in (["import", "the"], ["vector", "import", "return"],
                   ["qzqx", "import"], ["buffer", "stream"]):
        q = normalize(should=should)
        auto = search_topk(built_index, q, k=10).collect()
        off = search_topk(built_index, q, k=10, theta_seed=-1.0).collect()
        assert [(r["docid"], r["score"]) for r in auto] == [
            (r["docid"], r["score"]) for r in off
        ]
        m_auto = block_skip_metrics(built_index, q, k=10)
        m_off = block_skip_metrics(built_index, q, k=10, theta_seed=-1.0)
        assert m_auto["blocks_decoded"] <= m_off["blocks_decoded"]

    # unsound shapes -> no seed
    def plan(q):
        return _flat_plan(built_index, q, 1.0, np.float32)

    plan_q = normalize(should=["import", "vector"])
    assert auto_seed_theta(
        built_index, plan(normalize(must=["import"], should=["vector"])), 10,
    ) == 0.0
    assert auto_seed_theta(
        built_index, plan(normalize(should=["import", "vector"], min_should_match=2)), 10,
    ) == 0.0
    # must_not with a term the analyzer keeps (stopwords like "the" are
    # dropped at normalize time, leaving excluded=() — which IS seed-sound)
    assert auto_seed_theta(
        built_index, plan(normalize(should=["import", "vector"], must_not=["return"])), 10,
    ) == 0.0
    # eligible shape -> a positive seed on this corpus
    assert auto_seed_theta(built_index, plan(plan_q), 10) > 0.0


def test_auto_seed_disabled_with_deletes(spark, tmp_path):
    """df counts tombstoned docs, so a live delete set disables the stats
    seed — and results stay correct either way."""
    import numpy as np
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import (
        Index, auto_seed_theta, search_topk, _flat_plan,
    )
    from lucene_spark.search.plan import normalize

    rows = [(i, f"alpha beta word{i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "docid long, content string")
    cfg = IndexConfig(docid_col="docid", order_cols=("docid",), num_segments=2)
    idx = Index(spark, build_index(spark, docs, str(tmp_path / "delseed"), cfg))
    q = normalize(should=["alpha", "beta"], pre_analyzed=True)
    plan = _flat_plan(idx, q, 1.0, np.float32)
    assert auto_seed_theta(idx, plan, 10) > 0.0
    idx.delete_docs([5])
    assert auto_seed_theta(idx, plan, 10) == 0.0
    got = {r["docid"] for r in search_topk(idx, q, k=10).collect()}
    assert 5 not in got and len(got) == 10


def test_filter_clause_semantics(spark, built_index):
    """BooleanClause.Occur.FILTER: gates matching, zero score
    contribution, pruned==exhaustive; a filter-only query matches every
    filtered doc at exactly 0."""
    import numpy as np

    from lucene_spark.search.executor import search_exhaustive, search_topk
    from lucene_spark.search.plan import normalize

    q = normalize(should=["stream"], filter=["hash"], pre_analyzed=True)
    a = [(r["docid"], r["score"]) for r in
         search_topk(built_index, q, k=10, quantize=False, dtype=np.float64).collect()]
    b = [(r["docid"], r["score"]) for r in
         search_exhaustive(built_index, q, k=10).collect()]
    assert a == b and a
    # every hit contains the filter term; scores equal the should-only
    # scores of those docs (weight of the filter term is exactly 0)
    hash_docs = {r["docid"] for r in search_exhaustive(
        built_index, normalize(should=["hash"], pre_analyzed=True), k=None).collect()}
    s_only = {r["docid"]: r["score"] for r in search_exhaustive(
        built_index, normalize(should=["stream"], pre_analyzed=True), k=None).collect()}
    for d, sc in a:
        assert d in hash_docs
        assert sc == s_only.get(d, 0.0)
    # filter-only query: every filtered doc at score 0
    f = search_exhaustive(
        built_index, normalize(filter=["hash"], pre_analyzed=True), k=None
    ).collect()
    assert {r["docid"] for r in f} == hash_docs
    assert all(r["score"] == 0.0 for r in f)
    # FILTER conflicting with MUST_NOT -> MatchNone
    qn = normalize(filter=["hash"], must_not=["hash"], pre_analyzed=True)
    assert qn.is_match_none
