"""Mixed boolean trees on the clause-level block-max path
(search_tree_topk): shape detection, randomized pruned==exhaustive
differentials, exclusion interplay, and live-pruning metrics.

Reference semantics: BooleanScorerSupplier.java:288-317 composes the
top-level disjunction from clause ScorerSuppliers (a MUST group is one
pseudo-scorer whose bound is the sum of its members');
WANDScorer.java:55 accepts arbitrary sub-scorers.
"""

import random
import shutil

import pytest

from lucene_spark.search.plan import (
    MUST,
    MUST_NOT,
    SHOULD,
    QBool,
    QPhrase,
    QTerm,
    mixed_or_clauses,
)

NOSTOP = frozenset()


def _tree(*clauses):
    return QBool(tuple(clauses))


def test_mixed_shape_detection():
    conj = QBool(((MUST, QTerm("a")), (MUST, QTerm("b"))))
    t = _tree((SHOULD, conj), (SHOULD, QTerm("c")), (MUST_NOT, QTerm("d")))
    got = mixed_or_clauses(t)
    assert got == ([{"a": 1, "b": 1}, {"c": 1}], ["d"], 0, {})
    # duplicate member -> qtf weight
    conj2 = QBool(((MUST, QTerm("a")), (MUST, QTerm("a"))))
    assert mixed_or_clauses(_tree((SHOULD, conj2)))[0] == [{"a": 2}]
    # msm rides along (r6): <=1 normalizes to 0, infeasible -> -1 sentinel
    m2 = mixed_or_clauses(QBool(((SHOULD, conj), (SHOULD, QTerm("x"))), msm=2))
    assert m2 == ([{"a": 1, "b": 1}, {"x": 1}], [], 2, {})
    assert mixed_or_clauses(QBool(((SHOULD, conj),), msm=1))[2] == 0
    assert mixed_or_clauses(QBool(((SHOULD, conj),), msm=5))[2] == -1
    # clause boosts fold into the weights (r6): term boost, conj boost,
    # member boost all multiply (BM25 linear in W)
    bconj = QBool(((MUST, QTerm("a", boost=3.0)), (MUST, QTerm("b"))), boost=2.0)
    got_b = mixed_or_clauses(_tree((SHOULD, bconj), (SHOULD, QTerm("c", boost=0.5))))
    assert got_b == ([{"a": 6.0, "b": 2.0}, {"c": 0.5}], [], 0, {})
    # top-level MUST terms (any boost) lower next to the SHOULD clauses;
    # with MUST present, msm = 1 still demands one SHOULD match
    assert mixed_or_clauses(_tree((MUST, QTerm("a")), (SHOULD, conj))) == (
        [{"a": 1, "b": 1}], [], 0, {"a": 1.0})
    assert mixed_or_clauses(QBool(((MUST, QTerm("e", boost=2.0)), (SHOULD, conj),
                                   (SHOULD, QTerm("c"))), msm=1))[2:] == (1, {"e": 2.0})
    assert mixed_or_clauses(QBool(((MUST, QTerm("e")), (SHOULD, conj)), msm=2))[2] == -1
    # unsupported shapes fall back (None)
    assert mixed_or_clauses(QTerm("a")) is None
    assert mixed_or_clauses(_tree((MUST, conj), (SHOULD, QTerm("c")))) is None
    assert mixed_or_clauses(QBool(((SHOULD, conj),), boost=2.0)) is None
    nested = QBool(((MUST, conj), (MUST, QTerm("e"))))
    assert mixed_or_clauses(_tree((SHOULD, nested))) is None
    ph = QPhrase((("a", 0), ("b", 1)))
    assert mixed_or_clauses(_tree((SHOULD, ph), (SHOULD, conj))) is None
    assert mixed_or_clauses(_tree((MUST_NOT, conj), (SHOULD, QTerm("a")))) is None


@pytest.fixture(scope="module")
def mixed_index(spark):
    """Skewed 4000-doc corpus: 'hot' in 60% of docs, 'rare' ~1%, 'med' ~5%,
    'ban' ~8%, filler w0..w29 — the shape block-max pruning needs."""
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import Index

    rng = random.Random(7)
    rows = []
    for d in range(4000):
        toks = ["hot"] if rng.random() < 0.6 else []
        toks += [f"w{rng.randrange(30)}" for _ in range(rng.randrange(2, 12))]
        if rng.random() < 0.01:
            toks.append("rare")
        if rng.random() < 0.05:
            toks.append("med")
        if rng.random() < 0.08:
            toks.append("ban")
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    d = "/tmp/lucene_spark_test_mixed_idx"
    shutil.rmtree(d, ignore_errors=True)
    cfg = IndexConfig(docid_col="doc_id", content_col="content",
                      num_segments=3, order_cols=("doc_id",),
                      stop_words=NOSTOP)
    return Index(spark, build_index(spark, docs, d, cfg))


def _canon(rows):
    """Tie-tolerant canonical form: rounded-score multiset + the docid set
    of every non-boundary row (float64 sum order may legitimately swap
    membership WITHIN the k-th rounded-score tie group across paths)."""
    rs = sorted(((round(r["score"], 9), r["docid"]) for r in rows),
                key=lambda x: (-x[0], x[1]))
    if not rs:
        return [], set(), None
    kth = rs[-1][0]
    return [s for s, _ in rs], {d for s, d in rs if s != kth}, kth


def _check(idx, tree, k=10, similarity=None):
    from lucene_spark.search.executor import search_tree, search_tree_topk

    pruned = search_tree_topk(idx, tree, k=k, similarity=similarity)
    assert pruned is not None
    sa, ia, ka = _canon(pruned.collect())
    sb, ib, kb = _canon(search_tree(idx, tree, k=k, similarity=similarity).collect())
    assert (sa, ia, ka) == (sb, ib, kb)
    return sa


def test_headline_shape_matches_exhaustive(mixed_index):
    tree = _tree(
        (SHOULD, QBool(((MUST, QTerm("rare")), (MUST, QTerm("hot"))))),
        (SHOULD, QTerm("med")),
    )
    assert _check(mixed_index, tree)  # vacuity guard


def test_mixed_with_not_and_dead_clause(mixed_index):
    tree = _tree(
        (SHOULD, QBool(((MUST, QTerm("rare")), (MUST, QTerm("hot"))))),
        (SHOULD, QTerm("med")),
        (MUST_NOT, QTerm("ban")),
    )
    assert _check(mixed_index, tree)
    dead = _tree(
        (SHOULD, QBool(((MUST, QTerm("zz_absent")), (MUST, QTerm("hot"))))),
        (SHOULD, QTerm("med")),
    )
    assert _check(mixed_index, dead)
    from lucene_spark.search.executor import search_tree_topk

    all_dead = _tree((SHOULD, QBool(((MUST, QTerm("zz_absent")),
                                     (MUST, QTerm("hot"))))))
    assert search_tree_topk(mixed_index, all_dead, k=5).collect() == []


@pytest.mark.parametrize("trial", range(10))
def test_randomized_differentials(mixed_index, trial):
    rng = random.Random(1000 + trial)
    vocab = ["med", "rare", "hot"] + [f"w{i}" for i in range(30)]
    cls = []
    for _ in range(rng.randrange(2, 5)):
        if rng.random() < 0.5:
            cls.append((SHOULD, QTerm(rng.choice(vocab))))
        else:
            m = tuple((MUST, QTerm(rng.choice(vocab)))
                      for _ in range(rng.randrange(2, 4)))
            cls.append((SHOULD, QBool(m)))
    if rng.random() < 0.3:
        cls.append((MUST_NOT, QTerm(rng.choice(["ban", "w5"]))))
    sim = rng.choice([None, "classic", "lm_dirichlet", "dfr_ine_l_h2"])
    _check(mixed_index, QBool(tuple(cls)), k=rng.choice([3, 10, 50]),
           similarity=sim)


def test_search_query_routes_mixed_tree(mixed_index):
    from lucene_spark.search.executor import search_query, search_tree

    tree = _tree(
        (SHOULD, QBool(((MUST, QTerm("rare")), (MUST, QTerm("hot"))))),
        (SHOULD, QTerm("med")),
    )
    sa, ia, ka = _canon(search_query(mixed_index, tree, k=10).collect())
    sb, ib, kb = _canon(search_tree(mixed_index, tree, k=10).collect())
    assert (sa, ia, ka) == (sb, ib, kb) and sa


def test_tree_pruning_is_live(mixed_index):
    """The metrics row must show actual block skipping on the headline
    shape (theta seeds from the med term clause, the conjunction leads
    with rare, hot decodes candidate blocks only)."""
    from lucene_spark.search.executor import tree_skip_metrics

    tree = _tree(
        (SHOULD, QBool(((MUST, QTerm("rare")), (MUST, QTerm("hot"))))),
        (SHOULD, QTerm("med")),
    )
    m = tree_skip_metrics(mixed_index, tree, k=10)
    assert m["blocks_total"] > 0
    assert m["blocks_decoded"] < m["blocks_total"]


def test_seed_theta_tree_sound_and_tightens(mixed_index):
    """seed_theta_tree: the cheapest clause's global k-th is a valid
    pruning seed — results identical to unseeded, decode never higher."""
    from lucene_spark.search.executor import (
        search_tree_topk, seed_theta_tree, tree_skip_metrics,
    )

    tree = _tree(
        (SHOULD, QBool(((MUST, QTerm("rare")), (MUST, QTerm("hot"))))),
        (SHOULD, QBool(((MUST, QTerm("med")), (MUST, QTerm("hot"))))),
    )
    seed = seed_theta_tree(mixed_index, tree, k=10)
    assert seed > 0.0
    a = _canon(search_tree_topk(mixed_index, tree, k=10).collect())
    b = _canon(search_tree_topk(mixed_index, tree, k=10,
                                theta_seed=seed).collect())
    assert a == b and a[0]
    m0 = tree_skip_metrics(mixed_index, tree, k=10)
    m1 = tree_skip_metrics(mixed_index, tree, k=10, theta_seed=seed)
    assert m1["blocks_decoded"] <= m0["blocks_decoded"]
    # non-mixed shape / excluded terms decline gracefully
    assert seed_theta_tree(mixed_index, QTerm("hot")) == 0.0
    tree_not = _tree(
        (SHOULD, QBool(((MUST, QTerm("rare")), (MUST, QTerm("hot"))))),
        (MUST_NOT, QTerm("ban")),
    )
    assert seed_theta_tree(mixed_index, tree_not) == 0.0


@pytest.mark.parametrize("trial", range(8))
def test_msm_mixed_matches_exhaustive(mixed_index, trial):
    """minimumNumberShouldMatch over mixed clauses on the PRUNED path
    (r6): distinct-matching-clause gate == the exhaustive tree's
    __cid__ counting, randomized."""
    rng = random.Random(4200 + trial)
    vocab = ["med", "rare", "hot"] + [f"w{i}" for i in range(30)]
    cls = []
    for _ in range(rng.randrange(2, 5)):
        if rng.random() < 0.5:
            cls.append((SHOULD, QTerm(rng.choice(vocab))))
        else:
            m = tuple((MUST, QTerm(rng.choice(vocab)))
                      for _ in range(rng.randrange(2, 3)))
            cls.append((SHOULD, QBool(m)))
    msm = rng.randrange(2, len(cls) + 1)
    tree = QBool(tuple(cls), msm=msm)
    from lucene_spark.search.executor import search_tree, search_tree_topk

    pruned = search_tree_topk(mixed_index, tree, k=10)
    assert pruned is not None
    sa = _canon(pruned.collect())
    sb = _canon(search_tree(mixed_index, tree, k=10).collect())
    assert sa == sb


def test_msm_mixed_goldens(mixed_index):
    from lucene_spark.search.executor import search_query, search_tree

    conj = QBool(((MUST, QTerm("rare")), (MUST, QTerm("hot"))))
    # 2-of-3 with a conjunction clause; exclusion on top
    tree = QBool(((SHOULD, conj), (SHOULD, QTerm("med")),
                  (SHOULD, QTerm("w3")), (MUST_NOT, QTerm("ban"))), msm=2)
    sa = _canon(search_query(mixed_index, tree, k=20).collect())
    sb = _canon(search_tree(mixed_index, tree, k=20).collect())
    assert sa == sb and sa[0]
    # msm == #clauses degenerates to AND-of-clauses
    tree_all = QBool(((SHOULD, conj), (SHOULD, QTerm("med"))), msm=2)
    sa = _canon(search_query(mixed_index, tree_all, k=20).collect())
    sb = _canon(search_tree(mixed_index, tree_all, k=20).collect())
    assert sa == sb
    # infeasible msm -> empty
    from lucene_spark.search.executor import search_tree_topk

    none = QBool(((SHOULD, conj),), msm=3)
    assert search_tree_topk(mixed_index, none, k=5).collect() == []


@pytest.mark.parametrize("trial", range(8))
def test_boosted_mixed_matches_exhaustive(mixed_index, trial):
    """Boosted clauses (term^b, (x AND y)^b, member boosts) on the pruned
    path equal the exhaustive tree, randomized, across similarities."""
    rng = random.Random(7700 + trial)
    vocab = ["med", "rare", "hot"] + [f"w{i}" for i in range(30)]

    def boost():
        return rng.choice([1.0, 0.5, 2.0, 3.0])

    cls = []
    for _ in range(rng.randrange(2, 5)):
        if rng.random() < 0.5:
            cls.append((SHOULD, QTerm(rng.choice(vocab), boost=boost())))
        else:
            m = tuple((MUST, QTerm(rng.choice(vocab), boost=boost()))
                      for _ in range(rng.randrange(2, 3)))
            cls.append((SHOULD, QBool(m, boost=boost())))
    if rng.random() < 0.3:
        cls.append((MUST_NOT, QTerm("ban")))
    sim = rng.choice([None, "classic", "lm_dirichlet"])
    tree = QBool(tuple(cls))
    from lucene_spark.search.executor import search_tree, search_tree_topk

    pruned = search_tree_topk(mixed_index, tree, k=10, similarity=sim)
    assert pruned is not None
    assert _canon(pruned.collect()) == _canon(
        search_tree(mixed_index, tree, k=10, similarity=sim).collect()
    )


@pytest.mark.parametrize("trial", range(6))
def test_search_tree_after_matches_exhaustive(mixed_index, trial):
    """Pruned tree deep paging == exhaustive-filtered paging, randomized
    (pages 2 and 3, with msm/boost/NOT mixes)."""
    from lucene_spark.search.executor import search_tree, search_tree_after

    rng = random.Random(8800 + trial)
    vocab = ["med", "rare", "hot"] + [f"w{i}" for i in range(30)]
    cls = []
    for _ in range(rng.randrange(2, 5)):
        if rng.random() < 0.5:
            cls.append((SHOULD, QTerm(rng.choice(vocab),
                                      boost=rng.choice([1.0, 2.0]))))
        else:
            m = tuple((MUST, QTerm(rng.choice(vocab)))
                      for _ in range(rng.randrange(2, 3)))
            cls.append((SHOULD, QBool(m)))
    if rng.random() < 0.3:
        cls.append((MUST_NOT, QTerm("ban")))
    nsh = sum(1 for o, _ in cls if o == SHOULD)
    tree = QBool(tuple(cls), msm=rng.choice([0, 0, 2]) if nsh >= 2 else 0)
    k = rng.choice([5, 10])
    full = search_tree(mixed_index, tree, k=None).collect()
    if len(full) <= k:
        return  # no second page to test
    ordered = sorted(full, key=lambda r: (-r["score"], r["docid"]))
    cur = ordered[k - 1]
    got = _canon(search_tree_after(
        mixed_index, tree, k, float(cur["score"]), int(cur["docid"])
    ).collect())
    want = _canon(
        [r for r in ordered
         if (r["score"] < cur["score"])
         or (r["score"] == cur["score"] and r["docid"] > cur["docid"])][:k]
    )
    assert got == want
    assert got[0]  # vacuity guard


@pytest.mark.parametrize("trial", range(10))
def test_must_led_randomized_differentials(mixed_index, trial):
    """MUST-led trees (top-level MUST terms next to SHOULD terms and AND
    groups, MUST_NOT, msm 0-2, boosts) on the clause kernel == the
    exhaustive tree, across similarities, first page and a cursor page."""
    from lucene_spark.search.executor import (
        search_tree, search_tree_after, search_tree_topk,
    )

    rng = random.Random(9300 + trial)
    vocab = ["med", "rare", "hot"] + [f"w{i}" for i in range(30)]

    def boost():
        return rng.choice([1.0, 1.0, 0.5, 2.0])

    cls = [(MUST, QTerm(rng.choice(["hot", "hot", "med", "w3", "w7"]), boost=boost()))
           for _ in range(rng.randrange(1, 3))]
    for _ in range(rng.randrange(1, 4)):
        if rng.random() < 0.5:
            cls.append((SHOULD, QTerm(rng.choice(vocab), boost=boost())))
        else:
            m = tuple((MUST, QTerm(rng.choice(vocab), boost=boost()))
                      for _ in range(rng.randrange(2, 4)))
            cls.append((SHOULD, QBool(m, boost=boost())))
    if rng.random() < 0.4:
        cls.append((MUST_NOT, QTerm(rng.choice(["ban", "w5"]))))
    nsh = sum(1 for o, _ in cls if o == SHOULD)
    tree = QBool(tuple(cls), msm=rng.choice([0, 1, 2]) if nsh >= 2 else rng.choice([0, 1]))
    assert mixed_or_clauses(tree)[3]  # MUST-led shape, not the fallback
    sim = rng.choice([None, "classic", "lm_dirichlet", "dfr_ine_l_h2"])
    k = rng.choice([3, 10, 50])
    _check(mixed_index, tree, k=k, similarity=sim)
    full = search_tree(mixed_index, tree, k=None, similarity=sim).collect()
    if len(full) <= k:
        return  # no second page to test
    # the cursor is the pruned first page's last hit (float64 sums of the
    # two paths may differ in the last bit, so the exhaustive ranking is
    # compared at 9 decimals)
    cur = search_tree_topk(mixed_index, tree, k=k, similarity=sim).collect()[-1]
    rc = round(cur["score"], 9)
    ordered = sorted(({"score": round(r["score"], 9), "docid": r["docid"]} for r in full),
                     key=lambda r: (-r["score"], r["docid"]))
    want = _canon([r for r in ordered
                   if r["score"] < rc or (r["score"] == rc and r["docid"] > cur["docid"])][:k])
    got = _canon(search_tree_after(mixed_index, tree, k, float(cur["score"]),
                                   int(cur["docid"]), similarity=sim).collect())
    assert got == want and got[0]


def test_search_query_runs_must_led_tree_pruned(mixed_index, monkeypatch):
    """A MUST-led tree takes the clause kernel: search_query never calls
    the exhaustive search_tree for it."""
    import lucene_spark.search.executor as ex
    from lucene_spark.search.plan import parse

    tree = parse("+hot (rare AND w3) med", stop_words=NOSTOP)
    assert isinstance(tree, QBool)
    want = _canon(ex.search_tree(mixed_index, tree, k=10).collect())

    def no_tree(*a, **kw):
        raise AssertionError("search_tree called for a clause-shaped tree")

    monkeypatch.setattr(ex, "search_tree", no_tree)
    got = _canon(ex.search_query(mixed_index, tree, k=10).collect())
    assert got == want and got[0]
