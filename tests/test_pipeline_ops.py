"""Training-data pipeline operators: dedup, similarity, text stats, multimodal."""

import fnmatch
import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_spark.functions.fuzzy import damerau_levenshtein
from lucene_spark.search.plan import (
    MUST,
    MUST_NOT,
    SHOULD,
    QBool,
    QFuzzy,
    QPhrase,
    QPrefix,
    QRange,
    QTerm,
    QWildcard,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "spark join window table", "en", "src0", 24),
        (1, "spark join window table", "en", "src1", 24),  # exact dup of 0
        (2, "table window join spark", "de", "src0", 24),  # same token set
        (3, "the quick brown fox jumps", "en", "src2", 25),
        (4, "der hund und die katze nicht", "de", "src3", 28),
        (5, "le chat et la les fenetre est", "fr", "src4", 29),
        (6, "completely different words here now", "en", "src5", 35),
        (7, "spark join window table extra", "en", "src6", 29),  # near dup
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.RandomState(0)
    rows = []
    for i in range(40):
        v = rng.randn(8)
        if i % 10 == 1:  # near-dup of previous vector
            prev = np.array(rows[-1][1])
            v = prev + rng.randn(8) * 0.01
        rows.append((i, [float(x) for x in v], (i // 2) % 4))  # near-dup pairs share label
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_exact_dedup(docs):
    from lucene_spark.pipeline.dedup import exact_dedup

    groups = {r["exact_hash"]: r for r in exact_dedup(docs).collect()}
    md5 = hashlib.md5(b"spark join window table").hexdigest()
    assert groups[md5]["n_dups"] == 2
    assert groups[md5]["canonical_doc_id"] == 0
    assert sum(r["n_dups"] for r in groups.values()) == 8


def test_minhash_lsh_finds_dup_candidates(docs):
    from lucene_spark.pipeline.dedup import jaccard_pairs, lsh_candidate_pairs

    pairs = lsh_candidate_pairs(docs)
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs.collect()}
    # identical token sets always collide in every band
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    verified = jaccard_pairs(docs, pairs, threshold=0.5).collect()
    jac = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in verified}
    assert jac[(0, 1)] == 1.0 and jac[(0, 2)] == 1.0
    if (0, 7) in jac:  # 4 common / 5 union
        assert jac[(0, 7)] == 0.8


def test_simhash_identical_sets_equal(docs):
    from lucene_spark.pipeline.dedup import simhash

    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[0] == sh[1] == sh[2]  # order-insensitive
    assert sh[0] != sh[6]
    assert all(v >= 0 for v in sh.values())
    # near-dup differs in few bits
    ham = bin(sh[0] ^ sh[7]).count("1")
    assert ham <= 20


def test_token_count_and_quality(docs):
    from lucene_spark.pipeline.textstats import quality_score, token_count

    tc = {r["doc_id"]: (r["n_tokens"], r["n_subwords"]) for r in token_count(docs).collect()}
    assert tc[0][0] == 4
    assert tc[0][1] == sum(-(-len(w) // 4) for w in "spark join window table".split())
    q = {r["doc_id"]: r for r in quality_score(docs).collect()}
    assert q[0]["n_unique"] == 4
    assert 0 < q[0]["quality"] <= 1
    assert q[3]["n_stopword_kinds"] == 1  # 'the'


def test_lang_id(docs):
    from lucene_spark.pipeline.textstats import lang_id

    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    assert got[3] == "en"
    assert got[4] == "de"
    assert got[5] == "fr"
    assert got[6] == "und"  # no markers


def test_fingerprint_order_insensitive(docs):
    from lucene_spark.pipeline.textstats import fingerprint

    fp = {r["doc_id"]: r for r in fingerprint(docs).collect()}
    assert fp[0]["fingerprint"] == fp[2]["fingerprint"]  # same token set
    assert fp[0]["exact_hash"] != fp[2]["exact_hash"]  # different text


def test_cosine_topk_bruteforce(embeddings):
    from lucene_spark.pipeline.similarity import cosine_topk

    qv = embeddings.filter(F.col("vec_id") == 1).collect()[0]["embedding"]
    got = cosine_topk(embeddings, qv, k=3).collect()
    # vec 0 was perturbed into vec 1: both round to cosine 1.0, tie-break id asc
    assert {got[0]["vec_id"], got[1]["vec_id"]} == {0, 1}
    assert got[0]["cosine"] == 1.0 and got[1]["cosine"] > 0.99
    assert got[2]["cosine"] < got[1]["cosine"]


def test_cosine_topk_lsh_recalls_self_and_neardup(embeddings):
    from lucene_spark.pipeline.similarity import cosine_topk_lsh

    qv = embeddings.filter(F.col("vec_id") == 1).collect()[0]["embedding"]
    got = cosine_topk_lsh(embeddings, qv, k=3, n_planes=4).collect()
    # near-identical vectors land in the same bucket and dominate
    assert {got[0]["vec_id"], got[1]["vec_id"]} == {0, 1}


def test_minhash_persisted_index_equals_fresh(spark, docs, tmp_path):
    """Signatures persisted as int64 parquet lanes and read back must yield
    the same candidate pairs as the from-text computation; lanes are
    non-negative int64 (SQL-safe 60-bit hashes)."""
    from lucene_spark.pipeline.dedup import (
        build_minhash_index, lsh_candidate_pairs, read_minhash_index,
    )

    d = str(tmp_path / "mh_idx")
    build_minhash_index(docs, d)
    sig = read_minhash_index(spark, d)
    assert all(t == "bigint" for c, t in sig.dtypes if c.startswith("mh"))
    assert sig.filter(F.col("mh0") < 0).count() == 0
    fresh = {(r["doc_id_a"], r["doc_id_b"]) for r in lsh_candidate_pairs(docs).collect()}
    persisted = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in lsh_candidate_pairs(docs, sig=sig).collect()
    }
    assert fresh == persisted and (0, 1) in persisted


def test_minhash_config_shapes(spark, docs):
    """n_perm/bands are configurable (were fixed constants)."""
    from lucene_spark.pipeline.dedup import MinHashConfig, minhash_signatures

    cfg = MinHashConfig(n_perm=8, bands=2)
    assert cfg.rows_per_band == 4
    sig = minhash_signatures(docs, cfg=cfg)
    assert [c for c in sig.columns if c.startswith("mh")] == [f"mh{i}" for i in range(8)]


def test_ann_persisted_index_pruned_probe(spark, embeddings, tmp_path):
    """The persisted bucket-partitioned ANN index must (a) return the same
    top-k as the expression-recompute path and (b) push the bucket filter
    into PartitionFilters (partition pruning — only probed directories are
    read)."""
    import os

    from lucene_spark.pipeline.similarity import (
        ann_index_topk, build_ann_index, cosine_topk_lsh_multiprobe, probe_buckets,
    )

    d = str(tmp_path / "ann_idx")
    build_ann_index(embeddings, d, dim=8, n_planes=4, seed=42)
    qv = embeddings.filter(F.col("vec_id") == 1).collect()[0]["embedding"]
    got = ann_index_topk(
        spark, d, qv, k=3, dim=8, n_planes=4, seed=42, probe_bits=1
    ).collect()
    want = cosine_topk_lsh_multiprobe(
        embeddings, qv, k=3, n_planes=4, seed=42, probe_bits=1
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (r["vec_id"], r["cosine"]) for r in want
    ]
    # partition layout on disk: one directory per bucket
    assert any(e.startswith("bucket=") for e in os.listdir(d))
    # the probe filter must reach PartitionFilters in the physical plan
    probes = probe_buckets(qv, dim=8, n_planes=4, seed=42, probe_bits=1)
    cand = spark.read.parquet(d).filter(F.col("bucket").isin(probes))
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters", 1)[1][:200]


def test_cosine_neardup_pairs(embeddings):
    from lucene_spark.pipeline.similarity import cosine_neardup_pairs

    got = {(r["id_a"], r["id_b"]) for r in cosine_neardup_pairs(embeddings, 0.95).collect()}
    # perturbed pairs share a label block -> must be found
    assert (0, 1) in got and (10, 11) in got
    # unrelated same-block vectors must not cross the threshold
    assert (0, 8) not in got


def test_multimodal_real_decode(docs):
    """Payloads are REAL containers (PNG/WAV/MP4) and decode parses their
    actual headers — dims match the generation contract per doc."""
    from lucene_spark.pipeline.multimodal import (
        attach_payload, decode_meta, extract_features, media_dims_for, parse_png,
    )

    media = attach_payload(docs)
    rows = {r["doc_id"]: r for r in media.collect()}
    # doc 0 is an image: the payload is a genuine PNG
    p0 = bytes(rows[0]["payload"])
    assert p0[:8] == b"\x89PNG\r\n\x1a\n"
    assert rows[0]["byte_len"] == len(p0)
    assert rows[0]["payload_sha256"] == hashlib.sha256(p0).hexdigest()
    mt, w, h, ms = media_dims_for(0)
    assert parse_png(p0) == (w, h)
    meta = {r["doc_id"]: r for r in decode_meta(media).collect()}
    for d, r in meta.items():
        mt, w, h, ms = media_dims_for(int(d))
        assert (r["media_type"], r["width"], r["height"], r["duration_ms"]) == (mt, w, h, ms)
    feats = {r["doc_id"]: r for r in extract_features(media).collect()}
    assert len(feats[0]["feature"]) == 8
    assert abs(sum(feats[0]["feature"]) - 1.0) < 1e-3
    assert feats[0]["width"] == meta[0]["width"]
    assert feats[0]["duration_ms"] == meta[0]["duration_ms"]


def test_media_parsers_reject_garbage():
    from lucene_spark.pipeline.multimodal import parse_mp4, parse_png, parse_wav

    with pytest.raises(ValueError):
        parse_png(b"not a png at all....")
    with pytest.raises(ValueError):
        parse_wav(b"RIFFxxxxNOPE")
    with pytest.raises(ValueError):
        parse_mp4(b"\x00\x00\x00\x08free")


def test_percolator_batch_and_stream(spark, docs):
    from lucene_spark.streaming import percolate_batch

    queries = spark.createDataFrame(
        [(1, ["spark", "join"], 2), (2, ["katze"], 1), (3, ["absent"], 1)],
        "qid int, terms array<string>, min_match int",
    )
    got = percolate_batch(docs, queries).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], set()).add(r["doc_id"])
    assert by_q[1] == {0, 1, 2, 7}
    assert by_q[2] == {4}
    assert 3 not in by_q


def test_percolate_prefiltered_matches_broadcast(spark, docs):
    """The term-partitioned pre-filter plan must return exactly the
    broadcast evaluator's matches (Monitor.java:42 candidate semantics)."""
    from lucene_spark.streaming import percolate_batch, percolate_prefiltered

    queries = spark.createDataFrame(
        [
            (1, ["spark", "join"], 2),
            (2, ["window", "hash", "table"], 2),
            (3, ["qqqzzz"], 1),          # absent term -> no matches
            (4, ["spark"], 1),
            (5, ["spark", "join", "window", "table"], 4),  # strict AND
        ],
        "qid int, terms array<string>, min_match int",
    )
    a = {(r["qid"], r["doc_id"], r["n_matched"])
         for r in percolate_batch(docs, queries).collect()}
    b = {(r["qid"], r["doc_id"], r["n_matched"])
         for r in percolate_prefiltered(docs, queries).collect()}
    assert a == b and a


def test_png_pixel_decode_all_filters():
    """decode_png_pixels must undo every PNG row filter (spec 9.2) — build
    a PNG whose rows use filters 0..4 and check exact pixel recovery."""
    import struct
    import zlib

    import numpy as np

    from lucene_spark.pipeline.multimodal import decode_png_pixels

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(5, 7), dtype=np.uint8)

    def fchunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    rows = []
    prev = np.zeros(7, np.int64)
    for r in range(5):
        f = r % 5
        cur = px[r].astype(np.int64)
        if f == 0:
            enc = cur
        elif f == 1:  # Sub
            enc = (cur - np.concatenate(([0], cur[:-1]))) & 0xFF
        elif f == 2:  # Up
            enc = (cur - prev) & 0xFF
        elif f == 3:  # Average
            enc = (cur - (np.concatenate(([0], cur[:-1])) + prev) // 2) & 0xFF
        else:  # Paeth
            enc = np.empty(7, np.int64)
            for x in range(7):
                a = int(cur[x - 1]) if x else 0
                b = int(prev[x])
                c = int(prev[x - 1]) if x else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (int(cur[x]) - pred) & 0xFF
        rows.append(bytes([f]) + bytes(enc.astype(np.uint8)))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", 7, 5, 8, 0, 0, 0, 0)
    data = (b"\x89PNG\r\n\x1a\n" + fchunk(b"IHDR", ihdr)
            + fchunk(b"IDAT", zlib.compress(b"".join(rows))) + fchunk(b"IEND", b""))
    got = decode_png_pixels(data)
    assert np.array_equal(got, px)


def test_resize_png_and_transform(spark, docs):
    """Real nearest-neighbor resize: gradient image downsample picks exact
    source pixels; transform_media computes dims/mean/frames per contract."""
    import numpy as np

    from lucene_spark.pipeline.multimodal import (
        attach_payload, decode_png_pixels, make_png, parse_png, resize_png,
        transform_media,
    )

    src = make_png(64, 32, shade=77)
    out = resize_png(src, 16, 8)
    assert parse_png(out) == (16, 8)
    assert (decode_png_pixels(out) == 77).all()

    media = attach_payload(docs)
    got = {r["doc_id"]: r for r in transform_media(media).collect()}
    for d, r in got.items():
        m = d % 3
        if m == 0:
            assert (r["out_width"], r["out_height"]) == (32, 24)
            assert r["mean_px"] == d % 256 and r["n_frames"] == 0
        elif m == 2:
            assert r["n_frames"] == 3 + (d % 30)
            assert r["out_width"] == 0
        else:
            assert r["n_frames"] == 0 and r["mean_px"] == 0


def test_ivf_ann_recall_and_partition_probe(spark, tmp_path):
    """IVF ANN: deterministic build, partition-pruned probe, recall vs
    brute force at nprobe=4/16 on the sf0.01 embeddings."""
    import os

    from lucene_spark.pipeline.similarity import (
        build_ivf_index, cosine_topk, ivf_index_topk, ivf_probe_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    d = str(tmp_path / "ivf")
    build_ivf_index(emb, d, dim=64, nlist=16, seed=42)
    assert os.path.exists(os.path.join(d, "centroids.json"))
    n_dirs = len([e for e in os.listdir(d) if e.startswith("centroid=")])
    assert n_dirs <= 16

    qv = [float(x) for x in emb.orderBy("vec_id").limit(1).collect()[0]["embedding"]]
    probes = ivf_probe_centroids(d, qv, nprobe=4)
    assert len(probes) == 4 and len(set(probes)) == 4

    got = [r["vec_id"] for r in ivf_index_topk(spark, d, qv, k=10, nprobe=4).collect()]
    want = [r["vec_id"] for r in cosine_topk(emb, qv, k=10).collect()]
    recall = len(set(got) & set(want)) / 10.0
    assert recall >= 0.5, (recall, got, want)
    # full probe == brute force exactly
    got_all = [r["vec_id"] for r in ivf_index_topk(spark, d, qv, k=10, nprobe=16).collect()]
    assert got_all == want


def test_ivf_fixed_centroids_and_object_store_root(spark, tmp_path):
    """Fixed-quantizer IVF (assignment = pure argmax-cosine expression):
    numpy-differential on the assignment, full-probe == brute force, and —
    because centroids.json now goes through the fsio seam (VERDICT r4
    wrong#2) — the whole build+probe works on an s3mock:// object-store
    root where plain open() would fail."""
    import shutil

    import numpy as np

    from lucene_spark.pipeline.similarity import (
        build_ivf_index, cosine_topk, ivf_index_topk, ivf_probe_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = np.random.RandomState(11).randn(8, 64)
    backing = str(tmp_path / "ivffix")
    shutil.rmtree(backing, ignore_errors=True)
    root = "s3mock://" + backing
    build_ivf_index(emb, root, dim=64, nlist=8, centroids=cents)

    # assignment differential: numpy argmax cosine (tie -> lowest id)
    rows = emb.orderBy("vec_id").collect()
    got = {
        r["vec_id"]: r["centroid"]
        for r in spark.read.parquet(root).select("vec_id", "centroid").collect()
    }
    norms = np.linalg.norm(cents, axis=1)
    for r in rows[:50]:
        v = np.asarray(r["embedding"], dtype=np.float64)
        want = int(np.argmax(cents @ v / norms))
        assert got[r["vec_id"]] == want, r["vec_id"]

    qv = [float(x) for x in rows[0]["embedding"]]
    probes = ivf_probe_centroids(root, qv, nprobe=3)
    assert len(probes) == 3
    # full probe == brute force exactly (pure reshuffle of the same data)
    got_all = [r["vec_id"] for r in ivf_index_topk(spark, root, qv, k=10, nprobe=8).collect()]
    want_all = [r["vec_id"] for r in cosine_topk(emb, qv, k=10).collect()]
    assert got_all == want_all
    # shape guard
    import pytest as _pt

    with _pt.raises(ValueError, match="centroids shape"):
        build_ivf_index(emb, str(tmp_path / "bad"), dim=64, nlist=4, centroids=cents)


def test_percolate_full_not_and_phrase(spark):
    """Full-shape percolation: min_match + NOT + exact phrase, each
    verified per doc; brute-force python differential."""
    from lucene_spark.streaming import percolate_full

    docs = spark.createDataFrame(
        [
            (1, "spark join window"),
            (2, "spark window join fast"),
            (3, "join spark"),
            (4, "window table join spark extras"),
            (5, "unrelated words entirely"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [
            # q1: 2-of-3 terms, no exclusions, phrase "spark join"
            (1, ["spark", "join", "window"], 2, [], ["spark", "join"]),
            # q2: 1-of-1, NOT fast
            (2, ["join"], 1, ["fast"], []),
            # q3: 1-of-2, phrase "window table"
            (3, ["window", "table"], 1, [], ["window", "table"]),
            # q4: plain 2-of-3 (no extras)
            (4, ["spark", "join", "window"], 2, None, None),
        ],
        "qid int, terms array<string>, min_match int, "
        "not_terms array<string>, phrase array<string>",
    )
    got = sorted(
        (r["qid"], r["doc_id"])
        for r in percolate_full(docs, queries).collect()
    )

    def brute():
        drows = {d: t.split() for d, t in [
            (1, "spark join window"), (2, "spark window join fast"),
            (3, "join spark"), (4, "window table join spark extras"),
            (5, "unrelated words entirely")]}
        qrows = [
            (1, ["spark", "join", "window"], 2, [], ["spark", "join"]),
            (2, ["join"], 1, ["fast"], []),
            (3, ["window", "table"], 1, [], ["window", "table"]),
            (4, ["spark", "join", "window"], 2, [], []),
        ]
        out = []
        for qid, terms, mm, nots, phrase in qrows:
            for d, toks in drows.items():
                if sum(1 for t in set(terms) if t in toks) < mm:
                    continue
                if any(t in toks for t in nots):
                    continue
                if phrase:
                    n = len(phrase)
                    if not any(toks[i:i + n] == phrase
                               for i in range(len(toks) - n + 1)):
                        continue
                out.append((qid, d))
        return sorted(out)

    assert got == brute()
    # sanity spot checks: q1 matches doc1 (has "spark join") but not doc2
    # (terms ok, phrase broken); q2 excludes doc2 (fast)
    assert (1, 1) in got and (1, 2) not in got
    assert (2, 2) not in got and (2, 1) in got


def test_decompose_query_shapes():
    """QueryDecomposer analog: DNF lowering + loud rejection of
    unpercolatable shapes."""
    import pytest as _pt

    from lucene_spark.search.plan import parse_tree
    from lucene_spark.streaming import decompose_query

    def d(q):
        return decompose_query(parse_tree(q, stop_words=frozenset()))

    # OR of ANDs -> two clauses
    cl = d("(spark AND join) OR flink")
    assert len(cl) == 2
    assert {frozenset(c["terms"]) for c in cl} == {
        frozenset({"spark", "join"}), frozenset({"flink"})
    }
    # AND over OR -> cross product
    cl = d("(spark OR flink) AND join")
    assert {frozenset(c["terms"]) for c in cl} == {
        frozenset({"spark", "join"}), frozenset({"flink", "join"})
    }
    # NOT over an OR of terms lowers via De Morgan into every clause
    cl = d("join -(slow OR fast)")
    assert len(cl) == 1 and cl[0]["nots"] == {"slow", "fast"}
    # SHOULD clauses are ignored for matching when a MUST exists
    cl = d("+join spark window")
    assert len(cl) == 1 and cl[0]["terms"] == {"join"}
    # phrase + prefix legs
    cl = d('"hash join" AND spar*')
    assert cl[0]["phrases"] == [["hash", "join"]]
    assert cl[0]["patterns"] == ["spar%"]
    # r6 verify legs: sloppy 2-term / fuzzy / term range now lower
    cl = d('"hash join"~2')
    assert cl[0]["sloppy"] == [("hash", "join", 1, 2)]
    assert cl[0]["terms"] == {"hash", "join"}  # prefilter terms
    cl = d("merge~1")
    assert cl[0]["fuzzies"] == [("merge", 1)]
    cl = d("[ma TO me]")
    assert cl[0]["ranges"] == [("ma", "me")]
    # unsupported shapes refuse loudly
    with _pt.raises(NotImplementedError, match="MUST_NOT over"):
        d('join -"hash join"')
    with _pt.raises(NotImplementedError, match="pure-negative"):
        d("-join -spark")
    with _pt.raises(NotImplementedError, match="2-term"):
        d('"hash join fast"~2')


def _ev(node, toks):
    """Brute-force match of a parsed query tree against one doc's tokens."""
    ts = set(toks)
    if isinstance(node, QTerm):
        return node.term in ts
    if isinstance(node, QFuzzy):
        return any(damerau_levenshtein(t, node.term) <= node.max_edits
                   for t in ts)
    if isinstance(node, QRange):
        return any(node.lo <= t <= node.hi for t in ts)
    if isinstance(node, QPhrase) and node.slop > 0:
        (ta, oa), (tb, ob) = node.terms_off
        gap = ob - oa
        pa = [i for i, t in enumerate(toks) if t == ta]
        pb = [i for i, t in enumerate(toks) if t == tb]
        return any(a != b and abs(a + gap - b) <= node.slop
                   for a in pa for b in pb)
    if isinstance(node, QPhrase):
        terms = [t for t, _ in node.terms_off]
        return any(
            toks[i : i + len(terms)] == terms
            for i in range(len(toks) - len(terms) + 1)
        )
    if isinstance(node, QPrefix):
        return any(t.startswith(node.prefix) for t in ts)
    if isinstance(node, QWildcard):
        return any(fnmatch.fnmatchcase(t, node.pattern) for t in ts)
    if isinstance(node, QBool):
        musts = [c for o, c in node.clauses if o == MUST]
        shoulds = [c for o, c in node.clauses if o == SHOULD]
        nots = [c for o, c in node.clauses if o == MUST_NOT]
        pos = (all(_ev(m, toks) for m in musts) if musts
               else any(_ev(s, toks) for s in shoulds))
        return pos and not any(_ev(n, toks) for n in nots)
    raise AssertionError(type(node))


def test_percolate_tree_randomized_differential(spark):
    """percolate_tree vs a direct python evaluator of the parsed tree on
    randomized docs: DNF + the matching kernel must reproduce boolean
    semantics."""
    import random

    from lucene_spark.search.plan import parse_tree
    from lucene_spark.streaming import percolate_tree

    rng = random.Random(427)
    pool = ["spark", "join", "window", "hash", "table", "fast", "slow",
            "stream", "query", "merge"]
    docs = [(i, " ".join(rng.choices(pool, k=rng.randint(2, 8))))
            for i in range(60)]

    stored = [
        (1, "(spark OR flink) AND join"),
        (2, '"hash join" -slow'),
        (3, "quer* AND window"),
        (4, "((table AND hash) OR stream) -merge"),
        (5, "+join +\"spark join\" -table"),
        (6, "wind?w OR (fast AND slo*)"),
        (7, "spark join window"),  # pure disjunction of SHOULDs
        # r6 verify legs
        (8, '"hash join"~2'),
        (9, "merge~1 AND window"),
        (10, "[so TO st] -table"),
        (11, '"spark window"~1 OR quer*'),
    ]

    want = sorted(
        (qid, d)
        for qid, q in stored
        for d, t in docs
        if _ev(parse_tree(q, stop_words=frozenset()), t.split())
    )
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r["qid"], r["doc_id"]) for r in percolate_tree(ddf, stored).collect()
    )
    assert got == want


def test_percolate_tree_dataframe_registration(spark):
    """Stored queries as a DataFrame: parse + decompose run distributed
    (mapInPandas) and match the driver-side list path exactly."""
    from lucene_spark.streaming import percolate_tree

    docs = [
        (0, "spark join window fast"),
        (1, "hash join slow table"),
        (2, "flink join stream"),
        (3, "spark window"),
    ]
    stored = [
        (1, "(spark OR flink) AND join"),
        (2, '"hash join" -slow'),
        (3, "spar* AND window"),
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(stored, "qid int, query string")
    a = sorted((r["qid"], r["doc_id"]) for r in percolate_tree(ddf, stored).collect())
    b = sorted((r["qid"], r["doc_id"]) for r in percolate_tree(ddf, qdf).collect())
    assert a == b and a


def test_percolate_dedup_fans_back_out(spark):
    """Duplicate stored-query shapes (Monitor QueryIndex dedup) yield
    per-qid results identical to unique-qid evaluation."""
    from lucene_spark.streaming import percolate_full, percolate_prefiltered

    docs = spark.createDataFrame(
        [(0, "spark join fast"), (1, "hash join slow"), (2, "spark window")],
        "doc_id long, text string",
    )
    # qids 1/2/3 share one shape; 4 differs
    rows = [(1, ["spark", "join"], 1, [], []),
            (2, ["spark", "join"], 1, [], []),
            (3, ["spark", "join"], 1, [], []),
            (4, ["hash"], 1, ["fast"], [])]
    qdf = spark.createDataFrame(
        rows, "qid int, terms array<string>, min_match int, "
              "not_terms array<string>, phrase array<string>")
    got = {(r["qid"], r["doc_id"]) for r in percolate_full(docs, qdf).collect()}
    # every duplicate qid matches exactly what the shape matches
    for q in (1, 2, 3):
        assert {(d) for (qq, d) in got if qq == q} == {0, 1, 2}
    assert {(d) for (qq, d) in got if qq == 4} == {1}
    pre = percolate_prefiltered(docs, qdf.select("qid", "terms", "min_match"))
    n = {(r["qid"], r["doc_id"]): r["n_matched"] for r in pre.collect()}
    assert n[(1, 0)] == n[(2, 0)] == n[(3, 0)] == 2  # spark+join both hit


@pytest.mark.parametrize(
    "query,as_df",
    [("spar*", False), ("[a TO z]", False), ("sprak~1", False), ("spar*", True),
     ("a_b*", False)],
    ids=["prefix", "range", "fuzzy", "prefix-dataframe", "escaped-prefix"],
)
def test_percolate_tree_termless_registry(spark, query, as_df):
    """A registry whose clauses hold no term (only a pattern, a range or a
    fuzzy) percolates like any other: every doc is a candidate and the
    verification decides. A LIKE metacharacter in a prefix is literal."""
    from lucene_spark.search.plan import parse_tree
    from lucene_spark.streaming import percolate_tree

    docs = [(0, "spark join"), (1, "spork window"), (2, "hash table"),
            (3, "spaRk"), (4, None), (5, "a_bc axbc")]
    stored = [(1, query)]
    reg = spark.createDataFrame(stored, "qid int, query string") if as_df else stored
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted((r["qid"], r["doc_id"]) for r in percolate_tree(ddf, reg).collect())
    tree = parse_tree(query, stop_words=frozenset())
    want = sorted((1, d) for d, t in docs if t is not None and _ev(tree, t.split()))
    assert got == want and want


def test_percolate_overcap_registry_differential(spark):
    """Registries past the sizes the percolator once capped (> 4096
    distinct terms, > 8192 distinct clause shapes), with NOTs, phrases, a
    pattern, a fuzzy, a range and a sloppy pair: percolate_tree (list and
    DataFrame registration, the latter past the 20k-row driver path),
    percolate_full and percolate_prefiltered equal a brute force."""
    import random

    from lucene_spark.search.plan import parse_tree
    from lucene_spark.streaming import (
        _set_key,
        decompose_query,
        percolate_full,
        percolate_prefiltered,
        percolate_tree,
    )

    rng = random.Random(611)
    pool = [f"w{i}" for i in range(60)]
    docs = [(i, " ".join(rng.choices(pool, k=rng.randint(4, 12))))
            for i in range(150)]
    toks = {d: t.split() for d, t in docs}
    ddf = spark.createDataFrame(docs, "doc_id long, text string")

    def w():
        return rng.choice(pool)

    def bigram():  # a phrase that occurs in some doc
        t = toks[rng.randrange(len(docs))]
        i = rng.randrange(len(t) - 1)
        return t[i:i + 2]

    stored = []
    for q in range(2100):
        unseen = " OR ".join(f"u{q}_{j}" for j in range(4))
        s = f"({w()} OR {unseen}) AND {w()}" + (f" -{w()}" if q % 3 == 0 else "")
        stored.append((q, s))
    stored += [(3000 + i, '"%s %s" -%s' % (*bigram(), w())) for i in range(20)]
    stored += [(4000, "w1*"), (4001, "w1? AND w2*"), (4002, "w12~1 AND w3"),
               (4003, "[w50 TO w55] -w7"), (4004, '"w4 w5"~2'),
               (4005, '"w8 w9"~1 OR w1?')]
    trees = {q: parse_tree(s, stop_words=frozenset()) for q, s in stored}
    clauses = [c for t in trees.values() for c in decompose_query(t)]
    assert len({t for c in clauses for t in c["terms"] | c["nots"]}) > 4096
    assert len({_set_key(c) for c in clauses}) > 8192

    want = {(q, d) for q in trees for d in toks if _ev(trees[q], toks[d])}
    got = {(r["qid"], r["doc_id"]) for r in percolate_tree(ddf, stored).collect()}
    assert got == want and want
    reps = 20_001 // len(stored) + 1
    qdf = spark.createDataFrame(
        [(q * reps + r, s) for q, s in stored for r in range(reps)],
        "qid int, query string",
    )
    got = {(r["qid"], r["doc_id"]) for r in percolate_tree(ddf, qdf).collect()}
    assert got == {(q * reps + r, d) for q, d in want for r in range(reps)}

    full = []
    for q in range(8300):
        phrase = bigram() if q % 7 == 0 else []
        nots = [w()] if q % 5 == 0 else []
        full.append((q, [w(), w(), f"v{q}"], 0 if q % 50 == 0 else 2, nots, phrase))
    want_n = {}
    for q, ts, mm, nots, phrase in full:
        for d, tk in toks.items():
            n = len(set(ts) & set(tk))
            if n >= max(mm, 1):
                want_n[(q, d)] = (n, not set(nots) & set(tk) and (
                    not phrase or any(tk[i:i + len(phrase)] == phrase
                                      for i in range(len(tk)))))
    fdf = spark.createDataFrame(
        full, "qid int, terms array<string>, min_match int, "
              "not_terms array<string>, phrase array<string>")
    got = sorted((r["qid"], r["doc_id"], r["n_matched"])
                 for r in percolate_full(ddf, fdf).collect())
    assert got == sorted((q, d, n) for (q, d), (n, ok) in want_n.items() if ok)
    pre = percolate_prefiltered(ddf, fdf.select("qid", "terms", "min_match"))
    got = {(r["qid"], r["doc_id"]): r["n_matched"] for r in pre.collect()}
    assert got == {k: n for k, (n, _ok) in want_n.items()}


def test_percolate_edge_semantics(spark):
    """Null text matches nothing; an empty text matches only min_match <= 0
    batch queries; tokens split on single spaces with empties dropped;
    prefiltered adds n_matched >= 1; a duplicate doc_id row gives one tree
    row but two percolate_full rows."""
    from lucene_spark.streaming import (
        percolate_batch,
        percolate_full,
        percolate_prefiltered,
        percolate_tree,
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "spark join"), (4, "  spark   ")],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(1, ["spark"], 0), (2, ["spark", "join"], 1), (3, ["absent"], 0)],
        "qid int, terms array<string>, min_match int",
    )
    assert rows(percolate_batch(docs, q)) == [
        (1, 2, 0), (1, 3, 1), (1, 4, 1), (2, 3, 2), (2, 4, 1),
        (3, 2, 0), (3, 3, 0), (3, 4, 0),
    ]
    assert rows(percolate_prefiltered(docs, q)) == [
        (1, 3, 1), (1, 4, 1), (2, 3, 2), (2, 4, 1),
    ]
    dup = spark.createDataFrame(
        [(7, "spark join"), (7, "spark join")], "doc_id long, text string"
    )
    assert rows(percolate_tree(dup, [(1, "spark")])) == [(1, 7)]
    fq = spark.createDataFrame(
        [(1, ["spark"], 1, [], [])],
        "qid int, terms array<string>, min_match int, "
        "not_terms array<string>, phrase array<string>",
    )
    assert rows(percolate_full(dup, fq)) == [(1, 7, 1), (1, 7, 1)]


def test_percolate_plans_never_shuffle_docs(spark, docs):
    """Tree and full percolation plans hold one MapInPandas (the per-doc
    kernel) with no Exchange below it: docs are never shuffled."""
    from lucene_spark.streaming import percolate_full, percolate_tree

    def subtree(plan, node):
        lines = plan.splitlines()
        i = next(k for k, ln in enumerate(lines) if node in ln)

        def col(ln):
            return len(ln) - len(ln.lstrip(" :+-"))

        out = []
        for ln in lines[i + 1:]:
            if col(ln) <= col(lines[i]):
                break
            out.append(ln)
        return out

    fq = spark.createDataFrame(
        [(1, ["spark", "join"], 1, ["katze"], ["spark", "join"])],
        "qid int, terms array<string>, min_match int, "
        "not_terms array<string>, phrase array<string>",
    )
    for df in (percolate_tree(docs, [(1, '"spark join" -katze'), (2, "wind*")]),
               percolate_full(docs, fq)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1, plan
        assert not [ln for ln in subtree(plan, "MapInPandas") if "Exchange" in ln], plan


def test_lsh_hot_bucket_guard_star_reduces(spark):
    """VERDICT r5 wrong#4: a degenerate bucket (identical docs) must not
    fan out B^2 pairs in one task. Above the cap the bucket emits a STAR
    (rep = min doc_id, B-1 pairs) and the report names the bucket."""
    from lucene_spark.pipeline.dedup import (
        MinHashConfig, lsh_candidate_pairs, lsh_hot_buckets,
    )

    n = 2000
    docs = spark.range(n).selectExpr(
        "id as doc_id", "'the same boilerplate license text' as text"
    )
    cfg = MinHashConfig()
    pairs = lsh_candidate_pairs(docs, cfg=cfg, max_bucket_size=100)
    rows = pairs.collect()
    # star shape: every pair anchors at doc 0, exactly n-1 pairs, not C(n,2)
    assert len(rows) == n - 1
    assert all(r["doc_id_a"] == 0 for r in rows)
    assert {r["doc_id_b"] for r in rows} == set(range(1, n))
    # report names the capped buckets (one per band; all docs identical)
    hot = lsh_hot_buckets(docs, cfg=cfg, max_bucket_size=100).collect()
    assert len(hot) == cfg.bands and all(r["n"] == n for r in hot)
    # cluster connectivity survives: union-find over the star closes the
    # full duplicate set through the representative
    # uncapped path on a small mixed corpus is unchanged
    mixed = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, "totally different words here")],
        "doc_id long, text string",
    )
    got = {(r["doc_id_a"], r["doc_id_b"])
           for r in lsh_candidate_pairs(mixed).collect()}
    assert (0, 1) in got and (0, 2) not in got


def test_ivf_filtered_topk(spark, tmp_path):
    """Pre-filtered IVF KNN: nprobe == nlist + filter semi-join equals
    filtered brute force (KnnFloatVectorQuery.java:48 filter seam)."""
    import numpy as np
    from pyspark.sql import functions as F

    from lucene_spark.pipeline.similarity import build_ivf_index, ivf_index_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = str(tmp_path / "ivff")
    build_ivf_index(emb, d, dim=64, nlist=4, seed=3)
    filt = emb.filter(F.col("label").isin(0, 5)).select("vec_id")
    row = emb.orderBy("vec_id").limit(1).collect()[0]
    qv = [float(x) for x in row["embedding"]]
    got = [r["vec_id"] for r in ivf_index_topk(spark, d, qv, k=5, nprobe=4,
                                               filter_df=filt).collect()]
    rows = emb.filter(F.col("label").isin(0, 5)).collect()
    ids = np.array([r["vec_id"] for r in rows])
    M = np.stack([np.array(r["embedding"], dtype=np.float64) for r in rows])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    q = np.array(qv, dtype=np.float64); q /= np.linalg.norm(q)
    cs = np.round(M @ q, 4)
    order = np.lexsort((ids, -cs))[:5]
    assert got == ids[order].tolist() and got
