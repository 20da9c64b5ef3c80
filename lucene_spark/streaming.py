"""Streaming analogs of Lucene's incremental machinery (SURVEY.md §2.9).

Two pieces are genuinely streaming-shaped:

  Monitor (percolator)  [lucene/monitor/src/java/org/apache/lucene/monitor/Monitor.java:42]
      reverse search: stored queries matched against a document stream.
      -> every entry point lowers its stored queries to distinct clause
         shapes and runs one per-doc candidate-and-verify kernel
         (``_match``): a presearcher index of the shapes' anchor terms
         picks each doc's candidates, and each candidate is verified
         against that one doc (CandidateMatcher.java). The kernel is one
         mapInPandas over the docs: no doc is shuffled, and the plan runs
         in append mode on a stream.

  NRT refresh / SearcherManager  [index/DirectoryReader.java:241-278]
      -> foreachBatch incremental index append: each micro-batch builds new
         segments into the same index dir (manifest grows; readers see the
         new snapshot on next open).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

# stored-query table small enough to dedup on the driver (one collect
# replaces the 3-shuffle Spark-side dedup; ~100 B/row of driver memory)
_DRIVER_DEDUP_QUERIES = 100_000


def _like_regex(pattern: str) -> str:
    """Python regex for a LIKE pattern as ``decompose_query`` emits it:
    ``%`` any run, ``_`` one character, ``\\`` escapes the next one."""
    out, chars = [], iter(pattern)
    for c in chars:
        if c == "\\":
            out.append(re.escape(next(chars, "\\")))
        elif c == "%":
            out.append(".*")
        elif c == "_":
            out.append(".")
        else:
            out.append(re.escape(c))
    return "".join(out)


def _token_test(kind: str, arg):
    """token -> bool for one pattern, fuzzy or range constraint; the
    constraint holds for a doc when some token of it passes."""
    if kind == "pattern":
        # DOTALL: Spark's LIKE lets % and _ match a newline inside a token
        return re.compile(_like_regex(arg), re.S).fullmatch
    if kind == "fuzzy":
        from .functions.fuzzy import damerau_levenshtein

        term, edits = arg
        return lambda t: (abs(len(t) - len(term)) <= edits
                          and damerau_levenshtein(t, term) <= edits)
    lo, hi = arg
    return lambda t: lo <= t <= hi


def _candidate_index(shapes):
    """Driver side of ``_match``: (compiled shapes, anchor term -> shape
    positions, anchorless positions, token tests).

    A shape whose terms are all required (``min_match >= |terms|``), or
    which has an exact phrase, is listed under ONE required term, the
    longest (any choice is correct; it only moves cost). Any other shape
    with ``min_match >= 1`` is listed under each of its terms. The rest
    (``min_match <= 0``, or clauses of only patterns/fuzzies/ranges) is a
    candidate for every doc."""
    compiled, anchors, every = [], {}, []
    test_ids: dict = {}
    for s in shapes:
        terms = tuple(sorted(s["terms"]))
        mm = int(s["min_match"])
        phrases = [list(p) for p in s.get("phrases", ())]
        tests = (
            [("pattern", p) for p in s.get("patterns", ())]
            + [("fuzzy", tuple(f)) for f in s.get("fuzzies", ())]
            + [("range", tuple(r)) for r in s.get("ranges", ())]
        )
        pos = len(compiled)
        compiled.append((
            int(s["sid"]), terms, mm, tuple(s.get("nots", ())),
            tuple(" " + " ".join(p) + " " for p in phrases),
            tuple(test_ids.setdefault(t, len(test_ids)) for t in tests),
            tuple(tuple(x) for x in s.get("sloppy", ())),
        ))
        required = set(terms) if terms and mm >= len(terms) else set()
        required |= {t for p in phrases for t in p}
        if required:
            anchors.setdefault(max(required, key=lambda t: (len(t), t)), []).append(pos)
        elif mm >= 1:
            for t in terms:
                anchors.setdefault(t, []).append(pos)
        else:
            every.append(pos)
    return compiled, anchors, every, [_token_test(k, a) for k, a in test_ids]


def _verify_doc(text, index):
    """[(sid, n_matched)] of every shape in ``index`` that ``text``
    matches. Tokens are ``textstats.tokens``: split on " ", empties
    dropped; a null text matches nothing."""
    if not isinstance(text, str):
        return []
    compiled, anchors, every, tests = index
    toks = [t for t in text.split(" ") if t]
    ts = set(toks)
    cand = set(every)
    for t in ts:
        cand.update(anchors.get(t, ()))
    held: dict = {}  # token-test id -> some doc token passes it
    joined = positions = None
    out = []

    def holds(j):
        if j not in held:
            held[j] = any(map(tests[j], ts))
        return held[j]

    for i in cand:
        sid, terms, mm, nots, phrases, test_ids, sloppy = compiled[i]
        n = sum(t in ts for t in terms)
        if n < mm or any(t in ts for t in nots):
            continue
        if phrases:
            # an exact phrase is a run of consecutive tokens: it occurs iff
            # ' p1 p2 .. ' is a substring of the space-joined token string
            if joined is None:
                joined = " " + " ".join(toks) + " "
            if not all(p in joined for p in phrases):
                continue
        if not all(map(holds, test_ids)):
            continue
        if sloppy:
            if positions is None:
                positions = {}
                for k, t in enumerate(toks):
                    positions.setdefault(t, []).append(k)
            # |pa + gap - pb| <= slop is Lucene's 2-term matchLength
            # (SloppyPhraseMatcher.java:200-236); two slots never share a
            # position
            if not all(
                any(a != b and abs(a + gap - b) <= slop
                    for a in positions.get(ta, ()) for b in positions.get(tb, ()))
                for ta, tb, gap, slop in sloppy
            ):
                continue
        out.append((sid, n))
    return out


def _match(docs: DataFrame, text_col: str, shapes) -> DataFrame:
    """(sid, doc_id, n_matched) of every matching (doc, clause shape) pair:
    Monitor's presearcher and CandidateMatcher in one mapInPandas pass.

    A shape is a dict: ``sid``; ``terms`` of which at least ``min_match``
    distinct ones must occur (their count is ``n_matched``); and optional
    ``nots`` (none may occur), ``phrases`` (exact token runs), ``patterns``
    (LIKE, some token matches each), ``sloppy`` (ta, tb, gap, slop),
    ``fuzzies`` (term, edits: some token within Damerau distance) and
    ``ranges`` (lo, hi: some token inside), every one of which must hold.
    The candidate index is built on the driver and ships in the task
    closure, so the driver holds every distinct shape."""
    index = _candidate_index(shapes)
    schema = StructType([
        StructField("sid", IntegerType()), docs.schema["doc_id"],
        StructField("n_matched", LongType()),
    ])

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = [(sid, d, n)
                    for d, text in zip(pdf["doc_id"].tolist(), pdf[text_col].tolist())
                    for sid, n in _verify_doc(text, index)]
            if rows:
                yield pd.DataFrame(rows, columns=["sid", "doc_id", "n_matched"])

    return docs.select("doc_id", text_col).mapInPandas(run, schema)


def _fan_out(matches: DataFrame, mapping: DataFrame, extra=()) -> DataFrame:
    # mapping is stored-query-sized (never doc-scaled): force the broadcast
    # so the match side is NOT shuffled for the fan-out (guide §3.1)
    return (
        matches.withColumnRenamed("sid", "__rep__")
        .join(F.broadcast(mapping), "__rep__")
        .select("qid", "doc_id", *extra)
    )


def _collect_small(df: DataFrame, cap: int):
    """Collect up to ``cap`` rows; None when the frame is larger (the
    caller takes its distributed registration path)."""
    rows = df.limit(cap + 1).collect()
    return None if len(rows) > cap else rows


def _driver_dedup(queries: DataFrame, shape_cols):
    """Driver-side analog of _dedup_stored for SMALL query tables: one
    collect instead of three shuffles. Returns (uniq_rows, mapping_df)
    where uniq_rows = [(rep_qid, shape_key)] — shape keys canonicalize
    arrays of terms to frozensets (semantically safe: every consumer is
    order/duplicate-insensitive) except phrases, which stay exact
    sequences. None when the table exceeds _DRIVER_DEDUP_QUERIES."""
    rows = _collect_small(queries.select("qid", *shape_cols), _DRIVER_DEDUP_QUERIES)
    if rows is None:
        return None

    def keyof(r):
        # NULL arrays group with [] — matching treats both as "no
        # constraint", so the merged group's results are identical
        parts = []
        for c in shape_cols:
            v = r[c]
            if c == "phrase":
                parts.append(tuple(v or []))
            elif v is None or isinstance(v, list):
                parts.append(frozenset(v or []))
            else:
                parts.append(v)
        return tuple(parts)

    groups: dict = {}
    for r in rows:
        groups.setdefault(keyof(r), []).append(int(r["qid"]))
    uniq_rows = [(min(qids), k) for k, qids in groups.items()]
    mapping_df = queries.sparkSession.createDataFrame(
        [(min(qids), q) for qids in groups.values() for q in qids],
        "__rep__ int, qid int",
    )
    return uniq_rows, mapping_df


def _dedup_stored(queries: DataFrame, shape_cols):
    """Collapse duplicate stored-query SHAPES to one representative qid
    (Monitor QueryIndex analog — the reference indexes each distinct query
    once and fans matches back out): alerting workloads repeat shapes
    massively, and the kernel verifies each distinct shape once per
    candidate doc. Returns (uniq, mapping): uniq holds one row per
    distinct shape under its min-qid representative; mapping (__rep__, qid)
    restores per-qid results — identical shapes match identical docs."""
    skey = F.sha2(F.to_json(F.struct(*[F.col(c) for c in shape_cols])), 256)
    qk = queries.withColumn("__skey__", skey)
    rep = qk.groupBy("__skey__").agg(F.min("qid").alias("__rep__"))
    qk = qk.join(rep, "__skey__")
    uniq = qk.filter(F.col("qid") == F.col("__rep__")).drop("__skey__", "__rep__")
    mapping = qk.select("__rep__", "qid")
    return uniq, mapping


def _registered(queries: DataFrame, shape_cols):
    """(uniq_rows, mapping) of the distinct stored-query shapes, as
    _driver_dedup returns them; a table past _DRIVER_DEDUP_QUERIES dedups
    through _dedup_stored and its distinct shapes are collected."""
    got = _driver_dedup(queries, shape_cols)
    if got is not None:
        return got
    uniq, mapping = _dedup_stored(queries.select("qid", *shape_cols), shape_cols)
    return [(r["qid"], tuple(r[c] for c in shape_cols)) for r in uniq.collect()], mapping


def percolate_batch(docs: DataFrame, queries: DataFrame, text_col: str = "text") -> DataFrame:
    """Match stored queries against a batch/stream of documents.

    ``queries``: (qid int, terms array<string>, min_match int) — a doc
    matches when >= min_match of the query's distinct terms occur in it;
    a ``min_match <= 0`` query matches every non-null doc. Returns
    (qid, doc_id, n_matched).

    Duplicate (terms, min_match) shapes match once and fan back out
    (Monitor QueryIndex dedup); each distinct shape runs through the
    per-doc kernel (``_match``, MemoryIndex.java:201 analog). The plan
    has no shuffle and no stateful aggregation, so it is the append-mode
    stream-static form (``percolate_stream``)."""
    rows, mapping = _registered(queries, ["terms", "min_match"])
    shapes = [{"sid": q, "terms": set(t or ()), "min_match": int(m)}
              for q, (t, m) in rows]
    return _fan_out(_match(docs, text_col, shapes), mapping, extra=("n_matched",))


def percolate_prefiltered(docs: DataFrame, queries: DataFrame, text_col: str = "text") -> DataFrame:
    """Percolation with the Monitor's query-index pre-filter contract
    (monitor/Monitor.java:42, CandidateMatcher.java): a (doc, query) pair
    is considered only when they SHARE a term, so ``n_matched >= 1`` holds
    on top of ``min_match``. Otherwise identical to ``percolate_batch``
    (same queries schema, same (qid, doc_id, n_matched) rows)."""
    rows, mapping = _registered(queries, ["terms", "min_match"])
    shapes = [{"sid": q, "terms": set(t or ()), "min_match": max(int(m), 1)}
              for q, (t, m) in rows]
    return _fan_out(_match(docs, text_col, shapes), mapping, extra=("n_matched",))


def percolate_full(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Percolation with the full stored-query shape the Monitor supports
    for boolean queries (monitor/Monitor.java:42, QueryDecomposer):

    ``queries``: (qid int, terms array<string>, min_match int,
                  not_terms array<string>, phrase array<string>)
    — a doc matches when >= max(min_match, 1) of ``terms`` occur, NONE of
    ``not_terms`` occur (empty/null = no exclusion), and ``phrase`` (an
    exact consecutive-token run; empty/null = no phrase) occurs. Returns
    (qid, doc_id, n_matched), one row per matching doc row.

    Distinct shapes run through the per-doc kernel (``_match``): the
    phrase is a substring test on the space-joined tokens, the NOTs a set
    lookup."""
    rows, mapping = _registered(queries, ["terms", "min_match", "not_terms", "phrase"])
    shapes = [
        {"sid": q, "terms": set(t or ()), "min_match": max(int(m), 1),
         "nots": set(n or ()), "phrases": [list(p)] if p else []}
        for q, (t, m, n, p) in rows
    ]
    return _fan_out(_match(docs, text_col, shapes), mapping, extra=("n_matched",))


def decompose_query(node, max_clauses: int = 64):
    """QueryDecomposer analog (monitor/QueryDecomposer.java:33): lower a
    parsed query tree to a disjunction of conjunctive clauses the
    percolator's per-doc kernel verifies. Each clause is
    ``{terms, nots, phrases, patterns, sloppy, fuzzies, ranges}``: the doc
    must contain EVERY term, NONE of the nots, every exact phrase
    (consecutive), at least one token matching every LIKE pattern, every
    sloppy 2-term phrase within its slop, at least one token within every
    fuzzy constraint's edit distance, and at least one token inside every
    term range. A doc matches the query when any clause matches.

    Matching semantics (scores are irrelevant to percolation):
    MUST clauses AND-merge (clause cross-product); SHOULD clauses form the
    disjunction — and are IGNORED when MUSTs exist (optional clauses never
    gate a match, BooleanQuery matching semantics); MUST_NOT must lower to
    pure terms (a term, or a boolean of SHOULD terms — De Morgan turns
    NOT(a OR b) into nots {a, b}).

    r6 (the Monitor's CandidateMatcher verify analog,
    monitor/CandidateMatcher.java — VERDICT r5 missing#5): sloppy TWO-term
    phrases ("a b"~2; the pair's terms also join the clause's required
    terms as the candidate anchor), fuzzy terms (term~1, Damerau), and
    term ranges ([lo TO hi]) lower to verified constraints.
    Still refused loudly: >2-term sloppy phrases, non-transposition fuzzy,
    field ranges, NOT over phrase/prefix, pure-negative booleans."""
    from .search.plan import (
        MUST,
        MUST_NOT,
        QBool,
        QFuzzy,
        QPhrase,
        QPrefix,
        QRange,
        QTerm,
        QWildcard,
        SHOULD,
    )

    def like_pattern(raw: str, star_suffix: bool = False) -> str:
        esc = raw.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        esc = esc.replace("*", "%").replace("?", "_")
        return esc + "%" if star_suffix else esc

    def pure_terms(n) -> set:
        if isinstance(n, QTerm):
            return {n.term}
        if isinstance(n, QBool) and all(
            occ == SHOULD and isinstance(c, QTerm) for occ, c in n.clauses
        ):
            return {c.term for _, c in n.clauses}
        raise NotImplementedError(
            f"MUST_NOT over {type(n).__name__} is not percolatable (only a "
            "term or a disjunction of terms lowers via De Morgan)"
        )

    def empty_clause():
        return {"terms": set(), "nots": set(), "phrases": [], "patterns": [],
                "sloppy": [], "fuzzies": [], "ranges": []}

    def merge(a, b):
        return {
            "terms": a["terms"] | b["terms"],
            "nots": a["nots"] | b["nots"],
            "phrases": a["phrases"] + b["phrases"],
            "patterns": a["patterns"] + b["patterns"],
            "sloppy": a["sloppy"] + b["sloppy"],
            "fuzzies": a["fuzzies"] + b["fuzzies"],
            "ranges": a["ranges"] + b["ranges"],
        }

    def one(**kw):
        c = empty_clause()
        c.update(kw)
        return [c]

    def dnf(n):
        if isinstance(n, QTerm):
            return one(terms={n.term})
        if isinstance(n, QPhrase):
            if n.slop != 0:
                if len(n.terms_off) != 2:
                    raise NotImplementedError(
                        "sloppy percolation supports 2-term phrases only"
                    )
                (ta, oa), (tb, ob) = n.terms_off
                # the pair's terms are ALSO required terms: they pick the
                # candidates, the position check verifies
                # (CandidateMatcher.java two-phase shape)
                return one(terms={ta, tb},
                           sloppy=[(ta, tb, int(ob - oa), int(n.slop))])
            terms = []
            for i, (t, off) in enumerate(n.terms_off):
                if off != i:
                    raise NotImplementedError(
                        "phrase with position holes is not percolatable "
                        "(parse stored queries with stop_words=frozenset())"
                    )
                terms.append(t)
            return one(phrases=[terms])
        if isinstance(n, QPrefix):
            return one(patterns=[like_pattern(n.prefix, star_suffix=True)])
        if isinstance(n, QWildcard):
            return one(patterns=[like_pattern(n.pattern)])
        if isinstance(n, QFuzzy):
            if not n.transpositions:
                raise NotImplementedError(
                    "fuzzy percolation supports Damerau (transpositions) only"
                )
            return one(fuzzies=[(n.term, int(n.max_edits))])
        if isinstance(n, QRange):
            if n.field is not None:
                raise NotImplementedError(
                    "field-range percolation unsupported (term ranges only)"
                )
            return one(ranges=[(n.lo, n.hi)])
        if isinstance(n, QBool):
            musts = [c for occ, c in n.clauses if occ == MUST]
            shoulds = [c for occ, c in n.clauses if occ == SHOULD]
            nots = [c for occ, c in n.clauses if occ == MUST_NOT]
            if musts:
                acc = [empty_clause()]
                for m in musts:
                    acc = [merge(a, b) for a in acc for b in dnf(m)]
                    if len(acc) > max_clauses:
                        raise ValueError(
                            f"query decomposes to >{max_clauses} clauses"
                        )
            elif shoulds:
                acc = [c for s in shoulds for c in dnf(s)]
                if len(acc) > max_clauses:
                    raise ValueError(f"query decomposes to >{max_clauses} clauses")
            else:
                raise NotImplementedError(
                    "pure-negative boolean is not percolatable (no positive leg)"
                )
            for nn in nots:
                nt = pure_terms(nn)
                for c in acc:
                    c["nots"] = c["nots"] | nt
            return acc
        raise NotImplementedError(
            f"{type(n).__name__} percolation unsupported (term/phrase/prefix/"
            "wildcard/boolean only)"
        )

    clauses = dnf(node)
    for c in clauses:
        if not (c["terms"] or c["phrases"] or c["patterns"]
                or c["fuzzies"] or c["ranges"]):
            raise NotImplementedError("clause with no positive constraint")
    return clauses


_CLAUSE_SCHEMA = (
    "qid int, cid int, terms array<string>, not_terms array<string>, "
    "phrases array<array<string>>, patterns array<string>, "
    "sloppy array<struct<ta:string,tb:string,gap:int,slop:int>>, "
    "fuzzies array<struct<fterm:string,fedits:int>>, "
    "ranges array<struct<rlo:string,rhi:string>>"
)


def _crow(qid, ci, c):
    return {
        "qid": int(qid), "cid": int(ci),
        "terms": sorted(c["terms"]), "not_terms": sorted(c["nots"]),
        "phrases": c["phrases"], "patterns": c["patterns"],
        "sloppy": [
            {"ta": a, "tb": b, "gap": int(g), "slop": int(s)}
            for a, b, g, s in c["sloppy"]
        ],
        "fuzzies": [
            {"fterm": t, "fedits": int(e)} for t, e in c["fuzzies"]
        ],
        "ranges": [{"rlo": lo, "rhi": hi} for lo, hi in c["ranges"]],
    }


def _set_dict(row) -> dict:
    """Canonical clause-shape dict from a _crow-shaped row/dict."""
    return {
        "terms": set(row["terms"] or []),
        "nots": set(row["not_terms"] or []),
        "phrases": [list(p) for p in (row["phrases"] or [])],
        "patterns": list(row["patterns"] or []),
        "sloppy": [
            (d["ta"], d["tb"], int(d["gap"]), int(d["slop"]))
            if isinstance(d, dict) else (d[0], d[1], int(d[2]), int(d[3]))
            for d in (row["sloppy"] or [])
        ],
        "fuzzies": [
            (d["fterm"], int(d["fedits"])) if isinstance(d, dict)
            else (d[0], int(d[1]))
            for d in (row["fuzzies"] or [])
        ],
        "ranges": [
            (d["rlo"], d["rhi"]) if isinstance(d, dict) else (d[0], d[1])
            for d in (row["ranges"] or [])
        ],
    }


def _set_key(s: dict) -> str:
    """Stable canonical key of a clause shape (identical key ⇒ identical
    match semantics: every constraint family is order-insensitive)."""
    return json.dumps([
        sorted(s["terms"]), sorted(s["nots"]),
        sorted(map(tuple, s["phrases"])), sorted(s["patterns"]),
        sorted(s["sloppy"]), sorted(s["fuzzies"]), sorted(s["ranges"]),
    ], default=list)


def percolate_tree(
    docs: DataFrame,
    stored,
    text_col: str = "text",
) -> DataFrame:
    """Arbitrary-query percolation: stored queries are STRINGS in the
    engine's query syntax (nested booleans, +must / -not, "phrases",
    prefix* and wild?card*, "a b"~2, term~1, [lo TO hi]), decomposed per
    QueryDecomposer (``decompose_query``).
    ``stored``: list of (qid, query_string) for small registration sets,
    OR a DataFrame(qid, query) — then parsing + decomposition run
    DISTRIBUTED inside mapInPandas (the registration path scales with the
    stored-query count).

    Stored queries are parsed with an empty stop set — the percolator's
    tokenizer is a plain whitespace split, so stopwords are ordinary
    terms here.

    Matching runs on DISTINCT clause shapes (Monitor QueryIndex analog),
    each requiring all of its terms, through the per-doc kernel
    (``_match``). A doc matches a query when it matches any of its
    clauses: the clause matches fold to distinct (query shape, doc) rows
    — a query shape is the set of clause shapes a query decomposes to —
    and the broadcast fan-out to qids is the last operator. Returns
    (qid, doc_id) distinct."""
    from .search.plan import parse_tree

    spark = docs.sparkSession

    if isinstance(stored, DataFrame):
        # small registration tables take the driver path outright (each
        # DISTINCT string parses once; one collect replaces the whole
        # distributed decomposition round-trip)
        qrows = _collect_small(stored.select("qid", "query"), 20_000)
        if qrows is not None:
            stored = [(r["qid"], r["query"]) for r in qrows]

    if isinstance(stored, DataFrame):
        import pandas as pd

        def decomp(pdf_iter):
            cache = {}
            for pdf in pdf_iter:
                rows = []
                for qid, qstr in zip(pdf["qid"], pdf["query"]):
                    qs = str(qstr)
                    if qs not in cache:
                        tree = parse_tree(qs, stop_words=frozenset())
                        cache[qs] = decompose_query(tree)
                    for ci, c in enumerate(cache[qs]):
                        rows.append(_crow(qid, ci, c))
                yield pd.DataFrame(
                    rows, columns=["qid", "cid", "terms", "not_terms",
                                   "phrases", "patterns", "sloppy",
                                   "fuzzies", "ranges"]
                )

        clauses = stored.mapInPandas(decomp, _CLAUSE_SCHEMA)
        skey = F.sha2(
            F.to_json(F.struct("terms", "not_terms", "phrases", "patterns",
                               "sloppy", "fuzzies", "ranges")), 256,
        )
        keyed = clauses.withColumn("skey", skey)
        set_rows = sorted(
            keyed.drop("qid", "cid").dropDuplicates(["skey"]).collect(),
            key=lambda r: r["skey"],
        )
        sets = [{**_set_dict(r), "sid": sid} for sid, r in enumerate(set_rows)]
        sid_df = spark.createDataFrame(
            [(r["skey"], sid) for sid, r in enumerate(set_rows)],
            "skey string, sid int",
        )
        qsig = (
            keyed.select("qid", "skey").distinct()
            .join(F.broadcast(sid_df), "skey")
            .groupBy("qid")
            .agg(F.sort_array(F.collect_set("sid")).alias("sig"))
        )
        shapes = qsig.groupBy("sig").agg(F.min("qid").alias("shape"))
        members = shapes.select(F.explode("sig").alias("sid"), "shape")
        qids = qsig.join(shapes, "sig").select(F.col("shape").alias("__rep__"), "qid")
    else:
        # list registration: parse + dedup entirely on the driver (each
        # DISTINCT query string parses once; alerting sets repeat massively)
        sig_of: dict = {}      # query string -> frozenset of clause sids
        shape_of: dict = {}    # clause-sid set -> query shape id
        sets_by_key: dict = {}
        qid_rows = []
        for qid, qstr in stored:
            qs = str(qstr)
            if qs not in sig_of:
                sids = set()
                for ci, c in enumerate(
                    decompose_query(parse_tree(qs, stop_words=frozenset()))
                ):
                    d = _set_dict(_crow(qid, ci, c))
                    d = sets_by_key.setdefault(_set_key(d), {**d, "sid": len(sets_by_key)})
                    sids.add(d["sid"])
                sig_of[qs] = frozenset(sids)
            qid_rows.append((shape_of.setdefault(sig_of[qs], len(shape_of)), int(qid)))
        sets = list(sets_by_key.values())
        members = spark.createDataFrame(
            [(sid, shape) for sig, shape in shape_of.items() for sid in sorted(sig)],
            "sid int, shape int",
        )
        qids = spark.createDataFrame(qid_rows, "__rep__ int, qid int")
    for s in sets:
        s["min_match"] = len(s["terms"])
    # a query matches when any of its clauses does: distinct (query
    # shape, doc) rows first, so the qid fan-out is the last operator
    hits = (
        _match(docs, text_col, sets)
        .join(F.broadcast(members), "sid")
        .select(F.col("shape").alias("sid"), "doc_id")
        .distinct()
    )
    return _fan_out(hits, qids)


def percolate_stream(spark: SparkSession, stream_df: DataFrame, queries: DataFrame,
                     text_col: str = "text", query_name: str = "percolator"):
    """Run the percolator as a Structured Streaming query into a memory
    sink. Returns the StreamingQuery; results at ``SELECT * FROM {name}``."""
    hits = percolate_batch(stream_df, queries, text_col)
    return (
        hits.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def incremental_append(spark: SparkSession, new_docs: DataFrame, index_dir: str, cfg=None):
    """NRT-append analog: index a new micro-batch of docs as fresh segments
    (docids continue after the current max, block binaries encoded with the
    offset baked in), then refresh the snapshot-global artifacts. Use from
    ``foreachBatch`` for a streaming ingest."""
    from .index.builder import append_to_index

    return append_to_index(spark, new_docs, index_dir, cfg)
