"""Passage highlighting from the positions stream.

UnifiedHighlighter-lite (lucene/highlighter/src/java/org/apache/lucene/
search/uhighlight/UnifiedHighlighter.java:103): for each top-k hit, find
the best passage for the query terms. Differences from the reference,
stated: passages are fixed-width POSITION windows anchored at query-term
occurrences (the reference breaks on sentences via BreakIterator), and a
passage scores the sum of the idf of every query-term occurrence inside
the window (the reference's PassageScorer adds a tf-normalization,
uhighlight/PassageScorer.java:66). Both simplifications keep the choice
deterministic and SQL-expressible for the oracle.

Execution shape: the top-k docids (bounded by the user's k, never
data-sized) broadcast into a per-segment positions decode restricted to
candidate blocks — the same two-phase trick as PhraseQuery — and the
window scan is a vectorized cumsum over each doc's merged occurrence
list. Best window = max score, tie -> smallest start (scores rounded to 6
decimals before comparison so float noise cannot flip the tie-break
between engine and oracle).
"""

from __future__ import annotations

from typing import Dict, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from .plan import NormalizedQuery

HL_SCHEMA = (
    "docid long, passage_start int, passage_end int, n_hits int,"
    " passage_score double"
)


def make_highlight_fn(weights: Dict[str, float], docids: np.ndarray, width: int):
    from .executor import _decode_rows_pos, _live_mask

    terms = sorted(weights)

    def run(key, rows: Dict[str, dict], deleted: Optional[np.ndarray]) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "docid": np.empty(0, np.int64),
                "passage_start": np.empty(0, np.int32),
                "passage_end": np.empty(0, np.int32),
                "n_hits": np.empty(0, np.int32),
                "passage_score": np.empty(0, np.float64),
            }
        )
        counters = [0, 0]
        sel = docids
        live = _live_mask(sel, deleted)
        if live is not None:
            sel = sel[live]
        if len(sel) == 0:
            return empty

        # per-doc merged (position, weight) occurrence lists
        occ_pos: Dict[int, list] = {}
        occ_w: Dict[int, list] = {}
        for t in terms:
            if t not in rows:
                continue
            ids, tfs, _dls, pos = _decode_rows_pos(rows[t], sel, counters)
            w = weights[t]
            bounds = np.concatenate(([0], np.cumsum(tfs)))
            for i, d in enumerate(ids):
                ps = pos[bounds[i] : bounds[i + 1]]
                occ_pos.setdefault(int(d), []).extend(int(p) for p in ps)
                occ_w.setdefault(int(d), []).extend([w] * len(ps))

        out = {k: [] for k in ("docid", "start", "end", "nh", "score")}
        for d in sorted(occ_pos):
            p = np.array(occ_pos[d], dtype=np.int64)
            w = np.array(occ_w[d], dtype=np.float64)
            order = np.argsort(p, kind="stable")
            p, w = p[order], w[order]
            cs = np.concatenate(([0.0], np.cumsum(w)))
            js = np.searchsorted(p, p + width, "left")
            scores = np.round(cs[js] - cs[np.arange(len(p))], 6)
            best = np.lexsort((p, -scores))[0]
            out["docid"].append(d)
            out["start"].append(int(p[best]))
            out["end"].append(int(p[js[best] - 1]))
            out["nh"].append(int(js[best] - best))
            out["score"].append(float(scores[best]))
        return pd.DataFrame(
            {
                "docid": np.array(out["docid"], dtype=np.int64),
                "passage_start": np.array(out["start"], dtype=np.int32),
                "passage_end": np.array(out["end"], dtype=np.int32),
                "n_hits": np.array(out["nh"], dtype=np.int32),
                "passage_score": np.array(out["score"], dtype=np.float64),
            }
        )

    return run


def highlight_topk(
    index,
    q: NormalizedQuery,
    k: int = 10,
    width: int = 20,
) -> DataFrame:
    """Top-k hits with their best passage: (docid, score, passage_start,
    passage_end, n_hits, passage_score), ordered like the hit list (score
    desc, docid asc). Scores are the float64 oracle-comparable mode."""
    from .executor import require_positions

    require_positions(index, "highlighting")
    from .executor import apply_per_segment, search_topk
    from .scorer import idf as _idf

    spark = index.spark
    empty = spark.createDataFrame(
        [], "docid long, score double, passage_start int, passage_end int,"
        " n_hits int, passage_score double"
    )
    # r7: the hit list comes from the PRUNED block-max path in the same
    # float64/unquantized mode the exhaustive pass used — identical top-k
    # (pruned==exhaustive differentials + oracle rows), but only ~1-6% of
    # blocks decode on hot-term queries
    top = search_topk(index, q, k=k, quantize=False, dtype=np.float64)
    top_rows = top.collect()  # k rows, bounded by the user's k
    if not top_rows:
        return empty
    docids = np.array(sorted(r["docid"] for r in top_rows), dtype=np.int64)
    terms = sorted(q.scoring_terms)
    stats = index.term_stats_for(terms)
    n = index.field_stats.doc_count
    weights = {
        t: float(_idf(stats[t][0], n, np.float64)) for t in terms if t in stats
    }
    if not weights:
        return empty
    fn = make_highlight_fn(weights, docids, int(width))
    hl = apply_per_segment(index, sorted(weights), fn, HL_SCHEMA,
                           streams=("block_data", "block_pos"))
    top_df = F.broadcast(
        spark.createDataFrame(
            [(int(r["docid"]), float(r["score"])) for r in top_rows],
            "docid long, score double",
        )
    )
    return (
        top_df.join(hl, "docid")
        .orderBy(F.col("score").desc(), F.col("docid").asc())
    )


# ---------------------------------------------------------------------------
# Sentence-aware passages (UnifiedHighlighter + PassageScorer parity)
# ---------------------------------------------------------------------------

import re as _re

# BreakIterator.getSentenceInstance analog (UnifiedHighlighter.java:113):
# a sentence ends after [.!?;]+ (plus any closing quotes/brackets) followed
# by whitespace, or at a newline. The trailing whitespace belongs to the
# PRECEDING sentence, like the JDK iterator. Divergence (documented): the
# ICU/JDK locale rules for abbreviations ("e.g. ") are not modeled.
_SENT_RE = _re.compile(r"[.!?;]+[\"'\)\]]*\s+|\n+")


def sentence_bounds(text: str):
    """Sorted sentence start offsets, always beginning at 0, plus the text
    length as the final bound: passages snap to [bounds[i], bounds[i+1])."""
    bounds = [0]
    for m in _SENT_RE.finditer(text):
        if m.end() < len(text):
            bounds.append(m.end())
    bounds.append(len(text))
    return bounds


def score_passage(matches, passage_start: int, passage_len: int,
                  content_len: int, doc_tf: Dict[str, int],
                  k1: float = 1.2, b: float = 0.75,
                  pivot: float = 87.0) -> float:
    """PassageScorer.score (uhighlight/PassageScorer.java:66-137):
    norm(start) * sum over unique matched terms of
    tf(freqInPassage, passageLen) * weight(contentLength, freqInDoc) with
    weight = (k1+1)*ln(1 + (numDocs+0.5)/(ttf+0.5)), numDocs = 1 +
    contentLength/pivot; tf = f/(f + k1*((1-b) + b*len/pivot));
    norm = 1 + 1/ln(pivot + start)."""
    import math

    in_passage: Dict[str, int] = {}
    for term, _s, _e in matches:
        in_passage[term] = in_passage.get(term, 0) + 1
    num_docs = 1.0 + content_len / pivot
    score = 0.0
    for term, f in in_passage.items():
        w = (k1 + 1.0) * math.log(1.0 + (num_docs + 0.5) / (doc_tf.get(term, f) + 0.5))
        tfn = f / (f + k1 * ((1.0 - b) + b * (passage_len / pivot)))
        score += tfn * w
    return score * (1.0 + 1.0 / math.log(pivot + passage_start))


def build_passages(content: str, matches, max_passages: int,
                   pre: str = "<b>", post: str = "</b>"):
    """FieldHighlighter.highlightOffsetsEnums analog: walk matches in
    offset order, open a new passage (snapped to the enclosing sentence
    bounds) whenever a match starts past the current passage's end, score
    each passage, keep the top ``max_passages`` (score desc, start asc),
    render them in document order joined by "... " with matches wrapped in
    pre/post (DefaultPassageFormatter.java:71)."""
    import bisect

    if not matches:
        return "", 0.0, 0
    bounds = sentence_bounds(content)
    matches = sorted(matches, key=lambda m: (m[1], m[2]))
    doc_tf: Dict[str, int] = {}
    for term, _s, _e in matches:
        doc_tf[term] = doc_tf.get(term, 0) + 1
    passages = []  # (start, end, [matches])
    cur = None
    for term, s, e in matches:
        if cur is not None and s < cur[1]:
            cur[2].append((term, s, e))
            if e > cur[1]:  # match crosses the passage end: extend
                cur[1] = min(e, len(content))
            continue
        ps = bounds[max(bisect.bisect_right(bounds, s) - 1, 0)]
        pe = bounds[min(bisect.bisect_left(bounds, max(e, ps + 1)), len(bounds) - 1)]
        if pe <= e:  # match crosses the last bound
            pe = len(content)
        cur = [ps, pe, [(term, s, e)]]
        passages.append(cur)
    scored = [
        (score_passage(ms, ps, pe - ps, len(content), doc_tf), ps, pe, ms)
        for ps, pe, ms in passages
    ]
    top = sorted(scored, key=lambda t: (-round(t[0], 9), t[1]))[:max_passages]
    top.sort(key=lambda t: t[1])  # render in document order
    pieces = []
    n_hits = 0
    for _sc, ps, pe, ms in top:
        out, cursor = [], ps
        for term, s, e in ms:
            if s < cursor:
                continue  # overlapping duplicate (stacked term)
            out.append(content[cursor:s])
            out.append(pre)
            out.append(content[s:e])
            out.append(post)
            cursor = e
            n_hits += 1
        out.append(content[cursor:pe])
        pieces.append("".join(out).strip())
    total = sum(t[0] for t in top)
    return "... ".join(pieces), round(total, 6), n_hits


PASSAGE_SCHEMA = "docid long, snippet string, passage_score double, n_hits int"


def passage_highlight_topk(
    index,
    q: NormalizedQuery,
    k: int = 10,
    max_passages: int = 2,
    source: str = "auto",
) -> DataFrame:
    """Top-k hits with sentence-snapped best passages (UnifiedHighlighter
    parity shape): (docid, score, snippet, passage_score, n_hits) ordered
    like the hit list. ``source``: 'postings' reads the stored offsets
    stream (index_offsets=True builds, OffsetSource.POSTINGS), 'analysis'
    re-tokenizes the k stored docs (OffsetSource.ANALYSIS), 'auto' picks
    postings when the index has them.

    Scale shape: top-k bounds everything — the postings decode is
    candidate-restricted to the k docids, re-analysis touches exactly k
    stored rows inside one mapInPandas; no full-corpus work either way."""
    from .executor import search_topk, term_offsets_for_docs

    spark = index.spark
    empty = spark.createDataFrame(
        [], "docid long, score double, snippet string, passage_score double,"
        " n_hits int"
    )
    if source == "auto":
        source = "postings" if index.has_offsets else "analysis"
    if source == "postings" and index.has_offsets is False:
        raise ValueError(
            "index has no offsets stream (IndexConfig(index_offsets=True)); "
            "use source='analysis'"
        )
    # r7: pruned hit list (same float64 scores as the exhaustive pass)
    top_rows = search_topk(index, q, k=k, quantize=False, dtype=np.float64).collect()
    if not top_rows:
        return empty
    docids = np.array(sorted(r["docid"] for r in top_rows), dtype=np.int64)
    terms = sorted(q.scoring_terms)
    content_col = "content" if "content" in index.docs.columns else None
    if content_col is None:
        raise ValueError("passage highlighting needs stored content (keep_content=True)")
    hyd = index.docs.filter(F.col("docid").isin([int(d) for d in docids])).select(
        "docid", F.col(content_col).alias("__content__")
    )

    mp = int(max_passages)
    if source == "postings":
        offs = term_offsets_for_docs(index, terms, docids)
        grouped = offs.groupBy("docid").agg(
            F.collect_list(F.struct("term", "start", "end")).alias("__occ__")
        )
        joined = hyd.join(grouped, "docid", "left")

        def assemble(pdf_iter):
            for pdf in pdf_iter:
                rows = {"docid": [], "snippet": [], "passage_score": [], "n_hits": []}
                for _, r in pdf.iterrows():
                    occ = r["__occ__"]
                    ms = (
                        [(o["term"], int(o["start"]), int(o["end"])) for o in occ]
                        if occ is not None and len(occ) else []
                    )
                    snip, psc, nh = build_passages(r["__content__"] or "", ms, mp)
                    rows["docid"].append(int(r["docid"]))
                    rows["snippet"].append(snip)
                    rows["passage_score"].append(psc)
                    rows["n_hits"].append(nh)
                yield pd.DataFrame(rows)

        hl = joined.mapInPandas(assemble, PASSAGE_SCHEMA)
    else:
        tset = set(terms)

        def assemble(pdf_iter):
            from lucene_spark.analysis import _lower_cp, tokenize_with_spans

            for pdf in pdf_iter:
                rows = {"docid": [], "snippet": [], "passage_score": [], "n_hits": []}
                for _, r in pdf.iterrows():
                    content = r["__content__"] or ""
                    ms = [
                        (low, s, e)
                        for tok, s, e in tokenize_with_spans(content)
                        if (low := _lower_cp(tok)) in tset
                    ]
                    snip, psc, nh = build_passages(content, ms, mp)
                    rows["docid"].append(int(r["docid"]))
                    rows["snippet"].append(snip)
                    rows["passage_score"].append(psc)
                    rows["n_hits"].append(nh)
                yield pd.DataFrame(rows)

        hl = hyd.mapInPandas(assemble, PASSAGE_SCHEMA)

    top_df = F.broadcast(
        spark.createDataFrame(
            [(int(r["docid"]), float(r["score"])) for r in top_rows],
            "docid long, score double",
        )
    )
    return (
        top_df.join(hl, "docid")
        .orderBy(F.col("score").desc(), F.col("docid").asc())
    )
