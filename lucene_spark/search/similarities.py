"""Pluggable similarities (SURVEY.md §2.4 "Other similarities").

Lucene ships a family of scoring models behind the ``Similarity`` seam
(``lucene/core/src/java/org/apache/lucene/search/similarities/``). This
module implements the most-used non-BM25 members with the reference's exact
formula shapes (behavior only, no code):

  ClassicSimilarity (TF-IDF, the historical default)
    idf  = log((docCount+1)/(docFreq+1)) + 1     [ClassicSimilarity.java:69-71]
    tf   = sqrt(freq)                            [ClassicSimilarity.java:50-52]
    norm = 1/sqrt(length)                        [ClassicSimilarity.java:44-46]
    score(freq, norm) = tf(freq) * (boost*idf) * normTable[norm]
                                                 [TFIDFSimilarity.java:467-472]
    normTable[i] = lengthNorm(LENGTH_TABLE[i]), normTable[0] = 1/normTable[255]
                                                 [TFIDFSimilarity.java:441-446]

  BooleanSimilarity
    score(freq, norm) = boost                    [BooleanSimilarity.java:48-51]

  LMDirichletSimilarity (mu = 2000)
    p_c   = (totalTermFreq+1) / (numberOfFieldTokens+1)
                                                 [LMSimilarity.java:144-158]
    score = boost * (log(1 + freq/(mu*p_c)) + log(mu/(docLen+mu))), floored
            at 0; computed in double, cast to float
                                                 [LMDirichletSimilarity.java:76-82]

  LMJelinekMercerSimilarity (lambda = 0.1)
    score = boost * log(1 + ((1-lambda)*freq/docLen) / (lambda*p_c))
                                                 [LMJelinekMercerSimilarity.java:68-74]

All are monotone increasing in tf and non-increasing in doclen, so the
per-block impact metadata (block_maxtf, block_mindl) yields sound score
upper bounds for every one of them — the block-max MAXSCORE/WAND clause
kernel (executor.make_clause_topk_fn) works unchanged with a bound
similarity plugged in: scoring and per-block bounds both route through
``BoundSimilarity.score``.

Parity vs oracle modes mirror BM25: parity scores through the byte4
quantized length (``SimilarityBase.BasicSimScorer.getLengthValue`` is
``LENGTH_TABLE[norm byte]``, SimilarityBase.java:180-182; TFIDF reads
``normTable[norm & 0xFF]``), float32 output; the float64 unquantized mode
uses the same expression shapes over raw doclens so a plain-SQL oracle
reproduces the scores bit-closely (rounded to 4 decimals).

Like the BM25 path, duplicate query terms contribute one scored clause per
occurrence; every formula here is linear in boost, so qtf folds into the
per-term weight (W = boost * qtf * idf for TF-IDF, boost * qtf otherwise).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Optional

import numpy as np

from pyspark.sql import Column, functions as F

from ..functions.smallfloat import LENGTH_TABLE, int_to_byte4
from .scorer import FieldStats, score_arrays


def _quantized_len(doclens: np.ndarray) -> np.ndarray:
    """LENGTH_TABLE[byte4(len)] — the decoded quantized length value
    (SimilarityBase.java:180-182)."""
    return LENGTH_TABLE[int_to_byte4(np.asarray(doclens, dtype=np.int64))]


class BoundSimilarity:
    """A similarity bound to one query: per-term weights precomputed from
    global stats; vectorized scoring + per-block upper bounds in engine
    dtype. Instances are closure-captured into the per-segment
    scorer tasks, so they hold only plain dicts/floats."""

    name: str = "?"
    #: per-term W (terms with df == 0 are dropped — no postings, weight 0)
    weights: Dict[str, float]

    def score(self, term: str, tfs: np.ndarray, dls: np.ndarray) -> np.ndarray:
        raise NotImplementedError

    def bound(self, term: str, max_tf: int, min_doclen: int) -> float:
        """Sound upper bound over any posting in a block: every formula is
        monotone up in tf, down in doclen (MaxScoreCache.java:74-130
        analog)."""
        return float(
            self.score(
                term, np.array([max_tf], np.int64), np.array([min_doclen], np.int64)
            )[0]
        )

    def phrase_score(self, freqs: np.ndarray, dls: np.ndarray) -> np.ndarray:
        """Phrase-freq scoring. PhraseWeight hands the similarity ONE
        TermStatistics per phrase-term occurrence; SimilarityBase.scorer
        wraps each in a BasicSimScorer and MultiSimilarity.MultiSimScorer
        sums their scores of the shared phrase freq
        (SimilarityBase.java:94-103, MultiSimilarity.java:70-78). TFIDF/BM25
        instead fold the stats into one summed idf — the same number here
        because every registered formula is linear in its per-term weight,
        so qtf (phrase-occurrence count, already folded into ``weights``)
        makes the per-distinct-term sum equal the per-occurrence sum.
        Accumulates in engine dtype like the reference's float loop."""
        out = None
        for t in self.weights:
            s = self.score(t, freqs, dls)
            out = s if out is None else out + s
        if out is None:
            return np.zeros(len(freqs), self.dtype)
        return out

    # ---- float64 SQL form (exhaustive path / oracle differential) ----
    def wdf_rows(self):
        """(term, w, pc) rows for the broadcast per-term table (pc unused
        by non-LM sims, kept for a uniform schema)."""
        return [(t, float(w), 0.0) for t, w in self.weights.items()]

    def score_col(self, tf: Column, doclen: Column) -> Column:
        """Spark float64 Column: per-posting clause score from the
        broadcast columns ``w``/``pc`` plus decoded tf/doclen."""
        raise NotImplementedError


@dataclass
class BM25Bound(BoundSimilarity):
    """Default similarity — delegates to scorer.score_arrays byte-for-byte
    (same function object the executor used before the seam existed)."""

    weights: Dict[str, float]
    avgdl: float
    quantize: bool
    dtype: type
    name = "bm25"

    def score(self, term, tfs, dls):
        return score_arrays(tfs, dls, self.weights[term], self.avgdl,
                            self.quantize, self.dtype)

    def score_col(self, tf, doclen):
        ninv = 1.0 / (
            F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * doclen / F.lit(self.avgdl))
        )
        return F.col("w") - F.col("w") / (F.lit(1.0) + tf.cast("double") * ninv)


class ClassicBound(BoundSimilarity):
    name = "classic"

    def __init__(self, qtf, term_stats, fstats: FieldStats, boost, quantize, dtype):
        self.quantize, self.dtype = quantize, dtype
        dt = dtype
        self.weights = {}
        for t, q in qtf.items():
            df = term_stats.get(t, (0, 0))[0]
            if df <= 0:
                continue
            idf = dt(np.log((fstats.doc_count + 1) / np.float64(df + 1)) + 1.0)
            self.weights[t] = float(dt(boost) * dt(q) * idf)
        # normTable[i] = 1/sqrt(LENGTH_TABLE[i]); [0] = 1/normTable[255]
        with np.errstate(divide="ignore"):
            nt = (1.0 / np.sqrt(LENGTH_TABLE.astype(np.float64))).astype(dt)
        nt[0] = dt(1.0) / nt[255]
        self._norm_table = nt

    def score(self, term, tfs, dls):
        dt = self.dtype
        w = dt(self.weights[term])
        raw = np.sqrt(np.asarray(tfs, dtype=dt)) * w
        if self.quantize:
            norm = self._norm_table[int_to_byte4(np.asarray(dls, np.int64))]
        else:
            norm = (1.0 / np.sqrt(np.asarray(dls, dtype=np.float64))).astype(dt)
        return raw * norm

    def score_col(self, tf, doclen):
        return F.sqrt(tf.cast("double")) * F.col("w") / F.sqrt(doclen.cast("double"))


class BooleanBound(BoundSimilarity):
    name = "boolean"

    def __init__(self, qtf, term_stats, fstats, boost, quantize, dtype):
        self.dtype = dtype
        self._boost = float(dtype(boost))
        self.weights = {
            t: float(dtype(boost) * dtype(q))
            for t, q in qtf.items()
            if term_stats.get(t, (0, 0))[0] > 0
        }

    def score(self, term, tfs, dls):
        return np.full(len(tfs), self.weights[term], dtype=self.dtype)

    def phrase_score(self, freqs, dls):
        # BooleanSimilarity.scorer ignores the TermStatistics array entirely
        # and returns ONE boost scorer (BooleanSimilarity.java:43-51): a
        # matching phrase scores boost, not boost * n_terms
        return np.full(len(freqs), self._boost, dtype=self.dtype)

    def score_col(self, tf, doclen):
        return F.col("w")


class _LMBound(BoundSimilarity):
    """Shared LM machinery: p_c per term + quantized-or-raw doc length;
    double-precision math with a final cast (SimilarityBase.java:185-187)."""

    def __init__(self, qtf, term_stats, fstats: FieldStats, boost, quantize, dtype):
        self.quantize, self.dtype = quantize, dtype
        self.weights, self.pc = {}, {}
        for t, q in qtf.items():
            df, ttf = term_stats.get(t, (0, 0))
            if df <= 0:
                continue
            self.weights[t] = float(boost) * float(q)
            self.pc[t] = (ttf + 1.0) / (fstats.sum_total_term_freq + 1.0)

    def _doclen(self, dls):
        # float64 throughout: SimilarityBase does all math in double
        # (SimilarityBase.java:185-187); LENGTH_TABLE is float32 and numpy's
        # weak-scalar promotion would otherwise keep the whole term in f32
        if self.quantize:
            return _quantized_len(dls).astype(np.float64)
        return np.asarray(dls, np.float64)

    def wdf_rows(self):
        return [(t, float(w), float(self.pc[t])) for t, w in self.weights.items()]


class LMDirichletBound(_LMBound):
    name = "lm_dirichlet"
    mu = 2000.0

    def score(self, term, tfs, dls):
        tfs = np.asarray(tfs, np.float64)
        dl = self._doclen(dls)
        # log(1 + x), not log1p: mirrors Math.log(1 + freq/(mu*p)) bit-for-bit
        # (LMDirichletSimilarity.java:79)
        s = self.weights[term] * (
            np.log(1.0 + tfs / (self.mu * self.pc[term]))
            + np.log(self.mu / (dl + self.mu))
        )
        return np.maximum(s, 0.0).astype(self.dtype)

    def score_col(self, tf, doclen):
        mu = F.lit(self.mu)
        s = F.col("w") * (
            F.log(F.lit(1.0) + tf.cast("double") / (mu * F.col("pc")))
            + F.log(mu / (doclen.cast("double") + mu))
        )
        return F.greatest(s, F.lit(0.0))


class LMJelinekMercerBound(_LMBound):
    name = "lm_jelinek_mercer"
    lam = 0.1

    def score(self, term, tfs, dls):
        tfs = np.asarray(tfs, np.float64)
        dl = self._doclen(dls)
        # log(1 + x) like the reference (LMJelinekMercerSimilarity.java:70-73)
        s = self.weights[term] * np.log(
            1.0 + ((1.0 - self.lam) * tfs / dl) / (self.lam * self.pc[term])
        )
        return s.astype(self.dtype)

    def score_col(self, tf, doclen):
        lam = F.lit(self.lam)
        return F.col("w") * F.log(
            F.lit(1.0)
            + ((F.lit(1.0) - lam) * tf.cast("double") / doclen.cast("double"))
            / (lam * F.col("pc"))
        )


class DFRIneLH2Bound(BoundSimilarity):
    """DFRSimilarity(BasicModelIne, AfterEffectL, NormalizationH2(c=1)) —
    the canonical divergence-from-randomness config:
      tfn = tf * log2(1 + c * avgdl / dl)      [NormalizationH2.java:57-58]
      ne  = N * (1 - ((N-1)/N)^F), F = ttf
      A   = log2((N+1)/(ne+0.5))               [BasicModelIne.java:34-45]
      score = boost * A * 1 * (1 - 1/(1+tfn))  [DFRSimilarity.java:127-131,
                                                AfterEffectL scoreTimes1pTfn=1]
    Monotone up in tf, down in doclen -> impact bounds stay sound."""

    name = "dfr_ine_l_h2"
    c = 1.0
    _LN2 = float(np.log(np.float64(2.0)))

    def __init__(self, qtf, term_stats, fstats: FieldStats, boost, quantize, dtype):
        self.quantize, self.dtype = quantize, dtype
        self.avgdl = float(fstats.avgdl())
        n = float(fstats.doc_count)
        self.weights = {}
        for t, q in qtf.items():
            df, ttf = term_stats.get(t, (0, 0))
            if df <= 0:
                continue
            ne = n * (1.0 - np.power((n - 1.0) / n, float(ttf)))
            # log2 = ln/LOG_2 exactly like SimilarityBase.log2 (not np.log2)
            a = float(np.log((n + 1.0) / (ne + 0.5))) / self._LN2
            self.weights[t] = float(boost) * float(q) * float(a)

    def _doclen(self, dls):
        if self.quantize:
            return _quantized_len(dls).astype(np.float64)
        return np.asarray(dls, np.float64)

    def score(self, term, tfs, dls):
        tfn = np.asarray(tfs, np.float64) * (
            np.log(1.0 + self.c * self.avgdl / self._doclen(dls)) / self._LN2
        )
        s = self.weights[term] * (1.0 - 1.0 / (1.0 + tfn))
        return s.astype(self.dtype)

    def score_col(self, tf, doclen):
        ln2 = F.lit(float(np.log(2.0)))
        tfn = tf.cast("double") * F.log(
            F.lit(1.0) + F.lit(self.c * self.avgdl) / doclen.cast("double")
        ) / ln2
        return F.col("w") * (F.lit(1.0) - F.lit(1.0) / (F.lit(1.0) + tfn))


class IBLLDFH2Bound(BoundSimilarity):
    """IBSimilarity(DistributionLL, LambdaDF, NormalizationH2(c=1)) — the
    information-based family (IBSimilarity.java:115-118):
      tfn    = tf * log2(1 + c * avgdl / dl)   [NormalizationH2.java:57-58]
      lambda = (float)((df + 1) / (N + 1))     [LambdaDF.java:32-38 — the
               reference computes lambda in FLOAT; the parity mode casts]
      score  = boost * -ln(lambda / (tfn + lambda))
                                               [DistributionLL.java:33-35]
    Monotone up in tf, down in doclen -> impact bounds stay sound."""

    name = "ib_ll_df_h2"
    c = 1.0
    _LN2 = float(np.log(np.float64(2.0)))

    def __init__(self, qtf, term_stats, fstats: FieldStats, boost, quantize, dtype):
        self.quantize, self.dtype = quantize, dtype
        self.avgdl = float(fstats.avgdl())
        n = float(fstats.doc_count)
        self.weights, self.pc = {}, {}
        for t, q in qtf.items():
            df, ttf = term_stats.get(t, (0, 0))
            if df <= 0:
                continue
            self.weights[t] = float(boost) * float(q)
            lam = dtype((df + 1.0) / (n + 1.0)) if dtype == np.float32 else (
                (df + 1.0) / (n + 1.0)
            )
            self.pc[t] = float(lam)

    def _doclen(self, dls):
        if self.quantize:
            return _quantized_len(dls).astype(np.float64)
        return np.asarray(dls, np.float64)

    def score(self, term, tfs, dls):
        tfn = np.asarray(tfs, np.float64) * (
            np.log(1.0 + self.c * self.avgdl / self._doclen(dls)) / self._LN2
        )
        lam = self.pc[term]
        s = self.weights[term] * -np.log(lam / (tfn + lam))
        return s.astype(self.dtype)

    def score_col(self, tf, doclen):
        ln2 = F.lit(self._LN2)
        tfn = tf.cast("double") * F.log(
            F.lit(1.0) + F.lit(self.c * self.avgdl) / doclen.cast("double")
        ) / ln2
        return F.col("w") * -F.log(F.col("pc") / (tfn + F.col("pc")))

    def wdf_rows(self):
        return [(t, float(w), float(self.pc[t])) for t, w in self.weights.items()]


class DFIStandardizedBound(BoundSimilarity):
    """DFISimilarity(IndependenceStandardized) — divergence from
    independence (DFISimilarity.java:69-81):
      expected = (ttf+1) * docLen / (numberOfFieldTokens+1)
      score    = 0                         when freq <= expected
                 boost * log2((freq - expected)/sqrt(expected) + 1)
                                           (IndependenceStandardized.java:33-35)
    Monotone up in tf; down in doclen (expected grows with docLen), so the
    impact bounds stay sound."""

    name = "dfi_standardized"
    _LN2 = float(np.log(np.float64(2.0)))

    def __init__(self, qtf, term_stats, fstats: FieldStats, boost, quantize, dtype):
        self.quantize, self.dtype = quantize, dtype
        self.tokens = float(fstats.sum_total_term_freq)
        self.weights, self.pc = {}, {}
        for t, q in qtf.items():
            df, ttf = term_stats.get(t, (0, 0))
            if df <= 0:
                continue
            self.weights[t] = float(boost) * float(q)
            # expected-per-unit-doclen rides the pc column
            self.pc[t] = (ttf + 1.0) / (self.tokens + 1.0)

    def _doclen(self, dls):
        if self.quantize:
            return _quantized_len(dls).astype(np.float64)
        return np.asarray(dls, np.float64)

    def score(self, term, tfs, dls):
        tfs = np.asarray(tfs, np.float64)
        expected = self.pc[term] * self._doclen(dls)
        # clamp before the log: rows at/under expected are zeroed below,
        # but a large negative measure would otherwise log() a negative
        measure = np.maximum((tfs - expected) / np.sqrt(expected), 0.0)
        s = self.weights[term] * (np.log(measure + 1.0) / self._LN2)
        return np.where(tfs <= expected, 0.0, s).astype(self.dtype)

    def score_col(self, tf, doclen):
        expected = F.col("pc") * doclen.cast("double")
        measure = (tf.cast("double") - expected) / F.sqrt(expected)
        s = F.col("w") * (F.log(measure + F.lit(1.0)) / F.lit(self._LN2))
        return F.when(tf.cast("double") <= expected, F.lit(0.0)).otherwise(s)

    def wdf_rows(self):
        return [(t, float(w), float(self.pc[t])) for t, w in self.weights.items()]


class AxiomaticF2EXPBound(BoundSimilarity):
    """AxiomaticF2EXP (s=0.25, k=0.35) — the axiomatic retrieval family
    (Axiomatic.java:106-117, AxiomaticF2EXP.java:57-85):
      score = boost * [freq / (freq + s + s*docLen/avgdl)]
                    * ((N+1)/df)^k            (tf=ln=1, gamma=0)
    Monotone up in freq, down in docLen -> impact bounds sound."""

    name = "axiomatic_f2exp"
    s = 0.25
    k = 0.35

    def __init__(self, qtf, term_stats, fstats: FieldStats, boost, quantize, dtype):
        self.quantize, self.dtype = quantize, dtype
        self.avgdl = float(fstats.avgdl())
        n = float(fstats.doc_count)
        self.weights = {}
        for t, q in qtf.items():
            df, _ttf = term_stats.get(t, (0, 0))
            if df <= 0:
                continue
            idf = float(np.power((n + 1.0) / float(df), self.k))
            self.weights[t] = float(boost) * float(q) * idf

    def _doclen(self, dls):
        if self.quantize:
            return _quantized_len(dls).astype(np.float64)
        return np.asarray(dls, np.float64)

    def score(self, term, tfs, dls):
        tfs = np.asarray(tfs, np.float64)
        tfln = tfs / (tfs + self.s + self.s * self._doclen(dls) / self.avgdl)
        s = self.weights[term] * tfln
        return np.maximum(s, 0.0).astype(self.dtype)

    def score_col(self, tf, doclen):
        tfd = tf.cast("double")
        tfln = tfd / (
            tfd + F.lit(self.s) + F.lit(self.s) * doclen.cast("double") / F.lit(self.avgdl)
        )
        return F.col("w") * tfln


_REGISTRY = {
    "classic": ClassicBound,
    "boolean": BooleanBound,
    "lm_dirichlet": LMDirichletBound,
    "lm_jelinek_mercer": LMJelinekMercerBound,
    "dfr_ine_l_h2": DFRIneLH2Bound,
    "ib_ll_df_h2": IBLLDFH2Bound,
    "dfi_standardized": DFIStandardizedBound,
    "axiomatic_f2exp": AxiomaticF2EXPBound,
}


def validate_similarity(name: Optional[str]) -> None:
    """Raise on an unknown similarity name (None/"bm25" is the default)."""
    if name is not None and name != "bm25" and name not in _REGISTRY:
        raise ValueError(f"unknown similarity {name!r}; have {sorted(_REGISTRY)}")


def bind_similarity(
    name: Optional[str],
    qtf: Dict[str, int],
    term_stats: Dict[str, tuple],
    fstats: FieldStats,
    boost: float = 1.0,
    quantize: bool = True,
    dtype=np.float32,
) -> Optional[BoundSimilarity]:
    """Resolve a similarity name to a query-bound scorer (None / "bm25" ->
    None: the executor keeps its existing BM25 fast path untouched)."""
    if name is None or name == "bm25":
        return None
    cls = _REGISTRY.get(name)
    if cls is None:
        raise ValueError(f"unknown similarity {name!r}; have {sorted(_REGISTRY)}")
    return cls(qtf, term_stats, fstats, boost, quantize, dtype)
