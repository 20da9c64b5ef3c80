"""MultiReader analog: search several independently built index shards as
one logical index (index/MultiReader.java:44, IndexSearcher over composite
readers).

Lucene's MultiReader concatenates leaf readers and rebases docids by a
per-leaf docBase; collection/term statistics aggregate across leaves
(IndexSearcher.termStatistics sums df/ttf over all contexts). Here each
shard is a full index directory built on its own (per-tenant, per-day,
per-bucket — the natural 100 TB layout), and a query runs as ONE Spark
job: every shard's segments are dealt into the same slices, each scored
by its shard's pruned kernel under shard-OVERRIDDEN global statistics,
each slice cut to k, and the driver merges the slices (executor
._gather_topk). No shard's data is rewritten and nothing leaves a task
but its k-row cut.

Statistics: weights (idf, p_c, ...) must come from the COMBINED corpus or
shards would score incomparably — ``_StatsView`` wraps each shard and
overrides ``field_stats`` / ``term_stats_for`` with the aggregated values,
so every executor path (BM25 fast path and every registered similarity,
WAND bounds, theta seeding) sees the union corpus. With globally unique
user docids the result is bit-identical to a single combined index
(tests/test_multireader.py differential; the driver oracle scores the
union corpus in SQL).

Docids: the reference rebases (docBase); an engine whose builds take a
user ``docid_col`` already has global ids, so results merge without
renumbering. Shards WITH colliding ids stay addressable via the ``shard``
output column (LeafReaderContext.ord analog).
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession

from .executor import (
    Index,
    _flat_source,
    _gather_topk,
    _hits_frame,
    _phrase_offsets,
    _phrase_source,
    require_positions,
)
from .scorer import FieldStats


def open_shards(spark: SparkSession, dirs: Sequence[str]) -> List[Index]:
    """Open every shard directory (DirectoryReader per leaf)."""
    from ..index.builder import IndexPaths

    if not dirs:
        raise ValueError("no shard directories")
    shards = [Index(spark, IndexPaths(d)) for d in dirs]
    # shards tokenized under different chains hold incomparable vocabularies
    # — the same corruption append_to_index's fingerprint guard refuses
    prints = {i.analysis_fingerprint for i in shards if i.analysis_fingerprint}
    if len(prints) > 1:
        raise ValueError(
            f"shards disagree on the analysis chain (fingerprints {sorted(prints)}); "
            "a MultiReader over mixed vocabularies would silently mis-score"
        )
    # a MIX of stamped and unstamped (pre-fingerprint) shards is the same
    # hazard with less evidence — refuse rather than silently pass (ADVICE
    # r5); all-unstamped stays allowed (nothing to compare, caller's call)
    if prints and any(not i.analysis_fingerprint for i in shards):
        unstamped = [d for d, i in zip(dirs, shards) if not i.analysis_fingerprint]
        raise ValueError(
            "some shards carry an analysis fingerprint and others predate "
            f"stamping ({unstamped}); rebuild or refinalize the unstamped "
            "shards so chain compatibility can be verified"
        )
    return shards


def combined_field_stats(indexes: Sequence[Index]) -> FieldStats:
    """Aggregate collection statistics across leaves
    (CollectionStatistics sums, IndexSearcher.collectionStatistics)."""
    return FieldStats(
        max_doc=sum(i.field_stats.max_doc for i in indexes),
        doc_count=sum(i.field_stats.doc_count for i in indexes),
        sum_total_term_freq=sum(i.field_stats.sum_total_term_freq for i in indexes),
        sum_doc_freq=sum(i.field_stats.sum_doc_freq for i in indexes),
        max_dl=max(int(getattr(i.field_stats, "max_dl", 0) or 0) for i in indexes),
    )


def combined_term_stats(
    indexes: Sequence[Index], terms: Sequence[str]
) -> Dict[str, Tuple[int, int]]:
    """Sum (df, ttf) per term over the shards that contain it
    (TermStatistics aggregation)."""
    out: Dict[str, Tuple[int, int]] = {}
    for idx in indexes:
        for t, (df, ttf) in idx.term_stats_for(terms).items():
            have = out.get(t, (0, 0))
            out[t] = (have[0] + df, have[1] + ttf)
    return out


class _StatsView:
    """A shard with the UNION corpus statistics: everything delegates to
    the inner Index except field_stats / term_stats_for, so per-shard
    scoring (weights, impact bounds, theta) uses combined idf/p_c."""

    def __init__(self, inner: Index, fstats: FieldStats,
                 tstats: Dict[str, Tuple[int, int]]):
        self._inner = inner
        self.field_stats = fstats
        self._tstats = tstats

    def term_stats_for(self, terms):
        return {t: self._tstats[t] for t in terms if t in self._tstats}

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _union_topk(indexes: Sequence[Index], sources, k: int, with_shard: bool) -> DataFrame:
    """Gather one source per shard in one job and return the global
    (score desc, docid asc, shard asc) top-k as a driver-local frame
    (executor.LocalHits); the shard ordinal is each source's position."""
    ords, ids, scores, _, _ = _gather_topk(sources, k)
    return _hits_frame(indexes[0].spark, ids, scores, ords if with_shard else None)


def multi_search_topk(
    indexes: Sequence[Index], q, k: int = 10, with_shard: bool = False, **kw
) -> DataFrame:
    """Top-k over the logical union of the shards: each shard's pruned
    kernel under combined statistics (search_topk's arguments), every
    shard's segments in one job, one global (score desc, docid asc, shard
    asc) cut."""
    from .plan import NormalizedQuery

    if not isinstance(q, NormalizedQuery):
        raise TypeError("multi_search_topk takes a NormalizedQuery (normalize/parse)")
    terms = sorted(
        {t for t, _ in q.optional} | {t for t, _ in q.required} | set(q.excluded)
    )
    fstats = combined_field_stats(indexes)
    tstats = combined_term_stats(indexes, terms)
    sources = [_flat_source(_StatsView(idx, fstats, tstats), q, k, **kw) for idx in indexes]
    return _union_topk(indexes, sources, k, with_shard)


def multi_search_phrase(
    indexes: Sequence[Index], phrase, slop: int = 0, k: int = 10,
    with_shard: bool = False, **kw
) -> DataFrame:
    """PhraseQuery over the shard union: per-shard two-phase phrase
    matchers under combined statistics (the phrase weight sums idf over
    the UNION corpus dfs), every shard's segments in one job, one global
    cut. Same bit-parity guarantee as multi_search_topk when docids are
    global."""
    terms = sorted({t for t, _ in _phrase_offsets(phrase, kw.get("stop_words"))})
    fstats = combined_field_stats(indexes)
    tstats = combined_term_stats(indexes, terms)
    sources = []
    for idx in indexes:
        require_positions(idx, "PhraseQuery")
        sources.append(_phrase_source(_StatsView(idx, fstats, tstats), phrase, slop, k, **kw))
    return _union_topk(indexes, sources, k, with_shard)
