"""Query execution: exhaustive DataFrame path + per-segment block-max top-k.

Physical strategy mirrors Lucene's BooleanScorerSupplier choices
(SURVEY.md §4.2, search/BooleanScorerSupplier.java:33):

  exhaustive path  -> decode postings into a DataFrame, score with Spark SQL
                      (windowed BooleanScorer analog; always correct; used as
                      the oracle and for non-top-k consumers: counts, facets)
  top-k path       -> per-segment vectorized block-max MAXSCORE/WAND inside
                      slice-local tasks of one Python job (_gather_topk;
                      WANDScorer.java:55, MaxScoreBulkScorer.java:26,
                      BlockMaxConjunctionBulkScorer.java:36), each task
                      cutting its segments' hits to k, then a driver merge
                      of the k x slices rows returned as a local DataFrame
                      == per-leaf collectors + TopDocs.merge
                      (TopScoreDocCollector.java:64-170, TopDocs.java:203-228)

Per-segment top-k is a superset of each segment's contribution to the
global top-k, so the merge is exact. Tie-break: score desc, docid asc
(HitQueue.java lessThan).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from typing import Callable, Dict, Iterable, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..functions.codec import decode_block
from ..index.builder import IndexPaths, segment_tombstones
from ..session import gather_slices, slice_tasks
from .plan import (
    MUST,
    MUST_NOT,
    SHOULD,
    NormalizedQuery,
    QBool,
    QFuzzy,
    QPhrase,
    QPrefix,
    QRange,
    QTerm,
    QWildcard,
    mixed_or_clauses,
)
from .scorer import FieldStats, score_arrays, term_weights

DECODED_SCHEMA = "term string, docid long, tf int, doclen int"
TOMBSTONE_SCHEMA = "docid long, segment_id int"
# every top-k answer is a local frame of this schema, built in Python (a
# DDL string would cost a py4j parse on every query)
HITS_SCHEMA = StructType().add("docid", "long").add("score", "double")

# MAXSCORE theta-refresh window (blocks decoded between threshold refreshes,
# MaxScoreBulkScorer.java:26 window analog); module-level so tests can shrink
# it to exercise chunk-boundary behavior on small corpora.
MAXSCORE_CHUNK = 16

# Pruning safety margin: per-doc sums are re-done in canonical order for the
# final score, so prune thresholds get a tiny slack to cover reassociation.
PRUNE_SCALE = {np.float32: 1.0 - 1e-4, np.float64: 1.0 - 1e-9}


class Index:
    """Opened index: stats + lazy DataFrames (DirectoryReader analog).

    Every open is a point-in-time view of one commit: its marker supplies
    the stats and snapshot bounds (max segment id / max docid), and the
    segment-level DataFrames filter later appends out (docid/segment_id
    predicates -> parquet row-group pruning, no data rewrite). A live open
    reads the current commit; ``generation`` opens a RETAINED past commit
    (DirectoryReader.open(IndexCommit) analog). Commits are retained by
    ``append_to_index(keep_commits=True)`` (SnapshotDeletionPolicy analog);
    the default policy GCs them (KeepOnlyLastCommitDeletionPolicy). Deletes
    are snapshot-global here (tombstones ride beside the commits), a
    documented departure from per-commit liveDocs."""

    def __init__(self, spark: SparkSession, paths: IndexPaths,
                 generation: Optional[int] = None):
        from ..index import fsio

        self.spark = spark
        self.paths = paths
        if generation is None:
            fs = fsio.read_json(paths.fs, paths.fs_path(paths.field_stats))
        else:
            marker = paths.fs_path(paths.field_stats_g(int(generation)))
            if not fsio.exists(paths.fs, marker):
                from ..index.builder import list_commits

                raise ValueError(
                    f"no retained commit for generation {generation} at "
                    f"{paths.root}; openable commits: {list_commits(paths.root)} "
                    "(retain with append_to_index(keep_commits=True))"
                )
            fs = fsio.read_json(paths.fs, marker)
        from ..index.builder import INDEX_FORMAT_VERSION

        # SegmentInfos-style version gate (SegmentInfos.java:305): refuse
        # indexes stamped by a NEWER format; older stamps (or pre-stamp
        # indexes) are fine — the only cross-version artifact is the
        # tombstone store, migrated below.
        stamped = int(fs.get("format_version", 0))
        if stamped > INDEX_FORMAT_VERSION:
            raise RuntimeError(
                f"index at {paths.root} has format_version {stamped}, newer than "
                f"this engine's {INDEX_FORMAT_VERSION}; upgrade the engine"
            )
        self._migrate_legacy_tombstones()
        self.field_stats = FieldStats(
            fs["max_doc"], fs["doc_count"], fs["sum_total_term_freq"],
            fs["sum_doc_freq"], int(fs.get("max_dl", 0)),
        )
        # field_stats.json is the snapshot commit marker: it names the live
        # generation of the snapshot-global artifacts (see finalize_index)
        self.generation = int(fs.get("generation", 0))
        # None on pre-stamp indexes (unknown); else whether the positions
        # stream exists — phrase/interval/highlight paths refuse when False
        # (the reference throws "field ... was indexed without position
        # data" rather than silently matching nothing)
        ip = fs.get("index_positions")
        self.has_positions: Optional[bool] = None if ip is None else bool(ip)
        io_ = fs.get("index_offsets")
        # None = pre-offsets-format index (unknown -> treated as absent)
        self.has_offsets: Optional[bool] = None if io_ is None else bool(io_)
        tv = fs.get("term_vectors")
        self.has_term_vectors: Optional[bool] = None if tv is None else bool(tv)
        # stamped by finalize_index; None on pre-stamp indexes
        self.analysis_fingerprint: Optional[str] = fs.get("analysis_fingerprint")
        self._term_stats_dir = paths.term_stats_g(self.generation)
        # snapshot bounds of the opened commit (None on pre-snapshot
        # markers): every open is a point-in-time view, so segment-level
        # reads filter out segments/docids appended after its commit
        self._snap_max_sid = (
            int(fs["max_segment_id"]) if "max_segment_id" in fs else None
        )
        self._snap_max_docid = (
            int(fs["max_docid"]) if "max_docid" in fs else None
        )
        self._stats_cache: Dict[str, Optional[Tuple[int, int]]] = {}
        self._deleted: Optional[np.ndarray] = None
        self._tomb_files: Optional[List[str]] = None
        self._qcache = None

    # --- query cache (LRUQueryCache analog; off by default) ---------------

    def enable_query_cache(self, max_entries: int = 32, min_frequency: int = 2):
        """Attach an LRU cache of filter docid sets to this searcher
        (IndexSearcher.setQueryCache analog, LRUQueryCache.java:119).
        Returns the cache for stats inspection."""
        from .cache import QueryCache

        self._qcache = QueryCache(max_entries, min_frequency)
        return self._qcache

    @property
    def query_cache(self):
        return self._qcache

    # --- deletes (per-segment tombstones == liveDocs, PendingDeletes.java:31-34;
    # like Lucene, deleted docs stop MATCHING immediately but collection
    # statistics keep counting them until segments are purged/merged).
    # Tombstones are PARQUET rows (docid, segment_id) written by Spark jobs
    # and consumed either per segment inside the slice tasks (pruned top-k
    # paths) or via a distributed anti-join (exhaustive path) — no query
    # path materializes the delete set on the driver or ships it inside
    # task closures.

    def _migrate_legacy_tombstones(self) -> None:
        """v4 -> v5 tombstone migration: pre-v5 indexes stored deletes as
        numbered ``tombstones/delete-*.json`` files (``{"docids": [...]}``);
        v5 readers scan only ``*.parquet``, so without migration a legacy
        index would silently resurface every deleted doc (ADVICE r3). Each
        JSON file is folded into the parquet tombstone table (same
        segment-bucketing path as a live delete) and then removed; the
        rewrite is idempotent — a crash mid-migration re-runs it, and
        duplicate tombstone rows are harmless (delete sets are unioned)."""
        from ..index import fsio

        tdir = self.paths.fs_path(self.paths.tombstones)
        legacy = fsio.list_files(self.paths.fs, tdir, prefix="delete-", suffix=".json")
        if not legacy:
            return
        ids: List[int] = []
        for f in legacy:
            ids.extend(int(d) for d in fsio.read_json(self.paths.fs, f)["docids"])
        if ids:
            self.delete_docs_df(
                self.spark.createDataFrame([(d,) for d in sorted(set(ids))], "docid long")
            )
        for f in legacy:
            self.paths.fs.delete_file(f)
        self._tomb_files = None

    @property
    def tombstone_files(self) -> List[str]:
        """fs-native paths of the tombstone parquet files (listed once per
        delete generation of this searcher)."""
        if self._tomb_files is None:
            from ..index import fsio

            self._tomb_files = fsio.list_files(
                self.paths.fs, self.paths.fs_path(self.paths.tombstones),
                suffix=".parquet",
            )
        return self._tomb_files

    @property
    def has_deletes(self) -> bool:
        return bool(self.tombstone_files)

    @property
    def tombstones(self) -> DataFrame:
        """All tombstones as a DataFrame (docid long, segment_id int)."""
        if not self.has_deletes:
            return self.spark.createDataFrame([], TOMBSTONE_SCHEMA)
        return self.spark.read.schema(TOMBSTONE_SCHEMA).parquet(self.paths.tombstones)

    @property
    def deleted(self) -> np.ndarray:
        """Sorted docids of all tombstoned docs — DIAGNOSTIC / small-index
        accessor (tests, purge sanity checks). Query paths never call this;
        they read or anti-join the tombstone parquet instead."""
        if self._deleted is None:
            if not self.has_deletes:
                self._deleted = np.empty(0, dtype=np.int64)
            else:
                rows = self.tombstones.select("docid").collect()
                self._deleted = np.unique(np.array([r["docid"] for r in rows], np.int64))
        return self._deleted

    def _segment_ranges(self) -> DataFrame:
        """(segment_id, first_docid, last_docid) from the manifests — the
        tiny broadcastable map from docid to owning segment."""
        from ..index.builder import read_manifests

        rows = [
            (int(m["segment_id"]), int(m["first_docid"]), int(m["last_docid"]))
            for m in read_manifests(self.paths)
        ]
        return self.spark.createDataFrame(
            rows, "segment_id int, first_docid long, last_docid long"
        )

    def delete_docs_df(self, ids_df: DataFrame) -> int:
        """Distributed deleteDocuments: a DataFrame of docids is bucketed to
        its owning segments (broadcast range join against the manifest) and
        appended to the tombstone parquet by a Spark job — docids never pass
        through driver memory (IndexWriter.deleteDocuments analog,
        IndexWriter.java:1911; per-segment liveDocs shape,
        PendingDeletes.java:31)."""
        ranges = F.broadcast(self._segment_ranges())
        out = (
            ids_df.select(F.col(ids_df.columns[0]).cast("long").alias("docid"))
            .distinct()
            .join(
                ranges,
                (F.col("docid") >= F.col("first_docid"))
                & (F.col("docid") <= F.col("last_docid")),
            )
            .select("docid", "segment_id")
        )
        out.persist()
        try:
            n = out.count()
            if n:
                out.write.mode("append").parquet(self.paths.tombstones)
        finally:
            out.unpersist()
        self._deleted = None
        self._tomb_files = None
        return n

    def delete_docs(self, docids: Sequence[int]) -> None:
        """Tombstone an explicit docid list (driver-side convenience)."""
        df = self.spark.createDataFrame([(int(d),) for d in docids], "docid long")
        self.delete_docs_df(df)

    def delete_by_term(self, term: str) -> int:
        """delete-by-term, fully distributed: matching docids flow from the
        postings decode straight into the tombstone write."""
        return self.delete_docs_df(decoded_postings(self, [term]).select("docid"))

    def delete_by_query(self, q) -> int:
        """IndexWriter.deleteDocuments(Query...) analog
        (index/IndexWriter.java deleteDocuments): every doc matching the
        normalized boolean query is tombstoned; the match set flows from
        the exhaustive evaluator straight into the distributed tombstone
        write (scoring skipped — k=None, matches only)."""
        m = search_exhaustive(self, q, k=None).select("docid")
        return self.delete_docs_df(m)

    @classmethod
    def open(cls, spark: SparkSession, index_dir: str) -> "Index":
        return cls(spark, IndexPaths(index_dir))

    def _snap_seg(self, df: DataFrame) -> DataFrame:
        return (df.filter(F.col("segment_id") <= self._snap_max_sid)
                if self._snap_max_sid is not None else df)

    def _snap_doc(self, df: DataFrame) -> DataFrame:
        return (df.filter(F.col("docid") <= self._snap_max_docid)
                if self._snap_max_docid is not None else df)

    @property
    def seg_postings(self) -> DataFrame:
        """This snapshot's per-segment postings rows — the only postings
        (one row per (term, segment); a term's segment rows hold disjoint
        ascending docid ranges)."""
        return self._snap_seg(self.spark.read.parquet(self.paths.postings))

    def segment_files(self) -> List[Tuple[int, str]]:
        """(segment_id, fs-native path) of this snapshot's per-segment
        postings files, from a directory listing (no Spark job); a
        ``generation=`` open drops segments appended after its commit."""
        from ..index import fsio

        out = []
        for f in fsio.list_files(self.paths.fs, self.paths.fs_path(self.paths.postings),
                                 prefix="segment-", suffix=".parquet"):
            sid = int(os.path.basename(f)[len("segment-"):-len(".parquet")])
            if self._snap_max_sid is None or sid <= self._snap_max_sid:
                out.append((sid, f))
        return out

    @property
    def term_stats(self) -> DataFrame:
        return self.spark.read.parquet(self._term_stats_dir)

    @property
    def docs(self) -> DataFrame:
        return self._snap_doc(self.spark.read.parquet(self.paths.docs))

    @property
    def norms(self) -> DataFrame:
        return self._snap_doc(self.spark.read.parquet(self.paths.norms))

    @property
    def term_vectors(self) -> DataFrame:
        """Per-doc term vectors (TermVectorsFormat analog): docid-major
        (docid, term, tf[, positions]) rows; requires a
        term_vectors=True build."""
        if not self.has_term_vectors:
            raise ValueError(
                "index has no term vectors (IndexConfig(term_vectors=True))"
            )
        return self._snap_doc(self.spark.read.parquet(self.paths.tvec))

    def term_vector(self, docid: int) -> DataFrame:
        """One doc's term vector — the docid filter prunes parquet row
        groups (rows are docid-sorted per segment shard)."""
        return self.term_vectors.filter(F.col("docid") == int(docid))

    def term_stats_for(self, terms: Sequence[str]) -> Dict[str, Tuple[int, int]]:
        """Driver-side lookup of (df, ttf) for a few query terms
        (TermStates.build analog — global stats before scoring).

        Reads the term_stats parquet directly with a pushed-down filter
        (row-group pruning on the term-sorted files) instead of launching a
        Spark job — this is the FST term-dictionary *seek*, not a scan.
        Results are memoized per Index instance. Raises RuntimeError when
        this reader's commit was garbage-collected by a later append."""
        requested = list(terms)
        terms = [t for t in requested if t not in self._stats_cache]
        if terms:
            import pyarrow.parquet as pq

            from ..index import fsio

            ts_dir = self.paths.fs_path(self._term_stats_dir)
            files = fsio.list_files(self.paths.fs, ts_dir, suffix=".parquet")
            if not files and not fsio.exists(self.paths.fs, ts_dir):
                raise RuntimeError(
                    f"generation {self.generation} of the index at {self.paths.root} "
                    "was superseded by a later commit and garbage-collected; "
                    "reopen the Index, or append with keep_commits=True to "
                    "retain this commit"
                )
            found = {}
            if files:
                tbl = pq.ParquetDataset(
                    files, filesystem=self.paths.fs, filters=[("term", "in", list(terms))]
                ).read()
                found = dict(
                    zip(
                        tbl["term"].to_pylist(),
                        zip(tbl["df"].to_pylist(), tbl["ttf"].to_pylist()),
                    )
                )
            for t in terms:
                self._stats_cache[t] = found.get(t)
        return {t: self._stats_cache[t] for t in requested if self._stats_cache.get(t)}

    def expand_terms_df(
        self,
        prefix: Optional[str] = None,
        regex: Optional[str] = None,
        fuzzy: Optional[Tuple[str, int]] = None,
        transpositions: bool = True,
        lucene_regexp: Optional[str] = None,
    ) -> DataFrame:
        """Term-dictionary scan as a DISTRIBUTED DataFrame (term, df, ttf) —
        the MultiTermQuery rewrite seam (search/ScoringRewrite.java) without
        driver materialization: counting paths feed this straight into
        ``decoded_postings``'s broadcast-join form, so a broad prefix whose
        vocabulary is millions of terms never passes through driver memory
        (VERDICT r3 wrong#2). Fuzzy matches Lucene's default Damerau
        semantics — transpositions cost one edit (FuzzyQuery.java:57,
        LevenshteinAutomata.java:31); ``transpositions=False`` selects the
        classic distance. Prefix/regex filters are plain Catalyst
        predicates (prefix prunes row groups on the term-sorted files)."""
        ts = self.term_stats
        if prefix is not None:
            ts = ts.filter(F.col("term").startswith(prefix))
        if lucene_regexp is not None:
            # RegexpQuery syntax (util/automaton/RegExp.java:31): translated
            # to an ANCHORED Java regex — anchoring, @/#/"..."/<n-m>
            # handled; automaton-only ~/& rejected (functions/regexp.py)
            from ..functions.regexp import lucene_regexp_to_java

            ts = ts.filter(F.col("term").rlike(lucene_regexp_to_java(lucene_regexp)))
        if regex is not None:
            ts = ts.filter(F.col("term").rlike(regex))
        if fuzzy is not None:
            from ..functions.fuzzy import damerau_predicate

            term, dist = fuzzy
            if transpositions:
                ts = ts.filter(damerau_predicate(F.col("term"), term, int(dist)))
            else:
                ts = ts.filter(F.levenshtein(F.col("term"), F.lit(term)) <= dist)
        return ts

    def expand_terms(
        self,
        prefix: Optional[str] = None,
        regex: Optional[str] = None,
        fuzzy: Optional[Tuple[str, int]] = None,
        max_terms: Optional[int] = None,
        transpositions: bool = True,
        lucene_regexp: Optional[str] = None,
    ) -> List[str]:
        """Driver-side term enumeration for SCORING rewrites
        (TopTermsRewrite.java keeps the best ``max_terms``, lowest-df
        first) — always pass a cap on a query path; the uncapped form is
        for tests/diagnostics. Counting paths must use ``expand_terms_df``
        instead (no driver materialization)."""
        ts = self.expand_terms_df(prefix, regex, fuzzy, transpositions, lucene_regexp)
        if max_terms is None:
            rows = ts.select("term").collect()
            return sorted(r["term"] for r in rows)
        # TopTermsRewrite keeps the highest-scoring (lowest-df) terms first
        rows = ts.orderBy(F.col("df").asc(), F.col("term").asc()).limit(max_terms).collect()
        return [r["term"] for r in rows]

    def multi_term_doc_count(self, terms_df: DataFrame) -> int:
        """Exact doc count of the union of the given terms' postings
        (MultiTermQueryConstantScoreWrapper count) — terms stay a
        DataFrame end-to-end: broadcast-joined against the postings,
        decoded, distinct-counted; nothing terms-shaped reaches the
        driver."""
        return (
            decoded_postings(self, terms_df.select("term"))
            .select("docid")
            .distinct()
            .count()
        )


def _weights_for(index: Index, qtf: Dict[str, int], boost: float, dtype) -> Dict[str, float]:
    stats = index.term_stats_for(list(qtf))
    return term_weights(qtf, {t: s[0] for t, s in stats.items()},
                        index.field_stats.doc_count, boost, dtype)


# ---------------------------------------------------------------------------
# Decoded-postings DataFrame (shared by exhaustive path / counts / facets)
# ---------------------------------------------------------------------------

def _live_mask(ids: np.ndarray, deleted: Optional[np.ndarray]) -> Optional[np.ndarray]:
    """Boolean mask selecting ids NOT in the sorted ``deleted`` array;
    None when everything is live (liveDocs bitset analog)."""
    if deleted is None or len(deleted) == 0 or len(ids) == 0:
        return None
    pos = np.searchsorted(deleted, ids).clip(max=len(deleted) - 1)
    return deleted[pos] != ids


def _topk_rows(ids: np.ndarray, f64: np.ndarray, k: Optional[int],
               ords: Optional[np.ndarray] = None) -> np.ndarray:
    """Positions of the exact (score desc, docid asc) top-k in O(m), in
    that order: Lucene's collector tie-break (TopScoreDocCollector
    docid-asc on equal score) — a plain argpartition picks an ARBITRARY
    subset of docs tied at the k-th score, which diverges from the
    exhaustive path / oracle on tie-heavy corpora. ``ords`` (a hit's
    source, e.g. its shard) breaks ties on equal (score, docid), asc."""
    kk = len(ids) if k is None else min(k, len(ids))
    if kk < len(ids):
        v = -np.partition(-f64, kk - 1)[kk - 1]  # k-th best score value
        greater = np.flatnonzero(f64 > v)
        need = kk - len(greater)
        ties = np.flatnonzero(f64 == v)
        if need < len(ties):  # smallest docids among the tied tail
            if ords is not None:
                ties = ties[np.lexsort((ords[ties], ids[ties]))[:need]]
            else:
                ties = ties[np.argpartition(ids[ties], need - 1)[:need]] if need else ties[:0]
        part = np.concatenate([greater, ties])
    else:
        part = np.arange(len(ids))
    keys = (ids[part], -f64[part]) if ords is None else (ords[part], ids[part], -f64[part])
    return part[np.lexsort(keys)]


def _select_topk(ids: np.ndarray, scores, k: Optional[int]):
    """Exact top-k (``_topk_rows``): (ids, scores_float64) sorted (score
    desc, docid asc)."""
    f64 = scores.astype(np.float64)
    sel = _topk_rows(ids, f64, k)
    return ids[sel], f64[sel]


_EMPTY_ORDS = np.empty(0, np.int32)
_EMPTY_IDS = np.empty(0, np.int64)
_EMPTY_SCORES = np.empty(0, np.float64)


# skip/impact metadata every per-segment scorer needs; block streams are
# requested explicitly so the positions/offsets payloads are never read
# unless the operator decodes them (on a positions+offsets index the unused
# streams are most of the row's bytes)
_SCORE_COLS = (
    "term", "segment_id", "df", "first_docid", "last_docid",
    "max_tf", "min_doclen", "block_first", "block_last",
    "block_maxtf", "block_mindl", "block_imp",
)


# (tombstone dir, segment_id) -> (tuple(tombstone files), sorted deleted
# docids), kept in each reused Python worker across tasks: cloudpickle ships
# this module-level function by reference, so the dict is the worker's own.
# Tombstone files are write-once with UUID names and purge_deletes removes
# them, so the file tuple identifies their content; a new tuple replaces the
# entry, and entries never accumulate per segment.
_TOMBSTONES: dict = {}


def _segment_deletes(fs, tomb_dir: str, files: Sequence[str], sid: int) -> np.ndarray:
    """``builder.segment_tombstones`` read once per worker per tombstone set."""
    files = tuple(files)
    hit = _TOMBSTONES.get((tomb_dir, sid))
    if hit is None or hit[0] != files:
        deleted = segment_tombstones(fs, files, sid)
        deleted.flags.writeable = False  # shared by every later query
        hit = _TOMBSTONES[(tomb_dir, sid)] = (files, deleted)
    return hit[1]


def _segment_reader(index: Index, terms: Sequence[str],
                    streams: Sequence[str] = ("block_data",)):
    """``read(segs)`` for a slice task: yields ``(segment_id, postings_pdf,
    deleted_or_None)`` for each of the slice's segments holding rows for
    ``terms``. Each segment is read with pyarrow — the ``terms`` filter
    prunes row groups, and only the skip metadata plus ``streams`` are read
    — along with its OWN tombstones (per-segment liveDocs,
    PendingDeletes.java:31; nothing is materialized on the driver or
    captured in closures), read once per worker (``_segment_deletes``)."""
    paths, tombs, terms = index.paths, index.tombstone_files, list(terms)
    cols = list(_SCORE_COLS) + [s for s in streams if s not in _SCORE_COLS]

    def read(segs):
        import pyarrow.dataset as ds

        for sid, path in segs:
            seg = ds.dataset(path, filesystem=paths.fs, format="parquet")
            tbl = seg.to_table(
                columns=[c for c in cols if c in seg.schema.names],
                filter=ds.field("term").isin(terms),
            )
            if tbl.num_rows == 0:
                continue
            deleted = _segment_deletes(paths.fs, paths.tombstones, tombs, sid) if tombs else None
            yield sid, tbl.to_pandas(), deleted

    return read


def apply_per_segment(index: Index, terms: Sequence[str], fn, schema: str,
                      streams: Sequence[str] = ("block_data",)) -> DataFrame:
    """Slice-local per-segment execution with a data-sized output
    (IndexSearcher slices + searchLeaf, IndexSearcher.java:323-341,760):
    the snapshot's segment files are dealt into slices
    (session.slice_tasks), and each task reads its own segments
    (``_segment_reader``). ``fn((segment_id,), postings_pdf,
    deleted_or_None) -> pdf`` runs only for segments holding rows."""
    read = _segment_reader(index, terms, streams)

    def run_slice(segs):
        for sid, pdf, deleted in read(segs):
            yield fn((sid,), pdf, deleted)

    return slice_tasks(index.spark, index.segment_files(), run_slice, schema)


@dataclass(frozen=True)
class _TopkSource:
    """One index's part of a gathered top-k (_gather_topk): its segments
    are read for ``terms`` plus the block ``streams``, and
    ``run(postings_pdf, deleted) -> (ids, scores, (blocks_total,
    blocks_decoded))`` — the per-segment kernel — scores each one."""

    index: Index
    terms: Sequence[str]
    run: Callable
    streams: Sequence[str] = ("block_data",)


def _cut(ords: list, ids: list, scores: list, k: int):
    """Concatenate hit arrays and keep the exact top-k ``_topk_rows``
    order (score desc, docid asc, ord asc)."""
    ords, ids, scores = (np.concatenate(a) for a in (ords, ids, scores))
    sel = _topk_rows(ids, scores, k, ords)
    return ords[sel], ids[sel], scores[sel]


def _gather_topk(sources: Sequence[Optional[_TopkSource]], k: int):
    """Slice-local per-segment top-k with a k-bounded output: the segments
    of every source are dealt into slices and run in one Python job, one
    task per slice (session.gather_slices). Each task scores each of its
    segments with its source's kernel and cuts their hits to <= k
    (per-leaf collectors); the driver merges the <= k x slices rows
    (TopDocs.merge, TopDocs.java:203-228). Both cuts order (score desc,
    docid asc, source position asc) with a float64 compare, so the merge
    is exact and driver memory is bounded by k x slices. A ``None`` source
    contributes nothing; with no segment to read no job runs. Returns
    (ords, ids, scores_float64, blocks_total, blocks_decoded): each hit's
    source position, and the counters summed over every segment read."""
    live = {o: src for o, src in enumerate(sources) if src is not None}
    items = [(o, sid, path) for o, src in live.items()
             for sid, path in src.index.segment_files()]
    if not items:
        return _EMPTY_ORDS, _EMPTY_IDS, _EMPTY_SCORES, 0, 0
    reads = {o: _segment_reader(src.index, src.terms, src.streams) for o, src in live.items()}
    runs = {o: src.run for o, src in live.items()}

    def slice_topk(segs):
        ords, ids, scores = [_EMPTY_ORDS], [_EMPTY_IDS], [_EMPTY_SCORES]
        total = decoded = 0
        for o, sid, path in segs:
            for _sid, pdf, deleted in reads[o]([(sid, path)]):
                i, s, (t, d) = runs[o](pdf, deleted)
                ords.append(np.full(len(i), o, np.int32))
                ids.append(i)
                scores.append(np.asarray(s, np.float64))
                total, decoded = total + int(t), decoded + int(d)
        return (*_cut(ords, ids, scores, k), total, decoded)

    spark = next(iter(live.values())).index.spark
    parts = gather_slices(spark, items, slice_topk)
    ords, ids, scores = _cut(*([p[j] for p in parts] for j in range(3)), k)
    return ords, ids, scores, sum(p[3] for p in parts), sum(p[4] for p in parts)


def _hits_frame(spark: SparkSession, ids=None, scores=None) -> DataFrame:
    """A merged top-k as a local DataFrame (a LocalTableScan: collecting
    it runs no job); empty without ``ids``."""
    import pyarrow as pa

    cols = {"docid": _EMPTY_IDS if ids is None else ids,
            "score": _EMPTY_SCORES if scores is None else scores}
    return spark.createDataFrame(pa.table(cols), HITS_SCHEMA)


def _topk_frame(index: Index, source: Optional[_TopkSource], k: int) -> DataFrame:
    """One source's gathered top-k as a local (docid, score) frame."""
    _ords, ids, scores, _, _ = _gather_topk([source], k)
    return _hits_frame(index.spark, ids, scores)


def decoded_postings(
    index: Index, terms: Sequence[str], apply_deletes: bool = True,
) -> DataFrame:
    """(term, docid, tf, doclen) LIVE rows for the given terms, decoded from
    the snapshot's segment files (``Index.seg_postings``, one row per
    (term, segment)) in mapInPandas (Arrow batches, numpy decode); tombstoned
    docs are removed by a distributed anti-join against the tombstone
    parquet (no driver-side delete set). ``apply_deletes=False`` yields the
    raw rows (query-cache entries store raw sets and apply live-docs at
    read). ``terms`` may be a list OR a single-column DataFrame of terms —
    the DataFrame form broadcast-joins, so multi-term expansions (term
    ranges) never materialize the term list on the driver; ``terms=None``
    decodes EVERY term (full-scan consumers like check_index — no broadcast
    of the whole vocabulary)."""
    src = index.seg_postings
    if terms is None:
        rows = src.select("term", "block_data")
    elif isinstance(terms, DataFrame):
        rows = src.join(
            F.broadcast(terms.select(F.col(terms.columns[0]).alias("term"))), "term"
        ).select("term", "block_data")
    else:
        rows = src.filter(F.col("term").isin(list(terms))).select(
            "term", "block_data"
        )

    def decode_map(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for term, blocks in zip(pdf["term"], pdf["block_data"]):
                if blocks is None or len(blocks) == 0:
                    continue
                ids, tfs, dls = zip(*(decode_block(bytes(b)) for b in blocks))
                ids = np.concatenate(ids)
                tfs = np.concatenate(tfs)
                dls = np.concatenate(dls)
                outs.append(
                    pd.DataFrame(
                        {
                            "term": np.full(len(ids), term, dtype=object),
                            "docid": ids,
                            "tf": tfs.astype(np.int32),
                            "doclen": dls.astype(np.int32),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    out = rows.mapInPandas(decode_map, DECODED_SCHEMA)
    if apply_deletes and index.has_deletes:
        out = out.join(index.tombstones.select("docid"), "docid", "left_anti")
    return out


def search_exhaustive(
    index: Index,
    q: NormalizedQuery,
    k: Optional[int] = 10,
    boost: float = 1.0,
    quantize: bool = False,
    dtype=np.float64,
    similarity: Optional[str] = None,
) -> DataFrame:
    """Exhaustive scoring in Spark SQL (float64) — the always-correct path.

    AND = posting intersection via a count-of-required-matches filter;
    OR = union + groupBy(docid).sum(score); NOT = left_anti join
    (SURVEY.md §2.5 BooleanQuery row). With quantize=True the doclen goes
    through the byte4 code (applied in the decode UDF upstream).
    ``similarity`` swaps the per-clause score expression + weights through
    the Similarity seam (similarities.py); the whole plan stays JVM-side —
    the alternative formulas are plain Spark SQL expressions too.
    """
    from .similarities import bind_similarity

    spark = index.spark
    if q.is_match_none:
        return spark.createDataFrame([], "docid long, score double")
    sim = bind_similarity(
        similarity, q.scoring_terms, index.term_stats_for(list(q.scoring_terms)),
        index.field_stats, boost, quantize, dtype,
    )
    weights = sim.weights if sim is not None else _weights_for(index, q.scoring_terms, boost, dtype)
    req = [t for t, _ in q.required]
    live_terms = [t for t in q.scoring_terms if t in weights]
    if not live_terms or any(t not in weights for t in req):
        return spark.createDataFrame([], "docid long, score double")

    dec = decoded_postings(index, live_terms)
    if quantize:
        from ..functions.smallfloat import byte4_to_int, int_to_byte4

        @F.pandas_udf("int")
        def quantize_len(s: pd.Series) -> pd.Series:
            return pd.Series(byte4_to_int(int_to_byte4(s.to_numpy(dtype=np.int64))))

        dec = dec.withColumn("doclen", quantize_len("doclen"))

    # oc = SHOULD clause instances the term credits toward msm (its SHOULD
    # qtf; 0 for pure-MUST terms) — matching the un-merged clause count
    opt_counts = dict(q.optional)
    if q.min_should_match > sum(opt_counts.get(t, 0) for t in weights):
        return spark.createDataFrame([], "docid long, score double")
    wrows = sim.wdf_rows() if sim is not None else [
        (t, float(w), 0.0) for t, w in weights.items()
    ]
    wdf = F.broadcast(
        spark.createDataFrame(
            [(t, w, pc, int(opt_counts.get(t, 0))) for t, w, pc in wrows],
            "term string, w double, pc double, oc int",
        )
    )
    avgdl = float(index.field_stats.avgdl())
    if sim is not None:
        score = sim.score_col(F.col("tf"), F.col("doclen"))
    else:
        k1, b = 1.2, 0.75
        ninv = 1.0 / (F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("doclen") / F.lit(avgdl)))
        score = F.col("w") - F.col("w") / (F.lit(1.0) + F.col("tf").cast("double") * ninv)
    scored = dec.join(wdf, "term").withColumn("s", score)

    agg = scored.groupBy("docid").agg(
        F.sum("s").alias("score"),
        F.count(F.when(F.col("term").isin(req), True)).alias("n_req") if req else F.lit(0).alias("n_req"),
        F.sum("oc").alias("n_should"),
    )
    if req:
        agg = agg.filter(F.col("n_req") == len(req))
    if q.min_should_match > 0:
        # minimumNumberShouldMatch (BooleanQuery.java:125): a doc needs at
        # least msm matched SHOULD clause instances on top of the MUSTs
        agg = agg.filter(F.col("n_should") >= q.min_should_match)
    out = agg.select("docid", "score")
    if q.excluded:
        excl = decoded_postings(index, list(q.excluded)).select("docid").distinct()
        out = out.join(excl, "docid", "left_anti")
    out = out.orderBy(F.col("score").desc(), F.col("docid").asc())
    return out.limit(k) if k else out


# ---------------------------------------------------------------------------
# Per-segment block-max top-k: one clause kernel for every boolean shape
# ---------------------------------------------------------------------------

def _select_blocks(row, sel: Optional[np.ndarray], counters: List[int]) -> np.ndarray:
    """Indices of a term row's blocks that intersect the sorted candidate
    docids ``sel`` (every block when ``sel`` is None), counted into
    ``counters`` as [blocks seen, blocks kept] (advanceShallow/block-skip
    analog, ImpactsDISI.java:67-80)."""
    bf = np.asarray(row["block_first"], dtype=np.int64)
    counters[0] += len(bf)
    if sel is None:
        keep = np.arange(len(bf))
    else:
        bl = np.asarray(row["block_last"], dtype=np.int64)
        keep = np.flatnonzero(np.searchsorted(sel, bl, "right") > np.searchsorted(sel, bf, "left"))
    counters[1] += len(keep)
    return keep


def _decode_rows(row, sel: Optional[np.ndarray], counters: List[int]):
    """Decode a term's blocks, optionally only blocks intersecting the
    sorted candidate docids `sel` (_select_blocks): (ids, tfs, doclens)."""
    keep = _select_blocks(row, sel, counters)
    if len(keep) == 0:
        return (np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0, np.int64))
    data = row["block_data"]
    parts = [decode_block(bytes(data[i])) for i in keep]
    return tuple(np.concatenate(x) for x in zip(*parts))


@dataclass
class ClausePlan:
    """A boolean query lowered for the clause kernel — the clause
    ScorerSuppliers BooleanScorerSupplier.java:288-317 composes one
    top-level scorer from. Each clause is ``(members, must, credit)``:

    - ``members`` maps term -> weight; the clause scores
      Σ sim.score(t, tf, dl) · w over its members, and a doc matches it
      only when it holds EVERY member (a term clause has one member);
    - ``must`` marks a MUST/FILTER clause (a FILTER term has weight 0);
    - ``credit`` is the SHOULD clause instances it counts toward ``msm``.

    ``clauses == ()`` means the query provably matches nothing."""

    clauses: Tuple[Tuple[Dict[str, float], bool, int], ...]
    excluded: Tuple[str, ...]
    msm: int
    sim: object
    dtype: type

    @property
    def terms(self) -> List[str]:
        """Every term whose postings the segments read."""
        return sorted({t for m, _, _ in self.clauses for t in m} | set(self.excluded))


def _clause_plan(index: Index, clauses, excluded, msm: int, qtf: Dict[str, int],
                 boost: float, quantize: bool, dtype,
                 similarity: Optional[str]) -> ClausePlan:
    """Resolve weights through the similarity seam (SURVEY.md §2.4) and
    drop dead clauses: a clause on a term absent from the index can never
    match, so a dead MUST clause, no live clause, or ``msm`` beyond the
    live clauses' credit makes the plan empty."""
    from .similarities import BM25Bound, bind_similarity

    sim = bind_similarity(
        similarity, qtf, index.term_stats_for(list(qtf)),
        index.field_stats, boost, quantize, dtype,
    )
    if sim is None:
        sim = BM25Bound(_weights_for(index, qtf, boost, dtype),
                        float(index.field_stats.avgdl()), quantize, dtype)
    live, dead_must = [], False
    for c in clauses:
        if all(t in sim.weights for t in c[0]):
            live.append(c)
        else:
            dead_must |= c[1]
    if dead_must or not live or msm < 0 or msm > sum(c[2] for c in live):
        live = []
    return ClausePlan(tuple(live), tuple(sorted(set(excluded))), int(msm), sim, dtype)


def _flat_plan(index: Index, q: NormalizedQuery, boost: float, dtype,
               similarity: Optional[str] = None, quantize: bool = True) -> ClausePlan:
    """A flat query lowers to one clause per scoring term, weight 1.0 (the
    term weights already fold qtf and boost): MUST for required and FILTER
    terms, credit = the term's SHOULD qtf."""
    req, opt, qtf = dict(q.required), dict(q.optional), q.scoring_terms
    clauses = [({t: 1.0}, t in req, opt.get(t, 0)) for t in sorted(qtf)]
    return _clause_plan(index, clauses, q.excluded, q.min_should_match, qtf,
                        boost, quantize, dtype, similarity)


def make_clause_topk_fn(plan: ClausePlan, k: int, theta_seed: float = 0.0,
                        cursor: Optional[Tuple[float, int]] = None):
    """Per-segment scorer ``run(pdf, deleted) -> (docids, scores,
    [blocks_total, blocks_decoded])`` for a ClausePlan: the batched analog
    of MAXSCORE/WAND over arbitrary clause scorers (WANDScorer.java:55,
    MaxScoreBulkScorer.java:26). A clause's bound is Σ w · (member's
    per-block impact bound) — a conjunction's getMaxScore is its members'
    sum (BooleanScorerSupplier.java:288-317).

    - MUST: every member of every MUST clause forms ONE conjunction,
      evaluated first. It leads with its rarest member
      (ConjunctionDISI.java:166-206); the other members decode only the
      blocks holding lead candidates, in descending block-bound order with
      a per-candidate potential test (BlockMaxConjunctionBulkScorer.java:36).
      After it, SHOULD clauses admit no new docs (ReqOptSumScorer).
    - SHOULD clauses run in ASCENDING decode-cost order: cheap clauses land
      exact partials first, so an expensive clause evaluated last is tested
      against real totals rather than every later clause's bound (the
      non-essential clauses are only probed on candidates). Once the
      remaining clauses' summed bounds fall below the running k-th score,
      evaluation is restricted to still-competitive candidates; a term
      clause decodes its blocks in chunks of MAXSCORE_CHUNK, best bound
      first, refreshing theta between chunks.
    - ``msm``: per-doc matched credit accumulates (freq-counting WAND,
      BooleanScorerSupplier.java:297-306); theta only rises from docs
      already GUARANTEED to qualify (credit only grows), and NEW docs stop
      being admitted once the remaining credit cannot reach msm.
    - MUST_NOT: an up-front ban merged into liveDocs
      (ReqExclScorer.java:26), so an excluded doc never raises theta.
    - ``theta_seed`` > 0 pre-loads the threshold with a lower bound of the
      GLOBAL k-th score (MaxScoreAccumulator.java:23; see auto_seed_theta).
    - ``cursor`` = (after_score, after_docid) pages after a previous hit
      (IndexSearcher.searchAfter): a partial sum already past the cursor
      can never re-enter the page (sums only grow) and stops decoding;
      theta only rises from docs GUARANTEED on the page, at clause ends.

    ``acc`` (float64) drives pruning only, with PRUNE_SCALE slack. Final
    scores sum every (clause, member) contribution sim.score · w in the
    engine dtype in ONE canonical order — clauses by member tuple, members
    by term — which for a flat query is the sorted-term float32 sum of the
    reference. ``blocks_total`` is a plan invariant (every block of every
    viable term, once); ``blocks_decoded`` counts decode events."""
    sim, dtype, msm = plan.sim, plan.dtype, int(plan.msm)
    excl = list(plan.excluded)
    scale = PRUNE_SCALE[dtype]
    # resolved driver-side at plan time and captured in the closure, so the
    # worker-side run() never consults module state
    chunk_blocks = int(MAXSCORE_CHUNK)
    after_bound = float(cursor[0]) if cursor is not None else None
    after_docid = int(cursor[1]) if cursor is not None else None
    slack = 2.0 - scale  # tiny upward slack for float re-association
    _Z = np.empty(0, np.int64)

    # canonical contribution slots: clauses by member tuple, members by term
    corder = sorted(range(len(plan.clauses)), key=lambda ci: tuple(sorted(plan.clauses[ci][0])))
    slot_of = {}
    for ci in corder:
        for t in sorted(plan.clauses[ci][0]):
            slot_of[ci, t] = len(slot_of)
    # evaluation units: (term -> [(slot, w)], credit); the MUST clauses
    # merge into one conjunction unit at the head
    units, has_must = [], any(must for _, must, _ in plan.clauses)
    if has_must:
        conj: Dict[str, list] = {}
        for ci, (m, must, _c) in enumerate(plan.clauses):
            if must:
                for t, w in m.items():
                    conj.setdefault(t, []).append((slot_of[ci, t], float(w)))
        units.append((conj, sum(c for _, must, c in plan.clauses if must)))
    units += [({t: [(slot_of[ci, t], float(w))] for t, w in m.items()}, c)
              for ci, (m, must, c) in enumerate(plan.clauses) if not must]

    def run(pdf: pd.DataFrame, deleted: Optional[np.ndarray]):
        """``deleted`` is this segment's sorted tombstone array."""
        counters = [0, 0]  # blocks_total, blocks_decoded
        rows = {}
        for r in pdf.to_dict("records"):  # dicts, not iterrows Series
            rows.setdefault(r["term"], []).append(r)
        # a term may arrive as several (term,salt) rows: keep in docid order
        for t in rows:
            rows[t].sort(key=lambda r: r["first_docid"])

        # a clause is viable here iff EVERY member has postings in this
        # segment; the segment matches nothing without the MUST unit or
        # when the viable clauses cannot credit msm
        viable = [u for u in units if all(t in rows for t in u[0])]
        if (not viable or (has_must and viable[0] is not units[0])
                or msm > sum(c for _, c in viable)):
            return _Z, _Z.astype(np.float64), counters

        terms_here = sorted({t for u in viable for t in u[0]})
        counters[0] += sum(
            len(r["block_first"])
            for t in terms_here + [t for t in excl if t in rows]
            for r in rows[t]
        )

        def _dec(r, sel):
            visit = [0, 0]  # blocks_total is counted once, above
            out = _decode_rows(r, sel, visit)
            counters[1] += visit[1]
            return out

        base = min(int(r["first_docid"]) for t in terms_here for r in rows[t])
        hi = max(int(r["last_docid"]) for t in terms_here for r in rows[t])
        n = hi - base + 1
        if n > 500_000_000:
            # dense accumulator assumes segment-local docid ranges (the
            # builder guarantees them; a sparse user docid_col would not)
            raise ValueError(
                f"segment docid range {n} too sparse for the dense accumulator; "
                "use the engine's docid assignment or densify docid_col"
            )

        if excl:
            ex_parts = [_dec(r, None)[0] for t in excl if t in rows for r in rows[t]]
            if ex_parts:
                banned = np.unique(np.concatenate(ex_parts))
                deleted = banned if deleted is None else np.union1d(deleted, banned)

        def decode_term(t, sel=None):
            if sel is not None and len(sel) == 0:
                return _Z, _Z, _Z
            parts = [_dec(r, sel) for r in rows[t]]
            ids = np.concatenate([p[0] for p in parts])
            tfs = np.concatenate([p[1] for p in parts])
            dls = np.concatenate([p[2] for p in parts])
            if sel is not None and len(ids):
                m = sel[np.searchsorted(sel, ids).clip(max=len(sel) - 1)] == ids
                ids, tfs, dls = ids[m], tfs[m], dls[m]
            live = _live_mask(ids, deleted)  # tombstoned docs never score
            if live is not None:
                ids, tfs, dls = ids[live], tfs[live], dls[live]
            return ids, tfs, dls

        def block_ubs(t, r):
            """Per-block score upper bounds for one (term, salt) row: max
            over the block's competitive (tf, doclen) impact pairs
            (CompetitiveImpactAccumulator.java:26 — tight even for
            unbounded-tf shapes like Classic's sqrt(tf)); corner
            (block_maxtf, block_mindl) fallback for pre-v6 indexes."""
            imp = r.get("block_imp")
            if imp is None or isinstance(imp, float):  # absent column / null row
                return sim.score(
                    t,
                    np.asarray(r["block_maxtf"], dtype=np.int64),
                    np.asarray(r["block_mindl"], dtype=np.int64),
                ).astype(np.float64)
            lens = np.fromiter((len(x) for x in imp), np.int64, len(imp))
            flat = (
                np.concatenate([np.asarray(x, np.int64) for x in imp])
                if len(imp) else np.empty(0, np.int64)
            )
            s = sim.score(t, flat[0::2], flat[1::2]).astype(np.float64)
            starts = np.concatenate(([0], np.cumsum(lens // 2)[:-1]))
            return np.maximum.reduceat(s, starts) if len(s) else s

        _ub_cache: Dict[str, list] = {}

        def term_ubs(t):
            if t not in _ub_cache:
                _ub_cache[t] = [block_ubs(t, r) for r in rows[t]]
            return _ub_cache[t]

        def umax(t):
            # max over per-block bounds == the term's tightest whole-list
            # bound (MaxScoreCache.java:74 computes the same from impacts)
            return max(
                (float(u.max()) for u in term_ubs(t) if len(u)),
                default=sim.bound(
                    t,
                    max(int(r["max_tf"]) for r in rows[t]),
                    min(int(r["min_doclen"]) for r in rows[t]),
                ),
            )

        def wsum(slots):
            return sum(w for _, w in slots)

        def nblocks(t):
            return sum(len(r["block_first"]) for r in rows[t])

        def dfsum(t):
            return sum(int(r["df"]) for r in rows[t])

        def cost(u):
            # estimated blocks decoded: a term clause scans its own list; a
            # conjunction decodes its rarest member plus, for every other
            # member, at most one block per lead posting (leapfrog)
            ms = sorted(u[0], key=dfsum)
            return nblocks(ms[0]) + sum(min(nblocks(t), dfsum(ms[0])) for t in ms[1:])

        # evaluation order: the MUST unit, then ascending decode cost. Any
        # fixed order is SOUND (the suffix bounds below are computed over
        # it); the order only changes how fast theta sharpens
        head = viable[:1] if has_must else []
        viable = head + sorted(viable[len(head):], key=cost)
        cubs = np.array(
            [sum(wsum(sl) * umax(t) for t, sl in u[0].items()) for u in viable],
            dtype=np.float64,
        )
        suffix = np.concatenate((np.cumsum(cubs[::-1])[::-1], [0.0]))
        # remaining clause credit from unit i onward: bounds how much a
        # doc's matched credit can still grow
        creds = np.array([c for _, c in viable], dtype=np.int64)
        cred_suffix = np.concatenate((np.cumsum(creds[::-1])[::-1], [0]))

        acc = np.zeros(n, dtype=np.float64)
        seen = np.zeros(n, dtype=bool)
        nmatch = np.zeros(n, dtype=np.int64) if msm > 0 else None
        contrib: Dict[int, np.ndarray] = {}  # slot -> dense engine-dtype scores
        theta = float(theta_seed) if theta_seed > 0 else -np.inf
        CHUNK = chunk_blocks

        def put(slots, ids, s):
            for si, w in slots:
                if si not in contrib:
                    contrib[si] = np.zeros(n, dtype=dtype)
                contrib[si][ids - base] = s * w

        def kth(vals: np.ndarray) -> float:
            return float(np.partition(vals, len(vals) - k)[len(vals) - k])

        def bump_theta(rest=0.0):
            # theta rises only from docs GUARANTEED to qualify; in cursor
            # mode additionally GUARANTEED on the page — bound strictly
            # below the cursor score, or tying it with a docid past the
            # cursor (a plain <= would count the previous page's boundary
            # tie group and could prune genuine later-page hits)
            nonlocal theta
            qual = seen if nmatch is None else seen & (nmatch >= msm)
            if after_bound is not None:
                tot = acc + rest
                qual = qual & (
                    (tot < after_bound)
                    | ((tot == after_bound)
                       & (np.arange(n, dtype=np.int64) + base > after_docid))
                )
            if int(qual.sum()) >= k:
                theta = max(theta, kth(acc[qual]))

        for i, (members, credit) in enumerate(viable):
            rest = float(suffix[i + 1])
            # after the MUST unit no clause admits new docs; otherwise new
            # docs stop once the remaining credit (this clause included)
            # cannot reach msm — blocks then matter only for candidates
            new_docs_ok = (i == 0 or not has_must) and (
                nmatch is None or cred_suffix[i] >= msm)
            sel: Optional[np.ndarray] = None
            sel_theta = -np.inf

            def refresh_sel():
                # competitive partial-sum candidates: a doc outside was
                # proven unable to reach theta even with every remaining
                # clause at its full bound — permanently non-competitive
                # (theta only grows). Recomputed LAZILY on meaningful theta
                # growth (a set built at a smaller theta is a sound
                # superset); computing it as soon as theta is live keeps
                # mid-clause theta transitions sound: docs seen by EARLIER
                # clauses in this clause's low-bound blocks stay protected
                nonlocal sel, sel_theta
                if theta <= 0 or (sel is not None and theta <= sel_theta * 1.05):
                    return
                mask = seen & (acc + suffix[i] >= theta * scale)
                if nmatch is not None:
                    # count-hopeless docs can drop outright
                    mask &= nmatch + cred_suffix[i] >= msm
                if after_bound is not None:
                    mask &= acc <= after_bound * slack
                sel = np.flatnonzero(mask) + base
                sel_theta = theta

            if len(members) == 1:
                ((t, slots),) = members.items()
                fw = wsum(slots)
                for r, ub in zip(rows[t], term_ubs(t)):
                    bf = np.asarray(r["block_first"], dtype=np.int64)
                    bl = np.asarray(r["block_last"], dtype=np.int64)
                    data = r["block_data"]
                    ubw = ub * fw
                    # descending block bound: the first chunk seeds theta
                    # near its final value (batch evaluation has no
                    # docid-order constraint — the accumulator is dense)
                    border = np.argsort(-ubw, kind="stable")
                    for j in range(0, len(bf), CHUNK):
                        cidx = border[j : j + CHUNK]
                        if theta > 0 or not new_docs_ok:
                            refresh_sel()
                            if new_docs_ok and theta > 0:
                                keep = ubw[cidx] + rest >= theta * scale
                            elif new_docs_ok:
                                keep = np.ones(len(cidx), dtype=bool)
                            else:
                                keep = np.zeros(len(cidx), dtype=bool)
                            cand_set = sel if sel is not None else (
                                (np.flatnonzero(seen) + base)
                                if not new_docs_ok else None
                            )
                            if cand_set is not None and len(cand_set):
                                lo = np.searchsorted(cand_set, bf[cidx], "left")
                                hi2 = np.searchsorted(cand_set, bl[cidx], "right")
                                has = hi2 > lo
                                if theta > 0 and nmatch is None:
                                    # per-block candidate potential: a
                                    # candidate whose acc + this block's
                                    # bound + remaining bounds misses theta
                                    # cannot finish above it (msm keeps the
                                    # coarse test: its candidates are kept
                                    # for COUNT too)
                                    for z in np.flatnonzero(has):
                                        cmax = float(
                                            acc[cand_set[lo[z]:hi2[z]] - base].max()
                                        )
                                        if cmax + ubw[cidx[z]] + rest < theta * scale:
                                            has[z] = False
                                keep |= has
                            cidx = cidx[keep]
                        counters[1] += len(cidx)
                        if len(cidx) == 0:
                            continue
                        parts = [decode_block(bytes(data[x])) for x in cidx]
                        ids = np.concatenate([p[0] for p in parts])
                        tfs = np.concatenate([p[1] for p in parts])
                        dls = np.concatenate([p[2] for p in parts])
                        live = _live_mask(ids, deleted)
                        if not new_docs_ok:  # only docs already seen
                            live = seen[ids - base] if live is None else live & seen[ids - base]
                        if live is not None:
                            ids, tfs, dls = ids[live], tfs[live], dls[live]
                        if len(ids) == 0:
                            continue
                        s = sim.score(t, tfs, dls)
                        put(slots, ids, s)
                        acc[ids - base] += np.asarray(s, np.float64) * fw
                        seen[ids - base] = True
                        if nmatch is not None:
                            nmatch[ids - base] += credit
                        if after_bound is None:
                            bump_theta()
            else:
                order = sorted(members, key=dfsum)
                refresh_sel()
                essential = theta <= 0 or cubs[i] + rest >= theta * scale
                # non-essential conjunction (or no room for new docs):
                # only still-competitive docs can be affected, so even the
                # LEAD decode is restricted
                if essential and new_docs_ok:
                    lead_sel = None
                elif sel is not None:
                    lead_sel = sel
                else:
                    lead_sel = np.flatnonzero(seen) + base
                ids, tfs, dls = decode_term(order[0], sel=lead_sel)
                if len(ids) == 0:
                    continue
                cm = np.zeros(n, dtype=bool)
                cm[ids - base] = True
                s = sim.score(order[0], tfs, dls)
                pend = [(members[order[0]], ids, s)]
                csd = np.zeros(n, dtype=np.float64)
                csd[ids - base] = np.asarray(s, np.float64) * wsum(members[order[0]])
                cand = ids
                for mi in range(1, len(order)):
                    m = order[mi]
                    fw = wsum(members[m])
                    rest_m = float(sum(umax(t) * wsum(members[t]) for t in order[mi + 1:]))
                    last = mi == len(order) - 1
                    # block-max leapfrog over the member's postings: blocks
                    # of ALL (term,salt) rows are chunked TOGETHER in
                    # descending bound order; a block decodes only if it
                    # holds a candidate whose completed-so-far total plus
                    # this block's bound plus every remaining bound could
                    # still reach theta. On the LAST member, docs finish
                    # their clause score as chunks complete, so theta
                    # refreshes INSIDE the walk and later chunks skip
                    rws = rows[m]
                    bfs = [np.asarray(r["block_first"], np.int64) for r in rws]
                    bls = [np.asarray(r["block_last"], np.int64) for r in rws]
                    flat_ub = np.concatenate(term_ubs(m)) * fw
                    flat_bf = np.concatenate(bfs)
                    flat_bl = np.concatenate(bls)
                    row_of = np.concatenate(
                        [np.full(len(b), ri, np.int64) for ri, b in enumerate(bfs)])
                    blk_of = np.concatenate([np.arange(len(b), dtype=np.int64) for b in bfs])
                    border = np.argsort(-flat_ub, kind="stable")
                    nm = np.zeros(n, dtype=bool)
                    done = np.zeros(n, dtype=bool) if last else None
                    for j in range(0, len(flat_bf), CHUNK):
                        cidx = border[j : j + CHUNK]
                        lo = np.searchsorted(cand, flat_bf[cidx], "left")
                        hi2 = np.searchsorted(cand, flat_bl[cidx], "right")
                        has = hi2 > lo
                        if theta > 0:
                            for z in np.flatnonzero(has):
                                within = cand[lo[z]:hi2[z]] - base
                                pmax = float((acc[within] + csd[within]).max())
                                if (pmax + flat_ub[cidx[z]] + rest_m + rest
                                        < theta * scale):
                                    has[z] = False
                        cidx = cidx[has]
                        counters[1] += len(cidx)
                        if len(cidx) == 0:
                            continue
                        parts = [
                            decode_block(bytes(rws[row_of[x]]["block_data"][blk_of[x]]))
                            for x in cidx
                        ]
                        ids2 = np.concatenate([p[0] for p in parts])
                        tf2 = np.concatenate([p[1] for p in parts])
                        dl2 = np.concatenate([p[2] for p in parts])
                        inc = cand[np.searchsorted(cand, ids2).clip(max=len(cand) - 1)] == ids2
                        ids2, tf2, dl2 = ids2[inc], tf2[inc], dl2[inc]
                        live = _live_mask(ids2, deleted)
                        if live is not None:
                            ids2, tf2, dl2 = ids2[live], tf2[live], dl2[live]
                        if len(ids2) == 0:
                            continue
                        nm[ids2 - base] = True
                        s2 = sim.score(m, tf2, dl2)
                        pend.append((members[m], ids2, s2))
                        csd[ids2 - base] += np.asarray(s2, np.float64) * fw
                        if last and after_bound is None:
                            done[ids2 - base] = True
                            # full-clause matches: acc + csd are exact
                            # partial totals — but only docs GUARANTEED to
                            # qualify after this clause may raise theta
                            dq = done if nmatch is None else done & (nmatch + credit >= msm)
                            if int(dq.sum()) >= k:
                                theta = max(theta, kth((acc + csd)[dq]))
                    cm &= nm
                    if not cm.any():
                        break
                    cand = np.flatnonzero(cm) + base
                idx = np.flatnonzero(cm)
                if len(idx):
                    acc[idx] += csd[idx]
                    seen[idx] = True
                    if nmatch is not None:
                        nmatch[idx] += credit
                    for slots, pids, ps in pend:
                        ok = cm[pids - base]
                        put(slots, pids[ok], ps[ok])
                    if after_bound is None:
                        bump_theta()
            if has_must and i == 0 and not seen.any():
                return _Z, _Z.astype(np.float64), counters
            if after_bound is not None:
                # cursor mode: theta only from docs GUARANTEED at/below the
                # cursor — sound with the clause's FULL remaining bound,
                # known only at clause end
                bump_theta(rest=rest)

        if nmatch is None:
            matched = np.flatnonzero(seen) + base
        else:
            matched = np.flatnonzero(seen & (nmatch >= msm)) + base
        if len(matched) == 0:
            return _Z, _Z.astype(np.float64), counters
        # canonical final sum in the engine dtype (cross-path exactness)
        final = np.zeros(len(matched), dtype=dtype)
        for si in range(len(slot_of)):
            if si in contrib:
                final = final + contrib[si][matched - base]
        if after_bound is not None:
            # keep hits strictly after the (score desc, docid asc) cursor
            fin64 = final.astype(np.float64)
            ok = (fin64 < after_bound) | ((fin64 == after_bound) & (matched > after_docid))
            matched, final = matched[ok], final[ok]
            if len(matched) == 0:
                return _Z, _Z.astype(np.float64), counters
        out_ids, out_sc = _select_topk(matched, final, k)
        return out_ids, out_sc, counters

    return run


def _clause_source(index: Index, plan: ClausePlan, k: int, theta_seed: float = 0.0,
                   cursor: Optional[Tuple[float, int]] = None) -> Optional[_TopkSource]:
    """The clause kernel over ``index`` as a gather source; None when the
    plan has no clause. ``theta_seed`` 0.0 derives the auto seed (never in
    cursor mode: a first-page bound is no bound for a later page); a
    negative value disables seeding."""
    if not plan.clauses:
        return None
    if theta_seed == 0.0 and cursor is None:
        theta_seed = auto_seed_theta(index, plan, k)
    return _TopkSource(index, plan.terms, make_clause_topk_fn(plan, k, theta_seed, cursor))


def _clause_metrics(index: Index, plan: ClausePlan, k: int, theta_seed: float) -> dict:
    """Exact block-skip effectiveness of the plan a default call runs: the
    decode counters of every segment, summed per slice and on the
    driver."""
    tot, dec = _gather_topk([_clause_source(index, plan, k, theta_seed)], k)[3:]
    return {"blocks_total": tot, "blocks_decoded": dec, "ratio": (dec / tot) if tot else None}


# largest posting list a seed will decode on the driver: bounded work
# (<= a few hundred 256-entry blocks through the parquet row-group seek)
# regardless of corpus size — the same term-dictionary-seek shape as
# term_stats_for, never data-sized
AUTO_SEED_DECODE_CAP = 100_000


def _kth_partial(index: Index, plan: ClausePlan, term: str, w: float, k: int) -> float:
    """k-th best w·score(tf, dl) over one term's postings, read on the
    driver through the pyarrow row-group seek on this snapshot's
    term-sorted segment files (the FST term-dictionary *seek* shape, no
    Spark job); 0.0 on fewer than k postings or any read failure. Raw
    postings: tombstones are NOT applied."""
    try:
        import pyarrow.parquet as pq

        tbl = pq.ParquetDataset(
            [f for _, f in index.segment_files()], filesystem=index.paths.fs,
            filters=[("term", "==", term)],
        ).read(columns=["block_data"])
    except Exception:
        return 0.0
    tfs, dls = [], []
    for blocks in tbl["block_data"].to_pylist():
        for b in blocks or ():
            _, tf, dl = decode_block(bytes(b))
            tfs.append(tf)
            dls.append(dl)
    if sum(len(x) for x in tfs) < k:
        return 0.0
    s = np.asarray(plan.sim.score(term, np.concatenate(tfs), np.concatenate(dls)),
                   np.float64) * w
    return float(np.partition(s, len(s) - k)[len(s) - k])


def auto_seed_theta(index: Index, plan: ClausePlan, k: int) -> float:
    """Driver-side (no Spark job) global lower bound of the k-th best
    score — the default-on MaxScoreAccumulator analog
    (search/MaxScoreAccumulator.java:23; Lucene's concurrent slices share a
    threshold for free, a batch engine derives one on the driver).

    Clauses only ADD score, so any SHOULD term clause t with df(t) >= k
    yields >= k docs scoring at least their w·partial on t alone. Two
    tiers over those term clauses:

    1. the EXACT k-th partial of the rarest one (df <= decode cap), its
       postings decoded through the parquet row-group seek;
    2. stats only: w · score(tf=1, dl=max_dl) for each (every registered
       similarity is monotone up in tf, down in doclen).

    Sound only with >= 2 SHOULD clauses, no MUST (the qualifying set
    shrinks below df), no msm, no exclusions (they can remove the term's
    docs) and no live tombstones (df counts deleted docs). Returns 0.0 (no
    seed) otherwise."""
    cl = plan.clauses
    if (len(cl) < 2 or any(must for _, must, _ in cl) or plan.msm > 0
            or plan.excluded or index.has_deletes):
        return 0.0
    single = [next(iter(m.items())) for m, _, _ in cl if len(m) == 1]
    stats = index.term_stats_for([t for t, _ in single])
    elig = sorted((stats[t][0], t, w) for t, w in single if stats[t][0] >= k)
    best = 0.0
    if elig and elig[0][0] <= AUTO_SEED_DECODE_CAP:
        best = _kth_partial(index, plan, elig[0][1], elig[0][2], k)
    max_dl = int(getattr(index.field_stats, "max_dl", 0) or 0)
    if max_dl > 0:
        one, dl = np.array([1], np.int64), np.array([max_dl], np.int64)
        for _df, t, w in elig:
            best = max(best, float(plan.sim.score(t, one, dl)[0]) * w)
    # downward slack covers float re-association across paths
    return best * PRUNE_SCALE[plan.dtype] if best > 0.0 else 0.0


def _explicit_seed(index: Index, plan: ClausePlan, k: int) -> float:
    """Cross-segment threshold seed from the CHEAPEST clause alone (lowest
    lead df): its global k-th score is a lower bound of the full query's
    k-th, since clauses only add. A term clause whose list is small is
    decoded on the driver (no deletes: the raw decode cannot apply
    tombstones); anything else runs the clause on the pruned path, one
    job. 0.0 (no seed) with MUST, msm or exclusions."""
    cl = plan.clauses
    if not cl or any(must for _, must, _ in cl) or plan.msm > 0 or plan.excluded:
        return 0.0
    stats = index.term_stats_for(plan.terms)
    cheapest = min(cl, key=lambda c: min(stats[t][0] for t in c[0]))
    if len(cheapest[0]) == 1 and not index.has_deletes:
        ((t, w),) = cheapest[0].items()
        if k <= stats[t][0] <= AUTO_SEED_DECODE_CAP:
            kth = _kth_partial(index, plan, t, w, k)
            if kth > 0.0:
                return kth * PRUNE_SCALE[plan.dtype]
    sub = ClausePlan((cheapest,), (), 0, plan.sim, plan.dtype)
    scores = _gather_topk([_clause_source(index, sub, k)], k)[2]
    if len(scores) < k:
        return 0.0
    return float(scores[-1]) * PRUNE_SCALE[plan.dtype]


def search_topk(
    index: Index,
    q: NormalizedQuery,
    k: int = 10,
    boost: float = 1.0,
    quantize: Optional[bool] = None,
    dtype=None,
    theta_seed: float = 0.0,
    similarity: Optional[str] = None,
) -> DataFrame:
    """Top-k of a flat query on the clause kernel (make_clause_topk_fn)
    plus the global ordered merge (_gather_topk).

    ``quantize``/``dtype`` default to None = AUTO: float32 quantized (the
    engine default) unless the query is ``tree_origin`` — a flat form the
    rewriter produced from a nested tree — which keeps the tree path's
    float64/unquantized scoring so rewriting never changes the scores of
    the same query string. Explicit arguments always win.

    ``theta_seed``: pre-seed every segment's pruning threshold with a global
    lower bound of the k-th score (MaxScoreAccumulator.java:23 analog).
    The default 0.0 means AUTO (``auto_seed_theta``). Pass a negative value
    to disable seeding, or an explicit positive bound (e.g. from
    ``seed_theta``).

    ``similarity``: a similarity seam name ("classic", "boolean",
    "lm_dirichlet", ...); None/"bm25" keeps the default. Every registered
    similarity is monotone up in tf / down in doclen, so block-max pruning
    stays sound — bounds route through the same scorer."""
    return _topk_frame(
        index, _flat_source(index, q, k, boost, quantize, dtype, theta_seed, similarity), k
    )


def _flat_source(index: Index, q: NormalizedQuery, k: int = 10, boost: float = 1.0,
                 quantize: Optional[bool] = None, dtype=None, theta_seed: float = 0.0,
                 similarity: Optional[str] = None) -> Optional[_TopkSource]:
    """search_topk's gather source (same arguments and defaults)."""
    if quantize is None:
        quantize = not getattr(q, "tree_origin", False)
    if dtype is None:
        dtype = np.float64 if getattr(q, "tree_origin", False) else np.float32
    plan = _flat_plan(index, q, boost, dtype, similarity, quantize)
    return _clause_source(index, plan, k, theta_seed)


def seed_theta(
    index: Index,
    q: NormalizedQuery,
    k: int = 10,
    boost: float = 1.0,
    quantize: bool = True,
    dtype=np.float32,
    similarity: Optional[str] = None,
) -> float:
    """Explicit pruning-threshold seed for a flat query (_explicit_seed):
    the k-th best score of its rarest SHOULD term alone. ``similarity``
    MUST match the main query's (a seed from a different scoring function
    is no lower bound)."""
    return _explicit_seed(index, _flat_plan(index, q, boost, dtype, similarity, quantize), k)


def block_skip_metrics(
    index: Index,
    q: NormalizedQuery,
    k: int = 10,
    boost: float = 1.0,
    quantize: bool = True,
    dtype=np.float32,
    theta_seed: float = 0.0,
    similarity: Optional[str] = None,
) -> dict:
    """Exact block-skip effectiveness of search_topk's plan: one metrics
    row per segment, summed driver-side."""
    plan = _flat_plan(index, q, boost, dtype, similarity, quantize)
    return _clause_metrics(index, plan, k, theta_seed)


def search_after(
    index: Index,
    q: NormalizedQuery,
    k: int,
    after_score: float,
    after_docid: int,
    **kw,
) -> DataFrame:
    """Cursor pagination (IndexSearcher.searchAfter, IndexSearcher.java:587-602):
    hits strictly after the (score desc, docid asc) cursor via the PRUNED
    clause kernel, so deep paging on a hot term does not re-decode the
    full posting list."""
    plan = _flat_plan(index, q, kw.pop("boost", 1.0), kw.pop("dtype", np.float32),
                      kw.pop("similarity", None), kw.pop("quantize", True))
    return _topk_frame(
        index, _clause_source(index, plan, k, cursor=(float(after_score), int(after_docid))), k
    )


# ---------------------------------------------------------------------------
# PhraseQuery: two-phase per-segment evaluation (positions required)
# ---------------------------------------------------------------------------

def _decode_rows_pos(row, sel: Optional[np.ndarray], counters: List[int]):
    """Like _decode_rows but also decodes the positions stream of the kept
    blocks (two-phase verify: position decode only touches blocks holding
    candidates, TwoPhaseIterator.java:31): (ids, tfs, doclens, positions)."""
    from ..functions.codec import decode_block_positions

    data, pdata = row["block_data"], row["block_pos"]
    if pdata is None or (isinstance(pdata, float) and np.isnan(pdata)):
        raise ValueError(
            "index was built without position data; cannot run PhraseQuery "
            "(rebuild with IndexConfig(index_positions=True))"
        )
    keep = _select_blocks(row, sel, counters)
    if len(keep) == 0:
        return tuple(np.empty(0, np.int64) for _ in range(4))
    parts = []
    for i in keep:
        ids, tfs, dls = decode_block(bytes(data[i]))
        parts.append((ids, tfs, dls, decode_block_positions(bytes(pdata[i]), tfs)))
    return tuple(np.concatenate(x) for x in zip(*parts))


def _decode_rows_off(row, sel: Optional[np.ndarray], counters: List[int]):
    """Like _decode_rows_pos but decodes the OFFSETS stream of the kept
    blocks: returns (ids, tfs, starts, ends) — the char spans of every
    occurrence (IndexOptions ..._AND_OFFSETS read path)."""
    from ..functions.codec import decode_block_offsets

    data, odata = row["block_data"], row.get("block_off") if hasattr(row, "get") else row["block_off"]
    if odata is None or (isinstance(odata, float) and np.isnan(odata)):
        raise ValueError(
            "index was built without offset data; rebuild with "
            "IndexConfig(index_offsets=True) or use the analysis offset source"
        )
    keep = _select_blocks(row, sel, counters)
    if len(keep) == 0:
        return tuple(np.empty(0, np.int64) for _ in range(4))
    parts = []
    for i in keep:
        ids, tfs, _dls = decode_block(bytes(data[i]))
        parts.append((ids, tfs, *decode_block_offsets(bytes(odata[i]), tfs)))
    return tuple(np.concatenate(x) for x in zip(*parts))


def term_offsets_for_docs(index: Index, terms, docids: np.ndarray) -> DataFrame:
    """Distributed postings-sourced offsets: every (docid, term) occurrence
    span for the given docid set (candidate-restricted block decode, like
    the phrase two-phase). Returns (docid, term, start, end) rows."""
    terms = sorted(set(terms))
    sel = np.sort(np.asarray(docids, dtype=np.int64))

    def fn(key, pdf: pd.DataFrame, deleted: Optional[np.ndarray]) -> pd.DataFrame:
        counters = [0, 0]
        s = _live_mask(sel, deleted)
        cur = sel if s is None else sel[s]
        out = {"docid": [], "term": [], "start": [], "end": []}
        if len(cur):
            for t, grp in pdf.groupby("term"):
                rows = grp.to_dict("records")
                rows.sort(key=lambda r: r["first_docid"])
                parts = [_decode_rows_off(r, cur, counters) for r in rows]
                ids = np.concatenate([p[0] for p in parts])
                tfs = np.concatenate([p[1] for p in parts])
                st = np.concatenate([p[2] for p in parts])
                en = np.concatenate([p[3] for p in parts])
                m = cur[np.searchsorted(cur, ids).clip(max=len(cur) - 1)] == ids
                occ = np.repeat(m, tfs)
                st, en = st[occ], en[occ]
                ids_occ = np.repeat(ids[m], tfs[m])
                out["docid"].extend(int(d) for d in ids_occ)
                out["term"].extend([t] * len(ids_occ))
                out["start"].extend(int(v) for v in st)
                out["end"].extend(int(v) for v in en)
        return pd.DataFrame(
            {
                "docid": np.array(out["docid"], dtype=np.int64),
                "term": np.array(out["term"], dtype=object),
                "start": np.array(out["start"], dtype=np.int32),
                "end": np.array(out["end"], dtype=np.int32),
            }
        )

    return apply_per_segment(
        index, terms, fn, "docid long, term string, start int, end int",
        streams=("block_data", "block_off"),
    )


def _phrase_offsets(phrase, stop_words) -> List[Tuple[str, int]]:
    """Normalize a phrase spec to [(term, offset)] with offset[0] == 0
    (PhraseQuery.rewrite rebases; stopword holes preserved like the
    QueryParser's position increments)."""
    from ..analysis import ENGLISH_STOP_WORDS, analyze_with_positions

    if isinstance(phrase, str):
        pairs = analyze_with_positions(phrase, stop_words or ENGLISH_STOP_WORDS)
    elif phrase and isinstance(phrase[0], (tuple, list)):
        pairs = [(t, int(o)) for t, o in phrase]
    else:
        pairs = [(t, i) for i, t in enumerate(phrase)]
    if not pairs:
        return []
    base = pairs[0][1]
    return [(t, o - base) for t, o in pairs]


def make_phrase_fn(
    slots: Sequence[Tuple[int, Tuple[str, ...]]],
    weight: float,
    k: Optional[int],
    slop: int,
    avgdl: float,
    quantize: bool,
    dtype,
    sim=None,
):
    """Per-segment scorer for PhraseQuery and MultiPhraseQuery (one matcher
    pair, ExactPhraseMatcher.java:149 / SloppyPhraseMatcher.java:205).
    ``slots`` = [(offset, (alternatives...))]: a slot matches where ANY of
    its alternatives occurs (UnionPostingsEnum, MultiPhraseQuery.java:412);
    a PhraseQuery has one alternative per slot. Phase 1 intersects docids
    over the distinct alternative sets, rarest first (positions untouched);
    phase 2 decodes positions of candidate blocks only and runs the matcher
    the slot shape picks (PhraseScorer.twoPhaseIterator analog):

    - slop 0: one intersection of fused (doc, position - offset) keys;
    - two one-alternative slots on distinct terms: the batched 2-term
      chain (sloppy_2term_doc_freqs);
    - no term shared across slots: the batched n-term walk over the slots'
      position unions (sloppy_nterm_doc_freqs);
    - repeating terms, one alternative per slot: the batched rptGroups walk
      (sloppy_rpt_doc_freqs);
    - otherwise, or when an offset is >= 256 (the batched walks order pps
      by ``position * 256 + offset``), the per-doc greedy walk
      (sloppy_phrase_freq) with union-find repeat groups over slots sharing
      a term (gatherRptGroups, SloppyPhraseMatcher.java:556-609) and the
      multi-term init when a repeating slot has several alternatives."""
    from ..functions.phrase import (
        sloppy_2term_doc_freqs, sloppy_nterm_doc_freqs, sloppy_phrase_freq,
        sloppy_rpt_doc_freqs,
    )

    offs = [int(o) for o, _ in slots]
    POS_BASE = np.int64(1) << np.int64(22)  # fused (doc, adjusted-pos) key space
    parent = list(range(len(slots)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first_slot: Dict[str, int] = {}
    for si, (_, alts) in enumerate(slots):
        for t in alts:
            parent[find(si)] = find(first_slot.setdefault(t, si))
    by_root: Dict[int, list] = {}
    for si in range(len(slots)):
        by_root.setdefault(find(si), []).append(si)
    groups = [g for g in by_root.values() if len(g) > 1]
    multi_term = any(len(slots[si][1]) > 1 for g in groups for si in g)
    single = all(len(alts) == 1 for _, alts in slots)

    def fused(t, per_term, off, base, shift=0):
        """A term's (doc - base, position - off + shift) fused keys and
        its adjusted positions."""
        ids, tfs, pos = per_term[t]
        if len(pos) and int(pos.max()) + shift + 1 >= int(POS_BASE):
            raise ValueError("document positions exceed fused-key space")
        adj = pos - np.int64(off - shift)
        return (np.repeat(ids, tfs) - base) * POS_BASE + adj, adj

    def exact(cand, slot_alts, per_term):
        base = int(cand[0])  # rebase so fused keys fit int64 at any scale
        keys = None
        for off, alts in zip(offs, slot_alts):
            ks = [kt[adj >= 0] for kt, adj in (fused(t, per_term, off, base) for t in alts)]
            # alternatives CAN share a position (index-time synonym
            # stacking): the union dedups like UnionPostingsEnum
            # (MultiPhraseQuery.java:475) before the assume_unique intersect
            slot_keys = ks[0] if len(ks) == 1 else np.unique(np.concatenate(ks))
            keys = slot_keys if keys is None else np.intersect1d(
                keys, slot_keys, assume_unique=True
            )
            if len(keys) == 0:
                return _EMPTY_IDS, _EMPTY_SCORES
        docs, cnts = np.unique(keys // POS_BASE, return_counts=True)
        return np.searchsorted(cand, docs + base), cnts

    def two_term(cand, slot_alts, per_term):
        # shifting by the max offset keeps adjusted positions non-negative
        base, shift = int(cand[0]), max(offs)
        (ka, _), (kb, _) = (fused(t, per_term, off, base, shift)
                            for off, (t,) in zip(offs, slot_alts))
        docs, freqs = sloppy_2term_doc_freqs(ka, kb, int(POS_BASE), slop, dtype=dtype)
        return np.searchsorted(cand, docs + base), freqs

    def slot_lists(cand, slot_alts, per_term):
        """Per slot: every candidate's positions (the union of the slot's
        alternatives, ascending per doc) and per-doc bounds into them."""
        plists, bounds = [], []
        for alts in slot_alts:
            if len(alts) == 1:  # every candidate holds the slot's one term
                _ids, tfs, pos = per_term[alts[0]]
                cnts = tfs
            else:
                ci = np.concatenate([
                    np.repeat(np.searchsorted(cand, per_term[t][0]), per_term[t][1])
                    for t in alts
                ])
                pos = np.concatenate([per_term[t][2] for t in alts])
                pos = pos[np.lexsort((pos, ci))]
                cnts = np.bincount(ci, minlength=len(cand))
            plists.append(pos)
            bounds.append(np.concatenate(([0], np.cumsum(cnts))))
        return plists, bounds

    def nterm(cand, slot_alts, per_term):
        return sloppy_nterm_doc_freqs(*slot_lists(cand, slot_alts, per_term), offs, slop,
                                      dtype=dtype)

    def rpt(cand, slot_alts, per_term):
        plists, bounds = slot_lists(cand, slot_alts, per_term)
        return sloppy_rpt_doc_freqs(plists, bounds, offs, slop, groups, dtype=dtype)

    def walk(cand, slot_alts, per_term):
        plists, bounds = slot_lists(cand, slot_alts, per_term)
        rows_l, freqs_l = [], []
        for i in range(len(cand)):
            f = sloppy_phrase_freq(
                [p[b[i] : b[i + 1]] for p, b in zip(plists, bounds)], offs, slop,
                dtype=dtype, groups=groups, multi_term=multi_term,
            )
            if f > 0:
                rows_l.append(i)
                freqs_l.append(float(f))
        return np.array(rows_l, dtype=np.int64), np.array(freqs_l, dtype=np.float64)

    if slop == 0:
        match = exact
    elif single and len(slots) == 2 and not groups:
        match = two_term
    elif max(offs) >= 256:
        match = walk
    elif not groups:
        match = nterm
    else:
        match = rpt if single else walk

    def run(pdf: pd.DataFrame, deleted: Optional[np.ndarray]):
        counters = [0, 0]
        none = (_EMPTY_IDS, _EMPTY_SCORES, counters)
        rows: Dict[str, list] = {}
        for r in pdf.to_dict("records"):
            rows.setdefault(r["term"], []).append(r)
        for t in rows:
            rows[t].sort(key=lambda r: r["first_docid"])
        slot_alts = [tuple(t for t in alts if t in rows) for _, alts in slots]
        if not all(slot_alts):
            return none

        # --- phase 1: conjunction on docids over the distinct alternative
        # sets (a repeated phrase term is decoded once), rarest first
        cand = None
        df = {t: sum(int(r["df"]) for r in rows[t]) for t in rows}
        for alts in sorted(set(slot_alts), key=lambda a: (sum(df[t] for t in a), a)):
            union = None
            for t in alts:
                ids = np.concatenate([_decode_rows(r, cand, counters)[0] for r in rows[t]])
                if cand is not None and len(ids):
                    ids = ids[cand[np.searchsorted(cand, ids).clip(max=len(cand) - 1)] == ids]
                union = ids if union is None else np.union1d(union, ids)
            cand = union if cand is None else np.intersect1d(cand, union, assume_unique=True)
            if len(cand) == 0:
                return none
        live = _live_mask(cand, deleted)
        if live is not None:
            cand = cand[live]
        if len(cand) == 0:
            return none

        # --- phase 2: decode positions for candidate blocks only
        per_term: Dict[str, tuple] = {}
        doclens = np.zeros(len(cand), dtype=np.int64)
        for t in sorted({t for alts in slot_alts for t in alts}):
            parts = [_decode_rows_pos(r, cand, counters) for r in rows[t]]
            ids, tfs, dls, pos = (np.concatenate(x) for x in zip(*parts))
            j = np.searchsorted(cand, ids)
            m = cand[j.clip(max=len(cand) - 1)] == ids
            doclens[j[m]] = dls[m]
            per_term[t] = (ids[m], tfs[m], pos[np.repeat(m, tfs)])

        rows_i, freqs = match(cand, slot_alts, per_term)
        if len(rows_i) == 0:
            return none
        freqs, dls_m = np.asarray(freqs, dtype=np.float64), doclens[rows_i]
        if sim is not None:
            scores = sim.phrase_score(freqs, dls_m)
        else:
            scores = score_arrays(freqs, dls_m, weight, avgdl, quantize, dtype)
        return (*_select_topk(cand[rows_i], scores, k), counters)

    return run


def require_positions(index: Index, what: str) -> None:
    """Refuse position-dependent queries on an index built with
    index_positions=False (IllegalStateException "field ... was indexed
    without position data" analog). Pre-stamp indexes (flag unknown) pass
    through unchecked."""
    if index.has_positions is False:
        raise ValueError(
            f"{what} requires positions, but this index was built without "
            "position data (IndexConfig(index_positions=False)); rebuild "
            "with index_positions=True"
        )


_PHRASE_STREAMS = ("block_data", "block_pos")


def search_phrase(
    index: Index,
    phrase,
    slop: int = 0,
    k: int = 10,
    boost: float = 1.0,
    quantize: bool = True,
    dtype=np.float32,
    stop_words=None,
    similarity: Optional[str] = None,
) -> DataFrame:
    """PhraseQuery top-k (PhraseQuery.java:71,76): exact (slop=0, leapfrog
    alignment, ExactPhraseMatcher.java:149) or sloppy (greedy pq matcher,
    SloppyPhraseMatcher.java:205). weight = boost * Σ idf over the phrase's
    terms (duplicates included, BM25Similarity.idfExplain[TermStats[]]);
    phraseFreq is the BM25 freq. ``phrase``: a string (analyzed, stopword
    holes preserved), a term list, or [(term, offset)] pairs. A non-BM25
    ``similarity`` scores the phrase freq through the Similarity seam
    (one SimScorer per term occurrence, summed — MultiSimilarity analog)."""
    require_positions(index, "PhraseQuery")
    return _topk_frame(index, _phrase_source(index, phrase, slop, k, boost, quantize,
                                             dtype, stop_words, similarity), k)


def phrase_scores(
    index: Index,
    phrase,
    slop: int = 0,
    boost: float = 1.0,
    quantize: bool = False,
    dtype=np.float64,
    stop_words=None,
    similarity: Optional[str] = None,
) -> DataFrame:
    """ALL (docid, score) phrase matches, uncut — the tree-evaluation
    building block for PhraseQuery clauses inside nested booleans."""
    src = _phrase_source(index, phrase, slop, None, boost, quantize, dtype,
                         stop_words, similarity)
    if src is None:
        return _hits_frame(index.spark)
    run = src.run  # the closure must not capture the source's Index

    def fn(key, pdf: pd.DataFrame, deleted: Optional[np.ndarray]) -> pd.DataFrame:
        ids, scores, _counters = run(pdf, deleted)
        return pd.DataFrame({"docid": ids, "score": scores})

    return apply_per_segment(index, src.terms, fn, "docid long, score double",
                             streams=src.streams)


def _phrase_source(index, phrase, slop=0, k=10, boost=1.0, quantize=True,
                   dtype=np.float32, stop_words=None,
                   similarity=None) -> Optional[_TopkSource]:
    """A PhraseQuery (search_phrase's arguments and defaults) lowered to
    one-alternative slots (_slots_source); None when the phrase has fewer
    than two terms."""
    terms_off = _phrase_offsets(phrase, stop_words)
    if len(terms_off) < 2:
        return None
    return _slots_source(index, [(o, (t,)) for t, o in terms_off], slop, k, boost,
                         quantize, dtype, similarity)


def _slots_source(index, slots, slop, k, boost, quantize, dtype,
                  similarity) -> Optional[_TopkSource]:
    """The phrase kernel (make_phrase_fn) over ``index`` as a gather source.
    ``slots`` = [(offset, (alternatives...))]; an alternative absent from
    the index is ignored, and None is returned when a slot has none left
    (it can never match). weight = boost * Σ idf over every existing
    alternative in slot order: one TermStatistics per term occurrence, so
    a repeated phrase term counts once per position (PhraseQuery's
    termStats, MultiPhraseQuery's allTermStats, MultiPhraseQuery.java:
    228-236). A non-BM25 ``similarity`` scores the phrase freq with one
    SimScorer per occurrence, summed (the occurrence counts ride the qtf
    slot of bind_similarity)."""
    from collections import Counter

    from .scorer import idf as _idf
    from .similarities import bind_similarity

    stats = index.term_stats_for(sorted({t for _, alts in slots for t in alts}))
    live = [(off, tuple(t for t in alts if t in stats)) for off, alts in slots]
    if not all(alts for _, alts in live):
        return None
    occ = [t for _, alts in live for t in alts]
    n = index.field_stats.doc_count
    w = float(dtype(boost) * dtype(sum(float(_idf(stats[t][0], n, dtype)) for t in occ)))
    sim = bind_similarity(similarity, dict(Counter(occ)), stats, index.field_stats,
                          boost, quantize, dtype)
    run = make_phrase_fn(live, w, k, slop, float(index.field_stats.avgdl()), quantize,
                         dtype, sim=sim)
    return _TopkSource(index, sorted(set(occ)), run, _PHRASE_STREAMS)


def ngram_phrase_rewrite(terms: Sequence[str], n: int) -> List[Tuple[str, int]]:
    """NGramPhraseQuery rewrite (search/NGramPhraseQuery.java:45-75): an
    exact phrase of ADJACENT n-grams is equivalent to matching only every
    n-th gram plus the last, at their original offsets — kept grams pin the
    underlying characters, which pin the skipped grams (an invariant of an
    n-gram analyzer's index). Applies when n >= 2 and the phrase has >= 3
    consecutive single-term positions; otherwise returns the phrase as-is.
    Like the reference rewrite, the optimized query REPLACES the original,
    so scores come from the smaller term set; the match set is identical."""
    if n < 2 or len(terms) < 3:
        return [(t, i) for i, t in enumerate(terms)]
    return [
        (t, i)
        for i, t in enumerate(terms)
        if i % n == 0 or i == len(terms) - 1
    ]


def search_ngram_phrase(
    index: Index, gram_terms: Sequence[str], n: int, k: int = 10,
    boost: float = 1.0, quantize: bool = True, dtype=np.float32,
) -> DataFrame:
    """Exact phrase over an n-gram-analyzed field with the NGramPhraseQuery
    term-skipping rewrite applied."""
    return search_phrase(
        index, ngram_phrase_rewrite(list(gram_terms), n), slop=0, k=k,
        boost=boost, quantize=quantize, dtype=dtype,
    )


def search_phrase_wildcard(
    index: Index,
    phrase: str,
    slop: int = 0,
    k: int = 10,
    max_expansions: int = 128,
    **kw,
) -> DataFrame:
    """PhraseWildcardQuery analog (lucene/sandbox/src/java/org/apache/
    lucene/sandbox/search/PhraseWildcardQuery.java:63): a phrase whose
    slots may be multi-term patterns — "hash jo*" or "ha?h join". Each
    pattern slot expands against the term dictionary (TopTermsRewrite cap,
    distributed expansion — expand_terms never collects the vocabulary to
    enumerate) and the result lowers onto the MultiPhraseQuery machinery
    (slot-union matcher + allTermStats weight). The reference additionally
    orders slot expansion by cost and prunes by segment; the two-phase
    candidate-restricted position decode here plays that role."""
    require_positions(index, "PhraseWildcardQuery")
    slots = []
    for off, word in enumerate(w for w in phrase.lower().split() if w):
        if "*" in word or "?" in word:
            if word.replace("*", "") == "":
                raise ValueError("a slot cannot be a bare wildcard")
            if "?" in word or not word.endswith("*") or "*" in word[:-1]:
                regex = "^" + "".join(
                    ".*" if c == "*" else "." if c == "?" else re.escape(c)
                    for c in word
                ) + "$"
                terms = index.expand_terms(regex=regex, max_terms=max_expansions)
            else:
                terms = index.expand_terms(prefix=word[:-1], max_terms=max_expansions)
            if not terms:
                return index.spark.createDataFrame([], "docid long, score double")
            slots.append((off, sorted(terms)))
        else:
            slots.append((off, [word]))
    return search_multi_phrase(index, slots, slop=slop, k=k, **kw)


def search_multi_phrase(
    index: Index,
    slots: Sequence,
    slop: int = 0,
    k: int = 10,
    boost: float = 1.0,
    quantize: bool = True,
    dtype=np.float32,
    similarity: Optional[str] = None,
) -> DataFrame:
    """MultiPhraseQuery top-k (search/MultiPhraseQuery.java:54): ``slots`` =
    [(offset, [alternative terms...])]; a slot matches where ANY alternative
    occurs, and the weight sums the idf of EVERY alternative that exists in
    the index (allTermStats, MultiPhraseQuery.java:228-236). A non-BM25
    ``similarity`` scores the phrase freq with one SimScorer per existing
    alternative, summed (MultiSimilarity analog)."""
    require_positions(index, "MultiPhraseQuery")
    if not slots:
        return _hits_frame(index.spark)
    base_off = int(slots[0][0])
    norm_slots = [(int(o) - base_off, tuple(sorted(set(a)))) for o, a in slots]
    return _topk_frame(index, _slots_source(index, norm_slots, slop, k, boost, quantize,
                                            dtype, similarity), k)


def blended_term_topk(
    index: Index,
    terms: Sequence[str],
    k: int = 10,
    tie: float = 0.01,
    boost: float = 1.0,
    dtype=np.float64,
) -> DataFrame:
    """BlendedTermQuery (search/BlendedTermQuery.java:47): every term is
    scored with BLENDED statistics — df = max over the terms
    (BlendedTermQuery.java:281-282) — then combined by the default
    DisjunctionMax rewrite with tieBreaker 0.01
    (DISJUNCTION_MAX_REWRITE): score = max(sub) + tie * Σ(other subs)."""
    spark = index.spark
    stats = index.term_stats_for(list(terms))
    live = sorted(t for t in set(terms) if t in stats)
    if not live:
        return spark.createDataFrame([], "docid long, score double")
    n = index.field_stats.doc_count
    df_blend = max(stats[t][0] for t in live)
    from .scorer import idf as _idf

    w = float(dtype(boost) * _idf(df_blend, n, dtype))
    dec = decoded_postings(index, live)
    avgdl = float(index.field_stats.avgdl())
    ninv = 1.0 / (F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("doclen") / F.lit(avgdl)))
    s = F.lit(w) - F.lit(w) / (F.lit(1.0) + F.col("tf").cast("double") * ninv)
    per_doc = dec.withColumn("s", s).groupBy("docid").agg(
        F.max("s").alias("mx"), F.sum("s").alias("sm")
    )
    score = F.col("mx") + F.lit(float(tie)) * (F.col("sm") - F.col("mx"))
    return (
        per_doc.select("docid", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def dismax_topk(
    index: Index,
    clauses: Sequence[NormalizedQuery],
    k: int = 10,
    tie: float = 0.0,
    **kw,
) -> DataFrame:
    """DisjunctionMaxQuery (search/DisjunctionMaxQuery.java:41,
    DisjunctionMaxScorer): a doc matches when ANY clause matches; its
    score is the MAX clause score plus ``tie`` times the sum of the other
    matching clauses' scores (tieBreakerMultiplier). Each clause is a full
    NormalizedQuery evaluated by the exhaustive JVM path; the combine is
    one union + groupBy — no driver loop over docs."""
    spark = index.spark
    scored = None
    for q in clauses:
        part = search_exhaustive(index, q, k=None, **kw)
        scored = part if scored is None else scored.unionByName(part)
    if scored is None:
        return spark.createDataFrame([], "docid long, score double")
    per_doc = scored.groupBy("docid").agg(
        F.max("score").alias("mx"), F.sum("score").alias("sm")
    )
    score = F.col("mx") + F.lit(float(tie)) * (F.col("sm") - F.col("mx"))
    return (
        per_doc.select("docid", score.alias("score"))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def feature_topk(
    index: Index,
    q: NormalizedQuery,
    feature_col: str,
    function: str = "saturation",
    weight: float = 1.0,
    pivot: float = 1.0,
    exponent: float = 1.0,
    scaling: float = 1.0,
    k: int = 10,
    **kw,
) -> DataFrame:
    """FeatureField scoring (document/FeatureField.java:106): a static
    per-doc feature (pagerank, recency, quality) contributes to the score
    through one of the reference's four functions —
      linear      w * f                       [FeatureField.java:262-268]
      log         w * ln(scaling + f)         [FeatureField.java:352-357]
      saturation  w * (1 - pivot/(f + pivot)) [FeatureField.java:446-451]
      sigmoid     w * (1 - k^a/(f^a + k^a))   [FeatureField.java:527-532]
    — added to the wrapped query's score (the usual SHOULD-clause
    composition). The feature here is a plain doc column (Spark is
    columnar; no freq-encoding roundtrip needed); the whole plan is
    Catalyst expressions over the match join."""
    f = F.col(feature_col).cast("double")
    w = F.lit(float(weight))
    if function == "linear":
        fs = w * f
    elif function == "log":
        fs = w * F.log(F.lit(float(scaling)) + f)
    elif function == "saturation":
        p = F.lit(float(pivot))
        fs = w * (F.lit(1.0) - p / (f + p))
    elif function == "sigmoid":
        pa = F.lit(float(pivot) ** float(exponent))
        fs = w * (F.lit(1.0) - pa / (F.pow(f, F.lit(float(exponent))) + pa))
    else:
        raise ValueError(f"unknown feature function {function!r}")
    m = search_exhaustive(index, q, k=None, **kw).join(index.docs, "docid")
    # a doc with a NULL feature keeps its query score (the reference's
    # FeatureField-as-SHOULD contributes 0 when the feature is absent,
    # FeatureField.java:106; without the coalesce the NULL nulls the whole
    # sum and the doc sinks to the bottom, ADVICE r4)
    return (
        m.select("docid", (F.col("score") + F.coalesce(fs, F.lit(0.0))).alias("score"))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def function_score(index: Index, q: NormalizedQuery, expr: str, k: int = 10, **kw) -> DataFrame:
    """FunctionScoreQuery (queries/function/FunctionScoreQuery.java:44): the
    final score is an arbitrary SQL expression over the matching doc's
    columns and the wrapped query's BM25 score — Catalyst IS the
    DoubleValuesSource expression compiler."""
    m = search_exhaustive(index, q, k=None, **kw).join(index.docs, "docid")
    return (
        m.select("docid", F.expr(expr).cast("double").alias("score"))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def count_hits_lower_bound(index: Index, q: NormalizedQuery, threshold: int = 1000):
    """Early-terminating hit count (TotalHitCountCollector +
    totalHitsThreshold, TopScoreDocCollector.java:163): scan stops once
    ``threshold`` hits are seen; returns (count, relation) where relation is
    GREATER_THAN_OR_EQUAL when terminated early, else EQUAL."""
    if q.is_match_none:
        return 0, "EQUAL"
    n = search_exhaustive(index, q, k=None).limit(threshold).count()
    return n, "GREATER_THAN_OR_EQUAL" if n >= threshold else "EQUAL"


def count_hits(index: Index, q: NormalizedQuery) -> int:
    """TotalHitCountCollector / IndexSearcher.count analog, with the
    single-term df shortcut (Weight#count, IndexSearcher.java:495)."""
    if q.is_match_none:
        return 0
    terms = list(q.scoring_terms)
    # the df shortcut is only valid with no deletes (Weight#count returns -1
    # when liveDocs exist and Lucene falls back to counting)
    if len(terms) == 1 and not q.excluded and not index.has_deletes:
        stats = index.term_stats_for(terms)
        return stats.get(terms[0], (0, 0))[0]
    df = search_exhaustive(index, q, k=None)
    return df.count()


def hydrate(index: Index, topk: DataFrame) -> DataFrame:
    """Stored-fields hydration: join top-k docids back to the docs table
    (broadcast the tiny top-k side)."""
    return index.docs.join(F.broadcast(topk), "docid").orderBy(
        F.col("score").desc(), F.col("docid").asc()
    )


# ---------------------------------------------------------------------------
# Query-tree execution: nested booleans from the parser (exhaustive path)
# ---------------------------------------------------------------------------

def _eval_node(index: Index, node, quantize: bool, dtype,
               similarity: Optional[str] = None) -> Optional[DataFrame]:
    """Evaluate a query-tree node to a full (docid, score) DataFrame, or
    None when the node can match nothing. Score semantics follow
    BooleanQuery: a doc's score is the sum of its matching scoring clauses,
    each clause scaled by its boost [BooleanQuery.java:40, BoostQuery]."""
    if node is None:
        return None
    if isinstance(node, QTerm):
        if node.field not in (None, "content"):
            raise ValueError(
                f"unknown field {node.field!r} (single text field; see MultiFieldIndex)"
            )
        q = NormalizedQuery(optional=((node.term, 1),))
        df = search_exhaustive(index, q, k=None, boost=node.boost, quantize=quantize,
                               dtype=dtype, similarity=similarity)
        return df
    if isinstance(node, QPhrase):
        return phrase_scores(
            index, list(node.terms_off), slop=node.slop, boost=node.boost,
            quantize=quantize, dtype=dtype, similarity=similarity,
        )
    if isinstance(node, (QFuzzy, QPrefix, QWildcard)):
        # top-terms scoring rewrite: OR of the matching terms, each scored
        # with its own idf (ScoringRewrite / TopTermsRewrite, cap 1024)
        if isinstance(node, QFuzzy):
            terms = index.expand_terms(
                fuzzy=(node.term, node.max_edits), max_terms=1024,
                transpositions=node.transpositions,
            )
        elif isinstance(node, QPrefix):
            terms = index.expand_terms(prefix=node.prefix, max_terms=1024)
        else:
            regex = "^" + "".join(
                ".*" if c == "*" else "." if c == "?" else re.escape(c)
                for c in node.pattern
            ) + "$"
            terms = index.expand_terms(regex=regex, max_terms=1024)
        if not terms:
            return None
        q = NormalizedQuery(optional=tuple((t, 1) for t in sorted(terms)))
        return search_exhaustive(index, q, k=None, boost=node.boost, quantize=quantize,
                                 dtype=dtype, similarity=similarity)
    if isinstance(node, QRange):
        # filter-shaped node -> cacheable docid set (LRUQueryCache analog).
        # The cached set is RAW (pre-live-docs); deletes are applied after
        # retrieval, so tombstoning never stales the cache (the reference
        # keys per segment core and applies liveDocs at read,
        # LRUQueryCache.java:262-280).
        if node.field in (None, "content"):
            # TermRangeQuery -> constant-score over docs holding any term in
            # the lexicographic range (MultiTermQueryConstantScoreWrapper).
            # The in-range vocabulary is broadcast-joined against the
            # postings — it never materializes on the driver (a hot range
            # can cover millions of terms at corpus scale).
            ts = index.term_stats.filter(
                (F.col("term") >= node.lo) & (F.col("term") <= node.hi)
            ).select("term")
            # no existence pre-check: it cost a Spark job on EVERY call
            # (cache hits included), and an empty docid set composes
            # identically to the None fast path in _eval_bool (r7)

            def compute() -> DataFrame:
                return (
                    decoded_postings(index, ts, apply_deletes=False)
                    .select("docid")
                    .distinct()
                )
        else:
            # numeric/docvalues range: pushdown filter on the docs table
            # (PointRangeQuery analog — parquet min/max pruning replaces BKD)
            def compute() -> DataFrame:
                return index.docs.filter(
                    (F.col(node.field) >= node.lo) & (F.col(node.field) <= node.hi)
                ).select("docid")

        cache = index.query_cache
        if cache is not None:
            key = f"range|{node.field}|{node.lo!r}|{node.hi!r}|g{index.generation}"
            ids = cache.get_or_compute(key, compute)
        else:
            ids = compute()
        if index.has_deletes:
            ids = ids.join(index.tombstones.select("docid"), "docid", "left_anti")
        return ids.withColumn("score", F.lit(float(node.boost)))
    if isinstance(node, QBool):
        return _eval_bool(index, node, quantize, dtype, similarity)
    raise TypeError(f"unknown query node {type(node).__name__}")


def _eval_bool(index: Index, node: QBool, quantize: bool, dtype,
               similarity: Optional[str] = None) -> Optional[DataFrame]:
    must, should, mnot = [], [], []
    for occ, child in node.clauses:
        df = _eval_node(index, child, quantize, dtype, similarity)
        if occ == MUST:
            if df is None:
                return None  # a MUST clause that matches nothing kills the query
            must.append(df)
        elif occ == SHOULD:
            if df is not None:
                should.append(df)
        else:
            if df is not None:
                mnot.append(df)
    if not must and not should:
        return None  # empty / pure-negative boolean (BooleanQuery.java:269-276)
    msm = int(getattr(node, "msm", 0) or 0)
    if msm > len(should):
        # more shoulds demanded than exist -> MatchNone
        # (Booleans2ScorerSupplier's minShouldMatch > optional count)
        return None
    if should:
        # tag each SHOULD clause so msm can count DISTINCT matching clauses
        # over arbitrary clause types (BooleanQuery.java:123 semantics)
        tagged = [
            s.select("docid", "score", F.lit(i).alias("__cid__"))
            for i, s in enumerate(should)
        ]
        allsh = tagged[0]
        for s in tagged[1:]:
            allsh = allsh.unionAll(s)
        opt = allsh.groupBy("docid").agg(
            F.sum("score").alias("__opt__"),
            F.count_distinct("__cid__").alias("__nsh__"),
        )
        if msm > 0:
            opt = opt.filter(F.col("__nsh__") >= msm)
    if must:
        scored = must[0].select("docid", F.col("score").alias("s0"))
        for i, m in enumerate(must[1:], 1):
            scored = scored.join(
                m.select("docid", F.col("score").alias(f"s{i}")), "docid"
            )
        total = F.col("s0")
        for i in range(1, len(must)):
            total = total + F.col(f"s{i}")
        scored = scored.select("docid", total.alias("score"))
        if should:
            # with msm > 0 the qualified-shoulds set GATES matching (inner
            # join); msm == 0 keeps shoulds purely optional (left join)
            how = "inner" if msm > 0 else "left"
            scored = scored.join(opt.select("docid", "__opt__"), "docid", how).select(
                "docid",
                (F.col("score") + F.coalesce(F.col("__opt__"), F.lit(0.0))).alias("score"),
            )
    else:
        scored = opt.select("docid", F.col("__opt__").alias("score"))
    if mnot:
        ex = mnot[0].select("docid")
        for m in mnot[1:]:
            ex = ex.unionAll(m.select("docid"))
        scored = scored.join(ex.distinct(), "docid", "left_anti")
    if node.boost != 1.0:
        scored = scored.select("docid", (F.col("score") * F.lit(float(node.boost))).alias("score"))
    return scored


def search_tree(
    index: Index,
    node,
    k: Optional[int] = 10,
    quantize: bool = False,
    dtype=np.float64,
    similarity: Optional[str] = None,
) -> DataFrame:
    """Execute a parsed query tree (nested booleans, phrases, multi-term,
    ranges, boosts) on the exhaustive DataFrame path. ``similarity`` is
    threaded to every term-scored leaf AND phrase clause (Similarity seam;
    phrases score via the MultiSimScorer-sum analog)."""
    df = _eval_node(index, node, quantize, dtype, similarity)
    if df is None:
        return index.spark.createDataFrame([], "docid long, score double")
    df = df.orderBy(F.col("score").desc(), F.col("docid").asc())
    return df.limit(k) if k else df


def _tree_plan(index: Index, node, quantize: bool, dtype,
               similarity: Optional[str]) -> Optional[ClausePlan]:
    """Lower a clause-shaped tree (plan.mixed_or_clauses: top-level MUST
    terms, SHOULD term / AND-of-term clauses, MUST_NOT terms) for the
    clause kernel; None when the tree needs the exhaustive search_tree.
    Term weights are unboosted (qtf 1); boosts ride on the clause member
    weights (every similarity is linear in its weight); a SHOULD clause
    credits 1 toward msm."""
    shape = mixed_or_clauses(node)
    if shape is None:
        return None
    should, excluded, msm, must = shape
    clauses = [({t: w}, True, 0) for t, w in sorted(must.items())]
    clauses += [(c, False, 1) for c in should]
    terms = {t for c, _, _ in clauses for t in c}
    return _clause_plan(index, clauses, excluded, msm, {t: 1 for t in sorted(terms)},
                        1.0, quantize, dtype, similarity)


def seed_theta_tree(
    index: Index,
    node,
    k: int = 10,
    quantize: bool = False,
    dtype=np.float64,
    similarity: Optional[str] = None,
) -> float:
    """Explicit pruning-threshold seed for a clause-shaped tree
    (_explicit_seed: its cheapest clause's global k-th) — the knob for
    conjunction-only trees, where auto_seed_theta has no term clause to
    seed from. 0.0 when the tree is not clause-shaped."""
    plan = _tree_plan(index, node, quantize, dtype, similarity)
    return 0.0 if plan is None else _explicit_seed(index, plan, k)


def search_tree_topk(
    index: Index,
    node,
    k: Optional[int] = 10,
    quantize: bool = False,
    dtype=np.float64,
    similarity: Optional[str] = None,
    theta_seed: float = 0.0,
) -> Optional[DataFrame]:
    """Pruned top-k of a clause-shaped tree like ``(rare AND hot) OR med``
    or ``+hot (rare AND word) mid`` on the clause kernel. Returns None
    when the tree is not that shape (the caller falls back to the
    exhaustive search_tree) — scoring defaults are the tree path's
    (float64, unquantized), so the lowering changes the PLAN, never the
    scores beyond float64 summation order."""
    if k is None:
        return None  # full materialization: pruning has nothing to prune
    plan = _tree_plan(index, node, quantize, dtype, similarity)
    if plan is None:
        return None
    return _topk_frame(index, _clause_source(index, plan, k, theta_seed), k)


def search_tree_after(
    index: Index,
    node,
    k: int,
    after_score: float,
    after_docid: int,
    quantize: bool = False,
    dtype=np.float64,
    similarity: Optional[str] = None,
) -> DataFrame:
    """Cursor pagination for query TREES (IndexSearcher.searchAfter,
    IndexSearcher.java:587-602): clause-shaped trees page on the clause
    kernel; any other tree falls back to the exhaustive evaluation
    filtered by the cursor."""
    plan = _tree_plan(index, node, quantize, dtype, similarity)
    if plan is not None:
        return _topk_frame(
            index, _clause_source(index, plan, k, cursor=(float(after_score), int(after_docid))), k
        )
    full = search_tree(index, node, k=None, quantize=quantize, dtype=dtype,
                       similarity=similarity)
    cond = (F.col("score") < float(after_score)) | (
        (F.col("score") == float(after_score)) & (F.col("docid") > int(after_docid))
    )
    return (
        full.filter(cond)
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(k)
    )


def tree_skip_metrics(
    index: Index,
    node,
    k: int = 10,
    quantize: bool = False,
    dtype=np.float64,
    similarity: Optional[str] = None,
    theta_seed: float = 0.0,
) -> dict:
    """block_skip_metrics for clause-shaped trees: exact per-segment
    decode counters for the plan search_query would actually run."""
    plan = _tree_plan(index, node, quantize, dtype, similarity)
    if plan is None:
        return {"blocks_total": 0, "blocks_decoded": 0, "ratio": None}
    return _clause_metrics(index, plan, k, theta_seed)


def search_query(index: Index, q, k: int = 10, **kw) -> DataFrame:
    """Dispatch parse() output: NormalizedQuery -> the clause kernel
    (search_topk); query tree -> BooleanQuery.rewrite analog first (nested
    same-occur booleans flatten, single-clause wrappers unwrap), so
    associative shapes built by hand still lower to the flat form;
    clause-shaped trees — ``(A AND B) OR C``, ``+A (B AND C) D`` — run on
    the clause kernel too (search_tree_topk); only genuinely irregular
    trees take the exhaustive evaluation."""
    if isinstance(q, NormalizedQuery):
        return search_topk(index, q, k=k, **kw)
    from .plan import flatten, rewrite

    q = rewrite(q)
    flat = flatten(q)
    if flat is not None:
        # lowering must not change SCORES, only the plan: tree inputs keep
        # the tree path's scoring defaults (float64, unquantized) unless
        # the caller overrides them
        kw.setdefault("quantize", False)
        kw.setdefault("dtype", np.float64)
        return search_topk(index, flat, k=k, **kw)
    pruned = search_tree_topk(index, q, k=k, **kw)
    if pruned is not None:
        return pruned
    return search_tree(index, q, k=k, **kw)


def search_after_exhaustive(
    index: Index,
    q: NormalizedQuery,
    k: int,
    after_score: float,
    after_docid: int,
    **kw,
) -> DataFrame:
    """Exhaustive cursor pagination (differential oracle for search_after)."""
    full = search_exhaustive(index, q, k=None, **kw)
    cond = (F.col("score") < after_score) | (
        (F.col("score") == after_score) & (F.col("docid") > after_docid)
    )
    return full.filter(cond).orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
