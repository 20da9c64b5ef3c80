"""Inverted-index build pipeline (Spark-first, Lucene-semantics).

Maps Lucene's write path (SURVEY.md §3.2) onto Spark:

  Lucene                                    here
  ------                                    ----
  DocumentsWriterPerThread (DWPT)           one docid-range partition
    [index/DocumentsWriterPerThread.java:245]
  in-memory invert (TermsHashPerField)      pandas groupby inside a segment task
    [index/TermsHashPerField.java:134]
  flush -> segment files                    worker writes postings/norms/docs
    [index/FreqProxTermsWriter.java:83-111]   parquet shards via pyarrow
  commit -> segments_N manifest             per-segment manifest JSON, written
    [index/IndexWriter.java:4158]             last (atomic rename) = lineage
  TermStates.build (stats over the leaves)  term_stats: groupBy(term) sum of
    [search/TermStates.java:96-121]           the per-segment df/ttf rows

Scale design (10^12 files):
  - docid assignment: range-partition once on (repo,path,commit), write the
    staged table (freezes partition boundaries deterministically), then
    per-partition offsets (column-pruned count scan) + in-group enumeration.
  - segment build is shuffle-free, one file-granular task per segment
    (session.slice_tasks); every heavy transform is pandas/numpy inside
    the task (Arrow tables, no per-row Python at the Spark boundary).
  - no merge step: postings live only in the per-segment files. Segments
    hold disjoint ascending docid ranges, so a term's global posting list
    is the segment_id-ordered concat of its segment rows, and every query
    path reads the segment files directly. Finalize is one small
    aggregation of the segment rows' (term, df, ttf) into the global
    term_stats table: an append writes its new segments and the stats,
    never the existing postings.
  - resume: a segment whose manifest JSON exists is skipped (lineage +
    doc/posting-count metrics live in the manifest).
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field
from typing import Iterable, List, Optional, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analysis import ENGLISH_STOP_WORDS, analyze_batch
from ..functions.codec import encode_postings
from ..functions.smallfloat import int_to_byte4
from ..session import slice_tasks
from . import fsio

# On-disk index format version, stamped into field_stats.json at commit and
# validated at Index.open (SegmentInfos version-check analog,
# lucene/core/src/java/org/apache/lucene/index/SegmentInfos.java:305 —
# Lucene refuses to open indexes written by a newer/incompatible codec).
# v7: no merged postings copy — the segment files are the only postings and
# generation markers live in term_stats (a v6 engine would look for
# merged/); v6 indexes stay readable, their merged*/ dirs are ignored.
# v6: per-block competitive impact pairs (block_imp column; readers of v5
# indexes fall back to the corner bound). v5: parquet per-segment
# tombstones; v4 and earlier used numbered tombstones/delete-*.json files,
# migrated at open.
INDEX_FORMAT_VERSION = 7


MANIFEST_SCHEMA = (
    "segment_id int, first_docid long, last_docid long, num_docs long, "
    "doc_count long, sum_doclen long, max_doclen long, num_terms long, "
    "num_postings long, status string, resumed boolean"
)

POSTINGS_ARROW_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("segment_id", pa.int32()),
        ("df", pa.int64()),
        ("ttf", pa.int64()),
        ("first_docid", pa.int64()),
        ("last_docid", pa.int64()),
        ("max_tf", pa.int32()),
        ("min_doclen", pa.int32()),
        ("block_first", pa.list_(pa.int64())),
        ("block_last", pa.list_(pa.int64())),
        ("block_maxtf", pa.list_(pa.int32())),
        ("block_mindl", pa.list_(pa.int32())),
        # per-block competitive (tf, doclen) impact pairs, interleaved
        # [tf0, dl0, tf1, dl1, ...] tf-ascending — the tight block upper
        # bound for EVERY similarity (CompetitiveImpactAccumulator.java:26);
        # readers fall back to the (max_tf, min_doclen) corner when absent
        # (pre-v6 indexes)
        ("block_imp", pa.list_(pa.list_(pa.int32()))),
        ("block_data", pa.list_(pa.binary())),
        # per-block positions stream (null when index_positions is off);
        # DOCS_AND_FREQS_AND_POSITIONS analog [index/IndexOptions.java:30-56]
        ("block_pos", pa.list_(pa.binary())),
        # per-block offsets stream (IndexOptions ..._AND_OFFSETS analog;
        # null when index_offsets is off)
        ("block_off", pa.list_(pa.binary())),
    ]
)


@dataclass
class IndexConfig:
    order_cols: Sequence[str] = ("repo", "path", "commit")
    content_col: str = "content"
    docid_col: Optional[str] = None  # use an existing unique long column as docid
    # None -> "analyzer default": English stops for the standard/cjk
    # chains, the pack's published list for language packs. An EXPLICIT
    # set always wins — including explicitly passing ENGLISH_STOP_WORDS
    # to a language-pack build (previously silently replaced; ADVICE r5)
    stop_words: Optional[frozenset] = None
    num_segments: int = 0  # 0 -> auto (target_docs_per_segment)
    target_docs_per_segment: int = 250_000  # Lucene slice bound (IndexSearcher.java:323-341)
    # accepted and ignored: existing callers still pass them, and the
    # build has no merge step for them to tune
    hot_df_threshold: int = 100_000
    merge_bucket_segments: int = 8
    keep_content: bool = True  # store content in docs table for hydration
    index_positions: bool = False  # store per-posting positions (phrase queries)
    # store per-occurrence (start, end) CHAR offsets alongside positions
    # (IndexOptions DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS analog) for
    # postings-sourced passage highlighting; requires index_positions
    index_offsets: bool = False
    # "porter" -> EnglishAnalyzer tail (possessive strip -> stop re-check ->
    # PorterStemFilter, analysis/common/.../en/PorterStemFilter.java:51);
    # applied to the dictionary-encoded vocab, O(unique terms) Python
    stemmer: Optional[str] = None
    # index-time single-token synonyms (SynonymGraphFilter analog,
    # functions/synonyms.py): tuple of groups (every member stacks the
    # whole group) or dict {src: (additions,)}; stacked tokens share the
    # original position and are discounted from norms (discountOverlaps).
    # Chain order: tokenize -> lower -> stop -> [stem] -> [synonyms].
    synonyms: Optional[object] = None
    # ASCII folding (ASCIIFoldingFilter analog, NFD diacritic subset,
    # functions/fold.py): applied to the dictionary vocab after stop,
    # before the stemmer; terms folding onto stopwords drop out
    fold_ascii: bool = False
    # word shingles (ShingleFilter analog, functions/shingle.py): bigram
    # grams + filler "_" for stop holes emitted alongside the unigrams at
    # the first token's position (posInc 0 -> discounted from norms);
    # requires positions; incompatible with synonyms/cjk (stacking)
    shingles: bool = False
    # per-doc term vectors (TermVectorsFormat analog): a docid-major
    # (docid, term, tf[, positions]) parquet store written at build —
    # MoreLikeThis-from-a-doc and per-doc term inspection without
    # re-analysis, and without needing stored content
    term_vectors: bool = False
    # "standard" (default), "cjk_bigram" (CJKAnalyzer analog,
    # functions/cjk.py: adjacent Han/hiragana single-char tokens fuse into
    # overlapping bigrams; query via functions.cjk.analyze_cjk),
    # "japanese" (dictionary-driven Viterbi lattice segmenter,
    # functions/ja.py — JapaneseTokenizer.java:95 analog; query via
    # functions.ja.analyze_ja), or a language-pack name (functions/lang.py)
    analyzer: str = "standard"
    # committed dictionary for analyzer="japanese": {surface: cost}
    # entries; None -> functions.ja.DEFAULT_JA_DICT. Digested into the
    # analysis fingerprint (segments built under different dictionaries
    # hold incomparable vocabularies)
    ja_dict: Optional[dict] = None

    def effective_stop_words(self) -> frozenset:
        """The stop set the chain actually runs: a language pack brings its
        own published list (FrenchAnalyzer.java:53 etc. load them at
        class-init) unless the caller explicitly passes stop_words. The
        distinct ``None`` sentinel (not an English-set value compare) is
        what makes an intentional English list on a pack build possible."""
        from ..functions.lang import LANG_PACKS

        if self.stop_words is not None:
            return self.stop_words
        if self.analyzer in LANG_PACKS:
            return LANG_PACKS[self.analyzer].stop_words
        if self.analyzer == "japanese":
            from ..functions.ja import JA_STOP_WORDS

            return JA_STOP_WORDS
        return ENGLISH_STOP_WORDS

    def analysis_fingerprint(self) -> str:
        """Stable digest of everything that changes what TERMS an identical
        document produces. Stamped into field_stats.json at build and
        checked on append: segments indexed under different chains would
        silently disagree on the vocabulary (Lucene leaves analyzer
        consistency to the caller; a shared-storage batch engine can and
        should refuse)."""
        import hashlib

        if isinstance(self.synonyms, dict):
            syn = sorted((k, tuple(sorted(v))) for k, v in self.synonyms.items())
        elif self.synonyms:
            syn = sorted(tuple(sorted(g)) for g in self.synonyms)
        else:
            syn = None
        # analyzer joins the key only when non-default so every fingerprint
        # stamped by earlier format versions stays valid for append
        parts = (sorted(self.effective_stop_words()), self.stemmer, syn,
                 bool(self.index_positions))
        if self.analyzer != "standard":
            parts = parts + (self.analyzer,)
        if self.analyzer == "japanese":
            from ..functions.ja import JaDict, default_ja_dict

            jd = JaDict(self.ja_dict) if self.ja_dict else default_ja_dict()
            parts = parts + (jd.digest(),)
        if self.index_offsets:
            parts = parts + ("offsets",)
        if self.fold_ascii:
            parts = parts + ("fold",)
        if self.shingles:
            parts = parts + ("shingles",)
        key = repr(parts)
        return hashlib.sha256(key.encode()).hexdigest()[:16]


@dataclass
class IndexPaths:
    """Index layout. ``root`` may be a plain local path or any
    pyarrow-supported URI (``file://``, ``s3://``, ``hdfs://``): path
    properties stay in root form (what Spark reads/writes), while the
    pyarrow side-channel IO goes through ``.fs`` / ``.fs_path`` (the
    FSDirectory seam, store/FSDirectory.java:89)."""

    root: str

    @property
    def fs(self):
        fs = getattr(self, "_fs", None)
        if fs is None:
            fs, base = fsio.resolve(self.root)
            self._fs, self._base = fs, base
        return fs

    def fs_path(self, p: str) -> str:
        """root-form path -> filesystem-native path for pyarrow ops."""
        _ = self.fs
        root = self.root.rstrip("/")
        if p == self.root or p == root:
            return self._base
        assert p.startswith(root + "/"), p
        return self._base.rstrip("/") + "/" + p[len(root) + 1 :]

    @property
    def staged(self) -> str:
        return os.path.join(self.root, "staged")

    def staged_gen(self, generation: int) -> str:
        return self.staged if generation == 0 else os.path.join(self.root, f"staged-g{generation}")

    @property
    def segments(self) -> str:
        return os.path.join(self.root, "segments")

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def norms(self) -> str:
        return os.path.join(self.root, "norms")

    @property
    def tvec(self) -> str:
        return os.path.join(self.root, "tvec")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def term_stats(self) -> str:
        return self.term_stats_g(0)

    def term_stats_g(self, generation: int) -> str:
        # snapshot-global artifacts are generation-suffixed; field_stats.json
        # (written LAST, atomic rename via the FS seam) records the live generation:
        # an append that crashes mid-finalize leaves the previous snapshot
        # fully readable (same manifest-last commit idea as segments)
        base = os.path.join(self.root, "term_stats")
        return base if generation == 0 else f"{base}-g{generation}"

    @property
    def field_stats(self) -> str:
        return os.path.join(self.root, "field_stats.json")

    def field_stats_g(self, generation: int) -> str:
        """Per-generation commit marker copy (IndexCommit analog): lets a
        reader open a RETAINED past commit by generation."""
        return os.path.join(self.root, f"field_stats-g{generation}.json")

    @property
    def tombstones(self) -> str:
        return os.path.join(self.root, "tombstones")

    def manifest_file(self, segment_id: int) -> str:
        return os.path.join(self.segments, f"segment-{segment_id:05d}.json")


def _encode_terms_table(
    segment_id: int,
    uniq_terms: np.ndarray,
    p_codes: np.ndarray,
    p_ids: np.ndarray,
    p_tfs: np.ndarray,
    p_dls: np.ndarray,
    term_starts: np.ndarray,
    term_ends: np.ndarray,
    run_starts: np.ndarray,
    run_ends: np.ndarray,
    pos_sorted,
    off_sorted=None,
) -> pa.Table:
    """Build the per-segment postings Arrow table.

    Without positions this is fully vectorized: one whole-segment block
    encode (encode_segment_postings, byte-identical to the per-term codec)
    and direct ListArray/BinaryArray construction from offsets — no
    per-term Python objects at all. With positions enabled the per-term
    loop remains (varint position streams are inherently per-block)."""
    from ..functions.codec import (
        cut_offset_blocks,
        cut_position_blocks,
        encode_segment_postings,
    )

    n_terms = len(term_starts)
    if n_terms == 0:
        return pa.Table.from_pylist([], schema=POSTINGS_ARROW_SCHEMA)

    if pos_sorted is None:
        nbt, bf, bl, mtf, mnn, boff, buf, imp_flat, imp_counts = (
            encode_segment_postings(p_ids, p_tfs, p_dls, term_starts, term_ends)
        )
        nb = len(bf)
        list_off = pa.array(
            np.concatenate(([0], np.cumsum(nbt))).astype(np.int32)
        )

        def larr(vals, typ):
            return pa.ListArray.from_arrays(list_off, pa.array(vals, type=typ))

        flat_bin = pa.BinaryArray.from_buffers(
            pa.binary(), nb,
            [None, pa.py_buffer(boff.astype(np.int32).tobytes()), pa.py_buffer(buf.tobytes())],
        )
        # nested impact lists straight from offsets: inner = per-block
        # interleaved pairs, outer = per-term block list (no Python objects)
        imp_inner_off = pa.array(
            np.concatenate(([0], np.cumsum(2 * imp_counts))).astype(np.int32)
        )
        imp_inner = pa.ListArray.from_arrays(imp_inner_off, pa.array(imp_flat, type=pa.int32()))
        imp_outer = pa.ListArray.from_arrays(list_off, imp_inner)
        term_lens = (term_ends - term_starts).astype(np.int64)
        cols = [
            pa.array(uniq_terms[p_codes[term_starts]], type=pa.string()),
            pa.array(np.full(n_terms, segment_id, dtype=np.int32)),
            pa.array(term_lens),
            pa.array(np.add.reduceat(p_tfs, term_starts).astype(np.int64)),
            pa.array(p_ids[term_starts]),
            pa.array(p_ids[term_ends - 1]),
            pa.array(np.maximum.reduceat(p_tfs, term_starts).astype(np.int32)),
            pa.array(np.minimum.reduceat(p_dls, term_starts).astype(np.int32)),
            larr(bf, pa.int64()),
            larr(bl, pa.int64()),
            larr(mtf.astype(np.int32), pa.int32()),
            larr(mnn.astype(np.int32), pa.int32()),
            imp_outer,
            pa.ListArray.from_arrays(list_off, flat_bin),
            pa.nulls(n_terms, type=pa.list_(pa.binary())),
            pa.nulls(n_terms, type=pa.list_(pa.binary())),
        ]
        return pa.Table.from_arrays(cols, schema=POSTINGS_ARROW_SCHEMA)

    terms_out: List[dict] = []
    for s, e in zip(term_starts, term_ends):
        ids, tfs, dls = p_ids[s:e], p_tfs[s:e], p_dls[s:e]
        blocks, firsts, lasts, maxtfs, mindls, impacts = encode_postings(ids, tfs, dls)
        # the term's tokens are contiguous in the sorted token array
        pos_blocks = cut_position_blocks(
            pos_sorted[run_starts[s] : run_ends[e - 1]], tfs
        )
        off_blocks = (
            cut_offset_blocks(off_sorted[run_starts[s] : run_ends[e - 1]], tfs)
            if off_sorted is not None else None
        )
        terms_out.append(
            {
                "term": uniq_terms[p_codes[s]],
                "segment_id": segment_id,
                "df": int(e - s),
                "ttf": int(tfs.sum()),
                "first_docid": int(ids[0]),
                "last_docid": int(ids[-1]),
                "max_tf": int(tfs.max()),
                "min_doclen": int(dls.min()),
                "block_first": firsts,
                "block_last": lasts,
                "block_maxtf": maxtfs,
                "block_mindl": mindls,
                "block_imp": [imp.tolist() for imp in impacts],
                "block_data": blocks,
                "block_pos": pos_blocks,
                "block_off": off_blocks,
            }
        )
    return pa.Table.from_pylist(terms_out, schema=POSTINGS_ARROW_SCHEMA)


def _invert_group(
    table,
    segment_id: int,
    docid_base: int,
    paths: IndexPaths,
    cfg: IndexConfig,
    presorted: bool = False,
) -> pd.DataFrame:
    """Build one segment: assign docids, analyze, invert, encode, write shards.

    ``table`` is a pyarrow Table (the worker reads its staged file
    directly). The analyze+invert chain is Arrow C kernels + numpy — no
    per-token Python objects (flat_code_tokens). Returns the one-row
    manifest frame.
    """
    from ..analysis import flat_code_tokens

    # one task == one core: stop Arrow from spawning its own 32-thread pool
    # per worker (32 workers x 32 threads otherwise thrash the host)
    try:
        if pa.cpu_count() != 1:
            pa.set_cpu_count(1)
            pa.set_io_thread_count(2)
    except Exception:
        pass

    fs = paths.fs
    manifest_path = paths.fs_path(paths.manifest_file(segment_id))
    if fsio.exists(fs, manifest_path):  # resume: lineage says done
        row = fsio.read_json(fs, manifest_path)
        row["resumed"] = True
        return pd.DataFrame([row])

    sort_cols = [cfg.docid_col] if cfg.docid_col else list(cfg.order_cols)
    if not presorted:
        table = table.sort_by([(c, "ascending") for c in sort_cols])
    n_rows = table.num_rows
    if cfg.docid_col:
        docids = table[cfg.docid_col].to_numpy(zero_copy_only=False).astype(np.int64)
        # duplicate user docids silently corrupt postings (tf merges across
        # distinct rows). The docid range partitioner co-locates equal
        # values, so this per-segment adjacency check over the sorted
        # column is a COMPLETE uniqueness check — and free.
        if n_rows > 1 and bool((np.diff(docids) == 0).any()):
            dup = int(docids[np.flatnonzero(np.diff(docids) == 0)[0]])
            raise ValueError(
                f"duplicate docid {dup} in docid_col {cfg.docid_col!r}: "
                "user-supplied docids must be unique"
            )
    else:
        docids = docid_base + np.arange(n_rows, dtype=np.int64)

    # --- analyze + invert == analyzer chain + TermsHashPerField.add:
    # Arrow-kernel tokenize/dict-encode, then lexsort (code, doc) + RLE.
    from ..functions.lang import LANG_PACKS

    if (cfg.analyzer not in ("standard", "cjk_bigram", "japanese")
            and cfg.analyzer not in LANG_PACKS):
        raise ValueError(
            f"unknown analyzer {cfg.analyzer!r} (supported: standard, "
            f"cjk_bigram, japanese, {', '.join(sorted(LANG_PACKS))})"
        )
    stops = cfg.effective_stop_words()
    # the CJK bigram pass tests position adjacency, so it always needs the
    # positions stream even when the index itself won't store positions
    need_pos = cfg.index_positions or cfg.analyzer == "cjk_bigram"
    flat_off = None
    if cfg.analyzer == "japanese":
        # full replacement chain: Viterbi lattice over the committed
        # dictionary (functions/ja.py; JapaneseTokenizer.java:95 analog)
        from ..functions.ja import JaDict, default_ja_dict, ja_flat_tokens

        jd = JaDict(cfg.ja_dict) if cfg.ja_dict else default_ja_dict()
        if cfg.index_positions:
            codes, flat_docix, vocab, flat_pos = ja_flat_tokens(
                table[cfg.content_col], stops, jd, with_positions=True
            )
        else:
            codes, flat_docix, vocab = ja_flat_tokens(
                table[cfg.content_col], stops, jd
            )
            flat_pos = None
    elif cfg.index_offsets:
        codes, flat_docix, vocab, flat_pos, flat_off = flat_code_tokens(
            table[cfg.content_col], stops,
            with_positions=True, with_offsets=True,
        )
    elif need_pos:
        codes, flat_docix, vocab, flat_pos = flat_code_tokens(
            table[cfg.content_col], stops, with_positions=True
        )
    else:
        codes, flat_docix, vocab = flat_code_tokens(table[cfg.content_col], stops)
        flat_pos = None
    if cfg.analyzer == "cjk_bigram":
        from ..functions.cjk import cjk_bigram_stream

        codes, flat_docix, flat_pos, vocab = cjk_bigram_stream(
            codes, flat_docix, flat_pos, vocab
        )
        if not cfg.index_positions:
            flat_pos = None
    if cfg.analyzer in LANG_PACKS:
        from ..functions.lang import lang_vocab_remap

        # elide -> stop-recheck -> normalize -> light-stem, all vocab-level
        # (one call per unique term, numpy code remap — the Porter pattern);
        # elision-surfaced stopwords drop with their position hole kept
        code_map, vocab = lang_vocab_remap(vocab, cfg.analyzer, stops)
        codes = code_map[codes]
        live_tok = codes >= 0
        if not live_tok.all():
            codes = codes[live_tok]
            flat_docix = flat_docix[live_tok]
            if flat_pos is not None:
                flat_pos = flat_pos[live_tok]
    if cfg.fold_ascii:
        from ..functions.fold import fold_vocab_remap

        # vocab-level fold + stop re-check, numpy code remap (stemmer
        # pattern); dropped tokens keep their position holes
        code_map, vocab = fold_vocab_remap(vocab, stops)
        codes = code_map[codes]
        live_tok = codes >= 0
        if not live_tok.all():
            codes = codes[live_tok]
            flat_docix = flat_docix[live_tok]
            if flat_pos is not None:
                flat_pos = flat_pos[live_tok]
    if cfg.stemmer:
        if cfg.stemmer != "porter":
            raise ValueError(f"unknown stemmer {cfg.stemmer!r} (supported: porter)")
        from ..functions.stem import stem_vocab_remap

        # stem the VOCAB and remap codes: per-token cost stays Arrow-side;
        # post-possessive stopwords drop out (and keep their position hole,
        # StopFilter position-increment semantics)
        code_map, vocab = stem_vocab_remap(vocab, stops)
        codes = code_map[codes]
        live_tok = codes >= 0
        if not live_tok.all():
            codes = codes[live_tok]
            flat_docix = flat_docix[live_tok]
            if flat_pos is not None:
                flat_pos = flat_pos[live_tok]
    # field length BEFORE synonym stacking: posIncrement-0 tokens are
    # discounted from norms (discountOverlaps, BM25Similarity.java:72)
    doclens = np.bincount(flat_docix, minlength=n_rows).astype(np.int64)
    if cfg.shingles:
        from ..functions.shingle import shingle_stream

        # after doclens: shingles share their first token's position
        # (posInc 0) and are discounted from norms (discountOverlaps)
        codes, flat_docix, flat_pos, vocab = shingle_stream(
            codes, flat_docix, flat_pos, vocab
        )
    if cfg.synonyms:
        from ..functions.synonyms import (
            expand_tokens,
            multiword_expansion,
            split_rules,
            synonym_expansion,
        )

        singles, multi = split_rules(cfg.synonyms)
        n_orig = len(codes)
        emission_mask = None
        if multi:
            # stream-level graph pass FIRST, on the pristine analyzed
            # stream (position-adjacency matching); emissions are excluded
            # from the singles pass below — the reference's single-pass
            # no-reprocessing (SynonymGraphFilter.java:78)
            codes, flat_docix, flat_pos, vocab = multiword_expansion(
                codes, flat_docix, flat_pos, vocab, multi
            )
            if len(codes) > n_orig:
                # emissions were appended after the stream; restore (doc,
                # pos) stream order so the stable (code, doc) sort below
                # keeps per-(term, doc) position lists ascending (the
                # positions delta codec requires it)
                emission_mask = np.zeros(len(codes), dtype=bool)
                emission_mask[n_orig:] = True
                order = np.lexsort((flat_pos, flat_docix))
                codes = codes[order]
                flat_docix = flat_docix[order]
                flat_pos = flat_pos[order]
                emission_mask = emission_mask[order]
        if singles:
            counts, offsets, flat_map, vocab = synonym_expansion(vocab, singles)
            codes, flat_docix, flat_pos = expand_tokens(
                codes, flat_docix, flat_pos, counts, offsets, flat_map,
                skip_mask=emission_mask,
            )
    # remap codes so code order == sorted term order (term-sorted output
    # rows -> parquet min/max row-group pruning on term)
    if len(vocab):
        vorder = np.argsort(vocab)
        rank = np.empty(len(vocab), dtype=np.int64)
        rank[vorder] = np.arange(len(vocab))
        codes = rank[codes]
        uniq_terms = vocab[vorder]
    else:
        uniq_terms = vocab
    pos_sorted = None
    off_sorted = None
    if len(codes):
        # fused sort key (code, doc): one int64 np.sort, no argsort/gather
        key = codes.astype(np.int64) * np.int64(max(n_rows, 1)) + flat_docix
        if flat_pos is not None:
            # positions must ride along: stable argsort keeps tokens in doc
            # order within each (term, doc) run -> positions stay ascending
            order = np.argsort(key, kind="stable")
            key = key[order]
            pos_sorted = flat_pos[order]
            if flat_off is not None:
                off_sorted = flat_off[order]
        else:
            key.sort()
        new_run = np.empty(len(key), dtype=bool)
        new_run[0] = True
        np.not_equal(key[1:], key[:-1], out=new_run[1:])
        run_starts = np.flatnonzero(new_run)
        run_ends = np.concatenate((run_starts[1:], [len(key)]))
        first_keys = key[run_starts]
        p_codes = first_keys // max(n_rows, 1)
        p_docix = first_keys % max(n_rows, 1)
        p_tfs = run_ends - run_starts
        p_ids = docids[p_docix]
        p_dls = doclens[p_docix]
        term_starts = np.flatnonzero(
            np.concatenate(([True], p_codes[1:] != p_codes[:-1]))
        )
        term_ends = np.concatenate((term_starts[1:], [len(p_codes)]))
    else:
        p_codes = p_docix = p_tfs = p_ids = p_dls = np.empty(0, dtype=np.int64)
        term_starts = term_ends = np.empty(0, dtype=np.int64)
        run_starts = run_ends = np.empty(0, dtype=np.int64)

    # --- block encoding (FreqProxTermsWriter flush analog)
    postings_tbl = _encode_terms_table(
        segment_id, uniq_terms, p_codes, p_ids, p_tfs, p_dls,
        term_starts, term_ends, run_starts, run_ends, pos_sorted, off_sorted,
    )

    # --- write shards (Lucene flush-to-segment-files analog) through the
    # FS seam: works on local paths, file:// and object stores alike
    for d in (paths.postings, paths.norms, paths.docs, paths.segments):
        fsio.mkdirs(fs, paths.fs_path(d))
    # term-sorted rows in 4096-term row groups: each row group's min/max
    # term stats let a term filter skip it (the .tip term-index analog);
    # a segment under 4096 terms is one row group, so nothing is skipped
    pq.write_table(
        postings_tbl,
        paths.fs_path(os.path.join(paths.postings, f"segment-{segment_id:05d}.parquet")),
        row_group_size=4096,
        filesystem=fs,
    )

    norm_bytes = int_to_byte4(doclens)
    norms_tbl = pa.table(
        {
            "docid": docids,
            "doclen": doclens,
            "norm_byte": norm_bytes.astype(np.int32),
            "segment_id": np.full(len(docids), segment_id, dtype=np.int32),
        }
    )
    pq.write_table(
        norms_tbl,
        paths.fs_path(os.path.join(paths.norms, f"segment-{segment_id:05d}.parquet")),
        filesystem=fs,
    )

    if cfg.term_vectors:
        # --- term vectors (TermVectorsFormat analog,
        # codecs/TermVectorsFormat.java): the SAME inverted arrays written
        # docid-major — per-doc term/tf(/positions) without re-analysis.
        # Rows sorted by docid -> parquet min/max stats prune on docid.
        fsio.mkdirs(fs, paths.fs_path(paths.tvec))
        perm = np.lexsort((p_codes, p_ids))
        tv_tbl = pa.table(
            {
                "docid": pa.array(p_ids[perm], type=pa.int64()),
                "term": pa.array(uniq_terms[p_codes[perm]], type=pa.string()),
                "tf": pa.array(p_tfs[perm].astype(np.int32), type=pa.int32()),
            }
        )
        if pos_sorted is not None and len(p_codes):
            # (term, doc) runs are contiguous in pos_sorted: list offsets
            # are the run bounds; take() reorders rows to docid-major
            lo = pa.array(
                np.concatenate((run_starts, [run_ends[-1] if len(run_ends) else 0]))
                .astype(np.int32)
            )
            plist = pa.ListArray.from_arrays(
                lo, pa.array(pos_sorted, type=pa.int64())
            ).take(pa.array(perm))
            tv_tbl = tv_tbl.append_column("positions", plist)
        pq.write_table(
            tv_tbl,
            paths.fs_path(os.path.join(paths.tvec, f"segment-{segment_id:05d}.parquet")),
            row_group_size=16384,
            filesystem=fs,
        )

    drop = {"__pid__"} | (set() if cfg.keep_content else {cfg.content_col})
    if cfg.docid_col == "docid":
        # the engine column below carries the same values; keeping the
        # user's would duplicate the name and corrupt every docs read
        drop.add("docid")
    docs_tbl = table.select([c for c in table.column_names if c not in drop])
    docs_tbl = docs_tbl.add_column(0, "docid", pa.array(docids, type=pa.int64()))
    # strip Spark's row-metadata KV inherited from the staged file: Spark
    # trusts footer KV over the physical schema and would see stale columns
    docs_tbl = docs_tbl.replace_schema_metadata(None)
    pq.write_table(
        docs_tbl,
        paths.fs_path(os.path.join(paths.docs, f"segment-{segment_id:05d}.parquet")),
        filesystem=fs,
    )

    row = {
        "segment_id": segment_id,
        "first_docid": int(docids[0]) if len(docids) else -1,
        "last_docid": int(docids[-1]) if len(docids) else -1,
        "num_docs": int(n_rows),
        "doc_count": int((doclens > 0).sum()),  # docs with >=1 token == Terms.getDocCount()
        "sum_doclen": int(doclens.sum()),
        # longest doc in the segment: finalize folds the max into
        # field_stats.max_dl, the free driver-side MAXSCORE seed's anchor
        "max_doclen": int(doclens.max()) if len(doclens) else 0,
        "num_terms": postings_tbl.num_rows,
        "num_postings": int(len(p_codes)),
        "status": "complete",
        "resumed": False,
    }
    # manifest written LAST -> atomic completion marker (commit analog)
    fsio.write_json_atomic(fs, manifest_path, row)
    return pd.DataFrame([row])


def build_segments(
    spark: SparkSession,
    docs: DataFrame,
    paths: IndexPaths,
    cfg: IndexConfig,
    docid_base: int = 0,
    segment_id_base: int = 0,
    generation: int = 0,
) -> None:
    """Stage + per-partition segment build. Appends to the segment set when
    docid_base/segment_id_base are offset (NRT-append analog)."""
    import sys
    import time as _time

    profile = os.environ.get("LUCENE_SPARK_PROFILE")

    def _mark(label: str, t0: float) -> float:
        t = _time.perf_counter()
        if profile:
            print(f"[build-profile] {label}: {t - t0:.1f}s", file=sys.stderr)
        return t

    _t = _time.perf_counter()
    staged_dir = paths.staged_gen(generation)
    # --- stage: freeze deterministic range partitioning (docid basis)
    if not fsio.exists(paths.fs, paths.fs_path(os.path.join(staged_dir, "_SUCCESS"))):
        nseg = cfg.num_segments or max(
            1, math.ceil(docs.count() / cfg.target_docs_per_segment)
        )
        cols = [cfg.docid_col] if cfg.docid_col else list(cfg.order_cols)
        # sha256 AFTER the range shuffle: the range partitioner's sampling
        # pass re-evaluates its child plan, so hashing pre-shuffle would
        # compute sha twice; post-shuffle it runs once, nseg-way parallel.
        # sortWithinPartitions pushes the docid-order sort into the JVM
        # shuffle machinery so workers skip a whole-table Arrow sort copy.
        staged = (
            docs.repartitionByRange(nseg, *[F.col(c) for c in cols])
            .sortWithinPartitions(*cols)
            .withColumn("content_sha256", F.sha2(F.col(cfg.content_col), 256))
            .withColumn("__pid__", F.spark_partition_id())
        )
        staged.write.mode("overwrite").parquet(staged_dir)
        with paths.fs.open_output_stream(
            paths.fs_path(os.path.join(staged_dir, "_SORTED"))
        ) as f:
            f.write(b"1")
    _t = _mark("stage-write", _t)

    # Segment tasks are FILE-granular: one staged parquet file == one
    # docid-range partition == one segment (DWPT analog). Workers read
    # their file directly with pyarrow (through the FS seam) — no second
    # full-content shuffle, no JVM->Python Arrow round trip for the bytes.
    files = fsio.list_files(
        paths.fs, paths.fs_path(staged_dir), prefix="part-", suffix=".parquet"
    )

    def _pid_of(f: str) -> int:
        return int(os.path.basename(f).split("-")[1])

    # a partition may stage SEVERAL files (e.g. the user session sets
    # spark.sql.files.maxRecordsPerFile): group them all per pid — dropping
    # extras would silently lose docs and shift docid offsets
    by_pid: dict = {}
    for f in files:
        by_pid.setdefault(_pid_of(f), []).append(f)

    # docid offsets from parquet footers (driver-side metadata read, no job)
    counts = {
        pid: sum(
            pq.ParquetFile(paths.fs.open_input_file(f)).metadata.num_rows for f in fl
        )
        for pid, fl in by_pid.items()
    }
    offsets = {}
    acc = docid_base
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    cfg_bc, paths_bc, offsets_bc, sid_base = cfg, paths, offsets, segment_id_base
    # staged files written by this version carry a _SORTED marker (rows are
    # already in docid order; sequentially-split files stay sorted under
    # filename order); older staged dirs resume through the worker-side sort
    presorted = fsio.exists(paths.fs, paths.fs_path(os.path.join(staged_dir, "_SORTED")))

    def seg_fn(parts):
        wfs = paths_bc.fs
        for pid, pfiles in parts:
            tables = [
                pq.read_table(p, use_threads=False, filesystem=wfs)
                for p in sorted(pfiles)
            ]
            data = pa.concat_tables(tables) if len(tables) > 1 else tables[0]
            yield _invert_group(
                data, pid + sid_base, offsets_bc.get(pid, 0), paths_bc, cfg_bc,
                presorted=presorted,
            )

    # one task per segment: an invert task takes seconds, so a task's
    # fixed cost is noise and slicing would only serialize segments
    parts = sorted(by_pid.items())
    slice_tasks(spark, parts, seg_fn, MANIFEST_SCHEMA, n_tasks=len(parts)).collect()
    _mark("invert", _t)


def read_manifests(paths: IndexPaths) -> List[dict]:
    files = fsio.list_files(
        paths.fs, paths.fs_path(paths.segments), prefix="segment-", suffix=".json"
    )
    return [fsio.read_json(paths.fs, m) for m in files]


def finalize_index(
    spark: SparkSession, paths: IndexPaths, cfg: IndexConfig, generation: int = 0
) -> None:
    """Global artifacts over the full segment set: term stats (one small
    aggregation of the per-segment rows), then field stats — written LAST
    (atomic rename via fsio) as the snapshot commit marker recording the
    live generation. Postings stay in the segment files only. Idempotent
    (skips what exists)."""
    import sys
    import time as _time

    profile = os.environ.get("LUCENE_SPARK_PROFILE")
    _t0 = _time.perf_counter()
    manifest_rows = read_manifests(paths)

    # --- global term stats (aggregate across segments == TermStates.build)
    ts_path = paths.term_stats_g(generation)
    if not fsio.exists(paths.fs, paths.fs_path(os.path.join(ts_path, "_SUCCESS"))):
        (
            spark.read.parquet(paths.postings).groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
            .repartition(max(1, spark.sparkContext.defaultParallelism // 2), "term")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(ts_path)
        )

    # --- field stats = snapshot commit marker (TermStates/FieldStats analog,
    # SURVEY §2.4): written last via atomic replace so readers never observe
    # a half-finalized snapshot.
    # Refinalize paths (purge_deletes, append's new generation) often run
    # with a default cfg; the analysis stamps describe how the EXISTING
    # segments were tokenized, so they must be carried forward from the
    # previous snapshot unchanged — restamping from a defaulted cfg would
    # later misvalidate appends and flip has_positions (ADVICE r4).
    fs_marker = paths.fs_path(paths.field_stats)
    prev = fsio.read_json(paths.fs, fs_marker) if fsio.exists(paths.fs, fs_marker) else {}
    fingerprint = (
        prev["analysis_fingerprint"] if "analysis_fingerprint" in prev
        else cfg.analysis_fingerprint()
    )
    positions_stamp = (
        bool(prev["index_positions"]) if "index_positions" in prev
        else bool(cfg.index_positions)
    )
    offsets_stamp = (
        bool(prev["index_offsets"]) if "index_offsets" in prev
        else bool(cfg.index_offsets)
    )
    tvec_stamp = (
        bool(prev["term_vectors"]) if "term_vectors" in prev
        else bool(cfg.term_vectors)
    )
    fs = {
        "max_doc": int(sum(r["num_docs"] for r in manifest_rows)),
        "doc_count": int(sum(r["doc_count"] for r in manifest_rows)),
        "sum_total_term_freq": int(sum(r["sum_doclen"] for r in manifest_rows)),
        "sum_doc_freq": int(sum(r["num_postings"] for r in manifest_rows)),
        # 0 when ANY manifest predates the field (unknown max -> the
        # auto-theta seed stays disabled rather than using an unsound bound)
        "max_dl": (
            max(int(r["max_doclen"]) for r in manifest_rows)
            if all("max_doclen" in r for r in manifest_rows) else 0
        ),
        "num_segments": len(manifest_rows),
        # snapshot bounds: segments/docids that exist AT THIS COMMIT —
        # a time-travel reader filters later appends out with these
        "max_segment_id": int(max(r["segment_id"] for r in manifest_rows)),
        "max_docid": int(max(r["last_docid"] for r in manifest_rows)),
        "generation": generation,
        "format_version": INDEX_FORMAT_VERSION,
        "analysis_fingerprint": fingerprint,
        "index_positions": positions_stamp,
        "index_offsets": offsets_stamp,
        "term_vectors": tvec_stamp,
    }
    fsio.write_json_atomic(paths.fs, fs_marker, fs)
    # per-generation copy = the commit point (IndexCommit); retained copies
    # are what list_commits/Index(generation=...) open
    fsio.write_json_atomic(paths.fs, paths.fs_path(paths.field_stats_g(generation)), fs)
    if profile:
        print(f"[build-profile] finalize: {_time.perf_counter() - _t0:.1f}s", file=sys.stderr)


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
) -> IndexPaths:
    """Full build: stage -> per-segment invert -> global term stats."""
    cfg = cfg or IndexConfig()
    from ..functions.lang import LANG_PACKS

    if (cfg.analyzer not in ("standard", "cjk_bigram", "japanese")
            and cfg.analyzer not in LANG_PACKS):
        # fail on the driver, not wrapped inside an executor UDF
        raise ValueError(
            f"unknown analyzer {cfg.analyzer!r} (supported: standard, "
            f"cjk_bigram, japanese, {', '.join(sorted(LANG_PACKS))})"
        )
    if cfg.analyzer in LANG_PACKS and (
        cfg.stemmer or cfg.fold_ascii or cfg.shingles or cfg.synonyms
    ):
        raise ValueError(
            "language packs bundle their own elision/normalize/stem chain; "
            "stemmer/fold_ascii/shingles/synonyms do not compose with "
            f"analyzer={cfg.analyzer!r}"
        )
    if cfg.analyzer == "japanese" and (
        cfg.stemmer or cfg.fold_ascii or cfg.shingles or cfg.synonyms
    ):
        raise ValueError(
            "the japanese analyzer is its own full chain; stemmer/"
            "fold_ascii/shingles/synonyms do not compose with it"
        )
    if cfg.index_offsets:
        if not cfg.index_positions:
            raise ValueError("index_offsets requires index_positions=True")
        if (cfg.synonyms or cfg.stemmer or cfg.fold_ascii or cfg.shingles
                or cfg.analyzer != "standard"):
            raise ValueError(
                "index_offsets composes only with the plain standard chain "
                "(synonym/stemmer/fold/cjk/shingle emissions have no source "
                "span yet)"
            )
    if cfg.shingles:
        if not cfg.index_positions:
            raise ValueError("shingles requires index_positions=True")
        if cfg.synonyms or cfg.analyzer != "standard":
            raise ValueError(
                "shingles composes with the standard chain only (synonym/"
                "cjk stacking violates the one-token-per-position premise)"
            )
    paths = IndexPaths(index_dir)
    fsio.mkdirs(paths.fs, paths.fs_path(index_dir))
    gen = live_generation(paths)
    if gen is not None and fsio.exists(
        paths.fs, paths.fs_path(os.path.join(paths.term_stats_g(gen), "_SUCCESS"))
    ):
        return paths  # fully built (resume no-op)
    build_segments(spark, docs, paths, cfg)
    finalize_index(spark, paths, cfg)
    return paths


def segment_tombstones(fs, files: Sequence[str], segment_id: int) -> np.ndarray:
    """Sorted docids one segment's tombstones delete — its OWN liveDocs
    (PendingDeletes.java:31), read with parquet predicate pushdown on
    segment_id from the tombstone files."""
    import pyarrow.dataset as ds

    tomb = ds.dataset(list(files), filesystem=fs, format="parquet").to_table(
        columns=["docid"], filter=ds.field("segment_id") == segment_id
    )
    return np.unique(tomb["docid"].to_numpy(zero_copy_only=False))


def purge_deletes(
    spark: SparkSession, index_dir: str, cfg: IndexConfig | None = None
) -> int:
    """Merge-time purge of tombstoned docs (SegmentMerger +
    SoftDeletesRetentionMergePolicy analog): rewrite every segment's
    postings/norms/docs shards without the deleted docids (docids are NOT
    renumbered), recompute manifests, refinalize the snapshot-global
    artifacts into a new generation, then clear the tombstones. After the
    purge, collection statistics (df, doclen sums, avgdl) shrink — exactly
    what a Lucene merge does to deleted docs. Returns #docs purged."""
    from ..functions.codec import cut_position_blocks, decode_block, decode_block_positions

    cfg = cfg or IndexConfig()
    paths = IndexPaths(index_dir)
    tfiles = fsio.list_files(paths.fs, paths.fs_path(paths.tombstones), suffix=".parquet")
    if not tfiles:
        return 0
    # distributed count (for the return value) — the per-segment delete sets
    # are loaded inside each purge task, never on the driver
    n_deleted = int(
        spark.read.parquet(paths.tombstones).select("docid").distinct().count()
    )
    if n_deleted == 0:
        return 0
    manifests = read_manifests(paths)
    old_gen = live_generation(paths) or 0
    paths_bc, tfiles_bc = paths, list(tfiles)

    def purge_seg(sid: int) -> pd.DataFrame:
        fs = paths_bc.fs

        def shard(d):
            return paths_bc.fs_path(os.path.join(d, f"segment-{sid:05d}.parquet"))

        deleted_bc = segment_tombstones(fs, tfiles_bc, sid)

        def is_deleted(ids: np.ndarray) -> np.ndarray:
            if len(deleted_bc) == 0:
                return np.zeros(len(ids), dtype=bool)
            pos = np.searchsorted(deleted_bc, ids).clip(max=len(deleted_bc) - 1)
            return deleted_bc[pos] == ids

        # --- postings: decode, drop deleted postings, re-encode
        ptbl = pq.read_table(shard(paths_bc.postings), use_threads=False, filesystem=fs)
        rows_out: List[dict] = []
        for r in ptbl.to_pylist():
            parts = [decode_block(bytes(b)) for b in r["block_data"]]
            ids = np.concatenate([p[0] for p in parts])
            tfs = np.concatenate([p[1] for p in parts])
            dls = np.concatenate([p[2] for p in parts])
            dead = is_deleted(ids)
            if not dead.any():
                rows_out.append(r)
                continue
            keep = ~dead
            if not keep.any():
                continue  # term vanishes from this segment
            positions = None
            if r["block_pos"] is not None:
                pos_parts = [
                    decode_block_positions(bytes(b), p[1])
                    for b, p in zip(r["block_pos"], parts)
                ]
                positions = np.concatenate(pos_parts)[np.repeat(keep, tfs)]
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
            blocks, firsts, lasts, maxtfs, mindls, impacts = encode_postings(ids, tfs, dls)
            r.update(
                df=int(len(ids)), ttf=int(tfs.sum()),
                first_docid=int(ids[0]), last_docid=int(ids[-1]),
                max_tf=int(tfs.max()), min_doclen=int(dls.min()),
                block_first=firsts, block_last=lasts, block_maxtf=maxtfs,
                block_mindl=mindls, block_imp=[imp.tolist() for imp in impacts],
                block_data=blocks,
                block_pos=cut_position_blocks(positions, tfs) if positions is not None else None,
            )
            rows_out.append(r)
        pq.write_table(
            pa.Table.from_pylist(rows_out, schema=POSTINGS_ARROW_SCHEMA),
            shard(paths_bc.postings), row_group_size=4096, filesystem=fs,
        )

        # --- norms + docs: drop deleted rows
        ntbl = pq.read_table(shard(paths_bc.norms), use_threads=False, filesystem=fs)
        n_ids = ntbl["docid"].to_numpy(zero_copy_only=False)
        nkeep = ~is_deleted(n_ids)
        ntbl = ntbl.filter(pa.array(nkeep))
        pq.write_table(ntbl, shard(paths_bc.norms), filesystem=fs)
        dtbl = pq.read_table(shard(paths_bc.docs), use_threads=False, filesystem=fs)
        dkeep = ~is_deleted(dtbl["docid"].to_numpy(zero_copy_only=False))
        pq.write_table(dtbl.filter(pa.array(dkeep)), shard(paths_bc.docs), filesystem=fs)

        # --- manifest: recomputed lineage, rewritten atomically
        doclens = ntbl["doclen"].to_numpy(zero_copy_only=False)
        docids = ntbl["docid"].to_numpy(zero_copy_only=False)
        row = {
            "segment_id": sid,
            "first_docid": int(docids.min()) if len(docids) else -1,
            "last_docid": int(docids.max()) if len(docids) else -1,
            "num_docs": int(len(docids)),
            "doc_count": int((doclens > 0).sum()),
            "sum_doclen": int(doclens.sum()),
            "max_doclen": int(doclens.max()) if len(doclens) else 0,
            "num_terms": len(rows_out),
            "num_postings": int(sum(r["df"] for r in rows_out)),
            "status": "complete",
            "resumed": False,
        }
        fsio.write_json_atomic(fs, paths_bc.fs_path(paths_bc.manifest_file(sid)), row)
        return pd.DataFrame([row])

    sids = [int(m["segment_id"]) for m in manifests]
    slice_tasks(
        spark, sids, lambda part: map(purge_seg, part), MANIFEST_SCHEMA,
        n_tasks=len(sids),
    ).collect()

    finalize_index(spark, paths, cfg, generation=old_gen + 1)
    try:
        fsio.delete(paths.fs, paths.fs_path(paths.term_stats_g(old_gen)))
    except OSError:
        pass
    # a purge rewrites segment files IN PLACE, so every retained commit's
    # per-segment data is gone — drop stale markers so list_commits stays
    # truthful (Lucene's SnapshotDeletionPolicy blocks merges from deleting
    # snapshotted files instead; an in-place batch rewrite cannot)
    for f in fsio.list_files(paths.fs, paths.fs_path(paths.root),
                             prefix="field_stats-g", suffix=".json"):
        if f != paths.fs_path(paths.field_stats_g(old_gen + 1)):
            try:
                paths.fs.delete_file(f)
            except OSError:
                pass
    fsio.delete(paths.fs, paths.fs_path(paths.tombstones))
    return n_deleted


def list_commits(index_dir: str) -> list:
    """Openable commit generations, oldest first (DirectoryReader
    .listCommits analog): retained per-generation markers whose term
    stats still exist, plus the live commit."""
    paths = IndexPaths(index_dir)
    gens = set()
    for f in fsio.list_files(paths.fs, paths.fs_path(paths.root),
                             prefix="field_stats-g", suffix=".json"):
        base = os.path.basename(f)
        g = int(base[len("field_stats-g"):-len(".json")])
        if fsio.exists(paths.fs, paths.fs_path(
                os.path.join(paths.term_stats_g(g), "_SUCCESS"))):
            gens.add(g)
    live = live_generation(paths)
    if live is not None:
        gens.add(live)
    return sorted(gens)


def live_generation(paths: IndexPaths) -> Optional[int]:
    """Generation recorded by the field_stats commit marker; None if the
    index has never been finalized."""
    fs_path = paths.fs_path(paths.field_stats)
    if not fsio.exists(paths.fs, fs_path):
        return None
    return int(fsio.read_json(paths.fs, fs_path).get("generation", 0))


def append_to_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    update: bool = False,
    keep_commits: bool = False,
) -> IndexPaths:
    """NRT-append analog (DirectoryReader.openIfChanged, SURVEY.md §2.9):
    index a new batch as fresh segments (docids continue after the current
    max), then rebuild the snapshot-global artifacts into a NEW generation
    and flip the field_stats commit marker atomically. A crash anywhere
    before the flip leaves the previous snapshot fully readable (no
    delete-before-rebuild window).

    With a user ``docid_col``, batch docids that already exist in the index
    are REFUSED by default (two live docs would share an id — silent
    corruption); ``update=True`` tombstones the existing docs first
    instead — IndexWriter.updateDocument semantics (delete-then-add,
    index/IndexWriter.java updateDocument).

    ``keep_commits=True`` retains the previous generation's snapshot
    artifacts instead of GC-ing them (SnapshotDeletionPolicy analog vs the
    default KeepOnlyLastCommitDeletionPolicy, index/SnapshotDeletionPolicy
    .java:54): the old commit stays openable via
    ``Index(spark, paths, generation=old_gen)`` / ``list_commits``."""
    cfg = cfg or IndexConfig()
    paths = IndexPaths(index_dir)
    existing = read_manifests(paths)
    if not existing:
        return build_index(spark, new_docs, index_dir, cfg)
    # refuse mixed analysis chains: new segments tokenized under a
    # different stop set / stemmer / synonym map would silently disagree
    # with the existing vocabulary (stamp written by finalize_index)
    fs_path = paths.fs_path(paths.field_stats)
    if fsio.exists(paths.fs, fs_path):
        prev_fs = fsio.read_json(paths.fs, fs_path)
        stamped = prev_fs.get("analysis_fingerprint")
        if stamped is not None and stamped != cfg.analysis_fingerprint():
            raise ValueError(
                "append_to_index: analysis chain mismatch — the index was "
                f"built with fingerprint {stamped}, this IndexConfig hashes "
                f"to {cfg.analysis_fingerprint()} (stop_words/stemmer/"
                "synonyms/index_positions must match the original build)"
            )
        tv = prev_fs.get("term_vectors")
        if tv is not None and bool(tv) != bool(cfg.term_vectors):
            raise ValueError(
                "append_to_index: term_vectors mismatch — the index was "
                f"built with term_vectors={bool(tv)}; appending with "
                f"term_vectors={bool(cfg.term_vectors)} would leave the "
                "per-doc store inconsistent across segments"
            )
    if cfg.docid_col:
        from pyspark.sql import functions as F

        from ..search.executor import Index

        idx = Index(spark, paths)
        colliding = (
            idx.docs.select("docid")
            .join(
                new_docs.select(F.col(cfg.docid_col).alias("docid")).distinct(),
                "docid",
            )
        )
        if update:
            # updateDocument = delete-then-add. The tombstone table is
            # docid-keyed and the new doc REUSES the docid, so the old copy
            # must be purged physically before the add (a lingering
            # tombstone would kill the new doc too); purge also clears any
            # earlier tombstones — semantically idempotent.
            if idx.delete_docs_df(colliding):
                purge_deletes(spark, index_dir, cfg)
        else:
            n_col = colliding.count()
            if n_col:
                raise ValueError(
                    f"append_to_index: {n_col} docid(s) in the batch already "
                    "exist in the index; pass update=True for "
                    "delete-then-add (updateDocument) semantics"
                )
    docid_base = max(r["last_docid"] for r in existing) + 1
    sid_base = max(r["segment_id"] for r in existing) + 1
    old_gen = live_generation(paths) or 0
    build_segments(
        spark, new_docs, paths, cfg,
        docid_base=docid_base, segment_id_base=sid_base, generation=sid_base,
    )
    finalize_index(spark, paths, cfg, generation=old_gen + 1)
    if not keep_commits:
        # KeepOnlyLastCommit (the reference's default deletion policy):
        # old generation's artifacts are unreachable -> best-effort GC
        for p in (paths.term_stats_g(old_gen), paths.field_stats_g(old_gen)):
            try:
                fsio.delete(paths.fs, paths.fs_path(p))
            except OSError:
                pass
    return paths
