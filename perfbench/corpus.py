"""Seeded benchmark inputs and the exact corpus statistics behind them.

The corpus is the same family as the engine's ``corpus_spark_df_dist``: a
Zipf head of four hot keywords, a flat band of mid-frequency words, a few
stopwords, and a long identifier tail drawn with weight 1/rank.  Every
token is lowercase ASCII (letters, digits, ``_``), so the standard
analyzer keeps each token unchanged and drops only the stopwords; the
percolator's whitespace tokenizer sees the same tokens plus the
stopwords.  ``Corpus`` keeps the token codes of every ingested document so
the expected answers (``reference.py``) never ask the engine.
"""

from __future__ import annotations

import string
from typing import Dict, List, Tuple

import numpy as np

KEYWORDS = ("import", "return", "def", "public")
MID_WORDS = (
    "class", "static", "void", "self", "lambda", "struct", "interface",
    "async", "await", "yield", "raise", "except", "finally", "while",
    "break", "continue", "match", "case", "const", "let", "var", "func",
    "package", "module", "export", "extends", "implements", "override",
    "string", "integer", "float", "boolean", "array", "vector", "buffer",
    "stream", "socket", "thread", "mutex", "atomic", "channel", "queue",
    "parse", "format", "encode", "decode", "hash", "digest", "cipher",
    "handler", "listener", "callback", "promise", "future", "task",
    "error", "warning", "debug", "trace", "panic", "assert", "verify",
    "config", "option", "setting", "param", "argument", "value", "result",
)
STOPWORDS = ("the", "a", "of", "to", "in")
HOT_MASS, MID_MASS, TAIL_MASS = 0.35, 0.25, 0.40
# reserved never-sampled words: one unique probe token per ingested batch,
# so "the batch is visible" is one exact term lookup
N_PROBES = 64


def make_vocab(rng: np.random.Generator, n_idents: int):
    """(vocab, sampling probabilities, stop mask, probe codes)."""
    a = rng.integers(0, len(MID_WORDS), size=3 * n_idents)
    b = rng.integers(0, len(MID_WORDS), size=3 * n_idents)
    n = rng.integers(0, 10_000, size=3 * n_idents)
    idents = list(dict.fromkeys(
        f"{MID_WORDS[i]}_{MID_WORDS[j]}_{k}" for i, j, k in zip(a, b, n)
    ))[:n_idents]
    probes = [f"probe{i}" for i in range(N_PROBES)]
    vocab = np.array(
        list(KEYWORDS) + list(MID_WORDS) + list(STOPWORDS) + idents + probes,
        dtype=object,
    )
    p = np.zeros(len(vocab))
    n_hot, n_mid = len(KEYWORDS), len(MID_WORDS) + len(STOPWORDS)
    p[:n_hot] = HOT_MASS / n_hot
    p[n_hot:n_hot + n_mid] = MID_MASS / n_mid
    tail = 1.0 / np.arange(1, len(idents) + 1)
    p[n_hot + n_mid:n_hot + n_mid + len(idents)] = TAIL_MASS * tail / tail.sum()
    p /= p.sum()
    stop = np.isin(vocab, np.array(STOPWORDS, dtype=object))
    probe_codes = np.arange(len(vocab) - N_PROBES, len(vocab))
    return vocab, p, stop, probe_codes


class Corpus:
    """Token codes of every ingested doc plus the statistics BM25 needs.

    Docs are appended in batches; ``deleted`` holds tombstoned docids
    (they stop matching but keep counting in the statistics, as in the
    engine and in Lucene)."""

    def __init__(self, seed: int, n_idents: int):
        self.rng = np.random.default_rng(seed)
        self.vocab, self.p, self.stop, self.probe_codes = make_vocab(self.rng, n_idents)
        self.code_of = {w: i for i, w in enumerate(self.vocab)}
        self.codes = np.empty(0, np.int32)
        self.docix = np.empty(0, np.int32)
        self.doc_ids = np.empty(0, np.int64)
        self.doclen = np.empty(0, np.int64)
        self.deleted: set = set()
        self._postings: Dict[str, Tuple[np.ndarray, np.ndarray]] = {}
        self._next_id = 0

    @property
    def n_docs(self) -> int:
        return len(self.doc_ids)

    def sample_batch(self, n: int, probe: int | None = None):
        """Draw ``n`` new docs with fresh docids (the batch is ingested
        later, with ``add``).  Returns (doc_ids, flat codes, per-doc token
        counts); a probe batch starts with its unique probe token."""
        counts = self.rng.integers(20, 200, size=n)
        codes = self.rng.choice(len(self.vocab), p=self.p, size=int(counts.sum())).astype(np.int32)
        if probe is not None:
            codes[0] = self.probe_codes[probe]
        ids = np.arange(self._next_id, self._next_id + n, dtype=np.int64)
        self._next_id += n
        return ids, codes, counts

    def add(self, doc_ids: np.ndarray, codes: np.ndarray, counts: np.ndarray) -> None:
        first = self.n_docs
        self.codes = np.concatenate((self.codes, codes))
        self.docix = np.concatenate(
            (self.docix, np.repeat(np.arange(first, first + len(doc_ids), dtype=np.int32), counts))
        )
        self.doc_ids = np.concatenate((self.doc_ids, doc_ids))
        kept = (~self.stop[codes]).astype(np.int64)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        self.doclen = np.concatenate((self.doclen, np.add.reduceat(kept, starts)))
        self._postings.clear()

    def contents(self, codes: np.ndarray, counts: np.ndarray):
        """Space-joined doc texts as an Arrow string array (built in Arrow
        kernels, no per-token Python)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        toks = pa.array(self.vocab, pa.string()).take(pa.array(codes))
        offsets = pa.array(np.concatenate(([0], np.cumsum(counts))).astype(np.int32))
        return pc.binary_join(pa.ListArray.from_arrays(offsets, toks), " ")

    # --- statistics -------------------------------------------------------

    def postings(self, term: str) -> Tuple[np.ndarray, np.ndarray]:
        """(docids ascending, tf) of ``term`` over every ingested doc."""
        got = self._postings.get(term)
        if got is None:
            code = self.code_of.get(term)
            if code is None or self.stop[code]:
                got = (np.empty(0, np.int64), np.empty(0, np.int64))
            else:
                ix, tf = np.unique(self.docix[self.codes == code], return_counts=True)
                got = (self.doc_ids[ix], tf.astype(np.int64))
            self._postings[term] = got
        return got

    def doc_freqs(self) -> np.ndarray:
        """df of every vocabulary code (the index's term_stats df)."""
        key = self.docix.astype(np.int64) * len(self.vocab) + self.codes
        return np.bincount(np.unique(key) % len(self.vocab), minlength=len(self.vocab))

    def field_stats(self) -> Tuple[int, int]:
        """(doc_count, sum_total_term_freq): docs with >= 1 token."""
        return int((self.doclen > 0).sum()), int(self.doclen.sum())

    def doclen_of(self, docids: np.ndarray) -> np.ndarray:
        return self.doclen[np.searchsorted(self.doc_ids, docids)]


class TermPicker:
    """Seeded draws from df bands of the current corpus, without
    replacement across the whole run (timed and warm-up queries never
    share a rare or mid term)."""

    BANDS = {
        # name: (lowest df, highest df) as fractions of the doc count
        "rare": (0.001, 0.004),
        "mid": (0.01, 0.05),
        "word": (0.15, 0.60),
    }

    def __init__(self, corpus: Corpus, rng: np.random.Generator):
        self.rng = rng
        df = corpus.doc_freqs()
        n = corpus.n_docs
        word_ok = ~corpus.stop
        word_ok[corpus.probe_codes] = False
        self.pools: Dict[str, List[str]] = {}
        for band, (lo, hi) in self.BANDS.items():
            sel = np.flatnonzero(word_ok & (df >= max(2, lo * n)) & (df <= hi * n))
            self.pools[band] = list(corpus.vocab[self.rng.permutation(sel)])
        self.pools["hot"] = list(KEYWORDS)

    def passes(self, mix) -> float:
        """Whole passes over ``mix`` the remaining pools can still fill."""
        need: Dict[str, int] = {}
        for _shape, template, _k in mix:
            for band, n in slot_needs(template).items():
                need[band] = need.get(band, 0) + n
        return min((len(self.pools[b]) // n for b, n in need.items() if b != "hot"),
                   default=float("inf"))

    def take(self, band: str, k: int) -> List[str]:
        if band == "hot":
            return list(self.rng.permutation(KEYWORDS)[:k])
        pool = self.pools[band]
        if len(pool) < k:
            raise RuntimeError(f"df band {band!r} ran out of terms")
        out, self.pools[band] = pool[:k], pool[k:]
        return out


def _slots_by_band(template: str) -> Dict[str, List[str]]:
    slots = sorted({f for _, f, _, _ in string.Formatter().parse(template) if f})
    by_band: Dict[str, List[str]] = {}
    for s in slots:
        by_band.setdefault(s.rstrip("0123456789"), []).append(s)
    return by_band


def slot_needs(template: str) -> Dict[str, int]:
    """Distinct terms per df band one fill of ``template`` draws."""
    return {band: len(names) for band, names in _slots_by_band(template).items()}


def fill(template: str, picker: TermPicker) -> Tuple[str, Dict[str, str]]:
    """Fill ``{band0}``-style slots: each distinct slot gets one term; the
    same slot twice repeats the term (qtf shapes)."""
    by_band = _slots_by_band(template)
    terms: Dict[str, str] = {}
    for band, names in by_band.items():
        terms.update(zip(names, picker.take(band, len(names))))
    return template.format(**terms), terms


def write_parquet(path: str, doc_ids: np.ndarray, texts) -> int:
    """Write (doc_id, content) and return the UTF-8 content bytes."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"doc_id": pa.array(doc_ids), "content": texts}), path,
                   row_group_size=8192)
    return int(pc.sum(pc.binary_length(texts)).as_py() or 0)

