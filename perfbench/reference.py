"""Expected answers, computed from the generated inputs alone.

Flat queries: BM25 with byte4 norms in float32, summed in sorted-term
order, ties broken score-desc/docid-asc: the arithmetic of
``lucene_spark.pyref`` (score_term + _combine), vectorised.  ``check_pyref``
replays cheap queries through ``pyref.search`` itself so a drift between
the two is caught, not trusted.

Trees: the exhaustive ``search_tree`` semantics (float64, exact doc
lengths, a boolean clause scores the sum of its matching children),
compared with the tie-tolerant canon the repository's tree tests use.

Percolation: whitespace tokens, pure-Python set logic per stored query.
"""

from __future__ import annotations

from collections import Counter
from typing import Dict, Iterable, List, Sequence, Tuple

import numpy as np

from .corpus import Corpus

K1, B = 1.2, 0.75


def _idf32(df: int, doc_count: int) -> np.float32:
    return np.float32(np.log(1.0 + (doc_count - df + 0.5) / (df + 0.5)))


class FlatRef:
    """Per-run cache of per-term float32 partial scores."""

    def __init__(self, corpus: Corpus):
        from lucene_spark.functions.smallfloat import LENGTH_TABLE, int_to_byte4

        self.corpus = corpus
        self.doc_count, sum_ttf = corpus.field_stats()
        avgdl = np.float32(sum_ttf / float(self.doc_count))
        one, k1, b = np.float32(1), np.float32(K1), np.float32(B)
        self.cache = one / (k1 * ((one - b) + b * LENGTH_TABLE.astype(np.float32) / avgdl))
        self._int_to_byte4 = int_to_byte4
        self._scores: Dict[str, Tuple[np.ndarray, np.ndarray]] = {}

    def term(self, t: str) -> Tuple[np.ndarray, np.ndarray]:
        """(docids, float32 score) for one term, qtf 1 (pyref.score_term)."""
        got = self._scores.get(t)
        if got is None:
            ids, tf = self.corpus.postings(t)
            if len(ids) == 0:
                got = (ids, np.empty(0, np.float32))
            else:
                w = _idf32(len(ids), self.doc_count)
                ninv = self.cache[self._int_to_byte4(self.corpus.doclen_of(ids))]
                got = (ids, w - w / (np.float32(1) + tf.astype(np.float32) * ninv))
            self._scores[t] = got
        return got

    def search(self, required: Sequence[Tuple[str, int]], optional: Sequence[Tuple[str, int]],
               excluded: Sequence[str], msm: int, k: int) -> List[Tuple[int, float]]:
        """Top-k (docid, score) of a NormalizedQuery."""
        qtf: Counter = Counter()
        for t, c in list(required) + list(optional):
            qtf[t] += c
        per = {t: self.term(t) for t in qtf}
        if required:
            docs = None
            for t, _ in required:
                ids = per[t][0]
                docs = ids if docs is None else np.intersect1d(docs, ids, assume_unique=True)
        else:
            docs = np.unique(np.concatenate([per[t][0] for t, _ in optional] or [np.empty(0, np.int64)]))
        if msm > 0:
            hits = np.zeros(len(docs), np.int64)
            for t, c in optional:
                hits += c * np.isin(docs, per[t][0], assume_unique=True)
            docs = docs[hits >= msm]
        drop = [self.corpus.postings(t)[0] for t in excluded]
        if self.corpus.deleted:
            drop.append(np.fromiter(self.corpus.deleted, np.int64))
        if drop:
            docs = docs[~np.isin(docs, np.concatenate(drop))]
        s = np.zeros(len(docs), np.float32)
        for t in sorted(qtf):
            ids, sc = per[t]
            pos = np.searchsorted(ids, docs)
            has = (pos < len(ids)) & (ids[np.minimum(pos, len(ids) - 1)] == docs) if len(ids) else np.zeros(len(docs), bool)
            s[has] = s[has] + np.float32(qtf[t]) * sc[pos[has]]
        order = np.lexsort((docs, -s.astype(np.float64)))[:k]
        return [(int(docs[i]), float(s[i])) for i in order]

    def postings_total(self, terms: Iterable[str]) -> int:
        return sum(len(self.corpus.postings(t)[0]) for t in set(terms))


def check_pyref(corpus: Corpus, q, k: int, got: List[Tuple[int, float]]) -> bool:
    """Replay a flat query through ``pyref.search`` on a RefIndex holding
    the query's postings and every doc length.  Only for shapes pyref
    models (plain OR / AND, with NOT); returns True for the others."""
    from lucene_spark import pyref
    from lucene_spark.functions.smallfloat import int_to_byte4

    if q.min_should_match or (q.required and q.optional) or corpus.deleted:
        return True
    idx = pyref.RefIndex()
    live = corpus.doclen > 0
    ids, lens = corpus.doc_ids[live], corpus.doclen[live]
    idx.doclen = dict(zip(ids.tolist(), lens.tolist()))
    idx.norm_byte = dict(zip(ids.tolist(), int_to_byte4(lens).astype(int).tolist()))
    idx.num_docs = corpus.n_docs
    terms = []
    for t, c in list(q.required) + list(q.optional):
        terms += [t] * c
    for t in set(terms) | set(q.excluded):
        d, tf = corpus.postings(t)
        if len(d):
            idx.postings[t] = dict(zip(d.tolist(), tf.tolist()))
    want = pyref.search(idx, terms, k, mode="and" if q.required else "or",
                        must_not=list(q.excluded))
    return [(int(d), float(s)) for d, s in want] == got


class TreeRef:
    """float64 exhaustive evaluation of plain-term boolean trees."""

    def __init__(self, corpus: Corpus):
        self.corpus = corpus
        self.doc_count, sum_ttf = corpus.field_stats()
        self.avgdl = sum_ttf / float(self.doc_count)
        self._terms: Dict[Tuple[str, float], Dict[int, float]] = {}

    def term(self, t: str, boost: float = 1.0) -> Dict[int, float]:
        got = self._terms.get((t, boost))
        if got is not None:
            return got
        ids, tf = self.corpus.postings(t)
        got = {}
        if len(ids):
            w = float(boost * np.log(1.0 + (self.doc_count - len(ids) + 0.5) / (len(ids) + 0.5)))
            dl = self.corpus.doclen_of(ids).astype(np.float64)
            ninv = 1.0 / (K1 * ((1.0 - B) + B * dl / self.avgdl))
            sc = w - w / (1.0 + tf.astype(np.float64) * ninv)
            got = dict(zip(ids.tolist(), sc.tolist()))
        self._terms[(t, boost)] = got
        return got

    def eval(self, node) -> Dict[int, float]:
        from lucene_spark.search.plan import MUST, SHOULD, QBool, QTerm

        if isinstance(node, QTerm):
            return self.term(node.term, node.boost)
        if not isinstance(node, QBool):
            raise TypeError(f"reference covers term trees only, got {type(node).__name__}")
        must, should, mnot = [], [], []
        for occ, child in node.clauses:
            r = self.eval(child)
            (must if occ == MUST else should if occ == SHOULD else mnot).append(r)
        if any(not m for m in must) or (not must and not any(should)):
            return {}
        opt: Dict[int, float] = {}
        nsh: Counter = Counter()
        for s in should:
            for d, v in s.items():
                opt[d] = opt.get(d, 0.0) + v
                nsh[d] += 1
        if node.msm > 0:
            opt = {d: v for d, v in opt.items() if nsh[d] >= node.msm}
        if must:
            docs = set(must[0]).intersection(*must[1:])
            if node.msm > 0:
                docs &= set(opt)
            out = {d: sum(m[d] for m in must) + opt.get(d, 0.0) for d in docs}
        else:
            out = opt
        gone = set().union(*[set(m) for m in mnot]) | self.corpus.deleted
        out = {d: v * node.boost for d, v in out.items() if d not in gone}
        return out

    def search(self, node, k: int) -> List[Tuple[int, float]]:
        r = self.eval(node)
        return sorted(r.items(), key=lambda x: (-x[1], x[0]))[:k]


def canon(rows: Sequence[Tuple[int, float]]):
    """Tie-tolerant canonical form (the tree tests' rule): rounded-score
    multiset plus the docids of every row not tied with the k-th score."""
    rs = sorted(((round(s, 9), d) for d, s in rows), key=lambda x: (-x[0], x[1]))
    if not rs:
        return [], set(), None
    kth = rs[-1][0]
    return [s for s, _ in rs], {d for s, d in rs if s != kth}, kth


# --- percolation ------------------------------------------------------------

def tree_match(tokens: set, clauses) -> bool:
    """``clauses`` = (any_of, all_of, none_of) term tuples."""
    any_of, all_of, none_of = clauses
    return (any(t in tokens for t in any_of) and all(t in tokens for t in all_of)
            and not any(t in tokens for t in none_of))


def full_match(tokens: set, text: str, terms, min_match, not_terms, phrase) -> bool:
    if sum(t in tokens for t in terms) < min_match:
        return False
    if any(t in tokens for t in not_terms):
        return False
    return not phrase or f" {' '.join(phrase)} " in f" {text} "
