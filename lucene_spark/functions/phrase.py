"""Phrase matchers over per-doc position lists (behavioral model of the
public apache/lucene matchers, behavior only):

  exact  [lucene/core/src/java/org/apache/lucene/search/ExactPhraseMatcher.java:149]
      leapfrog alignment of adjusted positions; every alignment contributes
      sloppyWeight 1, so phraseFreq == number of start positions where all
      terms line up. Set-intersection of (position - offset) is equivalent.

  sloppy [lucene/core/src/java/org/apache/lucene/search/SloppyPhraseMatcher.java:205]
      greedy priority-queue traversal that always advances the least
      PhrasePosition; each match contributes sloppyWeight = 1/(1+matchLength)
      [SloppyPhraseMatcher.java:200-202]. Like Lucene, not all valid
      combinations are enumerated (the class javadoc documents the same
      asymmetry, e.g. "a b"~2 on "x a b a y" matches twice: distances 0 and
      2). Repeating phrase terms follow the rptGroups machinery
      [SloppyPhraseMatcher.java:317-497]: same-term pps are grouped (sorted
      by query offset), initialization advances the j-th pp of a group to the
      j-th occurrence [advanceRepeatGroups, :486-494], and every advance
      resolves occurrence collisions by advancing the lesser of the two
      colliding pps [advanceRpts, :317-354], re-seating moved pps in the
      queue. The queue order is (position, offset, ord)
      [SloppyPhraseMatcher.java:96-110], a strict total order, so a
      lazy-deletion heap reproduces Lucene's re-queue protocol exactly.

The scorer treats phraseFreq as the BM25 freq with weight = sum of the
terms' idfs [BM25Similarity.java:198-205, PhraseQuery.java:455-490].
"""

from __future__ import annotations

import heapq
from typing import List, Sequence

import numpy as np


def exact_phrase_freq(positions_per_term: Sequence, offsets: Sequence[int]) -> int:
    """Number of exact alignments: |∩_i (positions_i - offset_i)|."""
    sets = None
    for plist, off in zip(positions_per_term, offsets):
        s = {int(p) - int(off) for p in plist}
        sets = s if sets is None else (sets & s)
        if not sets:
            return 0
    return len(sets or ())


def sloppy_match_lengths(
    positions_per_term: Sequence,
    offsets: Sequence[int],
    slop: int,
    terms: Sequence[str] | None = None,
    groups: Sequence[Sequence[int]] | None = None,
    multi_term: bool = False,
) -> List[int]:
    """matchLength of every match found by the greedy pq traversal
    (SloppyPhraseMatcher.nextMatch). phraseFreq is sum(1/(1+ml)).
    Positions must be ascending per term. When ``terms`` is given and a
    term occupies several phrase positions — or explicit repeat ``groups``
    of pp indices are passed (multi-term slots sharing terms) — the
    rptGroups path is taken (SloppyPhraseMatcher.java:317-497); otherwise
    the simple walk runs. ``multi_term`` selects the iterative group init
    (pps on different position lists can't be blindly staggered)."""
    adj = []
    for plist, off in zip(positions_per_term, offsets):
        a = [int(p) - int(off) for p in plist]
        if not a:
            return []
        adj.append(a)
    n = len(adj)
    if n < 2:
        return []
    if groups is not None and len(groups):
        return _sloppy_match_lengths_rpt(adj, [int(o) for o in offsets],
                                         None, slop, groups=groups,
                                         multi_term=multi_term)
    if terms is not None and len(set(terms)) < n:
        return _sloppy_match_lengths_rpt(adj, [int(o) for o in offsets],
                                         list(terms), slop)

    # pp state: current index per ord; pq entries (position, offset, ord)
    idx = [0] * n
    end = max(a[0] for a in adj)
    heap = [(adj[o][0], int(offsets[o]), o) for o in range(n)]
    heapq.heapify(heap)

    out: List[int] = []
    positioned = True
    while positioned:
        pos, off, o = heapq.heappop(heap)
        match_length = end - pos
        next_pos = heap[0][0]
        matched = False
        while True:
            idx[o] += 1  # advancePP
            if idx[o] >= len(adj[o]):
                positioned = False
                if match_length <= slop:
                    out.append(match_length)
                break
            p = adj[o][idx[o]]
            if p > end:
                end = p
            if p > next_pos:  # done minimizing current match-length
                heapq.heappush(heap, (p, off, o))
                if match_length <= slop:
                    out.append(match_length)
                    matched = True
                    break
                pos, off, o = heapq.heappop(heap)
                next_pos = heap[0][0]
                match_length = end - pos
            else:
                match_length = min(match_length, end - p)
        del matched
    return out


def _sloppy_match_lengths_rpt(
    adj: List[List[int]],
    offsets: List[int],
    terms: List[str] | None,
    slop: int,
    groups: Sequence[Sequence[int]] | None = None,
    multi_term: bool = False,
) -> List[int]:
    """Greedy pq walk WITH repeating-term groups (rptGroups).

    Behavioral model of SloppyPhraseMatcher.java:
      - groups = terms at 2+ phrase positions, members sorted by query
        offset (sortRptGroups, :542-553; the engine's slots already arrive
        in offset order, sorted once in executor._slots_source);
      - init: j-th member of a group starts at the j-th occurrence
        (advanceRepeatGroups simple case, :486-494 — all members share one
        positions list, so fixed advances can never collide);
      - every mid-walk advance resolves occurrence collisions by advancing
        the LESSER of the two colliding pps (advanceRpts, :317-354;
        lesser, :356-362; collide, :364-374), then re-seats moved in-queue
        pps. Lucene drains/re-adds the pq (:335-353); with the strict
        (position, offset, ord) order (:96-110) a lazy-deletion heap where
        a moved pp invalidates its old entry is the same queue.
    """
    n = len(adj)
    lens = [len(a) for a in adj]
    idx = [0] * n

    group_of = [-1] * n
    if groups is None:
        members: dict = {}
        for i, t in enumerate(terms or []):
            members.setdefault(t, []).append(i)
        groups = members.values()
    groups = [sorted(g, key=lambda i: offsets[i]) for g in groups if len(g) > 1]
    for gi, g in enumerate(groups):
        for i in g:
            group_of[i] = gi

    end = -1 << 60

    def advance_pp(i: int) -> bool:
        nonlocal end
        idx[i] += 1
        if idx[i] >= lens[i]:
            return False
        if adj[i][idx[i]] > end:
            end = adj[i][idx[i]]
        return True

    def collide_at(i: int) -> int:
        tp = adj[i][idx[i]] + offsets[i]
        for j in groups[group_of[i]]:
            if j != i and adj[j][idx[j]] + offsets[j] == tp:
                return j
        return -1

    # --- init: place first positions, then de-collide each group
    if multi_term:
        # advanceRepeatGroups, multi-term case (SloppyPhraseMatcher.java:
        # 465-484): members sit on DIFFERENT position lists, so collisions
        # are resolved iteratively — advance the lesser of the colliding
        # pair; restart the scan when an earlier member moved.
        for g in groups:
            i = 0
            while i < len(g):
                incr = 1
                pp = g[i]
                while True:
                    k = collide_at(pp)
                    if k < 0:
                        break
                    q = (
                        pp
                        if (adj[pp][idx[pp]], offsets[pp])
                        < (adj[k][idx[k]], offsets[k])
                        else k
                    )
                    idx[q] += 1
                    if idx[q] >= lens[q]:
                        return []  # PPs exhausted: doc cannot match
                    if (g.index(q)) < i:
                        incr = 0
                        break
                i += incr
    else:
        # simple case (:486-494): all members share ONE positions list, so
        # the j-th member starts at the j-th occurrence
        for g in groups:
            for j in range(1, len(g)):
                for _ in range(j):
                    idx[g[j]] += 1
                    if idx[g[j]] >= lens[g[j]]:
                        return []  # PPs exhausted: doc cannot match
    # fillQueue
    end = max(adj[i][idx[i]] for i in range(n))
    ver = [0] * n
    heap = [(adj[i][idx[i]], offsets[i], i, 0) for i in range(n)]
    heapq.heapify(heap)

    def push(i: int) -> None:
        ver[i] += 1
        heapq.heappush(heap, (adj[i][idx[i]], offsets[i], i, ver[i]))

    def pop():
        while True:
            p, off, i, v = heapq.heappop(heap)
            if v == ver[i]:
                return p, i

    def top_pos() -> int:
        while heap[0][3] != ver[heap[0][2]]:
            heapq.heappop(heap)
        return heap[0][0]

    collide = collide_at

    def advance_rpts(i0: int) -> bool:
        """i0 was just advanced; resolve any occurrence collision chain."""
        if group_of[i0] < 0:
            return True
        p = i0
        moved: List[int] = []
        while True:
            k = collide(p)
            if k < 0:
                break
            q = (
                p
                if (adj[p][idx[p]], offsets[p]) < (adj[k][idx[k]], offsets[k])
                else k
            )
            if not advance_pp(q):
                return False
            if q != i0:
                moved.append(q)  # in-queue pp moved -> re-seat below
            p = q
        for j in set(moved):
            push(j)
        return True

    out: List[int] = []
    positioned = True
    while positioned:
        ppos, o = pop()
        match_length = end - ppos
        next_pos = top_pos()
        while True:
            ok = advance_pp(o)
            if ok:
                ok = advance_rpts(o)
            if not ok:
                positioned = False
                if match_length <= slop:
                    out.append(match_length)
                break
            p = adj[o][idx[o]]
            if p > next_pos:  # done minimizing current match-length
                push(o)
                if match_length <= slop:
                    out.append(match_length)
                    break
                ppos, o = pop()
                next_pos = top_pos()
                match_length = end - ppos
            else:
                if end - p < match_length:
                    match_length = end - p
    return out


def sloppy_2term_doc_freqs(
    keys_a: np.ndarray, keys_b: np.ndarray, pos_base: int, slop: int, dtype=np.float32
):
    """Per-doc phraseFreq for a 2-DISTINCT-term sloppy phrase, computed as a
    batched "stationary chain" over FUSED (doc, adjusted-position) keys —
    no per-doc Python walk.

    Reduction of the greedy pq matcher (SloppyPhraseMatcher.java:205-237),
    validated against it on dense randomized lists (tests/test_phrase.py):
    with exactly two pps the walk's emissions are

        s_1    = the first element of the OTHER label than the doc's
                 least element (ties order term-A before term-B, matching
                 the pq comparator's offset tie-break, :96-110);
        s_next = the least opposite-label element with value STRICTLY
                 greater than the current stationary;
        emit d = s - floor_other(s)   (floor is <=, so a tied opposite
                 element IS the floor -> d = 0).

    The chain is evaluated for all docs simultaneously: one vectorized
    gather per chain step (steps bounded by the longest per-doc chain).
    Per-doc sloppyWeights 1/(1+d) are folded LEFT-TO-RIGHT in ``dtype``
    (one vectorized add per chain step — each step emits at most one match
    per doc), matching PhraseScorer's sequential float32 accumulation
    bit-exactly. Returns (doc_ids, freqs) for docs with freq > 0. Keys
    must be non-negative (ValueError otherwise).
    """
    z = np.empty(0, np.int64)
    ka = np.asarray(keys_a, np.int64)
    kb = np.asarray(keys_b, np.int64)
    if len(ka) == 0 or len(kb) == 0:
        return z, np.empty(0, dtype)
    keys = np.concatenate([ka, kb])
    lab = np.concatenate([np.zeros(len(ka), np.int8), np.ones(len(kb), np.int8)])
    if int(keys.min()) < 0:
        # the doc decode below floors, so a negative key (a position
        # shifted below 0) would land in the previous doc
        raise ValueError("sloppy_2term_doc_freqs needs non-negative keys: shift "
                         "positions by the largest offset")
    if int(keys.max()) < (1 << 62):
        # fused (key, label) sort key: one int64 argsort instead of a
        # two-pass lexsort — same ordering (label A before B on key ties)
        order = np.argsort((keys << 1) | lab, kind="stable")
    else:
        order = np.lexsort((lab, keys))
    k = keys[order]
    l = lab[order]
    n = len(k)
    shift = int(pos_base).bit_length() - 1
    if (1 << shift) == pos_base:  # power-of-two key space: shift beats div
        doc = k >> shift
    else:
        doc = k // pos_base

    # With only two labels, "the next/previous OPPOSITE-label index" is a
    # run-boundary lookup: split the merged sequence into maximal same-label
    # runs; the first opposite after i is the next run's start, the last
    # opposite before i is the previous run's end, and the next SAME-label
    # index after j is j+1 within the run else the start of run+2.
    change = np.empty(n, dtype=bool)
    change[0] = True
    np.not_equal(l[1:], l[:-1], out=change[1:])
    run_id = np.cumsum(change) - 1
    run_starts = np.flatnonzero(change)
    rs_ext = np.concatenate([run_starts, [n, n]])
    cross_next = rs_ext[run_id + 1]  # first index of the NEXT run (n if none)
    prev_opp = run_starts[run_id] - 1  # last index of the PREVIOUS run (-1)

    def same_next(x):
        """Next index after x with x's own label (lazy — ties are rare)."""
        return np.where(x + 1 < cross_next[x], x + 1, rs_ext[run_id[x] + 2])

    # chain start per doc: first element of the opposite label of the doc's
    # least element (not strictly greater — matches the walk's init where
    # s0 may TIE the other list's first element). doc is already sorted, so
    # doc starts come from a boundary scan (np.unique would re-sort).
    first = np.concatenate([[0], np.flatnonzero(doc[1:] != doc[:-1]) + 1])
    doc_ids = doc[first]
    cur = cross_next[first]
    curc = np.minimum(cur, n - 1)
    keep0 = (cur < n) & (doc[curc] == doc_ids)
    ii = curc[keep0]
    docs_ii = doc_ids[keep0]

    out_doc: List[np.ndarray] = []
    out_d: List[np.ndarray] = []
    while len(ii):
        j = cross_next[ii]  # first opposite-label index after the stationary
        jc = np.minimum(j, n - 1)
        validj = (j < n) & (doc[jc] == docs_ii)
        tie = validj & (k[jc] == k[ii])
        # floor in the opposite list: the tied opposite element (which sorts
        # AFTER an A-stationary) when present, else the last opposite before
        flo = np.where(tie, jc, prev_opp[ii])
        okf = (flo >= 0) & (doc[np.maximum(flo, 0)] == docs_ii)
        d = np.abs(k[ii] - k[np.maximum(flo, 0)])  # tie-floor: |.| = 0
        out_doc.append(docs_ii[okf])
        out_d.append(d[okf])
        # advance: least opposite-label element STRICTLY greater in value —
        # the tied element is not, so hop to the next same-label index
        # after it (opposite values are unique within a doc)
        if tie.any():
            j2 = j.copy()
            j2[tie] = same_next(jc[tie])
        else:
            j2 = j
        j2c = np.minimum(j2, n - 1)
        valid2 = validj & (j2 < n) & (doc[j2c] == docs_ii)
        ii = j2c[valid2]
        docs_ii = docs_ii[valid2]

    if not out_doc:
        return z, np.empty(0, dtype)
    # sequential per-doc accumulation in emission order: each chain step
    # emits at most one match per doc, so folding step-by-step reproduces
    # PhraseScorer's left-to-right float32 accumulation BIT-EXACTLY
    # (np.add.reduceat would sum pairwise and drift in the last ulp)
    keep = [(dc[msk], dd[msk]) for dc, dd, in zip(out_doc, out_d)
            if (msk := dd <= slop).any()]
    if not keep:
        return z, np.empty(0, dtype)
    uniq = np.unique(np.concatenate([dc for dc, _ in keep]))
    freqs = np.zeros(len(uniq), dtype)
    for dc, dd in keep:
        pos = np.searchsorted(uniq, dc)
        freqs[pos] = freqs[pos] + (dtype(1) / (dtype(1) + dd.astype(dtype)))
    return uniq, freqs


def sloppy_phrase_freq(
    positions_per_term: Sequence,
    offsets: Sequence[int],
    slop: int,
    dtype=np.float32,
    terms: Sequence[str] | None = None,
    groups: Sequence[Sequence[int]] | None = None,
    multi_term: bool = False,
):
    """phraseFreq = Σ 1/(1+matchLength), accumulated in `dtype` (float32 in
    Lucene parity mode — PhraseScorer accumulates a float)."""
    one = dtype(1)
    freq = dtype(0)
    for ml in sloppy_match_lengths(positions_per_term, offsets, slop,
                                   terms=terms, groups=groups,
                                   multi_term=multi_term):
        freq = freq + one / (one + dtype(ml))
    return freq




def sloppy_doc_freqs(
    plists: Sequence[np.ndarray],
    bounds: Sequence[np.ndarray],
    offsets: Sequence[int],
    slop: int,
    groups: Sequence[Sequence[int]] = (),
    dtype=np.float32,
):
    """Per-doc phraseFreq for a sloppy phrase, computed as a SYNCHRONIZED
    batched walk: every doc runs the greedy pq traversal of
    SloppyPhraseMatcher (java:205-237), but all docs advance one
    micro-step per vectorized iteration instead of a per-doc Python loop.

    One micro-step = one execution of the scalar walk's inner-loop body
    (one index increment on the doc's current mover). The pq is an argmin
    over the doc's n current keys ``adjusted position * K + offset``, with
    the offsets rebased on the least and K = 1 << max(8, their largest bit
    length): the (position, offset) order at any offset, decoded with a
    shift, and the argmin's first index is the pq's ord tie-break.

    ``groups`` are the repeat groups (pp-index lists, empty when no term
    repeats) in the simple rptGroups case: every group's members share ONE
    positions list. Semantics are the scalar _sloppy_match_lengths_rpt:
      - init: the j-th member (by offset) of a group starts at the j-th
        occurrence (advanceRepeatGroups simple case,
        SloppyPhraseMatcher.java:486-494); docs with fewer occurrences
        than a group needs can never position and score 0;
      - after each mover advance, occurrence collisions resolve by
        advancing the LESSER of the colliding pair — with a shared
        positions list the colliding pps hold the SAME raw position, so
        (adjusted-pos, offset) order makes the lesser simply the member
        with the LARGER offset; the chain continues from the advanced pp
        (advanceRpts, :317-354). One chain round = one vectorized pass
        over all active docs; re-seating is free (the argmin re-pop reads
        current positions).
    Exhaustion, of the mover or inside a chain, emits the current match
    length (the scalar inner loop's single not-ok path). Emissions happen
    at most once per doc per micro-step IN WALK ORDER and sloppyWeights
    fold left-to-right in ``dtype``, so freqs are BIT-IDENTICAL to the
    scalar matcher's accumulation (randomized differentials in
    tests/test_phrase.py).

    Inputs: per pp t, ``plists[t]`` = concatenated ascending positions for
    every doc, ``bounds[t]`` = row offsets (len docs+1); every doc must
    have >= 1 position per pp (the conjunction phase guarantees it).
    Raises ValueError when the keys would not fit int64. Returns
    (doc_rows, freqs) for rows with freq > 0 (rows index the bounds rows).
    """
    n = len(plists)
    ndocs0 = len(bounds[0]) - 1
    z = np.empty(0, np.int64)
    if ndocs0 == 0 or n < 2:
        return z, np.empty(0, dtype)
    offs = np.asarray(offsets, dtype=np.int64)
    starts0 = np.stack([np.asarray(b[:-1], np.int64) for b in bounds], axis=1)
    lens0 = np.stack(
        [np.asarray(b[1:], np.int64) - np.asarray(b[:-1], np.int64) for b in bounds],
        axis=1,
    )
    if (lens0 <= 0).any():
        raise ValueError("every doc needs >= 1 position per term")
    tie = offs - offs.min()
    shift = max(8, int(tie.max()).bit_length())
    reach = max(max(int(p.max()) for p in plists) - int(offs.min()),
                int(offs.max()) - min(int(p.min()) for p in plists)) + 1
    if reach << shift > 1 << 62:
        raise ValueError("phrase positions and offsets exceed the (position, "
                         "offset) key space")

    groups = [sorted(g, key=lambda i: offs[i]) for g in groups if len(g) > 1]
    group_of = np.full(n, -1, dtype=np.int64)
    init_occ = np.zeros(n, dtype=np.int64)
    for gi, g in enumerate(groups):
        for j, i in enumerate(g):
            group_of[i] = gi
            init_occ[i] = j
    in_group = group_of >= 0
    glists = [np.asarray(g, dtype=np.int64) for g in groups]
    # a doc whose shared list is shorter than a group's stagger can never
    # position (the scalar init returns [])
    docmap = np.flatnonzero((lens0 > init_occ[None, :]).all(axis=1))
    ndocs = len(docmap)
    if ndocs == 0:
        return z, np.empty(0, dtype)

    def pop_least(cp):
        """The pq pop on each row of adjusted positions: the mover (least
        key), its position and the next least position."""
        keys = cp * np.int64(1 << shift) + tie[None, :]
        mv = np.argmin(keys, axis=1)
        r = np.arange(len(cp))
        pm = cp[r, mv]
        keys[r, mv] = np.iinfo(np.int64).max
        return mv, pm, keys.min(axis=1) >> np.int64(shift)

    act = np.arange(ndocs, dtype=np.int64)
    starts_a, lens_a = starts0[docmap], lens0[docmap]
    cur_a = np.tile(init_occ, (ndocs, 1))
    curpos_a = np.empty((ndocs, n), dtype=np.int64)  # adjusted positions
    for t in range(n):
        curpos_a[:, t] = plists[t][starts_a[:, t] + cur_a[:, t]] - offs[t]
    mover_a, pm, next_a = pop_least(curpos_a)
    end_a = curpos_a.max(axis=1)
    ml_a = end_a - pm
    dead_a = np.zeros(ndocs, dtype=bool)

    freqs = np.zeros(ndocs, dtype=dtype)
    one = dtype(1)

    def emit(mask):
        """Fold the current match length of the ``mask`` rows within slop."""
        hit = mask & (ml_a <= slop)
        if hit.any():
            idx = act[hit]
            freqs[idx] = freqs[idx] + one / (one + ml_a[hit].astype(dtype))

    def gather(mask, pp):
        """Adjusted position of pp ``pp[r]`` at its current index, for the
        ``mask`` rows (0 elsewhere)."""
        p = np.zeros(len(act), dtype=np.int64)
        for t in range(n):
            g = mask & (pp == t)
            if g.any():
                p[g] = plists[t][starts_a[g, t] + cur_a[g, t]] - offs[t]
        return p

    # Convoy cutoff: when few docs stay active (the longest lists), the
    # per-iteration numpy dispatch overhead exceeds the scalar walk's cost.
    # Finish those docs with the scalar matcher FROM SCRATCH, overwriting
    # their accumulator — the scalar walk is the definition, so the result
    # stays bit-identical.
    SCALAR_TAIL = 96
    while True:
        m = len(act)
        n_live = m - int(dead_a.sum())
        if n_live == 0:
            break
        if n_live <= SCALAR_TAIL < ndocs:
            for r in act[~dead_a].tolist():
                d0 = int(docmap[r])
                pls = [plists[t][starts0[d0, t] : starts0[d0, t] + lens0[d0, t]]
                       for t in range(n)]
                f = dtype(0)
                for mlen in sloppy_match_lengths(pls, offsets, slop, groups=groups):
                    f = f + one / (one + dtype(mlen))
                freqs[r] = f
            break
        # physical compaction is DEFERRED until a quarter of the block is
        # dead (per-iteration copies dominated the decay phase)
        if m - n_live >= max(32, m // 4):
            keep = ~dead_a
            act, cur_a, curpos_a, starts_a, lens_a = (
                a[keep] for a in (act, cur_a, curpos_a, starts_a, lens_a))
            mover_a, end_a, ml_a, next_a = (
                a[keep] for a in (mover_a, end_a, ml_a, next_a))
            dead_a = np.zeros(n_live, dtype=bool)
            m = n_live
        rix = np.arange(m)
        # 1. advance each doc's mover (dead rows advance a stale counter —
        # harmless, their gathers and emissions are masked out below)
        cur_a[rix, mover_a] += 1
        exhausted = ~dead_a & (cur_a[rix, mover_a] >= lens_a[rix, mover_a])
        if exhausted.any():
            emit(exhausted)
            dead_a = dead_a | exhausted
        live = ~dead_a
        # 2. gather the mover's new adjusted position
        p = gather(live, mover_a)
        curpos_a[rix[live], mover_a[live]] = p[live]
        end_a = np.where(live, np.maximum(end_a, p), end_a)

        if glists:
            # 2b. collision chains (advanceRpts): the chain head starts at
            # the mover; each round resolves one collision step for every doc
            head = mover_a.copy()
            chain = live & in_group[head]
            while chain.any():
                raw = curpos_a[rix, head] + offs[head]
                partner = np.full(m, -1, dtype=np.int64)
                for gi, g in enumerate(glists):
                    gm = chain & (group_of[head] == gi)
                    if not gm.any():
                        continue
                    for mem in g.tolist():  # group order == collide_at scan order
                        cand = gm & (partner < 0) & (head != mem) & (
                            curpos_a[:, mem] + offs[mem] == raw
                        )
                        partner[cand] = mem
                chain = chain & (partner >= 0)
                if not chain.any():
                    break
                # lesser of the colliding pair by (adjusted pos, offset): same
                # raw position, so the LARGER offset is the lesser pp
                q = np.where(offs[head] > offs[partner.clip(min=0)], head, partner)
                q = np.where(chain, q, 0)
                cur_a[rix[chain], q[chain]] += 1
                exh = chain & (cur_a[rix, q] >= lens_a[rix, q])
                if exh.any():
                    emit(exh)
                    dead_a = dead_a | exh
                    chain = chain & ~exh
                pq = gather(chain, q)
                curpos_a[rix[chain], q[chain]] = pq[chain]
                end_a = np.where(chain, np.maximum(end_a, pq), end_a)
                head = np.where(chain, q, head)
            live = ~dead_a
            # the mover may have advanced again inside its chain: re-read
            p = curpos_a[rix, mover_a]

        # 3. p > next_pos -> (maybe emit) + re-pop; else shrink match length
        done = live & (p > next_a)
        if done.any():
            emit(done)
            sub = np.flatnonzero(done)
            mover_a[sub], pm, next_a[sub] = pop_least(curpos_a[sub])
            ml_a[sub] = end_a[sub] - pm
        shrink = live & ~done
        if shrink.any():
            ml_a = np.where(shrink, np.minimum(ml_a, end_a - p), ml_a)

    out = np.flatnonzero(freqs > 0)
    return docmap[out], freqs[out]
