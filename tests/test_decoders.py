"""The segment-row contract of the per-segment seam: the reader
(executor._segment_reader) maps each term to its one postings record, and
the block decoders (executor._decode_rows, _decode_rows_pos,
_decode_rows_off) return only the candidate docs they are given, with
positions and offsets kept aligned."""

import numpy as np
import pytest

from lucene_spark.functions.codec import (
    decode_block,
    decode_block_offsets,
    decode_block_positions,
)
from lucene_spark.index.builder import IndexConfig, build_index
from lucene_spark.search.executor import (
    Index,
    _decode_rows,
    _decode_rows_off,
    _decode_rows_pos,
    _segment_reader,
)


@pytest.fixture(scope="module")
def offs_seg(spark, tmp_path_factory):
    """A 2-segment positions+offsets index whose hot terms span many blocks."""
    from lucene_spark.corpus import corpus_spark_df

    cfg = IndexConfig(num_segments=2, index_positions=True, index_offsets=True)
    d = str(tmp_path_factory.mktemp("offs") / "idx")
    return Index(spark, build_index(spark, corpus_spark_df(spark, 400, seed=11), d, cfg))


def _full_decode(row):
    """Every block of a term record, decoded with the codec directly:
    [ids, tfs, doclens, positions, starts, ends]."""
    parts = []
    for blob, pblob, oblob in zip(row["block_data"], row["block_pos"], row["block_off"]):
        ids, tfs, dls = decode_block(bytes(blob))
        parts.append((ids, tfs, dls, decode_block_positions(bytes(pblob), tfs),
                      *decode_block_offsets(bytes(oblob), tfs)))
    return [np.concatenate(x) for x in zip(*parts)]


def test_reader_rows_and_decoder_contract(spark, offs_seg):
    """The reader maps each term to its one record; for a candidate set
    ``sel`` (None, empty, or a random subset of the segment's docid range)
    every block decoder returns exactly the full decode restricted to
    ``sel``, with positions and offsets aligned to the returned docs, and
    counts [blocks of the term, blocks whose docid range holds a
    candidate]."""
    from pyspark.sql import functions as F

    ts = offs_seg.term_stats
    terms = sorted({r["term"] for q in (ts.orderBy(F.desc("df"), "term").limit(4),
                                        ts.orderBy("df", "term").limit(2))
                    for r in q.collect()})
    rng = np.random.default_rng(5)
    read = _segment_reader(offs_seg, terms, ("block_data", "block_pos", "block_off"))
    n_rows = 0
    for _sid, rows, _deleted in read(offs_seg.segment_files()):
        assert set(rows) <= set(terms)
        for t, row in rows.items():
            assert row["term"] == t
            n_rows += 1
            ids, tfs, dls, pos, st, en = _full_decode(row)
            universe = np.arange(int(row["first_docid"]) - 3, int(row["last_docid"]) + 4)
            bf = np.asarray(row["block_first"], np.int64)
            bl = np.asarray(row["block_last"], np.int64)
            sels = [None, np.empty(0, np.int64)] + [
                np.sort(rng.choice(universe, size=min(n, len(universe)), replace=False))
                for n in (3, len(universe) // 5)
            ]
            for sel in sels:
                if sel is None:
                    m, kept = np.ones(len(ids), bool), len(bf)
                else:
                    m = np.isin(ids, sel)
                    kept = sum(bool(((sel >= a) & (sel <= b)).any()) for a, b in zip(bf, bl))
                occ = np.repeat(m, tfs)
                want = {
                    _decode_rows: (ids[m], tfs[m], dls[m]),
                    _decode_rows_pos: (ids[m], tfs[m], dls[m], pos[occ]),
                    _decode_rows_off: (ids[m], tfs[m], st[occ], en[occ]),
                }
                for dec, exp in want.items():
                    counters = [0, 0]
                    got = dec(row, sel, counters)
                    assert len(got) == len(exp)
                    for g, e in zip(got, exp):
                        np.testing.assert_array_equal(g, e)
                    assert counters == [len(bf), kept], (dec.__name__, t)
    assert n_rows >= len(terms)
