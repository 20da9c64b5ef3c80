"""Resident segment readers (executor._Resident: each reused Python
worker keeps the segment data it has decoded) and the driver-local answer
(executor.LocalHits: a merged top-k whose collect / toPandas / count make
no JVM call)."""

import glob
import os
import re
import shutil
from functools import cached_property

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from lucene_spark.index.builder import IndexConfig, append_to_index, build_index, purge_deletes
from lucene_spark.search import executor
from lucene_spark.search.executor import (
    Index,
    LocalHits,
    hydrate,
    search_exhaustive,
    search_phrase,
    search_query,
    search_topk,
)
from lucene_spark.search.multireader import multi_search_topk
from lucene_spark.search.plan import normalize, parse_tree

CFG = IndexConfig(docid_col="doc_id", content_col="content", num_segments=3,
                  order_cols=("doc_id",), index_positions=True)


def _rows(df):
    return [(int(r["docid"]), float(r["score"])) for r in df.collect()]


def _build(spark, root, rows):
    df = spark.createDataFrame(rows, "doc_id long, content string")
    return Index(spark, build_index(spark, df, root, CFG))


def _docs(n, seed, base=0):
    from lucene_spark.corpus import make_corpus

    return [(base + i, r[4]) for i, r in enumerate(make_corpus(n, seed=seed))]


def _assert_exhaustive(idx, q, k=10):
    """The pruned top-k agrees with the exhaustive ranking: same scores up
    to float32-vs-float64 summation, every doc above the k-th present."""
    got = _rows(search_topk(idx, q, k=k))
    full = dict(_rows(search_exhaustive(idx, q, k=None, quantize=True, dtype=np.float32)))
    assert got and len(got) == min(k, len(full))
    for d, s in got:
        assert full[d] == pytest.approx(s, rel=1e-5)
    kth = got[-1][1]
    assert {d for d, s in full.items() if s > kth * (1 + 1e-5)} <= {d for d, _ in got}
    return got


def test_resident_reader_follows_rewritten_files(spark, tmp_path):
    """One session: query, then rewrite the index's segment files in place
    three ways (purge_deletes, an append, a rebuild with other docs into
    the same root). The workers keep the first files' data; every query
    after each step still equals the exhaustive path."""
    root = str(tmp_path / "idx")
    idx = _build(spark, root, _docs(90, seed=1))
    q = normalize(should=["import", "return", "def"])
    before = dict(idx.segment_files())
    _assert_exhaustive(idx, q)

    idx.delete_docs([r[0] for r in _rows(search_topk(idx, q, k=4))])
    _assert_exhaustive(idx, q)
    assert purge_deletes(spark, root, CFG) == 4
    idx = Index.open(spark, root)
    assert dict(idx.segment_files()) == before  # same paths, new content
    _assert_exhaustive(idx, q)

    more = spark.createDataFrame(_docs(20, seed=2, base=1000), "doc_id long, content string")
    idx = Index(spark, append_to_index(spark, more, root, CFG))
    assert len(idx.segment_files()) > len(before)
    _assert_exhaustive(idx, q)

    shutil.rmtree(root)
    idx = _build(spark, root, _docs(60, seed=3, base=5000))
    assert dict(idx.segment_files()) == before
    got = _assert_exhaustive(idx, q)
    assert got and min(d for d, _ in got) >= 5000


def test_resident_reader_sees_duplicate_term_written_later(spark, tmp_path):
    """A segment that repeats a term after the workers hold it still
    refuses a query of that term (test_duplicate_term_row_detected)."""
    root = str(tmp_path / "idx")
    idx = _build(spark, root, _docs(60, seed=4))
    q = normalize(should=["import"])
    _assert_exhaustive(idx, q)
    _assert_exhaustive(idx, q)  # every worker that took a slice holds it
    f = sorted(glob.glob(os.path.join(root, "postings", "segment-*.parquet")))[0]
    tbl = pq.read_table(f)
    row = tbl.filter(pc.equal(tbl["term"], "import"))
    assert row.num_rows == 1
    pq.write_table(pa.concat_tables([tbl, row]).sort_by("term"), f)
    crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    with pytest.raises(Exception, match="more than one postings row"):
        search_topk(Index.open(spark, root), q, k=3)


def _read(idx, sid, terms):
    path = dict(idx.segment_files())[sid]
    return [(s, rows) for s, rows, _ in executor._segment_reader(idx, terms)([(sid, path)])]


def _same(a, b):
    """Two reads' term -> record maps, equal key for key and value for
    value (numpy streams by dtype and bytes, through pickle)."""
    import pickle

    if isinstance(a, list):
        return len(a) == len(b) and all(x[0] == y[0] and _same(x[1], y[1]) for x, y in zip(a, b))
    return list(a) == list(b) and all(
        list(a[t]) == list(b[t]) and all(pickle.dumps(a[t][c]) == pickle.dumps(b[t][c]) for c in a[t])
        for t in a)


def test_resident_rows_equal_filtered_read(spark, tmp_path, monkeypatch):
    """Cold and warm, the reader hands kernels the records the parquet
    ``term in`` filtered read gives, value for value, on a segment of two
    row groups with positions and offsets; a cold read of a term only the
    second row group can hold decodes nothing of the first."""
    rows = [(i, f"t{i} t{i + 1} common") for i in range(5000)]
    cfg = IndexConfig(docid_col="doc_id", content_col="content", num_segments=1,
                      order_cols=("doc_id",), index_positions=True, index_offsets=True)
    idx = Index(spark, build_index(spark, spark.createDataFrame(rows, "doc_id long, content string"),
                                   str(tmp_path / "idx"), cfg))
    ((sid, path),) = idx.segment_files()
    assert pq.ParquetFile(path).metadata.num_row_groups == 2
    last = max(f"t{i}" for i in range(5001))
    streams = ("block_data", "block_pos", "block_off")
    monkeypatch.setattr(executor, "_RESIDENT", executor._Resident())
    for terms in ([last], ["t10", "t4999", "common", "t4500", "absent", last]):
        tbl = ds.dataset(path, format="parquet").to_table(
            columns=list(executor._SCORE_COLS + streams), filter=ds.field("term").isin(terms))
        want = {r["term"]: r for r in tbl.to_pandas().to_dict("records")}
        read = executor._segment_reader(idx, terms, streams)
        for _ in range(2):
            ((got_sid, got, _),) = list(read([(sid, path)]))
            assert got_sid == sid and _same(got, want)
        if terms == [last]:
            assert {k[3] for k in executor._RESIDENT.parts if len(k) == 5} == {1}


def test_resident_budget_evicts_least_recent(spark, tmp_path, monkeypatch):
    """The reader run on the driver: resident bytes stay within the
    budget, the least recently used parts go first, and a part larger
    than the whole budget is used by its read and not kept."""
    idx = _build(spark, str(tmp_path / "idx"), _docs(90, seed=5))
    sids = [sid for sid, _ in idx.segment_files()]
    terms = ["import", "return", "def"]
    monkeypatch.setattr(executor, "_RESIDENT", executor._Resident())
    want, size = {}, {}
    for sid in sids:
        before = executor._RESIDENT.nbytes
        want[sid] = _read(idx, sid, terms)
        size[sid] = executor._RESIDENT.nbytes - before
        assert want[sid] and size[sid] > 0
        assert _same(_read(idx, sid, terms), want[sid])  # served resident
    paths = dict(idx.segment_files())

    def held(sid):
        return {k[3:] for k in executor._RESIDENT.parts if k[0] == paths[sid]}

    a, b, c = sids[:3]
    budget = size[a] + max(size[b], size[c])
    monkeypatch.setattr(executor, "RESIDENT_BYTES", budget)
    monkeypatch.setattr(executor, "_RESIDENT", executor._Resident())
    res = executor._RESIDENT
    for sid in (a, b, a, c):  # touching a leaves b least recently used
        assert _same(_read(idx, sid, terms), want[sid])
        assert res.nbytes == sum(n for _, n in res.parts.values()) <= budget
    full = {sid: held(sid) for sid in (a, c)}
    assert full[a] and full[c] and len(held(b)) < len(full[a])
    assert _same(_read(idx, a, terms), want[a]) and held(a) == full[a]

    monkeypatch.setattr(executor, "RESIDENT_BYTES", 1)
    monkeypatch.setattr(executor, "_RESIDENT", executor._Resident())
    res = executor._RESIDENT
    for sid in sids:
        assert _same(_read(idx, sid, terms), want[sid])
    assert res.nbytes == 0 and not res.parts


def test_workers_hold_one_copy_of_each_segment(spark, tmp_path):
    """After two identical queries a probe task in each worker finds its
    resident parts keyed by the index's segment files, one stamp per
    file and no part twice."""
    root = str(tmp_path / "idx")
    idx = _build(spark, root, _docs(90, seed=6))
    q = normalize(should=["import", "return"])
    assert _rows(search_topk(idx, q, k=5)) == _rows(search_topk(idx, q, k=5))

    def probe(_):
        from lucene_spark.search import executor as ex

        yield [k for k in ex._RESIDENT.parts if k[0].startswith(root)]

    n = spark.sparkContext.defaultParallelism
    held = spark.sparkContext.parallelize(range(n), n).mapPartitions(probe).collect()
    files = {p for _, p in idx.segment_files()}
    assert any(held)
    for keys in held:
        assert len(keys) == len(set(keys))
        stamps = {k[:3] for k in keys}
        assert {p for p, _, _ in stamps} <= files
        assert len(stamps) == len({p for p, _, _ in stamps})


# ---------------------------------------------------------------------------
# the driver-local answer
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def answer_index(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("answer") / "idx"), _docs(120, seed=8))


def _answers(idx):
    q = normalize(should=["import", "return", "def"])
    return {
        "flat": search_topk(idx, q, k=7),
        "tree": search_query(idx, parse_tree("(import AND def) OR return"), k=7),
        "phrase": search_phrase(idx, ["import", "def"], k=7),
        "shards": multi_search_topk([idx, idx], q, k=7, with_shard=True),
        "empty": search_topk(idx, normalize(should=["zzzabsent"], pre_analyzed=True), k=7),
    }


def _jvm_frame(spark, local):
    return spark.createDataFrame(pa.table(local._hits), local.schema)


def _count_py4j(spark, call):
    client = spark.sparkContext._gateway._gateway_client
    orig, calls = client.send_command, []

    def send_command(*a, **kw):
        calls.append(a)
        return orig(*a, **kw)

    client.send_command = send_command
    try:
        out = call()
    finally:
        client.send_command = orig
    return out, len(calls)


def test_answer_collect_makes_no_py4j_call(spark, answer_index):
    for name, df in _answers(answer_index).items():
        assert isinstance(df, LocalHits), name
        for method in ("collect", "toPandas", "count"):
            _, calls = _count_py4j(spark, getattr(df, method))
            assert calls == 0, (name, method, calls)


def test_answer_equals_jvm_frame_of_same_arrays(spark, answer_index):
    """Same rows, field names, value types and order, same pandas frame,
    same count as spark.createDataFrame of the same arrays."""
    for name, df in _answers(answer_index).items():
        jvm = _jvm_frame(spark, df)
        got, want = df.collect(), jvm.collect()
        assert got == want and (len(got) > 0) == (name != "empty"), name
        assert [r.__fields__ for r in got] == [r.__fields__ for r in want], name
        assert [tuple(map(type, r)) for r in got] == [tuple(map(type, r)) for r in want], name
        pd.testing.assert_frame_equal(df.toPandas(), jvm.toPandas())
        assert df.count() == jvm.count() == len(got)


def _plan(df, capsys):
    df.explain()
    return re.sub(r"#\d+L?", "#", capsys.readouterr().out)


def test_answer_other_methods_run_on_one_jvm_frame(spark, answer_index, capsys):
    """hydrate, join, orderBy, union, filter, schema and explain on the
    local answer equal the same calls on the JVM frame; the local frame
    builds its JVM frame once."""
    from pyspark.sql import functions as F

    for name, df in _answers(answer_index).items():
        jvm = _jvm_frame(spark, df)
        assert df.schema == jvm.schema and df.columns == jvm.columns
        assert _plan(df, capsys) == _plan(jvm, capsys)
        jdf = df._jdf
        pairs = [
            (df.orderBy(F.col("docid").desc()), jvm.orderBy(F.col("docid").desc())),
            (df.filter(F.col("score") > 0.5), jvm.filter(F.col("score") > 0.5)),
            (df.union(jvm), jvm.union(jvm)),
            (jvm.union(df), jvm.union(jvm)),
            (df.join(jvm.select("docid"), "docid"), jvm.join(jvm.select("docid"), "docid")),
        ]
        if name != "shards":
            pairs.append((hydrate(answer_index, df), hydrate(answer_index, jvm)))
        for got, want in pairs:
            assert got.collect() == want.collect(), name
        assert df._jdf is jdf, name


def test_answer_relies_on_pinned_dataframe_internals(spark):
    """The PySpark internals LocalHits sets and overrides: an upgrade that
    changes them fails here."""
    from pyspark.sql.classic.dataframe import DataFrame as Classic

    jvm = spark.createDataFrame(pa.table({"docid": np.array([3], np.int64)}))
    fresh = Classic(jvm._jdf, spark)
    assert set(vars(fresh)) == {"_jdf", "_session", "_sc", "is_cached", "_support_repr_html"}
    assert isinstance(Classic.__dict__["schema"], cached_property)
    assert "_schema" in vars(jvm)
    local = executor._hits_frame(spark)
    local.schema, local._jdf
    assert set(vars(local)) == set(vars(fresh)) | {"_schema", "schema", "_hits"}
