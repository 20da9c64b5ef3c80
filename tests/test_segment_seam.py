"""Slice-local per-segment seam (executor._gather_topk for top-k,
executor.apply_per_segment for data-sized outputs) and the worker daemon
(lucene_spark.daemon): job shape, the per-slice cut on ties, results on
every index kind the seam lists files for, the tombstoned-segment
regression, and daemon start-up."""

import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest

from lucene_spark.index.builder import IndexConfig, append_to_index, build_index
from lucene_spark.search.executor import (
    Index,
    block_skip_metrics,
    search_after,
    search_exhaustive,
    search_multi_phrase,
    search_phrase,
    search_topk,
    search_tree_after,
    search_tree_topk,
    tree_skip_metrics,
)
from lucene_spark.search.multireader import multi_search_phrase, multi_search_topk
from lucene_spark.search.plan import SHOULD, QBool, QTerm, normalize, parse_tree

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df):
    return [(int(r["docid"]), float(r["score"])) for r in df.collect()]


def _agrees(idx, q, got, k):
    """``got`` (a pruned top-k) against the exhaustive ranking: same scores
    up to float32-vs-float64 summation, every doc above the k-th present."""
    full = dict(_rows(search_exhaustive(idx, q, k=None, quantize=True, dtype=np.float32)))
    assert len(got) == min(k, len(full))
    for d, s in got:
        assert full[d] == pytest.approx(s, rel=1e-5)
    kth = got[-1][1] if got else 0.0
    assert {d for d, s in full.items() if s > kth * (1 + 1e-5)} <= {d for d, _ in got}


@pytest.fixture(scope="module")
def three_seg(spark, tmp_path_factory):
    """A 3-segment positions index and a tombstoned copy of it."""
    from lucene_spark.corpus import corpus_spark_df

    base = tmp_path_factory.mktemp("seam")
    cfg = IndexConfig(num_segments=3, index_positions=True)
    paths = build_index(spark, corpus_spark_df(spark, 300, seed=7), str(base / "live"), cfg)
    shutil.copytree(paths.root, str(base / "tomb"))
    tomb = Index.open(spark, str(base / "tomb"))
    assert tomb.delete_by_term("public") > 0
    return Index(spark, paths), tomb


def _jobs(spark, name, call):
    """Run ``call`` under job group ``name``; returns (result, numTasks of
    every stage its jobs ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    stages = [s for j in st.getJobIdsForGroup(name) for s in st.getJobInfo(j).stageIds]
    return out, [st.getStageInfo(s).numTasks for s in stages]


@pytest.mark.parametrize("deleted", [False, True], ids=["live", "tombstoned"])
def test_one_stage_no_exchange(spark, three_seg, deleted):
    """Every pruned top-k runs one job of one stage, one task per slice,
    inside the search call; the frame it returns is local, so collecting
    it runs no job."""
    idx = three_seg[deleted]
    assert idx.has_deletes == deleted
    want_tasks = [min(3, spark.sparkContext.defaultParallelism)]
    q = normalize(should=["import", "def"])
    tree = parse_tree("(import AND def) OR return")
    frames = {
        "topk": lambda: search_topk(idx, q, k=5),
        "after": lambda: search_after(idx, q, 5, 1e9, -1),
        "tree": lambda: search_tree_topk(idx, tree, k=5),
        "tree_after": lambda: search_tree_after(idx, tree, 5, 1e9, -1),
        "phrase": lambda: search_phrase(idx, ["import", "def"], k=5),
        "multi_phrase": lambda: search_multi_phrase(idx, [(0, ["import"]), (1, ["def", "os"])], k=5),
    }
    for name, make in frames.items():
        df, tasks = _jobs(spark, f"seam-{name}-{deleted}", make)
        assert tasks == want_tasks, (name, tasks)
        rows, tasks = _jobs(spark, f"seam-{name}-collect-{deleted}", df.collect)
        assert rows and tasks == [], (name, tasks)
    for name, metrics in {"flat": lambda: block_skip_metrics(idx, q, k=5),
                          "tree": lambda: tree_skip_metrics(idx, tree, k=5)}.items():
        m, tasks = _jobs(spark, f"seam-metrics-{name}-{deleted}", metrics)
        assert m["blocks_total"] > 0 and tasks == want_tasks, (name, tasks)
    # a multireader deals every shard's segments into the same slices
    shards = [three_seg[False], idx]
    multi = {"mr_topk": lambda: multi_search_topk(shards, q, k=5),
             "mr_phrase": lambda: multi_search_phrase(shards, ["import", "def"], k=5)}
    for name, make in multi.items():
        df, tasks = _jobs(spark, f"seam-{name}-{deleted}", make)
        assert tasks == [min(6, spark.sparkContext.defaultParallelism)], (name, tasks)
        rows, tasks = _jobs(spark, f"seam-{name}-collect-{deleted}", df.collect)
        assert rows and tasks == [], (name, tasks)


@pytest.fixture(scope="module")
def all_ties(spark, tmp_path_factory):
    """80 identical docs in 10 segments (>= 2 segments per slice at the
    suite's parallelism), so every hit of every query ties; and a copy
    with small docids tombstoned."""
    base = tmp_path_factory.mktemp("ties")
    rows = [(i, "alpha beta gamma delta") for i in range(80)]
    cfg = IndexConfig(docid_col="doc_id", content_col="content", num_segments=10,
                      order_cols=("doc_id",), index_positions=True)
    paths = build_index(spark, spark.createDataFrame(rows, "doc_id long, content string"),
                        str(base / "live"), cfg)
    shutil.copytree(paths.root, str(base / "tomb"))
    tomb = Index.open(spark, str(base / "tomb"))
    tomb.delete_docs([0, 3, 4, 17, 41])
    return Index(spark, paths), tomb


@pytest.mark.parametrize("deleted", [False, True], ids=["live", "tombstoned"])
def test_slice_cut_keeps_smallest_docids_on_ties(spark, all_ties, deleted):
    """The per-slice cut and the driver merge keep the docid-asc tie order:
    on an all-ties index every pruned top-k is the smallest live docids."""
    idx = all_ties[deleted]
    assert len(idx.segment_files()) >= 2 * spark.sparkContext.defaultParallelism
    q = normalize(should=["alpha", "beta"], pre_analyzed=True)
    full = _rows(search_exhaustive(idx, q, k=None, quantize=True, dtype=np.float32))
    live = [d for d, _ in full]
    assert live == sorted(live) and len(set(s for _, s in full)) == 1
    assert len(live) == (75 if deleted else 80)
    tree = parse_tree("(alpha AND beta) OR gamma")
    searches = {
        "topk": lambda k: search_topk(idx, q, k=k),
        "tree": lambda k: search_tree_topk(idx, tree, k=k),
        "phrase": lambda k: search_phrase(idx, ["alpha", "beta"], k=k),
        "multi_phrase": lambda k: search_multi_phrase(
            idx, [(0, ["alpha"]), (1, ["beta", "zeta"])], k=k),
    }
    for name, search in searches.items():
        for k in (1, 13, 200):
            got = _rows(search(k))
            assert [d for d, _ in got] == live[:k], (name, k)
            assert len({s for _, s in got}) == 1, (name, k)
    # the same index twice as two shards: colliding docids tie on (score,
    # docid) and the shard ordinal orders them
    for k in (1, 13, 200):
        got = multi_search_topk([idx, idx], q, k=k, with_shard=True).collect()
        assert [(r["docid"], r["shard"]) for r in got] == [
            (d, o) for d in live for o in (0, 1)][:k], k
        assert len({r["score"] for r in got}) == 1, k
    first = _rows(search_topk(idx, q, k=13))
    assert first[0][1] == pytest.approx(full[0][1], rel=1e-5)
    d, s = first[-1]
    page = _rows(search_after(idx, q, 13, s, d))
    assert [d for d, _ in page] == live[13:26] and {s for _, s in page} == {s}


def test_tombstoned_segment_without_query_term(spark, tmp_path):
    """A segment with tombstones but no postings for the query term: the
    old cogroup seam handed the worker an empty postings group (a worker
    SIGSEGV in pyarrow); the slice tasks skip segments holding no rows."""
    rows = [(i, ("rare common" if i in (1, 2) else "common filler")) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, content string")
    cfg = IndexConfig(docid_col="doc_id", content_col="content", num_segments=3,
                      order_cols=("doc_id",))
    idx = Index(spark, build_index(spark, df, str(tmp_path / "idx"), cfg))
    idx.delete_docs([25, 28])
    tombstoned = {int(r["segment_id"]) for r in idx.tombstones.collect()}
    holding = {sid for sid, _ in idx.segment_files()
               if "rare" in set(idx.seg_postings.filter(f"segment_id = {sid}")
                                .select("term").toPandas()["term"])}
    assert tombstoned and not tombstoned & holding
    q = normalize(should=["rare"], pre_analyzed=True)
    got = _rows(search_topk(idx, q, k=10))
    assert [d for d, _ in got] == [1, 2]
    _agrees(idx, q, got, 10)
    tree = QBool(((SHOULD, QTerm("rare")),))
    assert _rows(search_tree_topk(idx, tree, k=10, quantize=True, dtype=np.float32)) == got


def test_generation_snapshot_after_append(spark, tmp_path):
    d = str(tmp_path / "idx")
    cfg = IndexConfig(docid_col="doc_id", content_col="content", num_segments=2,
                      order_cols=("doc_id",))
    rows = [(i, f"alpha beta doc{i % 3}") for i in range(20)]
    build_index(spark, spark.createDataFrame(rows, "doc_id long, content string"), d, cfg)
    more = spark.createDataFrame([(i, "alpha alpha gamma") for i in range(100, 110)],
                                 "doc_id long, content string")
    paths = append_to_index(spark, more, d, cfg, keep_commits=True)
    old, live = Index(spark, paths, generation=0), Index(spark, paths)
    assert len(live.segment_files()) > len(old.segment_files())
    q = normalize(should=["alpha", "doc1"], pre_analyzed=True)
    for idx in (old, live):
        _agrees(idx, q, _rows(search_topk(idx, q, k=40)), 40)
    assert max(d for d, _ in _rows(search_topk(old, q, k=40))) < 20

    # the driver-side seed reads only the snapshot's segments: short
    # "alpha alpha alpha" docs appended after the commit would otherwise
    # seed theta above the snapshot's true k-th score and empty the result
    d2 = str(tmp_path / "idx2")
    rows = [(i, " ".join((["alpha"] if i < 30 else []) + ["beta"]
                         + [f"filler{(i * 7 + j) % 50}" for j in range(20)]))
            for i in range(40)]
    build_index(spark, spark.createDataFrame(rows, "doc_id long, content string"), d2, cfg)
    more = spark.createDataFrame([(i, "alpha alpha alpha") for i in range(100, 120)],
                                 "doc_id long, content string")
    old = Index(spark, append_to_index(spark, more, d2, cfg, keep_commits=True),
                generation=0)
    q = normalize(should=["alpha", "beta"], pre_analyzed=True)
    got = _rows(search_topk(old, q, k=5))
    assert len(got) == 5 and max(d for d, _ in got) < 40
    _agrees(old, q, got, 5)


def test_multireader_and_object_store_root(spark, tmp_path):
    from lucene_spark.corpus import make_corpus
    from lucene_spark.search.multireader import multi_search_topk, open_shards

    rows = [(i, r[4]) for i, r in enumerate(make_corpus(200, seed=5))]
    cfg = IndexConfig(docid_col="doc_id", content_col="content", num_segments=2,
                      order_cols=("doc_id",))

    def build(root, part):
        df = spark.createDataFrame(part, "doc_id long, content string")
        return Index(spark, build_index(spark, df, root, cfg))

    full = build(str(tmp_path / "full"), rows)
    s3 = build("s3mock://" + str(tmp_path / "s3"), rows)
    build(str(tmp_path / "s1"), rows[:100])
    build(str(tmp_path / "s2"), rows[100:])
    shards = open_shards(spark, [str(tmp_path / "s1"), str(tmp_path / "s2")])
    q = normalize(should=["import", "return", "def"])
    want = _rows(search_topk(full, q, k=10))
    assert len(want) == 10
    assert _rows(multi_search_topk(shards, q, k=10)) == want
    assert _rows(search_topk(s3, q, k=10)) == want
    # tombstones are read per segment through the object-store handler too
    for idx in (full, s3):
        idx.delete_docs([d for d, _ in want[:3]])
    got = _rows(search_topk(s3, q, k=10))
    assert got == _rows(search_topk(full, q, k=10))
    assert not {d for d, _ in want[:3]} & {d for d, _ in got}
    _agrees(s3, q, got, 10)


def test_worker_runs_gated_invalidate_caches(spark):
    def probe(batches):
        from lucene_spark import daemon

        for _ in batches:
            yield pd.DataFrame({"gated": [daemon.gated()]})

    rows = spark.range(1, numPartitions=1).mapInPandas(probe, "gated boolean").collect()
    assert rows[0]["gated"] == (sys.version_info < (3, 13))


def test_workers_use_unix_domain_sockets(spark):
    """Python tasks reach the JVM over Unix domain sockets in the session's
    socket directory, on the gather path (a Python RDD job) and in
    mapInPandas; the directory leaves room for Spark's socket names."""
    def transport():
        return (os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED"),
                os.environ.get("PYTHON_WORKER_FACTORY_SOCK_DIR"))

    def probe(batches):
        for _ in batches:
            yield pd.DataFrame([transport()], columns=["enabled", "sock_dir"])

    sock_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    rdd = spark.sparkContext.parallelize(range(2), 2).mapPartitions(lambda _: [transport()])
    sql = spark.range(1, numPartitions=1).mapInPandas(probe, "enabled string, sock_dir string")
    for enabled, got_dir in rdd.collect() + [tuple(r) for r in sql.collect()]:
        assert enabled == "True"
        assert got_dir == sock_dir
    assert len(sock_dir) + 43 <= 107  # "/.<uuid>.sock" within sun_path
    assert len(sock_dir) <= 61  # Spark's check on the socket-dir setting


@pytest.mark.parametrize("base_len, under_tmpdir", [(46, True), (47, False)])
def test_socket_dir_fits_spark_limit(monkeypatch, base_len, under_tmpdir):
    """The socket directory goes under the temp directory exactly when the
    path fits Spark's 61-character limit, and under /tmp otherwise."""
    from lucene_spark import session

    root = tempfile.mkdtemp(prefix="sockdir-", dir="/tmp")
    base = os.path.join(root, "d" * (base_len - len(root) - 1))
    os.mkdir(base)
    monkeypatch.setattr(tempfile, "tempdir", base)
    monkeypatch.setattr(session, "_sock_dir", None)
    try:
        made = session._socket_dir()
        assert os.path.dirname(made) == (base if under_tmpdir else "/tmp")
        assert len(made) <= 61 and session._socket_dir() == made
        if not under_tmpdir:
            os.rmdir(made)
    finally:
        shutil.rmtree(root)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13 invalidates zip caches lazily; no gate")
def test_gate_rereads_only_rewritten_archives(tmp_path, monkeypatch):
    from lucene_spark import daemon

    z = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("mod_a.py", "X = 1\n")
    first = zipimport.zipimporter(z)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))

    daemon._gated_invalidate_caches(first)
    daemon._gated_invalidate_caches(first)
    daemon._gated_invalidate_caches(zipimport.zipimporter(z))
    assert len(reads) == 1  # unchanged archive: read once for all importers

    with zipfile.ZipFile(z, "w") as f:
        f.writestr("mod_b.py", "Y = 22\n")
        f.writestr("mod_c.py", "Z = 3\n")
    daemon._gated_invalidate_caches(first)
    assert len(reads) == 2
    assert first.find_spec("mod_b") is not None and first.find_spec("mod_a") is None


def test_startup_outside_repo(tmp_path):
    """Spark starts, and a query runs, from a cwd outside the repository
    with the package on PYTHONPATH (the daemon imports it at start-up)."""
    script = (
        "from lucene_spark.session import get_spark\n"
        "from lucene_spark.index.builder import IndexConfig, build_index\n"
        "from lucene_spark.search.executor import Index, search_topk\n"
        "from lucene_spark.search.plan import normalize\n"
        "spark = get_spark('outside', master='local[1]')\n"
        "df = spark.createDataFrame([(0, 'alpha beta'), (1, 'alpha')], 'doc_id long, content string')\n"
        "cfg = IndexConfig(docid_col='doc_id', content_col='content', num_segments=1, order_cols=('doc_id',))\n"
        "idx = Index(spark, build_index(spark, df, 'idx', cfg))\n"
        "print('HITS', [r['docid'] for r in search_topk(idx, normalize(should=['beta'], pre_analyzed=True), k=5).collect()])\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path), env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "HITS [0]" in out.stdout, out.stdout


def test_startup_under_long_tmpdir(tmp_path):
    """A TMPDIR and java.io.tmpdir too long for a Unix socket path: the
    session still starts, indexes, searches and percolates, and its socket
    directory is gone once the process exits."""
    long_tmp = tmp_path / ("t" * 50) / ("u" * 50)
    long_tmp.mkdir(parents=True)
    assert len(str(long_tmp)) >= 100
    script = (
        "from lucene_spark.session import _socket_dir, get_spark\n"
        "from lucene_spark.index.builder import IndexConfig, build_index\n"
        "from lucene_spark.search.executor import Index, search_topk\n"
        "from lucene_spark.search.plan import normalize\n"
        "from lucene_spark.streaming import percolate_batch\n"
        "spark = get_spark('long-tmp', master='local[1]')\n"
        "print('SOCKDIR', _socket_dir())\n"
        "df = spark.createDataFrame([(0, 'alpha beta'), (1, 'alpha')], 'doc_id long, content string')\n"
        "cfg = IndexConfig(docid_col='doc_id', content_col='content', num_segments=1, order_cols=('doc_id',))\n"
        "idx = Index(spark, build_index(spark, df, 'idx', cfg))\n"
        "print('HITS', [r['docid'] for r in search_topk(idx, normalize(should=['beta'], pre_analyzed=True), k=5).collect()])\n"
        "qs = spark.createDataFrame([(7, ['beta'], 1)], 'qid int, terms array<string>, min_match int')\n"
        "docs = df.withColumnRenamed('content', 'text')\n"
        "print('MATCH', [(r['qid'], r['doc_id']) for r in percolate_batch(docs, qs).collect()])\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", TMPDIR=str(long_tmp),
               PYSPARK_SUBMIT_ARGS=f'--driver-java-options "-Djava.io.tmpdir={long_tmp}" pyspark-shell',
               PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path), env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "HITS [0]" in out.stdout and "MATCH [(7, 0)]" in out.stdout, out.stdout
    sock_dir = out.stdout.split("SOCKDIR ", 1)[1].split()[0]
    assert os.path.basename(sock_dir).startswith("lsuds-")
    assert not os.path.exists(sock_dir)
    assert not list(tmp_path.rglob("*.sock")) and not list(tmp_path.rglob("lsuds-*"))
