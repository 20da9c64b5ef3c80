import shutil
import tempfile

import pytest


@pytest.fixture(scope="session")
def spark():
    from lucene_spark.session import get_spark

    s = get_spark("lucene_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_index():
    d = tempfile.mkdtemp(prefix="lucene_spark_idx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def built_index(spark, tmp_path_factory):
    """A 600-doc deterministic corpus indexed once per test session in 4
    segments, so hot terms span every segment."""
    from lucene_spark.corpus import corpus_spark_df
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.executor import Index

    d = str(tmp_path_factory.mktemp("idx") / "index")
    docs = corpus_spark_df(spark, 600, seed=42)
    cfg = IndexConfig(
        num_segments=4, hot_df_threshold=100, merge_bucket_segments=2,
        index_positions=True,
    )
    paths = build_index(spark, docs, d, cfg)
    return Index(spark, paths)


@pytest.fixture(scope="session")
def ref_index():
    """Pure-Python reference index over the SAME corpus with the SAME
    docid assignment (global sort by (repo, path, commit))."""
    from lucene_spark.corpus import make_corpus
    from lucene_spark.pyref import build_ref_index

    rows = make_corpus(600, seed=42)
    rows_sorted = sorted(rows, key=lambda r: (r[0], r[1], r[2]))
    return build_ref_index([(i, r[4]) for i, r in enumerate(rows_sorted)])
