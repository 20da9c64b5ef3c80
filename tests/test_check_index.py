"""CheckIndex analog: a clean index reports clean; corruption is caught."""

import glob
import os
import shutil

import numpy as np
import pytest


def test_clean_index_reports_clean(spark, built_index):
    from lucene_spark.index.check import check_index

    rep = check_index(built_index)
    assert rep["clean"], rep
    assert rep["postings"]["rows_with_violations"] == 0
    assert rep["postings"]["positions_checked"]
    assert rep["field_stats"]["doc_count_match"]


def test_corrupted_block_metadata_detected(spark, tmp_path):
    """Flip one block's max_tf impact: the checker must flag the row (an
    understated impact would make block-max pruning silently drop hits)."""
    import pyarrow.parquet as pq
    import pyarrow as pa
    from lucene_spark.corpus import corpus_spark_df
    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.index.check import check_index
    from lucene_spark.search.executor import Index

    d = str(tmp_path / "idx")
    docs = corpus_spark_df(spark, 120, seed=7)
    cfg = IndexConfig(num_segments=2, hot_df_threshold=1000,
                      merge_bucket_segments=1, index_positions=True)
    idx = Index(spark, build_index(spark, docs, d, cfg))
    assert check_index(idx)["clean"]

    f = sorted(glob.glob(os.path.join(d, "postings", "segment-*.parquet")))[0]
    tbl = pq.read_table(f)
    pdf = tbl.to_pandas()
    # overstate one row's max_tf (and break its df) in place
    row = pdf.index[len(pdf) // 2]
    pdf.at[row, "block_maxtf"] = [v + 7 for v in pdf.at[row, "block_maxtf"]]
    pdf.at[row, "df"] = int(pdf.at[row, "df"]) + 1
    pq.write_table(pa.Table.from_pandas(pdf, schema=tbl.schema), f)
    crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
    if os.path.exists(crc):  # hadoop sidecar checksum of the original bytes
        os.remove(crc)

    # independently corrupt the GLOBAL term stats (df off by one for one term)
    tf_file = sorted(glob.glob(os.path.join(d, "term_stats", "*.parquet")))[0]
    tt = pq.read_table(tf_file).to_pandas()
    tt.at[tt.index[0], "df"] = int(tt.at[tt.index[0], "df"]) + 1
    pq.write_table(pa.Table.from_pandas(tt), tf_file)
    tcrc = os.path.join(os.path.dirname(tf_file), "." + os.path.basename(tf_file) + ".crc")
    if os.path.exists(tcrc):
        os.remove(tcrc)

    idx2 = Index(spark, idx.paths)
    rep = check_index(idx2)
    assert not rep["clean"]
    assert rep["postings"]["rows_with_violations"] >= 1
    joined = ";".join(v for _, v in rep["postings"]["sample_violations"])
    assert "maxtf-mismatch" in joined and "row-df-mismatch" in joined
    assert rep["term_stats"]["terms_mismatched"] >= 1


def test_duplicate_term_row_detected(spark, built_index, tmp_path):
    """A segment file that repeats a (term, segment_id) row breaks the one
    row per term the per-segment reader maps: check_index counts it, and a
    query over that term refuses rather than reading one of the rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from lucene_spark.index.check import check_index
    from lucene_spark.search.executor import Index, search_topk
    from lucene_spark.search.plan import normalize

    d = str(tmp_path / "idx")
    shutil.copytree(built_index.paths.root, d)
    f = sorted(glob.glob(os.path.join(d, "postings", "segment-*.parquet")))[0]
    tbl = pq.read_table(f)
    term = tbl.column("term")[0].as_py()
    pq.write_table(pa.concat_tables([tbl, tbl.slice(0, 1)]), f)
    crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)

    idx = Index.open(spark, d)
    rep = check_index(idx)
    assert rep["postings"]["duplicate_term_rows"] == 1
    assert not rep["clean"]
    assert check_index(built_index)["postings"]["duplicate_term_rows"] == 0
    with pytest.raises(Exception, match="more than one postings row"):
        search_topk(idx, normalize(should=[term], pre_analyzed=True), k=3)
