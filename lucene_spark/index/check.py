"""CheckIndex analog: distributed index-integrity validation.

Lucene ships CheckIndex (lucene/core/src/java/org/apache/lucene/index/
CheckIndex.java:61) — a tool that re-reads every structure and
cross-validates: postings in docid order, term dict stats vs actual
postings, norms vs stored lengths, live docs in range. This is the same
idea over the parquet index layout, Spark-first: every structural check is
a distributed decode + aggregation (one mapInPandas over the postings,
plain joins for the cross-table invariants); the driver only sees
violation COUNTS, never data.

Checks:
  segments   manifest docid ranges disjoint/ordered; max_doc == sum(num_docs)
  postings   one row per (term, segment) in the segment files queries read
             (the per-segment reader maps each term to its one row; a
             repeat counts as duplicate_term_rows); per row:
             blocks decode; docids strictly ascending within the row;
             block_first/last/maxtf/mindl match the decoded
             content (the skip/impact metadata MUST be exact or block-max
             pruning would be unsound); row df/ttf match the decode
  term_stats global df/ttf per term == sum over the term's segment rows
  norms      decoded (docid, doclen) pairs agree with the norms table;
             norm_byte == SmallFloat intToByte4(doclen)
  stored     sha256(content) == content_sha256 for every stored row (the
             per-row content invariant), doc count == max_doc
  tombstones every tombstoned docid falls inside its segment's docid range
  field_stats doc_count/sum_total_term_freq consistent with the norms table

Returns a report dict; ``clean`` is True when no violations. Like the
reference tool, checking is read-only.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from ..functions.codec import (
    block_impact_pairs,
    decode_block,
    decode_block_offsets,
    decode_block_positions,
)
from ..functions.smallfloat import int_to_byte4

_POSTINGS_REPORT_SCHEMA = (
    "term string, segment_id int, n_postings long, sum_tf long, violations string"
)


def _check_postings_map(check_positions: bool):
    def run(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                viol = []
                ids_all, tf_total, n = [], 0, 0
                bf = list(r["block_first"])
                bl = list(r["block_last"])
                bmt = list(r["block_maxtf"])
                bmd = list(r["block_mindl"])
                bimp = r["block_imp"] if "block_imp" in r.index else None
                if isinstance(bimp, float):  # null row (pre-v6 segment)
                    bimp = None
                data = list(r["block_data"])
                pos_blocks = list(r["block_pos"]) if r["block_pos"] is not None else None
                off_blocks = (
                    list(r["block_off"])
                    if "block_off" in r.index and r["block_off"] is not None
                    and not isinstance(r["block_off"], float)
                    else None
                )
                if not (len(bf) == len(bl) == len(bmt) == len(bmd) == len(data)):
                    viol.append("block-metadata-arity")
                for i, blob in enumerate(data):
                    try:
                        ids, tfs, dls = decode_block(bytes(blob))
                    except Exception:
                        viol.append(f"block-{i}-undecodable")
                        continue
                    if len(ids) == 0:
                        viol.append(f"block-{i}-empty")
                        continue
                    if np.any(np.diff(ids) <= 0):
                        viol.append(f"block-{i}-docids-not-ascending")
                    if i < len(bf) and int(ids[0]) != int(bf[i]):
                        viol.append(f"block-{i}-first-mismatch")
                    if i < len(bl) and int(ids[-1]) != int(bl[i]):
                        viol.append(f"block-{i}-last-mismatch")
                    if i < len(bmt) and int(tfs.max()) != int(bmt[i]):
                        viol.append(f"block-{i}-maxtf-mismatch")
                    if i < len(bmd) and int(dls.min()) != int(bmd[i]):
                        viol.append(f"block-{i}-mindl-mismatch")
                    if bimp is not None and i < len(bimp):
                        # competitive impact pairs must EXACTLY match the
                        # recompute from decoded content — block-max bounds
                        # built from them would otherwise be unsound
                        want = block_impact_pairs(tfs, dls)
                        got = np.asarray(bimp[i], dtype=np.int32)
                        if len(got) != len(want) or np.any(got != want):
                            viol.append(f"block-{i}-impacts-mismatch")
                    if check_positions and pos_blocks is not None and i < len(pos_blocks):
                        try:
                            pos = decode_block_positions(bytes(pos_blocks[i]), tfs)
                            if len(pos) != int(tfs.sum()):
                                viol.append(f"block-{i}-positions-count")
                            bounds = np.concatenate(([0], np.cumsum(tfs)))
                            for j in range(len(tfs)):
                                pp = pos[bounds[j] : bounds[j + 1]]
                                # equal positions are LEGAL (stacked synonym tokens of the
                                # same term, e.g. a 1->n multiword emission colliding
                                # with a natural occurrence) — Lucene's CheckIndex only
                                # rejects pos < lastPos (CheckIndex.java checkPostings)
                                if len(pp) > 1 and np.any(np.diff(pp) < 0):
                                    viol.append(f"block-{i}-positions-not-ascending")
                                    break
                        except Exception:
                            viol.append(f"block-{i}-positions-undecodable")
                    if off_blocks is not None and i < len(off_blocks):
                        try:
                            ost, oen = decode_block_offsets(bytes(off_blocks[i]), tfs)
                            if len(ost) != int(tfs.sum()):
                                viol.append(f"block-{i}-offsets-count")
                            elif np.any(oen < ost):
                                viol.append(f"block-{i}-offsets-negative-span")
                            else:
                                bounds = np.concatenate(([0], np.cumsum(tfs)))
                                for j in range(len(tfs)):
                                    so = ost[bounds[j] : bounds[j + 1]]
                                    # starts must never regress within a
                                    # posting (CheckIndex offset checks)
                                    if len(so) > 1 and np.any(np.diff(so) < 0):
                                        viol.append(f"block-{i}-offsets-not-ascending")
                                        break
                        except Exception:
                            viol.append(f"block-{i}-offsets-undecodable")
                    ids_all.append(ids)
                    tf_total += int(tfs.sum())
                    n += len(ids)
                if ids_all:
                    flat = np.concatenate(ids_all)
                    if np.any(np.diff(flat) <= 0):
                        viol.append("cross-block-docids-not-ascending")
                if int(r["df"]) != n:
                    viol.append("row-df-mismatch")
                if int(r["ttf"]) != tf_total:
                    viol.append("row-ttf-mismatch")
                out.append((r["term"], int(r["segment_id"]), n, tf_total, ";".join(viol)))
            yield pd.DataFrame(
                out, columns=["term", "segment_id", "n_postings", "sum_tf", "violations"]
            )

    return run


def check_index(index, check_positions: bool = True) -> dict:
    """Validate every index structure; see module docstring. Read-only."""
    report: dict = {}

    # --- segments / manifest
    from .builder import read_manifests

    segs = sorted(
        (int(m["segment_id"]), int(m["first_docid"]), int(m["last_docid"]))
        for m in read_manifests(index.paths)
        if int(m.get("num_docs", 0)) > 0
    )
    overlap = sum(
        1 for a, b in zip(segs, segs[1:]) if b[1] <= a[2]
    )
    max_doc = int(index.field_stats.max_doc)
    report["segments"] = {
        "n_segments": len(segs),
        "overlapping_ranges": overlap,
    }

    # --- postings structural decode
    rows = index.seg_postings
    has_pos = check_positions and "block_pos" in rows.columns
    per_row = rows.mapInPandas(
        _check_postings_map(has_pos), _POSTINGS_REPORT_SCHEMA
    ).cache()
    bad_rows = per_row.filter(F.col("violations") != "")
    dups = (per_row.groupBy("term", "segment_id").count()
            .agg(F.sum(F.col("count") - 1)).collect()[0][0])
    report["postings"] = {
        "rows_checked": per_row.count(),
        "rows_with_violations": bad_rows.count(),
        "duplicate_term_rows": int(dups or 0),
        "sample_violations": [
            (r["term"], r["violations"]) for r in bad_rows.limit(5).collect()
        ],
        "positions_checked": bool(has_pos),
    }

    # --- term stats vs actual postings
    agg = per_row.groupBy("term").agg(
        F.sum("n_postings").alias("df2"), F.sum("sum_tf").alias("ttf2")
    )
    ts_bad = (
        index.term_stats.join(agg, "term", "full_outer")
        .filter(
            (F.col("df") != F.col("df2"))
            | (F.col("ttf") != F.col("ttf2"))
            | F.col("df").isNull()
            | F.col("df2").isNull()
        )
        .count()
    )
    report["term_stats"] = {"terms_mismatched": ts_bad}
    per_row.unpersist()

    # --- norms vs decoded doclens + SmallFloat byte
    from ..search.executor import decoded_postings

    @F.pandas_udf("int")
    def byte4(s: pd.Series) -> pd.Series:
        return pd.Series(int_to_byte4(s.to_numpy(dtype=np.int64)).astype(np.int32))

    norms = index.norms
    norm_byte_bad = norms.filter(
        F.col("norm_byte") != byte4(F.col("doclen"))
    ).count()
    dec = decoded_postings(index, None, apply_deletes=False)
    dl_bad = (
        dec.select("docid", "doclen").distinct()
        .join(norms.select("docid", F.col("doclen").alias("ndl")), "docid", "left")
        .filter(F.col("ndl").isNull() | (F.col("ndl") != F.col("doclen")))
        .count()
    )
    report["norms"] = {
        "norm_byte_mismatches": norm_byte_bad,
        "posting_doclen_mismatches": dl_bad,
    }

    # --- stored fields: per-row content sha256 invariant
    docs = index.docs
    stored = {"rows": docs.count(), "max_doc": max_doc}
    if "content_sha256" in docs.columns and "content" in docs.columns:
        stored["sha256_mismatches"] = docs.filter(
            F.sha2(F.col("content"), 256) != F.col("content_sha256")
        ).count()
    report["stored"] = stored

    # --- tombstones within segment ranges
    if index.has_deletes:
        seg_df = index.spark.createDataFrame(
            segs, "segment_id int, first_docid long, last_docid long"
        )
        out_of_range = (
            index.tombstones.join(seg_df, "segment_id", "left")
            .filter(
                F.col("first_docid").isNull()
                | (F.col("docid") < F.col("first_docid"))
                | (F.col("docid") > F.col("last_docid"))
            )
            .count()
        )
        report["tombstones"] = {"out_of_range": out_of_range}
    else:
        report["tombstones"] = {"out_of_range": 0}

    # --- field stats consistency
    row = norms.agg(
        F.count(F.when(F.col("doclen") > 0, True)).alias("dc"),
        F.sum("doclen").alias("sttf"),
        F.count("*").alias("n"),
    ).collect()[0]
    fs = index.field_stats
    report["field_stats"] = {
        "doc_count_match": int(row["dc"]) == int(fs.doc_count),
        "sum_ttf_match": int(row["sttf"] or 0) == int(fs.sum_total_term_freq),
        "max_doc_match": int(row["n"]) == max_doc,
    }

    clean = (
        report["segments"]["overlapping_ranges"] == 0
        and report["postings"]["rows_with_violations"] == 0
        and report["postings"]["duplicate_term_rows"] == 0
        and report["term_stats"]["terms_mismatched"] == 0
        and report["norms"]["norm_byte_mismatches"] == 0
        and report["norms"]["posting_doclen_mismatches"] == 0
        and report["stored"].get("sha256_mismatches", 0) == 0
        and report["stored"]["rows"] == max_doc
        and report["tombstones"]["out_of_range"] == 0
        and all(report["field_stats"].values())
    )
    report["clean"] = clean
    return report
