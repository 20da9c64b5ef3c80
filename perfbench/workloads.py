"""The workloads: one closed-loop client, one process, Spark
``local[nproc/2]``.  See NOTES.md for why each exists."""

from __future__ import annotations

import collections
import gc
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import List

import numpy as np

from .corpus import MID_WORDS, Corpus, TermPicker, fill, write_parquet
from .reference import (
    FlatRef, TreeRef, canon, check_pyref, full_match, tree_match,
)
from .tracer import Tracer

# (shape name, query template, k).  Slots name a df band (rare / mid /
# word / hot) and are drawn fresh for every operation; "msm2:" marks a
# 2-of-n minimum-should-match disjunction, built with plan.normalize.
SELECTIVE_MIX = (
    ("q_term_mid", "{mid0}", 10),
    ("q_or3", "{mid0} OR {mid1} OR {mid2}", 10),
    ("q_and3", "{mid0} AND {word0} AND {word1}", 10),
    ("q_not", "{mid0} {mid1} -{word0}", 10),
    ("q_qtf", "{mid0} {mid0} {mid1}", 10),
    ("q_msm2_or4", "msm2:{mid0} {mid1} {mid2} {mid3}", 10),
    ("tree_mixed", "({rare0} AND {word0}) OR {mid0}", 10),
)
BROAD_MIX = (
    ("q_or_hot4", "{hot0} {hot1} {hot2} {hot3}", 10),
    ("q_or_hot_k1000", "{hot0} {hot1} {word0}", 1000),
    ("q1m_or_rare_hot", "{rare0} OR {hot0}", 10),
    ("q1m_or_med_hot", "{mid0} OR {hot0}", 10),
    ("q1m_and_rare_hot", "{rare0} AND {hot0}", 10),
    ("q_msm2_hot", "msm2:{hot0} {hot1} {word0} {word1}", 10),
    ("q_and_hot", "{hot0} AND {hot1} AND {word0}", 10),
    ("q1m_tree_mixed", "({rare0} AND {hot0}) OR {mid0}", 10),
    ("q1m_tree_conjconj", "({rare0} AND {hot0}) OR ({mid0} AND {hot0})", 10),
)


@dataclass(frozen=True)
class Spec:
    n_docs: int           # base index size
    segments: int
    n_idents: int         # identifier-tail vocabulary
    loop_mix: tuple       # query passes for --seconds before the cycle (may be empty)
    burst_mix: tuple      # query passes for --seconds inside the cycle (may be empty)
    batch_docs: int       # docs appended (and percolated) per ingest cycle
    percolate: tuple      # stored-query sets each cycle percolates: tree, full


SPECS = {
    # big index, hot-keyword queries: the per-segment kernel dominates.
    # One closing ingest cycle, on a small batch, gives the report line's
    # append / delete / percolate figures and the index size with an
    # appended segment
    "topk-broad": Spec(24_000, 8, 2_400, BROAD_MIX, (), 250, ("tree",)),
    # one append / delete / reopen / query / percolate cycle; the queries
    # hit a fragmented, tombstoned index and are the selective shapes, so
    # fixed per-query cost dominates them.  Percolates the over-cap tree
    # set (join fallback) and the under-cap full set (mask plan)
    "ingest": Spec(12_000, 4, 2_400, (), SELECTIVE_MIX, 500, ("tree", "full")),
}
# a word-band term present in every segment, appended batch or base: the
# probe and delete checks OR it in (see NOTES.md, tombstoned segments)
ANCHOR = MID_WORDS[0]
TREE_QUERIES = 1_000   # percolate_tree strings: > 4096 distinct terms
FULL_QUERIES = 300     # percolate_full shapes, under every mask cap
# a run never plans more than this many passes over a mix (the window
# stops early, without failing, if the seeded term pools run dry first)
MAX_PASSES = 6
# timed passes every run makes, however fast the host: a window that ends
# on time alone gives fast runs an extra, warmer pass
MIN_PASSES = 2


@dataclass
class Op:
    kind: str             # "query" | "append" | "delete" | "percolate"
    shape: str
    ms: float
    ok: bool
    traced: bool
    timed: bool           # inside the measured window (not warm-up)
    fig: dict = field(default_factory=dict)


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(path):
        for f in fns:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class BenchRun:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.name = workload
        self.spec = SPECS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.rng = np.random.default_rng([seed, 7])
        self.ops: List[Op] = []
        self.timed = False
        self.content_bytes = 0
        self.cycle = 0
        self.append_s: List[float] = []
        self.delete_s: List[float] = []
        self.perc_docs = 0
        self.perc_s = 0.0
        self.pyref_checked: set = set()
        self.ratio_done: set = set()
        self.blocks = [0, 0]
        self.pool_dry = False

    # --- inputs (outside every timed window) --------------------------------

    def make_inputs(self) -> None:
        sp = self.spec
        self.corpus = Corpus(self.seed, sp.n_idents)
        ids, codes, counts = self.corpus.sample_batch(sp.n_docs)
        self.base_path = os.path.join(self.work, "base.parquet")
        self.content_bytes += write_parquet(self.base_path, ids, self.corpus.contents(codes, counts))
        self.corpus.add(ids, codes, counts)
        self.picker = TermPicker(self.corpus, self.rng)
        # warm-up plus MAX_PASSES timed passes
        for mix in (sp.loop_mix, sp.burst_mix):
            have = self.picker.passes(mix)
            if have < MAX_PASSES + 1:
                raise RuntimeError(
                    f"{self.name}: seeded term pools hold {have} passes of the mix, "
                    f"need {MAX_PASSES + 1}; widen the corpus")
        self.tree_set, self.full_set = self._stored_queries()

    def next_batch(self):
        """The seeded batch of the coming ingest cycle (drawn untimed)."""
        i = self.cycle
        ids, codes, counts = self.corpus.sample_batch(self.spec.batch_docs, probe=i)
        path = os.path.join(self.work, f"batch{i}.parquet")
        texts = self.corpus.contents(codes, counts)
        nbytes = write_parquet(path, ids, texts)
        return path, ids, codes, counts, texts.to_pylist(), nbytes

    def _stored_queries(self):
        """Two stored-query sets drawn from the seed: tree strings whose
        vocabulary exceeds the percolator's 4096-term mask cap, and
        percolate_full shapes well under every cap."""
        rng = self.rng
        idents = list(self.corpus.vocab[len(MID_WORDS) + 9:-64])
        tag = int(rng.integers(1 << 30))
        tree = []
        for q in range(TREE_QUERIES):
            # the ext_ terms are unseen identifiers, so the set's
            # vocabulary grows by 4-5 terms per stored query
            any_of = (idents[int(rng.integers(len(idents)))],
                      *(f"ext_{tag}_{q}_{j}" for j in range(4)))
            c = MID_WORDS[int(rng.integers(len(MID_WORDS)))]
            none = (f"ext_{tag}_n{q}",) if q % 2 == 0 else ()
            s = f"({' OR '.join(any_of)}) AND {c}" + (f" -{none[0]}" if none else "")
            tree.append((q, s, (any_of, (c,), none)))
        vocab = {t for _q, _s, cl in tree for part in cl for t in part}
        if len(vocab) <= 4096:
            raise RuntimeError("the tree stored-query set must exceed the 4096-term mask cap")
        pool = list(MID_WORDS) + idents[:200]
        # at most 32 distinct phrases: the mask plan checks them inline
        phrases = [[MID_WORDS[int(i)] for i in rng.integers(len(MID_WORDS), size=2)]
                   for _ in range(16)]
        full = []
        for q in range(FULL_QUERIES):
            terms = sorted({pool[int(i)] for i in rng.choice(len(pool), 3, replace=False)})
            nots = [MID_WORDS[int(rng.integers(len(MID_WORDS)))]] if q % 5 == 0 else []
            nots = [t for t in nots if t not in terms]
            phrase = phrases[q % len(phrases)] if q % 7 == 0 else []
            full.append((q, terms, 2, nots, phrase))
        return tree, full

    # --- Spark ----------------------------------------------------------------

    def start(self) -> None:
        from lucene_spark.session import get_spark

        # Spark gets half the CPUs: the driver, the py4j peer and the JVM's
        # GC and JIT threads keep the other half.  On all of them every
        # figure tracked the host's contention (see NOTES.md)
        self.cpus = max(1, len(os.sched_getaffinity(0)) // 2)
        self.spark = get_spark(f"perfbench-{self.name}", master=f"local[{self.cpus}]")
        self.tracer = Tracer(self.spark, self.trace)

    def stop(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()

    # --- one operation ----------------------------------------------------------

    def _run_op(self, kind: str, shape: str, body, check, traced: bool) -> None:
        """Time ``body`` (returns (result, answering frame)), then check it.
        Tracer figures are read after the timed window."""
        if kind != "query":
            # an ingest op is one sample per run: collect garbage first, so
            # a collection the earlier work left due does not land inside it
            gc.collect()
            self.spark.sparkContext._jvm.java.lang.System.gc()
        tr = self.tracer
        tr.active = traced
        group = tr.begin_op()
        t0 = time.perf_counter()
        try:
            result, frame = body()
            ms = 1e3 * (time.perf_counter() - t0)
            tr.active = False
            ok = bool(check(result))
        except Exception:
            ms = 1e3 * (time.perf_counter() - t0)
            traceback.print_exc(file=sys.stderr)
            result, frame, ok = None, None, False
        tr.active = False
        if not ok:
            print(f"[perfbench] {kind} {shape}: wrong or failed", file=sys.stderr)
        fig = {}
        if traced:
            fig = tr.end_op(group, frame)
            fig["rows"] = len(result) if isinstance(result, list) else 0
            fig["spans"] = tr.op_span_ms()
        self.ops.append(Op(kind, shape, ms, ok, traced, self.timed, fig))

    def query(self, shape: str, template: str, k: int, traced: bool) -> None:
        from lucene_spark.search import executor, plan

        text, _ = fill(template, self.picker)
        tr = self.tracer
        holder = {}

        def body():
            with tr.span("plan.parse"):
                if text.startswith("msm2:"):
                    q = plan.normalize(should=text[5:].split(), min_should_match=2,
                                       pre_analyzed=True)
                else:
                    q = plan.parse(text)
            holder["q"] = q
            with tr.span("executor.search_call"):
                df = executor.search_query(self.idx, q, k=k)
            with tr.span("executor.collect"):
                rows = df.collect()
            return [(int(r["docid"]), float(r["score"])) for r in rows], df

        def check(rows):
            return self._expected_ok(text, holder["q"], k, rows)

        self._run_op("query", shape, body, check, traced)
        if traced and shape not in self.ratio_done and "q" in holder:
            self.ratio_done.add(shape)
            self._decode_ratio(holder["q"], k)

    def _expected_ok(self, text: str, q, k: int, rows) -> bool:
        from lucene_spark.search.plan import NormalizedQuery, parse_tree

        if isinstance(q, NormalizedQuery) and not q.tree_origin:
            want = self.flat_ref.search(q.required, q.optional, q.excluded,
                                        q.min_should_match, k)
            if rows != want:
                return False
            terms = [t for t, _ in q.required + q.optional] + list(q.excluded)
            key = (self.cycle, tuple(sorted(len(x) > 0 for x in (q.required, q.optional, q.excluded))),
                   q.min_should_match > 0)
            if key not in self.pyref_checked and self.flat_ref.postings_total(terms) <= 30_000:
                self.pyref_checked.add(key)
                return check_pyref(self.corpus, q, k, rows)
            return True
        tree = parse_tree(text)
        return canon(rows) == canon(self.tree_ref.search(tree, k))

    def _decode_ratio(self, q, k: int) -> None:
        """Blocks decoded / total of a pruned query (its own Spark job,
        run once per shape, outside the timed loop)."""
        from lucene_spark.search import executor
        from lucene_spark.search.plan import NormalizedQuery, rewrite

        if isinstance(q, NormalizedQuery):
            m = executor.block_skip_metrics(self.idx, q, k=k)
        else:
            m = executor.tree_skip_metrics(self.idx, rewrite(q), k=k)
        if m.get("ratio") is not None:
            self.blocks[0] += m["blocks_decoded"]
            self.blocks[1] += m["blocks_total"]

    def _pass(self, mix) -> bool:
        """One seeded pass over ``mix``; False (nothing run) once the term
        pools cannot fill a whole pass.  A traced run follows each timed
        pass with a traced one, so the tracing overhead is measured on the
        same shapes in one process."""
        for traced in (False, True) if self.trace and self.timed else (False,):
            if self.picker.passes(mix) < 1:
                self.pool_dry = True
                return False
            for i in self.rng.permutation(len(mix)):
                self.query(*mix[i], traced=traced)
        return True

    # --- setup -------------------------------------------------------------------

    def setup(self) -> float:
        """Spark start, base build, open, warm-up; returns setup seconds."""
        from lucene_spark.index.builder import IndexConfig, build_index
        from lucene_spark.search.executor import Index

        t0 = time.perf_counter()
        self.start()
        self.spark_start_s = time.perf_counter() - t0
        self.idx_dir = os.path.join(self.work, "index")
        self.cfg = IndexConfig(docid_col="doc_id", content_col="content",
                               num_segments=self.spec.segments, order_cols=("doc_id",))
        # one segment per appended batch (an NRT flush)
        self.cfg_append = IndexConfig(docid_col="doc_id", content_col="content",
                                      num_segments=1, order_cols=("doc_id",))
        self.tracer.active = self.trace
        tb = time.perf_counter()
        build_index(self.spark, self.spark.read.parquet(self.base_path), self.idx_dir, self.cfg)
        self.build_s = time.perf_counter() - tb
        self.tracer.active = False
        self.idx = Index.open(self.spark, self.idx_dir)
        self._refresh_refs()
        # warm-up: one whole pass of the workload's query mix, on terms the
        # timed window never uses.  The first query of each shape runs
        # 30-50 % slower than later ones (the build has already started
        # the Python workers)
        self._pass(self.spec.loop_mix or self.spec.burst_mix)
        return time.perf_counter() - t0

    def _refresh_refs(self) -> None:
        self.flat_ref = FlatRef(self.corpus)
        self.tree_ref = TreeRef(self.corpus)

    # --- ingest cycle ------------------------------------------------------------

    def ingest_cycle(self) -> None:
        """append -> reopen -> probe visible; delete a rare term -> visible;
        a query burst on the fragmented, tombstoned index; percolation of
        the batch against the workload's stored-query sets.  Expected answers are
        computed before each operation, outside its timed window."""
        from pyspark.sql import functions as F

        from lucene_spark.index.builder import append_to_index
        from lucene_spark.search import executor, plan

        i = self.cycle
        path, ids, codes, counts, texts, nbytes = self.next_batch()
        tr = self.tracer
        traced = self.trace
        bdf = self.spark.read.parquet(path)

        def search(text: str, k: int):
            with tr.span("executor.search_call"):
                df = executor.search_query(self.idx, plan.parse(text), k=k)
            with tr.span("executor.collect"):
                rows = df.collect()
            return [(int(r["docid"]), float(r["score"])) for r in rows], df

        # the batch's probe doc is the only holder of its probe term, so it
        # ranks first once the batch is visible
        self.corpus.add(ids, codes, counts)
        self.content_bytes += nbytes
        self.cycle += 1
        self._refresh_refs()
        probe_q = f"{self.corpus.vocab[self.corpus.probe_codes[i]]} OR {ANCHOR}"
        want = self._flat_expected(probe_q, 1)

        def append():
            t0 = time.perf_counter()
            with tr.span("builder.append"):
                append_to_index(self.spark, bdf, self.idx_dir, self.cfg_append)
            # an Index opened before the append cannot read the new commit
            with tr.span("executor.open"):
                self.idx = executor.Index.open(self.spark, self.idx_dir)
            out = search(probe_q, 1)
            self.append_s.append(time.perf_counter() - t0)
            return out

        self._run_op("append", "append_visible", append,
                     lambda got: got == want and got[0][0] == int(ids[0]), traced)

        # delete one of the batch's rarest terms; its holders would top the
        # ranking of the check query if they were still live
        df = self.corpus.doc_freqs()
        mine = np.unique(codes)
        mine = mine[(df[mine] > 0) & ~np.isin(mine, self.corpus.probe_codes)
                    & ~self.corpus.stop[mine]]
        rarest = mine[np.lexsort((mine, df[mine]))][:20]
        term = str(self.corpus.vocab[rarest[int(self.rng.integers(len(rarest)))]])
        victims = set(self.corpus.postings(term)[0].tolist()) - self.corpus.deleted
        self.corpus.deleted |= victims
        self._refresh_refs()
        delete_q = f"{term} OR {ANCHOR}"
        want_d = self._flat_expected(delete_q, 10)

        def delete():
            t0 = time.perf_counter()
            with tr.span("executor.delete"):
                n = self.idx.delete_by_term(term)
            rows, df = search(delete_q, 10)
            self.delete_s.append(time.perf_counter() - t0)
            return (n, rows), df

        self._run_op("delete", "delete_visible", delete,
                     lambda got: got == (len(victims), want_d), traced)

        if self.spec.burst_mix:
            self._loop(self.spec.burst_mix)

        docs = bdf.select("doc_id", F.col("content").alias("text"))
        tokens = [set(t.split()) for t in texts]
        for kind in self.spec.percolate:
            self._percolate(kind, docs, ids, tokens, texts, traced)

    def _percolate(self, kind: str, docs, ids, tokens, texts, traced: bool) -> None:
        """Percolate the batch against one stored-query set; a seeded
        sample of 40 stored queries is checked against pure Python."""
        from lucene_spark.streaming import percolate_full, percolate_tree

        tr = self.tracer
        if kind == "tree":
            stored = [(q, s) for q, s, _ in self.tree_set]
            sample = set(self.rng.choice(len(self.tree_set), 40, replace=False).tolist())
            want = {(q, int(d)) for q, _, cl in self.tree_set if q in sample
                    for d, tk in zip(ids, tokens) if tree_match(tk, cl)}

            def perc():
                with tr.span("streaming.percolate_tree"):
                    out = percolate_tree(docs, stored)
                    rows = out.collect()
                return rows, out
        else:
            qdf = self.spark.createDataFrame(
                list(self.full_set),
                "qid int, terms array<string>, min_match int, not_terms array<string>, "
                "phrase array<string>",
            )
            sample = set(self.rng.choice(len(self.full_set), 40, replace=False).tolist())
            want = {(q, int(d)) for q, terms, mm, nots, ph in self.full_set if q in sample
                    for d, tk, tx in zip(ids, tokens, texts)
                    if full_match(tk, tx, terms, mm, nots, ph)}

            def perc():
                with tr.span("streaming.percolate_full"):
                    out = percolate_full(docs, qdf)
                    rows = out.collect()
                return rows, out

        def check(rows):
            return {(r["qid"], r["doc_id"]) for r in rows if r["qid"] in sample} == want

        self._run_op("percolate", f"percolate_{kind}", perc, check, traced)
        self.perc_s += self.ops[-1].ms / 1e3
        self.perc_docs += len(ids)

    def _flat_expected(self, text: str, k: int):
        from lucene_spark.search.plan import parse

        q = parse(text)
        return self.flat_ref.search(q.required, q.optional, q.excluded, q.min_should_match, k)

    # --- the measured window ---------------------------------------------------------

    def _loop(self, mix) -> None:
        """Closed-loop passes over ``mix``: MIN_PASSES, then more until
        ``seconds`` has passed; the pass in flight finishes."""
        end = time.perf_counter() + self.seconds
        done = 0
        while self._pass(mix):
            done += 1
            if done >= MIN_PASSES and time.perf_counter() >= end:
                break

    def window(self) -> None:
        """The loop mix's passes for ``seconds`` (topk-broad, on the
        untouched base), then one ingest cycle, whose burst mix runs for
        ``seconds`` on the appended, tombstoned index (ingest)."""
        self.timed = True
        if self.spec.loop_mix:
            self._loop(self.spec.loop_mix)
        self.ingest_cycle()
        self.timed = False

    # --- results -------------------------------------------------------------------

    def run(self) -> dict:
        marks = [time.perf_counter()]
        self.make_inputs()
        marks.append(time.perf_counter())
        setup_s = self.setup()
        marks.append(time.perf_counter())
        self.window()
        marks.append(time.perf_counter())
        from lucene_spark.index.builder import IndexPaths, read_manifests

        segments = len(read_manifests(IndexPaths(self.idx_dir)))
        idx_bytes = dir_bytes(self.idx_dir)
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        versions = {
            "spark": self.spark.version,
            "java": self.spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        }
        if self.trace:
            spans_path = os.path.join(os.path.dirname(self.work),
                                      f"spans-{os.path.basename(self.work)}.jsonl")
            self.tracer.write(spans_path)
            self_ms = self.tracer.self_times()
            self.tracer.uninstall()
        self.stop()
        marks.append(time.perf_counter())

        queries = [o for o in self.ops if o.timed and o.kind == "query"]
        lat = sorted(o.ms for o in queries)
        n = len(lat)
        # highest percentile with >= 10 samples beyond it, never below p50
        tail_i = max(n - 11, n // 2, 0)
        attempted = len(self.ops)
        failed = sum(not o.ok for o in self.ops)
        report = {
            "workload": self.name, "seed": self.seed, "cpus": self.cpus,
            "ops_failed_frac": {"value": failed / attempted, "unit": "ratio"},
            "query_samples": n,
            "query_tail_pct": round(100.0 * (tail_i + 1) / n, 1) if n else None,
            "query_tail_samples_beyond": n - tail_i - 1,
            "per_shape_p50_ms": {
                s: round(_median([o.ms for o in queries if o.shape == s]), 2)
                for s in sorted({o.shape for o in queries})
            },
            "ops_p50_ms": {
                s: round(_median([o.ms for o in self.ops if o.shape == s and o.kind != "query"]), 1)
                for s in sorted({o.shape for o in self.ops if o.kind != "query"})
            },
            "peak_rss_mb": {"value": round(self.rss_mb, 1), "unit": "MB"},
            # one sample each per run: too noisy across runs for a bound
            # (NOTES.md, measured spread)
            "append_visible_s": {"value": _median(self.append_s), "unit": "s"},
            "delete_visible_s": {"value": _median(self.delete_s), "unit": "s"},
            "percolate_docs_per_s": {
                "value": self.perc_docs / self.perc_s if self.perc_s else 0.0, "unit": "docs/s"},
            "spark_start_s": round(self.spark_start_s, 2),
            "build_s": round(self.build_s, 2),
            "phases_s": dict(zip(("inputs", "setup", "window", "teardown"),
                                 np.round(np.diff(marks), 2).tolist())),
            "ingest_cycles": self.cycle,
            "term_pools_ran_dry": self.pool_dry,
            "versions": versions,
        }
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "query_p50_ms": (_median(lat), "ms"),
            "query_tail_ms": (lat[tail_i] if lat else 0.0, "ms"),
            "build_docs_per_s": (self.spec.n_docs / self.build_s, "docs/s"),
            "index_bytes_per_content_byte": (idx_bytes / self.content_bytes, "ratio"),
        }
        if not self.trace:
            metrics = end_to_end
        else:
            metrics = self._layer_metrics(queries, segments, idx_bytes)
            report["layer_self_ms"] = {k: round(v, 1) for k, v in self_ms.items()}
            report["span_counts"] = dict(collections.Counter(s["name"] for s in self.tracer.spans))
            report["percolate_join_nodes"] = sorted(
                {n for o in self.ops if o.kind == "percolate" and o.traced
                 for n in o.fig.get("plan_join_nodes", [])})
            report["spans_file"] = os.path.basename(spans_path)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            "report": report,
        }

    def _layer_metrics(self, queries: List[Op], segments: int, idx_bytes: int) -> dict:
        tq = [o for o in queries if o.traced]
        uq = [o for o in queries if not o.traced]

        def med(key, ops=tq, scale=1.0):
            return _median([o.fig.get(key, 0) * scale for o in ops])

        def span(name, ops=tq, scale=1.0):
            return _median([o.fig.get("spans", {}).get(name, 0.0) * scale for o in ops])

        setup_spans = [s for s in self.tracer.spans if s["op"] == 0 and s["end"] is not None]

        def setup_span_s(name):
            return sum(s["end"] - s["start"] for s in setup_spans if s["name"] == name)

        appends = [o for o in self.ops if o.kind == "append" and o.traced]
        deletes = [o for o in self.ops if o.kind == "delete" and o.traced]
        perc = [o for o in self.ops if o.kind == "percolate" and o.traced]
        traced_all = [o for o in self.ops if o.traced]
        return {
            "plan.parse_ms": (span("plan.parse"), "ms"),
            "executor.search_call_ms": (span("executor.search_call"), "ms"),
            "executor.term_stats_ms": (span("executor.term_stats_for"), "ms"),
            "executor.postings_for_ms": (span("executor.postings_for"), "ms"),
            "executor.seed_ms": (span("executor.seed"), "ms"),
            "executor.collect_ms": (span("executor.collect"), "ms"),
            "executor.exhaustive_fallbacks": (
                sum(o.fig.get("executor.exhaustive_fallbacks", 0) for o in tq) / max(1, len(tq)),
                "count"),
            "executor.blocks_decoded_ratio": (
                self.blocks[0] / self.blocks[1] if self.blocks[1] else 0.0, "ratio"),
            "executor.blocks_total": (self.blocks[1], "count"),
            "py4j.calls_per_query": (med("py4j.calls"), "count"),
            "spark.jobs_per_op": (med("spark.jobs"), "count"),
            "spark.stages_per_op": (med("spark.stages"), "count"),
            "spark.tasks_per_op": (med("spark.tasks"), "count"),
            "spark.scoring_tasks": (med("spark.scoring_tasks"), "count"),
            "spark.executor_run_ms": (med("spark.executor_run_ms"), "ms"),
            "spark.executor_cpu_ms": (med("spark.executor_cpu_ms"), "ms"),
            "spark.input_bytes": (med("spark.input_bytes"), "bytes"),
            "spark.shuffle_write_bytes": (med("spark.shuffle_write_bytes"), "bytes"),
            "spark.gc_ms": (statistics.fmean([o.fig.get("spark.gc_ms", 0) for o in tq]) if tq else 0.0, "ms"),
            "spark.failed_tasks": (sum(o.fig.get("spark.failed_tasks", 0) for o in traced_all), "count"),
            "pyworker.udf_ms": (med("pyworker.udf_ms"), "ms"),
            "pyworker.arrow_bytes_sent": (med("pyworker.arrow_bytes_sent"), "bytes"),
            "builder.build_segments_s": (setup_span_s("builder.build_segments"), "s"),
            "builder.finalize_index_s": (setup_span_s("builder.finalize_index"), "s"),
            "builder.append_s": (span("builder.append", appends, 1e-3), "s"),
            "builder.append_finalize_s": (span("builder.finalize_index", appends, 1e-3), "s"),
            "builder.segments": (segments, "count"),
            "builder.bytes_written": (idx_bytes, "bytes"),
            "executor.open_ms": (span("executor.open", appends), "ms"),
            "executor.delete_s": (span("executor.delete", deletes, 1e-3), "s"),
            "streaming.percolate_tree_s": (
                span("streaming.percolate_tree", [o for o in perc if o.shape == "percolate_tree"], 1e-3), "s"),
            "streaming.percolate_full_s": (
                span("streaming.percolate_full", [o for o in perc if o.shape == "percolate_full"], 1e-3), "s"),
            "streaming.match_rows": (med("rows", perc), "count"),
            "streaming.plan_joins": (med("spark.plan_joins", perc), "count"),
            "streaming.shuffle_write_bytes": (med("spark.shuffle_write_bytes", perc), "bytes"),
            "memory.peak_rss_mb": (self.rss_mb, "MB"),
            "trace.overhead_ms": (_median([o.ms for o in tq]) - _median([o.ms for o in uq]), "ms"),
        }


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
