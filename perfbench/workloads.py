"""The benchmark's workloads: each drives the package through its public
functions in a closed loop with one client, and checks every op's
answer against the generator's ground truth.

A workload provides ``warmup()``, ``round(i)`` (the ops of round ``i``,
each returning ``(latency_s, units, ok)``), ``after_window()`` for
checks that must stay out of the timed window, and the quality and
per-layer numbers it alone can compute.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

import gen
from spans import checkpoint, noop_write, written


def _fail(msg: str) -> bool:
    print(f"CHECK FAILED: {msg}", file=sys.stderr)
    return False


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs) / 1e6


class Workload:
    unit: str  # what the workload's throughput counts
    rate_name: str  # the throughput's name in the detail line

    def __init__(self, spark, inputs, tracer, work: str):
        self.spark = spark
        self.inputs = inputs
        self.tr = tracer
        self.work = work
        # time spent preparing answer checks during set-up; excluded
        # from setup_s like input generation
        self.check_prep_s = 0.0
        self.quality: list[float] = []

    def timed(self, fn):
        """Run the op's timed section inside an "op" span."""
        with self.tr.span("op"):
            t0 = time.perf_counter()
            out = fn()
            lat = time.perf_counter() - t0
        return out, lat

    def install_patches(self) -> None:
        """Trace internal calls between package modules (traced run only)."""
        from mapreduce_mit_spark.plans import _util
        from mapreduce_mit_spark.sources import io

        for owner in (io, _util):
            self.tr.patch(owner, "load_table", "sources.load_table", materialize=written)

    def probe(self) -> None:
        """Layer calls made after each traced round, outside the ops."""

    def after_window(self) -> bool:
        return True

    def detail(self) -> dict:
        return {}

    def layer_metrics(self) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------- mr_corpus


class MrCorpus(Workload):
    """The reference's word count and inverted index, in its own
    programming model (run_job) and as DataFrame plans, on the
    reference's corpus size. Unit: corpus MB processed."""

    unit = "MB"
    rate_name = "input_mb_per_s"

    def __init__(self, *a):
        super().__init__(*a)
        from mapreduce_mit_spark.operators import mapreduce as mr
        from mapreduce_mit_spark.plans import text_analysis as ta

        self.mr, self.ta = mr, ta
        self.job_lat: dict[str, list[float]] = {}

    def install_patches(self) -> None:
        super().install_patches()

        def tokens_written(df):
            # words_df keeps every input column beside each token; only
            # the token column is materialized
            noop_write(df.select(df.columns[-1]))
            return df

        self.tr.patch(self.ta, "words_df", "functions.tokens", materialize=tokens_written)

    def _jobs(self, inp: gen.MrInputs, measured: bool):
        """The four jobs; each returns (latency_s, ok)."""
        mr, ta, spark = self.mr, self.ta, self.spark
        text_glob, sf_dir, truth = inp.text_glob, inp.sf_dir, inp.truth

        def job(span, call, key, value, order_key, want):
            def run():
                with self.tr.span(span) as rec:
                    t0 = time.perf_counter()
                    rows = call().collect()
                    lat = time.perf_counter() - t0
                    if rec and span.endswith("word_count"):
                        rec["kv_pairs"] = sum(int(r.value) for r in rows)
                got = {key(r): value(r) for r in rows}
                order = [order_key(r) for r in rows]
                ok = order == sorted(order) or _fail(f"{span}: rows out of order")
                if measured:
                    self.job_lat.setdefault(span, []).append(lat)
                return lat, self._compare(span, got, want, measured) and ok

            return run

        return [
            job("operators.mapreduce.word_count", lambda: mr.word_count(spark, text_glob),
                lambda r: r.key, lambda r: int(r.value), lambda r: r.key,
                truth.word_count),
            job("operators.mapreduce.inverted_index", lambda: mr.inverted_index(spark, text_glob),
                lambda r: r.key, lambda r: r.value, lambda r: r.key,
                truth.inverted_index),
            job("plans.text_analysis.q60_wordcount", lambda: ta.q60_wordcount(spark, sf_dir),
                lambda r: r.word, lambda r: r.cnt, lambda r: (-r.cnt, r.word),
                truth.word_count),
            job("plans.text_analysis.q61_inverted_index", lambda: ta.q61_inverted_index(spark, sf_dir),
                lambda r: r.word, lambda r: (r.n_docs, r.doc_list), lambda r: r.word,
                truth.q61),
        ]

    def _op(self, inp: gen.MrInputs, measured: bool):
        """One op is the four jobs in turn, so a slowdown of any one of
        them moves its latency: the sum of the jobs' times (their answer
        checks excluded). Unit: corpus MB, once per job."""
        with self.tr.span("op"):
            results = [job() for job in self._jobs(inp, measured)]
        return (sum(lat for lat, _ok in results), len(results) * inp.truth.total_bytes / 1e6,
                all(ok for _lat, ok in results))

    def _compare(self, name: str, got: dict, want: dict, measured: bool) -> bool:
        hits = sum(1 for k, v in want.items() if got.get(k) == v)
        if measured:
            self.quality.append(hits / len(want))
        return (hits == len(want) and len(got) == len(want)) or _fail(
            f"{name}: {hits}/{len(want)} expected entries, {len(got)} returned"
        )

    def warmup(self) -> None:
        """One op on the warm-up corpus (a 2%-size one left the first
        measured op ~25% slower than the next)."""
        if not self._op(self.inputs.warm, measured=False)[2]:
            raise RuntimeError("warm-up op failed its check")

    def round(self, i: int):
        return [lambda: self._op(self.inputs, measured=True)]

    def probe(self) -> None:
        """Traced rounds only: the whole-file scan source on its own
        (run_job reads through wholeTextFiles directly)."""
        from mapreduce_mit_spark.sources.io import read_corpus

        with self.tr.span("sources.read_corpus"):
            noop_write(read_corpus(self.spark, self.inputs.text_glob))

    def detail(self) -> dict:
        return {
            "input_mb_per_job": {"value": self.inputs.truth.total_bytes / 1e6, "unit": "MB"},
            "job_p50_s": {name: {"value": statistics.median(v), "unit": "s"} for name, v in self.job_lat.items()},
        }

    def layer_metrics(self) -> dict[str, float]:
        wc = [r["kv_pairs"] for r in self.tr.spans if "kv_pairs" in r and r["phase"] == "op"]
        return {"operators.mapreduce.kv_pairs": statistics.fmean(wc) if wc else 0.0}


# ------------------------------------------------------------- dedup_ingest


class DedupIngest(Workload):
    """Streaming admission of small increments against a standing corpus
    (stream_admit_increments). Unit: increment documents classified."""

    unit = "docs"
    rate_name = "docs_per_s"

    def __init__(self, *a):
        super().__init__(*a)
        from mapreduce_mit_spark.plans import dedup
        from mapreduce_mit_spark.sources import io
        from mapreduce_mit_spark.streaming import stream_queries as sq

        self.dedup, self.io, self.sq = dedup, io, sq
        self.n_op = 0
        # (set, admitted doc ids) of the last measured admission
        self.last: tuple[gen.IngestSet, set[int]] | None = None
        self.planted = self.removed = self.removed_planted = 0
        self.written_mb: list[float] = []
        self.admitted: list[int] = []

    def install_patches(self) -> None:
        super().install_patches()
        from mapreduce_mit_spark.operators import graph

        d, tr = self.dedup, self.tr
        tr.patch(d, "classify_increment", "plans.dedup.classify_increment", materialize=checkpoint)
        tr.patch(d, "minhash_signatures_df", "functions.minhash", materialize=checkpoint)
        tr.patch(d, "lsh_candidate_pairs_df", "plans.dedup.lsh_candidate_pairs",
                 materialize=checkpoint, count_rows=True)
        tr.patch(d, "jaccard_verified_pairs", "plans.dedup.jaccard_verified_pairs",
                 materialize=checkpoint, count_rows=True)
        tr.patch(graph, "connected_components", "operators.graph.connected_components",
                 materialize=checkpoint)

    def _admit(self, st: gen.IngestSet, measured: bool):
        root = os.path.join(self.work, "admit", f"op{self.n_op}")
        self.n_op += 1

        def run():
            load = self.io.load_table
            corpus = load(self.spark, st.sf_dir, "documents")
            incs = [load(self.spark, st.sf_dir, f"inc_{k:02d}") for k in range(st.n_increments)]
            with self.tr.span("streaming.stream_admit_increments"):
                return self.sq.stream_admit_increments(self.spark, corpus, incs, root).collect()

        rows, lat = self.timed(run)
        if self.tr.enabled:
            self.written_mb.append(_dir_mb(root))
        shutil.rmtree(root, ignore_errors=True)
        got = {r.doc_id: (r.status, r.match_doc_id) for r in rows}
        ok = got == st.expected or _fail(
            f"admission log differs on {sum(1 for k, v in st.expected.items() if got.get(k) != v)}"
            f" of {len(st.expected)} docs"
        )
        if measured:
            planted = {k for k, v in st.expected.items() if v[0] != "new"}
            removed = {k for k, v in got.items() if v[0] != "new"}
            self.planted += len(planted)
            self.removed += len(removed)
            self.removed_planted += len(planted & removed)
            self.quality.append(len(planted & removed) / max(1, len(planted)))
            if self.tr.enabled:
                self.admitted.append(sum(1 for v in got.values() if v[0] == "new"))
            corpus = st.all_ids - st.expected.keys()
            self.last = (st, corpus | {k for k, v in got.items() if v[0] == "new"})
        return lat, st.increment_docs, ok

    def warmup(self) -> None:
        if not self._admit(self.inputs.warm, measured=False)[2]:
            raise RuntimeError("warm-up admission failed its check")

    def round(self, i: int):
        """Two admissions per round, so every run measures at least two."""
        sets = self.inputs.sets
        return [lambda st=sets[(2 * i + k) % len(sets)]: self._admit(st, measured=True) for k in range(2)]

    def after_window(self) -> bool:
        """Traced run only (q148 costs ~80 Spark jobs, which the untraced
        run's time budget cannot carry): rebuild equivalence — the
        admitted corpus equals q148's survivors over the union of corpus
        and increments, and the generator's admitted set."""
        if not self.tr.enabled:
            return True
        st, admitted = self.last
        with self.tr.span("plans.dedup.q148_dedup_pipeline"):
            rows = self.dedup.q148_dedup_pipeline(self.spark, os.path.join(st.sf_dir, "union")).collect()
        got = {r.doc_id for r in rows}
        return got == admitted == st.admitted or _fail(
            f"q148 rebuild keeps {len(got)} docs, admission kept {len(admitted)}"
            f" ({len(got ^ admitted)} differ)"
        )

    def detail(self) -> dict:
        return {
            "dedup_recall": {"value": self.removed_planted / max(1, self.planted), "unit": "ratio"},
            "dedup_precision": {"value": self.removed_planted / max(1, self.removed), "unit": "ratio"},
        }

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tr
        cand = [r["rows"] for r in tr.spans if r["name"] == "plans.dedup.lsh_candidate_pairs"]
        ver = [r["rows"] for r in tr.spans if r["name"] == "plans.dedup.jaccard_verified_pairs"]
        batches = [b["dur_s"] for b in tr.op_batches()]
        n_ops = max(1, len(tr.op_spans()))
        return {
            "sources.written_mb": statistics.fmean(self.written_mb) if self.written_mb else 0.0,
            "plans.dedup.candidate_pairs": statistics.fmean(cand) if cand else 0.0,
            "plans.dedup.verified_pairs": statistics.fmean(ver) if ver else 0.0,
            "plans.dedup.verify_yield": sum(ver) / sum(cand) if cand and sum(cand) else 0.0,
            "streaming.batch_p50_s": statistics.median(batches) if batches else 0.0,
            "streaming.batches": len(batches) / n_ops,
            "streaming.admitted_docs": statistics.fmean(self.admitted) if self.admitted else 0.0,
        }


# ---------------------------------------------------------------- ann_serve


class AnnServe(Workload):
    """Batches of held-out query vectors served from a prebuilt IVF
    index (ivf_serve_hits, k=10). Unit: queries served."""

    unit = "queries"
    rate_name = "queries_per_s"

    def __init__(self, *a):
        super().__init__(*a)
        from mapreduce_mit_spark.plans import similarity as sim

        self.sim = sim
        inp = self.inputs
        with self.tr.span("plans.similarity.ivf_index_for"):
            t0 = time.perf_counter()
            self.cent, self.assign = sim.ivf_index_for(self.spark, inp.sf_dir)
            self.index_build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        cent = sorted((r.cid, r.cv) for r in self.cent.collect())
        self.cids = np.array([c for c, _ in cent])
        cv = np.array([v for _, v in cent], dtype=np.float64)
        self.cent_n = cv / np.linalg.norm(cv, axis=1, keepdims=True)
        cells = np.full(len(inp.vectors), -1)
        for r in self.assign.select("vec_id", "cluster").collect():
            cells[r.vec_id] = r.cluster
        self.cells = cells
        v = inp.vectors.astype(np.float64)
        self.vec_n = v / np.linalg.norm(v, axis=1, keepdims=True)
        self.check_prep_s = time.perf_counter() - t0
        self.probed_rows: list[int] = []

    def _serve(self, batch, measured: bool):
        qids, qv = batch
        spark, sim = self.spark, self.sim

        def run():
            qdf = spark.createDataFrame(
                [(q, v.tolist()) for q, v in zip(qids, qv)], "query_id long, qv array<float>"
            )
            with self.tr.span("plans.similarity.ivf_serve_hits"):
                return sim.ivf_serve_hits(self.assign, self.cent, qdf, gen.ANN_K).collect()

        rows, lat = self.timed(run)
        ok = self._check(qids, qv, rows, measured)
        return lat, len(qids), ok

    def _check(self, qids, qv, rows, measured: bool) -> bool:
        """Each query's hits must be the exact cosine top-k within the
        cells it probes (nprobe nearest centroids, ties to the lower
        cid), with correct similarities; recall is against the global
        exact top-k."""
        by_q: dict[int, list] = {q: [] for q in qids}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        if set(by_q) != set(qids):
            return _fail("hits for unknown query ids")
        ok = True
        for q, v in zip(qids, qv):
            qn = v.astype(np.float64)
            qn /= np.linalg.norm(qn)
            csim = self.cent_n @ qn
            probe = self.cids[np.lexsort((self.cids, -csim))[: self.sim.N_PROBE]]
            members = np.flatnonzero(np.isin(self.cells, probe))
            sims = self.vec_n[members] @ qn
            want = np.sort(sims)[::-1][: gen.ANN_K]
            hits = by_q[q]
            got_ids = [h.vec_id for h in hits]
            got = np.array([self.vec_n[i] @ qn for i in got_ids])
            reported = np.array([h["_sim"] for h in hits])
            if len(hits) != gen.ANN_K or not np.allclose(np.sort(got)[::-1], want, rtol=0, atol=1e-9):
                ok = _fail(f"query {q}: hits are not the top-{gen.ANN_K} of its probed cells")
            elif not np.allclose(reported, got, rtol=0, atol=1e-6):
                ok = _fail(f"query {q}: reported similarities are wrong")
            if measured:
                self.quality.append(len(set(got_ids) & set(self.inputs.exact_top[q])) / gen.ANN_K)
                if self.tr.enabled:
                    self.probed_rows.append(len(members))
        return ok

    def warmup(self) -> None:
        for _ in range(3):
            if not self._serve(self.inputs.warm, measured=False)[2]:
                raise RuntimeError("warm-up serve failed its check")

    def round(self, i: int):
        batch = self.inputs.batches[i % len(self.inputs.batches)]
        return [lambda: self._serve(batch, measured=True)]

    def after_window(self) -> bool:
        """Traced run only: persist the index and attach it back."""
        if not self.tr.enabled:
            return True
        out = os.path.join(self.work, "ivf_index")
        sim, spark, sf = self.sim, self.spark, self.inputs.sf_dir
        with self.tr.span("plans.similarity.ivf_index_save"):
            sim.ivf_index_save(spark, sf, out)
        with self.tr.span("plans.similarity.ivf_index_attach"):
            cent, assign = sim.ivf_index_attach(spark, sf, out)
            noop_write(cent)
            noop_write(assign)
        return True

    def detail(self) -> dict:
        return {
            "index_build_s": {"value": self.index_build_s, "unit": "s"},
            "recall_at_10": {"value": statistics.fmean(self.quality) if self.quality else 0.0, "unit": "ratio"},
        }

    def layer_metrics(self) -> dict[str, float]:
        mean = statistics.fmean(self.probed_rows) if self.probed_rows else 0.0
        return {
            "plans.similarity.probed_rows_per_query": mean,
            "plans.similarity.scan_yield": gen.ANN_K / mean if mean else 0.0,
        }


WORKLOADS = {"mr_corpus": MrCorpus, "dedup_ingest": DedupIngest, "ann_serve": AnnServe}


def run_op(op):
    """One op; an exception counts as a failed op."""
    try:
        return op()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return None, 0, False
