"""The three workloads. Each is a closed loop with one client: the next
op starts when the previous one has returned.

``batch_queries``  repeated passes over the declared-query mix plus the
                   MRJob compat apps, each op built through the registry
                   and materialised with a ``noop`` write.
``index_serve``    small read requests against at-rest BM25 / IVF
                   indexes and a KV op-log built in set-up, plus one
                   write slice per cycle on the write path.
``index_ingest``   the write path alone: write slices (tiered BM25
                   ingest, IVF add + compact, deletes, KV appends),
                   each followed by fresh reads.

A workload runs in three phases: ``setup`` (ends at the first timed
op), ``window`` (timed ops in whole cycles: at least ``min_cycles``,
then more until ``--seconds`` have passed) and ``check`` (outputs
against their references, outside the timed window). Whole cycles keep
the op multiset of every run the same, so per-run medians compare
across seeds.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
import traceback

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from mrgo_spark.operators import kv, mr
from mrgo_spark.operators.retrieval import (
    BM25Index,
    BM25SegmentSet,
    bm25_topk,
    prf_expand_terms,
)
from mrgo_spark.operators.similarity import IVFIndex
from mrgo_spark.registry import load
from mrgo_spark.streaming import stream_ops
from tests.parity import duck_connect, duck_fetch

from . import checks, inputs, stats
from .procs import cpu_steal
from .trace import codegen_compiles, plan_phases

# ---- traffic dimensions (recorded in every run record) ---------------------

# batch_queries: declared-query names plus the two MRJob compat apps.
# A subset of bench.py's HEADLINE covering each declaring module; the
# full 20-query headline does not fit the per-run time budget (its cold
# pass alone is ~35 s on 4 cores).
BATCH_MIX = [
    "wordcount",
    "kv_fold_state",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "events_sessionize",
    "asof_last_purchase",
    "dedup_exact",
    "ngram_bigrams_top20",
    "mr_wordcount",
    "mr_indexer",
]
FAMILY = {"mr_wordcount": "mr", "mr_indexer": "mr"}

# index_serve reads: one request per declared registry entry that serves
# from an at-rest structure (mrgo_spark/operators/queries_*.py). BM25
# top-k (bm25_topk_docs, bm25_topk_fixed, rrf_hybrid_retrieval,
# rrf_hybrid_served, retrieval_eval_bm25_vs_cosine,
# dcg_eval_bm25_vs_cosine, dcg_eval_fixed): 7; PRF (prf_bm25_fixed,
# kendall_tau_rankers): 2; IVF top-k (topk_cosine_ivf): 1; keyed KV
# Get (kv_get_results): 1.
SERVE_MIX = {"bm25": 7, "prf": 2, "ann": 1, "kv": 1}
SERVE_SHAPE = {
    # query sets of 1% of the corpus (doc_id % 100, vec_id % 100), as
    # bm25_topk_docs / topk_cosine_ivf and bench.py's served variants
    "query_mod": 100,
    # query_terms_from_docs' default n_terms
    "terms_per_query": 5,
    # bm25_topk_docs / prf_bm25_fixed: k = 10; topk_cosine_ivf: k = 5, n_probe 6
    "k": 10,
    "ann_k": 5,
    "n_probe": 6,
    # prf_bm25_fixed's expansion parameters
    "prf_k_fb": 10,
    "prf_n_expand": 3,
    "prf_min_len": 4,
    # a Get names one key (kvraft Clerk.Get); key popularity Zipf with
    # YCSB's default zipfian constant (Cooper et al., SoCC 2010)
    "keys_per_get": 1,
    "kv_zipf_s": 0.99,
}
# the write path: one slice per index_serve cycle, two per index_ingest
# cycle (the second document batch of a cycle triggers a tier merge)
INGEST_SHAPE = {
    "docs_per_batch": 20,
    "vectors_per_batch": 20,
    "kv_ops_per_batch": 40,
    "kv_dup_every": 8,
    "deletes_per_slice": 2,
    "keys_per_get": 4,
    "docs_probed": 2,
    "vectors_probed": 2,
}
WRITE_SLICE = ["ingest_docs", "ann_add", "delete", "fresh_bm25", "fresh_ann",
               "kv_append", "fresh_kv"]
INGEST_SLICES = 2

TRAFFIC = {
    "batch_queries": {
        "mix": BATCH_MIX,
        "order": "seeded shuffle per pass",
        "data_rows": dict(inputs.SIZES),
    },
    "index_serve": {
        "reads_per_cycle": SERVE_MIX,
        "read_order": "seeded shuffle per cycle",
        "writes_per_cycle": {"slices": 1, "slice": WRITE_SLICE},
        "shape": SERVE_SHAPE,
        "ingest_shape": INGEST_SHAPE,
        "relation_cache": "reads: always hit (static single-segment indexes);"
                          " fresh reads: missed on every fresh segment",
    },
    "index_ingest": {
        "writes_per_cycle": {"slices": INGEST_SLICES, "slice": WRITE_SLICE},
        "shape": INGEST_SHAPE,
        "relation_cache": "missed on every fresh segment and after every write",
    },
}


class Workload:
    """Shared machinery: session, op timing, traced spans, samples."""

    name = ""
    min_cycles = 1

    def __init__(self, spark, tracer, seed: int, seconds: float, work_dir: str,
                 data_dir: str, tables, procs):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work_dir
        self.data = data_dir
        self.tables = tables
        self.procs = procs
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.harness_s = 0.0  # checker time inside set-up, excluded from setup_s
        self.bad_checks = 0  # failed checks of untimed ops and whole-run checks
        self.layers: dict[str, float] = {}
        self.timed_ops: list[dict] = []
        self.window_s = 0.0
        self.cpu_window: dict[str, float] = {}
        self.steal_frac = 0.0

    # ---- op execution

    def run_op(self, kind: str, fn, timed: bool):
        """Run one op; returns (ok, result, seconds, record). ``record``
        is the timed op's entry (None when untimed), for ``verdict``.
        In the traced run the op's Spark jobs and stage totals are
        attached afterwards."""
        cg0 = codegen_compiles(self.spark) if self.tr.enabled else 0
        op = self.tr.begin_op(kind, self.spark)
        t0 = time.perf_counter()
        try:
            res, ok = fn(), True
        except Exception:  # an op that raises is a failed op, not a crash
            traceback.print_exc(file=sys.stderr)
            res, ok = None, False
        dt = time.perf_counter() - t0
        self.tr.end_op(self.spark)
        if op is not None:
            op.attrs["codegen"] = codegen_compiles(self.spark) - cg0
            op.attrs["timed"] = timed
            op.attrs["ok"] = ok
        rec = None
        if timed:
            self.samples.setdefault(kind, []).append(dt)
            self.attempted += 1
            self.failed += 0 if ok else 1
            rec = {"kind": kind, "s": dt, "ok": ok}
            self.timed_ops.append(rec)
        return ok, (res if ok else None), dt, rec

    def materialize(self, df, how: str):
        """noop write (batch) or collect (serve); plan phases are read
        first in the traced run."""
        if self.tr.enabled:
            with self.tr.span("plans.inspect") as s:
                s.attrs.update(plan_phases(df))
        with self.tr.span("exec.materialize"):
            if how == "noop":
                df.write.format("noop").mode("overwrite").save()
                return None
            return [tuple(r) for r in df.collect()]

    def window(self, cycle) -> None:
        """Timed whole cycles: ``min_cycles``, then more until the deadline."""
        cpu0 = self.procs.cpu()
        steal0 = cpu_steal()
        t0 = time.perf_counter()
        n = 1
        while True:
            cycle(n)
            n += 1
            if n > self.min_cycles and time.perf_counter() - t0 >= self.seconds:
                break
        self.window_s = time.perf_counter() - t0
        cpu1 = self.procs.cpu()
        self.cpu_window = {k: cpu1[k] - cpu0[k] for k in cpu0}
        steal1 = cpu_steal()
        self.steal_frac = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)

    def harness(self, fn):
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.harness_s += time.perf_counter() - t0

    def verdict(self, rec: dict | None, ok: bool) -> None:
        """Record a check result for an op that returned: a wrong
        timed op counts as failed; a wrong untimed one fails the run."""
        if ok:
            return
        if rec is None:
            self.bad_checks += 1
        elif rec["ok"]:
            rec["ok"] = False
            self.failed += 1

    def df(self, rows, schema):
        return self.spark.createDataFrame(rows, schema)

    def layer_extras(self, ops) -> dict:
        return {}


# ---- batch_queries ----------------------------------------------------------


class BatchQueries(Workload):
    name = "batch_queries"

    def setup(self) -> None:
        t0 = time.perf_counter()
        # spawn the Python worker pool before the first op (bench.py idiom)
        sc = self.spark.sparkContext
        sc.parallelize(range(256), sc.defaultParallelism).map(lambda x: x).count()
        self.layers["session.worker_spawn_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.queries, self.oracles = load()
        self.layers["registry.load_s"] = time.perf_counter() - t0
        docs = self.spark.read.parquet(f"{self.data}/documents.parquet")
        self.builders = {n: (lambda n=n: self.queries[n](self.spark, self.data))
                         for n in BATCH_MIX if n in self.queries}
        self.builders["mr_wordcount"] = lambda: mr.MRJob(mr.wc_map, mr.wc_reduce).run_documents(docs)
        self.builders["mr_indexer"] = lambda: mr.MRJob(mr.indexer_map, mr.indexer_reduce).run_documents(docs)

        # the cold pass collects each op's output for its check
        t0 = time.perf_counter()
        self.outputs = {}
        for name in inputs.pass_order(self.seed, BATCH_MIX, 0):
            _ok, res, _, _ = self.run_op(name, lambda n=name: self.one(n, "collect"), timed=False)
            self.outputs[name] = res
        self.layers["session.cold_pass_s"] = time.perf_counter() - t0
        self.op_ok = self.harness(self.check_outputs)
        self.bad_checks += sum(not v for v in self.op_ok.values())

    def one(self, name: str, how: str):
        outer = self.tr.span("mr.run_documents") if name.startswith("mr_") else contextlib.nullcontext()
        with outer:
            with self.tr.span("registry.build"):
                df = self.builders[name]()
            out = self.materialize(df, how)
        return (list(df.columns), out) if how == "collect" else out

    def cycle(self, n: int) -> None:
        for name in inputs.pass_order(self.seed, BATCH_MIX, n):
            self.run_op(name, lambda n=name: self.one(n, "noop"), timed=True)

    def check_outputs(self) -> dict[str, bool]:
        con = duck_connect(self.data)
        try:
            want = {n: duck_fetch(con, self.oracles[n])
                    for n in set(BATCH_MIX) | {"wordcount", "inverted_index"}
                    if n in self.oracles}
        finally:
            con.close()
        verdict = {}
        for name in BATCH_MIX:
            out = self.outputs.get(name)
            if out is None:
                verdict[name] = False
            elif name == "mr_wordcount":
                wc = {r[0]: str(r[1]) for r in want["wordcount"][1]}
                verdict[name] = checks.mr_equal(out[1], wc)
            elif name == "mr_indexer":
                ii = {r[0]: r[2] for r in want["inverted_index"][1]}
                verdict[name] = checks.mr_equal(out[1], ii)
            elif name in want:
                verdict[name] = checks.oracle_equal(out[0], out[1], *want[name])
            else:  # rows-only entry: must produce rows
                verdict[name] = len(out[1]) > 0
        return verdict

    def check(self) -> None:
        for rec in self.timed_ops:
            self.verdict(rec, self.op_ok[rec["kind"]])

    def family(self, name: str) -> str:
        if name in FAMILY:
            return FAMILY[name]
        return self.queries[name].__module__.rsplit(".", 1)[-1]

    def layer_extras(self, ops) -> dict:
        """batch.<op>.p50_s per mix op, family.<module>.s per pass."""
        out = {}
        fam: dict[str, float] = {}
        for name in BATCH_MIX:
            xs = self.samples.get(name, [])
            if xs:
                out[f"batch.{name}.p50_s"] = stats.summarize(xs)["p50"]
                fam[self.family(name)] = fam.get(self.family(name), 0.0) + sum(xs)
        passes = max(len(self.samples.get(BATCH_MIX[0], [])), 1)
        out.update({f"family.{f}.s": v / passes for f, v in fam.items()})
        return out


# ---- index_serve --------------------------------------------------------------


class IndexServe(Workload):
    """Reads against static at-rest indexes, plus one write slice per
    cycle against separate write-path copies (so the reads keep hitting
    the relation cache of a clean single-segment index)."""

    name = "index_serve"
    shape = SERVE_SHAPE
    slices = 1

    def build_indexes(self) -> None:
        sp = self.spark
        self.docs = sp.read.parquet(f"{self.data}/documents.parquet")
        with self.tr.span("retrieval.build"):
            self.bm25 = BM25Index.build(self.docs, f"{self.work}/bm25")
        with self.tr.span("similarity.build"):
            self.ivf = IVFIndex.build(sp.read.parquet(f"{self.data}/embeddings.parquet"),
                                      f"{self.work}/ivf")
        with self.tr.span("kv.build"):
            kv.synth_oplog(sp.read.parquet(f"{self.data}/events.parquet")).write.parquet(
                f"{self.work}/oplog")
        self.oplog = sp.read.parquet(f"{self.work}/oplog")
        self.kv_model_rows = inputs.oplog_rows(self.tables["events"])
        emb = self.tables["embeddings"]
        self.corpus_vecs = dict(zip(emb.column("vec_id").to_pylist(),
                                    emb.column("embedding").to_pylist()))
        self.at_rest_bytes = {"bm25": sum(files(f"{self.work}/bm25").values()),
                              "ivf": sum(files(f"{self.work}/ivf").values())}

    def setup_writes(self) -> None:
        """The write path: the tiered BM25 ingest over the served base
        index (new segments go to their own work dir; only ingested docs
        are ever deleted, so the base stays untouched), and copies of the
        IVF index and the op-log at rest."""
        if self.tr.enabled:
            self.trace_merges()
        shutil.copytree(f"{self.work}/ivf", f"{self.work}/ivf_w")
        shutil.copytree(f"{self.work}/oplog", f"{self.work}/oplog_w")
        self.ivf_w = IVFIndex(self.spark, f"{self.work}/ivf_w")
        self.ing = inputs.IngestStream(self.seed, INGEST_SHAPE,
                                       first_doc=10**6, first_vec=10**6, first_seq=2 * 10**7)
        dummy = self.spark.readStream.format("rate").load()  # builder unused
        self.bm_work = f"{self.work}/bm_work"
        _builder, self.holder = stream_ops.ingest_bm25_foreach_batch(self.bm25, dummy, self.bm_work)
        self.batch_id = 0
        self.live_docs: list[int] = []
        self.live_vecs: list[int] = []
        self.deleted_docs: set[int] = set()
        self.deleted_vecs: set[int] = set()
        self.vecs: dict[int, list[float]] = dict(self.corpus_vecs)
        self.kv_rows = list(self.kv_model_rows)
        self.user_bytes = (sum(len(t) for t in self.tables["documents"].column("text").to_pylist())
                           + 4 * inputs.DIM * len(self.corpus_vecs)
                           + sum(len(r[5] or "") for r in self.kv_rows))
        self.fresh: list[tuple[str, object, list | None, dict | None]] = []
        self.docs_ingested = 0
        self.g = inputs.rng(self.seed, "ingest_reads")

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.build_indexes()
        self.setup_writes()
        self.layers["session.cold_pass_s"] = time.perf_counter() - t0
        docs, emb = self.tables["documents"], self.tables["embeddings"]
        self.stream = inputs.RequestStream(
            self.seed,
            (docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()),
            (emb.column("vec_id").to_pylist(), emb.column("embedding").to_pylist()),
            SERVE_MIX, SERVE_SHAPE)
        self.served: list[tuple[inputs.Request, list | None, dict | None]] = []
        self.model = checks.kv_fold(self.kv_model_rows)

    def cycle(self, n: int) -> None:
        for _ in range(self.slices):
            self.write_slice()
        for req in self.stream.cycle():
            self.serve(req)

    # ---- reads

    def bm25_query(self, index, rows, k):
        with self.tr.span("retrieval.query"):
            with self.tr.span("registry.build"):
                df = index.query(self.df(rows, "query_id long, term string"), k)
            return self.materialize(df, "collect")

    def prf_query(self, index, rows, k):
        sh = self.shape
        with self.tr.span("retrieval.prf_expand"):
            with self.tr.span("registry.build"):
                qt = self.df(rows, "query_id long, term string")
                exp = prf_expand_terms(self.docs, qt, k_fb=sh["prf_k_fb"],
                                       n_expand=sh["prf_n_expand"], min_len=sh["prf_min_len"],
                                       ranker=lambda q, kk: index.query(q, kk))
                df = index.query(exp, k)
            return self.materialize(df, "collect")

    def ann_query(self, index, rows, k):
        with self.tr.span("similarity.query"):
            with self.tr.span("registry.build"):
                q = self.df(rows, "vec_id long, embedding array<float>")
                df = index.query(q, k=k, n_probe=self.shape["n_probe"])
            return self.materialize(df, "collect")

    def kv_get(self, oplog, keys):
        with self.tr.span("kv.fold"):
            with self.tr.span("registry.build"):
                df = kv.fold_state(oplog.filter(F.col("key").isin(keys)))
            return self.materialize(df, "collect")

    def serve(self, req: inputs.Request) -> None:
        k = self.shape["k"]
        fn = {
            "bm25": lambda: self.bm25_query(self.bm25, req.payload, k),
            "prf": lambda: self.prf_query(self.bm25, req.payload, k),
            "ann": lambda: self.ann_query(self.ivf, req.payload, self.shape["ann_k"]),
            "kv": lambda: self.kv_get(self.oplog, req.payload),
        }[req.kind]
        _ok, res, _, rec = self.run_op(req.kind, fn, timed=True)
        self.served.append((req, res, rec))

    # ---- writes

    def trace_merges(self) -> None:
        """Traced run only: a span around each segment merge the tiered
        ingest makes through the public ``BM25Index.merge``."""
        orig = BM25Index.merge
        tr = self.tr

        def merge(a, b, path):
            with tr.span("retrieval.merge"):
                return orig(a, b, path)

        BM25Index.merge = staticmethod(merge)

    def write_docs(self, d):
        with self.tr.span("stream_ops.ingest_batch"):
            with self.tr.span("registry.build"):
                df = self.df(list(zip(d["doc_id"], d["text"])), "doc_id long, text string")
            self.holder["_ingest"](df, self.batch_id)
        self.batch_id += 1

    def write_slice(self) -> None:
        """Documents through the tiered BM25 ingest, vectors through IVF
        add + compact, deletes of acknowledged ids, then fresh reads of
        new and deleted ids; a KV put/append batch (with retransmissions)
        appended to the op-log, then a fresh get."""
        sh = INGEST_SHAPE
        k = self.shape["k"]
        d = self.ing.docs()
        d["text"] = [f"{t} {fresh_token(i)}" for t, i in zip(d["text"], d["doc_id"])]
        ok, _, _, _ = self.run_op("ingest_docs", lambda: self.write_docs(d), True)
        if ok:
            self.live_docs += d["doc_id"]
            self.docs_ingested += len(d["doc_id"])
            self.user_bytes += sum(len(t) for t in d["text"])
        vecs = self.ing.vectors()

        def add():
            with self.tr.span("similarity.add"):
                self.ivf_w.add(self.df(vecs, "vec_id long, embedding array<float>"))
            with self.tr.span("similarity.compact"):
                self.ivf_w.compact_cells()

        ok, _, _, _ = self.run_op("ann_add", add, True)
        if ok:
            self.live_vecs += [v for v, _ in vecs]
            self.vecs.update(vecs)
            self.user_bytes += 4 * inputs.DIM * len(vecs)
        ddoc = self.ing.pick_deletes(self.live_docs, sh["deletes_per_slice"])
        dvec = self.ing.pick_deletes(self.live_vecs, sh["deletes_per_slice"])

        def delete():
            with self.tr.span("retrieval.delete"):
                self.holder["index"].delete(ddoc)
            with self.tr.span("similarity.delete"):
                self.ivf_w.delete(dvec)

        ok, _, _, _ = self.run_op("delete", delete, True)
        if ok:
            self.deleted_docs |= set(ddoc)
            self.deleted_vecs |= set(dvec)
            self.live_docs = [x for x in self.live_docs if x not in self.deleted_docs]
            self.live_vecs = [x for x in self.live_vecs if x not in self.deleted_vecs]
        new = [x for x in d["doc_id"] if x not in self.deleted_docs]
        probe = sorted(int(x) for x in self.g.choice(new, size=min(sh["docs_probed"], len(new)),
                                                     replace=False))
        rows = [(i, fresh_token(i)) for i in probe + ddoc]
        _ok, res, _, rec = self.run_op(
            "fresh_bm25", lambda: self.bm25_query(self.holder["index"], rows, k), True)
        self.fresh.append(("docs", (probe, ddoc), res, rec))
        # each new vector is its own nearest neighbour; a deleted one is
        # never served, even to itself
        qv = [(v + 10**7, self.vecs[v]) for v in
              [v for v, _ in vecs if v not in self.deleted_vecs][: sh["vectors_probed"]] + dvec]
        _ok, res, _, rec = self.run_op(
            "fresh_ann", lambda: self.ann_query(self.ivf_w, qv, self.shape["ann_k"]), True)
        self.fresh.append(("vecs", qv, res, rec))
        ops = self.ing.kv_ops()

        def append():
            with self.tr.span("kv.append"):
                self.df(ops, "seq long, client long, reqid long, op string, key string, value string"
                        ).write.mode("append").parquet(f"{self.work}/oplog_w")

        ok, _, _, _ = self.run_op("kv_append", append, True)
        if ok:
            self.kv_rows += ops
            self.user_bytes += sum(len(r[5]) for r in ops)
        keys = sorted({r[4] for r in ops[: sh["keys_per_get"]]})
        oplog = self.spark.read.parquet(f"{self.work}/oplog_w")
        _ok, res, _, rec = self.run_op("fresh_kv", lambda: self.kv_get(oplog, keys), True)
        self.fresh.append(("kv", (keys, checks.kv_fold(self.kv_rows)), res, rec))

    def window(self, cycle) -> None:
        before = files(self.work)
        stats0 = dict(self.holder["stats"])
        docs0 = self.docs_ingested
        super().window(cycle)
        after = files(self.work)
        new = [p for p in after if p not in before]
        cycles = max(len(self.samples.get("ingest_docs", [])), 1)
        self.ingest_layers = {
            "stream_ops.merges": (self.holder["stats"]["merges"] - stats0["merges"]) / cycles,
            "stream_ops.rows_written_per_doc":
                (self.holder["stats"]["rows_written"] - stats0["rows_written"])
                / max(self.docs_ingested - docs0, 1),
            "stream_ops.live_segments": len(self.holder["index"].segments),
            # files created in the window that are still on disk at its end
            "storage.bytes_written": sum(after[p] for p in new) / cycles,
            "storage.files_written": len(new) / cycles,
        }
        # the write path's structures at rest (the served base BM25
        # index is also the ingest's first segment)
        self.stored_bytes = sum(v for p, v in after.items()
                                if not p.startswith((f"{self.work}/ivf/", f"{self.work}/oplog/")))

    # ---- checks

    def layer_extras(self, ops) -> dict:
        """Bytes read per serve over the index's bytes at rest, and the
        write path's figures."""
        out = {}
        for kinds, name, idx in ((("bm25", "prf"), "retrieval.read_frac", "bm25"),
                                 (("ann",), "similarity.read_frac", "ivf")):
            sel = [o for o in ops if o.name in kinds]
            if sel:
                read = sum(o.attrs.get("stages", {}).get("input", 0) for o in sel) / len(sel)
                out[name] = read / self.at_rest_bytes[idx]
        return {**out, **self.ingest_layers}

    def ivf_at_rest(self) -> tuple[dict, dict]:
        """(centroids, cells) of the served IVF index, read from disk."""
        cents = pq.read_table(f"{self.work}/ivf/centroids").to_pylist()
        cells: dict = {}
        for r in pq.read_table(f"{self.work}/ivf/cells").to_pylist():
            cells.setdefault(int(r["cell_id"]), []).append((r["neighbor_id"], r["cvec_"]))
        return {int(r["cell_id"]): r["cvec"] for r in cents}, cells

    def check(self) -> None:
        self.check_reads()
        self.check_writes()

    def check_reads(self) -> None:
        k, sh = self.shape["k"], self.shape
        # one bm25_topk over every BM25 batch and every two-pass PRF
        # expansion (query ids are unique across requests)
        want: dict = {}
        rows = {kind: [r for req, _, _ in self.served if req.kind == kind for r in req.payload]
                for kind in ("bm25", "prf")}
        if rows["bm25"] or rows["prf"]:
            schema = "query_id long, term string"
            qt = self.df(rows["bm25"], schema)
            if rows["prf"]:
                qt = qt.unionByName(prf_expand_terms(
                    self.docs, self.df(rows["prf"], schema), k_fb=sh["prf_k_fb"],
                    n_expand=sh["prf_n_expand"], min_len=sh["prf_min_len"]))
            want = checks.by_query([tuple(r) for r in bm25_topk(self.docs, qt, k).collect()])
        queries = {q: v for req, _, _ in self.served if req.kind == "ann" for q, v in req.payload}
        if queries:
            want_ann = checks.ivf_topk(queries, *self.ivf_at_rest(), sh["ann_k"], sh["n_probe"])
        for req, res, rec in self.served:
            if res is None:
                continue  # raised: already counted
            if req.kind in ("bm25", "prf"):
                got = checks.by_query(res)
                ok = set(got) <= set(req.ids) and all(
                    checks.rows_equal(got.get(q, []), want.get(q, [])) for q in req.ids)
            elif req.kind == "ann":
                ok = checks.ann_equal(res, req.ids, want_ann, sh["ann_k"])
            else:
                ok = checks.kv_get_ok(res, req.payload, self.model)
            self.verdict(rec, ok)

    def check_writes(self) -> None:
        ann_k = self.shape["ann_k"]
        for what, arg, res, rec in self.fresh:
            if res is None:
                continue  # raised: already counted
            if what == "docs":
                present, absent = arg
                got = checks.by_query(res)
                ok = (all([(r[1], r[4]) for r in got.get(i, [])] == [(i, 1)] for i in present)
                      and not any(i in got for i in absent))
            elif what == "vecs":
                got = checks.by_query(res)
                ok = (set(got) == {q for q, _ in arg}
                      and all(len(rs) == ann_k for rs in got.values())
                      and checks.ranking_ok(res, 0, 1, 2, 3, ann_k, self.deleted_vecs)
                      and all(any(r[1] == q - 10**7 and r[3] == 1 for r in got[q])
                              for q, _ in arg if q - 10**7 not in self.deleted_vecs))
            else:
                keys, model = arg
                ok = checks.kv_get_ok(res, keys, model)
            self.verdict(rec, ok)
        self.bad_checks += 0 if self.check_latest() else 1

    def check_latest(self) -> bool:
        """LATEST names exactly the live segments the fresh reads were
        served from (the full reopen-and-serve check is index_ingest's)."""
        with open(f"{self.bm_work}/LATEST") as fh:
            paths = [p.strip() for p in fh if p.strip()]
        return paths == self.holder["index"].paths



def fresh_token(i: int) -> str:
    """A letters-only token unique to ingested doc ``i``."""
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(97 + r) + s
    return "zq" + s


class IndexIngest(IndexServe):
    """The write path alone: ``INGEST_SLICES`` write slices per cycle,
    each followed by its fresh reads; no static-index reads."""

    name = "index_ingest"
    slices = INGEST_SLICES

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.build_indexes()
        self.setup_writes()
        self.layers["session.cold_pass_s"] = time.perf_counter() - t0
        self.served = []

    def cycle(self, n: int) -> None:
        for _ in range(self.slices):
            self.write_slice()

    def check(self) -> None:
        self.check_writes()

    def check_latest(self) -> bool:
        """Reopen the segment set from LATEST: every acknowledged,
        undeleted doc is served; no deleted doc is."""
        with open(f"{self.bm_work}/LATEST") as fh:
            reopened = BM25SegmentSet([BM25Index(self.spark, p.strip()) for p in fh if p.strip()])
        ids = self.live_docs + sorted(self.deleted_docs)
        res = self.bm25_query(reopened, [(i, fresh_token(i)) for i in ids], self.shape["k"]) if ids else []
        got = checks.by_query(res)
        return all(
            [(r[1], r[4]) for r in got.get(i, [])] == ([] if i in self.deleted_docs else [(i, 1)])
            for i in ids
        )


def files(path: str) -> dict[str, int]:
    """File path -> size, for every file under ``path``."""
    out = {}
    for d, _dirs, names in os.walk(path):
        for n in names:
            full = os.path.join(d, n)
            out[full] = os.path.getsize(full)
    return out


WORKLOADS = {w.name: w for w in (BatchQueries, IndexServe, IndexIngest)}
