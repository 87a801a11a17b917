"""Seeded inputs for every workload.

Everything the engine receives comes from here, derived from the run's
``--seed`` alone: the fixture-schema tables, the batch pass order, the
serve request stream (BM25 and PRF query sets, ANN query vectors,
Zipf-skewed KV keys) and the ingest stream (document, vector
and KV batches with fresh ids, delete choices). The same seed gives the
same inputs in any process; each input dimension draws from its own
named stream, so adding a dimension never shifts another.

Pure Python + NumPy + pyarrow; no Spark.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes: the fixture generator's sf0.01 row counts. Big enough
# that every mix query does real shuffle work, small enough that a run
# stays scheduling-bound the way sf0.1 is on 4 cores.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

VOCAB = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row the"
    " agg key query a scan batch"
).split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.14), ("de", 0.14), ("fr", 0.13))
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
P_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "old"]
P_NOUN = ["ring", "widget", "bolt", "gear", "nut", "pipe", "valve", "spring"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64
N_LABELS = 10
KV_KEYS = 50  # kv.synth_oplog's default n_keys
KV_DUP_EVERY = 17  # kv.synth_oplog's default dup_every
KV_DUP_SEQ_SHIFT = 10_000_000


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator for one named input dimension."""
    h = random.Random(f"{seed}/{stream}").getrandbits(64)
    return np.random.default_rng(h)


# ---------------------------------------------------------------- tables

def _days(start: str, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us") + offsets.astype("timedelta64[D]")
    return pa.array(base, pa.timestamp("us"))


def _money(g: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(g.uniform(lo, hi, n), 2)


def make_documents(seed: int, n: int, first_id: int = 0, stream: str = "documents"):
    """The documents columns (doc_id, text, lang, source, n_chars) as
    Python lists, ids from ``first_id``."""
    g = rng(seed, stream)
    lens = g.integers(10, 101, n)
    words = g.integers(0, len(VOCAB), int(lens.sum()))
    dups = g.random(n) < 0.05
    langs = g.choice([c for c, _ in LANGS], n, p=[w for _, w in LANGS])
    ids, texts, pos = [], [], 0
    for i in range(n):
        t = " ".join(VOCAB[w] for w in words[pos : pos + lens[i]])
        pos += lens[i]
        if dups[i]:
            t += " dup"
        ids.append(first_id + i)
        texts.append(t)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [str(x) for x in langs],
        "source": [f"src{d % 20}" for d in ids],
        "n_chars": [len(t) for t in texts],
    }


def label_centers(seed: int) -> np.ndarray:
    c = rng(seed, "centers").normal(size=(N_LABELS, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def make_vectors(seed: int, n: int, stream: str) -> tuple[np.ndarray, np.ndarray]:
    """Unit float32 vectors loosely clustered around N_LABELS centers
    (cluster-mean norm ≈ 0.14, the fixture's)."""
    g = rng(seed, stream)
    labels = g.integers(0, N_LABELS, n)
    v = 0.14 * np.sqrt(DIM) * label_centers(seed)[labels] + g.normal(size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return v, labels.astype(np.int32)


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten fixture tables, with the fixture schemas."""
    s = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    g = rng(seed, "customer")
    n = s["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(g.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(g, -999.99, 9999.99, n),
            "c_mktsegment": g.choice(SEGMENTS, n).tolist(),
        }
    )
    g = rng(seed, "supplier")
    n = s["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(g.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(g, -999.99, 9999.99, n),
        }
    )
    g = rng(seed, "part")
    n = s["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(g.integers(0, 8, n), g.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n)],
            "p_type": g.choice(P_TYPES, n).tolist(),
            "p_size": pa.array(g.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 1),
        }
    )
    g = rng(seed, "orders")
    n = s["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array(g.integers(0, s["customer"], n), pa.int64()),
            "o_orderstatus": g.choice(["F", "O", "P"], n).tolist(),
            "o_totalprice": _money(g, 1000, 500000, n),
            "o_orderdate": _days("1995-01-01", g.integers(0, 2400, n)),
            "o_orderpriority": g.choice(PRIORITIES, n).tolist(),
        }
    )
    g = rng(seed, "lineitem")
    n = s["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(g.integers(0, s["orders"], n), pa.int64()),
            "l_partkey": pa.array(g.integers(0, s["part"], n), pa.int64()),
            "l_suppkey": pa.array(g.integers(0, s["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(g.integers(1, 8, n), pa.int32()),
            "l_quantity": g.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(g, 900, 105000, n),
            "l_discount": g.integers(0, 11, n) / 100.0,
            "l_tax": g.integers(0, 9, n) / 100.0,
            "l_returnflag": g.choice(["R", "A", "N"], n).tolist(),
            "l_linestatus": g.choice(["O", "F"], n).tolist(),
            "l_shipdate": _days("1995-01-02", g.integers(0, 2499, n)),
        }
    )
    out["events"] = pa.table(events_columns(seed))
    d = make_documents(seed, s["documents"])
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(d["doc_id"], pa.int64()),
            "text": d["text"],
            "lang": d["lang"],
            "source": d["source"],
            "n_chars": pa.array(d["n_chars"], pa.int64()),
        }
    )
    v, labels = make_vectors(seed, s["embeddings"], "embeddings")
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(s["embeddings"]), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def events_columns(seed: int) -> dict:
    g = rng(seed, "events")
    n = SIZES["events"]
    gaps = g.exponential(30 * 86400e6 / n, n).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    return {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, 150, n), pa.int64()),
        "event_type": g.choice(EVENT_TYPES, n).tolist(),
        "value": np.maximum(np.round(g.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n)],
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")


# ------------------------------------------------------------ KV op-log


def oplog_rows(events: pa.Table) -> list[tuple]:
    """Python twin of ``kv.synth_oplog`` (seq, client, reqid, op, key,
    value), retransmissions included — the model the KV checks fold."""
    ids = events.column("event_id").to_pylist()
    users = events.column("user_id").to_pylist()
    types = events.column("event_type").to_pylist()
    rows = []
    for eid, uid, et in zip(ids, users, types):
        op = "put" if et in ("purchase", "signup") else "get" if et == "error" else "append"
        val = None if op == "get" else f"x{uid}.{eid}y"
        rows.append((eid, uid, eid, op, str(uid % KV_KEYS), val))
    dups = [
        (r[0] + KV_DUP_SEQ_SHIFT,) + r[1:] for r in rows if r[2] % KV_DUP_EVERY == 0
    ]
    return rows + dups


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


# ------------------------------------------------------ request streams


@dataclass
class Request:
    kind: str  # bm25 | ann | prf | kv
    payload: object
    ids: list[int] = field(default_factory=list)  # query ids it serves


def doc_tokens(texts: list[str]) -> list[list[str]]:
    """``ascii_tokens(text, lowercase=True)`` in Python."""
    return [[t for t in re.split("[^a-z]+", x.lower()) if t] for x in texts]


def first_terms(tokens: list[str], n_terms: int) -> list[str]:
    """``retrieval.query_terms_from_docs``: the distinct terms among a
    document's first ``n_terms`` tokens."""
    return sorted(set(tokens[:n_terms]))


class RequestStream:
    """Seeded read requests in the shapes of the engine's own serve
    callers. ``cycle()`` returns one cycle: the fixed per-cycle ``mix``
    (kind -> count) in a seeded order.

    - bm25 / prf: the query set of ``bm25_topk_docs`` and
      ``prf_bm25_fixed`` — ``query_terms_from_docs`` over the documents
      with ``doc_id % 100 == r`` (1% of the corpus), ``r`` drawn per
      request; each request gets run-unique query ids.
    - ann: the query set of ``topk_cosine_ivf`` — the corpus vectors
      with ``vec_id % 100 == r``, served under their own ids (so a
      query never returns itself).
    - kv: one Get of one key (``kv_get_results``' Get), keys drawn
      Zipf-skewed."""

    def __init__(self, seed: int, docs: tuple[list[int], list[str]],
                 vectors: tuple[list[int], list], mix: dict[str, int], shape: dict):
        self.seed = seed
        self.doc_ids, self.tokens = docs[0], doc_tokens(docs[1])
        self.vec_ids, self.vecs = vectors
        self.mix = mix
        self.shape = shape
        self.g = rng(seed, "requests")
        self.key_rank = rng(seed, "kv_key_rank").permutation(KV_KEYS)
        self.zipf = zipf_weights(KV_KEYS, shape["kv_zipf_s"])
        self.next_qid = 1_000_000

    def _residue(self) -> int:
        return int(self.g.integers(0, self.shape["query_mod"]))

    def make(self, kind: str) -> Request:
        g, sh = self.g, self.shape
        if kind in ("bm25", "prf"):
            r = self._residue()
            rows, qids = [], []
            for d, toks in zip(self.doc_ids, self.tokens):
                if d % sh["query_mod"] == r:
                    q = self.next_qid
                    self.next_qid += 1
                    qids.append(q)
                    rows += [(q, t) for t in first_terms(toks, sh["terms_per_query"])]
            return Request(kind, rows, qids)
        if kind == "ann":
            r = self._residue()
            rows = [(v, vec) for v, vec in zip(self.vec_ids, self.vecs)
                    if v % sh["query_mod"] == r]
            return Request(kind, rows, [v for v, _ in rows])
        if kind == "kv":
            ranks = g.choice(KV_KEYS, size=sh["keys_per_get"], replace=False, p=self.zipf)
            return Request(kind, sorted(str(int(self.key_rank[r])) for r in ranks))
        raise ValueError(kind)

    def cycle(self) -> list[Request]:
        kinds = [k for k, n in self.mix.items() for _ in range(n)]
        order = self.g.permutation(len(kinds))
        return [self.make(kinds[i]) for i in order]


def pass_order(seed: int, ops: list[str], n_pass: int) -> list[str]:
    """The batch mix in a seeded order for pass ``n_pass``."""
    g = rng(seed, f"pass/{n_pass}")
    return [ops[i] for i in g.permutation(len(ops))]


# --------------------------------------------------------- ingest stream


class IngestStream:
    """Seeded writes: document and vector batches with fresh ids, KV
    put/append batches with duplicate (client, reqid) retransmissions,
    and delete choices among acknowledged, still-live ids."""

    def __init__(self, seed: int, shape: dict, first_doc: int, first_vec: int, first_seq: int):
        self.seed = seed
        self.shape = shape
        self.g = rng(seed, "ingest")
        self.next_doc = first_doc
        self.next_vec = first_vec
        self.next_seq = first_seq
        self.n_batch = 0

    def docs(self) -> dict:
        n = self.shape["docs_per_batch"]
        d = make_documents(self.seed, n, self.next_doc, f"ingest_docs/{self.n_batch}")
        self.next_doc += n
        self.n_batch += 1
        return d

    def vectors(self) -> list[tuple[int, list[float]]]:
        n = self.shape["vectors_per_batch"]
        v, _ = make_vectors(self.seed, n, f"ingest_vecs/{self.next_vec}")
        ids = range(self.next_vec, self.next_vec + n)
        self.next_vec += n
        return [(i, vec.tolist()) for i, vec in zip(ids, v)]

    def kv_ops(self) -> list[tuple]:
        """(seq, client, reqid, op, key, value) puts/appends; every
        ``kv_dup_every``-th op is delivered twice (same client/reqid,
        later seq)."""
        g, sh = self.g, self.shape
        rows = []
        for _ in range(sh["kv_ops_per_batch"]):
            seq = self.next_seq
            self.next_seq += 1
            client = int(g.integers(0, 150))
            op = "put" if g.random() < 0.3 else "append"
            key = str(int(g.integers(0, KV_KEYS)))
            rows.append((seq, client, seq, op, key, f"w{client}.{seq}z"))
        dups = [
            (self.next_seq + i,) + r[1:]
            for i, r in enumerate(rows[:: sh["kv_dup_every"]])
        ]
        self.next_seq += len(dups)
        return rows + dups

    def pick_deletes(self, live: list[int], n: int) -> list[int]:
        if not live:
            return []
        idx = self.g.choice(len(live), size=min(n, len(live)), replace=False)
        return sorted(live[i] for i in idx)
