"""Output checks. Each runs outside the timed window and returns True
when the engine's output is right; a False counts the op as failed.

The reference results come from independent paths: the DuckDB oracle
for declared queries and MRJob apps, ``bm25_topk`` and the two-pass
PRF for served rankings, and Python models for KV state and for which
ids may be served.
"""

from __future__ import annotations

import math

import numpy as np

from tests.parity import _normalize


def rows_equal(got: list[tuple], want: list[tuple]) -> bool:
    """Same multiset of rows (exact values)."""
    return sorted(map(repr, got)) == sorted(map(repr, want))


def by_query(rows: list[tuple], qpos: int = 0) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r[qpos], []).append(r)
    return out


# ---- declared queries and MRJob apps --------------------------------------


def oracle_equal(s_cols, s_rows, d_cols, d_rows) -> bool:
    """tests/parity.py's comparison: same column names, same row
    count, equal values after sorting columns by name and rows."""
    if sorted(s_cols) != sorted(d_cols) or len(s_rows) != len(d_rows):
        return False
    return _normalize(list(s_cols), s_rows) == _normalize(list(d_cols), d_rows)


def mr_equal(kv_rows: list[tuple], want: dict[str, str]) -> bool:
    """MRJob (key, value) output against the declared app's result."""
    got = {k: v for k, v in kv_rows}
    return len(got) == len(kv_rows) and got == want


# ---- KV --------------------------------------------------------------------


def kv_fold(oplog: list[tuple]) -> dict[str, str]:
    """Put/Append state per key with at-most-once dedup: only the
    lowest-seq delivery of each (client, reqid) applies; Put replaces,
    Append concatenates, Get never mutates. Keys never written are
    absent (``kv.fold_state`` emits only written keys)."""
    first: dict[tuple, tuple] = {}
    for r in oplog:
        k = (r[1], r[2])
        if k not in first or r[0] < first[k][0]:
            first[k] = r
    state: dict[str, str] = {}
    for seq, _c, _r, op, key, val in sorted(first.values()):
        if op == "put":
            state[key] = val
        elif op == "append":
            state[key] = state.get(key, "") + val
    return state


def kv_get_ok(rows: list[tuple], keys: list[str], model: dict[str, str]) -> bool:
    want = sorted((k, model[k]) for k in keys if k in model)
    return sorted((r[0], r[1]) for r in rows) == want


# ---- rankings --------------------------------------------------------------


def ranking_ok(rows: list[tuple], qpos: int, ipos: int, spos: int, rpos: int,
               k: int, banned: set) -> bool:
    """Structural top-k checks: per query at most k rows, ranks 1..n
    in score order (desc, ties by id asc), no banned id."""
    for q, rs in by_query(rows, qpos).items():
        rs = sorted(rs, key=lambda r: r[rpos])
        if len(rs) > k or [r[rpos] for r in rs] != list(range(1, len(rs) + 1)):
            return False
        keys = [(-r[spos], r[ipos]) for r in rs]
        if keys != sorted(keys) or any(r[ipos] in banned for r in rs):
            return False
    return True


FX = 1_000_000  # similarity.FX, the fixed-point scale of _fx_dot


def fx_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``similarity._fx_dot`` of each row of ``a`` (n, d) with ``b``
    (d,): the sum of each product scaled by FX and rounded half away
    from zero (Spark's ``round``), as exact int64."""
    p = (a.astype(np.float64) * b.astype(np.float64)) * FX
    return np.where(p >= 0, np.floor(p + 0.5), -np.floor(-p + 0.5)).astype(np.int64).sum(axis=1)


def ivf_topk(queries: dict, centroids: dict, cells: dict, k: int, n_probe: int) -> dict:
    """``IVFIndex.query`` recomputed in NumPy from the index at rest.

    ``centroids``: cell_id -> centroid; ``cells``: cell_id -> list of
    (neighbor_id, vector). Each query probes its ``n_probe`` cells of
    highest fixed-point affinity (ties: lower cell_id), scores every
    vector of those cells except itself by ``cosine_fx`` and keeps the
    top ``k`` (score desc, neighbor_id asc). Returns query_id -> list
    of (neighbor_id, score, rank)."""
    cids = sorted(centroids)
    cmat = np.array([centroids[c] for c in cids])
    out = {}
    for q, qv in queries.items():
        qv = np.asarray(qv)
        aff = fx_dot(cmat, qv)
        probed = sorted(range(len(cids)), key=lambda i: (-aff[i], cids[i]))[:n_probe]
        cand = {nid: v for i in probed for nid, v in cells.get(cids[i], []) if nid != q}
        ids = sorted(cand)
        m = np.array([cand[i] for i in ids]).reshape(len(ids), len(qv))
        self_m = np.array([fx_dot(v[None, :], v)[0] for v in m], np.float64)
        score = fx_dot(m, qv) / (np.sqrt(float(fx_dot(qv[None, :], qv)[0])) * np.sqrt(self_m))
        best = sorted(range(len(ids)), key=lambda j: (-score[j], ids[j]))[:k]
        out[q] = [(ids[j], float(score[j]), r + 1) for r, j in enumerate(best)]
    return out


def ann_equal(rows: list[tuple], qids: list, want: dict, k: int, tol: float = 1e-9) -> bool:
    """A served ANN batch against its reference: exactly ``k`` rows
    for every query id of the request and none for any other, the same
    neighbours at the same ranks, and the same cosine within ``tol``."""
    got = by_query(rows)
    if set(got) != set(qids):
        return False
    for q in qids:
        rs = sorted(got[q], key=lambda r: r[3])
        if len(rs) != k or len(want.get(q, [])) != k:
            return False
        for (_q, nb, score, rank), (wnb, wscore, wrank) in zip(rs, want[q]):
            if (nb, rank) != (wnb, wrank) or not math.isclose(score, wscore, abs_tol=tol):
                return False
    return True
