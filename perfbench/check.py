"""Correctness checks, run outside the timed passes and outside setup_s.

- Registry queries with an oracle: a hash of the sorted, normalized rows
  (the normalization of ``tools/oracle_check.py``) must equal the hash of
  the DuckDB oracle's rows over the same seeded tables, and the query's
  ``post_check`` must pass. Oracle hashes are cached per (query, oracle
  SQL, seed) under ``perfbench/.cache``, because some oracles take far
  longer than the query.
- Rows-only queries: the hash must repeat (across passes, and between
  the cold and steady IVF arms).
- Matmul: each product's checksum (nnz, Σv, Σi·v, Σj·v) must match a
  numpy product of the same operands built from lineitem with numpy.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys

import numpy as np

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")


def normalize(rows, colnames):
    """Sort columns by name, stringify values with float normalization,
    sort the rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else f"{v + 0.0:.9g}")  # +0.0 folds -0.0
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return out


def rows_hash(rows, colnames) -> str:
    h = hashlib.sha256()
    for line in normalize(rows, colnames):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


class Cache:
    """One JSON file of memoized reference results per (workload, seed).

    Missing references are computed in one child process that is waited
    for, so the numpy and DuckDB working sets never count toward the run's
    peak RSS, which would otherwise differ between a cold and a warm cache.
    (A plain child, not a multiprocessing pool: a pool also starts a
    resource tracker that outlives the run by a moment.)"""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(CACHE_DIR, f"{workload}-seed{seed}.json")
        try:
            with open(self.path) as f:
                self.data = json.load(f)
        except (OSError, ValueError):
            self.data = {}

    def fill(self, fn, jobs: dict) -> dict:
        """Return {key: reference} for ``jobs`` {key: args}; the missing
        ones come from ``fn({key: args})`` run in a child process."""
        missing = {k: a for k, a in jobs.items() if k not in self.data}
        if missing:
            self.data.update(in_child(fn, missing))
            os.makedirs(CACHE_DIR, exist_ok=True)
            tmp = f"{self.path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.data, f)
            os.replace(tmp, self.path)
        return {k: self.data[k] for k in jobs}


def in_child(fn, jobs: dict) -> dict:
    """``fn(jobs)`` computed by this module run as a script in a child
    Python process; arguments and result travel as JSON."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), fn.__name__],
        input=json.dumps(jobs),
        stdout=subprocess.PIPE,
        text=True,
        check=True,
    )
    return json.loads(out.stdout)


def oracle_key(name: str, sql: str) -> str:
    return f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"


def oracle_references(jobs: dict) -> dict:
    """{key: (sql, sf_dir, tables)} -> {key: {cols, rows, hash}} via DuckDB."""
    import duckdb

    out = {}
    for key, (sql, sf_dir, tables) in jobs.items():
        con = duckdb.connect()
        try:
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
        finally:
            con.close()
        out[key] = {"cols": sorted(cols), "rows": len(rows), "hash": rows_hash(rows, cols)}
    return out


def check_query(query, rows, cols, sf_dir, ref) -> str | None:
    """None when the Spark rows pass the query's post_check and match the
    oracle reference ``ref`` (None for a rows-only query), else the reason."""
    pc = query.post_check
    if pc is not None:
        code = getattr(pc, "__code__", None)
        msg = pc(rows, list(cols), sf_dir) if code is not None and code.co_argcount >= 3 else pc(rows, list(cols))
        if msg:
            return f"post_check: {msg}"
    if ref is None:
        return None
    if sorted(cols) != ref["cols"]:
        return f"columns {sorted(cols)} vs oracle {ref['cols']}"
    if len(rows) != ref["rows"]:
        return f"{len(rows)} rows vs oracle {ref['rows']}"
    if rows_hash(rows, cols) != ref["hash"]:
        return "row hash differs from the oracle's"
    return None


# ---------------------------------------------------------------- matmul


def reference_operand(sf_dir: str, n: int, shift: int, mod: int | None = None):
    """(i, j, v) arrays of inputs.mat_from_lineitem computed with numpy;
    ``mod`` keeps the cells with (i·n + j) % mod == 0."""
    import pyarrow.parquet as pq

    li = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey", "l_quantity"])
    i = (li["l_orderkey"].to_numpy() + shift) % n
    j = (li["l_partkey"].to_numpy() + 3 * shift) % n
    cells, inv = np.unique(i * n + j, return_inverse=True)
    v = np.bincount(inv, weights=li["l_quantity"].to_numpy())
    if mod is not None:
        keep = cells % mod == 0
        cells, v = cells[keep], v[keep]
    return cells // n, cells % n, v


def matmul_references(jobs: dict) -> dict:
    """{key: (sf_dir, spec_a, spec_b)} with spec = (n, shift, mod) ->
    {key: {checksum, partials}}."""
    out = {}
    for key, (sf_dir, spec_a, spec_b) in jobs.items():
        checksum, partials = coo_product(reference_operand(sf_dir, *spec_a), reference_operand(sf_dir, *spec_b))
        out[key] = {"checksum": checksum, "partials": partials}
    return out


def coo_product(a, b) -> tuple[dict, int]:
    """Checksum of C = A·B with C(i,j) = round(Σ_k A(i,k)·B(k,j), 6) over
    structurally touched cells (the join strategy's semantics), and the
    exact partial-product count. ``a`` and ``b`` are (i, j, v) arrays."""
    ai, ak, av = (np.asarray(x) for x in a)
    bk, bj, bv = (np.asarray(x) for x in b)
    order = np.argsort(bk, kind="stable")
    bk, bj, bv = bk[order], bj[order], bv[order]
    lo = np.searchsorted(bk, ak, side="left")
    hi = np.searchsorted(bk, ak, side="right")
    cnt = hi - lo
    partials = int(cnt.sum())
    rep = np.repeat(np.arange(len(ak)), cnt)
    # position inside each A entry's B run: global index minus run start
    starts = np.repeat(np.cumsum(cnt) - cnt, cnt)
    bpos = np.repeat(lo, cnt) + (np.arange(partials) - starts)
    ci = ai[rep]
    cj = bj[bpos]
    n = int(max(ci.max(initial=0), cj.max(initial=0))) + 1
    cells, inv = np.unique(ci.astype(np.int64) * n + cj, return_inverse=True)
    v = np.round(np.bincount(inv, weights=av[rep] * bv[bpos], minlength=len(cells)), 6)
    i, j = cells // n, cells % n
    checksum = {
        "nnz": int(len(cells)),
        "sum_v": float(v.sum()),
        "sum_iv": float((i * v).sum()),
        "sum_jv": float((j * v).sum()),
    }
    return checksum, partials


def checksum_matches(got: dict, want: dict, rel: float = 1e-9) -> str | None:
    if got["nnz"] != want["nnz"]:
        return f"nnz {got['nnz']} vs {want['nnz']}"
    for k in ("sum_v", "sum_iv", "sum_jv"):
        g, w = got[k], want[k]
        if not math.isclose(g, w, rel_tol=rel, abs_tol=1e-6):
            return f"{k} {g!r} vs {w!r}"
    return None


if __name__ == "__main__":
    # child side of in_child: jobs as JSON on stdin, result as JSON on stdout
    fn = {f.__name__: f for f in (oracle_references, matmul_references)}[sys.argv[1]]
    json.dump(fn(json.load(sys.stdin)), sys.stdout)
