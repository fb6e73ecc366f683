"""Output checks, run outside the timed region.

Operations with an oracle are compared with their ``oracle_sql()`` query
on DuckDB, using the order-insensitive normalisation of
``tools/check_correctness.py``. The table commits of ``job_analytics``
are replayed batch by batch in DuckDB and every table read is compared
with the replica's state. The vector index of ``corpus_curation`` must
hold every vector once, and its answers are scored against a numpy
brute-force cosine search.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workloads import ORDERS_COLS, Output, merge_batch

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def load_normalize(root: str):
    """``normalize(rows, cols)`` from the repo's correctness tool."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def digest(norm: list[tuple]) -> str:
    return hashlib.sha1(repr(norm).encode()).hexdigest()


class Checker:
    def __init__(self, root: str, data_dir: str, oracle_sql: dict[str, str]):
        self.normalize = load_normalize(root)
        self.oracle_sql = oracle_sql
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'"
            )
        self._expected: dict[str, tuple[list[str], int, str]] = {}
        self._first: dict[str, str] = {}

    def close(self) -> None:
        self.con.close()

    def oracle(self, name: str, out: Output) -> str | None:
        if name not in self._expected:
            res = self.con.execute(self.oracle_sql[name])
            cols = [d[0] for d in res.description]
            norm = self.normalize(res.fetchall(), cols)
            self._expected[name] = (cols, len(norm), digest(norm))
        cols, n, want = self._expected[name]
        if sorted(cols) != sorted(out.cols):
            return f"schema {sorted(out.cols)} != oracle {sorted(cols)}"
        if len(out.rows) != n:
            return f"rowcount {len(out.rows)} != oracle {n}"
        got = digest(self.normalize(out.rows, out.cols))
        return None if got == want else "values differ from oracle"

    def repeatable(self, name: str, out: Output) -> str | None:
        """Ops without an oracle: non-empty, and the same rows every time
        the run executes them on the same inputs."""
        if not out.rows:
            return "empty output"
        got = digest(self.normalize(out.rows, out.cols))
        want = self._first.setdefault(name, got)
        return None if got == want else "output differs from the first execution"

    # ---------------------------------------------------------------- replay

    def replay_mutations(self, orders_pd, steps: list[dict], outs: list[Output | None],
                         scratch: str) -> tuple[list[str | None], dict]:
        """Apply ``steps`` to a DuckDB copy of ``orders``; compare each read
        with the replica and size the logical bytes each write changed.
        Returns one failure (or None) per step, and byte totals."""
        con = self.con
        con.execute("DROP TABLE IF EXISTS replica")
        con.execute(f"CREATE TABLE replica AS SELECT {', '.join(ORDERS_COLS)} FROM orders")
        fails: list[str | None] = []
        changed = 0
        for step, out in zip(steps, outs):
            kind, err = step["op"], None
            if kind == "merge":
                batch = merge_batch(orders_pd, step)
                changed += parquet_bytes(pa.Table.from_pandas(batch, preserve_index=False), scratch)
                con.register("batch_src", batch)
                con.execute("DELETE FROM replica WHERE o_orderkey IN (SELECT o_orderkey FROM batch_src)")
                con.execute(f"INSERT INTO replica SELECT {', '.join(ORDERS_COLS)} FROM batch_src")
                con.unregister("batch_src")
            elif kind == "delete":
                cond = f"o_orderkey >= {step['lo']} AND o_orderkey < {step['hi']}"
                gone = con.execute(f"SELECT * FROM replica WHERE {cond}").fetch_arrow_table()
                changed += parquet_bytes(gone, scratch)
                con.execute(f"DELETE FROM replica WHERE {cond}")
            elif kind in ("point_read", "full_read") and out is not None:
                where = f"WHERE o_custkey = {step['custkey']}" if kind == "point_read" else ""
                want = con.execute(f"SELECT * FROM replica {where}").fetchall()
                if self.normalize(want, ORDERS_COLS) != self.normalize(out.rows, out.cols):
                    err = f"{kind} differs from replica ({len(out.rows)} vs {len(want)} rows)"
            fails.append(err)
        live = parquet_bytes(con.execute("SELECT * FROM replica").fetch_arrow_table(), scratch)
        return fails, {"changed_bytes": changed, "live_bytes": live}


def parquet_bytes(table: pa.Table, scratch: str) -> int:
    """Size of ``table`` written once as a single parquet file."""
    path = os.path.join(scratch, "once.parquet")
    pq.write_table(table, path)
    size = os.path.getsize(path)
    os.remove(path)
    return size


def index_holds_all(index_dir: str, n_vectors: int) -> str | None:
    """The IVF corpus must hold every ``vec_id`` exactly once."""
    ids = pq.read_table(os.path.join(index_dir, "corpus"), columns=["vec_id"]).column(0)
    got = np.sort(ids.to_numpy())
    return None if np.array_equal(got, np.arange(n_vectors)) else (
        f"index holds {len(got)} rows, {len(np.unique(got))} distinct, for {n_vectors} vectors"
    )


def ann_recall(vectors: np.ndarray, ids: list[int], out: Output, k: int) -> tuple[str | None, float]:
    """(failure or None, recall@k) of an ANN answer against a brute-force
    cosine search over ``vectors`` (row i is ``vec_id`` i), the query
    itself excluded. Every query must get ``k`` neighbours, each with its
    exact cosine (rounded to 4 places by the program)."""
    unit = vectors / np.linalg.norm(vectors, axis=1, keepdims=True)
    got: dict[int, list[tuple[int, float]]] = {}
    for qid, nid, sim in out.rows:
        got.setdefault(qid, []).append((nid, sim))
    hits = 0
    for q in ids:
        sims = unit @ unit[q]
        sims[q] = -np.inf
        truth = set(np.argsort(-sims, kind="stable")[:k].tolist())
        res = got.get(q, [])
        if len(res) != k:
            return f"query {q}: {len(res)} neighbours, want {k}", 0.0
        for nid, sim in res:
            if abs(sim - sims[nid]) > 2e-4:
                return f"query {q}: sim {sim} to {nid}, exact cosine {sims[nid]:.6f}", 0.0
        hits += len(truth & {n for n, _ in res})
    return None, hits / (k * len(ids))
