"""Independent reference answers for the workloads' outputs.

Nothing here runs on Spark: co-purchase counts, the Independent-Cascade
replay and the corpus answers run in DuckDB (the cascade coins come
from ``functions.mix_sql``, the SQL twin of the library's coin mixer,
so the replay flips the same coins); centralities are recomputed with
numpy from the oracle's own edge list.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from graphem_rapids_spark import queries as Q
from graphem_rapids_spark.functions import edge_coin_key_sql, mix_sql


class OracleMismatch(AssertionError):
    """An output disagrees with its reference answer."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise OracleMismatch(what)


def connect(threads: int = 1, **tables: str) -> duckdb.DuckDBPyConnection:
    """DuckDB session with one view per named parquet file. One thread
    unless the caller's answers are exact integers: parallel
    aggregation can change the last bit of a floating-point average."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


# -- co-purchase graph ----------------------------------------------------
def copurchase_stats(con) -> tuple[int, int]:
    n, m, _, _ = con.execute(Q._GRAPH_STATS_SQL).fetchone()
    return int(n), int(m)


def load_copurchase_relabelled(con) -> np.ndarray:
    """Table ``g(src, dst)``: the co-purchase edges relabelled to dense
    ids in ascending part-key order, as ``relabel_contiguous`` does.
    Returns them as an (m, 2) array."""
    con.execute(
        "CREATE OR REPLACE TABLE g AS "
        + Q._COPURCHASE_SQL_CTE
        + """, v AS (SELECT id, dense_rank() OVER (ORDER BY id) - 1 AS nid
                 FROM (SELECT src AS id FROM ge UNION SELECT dst FROM ge))
        SELECT a.nid AS src, b.nid AS dst FROM ge
        JOIN v a ON a.id = ge.src JOIN v b ON b.id = ge.dst"""
    )
    cols = con.execute("SELECT src, dst FROM g").fetchnumpy()
    return np.stack([cols["src"], cols["dst"]], axis=1).astype(np.int64)


def _live_edges(con, p: float, trials: int, seed: int) -> None:
    coin = mix_sql(edge_coin_key_sql("s.src", "s.dst", "t.range"), seed)
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE live AS
        WITH sym AS (SELECT src, dst FROM g UNION ALL SELECT dst, src FROM g)
        SELECT t.range AS trial, s.src, s.dst FROM sym s, range({trials}) t
        WHERE {coin} < {p!r}"""
    )


def cascade_size(con, seeds: list[int], p: float, trials: int, seed: int, rounds: int) -> float:
    """Mean activated count of a seed set: reachability over the
    live-edge subgraph (one coin per directed edge and trial) within
    ``rounds`` hops."""
    _live_edges(con, p, trials, seed)
    con.register("seed_rows", pd.DataFrame({"id": [int(v) for v in seeds]}, dtype="int64"))
    con.execute("CREATE OR REPLACE TEMP TABLE sd AS SELECT * FROM seed_rows")
    con.unregister("seed_rows")
    (total,) = con.execute(
        f"""WITH RECURSIVE r(trial, id, d) AS (
              SELECT t.range, id, 0 FROM sd, range({trials}) t
              UNION
              SELECT r.trial, l.dst, r.d + 1 FROM r JOIN live l
                ON l.trial = r.trial AND l.src = r.id WHERE r.d < {rounds})
            SELECT CAST(count(DISTINCT (trial, id)) AS BIGINT) FROM r"""
    ).fetchone()
    return total / trials


# -- layout ------------------------------------------------------------------
def layout_invariants(ids: np.ndarray, pos: np.ndarray, n: int, dim: int) -> None:
    """Positions are n rows of finite dim-vectors, centred and scaled to
    unit sample std per dimension (the normalisation each step ends in)."""
    expect(pos.shape == (n, dim), f"positions shape {pos.shape} != {(n, dim)}")
    expect(np.array_equal(np.sort(ids), np.arange(n)), "position ids are not 0..n-1")
    expect(bool(np.isfinite(pos).all()), "non-finite position")
    mean = pos.mean(axis=0)
    std = pos.std(axis=0, ddof=1)
    expect(bool(np.all(np.abs(mean) < 1e-6)), f"per-dimension mean {mean} not ~0")
    expect(bool(np.all(np.abs(std - 1.0) < 1e-4)), f"per-dimension std {std} not ~1")


def top_by_radius(ids: np.ndarray, pos: np.ndarray, seeds: list[int]) -> None:
    """``seeds`` are a top-k by radius: none is beaten by a non-seed
    beyond float noise."""
    radius = dict(zip(ids.tolist(), np.linalg.norm(pos, axis=1).tolist()))
    k = len(seeds)
    expect(len(set(seeds)) == k, "duplicate seeds")
    kth = min(radius[s] for s in seeds)
    rest = [r for i, r in radius.items() if i not in set(seeds)]
    expect(not rest or max(rest) <= kth + 1e-9, "a non-seed vertex has a larger radius")


# -- centralities ----------------------------------------------------------
def pagerank_fixed(n: int, edges: np.ndarray, alpha: float, iters: int) -> np.ndarray:
    """networkx-semantics PageRank on the symmetrised graph, ``iters``
    synchronous steps from the uniform vector (tol = 0)."""
    src = np.concatenate([edges[:, 0], edges[:, 1]])
    dst = np.concatenate([edges[:, 1], edges[:, 0]])
    od = np.bincount(src, minlength=n).astype(float)
    x = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = x[od == 0].sum()
        s = np.bincount(dst, weights=x[src] / od[src], minlength=n)
        x = (1.0 - alpha) / n + alpha * dangling / n + alpha * s
    return x


def spearman(a: np.ndarray, b: np.ndarray) -> float:
    ra = pd.Series(a).rank(method="average").to_numpy()
    rb = pd.Series(b).rank(method="average").to_numpy()
    return float(np.corrcoef(ra, rb)[0, 1])


def close(a, b, rel: float, what: str) -> None:
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    expect(a.shape == b.shape, f"{what}: shape {a.shape} != {b.shape}")
    expect(bool(np.allclose(a, b, rtol=rel, atol=rel)), f"{what}: max diff {np.max(np.abs(a - b)):.3g}")
