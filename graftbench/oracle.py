"""Independent expected answers and the result comparison.

TPC-H statements run their SQL twin in DuckDB over the same parquet; write
chains replay their writes on DuckDB tables; the graph algorithms have
numpy reference implementations over the same edge parquet.
"""
import math
from decimal import Decimal

import duckdb
import numpy as np

from workloads import CHAIN_STATE_SQL


def canon_value(v):
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer() and abs(v) < 2 ** 53:
            return int(v)
        return v
    return str(v)


def canon(cols, rows):
    """Columns sorted by name, rows sorted: a multiset view of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return [cols[i] for i in order], out


def _sort_key(row):
    # Exact cells first, floats coarsened: engine float noise must not
    # reorder rows.
    exact = tuple((x is None, str(x)) for x in row if not isinstance(x, float))
    approx = tuple(float(f"{x:.3g}") for x in row if isinstance(x, float))
    return exact, approx


def same(a, b, rel=1e-6):
    """Canonical results equal up to a relative float tolerance."""
    (ca, ra), (cb, rb) = a, b
    if ca != cb or len(ra) != len(rb):
        return False
    for x, y in zip(ra, rb):
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if not (isinstance(u, (int, float)) and isinstance(v, (int, float))
                        and not isinstance(u, bool) and not isinstance(v, bool)
                        and math.isclose(u, v, rel_tol=rel, abs_tol=1e-9)):
                    return False
            elif u != v:
                return False
    return True


def _connect(tpch_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tpch_dir}/{t}.parquet'")
    return con


def _run(con, sql):
    rel = con.execute(sql)
    return canon([d[0] for d in rel.description], rel.fetchall())


def query_expected(tpch_dir, decks):
    con = _connect(tpch_dir)
    memo, out = {}, {}
    for s in (s for d in decks for s in d):
        if s["sql"] not in memo:
            memo[s["sql"]] = _run(con, s["sql"])
        out[s["id"]] = memo[s["sql"]]
    con.close()
    return out


def chain_expected(tpch_dir, decks):
    con = _connect(tpch_dir)
    out = {}
    for s in (s for d in decks for s in d):
        if s["reset"]:
            con.execute(CHAIN_STATE_SQL)
        if s["kind"] == "construct":
            out[s["id"]] = _run(con, s["sql"])
            continue
        con.execute(s["apply"])
        out[s["id"]] = _run(con, s["sql"])
    con.close()
    return out


# --- graph algorithm references ------------------------------------------

def _load_edges(path):
    con = duckdb.connect()
    src, dst = con.execute(f"SELECT list(src ORDER BY rid), list(dst ORDER BY rid) FROM '{path}'").fetchone()
    con.close()
    return np.array(src, dtype=np.int64), np.array(dst, dtype=np.int64)


def _pagerank(src, dst, n, iterations, d=0.85):
    deg = np.bincount(src, minlength=n).astype(float)
    connected = np.zeros(n, dtype=bool)
    connected[src] = True
    connected[dst] = True
    rank = np.ones(n)
    iso = 1.0
    for _ in range(iterations):
        received = np.bincount(dst, weights=rank[src] / deg[src], minlength=n)
        miss = (n - received[connected].sum()) / n
        rank = (1 - d) + d * (received + miss)
        iso = (1 - d) + d * miss
    rank[~connected] = iso
    return ["id", "rank"], [(i, rank[i]) for i in range(n)]


def _adjacency(src, dst, n):
    a = np.concatenate([src, dst])
    b = np.concatenate([dst, src])
    order = np.argsort(a, kind="stable")
    indptr = np.searchsorted(a[order], np.arange(n + 1))
    return indptr, b[order]


def _sssp(src, dst, n, sources):
    indptr, nbrs = _adjacency(src, dst, n)
    dist = np.full(n, -1, dtype=np.int64)
    frontier = np.array(sorted(set(sources)), dtype=np.int64)
    dist[frontier] = 0
    level = 0
    while frontier.size:
        level += 1
        cand = np.unique(np.concatenate([nbrs[indptr[u]:indptr[u + 1]] for u in frontier]))
        frontier = cand[dist[cand] < 0]
        dist[frontier] = level
    reached = np.nonzero(dist >= 0)[0]
    return ["id", "dist"], [(int(i), float(dist[i])) for i in reached]


def _components(src, dst, n):
    lab = np.arange(n)
    while True:
        old = lab.copy()
        np.minimum.at(lab, src, lab[dst])
        np.minimum.at(lab, dst, lab[src])
        lab = lab[lab]
        if np.array_equal(lab, old):
            break
    return ["id", "component"], [(i, int(lab[i])) for i in range(n)]


def _undirected(src, dst):
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    pairs = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def _triangles(src, dst, n):
    a, b = _undirected(src, dst)
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    rank = np.lexsort((np.arange(n), deg))  # position of each node in (degree, id) order
    pos = np.empty(n, dtype=np.int64)
    pos[rank] = np.arange(n)
    lo = np.where(pos[a] < pos[b], a, b)
    hi = np.where(pos[a] < pos[b], b, a)
    fwd = [set() for _ in range(n)]
    for u, v in zip(lo.tolist(), hi.tolist()):
        fwd[u].add(v)
    count = sum(len(fwd[u] & fwd[v]) for u, v in zip(lo.tolist(), hi.tolist()))
    return ["triangles"], [(count,)]


def _kcore(src, dst, n, k):
    a, b = _undirected(src, dst)
    u, v = np.concatenate([a, b]), np.concatenate([b, a])
    while True:
        deg = np.bincount(u, minlength=n)
        keep = (deg[u] >= k) & (deg[v] >= k)
        if keep.all():
            break
        u, v = u[keep], v[keep]
    deg = np.bincount(u, minlength=n)
    return ["id", "degree"], [(int(i), int(deg[i])) for i in np.nonzero(deg)[0]]


def algo_expected(edges_path, nodes, decks):
    src, dst = _load_edges(edges_path)
    memo, out = {}, {}
    for s in (s for d in decks for s in d):
        key = (s["algo"], repr(sorted(s["args"].items())))
        if key not in memo:
            a = s["args"]
            if s["algo"] == "pagerank":
                r = _pagerank(src, dst, nodes, a["iterations"])
            elif s["algo"] == "sssp":
                r = _sssp(src, dst, nodes, a["sources"])
            elif s["algo"] == "components":
                r = _components(src, dst, nodes)
            elif s["algo"] == "triangles":
                r = _triangles(src, dst, nodes)
            else:
                r = _kcore(src, dst, nodes, a["k"])
            memo[key] = canon(*r)
        out[s["id"]] = memo[key]
    return out
