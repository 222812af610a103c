"""Expected outputs, computed by paths that share no code with the
program under test.

Graph algorithms run in numpy over the parked edge table, with the
kernel's documented semantics (graft.graph.KernelProgram and
SpmvKernel.lpa):
  - PageRank: rank0 = alpha; y = sum over in-edges of rank/outdeg * w;
    rank <- alpha + (1 - alpha) y; a vertex is active while
    |change| > tol; run until no vertex is active.
  - CC: label0 = vid; changed vertices send their label; min combine.
  - LPA: every vertex takes the most frequent neighbour label, ties to
    the smallest; a vertex without neighbours keeps its label.
Query results are compared with DuckDB running SparkEntry.oracleSql over
the same tables, hashed the way dev/compare_oracles.py hashes them.
"""
import hashlib
import json
import os
import re

import numpy as np
import pyarrow.parquet as pq

ALPHA = 0.15
PR_TOL = 1e-6


def _pagerank(src, dst, w, n, tol, max_iters):
    deg = np.bincount(src, minlength=n).astype(np.float64)
    inv = np.zeros(n)
    inv[deg > 0] = 1.0 / deg[deg > 0]
    scale = inv[src] * w
    rank = np.full(n, ALPHA)
    it = 0
    while True:
        y = np.bincount(dst, weights=rank[src] * scale, minlength=n)
        new = ALPHA + (1.0 - ALPHA) * y
        active = int(np.count_nonzero(np.abs(new - rank) > tol))
        rank = new
        it += 1
        if (max_iters and it >= max_iters) or (not max_iters and active == 0):
            return rank, it


def _cc(src, dst, n):
    order = np.argsort(dst, kind="stable")
    s, d = src[order], dst[order]
    starts = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
    heads = d[starts]
    label = np.arange(n, dtype=np.float64)
    active = np.ones(n, dtype=bool)
    it = 0
    while active.any():
        msg = np.where(active[s], label[s], np.inf)
        y = np.minimum.reduceat(msg, starts)
        better = y < label[heads]
        active = np.zeros(n, dtype=bool)
        active[heads[better]] = True
        label[heads[better]] = y[better]
        it += 1
    return label, it


def _lpa(src, dst, n, max_iters):
    label = np.arange(n, dtype=np.int64)
    it = 0
    while it < max_iters:
        key = dst * n + label[src]
        uk, cnt = np.unique(key, return_counts=True)
        v, lab = uk // n, uk % n
        # per vertex: highest count, then smallest label
        order = np.lexsort((lab, -cnt, v))
        v, lab = v[order], lab[order]
        first = np.r_[True, v[1:] != v[:-1]]
        new = label.copy()
        new[v[first]] = lab[first]
        changed = int(np.count_nonzero(new != label))
        label = new
        it += 1
        if changed == 0:
            break
    return label, it


def table_counts(edges_path):
    """Edge and distinct vertex counts of a parked edge table."""
    t = pq.read_table(edges_path, columns=["src", "dst"])
    ends = np.concatenate([t.column("src").to_numpy(), t.column("dst").to_numpy()])
    return t.num_rows, int(len(np.unique(ends)))


def graph(edges_path):
    """Expected PageRank, CC and LPA outputs for one parked edge table."""
    t = pq.read_table(edges_path, columns=["src", "dst", "w"])
    src = t.column("src").to_numpy().astype(np.int64)
    dst = t.column("dst").to_numpy().astype(np.int64)
    w = t.column("w").to_numpy().astype(np.float64)
    vids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[:len(src)], inv[len(src):]
    n = len(vids)
    rank, pr_iters = _pagerank(s, d, w, n, PR_TOL, 0)
    top = np.lexsort((vids, -rank))[:5]
    rank10, _ = _pagerank(s, d, w, n, PR_TOL, 10)
    # undirected, deduplicated, no self loops: the shape `labels` compiles
    keep = s != d
    a = np.concatenate([s[keep], d[keep]])
    b = np.concatenate([d[keep], s[keep]])
    pairs = np.unique(a * n + b)
    us, ud = pairs // n, pairs % n
    cc_label, cc_iters = _cc(us, ud, n)
    cc_vid = vids[cc_label.astype(np.int64)]
    lpa_label, lpa_iters = _lpa(us, ud, n, 10)
    lpa_vid = vids[lpa_label]
    # vertices without undirected edges are not in the compiled graph
    present = np.zeros(n, dtype=bool)
    present[us] = True
    return {
        "edges": int(len(src)), "vertices": int(n), "und_edges": int(len(pairs)),
        "pr_iters": pr_iters, "pr_checksum": float(rank.sum()),
        "pr_top5": [int(x) for x in vids[top]],
        "pr10_checksum": float(rank10.sum()),
        "cc_iters": cc_iters, "cc_checksum": float(cc_vid[present].sum()),
        "cc_components": int(len(np.unique(cc_vid[present]))),
        "lpa_iters": lpa_iters, "lpa_checksum": float(lpa_vid[present].sum()),
        "lpa_labels": int(len(np.unique(lpa_vid[present]))),
    }


# ---- query sweep -----------------------------------------------------------

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _hash(df):
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.10g").encode()).hexdigest()[:12]


def _materialized(sql):
    """The same query with every CTE materialized. Results are unchanged;
    DuckDB otherwise re-plans the 20 chained PageRank steps of the
    q_pagerank_* oracles for about 30 s."""
    return re.sub(r"(\w+) AS \(SELECT", r"\1 AS MATERIALIZED (SELECT", sql)


def sweep_expected(table_dir, oracle_sql, cache_dir):
    """DuckDB's (rows, columns, hash) per query over one table directory.
    Cached in `cache_dir`, one file per table directory, keyed by the
    oracle SQL and the tables' sizes and times, so a changed oracle or
    table is recomputed."""
    import duckdb
    tables = {t: os.path.join(table_dir, f"{t}.parquet") for t in TABLES}
    stamp = hashlib.sha256(json.dumps(
        [(p, os.path.getsize(p), os.path.getmtime(p)) for p in tables.values()]
    ).encode()).hexdigest()[:16]
    name = hashlib.sha256(table_dir.encode()).hexdigest()[:12]
    cache_path = os.path.join(cache_dir, f"oracle-{os.path.basename(table_dir)}-{name}.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    con = None
    for q, sql in oracle_sql.items():
        key = hashlib.sha256((stamp + sql).encode()).hexdigest()[:16]
        if q in cache and cache[q]["sql"] == key:
            continue
        if con is None:
            con = duckdb.connect()
            for t, path in tables.items():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        df = _canon(con.execute(_materialized(sql)).df())
        cache[q] = {"sql": key, "rows": len(df), "columns": list(df.columns),
                    "hash": _hash(df)}
    if con is not None:
        os.makedirs(cache_dir, exist_ok=True)
        with open(cache_path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(cache_path + ".tmp", cache_path)
    return cache


def sweep_result(result_dir):
    """(rows, columns, hash) of one query result written by the JVM."""
    import glob
    import pandas as pd
    parts = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    df = _canon(pd.concat([pd.read_parquet(p) for p in parts]))
    return {"rows": len(df), "columns": list(df.columns), "hash": _hash(df)}
