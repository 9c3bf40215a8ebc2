"""Independent references for the benchmark's output checks.

Each check recomputes the expected output without the engine:
  - histogram: the number_count LCG stream in numpy, summed into the same
    order-free fingerprint the harness reports;
  - sssp: a serial Dijkstra over the graph file the solve read (weights are
    integers, so the distances compare with exact equality);
  - oracle: the catalog entry's DuckDB SQL over the run's own tables,
    compared value by value the way the repository's tools/compare.py
    compares a Verify dump.
Every function returns None when the output is right, else a reason.
"""
import heapq
import os
from collections import defaultdict

import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def mix(k, v):
    """SplitMix64 finaliser of k * golden + v, as perfbench.Stats.mix."""
    with np.errstate(over="ignore"):
        z = k.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) + v.astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def lcg_values(n, cardinality, seed, chunk=4_000_000):
    """number_count's positional LCG: value(i) = (LCG(LCG(i + seed)) >> 16)
    mod cardinality, with rand()'s constants. Yields chunks."""
    a, c, m = 1103515245, 12345, 2147483648
    for lo in range(0, n, chunk):
        i = np.arange(lo, min(n, lo + chunk), dtype=np.int64)
        h1 = ((i + seed) * a + c) % m
        h2 = (h1 * a + c) % m
        yield (h2 >> 16) % cardinality


def histogram(spec):
    hist = np.zeros(spec["cardinality"], dtype=np.int64)
    for vals in lcg_values(spec["n"], spec["cardinality"], spec["seed"]):
        hist += np.bincount(vals, minlength=spec["cardinality"])
    keys = np.nonzero(hist)[0]
    with np.errstate(over="ignore"):
        digest = int(np.sum(mix(keys, hist[keys]), dtype=np.uint64))
    want = (str(digest), len(keys), int(hist.sum()))
    got = (spec["digest"], spec["keys"], spec["total"])
    return None if want == got else f"histogram {got} != reference {want}"


def load_graph(path):
    adj = defaultdict(list)
    with open(path) as f:
        f.readline()
        for line in f:
            t = line.split()
            if len(t) == 3:
                a, b, w = int(t[0]), int(t[1]), float(t[2])
                adj[a].append((b, w))
                adj[b].append((a, w))
    return adj


def dijkstra(adj, source):
    dist = {source: 0.0}
    pq = [(0.0, source)]
    done = set()
    while pq:
        d, u = heapq.heappop(pq)
        if u in done:
            continue
        done.add(u)
        for v, w in adj[u]:
            if d + w < dist.get(v, float("inf")):
                dist[v] = d + w
                heapq.heappush(pq, (d + w, v))
    return dist


def sssp(spec, graph_path):
    want = dijkstra(load_graph(graph_path), spec["source"])
    got = {}
    with open(os.path.join(spec["dump"], "dist.tsv")) as f:
        for line in f:
            node, d = line.split("\t")
            got[int(node)] = float(d)
    if got.keys() != want.keys():
        return f"reached {len(got)} nodes, reference reaches {len(want)}"
    bad = [n for n in want if got[n] != want[n]]
    return f"{len(bad)} distances differ, e.g. node {bad[0]}" if bad else None


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def oracle(spec, con):
    import pandas as pd
    if not spec.get("oracle"):
        return "entry has no oracle"
    a = pd.read_parquet(spec["dump"])
    b = con.execute(spec["oracle"]).df()
    a = a[sorted(a.columns)].reset_index(drop=True)
    b = b[sorted(b.columns)].reset_index(drop=True)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if str(av.dtype).startswith("datetime"):
            av = av.astype("datetime64[us]")
        if str(bv.dtype).startswith("datetime"):
            bv = bv.astype("datetime64[us]")
        eq = (av.isna() & bv.isna()) | (av == bv)
        if not eq.all():
            i = (~eq).idxmax()
            return f"column {c} row {i}: {av[i]!r} vs {bv[i]!r}"

    def kind(dt):
        s = str(dt)
        return "datetime" if s.startswith("datetime") or s == "object" else s
    for c in a.columns:
        if kind(a[c].dtype) != kind(b[c].dtype):
            return f"dtype of {c}: {a[c].dtype} vs {b[c].dtype}"
    return None


def check_all(checks, data_dir=None, graph_path=None):
    """{op: reason or None} for every operation that produced an output."""
    con = None
    out = {}
    for spec in checks:
        if not spec.get("produced"):
            out[spec["op"]] = "no output was produced"
            continue
        try:
            kind = spec.get("kind")
            if kind == "histogram":
                out[spec["op"]] = histogram(spec)
            elif kind == "sssp":
                out[spec["op"]] = sssp(spec, graph_path)
            else:
                con = con or connect(data_dir)
                out[spec["op"]] = oracle(spec, con)
        except Exception as e:  # a broken output is a failed check
            out[spec["op"]] = f"check error: {e}"
    return out
