"""Correctness oracles, independent of Spark.

Every check returns a list of failure messages (empty when the output
is right). Graph oracles work on the expected warehouse the generator
produced, with networkx and numpy doing the reference computation.
"""

from __future__ import annotations

import math
import os
import re

import networkx as nx
import numpy as np

from gen import fold

QID = re.compile(r"^Q[0-9]+$")
BLACKLIST = ("influenced_by",)
AGE_TOLERANCE, AGE_SCALE = 15, 5.0
TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)


# --- ingest ------------------------------------------------------------
def check_ingest(out_dir: str, truth: dict) -> list[str]:
    """The ETL output, read back with pyarrow, equals the expected
    warehouse row for row, with the structural rules checked on their
    own so a failure names the rule it broke."""
    import pyarrow.dataset as ds

    errs = []
    edges = ds.dataset(os.path.join(out_dir, "edges"), format="parquet",
                       partitioning="hive").to_table().to_pylist()
    nodes = ds.dataset(os.path.join(out_dir, "nodes"), format="parquet").to_table().to_pylist()
    if len(edges) != truth["edges"]:
        errs.append(f"ingest: {len(edges)} edges, expected {truth['edges']}")
    if len(nodes) != truth["nodes"]:
        errs.append(f"ingest: {len(nodes)} nodes, expected {truth['nodes']}")
    keys = [(min(e["person"], e["object"]), max(e["person"], e["object"]), e["relationship_label"])
            for e in edges]
    if len(set(keys)) != len(keys):
        errs.append("ingest: reverse or exact duplicate edges survived")
    bad = [x for e in edges for x in (e["person"], e["object"]) if not QID.match(x)]
    bad += [n["id"] for n in nodes if not QID.match(n["id"])]
    if bad:
        errs.append(f"ingest: invalid Q-IDs survived, e.g. {bad[:3]}")
    ctrl = [n["name"] for n in nodes if n["name"] is None or re.search(r"[\t\r\n]", n["name"])]
    if ctrl:
        errs.append(f"ingest: {len(ctrl)} node names keep control characters")
    by_type: dict[str, list[int]] = {}
    for n in nodes:
        by_type.setdefault(n["type"], []).append(n["pyg_id"])
    for t, ids in by_type.items():
        if sorted(ids) != list(range(len(ids))):
            errs.append(f"ingest: pyg_id not dense for type {t}")
    want_e = sorted(tuple(sorted(r.items())) for r in truth["tables"]["edges"])
    got_e = sorted(tuple(sorted(r.items())) for r in edges)
    if want_e != got_e:
        errs.append("ingest: edge rows differ from the expected warehouse")
    cols = ("id", "name", "sub_type", "type", "birth_year", "pyg_id")
    want_n = sorted(tuple(r[c] for c in cols) for r in truth["tables"]["nodes"])
    got_n = sorted(tuple(r[c] for c in cols) for r in nodes)
    if want_n != got_n:
        errs.append("ingest: node rows differ from the expected warehouse")
    return errs


# --- graph reference ---------------------------------------------------
class GraphOracle:
    """Reference computations over the expected warehouse."""

    def __init__(self, truth: dict):
        nodes = truth["tables"]["nodes"]
        self.rows = [(e["person"], e["object"], e["relationship_label"])
                     for e in truth["tables"]["edges"]]
        self.type = {n["id"]: n["type"] for n in nodes}
        self.name = {n["id"]: n["name"] for n in nodes}
        years = [n["birth_year"] for n in nodes if n["birth_year"] is not None]
        mean_year = sum(years) / len(years)
        self.year = {n["id"]: (n["birth_year"] if n["birth_year"] is not None else mean_year)
                     for n in nodes}
        self.in_deg: dict[str, int] = {}
        self.total_deg: dict[str, int] = {}
        for s, d, _ in self.rows:
            self.in_deg[d] = self.in_deg.get(d, 0) + 1
            for x in (s, d):
                self.total_deg[x] = self.total_deg.get(x, 0) + 1
        self.simple = nx.Graph()
        self.simple.add_nodes_from(self.type)
        self.weighted = nx.Graph()
        self.weighted.add_nodes_from(self.type)
        self.rels: dict[frozenset, set[str]] = {}
        for s, d, rel in self.rows:
            self.simple.add_edge(s, d)
            self.rels.setdefault(frozenset((s, d)), set()).add(rel)
            w = self.weight(s, d, rel)
            if math.isinf(w):
                continue
            old = self.weighted.get_edge_data(s, d)
            if old is None or w < old["weight"]:
                self.weighted.add_edge(s, d, weight=w)

    def weight(self, s: str, d: str, rel: str) -> float:
        """Hub penalty log(in_degree(dst)+1), age-gap penalty between
        humans beyond the tolerance, infinite for blacklisted rels."""
        if rel in BLACKLIST:
            return math.inf
        w = 1.0 + math.log(self.in_deg.get(d, 0) + 1)
        gap = abs(self.year[s] - self.year[d])
        if self.type[s] == "human" and self.type[d] == "human" and gap > AGE_TOLERANCE:
            w += (gap - AGE_TOLERANCE) / AGE_SCALE
        return w

    def hop_bounded_dist(self, src: str, dst: str, max_hops: int) -> float:
        """Weighted distance over paths of at most ``max_hops`` edges
        (Bellman-Ford for max_hops rounds, the search the engine runs)."""
        dist = {src: 0.0}
        frontier = {src}
        for _ in range(max_hops):
            nxt = {}
            for u in frontier:
                for v, data in self.weighted[u].items():
                    c = dist[u] + data["weight"]
                    if c < dist.get(v, math.inf) and c < nxt.get(v, math.inf):
                        nxt[v] = c
            if not nxt:
                break
            dist.update(nxt)
            frontier = set(nxt)
        return dist.get(dst, math.inf)

    def adamic_adar(self, a: str, b: str) -> float:
        common = set(self.simple[a]) & set(self.simple[b])
        return sum(1.0 / math.log(self.simple.degree(c) + 1.0) for c in common)

    def hub_penalized(self, a: str, b: str) -> float:
        return self.adamic_adar(a, b) / (math.log(self.total_deg.get(b, 0) + 1.0) + 1.0)


# --- serve ---------------------------------------------------------------
def check_resolve(rows: list, query: str, want_id: str, exact: bool) -> list[str]:
    ids = [r["id"] for r in rows]
    if want_id not in ids:
        return [f"resolve({query!r}): {want_id} not among {ids}"]
    scores = [r["score"] for r in rows]
    if scores != sorted(scores, reverse=True):
        return [f"resolve({query!r}): candidates not ordered by score"]
    if exact and any(s != 100.0 or fold(r["name"]) != fold(query) for s, r in zip(scores, rows)):
        return [f"resolve({query!r}): exact lookup returned a non-exact candidate"]
    return []


def check_connection(g: GraphOracle, res: dict, steps: list | None, a: str, b: str,
                     max_hops: int) -> list[str]:
    """The engine's answer equals the hop-bounded reference; a found
    path is a real path of that weight with no blacklisted hop, and it
    ties with networkx's unbounded Dijkstra when that path fits in
    ``max_hops``."""
    src, dst = res.get("src"), res.get("dst")
    if src is None or dst is None:
        return [f"find_connection({a!r}, {b!r}): a name did not resolve"]
    if fold(g.name[src]) != fold(a) or fold(g.name[dst]) != fold(b):
        return [f"find_connection({a!r}, {b!r}): resolved to {src}, {dst}"]
    want = g.hop_bounded_dist(src, dst, max_hops)
    if not res["success"]:
        return [] if math.isinf(want) else [
            f"find_connection({src}, {dst}): no path reported, reference {want}"]
    if math.isinf(res["dist"]):
        return [f"find_connection({src}, {dst}): success with dist inf (a path through a "
                f"blacklisted edge), reference {want}"]
    if math.isinf(want) or not _close(res["dist"], want):
        return [f"find_connection({src}, {dst}): dist {res['dist']}, reference {want}"]
    path = res["path"]
    if path[0] != src or path[-1] != dst or len(path) - 1 > max_hops:
        return [f"find_connection({src}, {dst}): malformed path {path}"]
    total = 0.0
    for u, v in zip(path, path[1:]):
        data = g.weighted.get_edge_data(u, v)
        if data is None:
            return [f"find_connection({src}, {dst}): hop {u}-{v} has no finite-weight edge"]
        total += data["weight"]
    if not _close(total, res["dist"]):
        return [f"find_connection({src}, {dst}): path weight {total} != dist {res['dist']}"]
    if len(steps or []) != len(path) - 1:
        return [f"find_connection({src}, {dst}): {len(steps or [])} steps for {len(path)} nodes"]
    for s in steps:
        if s["rel"] not in g.rels.get(frozenset((s["node"], s["next_node"])), ()):
            return [f"find_connection({src}, {dst}): step {s['node']}->{s['next_node']} "
                    f"labelled {s['rel']}"]
    try:
        free = nx.dijkstra_path(g.weighted, src, dst)
    except nx.NetworkXNoPath:
        return [f"find_connection({src}, {dst}): networkx finds no path"]
    if len(free) - 1 <= max_hops:
        ref = nx.path_weight(g.weighted, free, "weight")
        if not _close(ref, res["dist"]):
            return [f"find_connection({src}, {dst}): dist {res['dist']}, Dijkstra {ref}"]
    return []


def check_recommend(g: GraphOracle, rows: list, src: str, k: int) -> list[str]:
    """Self and neighbours excluded, scores equal the hub-penalized
    Adamic-Adar reference, and nothing left out scores higher."""
    dsts = [r["dst"] for r in rows]
    if len(rows) > k:
        return [f"recommend({src}): {len(rows)} rows for k={k}"]
    if src in dsts or set(dsts) & set(g.simple[src]):
        return [f"recommend({src}): self or a neighbour recommended"]
    for r in rows:
        if not _close(r["final_score"], g.hub_penalized(src, r["dst"])):
            return [f"recommend({src}): score of {r['dst']} is {r['final_score']}, "
                    f"reference {g.hub_penalized(src, r['dst'])}"]
    excluded = set(g.simple[src]) | {src} | set(dsts)
    best_left = max((g.hub_penalized(src, v) for v in g.type if v not in excluded), default=0.0)
    if rows and len(rows) == k and best_left > min(r["final_score"] for r in rows) + TOL:
        return [f"recommend({src}): a candidate scoring {best_left} was left out"]
    return []


def check_predict(g: GraphOracle, rows: list, a: str, b: str) -> list[str]:
    """One admissible relation per pair, its score the Adamic-Adar
    reference, and best_rel the argmax."""
    if not rows:
        return [f"predict({a}, {b}): no rows"]
    for r in rows:
        if r["src"] != a or r["dst"] != b:
            return [f"predict({a}, {b}): row for {r['src']}, {r['dst']}"]
        bio = r["rel"] in ("father", "mother", "sibling", "child", "spouse")
        if bio and not (g.type[a] == "human" and g.type[b] == "human"):
            return [f"predict({a}, {b}): inadmissible relation {r['rel']}"]
        if not _close(r["score"], g.adamic_adar(a, b)):
            return [f"predict({a}, {b}): score {r['score']}, reference {g.adamic_adar(a, b)}"]
    best = max(rows, key=lambda r: (r["score"], r["rel"]))
    if rows[0]["best_rel"] != best["rel"] or not _close(rows[0]["best_score"], best["score"]):
        return [f"predict({a}, {b}): best_rel {rows[0]['best_rel']} is not the argmax"]
    return []


# --- analytics ------------------------------------------------------------
def check_degrees(g: GraphOracle, rows: list, pairs: list, max_hops: int) -> list[str]:
    """Hop distance equals networkx BFS, and the degree (humans on the
    chosen path minus one) lies between the fewest and the most humans
    any shortest path carries."""
    got = {(r["src"], r["dst"]): r for r in rows}
    errs = []
    for s, t in pairs:
        r = got.get((s, t))
        if r is None:
            errs.append(f"degrees({s}, {t}): pair missing")
            continue
        ds = nx.single_source_shortest_path_length(g.simple, s, cutoff=max_hops)
        if t not in ds:
            if r["dist"] is not None or r["degree"] is not None:
                errs.append(f"degrees({s}, {t}): reference unreachable, got {r['dist']}")
            continue
        d = ds[t]
        if r["dist"] is None or int(r["dist"]) != d:
            errs.append(f"degrees({s}, {t}): dist {r['dist']}, BFS {d}")
            continue
        dt = nx.single_source_shortest_path_length(g.simple, t, cutoff=d)
        on = {v for v in ds if v in dt and ds[v] + dt[v] == d}
        h = {v: int(g.type[v] == "human") for v in on}
        lo, hi = {s: h[s]}, {s: h[s]}
        for v in sorted(on, key=ds.get):
            if v == s:
                continue
            preds = [u for u in g.simple[v] if u in on and ds[u] == ds[v] - 1]
            lo[v] = h[v] + min(lo[u] for u in preds)
            hi[v] = h[v] + max(hi[u] for u in preds)
        if not max(lo[t] - 1, 0) <= r["degree"] <= max(hi[t] - 1, 0):
            errs.append(f"degrees({s}, {t}): degree {r['degree']} outside "
                        f"[{max(lo[t] - 1, 0)}, {max(hi[t] - 1, 0)}]")
    return errs


def reference_pagerank(g: GraphOracle, damping: float, iterations: int) -> dict[str, float]:
    """Power iteration over the directed edge rows (parallel rows
    count), dangling mass spread uniformly, starting from 1/n."""
    ids = sorted({x for s, d, _ in g.rows for x in (s, d)})
    idx = {x: i for i, x in enumerate(ids)}
    n = len(ids)
    src = np.array([idx[s] for s, _, _ in g.rows])
    dst = np.array([idx[d] for _, d, _ in g.rows])
    od = np.bincount(src, minlength=n).astype(float)
    pr = np.full(n, 1.0 / n)
    for _ in range(iterations):
        flow = np.bincount(dst, weights=pr[src] / od[src], minlength=n)
        pr = (1.0 - damping) / n + damping * (flow + (1.0 - flow.sum()) / n)
    return dict(zip(ids, pr.tolist()))


def check_pagerank(g: GraphOracle, rows: list, iterations: int) -> list[str]:
    ref = reference_pagerank(g, 0.85, iterations)
    got = {r["id"]: r["pagerank"] for r in rows}
    if set(got) != set(ref):
        return [f"pagerank: {len(got)} vertices, reference {len(ref)}"]
    worst = max(abs(got[k] - ref[k]) for k in ref)
    return [] if worst < 1e-12 else [f"pagerank: max deviation {worst:.3g} from power iteration"]


def check_auc(auc: float, floor: float) -> list[str]:
    return [] if auc >= floor else [f"train_eval: areaUnderROC {auc:.4f} below {floor}"]
