"""Output checks, each against a computation made apart from the program.

Every check takes the collected rows of one operation (plus the inputs it
ran on) and returns ``None`` when the output is right, or a one-line
reason when it is not. None of them call into the program's operators:

- graph outputs are recomputed with networkx and numpy on the collected
  edge list;
- vector scores and recall are recomputed with numpy brute force, and the
  LOF chain is replayed in plain Python over the neighbor lists;
- the curated corpus is checked by properties recomputed in Python.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

import numpy as np

# ---------------------------------------------------------------- graph


def graph_of(edge_rows) -> "nx.Graph":
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from((int(r[0]), int(r[1])) for r in edge_rows)
    return g


def check_components(rows, g) -> str | None:
    got = defaultdict(set)
    for r in rows:
        got[r["component"]].add(r["id"])
    import networkx as nx

    want = {frozenset(c) for c in nx.connected_components(g)}
    if {frozenset(s) for s in got.values()} != want:
        return "component partition differs from networkx"
    if any(label != min(members) for label, members in got.items()):
        return "component label is not the minimum member id"
    return None


def pagerank_reference(g, damping: float, max_iterations: int, tol: float) -> dict:
    """Power iteration on the symmetrized graph: uniform start, uniform
    teleport, no dangling vertices (every vertex has an edge), stop once
    the largest change falls under ``tol`` or the budget is spent."""
    nodes = sorted(g.nodes)
    index = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.array([index[u] for u, v in g.edges] + [index[v] for u, v in g.edges])
    dst = np.array([index[v] for u, v in g.edges] + [index[u] for u, v in g.edges])
    deg = np.bincount(src, minlength=n).astype(float)
    rank = np.full(n, 1.0 / n)
    for _ in range(max_iterations):
        new = (1.0 - damping) / n + damping * np.bincount(
            dst, weights=(rank / deg)[src], minlength=n
        )
        done = np.max(np.abs(new - rank)) < tol
        rank = new
        if done:
            break
    return dict(zip(nodes, rank))


def check_pagerank(rows, g, damping: float, max_iterations: int, tol: float) -> str | None:
    want = pagerank_reference(g, damping, max_iterations, tol)
    got = {r["id"]: r["rank"] for r in rows}
    if got.keys() != want.keys():
        return "pagerank vertex set differs from the graph's"
    worst = max(abs(got[v] - want[v]) for v in want)
    return None if worst <= 1e-9 else f"pagerank off by {worst:.3g} from numpy"


def check_clustering(rows, g) -> str | None:
    import networkx as nx

    tri = nx.triangles(g)
    cc = nx.clustering(g)
    seen = set()
    for r in rows:
        v = r["id"]
        seen.add(v)
        if r["degree"] != g.degree(v) or r["triangles"] != tri[v]:
            return f"degree/triangles of {v} differ from networkx"
        if not math.isclose(r["cc"], cc[v], rel_tol=1e-12, abs_tol=1e-15):
            return f"clustering coefficient of {v} differs from networkx"
    if any(tri[v] > 0 for v in set(g.nodes) - seen):
        return "a vertex with triangles is missing"
    return None


# --------------------------------------------------------------- vectors


def cosine_matrix(vectors: np.ndarray) -> np.ndarray:
    v = vectors.astype(np.float64)
    unit = v / np.linalg.norm(v, axis=1, keepdims=True)
    return unit @ unit.T


def _scores_match(pairs, sims, cos: np.ndarray) -> str | None:
    """Every reported score equals the numpy cosine at 6 decimals (the
    operators round to 1e-6; one unit of slack covers the last-bit
    difference between summation orders)."""
    for (a, b), s in zip(pairs, sims):
        if abs(s - cos[a, b]) > 1.5e-6:
            return f"score of ({a}, {b}) is {s}, numpy says {cos[a, b]:.7f}"
    return None


def check_ivfpq(rows, vectors: np.ndarray, query_ids, k: int, recall_floor: float) -> str | None:
    """ADC top-k: at most ``k`` ranked results per query of the sample,
    ranks 1..n in ascending ADC distance, and mean recall@k against the
    numpy exact-L2 top-k at or above ``recall_floor``."""
    got = defaultdict(list)
    for r in rows:
        got[r["query_id"]].append((r["rank"], r["adc_d2"], r["cand_id"]))
    if set(got) != set(query_ids):
        return "ivfpq query set differs from vec_id % query_mod == 0"
    recalls = []
    for q, res in got.items():
        res.sort()
        if [rank for rank, _, _ in res] != list(range(1, len(res) + 1)) or len(res) > k:
            return f"query {q} ranks are not 1..n with n <= {k}"
        if any(a[1] > b[1] for a, b in zip(res, res[1:])):
            return f"query {q} ranks are not in ascending ADC distance"
        d = ((vectors - vectors[q]) ** 2).sum(axis=1)
        d[q] = np.inf
        truth = set(np.argsort(d, kind="stable")[:k].tolist())
        cands = {c for _, _, c in res}
        if q in cands:
            return f"query {q} is its own candidate"
        recalls.append(len(truth & cands) / k)
    recall = sum(recalls) / len(recalls)
    return None if recall >= recall_floor else f"mean recall@{k} {recall:.3f} < {recall_floor}"


def lof_reference(neighbor_rows) -> dict:
    """The LOF chain (Breunig et al. 2000) in integer micro units over
    the retrieved ``(query_id, cand_id, sim)`` neighbor lists: distance
    1e6 - round(sim * 1e6), k-distance as the largest retrieved
    distance, reachability max(d, k-distance of the neighbor), density
    count * 1e9 // sum(reach), and LOF as the mean neighbor density over
    the own density, times 1e6. Returns ``{id: (n, kdist, lrd, lof)}``."""
    d = defaultdict(dict)
    for r in neighbor_rows:
        d[r["query_id"]][r["cand_id"]] = 1_000_000 - math.floor(r["sim"] * 1e6 + 0.5)
    kdist = {q: max(ds.values()) for q, ds in d.items()}
    lrd = {}
    for q, ds in d.items():
        reach = [max(dc, kdist[c]) for c, dc in ds.items() if c in kdist]
        if reach:
            lrd[q] = len(reach) * 1_000_000_000 // max(sum(reach), 1)
    out = {}
    for q, ds in d.items():
        near = [lrd[c] for c in ds if c in lrd]
        if near and q in lrd:
            out[q] = (len(near), kdist[q], lrd[q], sum(near) * 1_000_000 // (len(near) * lrd[q]))
    return out


def check_lof(rows, neighbor_rows, cos: np.ndarray) -> str | None:
    """``lof_scores`` against the LOF chain replayed over the neighbor
    lists, whose scores are first checked against numpy."""
    bad = _scores_match(
        [(r["query_id"], r["cand_id"]) for r in neighbor_rows],
        [r["sim"] for r in neighbor_rows], cos,
    )
    if bad:
        return f"lof neighbor {bad}"
    want = lof_reference(neighbor_rows)
    got = {r["vec_id"]: (r["n_neighbors"], r["kdist_micro"], r["lrd_m"], r["lof_micro"])
           for r in rows}
    if got.keys() != want.keys():
        return f"lof vertex set differs from the replay ({len(got)} vs {len(want)})"
    for v, w in want.items():
        if got[v] != w:
            return f"lof of {v} is {got[v]}, the replay gives {w}"
    return None


# ---------------------------------------------------------------- corpus

EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
IPV4 = re.compile(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b")
PHONE = re.compile(r"\b\d{3}-\d{3}-\d{4}\b")


def normalized(text: str) -> str:
    """Lowercase, keep [a-z0-9 ], collapse space runs, trim."""
    return re.sub(" +", " ", re.sub("[^a-z0-9 ]", "", text.lower())).strip()


def check_curated(kept_rows, summary: dict, input_text: dict, cap: int) -> str | None:
    ids = [r["doc_id"] for r in kept_rows]
    if len(ids) != summary["kept_docs"]:
        return f"read-back count {len(ids)} != summary kept_docs {summary['kept_docs']}"
    if len(set(ids)) != len(ids):
        return "a document was kept twice"
    prints = [normalized(input_text[i]) for i in ids]
    if len(set(prints)) != len(prints):
        return "two kept documents share a normalized fingerprint"
    strata = Counter((r["lang"], r["source"]) for r in kept_rows)
    if max(strata.values()) > cap:
        return f"a stratum holds {max(strata.values())} rows > cap {cap}"
    for r in kept_rows:
        t = r["text"]
        if EMAIL.search(t) or IPV4.search(t) or PHONE.search(t):
            return f"PII survives in document {r['doc_id']}"
    return None


def check_per_doc(rows, n_docs: int, column: str, valid) -> str | None:
    ids = [r["doc_id"] for r in rows]
    if sorted(ids) != list(range(n_docs)):
        return "not exactly one row per input document"
    bad = [r["doc_id"] for r in rows if not valid(r[column])]
    return f"invalid {column} for document {bad[0]}" if bad else None
