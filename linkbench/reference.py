"""Reference answers computed with numpy / pandas / networkx, untimed.

Each function mirrors the engine's documented semantics on the same
generated inputs; `check_*` compares an engine output with the reference
and returns an error string, or None when the output is correct.
"""

from __future__ import annotations

import networkx as nx
import numpy as np
import pandas as pd

DAMPING = 0.85


class PushPageRank:
    """The engine's unnormalized delta-push PageRank (init rank = delta =
    1-d, each superstep pushes d·delta/outdeg along out-edges, no dangling
    redistribution) as numpy power iteration over one edge list."""

    def __init__(self, src: np.ndarray, dst: np.ndarray, damping: float = DAMPING):
        self.vids = np.unique(np.concatenate([src, dst]))
        self.s = np.searchsorted(self.vids, src)
        self.t = np.searchsorted(self.vids, dst)
        outdeg = np.bincount(self.s, minlength=len(self.vids)).astype(float)
        self.inv = 1.0 / outdeg[self.s]
        self.d = damping

    def run(self, iterations: int | None = None, sources=None, tol: float = 0.0) -> pd.Series:
        """Fixed `iterations` supersteps, or until max|delta| <= tol."""
        n = len(self.vids)
        alpha = 1.0 - self.d
        if sources is None:
            rank = np.full(n, alpha)
        else:
            rank = np.zeros(n)
            rank[np.searchsorted(self.vids, np.asarray(sources))] = alpha
        delta = rank.copy()
        i = 0
        while (iterations is None or i < iterations) and np.abs(delta).max() > tol:
            push = self.d * np.bincount(self.t, weights=delta[self.s] * self.inv, minlength=n)
            rank = rank + push
            delta = push
            i += 1
        return pd.Series(rank, index=self.vids)


def _rel_err(got: np.ndarray, want: np.ndarray) -> float:
    scale = np.maximum(np.abs(want), 1e-300)
    return float(np.max(np.abs(got - want) / scale)) if len(want) else 0.0


def check_ranks(got: pd.DataFrame, want: pd.Series, rtol: float) -> str | None:
    """Every vertex's rank within `rtol` relative of the reference."""
    if len(got) != len(want):
        return f"rank rows {len(got)} != reference {len(want)}"
    g = got.set_index("vid")["rank"].reindex(want.index)
    if g.isna().any():
        return "rank table misses reference vertices"
    err = _rel_err(g.to_numpy(), want.to_numpy())
    return None if err <= rtol else f"rank relative error {err:.3g} > {rtol:g}"


def check_topk(got: pd.DataFrame, want: pd.Series, k: int, rtol: float) -> str | None:
    """A top-k answer: each returned vertex's score matches the reference,
    and the returned scores are the reference's k largest (ties may pick
    either vertex)."""
    if len(got) != min(k, len(want)):
        return f"top-{k} returned {len(got)} rows"
    if not got["vid"].isin(want.index).all():
        return "top-k returned unknown vertices"
    err = _rel_err(got["rank"].to_numpy(), want.reindex(got["vid"]).to_numpy())
    best = np.sort(want.to_numpy())[::-1][:k]
    err = max(err, _rel_err(np.sort(got["rank"].to_numpy())[::-1], best))
    return None if err <= rtol else f"top-{k} relative error {err:.3g} > {rtol:g}"


def min_label_components(src: np.ndarray, dst: np.ndarray) -> pd.Series:
    """vid → min member vid of its weakly connected component (networkx)."""
    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    out = {}
    for comp in nx.connected_components(g):
        m = min(comp)
        for v in comp:
            out[v] = m
    return pd.Series(out).sort_index()


def check_labels(got: pd.DataFrame, col: str, want: pd.Series) -> str | None:
    """Exact per-vertex label equality."""
    g = got.set_index("vid")[col].sort_index()
    if len(g) != len(want) or not g.index.equals(want.index):
        return f"{col} table covers {len(g)} vertices, reference {len(want)}"
    bad = int((g.to_numpy() != want.to_numpy()).sum())
    return None if bad == 0 else f"{bad} vertices with a wrong {col}"


def triangle_total(src: np.ndarray, dst: np.ndarray) -> int:
    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    g.remove_edges_from(nx.selfloop_edges(g))
    return sum(nx.triangles(g).values()) // 3


def lpa_outgoing(src: np.ndarray, dst: np.ndarray, iterations: int) -> pd.Series:
    """Synchronous label propagation, OUTGOING gather, unit weights: each
    vertex adopts the label with the largest vote sum over its
    out-neighbours, the smallest label winning ties; vertices without
    out-neighbours keep their label."""
    vids = np.unique(np.concatenate([src, dst]))
    label = pd.Series(vids, index=vids)
    gather = pd.DataFrame({"g": src, "nbr": dst})
    for _ in range(iterations):
        votes = (
            gather.assign(label=label.reindex(gather["nbr"]).to_numpy())
            .groupby(["g", "label"], sort=False)
            .size()
            .rename("w")
            .reset_index()
            .sort_values(["g", "w", "label"], ascending=[True, False, True])
            .drop_duplicates("g")
        )
        new = label.copy()
        new.loc[votes["g"].to_numpy()] = votes["label"].to_numpy()
        if new.equals(label):
            break
        label = new
    return label


def metapath_counts(edges: pd.DataFrame, node_labels: pd.DataFrame, length: int) -> dict:
    """path → walk-instance count, the engine's computeAllMetaPaths
    semantics: undirected typed adjacency, every label seeds, expansion
    uses each vertex's first label, counts summed over levels 1..length."""
    e = edges[["src", "dst", "type"]]
    und = pd.concat(
        [e, e[e["src"] != e["dst"]].rename(columns={"src": "dst", "dst": "src"})],
        ignore_index=True,
    )
    prim = pd.DataFrame(
        {"dst": node_labels["vid"].to_numpy(),
         "label": [int(x[0]) for x in node_labels["labels"]]}
    )
    seeds = node_labels[["vid", "labels"]].explode("labels")
    state = pd.DataFrame(
        {"path": seeds["labels"].astype(int).astype(str).to_numpy(),
         "vid": seeds["vid"].to_numpy(), "cnt": 1}
    )
    totals = [state.groupby("path")["cnt"].sum()]
    for _ in range(1, length):
        x = state.merge(und, left_on="vid", right_on="src").merge(prim, on="dst")
        x["path"] = x["path"] + "|" + x["type"].astype(str) + "|" + x["label"].astype(str)
        state = x.groupby(["path", "dst"], as_index=False)["cnt"].sum().rename(columns={"dst": "vid"})
        totals.append(state.groupby("path")["cnt"].sum())
    return {str(k): int(v) for k, v in pd.concat(totals).groupby(level=0).sum().items()}


def check_counts(got: dict, want: dict, what: str) -> str | None:
    if got == want:
        return None
    diff = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
    return f"{diff} {what} differ from the reference"
