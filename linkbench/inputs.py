"""Seeded input generator for the benchmark (numpy/pandas → parquet).

Everything here depends only on the seed and the size arguments, never on
the engine's own synthesizers, so a change to the engine cannot change the
benchmark's inputs.  The same seed writes byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_EDGE_TYPES = 5
N_LABELS = 3


def write_parquet(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # fixed writer settings (snappy, one row group) keep the bytes a pure
    # function of the frame
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False),
        path,
        compression="snappy",
        row_group_size=max(1, len(df)),
    )
    return path


def powerlaw_edges(
    rng: np.random.Generator, n_vertices: int, n_edges: int
) -> pd.DataFrame:
    """[src, dst] simple directed graph with quadratic in-degree skew.

    dst = floor(V·u²) piles in-edges onto low ranks (a rank-r vertex gets
    in-degree ∝ 1/√r); a seeded permutation then scatters the hubs over
    the id space.  Self-loops and parallel edges are dropped, and exactly
    `n_edges` edges are kept, so every seed gives the same size.
    """
    take = int(n_edges * 1.6) + 64
    src = rng.integers(0, n_vertices, take)
    dst = np.minimum((n_vertices * rng.random(take) ** 2).astype(np.int64), n_vertices - 1)
    keep = src != dst
    key = src[keep] * n_vertices + dst[keep]
    _, first = np.unique(key, return_index=True)
    first.sort()  # first occurrence order = generation order
    if len(first) < n_edges:
        raise ValueError("generator could not draw enough distinct edges")
    key = key[first[:n_edges]]
    perm = rng.permutation(n_vertices).astype(np.int64)
    return pd.DataFrame({"src": perm[key // n_vertices], "dst": perm[key % n_vertices]})


def graph_shape(edges: pd.DataFrame) -> dict:
    verts = np.unique(np.concatenate([edges["src"].to_numpy(), edges["dst"].to_numpy()]))
    return {
        "vertices": int(len(verts)),
        "edges": int(len(edges)),
        "max_in_degree": int(edges["dst"].value_counts().max()),
    }


def typed_graph(seed: int, n_vertices: int, n_edges: int, out_dir: str) -> dict:
    """The bulk-analytics graph: edges [src, dst, type] (5 types) and
    node labels [vid, labels] (3 labels; a fifth of the vertices carry a
    second label)."""
    rng = np.random.default_rng([seed, 1])
    edges = powerlaw_edges(rng, n_vertices, n_edges)
    edges["type"] = rng.integers(0, N_EDGE_TYPES, len(edges)).astype(np.int32)
    vids = np.unique(np.concatenate([edges["src"].to_numpy(), edges["dst"].to_numpy()]))
    first = rng.integers(0, N_LABELS, len(vids))
    second = (first + rng.integers(1, N_LABELS, len(vids))) % N_LABELS
    two = rng.random(len(vids)) < 0.2
    labels = [
        [int(a), int(b)] if t else [int(a)] for a, b, t in zip(first, second, two)
    ]
    node_labels = pd.DataFrame({"vid": vids, "labels": labels})
    return {
        "edges": write_parquet(edges, os.path.join(out_dir, "edges.parquet")),
        "labels": write_parquet(node_labels, os.path.join(out_dir, "labels.parquet")),
        "shape": graph_shape(edges),
    }


def plain_graph(seed: int, n_vertices: int, n_edges: int, out_dir: str) -> dict:
    """The ppr-serve graph: edges [src, dst]."""
    rng = np.random.default_rng([seed, 2])
    edges = powerlaw_edges(rng, n_vertices, n_edges)
    return {
        "edges": write_parquet(edges, os.path.join(out_dir, "edges.parquet")),
        "shape": graph_shape(edges),
    }


def zipf_sources(seed: int, candidates: np.ndarray, n_queries: int, a: float = 1.3) -> np.ndarray:
    """Query source vertices drawn Zipf-style: popularity rank r is chosen
    with weight 1/r^a over a seeded shuffle of the candidate vertices."""
    rng = np.random.default_rng([seed, 3])
    order = rng.permutation(np.sort(candidates))
    w = 1.0 / np.arange(1, len(order) + 1) ** a
    return order[rng.choice(len(order), size=n_queries, p=w / w.sum())]


class CorpusGenerator:
    """Co-commit corpus rows [repo, path, commit, lang, content].

    `base()` is the corpus ingested during set-up: every repo starts with
    an import commit touching its first `files_per_repo` files, then
    `base_commits` further commits each touch 3..8 of those files.  `wave(i)`
    is the i-th batch landed during the timed run: one commit per repo that
    adds the repo's next new file together with 2..6 of its existing files.

    The import commits make each repo's co-commit graph a clique, so the
    longest path of the src<dst-oriented edge table (which bounds the
    PageRank refresh's supersteps) is `files_per_repo` vertices before the
    first wave and at most one longer per wave, whatever the seed.
    """

    def __init__(self, seed: int, n_repos: int, files_per_repo: int, base_commits: int):
        self.seed = seed
        self.n_repos = n_repos
        self.files_per_repo = files_per_repo
        self.base_commits = base_commits

    @staticmethod
    def _rows(commits: list[tuple[int, str, list[int]]]) -> pd.DataFrame:
        rows = [
            (f"repo{repo:03d}", f"src/f_{f}.py", commit)
            for repo, commit, files in commits
            for f in sorted(files)
        ]
        df = pd.DataFrame(rows, columns=["repo", "path", "commit"])
        df["lang"] = "python"
        df["content"] = [f"import f_{i % 7}\n" for i in range(len(df))]
        return df

    def base(self) -> pd.DataFrame:
        rng = np.random.default_rng([self.seed, 4])
        commits = [(r, "import", list(range(self.files_per_repo))) for r in range(self.n_repos)]
        for c in range(self.base_commits):
            k = int(min(2 + rng.geometric(0.35), 8, self.files_per_repo))
            files = rng.choice(self.files_per_repo, size=k, replace=False)
            commits.append((int(rng.integers(self.n_repos)), f"b{c:08x}", files.tolist()))
        return self._rows(commits)

    def wave(self, i: int) -> pd.DataFrame:
        rng = np.random.default_rng([self.seed, 5, i])
        new = self.files_per_repo + i
        commits = []
        for r in range(self.n_repos):
            k = int(rng.integers(2, 7))
            old = rng.choice(new, size=min(k, new), replace=False)
            commits.append((r, f"w{i:04d}r{r:03d}", [new] + old.tolist()))
        return self._rows(commits)

    @property
    def commits_per_wave(self) -> int:
        return self.n_repos


def cocommit_expectation(corpus: pd.DataFrame) -> dict:
    """Edge count and total weight the merged co-commit table must hold
    for `corpus` (all commits so far): weight(a, b) = #commits touching both
    files; distinct files are identified by (repo, path)."""
    files = corpus["repo"] + "/" + corpus["path"]
    fid = pd.Series(pd.factorize(files)[0], index=corpus.index)
    by_commit = pd.DataFrame({"commit": corpus["repo"] + "/" + corpus["commit"], "f": fid})
    pairs = by_commit.merge(by_commit, on="commit")
    pairs = pairs[pairs["f_x"] < pairs["f_y"]]
    return {
        "edges": int(len(pairs[["f_x", "f_y"]].drop_duplicates())),
        "total_weight": float(len(pairs)),
        "vertices": int(fid.nunique()),
    }
