"""The three benchmark workloads.

A workload has a set-up (input generation, registry load or base ingest,
one untimed warm-up operation), a reference computed once outside every
timer, and a timed section made of rounds:

  bulk-analytics  one round = the five catalogue calls on one loaded graph
  ppr-serve       one round = one personalized-PageRank top-10 query
  ingest-refresh  one round = one wave: land commits, drain the stream,
                  refresh PageRank and WCC, republish both tables

Every call into the engine runs inside a `Tracer.span` named after the
layer it enters (registry / operators / csr / streaming); the superstep
timings the calls return (`SuperstepResult.metrics[*].sec`) give the
`plans` layer.  Algorithms are resolved by their `registry.PROCEDURES`
catalogue names.
"""

from __future__ import annotations

import importlib
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from linkbench import inputs, reference
from linkbench.trace import Tracer

# Sizes for the timed runs, and the toy sizes the self-test uses.
SIZES = {
    "full": {
        "bulk": {"vertices": 2000, "edges": 8000},
        "ppr": {"vertices": 8000, "edges": 40000, "queries": 256},
        "ingest": {"repos": 200, "files_per_repo": 9, "base_commits": 800},
    },
    "toy": {
        "bulk": {"vertices": 300, "edges": 1200},
        "ppr": {"vertices": 300, "edges": 1200, "queries": 16},
        "ingest": {"repos": 8, "files_per_repo": 9, "base_commits": 30},
    },
}
SETUP_REPEATS = 3
PAGERANK_ITERATIONS = 20
PPR_ITERATIONS = 10
LPA_ITERATIONS = 5
METAPATH_LENGTH = 3
TOP_K = 10
RANK_RTOL = 1e-6
# refresh_pagerank_scores stops once max|delta| < 1e-6 (its default); the
# residual still to be pushed then moves any rank by at most a few
# tolerances / (1-d), i.e. well under 1e-4 of the smallest rank (1-d)
REFRESH_RTOL = 1e-4


def resolve(name: str):
    """The callable registered under catalogue name `name`."""
    from neo4j_graph_algorithms_spark.registry import PROCEDURES

    module, attr = PROCEDURES[name].rsplit(".", 1)
    return getattr(importlib.import_module(module), attr)


@dataclass
class Op:
    """One timed operation: a catalogue call, a query or a wave step."""

    name: str
    layer: str
    seconds: float = 0.0
    error: str | None = None
    supersteps: list[float] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


@dataclass
class Round:
    seconds: float
    ops: list[Op]
    error: str | None = None

    @property
    def failed(self) -> int:
        return sum(op.error is not None for op in self.ops) + (self.error is not None)


class Workload:
    name = ""
    # second name under which the summary line reports this workload's wall_s
    round_alias: str | None = None

    def __init__(self, spark, tracer: Tracer, run_dir: str, seed: int, sizes: dict):
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.seed = seed
        self.sizes = sizes
        self.setup_parts: dict[str, float] = {}
        self.shape: dict = {}

    # -- helpers ---------------------------------------------------------

    def _timed_repeats(self, fn) -> float:
        """Median seconds of SETUP_REPEATS calls of `fn`."""
        times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    def call(self, name: str, layer: str, fn, check=None, op_id: int = 0) -> Op:
        """Run `fn` inside a span and time it; `check(result)` runs after the
        timer stops and returns an error string or None."""
        op = Op(name, layer)
        try:
            with self.tracer.span(layer, op_id):
                t0 = time.perf_counter()
                result = fn()
                op.seconds = time.perf_counter() - t0
            metrics = getattr(result, "metrics", None)
            if metrics is None and isinstance(result, tuple):
                metrics = getattr(result[0], "metrics", None)
            op.supersteps = [m["sec"] for m in metrics or []]
            if check is not None:
                op.error = check(result)
        except Exception as exc:  # an operation failure is counted, not fatal
            op.error = f"{type(exc).__name__}: {exc}"
            traceback.print_exc()
        return op

    # -- interface ---------------------------------------------------------

    def setup(self) -> None:
        raise NotImplementedError

    def round(self, i: int) -> Round:
        raise NotImplementedError

    def describe(self) -> dict:
        """The input shape, recorded in the run's summary."""
        return dict(self.shape)

    def operations(self, rounds: list[Round]) -> tuple[int, int]:
        """(attempted, failed) operations; here each call is one."""
        return sum(len(r.ops) for r in rounds), sum(r.failed for r in rounds)


class BulkAnalytics(Workload):
    """One power-law graph, loaded once; the five catalogue calls per round."""

    name = "bulk-analytics"

    def setup(self) -> None:
        sz = self.sizes["bulk"]
        out = os.path.join(self.run_dir, "bulk")
        self.setup_parts["inputs_s"] = self._timed_repeats(
            lambda: inputs.typed_graph(self.seed, sz["vertices"], sz["edges"], out)
        )
        files = inputs.typed_graph(self.seed, sz["vertices"], sz["edges"], out)
        self.shape = files["shape"]
        self._reference(files)

        from neo4j_graph_algorithms_spark.registry import GraphRegistry

        self.registry = GraphRegistry()

        def load():
            with self.tracer.span("registry.load"):
                edges = self.spark.read.parquet(files["edges"])
                self.registry.load("bulk", edges.select("src", "dst"))
                if getattr(self, "typed", None) is not None:
                    self.typed.unpersist()
                    self.labels.unpersist()
                self.typed = edges.persist()
                self.labels = self.spark.read.parquet(files["labels"]).persist()
                self.typed.count()
                self.labels.count()

        self.setup_parts["load_s"] = self._timed_repeats(load)
        # warm-up: one short PageRank over the loaded graph (JIT-compiles the
        # join, aggregation and checkpoint paths the round's calls share)
        t0 = time.perf_counter()
        resolve("algo.pageRank")(self.spark, self.registry.get("bulk"), max_iterations=2)
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    def _reference(self, files: dict) -> None:
        edges = pd.read_parquet(files["edges"])
        labels = pd.read_parquet(files["labels"])
        src, dst = edges["src"].to_numpy(), edges["dst"].to_numpy()
        self.ref = {
            "pagerank": reference.PushPageRank(src, dst).run(PAGERANK_ITERATIONS),
            "wcc": reference.min_label_components(src, dst),
            "lpa": reference.lpa_outgoing(src, dst, LPA_ITERATIONS),
            "triangles": reference.triangle_total(src, dst),
            "metapaths": reference.metapath_counts(edges, labels, METAPATH_LENGTH),
        }

    def round(self, i: int) -> Round:
        g = self.registry.get("bulk")
        sp = self.spark
        ref = self.ref
        ops = [
            self.call(
                "algo.pageRank", "operators.pagerank",
                lambda: resolve("algo.pageRank")(sp, g, max_iterations=PAGERANK_ITERATIONS),
                lambda r: reference.check_ranks(
                    r.state.select("vid", "rank").toPandas(), ref["pagerank"], RANK_RTOL
                ),
                i,
            ),
            self.call(
                "algo.unionFind.queue", "csr.wcc",
                lambda: resolve("algo.unionFind.queue")(sp, g),
                lambda r: reference.check_labels(r.toPandas(), "comp", ref["wcc"]),
                i,
            ),
            self.call(
                "algo.labelPropagation.csr", "csr.lpa",
                lambda: resolve("algo.labelPropagation.csr")(
                    sp, g, max_iterations=LPA_ITERATIONS
                ),
                lambda r: reference.check_labels(r.state.toPandas(), "label", ref["lpa"]),
                i,
            ),
            self.call(
                "algo.triangleCount", "operators.triangles",
                lambda: resolve("algo.triangleCount")(sp, g),
                lambda r: None if r[1] == ref["triangles"]
                else f"triangles {r[1]} != reference {ref['triangles']}",
                i,
            ),
            self.call(
                "algo.computeAllMetaPaths", "operators.metapath",
                lambda: {
                    row["path"]: int(row["cnt"])
                    for row in resolve("algo.computeAllMetaPaths")(
                        sp, self.typed, self.labels, METAPATH_LENGTH
                    ).collect()
                },
                lambda r: reference.check_counts(r, ref["metapaths"], "metapath counts"),
                i,
            ),
        ]
        if ops[0].error is None:
            ops[0].extra["edge_supersteps"] = self.shape["edges"] * len(ops[0].supersteps)
        # round time = the five calls; the checks ran outside their timers
        return Round(sum(op.seconds for op in ops), ops)


class PprServe(Workload):
    """Closed loop, one client: personalized-PageRank top-10 point queries
    against one graph loaded once, sources drawn Zipf-style."""

    name = "ppr-serve"
    round_alias = "query_p50_s"

    def setup(self) -> None:
        sz = self.sizes["ppr"]
        out = os.path.join(self.run_dir, "ppr")
        self.setup_parts["inputs_s"] = self._timed_repeats(
            lambda: inputs.plain_graph(self.seed, sz["vertices"], sz["edges"], out)
        )
        files = inputs.plain_graph(self.seed, sz["vertices"], sz["edges"], out)
        self.shape = dict(files["shape"])
        edges = pd.read_parquet(files["edges"])
        src, dst = edges["src"].to_numpy(), edges["dst"].to_numpy()
        self.sources = inputs.zipf_sources(self.seed, np.unique(src), sz["queries"])
        pr = reference.PushPageRank(src, dst)
        self.ref = {int(v): pr.run(PPR_ITERATIONS, sources=[v]) for v in np.unique(self.sources)}

        from neo4j_graph_algorithms_spark.registry import GraphRegistry

        self.registry = GraphRegistry()

        def load():
            with self.tracer.span("registry.load"):
                self.registry.load("ppr", self.spark.read.parquet(files["edges"]))

        self.setup_parts["load_s"] = self._timed_repeats(load)
        # warm-up: one query from a source outside the timed stream's head
        t0 = time.perf_counter()
        self._query(int(self.sources[-1]))
        self.setup_parts["warmup_s"] = time.perf_counter() - t0
        self.asked: list[int] = []

    def _query(self, vid: int):
        from pyspark.sql import functions as F

        seeds = self.spark.createDataFrame([(vid,)], "vid long")
        res = resolve("algo.pageRank")(
            self.spark, self.registry.get("ppr"),
            max_iterations=PPR_ITERATIONS, source_vids=seeds,
        )
        top = res.state.orderBy(F.desc("rank"), F.asc("vid")).limit(TOP_K)
        return res, top.select("vid", "rank").toPandas()

    def round(self, i: int) -> Round:
        vid = int(self.sources[i % len(self.sources)])
        self.asked.append(vid)
        op = self.call(
            "algo.pageRank(source_vids)", "operators.pagerank",
            lambda: self._query(vid),
            lambda r: reference.check_topk(r[1], self.ref[vid], TOP_K, RANK_RTOL),
            i,
        )
        if op.error is None:
            op.extra["edge_supersteps"] = self.shape["edges"] * len(op.supersteps)
        return Round(op.seconds, [op])

    def describe(self) -> dict:
        n = len(self.asked)
        repeated = (n - len(set(self.asked))) / n if n else 0.0
        return {**self.shape, "repeated_source_share": repeated}


class IngestRefresh(Workload):
    """Streaming co-commit ingest beside incremental PageRank/WCC refresh."""

    name = "ingest-refresh"
    round_alias = "wave_p50_s"

    def setup(self) -> None:
        sz = self.sizes["ingest"]
        d = os.path.join(self.run_dir, "ingest")
        self.paths = {
            k: os.path.join(d, k) for k in ("in", "edges", "ckpt", "scores", "comps", "landing")
        }
        self.gen = inputs.CorpusGenerator(
            self.seed, sz["repos"], sz["files_per_repo"], sz["base_commits"]
        )
        self.setup_parts["inputs_s"] = self._timed_repeats(self.gen.base)
        self.corpus = [self.gen.base()]
        self.table = {"edges": 0, "weight": 0.0}
        t0 = time.perf_counter()
        self._land(self.corpus[0], "base")
        ingest = self._drain(0)
        self.setup_parts["base_ingest_s"] = time.perf_counter() - t0
        # warm-up: the cold refresh that first publishes both tables
        t0 = time.perf_counter()
        ops = [ingest] + self._refresh(0)
        self.setup_parts["warmup_s"] = time.perf_counter() - t0
        err = next((op.error for op in ops if op.error), None) or self._safe_check()
        if err:
            raise RuntimeError(f"base ingest and refresh failed: {err}")
        self.shape = {
            "vertices": inputs.cocommit_expectation(self.corpus[0])["vertices"],
            "edges": self.table["edges"],
            "max_in_degree": self.table["max_in_degree"],
            "commits_per_wave": self.gen.commits_per_wave,
        }

    def _land(self, corpus: pd.DataFrame, tag: str) -> None:
        """Write the commits as one parquet file and move it into the
        stream's input directory in one rename (the source never sees a
        half-written file)."""
        tmp = inputs.write_parquet(
            corpus, os.path.join(self.paths["landing"], f"{tag}.parquet")
        )
        os.makedirs(self.paths["in"], exist_ok=True)
        os.rename(tmp, os.path.join(self.paths["in"], f"{tag}.parquet"))

    def _drain(self, i: int) -> Op:
        from neo4j_graph_algorithms_spark.streaming import (
            cocommit_increments,
            merge_edge_increments,
            stream_corpus,
        )

        def run():
            inc = cocommit_increments(stream_corpus(self.spark, self.paths["in"]))
            q = merge_edge_increments(
                inc, self.paths["edges"], self.paths["ckpt"], trigger_available_now=True
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

        return self.call("stream_corpus→merge_edge_increments", "streaming.ingest", run, op_id=i)

    def _refresh(self, i: int) -> list[Op]:
        from neo4j_graph_algorithms_spark.streaming.incremental import (
            refresh_pagerank_scores,
            refresh_wcc_components,
        )

        p = self.paths
        return [
            self.call(
                "refresh_pagerank_scores", "streaming.refresh_pagerank",
                lambda: refresh_pagerank_scores(self.spark, p["edges"], p["scores"]), op_id=i,
            ),
            self.call(
                "refresh_wcc_components", "streaming.refresh_wcc",
                lambda: refresh_wcc_components(self.spark, p["edges"], p["comps"]), op_id=i,
            ),
        ]

    def _safe_check(self) -> str | None:
        """`_check`, with a check that cannot read the tables failing too."""
        try:
            return self._check()
        except (OSError, ValueError, KeyError) as exc:
            return f"{type(exc).__name__}: {exc}"

    def _check(self) -> str | None:
        """The merged edge table against the corpus landed so far, and the
        published tables against the merged edge table.  Records the
        table's size; its weight gain is the number of pair increments
        merged (each increment carries weight 1)."""
        p = self.paths
        edges = pq.read_table(p["edges"]).to_pandas()
        weight = float(edges["weight"].sum())
        self.table = {
            "edges": len(edges),
            "weight": weight,
            "increment_rows": weight - self.table["weight"],
            "max_in_degree": int(edges["dst"].value_counts().max()),
        }
        exp = inputs.cocommit_expectation(pd.concat(self.corpus, ignore_index=True))
        if len(edges) != exp["edges"] or not np.isclose(weight, exp["total_weight"]):
            return (
                f"edge table holds {len(edges)} edges of weight {weight}, "
                f"the corpus implies {exp['edges']} of weight {exp['total_weight']}"
            )
        marks = set()
        for table, marker in (("edges", "_last_batch_id"), ("scores", "_edge_batch_id"),
                              ("comps", "_edge_batch_id")):
            with open(os.path.join(p[table], marker)) as fh:
                marks.add(fh.read().strip())
        if len(marks) != 1:
            return f"published tables reflect different ingest batches {sorted(marks)}"
        src, dst = edges["src"].to_numpy(), edges["dst"].to_numpy()
        return reference.check_ranks(
            pq.read_table(p["scores"]).to_pandas(),
            reference.PushPageRank(src, dst).run(tol=1e-13),
            REFRESH_RTOL,
        ) or reference.check_labels(
            pq.read_table(p["comps"]).to_pandas(), "comp",
            reference.min_label_components(src, dst),
        )

    def operations(self, rounds: list[Round]) -> tuple[int, int]:
        """A whole wave is one operation."""
        return len(rounds), sum(r.failed > 0 for r in rounds)

    def round(self, i: int) -> Round:
        wave = self.gen.wave(i)  # generated before the clock starts
        t0 = time.perf_counter()
        with self.tracer.span("streaming.wave", i):
            self._land(wave, f"wave{i:04d}")
            ops = [self._drain(i + 1)] + self._refresh(i + 1)
        seconds = time.perf_counter() - t0
        self.corpus.append(wave)
        err = next((op.error for op in ops if op.error), None)
        check = None if err else self._safe_check()
        if check is None and err is None:
            ops[0].extra["increment_rows"] = self.table["increment_rows"]
            ops[1].extra["edge_supersteps"] = self.table["edges"] * len(ops[1].supersteps)
        return Round(seconds, ops, error=check)


WORKLOADS = {w.name: w for w in (BulkAnalytics, PprServe, IngestRefresh)}
