"""Benchmark launcher: one workload (or all three) on local[nproc].

    python3 linkbench/run.py --workload ppr-serve --seed 1 --seconds 20 --trace 0

Run from the repository root.  The launcher pins the environment before
Spark starts (local[nproc] with nproc shuffle partitions, an explicit
driver memory, the repository root on PYTHONPATH for Spark's Python
workers, a private SPARK_LOCAL_DIRS and temp dir under .linkbench/ that is
removed afterwards), generates the inputs from the seed, sets up, runs
rounds of the workload until --seconds is used up (at least one round),
checks every output against the reference, and prints two lines: a
summary with every metric by name and unit plus the input shape and host
load, then the result object

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

With --trace 0 the metrics are the end-to-end ones.  With --trace 1,
Spark's event log is on and a span property is set around every call;
the metrics are then the per-layer ones plus trace.overhead_s, the traced
wall_s minus the untraced wall_s of the same workload.  Untraced runs
record their wall_s under .linkbench/; the traced run compares with the
one of the same seed (else the median over seeds).  When there is none
yet, it makes an untraced run itself afterwards, in a child process, if
that fits in TRACED_RUN_LIMIT_S; otherwise trace.overhead_s reads 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".linkbench")
DRIVER_MEMORY = "3g"
# a traced run with no untraced run to compare with makes one, within this
# total, so that the pair stays well inside a three-minute run limit
TRACED_RUN_LIMIT_S = 170.0

# units of the metrics whose name does not end in _s (seconds) or _mb
UNITS = {"pagerank_edges_per_s": "1/s", "error_rate": "ratio"}
END_TO_END = ("setup_s", "wall_s", "pagerank_edges_per_s")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(run_dir: str) -> None:
    """Environment Spark's JVM and Python workers inherit: set before the
    first session starts."""
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")


def start_session(run_dir: str, traced: bool):
    from neo4j_graph_algorithms_spark.session import build_session

    n = nproc()
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return build_session(
        app_name="linkbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM it launched (which
    exits when its stdin closes) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def run_phase(names: list[str], seed: int, seconds: float, run_dir: str,
              traced: bool, sizes: dict) -> dict:
    """Start a session, set up and time each workload, stop the session.
    Returns per-workload results (and per-span task metrics when traced)."""
    from linkbench.trace import Tracer, attribute
    from linkbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(run_dir, traced)
    session_s = time.perf_counter() - t0
    results = {}
    tracer = Tracer(spark, enabled=traced)
    try:
        for name in names:
            wl = WORKLOADS[name](spark, tracer, os.path.join(run_dir, name), seed, sizes)
            first_span = len(tracer.spans)
            wl.setup()
            timed_span = len(tracer.spans)
            rounds = []
            t0 = time.perf_counter()
            while True:
                rounds.append(wl.round(len(rounds)))
                elapsed = time.perf_counter() - t0
                if elapsed + _median(r.seconds for r in rounds) > seconds:
                    break
            results[name] = {
                "workload": wl,
                "rounds": rounds,
                "session_s": session_s,
                # set-up spans count only for the load; the warm-up is untimed
                "spans": [s for s in tracer.spans[first_span:timed_span] if s.name == "registry.load"]
                + tracer.spans[timed_span:],
            }
    finally:
        spark.stop()
    if traced:
        per_span = attribute(os.path.join(run_dir, "events"), tracer.spans)
        for res in results.values():
            res["spans"] = [(s, per_span[s.id]) for s in res["spans"]]
    tracer.dump(os.path.join(STATE_DIR, "traces", f"{'-'.join(names)}-seed{seed}-trace{int(traced)}.jsonl"))
    return results


def end_to_end(res: dict) -> dict:
    wl, rounds = res["workload"], res["rounds"]
    pr_rates = [
        op.extra["edge_supersteps"] / op.seconds
        for r in rounds for op in r.ops if op.extra.get("edge_supersteps")
    ]
    m = {
        "setup_s": res["session_s"] + sum(wl.setup_parts.values()),
        "wall_s": _median(r.seconds for r in rounds),
        "pagerank_edges_per_s": _median(pr_rates),
    }
    attempted, failed = wl.operations(rounds)
    m["error_rate"] = failed / attempted
    if wl.round_alias:
        m[wl.round_alias] = m["wall_s"]
    return m


LAYER_TIMERS = (
    ("operators.pagerank_s", "operators.pagerank", "seconds"),
    ("operators.pagerank.build_s", "operators.pagerank", "build"),
    ("operators.triangles_s", "operators.triangles", "seconds"),
    ("operators.metapath_s", "operators.metapath", "seconds"),
    ("csr.wcc_s", "csr.wcc", "seconds"),
    ("csr.lpa_s", "csr.lpa", "seconds"),
    ("streaming.ingest_s", "streaming.ingest", "seconds"),
    ("streaming.refresh_pagerank_s", "streaming.refresh_pagerank", "seconds"),
    ("streaming.refresh_pagerank.supersteps", "streaming.refresh_pagerank", "supersteps"),
    ("streaming.refresh_wcc_s", "streaming.refresh_wcc", "seconds"),
    ("streaming.refresh_wcc.supersteps", "streaming.refresh_wcc", "supersteps"),
)
SPAN_NAMES = (
    "registry.load",
    "operators.pagerank",
    "operators.triangles",
    "operators.metapath",
    "csr.wcc",
    "csr.lpa",
    "streaming.ingest",
    "streaming.refresh_pagerank",
    "streaming.refresh_wcc",
)


def layer_timings(res: dict) -> dict:
    """Per-layer numbers from the benchmark's own timers and the superstep
    timings the calls return; 0 where the workload does not use a layer."""
    wl, rounds = res["workload"], res["rounds"]
    ops = [op for r in rounds for op in r.ops if op.error is None]
    value = {
        "seconds": lambda op: op.seconds,
        "build": lambda op: op.seconds - sum(op.supersteps),
        "supersteps": lambda op: len(op.supersteps),
    }
    m = {"registry.load_s": wl.setup_parts.get("load_s", 0.0)}
    for metric, layer, kind in LAYER_TIMERS:
        m[metric] = _median(value[kind](op) for op in ops if op.layer == layer)
    m["plans.supersteps"] = _median(sum(len(op.supersteps) for op in r.ops) for r in rounds)
    m["plans.superstep_p50_s"] = _median(s for op in ops for s in op.supersteps)
    m["streaming.increment_rows"] = _median(
        op.extra["increment_rows"] for op in ops if "increment_rows" in op.extra
    )
    return m


def span_metrics(res: dict) -> dict:
    """Event-log task metrics per leaf span name, averaged per call."""
    from linkbench.trace import TASK_METRICS

    m = {}
    for name in SPAN_NAMES:
        rows = [vals for s, vals in res["spans"] if s.name == name]
        for k in TASK_METRICS:
            m[f"{name}.{k}"] = sum(v[k] for v in rows) / len(rows) if rows else 0.0
    return m


def errors(res: dict) -> list[str]:
    rounds = res["rounds"]
    return [f"{op.name}: {op.error}" for r in rounds for op in r.ops if op.error] + [
        r.error for r in rounds if r.error
    ]


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    return "count"


def with_units(metrics: dict) -> dict:
    return {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()}


def _untraced_log() -> str:
    return os.path.join(STATE_DIR, "untraced.jsonl")


def record_untraced(name: str, seed: int, wall_s: float) -> None:
    """Keep each clean untraced run's wall_s for later traced runs."""
    os.makedirs(STATE_DIR, exist_ok=True)
    with open(_untraced_log(), "a") as fh:
        fh.write(json.dumps({"workload": name, "seed": seed, "wall_s": wall_s}) + "\n")


def untraced_wall_s(name: str, seed: int) -> float | None:
    """wall_s of the latest untraced run with this seed, else the median
    over this workload's untraced runs; None when there is none."""
    if not os.path.exists(_untraced_log()):
        return None
    with open(_untraced_log()) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    rows = [r for r in rows if r["workload"] == name]
    same = [r["wall_s"] for r in rows if r["seed"] == seed]
    if same:
        return same[-1]
    return _median(r["wall_s"] for r in rows) if rows else None


def untraced_child_run(args, budget_s: float) -> None:
    """Untraced run of the same workload and seed in a child process (a
    fresh JVM, like the traced run's), which records its wall_s.  Stopped,
    and so cleaned up, once `budget_s` is spent."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL)
    try:
        proc.wait(timeout=max(budget_s, 1.0))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.terminate()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk-analytics", "ppr-serve", "ingest-refresh", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import neo4j_graph_algorithms_spark as engine
    except ImportError as exc:
        print(f"linkbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        print(f"linkbench: the engine was imported from {engine.__file__}, not {ROOT}", file=sys.stderr)
        return 2
    from linkbench.workloads import SIZES, WORKLOADS

    run_dir = os.path.join(STATE_DIR, f"run-{os.getpid()}-{int(time.time() * 1e3)}")
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    pin_environment(run_dir)

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    sizes = SIZES["full"]
    started = time.monotonic()
    load_before = os.getloadavg()
    try:
        results = run_phase(names, args.seed, args.seconds, run_dir, bool(args.trace), sizes)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace and any(untraced_wall_s(n, args.seed) is None for n in names):
        untraced_child_run(args, TRACED_RUN_LIMIT_S - (time.monotonic() - started))
    load_after = os.getloadavg()

    attempted = failed = 0
    metrics: dict = {}
    for name in names:
        res = results[name]
        a, f = res["workload"].operations(res["rounds"])
        attempted += a
        failed += f
        e2e = end_to_end(res)
        layers = layer_timings(res)
        if args.trace:
            layers.update(span_metrics(res))
            baseline = untraced_wall_s(name, args.seed)
            if baseline is None:
                print(f"linkbench: no untraced run of {name} to compare with; "
                      "trace.overhead_s reported as 0", file=sys.stderr)
            layers["trace.overhead_s"] = e2e["wall_s"] - baseline if baseline else 0.0
        elif not errors(res):
            record_untraced(name, args.seed, e2e["wall_s"])
        print(json.dumps({
            "workload": name,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": nproc(),
            "loadavg_before": load_before,
            "loadavg_after": load_after,
            "rounds": len(res["rounds"]),
            "input": res["workload"].describe(),
            "setup_parts_s": {"session_s": res["session_s"], **res["workload"].setup_parts},
            "errors": errors(res),
            "end_to_end": with_units(e2e),
            "layers": with_units(layers),
        }))
        chosen = layers if args.trace else {k: e2e[k] for k in END_TO_END}
        prefix = f"{name}." if len(names) > 1 else ""
        metrics.update({prefix + k: v for k, v in with_units(chosen).items()})
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
