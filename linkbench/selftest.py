"""Toy-size self-test of the benchmark itself (about a minute or two):

    python3 linkbench/selftest.py

  * the same seed writes byte-identical inputs, another seed does not;
  * the pandas LPA reference agrees with the engine's Tier A twin
    (algo.labelPropagation), which the test suite pins as exactly
    equivalent to the Tier B call the benchmark times;
  * all three workloads set up and run one round end to end, correctly;
  * a corrupted result is counted as a failed operation.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(d: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs
    )


def check_inputs_deterministic(tmp: str) -> None:
    from linkbench import inputs
    from linkbench.workloads import SIZES

    sz = SIZES["toy"]

    def write(seed: int, out: str) -> None:
        inputs.typed_graph(seed, sz["bulk"]["vertices"], sz["bulk"]["edges"], os.path.join(out, "bulk"))
        inputs.plain_graph(seed, sz["ppr"]["vertices"], sz["ppr"]["edges"], os.path.join(out, "ppr"))
        gen = inputs.CorpusGenerator(seed, *(sz["ingest"][k] for k in
                                             ("repos", "files_per_repo", "base_commits")))
        inputs.write_parquet(gen.base(), os.path.join(out, "ingest", "base.parquet"))
        inputs.write_parquet(gen.wave(0), os.path.join(out, "ingest", "wave0.parquet"))

    for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
        write(seed, os.path.join(tmp, tag))
    a, b, c = (os.path.join(tmp, t) for t in "abc")
    names = _files(a)
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    if mismatch or errors or names != _files(b):
        raise AssertionError(f"same seed, different inputs: {mismatch + errors}")
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    if len(mismatch) != len(names):
        raise AssertionError(f"another seed left inputs unchanged: {sorted(set(names) - set(mismatch))}")


def check_reference_catches_corruption() -> None:
    import pandas as pd

    from linkbench import reference

    want = pd.Series([0.15, 0.3, 0.45], index=[1, 2, 3])
    good = pd.DataFrame({"vid": [3, 1, 2], "rank": [0.45, 0.15, 0.3]})
    assert reference.check_ranks(good, want, 1e-6) is None
    bad = good.assign(rank=[0.45, 0.15, 0.3 * (1 + 1e-5)])
    assert reference.check_ranks(bad, want, 1e-6) is not None
    labels = pd.Series([1, 1, 3], index=[1, 2, 3])
    assert reference.check_labels(pd.DataFrame({"vid": [1, 2, 3], "comp": [1, 1, 3]}), "comp", labels) is None
    assert reference.check_labels(pd.DataFrame({"vid": [1, 2, 3], "comp": [1, 2, 3]}), "comp", labels) is not None
    assert reference.check_counts({"0": 2}, {"0": 3}, "paths") is not None


def check_lpa_reference(spark, tmp: str) -> None:
    import pandas as pd

    from linkbench import inputs, reference
    from linkbench.workloads import LPA_ITERATIONS, SIZES, resolve

    sz = SIZES["toy"]["bulk"]
    files = inputs.typed_graph(11, sz["vertices"], sz["edges"], os.path.join(tmp, "lpa"))
    edges = pd.read_parquet(files["edges"])
    want = reference.lpa_outgoing(edges["src"].to_numpy(), edges["dst"].to_numpy(), LPA_ITERATIONS)
    res = resolve("algo.labelPropagation")(
        spark, spark.read.parquet(files["edges"]).select("src", "dst"), max_iterations=LPA_ITERATIONS
    )
    err = reference.check_labels(res.state.toPandas(), "label", want)
    if err:
        raise AssertionError(f"pandas LPA reference disagrees with the Tier A twin: {err}")


def check_workloads(spark, tmp: str) -> dict:
    from linkbench.trace import Tracer
    from linkbench.workloads import SIZES, WORKLOADS

    done = {}
    for name, cls in WORKLOADS.items():
        t0 = time.perf_counter()
        wl = cls(spark, Tracer(spark), os.path.join(tmp, name), 7, SIZES["toy"])
        wl.setup()
        rnd = wl.round(0)
        attempted, failed = wl.operations([rnd])
        if failed or attempted < 1:
            errs = [op.error for op in rnd.ops if op.error] + [rnd.error]
            raise AssertionError(f"{name}: {failed}/{attempted} operations failed: {errs}")
        print(f"selftest: {name} ok ({attempted} operations, {time.perf_counter() - t0:.1f} s)")
        done[name] = wl
    return done


def check_corruption_counted(ppr) -> None:
    query = ppr._query

    def corrupted(vid):
        res, top = query(vid)
        top.loc[0, "rank"] *= 1.001
        return res, top

    ppr._query = corrupted
    try:
        rnd = ppr.round(1)
    finally:
        ppr._query = query
    if ppr.operations([rnd]) != (1, 1):
        raise AssertionError("a corrupted query answer was not counted as a failed operation")


def main() -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from linkbench import run

    tmp = os.path.join(run.STATE_DIR, f"selftest-{os.getpid()}")
    run.pin_environment(tmp)
    try:
        check_inputs_deterministic(tmp)
        check_reference_catches_corruption()
        print("selftest: inputs and reference checks ok")
        spark = run.start_session(tmp, traced=False)
        try:
            check_lpa_reference(spark, tmp)
            print("selftest: LPA reference matches the Tier A twin")
            workloads = check_workloads(spark, tmp)
            check_corruption_counted(workloads["ppr-serve"])
            print("selftest: corrupted result counted as failed")
        finally:
            spark.stop()
    finally:
        run.stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
