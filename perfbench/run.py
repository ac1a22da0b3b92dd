"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The lines before it name every metric with its unit and
sample count, and a report line carries the host facts and the load
signature of the run (load average and CPU steal share).
``--smoke`` shrinks every input to a few seconds of work (tests only).
Exits non-zero without a result when the engine or the corpora are
missing, or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def _preflight(wl) -> str | None:
    """Why the run cannot start, or None."""
    from perfbench.spark_env import PACKAGE

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        return f"engine package {PACKAGE}/ not found beside perfbench/"
    if not os.path.isfile(os.path.join(ROOT, "tests", "test_oracle.py")):
        return "tests/test_oracle.py (the oracle normalization) not found"
    if wl.corpus is not None:
        from perfbench.workloads import DATA

        corpus = os.path.join(DATA, wl.corpus)
        if not os.path.isfile(os.path.join(corpus, "lineitem.parquet")):
            return f"corpus {corpus} not found"
    return None


def end_to_end(out, launches, import_s) -> dict[str, float]:
    from perfbench import stats

    return {
        "setup_s": stats.median(launches) + import_s,
        "pass_s": stats.median(out.pass_s),
    }


def per_layer(out, launches, import_s) -> dict[str, float]:
    from perfbench import stats
    from perfbench.metrics import PER_LAYER

    got: dict[str, float] = {}
    keys = {k for rec in out.layer_passes for k in rec}
    for k in keys:
        got[k] = stats.median(rec.get(k, 0.0) for rec in out.layer_passes)
    got["session.get_spark_s"] = stats.median(launches)
    got["session.import_s"] = import_s
    if got.get("exec.jobs"):
        got["exec.s_per_job"] = got["exec.s"] / got["exec.jobs"]
    unknown = set(got) - {name for name, _, _ in PER_LAYER}
    if unknown:
        raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return {name: float(got.get(name, 0.0)) for name, _, _ in PER_LAYER}


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    from perfbench import stats
    from perfbench.metrics import UNITS
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    why_not = _preflight(wl)
    if why_not:
        print(why_not, file=sys.stderr)
        return 2

    from perfbench import spark_env
    from perfbench.trace import LoadSampler

    scratch_parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch_parent, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=scratch_parent)
    load = LoadSampler()
    spark = None
    try:
        spark_env.prepare(ROOT, scratch)
        spark, launches, import_s = spark_env.timed_setup(scratch)
        load.sample()
        from perfbench import workloads

        t0 = time.perf_counter()
        if wl.corpus is None:
            out = workloads.run_etl(spark, wl, args.seed, args.seconds, bool(args.trace),
                                    args.smoke, scratch, load)
        else:
            out = workloads.run_catalog(spark, wl, args.seed, args.seconds, bool(args.trace),
                                        args.smoke, spark_env.cpus(), load)
        run_s = time.perf_counter() - t0
        load.sample()
        facts = spark_env.host_facts(spark)
    finally:
        if spark is not None:
            spark_env.shutdown(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(scratch_parent)
        except OSError:
            pass  # another run's scratch is still there

    metrics = (per_layer if args.trace else end_to_end)(out, launches, import_s)
    n_lat = len(out.latencies)
    tail = stats.tail_percentile(n_lat)
    report = {
        "workload": wl.name,
        "why": wl.why,
        "seed": args.seed,
        "trace": args.trace,
        "input": out.notes,
        "launch_s": launches,
        "import_s": import_s,
        "pass_s": out.pass_s,
        "traced_pass_s": out.traced_pass_s,
        "query_samples": n_lat,
        "tail_rule": None if tail is None else {
            "percentile": tail, "value_s": stats.percentile(out.latencies, tail)},
        "per_query_s": out.per_query,
        "failed_frac": out.failed / out.attempted,
        "check_failures": out.check_failures,
        "run_s": run_s,
        "host": facts,
        "load": load.samples,
        "steal_frac": load.steal_frac(),
    }
    print("report " + json.dumps(report, default=str))
    samples = {
        "setup_s": f"median of {len(launches)} launches",
        "pass_s": f"{len(out.pass_s)} timed pass" + ("es" if len(out.pass_s) != 1 else ""),
    }
    for name, value in metrics.items():
        print(f"metric {name} = {value:.6g} {UNITS[name]}"
              + (f" ({samples[name]})" if name in samples else ""))
    # printed, not bounded: see perfbench/README.md
    if out.latencies:
        print(f"metric query_p50_s = {stats.median(out.latencies):.6g} s ({n_lat} queries)")
        print(f"metric query_p90_s = {stats.percentile(out.latencies, 90):.6g} s "
              f"({n_lat} queries)")
    if "rows" in out.notes and out.pass_s:
        rows_per_s = out.notes["rows"] / stats.median(out.pass_s)
        print(f"metric etl_rows_per_s = {rows_per_s:.6g} 1/s "
              f"({out.notes['rows']} rows / pass_s)")
    print(f"metric failed_frac = {report['failed_frac']:.6g} frac "
          f"({out.failed} of {out.attempted} operations)")
    result = {
        "correct": not out.check_failures and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
