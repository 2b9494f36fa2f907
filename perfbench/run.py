"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload crawl-deep --seed 1 --seconds 10 --trace 0

Runs one workload (or ``--workload all``: every workload in turn, in one
process and one Spark session) on ``local[nproc]`` and prints, as the last
line of standard output, one JSON object::

    {"correct": true, "attempted": N, "failed": 0,
     "metrics": {"<name>": {"value": v, "unit": u}, ...}}

``--trace 0`` reports the end-to-end metrics, measured with tracing off;
``--trace 1`` reports the per-layer metrics of a traced run (crawl-deep: a
traced crawl in place of the untraced one, then a traced refresh;
frontier-dedup: the untraced passes, then traced pipeline prefixes).

The line before the result holds the run's context: host contention
stamps, versions, set-up parts and the correctness gate's verdict and
detail.  Spans and per-round records are written to
``.perfbench-work/reports/`` under the checkout root.  ``perfbench/LAYERS.md``
describes the workloads, metrics and spans.

The benchmark reads and writes only inside the checkout: Spark's local and
warehouse directories, the JVM's and Python's temporary files all live in
``.perfbench-work/``.  Without the engine package next to ``perfbench/`` it
exits with status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "2g"  # driver JVM heap

E2E_UNITS = {
    "urls_per_s": "1/s", "wall_s": "s", "round_s_p50": "s", "setup_s": "s",
    "peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_us") or ".us_per_doc." in name:
        return "us"
    if name.endswith("_share"):
        return "ratio"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_dirs(work: str) -> dict:
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "warehouse", "data")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # every JVM, the launcher included, keeps its temporary files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = dirs["tmp"]
    return dirs


def run_workload(name, spark, args, dirs, session_s, sampler):
    from perfbench import workloads as W

    res = W.WORKLOADS[name](spark, args.seed, args.seconds, bool(args.trace), dirs["data"])
    e2e = res["e2e"]
    setup_s = session_s + res["setup"]["inputs_s"] + res["setup"]["warmup_s"]
    if args.trace:
        layers = {k: 0.0 for k in W.LAYER_NAMES}
        layers.update(res["layers"]["metrics"])
        metrics = {k: {"value": float(v), "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        values = {
            "urls_per_s": e2e["urls_per_s"], "wall_s": e2e["wall_s"],
            "round_s_p50": e2e["round_s_p50"], "setup_s": setup_s,
            "peak_rss_mb": sampler.peak_mb,
        }
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in values.items()}
    checks = res["checks"]
    context = {
        "workload": name, "seed": args.seed, "trace": args.trace,
        "setup": dict(res["setup"], session_s=session_s, setup_s=setup_s),
        "correct": checks["failed"] == 0,
        "e2e": e2e, "checks": {k: v for k, v in checks.items() if k != "attempted"},
        "failed_share": checks["failed"] / checks["attempted"],
        "rss_at_peak_mb": [round(kb / 1024) for kb in sampler.at_peak],
    }
    report = dict(context, metrics=metrics,
                  trace_detail=(res["layers"] or {}).get("trace"))
    return metrics, checks, context, report


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "facebook_page_scrapy_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import sysprobe
    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(base, f"run-{os.getpid()}")
    reports = os.path.join(base, "reports")
    os.makedirs(reports, exist_ok=True)
    dirs = _prepare_dirs(work)

    from facebook_page_scrapy_spark.session import get_spark

    host = {"burn_before_s": sysprobe.burn_s()}
    steal0 = sysprobe.steal_s()
    spark = None
    out = []
    try:
        with sysprobe.RssSampler() as sampler:
            t0 = time.perf_counter()
            nproc = len(os.sched_getaffinity(0))
            # a pre-touched fixed heap: the JVM's resident size no longer
            # follows the collector's heap-growth timing from run to run
            spark = get_spark("perfbench", cores=nproc, shuffle_partitions=nproc, extra_conf={
                "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch"})
            spark.range(10).count()
            session_s = time.perf_counter() - t0
            host.update(sysprobe.versions(spark))
            for i, name in enumerate(names):
                if i:
                    sampler.peak_kb = 0
                out.append((name, *run_workload(name, spark, args, dirs, session_s, sampler)))
                session_s = 0.0  # later workloads share the started session
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            sysprobe.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    host["steal_s"] = sysprobe.steal_s() - steal0
    host["burn_after_s"] = sysprobe.burn_s()

    for name, metrics, checks, context, report in out:
        report["host"] = context["host"] = host
        path = os.path.join(reports, f"{name}-seed{args.seed}-trace{args.trace}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1, default=str)
        print(json.dumps(context, default=str))

    if len(out) == 1:
        _, metrics, checks, _, _ = out[0]
    else:
        metrics = {f"{n}/{k}": v for n, m, *_ in out for k, v in m.items()}
        checks = {"attempted": sum(o[2]["attempted"] for o in out),
                  "failed": sum(o[2]["failed"] for o in out)}
    print(json.dumps({
        "correct": checks["failed"] == 0, "attempted": int(checks["attempted"]),
        "failed": int(checks["failed"]), "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
