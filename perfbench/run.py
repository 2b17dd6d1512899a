"""Layered benchmark for anofox_forecast_spark: four workloads against the
package's public functions on a ``local[nproc]`` session.

    python3 perfbench/run.py --workload tiers --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` alternates
untraced and traced repetitions, prints the per-span metrics and writes
the span ledger to ``perfbench/out/``. Either way the LAST stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is a report with the workload's own metric names, the
environment, and any failed checks. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "anofox_forecast_spark"
GOLDENS = os.path.join(HERE, "goldens.json")


def process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports are included)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(workdir: str):
    # Python workers inherit the JVM's environment: put the source tree on
    # their path whatever the cwd, and keep temp files inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = workdir
    # no hsperfdata file: every JVM would write one under /tmp otherwise
    no_tmp = f"-Djava.io.tmpdir={workdir} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = no_tmp   # the spark-submit launcher JVM
    from anofox_forecast_spark.session import get_spark

    n = nproc()
    spark = get_spark("perfbench", cpus=n, shuffle_partitions=n, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.local.dir": workdir,
        "spark.driver.extraJavaOptions": no_tmp,
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this one started."""
    from harness import descendants

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def env_info(spark=None) -> dict:
    info = {"nproc": nproc(), "loadavg": list(os.getloadavg()),
            "python": platform.python_version()}
    if spark is not None:
        import pyspark

        info["pyspark"] = pyspark.__version__
        info["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return info


def layer_metrics(tracer, walls: list, slots: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced repetitions (medians over them) and
    the per-span table ``<span>.<metric>`` (medians over occurrences)."""
    from harness import median
    from spans import SPAN_METRICS, self_times

    selfs = self_times(tracer.spans)
    roots = [s for s in tracer.spans if s["parent"] is None]
    kids: dict[str, list] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    summed = ("jobs", "stages", "tasks", "task_s", "cpu_s", "wait_s", "gc_s",
              "driver_s", "shuffle_mb", "shuffle_read_mb", "spill_mb")

    def per_rep(k, prefixes=("",)):
        return median([sum(c[k] for c in kids.get(r["id"], [])
                           if c["name"].startswith(prefixes)) for r in roots])

    layers = {k: per_rep(k) for k in summed}
    layers["self_s"] = median([selfs[r["id"]] for r in roots])
    layers["traced_wall_s"] = median(walls)
    layers["trace_overhead_s"] = median([r["overhead_s"] for r in roots])
    # the calls behind each result slot: summed per repetition for the
    # rates, per request for the request latency
    for slot, (_, prefixes) in slots.items():
        tag = slot.split("_")[0]
        for k in SLOT_METRICS:
            layers[f"{tag}.{k}"] = (
                median([s[k] for s in tracer.spans if s["name"].startswith(prefixes)])
                if tag == "request" else per_rep(k, prefixes))

    spans = {}
    for name in dict.fromkeys(s["name"] for s in tracer.spans if s["parent"]):
        occ = [s for s in tracer.spans if s["name"] == name]
        for k in SPAN_METRICS:
            spans[f"{name}.{k}"] = median([s.get(k, 0) for s in occ])
    return layers, spans


ROLE_ORDER = ("batch_rate_per_s", "udf_rate_per_s", "request_p50_s")
SLOT_METRICS = ("wall_s", "jobs", "task_s", "wait_s", "shuffle_mb")

LAYER_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
               "shuffle_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB"}


def unit_of(name: str) -> str:
    base = name.split(".")[-1]
    if base.endswith("_per_s"):
        return "1/s"
    return LAYER_UNITS.get(base, "s" if base.endswith("_s") else "count")


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size factor; goldens apply only at 1")
    ap.add_argument("--record-goldens", action="store_true",
                    help="store this run's output fingerprints as the goldens "
                         "for (workload, seed)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package source {PACKAGE}/ not found beside "
              f"{os.path.relpath(HERE, ROOT)}/", file=sys.stderr)
        return 2

    from harness import Run, log, measure, median, tree_peak_rss_mb
    from spans import Tracer

    goldens_all = {}
    if os.path.exists(GOLDENS):
        with open(GOLDENS) as f:
            goldens_all = json.load(f)
    key = str(args.seed)
    goldens = (goldens_all.get(args.workload, {}).get(key, {})
               if args.scale == 1.0 and not args.record_goldens else {})

    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, "_work"))
    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        spark = start_session(workdir)
        log(f"session up at {process_age_s():.1f}s")
        env_start = env_info(spark)
        run_id = uuid.uuid4().hex[:12]
        run = Run(goldens, Tracer(spark, run_id) if args.trace else None)
        wl.setup(spark, args.seed, args.scale)
        log(f"inputs ready at {process_age_s():.1f}s")
        run.repetition(wl.rep)  # warm-up: workers, codegen, JIT
        setup_s = process_age_s()
        walls = measure(run, wl.rep, args.seconds, wl.max_reps - run.rep,
                        traced=bool(args.trace))
        peak_rss = tree_peak_rss_mb()
        named = wl.named(run)
        if args.trace:
            layers, spans = layer_metrics(run.tracer, walls, wl.slots)
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            ledger = os.path.join(HERE, "out", f"spans-{args.workload}-{args.seed}.json")
            run.tracer.write(ledger, {"workload": args.workload, "seed": args.seed})
        wl.close()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    log(f"stopped at {process_age_s():.1f}s")

    if args.record_goldens:
        goldens_all.setdefault(args.workload, {})[key] = dict(sorted(run.observed.items()))
        with open(GOLDENS, "w") as f:
            json.dump(goldens_all, f, indent=1, sort_keys=True)
            f.write("\n")

    n_walls = len(walls)
    wall_s = median(walls)
    fail_ratio = run.failed / max(run.attempted, 1)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": {"start": env_start, "end": env_info()},
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall_s, "unit": "s", "n": n_walls},
            **named,
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
            "fail_ratio": {"value": fail_ratio, "unit": "ratio",
                           "attempted": run.attempted, "failed": run.failed},
        },
        "failures": run.failures[:5],
        "fingerprints": run.observed,
    }
    if args.trace:
        report["spans"] = {**{k: {"value": v, "unit": unit_of(k)} for k, v in spans.items()},
                           f"{args.workload}.spill_mb": {"value": layers["spill_mb"],
                                                         "unit": "MB"}}
        report["ledger"] = os.path.relpath(ledger, ROOT)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
        # peak memory did not repeat within a tenth across runs (JVM heap
        # growth depends on GC timing), so it is a per-layer number
        metrics["peak_rss_mb"] = {"value": peak_rss, "unit": "MB"}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall_s, "unit": "s"},
            **{k: {"value": named[wl.slots[k][0]]["value"], "unit": unit_of(k)}
               for k in ROLE_ORDER},
        }
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    sys.exit(main())
