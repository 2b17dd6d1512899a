"""Per-task Python-worker floor of a package UDF stage.

Times three plans over the same key-partitioned input, at 4, 8 and 16
partitions, on a ``local[nproc]`` session:

* ``no_udf``          — ``repartition(P, key)`` written to the noop sink;
* ``identity``        — the same plan plus an identity ``mapInPandas``;
* ``identity_helper`` — the same identity body, whose first statement is
  ``release_zip_finders()`` (the rule every package UDF body follows).

``identity - no_udf`` is the fixed Python-worker cost of a stage whose
kernel does nothing. A drop of the zip finders persists for the life of a
reused worker, so the two identity variants cannot be interleaved: the
``identity`` block runs first and ``identity_helper`` second, each after an
untimed warm-up rep. ``no_udf`` runs no Python and is timed in both blocks.

Prints one JSON line (seconds; median and min per plan and partition count).

Usage: python tools/probe_udf_floor.py [--rows 8000] [--reps 5] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from anofox_forecast_spark._worker import release_zip_finders  # noqa: E402
from anofox_forecast_spark.session import get_spark  # noqa: E402

PARTITIONS = (4, 8, 16)


def identity(batches):
    yield from batches


def identity_helper(batches):
    release_zip_finders()
    yield from batches


def _time(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=8000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--out", default=None, help="also write the JSON here")
    args = ap.parse_args()

    cpus = os.cpu_count() or 1
    spark = get_spark(app_name="probe-udf-floor", cpus=cpus,
                      extra_conf={"spark.driver.memory": "1g",
                                  "spark.ui.showConsoleProgress": "false"})
    base = spark.range(args.rows).select(
        (F.col("id") % 64).alias("key"), (F.col("id") * 0.5).alias("v"))
    schema = base.schema

    def plan(p: int, body):
        df = base.repartition(p, "key")
        return df if body is None else df.mapInPandas(body, schema=schema)

    samples: dict[str, dict[int, list[float]]] = {
        name: {p: [] for p in PARTITIONS}
        for name in ("no_udf", "identity", "identity_helper")
    }
    for name, body in (("identity", identity), ("identity_helper", identity_helper)):
        for rep in range(args.reps + 1):
            for p in PARTITIONS:
                t_base = _time(plan(p, None))
                t_udf = _time(plan(p, body))
                if rep:  # rep 0 warms workers and code paths
                    samples["no_udf"][p].append(t_base)
                    samples[name][p].append(t_udf)
    spark.stop()

    stats = {
        name: {str(p): {"median_s": round(statistics.median(v), 4),
                        "min_s": round(min(v), 4), "n": len(v)}
               for p, v in per_p.items()}
        for name, per_p in samples.items()
    }
    med = {name: {p: statistics.median(v) for p, v in per_p.items()}
           for name, per_p in samples.items()}
    out = {
        "probe": "udf_floor",
        "cpus": cpus,
        "rows": args.rows,
        "reps": args.reps,
        "python": platform.python_version(),
        "stats": stats,
        "ratio_vs_no_udf_median": {
            name: {str(p): round(med[name][p] / med["no_udf"][p], 2) for p in PARTITIONS}
            for name in ("identity", "identity_helper")
        },
        "raw_s": {name: {str(p): [round(x, 4) for x in v] for p, v in per_p.items()}
                  for name, per_p in samples.items()},
    }
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
