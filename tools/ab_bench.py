"""Isolated per-query A/B timing with steal self-description.

Usage: python tools/ab_bench.py KEY [KEY...] [--sf DIR] [--n N]

Times each named queries() entry with the noop sink (guide §1.4) over
N samples (default 5), reporting [min, median, max] plus the
hypervisor-steal delta (/proc/stat field 8) and external-CPU cores
around EACH sample — on a host with intermittent steal the honest
comparison statistic is the min over samples whose steal reads quiet,
so every sample ships its own steal number instead of a block
average. One untimed warm-up pass per key pays JIT/plan compile.

Its last line is a result in perfbench's shape (`<key>.min_s` and
`<key>.median_s` for each key), so tools/ab.py can pair it against a
git ref:
  python tools/ab.py HEAD~1 --pairs 5 -- python3 tools/ab_bench.py KEY

It changes no query and writes no artifact; bench.py remains the
driver-facing benchmark.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    n = 5
    keys: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--n":
            n = int(args[i + 1])
            i += 2
        else:
            keys.append(args[i])
            i += 1

    from duckdb_sudan__spark import operators
    from duckdb_sudan__spark.operators import QUERIES
    from duckdb_sudan__spark.session import get_spark

    operators.load_all()
    import __spark_entry__ as entry

    every = entry.queries()
    spark = get_spark("ab_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # same staged multi-row-group layout as bench.py so per-query
    # numbers here are comparable with the bench's
    staged_dir, max_partition_bytes = bench.stage_multi_rowgroup(sf_dir)
    if max_partition_bytes:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(max_partition_bytes))
        spark.conf.set("spark.sql.files.openCostInBytes", str(256 * 1024))
        sf_dir = staged_dir

    out: dict[str, dict] = {}
    for key in keys:
        fn = every.get(key) or QUERIES.get(key)
        if fn is None:
            print(f"!! unknown key {key}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"ab:{key}:warm")
        bench.force(fn(spark, sf_dir))  # warm-up (JIT + plan compile)
        samples = []
        for run in range(n):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"ab:{key}:{run}")
            s0 = bench._steal_sec()
            t0 = time.perf_counter()
            bench.force(fn(spark, sf_dir))
            wall = time.perf_counter() - t0
            steal = bench._steal_sec() - s0
            samples.append(
                {"sec": round(wall, 3), "steal_cores": round(steal / max(wall, 1e-9), 3)}
            )
        secs = sorted(s["sec"] for s in samples)
        quiet = [s["sec"] for s in samples if s["steal_cores"] < 0.1]
        out[key] = {
            "min": secs[0],
            "med": secs[len(secs) // 2],
            "max": secs[-1],
            "quiet_min": min(quiet) if quiet else None,
            "samples": samples,
        }
        print(json.dumps({key: out[key]}))
    metrics = {}
    for k, v in out.items():
        metrics[f"{k}.min_s"] = {"value": v["min"], "unit": "s"}
        metrics[f"{k}.median_s"] = {"value": v["med"], "unit": "s"}
    print(json.dumps({"metrics": metrics}))
    spark.stop()


if __name__ == "__main__":
    main()
