"""The build driver's benchmark record.

Times the frozen 15-query HEADLINE plus a core-scaling canary over the
test corpus at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], writes BENCH_DETAIL.json and prints the compact
record as its FINAL stdout line — the line the driver parses (`value`, the
sum of headline medians, and `queries`). The judged benchmark is
perfbench/ (BENCHMARK.json); this file only keeps the driver's record.

    python bench.py                  # headline + canary, the driver record
    python bench.py name [name ...]  # time these registry queries instead

Every timing goes through `_measure`: SPARK_GRAFT_BENCH_REPEATS (default 3)
runs into the noop sink (full compute, no driver collect), reported as
median/min/max wall plus the host's CPU steal share over the runs. A
failing query is recorded as null with its error kept in the detail; it
never stops the run. `noise_ref` times a tiny fixed aggregate before and
after the queries — a host-state barometer for reading the walls.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
NOISE_REPS = 5
DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
)

#: frozen since the first record so `value` stays comparable over time
HEADLINE = [
    "q1_sql_top_pairs",
    "q2_top_pairs_ops",
    "q3_station_distances",
    "q4_total_distance",
    "pricing_summary",
    "join_broadcast_revenue",
    "window_rank_orders",
    "hypertable_rollup_hourly",
    "dedup_exact_docs",
    "jaccard_on_lsh_candidates",
    "minhash_candidate_pairs",
    "cosine_topk_vec0",
    "ann_lsh_topk_vec0",
    "multimodal_image_features",
    "streaming_tumbling_counts",
]
CANARY = "scaling_canary"


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def _measure(thunk, reps: int) -> dict | str:
    """Run ``thunk()`` (which builds a DataFrame) into the noop sink
    ``reps`` times. Returns {median, min, max, steal_pct} in seconds, or
    the error as a one-line string (traceback on stderr)."""
    walls = []
    steal0, total0 = _cpu_jiffies()
    try:
        for _ in range(reps):
            t0 = time.time()
            _noop(thunk())
            walls.append(time.time() - t0)
    except Exception as exc:  # recorded, never fatal
        traceback.print_exc()
        return f"{type(exc).__name__}: {' '.join(str(exc).split())}"[:300]
    steal1, total1 = _cpu_jiffies()
    return {
        "median": round(statistics.median(walls), 3),
        "min": round(min(walls), 3),
        "max": round(max(walls), 3),
        "steal_pct": round(100 * (steal1 - steal0) / max(1, total1 - total0), 1),
    }


def _scaling_canary(spark, rows: int = 40_000_000):
    """Synthetic aggregate whose wall scales with the core count: chained
    xxhash64 over ``rows`` generated rows, split at the session's
    defaultParallelism, then one small shuffle. Headline queries at sf0.1
    sit on the per-stage scheduling floor, so they read about the same at
    any core count; this one should not. It sums the top 32 bits of each
    hash, so a bucket sum stays below 2^63 under ANSI for any row count
    below 2^31. Reported in `queries`, never added to `value`."""
    from pyspark.sql import functions as F

    p = spark.sparkContext.defaultParallelism
    df = spark.range(0, rows, 1, p).select(F.xxhash64("id").alias("h0"))
    for i in range(3):
        df = df.select(F.xxhash64(f"h{i}").alias(f"h{i + 1}"))
    return df.groupBy(F.pmod(F.col("h3"), F.lit(4096)).alias("b")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.shiftrightunsigned("h3", 32)).alias("s"),
    )


def _noise_df(spark, sf_dir: str):
    return (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag")
        .count()
    )


def _warm(spark, sf_dir: str) -> None:
    """Untimed: JVM/codegen paths and the Python worker pool."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _identity(s):
        return s

    _noop(_noise_df(spark, sf_dir))
    _noop(spark.range(1000).select(_identity(F.col("id"))))


def _noise_ref(spark, sf_dir: str) -> float | None:
    m = _measure(lambda: _noise_df(spark, sf_dir), NOISE_REPS)
    return m["median"] if isinstance(m, dict) else None


def _line(name: str, m: dict | str) -> str:
    if isinstance(m, str):
        return f"{name}: FAILED {m}"
    return (
        f"{name}: median {m['median']:.3f} min {m['min']:.3f} "
        f"max {m['max']:.3f} steal {m['steal_pct']:.1f}%"
    )


def build_detail(results: dict, noise_ref, noise_ref_post, **run) -> dict:
    """The full record from per-query ``_measure`` results. ``value`` is
    null unless every HEADLINE query succeeded."""
    ok = {n: m for n, m in results.items() if isinstance(m, dict)}
    headline_ok = all(n in ok for n in HEADLINE)
    return {
        "metric": "headline_queries_total_wall",
        "value": (
            round(sum(ok[n]["median"] for n in HEADLINE), 3)
            if headline_ok
            else None
        ),
        "unit": "sec",
        "queries": {n: ok[n]["median"] if n in ok else None for n in results},
        "spread": {
            n: {k: m[k] for k in ("min", "max", "steal_pct")}
            for n, m in ok.items()
        },
        "errors": {n: m for n, m in results.items() if isinstance(m, str)},
        "noise_ref": noise_ref,
        "noise_ref_post": noise_ref_post,
        "aggregation": "median",
        **run,
    }


def compact_line(detail: dict) -> str:
    """The FINAL stdout line, which the driver parses. Pure, so a test can
    pin it under the driver's ~2000-char tail capture."""
    keys = (
        "metric", "value", "unit", "queries", "noise_ref", "parallelism",
        "shuffle_partitions", "repeats", "aggregation", "sf",
    )
    return json.dumps(
        {**{k: detail[k] for k in keys}, "detail": os.path.basename(DETAIL_PATH)}
    )


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from apache_beam_challange_spark.session import get_spark
    import __spark_entry__ as e

    qs = e.all_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown query names: {unknown}")
    spark = get_spark("bench")
    _warm(spark, sf_dir)

    noise_ref = _noise_ref(spark, sf_dir)
    print(f"noise_ref(pre) = {noise_ref}", flush=True)
    results: dict[str, dict | str] = {}
    for name in names or HEADLINE:
        results[name] = _measure(lambda: qs[name](spark, sf_dir), REPEATS)
        print(_line(name, results[name]), flush=True)
    if not names:
        # after the headline, so a canary failure cannot cost its walls
        results[CANARY] = _measure(lambda: _scaling_canary(spark), REPEATS)
        print(_line(CANARY, results[CANARY]), flush=True)
    noise_ref_post = _noise_ref(spark, sf_dir)
    print(f"noise_ref(post) = {noise_ref_post}", flush=True)
    if names:
        return

    detail = build_detail(
        results,
        noise_ref,
        noise_ref_post,
        parallelism=spark.sparkContext.defaultParallelism,
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        repeats=REPEATS,
        sf=float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]),
    )
    with open(DETAIL_PATH, "w") as f:
        json.dump(detail, f)
    print(compact_line(detail))


if __name__ == "__main__":
    main(sys.argv[1:])
