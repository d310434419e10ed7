"""medallion_incremental: the reference's orchestration, run repeatedly.

Closed loop, one client. Inputs from the seed: C city names and a
start date. One run:

1. setup: session start (launching the JVM), register the
   ``weather_obs`` DataSource, derive the inputs;
2. ``op.cold`` — initial load: land C cities x D days of bronze
   through the DataSource, then incremental ``run_silver`` and
   ``run_gold`` over the new lake;
3. ``op.warm`` steps for ``--seconds`` (at least ``min_steps``): land
   the next k days, then incremental silver and gold;
4. traced runs only: ``op.finish`` — ``run_gold(full_refresh=True)``,
   the reference's shipped mode — and standalone probes of the
   metadata read and the metadata lease.

Every op must report the partition count it was given. Afterwards,
outside the timed region, the lake is recounted from bronze with
pyarrow: gold ``record_count``/avg/min/max against the bronze rows,
silver partition row counts, and the silver and gold metadata marks.
A mismatch fails the op that landed that date.
"""

from __future__ import annotations

import random
import time
from datetime import date, timedelta
from statistics import median

SIZES = {
    "full": {"cities": 8, "days": 1, "step_days": 1, "min_steps": 2},
    "tiny": {"cities": 2, "days": 1, "step_days": 1, "min_steps": 1},
    "large": {"cities": 16, "days": 30, "step_days": 2, "min_steps": 3},
}
_SYLLABLES = (
    "ka ri lo ne ma tu shi an do be ve ra mon sel tor vik na pu "
    "gra lin os ter ba cu"
).split()
HOURS_PER_DAY = 24


def inputs(seed: int, cities: int) -> tuple[list[str], date]:
    """Seed -> (sorted distinct city names, start date)."""
    rng = random.Random(seed)
    names: set[str] = set()
    while len(names) < cities:
        names.add("".join(rng.choice(_SYLLABLES) for _ in range(3)).capitalize())
    return sorted(names), date(2015, 1, 1) + timedelta(days=rng.randrange(3650))


def _land(spark, paths, cities: list[str], first: date, days: int) -> None:
    """Bronze landing as bronze.py does it: observations tagged with
    their date partition, appended under ``<root>/data``."""
    from pyspark.sql import functions as F

    from weather_etl_pipeline_spark.sources.parquet_io import append_partitions

    df = (
        spark.read.format("weather_obs")
        .option("date", first.isoformat())
        .option("hours", str(HOURS_PER_DAY * days))
        .option("cities", ",".join(cities))
        .load()
    )
    append_partitions(
        df.withColumn("date", F.to_date(F.substring("time", 1, 10))), paths.bronze
    )


def _bad_dates(paths, cities: list[str], days: list[date]) -> set[str]:
    """Dates whose partitions disagree with a recount from bronze."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    def zone(path):
        df = ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()
        df["date"] = df["date"].astype(str)
        df["city"] = df["city"].astype(str)
        return df

    expected = {(c, d.isoformat()) for c in cities for d in days}
    bronze, silver, gold = zone(paths.bronze), zone(paths.silver), zone(paths.gold)
    bad: set[str] = set()
    b = bronze[bronze["temperature_2m"].notna()].groupby(["city", "date"])[
        "temperature_2m"
    ]
    truth = b.agg(["count", "mean", "min", "max"])
    n_bronze = bronze.groupby(["city", "date"]).size()
    n_silver = silver.groupby(["city", "date"]).size()
    for key in expected | set(n_bronze.index) | set(n_silver.index):
        if (
            key not in expected
            or n_bronze.get(key, 0) != HOURS_PER_DAY
            or n_silver.get(key, 0) != truth["count"].get(key, -1)
        ):
            bad.add(key[1])
    seen: set[tuple[str, str]] = set()
    for row in gold.itertuples():
        key = (row.city, row.date)
        t = truth.loc[key] if key in truth.index else None
        if (
            t is None
            or key in seen
            or row.record_count != t["count"]
            or abs(row.avg_temp - t["mean"]) > 1e-9
            or row.max_temp != t["max"]
            or row.min_temp != t["min"]
        ):
            bad.add(key[1])
        seen.add(key)
    bad |= {d for _, d in expected - seen}
    meta = pq.read_table(paths.metadata).to_pandas()
    meta["date"] = meta["date"].astype(str)
    for layer in ("silver", "gold"):
        marks = meta[meta["layer"] == layer]
        keys = list(zip(marks["city"], marks["date"]))
        bad |= {d for _, d in expected - set(keys)}
        bad |= {d for c, d in keys if keys.count((c, d)) > 1 or (c, d) not in expected}
    return bad


def run(ctx):
    from harness import WorkloadResult, tree_stats

    from weather_etl_pipeline_spark.plans.metadata import processed_partitions_cols
    from weather_etl_pipeline_spark.plans.pipeline import LakePaths, run_gold, run_silver
    from weather_etl_pipeline_spark.sources.lease import writer_lease
    from weather_etl_pipeline_spark.sources.weather_source import register

    cfg = SIZES[ctx.size]
    t = ctx.tracer

    def generate():
        register(ctx.spark)
        return inputs(ctx.seed, cfg["cities"])

    cities, start = ctx.setup(generate)
    spark = ctx.spark
    paths = LakePaths(str(ctx.work / "lake"))
    ops: list[tuple[str, list[date], bool]] = []
    next_day = start

    def increment(span_name: str, days: int) -> None:
        nonlocal next_day
        first, next_day = next_day, next_day + timedelta(days=days)
        with t.span(span_name):
            with t.span("sources.land"):
                _land(spark, paths, cities, first, days)
            with t.span("plans.silver"):
                n_silver = run_silver(spark, paths)
            with t.span("plans.gold"):
                n_gold = run_gold(spark, paths)
        want = len(cities) * days
        dates = [first + timedelta(days=i) for i in range(days)]
        ops.append((span_name, dates, n_silver == want and n_gold == want))

    increment("op.cold", cfg["days"])
    t0 = time.perf_counter()
    steps = 0
    while steps < cfg["min_steps"] or time.perf_counter() - t0 < ctx.seconds:
        increment("op.warm", cfg["step_days"])
        steps += 1
    ctx.mark_peak()
    all_dates = [d for _, dates, _ in ops for d in dates]

    if ctx.trace:
        with t.span("op.finish"):
            n_refresh = run_gold(spark, paths, full_refresh=True)
        ops.append(("op.finish", all_dates, n_refresh == len(cities) * len(all_dates)))
        # standalone layer probes
        for _ in range(3):
            with t.span("plans.metadata_read"):
                processed_partitions_cols(
                    spark, paths.metadata, "silver", ["city", "date"]
                ).collect()
        for _ in range(5):
            with t.span("sources.lease_roundtrip"):
                with writer_lease(spark, paths.metadata):
                    pass

    bad = _bad_dates(paths, cities, all_dates)
    failed = sum(
        1
        for name, dates, ok in ops
        if not ok or (bad if name == "op.finish" else bad & {d.isoformat() for d in dates})
    )
    files, size = tree_stats(paths.root)
    bronze_rows = len(cities) * len(all_dates) * HOURS_PER_DAY
    warm = [s.seconds for s in t.named("op.warm")]
    result = WorkloadResult(
        attempted=len(ops),
        failed=failed,
        files=files,
        bytes_per_row=size / bronze_rows,
    )
    result.details = {
        "initial_load_s": (t.named("op.cold")[0].seconds, "s"),
        "incremental_run_s": (median(warm), "s"),
        "incremental_steps": (len(warm), "count"),
        "failed_ops_ratio": (failed / len(ops), "ratio"),
        "lake_partitions": (len(cities) * len(all_dates), "count"),
        "sources.lake_files": (files, "count"),
        "sources.lake_bytes_per_row": (size / bronze_rows, "bytes"),
    }
    result.layer_spans = {
        "sources.land_s": ("sources.land", "seconds", "s"),
        "sources.land_jobs": ("sources.land", "jobs", "count"),
        "plans.silver_s": ("plans.silver", "seconds", "s"),
        "plans.silver_jobs": ("plans.silver", "jobs", "count"),
        "plans.gold_s": ("plans.gold", "seconds", "s"),
        "plans.gold_jobs": ("plans.gold", "jobs", "count"),
        "plans.metadata_read_s": ("plans.metadata_read", "seconds", "s"),
        "gold_full_refresh_s": ("op.finish", "seconds", "s"),
    }
    return result
