"""Pins for the session factory's measured tuning knobs.

Two round-8 findings live in ``session.get_spark`` as configs rather
than plans, so the plan-shape guards cannot see them regress:

- AQE coalesce ``minPartitionSize``: Spark's 1 MB floor coalesces a
  few-MB shuffle to ~5 partitions and starves CPU-dense stages
  (measured 6.5s -> 4.9s across 7 headline queries at sf0.1).
- codegen class cache ``maxEntries``: the 100-entry default thrashes
  under an 18-query rotation, recompiling every plan per run (measured
  10.7s -> 8.5s on the rotation; jaccard 2.2s -> 1.5s).

A silent revert of either would re-open the headline-ratio gate with
every individual plan still green, so the values are pinned here.
"""

from __future__ import annotations


def test_aqe_coalesce_floor_is_data_proportional(spark):
    # 64k floor: never binds at cluster scale (bytes/parallelism >> 64k),
    # keeps local byte-small shuffles at full parallelism.
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
        == "64k"
    )
    # the floor is a tweak WITHIN coalescing, not a disable: both AQE and
    # runtime coalescing must stay on (the 100 TB posture).
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    )


def test_codegen_cache_covers_workload_diversity(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 4096


def test_small_file_scan_packs_files_into_core_sized_tasks(spark, tmp_path):
    # stock split sizing: ~100 tiny files (the stores' one-file-per-dir
    # layout) pack into a few tasks per core, not one task per file
    path = str(tmp_path / "tiny")
    spark.range(0, 1000, 1, 100).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) >= 90
    cores = spark.sparkContext.defaultParallelism
    assert df._jdf.rdd().getNumPartitions() <= 2 * cores


def test_env_overrides_reach_the_builder():
    # the knobs must stay operable per-deployment without code changes
    import inspect

    from weather_etl_pipeline_spark import session

    src = inspect.getsource(session.get_spark)
    assert "SPARK_GRAFT_MIN_PARTITION_SIZE" in src
    assert "SPARK_GRAFT_CODEGEN_CACHE" in src
