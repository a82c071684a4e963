"""Statistics & advisor reports (A1–A5, O10–O13).

The reference computes these with Python loops over fully-loaded timelines
and silently samples (first 5 contents, ~10 sequences —
``storage/temporal_database.py:508``, ``core/reconstruction_service.py:375``);
the Spark forms are textbook hash-aggregations over ALL data — the sampling
caps are artifacts of the single-process design and are deliberately
dropped (SURVEY.md §2 A3/A4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from temporal_vector_database_spark.config import DEFAULT_CONFIG, TVDBConfig
from temporal_vector_database_spark.operators.reconstruct import (
    reconstruct_all,
    with_cost_estimate,
    with_quality_columns,
)


def change_statistics(versions: DataFrame) -> DataFrame:
    """A1 (``core/data_structures.py:277-291``): per-content delta-magnitude
    stats + counts."""
    return versions.groupBy("content_id").agg(
        F.max("seq").cast("int").alias("max_sequence"),
        F.sum(F.when(F.col("kind") == "base", 1).otherwise(0)).cast("int").alias("base_count"),
        F.sum(F.when(F.col("kind") == "delta", 1).otherwise(0)).cast("int").alias("delta_count"),
        F.avg(F.when(F.col("kind") == "delta", F.col("magnitude"))).alias("avg_change_magnitude"),
        F.max(F.when(F.col("kind") == "delta", F.col("magnitude"))).alias("max_change_magnitude"),
        F.min(F.when(F.col("kind") == "delta", F.col("magnitude"))).alias("min_change_magnitude"),
    )


def storage_statistics(versions: DataFrame) -> DataFrame:
    """A2 (``storage/storage_engine.py:471-524``): global storage totals.
    File size / FAISS bytes become logical size proxies (element counts)."""
    per_content = versions.groupBy("content_id").agg(
        F.sum(F.when(F.col("kind") == "base", 1).otherwise(0)).alias("bases"),
        F.sum(F.when(F.col("kind") == "delta", 1).otherwise(0)).alias("deltas"),
    )
    return per_content.agg(
        F.count("*").cast("long").alias("total_contents"),
        F.sum("bases").cast("long").alias("total_base_snapshots"),
        F.sum("deltas").cast("long").alias("total_deltas"),
        F.avg(F.col("bases") + F.col("deltas")).alias("avg_versions_per_content"),
    )


def storage_efficiency(versions: DataFrame) -> DataFrame:
    """Beyond-A2: measured compression of sparse deltas vs full snapshots
    (the reference's >5× test bar, ``tests/test_week1.py:205-216,237``).
    Ratio of logical floats stored: full = every version dense; actual =
    dense bases + 2·sparse entries (idx+val pairs, HDF5 layout
    ``storage/storage_engine.py:204-211``)."""
    return versions.agg(
        (F.sum("total_dims").cast("double") /
         F.sum(
             F.when(F.col("kind") == "base", F.col("total_dims")).otherwise(
                 F.lit(2) * F.coalesce(F.col("n_changed"), F.lit(0))
             )
         ).cast("double")
         ).alias("storage_efficiency")
    )


def reconstruction_statistics(
    versions: DataFrame, cfg: TVDBConfig = DEFAULT_CONFIG, materialize: bool = True
) -> DataFrame:
    """A3 (``core/reconstruction_service.py:360-414``) over ALL sequences
    (the reference strides to ~10 samples, ``:375``): per-content cost /
    base-distance / quality aggregates + promotion flag (max cost > 15).
    ``materialize`` as in ``reconstruct_all``: False leaves no persisted
    frame behind, for a one-timeline caller whose re-scans are cheap."""
    rec = with_quality_columns(
        reconstruct_all(versions, materialize=materialize, with_embedding=False).drop(
            "deltas_applied"
        ),
        cfg,
    )
    return rec.groupBy("content_id").agg(
        F.count("*").cast("int").alias("versions_analyzed"),
        F.avg(F.col("cost").cast("double")).alias("avg_reconstruction_cost"),
        F.max("cost").cast("int").alias("max_reconstruction_cost"),
        F.avg((F.col("target_seq") - F.col("base_seq")).cast("double")).alias("avg_base_distance"),
        F.avg("quality_score").alias("avg_quality_score"),
        F.min("quality_score").alias("min_quality_score"),
        (F.max("cost") > 15).alias("recommended_base_promotion"),
    )


def database_statistics(versions: DataFrame, cfg: TVDBConfig = DEFAULT_CONFIG) -> DataFrame:
    """A4 (``storage/temporal_database.py:496-542``): global roll-up of A2 +
    A3 (over all contents, not the reference's first-5 cap ``:508``)."""
    rstats = reconstruction_statistics(versions, cfg)
    global_r = rstats.agg(
        F.avg("avg_reconstruction_cost").alias("avg_reconstruction_cost"),
        F.max("max_reconstruction_cost").cast("int").alias("max_reconstruction_cost"),
        F.avg("avg_quality_score").alias("avg_quality_score"),
    )
    return storage_statistics(versions).crossJoin(global_r)


def content_statistics(
    versions: DataFrame, cfg: TVDBConfig = DEFAULT_CONFIG, materialize: bool = True
) -> DataFrame:
    """A5 (``storage/temporal_database.py:301-330``): A1 + A3 joined per
    content — one pass, struct-of-aggs."""
    return change_statistics(versions).join(
        reconstruction_statistics(versions, cfg, materialize), "content_id", "left"
    )


def optimize_content_bases(versions: DataFrame, max_cost: int | None = None,
                           cfg: TVDBConfig = DEFAULT_CONFIG) -> DataFrame:
    """O12 base-placement advisor
    (``storage/temporal_database.py:443-494``): every non-base sequence whose
    reconstruction cost exceeds ``max_cost`` becomes a promotion
    recommendation."""
    bar = cfg.advisor_max_cost if max_cost is None else max_cost
    rec = with_cost_estimate(
        reconstruct_all(versions, with_embedding=False).drop("deltas_applied"), cfg
    )
    return (
        rec.where((F.col("cost") > bar))
        .select(
            "content_id",
            F.col("target_seq").alias("seq"),
            "cost",
            "base_seq",
            "estimated_error_bound",
        )
    )


def list_content_ids(versions: DataFrame) -> DataFrame:
    """O13 (``storage/temporal_database.py:332-352``)."""
    return versions.select("content_id").distinct().orderBy("content_id")


def storage_tiering_report(
    versions: DataFrame, hot_days: int = 7, warm_days: int = 30
) -> DataFrame:
    """Age-tiered storage accounting (r08, beyond-reference) — the
    hot/warm/cold placement report a tiered deployment (NVMe / object
    store / archive) drives its migration policy with: every version
    row is bucketed by WHOLE-DAY age behind the store's newest day
    (TZ-free epoch-day integers — ``bucket_day_expr``'s read-mode-proof
    math, the r03 timezone lesson), and each tier reports exact counts,
    logical float storage (dense bases = ``total_dims``; sparse deltas
    = ``2·n_changed`` idx+val pairs — the ``storage_efficiency``
    convention), distinct contents touching the tier, and how many
    contents' LATEST version lives there (the rows a serving layer must
    keep hot regardless of age).

    Plan: one epoch-day projection + one per-content max-seq aggregate
    (map-side combinable) joined back + one tier aggregate. The store's
    max day is derived INSIDE the plan (scalar aggregate cross-joined —
    no driver round-trip, no collect). The max-seq side is one row per
    content — data-sized at 100 TB — so it is deliberately NOT
    broadcast-hinted; AQE picks the join strategy at runtime (ADVICE
    r08, same rule as dedup's candidate semi-joins)."""
    if not (0 < int(hot_days) < int(warm_days)):
        raise ValueError(
            f"need 0 < hot_days < warm_days, got {hot_days}, {warm_days}"
        )
    from temporal_vector_database_spark.operators.rollup import bucket_day_expr

    v = versions.withColumn("_day", bucket_day_expr(versions))
    mx = v.agg(F.max("_day").alias("_max_day"))
    latest = versions.groupBy("content_id").agg(F.max("seq").alias("_lseq"))
    tiered = (
        v.crossJoin(F.broadcast(mx))
        .join(latest, "content_id")
        .withColumn("_age", F.col("_max_day") - F.col("_day"))
        .withColumn(
            "tier",
            F.when(F.col("_age") < int(hot_days), "hot")
            .when(F.col("_age") < int(warm_days), "warm")
            .otherwise("cold"),
        )
    )
    floats = F.when(F.col("kind") == "base", F.col("total_dims")).otherwise(
        F.lit(2) * F.coalesce(F.col("n_changed"), F.lit(0))
    )
    return tiered.groupBy("tier").agg(
        F.count("*").cast("long").alias("n_versions"),
        F.sum(F.when(F.col("kind") == "base", 1).otherwise(0))
        .cast("long")
        .alias("n_bases"),
        F.sum(F.when(F.col("kind") == "delta", 1).otherwise(0))
        .cast("long")
        .alias("n_deltas"),
        F.sum(floats).cast("long").alias("floats_stored"),
        F.countDistinct("content_id").cast("long").alias("n_contents"),
        F.sum(F.when(F.col("seq") == F.col("_lseq"), 1).otherwise(0))
        .cast("long")
        .alias("n_latest"),
    )


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Data-quality profile: per-column row/null/exact-distinct counts in
    ONE pass (beyond-reference; the ingestion-side sanity check every
    pipeline runs before training on a new drop).

    Multiple exact count-distincts compile to a single Expand + two-phase
    aggregate — one shuffle total. At 100 TB you would swap
    ``approx_count_distinct`` in (same plan shape, constant-size HLL
    state; error bounds pinned in tests/test_approx.py); the exact form
    is the oracle-checkable twin. Output: one row per profiled column —
    (column_name, n_rows, n_nulls, n_distinct).
    """
    cols = columns if columns is not None else list(df.columns)
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"__nulls_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).cast("long").alias(f"__dist_{c}"))
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                F.col(f"__dist_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("r")).select(
        "r.column_name", "r.n_rows", "r.n_nulls", "r.n_distinct"
    )
