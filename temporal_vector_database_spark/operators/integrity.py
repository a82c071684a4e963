"""V1 reconstruction validation + V2 timeline integrity validation.

V1 (``core/delta_computer.py:193-216``): cosine similarity and L2 error
between a reconstruction and its ground truth; valid iff
``l2_error < tolerance`` (default 0.01).

V2 (``core/reconstruction_service.py:299-358``): per-timeline checks —
(a) missing sequences = ``{1..max} − present`` (anti-join against an
exploded ``sequence()``), (b) deltas whose predecessor sequence does not
exist (left-anti self-join), (c) max gap between consecutive base
snapshots, flagged when > 20. All keyed by ``content_id`` — one shuffle,
then narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from temporal_vector_database_spark.config import DEFAULT_CONFIG, TVDBConfig
from temporal_vector_database_spark.functions.vector import cosine, l2_dist


def validate_reconstruction(
    df: DataFrame,
    recon_col: str = "embedding",
    truth_col: str = "truth_embedding",
    tolerance: float = DEFAULT_CONFIG.l2_tolerance,
) -> DataFrame:
    """V1: attach ``cosine_sim``, ``l2_error``, ``is_valid`` columns
    (``validate_reconstruction``, ``core/delta_computer.py:193-216``)."""
    return (
        df.withColumn("cosine_sim", cosine(F.col(recon_col), F.col(truth_col)))
        .withColumn("l2_error", l2_dist(F.col(recon_col), F.col(truth_col)))
        .withColumn("is_valid", F.col("l2_error") < F.lit(tolerance))
    )


def missing_sequences(versions: DataFrame) -> DataFrame:
    """V2(a): expected ``1..max(seq)`` minus present, per content
    (``core/reconstruction_service.py:322-332``)."""
    expected = (
        versions.groupBy("content_id")
        .agg(F.max("seq").alias("max_seq"))
        .select("content_id", F.explode(F.sequence(F.lit(1), F.col("max_seq"))).alias("seq"))
    )
    return expected.join(versions.select("content_id", "seq"), ["content_id", "seq"], "left_anti")


def dangling_deltas(versions: DataFrame) -> DataFrame:
    """V2(b): deltas whose ``from_seq`` is not a stored sequence
    (``core/reconstruction_service.py:334-343``)."""
    deltas = versions.where(F.col("kind") == "delta").select(
        "content_id", "seq", F.col("from_seq")
    )
    present = versions.select("content_id", F.col("seq").alias("from_seq"))
    return deltas.join(present, ["content_id", "from_seq"], "left_anti")


def base_gaps(versions: DataFrame) -> DataFrame:
    """V2(c): max gap between consecutive base snapshots per content
    (``core/reconstruction_service.py:345-356``)."""
    w = Window.partitionBy("content_id").orderBy("seq")
    bases = versions.where(F.col("kind") == "base").select("content_id", "seq")
    gaps = bases.withColumn("gap", F.col("seq") - F.lag("seq").over(w)).where(
        F.col("gap").isNotNull()
    )
    return gaps.groupBy("content_id").agg(F.max("gap").cast("int").alias("max_base_gap"))


def validate_timeline_integrity(versions: DataFrame, gap_flag: int = 20) -> DataFrame:
    """V2: one row per content — counts, missing/dangling counts, max base
    gap, ``valid`` flag (missing or dangling ⇒ invalid; a large gap is an
    issue but does NOT flip ``valid`` in the reference,
    ``core/reconstruction_service.py:345-356``). A content with two rows
    at one ``seq`` is also invalid: the reference's per-seq storage cannot
    hold them, and a replay would apply both (this engine's append-only
    table can, e.g. after two writers continued from the same head).

    Single-pass form: ONE groupBy(content_id) collects the per-timeline
    sequence/base/delta structure, then every check is an array expression
    over it — missing = ``array_except(sequence(1,max), present)``,
    dangling = deltas whose ``from_seq`` is absent from ``present``, base
    gaps = pairwise differences of the sorted base list. The previous form
    scanned the versions table six times and hash-joined four branches;
    timelines are interval-bounded (tens of versions), so the collected
    arrays are small and the whole report is one shuffle."""
    g = versions.groupBy("content_id").agg(
        F.max("seq").cast("int").alias("max_sequence"),
        F.sum(F.when(F.col("kind") == "base", 1).otherwise(0)).cast("int").alias("base_snapshots"),
        F.sum(F.when(F.col("kind") == "delta", 1).otherwise(0)).cast("int").alias("deltas"),
        F.sort_array(F.collect_list("seq")).alias("_present"),
        F.sort_array(F.collect_list(F.when(F.col("kind") == "base", F.col("seq")))).alias(
            "_bases"
        ),
        F.collect_list(
            F.when(F.col("kind") == "delta", F.struct("seq", "from_seq"))
        ).alias("_dpairs"),
    )
    missing = F.array_except(F.sequence(F.lit(1), F.col("max_sequence")), F.col("_present"))
    dangling = F.sort_array(
        F.transform(
            F.filter(
                "_dpairs", lambda d: ~F.array_contains(F.col("_present"), d["from_seq"])
            ),
            lambda d: d["seq"],
        )
    )
    nb = F.size("_bases")
    gap_list = F.zip_with(
        F.slice("_bases", F.lit(2), nb - 1),
        F.slice("_bases", F.lit(1), nb - 1),
        lambda a, b: a - b,
    )
    out = (
        g.withColumn("missing_seqs", F.when(F.size(missing) > 0, missing))
        .withColumn("n_missing", F.coalesce(F.size("missing_seqs"), F.lit(0)).cast("int"))
        .withColumn("dangling_seqs", F.when(F.size(dangling) > 0, dangling))
        .withColumn("n_dangling", F.coalesce(F.size("dangling_seqs"), F.lit(0)).cast("int"))
        .withColumn("max_base_gap", F.when(nb >= 2, F.array_max(gap_list)).cast("int"))
        .withColumn(
            "valid",
            (F.col("n_missing") == 0)
            & (F.col("n_dangling") == 0)
            & (F.size("_present") == F.size(F.array_distinct("_present"))),
        )
        .withColumn("large_gap", F.coalesce(F.col("max_base_gap") > gap_flag, F.lit(False)))
        .drop("_present", "_bases", "_dpairs")
    )
    return out


def invalid_reconstruction_targets(versions: DataFrame, targets: DataFrame) -> DataFrame:
    """Targets that CANNOT be reconstructed, with the reason — the
    DataFrame analogue of the reference's exceptions (a target below the
    first base raises ValueError, ``core/delta_computer.py:116-119``; an
    unknown content/sequence returns None,
    ``storage/temporal_database.py:190-195``). ``reconstruct_at`` silently
    omits these rows; callers wanting strict semantics anti-join against
    this report."""
    v = versions.groupBy("content_id").agg(
        F.max("seq").alias("_max_seq"),
        F.min(F.when(F.col("kind") == "base", F.col("seq"))).alias("_first_base"),
    )
    j = targets.join(v, "content_id", "left")
    return (
        j.withColumn(
            "reason",
            F.when(F.col("_max_seq").isNull(), F.lit("unknown_content"))
            .when(F.col("target_seq") > F.col("_max_seq"), F.lit("beyond_latest"))
            .when(
                F.col("_first_base").isNull() | (F.col("target_seq") < F.col("_first_base")),
                F.lit("no_base_at_or_before_target"),
            ),
        )
        .where(F.col("reason").isNotNull())
        .select("content_id", "target_seq", "reason")
    )
