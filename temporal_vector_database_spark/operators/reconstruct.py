"""Time-travel reconstruction (reference read path, SURVEY.md §3.2).

The reference reconstructs one version at a time: find the nearest base at
or before the target, then sequentially fold sparse deltas onto it
(``core/delta_computer.py:90-135``). Here the whole delta chain of each
target is collected in one aggregation and folded with array/map HOF
expressions (map_zip_with merge per delta, in delta_seq order — the
reference's exact application order), entirely JVM-side.
``replay_timeline`` is the same fold over ONE timeline in numpy, bit-equal
to it; it serves the grouped-map batch twin, the append encoder's
continue-from state and the facade's single-content reads.

Scale posture: every join/aggregate here is keyed by ``content_id`` (and
the governing-base epoch), so a 1000-executor cluster shuffles once and
each timeline is processed where it lands; the epoch-tagged frame is
checkpointed after that one shuffle and every downstream branch reuses
its partitioning (zero further exchanges — pinned in tests/test_plans.py).
The epoch tag bounds the targets×deltas join to ``interval²`` rows per
epoch instead of ``N²`` per content.

Semantics preserved (SURVEY.md §2.3):
- nearest base looks BACKWARD only (``core/data_structures.py:245-250``);
  a target below the first base has no reconstruction (the reference
  raises, ``core/delta_computer.py:116-119``) — such targets are absent
  from the output here.
- as-of is inclusive (``ts <= t``) and empty when t precedes all versions
  (``core/data_structures.py:219,224``, ``core/reconstruction_service.py:151-153``).
- cost = number of deltas applied (``core/reconstruction_service.py:19-36``).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from temporal_vector_database_spark.config import DEFAULT_CONFIG, TVDBConfig


def with_governing_base(versions: DataFrame) -> DataFrame:
    """O4: tag every row with its governing (nearest at-or-before) base seq.

    ``last(CASE WHEN kind='base' THEN seq END) IGNORE NULLS`` over the
    seq-ordered window — the Spark form of
    ``find_nearest_base_snapshot`` (``core/data_structures.py:229-252``).
    """
    w = (
        Window.partitionBy("content_id")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return versions.withColumn(
        "base_seq",
        F.last(F.when(F.col("kind") == "base", F.col("seq")), ignorenulls=True).over(w),
    )


def _fold_deltas(
    targets: DataFrame, tagged: DataFrame, with_embedding: bool = True
) -> DataFrame:
    """Shared core: merge summed sparse deltas in ``(base_seq, target_seq]``
    onto the governing base embedding.

    ``targets`` must have columns (content_id, target_seq, base_seq);
    ``tagged`` is ``with_governing_base(versions)``. The batch callers
    (``reconstruct_at``/``_all``/``_range``/``_latest``) persist it so
    every branch below reuses the one content_id exchange instead of
    re-scanning + re-windowing per branch. Single-timeline reads (the
    facade's point, as-of and latest reads, and the append's
    continue-from state) no longer come through here: they replay one
    collected timeline with :func:`replay_timeline`, which is bit-equal
    to this fold.

    Single-aggregation design: the whole delta chain of a target is
    collected once (``collect_list`` → ``array_sort`` by delta_seq), and
    cost / chain averages / applied-ids / the sparse-sum map are all HOF
    projections over that sorted array. With the checkpointed input
    partitioned by ``content_id``, the epoch join, the chain aggregation
    and the base join are ALL subset-compatible with that partitioning —
    the entire fold runs with zero additional hash exchanges (pinned in
    ``tests/test_plans.py``). The sequential in-order fold over the chain
    also reproduces the reference's delta-application order exactly
    (``core/delta_computer.py:128-133``).

    Output: content_id, target_seq, base_seq, cost, avg_magnitude,
    avg_sparsity, deltas_applied, embedding.
    """
    bases = tagged.where(F.col("kind") == "base").select(
        "content_id",
        F.col("seq").alias("base_seq"),
        F.col("embedding").alias("base_embedding"),
    )
    deltas = tagged.where(F.col("kind") == "delta").select(
        "content_id",
        "base_seq",
        F.col("seq").alias("delta_seq"),
        "sparse_idx",
        "sparse_val",
        "magnitude",
        "n_changed",
        "total_dims",
        "version_id",
    )
    # epoch-scoped join: a target consumes only deltas of its own epoch
    jd = targets.join(deltas, ["content_id", "base_seq"]).where(
        F.col("delta_seq") <= F.col("target_seq")
    )
    keys = ["content_id", "target_seq", "base_seq"]
    # stats-only callers (with_embedding=False) skip the sparse payload in
    # the chain collection AND the base-embedding join entirely
    chain_fields = ["delta_seq", "version_id", "magnitude", "n_changed", "total_dims"]
    if with_embedding:
        chain_fields += ["sparse_idx", "sparse_val"]
    chain = jd.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct(*chain_fields))).alias("chain")
    )
    empty_map = F.map_from_arrays(
        F.array().cast("array<int>"), F.array().cast("array<double>")
    )
    n = F.size("chain").cast("double")
    merged_cols = [
        F.size("chain").cast("int").alias("cost"),
        (F.aggregate("chain", F.lit(0.0), lambda a, d: a + d["magnitude"]) / n).alias(
            "avg_magnitude"
        ),
        (
            F.aggregate(
                "chain",
                F.lit(0.0),
                lambda a, d: a + d["n_changed"].cast("double") / d["total_dims"],
            )
            / n
        ).alias("avg_sparsity"),
        F.transform("chain", lambda d: d["version_id"]).alias("deltas_applied"),
    ]
    def _delta_map(d):
        # map_from_arrays raises on duplicate keys, but the reference
        # ACCUMULATES duplicate sparse indices (`arr[idx] += v` per entry,
        # core/data_structures.py:117-119) — as does the numpy twin via
        # np.add.at. Fast path for well-formed deltas; entry-by-entry
        # fold (summing) only when duplicates are present.
        idx = d["sparse_idx"]
        vals = d["sparse_val"].cast("array<double>")
        entry_fold = F.aggregate(
            F.zip_with(idx, vals, lambda i, v: F.struct(i.alias("i"), v.alias("v"))),
            empty_map,
            lambda acc, s: F.map_zip_with(
                acc,
                F.map_from_arrays(F.array(s["i"]), F.array(s["v"])),
                lambda _, v1, v2: F.coalesce(v1, F.lit(0.0)) + F.coalesce(v2, F.lit(0.0)),
            ),
        )
        return F.when(
            F.size(idx) == F.size(F.array_distinct(idx)), F.map_from_arrays(idx, vals)
        ).otherwise(entry_fold)

    if with_embedding:
        merged_cols.append(
            F.aggregate(
                "chain",
                empty_map,
                lambda acc, d: F.map_zip_with(
                    acc,
                    _delta_map(d),
                    lambda _, v1, v2: F.coalesce(v1, F.lit(0.0))
                    + F.coalesce(v2, F.lit(0.0)),
                ),
            ).alias("dmap")
        )
    merged = chain.select(*keys, *merged_cols)
    joined = (
        targets.join(bases, ["content_id", "base_seq"]) if with_embedding else targets
    ).join(merged, keys, "left")
    if with_embedding:
        joined = joined.withColumn(
            "embedding",
            F.when(F.col("dmap").isNull(), F.col("base_embedding")).otherwise(
                F.transform(
                    "base_embedding",
                    lambda x, i: x + F.coalesce(F.element_at(F.col("dmap"), i), F.lit(0.0)),
                )
            ),
        ).drop("dmap", "base_embedding")
    out = (
        joined.withColumn("cost", F.coalesce(F.col("cost"), F.lit(0).cast("int")))
        .withColumn(
            "deltas_applied",
            F.coalesce(F.col("deltas_applied"), F.array().cast("array<string>")),
        )
    )
    return out


def reconstruct_at(
    versions: DataFrame, targets: DataFrame, materialize: bool = True
) -> DataFrame:
    """O5: reconstruct each (content_id, target_seq) pair in ``targets``.

    Batch generalization of ``reconstruct_embedding_from_nearest``
    (``core/delta_computer.py:90-135``) — any number of point lookups in one
    distributed plan.

    A target must be a STORED sequence: the reference's
    ``get_delta_chain`` raises on any gap (``core/data_structures.py:
    272-273``), so a nonexistent seq (unknown content, beyond-latest,
    dropped row) can never reconstruct. Such targets produce no output
    row here — ``integrity.invalid_reconstruction_targets`` reports them
    with reasons for callers wanting strict errors.

    ``materialize`` checkpoints the epoch-tagged frame after its one
    content_id shuffle; all downstream branches (stored-target probe,
    chain fold, base join) reuse that partitioning with no further
    exchange. At cluster scale this is the difference between scanning +
    shuffling the versions table once and six times.

    The stored-target probe IS the nearest-base lookup: a stored row's
    ``base_seq`` tag already names its governing base, so one inner join
    against the tagged frame replaces the reference's separate
    ``find_nearest_base_snapshot`` scan (``core/data_structures.py:229-252``).
    """
    tagged = with_governing_base(versions)
    if materialize:
        # persist, NOT localCheckpoint: the checkpoint's LogicalRDD scan
        # reports unknown outputPartitioning, so Catalyst re-shuffles every
        # downstream join/agg; the InMemoryRelation keeps the window's
        # hash(content_id) partitioning visible (pinned in tests/test_plans.py).
        tagged = tagged.persist()
    tb = (
        targets.join(
            tagged.select("content_id", F.col("seq").alias("target_seq"), "base_seq"),
            ["content_id", "target_seq"],
        )
        .where(F.col("base_seq").isNotNull())
        .select("content_id", "target_seq", "base_seq")
    )
    return _fold_deltas(tb, tagged)


def reconstruct_all(
    versions: DataFrame, materialize: bool = True, with_embedding: bool = True
) -> DataFrame:
    """O7 (superior batch form): reconstruct EVERY stored version in one pass.

    The reference's ``get_version_range``/``batch_reconstruct`` loop point
    lookups and reload the timeline per target
    (``core/reconstruction_service.py:159-184``); here every version is an
    epoch-tagged target of the same fold.
    """
    tagged = with_governing_base(versions)
    if materialize:
        # persist, NOT localCheckpoint: the checkpoint's LogicalRDD scan
        # reports unknown outputPartitioning, so Catalyst re-shuffles every
        # downstream join/agg; the InMemoryRelation keeps the window's
        # hash(content_id) partitioning visible (pinned in tests/test_plans.py).
        tagged = tagged.persist()
    return reconstruct_all_tagged(tagged, with_embedding=with_embedding)


def reconstruct_all_tagged(
    tagged: DataFrame, with_embedding: bool = True
) -> DataFrame:
    """:func:`reconstruct_all` over a PRE-TAGGED frame — the caller has
    already run :func:`with_governing_base` and (normally) persisted the
    result. The shared-working-set shape of the compaction loop (r13,
    VERDICT r12 #8): the advisor fold, the promotion's keep/orig row
    selections, and the promoted-base payloads all read the ONE pinned
    (content_id, seq, kind, payload) slice instead of re-scanning the
    versions table per consumer."""
    targets = tagged.where(F.col("base_seq").isNotNull()).select(
        "content_id", F.col("seq").alias("target_seq"), "base_seq"
    )
    return _fold_deltas(targets, tagged, with_embedding=with_embedding)


# the stored columns a replay reads, and the columns of each result
REPLAY_INPUT = (
    "seq", "kind", "embedding", "sparse_idx", "sparse_val", "magnitude",
    "n_changed", "total_dims", "version_id",
)
REPLAY_COLUMNS = (
    "target_seq", "base_seq", "cost", "avg_magnitude", "avg_sparsity",
    "deltas_applied", "embedding",
)


def replay_timeline(rows: Iterable, emit: str | int = "all") -> list[dict]:
    """Replay ONE content's stored rows, in ``seq`` order, and return the
    reconstruction of the requested targets — the per-timeline fold
    shared by the grouped-map batch twin (:func:`reconstruct_all_folded`),
    the append encoder's continue-from state
    (``ingest.append_versions``) and the facade's driver-side point,
    as-of and latest reads.

    ``rows``: records with the :data:`REPLAY_INPUT` attributes, sorted
    by ``seq``. ``emit``: ``"all"`` (every
    reconstructable version), ``"last"`` (the final version only, if
    reconstructable) or one stored ``seq`` (nothing if it is absent or
    precedes the first base). Each result holds :data:`REPLAY_COLUMNS`.

    Bit-equal to :func:`_fold_deltas` because it follows that plan's
    operation order, not the reference's per-delta in-place fold:
    - a chain's deltas sum into a dense accumulator that starts at 0.0,
      in ``delta_seq`` order; one delta's own entries are pre-summed
      first (the declarative map merge adds a delta's duplicate indices
      together before merging the delta into the chain sum);
    - indices outside ``[0, dim)`` are dropped (the declarative map
      lookup probes keys ``0..dim-1`` only; reference quirk #9 for
      ``>= dim``, a deliberate deviation for negative indices, which the
      reference would wrap);
    - the accumulator is added to the base once; an empty chain leaves
      the base untouched;
    - chain averages are left-to-right sums of Python floats divided by
      the chain length (never ``np.mean``, whose pairwise summation
      differs in the last bits).
    A delta before any base is not reconstructable and is skipped.
    """
    import numpy as np

    out: list[dict] = []
    base = acc = None
    base_seq = seq = None
    mag_sum = spars_sum = 0.0
    applied: list[str] = []

    def state() -> dict:
        n = len(applied)
        return {
            "target_seq": seq,
            "base_seq": base_seq,
            "cost": n,
            "avg_magnitude": mag_sum / n if n else None,
            "avg_sparsity": spars_sum / n if n else None,
            "deltas_applied": list(applied),
            "embedding": base + acc if n else base.copy(),
        }

    for row in rows:
        seq = int(row.seq)
        if row.kind == "base":
            base = np.asarray(row.embedding, dtype=np.float64)
            acc = np.zeros_like(base)
            base_seq = seq
            mag_sum = spars_sum = 0.0
            applied = []
        elif base is None:
            continue
        else:
            idx = np.asarray(row.sparse_idx, dtype=np.int64)
            val = np.asarray(row.sparse_val, dtype=np.float64)
            ok = (idx >= 0) & (idx < base.shape[0])
            delta = np.zeros_like(acc)
            np.add.at(delta, idx[ok], val[ok])
            acc += delta
            mag_sum += float(row.magnitude)
            spars_sum += float(row.n_changed) / float(row.total_dims)
            applied.append(row.version_id)
        if emit == "all" or emit == seq:
            out.append(state())
            if emit == seq:
                break
    if emit == "last" and base is not None:
        out.append(state())
    return out


def reconstruct_all_folded(versions: DataFrame, emit: str = "all") -> DataFrame:
    """O7 twin of `reconstruct_all`: one grouped-map cumulative fold.

    Same output (schema and values, bit for bit) as ``reconstruct_all``,
    different physical plan: ONE shuffle on ``content_id``, then each
    timeline is replayed sequentially in numpy by
    :func:`replay_timeline` — versus the declarative plan's window +
    epoch join + explode + two aggregations + three joins.

    ``emit="last"`` keeps the replay but emits ONLY each timeline's final
    state — the O8 latest-version twin: one shuffle, one narrow pass, no
    window/cache stages at all (same rows as ``reconstruct_latest``).

    Scale posture: identical to ingest (`encode_versions`) — shuffle once
    by the partition key, then a narrow Arrow pass; state per task is one
    timeline (≤ interval × dim floats). Preferable when reconstructing
    ALL versions; the declarative form remains better for sparse target
    sets (it prunes to the governing epochs).
    """
    import pandas as pd

    if emit not in ("all", "last"):
        raise ValueError(f"emit must be 'all' or 'last', got {emit!r}")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        content_id = pdf["content_id"].iloc[0]
        recs = replay_timeline(pdf.sort_values("seq").itertuples(index=False), emit)
        out = {"content_id": [content_id] * len(recs)}
        out.update({k: [r[k] for r in recs] for k in REPLAY_COLUMNS})
        # a timeline with no reconstructable row (all deltas precede any
        # base) emits nothing — build the empty frame with object dtype,
        # else pandas defaults the columns to float64 and Arrow refuses
        # the float64→list<...> conversion for deltas_applied/embedding
        if not recs:
            return pd.DataFrame({k: pd.Series(v, dtype=object) for k, v in out.items()})
        return pd.DataFrame(out)

    id_type = versions.schema["content_id"].dataType.simpleString()
    return versions.groupBy("content_id").applyInPandas(
        fold,
        schema=(
            f"content_id {id_type}, target_seq int, base_seq int, cost int,"
            " avg_magnitude double, avg_sparsity double,"
            " deltas_applied array<string>, embedding array<double>"
        ),
    )


def reconstruct_range(
    versions: DataFrame, start_seq: int, end_seq: int, materialize: bool = True
) -> DataFrame:
    """O7: reconstruct sequences in ``[start_seq, end_seq]`` per content
    (``storage/temporal_database.py:255-272``; ascending order guaranteed by
    the ``target_seq`` column, ``core/reconstruction_service.py:177``)."""
    tagged = with_governing_base(versions)
    if materialize:
        # persist, NOT localCheckpoint: the checkpoint's LogicalRDD scan
        # reports unknown outputPartitioning, so Catalyst re-shuffles every
        # downstream join/agg; the InMemoryRelation keeps the window's
        # hash(content_id) partitioning visible (pinned in tests/test_plans.py).
        tagged = tagged.persist()
    targets = tagged.where(
        (F.col("seq") >= start_seq) & (F.col("seq") <= end_seq) & F.col("base_seq").isNotNull()
    ).select("content_id", F.col("seq").alias("target_seq"), "base_seq")
    return _fold_deltas(targets, tagged)


def latest_targets(versions: DataFrame) -> DataFrame:
    """O8: (content_id, max seq) per content
    (``storage/temporal_database.py:222-236``)."""
    return versions.groupBy("content_id").agg(F.max("seq").alias("target_seq"))


def reconstruct_latest(versions: DataFrame, materialize: bool = True) -> DataFrame:
    """O8: reconstruct the max-seq version of every content.

    The latest row per content is picked off the epoch-tagged frame with a
    desc row_number — the window, the target pick, the chain fold and the
    base join all share the one content_id partitioning (no second scan
    of the versions table, unlike the generic
    ``reconstruct_at(latest_targets(...))`` composition). Only the FINAL
    epoch of each timeline can matter for its latest version, so the
    frame is pruned to rows at-or-after the last base before it is
    materialized — the checkpoint holds ≤ interval rows per content
    regardless of timeline length."""
    tagged = with_governing_base(versions)
    wmax = Window.partitionBy("content_id")
    tagged = tagged.withColumn("_maxb", F.max("base_seq").over(wmax)).where(
        F.col("base_seq").isNull() | (F.col("base_seq") == F.col("_maxb"))
    ).drop("_maxb")
    if materialize:
        # persist, NOT localCheckpoint: the checkpoint's LogicalRDD scan
        # reports unknown outputPartitioning, so Catalyst re-shuffles every
        # downstream join/agg; the InMemoryRelation keeps the window's
        # hash(content_id) partitioning visible (pinned in tests/test_plans.py).
        tagged = tagged.persist()
    w = Window.partitionBy("content_id").orderBy(F.desc("seq"))
    targets = (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & F.col("base_seq").isNotNull())
        .select("content_id", F.col("seq").alias("target_seq"), "base_seq")
    )
    return _fold_deltas(targets, tagged)


def asof_resolve(versions: DataFrame, probes: DataFrame) -> DataFrame:
    """O6: resolve each (content_id, t) probe to ``max(seq) where ts <= t``
    (inclusive; ``core/data_structures.py:213-227``). Probes with no
    version at-or-before t resolve to NULL
    (``core/reconstruction_service.py:151-153``)."""
    j = probes.join(versions.select("content_id", "seq", "ts"), "content_id", "left").where(
        F.col("ts") <= F.col("t")
    )
    resolved = j.groupBy("content_id", "t").agg(F.max("seq").alias("target_seq"))
    return probes.join(resolved, ["content_id", "t"], "left")


def reconstruct_asof(versions: DataFrame, probes: DataFrame) -> DataFrame:
    """O6 + O5: time-travel reconstruction at timestamps."""
    resolved = asof_resolve(versions, probes).where(F.col("target_seq").isNotNull())
    return reconstruct_at(versions, resolved.select("content_id", "target_seq").distinct()).join(
        resolved, ["content_id", "target_seq"]
    )


def parse_version_id(df: DataFrame, id_col: str = "version_id") -> DataFrame:
    """O9: parse ``"<content>_v<seq>"`` version-id strings
    (``storage/temporal_database.py:197-220``, reference uses
    ``rsplit("_v", 1)`` — greedy regexp matches the LAST ``_v``)."""
    return df.withColumn(
        "content_id", F.regexp_extract(F.col(id_col), r"^(.*)_v(\d+)$", 1)
    ).withColumn(
        "target_seq", F.regexp_extract(F.col(id_col), r"^(.*)_v(\d+)$", 2).cast("int")
    )


def reconstruct_by_version_id(versions: DataFrame, ids: DataFrame, id_col: str = "version_id") -> DataFrame:
    parsed = parse_version_id(ids, id_col).select("content_id", "target_seq")
    return reconstruct_at(versions, parsed)


def with_quality_columns(df: DataFrame, cfg: TVDBConfig = DEFAULT_CONFIG) -> DataFrame:
    """O10/O11: error-bound and quality-score column math.

    Exact transcription of ``_estimate_error_bound_sequential``
    (``core/reconstruction_service.py:229-266``) and
    ``_calculate_quality_score_sequential`` (``:268-297``) as deterministic
    column expressions over the fold's aggregate outputs. Expects columns
    ``cost``, ``avg_magnitude``, ``base_seq``, ``target_seq``.
    """
    cost = F.col("cost").cast("double")
    error_bound = F.when(F.col("cost") == 0, F.lit(0.0)).otherwise(
        cost
        * F.lit(cfg.error_accumulation_rate)
        * (F.lit(1.0) + F.coalesce(F.col("avg_magnitude"), F.lit(0.0)) * F.lit(0.05))
        * F.when(F.col("cost") < 5, F.lit(0.9)).otherwise(F.lit(1.0))
    )
    df = df.withColumn("error_bound", error_bound)
    base_distance = (F.col("target_seq") - F.col("base_seq")).cast("double")
    chain_penalty = F.greatest(
        F.lit(0.0), F.lit(1.0) - (cost / F.lit(float(cfg.max_chain_length))) * F.lit(0.3)
    )
    distance_bonus = F.greatest(F.lit(0.7), F.lit(1.0) - (base_distance / F.lit(20.0)) * F.lit(0.3))
    error_penalty = F.greatest(F.lit(0.5), F.lit(1.0) - F.col("error_bound") * F.lit(20.0))
    sequential_bonus = F.when(F.col("cost") < 8, F.lit(1.1)).otherwise(F.lit(1.0))
    quality = F.least(
        F.lit(1.0),
        F.greatest(F.lit(0.0), chain_penalty * distance_bonus * error_penalty * sequential_bonus),
    )
    return df.withColumn(
        "quality_score", F.when(F.col("cost") == 0, F.lit(1.0)).otherwise(quality)
    )


def with_cost_estimate(df: DataFrame, cfg: TVDBConfig = DEFAULT_CONFIG) -> DataFrame:
    """O10 advisor heuristic (``core/delta_computer.py:218-264``):
    ``estimated_error = cost*0.001 + avg_magnitude*0.1 + avg_sparsity*0.5``;
    recommended iff ``cost < 10 AND estimated_error < 0.05``."""
    est = (
        F.col("cost").cast("double") * F.lit(0.001)
        + F.coalesce(F.col("avg_magnitude"), F.lit(0.0)) * F.lit(0.1)
        + F.coalesce(F.col("avg_sparsity"), F.lit(0.0)) * F.lit(0.5)
    )
    return df.withColumn("estimated_error_bound", est).withColumn(
        "recommended",
        (F.col("cost") < cfg.advisor_max_cost) & (F.col("estimated_error_bound") < 0.05),
    ).withColumn("base_snapshot_distance", (F.col("target_seq") - F.col("base_seq")).cast("int"))


def reconstruct_diff(versions: DataFrame, t_a, t_b) -> DataFrame:
    """Time-travel DIFF (r07, beyond-reference composition of O6+O5):
    per content, what changed between the as-of states at ``t_a`` and
    ``t_b`` — "what moved between Monday and Friday", the temporal
    question a version store exists to answer. The reference can only
    reconstruct the two states separately and diff client-side
    (``core/reconstruction_service.py:159-184`` loops point lookups);
    here both time-travel targets resolve first and the UNION of
    (content, seq) targets reconstructs in ONE fold pass — a content
    whose state didn't change between the instants reconstructs once,
    and the whole diff costs one content_id shuffle end-to-end.

    Only contents with a reconstructable state at BOTH instants
    publish a row (inclusive ``ts <= t`` as-of semantics, reference
    quirk #2). Diff columns are exact on the fixture grid: ``diff_sum``
    (dyadic), ``n_changed`` (count of dims with a bit-exact change),
    ``magnitude`` (IEEE sqrt of an exact sum of dyadic squares).

    Output: ``(content_id, seq_a, seq_b, n_changed, magnitude,
    diff_sum)``.

    NOTE (ADVICE r10): the scan pins below use ``localCheckpoint``,
    which is EAGER — calling this function launches the as-of-resolve
    and reconstruction jobs at plan-construction time rather than
    staying lazy until the first action; the checkpointed RDD scan
    also forfeits its outputPartitioning, so the downstream
    content_id joins re-shuffle the (1-2 rows/content) pinned tables.
    Both costs are accepted deliberately: the pinned tables are tiny,
    and the alternative (persist+count keeps partitioning but holds
    the full lineage) left this plan scanning the versions parquet
    62× per action (r10 audit).
    """
    contents = versions.select("content_id").distinct()
    ra = (
        asof_resolve(versions, contents.withColumn("t", F.lit(t_a)))
        .where(F.col("target_seq").isNotNull())
        .select("content_id", F.col("target_seq").alias("seq_a"))
    )
    rb = (
        asof_resolve(versions, contents.withColumn("t", F.lit(t_b)))
        .where(F.col("target_seq").isNotNull())
        .select("content_id", F.col("target_seq").alias("seq_b"))
    )
    # pin the (content, seq_a, seq_b) pair table (1 row per content) —
    # it feeds the target union twice AND the final join, and each
    # reference re-executes BOTH as-of resolutions; likewise pin the
    # reconstructed states (≤ 2 rows per content): the final join reads
    # them twice and each read re-runs the whole delta-chain fold.
    # Unpinned this plan scanned the versions parquet 62× (r10 audit) —
    # the root cause of this query's recurring first-rep bench spikes.
    pairs = ra.join(rb, "content_id").localCheckpoint()
    targets = (
        pairs.select("content_id", F.col("seq_a").alias("target_seq"))
        .unionByName(pairs.select("content_id", F.col("seq_b").alias("target_seq")))
        .distinct()
    )
    st = reconstruct_at(versions, targets).select(
        "content_id", "target_seq", "embedding"
    ).localCheckpoint()
    j = (
        pairs.join(
            st.select(
                "content_id",
                F.col("target_seq").alias("seq_a"),
                F.col("embedding").alias("emb_a"),
            ),
            ["content_id", "seq_a"],
        )
        .join(
            st.select(
                "content_id",
                F.col("target_seq").alias("seq_b"),
                F.col("embedding").alias("emb_b"),
            ),
            ["content_id", "seq_b"],
        )
        .withColumn("diff", F.zip_with("emb_b", "emb_a", lambda x, y: x - y))
    )
    return j.select(
        "content_id",
        "seq_a",
        "seq_b",
        F.size(F.filter("diff", lambda d: d != F.lit(0.0))).cast("long").alias(
            "n_changed"
        ),
        F.sqrt(
            F.aggregate("diff", F.lit(0.0), lambda a, x: a + x * x)
        ).alias("magnitude"),
        F.aggregate("diff", F.lit(0.0), lambda a, x: a + x).alias("diff_sum"),
    )
