"""Ingest pipeline: sequence assignment, delta encoding, base promotion.

Replaces the reference's per-row write API
(``add_content_version``, ``storage/temporal_database.py:86-178``) with a
batch job: one shuffle partitions the incoming rows by ``content_id``, then
every timeline is encoded independently (Arrow-vectorized
``applyInPandas``). The reference reloads the whole timeline and
*reconstructs* the previous version on every insert
(``storage/temporal_database.py:114-115,134-135``); because each delta is
computed against that lossy reconstruction, the encode is genuinely
sequential per content — but embarrassingly parallel across contents, which
is what matters at 100 TB (shuffle once by key, then a narrow map).

Semantics preserved (SURVEY.md §2.3):
- delta keeps dims with ``abs(change) >= sparsity_threshold`` (>=,
  ``core/delta_computer.py:65``);
- ``magnitude`` is the L2 of the RAW unsparsified diff
  (``core/delta_computer.py:74``);
- promotion rules in reference order: forced → first version → interval
  ``(seq-1) % I == 0`` → changed-dim ratio strictly > 0.7 → gap since last
  base > 2·I (``storage/temporal_database.py:354-413``);
- delta chains strictly consecutive, ``from_seq == seq - 1``
  (``core/data_structures.py:100-101``).
"""

from __future__ import annotations

import math
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from temporal_vector_database_spark.config import DEFAULT_CONFIG, TVDBConfig


def assign_sequence(raw: DataFrame) -> DataFrame:
    """O1: assign dense ``seq`` 1..N per content by timestamp order.

    Reference auto-increments from stored metadata
    (``storage/storage_engine.py:417-437``); batch form is a ranking window.
    """
    w = Window.partitionBy("content_id").orderBy("ts")
    return raw.withColumn("seq", F.row_number().over(w).cast("int"))


def _versions_schema(raw_schema: T.StructType) -> T.StructType:
    ts_type = raw_schema["ts"].dataType
    return T.StructType(
        [
            T.StructField("content_id", T.StringType()),
            T.StructField("seq", T.IntegerType()),
            T.StructField("ts", ts_type),
            T.StructField("kind", T.StringType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
            T.StructField("sparse_idx", T.ArrayType(T.IntegerType())),
            T.StructField("sparse_val", T.ArrayType(T.DoubleType())),
            T.StructField("from_seq", T.IntegerType()),
            T.StructField("magnitude", T.DoubleType()),
            T.StructField("n_changed", T.IntegerType()),
            T.StructField("total_dims", T.IntegerType()),
            T.StructField("version_id", T.StringType()),
            T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
        ]
    )


def _user_meta(value) -> dict:
    """Normalize an Arrow map cell (dict or list of (k, v) pairs) to a dict."""
    if value is None:
        return {}
    if isinstance(value, dict):
        return {str(k): str(v) for k, v in value.items()}
    try:
        return {str(k): str(v) for k, v in value}
    except TypeError:
        return {}


def _delta_meta(user: dict, n_changed: int, dim: int) -> dict:
    """Reference quirk #12 (``storage/temporal_database.py:172``): encoder
    stats merged with user metadata, USER KEYS WIN (``dict.update``)."""
    meta = {
        "sparsity_ratio": repr(n_changed / dim),
        "dimensions_changed": str(n_changed),
        "total_dimensions": str(dim),
    }
    meta.update(user)
    return meta


def encode_versions(raw: DataFrame, cfg: TVDBConfig = DEFAULT_CONFIG) -> DataFrame:
    """O2+O3: delta-encode raw version timelines into the ``versions`` layout.

    Input columns: ``content_id, seq, ts, embedding`` and optionally
    ``force_base`` (bool, reference's ``force_base_snapshot`` parameter) and
    ``base_interval`` (int, per-content policy override).
    """
    threshold = cfg.sparsity_threshold
    promo = cfg.base_promotion_sparsity_threshold
    gap_factor = cfg.base_gap_factor
    default_interval = cfg.base_snapshot_interval

    cols = set(raw.columns)
    if "force_base" not in cols:
        raw = raw.withColumn("force_base", F.lit(False))
    if "base_interval" not in cols:
        raw = raw.withColumn("base_interval", F.lit(default_interval).cast("int"))

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq")
        content_id = pdf["content_id"].iloc[0]
        interval = int(pdf["base_interval"].iloc[0])
        out: dict[str, list] = {k: [] for k in (
            "content_id", "seq", "ts", "kind", "embedding", "sparse_idx",
            "sparse_val", "from_seq", "magnitude", "n_changed", "total_dims",
            "version_id", "metadata",
        )}
        metas = pdf["metadata"] if "metadata" in pdf.columns else [None] * len(pdf)
        recon: np.ndarray | None = None
        last_base_seq = 0
        for seq, ts, emb, force, meta in zip(
            pdf["seq"], pdf["ts"], pdf["embedding"], pdf["force_base"], metas
        ):
            seq = int(seq)
            raw_vec = np.asarray(emb, dtype=np.float64)
            dim = raw_vec.shape[0]
            if seq == 1 or bool(force):
                is_base, diff, changed = True, None, None
            else:
                diff = raw_vec - recon
                changed = np.abs(diff) >= threshold
                ratio = float(changed.sum()) / dim
                is_base = (
                    ((seq - 1) % interval == 0)
                    or (ratio > promo)
                    or ((seq - last_base_seq) > gap_factor * interval)
                )
            out["content_id"].append(content_id)
            out["seq"].append(seq)
            out["ts"].append(ts)
            out["total_dims"].append(dim)
            if is_base:
                out["kind"].append("base")
                out["embedding"].append(raw_vec)
                out["sparse_idx"].append(None)
                out["sparse_val"].append(None)
                out["from_seq"].append(None)
                out["magnitude"].append(None)
                out["n_changed"].append(None)
                out["version_id"].append(f"{content_id}_{int(pd.Timestamp(ts).value // 1000)}")
                out["metadata"].append(_user_meta(meta) or None)
                recon = raw_vec.copy()
                last_base_seq = seq
            else:
                idx = np.nonzero(changed)[0]
                vals = diff[idx]
                out["kind"].append("delta")
                out["embedding"].append(None)
                out["sparse_idx"].append(idx.astype(np.int32))
                out["sparse_val"].append(vals)
                out["from_seq"].append(seq - 1)
                out["magnitude"].append(float(math.sqrt(float((diff * diff).sum()))))
                out["n_changed"].append(int(idx.shape[0]))
                out["version_id"].append(f"{content_id}_v{seq}")
                out["metadata"].append(_delta_meta(_user_meta(meta), int(idx.shape[0]), dim))
                recon = recon.copy()
                recon[idx] += vals
        return pd.DataFrame(out)

    schema = _versions_schema(raw.schema)
    return raw.groupBy("content_id").applyInPandas(encode, schema=schema)


def encode_versions_streamed(
    raw: DataFrame, cfg: TVDBConfig = DEFAULT_CONFIG, assume_partitioned: bool = False
) -> DataFrame:
    """O2+O3 twin of ``encode_versions``: one Python call per Arrow batch
    instead of one per content group.

    ``applyInPandas`` invokes the UDF once per content (one Arrow batch +
    one pandas frame per ~interval-sized group); with millions of short
    timelines that per-group overhead dominates the actual ~µs/row encode
    loop. This twin partitions by ``content_id``, sorts each partition by
    ``(content_id, seq)`` so every timeline is contiguous, and streams
    whole partitions through ``mapInPandas`` — the sequential encoder
    state (reconstruction, last base) resets on content change and carries
    across Arrow batch boundaries. Bit-equality with ``encode_versions``
    is pinned in ``tests/test_ingest.py``.
    """
    threshold = cfg.sparsity_threshold
    promo = cfg.base_promotion_sparsity_threshold
    gap_factor = cfg.base_gap_factor
    default_interval = cfg.base_snapshot_interval

    cols = set(raw.columns)
    if "force_base" not in cols:
        raw = raw.withColumn("force_base", F.lit(False))
    if "base_interval" not in cols:
        raw = raw.withColumn("base_interval", F.lit(default_interval).cast("int"))
    schema = _versions_schema(raw.schema)

    def encode_stream(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        cur_id = None
        interval = default_interval
        recon: np.ndarray | None = None
        last_base_seq = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out: dict[str, list] = {k: [] for k in (
                "content_id", "seq", "ts", "kind", "embedding", "sparse_idx",
                "sparse_val", "from_seq", "magnitude", "n_changed", "total_dims",
                "version_id", "metadata",
            )}
            metas = pdf["metadata"] if "metadata" in pdf.columns else [None] * len(pdf)
            for content_id, seq, ts, emb, force, row_interval, meta in zip(
                pdf["content_id"], pdf["seq"], pdf["ts"], pdf["embedding"],
                pdf["force_base"], pdf["base_interval"], metas,
            ):
                if content_id != cur_id:
                    cur_id = content_id
                    interval = int(row_interval)
                    recon = None
                    last_base_seq = 0
                seq = int(seq)
                raw_vec = np.asarray(emb, dtype=np.float64)
                dim = raw_vec.shape[0]
                if seq == 1 or bool(force):
                    is_base, diff, changed = True, None, None
                else:
                    diff = raw_vec - recon
                    changed = np.abs(diff) >= threshold
                    ratio = float(changed.sum()) / dim
                    is_base = (
                        ((seq - 1) % interval == 0)
                        or (ratio > promo)
                        or ((seq - last_base_seq) > gap_factor * interval)
                    )
                out["content_id"].append(content_id)
                out["seq"].append(seq)
                out["ts"].append(ts)
                out["total_dims"].append(dim)
                if is_base:
                    out["kind"].append("base")
                    out["embedding"].append(raw_vec)
                    out["sparse_idx"].append(None)
                    out["sparse_val"].append(None)
                    out["from_seq"].append(None)
                    out["magnitude"].append(None)
                    out["n_changed"].append(None)
                    out["version_id"].append(
                        f"{content_id}_{int(pd.Timestamp(ts).value // 1000)}"
                    )
                    out["metadata"].append(_user_meta(meta) or None)
                    recon = raw_vec.copy()
                    last_base_seq = seq
                else:
                    idx = np.nonzero(changed)[0]
                    vals = diff[idx]
                    out["kind"].append("delta")
                    out["embedding"].append(None)
                    out["sparse_idx"].append(idx.astype(np.int32))
                    out["sparse_val"].append(vals)
                    out["from_seq"].append(seq - 1)
                    out["magnitude"].append(float(math.sqrt(float((diff * diff).sum()))))
                    out["n_changed"].append(int(idx.shape[0]))
                    out["version_id"].append(f"{content_id}_v{seq}")
                    out["metadata"].append(
                        _delta_meta(_user_meta(meta), int(idx.shape[0]), dim)
                    )
                    recon = recon.copy()
                    recon[idx] += vals
            yield pd.DataFrame(out)

    # ``assume_partitioned``: the caller guarantees all rows of a content
    # already share a partition (e.g. straight off assign_sequence's
    # window) — only the contiguity sort is needed, no second exchange.
    part = raw if assume_partitioned else raw.repartition("content_id")
    part = part.sortWithinPartitions("content_id", "seq")
    return part.mapInPandas(encode_stream, schema=schema)


def ingest(
    raw_events: DataFrame, cfg: TVDBConfig = DEFAULT_CONFIG, grouped: bool = False
) -> DataFrame:
    """Full write path: O1 sequence assignment then O2/O3 encoding.

    Default is the streamed encoder (one Python call per Arrow batch);
    ``grouped=True`` selects the per-content ``applyInPandas`` twin."""
    seqd = assign_sequence(raw_events)
    if grouped:
        return encode_versions(seqd, cfg)
    return encode_versions_streamed(seqd, cfg, assume_partitioned=True)


def first_epoch_deltas_sql(
    raw: DataFrame, versions: DataFrame, cfg: TVDBConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Pure-SQL (HOF) twin of the delta encoder for base-successor rows.

    The engine's encoder is a grouped-map UDF because deltas chain against
    LOSSY reconstructions (SURVEY.md §7 risk 1) — inherently sequential per
    content. But for every delta whose predecessor is a BASE, the
    reconstruction equals the stored base exactly, so the encode is a pure
    column expression over (current raw, base embedding):

    - ``diff = zip_with(cur, base, (a, b) -> a - b)`` (float64, bitwise
      identical to the numpy subtraction);
    - kept dims: ``abs(diff) >= sparsity_threshold`` (>=, reference
      ``core/delta_computer.py:65``);
    - ``magnitude`` = L2 of the RAW diff (``core/delta_computer.py:74``) —
      the SQL left-fold sum may differ from numpy's pairwise summation in
      the last ulp, so cross-checks compare within 1e-12.

    Returns (content_id, seq, sparse_idx, sparse_val, magnitude,
    n_changed) for exactly the delta rows with ``from_seq`` a base —
    an independent whole-stage-codegen cross-check of the UDF encoder.
    """
    thr = float(cfg.sparsity_threshold)
    bases = versions.where(F.col("kind") == "base").select(
        "content_id",
        F.col("seq").alias("from_seq"),
        F.col("embedding").alias("base_emb"),
    )
    succ = versions.where(F.col("kind") == "delta").select(
        "content_id", "seq", F.col("from_seq").alias("_fs")
    )
    cur = raw.select("content_id", "seq", F.col("embedding").alias("cur_emb"))
    return (
        succ.join(bases, (succ.content_id == bases.content_id) & (succ._fs == bases.from_seq))
        .drop(bases.content_id)
        .join(cur, ["content_id", "seq"])
        .withColumn("diff", F.expr("zip_with(cur_emb, base_emb, (a, b) -> a - b)"))
        .withColumn(
            "kept",
            F.expr(
                "filter(transform(diff, (x, i) -> struct(i as i, x as x)),"
                f" s -> abs(s.x) >= {thr!r})"
            ),
        )
        .select(
            "content_id",
            "seq",
            F.expr("transform(kept, s -> s.i)").alias("sparse_idx"),
            F.expr("transform(kept, s -> s.x)").alias("sparse_val"),
            F.sqrt(F.expr("aggregate(diff, 0D, (acc, x) -> acc + x * x)")).alias(
                "magnitude"
            ),
            F.size("kept").alias("n_changed"),
        )
    )


def append_versions(
    versions: DataFrame, new_raw: DataFrame, cfg: TVDBConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Incremental ingest: encode NEW raw rows continuing each content's
    stored timeline (the reference's ``add_content_version`` write path,
    ``storage/temporal_database.py:86-178``, batched).

    Returns ONLY the newly encoded rows (append them to the table). New
    contents start at seq 1; existing contents continue from their stored
    state — deltas are computed against the reconstruction of the stored
    latest version, exactly like the reference (which reloads and
    reconstructs seq-1 on every insert).

    One cogroup by ``content_id`` pairs each content's new rows with its
    stored rows; the stored timeline is replayed in the same Python call
    (``reconstruct.replay_timeline``, bit-equal to ``reconstruct_latest``)
    to get ``(last_seq, last_base_seq, reconstruction)``, then the new
    rows are encoded from there. No window, no join and no persisted
    frame: one exchange per side, then a narrow Arrow pass.
    """
    from temporal_vector_database_spark.operators.reconstruct import (
        REPLAY_INPUT,
        replay_timeline,
    )

    threshold = cfg.sparsity_threshold
    promo = cfg.base_promotion_sparsity_threshold
    gap_factor = cfg.base_gap_factor
    default_interval = cfg.base_snapshot_interval

    cols = set(new_raw.columns)
    if "force_base" not in cols:
        new_raw = new_raw.withColumn("force_base", F.lit(False))
    if "base_interval" not in cols:
        new_raw = new_raw.withColumn(
            "base_interval", F.lit(default_interval).cast("int")
        )
    # the stored rows are only needed for contents present in THIS batch
    # — semi-join first so a small append against a huge table replays a
    # handful of timelines, not all of them
    touched = versions.join(
        new_raw.select("content_id").distinct(), "content_id", "left_semi"
    ).select("content_id", *REPLAY_INPUT)

    def encode(pdf: pd.DataFrame, stored: pd.DataFrame) -> pd.DataFrame:
        out: dict[str, list] = {k: [] for k in (
            "content_id", "seq", "ts", "kind", "embedding", "sparse_idx",
            "sparse_val", "from_seq", "magnitude", "n_changed", "total_dims",
            "version_id", "metadata",
        )}
        if pdf.empty:
            return pd.DataFrame(out)
        pdf = pdf.sort_values("ts")
        content_id = pdf["content_id"].iloc[0]
        interval_default = int(pdf["base_interval"].iloc[0])
        metas = pdf["metadata"] if "metadata" in pdf.columns else [None] * len(pdf)
        state = replay_timeline(stored.sort_values("seq").itertuples(index=False), "last")
        if state:
            last_seq = state[0]["target_seq"]
            last_base_seq = state[0]["base_seq"]
            recon = state[0]["embedding"]
        else:
            last_seq, last_base_seq, recon = 0, 0, None
        for ts, emb, force, interval, meta in zip(
            pdf["ts"], pdf["embedding"], pdf["force_base"], pdf["base_interval"], metas
        ):
            interval = int(interval) if pd.notna(interval) else interval_default
            raw_vec = np.asarray(emb, dtype=np.float64)
            dim = raw_vec.shape[0]
            seq = last_seq + 1
            if seq == 1 or bool(force):
                is_base, diff, changed = True, None, None
            else:
                diff = raw_vec - recon
                changed = np.abs(diff) >= threshold
                ratio = float(changed.sum()) / dim
                is_base = (
                    ((seq - 1) % interval == 0)
                    or (ratio > promo)
                    or ((seq - last_base_seq) > gap_factor * interval)
                )
            out["content_id"].append(content_id)
            out["seq"].append(seq)
            out["ts"].append(ts)
            out["total_dims"].append(dim)
            if is_base:
                out["kind"].append("base")
                out["embedding"].append(raw_vec)
                out["sparse_idx"].append(None)
                out["sparse_val"].append(None)
                out["from_seq"].append(None)
                out["magnitude"].append(None)
                out["n_changed"].append(None)
                out["version_id"].append(f"{content_id}_{int(pd.Timestamp(ts).value // 1000)}")
                out["metadata"].append(_user_meta(meta) or None)
                recon = raw_vec.copy()
                last_base_seq = seq
            else:
                idx = np.nonzero(changed)[0]
                vals = diff[idx]
                out["kind"].append("delta")
                out["embedding"].append(None)
                out["sparse_idx"].append(idx.astype(np.int32))
                out["sparse_val"].append(vals)
                out["from_seq"].append(seq - 1)
                out["magnitude"].append(float(math.sqrt(float((diff * diff).sum()))))
                out["n_changed"].append(int(idx.shape[0]))
                out["version_id"].append(f"{content_id}_v{seq}")
                out["metadata"].append(_delta_meta(_user_meta(meta), int(idx.shape[0]), dim))
                recon = recon.copy()
                recon[idx] += vals
            last_seq = seq
        return pd.DataFrame(out)

    schema = _versions_schema(new_raw.schema)
    return (
        new_raw.groupBy("content_id")
        .cogroup(touched.groupBy("content_id"))
        .applyInPandas(encode, schema=schema)
    )


def ingest_late(
    versions: DataFrame,
    late_raw: DataFrame,
    cfg: TVDBConfig = DEFAULT_CONFIG,
    policy: DataFrame | None = None,
) -> DataFrame:
    """Out-of-order ingest (beyond-reference — the reference's
    auto-increment write path, ``storage/storage_engine.py:417-437``,
    appends every arrival at the tail, silently mis-ordering late data):
    re-encode ONLY the contents touched by late rows.

    A delta chain is seq-order-dependent, so a version whose ts falls
    before the stored tail invalidates every later encoding of its
    content. This operator (1) reconstructs the touched contents'
    stored timelines back to raw snapshots — lossless on the storage
    grid, (2) strips the encoder-derived metadata keys
    (reference quirk #12 merge leaves user keys in place), (3) merges
    the late rows at their ts position, and (4) re-encodes the merged
    timelines under the same policy. Returns COMPLETE replacement
    chains for the touched contents — overwrite those contents'
    partitions (the same affected-partition-only maintenance shape as
    ``ivf_store_compact``); untouched contents never move, so the cost
    is bounded by the late batch, not the table.

    ``policy``: optional (content_id, base_interval) table — base
    placement is deployment CONFIG, not recoverable from an encoded
    chain. ``force_base`` history is likewise not recoverable; the
    merged timeline is re-encoded policy-driven.
    """
    from temporal_vector_database_spark.operators.reconstruct import (
        reconstruct_all_folded,
    )

    touched = versions.join(
        late_raw.select("content_id").distinct(), "content_id", "left_semi"
    )
    # the folded twin, not the declarative plan: every version of every
    # touched content is needed, so one content_id shuffle + one Arrow
    # replay beats the window + epoch-join + explode + multi-join shape
    # (which launched many tiny stages and dominated ingest_late's rep
    # variance on a loaded host — r03 verdict #4)
    recon = reconstruct_all_folded(touched).select(
        "content_id", F.col("target_seq").alias("seq"), "embedding"
    )
    enc_keys = ("sparsity_ratio", "dimensions_changed", "total_dimensions")
    recovered = recon.join(
        touched.select("content_id", "seq", "ts", "metadata"), ["content_id", "seq"]
    ).select(
        "content_id",
        "ts",
        "embedding",
        F.map_filter("metadata", lambda k, v: ~k.isin(*enc_keys)).alias("metadata"),
    )
    late = late_raw.select(
        "content_id",
        "ts",
        F.col("embedding").cast("array<double>").alias("embedding"),
        (
            F.col("metadata")
            if "metadata" in late_raw.columns
            else F.lit(None).cast("map<string,string>")
        ).alias("metadata"),
    )
    merged = recovered.unionByName(late)
    if policy is not None:
        merged = merged.join(
            policy.select("content_id", "base_interval"), "content_id", "left"
        )
    return ingest(merged, cfg)
