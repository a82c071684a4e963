"""Drop-in facade mirroring the reference's public API surface.

``TemporalVectorDatabase`` (reference ``storage/temporal_database.py:20``)
re-expressed over a parquet ``versions`` table: every method a reference
user calls exists here with the same name and semantics, and every method
also has a batch form (the reference's one-at-a-time loops are the
anti-pattern this engine removes, SURVEY.md §4.2).

Point-read methods return a Python dict (the reference returns
``ReconstructionResult`` dataclasses); batch methods return DataFrames.
A point, as-of or latest read costs one timeline: one ``collect`` of that
content's rows (the table is not partitioned; the content filter is pushed
down to the parquet scan, which skips row groups whose ``content_id``
statistics exclude it), replayed on the driver by
``reconstruct.replay_timeline`` — bit-equal to the distributed fold that
batch reads keep. Storage is append-only parquet; "opening a DB" is
pointing at a directory.
"""

from __future__ import annotations

import dataclasses
import json
import os
from datetime import datetime
from typing import Any, Sequence

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from temporal_vector_database_spark.config import DEFAULT_CONFIG, TVDBConfig
from temporal_vector_database_spark.operators import integrity as I
from temporal_vector_database_spark.operators import reconstruct as R
from temporal_vector_database_spark.operators import stats as S
from temporal_vector_database_spark.operators.ingest import append_versions


def _result_dict(row: Row) -> dict[str, Any]:
    d = row.asDict(recursive=True)
    if "embedding" in d and d["embedding"] is not None:
        d["embedding"] = list(d["embedding"])
    return d


class TemporalVectorDatabase:
    """Reference facade parity (``storage/temporal_database.py:20-553``)."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        cfg: TVDBConfig = DEFAULT_CONFIG,
    ) -> None:
        self.spark = spark
        self.table_path = table_path
        self.cfg = cfg
        self._index: DataFrame | None = None  # materialized search index

    # -- config persistence --------------------------------------------------
    # The reference persists dimension/thresholds as HDF5 file attrs
    # (``storage/storage_engine.py:70-81``) so a reopened DB keeps its
    # policy. Here the table directory carries a ``_tvdb_meta.json``
    # sidecar — underscore-prefixed files are invisible to Spark's parquet
    # scans (same convention as ``_SUCCESS``). Local-path I/O below; on a
    # cluster store this becomes one tiny object PUT next to the table.
    # The sidecar also records the table schema, so reads name it instead
    # of running a footer-merge job on every call.

    _META_NAME = "_tvdb_meta.json"

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.table_path, self._META_NAME)

    def _meta(self) -> dict:
        if not os.path.exists(self._meta_path):
            return {}
        with open(self._meta_path) as f:
            return json.load(f)

    def _persist_meta(self, schema: T.StructType, dim: int | None, fresh: bool) -> None:
        """Update the sidecar after an append of rows with ``schema``
        (``dim``: their embedding dimension); ``fresh``: those rows are
        the whole table (a first write), so its schema is known without
        reading the files."""
        meta = self._meta() or {
            "format_version": 1,
            "embedding_dim": dim,
            "config": dataclasses.asdict(self.cfg),
        }
        if "schema" in meta:
            # additive evolution, driver-side: a write that brings new
            # columns appends them (nullable — older files read them as null)
            recorded = T.StructType.fromJson(meta["schema"])
            new = [f for f in schema.fields if f.name not in recorded.fieldNames()]
            if not new:
                return
            for f in new:
                recorded.add(f.name, f.dataType, True)
            schema = recorded
        elif not fresh:
            # a table without a recorded schema: one footer merge over it
            # as it is now (reads force every field nullable either way)
            schema = self._merged_read().schema
        meta["schema"] = json.loads(schema.json())
        self._write_meta(meta)

    def _write_meta(self, meta: dict) -> None:
        with open(self._meta_path, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)

    @classmethod
    def open(
        cls, spark: SparkSession, table_path: str, cfg: TVDBConfig | None = None
    ) -> "TemporalVectorDatabase":
        """Reopen an existing DB with the configuration it was created
        with (reference: config attrs read back from the HDF5 file). An
        explicit ``cfg`` overrides; a table without a sidecar (pre-meta or
        foreign) falls back to defaults."""
        db = cls(spark, table_path, cfg or DEFAULT_CONFIG)
        stored = db._meta()
        if cfg is None and stored:
            known = {fld.name for fld in dataclasses.fields(TVDBConfig)}
            db.cfg = TVDBConfig(
                **{k: v for k, v in stored.get("config", {}).items() if k in known}
            )
        return db

    @property
    def embedding_dim(self) -> int | None:
        """Stored embedding dimensionality (reference DB-level constant,
        ``storage/storage_engine.py:50``): from the sidecar when present,
        else measured from the table."""
        d = self._meta().get("embedding_dim")
        if d is not None:
            return int(d)
        if not self._exists:
            return None
        row = (
            self.versions()
            .where(F.col("kind") == "base")
            .select(F.size("embedding").alias("d"))
            .first()
        )
        return int(row["d"]) if row else None

    # -- storage ------------------------------------------------------------

    @property
    def _exists(self) -> bool:
        if not os.path.isdir(self.table_path):
            return False
        return any(
            f.endswith(".parquet") or f.startswith("part-")
            for f in os.listdir(self.table_path)
        )

    def versions(self) -> DataFrame:
        """The full ``versions`` table (SURVEY.md §1.4 schema).

        Read with the schema recorded in the sidecar: no schema-inference
        job, and files written before optional columns (e.g.
        ``metadata``) existed read them as null — schema evolution is
        additive-only. A table whose sidecar has no schema (written
        before schemas were recorded, or foreign) falls back to a
        ``mergeSchema`` footer merge."""
        schema = self._meta().get("schema")
        if schema is None:
            return self._merged_read()
        return self.spark.read.schema(T.StructType.fromJson(schema)).parquet(self.table_path)

    def _merged_read(self) -> DataFrame:
        return self.spark.read.option("mergeSchema", "true").parquet(self.table_path)

    def _timeline(self, content_id: str, *extra, upto: int | None = None) -> list[Row]:
        """One content's stored rows, sorted by ``seq``, in ONE ``collect``
        whose content filter is pushed down to the parquet scan
        (``upto`` keeps ``seq <= upto`` only; ``extra`` adds projected
        columns)."""
        v = self.versions().where(F.col("content_id") == content_id)
        if upto is not None:
            v = v.where(F.col("seq") <= upto)
        return sorted(v.select(*R.REPLAY_INPUT, *extra).collect(), key=lambda r: r.seq)

    def _point_result(self, content_id: str, rec: dict) -> dict:
        """A replayed version as the reference's result dict, with the
        quality columns of ``reconstruct.with_quality_columns`` computed
        over a one-row local frame (an Arrow-built local relation: the
        optimizer folds the projection, so no job runs)."""
        import pandas as pd

        keys = ("target_seq", "base_seq", "cost", "avg_magnitude", "avg_sparsity")
        one = self.spark.createDataFrame(
            pd.DataFrame([(content_id, *(rec[k] for k in keys))], columns=("content_id", *keys)),
            "content_id string, target_seq int, base_seq int, cost int,"
            " avg_magnitude double, avg_sparsity double",
        )
        q = R.with_quality_columns(one, self.cfg).select("error_bound", "quality_score").first()
        return {
            "content_id": content_id,
            **{k: rec[k] for k in keys},
            "deltas_applied": rec["deltas_applied"],
            "embedding": rec["embedding"].tolist(),
            "error_bound": q.error_bound,
            "quality_score": q.quality_score,
        }

    # -- write path (O1-O3) --------------------------------------------------

    def add_versions(self, raw: DataFrame) -> int:
        """Batch write path: encode raw (content_id, ts, embedding
        [, force_base, base_interval]) rows continuing stored timelines,
        append to the table. Returns the number of rows written."""
        fresh = not self._exists
        if not fresh:
            encoded = append_versions(self.versions(), raw, self.cfg)
        else:
            from temporal_vector_database_spark.operators.ingest import ingest

            encoded = ingest(raw, self.cfg)
        # one pass: the write encodes each row once (nothing is cached),
        # and the row count and embedding dimension are observed on the
        # way to disk. The stored rows the encode continues from are the
        # files listed before the write, which adds files only on commit.
        written = Observation("tvdb_add_versions")
        encoded.observe(
            written,
            F.count(F.lit(1)).alias("n"),
            F.max(F.when(F.col("kind") == "base", F.size("embedding"))).alias("dim"),
        ).write.mode("append").parquet(self.table_path)
        self._persist_meta(encoded.schema, written.get["dim"], fresh)
        self._invalidate_index()
        return int(written.get["n"])

    def add_content_version(
        self,
        content_id: str,
        embedding: Sequence[float],
        timestamp: datetime | None = None,
        metadata: dict | None = None,
        force_base_snapshot: bool = False,
    ) -> tuple[bool, int]:
        """Single-version convenience (reference
        ``add_content_version``, ``storage/temporal_database.py:86-178``).
        User metadata is stored on the row; for delta rows it is merged
        over the encoder's sparsity stats with user keys winning (quirk
        #12, ``storage/temporal_database.py:172``). Returns
        (success, assigned_seq). Prefer ``add_versions`` — per-row inserts
        exist for parity, not throughput."""
        ts = timestamp or datetime.utcnow()
        meta = {str(k): str(v) for k, v in (metadata or {}).items()} or None
        raw = self.spark.createDataFrame(
            [(content_id, ts, [float(x) for x in embedding], bool(force_base_snapshot), meta)],
            "content_id string, ts timestamp, embedding array<double>, "
            "force_base boolean, metadata map<string,string>",
        )
        self.add_versions(raw)
        row = (
            self.versions()
            .where(F.col("content_id") == content_id)
            .agg(F.max("seq").alias("seq"))
            .first()
        )
        return True, int(row["seq"])

    # -- read path (O4-O9) ---------------------------------------------------

    def get_version(self, content_id: str, sequence_number: int) -> dict | None:
        """O5 point reconstruction (``get_version``,
        ``storage/temporal_database.py:180-195``): one pushed-down
        ``collect`` of the content's rows up to the target, replayed on
        the driver. Same dict as ``with_quality_columns(reconstruct_at(...))``;
        None for a missing sequence or one below the first base."""
        rows = self._timeline(content_id, upto=sequence_number)
        rec = R.replay_timeline(rows, emit=sequence_number)
        return self._point_result(content_id, rec[0]) if rec else None

    def get_version_at_sequence(
        self, content_id: str, sequence_number: int
    ) -> tuple | None:
        """Reference micro-behavior parity (``get_version_at_sequence``,
        ``core/data_structures.py:204-211``): a METADATA-ONLY stored-row
        probe — ``(embedding, version_id, True)`` for a base row,
        ``(None, version_id, False)`` for a delta row (no reconstruction
        is performed), ``None`` for a missing sequence. One pushed-down
        filtered scan of the single timeline; the fold never runs."""
        rows = (
            self.versions()
            .where(
                (F.col("content_id") == content_id)
                & (F.col("seq") == sequence_number)
            )
            .select("kind", "embedding", "version_id")
            .collect()
        )
        if not rows:
            return None
        r = rows[0]
        if r.kind == "base":
            return (list(r.embedding), r.version_id, True)
        return (None, r.version_id, False)

    def get_version_by_id(self, version_id: str) -> dict | None:
        """O9 (``get_version_by_id``, ``storage/temporal_database.py:197-220``).
        The id is parsed driver-side exactly like the reference
        (``rsplit("_v", 1)``) so the content filter reaches the scan."""
        content_id, _, seq = version_id.rpartition("_v")
        if not content_id or not seq.isdigit():
            return None
        return self.get_version(content_id, int(seq))

    def get_latest_version(self, content_id: str) -> dict | None:
        """O8 (``get_latest_version``, ``storage/temporal_database.py:222-236``):
        one ``collect`` of the timeline, replayed to its last version.
        Same dict as ``with_quality_columns(reconstruct_latest(...))``."""
        rec = R.replay_timeline(self._timeline(content_id), emit="last")
        return self._point_result(content_id, rec[0]) if rec else None

    def get_version_at_time(self, content_id: str, timestamp: datetime) -> dict | None:
        """O6 as-of (``get_version_at_time`` →
        ``core/reconstruction_service.py:129-157``; inclusive ``ts <= t``):
        the target is the largest ``seq`` with ``ts <= t``, compared in
        the same Spark projection that collects the timeline (Spark's
        timestamp semantics), then replayed on the driver. Same dict as
        ``reconstruct_asof(...)`` with one probe ``(0, content_id, t)``;
        None when ``t`` precedes every version or the target precedes the
        first base."""
        t = F.lit(timestamp).cast("timestamp")
        rows = self._timeline(content_id, (F.col("ts") <= t).alias("_le"), t.alias("t"))
        seqs = [r.seq for r in rows if r._le]
        if not seqs:
            return None
        rec = R.replay_timeline(rows, emit=max(seqs))
        if not rec:
            return None
        r = rec[0]
        return {
            "content_id": content_id,
            **{k: r[k] for k in R.REPLAY_COLUMNS if k != "embedding"},
            "embedding": r["embedding"].tolist(),
            "t": rows[0].t,
            "probe_id": 0,
        }

    def get_version_range(self, content_id: str, start_seq: int, end_seq: int) -> DataFrame:
        """O7 (``get_version_range``, ``storage/temporal_database.py:255-272``)
        — one distributed pass, unlike the reference's reload-per-target loop.
        One timeline: its fold re-reads the filtered rows per branch instead
        of persisting them, so the read leaves no cached frame behind."""
        v = self.versions().where(F.col("content_id") == content_id)
        return R.reconstruct_range(v, start_seq, end_seq, materialize=False)

    def reconstruct(self, targets: DataFrame) -> DataFrame:
        """Batch point-reconstruction with quality columns — any number of
        (content_id, target_seq) pairs in one plan."""
        return R.with_quality_columns(R.reconstruct_at(self.versions(), targets), self.cfg)

    # -- search (S1) ---------------------------------------------------------

    def _search_index(self) -> DataFrame:
        """Materialized normalized-base index, built lazily and reused
        across searches until a write invalidates it — the Spark analogue
        of the reference's startup index build + per-insert append
        (``storage/storage_engine.py:83-110,153-164``)."""
        from temporal_vector_database_spark.operators.search import build_search_index

        if self._index is None:
            # persist, not build_search_index's localCheckpoint: a
            # checkpointed frame cannot be released through the DataFrame
            # API, and a write must free the index it supersedes.
            # Materialized by the first search that reads it.
            self._index = build_search_index(self.versions(), materialize=False).persist()
        return self._index

    def _invalidate_index(self) -> None:
        if self._index is not None:
            self._index.unpersist()
        self._index = None

    def search_similar_content(self, query_embedding: Sequence[float], k: int = 5) -> list[tuple]:
        """S1 (``search_similar_content``,
        ``storage/temporal_database.py:274-287``): exact cosine top-k over
        base snapshots, ``sim > 0`` only. Returns [(content_id, seq, sim)]."""
        from temporal_vector_database_spark.operators.search import topk_cosine_indexed

        q = self.spark.createDataFrame(
            [(0, [float(x) for x in query_embedding])],
            "query_id int, embedding array<double>",
        )
        rows = topk_cosine_indexed(self._search_index(), q, k=k).collect()
        return [(r.content_id, r.seq, r.sim) for r in sorted(rows, key=lambda r: r.rank)]

    def search_batch(self, queries: DataFrame, k: int | None = None) -> DataFrame:
        """Batch S1: a whole DataFrame of queries against the materialized
        index in one broadcast join."""
        from temporal_vector_database_spark.operators.search import topk_cosine_indexed

        return topk_cosine_indexed(self._search_index(), queries, k=k)

    # -- integrity / stats / advisor (V2, A1-A5, O12, O13) --------------------

    def validate_timeline_integrity(self, content_id: str | None = None) -> DataFrame:
        """V2 (``core/reconstruction_service.py:299-358``), all contents at
        once (pass ``content_id`` to filter)."""
        v = self.versions()
        if content_id is not None:
            v = v.where(F.col("content_id") == content_id)
        return I.validate_timeline_integrity(v)

    def get_content_statistics(self, content_id: str) -> dict:
        """A5 bundle (``storage/temporal_database.py:301-330``). One
        timeline: its fold re-reads the filtered rows per branch instead
        of persisting them, so the read leaves no cached frame behind."""
        v = self.versions().where(F.col("content_id") == content_id)
        rows = S.content_statistics(v, self.cfg, materialize=False).collect()
        return _result_dict(rows[0]) if rows else {}

    def get_database_statistics(self) -> dict:
        """A4 (``storage/temporal_database.py:496-542``) — over ALL contents,
        not the reference's first-5 sample (documented fix, SURVEY.md §4.2)."""
        rows = S.database_statistics(self.versions(), self.cfg).collect()
        return _result_dict(rows[0]) if rows else {}

    def get_storage_statistics(self) -> dict:
        """A2 (``storage/storage_engine.py:471-524``)."""
        rows = S.storage_statistics(self.versions()).collect()
        return _result_dict(rows[0]) if rows else {}

    def optimize_content_bases(self, content_id: str | None = None, max_cost: int | None = None) -> DataFrame:
        """O12 advisor (``storage/temporal_database.py:443-494``)."""
        v = self.versions()
        if content_id is not None:
            v = v.where(F.col("content_id") == content_id)
        return S.optimize_content_bases(v, max_cost=max_cost, cfg=self.cfg)

    def list_content_ids(self) -> list[str]:
        """O13 (``storage/temporal_database.py:332-352``)."""
        return [r.content_id for r in S.list_content_ids(self.versions()).collect()]

    # -- maintenance (beyond-reference: acts on the advisor's report) ---------

    def compact(self, max_cost: int | None = None) -> int:
        """Apply the advisor's base promotions to the stored table
        (reconstruction-preserving, see ``operators/maintenance``).
        Returns the number of promoted sequences."""
        from temporal_vector_database_spark.operators.maintenance import promote_bases

        v = self.versions()
        recs = S.optimize_content_bases(v, max_cost=max_cost, cfg=self.cfg).select(
            "content_id", F.col("seq").alias("target_seq")
        )
        n = recs.count()
        if n == 0:
            return 0
        self._overwrite(promote_bases(v, recs).localCheckpoint(eager=True))
        return n

    def truncate_before(self, cutoff: datetime) -> int:
        """Retention: drop versions older than ``cutoff`` (anchor versions
        are promoted to bases first). Returns rows removed."""
        from temporal_vector_database_spark.operators.maintenance import truncate_before

        v = self.versions()
        before = v.count()
        rewritten = truncate_before(v, cutoff).localCheckpoint(eager=True)
        self._overwrite(rewritten)
        return before - rewritten.count()

    def _overwrite(self, rewritten: DataFrame) -> None:
        """Replace the table with ``rewritten``. The overwrite deletes the
        directory, sidecar included: a sidecar is written back with its
        config and dimension, and the rewritten rows' schema."""
        meta = self._meta()
        rewritten.write.mode("overwrite").parquet(self.table_path)
        if meta:
            meta["schema"] = json.loads(rewritten.schema.json())
            self._write_meta(meta)
        self._invalidate_index()

    def diff_between(self, t_a: datetime, t_b: datetime) -> DataFrame:
        """Time-travel DIFF (r07): per content, what changed between the
        as-of states at ``t_a`` and ``t_b`` — exact n_changed /
        magnitude / diff_sum columns; only contents reconstructable at
        BOTH instants appear. See ``operators/reconstruct.reconstruct_diff``."""
        from temporal_vector_database_spark.operators.reconstruct import (
            reconstruct_diff,
        )

        return reconstruct_diff(self.versions(), t_a, t_b)

    def export_snapshot(self, t: datetime, path: str, buckets: int = 8) -> str:
        """Materialize the whole database's as-of state at ``t`` as a
        bucket-partitioned parquet snapshot (the export/serving sink;
        consumers read plain columns with partition pruning). Returns
        ``path``. See ``operators/maintenance.export_snapshot``."""
        from temporal_vector_database_spark.operators.maintenance import (
            export_snapshot,
        )

        return export_snapshot(self.versions(), t, path, buckets=buckets)

    def retention_dryrun(self, cutoff: datetime) -> DataFrame:
        """What :meth:`truncate_before` WOULD do at ``cutoff`` (r08):
        per-content drop/keep/promotion accounting — diff
        ``floats_freed`` against ``promote_growth`` before committing.
        See ``operators/maintenance.retention_dryrun``."""
        from temporal_vector_database_spark.operators.maintenance import (
            retention_dryrun,
        )

        return retention_dryrun(self.versions(), cutoff)

    def verify_snapshot(self, path: str) -> dict:
        """Recompute a snapshot export's per-bucket fingerprints and
        compare to its ``_MANIFEST.json`` (r08). Returns the
        ``{"ok": ..., "mismatched_buckets": ...}`` report. See
        ``operators/maintenance.verify_snapshot``."""
        from temporal_vector_database_spark.operators.maintenance import (
            verify_snapshot,
        )

        return verify_snapshot(self.spark, path)

    def storage_tiering(self, hot_days: int = 7, warm_days: int = 30) -> DataFrame:
        """Hot/warm/cold age-tier placement report over the version
        store (r08). See ``operators/stats.storage_tiering_report``."""
        from temporal_vector_database_spark.operators.stats import (
            storage_tiering_report,
        )

        return storage_tiering_report(self.versions(), hot_days, warm_days)
