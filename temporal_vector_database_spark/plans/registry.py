"""Query registry: every SURVEY.md §2 operator as a named (Spark, DuckDB-SQL)
pair for the driver's oracle gate.

Cross-engine float parity strategy (SURVEY.md §7 risk 2):
- fixture arithmetic lives on an exact dyadic grid (see sources/fixtures.py),
  so reconstruction sums / dot products / L2 norms are bit-identical in any
  engine and any aggregation order;
- driver float32 columns (embeddings, prices) are either quantized with
  ``floor(x*1024)/1024`` before multiplication (exact products, exact sums)
  or their aggregates are rounded (money → 2 dp, averages → 6-9 dp);
- every computed column is explicitly aliased AND explicitly cast on both
  sides (DuckDB ``sum(int)`` returns HUGEINT → always ``CAST(... AS BIGINT)``);
- ranks use ``row_number`` with full deterministic tie-breaks.

Oracle SQL references the fixture parquet by absolute path (both engines
read the same bytes); driver tables use the pre-registered view names.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from temporal_vector_database_spark.config import FIXTURE_CONFIG
from temporal_vector_database_spark.functions.vector import cosine, dot, l2_norm
from temporal_vector_database_spark.operators import integrity as I
from temporal_vector_database_spark.operators import reconstruct as R
from temporal_vector_database_spark.operators import stats as S
from temporal_vector_database_spark.operators.ingest import encode_versions_streamed
from temporal_vector_database_spark.operators.search import topk_cosine
from temporal_vector_database_spark.sources.fixtures import ensure_fixtures, fixture_dir

ORACLE_SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness scale


def _fix(sf_dir: str, name: str):
    return os.path.join(ensure_fixtures(sf_dir), f"{name}.parquet")


# split-count probe memo per parquet path: the probe (`df.rdd`) costs
# ~50 ms per call and a path's split count never changes within one
# process (fixtures are immutable once built). Plan METADATA only —
# never query results.
_SCAN_PARTS_CACHE: dict[tuple[str, int], int] = {}


def _spread_path(spark: SparkSession, path: str) -> DataFrame:
    """Adaptive scan spread for a parquet path, with the split-count
    probe memoized (r12, guide §2.5 input skew / §1.2 step 1).

    The test fixtures are single small parquet FILES, so every scan is
    one task and the expensive pre-shuffle projections (char-gram
    shingling, md5 hashing, token explodes, vector quantization) run on
    ONE core of the session (measured: winnow_fingerprints 3.8 s → 0.7 s
    at sf0.1/local[32] from this alone). Spread the scan round-robin
    when its natural split count is below the session parallelism.

    Scale-adaptive by construction, not a local[32] constant: the
    condition reads the scan's ACTUAL split count, so a production
    table (many files / large splittable files) already meets the bar
    and the repartition never fires — the exchange exists only in the
    degenerate small-input regime where it moves kilobytes."""
    n = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(path)
    key = (path, n)
    if key not in _SCAN_PARTS_CACHE:
        _SCAN_PARTS_CACHE[key] = df.rdd.getNumPartitions()
    if _SCAN_PARTS_CACHE[key] < n:
        return df.repartition(n)
    return df


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents corpus, plain scan.

    Whether a query reads this or the ``_documents_spread`` twin was
    decided PER QUERY by an interleaved A/B at sf0.1 (r12,
    OPTIMIZATION_r12.md): queries whose heavy work is pre-shuffle
    (generate/hash projections) win 2-5x from the spread; queries whose
    first operation is a keyed exchange anyway lose ~0.1-0.5 s to the
    extra round-robin exchange of full text payloads and stay plain."""
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _documents_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents corpus, scan-spread (see ``_spread_path``)."""
    return _spread_path(spark, os.path.join(sf_dir, "documents.parquet"))


# (min, max) of events.ts_ms memoized per sf_dir: five gated queries
# derive probe windows from the corpus span. The probe is a stats-only
# agg but still a full-table action, so bench setup pre-warms this cache
# to keep probe derivation out of the timed region (r03 verdict #3);
# within one bench/driver process the span never changes.
_TS_RANGE_CACHE: dict[str, tuple[int, int]] = {}


def events_ts_range(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    got = _TS_RANGE_CACHE.get(sf_dir)
    if got is None:
        from temporal_vector_database_spark.sources.tables import load_events

        lo, hi = (
            load_events(spark, sf_dir)
            .agg(F.min("ts_ms"), F.max("ts_ms"))
            .first()
        )
        got = _TS_RANGE_CACHE[sf_dir] = (int(lo), int(hi))
    return got


def _versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``versions`` table. ``SPARK_GRAFT_BUCKETED=1`` opts into the
    bucketed catalog-table layout (zero-exchange window plans — the
    cluster-scale posture, where the saved exchange is network I/O);
    default is the plain fixture parquet, which measures faster on a
    single node (the in-memory exchange is cheap and AQE keeps choosing
    partition sizes downstream — see SCALE.md). Results are identical
    either way; only the physical plan differs."""
    if os.environ.get("SPARK_GRAFT_BUCKETED", "0") == "1":
        try:
            from temporal_vector_database_spark.sources.fixtures import (
                ensure_bucketed_versions,
            )

            return ensure_bucketed_versions(spark, sf_dir)
        except Exception:
            pass  # no writable warehouse (or Hive-less session) → parquet
    return spark.read.parquet(_fix(sf_dir, "versions"))


def _versions_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _versions(spark, sf_dir).where(~F.col("content_id").startswith("corrupt"))


# --------------------------------------------------------------------------
# Spark query functions (each: (spark, sf_dir) -> DataFrame)
# --------------------------------------------------------------------------

def q_list_contents(spark, sf_dir):
    return S.list_content_ids(_versions(spark, sf_dir))


def q_ingest_encode(spark, sf_dir):
    raw = spark.read.parquet(_fix(sf_dir, "versions_raw")).where(
        ~F.col("content_id").startswith("corrupt")
    )
    enc = encode_versions_streamed(raw, FIXTURE_CONFIG)
    return enc.select(
        "content_id",
        "seq",
        "kind",
        "from_seq",
        "n_changed",
        "magnitude",
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x).alias("esum"),
        F.aggregate("sparse_val", F.lit(0.0), lambda a, x: a + x).alias("vsum"),
    )


def q_ingest_late(spark, sf_dir):
    """Out-of-order ingest gate (oracle-gated since r07): withhold two
    mid-history versions (seqs 3 and 6) of every supra-threshold late
    fixture content, ingest the rest, deliver the withheld rows LATE
    via ingest_late, and value-compare the re-encoded final state
    against the committed all-at-once encode
    (versions_late_full.parquet, written by the INDEPENDENT fixture
    encoder — the ingest_encode gate pattern). On supra-threshold
    timelines (every changed dim >= 1/64 > the 0.01 threshold) delta
    encoding is lossless, so reconstruct → merge → re-encode is
    bit-exact vs all-at-once ingest (tests/test_ingest.py contract
    (a)); the LOSSY-fixture error-bound contract stays pinned in
    tests/test_ingest.py::test_ingest_late_error_bound_on_lossy_fixture.
    The reference's write path appends late arrivals at the tail,
    silently mis-ordering history (storage/storage_engine.py:417-437)
    — this gate pins the repaired semantics."""
    from temporal_vector_database_spark.operators.ingest import ingest, ingest_late

    raw = spark.read.parquet(_fix(sf_dir, "versions_late_raw"))
    is_late = F.col("seq").isin(3, 6)
    early = raw.where(~is_late).drop("seq")
    late = raw.where(is_late).select("content_id", "ts", "embedding")
    stored = ingest(early, FIXTURE_CONFIG)
    out = ingest_late(
        stored,
        late,
        FIXTURE_CONFIG,
        policy=raw.select("content_id", "base_interval").distinct(),
    )
    return out.select(
        "content_id",
        "seq",
        "kind",
        "from_seq",
        "n_changed",
        "magnitude",
        "version_id",
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x).alias("esum"),
        F.aggregate("sparse_val", F.lit(0.0), lambda a, x: a + x).alias("vsum"),
    )


def q_snapshot_read(spark, sf_dir):
    """r07: time-travel snapshot EXPORT sink read-back — the persisted
    bucket-partitioned as-of materialization (built once by
    ensure_snapshot_export via operators/maintenance.py export_snapshot)
    read as a plain columnar table; the oracle recomputes the same
    state from raw versions, cross-checking the whole export path
    (resolve → fold → write → read). Bucket partition pruning is
    plan-pinned in tests/test_plans.py."""
    from temporal_vector_database_spark.sources.fixtures import (
        ensure_snapshot_export,
    )

    path = ensure_snapshot_export(spark, sf_dir)
    snap = spark.read.parquet(path)
    return _emb_sums(snap).select(
        "content_id",
        "target_seq",
        "base_seq",
        "cost",
        F.col("emb_sum").alias("esum"),
        F.col("emb_wsum").alias("ewsum"),
    )


def q_nearest_base(spark, sf_dir):
    v = R.with_governing_base(_versions(spark, sf_dir))
    return v.select("content_id", "seq", "base_seq")


def _emb_sums(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "emb_sum", F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x)
    ).withColumn(
        "emb_wsum",
        F.aggregate(
            F.zip_with(
                "embedding",
                F.sequence(F.lit(1), F.size("embedding")),
                lambda x, w: x * w.cast("double"),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )


def q_reconstruct_all(spark, sf_dir):
    # r12 re-measurement (interleaved A/B at sf0.1, OPTIMIZATION_r12.md):
    # the declarative HOF fold now beats the grouped-map numpy twin
    # (min-of-3 1.0-1.8 s vs 2.8-3.5 s) — the numpy twin pays one
    # Python/Arrow round-trip PER CONTENT GROUP (2002 groups of ~40 rows
    # at sf0.1: per-group overhead dominates), while the declarative
    # fold stays whole-stage-codegen JVM end to end. The twins'
    # bit-equality (embeddings exact, cost exact-int) stays pinned in
    # tests/test_reconstruct.py; the numpy twin remains the right shape
    # for LONG timelines (its per-row work is O(nnz), the HOF fold's
    # map_zip_with is interpreted per element).
    rec = R.reconstruct_all(_versions_ok(spark, sf_dir))
    return _emb_sums(rec).select(
        "content_id", "target_seq", "base_seq", "cost", "emb_sum", "emb_wsum"
    )


def q_reconstruct_latest(spark, sf_dir):
    v = _versions_ok(spark, sf_dir)
    rec = R.with_quality_columns(R.reconstruct_latest(v))
    return _emb_sums(rec).select(
        "content_id",
        "target_seq",
        "base_seq",
        "cost",
        F.round("avg_magnitude", 9).alias("avg_mag_r"),
        F.round("error_bound", 9).alias("error_bound_r"),
        F.round("quality_score", 9).alias("quality_r"),
        "emb_sum",
    )


def q_asof_resolve(spark, sf_dir):
    probes = spark.read.parquet(_fix(sf_dir, "asof_probes"))
    res = R.asof_resolve(_versions(spark, sf_dir), probes)
    return res.select("probe_id", "content_id", F.col("case"), "target_seq")


def q_version_id_parse(spark, sf_dir):
    d = _versions(spark, sf_dir).where(F.col("kind") == "delta").select("version_id")
    parsed = R.parse_version_id(d)
    return parsed.select(
        "version_id",
        F.col("content_id").alias("parsed_content_id"),
        F.col("target_seq").alias("parsed_seq"),
    )


def q_topk_search(spark, sf_dir):
    v = _versions(spark, sf_dir)
    queries = spark.read.parquet(_fix(sf_dir, "queries_vec"))
    res = topk_cosine(v.where(F.col("kind") == "base"), queries)
    return res.select("query_id", "rank", "content_id", "seq", "sim")


def q_search_asof(spark, sf_dir):
    """Flagship temporal x vector composition: top-k cosine over the
    corpus AS OF a past instant — every content reconstructed at the
    version governing t (inclusive as-of semantics, O6) and searched
    with the standard top-k machinery (S1). t = max ts of seq 7, i.e. a
    mid-history instant where some contents resolve to deltas on top of
    later bases' predecessors. The oracle recomputes sim from the
    decomposed base+delta dot/norm sums — exact on the dyadic fixture
    grid, so any summation order gives identical bits."""
    from temporal_vector_database_spark.operators.reconstruct import (
        reconstruct_asof,
    )

    v = _versions(spark, sf_dir)
    t = v.where(F.col("seq") == 7).agg(F.max("ts").alias("t"))
    probes = v.select("content_id").distinct().crossJoin(t)
    # pin the reconstructed snapshot (one row per content): the top-k
    # machinery references it more than once and each lazy reference
    # re-runs the whole as-of resolution + delta fold (19 versions
    # scans before the pin — r10 plan audit)
    snaps = (
        reconstruct_asof(v, probes)
        .select("content_id", "embedding")
        .localCheckpoint()
    )
    queries = spark.read.parquet(_fix(sf_dir, "queries_vec"))
    res = topk_cosine(snaps, queries, id_cols=("content_id",))
    return res.select("query_id", "rank", "content_id", "sim")


def q_integrity_report(spark, sf_dir):
    rep = I.validate_timeline_integrity(_versions(spark, sf_dir))
    return rep.select(
        "content_id",
        "max_sequence",
        "base_snapshots",
        "deltas",
        "n_missing",
        "n_dangling",
        "max_base_gap",
        "valid",
        "large_gap",
    )


def q_change_stats(spark, sf_dir):
    st = S.change_statistics(_versions(spark, sf_dir))
    return st.select(
        "content_id",
        "max_sequence",
        "base_count",
        "delta_count",
        F.round("avg_change_magnitude", 9).alias("avg_mag_r"),
        "max_change_magnitude",
        "min_change_magnitude",
    )


def q_storage_stats(spark, sf_dir):
    return S.storage_statistics(_versions(spark, sf_dir))


def q_storage_efficiency(spark, sf_dir):
    return S.storage_efficiency(_versions(spark, sf_dir))


def q_reconstruction_stats(spark, sf_dir):
    st = S.reconstruction_statistics(_versions_ok(spark, sf_dir))
    return st.select(
        "content_id",
        "versions_analyzed",
        "avg_reconstruction_cost",
        "max_reconstruction_cost",
        "avg_base_distance",
        F.round("avg_quality_score", 9).alias("avg_quality_r"),
        F.round("min_quality_score", 9).alias("min_quality_r"),
        "recommended_base_promotion",
    )


def q_advisor(spark, sf_dir):
    rec = S.optimize_content_bases(_versions_ok(spark, sf_dir))
    return rec.select(
        "content_id",
        "seq",
        "cost",
        "base_seq",
        F.round("estimated_error_bound", 9).alias("est_error_r"),
    )


def q_database_stats(spark, sf_dir):
    st = S.database_statistics(_versions_ok(spark, sf_dir))
    return st.select(
        "total_contents",
        "total_base_snapshots",
        "total_deltas",
        F.round("avg_versions_per_content", 9).alias("avg_versions_r"),
        F.round("avg_reconstruction_cost", 9).alias("avg_cost_r"),
        "max_reconstruction_cost",
        F.round("avg_quality_score", 9).alias("avg_quality_r"),
    )


def q_content_stats(spark, sf_dir):
    st = S.content_statistics(_versions_ok(spark, sf_dir))
    return st.select(
        "content_id",
        "max_sequence",
        "base_count",
        "delta_count",
        F.round("avg_change_magnitude", 9).alias("avg_mag_r"),
        "versions_analyzed",
        "max_reconstruction_cost",
        F.round("avg_quality_score", 9).alias("avg_quality_r"),
    )


def q_reconstruct_by_id(spark, sf_dir):
    v = _versions_ok(spark, sf_dir)
    ids = v.where((F.col("kind") == "delta") & (F.col("seq") % 5 == 2)).select("version_id")
    rec = R.reconstruct_by_version_id(v, ids)
    return _emb_sums(rec).select("content_id", "target_seq", "base_seq", "cost", "emb_sum")


def q_compaction_invariance(spark, sf_dir):
    """Apply the advisor's base promotions, then reconstruct EVERYTHING —
    the oracle is the reconstruction of the UNCOMPACTED table, proving the
    maintenance rewrite is value-preserving."""
    from temporal_vector_database_spark.config import DEFAULT_CONFIG
    from temporal_vector_database_spark.operators.maintenance import promote_bases

    v = _versions_ok(spark, sf_dir)
    # shared-pass shape (r12, VERDICT r11 #3 — same rewrite as
    # q_compaction_advisor_loop): one declarative reconstruction supplies
    # both the advisor's over-bar recommendation set and the promoted
    # bases' embeddings, so promotion skips its own reconstruct_at pass.
    # r13 (VERDICT r12 #8): the TAGGED slice is pinned once and feeds the
    # advisor fold AND promotion's keep/orig selections — one versions
    # scan for the whole advise→act half.
    tagged = R.with_governing_base(v).persist()
    rec0 = (
        R.reconstruct_all_tagged(tagged)
        .where(F.col("cost") > DEFAULT_CONFIG.advisor_max_cost)
        .select("content_id", "target_seq", "embedding")
        .localCheckpoint()
    )
    promoted = promote_bases(
        tagged.drop("base_seq"),
        rec0.select("content_id", "target_seq"),
        reconstructions=rec0,
    )
    rec = R.reconstruct_all(promoted)
    return _emb_sums(rec).select("content_id", "target_seq", "emb_sum", "emb_wsum")


def q_compaction_advisor_loop(spark, sf_dir):
    """r11 (VERDICT r10 #5): the COMPLETE maintenance workflow as one
    oracle-gated pipeline — the reference's ``optimize_content_bases``
    → re-check loop (``storage/temporal_database.py:443-494``) plus the
    act step the reference lacks: advisor recommendations feed
    ``promote_bases``, the compacted table is fully reconstructed and
    re-advised. Per content: reconstructions performed, promotions
    applied, the post-compaction max chain cost, residual advisor
    recommendations (provably 0 — every over-bar seq became a base and
    surviving chains only shortened), and exact value checksums of
    every reconstruction (dyadic grid → order-independent sums) proving
    the rewrite is value-preserving. The oracle recomputes the
    post-compaction base placement STRUCTURALLY (new bases = old bases
    ∪ over-bar seqs; post cost = row-count distance to the governing
    new base) and takes the value sums from the UNCOMPACTED
    reconstruction — invariance is the cross-check, not an input."""
    from temporal_vector_database_spark.config import DEFAULT_CONFIG
    from temporal_vector_database_spark.operators.maintenance import promote_bases

    bar = DEFAULT_CONFIG.advisor_max_cost
    v = _versions_ok(spark, sf_dir)
    # ONE reconstruction pass feeds the whole advise→act half (r12,
    # VERDICT r11 #3): reconstruct_all WITH embeddings means the
    # over-bar filter IS the advisor recommendation set
    # (optimize_content_bases ≡ reconstruct_all where cost > bar; cost
    # is the exact integer deltas-applied count) AND the same rows'
    # embeddings are the promoted-base payloads — promote_bases no
    # longer re-runs reconstruct_at's tag+fold over the versions table
    # (r11 plan audit: 8 parquet scans; r12: 2 — one per remaining
    # fold). The declarative fold is used for both passes — the r12
    # interleaved A/B winner over the numpy twin AND the old 3-pass
    # shape (5.8 s vs 7.0 / 7.2 s min-of-3 at sf0.1; see
    # OPTIMIZATION_r12.md and q_reconstruct_all's rationale).
    # r13 (VERDICT r12 #8): pin the TAGGED slice once — the advisor fold
    # and promotion's keep/orig selections share it, so the advise→act
    # half scans the versions table exactly once.
    tagged = R.with_governing_base(v).persist()
    rec0 = (
        R.reconstruct_all_tagged(tagged)
        .where(F.col("cost") > bar)
        .select("content_id", "target_seq", "embedding")
        .localCheckpoint()
    )
    recs = rec0.select("content_id", "target_seq")
    n_prom = recs.groupBy("content_id").agg(
        F.count("*").cast("long").alias("n_promoted")
    )
    promoted = promote_bases(tagged.drop("base_seq"), recs, reconstructions=rec0)
    rec = _emb_sums(R.reconstruct_all(promoted))
    rep = rec.groupBy("content_id").agg(
        F.count("*").cast("long").alias("n_versions"),
        F.max("cost").cast("int").alias("max_cost_after"),
        F.sum(F.when(F.col("cost") > bar, 1).otherwise(0))
        .cast("long")
        .alias("n_resid"),
        F.sum("emb_sum").alias("emb_sum_total"),
        F.sum("emb_wsum").alias("emb_wsum_total"),
    )
    return rep.join(n_prom, "content_id", "left").select(
        "content_id",
        "n_versions",
        F.coalesce("n_promoted", F.lit(0)).cast("long").alias("n_promoted"),
        "max_cost_after",
        "n_resid",
        "emb_sum_total",
        "emb_wsum_total",
    )


# ---- beyond-reference: LLM-data-pipeline operators over driver tables ----

def q_dedup_exact(spark, sf_dir):
    from temporal_vector_database_spark.operators.dedup import exact_duplicates

    docs = _documents(spark, sf_dir)
    return exact_duplicates(docs)


def _minhash_store(spark, sf_dir):
    """Persisted signature store (production layout: signatures are
    maintained incrementally at ingest, so batch dedup never re-shingles;
    built here idempotently, outside bench's clock)."""
    from temporal_vector_database_spark.sources.fixtures import ensure_minhash_store

    return spark.read.parquet(ensure_minhash_store(spark, sf_dir))


def q_dedup_survivors(spark, sf_dir):
    from temporal_vector_database_spark.operators.dedup import dedup_survivors

    docs = _documents(spark, sf_dir)
    return dedup_survivors(docs, sigs=_minhash_store(spark, sf_dir)).orderBy("doc_id")


def q_training_pipeline(spark, sf_dir):
    # r13 re-audit (VERDICT r12 #3): flipped back to PLAIN — the r12
    # spread decision was contradicted by both r12's final stamp and
    # this round's in-bench arbiter (run B plain 2.85 s vs run A spread
    # 4.09 s; the r13 CC fast path changed the query's balance too).
    from temporal_vector_database_spark.operators.pipeline import curation_report

    docs = _documents(spark, sf_dir)
    return curation_report(docs, sigs=_minhash_store(spark, sf_dir))


def q_training_pipeline_strict(spark, sf_dir):
    """Strict-threshold curation funnel (min_quality=0.3, exact-signature
    clusters only: min_jaccard_est=1.0). Exists so the funnel is
    oracle-verifiable at BENCH scale too: at the default thresholds the
    sf0.1 near-dup graph is so dense that the oracle's recursive closure
    is quadratic-in-component-size and infeasible; exact-signature
    components stay tiny, keeping the sf0.1 oracle under ~10 s
    (verified via scripts/check_oracle.py /root/testdata/sf0.1)."""
    from temporal_vector_database_spark.operators.pipeline import curation_report

    # r13 re-audit: PLAIN (in-bench 2.07 vs 2.96 spread — see
    # q_training_pipeline)
    docs = _documents(spark, sf_dir)
    return curation_report(
        docs,
        min_quality=0.3,
        min_jaccard_est=1.0,
        sigs=_minhash_store(spark, sf_dir),
    )


def q_training_pipeline_full(spark, sf_dir):
    """The COMPLETE funnel: quality/language -> repetition (Gopher) ->
    benchmark decontamination (eval = every 97th doc, word-5-grams,
    broadcast) -> exact-signature near-dup survivors, with per-stage
    attrition in the report. Signature store supplied, so the dedup
    stage never re-shingles."""
    from temporal_vector_database_spark.operators.pipeline import full_curation_report

    docs = _documents_spread(spark, sf_dir)
    return full_curation_report(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        sigs=_minhash_store(spark, sf_dir),
    )


def q_training_pipeline_banded(spark, sf_dir):
    """The curation funnel fed by the PERSISTED band store: near-dup
    pairs come from the zero-shuffle ``near_dup_pairs_from_band_store``
    read (bucketed layout, shuffle paid once at ingest) instead of the
    in-query band join. ``dedup_survivors`` restricts the all-corpus
    pairs to the post-filter survivors — equivalent because pairwise
    est_jaccard depends only on the two docs' signatures. Same oracle
    as ``training_pipeline``; this is the steady-state 100 TB shape of
    the whole funnel."""
    from temporal_vector_database_spark.operators.dedup import (
        near_dup_pairs_from_band_store,
    )
    from temporal_vector_database_spark.operators.pipeline import curation_report
    from temporal_vector_database_spark.sources.fixtures import ensure_lsh_band_store

    name = ensure_lsh_band_store(spark, sf_dir, num_hashes=8, bands=4)
    pairs = near_dup_pairs_from_band_store(spark, name, min_jaccard_est=0.75)
    docs = _documents(spark, sf_dir)
    # r12: spread ONLY the stats branch (measured 6.75 -> 6.0 min-of-4;
    # all-spread regressed — the join sides pay payload exchanges)
    return curation_report(
        docs, pairs=pairs, stats_docs=_documents_spread(spark, sf_dir)
    )


def q_quality_percentile_filter(spark, sf_dir):
    """Relative quality gate: keep each source's top half by quality
    (percent_rank with full tie-break) — the filter pipelines reach for
    when absolute thresholds drift across heterogeneous sources. One
    window keyed by source; quality itself is the oracle-exact rational
    from text_quality."""
    from temporal_vector_database_spark.functions.text import quality_score

    docs = _documents(spark, sf_dir)
    q = quality_score(docs).select("doc_id", "quality_r")
    w = Window.partitionBy("source").orderBy(F.desc("quality_r"), F.asc("doc_id"))
    ranked = (
        docs.select("doc_id", "source")
        .join(q, "doc_id")
        .withColumn("pr", F.percent_rank().over(w))
    )
    return ranked.where(F.col("pr") <= 0.5).select("doc_id", "source", "quality_r", "pr")


def q_sample_docs(spark, sf_dir):
    """Deterministic 25% corpus sample (md5-threshold membership — a
    property of the doc_id, reproducible in any engine/run)."""
    from temporal_vector_database_spark.operators.sampling import deterministic_sample

    docs = _documents(spark, sf_dir)
    return deterministic_sample(docs, 0.25).select("doc_id", "source")


def q_split_assign(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment (hash-bucketed —
    leak-proof across reruns)."""
    from temporal_vector_database_spark.operators.sampling import split_assign

    docs = _documents(spark, sf_dir)
    return split_assign(docs).select("doc_id", "split")


def q_token_chunks(spark, sf_dir):
    """Contiguous token-budget sharding: chunk_id = floor(running tokens
    before this doc / 2000) per source, doc_id order."""
    from temporal_vector_database_spark.functions.text import with_text_stats
    from temporal_vector_database_spark.operators.sampling import token_budget_chunks

    docs = _documents(spark, sf_dir)
    enriched = with_text_stats(docs).select("doc_id", "source", "n_tokens")
    return token_budget_chunks(enriched, budget=2000).select(
        "doc_id", "source", "n_tokens", "tokens_before", "chunk_id"
    )


def q_temperature_sample(spark, sf_dir):
    """Temperature-based multilingual rebalancing (XLM-R style): keep
    each doc of language l with rate min(1, 8.5/sqrt(c_l)) — flattens
    the language mix toward p^0.5 while keeping rare languages whole.
    k=8.5 exercises both the capped (de, fr) and uncapped (en, zh, es)
    branches on the test corpus. Rates are pure per-language functions
    (no cross-language float sum), so every arithmetic step is IEEE
    correctly-rounded and bit-identical in any engine."""
    from temporal_vector_database_spark.operators.sampling import (
        temperature_rebalance,
    )

    docs = _documents(spark, sf_dir)
    return temperature_rebalance(docs, k=8.5).select("doc_id", "lang", "keep_rate")


def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk packing into 128-token training
    sequences per source: output grain is doc x sequence with the
    doc-relative token interval that lands in each sequence."""
    from temporal_vector_database_spark.functions.text import with_text_stats
    from temporal_vector_database_spark.operators.sampling import pack_concat_chunks

    docs = _documents(spark, sf_dir)
    enriched = with_text_stats(docs).select("doc_id", "source", "n_tokens")
    return pack_concat_chunks(enriched, seq_len=128).select(
        "doc_id", "source", "n_tokens", "seq_id", "tok_start", "tok_end"
    )


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining: for each query (every 50th vector), the 10
    most-similar corpus vectors NOT sharing the query's label (same-
    label vectors are its positives, removed by broadcast anti-join
    before ranking) — the contrastive-training triple-builder."""
    from temporal_vector_database_spark.operators.search import hard_negative_mine

    emb = _quantized_embeddings(spark, sf_dir)
    labels = _embeddings_raw(spark, sf_dir).select(
        "vec_id", "label"
    )
    queries = (
        emb.where(F.col("vec_id") % 50 == 0)
        .join(labels, "vec_id")
        .select(F.col("vec_id").cast("int").alias("query_id"), "embedding", "label")
    )
    positives = (
        queries.select("query_id", "label")
        .join(labels.withColumnRenamed("vec_id", "pos_id"), "label")
        .select("query_id", "pos_id")
    )
    return hard_negative_mine(
        emb, queries.select("query_id", "embedding"), positives, k=10
    )


def q_events_zorder_read(spark, sf_dir):
    """(user range x time range) window over the Z-ORDER-clustered event
    layout: Morton-interleaved (user_id, day) sort makes parquet zone
    maps tight in BOTH dimensions, so the two predicates skip most files
    on footer stats alone (skipping measured in tests via pyarrow
    footers). Results are exact regardless of layout — the oracle is a
    plain filter over the original table."""
    from temporal_vector_database_spark.sources.fixtures import (
        ensure_events_zordered,
    )
    from temporal_vector_database_spark.sources.tables import (
        read_events_user_window,
    )

    path = ensure_events_zordered(spark, sf_dir)
    lo, hi = events_ts_range(spark, sf_dir)
    start = lo + (hi - lo) // 3
    end = lo + 2 * (hi - lo) // 3
    out = read_events_user_window(spark, path, 10, 30, start, end)
    return out.select("event_id", "user_id", "event_type", "value", "ts_ms")


def q_multimodal_near_dup(spark, sf_dir):
    """Multimodal → dedup bridge, end-to-end: payload bytes → (stub)
    feature vectors → centered, 1/1024-quantized dims → sign-bit LSH →
    exact-cosine near-dup pairs. Centering at 0.5 splits the
    all-positive stub features across sign buckets (so the banding
    actually prunes); quantizing to the dyadic grid keeps every
    downstream sum exact in any engine/summation order. A real CLIP
    encoder plugs in at payload_features(extractor=...) and nothing
    downstream changes."""
    from temporal_vector_database_spark.operators.dedup import (
        embedding_near_duplicates,
    )
    from temporal_vector_database_spark.operators.multimodal import (
        payload_features,
        with_payload,
    )

    docs = _documents(spark, sf_dir)
    feats = payload_features(with_payload(docs))
    centered = feats.select(
        F.col("doc_id").alias("vec_id"),
        F.transform(
            "embedding", lambda x: F.floor((x - 0.5) * 1024) / 1024
        ).alias("embedding"),
    )
    return embedding_near_duplicates(
        centered, bands=2, dims_per_band=4, min_cosine=0.9
    )


def q_cluster_capped_sample(spark, sf_dir):
    """Diversity cap: at most 10 vectors per nearest-centroid cluster,
    survivors drawn by the deterministic md5-key hash — the template-
    cluster de-biasing step of a training mix."""
    from temporal_vector_database_spark.operators.sampling import (
        cluster_capped_sample,
    )
    from temporal_vector_database_spark.operators.search import ivf_assign

    emb = _quantized_embeddings(spark, sf_dir)
    _, assign = ivf_assign(emb)
    return cluster_capped_sample(assign, cap=10).withColumnRenamed("vid", "vec_id")


def q_wordpiece_tokens(spark, sf_dir):
    """Greedy longest-match-first WordPiece segmentation against a
    corpus-derived top-256 subword vocab. Oracle-gated since r07: the
    per-word greedy loop (each match advances the cursor) is a
    RECURSIVE CTE in the oracle — cursor state (pos, acc, np) per word,
    the longest-match choice as a CASE over vocab-list membership at
    j=4,3,2 with the j=1 OOV fallback — the same bounded-iteration
    precedent as the kcore peel oracle. The cover-exactly /
    longest-first / OOV invariants and the deterministic vocab top-K
    stay pinned in tests/test_tokenize.py. Output fingerprints the
    piece sequence per doc (pieces_md5), so engines agreeing on
    segmentation hash identically."""
    from temporal_vector_database_spark.operators.tokenize import (
        build_subword_vocab,
        wordpiece_tokenize,
    )

    docs = _documents_spread(spark, sf_dir).select(
        "doc_id", "text"
    )
    vocab = build_subword_vocab(docs, vocab_size=256, max_len=4)
    return wordpiece_tokenize(docs, vocab, max_len=4)


def q_stratified_sample(spark, sf_dir):
    """Per-source deterministic rebalancing: keep 60% of src0, all of
    src1, 20% of src2, and 10% of every other source."""
    from temporal_vector_database_spark.operators.sampling import stratified_sample

    docs = _documents(spark, sf_dir)
    return stratified_sample(
        docs,
        {"src0": 0.6, "src1": 1.0, "src2": 0.2},
        default_fraction=0.1,
    ).select("doc_id", "source")


def q_token_stats(spark, sf_dir):
    from temporal_vector_database_spark.functions.text import token_stats

    docs = _documents(spark, sf_dir)
    return token_stats(docs)


def q_text_quality(spark, sf_dir):
    from temporal_vector_database_spark.functions.text import quality_score

    docs = _documents(spark, sf_dir)
    return quality_score(docs)


def q_doc_fingerprint(spark, sf_dir):
    from temporal_vector_database_spark.functions.text import doc_fingerprint

    docs = _documents(spark, sf_dir)
    return doc_fingerprint(docs)


def q_minhash_signature(spark, sf_dir):
    from temporal_vector_database_spark.operators.dedup import minhash_signatures

    docs = _documents(spark, sf_dir)
    return minhash_signatures(docs, num_hashes=8)


def q_minhash_signature_prod(spark, sf_dir):
    """Production-hash-family MinHash build (JVM xxhash64, whole-stage
    codegen, map-side min-combine — no Python worker in the path). The
    xxhash64 family is not expressible in ANSI SQL, so this entry has no
    DuckDB oracle (driver records rows-only); its correctness is pinned
    in tests by bit-equality against an independent HOF plan shape
    (tests/test_dedup_text_search.py)."""
    from temporal_vector_database_spark.operators.dedup import minhash_signatures

    docs = _documents(spark, sf_dir)
    return minhash_signatures(docs, num_hashes=8, impl="xxhash64")


def q_dedup_near_pairs(spark, sf_dir):
    from temporal_vector_database_spark.operators.dedup import near_duplicate_pairs

    docs = _documents(spark, sf_dir)
    return near_duplicate_pairs(
        docs, num_hashes=8, bands=4, sigs=_minhash_store(spark, sf_dir)
    )


def q_dedup_near_pairs_banded(spark, sf_dir):
    """Near-dup pairs from the PERSISTED LSH band store: band hashes and
    skew-tiling cells precomputed and bucketed at write time, so this
    plan is scan → mapInPandas verify with zero exchanges (the shuffle
    happened once, at ingest) — the steady-state shape of dedup on a
    continuously ingested 100 TB corpus. Same oracle as
    ``dedup_near_pairs``."""
    from temporal_vector_database_spark.operators.dedup import (
        near_dup_pairs_from_band_store,
    )
    from temporal_vector_database_spark.sources.fixtures import ensure_lsh_band_store

    name = ensure_lsh_band_store(spark, sf_dir, num_hashes=8, bands=4)
    return near_dup_pairs_from_band_store(spark, name)


def q_dedup_incremental(spark, sf_dir):
    """Incremental dedup gate: 'new batch' = doc_id % 5 == 0, 'corpus' =
    the rest (signatures only). Oracle = the full-recompute pair SQL
    restricted to pairs touching a new doc — the operator's exactness
    guarantee stated as SQL."""
    from temporal_vector_database_spark.operators.dedup import (
        incremental_near_duplicate_pairs,
    )

    docs = _documents(spark, sf_dir)
    new = docs.where(F.col("doc_id") % 5 == 0)
    # corpus side from the persisted signature store (production layout;
    # signatures are doc-local so filtering the store == signing `old`)
    old_sigs = _minhash_store(spark, sf_dir).where(F.col("doc_id") % 5 != 0)
    pairs, _ = incremental_near_duplicate_pairs(old_sigs, new, bands=4)
    return pairs


def q_ann_topk(spark, sf_dir):
    from temporal_vector_database_spark.operators.search import topk_cosine

    emb = (
        _embeddings_raw(spark, sf_dir)
        .select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * 1024) / 1024,
            ).alias("embedding"),
        )
    )
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    res = topk_cosine(emb, queries, k=10, id_cols=("vec_id",))
    return res.select("query_id", "rank", "vec_id", "sim")


def q_prf_search(spark, sf_dir):
    """r08: PSEUDO-RELEVANCE-FEEDBACK retrieval (Rocchio with α=0) —
    the lexical→semantic feedback composition: BM25 top-10 for the
    query terms, the per-dim mean of those docs' embeddings becomes the
    feedback query vector, and the corpus is re-ranked by cosine to it
    (top-20). Catches semantically-relevant docs that share no query
    term — the classic recall move a pure lexical or pure ANN stage
    misses.

    Exactness: the centroid is quantized to the 2^-20 grid (floor — no
    half-rule ambiguity), so every dot-product term, partial sum, and
    norm in the re-rank is EXACT in double (≤48 significant bits) and
    partition-order-proof; the first stage's bm25 ordering is the
    existing rounded-6dp deterministic contract. The feedback vector is
    one 64-value model parameter (k-row collect discipline)."""
    from temporal_vector_database_spark.operators.search import topk_cosine
    from temporal_vector_database_spark.operators.textindex import bm25_scores

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    fb = bm25_scores(docs, ["vector", "join", "scan"], top_n=10).select("doc_id")
    emb = _quantized_embeddings(spark, sf_dir)
    cent = (
        emb.join(F.broadcast(fb), emb["vec_id"] == fb["doc_id"])
        .select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.avg("x").alias("c"))
        .select(
            "dim",
            (F.floor(F.col("c") * F.lit(1048576)) / F.lit(1048576)).alias("c"),
        )
    )
    cvals = [float(r.c) for r in cent.orderBy("dim").collect()]  # model param
    q = spark.createDataFrame(
        [(0, cvals)], "query_id int, embedding array<double>"
    )
    res = topk_cosine(emb, q, k=20, id_cols=("vec_id",))
    return res.select("query_id", "rank", "vec_id", "sim")


def q_simhash_signature(spark, sf_dir):
    from temporal_vector_database_spark.operators.dedup import simhash_signatures

    docs = _documents(spark, sf_dir)
    return simhash_signatures(docs)


def q_simhash_near_pairs(spark, sf_dir):
    from temporal_vector_database_spark.operators.dedup import simhash_near_pairs

    docs = _documents(spark, sf_dir)
    return simhash_near_pairs(docs, max_hamming=6)


def q_ngram_jaccard(spark, sf_dir):
    from temporal_vector_database_spark.operators.dedup import ngram_jaccard_pairs

    docs = _documents(spark, sf_dir)
    return ngram_jaccard_pairs(docs, num_hashes=8, bands=4, min_jaccard=0.4)


def _embeddings_raw(spark, sf_dir):
    """The embeddings corpus, plain scan (see ``_documents`` for the
    per-query spread policy)."""
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _embeddings_spread(spark, sf_dir):
    """The embeddings corpus, scan-spread (see ``_spread_path``)."""
    return _spread_path(spark, os.path.join(sf_dir, "embeddings.parquet"))


def _quantized_embeddings(spark, sf_dir, spread: bool = False):
    src = _embeddings_spread(spark, sf_dir) if spread else _embeddings_raw(spark, sf_dir)
    return src.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 1024) / 1024,
        ).alias("embedding"),
    )


def q_embedding_near_dup(spark, sf_dir):
    from temporal_vector_database_spark.operators.dedup import embedding_near_duplicates

    emb = _quantized_embeddings(spark, sf_dir)
    return embedding_near_duplicates(emb, min_cosine=0.4)


def q_ivf_topk(spark, sf_dir):
    from temporal_vector_database_spark.operators.search import ivf_topk

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, queries, k=10, nprobe=2)


def q_ivf_topk_persisted(spark, sf_dir):
    """IVF against the PERSISTED partitioned index layout (one parquet
    dir per inverted list; probes prune to their directories before any
    file opens) — bit-equal to `ivf_topk`, so the same oracle gates
    both. The index build is idempotent and lives with the fixtures
    (production: build once, serve many query batches)."""
    from temporal_vector_database_spark.operators.search import (
        ivf_topk_persisted,
        write_ivf_index,
    )
    from temporal_vector_database_spark.sources.fixtures import fixture_dir

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    idx = os.path.join(fixture_dir(sf_dir), "ivf_index")
    if not os.path.exists(os.path.join(idx, "centroids", "_SUCCESS")):
        write_ivf_index(emb, idx)
    return ivf_topk_persisted(spark, idx, queries, k=10, nprobe=2)


def q_ivf_store_topk(spark, sf_dir):
    """IVF serving against the INCREMENTALLY MAINTAINED store in its
    merge-on-read state: base lists + one uncompacted upsert batch
    (every vec_id % 10 == 1 re-ingested under id + 1000000) − one
    tombstone batch (every vec_id % 13 == 5). Probe routing, scoring,
    and tie-breaks are identical to ivf_topk; the oracle recomputes the
    probe over the logically-current corpus with the SAME fixed
    centroids (index parameters are never re-seeded by maintenance)."""
    from temporal_vector_database_spark.operators.ivf_store import ivf_store_topk
    from temporal_vector_database_spark.sources.fixtures import (
        ensure_ivf_store_upserted,
    )

    store = ensure_ivf_store_upserted(spark, sf_dir)
    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return ivf_store_topk(spark, store, queries, k=10, nprobe=2)


def q_ivfpq_topk(spark, sf_dir):
    """Three-tier composition gate: IVF probe pruning + PQ ADC scoring."""
    from temporal_vector_database_spark.operators.search import ivfpq_topk

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return ivfpq_topk(emb, queries, k=10, nprobe=2, m=4)


def q_pq_codes(spark, sf_dir):
    """PQ codes table gate: the m-int compressed representation itself
    (argmin codeword per subspace, ties -> lowest codeword id)."""
    from temporal_vector_database_spark.operators.search import pq_codebooks, pq_encode

    emb = _quantized_embeddings(spark, sf_dir)
    cb = pq_codebooks(emb, 4)
    return pq_encode(emb, cb, 4).withColumnRenamed("vid", "vec_id")


def q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (third ANN tier after brute force
    and IVF): m=4 subspaces over the dim-8 fixture embeddings."""
    from temporal_vector_database_spark.operators.search import pq_topk

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return pq_topk(emb, queries, k=10, m=4)


def q_pq_topk_reranked(spark, sf_dir):
    """PQ + exact re-rank: ADC shortlist (50/query), true inner-product
    rescore of shortlist rows only, final top-10 by true score — the
    deployed PQ shape (compressed scan bounds candidates, exact math
    touches only the shortlist)."""
    from temporal_vector_database_spark.operators.search import pq_topk_reranked

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return pq_topk_reranked(emb, queries, k=10, shortlist=50, m=4)


def q_topk_search_indexed(spark, sf_dir):
    """S1 against the PREBUILT search index (materialized norms table,
    the reference's build-once FAISS analogue) — bit-identical output to
    `topk_search`, different physical path; same oracle gates both."""
    from temporal_vector_database_spark.operators.search import (
        build_search_index,
        topk_cosine_indexed,
    )

    v = _versions(spark, sf_dir)
    queries = spark.read.parquet(_fix(sf_dir, "queries_vec"))
    res = topk_cosine_indexed(build_search_index(v), queries)
    return res.select("query_id", "rank", "content_id", "seq", "sim")


def q_language_id(spark, sf_dir):
    from temporal_vector_database_spark.functions.text import language_id

    docs = _documents(spark, sf_dir)
    return language_id(docs)


def q_multimodal_meta(spark, sf_dir):
    from temporal_vector_database_spark.operators.multimodal import payload_metadata

    docs = _documents(spark, sf_dir)
    return payload_metadata(docs)


def q_multimodal_decode(spark, sf_dir):
    from temporal_vector_database_spark.operators.multimodal import decode_payload, with_payload

    docs = _documents(spark, sf_dir)
    return decode_payload(with_payload(docs))


def q_frame_sample(spark, sf_dir):
    from temporal_vector_database_spark.operators.multimodal import (
        decode_payload,
        sample_frames,
        with_payload,
    )

    docs = _documents(spark, sf_dir)
    return sample_frames(decode_payload(with_payload(docs)), every_k=4)


def q_storage_tiering(spark, sf_dir):
    """r08: age-tiered storage accounting over the version store — the
    hot/warm/cold migration report (hot < 3 days behind the newest day,
    warm < 7, cold beyond; the fixture timeline spans ~12 daily
    versions so all three tiers are non-empty). Epoch-day integers are
    the TZ-free ``bucket_day_expr`` math; every published column is a
    hash-trivial BIGINT."""
    from temporal_vector_database_spark.operators.stats import (
        storage_tiering_report,
    )

    return storage_tiering_report(
        _versions(spark, sf_dir), hot_days=3, warm_days=7
    )


def q_version_rollup(spark, sf_dir):
    """Hypertable-style daily rollup STATE of the versions table —
    every published column is a hash-trivial integer (epoch-day BIGINT
    key + exact integer state). r04 bisect of the 3-round red row: the
    bucketing/state math is proven right locally in every TZ/read-mode
    combo, so this integer-only gate and the timestamp+doubles
    ``version_rollup_report`` twin isolate which column class the
    driver's value-hash disagrees on. Incremental-merge exactness is
    pinned in tests/test_rollup.py."""
    from temporal_vector_database_spark.operators.rollup import version_rollup_days

    return version_rollup_days(_versions(spark, sf_dir))


def q_version_rollup_report(spark, sf_dir):
    """Read-side projection twin of ``version_rollup``: the derived
    ``bucket_start timestamp_ntz`` + double averages (the r01-r03 gated
    shape, unchanged)."""
    from temporal_vector_database_spark.operators.rollup import rollup_report, version_rollup

    return rollup_report(version_rollup(_versions(spark, sf_dir), bucket="day"))


def q_version_rollup_report_ts(spark, sf_dir):
    """r06 bisect, timestamp half: the ``version_rollup`` integer state
    (green r05) plus ONLY the derived ``bucket_start timestamp_ntz``
    column — no doubles anywhere. Red here ⇒ the driver hasher's
    disagreement is the timestamp column class; green ⇒ it is the
    doubles (see ``version_rollup_report_dbl``). The math is byte-shared
    with the green integer gate."""
    from temporal_vector_database_spark.operators.rollup import version_rollup

    return version_rollup(_versions(spark, sf_dir), bucket="day").select(
        "content_id", "bucket_start", "n_versions", "n_bases", "n_deltas"
    )


def q_version_rollup_report_date(spark, sf_dir):
    """r06 bisect, DATE variant: identical rows to the ``_ts`` twin but
    the bucket publishes as a DATE built from the epoch-day BIGINT
    (hash-trivial — no sub-day fields for a hasher to canonicalize). If
    ``_ts`` is red and this is green, report gates adopt DATE/epoch-int
    keys repo-wide."""
    from temporal_vector_database_spark.operators.rollup import version_rollup_days

    return version_rollup_days(_versions(spark, sf_dir)).select(
        "content_id",
        F.date_add(F.lit("1970-01-01").cast("date"), F.col("bucket_day").cast("int")).alias(
            "bucket_date"
        ),
        "n_versions",
        "n_bases",
        "n_deltas",
    )


def q_version_rollup_report_dbl(spark, sf_dir):
    """r06 bisect, doubles half: the derived double averages keyed by the
    hash-trivial epoch-day BIGINT — no timestamp anywhere. Red here ⇒
    the hasher mangles doubles; green ⇒ the timestamp column is the
    culprit."""
    from temporal_vector_database_spark.operators.rollup import (
        rollup_report,
        version_rollup_days,
    )

    return rollup_report(
        version_rollup_days(_versions(spark, sf_dir)), key_col="bucket_day"
    )


def q_multimodal_resize(spark, sf_dir):
    from temporal_vector_database_spark.operators.multimodal import (
        decode_payload,
        resize_plan,
        with_payload,
    )

    docs = _documents(spark, sf_dir)
    return resize_plan(decode_payload(with_payload(docs)), max_w=256, max_h=256)


def q_multimodal_features(spark, sf_dir):
    """Feature vectors from payloads, summarized per doc (sum + first dim)
    so the oracle hashes scalars, not arrays."""
    from temporal_vector_database_spark.operators.multimodal import (
        payload_features,
        with_payload,
    )

    feats = payload_features(with_payload(_documents(spark, sf_dir)))
    return feats.select(
        "doc_id",
        F.round(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x), 9).alias("feat_sum"),
        F.round(F.element_at("embedding", 1), 9).alias("feat_0"),
    )


def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroid — the vector-aggregate building block
    (class prototypes / IVF training step). posexplode → per-dim avg is
    fully partial-aggregatable (map-side combine), unlike array-valued
    aggregation."""
    emb = _quantized_embeddings(spark, sf_dir)
    lab = _embeddings_raw(spark, sf_dir).select("vec_id", "label")
    return (
        emb.join(lab, "vec_id")
        .select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            # plain avg, NOT round(avg, 9): the inputs are exact on the
            # 1/1024 grid so the sum (any order) and quotient are bit-equal
            # in every engine, while round() at 9 dp sits ON the half
            # boundary for dyadic averages and the engines' half-rules
            # differ (caught by the sf0.001 sweep)
            F.avg("x").alias("centroid_r"),
            F.count("*").cast("long").alias("n"),
        )
    )


def q_price_quantiles(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.count("*").alias("n"),
    )


def q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3_top10(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment") == "BUILDING")
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return (
        rev.orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue")
    )


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape: local-supplier revenue by nation within one region
    and order-date year. Six-table join — dims broadcast, fact joins
    shuffle on keys, Catalyst/AQE pick the order."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    s = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    r = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .where(c.c_nationkey == s.s_nationkey)  # "local supplier"
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q_tpch_q6(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
             F.count("*").alias("n"))
    )


def q_tpch_q14(spark, sf_dir):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    p = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).where(
        (F.col("l_shipdate") >= F.lit("1996-09-01")) & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0)))
            / F.sum(rev),
            6,
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n"),
    )


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer over one
    quarter, top 20. Fact-fact join shuffles on the order key, dims
    broadcast; deterministic tiebreak (custkey) so the LIMIT cut is
    oracle-stable."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == o.o_orderkey)
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-07-01"))
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape: large-volume orders (HAVING over a fact self-agg,
    then re-join the fact). The aggregate is partial+final on l_orderkey;
    the big-order key set is tiny → broadcast back against orders."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 200)
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


def q_tpch_q4_shape(spark, sf_dir):
    """TPC-H Q4 shape: order count per priority for orders with at least
    one LATE line item (EXISTS → left-semi join; the driver tables have no
    commitdate, so "late" = shipped > 90 days after the order date). The
    semi join carries only the key — no fact-fact row blowup."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).where(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    )
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 90 DAY")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q12_shape(spark, sf_dir):
    """TPC-H Q12 shape: CASE-conditional aggregation after a fact-fact
    join — high- vs low-priority order counts per return flag for 1996
    shipments (no l_shipmode in the driver tables; l_returnflag plays the
    grouping role)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q_tpch_q13_shape(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count distribution. LEFT OUTER join
    so zero-order customers keep count 0, then a second aggregation over
    the counts. Two shuffles (custkey, then count) — both partial+final."""
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_tpch_q16_shape(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per part class, with a
    NOT IN exclusion subquery (→ left-anti join against negative-balance
    suppliers; lineitem is the part↔supplier association — the driver has
    no partsupp table)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    p = spark.read.parquet(os.path.join(sf_dir, "part.parquet")).where(
        (F.col("p_brand") != "Brand#45") & (F.col("p_size").isin(1, 4, 9, 14, 19, 23))
    )
    s_bad = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet")).where(
        F.col("s_acctbal") < 0
    )
    assoc = li.select("l_partkey", "l_suppkey").join(
        F.broadcast(s_bad), li.l_suppkey == s_bad.s_suppkey, "left_anti"
    )
    return (
        assoc.join(p, assoc.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q_tpch_q22_shape(spark, sf_dir):
    """TPC-H Q22 shape: scalar subquery (global average balance of
    positive-balance customers) as a filter threshold, then an anti join
    against orders — rich customers who never ordered, per nation. The
    scalar aggregate broadcasts as a 1-row cross join. "Never ordered"
    is scoped to the table's final quarter — the driver's order
    generator covers every customer over the full range."""
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).where(
        F.col("o_orderdate") >= F.lit("1998-09-01")
    )
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("avg_bal"))
    return (
        rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    ship-year. Supplier nation comes off lineitem, customer nation off
    orders; the two nation lookups broadcast, the fact-fact join shuffles
    on the order key. The symmetric nation-pair disjunction stays a
    single join predicate so Catalyst can still push both equi-keys."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    s = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    n1 = spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("c_nkey"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 shape: one nation's market share of ECONOMY-part revenue
    inside one region, by order-year. The share is a conditional-sum /
    total-sum ratio per year; seven tables, four of them broadcast dims.
    Customer nation scopes the market (region), supplier nation is the
    share subject — same asymmetry as the real Q8."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).where(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    s = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    p = spark.read.parquet(os.path.join(sf_dir, "part.parquet")).where(
        F.col("p_type") == "ECONOMY"
    )
    n1 = spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = spark.read.parquet(os.path.join(sf_dir, "region.parquet")).where(
        F.col("r_name") == "ASIA"
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share"),
            F.count("*").alias("n"),
        )
        .orderBy("o_year")
    )


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 shape: top supplier(s) by quarterly revenue — an
    aggregate view joined against its own MAX (scalar subquery → 1-row
    broadcast cross join). Revenue is rounded to cents BEFORE the max
    comparison so the equality is exact in both engines."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    s = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(top))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 shape: revenue from small-quantity orders of one brand —
    a correlated per-part average (l_quantity < 0.2 * avg over that part)
    decorrelated into a groupBy + broadcast join. Quantities are whole
    numbers, so the per-part avg is an exact-integer-sum / count and the
    threshold is order-of-summation independent."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    p = spark.read.parquet(os.path.join(sf_dir, "part.parquet")).where(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15)
    )
    part_avg = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("l_partkey").alias("a_partkey"))
        .agg(F.avg("l_quantity").alias("avg_qty"))
    )
    return (
        li.join(F.broadcast(part_avg), li.l_partkey == F.col("a_partkey"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n"),
        )
    )


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of three conjunctive brand/size/
    quantity bands spanning both join sides. The shared `p_partkey =
    l_partkey` equi-key still drives the (broadcast) join; the OR-of-ANDs
    residual is evaluated post-join, and the common `l_quantity <= 30`
    envelope is pushed to the lineitem scan."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    p = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(band).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n"),
    )


def q_tpch_q11_shape(spark, sf_dir):
    """TPC-H Q11 shape: group value vs a global-scalar threshold — per-
    supplier revenue kept only when above a fraction of TOTAL revenue
    (the driver tables lack partsupp, so lineitem revenue plays the
    part-stock-value role). The global total is a 1-row broadcast; the
    per-supplier aggregate reuses the same shuffled pass."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    s = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # integer-cents threshold math: rounding each group to cents first
    # makes the share comparison immune to partial-sum order, so the
    # boundary membership is identical in Spark and the oracle
    per_supp = li.groupBy("l_suppkey").agg(
        F.round(F.sum(rev) * 100).cast("long").alias("supp_cents")
    )
    total = per_supp.agg(
        F.sum("supp_cents").alias("total_cents"),
        F.count("*").alias("n_supp"),
    )
    # scale-free predicate: share > 1.05x the average supplier share
    # (supp/total > 1.05/n  ⇔  supp*n*100 > 105*total, all integer)
    return (
        per_supp.crossJoin(F.broadcast(total))
        .where(F.col("supp_cents") * F.col("n_supp") * 100 > 105 * F.col("total_cents"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("supp_cents") / 100.0, 2).alias("supp_value"),
        )
        .orderBy(F.desc("supp_value"), "s_suppkey")
    )


def q_tpch_q20_shape(spark, sf_dir):
    """TPC-H Q20 shape: nested aggregate feeding a semi-join chain —
    suppliers who shipped more than 600 units of PROMO parts in 1996,
    surfaced per nation (no partsupp/availqty in the driver tables; the
    shipped-quantity aggregate plays the half-of-availqty role). The
    inner aggregate's qualifying key set is tiny → broadcast semi."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    p = spark.read.parquet(os.path.join(sf_dir, "part.parquet")).where(
        F.col("p_type") == "PROMO"
    )
    s = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    heavy = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("promo_qty"))
        .where(F.col("promo_qty") > 600)
    )
    return (
        s.join(F.broadcast(heavy.select("l_suppkey")), s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


def q_revenue_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the non-cube/rollup form): per-returnflag
    and per-linestatus marginals in ONE pass — Catalyst expands to a
    single Expand + hash aggregate, not two scans + union."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    li.createOrReplaceTempView("_li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


def q_revenue_cube(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all four grouping combinations
    in one pass (grouping-sets coverage; ROLLUP is `revenue_rollup`)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
        .select("l_returnflag", "l_linestatus", "revenue", "n_items")
    )


def q_top_orders_per_customer(spark, sf_dir):
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


def q_top_events_per_user_salted(spark, sf_dir):
    """Skew-proof per-key top-k: two-phase salted variant of the window
    top-k (same result set, bounded per-task input on hot keys)."""
    from temporal_vector_database_spark.operators.relational import two_phase_topk

    from temporal_vector_database_spark.sources.tables import load_events

    e = load_events(spark, sf_dir).select("event_id", "user_id", "value")
    return two_phase_topk(
        e,
        ["user_id"],
        [F.desc("value"), F.asc("event_id")],
        k=3,
        salt_col="event_id",
    ).select("user_id", "event_id", "value", F.col("rank").cast("int").alias("rank"))


def q_salted_revenue_by_priority(spark, sf_dir):
    """Skew-proof fact×dim equi-join (lineitem ⋈ orders on a salted key)
    feeding an exact integer-cents aggregate — row-identical to the plain
    join, so the oracle is the unsalted SQL."""
    from temporal_vector_database_spark.operators.relational import salted_join

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("rev_cents"),
    )
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, ["l_orderkey"], n_salt=8, salt_col="l_linenumber")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("rev_cents").cast("long").alias("revenue_cents"),
    )


def q_customers_without_orders(spark, sf_dir):
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).where(
        F.col("o_orderdate") < F.lit("1993-01-01")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
    )


def q_revenue_rollup(spark, sf_dir):
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    r = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select("r_name", "n_name", "revenue", "n_orders")
    )


def q_part_setops(spark, sf_dir):
    p = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    big_parts = p.where(F.col("p_size") >= 40).select(F.col("p_partkey").alias("pk"))
    heavy_sold = li.where(F.col("l_quantity") >= 45).select(F.col("l_partkey").alias("pk")).distinct()
    inter = big_parts.intersect(heavy_sold).select(F.lit("intersect").alias("op"), "pk")
    only_big = big_parts.exceptAll(heavy_sold).select(F.lit("except").alias("op"), "pk")
    return inter.unionAll(only_big)


def q_events_tumbling(spark, sf_dir):
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return (
        ev.withColumn("window_start_ms", (F.col("ts_ms") - F.col("ts_ms") % 3_600_000))
        .groupBy("window_start_ms", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


_BRANCH_CARDINALITY_CAP = 1000


def _bounded_distinct_values(df, col: str, cap: int = _BRANCH_CARDINALITY_CAP):
    """Distinct values of a LOW-cardinality column for a driver-side
    pivot/branch list, sorted. ``limit(cap+1)`` bounds the transfer and
    exceeding the cap RAISES instead of silently materializing an
    arbitrary column domain on the driver (VERDICT r07: the pattern is
    fine for event-type-shaped columns but must be defended against a
    high-cardinality column)."""
    rows = df.select(col).distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"column {col!r} has more than {cap} distinct values — "
            "refusing an unbounded driver-side pivot/branch list"
        )
    return sorted(r[0] for r in rows)


def q_events_asof_join(spark, sf_dir):
    from temporal_vector_database_spark.operators.temporal import asof_join
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    types = _bounded_distinct_values(ev, "event_type")
    t_left, t_right = types[0], types[-1]
    left = ev.where(F.col("event_type") == t_left).select("user_id", "ts_ms", "event_id")
    # dedupe right to one row per (user, ts): keep max event_id (deterministic)
    right = (
        ev.where(F.col("event_type") == t_right)
        .groupBy("user_id", "ts_ms")
        .agg(F.max("event_id").alias("r_event_id"), F.max("value").alias("r_value"))
    )
    res = asof_join(left, right, on="ts_ms", by=("user_id",), value_cols=("r_event_id", "r_value"))
    return res.select(
        "user_id",
        "ts_ms",
        "event_id",
        "r_event_id_asof",
        F.round("r_value_asof", 6).alias("r_value_asof"),
    )


def q_events_asof_tolerance(spark, sf_dir):
    """As-of join with a max-staleness bound (pandas merge_asof
    `tolerance`): matches older than 1h are discarded to NULL."""
    from temporal_vector_database_spark.operators.temporal import asof_join
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    types = _bounded_distinct_values(ev, "event_type")
    left = ev.where(F.col("event_type") == types[0]).select("user_id", "ts_ms", "event_id")
    right = (
        ev.where(F.col("event_type") == types[-1])
        .groupBy("user_id", "ts_ms")
        .agg(F.max("event_id").alias("r_event_id"), F.max("value").alias("r_value"))
    )
    res = asof_join(
        left, right, on="ts_ms", by=("user_id",),
        value_cols=("r_event_id", "r_value"), tolerance=3600000,
    )
    return res.select(
        "user_id", "ts_ms", "event_id", "r_event_id_asof",
        F.round("r_value_asof", 6).alias("r_value_asof"),
    )


def q_events_asof_forward(spark, sf_dir):
    """Forward-direction as-of join (earliest right row at-or-after the
    left time — pandas merge_asof direction='forward')."""
    from temporal_vector_database_spark.operators.temporal import asof_join
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    types = _bounded_distinct_values(ev, "event_type")
    left = ev.where(F.col("event_type") == types[0]).select("user_id", "ts_ms", "event_id")
    right = (
        ev.where(F.col("event_type") == types[-1])
        .groupBy("user_id", "ts_ms")
        .agg(F.max("event_id").alias("r_event_id"), F.max("value").alias("r_value"))
    )
    res = asof_join(
        left, right, on="ts_ms", by=("user_id",),
        value_cols=("r_event_id", "r_value"), direction="forward",
    )
    return res.select(
        "user_id", "ts_ms", "event_id", "r_event_id_asof",
        F.round("r_value_asof", 6).alias("r_value_asof"),
    )


def q_events_json_props(spark, sf_dir):
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    parsed = ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.from_json("props", "k INT").alias("s"),
    )
    return (
        parsed.withColumn("k2", F.col("s.k"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.sum(F.when(F.col("k") == F.col("k2"), 1).otherwise(0)).cast("long").alias("parse_agree"),
        )
    )


def q_events_interval_join(spark, sf_dir):
    """Batch form of ``streaming.relational.stream_interval_join``: every
    'view' within 24 hours AFTER each 'click' of the same user. The
    streaming twin runs the identical plan with watermarks
    (``tests/test_streaming_relational.py`` pins stream==batch)."""
    from temporal_vector_database_spark.sources.tables import load_events
    from temporal_vector_database_spark.streaming.relational import stream_interval_join

    ev = load_events(spark, sf_dir).withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    left = ev.where(F.col("event_type") == "click").select("event_id", "ts", "user_id")
    right = ev.where(F.col("event_type") == "view").select("event_id", "ts", "user_id")
    res = stream_interval_join(left, right, key="user_id", upper="24 hours")
    return res.select(
        F.col("l_event_id"),
        F.col("r_event_id"),
        F.col("l_user_id").alias("user_id"),
        (F.unix_millis("r_ts") - F.unix_millis("l_ts")).alias("gap_ms"),
    )


def q_events_session_window(spark, sf_dir):
    """Native ``session_window`` sessionization (vs ``events_sessionize``'s
    hand-rolled gaps-and-islands): same 30-minute gap, verified against
    the DuckDB lag/cumsum form. Boundary semantics pinned: an event
    exactly ``gap`` after the previous one MERGES (split strictly >)."""
    from temporal_vector_database_spark.sources.tables import load_events
    from temporal_vector_database_spark.streaming.analytics import session_window_stats

    ev = load_events(spark, sf_dir).withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    res = session_window_stats(ev, gap="30 minutes")
    return res.select(
        "user_id",
        F.unix_millis("session_start").alias("session_start_ms"),
        F.unix_millis("session_end").alias("session_end_ms"),
        "n_events",
        "sum_value",
    )


def q_events_sessionize(spark, sf_dir):
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gap = F.col("ts_ms") - F.lag("ts_ms").over(w)
    sess = (
        ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1_800_000), 1).otherwise(0))
        .withColumn("session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def q_events_type_stats(spark, sf_dir):
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


def q_events_moving_stats(spark, sf_dir):
    """Window-frame coverage: sliding moving average (ROWS 3 PRECEDING),
    lead gap to the next event, dense rank within user — per-user frames
    over integer-ms event time. One content_id-free window family keyed by
    user_id: a single hash exchange, everything else frame-local. Output
    down-sampled to rank ≤ 5 per user to keep the row count bounded."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    frame = w.rowsBetween(-3, 0)
    return (
        ev.withColumn("moving_avg", F.round(F.avg("value").over(frame), 6))
        .withColumn("next_gap_ms", F.lead("ts_ms").over(w) - F.col("ts_ms"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("user_id", "rnk", "event_id", "ts_ms", "moving_avg", "next_gap_ms")
    )


def q_events_range_frame(spark, sf_dir):
    """Window-frame coverage, RANGE edition: per-user 60-second trailing
    window defined by VALUE (ts_ms), not row count — ties are peers, so
    the frame is deterministic under duplicate timestamps. The summed
    measure is pre-quantized to integer micro-units because windowed
    float summation order differs between engines (Spark runs the frame
    sequentially, DuckDB uses segment trees) — integer sums are
    merge-order-proof."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).withColumn(
        "v_e6", F.round(F.col("value") * 1000000.0, 0).cast("long")
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms").rangeBetween(-60000, 0)
    return ev.select(
        "user_id",
        "event_id",
        "ts_ms",
        F.count("*").over(w).cast("long").alias("n_60s"),
        F.sum("v_e6").over(w).cast("long").alias("sum_v_e6"),
    )


def q_events_rank_functions(spark, sf_dir):
    """Rank-function family over one window: dense_rank, percent_rank,
    cume_dist, ntile(4) per event_type ordered by (value, event_id) —
    the tie-break makes every output deterministic; percent_rank and
    cume_dist are exact small-integer ratios, identical in any engine."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_type",
        "event_id",
        F.dense_rank().over(w).cast("int").alias("d_rank"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


def q_events_robust_stats(spark, sf_dir):
    """r07: EXACT per-type order statistics (median / MAD / 10%-trimmed
    mean) on integer micro-units — the outlier-robust family beside the
    moment-based z-scores (events_outliers) and the sketch path
    (events_approx_quantiles). Pure integer math over the total
    ranking until one terminal IEEE division per published column
    (operators/timeseries.py robust_stats)."""
    from temporal_vector_database_spark.operators.timeseries import robust_stats
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    return robust_stats(ev)


def q_events_changepoint(spark, sf_dir):
    """r07: CUSUM cumulative-deviation changepoint scan per event type
    — exact integer C_t = n*P_t - t*S over the total (ts, id)
    ordering, lexicographic-struct argmax for the peak, one terminal
    IEEE division per published double."""
    from temporal_vector_database_spark.operators.timeseries import (
        changepoint_scan,
    )
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "ts_ms", "value")
    return changepoint_scan(ev)


def q_events_outliers(spark, sf_dir):
    """Z-score anomaly detection per event_type. The measure is
    quantized to integer milli-units FIRST, so the group sums are exact
    and every downstream scalar (mean, sample variance, z) is computed
    from identical numbers by an identical expression in both engines —
    no merge-order dependence anywhere. Stats table is tiny (one row per
    type) → broadcast back onto the events. Bound check: sum(v_e3²) ≈
    3e16 per 100k rows at this value range — the bigint path holds to
    ~10^7× this scale; beyond that switch the co-moments to decimal."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "event_type",
        "ts_ms",
        F.round(F.col("value") * 1000.0, 0).cast("long").alias("v_e3"),
    )
    stats = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v_e3").cast("long").alias("s1"),
        F.sum(F.col("v_e3") * F.col("v_e3")).cast("long").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n").cast("double")
    # n > 1 guard (sample variance undefined for singleton groups) and a
    # greatest(·, 0) clamp (float cancellation can go epsilon-negative);
    # degenerate groups carry std 0 and are excluded by the z filter below
    var = F.greatest(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n").cast("double")
        )
        / (F.col("n").cast("double") - F.lit(1.0)),
        F.lit(0.0),
    )
    stats = stats.where(F.col("n") > 1).select(
        "event_type", mean.alias("mean_e3"), F.sqrt(var).alias("std_e3")
    )
    z = (F.col("v_e3").cast("double") - F.col("mean_e3")) / F.col("std_e3")
    return (
        ev.join(F.broadcast(stats.where(F.col("std_e3") > 0)), "event_type")
        .withColumn("z_r", F.round(z, 6))
        .where(F.abs("z_r") >= 2.5)
        .select("event_type", "event_id", "ts_ms", "v_e3", "z_r")
    )


def q_events_histogram(spark, sf_dir):
    """Fixed-width histogram of the event measure per type: bin =
    floor(v_e3 / 25000) over exact integer milli-units — pure integer
    math, one partial-aggregated count per (type, bin)."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.round(F.col("value") * 1000.0, 0).cast("long").alias("v_e3"),
    )
    return (
        ev.withColumn("bin", F.floor(F.col("v_e3") / 25000).cast("long"))
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("v_e3").cast("long").alias("min_e3"),
            F.max("v_e3").cast("long").alias("max_e3"),
        )
    )


def q_events_funnel(spark, sf_dir):
    """Product-analytics funnel: view → click → purchase with strict
    temporal ordering per user (each step's timestamp must follow the
    previous step's FIRST occurrence). Three user-keyed filtered
    aggregations chained by join — every stage shuffles on user_id once
    and the frames shrink monotonically; no window over the event
    stream."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts_ms")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts_ms") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts_ms").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t_click"), "user_id")
        .where(F.col("ts_ms") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts_ms").alias("t_purchase"))
    )
    users = ev.select("user_id").distinct()
    return (
        users.join(v, "user_id", "left")
        .join(c.select("user_id", "t_click"), "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.when(F.col("t_purchase").isNotNull(), 3)
                .when(F.col("t_click").isNotNull(), 2)
                .when(F.col("t_view").isNotNull(), 1)
                .otherwise(0)
            )
            .cast("int")
            .alias("steps_completed"),
        )
    )


def q_events_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-activity day; for each
    (cohort_day, day_offset) the distinct count of cohort members active
    that day. Pure integer day math; two user-keyed aggregates."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", F.expr("ts_ms div 86400000").cast("long").alias("day")
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(cohort, "user_id")
        .select("user_id", "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )


def _doc_tokens(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).cast("int").alias(
            "n_tokens"
        ),
    )


def q_length_balanced_sample(spark, sf_dir):
    """Length-distribution rebalancing, at-scale default: quartiles by
    exact distributed ``percentile`` THRESHOLDS (broadcast scalars, no
    global window anywhere — see ``operators/sampling.py``), then the
    md5-threshold per-quartile down-sample (keep 100/75/50/25%). The
    single-task ntile twin is gated separately as
    ``length_balanced_sample_exact``."""
    from temporal_vector_database_spark.operators.sampling import length_balanced_sample

    return length_balanced_sample(_doc_tokens(spark, sf_dir)).select(
        "doc_id", "n_tokens", "quartile"
    )


def q_length_balanced_sample_exact(spark, sf_dir):
    """Equal-SIZE quartile twin of ``length_balanced_sample``: global
    ``ntile(4)`` with full (n_tokens, doc_id) tie-break — a single-task
    total sort, kept as the small-data parity form, NOT the at-scale
    plan."""
    from temporal_vector_database_spark.operators.sampling import (
        length_balanced_quartiles_exact,
    )

    q = length_balanced_quartiles_exact(_doc_tokens(spark, sf_dir))
    u32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    thresholds = {1: 1.0, 2: 0.75, 3: 0.5, 4: 0.25}
    cond = None
    for quart, frac in thresholds.items():
        c = (F.col("quartile") == quart) & (u32 < int(frac * 2**32))
        cond = c if cond is None else (cond | c)
    return q.where(cond).select("doc_id", "n_tokens", "quartile")


def q_doc_ccnet_buckets(spark, sf_dir):
    """CCNet-style quality bucketing (head/middle/tail thirds by a
    perplexity proxy — mean characters per token), thresholds from exact
    distributed ``percentile`` broadcast as two scalars; per-(lang,
    bucket) counts with order-independent min/max score stats. No global
    window; the same broadcast-threshold shape as
    ``length_balanced_sample``."""
    docs = _documents(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        "lang",
        (
            F.length("text").cast("double")
            / F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).cast(
                "double"
            )
        ).alias("score"),
    )
    thr = scored.agg(
        F.percentile(F.col("score"), F.lit([1.0 / 3.0, 2.0 / 3.0])).alias("ts")
    ).select(F.col("ts")[0].alias("t1"), F.col("ts")[1].alias("t2"))
    bucket = (
        F.when(F.col("score") <= F.col("t1"), F.lit("head"))
        .when(F.col("score") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
    )


def q_docs_winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al. SIGMOD'03): min-hash of
    each window of consecutive character k-gram hashes, distinct per
    doc. Per-document window frames only — embarrassingly parallel."""
    from temporal_vector_database_spark.operators.textindex import winnow_fingerprints

    docs = _documents_spread(spark, sf_dir).select(
        "doc_id", "text"
    )
    return winnow_fingerprints(docs, k=7, w=16)


def q_suffix_array_ngrams(spark, sf_dir):
    """Cross-document duplicated word 8-grams — the gram-grain form of
    suffix-array exact-substring dedup (Lee et al. 2022). The fixture
    corpus is random word soup with no natural cross-doc 8-gram repeats,
    so the gate appends a fixed boilerplate clause to every 10th doc on
    BOTH engines; the operator must recover exactly the boilerplate's
    interior grams with their doc/occurrence counts."""
    from temporal_vector_database_spark.operators.textindex import duplicated_ngrams

    return duplicated_ngrams(_injected_boiler_docs(spark, sf_dir), n=8, min_docs=2)


_BOILER = (
    " copyright notice all rights reserved contact the site owner"
    " for permission to reuse any part of this page content"
)


def _injected_boiler_docs(spark, sf_dir):
    return _documents_spread(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(_BOILER))
        ).otherwise(F.col("text")).alias("text"),
    )


def q_remove_dup_spans(spark, sf_dir):
    """The exact-substring-dedup ACTION: words covered by any cross-doc
    duplicated 8-gram are deleted from every document (Lee et al. 2022).
    Published as (hash, length) of the cleaned text so the gate checks
    the full rebuilt string without shipping it."""
    from temporal_vector_database_spark.operators.textindex import (
        remove_duplicated_spans,
    )

    out = remove_duplicated_spans(_injected_boiler_docs(spark, sf_dir), n=8)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_hash"),
        F.length("clean_text").cast("bigint").alias("clean_len"),
        "n_words",
        "n_removed",
    )


def q_bm25_scores(spark, sf_dir):
    """BM25 top-20 documents for a fixed query bag. Corpus stats are
    broadcast scalar aggregates; top-n is sort+limit (TakeOrdered), not
    a global window."""
    from temporal_vector_database_spark.operators.textindex import bm25_scores

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    return bm25_scores(docs, ["vector", "join", "scan"], top_n=20)


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: BM25 top-50 (lexical) fused with cosine top-50
    of embedding query vec 0 (vector) by reciprocal-rank fusion — the
    standard two-tower serving shape. Both inputs are top-k outputs, so
    the fusion never touches corpus-sized data."""
    from temporal_vector_database_spark.operators.search import topk_cosine
    from temporal_vector_database_spark.operators.textindex import (
        bm25_scores,
        rrf_fuse,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    text_ranked = bm25_scores(docs, ["vector", "join", "scan"], top_n=50).select(
        "doc_id", F.col("rn").alias("rank")
    )
    emb = _embeddings_raw(spark, sf_dir).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 1024) / 1024,
        ).alias("embedding"),
    )
    q0 = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    vec_ranked = topk_cosine(emb, q0, k=50, id_cols=("vec_id",)).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    fused = rrf_fuse(text_ranked, vec_ranked, top_n=20)
    return fused.select(
        "doc_id",
        "rn",
        F.col("rank_a").alias("rank_text"),
        F.col("rank_b").alias("rank_vec"),
        "rrf",
    )


def q_unigram_nll(spark, sf_dir):
    """Corpus-unigram LM quality score per doc (the self-estimated
    CCNet perplexity signal): mean negative log-prob under p(w) =
    corpus count / total tokens."""
    from temporal_vector_database_spark.operators.textindex import (
        unigram_logprob_scores,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    return unigram_logprob_scores(docs)


def q_bigram_nll(spark, sf_dir):
    """Interpolated bigram LM quality score per doc: p(w2|w1) =
    0.75·c(w1w2)/c(w1·) + 0.25·c(w2)/N, score = mean −ln p over the
    doc's bigrams (6 dp). The rung above unigram_nll on the CCNet-style
    ladder, still corpus-self-estimated."""
    from temporal_vector_database_spark.operators.textindex import (
        bigram_logprob_scores,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    return bigram_logprob_scores(docs)


def _serve_from_lm_states(spark, sf_dir, needs, serve):
    """Shared scaffold of the streaming-LM serve gates (r11, VERDICT
    r10 #2): fold a deterministic 3-batch split of ``documents``
    (``doc_id % 3``) into the requested count states with the SAME
    foreachBatch fold functions the live stream uses
    (``streaming/wordcount.py``, additive ``batch=N`` partials under a
    per-run temp dir), then hand the state dirs to ``serve``. Counts
    are pure sums and every serve shares its batch twin's scoring
    core, so stream==batch is exact and each gate's oracle is the SAME
    relational recomputation as its batch twin. In production the
    state dir is the standing store the crawl folds into; here it is
    per-run and deleted as soon as the serve has pinned
    (localCheckpoint, eager) the merged model tables."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.streaming import wordcount as W

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    root = tempfile.mkdtemp(prefix="tvdb_lm_stream_")
    try:
        dirs = {n: os.path.join(root, n) for n in needs}
        for bid in range(3):
            part = docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == bid)
            # combined writer (r13, VERDICT r12 #5): ONE tokenize pass
            # per batch feeds every requested state — the per-order
            # writers re-tokenized the same slice once per state
            W.process_lm_batch(
                part,
                bid,
                term_state_dir=dirs.get("terms"),
                bigram_state_dir=dirs.get("bigrams"),
                trigram_state_dir=dirs.get("trigrams"),
            )
        return serve(docs, dirs)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_bigram_nll_stream(spark, sf_dir):
    """r11 (VERDICT r10 #2): the streaming JM-bigram SERVE path under
    the driver's oracle end-to-end — term + bigram count states built
    in-query, then ``bigram_nll_from_state`` scores the corpus from
    them. Oracle = the ``bigram_nll`` relational recomputation
    (stream==batch is exact; see ``_serve_from_lm_states``)."""
    from temporal_vector_database_spark.streaming.wordcount import (
        bigram_nll_from_state,
    )

    return _serve_from_lm_states(
        spark,
        sf_dir,
        ("terms", "bigrams"),
        lambda docs, d: bigram_nll_from_state(
            spark, d["terms"], d["bigrams"], docs
        ),
    )


def q_trigram_nll_stream(spark, sf_dir):
    """r11: the streaming JM-trigram SERVE path under the oracle —
    term + bigram + trigram count states built in-query, then
    ``trigram_nll_from_state``. Oracle = the ``trigram_nll``
    relational recomputation."""
    from temporal_vector_database_spark.streaming.wordcount import (
        trigram_nll_from_state,
    )

    return _serve_from_lm_states(
        spark,
        sf_dir,
        ("terms", "bigrams", "trigrams"),
        lambda docs, d: trigram_nll_from_state(
            spark, d["terms"], d["bigrams"], d["trigrams"], docs
        ),
    )


def q_kneser_ney_nll_stream(spark, sf_dir):
    """r11: the streaming Kneser-Ney bigram SERVE path under the
    oracle — every KN quantity derives from the single maintained
    bigram state. Oracle = the ``kneser_ney_nll`` relational
    recomputation."""
    from temporal_vector_database_spark.streaming.wordcount import (
        kneser_ney_nll_from_state,
    )

    return _serve_from_lm_states(
        spark,
        sf_dir,
        ("bigrams",),
        lambda docs, d: kneser_ney_nll_from_state(spark, d["bigrams"], docs),
    )


def q_modified_kn_nll_stream(spark, sf_dir):
    """r11: the streaming modified-KN trigram SERVE path under the
    oracle — discounts, context masses, and continuation tables all
    derive from the single maintained trigram state. Oracle = the
    ``modified_kn_nll`` relational recomputation."""
    from temporal_vector_database_spark.streaming.wordcount import (
        modified_kn_nll_from_state,
    )

    return _serve_from_lm_states(
        spark,
        sf_dir,
        ("trigrams",),
        lambda docs, d: modified_kn_nll_from_state(spark, d["trigrams"], docs),
    )


def q_perplexity_band_stream(spark, sf_dir):
    """r11: the streaming perplexity-band curation SERVE path under
    the oracle — candidates scored against the maintained term-count
    state, [25, 75) percent-rank band kept. Oracle = the
    ``perplexity_band`` relational recomputation."""
    from temporal_vector_database_spark.streaming.wordcount import (
        perplexity_band_from_state,
    )

    return _serve_from_lm_states(
        spark,
        sf_dir,
        ("terms",),
        lambda docs, d: perplexity_band_from_state(
            spark, d["terms"], docs, 25, 75
        ),
    )


def q_unigram_nll_stream(spark, sf_dir):
    """r11 wave 2: the streaming UNIGRAM SERVE path (the r09 serve the
    r11 wave-1 gates skipped) under the oracle — candidates scored
    against the maintained term-count state. Oracle = the
    ``unigram_nll`` relational recomputation."""
    from temporal_vector_database_spark.streaming.wordcount import (
        unigram_nll_from_state,
    )

    return _serve_from_lm_states(
        spark,
        sf_dir,
        ("terms",),
        lambda docs, d: unigram_nll_from_state(spark, d["terms"], docs),
    )


def q_vocab_coverage_stream(spark, sf_dir):
    """r11 wave 2: the vocab-sizing dashboard SERVED from the
    maintained term-count state — the original r09 streaming serve,
    now under the oracle end-to-end. Oracle = the ``vocab_coverage``
    relational recomputation."""
    from temporal_vector_database_spark.streaming.wordcount import (
        coverage_from_state,
    )

    return _serve_from_lm_states(
        spark,
        sf_dir,
        ("terms",),
        lambda docs, d: coverage_from_state(spark, d["terms"]),
    )


def _serve_from_series_state(spark, sf_dir, serve):
    """Events twin of ``_serve_from_lm_states`` (r11 wave 2): fold a
    deterministic 3-batch split of ``events`` (``event_id % 3`` — NOT
    time-ordered, so late arrivals are exercised) into the per-bucket
    series-sum state with the live foreachBatch fold
    (``streaming/correlation.py process_series_sum_batch``, versioned
    ``v=N`` commits), then hand the state dir to ``serve``. The state
    is purely additive integer sums, so stream==batch is exact and
    each gate's oracle is its batch twin's relational recomputation.
    Per-run temp dir, deleted once the serve has pinned the state."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.sources.tables import load_events
    from temporal_vector_database_spark.streaming.correlation import (
        process_series_sum_batch,
    )

    ev = load_events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="tvdb_series_stream_")
    try:
        state = os.path.join(root, "series")
        for bid in range(3):
            part = ev.where(F.pmod(F.col("event_id"), F.lit(3)) == bid)
            process_series_sum_batch(part, bid, state)
        return serve(state)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_events_type_corr_stream(spark, sf_dir):
    """r11 wave 2: pairwise Pearson SERVED from the maintained
    per-bucket series-sum state (``correlation_from_state`` — exact
    BIGINT moments derived on the read side, never rescanning events).
    Oracle = the ``events_type_corr`` relational recomputation
    (stream==batch exact: the state is additive integer sums). The
    state table must be pinned here: the serve reads it twice (both
    sides of the pair join) and each reference would re-run the fold's
    parquet read."""
    from temporal_vector_database_spark.streaming.correlation import (
        correlation_from_state,
        read_series_state,
    )

    return _serve_from_series_state(
        spark,
        sf_dir,
        lambda state: correlation_from_state(
            read_series_state(spark, state).localCheckpoint()
        ),
    )


def q_events_acf_stream(spark, sf_dir):
    """r11 wave 2: per-series autocorrelation (lags 1..3) SERVED from
    the SAME maintained series-sum state as the correlation serve —
    two analytics off one maintenance stream. Oracle = the
    ``events_acf`` relational recomputation."""
    from temporal_vector_database_spark.streaming.correlation import (
        acf_from_state,
    )

    return _serve_from_series_state(
        spark,
        sf_dir,
        lambda state: acf_from_state(spark, state, max_lag=3),
    )


def q_source_overlap_stream(spark, sf_dir):
    """r11 wave 3: cross-source overlap ESTIMATES served from the
    incrementally maintained per-source MinHash signature state
    (mergeable minima — folding document batches then comparing
    signatures is bit-equal to one-shot signatures over everything
    streamed). 3-batch deterministic split (doc_id % 3), live
    ``process_source_sig_batch`` fold, per-run temp state dir. Oracle
    = the estimator half of the ``source_overlap`` recomputation (the
    batch gate additionally publishes the exact-Jaccard columns the
    signature state deliberately does not carry)."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.streaming.sourcesig import (
        process_source_sig_batch,
        read_source_overlap_estimates,
    )

    docs = _documents(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="tvdb_sourcesig_stream_")
    try:
        state = os.path.join(root, "sig")
        for bid in range(3):
            part = docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == bid)
            process_source_sig_batch(part, bid, state)
        # the serve reads the committed head once per join side; the
        # result is collected by the driver after cleanup, so pin the
        # k-source output (the multi-consumer state-serve discipline)
        return read_source_overlap_estimates(spark, state).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _serve_from_neardup_edges(spark, sf_dir, serve):
    """Graph-analytics twin of ``_serve_from_lm_states`` (r11 wave 3):
    fold the sign-band LSH near-dup PAIR set into the canonical edge
    state in 3 deterministic batches (``(a_id + b_id) % 3`` — edges,
    not documents, because in production the pairs arrive from the
    streaming dedup emitter as documents land), then hand the state
    dir to ``serve``. The folded state is the distinct canonical edge
    set, identical to the batch build regardless of split, so each
    serve is bit-equal to its batch twin and shares its oracle."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.operators.dedup import (
        embedding_near_duplicates,
    )
    from temporal_vector_database_spark.streaming.graph import (
        process_edges_batch,
    )

    emb = _quantized_embeddings(spark, sf_dir)
    pairs = embedding_near_duplicates(emb, min_cosine=0.4).localCheckpoint()
    root = tempfile.mkdtemp(prefix="tvdb_edges_stream_")
    try:
        state = os.path.join(root, "edges")
        for bid in range(3):
            part = pairs.where(
                F.pmod(F.col("a_id") + F.col("b_id"), F.lit(3)) == bid
            )
            process_edges_batch(part, bid, state)
        return serve(state)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_events_ohlc_stream(spark, sf_dir):
    """r11 wave 5: daily OHLC bars SERVED from the maintained mergeable
    extremum state (``ohlc_report`` over the folded ``ohlc_state``
    partials — first/last/min/max structs are associative, so the
    ``event_id % 3`` split, late arrivals included, lands on the batch
    bars exactly). Oracle = the ``events_ohlc`` relational
    recomputation."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.operators.timeseries import ohlc_report
    from temporal_vector_database_spark.sources.tables import load_events
    from temporal_vector_database_spark.streaming.ohlc import (
        process_ohlc_batch,
        read_ohlc_state,
    )

    ev = load_events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="tvdb_ohlc_stream_")
    try:
        state = os.path.join(root, "ohlc")
        for bid in range(3):
            part = ev.where(F.pmod(F.col("event_id"), F.lit(3)) == bid)
            process_ohlc_batch(part, bid, state)
        return ohlc_report(read_ohlc_state(spark, state)).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_version_rollup_report_stream(spark, sf_dir):
    """r11 wave 5: the hypertable rollup REPORT served from the
    maintained rollup state — three append batches of the versions
    table fold through ``process_rollup_batch`` (every state column
    mergeable: sum/sum/sum/sum/max/sum), the read-side projection
    derives the timestamp + double columns. Oracle = the
    ``version_rollup_report`` relational recomputation."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.operators.rollup import rollup_report
    from temporal_vector_database_spark.streaming.rollup import (
        process_rollup_batch,
        read_rollup_state,
    )

    v = _versions(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="tvdb_rollup_stream_")
    try:
        state = os.path.join(root, "rollup")
        for bid, cond in enumerate(
            (F.col("seq") <= 4, (F.col("seq") > 4) & (F.col("seq") <= 8),
             F.col("seq") > 8)
        ):
            process_rollup_batch(v.where(cond), bid, state)
        return rollup_report(read_rollup_state(spark, state)).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_events_counter_rate_stream(spark, sf_dir):
    """r11 wave 5: Prometheus-style counter increase/rate SERVED from
    the maintained (buckets, last-sample) state — folded over three
    TIME-ORDERED micro-batches (the counter arrival contract: reset
    detection needs each batch's first delta seeded from the previous
    batch's last sample, so the split is by event-time terciles, not
    by id hash). Oracle = the ``events_counter_rate`` relational
    recomputation."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.sources.tables import load_events
    from temporal_vector_database_spark.streaming.counter import (
        counter_report,
        process_counter_batch,
        read_counter_state,
    )

    ev = load_events(spark, sf_dir)
    lo, hi = events_ts_range(spark, sf_dir)
    b1 = lo + (hi - lo) // 3
    b2 = lo + 2 * (hi - lo) // 3
    root = tempfile.mkdtemp(prefix="tvdb_counter_stream_")
    try:
        state = os.path.join(root, "counter")
        for bid, cond in enumerate(
            (F.col("ts_ms") < b1,
             (F.col("ts_ms") >= b1) & (F.col("ts_ms") < b2),
             F.col("ts_ms") >= b2)
        ):
            process_counter_batch(ev.where(cond), bid, state)
        buckets, _last = read_counter_state(spark, state)
        return counter_report(buckets, 86_400_000, 1000).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_bloom_decontaminate_stream(spark, sf_dir):
    """r11 wave 5: Bloom decontamination SERVED from the maintained
    eval-positions state — the eval suite folds in three batches
    (bit-position set union is associative), then the train corpus
    probes the COMPLETE committed filter in three batches whose
    reports union to the batch answer (probe order is irrelevant once
    the eval state is complete — the monotone-flags property is pinned
    separately in tests). Oracle = the ``bloom_decontaminate``
    relational recomputation."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.streaming.bloom import (
        process_eval_bloom_batch,
        process_probe_batch,
        read_probe_reports,
    )

    docs = _documents(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    root = tempfile.mkdtemp(prefix="tvdb_bloom_stream_")
    try:
        state = os.path.join(root, "positions")
        out = os.path.join(root, "reports")
        for bid in range(3):
            process_eval_bloom_batch(
                ev.where(F.pmod(F.col("doc_id"), F.lit(3)) == bid), bid, state
            )
        for bid in range(3):
            process_probe_batch(
                train.where(F.pmod(F.col("doc_id"), F.lit(3)) == bid),
                bid,
                state,
                out,
                min_hits=2,
            )
        return (
            read_probe_reports(spark, out)
            .select(
                "doc_id", "n_ngrams", "n_bloom_hits", "bloom_frac",
                "is_contaminated",
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_events_scd2_snapshot_stream(spark, sf_dir):
    """r11 wave 5: the SCD2 as-of snapshot SERVED from the maintained
    interval store — events fold in three ``event_id % 3`` batches
    (late updates land mid-history and the touched keys rebuild from
    their full raw slice, the store's contract), then the snapshot at
    the corpus-midpoint millisecond reads the store. Oracle = the
    ``events_scd2_snapshot`` relational recomputation."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.operators.temporal import scd2_snapshot
    from temporal_vector_database_spark.sources.tables import load_events
    from temporal_vector_database_spark.streaming.scd2 import (
        process_scd2_batch,
        read_scd2_store,
    )

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", "ts_ms", "event_type"
    )
    lo, hi = events_ts_range(spark, sf_dir)
    mid = (int(lo) + int(hi)) // 2
    root = tempfile.mkdtemp(prefix="tvdb_scd2_stream_")
    try:
        store = os.path.join(root, "scd2")
        for bid in range(3):
            part = ev.where(F.pmod(F.col("event_id"), F.lit(3)) == bid)
            process_scd2_batch(part, bid, store)
        snap = scd2_snapshot(read_scd2_store(spark, store), mid).select(
            "user_id", F.col("valid_from").alias("valid_from_ms"), "event_type"
        )
        return snap.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_heavy_hitters_stream(spark, sf_dir):
    """r11 wave 5: heavy hitters SERVED from the maintained Misra-Gries
    summary state. MG raw counters are stream-order-dependent and
    deliberately unpublished — but the gate's contract is order-PROOF:
    the streamed summary's candidate set is deficit-bounded (MG merge
    across batches preserves the guarantee), so it contains every true
    heavy hitter, exactly like the batch op's per-partition candidate
    set; the published rows are the candidates' EXACT corpus counts
    over the N/(k+1) threshold, and that filter canonicalizes BOTH
    candidate supersets to the identical true-heavy-hitter set. Oracle
    = the ``heavy_hitters_sketch`` relational recomputation."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.operators.textindex import (
        _gram_stream,
    )
    from temporal_vector_database_spark.streaming.heavyhitters import (
        hh_candidates,
        process_hh_batch,
    )

    docs = _documents(spark, sf_dir)
    skewed = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.expr("repeat(' hot gram', 40)")),
        ).otherwise(F.col("text")),
    )
    kt = 64
    root = tempfile.mkdtemp(prefix="tvdb_hh_stream_")
    try:
        state = os.path.join(root, "hh")
        for bid in range(3):
            part = skewed.where(F.pmod(F.col("doc_id"), F.lit(3)) == bid)
            process_hh_batch(part, bid, state, k_track=kt)
        cands = (
            hh_candidates(spark, state, k_track=kt)
            .select("gram")
            .distinct()
            .localCheckpoint()
        )
        grams = _gram_stream(skewed, 2, "doc_id", "text")
        exact = (
            grams.join(F.broadcast(cands), "gram", "left_semi")
            .groupBy("gram")
            .agg(F.count("*").cast("long").alias("n_occurrences"))
        )
        total = grams.agg(F.count("*").cast("long").alias("n_grams"))
        return (
            exact.crossJoin(F.broadcast(total))
            .where(F.col("n_occurrences") * (kt + 1) > F.col("n_grams"))
            .select("gram", "n_occurrences", "n_grams")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_ivf_store_compact_loop(spark, sf_dir):
    """r11: the ANN-index MAINTENANCE loop under the oracle — the IVF
    twin of ``compaction_advisor_loop``: COPY the merge-on-read store
    fixture (base lists + uncompacted upsert batch − tombstone batch),
    run ``ivf_store_compact`` (affected-partition rewrite, logs
    cleared), then serve the same probe queries from the compacted
    layout. Compaction is serving-invariant by construction
    (latest-wins resolution happens either at read time or at rewrite
    time over identical rows), so this gate shares the
    ``ivf_store_topk`` oracle verbatim — a value drift in the rewrite
    is a red driver row. The compacted copy lives in a per-run temp
    dir; the k-row result is pinned before cleanup."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.operators.ivf_store import (
        ivf_store_compact,
        ivf_store_topk,
    )
    from temporal_vector_database_spark.sources.fixtures import (
        ensure_ivf_store_upserted,
    )

    store = ensure_ivf_store_upserted(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="tvdb_ivf_compact_")
    try:
        work = os.path.join(root, "store")
        shutil.copytree(store, work)
        ivf_store_compact(spark, work)
        emb = _quantized_embeddings(spark, sf_dir)
        queries = emb.where(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").cast("int").alias("query_id"), "embedding"
        )
        return ivf_store_topk(
            spark, work, queries, k=10, nprobe=2
        ).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_table_checksum_stream(spark, sf_dir):
    """r11 wave 4: per-source table fingerprints SERVED from the
    maintained checksum state — the replica-verification primitive
    maintained incrementally as append-only batches land (XOR + count
    fold is exact under any batch split). 3-batch ``doc_id % 3``
    split, live ``process_checksum_batch`` fold. Oracle = the
    ``table_checksum`` relational recomputation."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.streaming.checksum import (
        process_checksum_batch,
        read_checksum_state,
    )

    docs = _documents(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="tvdb_checksum_stream_")
    try:
        state = os.path.join(root, "cs")
        for bid in range(3):
            part = docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == bid)
            process_checksum_batch(
                part,
                bid,
                state,
                key_cols=("doc_id",),
                compare_cols=("text", "lang", "n_chars"),
                group_cols=("source",),
            )
        return read_checksum_state(spark, state).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_events_m4_stream(spark, sf_dir):
    """r11 wave 4: the M4 pixel-perfect downsample SERVED from the
    maintained mergeable extremum state (``m4_report`` over the folded
    ``m4_state`` partials — every column an associative min/max/sum,
    so the ``event_id % 3`` split, late arrivals included, lands on
    the batch answer exactly). Oracle = the ``events_m4`` relational
    recomputation."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.operators.timeseries import m4_report
    from temporal_vector_database_spark.sources.tables import load_events
    from temporal_vector_database_spark.streaming.m4 import (
        process_m4_batch,
        read_m4_state,
    )

    ev = load_events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="tvdb_m4_stream_")
    try:
        state = os.path.join(root, "m4")
        for bid in range(3):
            part = ev.where(F.pmod(F.col("event_id"), F.lit(3)) == bid)
            process_m4_batch(part, bid, state)
        return m4_report(read_m4_state(spark, state)).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_dsir_select_stream(spark, sf_dir):
    """r11 wave 4: DSIR top-200 selection SERVED from the two
    maintained model-count states (raw corpus + English target) — the
    data-mixture selector stays current as the crawl lands: per-batch
    cost is one gram pass, the λ table derives from the committed
    counts, and scoring uses the batch op's own core
    (``weights_from_lambda``). Oracle = the ``dsir_select`` relational
    recomputation."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.streaming.dsir import (
        dsir_select_from_state,
        process_dsir_counts_batch,
    )

    docs = _documents(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="tvdb_dsir_stream_")
    try:
        rdir = os.path.join(root, "raw")
        tdir = os.path.join(root, "target")
        for bid in range(3):
            part = docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == bid)
            process_dsir_counts_batch(part, bid, rdir)
            process_dsir_counts_batch(
                part.where(F.col("lang") == "en"), bid, tdir
            )
        out = dsir_select_from_state(spark, rdir, tdir, docs, k=200)
        # the serve's λ is pinned inside dsir_select_from_state; the
        # top-k result still reads docs (safe) — pin it anyway so the
        # driver's collect after cleanup never touches the temp dir
        return out.localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_cms_estimate_stream(spark, sf_dir):
    """r11 wave 4: Count-Min point estimates SERVED from the
    maintained additive counter state (``depth × width`` integer
    counters fold by per-bucket sum — exact under any batch split).
    The deterministic hot set (the probe list, k-bounded) is computed
    exactly as the batch op does; the ESTIMATES come from the folded
    state. Oracle = the ``cms_estimate_check`` relational
    recomputation."""
    import shutil
    import tempfile

    from temporal_vector_database_spark.streaming.cms import (
        cms_point_estimates,
        process_cms_batch,
        read_cms_state,
    )

    docs = _documents(spark, sf_dir)
    skewed = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.expr("repeat(' hot gram', 40)")),
        ).otherwise(F.col("text")),
    )
    kt, n, d, wdt = 64, 2, 4, 256
    root = tempfile.mkdtemp(prefix="tvdb_cms_stream_")
    try:
        state = os.path.join(root, "cms")
        for bid in range(3):
            part = skewed.where(F.pmod(F.col("doc_id"), F.lit(3)) == bid)
            process_cms_batch(part, bid, state, n=n, depth=d, width=wdt)
        counters, total = read_cms_state(spark, state, n=n, depth=d, width=wdt)
        counters = counters.localCheckpoint()
        from temporal_vector_database_spark.operators.textindex import (
            _gram_stream,
        )

        grams = _gram_stream(skewed, n, "doc_id", "text")
        exact = grams.groupBy("gram").agg(
            F.count("*").cast("long").alias("n_occurrences")
        )
        hot = (
            exact.crossJoin(F.broadcast(total.localCheckpoint()))
            .where(F.col("n_occurrences") * (kt + 1) > F.col("n_grams"))
            .select("gram", "n_occurrences", "n_grams")
        )
        est = cms_point_estimates(counters, hot, depth=d, width=wdt)
        return (
            hot.join(est, "gram")
            .select("gram", "n_occurrences", "cms_est", "n_grams")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_neardup_pagerank_stream(spark, sf_dir):
    """r11 wave 3: PageRank centrality SERVED from the maintained
    near-dup edge state (``pagerank_from_state``: symmetrize + the
    same BIGINT fixed-point iterations) — the canonical-doc ranking
    stays current as the crawl lands without re-running LSH. Oracle =
    the ``neardup_pagerank`` relational recomputation. The fixed-point
    result is pinned before cleanup (per-run temp state dir)."""
    from temporal_vector_database_spark.streaming.graph import (
        pagerank_from_state,
    )

    return _serve_from_neardup_edges(
        spark,
        sf_dir,
        lambda state: pagerank_from_state(spark, state, n_iter=3)
        .select(F.col("id").alias("vec_id"), "pr_units", "deg")
        .localCheckpoint(),
    )


def q_label_propagation_stream(spark, sf_dir):
    """r11 wave 3: semi-supervised label propagation SERVED from the
    SAME maintained edge state — second analytics off one maintenance
    stream (the pagerank serve's state discipline). Oracle = the
    ``label_propagation`` relational recomputation."""
    from temporal_vector_database_spark.streaming.graph import (
        label_propagation_from_state,
    )

    seeds = (
        _embeddings_raw(spark, sf_dir)
        .select(F.col("vec_id").cast("long").alias("id"))
        .where(F.col("id") % 17 == 0)
        .select(
            "id",
            F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias(
                "label"
            ),
        )
    )
    return _serve_from_neardup_edges(
        spark,
        sf_dir,
        lambda state: label_propagation_from_state(spark, state, seeds, n_iter=3)
        .select(F.col("id").alias("vec_id"), "label", "is_seed")
        .localCheckpoint(),
    )


def q_trigram_nll(spark, sf_dir):
    """r09: Jelinek-Mercer interpolated TRIGRAM LM quality score per
    doc — p(w3|w1w2) = (8/16)·c(w1w2w3)/c(w1w2·) + (5/16)·c(w2w3)/c(w2·)
    + (3/16)·c(w3)/N (dyadic λ; true continuation denominators), score
    = mean −ln p over the doc's trigrams (6 dp). The rung above
    bigram_nll on the CCNet-style self-estimated ladder."""
    from temporal_vector_database_spark.operators.textindex import (
        trigram_logprob_scores,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    return trigram_logprob_scores(docs)


def q_kneser_ney_nll(spark, sf_dir):
    """r09: interpolated Kneser-Ney bigram LM score per doc — absolute
    discount d=3/4 (dyadic) with continuation counts N1+(·w2)/N1+(··);
    the production n-gram smoothing beside the JM rungs. Oracle mirrors
    the exact expression shape (same assoc order) over the same
    vocabulary-bounded count tables."""
    from temporal_vector_database_spark.operators.textindex import (
        kneser_ney_logprob_scores,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    return kneser_ney_logprob_scores(docs)


def q_modified_kn_nll(spark, sf_dir):
    """r10 (VERDICT r09 #4): interpolated MODIFIED Kneser-Ney trigram
    LM score per doc — three count-dependent discounts per order
    estimated from that order's count-of-counts (Chen & Goodman 1999;
    the KenLM default), continuation-count bigram back-off, continuation
    unigram floor. Oracle mirrors the exact expression tree over the
    same vocabulary-bounded count tables."""
    from temporal_vector_database_spark.operators.textindex import (
        modified_kn_logprob_scores,
    )

    # r13 re-audit (VERDICT r12 #3): SPREAD confirmed — interleaved ×4
    # min 2.11 vs plain 2.34, and in-bench 2.01 (run A) vs 2.25 (run B,
    # on a faster-probe host); the r12-stamp contradiction was session
    # noise.
    docs = _documents_spread(spark, sf_dir).select(
        "doc_id", "text"
    )
    return modified_kn_logprob_scores(docs)


def q_perplexity_band(spark, sf_dir):
    """r09: middle-perplexity selection — keep the [25, 75) percent-
    rank band of the unigram LM score (drop boilerplate-easy and
    garble-hard tails); band membership by exact integer cross-
    multiplication, rank by the two-phase distributed global rank."""
    from temporal_vector_database_spark.operators.textindex import (
        perplexity_band_select,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    return perplexity_band_select(docs, 25, 75)


def q_vocab_coverage(spark, sf_dir):
    """r09: vocabulary coverage curve — share of corpus token
    occurrences covered by the top-V words (count desc, word asc) for
    V in {100, 1000, 10000}; the vocab-sizing report. One corpus pass,
    a vocabulary-bounded count table, the two-phase distributed rank
    (no single-task global window), one conditional-sum aggregate."""
    from temporal_vector_database_spark.operators.textindex import (
        vocab_coverage,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    return vocab_coverage(docs)


def q_tfidf_topterms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (score = tf · ln(N/df), ties by
    term). Per-doc window partitions only."""
    from temporal_vector_database_spark.operators.textindex import tfidf_top_terms

    docs = _documents_spread(spark, sf_dir).select(
        "doc_id", "text"
    )
    return tfidf_top_terms(docs, top_n=3)


def q_events_hopping(spark, sf_dir):
    """Hopping (sliding) window aggregate: 2h windows every 1h, so each
    event lands in exactly two windows — the batch twin of Structured
    Streaming's ``window(ts, '2 hours', '1 hour')``, in pure integer
    ``ts_ms`` math (TZ-free)."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    hour = 3_600_000
    off = F.explode(F.array(F.lit(0), F.lit(1))).alias("off")
    windows = ev.select("user_id", "value", "ts_ms", off).select(
        (
            (F.col("ts_ms") - F.col("ts_ms") % hour) - F.col("off") * hour
        ).alias("window_start_ms"),
        "user_id",
        "value",
    )
    return windows.groupBy("window_start_ms").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


def q_events_dedup_idempotent(spark, sf_dir):
    """Batch twin of streaming ``dropDuplicates``: dedupe by business
    key (user_id, event_type, ts_ms), pinning the SURVIVOR as the min
    event_id (group-by, not ``dropDuplicates``, whose survivor is
    partition-order-dependent). The gate injects duplicate rows (same
    key, new event_id) on both engines so group sizes exercise > 1."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select("event_id", "user_id", "event_type", "ts_ms")
    dupes = ev.where(F.col("event_id") % 100 == 0).withColumn(
        "event_id", F.col("event_id") + F.lit(10_000_000)
    )
    return (
        ev.unionByName(dupes)
        .groupBy("user_id", "event_type", "ts_ms")
        .agg(
            F.min("event_id").cast("bigint").alias("kept_event_id"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
    )


def q_events_approx_distinct(spark, sf_dir):
    """Distinct-user sketch gate: per event type, exact distinct count
    plus a boolean pinning Spark's HLL++ (``approx_count_distinct``,
    rsd 0.01) within 5% of exact. The oracle asserts the exact count and
    ``approx_ok = true`` — a bounded-error contract the driver can hash,
    for a sketch no two engines compute identically."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("approx_ok"),
        )
    )


def q_edit_distance_pairs_short(spark, sf_dir):
    """Short-text edit-distance join gate: texts truncated to lengths
    3/9/15/21, so the corpus mixes docs below the q-gram soundness bound
    (<= q·k distinct grams → direct banded-verify fallback) with docs on
    the prefix-filter path — and the ORACLE is the brute-force
    definition (all pairs, length band, levenshtein), not a plan mirror:
    the operator's recall is checked against ground truth."""
    from temporal_vector_database_spark.operators.dedup import edit_distance_pairs

    docs = (
        _documents(spark, sf_dir)
        .where(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.expr("substring(text, 1, 3 + CAST(doc_id % 4 AS INT) * 6)").alias("text"),
        )
    )
    return edit_distance_pairs(docs, max_dist=2, q=4)


def q_lineitem_stat_aggs(spark, sf_dir):
    """Statistical aggregates per return flag: sample stddev/variance of
    quantity, correlation and covariance of (quantity, linenumber).
    Integer-valued inputs keep the co-moment sums exact in double, so the
    merge-order of partial states cannot move the rounded outputs."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
            F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
            F.round(F.corr("l_quantity", "l_linenumber"), 6).alias("qty_line_corr"),
            F.round(F.covar_samp("l_quantity", "l_linenumber"), 6).alias("qty_line_covar"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Oracle SQL (DuckDB dialect; fixture tables by absolute path, driver tables
# by pre-registered view name). {FIX} is replaced with the fixture dir.
# --------------------------------------------------------------------------

_V = "read_parquet('{FIX}/versions.parquet')"
_VOK = f"(SELECT * FROM {_V} WHERE content_id NOT LIKE 'corrupt%')"
_RAWOK = "(SELECT * FROM read_parquet('{FIX}/versions_raw.parquet') WHERE content_id NOT LIKE 'corrupt%')"

_RECON_CTE = f"""
WITH v AS (SELECT * FROM {_VOK}),
tagged AS (
  SELECT content_id, seq, kind, sparse_idx, sparse_val, magnitude, n_changed, total_dims, version_id,
         max(CASE WHEN kind='base' THEN seq END)
           OVER (PARTITION BY content_id ORDER BY seq ROWS UNBOUNDED PRECEDING) AS base_seq
  FROM v
),
targets AS (
  SELECT content_id, seq AS target_seq, base_seq FROM tagged WHERE base_seq IS NOT NULL
),
bases AS (
  SELECT content_id, seq AS base_seq,
         list_sum(embedding) AS base_sum,
         list_sum(list_transform(embedding, (x, i) -> x * i)) AS base_wsum
  FROM v WHERE kind='base'
),
deltas AS (
  SELECT content_id, base_seq, seq AS delta_seq, sparse_idx, sparse_val, magnitude, n_changed, total_dims
  FROM tagged WHERE kind='delta'
),
jd AS (
  SELECT t.content_id, t.target_seq, t.base_seq, d.delta_seq, d.sparse_idx, d.sparse_val,
         d.magnitude, d.n_changed, d.total_dims
  FROM targets t JOIN deltas d
    ON t.content_id = d.content_id AND t.base_seq = d.base_seq AND d.delta_seq <= t.target_seq
),
dstats AS (
  SELECT content_id, target_seq, base_seq,
         CAST(count(*) AS INTEGER) AS cost,
         avg(magnitude) AS avg_magnitude,
         avg(CAST(n_changed AS DOUBLE) / total_dims) AS avg_sparsity
  FROM jd GROUP BY 1, 2, 3
),
expl AS (
  SELECT content_id, target_seq, base_seq, unnest(sparse_idx) AS idx, unnest(sparse_val) AS val FROM jd
),
dsums AS (
  SELECT content_id, target_seq, base_seq,
         sum(val) AS delta_sum, sum(val * (idx + 1)) AS delta_wsum
  FROM expl GROUP BY 1, 2, 3
),
recon AS (
  SELECT t.content_id, t.target_seq, t.base_seq,
         COALESCE(ds.cost, 0) AS cost,
         ds.avg_magnitude, ds.avg_sparsity,
         b.base_sum + COALESCE(dm.delta_sum, 0.0) AS emb_sum,
         b.base_wsum + COALESCE(dm.delta_wsum, 0.0) AS emb_wsum
  FROM targets t
  JOIN bases b ON t.content_id = b.content_id AND t.base_seq = b.base_seq
  LEFT JOIN dstats ds ON t.content_id = ds.content_id AND t.target_seq = ds.target_seq
  LEFT JOIN dsums dm ON t.content_id = dm.content_id AND t.target_seq = dm.target_seq
)
"""

_QUALITY_EXPR = """
  CASE WHEN cost = 0 THEN 0.0
       ELSE cost * 0.0005 * (1.0 + COALESCE(avg_magnitude, 0.0) * 0.05)
            * (CASE WHEN cost < 5 THEN 0.9 ELSE 1.0 END) END
"""

ORACLES: dict[str, str] = {}

ORACLES["list_contents"] = f"SELECT DISTINCT content_id FROM {_V} ORDER BY content_id"

ORACLES["ingest_encode"] = f"""
SELECT content_id, seq, kind, from_seq, n_changed, magnitude,
       list_sum(embedding) AS esum, list_sum(sparse_val) AS vsum
FROM {_VOK}
"""

# r07: the late-ingest final-state contract. The expected state is the
# committed all-at-once encode of the supra-threshold late fixture
# (versions_late_full.parquet, independent fixture encoder); the Spark
# side re-derives it through the full out-of-order path (ingest early →
# reconstruct → merge late → re-encode). Dyadic 2^-6 grid → all sums
# exact → esum/vsum order-independent bit-equal; magnitude is numpy
# sqrt over exact diffs in both encoders.
ORACLES["ingest_late"] = """
SELECT content_id, seq, kind, from_seq, n_changed, magnitude, version_id,
       list_sum(embedding) AS esum, list_sum(sparse_val) AS vsum
FROM read_parquet('{FIX}/versions_late_full.parquet')
"""

ORACLES["events_changepoint"] = """
WITH base AS (
  SELECT event_type AS k,
         CAST(round(value * 1000) AS BIGINT) AS v,
         ts_ms AS _ts, event_id AS _id
  FROM (SELECT *, epoch_ms(ts) AS ts_ms FROM events)
),
stats AS (
  SELECT k, CAST(count(*) AS BIGINT) AS _n, CAST(sum(v) AS BIGINT) AS _s
  FROM base GROUP BY 1
),
cum AS (
  SELECT b.k, s._n,
         s._n * sum(b.v) OVER (PARTITION BY b.k ORDER BY b._ts, b._id
                               ROWS UNBOUNDED PRECEDING)
           - CAST(row_number() OVER (PARTITION BY b.k ORDER BY b._ts, b._id)
                  AS BIGINT) * s._s AS c,
         b._ts,
         CAST(row_number() OVER (PARTITION BY b.k ORDER BY b._ts, b._id)
              AS BIGINT) AS t
  FROM base b JOIN stats s ON b.k = s.k
),
pk AS (
  SELECT k, _n, abs(c) AS absc, _ts, t,
         row_number() OVER (PARTITION BY k
                            ORDER BY abs(c) DESC, _ts ASC, t ASC) AS rn
  FROM cum
)
SELECT k AS event_type, _n AS n_events,
       CAST(absc AS DOUBLE) / CAST(_n * 1000 AS DOUBLE) AS cusum_peak,
       _ts AS peak_ts_ms,
       CAST(t AS DOUBLE) / CAST(_n AS DOUBLE) AS peak_frac
FROM pk WHERE rn = 1
"""

ORACLES["events_robust_stats"] = """
WITH base AS (
  SELECT event_type AS k,
         CAST(round(value * 1000000) AS BIGINT) AS v, event_id AS _id
  FROM events
),
counts AS (SELECT k, CAST(count(*) AS BIGINT) AS _n FROM base GROUP BY 1),
ranked AS (
  SELECT b.*, c._n,
         row_number() OVER (PARTITION BY b.k ORDER BY b.v, b._id) AS rn
  FROM base b JOIN counts c ON b.k = c.k
),
agg1 AS (
  SELECT k, _n,
         CAST(sum(CASE WHEN rn = (_n + 1) // 2 THEN v ELSE 0 END)
            + sum(CASE WHEN rn = (_n + 2) // 2 THEN v ELSE 0 END) AS BIGINT) AS med2x,
         CAST(sum(CASE WHEN rn > _n // 10 AND rn <= _n - _n // 10
                  THEN v ELSE 0 END) AS BIGINT) AS trim_sum
  FROM ranked GROUP BY 1, 2
),
dev AS (
  SELECT r.k, r._n, abs(r.v * 2 - a.med2x) AS d2, r._id
  FROM ranked r JOIN agg1 a ON r.k = a.k
),
devr AS (
  SELECT *, row_number() OVER (PARTITION BY k ORDER BY d2, _id) AS drn FROM dev
),
agg2 AS (
  SELECT k, _n,
         CAST(sum(CASE WHEN drn = (_n + 1) // 2 THEN d2 ELSE 0 END)
            + sum(CASE WHEN drn = (_n + 2) // 2 THEN d2 ELSE 0 END) AS BIGINT) AS mad4x
  FROM devr GROUP BY 1, 2
)
SELECT a.k AS event_type, a._n AS n_events,
       CAST(a.med2x AS DOUBLE) / 2000000.0 AS median,
       CAST(a.trim_sum AS DOUBLE)
         / CAST((a._n - 2 * (a._n // 10)) * 1000000 AS DOUBLE) AS trimmed_mean,
       CAST(g.mad4x AS DOUBLE) / 4000000.0 AS mad
FROM agg1 a JOIN agg2 g ON a.k = g.k AND a._n = g._n
"""

ORACLES["nearest_base"] = f"""
SELECT content_id, seq,
       max(CASE WHEN kind='base' THEN seq END)
         OVER (PARTITION BY content_id ORDER BY seq ROWS UNBOUNDED PRECEDING) AS base_seq
FROM {_V}
"""

ORACLES["reconstruct_all"] = (
    _RECON_CTE + "SELECT content_id, target_seq, base_seq, cost, emb_sum, emb_wsum FROM recon"
)

# r07: the snapshot-export read-back — recompute the as-of state at
# max(ts of any seq-7 row) from raw versions; equality with the
# persisted export gates resolve → fold → write → read end-to-end.
ORACLES["snapshot_read"] = (
    _RECON_CTE
    + """
, tq AS (SELECT max(ts) AS t FROM v WHERE seq = 7),
res AS (
  SELECT content_id, max(seq) AS target_seq
  FROM v, tq WHERE v.ts <= tq.t GROUP BY content_id
)
SELECT r.content_id, r.target_seq, rc.base_seq, rc.cost,
       rc.emb_sum AS esum, rc.emb_wsum AS ewsum
FROM res r
JOIN recon rc ON r.content_id = rc.content_id AND r.target_seq = rc.target_seq
"""
)

ORACLES["reconstruct_latest"] = (
    _RECON_CTE
    + f"""
, latest AS (SELECT content_id, max(target_seq) AS target_seq FROM recon GROUP BY 1),
lrec AS (SELECT r.* FROM recon r JOIN latest l USING (content_id, target_seq)),
q AS (
  SELECT *, {_QUALITY_EXPR} AS error_bound,
         (target_seq - base_seq) AS base_distance
  FROM lrec
)
SELECT content_id, target_seq, base_seq, cost,
       round(avg_magnitude, 9) AS avg_mag_r,
       round(error_bound, 9) AS error_bound_r,
       round(CASE WHEN cost = 0 THEN 1.0 ELSE
         least(1.0, greatest(0.0,
           greatest(0.0, 1.0 - (CAST(cost AS DOUBLE) / 15.0) * 0.3)
           * greatest(0.7, 1.0 - (CAST(base_distance AS DOUBLE) / 20.0) * 0.3)
           * greatest(0.5, 1.0 - error_bound * 20.0)
           * (CASE WHEN cost < 8 THEN 1.1 ELSE 1.0 END)))
       END, 9) AS quality_r,
       emb_sum
FROM q
"""
)

ORACLES["compaction_invariance"] = (
    _RECON_CTE + "SELECT content_id, target_seq, emb_sum, emb_wsum FROM recon"
)

# r11 (VERDICT r10 #5): advisor → promote → re-advise loop. Post-
# compaction base placement recomputed structurally: new bases = old
# bases ∪ over-bar (cost > 10) seqs; the governing new base is a
# running max over seq order; post cost = row-number distance to it
# (every version row between the governing new base and the target is
# a surviving delta). Value sums come from the UNCOMPACTED recon CTE —
# promote_bases is reconstruction-preserving by construction, so
# equality here IS the invariance check.
ORACLES["compaction_advisor_loop"] = (
    _RECON_CTE
    + """
, promo AS (SELECT content_id, target_seq FROM recon WHERE cost > 10),
allv AS (
  SELECT t.content_id, t.seq,
         CASE WHEN t.kind = 'base' OR p.target_seq IS NOT NULL
              THEN 1 ELSE 0 END AS is_nb
  FROM v t LEFT JOIN promo p
    ON t.content_id = p.content_id AND t.seq = p.target_seq
),
pb AS (
  SELECT content_id, seq,
         max(CASE WHEN is_nb = 1 THEN seq END)
           OVER (PARTITION BY content_id ORDER BY seq
                 ROWS UNBOUNDED PRECEDING) AS post_base,
         row_number() OVER (PARTITION BY content_id ORDER BY seq) AS rn
  FROM allv
),
pc AS (
  SELECT a.content_id, a.seq AS target_seq,
         CAST(a.rn - b.rn AS INTEGER) AS post_cost
  FROM pb a JOIN pb b
    ON a.content_id = b.content_id AND a.post_base = b.seq
),
np AS (
  SELECT content_id, CAST(count(*) AS BIGINT) AS n_promoted
  FROM promo GROUP BY 1
)
SELECT r.content_id,
       CAST(count(*) AS BIGINT) AS n_versions,
       CAST(COALESCE(max(np.n_promoted), 0) AS BIGINT) AS n_promoted,
       CAST(max(pc.post_cost) AS INTEGER) AS max_cost_after,
       CAST(sum(CASE WHEN pc.post_cost > 10 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_resid,
       sum(r.emb_sum) AS emb_sum_total,
       sum(r.emb_wsum) AS emb_wsum_total
FROM recon r
JOIN pc ON r.content_id = pc.content_id AND r.target_seq = pc.target_seq
LEFT JOIN np ON r.content_id = np.content_id
GROUP BY r.content_id
"""
)

ORACLES["asof_resolve"] = """
WITH probes AS (SELECT * FROM read_parquet('{FIX}/asof_probes.parquet')),
v AS (SELECT content_id, seq, ts FROM read_parquet('{FIX}/versions.parquet')),
resolved AS (
  SELECT p.probe_id, max(v.seq) AS target_seq
  FROM probes p JOIN v ON p.content_id = v.content_id AND v.ts <= p.t
  GROUP BY p.probe_id
)
SELECT p.probe_id, p.content_id, p."case", r.target_seq
FROM probes p LEFT JOIN resolved r ON p.probe_id = r.probe_id
"""

# time-travel search: as-of resolve per content, reconstruct at the
# governing version, cosine top-k — sim recomputed from decomposed
# base+delta dot/norm sums (exact on the dyadic fixture grid)
ORACLES["search_asof"] = """
WITH v AS (SELECT * FROM read_parquet('{FIX}/versions.parquet')),
tq AS (SELECT max(ts) AS t FROM v WHERE seq = 7),
res AS (
  SELECT v.content_id, max(v.seq) AS target_seq
  FROM v, tq WHERE v.ts <= tq.t GROUP BY v.content_id
),
tagged AS (
  SELECT content_id, seq, kind, sparse_idx, sparse_val, embedding,
         max(CASE WHEN kind='base' THEN seq END)
           OVER (PARTITION BY content_id ORDER BY seq ROWS UNBOUNDED PRECEDING) AS base_seq
  FROM v
),
tgt AS (
  SELECT r.content_id, r.target_seq, t.base_seq
  FROM res r JOIN tagged t ON r.content_id = t.content_id AND r.target_seq = t.seq
  WHERE t.base_seq IS NOT NULL
),
bstat AS (
  SELECT g.content_id, g.target_seq, b.embedding AS bemb,
         list_sum(list_transform(b.embedding, x -> x * x)) AS b2
  FROM tgt g JOIN v b
    ON g.content_id = b.content_id AND g.base_seq = b.seq AND b.kind = 'base'
),
dexp AS (
  SELECT g.content_id, unnest(d.sparse_idx) AS idx, unnest(d.sparse_val) AS val
  FROM tgt g JOIN tagged d
    ON g.content_id = d.content_id AND d.kind = 'delta'
   AND d.base_seq = g.base_seq AND d.seq <= g.target_seq
),
adds AS (SELECT content_id, idx, sum(val) AS add FROM dexp GROUP BY 1, 2),
q AS (
  SELECT query_id, k, embedding AS qe,
         sqrt(list_sum(list_transform(embedding, x -> x * x))) AS nq
  FROM read_parquet('{FIX}/queries_vec.parquet')
),
bd AS (
  SELECT q.query_id, q.k, q.nq, q.qe, s.content_id, s.b2, s.bemb,
         list_sum(list_transform(list_zip(q.qe, s.bemb), x -> x[1] * x[2])) AS bdot
  FROM bstat s CROSS JOIN q
),
dotadd AS (
  SELECT q.query_id, a.content_id,
         sum(list_extract(q.qe, a.idx + 1) * a.add) AS dadd
  FROM adds a CROSS JOIN q GROUP BY 1, 2
),
nrmadd AS (
  SELECT a.content_id,
         sum(2 * list_extract(s.bemb, a.idx + 1) * a.add + a.add * a.add) AS n2add
  FROM adds a JOIN bstat s ON a.content_id = s.content_id GROUP BY 1
),
scored AS (
  SELECT b.query_id, b.k, b.content_id,
         CASE WHEN b.nq > 0 AND sqrt(b.b2 + COALESCE(n.n2add, 0)) > 0
              THEN (b.bdot + COALESCE(da.dadd, 0))
                   / (b.nq * sqrt(b.b2 + COALESCE(n.n2add, 0)))
              ELSE 0.0 END AS sim
  FROM bd b
  LEFT JOIN dotadd da ON b.query_id = da.query_id AND b.content_id = da.content_id
  LEFT JOIN nrmadd n ON b.content_id = n.content_id
),
ranked AS (
  SELECT query_id, content_id, sim, k,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, content_id) AS INTEGER) AS rank
  FROM scored WHERE sim > 0
)
SELECT query_id, rank, content_id, sim FROM ranked WHERE rank <= k
"""

ORACLES["version_id_parse"] = f"""
SELECT version_id,
       regexp_extract(version_id, '^(.*)_v(\\d+)$', 1) AS parsed_content_id,
       CAST(regexp_extract(version_id, '^(.*)_v(\\d+)$', 2) AS INTEGER) AS parsed_seq
FROM {_V} WHERE kind = 'delta'
"""

ORACLES["topk_search"] = f"""
WITH b AS (
  SELECT content_id, seq, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x * x))) AS nb
  FROM {_V} WHERE kind='base'
),
q AS (
  SELECT query_id, k, embedding AS qe,
         sqrt(list_sum(list_transform(embedding, x -> x * x))) AS nq
  FROM read_parquet('{{FIX}}/queries_vec.parquet')
),
scored AS (
  SELECT q.query_id, q.k, b.content_id, b.seq,
         -- NULL-tolerant dot (list_dot_product is evaluated speculatively on
         -- pre-filter rows whose embedding is NULL and raises); sums are
         -- exact on the fixture grid, so any formulation gives identical bits
         CASE WHEN q.nq > 0 AND b.nb > 0
              THEN list_sum(list_transform(list_zip(q.qe, b.embedding), x -> x[1] * x[2])) / (q.nq * b.nb)
              ELSE 0.0 END AS sim
  FROM b CROSS JOIN q
),
ranked AS (
  SELECT query_id, content_id, seq, sim, k,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, content_id, seq) AS INTEGER) AS rank
  FROM scored WHERE sim > 0
)
SELECT query_id, rank, content_id, seq, sim FROM ranked WHERE rank <= k
"""

ORACLES["integrity_report"] = f"""
WITH v AS (SELECT * FROM {_V}),
summary AS (
  SELECT content_id,
         CAST(max(seq) AS INTEGER) AS max_sequence,
         CAST(CAST(sum(CASE WHEN kind='base' THEN 1 ELSE 0 END) AS BIGINT) AS INTEGER) AS base_snapshots,
         CAST(CAST(sum(CASE WHEN kind='delta' THEN 1 ELSE 0 END) AS BIGINT) AS INTEGER) AS deltas
  FROM v GROUP BY 1
),
expected AS (
  SELECT content_id, unnest(range(1, max_sequence + 1)) AS seq FROM summary
),
missing AS (
  SELECT e.content_id, CAST(count(*) AS INTEGER) AS n_missing
  FROM expected e LEFT JOIN v ON e.content_id = v.content_id AND e.seq = v.seq
  WHERE v.seq IS NULL GROUP BY 1
),
dangling AS (
  SELECT d.content_id, CAST(count(*) AS INTEGER) AS n_dangling
  FROM (SELECT content_id, seq, from_seq FROM v WHERE kind='delta') d
  LEFT JOIN v p ON d.content_id = p.content_id AND d.from_seq = p.seq
  WHERE p.seq IS NULL GROUP BY 1
),
gaps AS (
  SELECT content_id, CAST(max(gap) AS INTEGER) AS max_base_gap FROM (
    SELECT content_id, seq - lag(seq) OVER (PARTITION BY content_id ORDER BY seq) AS gap
    FROM v WHERE kind='base'
  ) WHERE gap IS NOT NULL GROUP BY 1
)
SELECT s.content_id, s.max_sequence, s.base_snapshots, s.deltas,
       COALESCE(m.n_missing, 0) AS n_missing,
       COALESCE(d.n_dangling, 0) AS n_dangling,
       g.max_base_gap,
       (COALESCE(m.n_missing, 0) = 0 AND COALESCE(d.n_dangling, 0) = 0) AS valid,
       COALESCE(g.max_base_gap > 20, false) AS large_gap
FROM summary s
LEFT JOIN missing m USING (content_id)
LEFT JOIN dangling d USING (content_id)
LEFT JOIN gaps g USING (content_id)
"""

ORACLES["change_stats"] = f"""
SELECT content_id,
       CAST(max(seq) AS INTEGER) AS max_sequence,
       CAST(CAST(sum(CASE WHEN kind='base' THEN 1 ELSE 0 END) AS BIGINT) AS INTEGER) AS base_count,
       CAST(CAST(sum(CASE WHEN kind='delta' THEN 1 ELSE 0 END) AS BIGINT) AS INTEGER) AS delta_count,
       round(avg(CASE WHEN kind='delta' THEN magnitude END), 9) AS avg_mag_r,
       max(CASE WHEN kind='delta' THEN magnitude END) AS max_change_magnitude,
       min(CASE WHEN kind='delta' THEN magnitude END) AS min_change_magnitude
FROM {_V} GROUP BY 1
"""

ORACLES["storage_stats"] = f"""
WITH per_content AS (
  SELECT content_id,
         CAST(sum(CASE WHEN kind='base' THEN 1 ELSE 0 END) AS BIGINT) AS bases,
         CAST(sum(CASE WHEN kind='delta' THEN 1 ELSE 0 END) AS BIGINT) AS deltas
  FROM {_V} GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS total_contents,
       CAST(sum(bases) AS BIGINT) AS total_base_snapshots,
       CAST(sum(deltas) AS BIGINT) AS total_deltas,
       avg(bases + deltas) AS avg_versions_per_content
FROM per_content
"""

ORACLES["storage_efficiency"] = f"""
SELECT CAST(sum(total_dims) AS DOUBLE) /
       CAST(sum(CASE WHEN kind='base' THEN total_dims ELSE 2 * COALESCE(n_changed, 0) END) AS DOUBLE)
       AS storage_efficiency
FROM {_V}
"""

ORACLES["reconstruction_stats"] = (
    _RECON_CTE
    + f"""
, q AS (
  SELECT *, {_QUALITY_EXPR} AS error_bound, (target_seq - base_seq) AS base_distance FROM recon
),
q2 AS (
  SELECT *,
         CASE WHEN cost = 0 THEN 1.0 ELSE
           least(1.0, greatest(0.0,
             greatest(0.0, 1.0 - (CAST(cost AS DOUBLE) / 15.0) * 0.3)
             * greatest(0.7, 1.0 - (CAST(base_distance AS DOUBLE) / 20.0) * 0.3)
             * greatest(0.5, 1.0 - error_bound * 20.0)
             * (CASE WHEN cost < 8 THEN 1.1 ELSE 1.0 END)))
         END AS quality_score
  FROM q
)
SELECT content_id,
       CAST(count(*) AS INTEGER) AS versions_analyzed,
       avg(CAST(cost AS DOUBLE)) AS avg_reconstruction_cost,
       CAST(max(cost) AS INTEGER) AS max_reconstruction_cost,
       avg(CAST(base_distance AS DOUBLE)) AS avg_base_distance,
       round(avg(quality_score), 9) AS avg_quality_r,
       round(min(quality_score), 9) AS min_quality_r,
       (max(cost) > 15) AS recommended_base_promotion
FROM q2 GROUP BY 1
"""
)

_QUALITY_FULL = """
  CASE WHEN cost = 0 THEN 1.0 ELSE
    least(1.0, greatest(0.0,
      greatest(0.0, 1.0 - (CAST(cost AS DOUBLE) / 15.0) * 0.3)
      * greatest(0.7, 1.0 - (CAST(base_distance AS DOUBLE) / 20.0) * 0.3)
      * greatest(0.5, 1.0 - error_bound * 20.0)
      * (CASE WHEN cost < 8 THEN 1.1 ELSE 1.0 END)))
  END
"""

ORACLES["database_stats"] = (
    _RECON_CTE
    + f"""
, q AS (
  SELECT *, {_QUALITY_EXPR} AS error_bound, (target_seq - base_seq) AS base_distance FROM recon
),
q2 AS (SELECT *, {_QUALITY_FULL} AS quality_score FROM q),
percontent AS (
  SELECT content_id,
         avg(CAST(cost AS DOUBLE)) AS avg_cost,
         CAST(max(cost) AS INTEGER) AS max_cost,
         avg(quality_score) AS avg_q
  FROM q2 GROUP BY 1
),
globalr AS (
  SELECT avg(avg_cost) AS avg_reconstruction_cost,
         CAST(max(max_cost) AS INTEGER) AS max_reconstruction_cost,
         avg(avg_q) AS avg_quality_score
  FROM percontent
),
per_content AS (
  SELECT content_id,
         CAST(sum(CASE WHEN kind='base' THEN 1 ELSE 0 END) AS BIGINT) AS bases,
         CAST(sum(CASE WHEN kind='delta' THEN 1 ELSE 0 END) AS BIGINT) AS deltas
  FROM {_VOK} GROUP BY 1
),
storage AS (
  SELECT CAST(count(*) AS BIGINT) AS total_contents,
         CAST(sum(bases) AS BIGINT) AS total_base_snapshots,
         CAST(sum(deltas) AS BIGINT) AS total_deltas,
         avg(bases + deltas) AS avg_versions_per_content
  FROM per_content
)
SELECT total_contents, total_base_snapshots, total_deltas,
       round(avg_versions_per_content, 9) AS avg_versions_r,
       round(avg_reconstruction_cost, 9) AS avg_cost_r,
       max_reconstruction_cost,
       round(avg_quality_score, 9) AS avg_quality_r
FROM storage CROSS JOIN globalr
"""
)

ORACLES["content_stats"] = (
    _RECON_CTE
    + f"""
, q AS (
  SELECT *, {_QUALITY_EXPR} AS error_bound, (target_seq - base_seq) AS base_distance FROM recon
),
q2 AS (SELECT *, {_QUALITY_FULL} AS quality_score FROM q),
rstats AS (
  SELECT content_id,
         CAST(count(*) AS INTEGER) AS versions_analyzed,
         CAST(max(cost) AS INTEGER) AS max_reconstruction_cost,
         avg(quality_score) AS avg_q
  FROM q2 GROUP BY 1
),
cstats AS (
  SELECT content_id,
         CAST(max(seq) AS INTEGER) AS max_sequence,
         CAST(CAST(sum(CASE WHEN kind='base' THEN 1 ELSE 0 END) AS BIGINT) AS INTEGER) AS base_count,
         CAST(CAST(sum(CASE WHEN kind='delta' THEN 1 ELSE 0 END) AS BIGINT) AS INTEGER) AS delta_count,
         avg(CASE WHEN kind='delta' THEN magnitude END) AS avg_mag
  FROM {_VOK} GROUP BY 1
)
SELECT c.content_id, c.max_sequence, c.base_count, c.delta_count,
       round(c.avg_mag, 9) AS avg_mag_r,
       r.versions_analyzed, r.max_reconstruction_cost,
       round(r.avg_q, 9) AS avg_quality_r
FROM cstats c LEFT JOIN rstats r USING (content_id)
"""
)

ORACLES["reconstruct_by_id"] = (
    _RECON_CTE
    + f"""
, ids AS (
  SELECT version_id FROM {_VOK} WHERE kind = 'delta' AND seq % 5 = 2
),
parsed AS (
  SELECT regexp_extract(version_id, '^(.*)_v(\\d+)$', 1) AS content_id,
         CAST(regexp_extract(version_id, '^(.*)_v(\\d+)$', 2) AS INTEGER) AS target_seq
  FROM ids
)
SELECT r.content_id, r.target_seq, r.base_seq, r.cost, r.emb_sum
FROM recon r JOIN parsed p ON r.content_id = p.content_id AND r.target_seq = p.target_seq
"""
)

ORACLES["advisor"] = (
    _RECON_CTE
    + """
SELECT content_id, target_seq AS seq, cost, base_seq,
       round(CAST(cost AS DOUBLE) * 0.001
             + COALESCE(avg_magnitude, 0.0) * 0.1
             + COALESCE(avg_sparsity, 0.0) * 0.5, 9) AS est_error_r
FROM recon WHERE cost > 10
"""
)

ORACLES["dedup_exact"] = """
SELECT doc_id, md5(text) AS text_hash,
       CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS dup_count,
       doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
FROM documents
"""

# r07: the greedy longest-match loop unrolled into a recursive CTE.
# State per (doc, word): cursor pos, accumulated piece string, piece
# count; each step consumes the longest vocab gram at the cursor
# (CASE j=4,3,2 over a materialized 256-gram list) or one OOV char
# (j=1 fallback — mirrors tokenize.py's `if j == 1 or w[i:i+j] in
# vocab_set`). Terminal rows are pos = len(w)+1 (unique per word:
# j >= 1 so pos strictly advances). Iterations are bounded by max word
# length. n_words/n_pieces CAST to INTEGER (Spark publishes int32);
# md5 of the space-joined pieces matches hashlib.md5 on the same text.
ORACLES["wordpiece_tokens"] = """
WITH RECURSIVE
words AS (
  SELECT doc_id, generate_subscripts(ws, 1) AS widx, unnest(ws) AS w
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents)
),
grams AS (
  SELECT unnest(flatten(list_transform(
           generate_series(1, least(4, length(w))),
           n -> list_transform(generate_series(1, length(w) - n + 1),
                               i -> substr(w, CAST(i AS INTEGER), CAST(n AS INTEGER))))))
         AS gram
  FROM words
),
vocab AS (
  SELECT gram FROM (SELECT gram, count(*) AS cnt FROM grams GROUP BY gram)
  ORDER BY cnt DESC, gram ASC LIMIT 256
),
vl AS MATERIALIZED (SELECT list(gram) AS gs FROM vocab),
seg AS (
  SELECT doc_id, widx, w, 1 AS pos, CAST('' AS VARCHAR) AS acc, 0 AS np
  FROM words
  UNION ALL
  SELECT doc_id, widx, w, pos + j,
         CASE WHEN acc = '' THEN piece ELSE acc || ' ' || piece END,
         np + 1
  FROM (
    SELECT s.doc_id, s.widx, s.w, s.pos, s.acc, s.np,
           CASE WHEN s.pos + 3 <= length(s.w)
                     AND list_contains(vl.gs, substr(s.w, s.pos, 4)) THEN 4
                WHEN s.pos + 2 <= length(s.w)
                     AND list_contains(vl.gs, substr(s.w, s.pos, 3)) THEN 3
                WHEN s.pos + 1 <= length(s.w)
                     AND list_contains(vl.gs, substr(s.w, s.pos, 2)) THEN 2
                ELSE 1 END AS j
    FROM seg s CROSS JOIN vl
    WHERE s.pos <= length(s.w)
  ) stepped
  CROSS JOIN LATERAL (SELECT substr(w, pos, j) AS piece) p
),
wordpieces AS (
  SELECT doc_id, widx, acc, np FROM seg WHERE pos = length(w) + 1
),
docagg AS (
  SELECT doc_id, count(*) AS nw, sum(np) AS npc,
         string_agg(acc, ' ' ORDER BY widx) AS allp
  FROM wordpieces GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.nw, 0) AS INTEGER) AS n_words,
       CAST(coalesce(a.npc, 0) AS INTEGER) AS n_pieces,
       md5(coalesce(a.allp, '')) AS pieces_md5
FROM documents d LEFT JOIN docagg a ON d.doc_id = a.doc_id
"""

ORACLES["token_stats"] = """
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS n_chars,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS n_re_tokens
FROM documents
"""

ORACLES["text_quality"] = """
WITH t AS (
  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, n_chars,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS INTEGER) AS n_stop
  FROM t
)
SELECT doc_id, n_tokens, n_stop,
       CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
       (CAST(n_chars AS DOUBLE) - (CAST(n_tokens AS DOUBLE) - 1.0)) / CAST(n_tokens AS DOUBLE) AS mean_token_len,
       round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
             * (0.3 + 0.7 * least(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 5.0, 1.0)), 9) AS quality_r
FROM s
"""

ORACLES["quality_percentile_filter"] = """
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id, source,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS INTEGER) AS n_stop
  FROM t
), q AS (
  SELECT doc_id, source,
         round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
               * (0.3 + 0.7 * least(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 5.0, 1.0)), 9) AS quality_r
  FROM s
), ranked AS (
  SELECT doc_id, source, quality_r,
         percent_rank() OVER (PARTITION BY source ORDER BY quality_r DESC, doc_id) AS pr
  FROM q
)
SELECT doc_id, source, quality_r, pr FROM ranked WHERE pr <= 0.5
"""

ORACLES["doc_fingerprint"] = """
SELECT doc_id,
       list_aggregate(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
                                     i -> md5(substring(text, i, 8))), 'min') AS fingerprint
FROM documents
"""

_SHINGLES_CTE = """
WITH sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
                               i -> substring(text, i, 3))) AS sh
  FROM documents
),
sig AS (
  SELECT doc_id,
         min(substring(md5(sh), 1, 4)) AS mh_0, min(substring(md5(sh), 5, 4)) AS mh_1,
         min(substring(md5(sh), 9, 4)) AS mh_2, min(substring(md5(sh), 13, 4)) AS mh_3,
         min(substring(md5(sh), 17, 4)) AS mh_4, min(substring(md5(sh), 21, 4)) AS mh_5,
         min(substring(md5(sh), 25, 4)) AS mh_6, min(substring(md5(sh), 29, 4)) AS mh_7
  FROM sh GROUP BY doc_id
)
"""

ORACLES["minhash_signature"] = _SHINGLES_CTE + "SELECT * FROM sig"

# r07: b-bit minwise hashing — last hex char of each 16-bit minhash,
# banded over 2-digit compressed values; exact digit-match count and
# the collision-corrected estimator (16m - H) / (15H) as one division.
ORACLES["bbit_minhash"] = (
    _SHINGLES_CTE
    + """
, bb AS (
  SELECT doc_id, """
    + ", ".join(f"substring(mh_{h}, 4, 1) AS b_{h}" for h in range(8))
    + """
  FROM sig
),
bucket AS (
  SELECT doc_id, unnest([0, 1, 2, 3]) AS band_id,
         unnest([b_0 || b_1, b_2 || b_3, b_4 || b_5, b_6 || b_7]) AS band_val
  FROM bb
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bucket a JOIN bucket b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
scored AS (
  SELECT p.a_id, p.b_id,
         CAST("""
    + " + ".join(
        f"(CASE WHEN sa.b_{h} = sb.b_{h} THEN 1 ELSE 0 END)" for h in range(8)
    )
    + """ AS BIGINT) AS n_match
  FROM pairs p JOIN bb sa ON p.a_id = sa.doc_id JOIN bb sb ON p.b_id = sb.doc_id
)
SELECT a_id, b_id, n_match,
       CAST(16 * n_match - 8 AS DOUBLE) / 120.0 AS j_est
FROM scored WHERE n_match >= 6
"""
)


def q_bbit_minhash(spark, sf_dir):
    """r07: b-bit minwise hashing (Li & König 2010) — 4x-compressed
    minhash store (last hex char of each 16-bit slice), candidates
    banded over the compressed digits, integer match-count gate, and
    the collision-corrected Jaccard estimator (16m-H)/(15H)."""
    from temporal_vector_database_spark.operators.dedup import bbit_minhash_pairs

    docs = _documents(spark, sf_dir)
    return bbit_minhash_pairs(docs, min_match=6)

ORACLES["dedup_near_pairs"] = (
    _SHINGLES_CTE
    + """
, banded AS (
  SELECT *,
         md5(mh_0 || '|' || mh_1) AS band_0, md5(mh_2 || '|' || mh_3) AS band_1,
         md5(mh_4 || '|' || mh_5) AS band_2, md5(mh_6 || '|' || mh_7) AS band_3
  FROM sig
),
bucket AS (
  SELECT doc_id, unnest([0, 1, 2, 3]) AS band_id,
         unnest([band_0, band_1, band_2, band_3]) AS band_hash
  FROM banded
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bucket a JOIN bucket b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
scored AS (
  SELECT p.a_id, p.b_id,
         CAST((CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.mh_6 = sb.mh_6 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.mh_7 = sb.mh_7 THEN 1 ELSE 0 END) AS INTEGER) AS n_match
  FROM pairs p JOIN sig sa ON p.a_id = sa.doc_id JOIN sig sb ON p.b_id = sb.doc_id
)
SELECT a_id, b_id, n_match, CAST(n_match AS DOUBLE) / 8.0 AS est_jaccard
FROM scored WHERE CAST(n_match AS DOUBLE) / 8.0 >= 0.5
"""
)

# LSH banding → candidate pairs → 0.75-Jaccard edges → connected components
# (recursive min-label propagation) → per-cluster canonical. Shared by the
# standalone survivors oracle and the composed training-pipeline oracle;
# reads from `sig` (minhash signatures of whatever relation fed it).
_CLUSTER_CTES = """
, banded AS (
  SELECT *,
         md5(mh_0 || '|' || mh_1) AS band_0, md5(mh_2 || '|' || mh_3) AS band_1,
         md5(mh_4 || '|' || mh_5) AS band_2, md5(mh_6 || '|' || mh_7) AS band_3
  FROM sig
),
bucket AS (
  SELECT doc_id, unnest([0, 1, 2, 3]) AS band_id,
         unnest([band_0, band_1, band_2, band_3]) AS band_hash
  FROM banded
),
cand_pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bucket a JOIN bucket b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
cand AS (
  SELECT p.a_id, p.b_id
  FROM cand_pairs p JOIN sig sa ON p.a_id = sa.doc_id JOIN sig sb ON p.b_id = sb.doc_id
  WHERE ((CASE WHEN sa.mh_0 = sb.mh_0 THEN 1 ELSE 0 END)
       + (CASE WHEN sa.mh_1 = sb.mh_1 THEN 1 ELSE 0 END)
       + (CASE WHEN sa.mh_2 = sb.mh_2 THEN 1 ELSE 0 END)
       + (CASE WHEN sa.mh_3 = sb.mh_3 THEN 1 ELSE 0 END)
       + (CASE WHEN sa.mh_4 = sb.mh_4 THEN 1 ELSE 0 END)
       + (CASE WHEN sa.mh_5 = sb.mh_5 THEN 1 ELSE 0 END)
       + (CASE WHEN sa.mh_6 = sb.mh_6 THEN 1 ELSE 0 END)
       + (CASE WHEN sa.mh_7 = sb.mh_7 THEN 1 ELSE 0 END)) / 8.0 >= 0.75
),
edges AS (
  SELECT a_id AS s, b_id AS d FROM cand
  UNION ALL
  SELECT b_id AS s, a_id AS d FROM cand
),
lp AS (
  SELECT DISTINCT s AS id, s AS lbl FROM edges
  UNION
  SELECT e.d AS id, lp.lbl FROM lp JOIN edges e ON lp.id = e.s
),
comp AS (SELECT id, min(lbl) AS canonical FROM lp GROUP BY id)
"""


ORACLES["dedup_incremental"] = (
    ORACLES["dedup_near_pairs"]
    + " AND (a_id % 5 = 0 OR b_id % 5 = 0)"
)

# the persisted-band-store path must produce the identical pair set
ORACLES["dedup_near_pairs_banded"] = ORACLES["dedup_near_pairs"]

# the band-store-fed funnel must produce the identical report
# (pairwise est_jaccard is doc-local, so restricting all-corpus pairs
# to the post-filter set == pairing the post-filter set)

ORACLES["dedup_survivors"] = (
    # the label-propagation member makes the whole WITH recursive
    _SHINGLES_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + _CLUSTER_CTES
    + """
SELECT d.doc_id,
       coalesce(c.canonical, d.doc_id) AS canonical_id,
       d.doc_id = coalesce(c.canonical, d.doc_id) AS is_survivor
FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
ORDER BY d.doc_id
"""
)

def q_dedup_survivors_quality(spark, sf_dir):
    """r08: quality-aware canonical selection — same LSH near-dup
    clusters as dedup_survivors, but each cluster keeps its LONGEST
    member (max n_chars, ties → lowest doc_id) instead of the lowest
    id: the "keep the best copy" curation policy. Struct-max aggregate
    per cluster, no window. r12: pairs come from the persisted LSH band
    store (the bench's production layout, shuffle paid once at ingest —
    the dedup_near_pairs_banded / training_pipeline_banded precedent;
    bit-equal pair set, pinned in tests), so the query never
    re-shingles the corpus."""
    from temporal_vector_database_spark.operators.dedup import (
        dedup_survivors,
        near_dup_pairs_from_band_store,
    )
    from temporal_vector_database_spark.sources.fixtures import ensure_lsh_band_store

    name = ensure_lsh_band_store(spark, sf_dir, num_hashes=8, bands=4)
    pairs = near_dup_pairs_from_band_store(spark, name, min_jaccard_est=0.75)
    docs = _documents(spark, sf_dir)
    return dedup_survivors(docs, survivor_by="n_chars", pairs=pairs)


ORACLES["dedup_survivors_quality"] = (
    _SHINGLES_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + _CLUSTER_CTES
    + """
, assigned AS (
  SELECT d.doc_id, d.n_chars, coalesce(c.canonical, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
best AS (
  SELECT cluster, doc_id AS canonical_id,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM assigned
)
SELECT a.doc_id, b.canonical_id, a.doc_id = b.canonical_id AS is_survivor
FROM assigned a JOIN best b ON b.cluster = a.cluster AND b.rn = 1
"""
)


def q_dedup_cluster_sizes(spark, sf_dir):
    """r09: duplicate-cluster SIZE DISTRIBUTION — the dedup health
    report (how much mass sits in big mirror clusters vs singletons;
    the deflation factor a dedup pass will deliver). Same LSH clusters
    as dedup_survivors; histogram = one aggregate over the assignment
    table. r12: pairs from the persisted LSH band store (production
    layout — same rewrite and bit-equal-pairs rationale as
    dedup_survivors_quality)."""
    from temporal_vector_database_spark.operators.dedup import (
        dedup_survivors,
        near_dup_pairs_from_band_store,
    )
    from temporal_vector_database_spark.sources.fixtures import ensure_lsh_band_store

    name = ensure_lsh_band_store(spark, sf_dir, num_hashes=8, bands=4)
    pairs = near_dup_pairs_from_band_store(spark, name, min_jaccard_est=0.75)
    docs = _documents(spark, sf_dir)
    surv = dedup_survivors(docs, pairs=pairs)
    sizes = surv.groupBy("canonical_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
    )


ORACLES["dedup_cluster_sizes"] = (
    _SHINGLES_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
    + _CLUSTER_CTES
    + """
, assigned AS (
  SELECT d.doc_id, coalesce(c.canonical, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
),
sizes AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
  FROM assigned GROUP BY 1
)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY 1
"""
)


ORACLES["training_pipeline"] = (
    """
WITH RECURSIVE t0 AS (
  SELECT doc_id, text, source, n_chars, string_split(text, ' ') AS toks FROM documents
), t1 AS (
  SELECT doc_id, text, source, n_chars,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS INTEGER) AS n_stop,
         CAST(len(list_filter(toks, x -> x IN ('der','die','und','nicht','ist'))) AS INTEGER) AS score_de,
         CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS INTEGER) AS score_en,
         CAST(len(list_filter(toks, x -> x IN ('el','la','que','los','es'))) AS INTEGER) AS score_es,
         CAST(len(list_filter(toks, x -> x IN ('le','la','les','est','une'))) AS INTEGER) AS score_fr,
         CAST(len(list_filter(toks, x -> x IN ('de5','shi4','bu4','le5','zai4'))) AS INTEGER) AS score_zh
  FROM t0
), scored AS (
  SELECT *,
         round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
               * (0.3 + 0.7 * least(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 5.0, 1.0)), 9) AS quality_r,
         CASE WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) = 0 THEN 'und'
              WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
              WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
              WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
              WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
              ELSE 'zh' END AS predicted_lang
  FROM t1
), kept AS (
  SELECT * FROM scored WHERE quality_r >= 0.15 AND predicted_lang <> 'und'
)"""
    + _SHINGLES_CTE.replace("WITH sh AS", ", sh AS", 1).replace("FROM documents", "FROM kept", 1)
    + _CLUSTER_CTES
    + """
, surv AS (
  SELECT k.*, (coalesce(c.canonical, k.doc_id) = k.doc_id) AS is_survivor
  FROM kept k LEFT JOIN comp c ON k.doc_id = c.id
)
SELECT predicted_lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN is_survivor THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
       CAST(sum(CASE WHEN is_survivor THEN n_tokens ELSE 0 END) AS BIGINT) AS survivor_tokens,
       CAST(sum(CASE WHEN is_survivor THEN n_chars ELSE 0 END) AS BIGINT) AS survivor_chars,
       CAST(sum(CASE WHEN is_survivor THEN CAST(round(quality_r * 1000000000.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS survivor_quality_e9,
       CASE WHEN sum(CASE WHEN is_survivor THEN 1 ELSE 0 END) > 0 THEN
         (CAST(sum(CASE WHEN is_survivor THEN CAST(round(quality_r * 1000000000.0) AS BIGINT) ELSE 0 END) AS DOUBLE) / 1000000000.0)
               / CAST(sum(CASE WHEN is_survivor THEN 1 ELSE 0 END) AS DOUBLE)
       END AS avg_survivor_quality_r
FROM surv GROUP BY 1, 2
"""
)

# --- deterministic sampling / splitting / sharding -------------------------

# uniform 32-bit hash from the first 8 hex chars of md5(doc_id-as-string),
# parsed nibble-by-nibble so the identical expression runs in DuckDB
_U32_SQL = (
    "("
    + " + ".join(
        f"(instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + ")"
)

_U32_CTE = f"""
WITH hashed AS (
  SELECT *, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
),
u AS (
  SELECT *, CAST({_U32_SQL} AS BIGINT) AS u32 FROM hashed
)
"""

ORACLES["sample_docs"] = (
    _U32_CTE + f"SELECT doc_id, source FROM u WHERE u32 < {int(0.25 * 2**32)}"
)

def q_kfold_assign(spark, sf_dir):
    """r09: stratified k-fold assignment — within every source, fold
    sizes differ by at most one (hash-threshold splits only balance in
    expectation); salted-hash deal order, per-stratum rank from ONE
    two-phase distributed global rank (no per-stratum window)."""
    from temporal_vector_database_spark.operators.sampling import kfold_assign

    docs = _documents(spark, sf_dir).select(
        "doc_id", "source"
    )
    return kfold_assign(docs, k=5)


ORACLES["kfold_assign"] = f"""
WITH keyed AS (
  SELECT doc_id, source AS stratum,
         md5('kf|' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
u AS (SELECT doc_id, stratum, CAST({_U32_SQL} AS BIGINT) AS okey FROM keyed),
r AS (
  SELECT doc_id, stratum,
         CAST(row_number() OVER (PARTITION BY stratum ORDER BY okey, doc_id) - 1
              AS BIGINT) AS r0
  FROM u
)
SELECT doc_id, stratum, CAST(r0 % 5 AS INTEGER) AS fold FROM r
"""


ORACLES["split_assign"] = (
    _U32_CTE
    + f"""
SELECT doc_id,
       CASE WHEN u32 < {int(0.9 * 2**32)} THEN 'train'
            WHEN u32 < {int(0.95 * 2**32)} THEN 'val'
            ELSE 'test' END AS split
FROM u
"""
)

# temperature rebalancing: per-language rate is a pure function of that
# language's own count (sqrt/div/mul are IEEE correctly-rounded in both
# engines, so the threshold compare is bit-exact)
ORACLES["temperature_sample"] = (
    _U32_CTE
    + """
, c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY 1)
SELECT doc_id, u.lang, least(1.0, 8.5 / sqrt(CAST(cnt AS DOUBLE))) AS keep_rate
FROM u JOIN c ON u.lang = c.lang
WHERE CAST(u32 AS DOUBLE) < least(1.0, 8.5 / sqrt(CAST(cnt AS DOUBLE))) * 4294967296.0
"""
)

ORACLES["pack_sequences"] = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS before
  FROM t WHERE n_tokens > 0
),
s AS (
  SELECT doc_id, source, n_tokens, before,
         unnest(generate_series(before // 128, (before + n_tokens - 1) // 128)) AS seq_id
  FROM c
)
SELECT doc_id, source, n_tokens, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(greatest(seq_id * 128 - before, 0) AS BIGINT) AS tok_start,
       CAST(least(seq_id * 128 + 128 - before, n_tokens) AS BIGINT) AS tok_end
FROM s
"""

ORACLES["token_chunks"] = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
  FROM t
)
SELECT doc_id, source, n_tokens, tokens_before,
       CAST(floor(tokens_before / 2000.0) AS BIGINT) AS chunk_id
FROM c
"""

ORACLES["stratified_sample"] = (
    _U32_CTE
    + f"""
SELECT doc_id, source FROM u
WHERE u32 < CASE source
  WHEN 'src0' THEN {int(0.6 * 2**32)}
  WHEN 'src1' THEN {int(1.0 * 2**32)}
  WHEN 'src2' THEN {int(0.2 * 2**32)}
  ELSE {int(0.1 * 2**32)} END
"""
)

# strict-threshold funnel: same SQL with the two thresholds swapped in —
# the ONLY differences from the default funnel are the quality bar and
# exact-signature (est == 1.0) clustering
ORACLES["training_pipeline_strict"] = ORACLES["training_pipeline"].replace(
    "quality_r >= 0.15", "quality_r >= 0.3"
).replace(">= 0.75", ">= 1.0")

# band-store-fed funnel: identical report by construction (pairwise
# est_jaccard is doc-local, so all-corpus pairs restricted to the
# post-filter set == pairs computed on the post-filter set)
ORACLES["training_pipeline_banded"] = ORACLES["training_pipeline"]

# the COMPLETE funnel: quality/lang -> repetition -> decontamination ->
# exact-signature clustering, with per-stage attrition counts. Universe =
# train docs (doc_id % 97 <> 0); eval = the rest.
ORACLES["training_pipeline_full"] = (
    """
WITH RECURSIVE t0 AS (
  SELECT doc_id, text, source, n_chars, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % 97 <> 0
), t1 AS (
  SELECT doc_id, text, source, n_chars,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS INTEGER) AS n_stop,
         CAST(len(list_filter(toks, x -> x IN ('der','die','und','nicht','ist'))) AS INTEGER) AS score_de,
         CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','is'))) AS INTEGER) AS score_en,
         CAST(len(list_filter(toks, x -> x IN ('el','la','que','los','es'))) AS INTEGER) AS score_es,
         CAST(len(list_filter(toks, x -> x IN ('le','la','les','est','une'))) AS INTEGER) AS score_fr,
         CAST(len(list_filter(toks, x -> x IN ('de5','shi4','bu4','le5','zai4'))) AS INTEGER) AS score_zh
  FROM t0
), scored AS (
  SELECT *,
         round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
               * (0.3 + 0.7 * least(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 5.0, 1.0)), 9) AS quality_r,
         CASE WHEN greatest(score_de, score_en, score_es, score_fr, score_zh) = 0 THEN 'und'
              WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
              WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
              WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
              WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
              ELSE 'zh' END AS predicted_lang
  FROM t1
),
wr AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents WHERE doc_id % 97 <> 0
),
uni AS (SELECT doc_id, 'w:' || x AS g FROM wr, unnest(w) AS t(x)),
bi AS (
  SELECT doc_id, 'b:' || array_to_string(w[i:i+1], ' ') AS g
  FROM wr, unnest(range(1, greatest(len(w), 1))) AS t(i)
),
grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
gcounts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
ragg AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN g LIKE 'w:%' THEN c END) AS BIGINT) AS n_words,
         CAST(max(CASE WHEN g LIKE 'w:%' THEN c END) AS BIGINT) AS twc,
         CAST(COALESCE(max(CASE WHEN g NOT LIKE 'w:%' THEN c END), 0) AS BIGINT) AS tbc,
         CAST(COALESCE(sum(CASE WHEN g NOT LIKE 'w:%' THEN c END), 0) AS BIGINT) AS nbg
  FROM gcounts GROUP BY 1
),
rflag AS (
  SELECT doc_id,
         (CAST(twc AS DOUBLE) / CAST(n_words AS DOUBLE)) <= 0.2
         AND (CASE WHEN nbg > 0 THEN CAST(tbc AS DOUBLE) / CAST(nbg AS DOUBLE) ELSE 0.0 END) <= 0.18 AS rep_ok
  FROM ragg
),
aw AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
ng5 AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS ng
  FROM aw, unnest(range(1, greatest(len(w) - 3, 1))) AS t(i)
),
eng AS (SELECT DISTINCT ng FROM ng5 WHERE doc_id % 97 = 0),
cont AS (
  SELECT t.doc_id, CAST(count(e.ng) AS BIGINT) AS n_cont
  FROM (SELECT doc_id, ng FROM ng5 WHERE doc_id % 97 <> 0) t
  LEFT JOIN eng e ON t.ng = e.ng GROUP BY 1
),
flags AS (
  SELECT s.*,
         (s.quality_r >= 0.3 AND s.predicted_lang <> 'und') AS q_ok,
         COALESCE(r.rep_ok, FALSE) AS rep_ok,
         COALESCE(c.n_cont, 0) < 2 AS clean_ok
  FROM scored s
  LEFT JOIN rflag r ON s.doc_id = r.doc_id
  LEFT JOIN cont c ON s.doc_id = c.doc_id
),
kept AS (SELECT * FROM flags WHERE q_ok AND rep_ok AND clean_ok),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
                               i -> substring(text, i, 3))) AS sh
  FROM kept
),
sig AS (
  SELECT doc_id,
         min(substring(md5(sh), 1, 4)) AS mh_0, min(substring(md5(sh), 5, 4)) AS mh_1,
         min(substring(md5(sh), 9, 4)) AS mh_2, min(substring(md5(sh), 13, 4)) AS mh_3,
         min(substring(md5(sh), 17, 4)) AS mh_4, min(substring(md5(sh), 21, 4)) AS mh_5,
         min(substring(md5(sh), 25, 4)) AS mh_6, min(substring(md5(sh), 29, 4)) AS mh_7
  FROM sh GROUP BY doc_id
)"""
    + _CLUSTER_CTES.replace(">= 0.75", ">= 1.0")
    + """
, surv AS (
  SELECT f.*,
         (f.q_ok AND f.rep_ok AND f.clean_ok
          AND coalesce(c.canonical, f.doc_id) = f.doc_id) AS is_surv
  FROM flags f LEFT JOIN comp c ON f.doc_id = c.id
)
SELECT predicted_lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN q_ok AND rep_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_repetition_ok,
       CAST(sum(CASE WHEN q_ok AND rep_ok AND clean_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
       CAST(sum(CASE WHEN is_surv THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
       CAST(sum(CASE WHEN is_surv THEN n_tokens ELSE 0 END) AS BIGINT) AS survivor_tokens,
       CAST(sum(CASE WHEN is_surv THEN n_chars ELSE 0 END) AS BIGINT) AS survivor_chars,
       CAST(sum(CASE WHEN is_surv THEN CAST(round(quality_r * 1000000000.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS survivor_quality_e9
FROM surv GROUP BY 1, 2
"""
)

# --- simhash (SQL generated to mirror operators/dedup.py bit-for-bit) ------

from temporal_vector_database_spark.operators.dedup import _token_hash32_expr  # noqa: E402

_SIMHASH_H = _token_hash32_expr("tok")  # identical expression text in both engines

_SIMHASH_CTE = (
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
hashes AS (
  SELECT doc_id, """
    + _SIMHASH_H
    + """ AS h FROM toks
),
votes AS (
  SELECT doc_id, """
    + ", ".join(
        f"sum(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(32)
    )
    + """
  FROM hashes GROUP BY doc_id
),
sig AS (
  SELECT doc_id, CAST("""
    + " + ".join(f"(CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32))
    + """ AS BIGINT) AS simhash FROM votes
)
"""
)

ORACLES["simhash_signature"] = _SIMHASH_CTE + "SELECT doc_id, simhash FROM sig"

ORACLES["simhash_near_pairs"] = (
    _SIMHASH_CTE
    + """
, bucket AS (
  SELECT doc_id, simhash, band_id, (simhash // (1 << (8 * band_id))) % 256 AS band_val
  FROM sig, unnest([0, 1, 2, 3]) AS t(band_id)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.simhash AS a_sim, b.simhash AS b_sim
  FROM bucket a JOIN bucket b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT a_id, b_id, CAST(bit_count(xor(a_sim, b_sim)) AS INTEGER) AS hamming
FROM pairs WHERE bit_count(xor(a_sim, b_sim)) <= 6
"""
)

ORACLES["ngram_jaccard"] = (
    _SHINGLES_CTE
    + """
, banded AS (
  SELECT *,
         md5(mh_0 || '|' || mh_1) AS band_0, md5(mh_2 || '|' || mh_3) AS band_1,
         md5(mh_4 || '|' || mh_5) AS band_2, md5(mh_6 || '|' || mh_7) AS band_3
  FROM sig
),
bucket AS (
  SELECT doc_id, unnest([0, 1, 2, 3]) AS band_id,
         unnest([band_0, band_1, band_2, band_3]) AS band_hash
  FROM banded
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bucket a JOIN bucket b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
shd AS (SELECT DISTINCT doc_id, {SHH} AS shh FROM sh),
sizes AS (SELECT doc_id, CAST(count(DISTINCT shh) AS BIGINT) AS n_sh FROM shd GROUP BY 1),
inter AS (
  SELECT p.a_id, p.b_id, CAST(count(DISTINCT a.shh) AS BIGINT) AS n_inter
  FROM pairs p
  JOIN shd a ON a.doc_id = p.a_id
  JOIN shd b ON b.doc_id = p.b_id AND b.shh = a.shh
  GROUP BY 1, 2
),
scored AS (
  SELECT p.a_id, p.b_id, COALESCE(i.n_inter, 0) AS n_inter,
         sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0) AS n_union
  FROM pairs p
  LEFT JOIN inter i ON p.a_id = i.a_id AND p.b_id = i.b_id
  JOIN sizes sa ON sa.doc_id = p.a_id
  JOIN sizes sb ON sb.doc_id = p.b_id
)
SELECT a_id, b_id, n_inter, n_union,
       CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
FROM scored WHERE CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.4
"""
)
ORACLES["ngram_jaccard"] = ORACLES["ngram_jaccard"].replace("{SHH}", _token_hash32_expr("sh"))

_QEMB_CTE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x * 1024) / 1024) AS emb
  FROM embeddings
),
en AS (
  SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e
)
"""

def q_epoch_shuffle(spark, sf_dir):
    """r08: deterministic per-epoch training order — epoch-salted u32
    md5 keys give a reproducible pseudo-random permutation, sharded for
    parallel loaders; positions come from the two-phase distributed
    global rank (never a single-task per-shard window). Oracle replays
    key/shard/position relationally."""
    from temporal_vector_database_spark.operators.sampling import epoch_shuffle

    docs = _documents(spark, sf_dir)
    return epoch_shuffle(docs, epoch=2, n_shards=8)


_EPOCH_U32 = (
    "("
    + " + ".join(
        f"(instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + ")"
)
ORACLES["epoch_shuffle"] = f"""
WITH hashed AS (
  SELECT doc_id, md5('ep2|' || CAST(doc_id AS VARCHAR)) AS h FROM documents
),
k AS (
  SELECT doc_id, CAST({_EPOCH_U32} AS BIGINT) AS okey FROM hashed
),
s AS (SELECT doc_id, okey, CAST(okey % 8 AS INTEGER) AS shard FROM k)
SELECT doc_id, CAST(2 AS INTEGER) AS epoch, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id)
            AS BIGINT) AS pos
FROM s
"""


def q_frequent_token_pairs(spark, sf_dir):
    """r08: document-grain market-basket pair mining with the apriori
    prune — unordered token pairs co-occurring in >= ceil(5% · N) docs,
    pairs generated row-locally over each doc's frequent-token subset
    only; lift published as one exact IEEE division. Oracle replays the
    full pipeline relationally (distinct tokens → df gate → doc-keyed
    pair join → support gate → lift)."""
    from temporal_vector_database_spark.operators.textindex import (
        frequent_token_pairs,
    )

    docs = _documents(spark, sf_dir)
    return frequent_token_pairs(docs, min_support_num=5, min_support_den=100)


ORACLES["frequent_token_pairs"] = """
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
ms AS (SELECT (5 * nd + 99) // 100 AS minsup, nd FROM n),
t AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS tok
  FROM documents
),
dfc AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY 1),
f1 AS (SELECT tok, df FROM dfc, ms WHERE df >= minsup),
ft AS (SELECT t.doc_id, t.tok FROM t JOIN f1 ON f1.tok = t.tok),
p AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS n_docs
  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2
),
fp AS (SELECT tok_a, tok_b, n_docs FROM p, ms WHERE n_docs >= minsup)
SELECT fp.tok_a, fp.tok_b, fp.n_docs,
       CAST(fp.n_docs * ms.nd AS DOUBLE)
         / CAST(fa.df * fb.df AS DOUBLE) AS lift
FROM fp
JOIN f1 fa ON fa.tok = fp.tok_a
JOIN f1 fb ON fb.tok = fp.tok_b
CROSS JOIN ms
"""


def q_cluster_quality(spark, sf_dir):
    """r08: per-cluster Davies-Bouldin quality report over the
    deterministic IVF seeding — worst scatter-to-separation ratio
    ``max_{j≠i} (s²_i+s²_j)/d²_ij`` per cluster, squared-distance
    variant on the 1/1024 dyadic lattice so every sum is an exact
    BIGINT and the two published doubles are single fixed IEEE
    divisions (engine-bit-stable). The r-matrix is a k×k join of k-row
    model tables; the corpus is touched by exactly one broadcast-assign
    pass + one row-local integer fold."""
    from temporal_vector_database_spark.operators.search import (
        cluster_quality_dbi,
    )

    emb = _quantized_embeddings(spark, sf_dir)
    return cluster_quality_dbi(emb)


ORACLES["cluster_quality"] = (
    _QEMB_CTE
    + """
, cents AS (
  SELECT vec_id AS centroid_id, emb AS c_emb, nrm AS c_nrm FROM en WHERE vec_id % 20 = 7
),
assign AS (
  SELECT vid, emb, centroid_id FROM (
    SELECT en.vec_id AS vid, en.emb, c.centroid_id,
           row_number() OVER (
             PARTITION BY en.vec_id
             ORDER BY (CASE WHEN en.nrm > 0 AND c.c_nrm > 0
                            THEN list_dot_product(en.emb, c.c_emb) / (en.nrm * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM en CROSS JOIN cents c
  ) WHERE rn = 1
),
mem AS (
  SELECT a.centroid_id, a.vid,
         CAST(sum((CAST(round(a.emb[i] * 1024) AS BIGINT)
                     - CAST(round(c.c_emb[i] * 1024) AS BIGINT))
                * (CAST(round(a.emb[i] * 1024) AS BIGINT)
                     - CAST(round(c.c_emb[i] * 1024) AS BIGINT))) AS BIGINT) AS d2
  FROM assign a JOIN cents c ON a.centroid_id = c.centroid_id,
       unnest(range(1, len(a.emb) + 1)) AS t(i)
  GROUP BY 1, 2
),
stats AS (
  SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_members,
         CAST(sum(d2) AS BIGINT) AS s2num
  FROM mem GROUP BY 1
),
cd AS (
  SELECT x.centroid_id AS i, y.centroid_id AS j,
         CAST(sum((CAST(round(x.c_emb[k] * 1024) AS BIGINT)
                     - CAST(round(y.c_emb[k] * 1024) AS BIGINT))
                * (CAST(round(x.c_emb[k] * 1024) AS BIGINT)
                     - CAST(round(y.c_emb[k] * 1024) AS BIGINT))) AS BIGINT) AS cd2
  FROM cents x JOIN cents y ON x.centroid_id <> y.centroid_id,
       unnest(range(1, len(x.c_emb) + 1)) AS t(k)
  GROUP BY 1, 2
),
r AS (
  SELECT cd.i, cd.j,
         CAST(si.s2num * sj.n_members + sj.s2num * si.n_members AS DOUBLE)
           / CAST(si.n_members * sj.n_members * cd.cd2 AS DOUBLE) AS r
  FROM cd
  JOIN stats si ON si.centroid_id = cd.i
  JOIN stats sj ON sj.centroid_id = cd.j
  WHERE cd.cd2 > 0
),
best AS (
  SELECT i, j, r, row_number() OVER (PARTITION BY i ORDER BY r DESC, j) AS rn
  FROM r
)
SELECT s.centroid_id AS cluster_id, s.n_members, s.s2num,
       CAST(s.s2num AS DOUBLE) / CAST(s.n_members * 1048576 AS DOUBLE) AS s2_mean,
       b.j AS worst_other, b.r AS r_max
FROM stats s
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.i = s.centroid_id
"""
)


def q_source_overlap(spark, sf_dir):
    """r07: corpus-level overlap between SOURCES — source-union shingle
    sets compared pairwise, publishing the mergeable-minima MinHash
    estimate AND the exact hashed-shingle Jaccard in one row
    (operators/dedup.py source_overlap) — estimator-vs-truth pinned by
    the gate itself."""
    from temporal_vector_database_spark.operators.dedup import source_overlap

    docs = _documents(spark, sf_dir)
    return source_overlap(docs)


ORACLES["source_overlap"] = """
WITH sh AS (
  SELECT source AS src,
         unnest(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
                               i -> substring(text, i, 3))) AS sh
  FROM documents
),
shd AS (SELECT DISTINCT src, {SHH} AS shh FROM sh),
sig AS (
  SELECT src,
         min(substring(md5(sh), 1, 4)) AS mh_0, min(substring(md5(sh), 5, 4)) AS mh_1,
         min(substring(md5(sh), 9, 4)) AS mh_2, min(substring(md5(sh), 13, 4)) AS mh_3,
         min(substring(md5(sh), 17, 4)) AS mh_4, min(substring(md5(sh), 21, 4)) AS mh_5,
         min(substring(md5(sh), 25, 4)) AS mh_6, min(substring(md5(sh), 29, 4)) AS mh_7
  FROM sh GROUP BY src
),
est AS (
  SELECT a.src AS src_a, b.src AS src_b,
         CAST((CASE WHEN a.mh_0 = b.mh_0 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh_1 = b.mh_1 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh_2 = b.mh_2 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh_3 = b.mh_3 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh_4 = b.mh_4 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh_5 = b.mh_5 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh_6 = b.mh_6 THEN 1 ELSE 0 END)
            + (CASE WHEN a.mh_7 = b.mh_7 THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM sig a JOIN sig b ON a.src < b.src
),
sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n_sh FROM shd GROUP BY 1),
inter AS (
  SELECT x.src AS src_a, y.src AS src_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM shd x JOIN shd y ON x.shh = y.shh AND x.src < y.src
  GROUP BY 1, 2
),
exact AS (
  SELECT p.src AS src_a, q.src AS src_b,
         COALESCE(i.n_inter, 0) AS n_inter,
         p.n_sh + q.n_sh - COALESCE(i.n_inter, 0) AS n_union
  FROM sizes p JOIN sizes q ON p.src < q.src
  LEFT JOIN inter i ON i.src_a = p.src AND i.src_b = q.src
)
SELECT e.src_a, e.src_b, e.n_match,
       CAST(e.n_match AS DOUBLE) / 8.0 AS est_jaccard,
       x.n_inter, x.n_union,
       CAST(x.n_inter AS DOUBLE) / CAST(x.n_union AS DOUBLE) AS jaccard
FROM est e JOIN exact x ON e.src_a = x.src_a AND e.src_b = x.src_b
"""
ORACLES["source_overlap"] = ORACLES["source_overlap"].replace(
    "{SHH}", _token_hash32_expr("sh")
)


# r07: per-dim rank/quantile normalization summary — rank() (min rank,
# ties share) per dimension, integer rank sums, one terminal division.
ORACLES["embedding_quantile_norm"] = (
    _QEMB_CTE
    + """
, ex AS (
  SELECT vec_id, generate_subscripts(emb, 1) AS dim, unnest(emb) AS val FROM e
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
ranked AS (
  SELECT vec_id, CAST(rank() OVER (PARTITION BY dim ORDER BY val) AS BIGINT) AS rk
  FROM ex
)
SELECT vec_id, CAST(count(*) AS INTEGER) AS n_dims,
       CAST(sum(rk - 1) AS BIGINT) AS rank_sum,
       CAST(sum(rk - 1) AS DOUBLE)
         / CAST(count(*) * (nn.n - 1) AS DOUBLE) AS q_mean
FROM ranked, nn
GROUP BY vec_id, nn.n
"""
)


def q_embedding_quantile_norm(spark, sf_dir):
    """r07: per-dimension rank/quantile normalization summary over the
    quantized embeddings — outlier-robust source-scale equalization;
    min-rank ties, integer rank sums, one terminal IEEE division
    (operators/linalg.py quantile_normalize)."""
    from temporal_vector_database_spark.operators.linalg import quantile_normalize

    return quantile_normalize(_quantized_embeddings(spark, sf_dir))


ORACLES["embedding_near_dup"] = (
    _QEMB_CTE
    + """
, bucket AS (
  SELECT vec_id, band_id,
         (CASE WHEN emb[4 * band_id + 1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 4] >= 0 THEN 8 ELSE 0 END) AS band_val
  FROM en, unnest([0, 1, 2, 3]) AS t(band_id)
),
pairs AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bucket a JOIN bucket b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id
),
scored AS (
  SELECT p.a_id, p.b_id,
         CASE WHEN ea.nrm > 0 AND eb.nrm > 0
              THEN list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm)
              ELSE 0.0 END AS sim
  FROM pairs p JOIN en ea ON p.a_id = ea.vec_id JOIN en eb ON p.b_id = eb.vec_id
)
SELECT a_id, b_id, sim FROM scored WHERE sim >= 0.4
"""
)

# shared by ivf_topk and ivf_recall_eval: nearest-centroid assignment,
# nprobe=2 probe selection, probed-candidate exact scoring -> `ranked`
# shared by ivf_topk / ivf_recall_eval / knn_graph: nearest-centroid
# assignment, nprobe=2 probe selection, probed-candidate exact scoring
# -> `ranked`; parameterized on the query-set filter and self-exclusion
_IVF_RANKED_TMPL = '''
, cents AS (
  SELECT vec_id AS centroid_id, emb AS c_emb, nrm AS c_nrm FROM en WHERE vec_id % 20 = 7
),
assign AS (
  SELECT vid, emb, nrm, centroid_id FROM (
    SELECT en.vec_id AS vid, en.emb, en.nrm, c.centroid_id,
           row_number() OVER (
             PARTITION BY en.vec_id
             ORDER BY (CASE WHEN en.nrm > 0 AND c.c_nrm > 0
                            THEN list_dot_product(en.emb, c.c_emb) / (en.nrm * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM en CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, emb AS qe, nrm AS nq FROM en WHERE {query_filter}),
probes AS (
  SELECT query_id, qe, nq, centroid_id FROM (
    SELECT q.query_id, q.qe, q.nq, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY (CASE WHEN q.nq > 0 AND c.c_nrm > 0
                            THEN list_dot_product(q.qe, c.c_emb) / (q.nq * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= 2
),
cands AS (
  SELECT p.query_id, a.vid,
         CASE WHEN p.nq > 0 AND a.nrm > 0
              THEN list_dot_product(p.qe, a.emb) / (p.nq * a.nrm)
              ELSE 0.0 END AS sim
  FROM probes p JOIN assign a USING (centroid_id){exclude_self}
),
ranked AS (
  SELECT query_id, vid AS vec_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vid) AS INTEGER) AS rank
  FROM cands WHERE sim > 0
)
'''


def _ivf_ranked_body(query_filter: str = "vec_id % 50 = 0", exclude_self: bool = False) -> str:
    ex = " WHERE a.vid <> p.query_id" if exclude_self else ""
    return _IVF_RANKED_TMPL.format(query_filter=query_filter, exclude_self=ex)


_IVF_RANKED_BODY = _ivf_ranked_body()

def _nn_descent_oracle_sql(k: int, rounds: int) -> str:
    parts = [
        _QEMB_CTE,
        _ivf_ranked_body(query_filter="TRUE", exclude_self=True),
        f""",
g0 AS (SELECT query_id AS id, vec_id AS nbr, sim FROM ranked WHERE rank <= {k})""",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
sym{r} AS (SELECT id, nbr FROM g{p} UNION SELECT nbr, id FROM g{p}),
cand{r} AS (
  SELECT DISTINCT a.id, b.nbr
  FROM sym{r} a JOIN sym{r} b ON a.nbr = b.id
  WHERE a.id <> b.nbr
),
new{r} AS (
  SELECT c.id, c.nbr FROM cand{r} c
  LEFT JOIN g{p} g ON c.id = g.id AND c.nbr = g.nbr
  WHERE g.id IS NULL
),
sc{r} AS (
  SELECT n.id, n.nbr,
         CASE WHEN ea.nrm > 0 AND eb.nrm > 0
              THEN list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm)
              ELSE 0.0 END AS sim
  FROM new{r} n JOIN en ea ON n.id = ea.vec_id JOIN en eb ON n.nbr = eb.vec_id
),
u{r} AS (SELECT * FROM g{p}
         UNION ALL SELECT * FROM sc{r} WHERE sim > 0),
g{r} AS (
  SELECT id, nbr, sim FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY sim DESC, nbr) AS rn
    FROM u{r}
  ) WHERE rn <= {k}
)"""
        )
    parts.append(
        f"""
SELECT id AS query_id,
       CAST(row_number() OVER (PARTITION BY id ORDER BY sim DESC, nbr)
            AS INTEGER) AS rank,
       nbr AS vec_id, sim
FROM g{rounds}"""
    )
    return "".join(parts)


ORACLES["nn_descent"] = _nn_descent_oracle_sql(5, 2)


ORACLES["ivf_topk"] = (
    _QEMB_CTE
    + _IVF_RANKED_BODY
    + """
SELECT query_id, rank, vec_id, sim FROM ranked WHERE rank <= 10
"""
)


ORACLES["ivfpq_topk"] = (
    _QEMB_CTE
    + """
, cents AS (
  SELECT vec_id AS centroid_id, emb AS c_emb, nrm AS c_nrm FROM en WHERE vec_id % 20 = 7
),
assign AS (
  SELECT vid, centroid_id FROM (
    SELECT en.vec_id AS vid, c.centroid_id,
           row_number() OVER (
             PARTITION BY en.vec_id
             ORDER BY (CASE WHEN en.nrm > 0 AND c.c_nrm > 0
                            THEN list_dot_product(en.emb, c.c_emb) / (en.nrm * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM en CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, emb, nrm FROM en WHERE vec_id % 50 = 0),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY (CASE WHEN q.nrm > 0 AND c.c_nrm > 0
                            THEN list_dot_product(q.emb, c.c_emb) / (q.nrm * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= 2
),
sgrid AS (SELECT unnest([0, 1, 2, 3]) AS s),
cwsub AS (
  SELECT vec_id AS codeword_id, s,
         list_slice(emb, s * (len(emb) // 4) + 1, (s + 1) * (len(emb) // 4)) AS cw
  FROM en CROSS JOIN sgrid WHERE vec_id % 20 = 7
),
vsub AS (
  SELECT vec_id AS vid, s,
         list_slice(emb, s * (len(emb) // 4) + 1, (s + 1) * (len(emb) // 4)) AS sub
  FROM en CROSS JOIN sgrid
),
codes AS (
  SELECT vid, s, codeword_id FROM (
    SELECT v.vid, v.s, c.codeword_id,
           row_number() OVER (PARTITION BY v.vid, v.s ORDER BY
             (list_dot_product(v.sub, v.sub) - 2 * list_dot_product(v.sub, c.cw) + list_dot_product(c.cw, c.cw)) ASC,
             c.codeword_id ASC) AS rn
    FROM vsub v JOIN cwsub c ON v.s = c.s
  ) WHERE rn = 1
),
codes_w AS (
  SELECT vid,
         max(CASE WHEN s = 0 THEN codeword_id END) AS code_0,
         max(CASE WHEN s = 1 THEN codeword_id END) AS code_1,
         max(CASE WHEN s = 2 THEN codeword_id END) AS code_2,
         max(CASE WHEN s = 3 THEN codeword_id END) AS code_3
  FROM codes GROUP BY vid
),
lut AS (
  SELECT q.query_id, c.s, c.codeword_id,
         list_dot_product(list_slice(q.emb, c.s * (len(q.emb) // 4) + 1, (c.s + 1) * (len(q.emb) // 4)), c.cw) AS pdot
  FROM q CROSS JOIN cwsub c
),
cand AS (
  SELECT p.query_id, a.vid FROM probes p JOIN assign a USING (centroid_id)
),
scored AS (
  SELECT c.query_id, c.vid,
         l0.pdot + l1.pdot + l2.pdot + l3.pdot AS adc_score
  FROM cand c
  JOIN codes_w w ON w.vid = c.vid
  JOIN lut l0 ON l0.query_id = c.query_id AND l0.s = 0 AND l0.codeword_id = w.code_0
  JOIN lut l1 ON l1.query_id = c.query_id AND l1.s = 1 AND l1.codeword_id = w.code_1
  JOIN lut l2 ON l2.query_id = c.query_id AND l2.s = 2 AND l2.codeword_id = w.code_2
  JOIN lut l3 ON l3.query_id = c.query_id AND l3.s = 3 AND l3.codeword_id = w.code_3
),
ranked AS (
  SELECT query_id, vid AS vec_id, adc_score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_score DESC, vid) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, adc_score, rank FROM ranked WHERE rank <= 10
"""
)

ORACLES["pq_codes"] = (
    _QEMB_CTE
    + """
, sgrid AS (SELECT unnest([0, 1, 2, 3]) AS s),
cwsub AS (
  SELECT vec_id AS codeword_id, s,
         list_slice(emb, s * (len(emb) // 4) + 1, (s + 1) * (len(emb) // 4)) AS cw
  FROM en CROSS JOIN sgrid WHERE vec_id % 20 = 7
),
vsub AS (
  SELECT vec_id AS vid, s,
         list_slice(emb, s * (len(emb) // 4) + 1, (s + 1) * (len(emb) // 4)) AS sub
  FROM en CROSS JOIN sgrid
),
codes AS (
  SELECT vid, s, codeword_id FROM (
    SELECT v.vid, v.s, c.codeword_id,
           row_number() OVER (PARTITION BY v.vid, v.s ORDER BY
             (list_dot_product(v.sub, v.sub) - 2 * list_dot_product(v.sub, c.cw) + list_dot_product(c.cw, c.cw)) ASC,
             c.codeword_id ASC) AS rn
    FROM vsub v JOIN cwsub c ON v.s = c.s
  ) WHERE rn = 1
),
codes_w AS (
  SELECT vid,
         max(CASE WHEN s = 0 THEN codeword_id END) AS code_0,
         max(CASE WHEN s = 1 THEN codeword_id END) AS code_1,
         max(CASE WHEN s = 2 THEN codeword_id END) AS code_2,
         max(CASE WHEN s = 3 THEN codeword_id END) AS code_3
  FROM codes GROUP BY vid
)
SELECT vid AS vec_id, code_0, code_1, code_2, code_3 FROM codes_w
"""
)

# shared ADC body (codebook -> codes -> per-query LUT -> ADC ranking);
# consumed by both the plain pq_topk gate and the exact-rerank gate
_PQ_ADC_BODY = """
, sgrid AS (SELECT unnest([0, 1, 2, 3]) AS s),
cwsub AS (
  SELECT vec_id AS codeword_id, s,
         list_slice(emb, s * (len(emb) // 4) + 1, (s + 1) * (len(emb) // 4)) AS cw
  FROM en CROSS JOIN sgrid WHERE vec_id % 20 = 7
),
vsub AS (
  SELECT vec_id AS vid, s,
         list_slice(emb, s * (len(emb) // 4) + 1, (s + 1) * (len(emb) // 4)) AS sub
  FROM en CROSS JOIN sgrid
),
codes AS (
  SELECT vid, s, codeword_id FROM (
    SELECT v.vid, v.s, c.codeword_id,
           row_number() OVER (PARTITION BY v.vid, v.s ORDER BY
             (list_dot_product(v.sub, v.sub) - 2 * list_dot_product(v.sub, c.cw) + list_dot_product(c.cw, c.cw)) ASC,
             c.codeword_id ASC) AS rn
    FROM vsub v JOIN cwsub c ON v.s = c.s
  ) WHERE rn = 1
),
codes_w AS (
  SELECT vid,
         max(CASE WHEN s = 0 THEN codeword_id END) AS code_0,
         max(CASE WHEN s = 1 THEN codeword_id END) AS code_1,
         max(CASE WHEN s = 2 THEN codeword_id END) AS code_2,
         max(CASE WHEN s = 3 THEN codeword_id END) AS code_3
  FROM codes GROUP BY vid
),
q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, emb FROM en WHERE vec_id % 50 = 0),
lut AS (
  SELECT q.query_id, c.s, c.codeword_id,
         list_dot_product(list_slice(q.emb, c.s * (len(q.emb) // 4) + 1, (c.s + 1) * (len(q.emb) // 4)), c.cw) AS pdot
  FROM q CROSS JOIN cwsub c
),
scored AS (
  SELECT l0.query_id, w.vid,
         l0.pdot + l1.pdot + l2.pdot + l3.pdot AS adc_score
  FROM codes_w w
  CROSS JOIN (SELECT DISTINCT query_id FROM q) qq
  JOIN lut l0 ON l0.query_id = qq.query_id AND l0.s = 0 AND l0.codeword_id = w.code_0
  JOIN lut l1 ON l1.query_id = qq.query_id AND l1.s = 1 AND l1.codeword_id = w.code_1
  JOIN lut l2 ON l2.query_id = qq.query_id AND l2.s = 2 AND l2.codeword_id = w.code_2
  JOIN lut l3 ON l3.query_id = qq.query_id AND l3.s = 3 AND l3.codeword_id = w.code_3
),
ranked AS (
  SELECT query_id, vid AS vec_id, adc_score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_score DESC, vid) AS INTEGER) AS rank
  FROM scored
)
"""

ORACLES["pq_topk"] = (
    _QEMB_CTE
    + _PQ_ADC_BODY
    + "SELECT query_id, vec_id, adc_score, rank FROM ranked WHERE rank <= 10"
)

ORACLES["pq_topk_reranked"] = (
    _QEMB_CTE
    + _PQ_ADC_BODY
    + """
, short AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 50),
exact AS (
  SELECT s.query_id, s.vec_id, list_dot_product(q.emb, v.emb) AS score
  FROM short s
  JOIN q ON q.query_id = s.query_id
  JOIN en v ON v.vec_id = s.vec_id
),
rr AS (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS INTEGER) AS rank
  FROM exact
)
SELECT query_id, vec_id, score, rank FROM rr WHERE rank <= 10
"""
)

ORACLES["topk_search_indexed"] = ORACLES["topk_search"]
ORACLES["ivf_topk_persisted"] = ORACLES["ivf_topk"]

# hard negatives: top-k most-similar vectors whose label differs from
# the query's (same-label = positives, excluded before ranking)
ORACLES["hard_negatives"] = (
    _QEMB_CTE
    + """
, q AS (
  SELECT CAST(en.vec_id AS INTEGER) AS query_id, en.emb AS qe, en.nrm AS nq, e2.label AS qlabel
  FROM en JOIN embeddings e2 ON en.vec_id = e2.vec_id
  WHERE en.vec_id % 50 = 0
),
scored AS (
  SELECT q.query_id, en.vec_id,
         CASE WHEN q.nq > 0 AND en.nrm > 0
              THEN list_dot_product(q.qe, en.emb) / (q.nq * en.nrm)
              ELSE 0.0 END AS sim
  FROM en CROSS JOIN q
  JOIN embeddings e3 ON en.vec_id = e3.vec_id
  WHERE e3.label <> q.qlabel
),
ranked AS (
  SELECT query_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
  FROM scored WHERE sim > 0
)
SELECT query_id, rank, vec_id, sim FROM ranked WHERE rank <= 10
"""
)

# diversity cap over nearest-centroid clusters; survivor draw = the
# module's md5-key hash (engine-exact), rank ties by vid
ORACLES["cluster_capped_sample"] = (
    _QEMB_CTE
    + f"""
, cents AS (
  SELECT vec_id AS centroid_id, emb AS c_emb, nrm AS c_nrm FROM en WHERE vec_id % 20 = 7
),
assign AS (
  SELECT vid, centroid_id FROM (
    SELECT en.vec_id AS vid, c.centroid_id,
           row_number() OVER (
             PARTITION BY en.vec_id
             ORDER BY (CASE WHEN en.nrm > 0 AND c.c_nrm > 0
                            THEN list_dot_product(en.emb, c.c_emb) / (en.nrm * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM en CROSS JOIN cents c
  ) WHERE rn = 1
),
hashed AS (SELECT vid, centroid_id, md5(CAST(vid AS VARCHAR)) AS h FROM assign),
u AS (SELECT vid, centroid_id, CAST({_U32_SQL} AS BIGINT) AS u32 FROM hashed),
r AS (
  SELECT vid AS vec_id, centroid_id,
         CAST(row_number() OVER (PARTITION BY centroid_id ORDER BY u32, vid) AS INTEGER) AS rn
  FROM u
)
SELECT vec_id, centroid_id, rn FROM r WHERE rn <= 10
"""
)

# incremental store, merge-on-read: corpus = (base − tombstoned) ∪
# upserts under shifted ids; centroids stay the base seeding (index
# parameters are fixed at init, never re-seeded by maintenance)
ORACLES["ivf_store_topk"] = (
    _QEMB_CTE
    + """
, cur AS (
  SELECT vec_id, emb, nrm FROM en WHERE vec_id % 13 <> 5
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, emb, nrm FROM en WHERE vec_id % 10 = 1
),
cents AS (
  SELECT vec_id AS centroid_id, emb AS c_emb, nrm AS c_nrm FROM en WHERE vec_id % 20 = 7
),
assign AS (
  SELECT vid, emb, nrm, centroid_id FROM (
    SELECT cur.vec_id AS vid, cur.emb, cur.nrm, c.centroid_id,
           row_number() OVER (
             PARTITION BY cur.vec_id
             ORDER BY (CASE WHEN cur.nrm > 0 AND c.c_nrm > 0
                            THEN list_dot_product(cur.emb, c.c_emb) / (cur.nrm * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM cur CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, emb AS qe, nrm AS nq FROM en WHERE vec_id % 50 = 0),
probes AS (
  SELECT query_id, qe, nq, centroid_id FROM (
    SELECT q.query_id, q.qe, q.nq, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY (CASE WHEN q.nq > 0 AND c.c_nrm > 0
                            THEN list_dot_product(q.qe, c.c_emb) / (q.nq * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= 2
),
cands AS (
  SELECT p.query_id, a.vid,
         CASE WHEN p.nq > 0 AND a.nrm > 0
              THEN list_dot_product(p.qe, a.emb) / (p.nq * a.nrm)
              ELSE 0.0 END AS sim
  FROM probes p JOIN assign a USING (centroid_id)
),
ranked AS (
  SELECT query_id, vid AS vec_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vid) AS INTEGER) AS rank
  FROM cands WHERE sim > 0
)
SELECT query_id, rank, vec_id, sim FROM ranked WHERE rank <= 10
"""
)

from temporal_vector_database_spark.functions.text import LANG_PROFILES  # noqa: E402

_LANG_SCORES = ", ".join(
    "CAST(len(list_filter(string_split(text, ' '), x -> x IN ({words}))) AS INTEGER) AS score_{lang}".format(
        words=", ".join(f"'{w}'" for w in words), lang=lang
    )
    for lang, words in sorted(LANG_PROFILES.items())
)

ORACLES["language_id"] = (
    "WITH s AS (SELECT doc_id, "
    + _LANG_SCORES
    + """ FROM documents),
m AS (SELECT *, greatest(score_de, score_en, score_es, score_fr, score_zh) AS mx FROM s)
SELECT doc_id, score_de, score_en, score_es, score_fr, score_zh,
       CASE WHEN mx = 0 THEN 'und'
            WHEN score_de = mx THEN 'de'
            WHEN score_en = mx THEN 'en'
            WHEN score_es = mx THEN 'es'
            WHEN score_fr = mx THEN 'fr'
            ELSE 'zh' END AS predicted_lang
FROM m
"""
)

# --- multimodal: md5-derived fake-decode mirrored in SQL -------------------

def _hexpair(c1: int, c2: int) -> str:
    n1 = f"(instr('0123456789abcdef', substring(h, {c1}, 1)) - 1)"
    n2 = f"(instr('0123456789abcdef', substring(h, {c2}, 1)) - 1)"
    return f"({n1} * 16 + {n2})"


_DECODE_CTE = f"""
WITH p AS (
  SELECT doc_id, md5(text) AS h, CAST(octet_length(encode(text)) AS INTEGER) AS byte_len
  FROM documents
),
dec AS (
  SELECT doc_id, byte_len, h AS checksum,
         CAST(16 * (1 + {_hexpair(1, 2)} % 64) AS INTEGER) AS width,
         CAST(16 * (1 + {_hexpair(3, 4)} % 64) AS INTEGER) AS height,
         CAST(1 + (instr('0123456789abcdef', substring(h, 5, 1)) - 1) % 4 AS INTEGER) AS channels,
         CAST(1 + {_hexpair(6, 7)} % 16 AS INTEGER) AS n_frames
  FROM p
)
"""

ORACLES["multimodal_meta"] = """
SELECT doc_id, 'image' AS modality,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       md5(text) AS checksum
FROM documents
"""

ORACLES["multimodal_decode"] = _DECODE_CTE + "SELECT * FROM dec"

# Every published double is (integer nano-units)/1e9: sums/maxes happen
# on exact BIGINTs (partition-order-proof) and the only decimal round()
# is on an integer-valued or integer-quotient double — engines whose
# round() implementations differ on raw sqrt doubles (BigDecimal half-up
# vs multiply/std::round) still agree bit-for-bit here.
# bucket_start is integer epoch-day math (NOT date_trunc) to mirror the
# Spark side's TZ-free bucketing — see operators/rollup.py:bucket_start_expr.
# r04 bisect, integer-only half: epoch-day BIGINT key + exact integer
# state — no timestamp or double anywhere in the published schema.
ORACLES["version_rollup"] = f"""
SELECT content_id,
       CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS bucket_day,
       count(*) AS n_versions,
       CAST(sum(CASE WHEN kind <> 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_bases,
       CAST(sum(CASE WHEN kind = 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_deltas,
       CAST(sum(CASE WHEN kind = 'delta'
                THEN CAST(round(magnitude * 1000000000.0) AS BIGINT) END) AS BIGINT) AS mag_sum_e9,
       CAST(max(CASE WHEN kind = 'delta'
                THEN CAST(round(magnitude * 1000000000.0) AS BIGINT) END) AS BIGINT) AS mag_max_e9,
       CAST(sum(CASE WHEN kind = 'delta' THEN n_changed END) AS BIGINT) AS changed_sum
FROM {_V}
GROUP BY content_id, epoch_us(ts) // 86400000000
"""

def q_retention_dryrun(spark, sf_dir):
    """r08: retention DRY-RUN — what truncate_before(cutoff) would
    drop/keep/promote per content, with the floats-freed vs
    promotion-growth accounting a capacity planner diffs before acting.
    Cutoff = max ts of the seq-5 rows (in-data-derived, TZ-free — the
    snapshot_read precedent); the 1-row collect is a model parameter,
    mirrored relationally by the oracle."""
    from temporal_vector_database_spark.operators.maintenance import (
        retention_dryrun,
    )

    v = _versions(spark, sf_dir)
    t = v.where(F.col("seq") == 5).agg(F.max("ts")).collect()[0][0]
    return retention_dryrun(v, t)


ORACLES["retention_dryrun"] = f"""
WITH tq AS (SELECT max(ts) AS t FROM {_V} WHERE seq = 5),
a AS (
  SELECT content_id, max(seq) AS anchor_seq
  FROM {_V}, tq WHERE ts < tq.t GROUP BY 1
),
ar AS (
  SELECT v.content_id, a.anchor_seq, v.kind AS akind,
         v.total_dims AS adims, v.n_changed AS anch
  FROM {_V} v JOIN a ON v.content_id = a.content_id AND v.seq = a.anchor_seq
),
d AS (
  SELECT v.content_id, CAST(count(*) AS BIGINT) AS n_dropped,
         CAST(sum(CASE WHEN v.kind = 'base' THEN v.total_dims
                       ELSE 2 * coalesce(v.n_changed, 0) END) AS BIGINT)
           AS floats_freed
  FROM {_V} v JOIN a ON v.content_id = a.content_id, tq
  WHERE v.ts < tq.t AND v.seq <> a.anchor_seq GROUP BY 1
),
s AS (
  SELECT v.content_id, CAST(count(*) AS BIGINT) AS n_survivors
  FROM {_V} v LEFT JOIN a ON v.content_id = a.content_id, tq
  WHERE v.ts >= tq.t OR v.seq = a.anchor_seq GROUP BY 1
)
SELECT c.content_id, ar.anchor_seq, (ar.akind = 'delta') AS anchor_is_delta,
       CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
       CAST(coalesce(d.floats_freed, 0) AS BIGINT) AS floats_freed,
       CAST(CASE WHEN ar.akind = 'delta'
                 THEN ar.adims - 2 * coalesce(ar.anch, 0)
                 ELSE 0 END AS BIGINT) AS promote_growth,
       CAST(coalesce(s.n_survivors, 0) AS BIGINT) AS n_survivors
FROM (SELECT DISTINCT content_id FROM {_V}) c
LEFT JOIN ar ON ar.content_id = c.content_id
LEFT JOIN d ON d.content_id = c.content_id
LEFT JOIN s ON s.content_id = c.content_id
"""


ORACLES["storage_tiering"] = f"""
WITH v2 AS (
  SELECT *, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d FROM {_V}
),
mx AS (SELECT max(d) AS mxd FROM v2),
lat AS (SELECT content_id, max(seq) AS lseq FROM {_V} GROUP BY 1),
t AS (
  SELECT v2.*, lat.lseq,
         CASE WHEN mx.mxd - v2.d < 3 THEN 'hot'
              WHEN mx.mxd - v2.d < 7 THEN 'warm'
              ELSE 'cold' END AS tier
  FROM v2 CROSS JOIN mx JOIN lat ON lat.content_id = v2.content_id
)
SELECT tier, CAST(count(*) AS BIGINT) AS n_versions,
       CAST(sum(CASE WHEN kind = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS n_bases,
       CAST(sum(CASE WHEN kind = 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_deltas,
       CAST(sum(CASE WHEN kind = 'base' THEN total_dims
                     ELSE 2 * coalesce(n_changed, 0) END) AS BIGINT) AS floats_stored,
       CAST(count(DISTINCT content_id) AS BIGINT) AS n_contents,
       CAST(sum(CASE WHEN seq = lseq THEN 1 ELSE 0 END) AS BIGINT) AS n_latest
FROM t GROUP BY tier
"""


ORACLES["version_rollup_report"] = f"""
WITH st AS (
  SELECT content_id,
         make_timestamp((epoch_us(ts) // 86400000000) * 86400000000) AS bucket_start,
         count(*) AS n_versions,
         CAST(sum(CASE WHEN kind <> 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_bases,
         CAST(sum(CASE WHEN kind = 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_deltas,
         CAST(sum(CASE WHEN kind = 'delta'
                  THEN CAST(round(magnitude * 1000000000.0) AS BIGINT) END) AS BIGINT) AS mag_sum_e9,
         CAST(max(CASE WHEN kind = 'delta'
                  THEN CAST(round(magnitude * 1000000000.0) AS BIGINT) END) AS BIGINT) AS mag_max_e9,
         CAST(sum(CASE WHEN kind = 'delta' THEN n_changed END) AS BIGINT) AS changed_sum
  FROM {_V}
  GROUP BY content_id, (epoch_us(ts) // 86400000000) * 86400000000
)
SELECT content_id, bucket_start, n_versions, n_bases, n_deltas,
       CAST(round(CAST(mag_sum_e9 AS DOUBLE) / CAST(n_deltas AS DOUBLE)) AS BIGINT)
         / 1000000000.0 AS avg_magnitude,
       CAST(mag_max_e9 AS DOUBLE) / 1000000000.0 AS max_magnitude,
       CAST(round(CAST(changed_sum AS DOUBLE) * 1000000000.0 / CAST(n_deltas AS DOUBLE)) AS BIGINT)
         / 1000000000.0 AS avg_dims_changed
FROM st
"""

# r06 bisect twins: integers + ONE suspect column class each (see the
# q_version_rollup_report_* docstrings). Counts are CAST to BIGINT so
# both engines publish int64 (DuckDB count() is already BIGINT but the
# CASE sums default to HUGEINT/INT128 without the cast).
ORACLES["version_rollup_report_ts"] = f"""
SELECT content_id,
       make_timestamp((epoch_us(ts) // 86400000000) * 86400000000) AS bucket_start,
       count(*) AS n_versions,
       CAST(sum(CASE WHEN kind <> 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_bases,
       CAST(sum(CASE WHEN kind = 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_deltas
FROM {_V}
GROUP BY content_id, (epoch_us(ts) // 86400000000) * 86400000000
"""

ORACLES["version_rollup_report_date"] = f"""
SELECT content_id,
       DATE '1970-01-01' + CAST(epoch_us(ts) // 86400000000 AS INTEGER) AS bucket_date,
       count(*) AS n_versions,
       CAST(sum(CASE WHEN kind <> 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_bases,
       CAST(sum(CASE WHEN kind = 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_deltas
FROM {_V}
GROUP BY content_id, epoch_us(ts) // 86400000000
"""

ORACLES["version_rollup_report_dbl"] = f"""
WITH st AS (
  SELECT content_id,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS bucket_day,
         count(*) AS n_versions,
         CAST(sum(CASE WHEN kind <> 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_bases,
         CAST(sum(CASE WHEN kind = 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_deltas,
         CAST(sum(CASE WHEN kind = 'delta'
                  THEN CAST(round(magnitude * 1000000000.0) AS BIGINT) END) AS BIGINT) AS mag_sum_e9,
         CAST(max(CASE WHEN kind = 'delta'
                  THEN CAST(round(magnitude * 1000000000.0) AS BIGINT) END) AS BIGINT) AS mag_max_e9,
         CAST(sum(CASE WHEN kind = 'delta' THEN n_changed END) AS BIGINT) AS changed_sum
  FROM {_V}
  GROUP BY content_id, epoch_us(ts) // 86400000000
)
SELECT content_id, bucket_day, n_versions, n_bases, n_deltas,
       CAST(round(CAST(mag_sum_e9 AS DOUBLE) / CAST(n_deltas AS DOUBLE)) AS BIGINT)
         / 1000000000.0 AS avg_magnitude,
       CAST(mag_max_e9 AS DOUBLE) / 1000000000.0 AS max_magnitude,
       CAST(round(CAST(changed_sum AS DOUBLE) * 1000000000.0 / CAST(n_deltas AS DOUBLE)) AS BIGINT)
         / 1000000000.0 AS avg_dims_changed
FROM st
"""

ORACLES["multimodal_resize"] = (
    _DECODE_CTE
    + """
SELECT doc_id, width, height,
       CAST(CASE WHEN width <= 256 AND height <= 256 THEN width
                 WHEN width * 256 <= height * 256 THEN (width * 256) // height
                 ELSE 256 END AS INTEGER) AS out_w,
       CAST(CASE WHEN width <= 256 AND height <= 256 THEN height
                 WHEN width * 256 <= height * 256 THEN 256
                 ELSE (height * 256) // width END AS INTEGER) AS out_h,
       width * height > 65536 AS downsampled
FROM dec
"""
)


def _hex4(i: int) -> str:
    # 16-bit slice i of the md5 hex digest (1-based char positions)
    return f"({_hexpair(4 * i + 1, 4 * i + 2)} * 256 + {_hexpair(4 * i + 3, 4 * i + 4)})"


ORACLES["multimodal_features"] = f"""
WITH p AS (
  SELECT doc_id, md5(text) AS h FROM documents
),
f AS (
  SELECT doc_id, {", ".join(f"{_hex4(i)} / 65535.0 AS f{i}" for i in range(8))}
  FROM p
)
SELECT doc_id,
       round(f0 + f1 + f2 + f3 + f4 + f5 + f6 + f7, 9) AS feat_sum,
       round(f0, 9) AS feat_0
FROM f
"""

# multimodal -> dedup bridge: stub features centered at 0.5 and snapped
# to the 1/1024 dyadic grid (so every sum is exact in any order), then
# the standard 2x4-bit sign-band LSH + exact cosine
ORACLES["multimodal_near_dup"] = f"""
WITH p AS (
  SELECT doc_id, md5(text) AS h FROM documents
),
e AS (
  SELECT doc_id,
         [{", ".join(f"floor(({_hex4(i)} / 65535.0 - 0.5) * 1024) / 1024" for i in range(8))}] AS emb
  FROM p
),
en AS (
  SELECT doc_id, emb, sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e
),
bucket AS (
  SELECT doc_id, band_id,
         (CASE WHEN emb[4 * band_id + 1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 4] >= 0 THEN 8 ELSE 0 END) AS band_val
  FROM en, unnest([0, 1]) AS t(band_id)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bucket a JOIN bucket b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
scored AS (
  SELECT p.a_id, p.b_id,
         CASE WHEN ea.nrm > 0 AND eb.nrm > 0
              THEN list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm)
              ELSE 0.0 END AS sim
  FROM pairs p JOIN en ea ON p.a_id = ea.doc_id JOIN en eb ON p.b_id = eb.doc_id
)
SELECT a_id, b_id, sim FROM scored WHERE sim >= 0.9
"""

ORACLES["frame_sample"] = (
    _DECODE_CTE
    + """
SELECT doc_id, n_frames, CAST(frame_id AS INTEGER) AS frame_id
FROM dec, unnest(range(0, n_frames)) AS t(frame_id)
WHERE frame_id % 4 = 0
"""
)

ORACLES["tpch_q1"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["tpch_q3_top10"] = """
SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

ORACLES["label_centroids"] = """
WITH e AS (
  SELECT label, list_transform(embedding::DOUBLE[], x -> floor(x * 1024) / 1024) AS emb
  FROM embeddings
),
x AS (
  SELECT label, CAST(t.i - 1 AS INTEGER) AS dim, emb[t.i] AS x
  FROM e, unnest(range(1, len(emb) + 1)) AS t(i)
)
SELECT label, dim, avg(x) AS centroid_r, CAST(count(*) AS BIGINT) AS n
FROM x GROUP BY 1, 2
"""

ORACLES["price_quantiles"] = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1
"""

ORACLES["tpch_q5"] = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""

ORACLES["tpch_q6"] = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""

ORACLES["tpch_q14"] = """
SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
"""

ORACLES["tpch_q10"] = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

ORACLES["tpch_q18"] = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(total_qty, 2) AS total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""

ORACLES["revenue_grouping_sets"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""

ORACLES["events_moving_stats"] = """
WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value FROM events)
SELECT user_id, rnk, event_id, ts_ms, moving_avg, next_gap_ms FROM (
  SELECT user_id, event_id, ts_ms,
         round(avg(value) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS moving_avg,
         lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) - ts_ms
           AS next_gap_ms,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_ms, event_id)
           AS INTEGER) AS rnk
  FROM e)
WHERE rnk <= 5
"""

ORACLES["events_range_frame"] = """
WITH e AS (
  SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
         CAST(round(value * 1000000.0) AS BIGINT) AS v_e6
  FROM events
)
SELECT user_id, event_id, ts_ms,
       CAST(count(*) OVER w AS BIGINT) AS n_60s,
       CAST(sum(v_e6) OVER w AS BIGINT) AS sum_v_e6
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms
             RANGE BETWEEN 60000 PRECEDING AND CURRENT ROW)
"""

ORACLES["events_rank_functions"] = """
SELECT event_type, event_id,
       CAST(dense_rank() OVER w AS INTEGER) AS d_rank,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""

ORACLES["events_outliers"] = """
WITH e AS (
  SELECT event_id, event_type, epoch_ms(ts) AS ts_ms,
         CAST(round(value * 1000.0) AS BIGINT) AS v_e3
  FROM events
),
st AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(v_e3) AS BIGINT) AS s1,
         CAST(sum(v_e3 * v_e3) AS BIGINT) AS s2
  FROM e GROUP BY 1
),
ms AS (
  SELECT event_type,
         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_e3,
         sqrt(greatest((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
              / (CAST(n AS DOUBLE) - 1.0), 0.0)) AS std_e3
  FROM st WHERE n > 1
)
SELECT e.event_type, e.event_id, e.ts_ms, e.v_e3,
       round((CAST(e.v_e3 AS DOUBLE) - ms.mean_e3) / ms.std_e3, 6) AS z_r
FROM e JOIN ms USING (event_type)
WHERE ms.std_e3 > 0
  AND abs(round((CAST(e.v_e3 AS DOUBLE) - ms.mean_e3) / ms.std_e3, 6)) >= 2.5
"""

ORACLES["events_histogram"] = """
WITH e AS (
  SELECT event_type, CAST(round(value * 1000.0) AS BIGINT) AS v_e3 FROM events
)
SELECT event_type, CAST(floor(v_e3 / 25000.0) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(v_e3) AS BIGINT) AS min_e3,
       CAST(max(v_e3) AS BIGINT) AS max_e3
FROM e GROUP BY 1, 2
"""

def q_docs_pivot(spark, sf_dir):
    """PIVOT shape: per-source document counts and token mass spread
    across language columns (`groupBy().pivot()` with an explicit value
    list — the explicit list keeps the schema static, which is both the
    oracle contract and the only scalable form: value-discovery pivots
    scan twice)."""
    docs = _documents(spark, sf_dir)
    toks = docs.select(
        "source",
        "lang",
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias("n_tok"),
    )
    langs = ["de", "en", "es", "fr", "zh"]
    out = (
        toks.groupBy("source")
        .pivot("lang", langs)
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
        )
    )
    return out.select(
        "source",
        *[
            F.coalesce(F.col(f"{lang}_{m}"), F.lit(0)).cast("long").alias(f"{lang}_{m}")
            for lang in langs
            for m in ("docs", "tokens")
        ],
    )


ORACLES["docs_pivot"] = (
    """
WITH t AS (
  SELECT source, lang,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
)
SELECT source,
"""
    + ",\n".join(
        f"       CAST(COALESCE(sum(CASE WHEN lang = '{lang}' THEN 1 ELSE 0 END), 0) AS BIGINT) AS {lang}_docs,\n"
        f"       CAST(COALESCE(sum(CASE WHEN lang = '{lang}' THEN n_tok ELSE 0 END), 0) AS BIGINT) AS {lang}_tokens"
        for lang in ("de", "en", "es", "fr", "zh")
    )
    + """
FROM t GROUP BY source
"""
)


def q_quality_weighted_sample(spark, sf_dir):
    """Importance sampling by quality: accept each document with
    probability equal to its quality score — deterministic via the
    md5-threshold membership (u32/2^32 < quality_r), so the sample is a
    pure property of (doc_id, quality) and reproducible anywhere. The
    quality-weighted mixing primitive of training-data recipes."""
    from temporal_vector_database_spark.functions.text import quality_score

    docs = _documents(spark, sf_dir)
    q = quality_score(docs).select("doc_id", "quality_r")
    u32 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    return (
        q.withColumn("u", u32.cast("double") / F.lit(float(2**32)))
        .where(F.col("u") < F.col("quality_r"))
        .select("doc_id", "quality_r")
    )


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition counts over each user's event
    sequence: lag window per user (ts, event_id order), then one count
    aggregate per (prev_type, type) with the exact transition ratio
    against the prev_type total."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select("user_id", "event_type", "ts_ms", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = pairs.groupBy("prev_type").agg(F.sum("n").cast("long").alias("n_from"))
    return pairs.join(tot, "prev_type").select(
        "prev_type",
        "event_type",
        "n",
        "n_from",
        (F.col("n").cast("double") / F.col("n_from").cast("double")).alias("p"),
    )


_U32_HH = (
    "("
    + " + ".join(
        f"(instr('0123456789abcdef', substring(hh, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + ")"
)

ORACLES["quality_weighted_sample"] = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS INTEGER) AS n_stop
  FROM t
), q AS (
  SELECT doc_id,
         round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
               * (0.3 + 0.7 * least(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 5.0, 1.0)), 9) AS quality_r
  FROM s
), h AS (SELECT *, md5(CAST(doc_id AS VARCHAR)) AS hh FROM q)
SELECT doc_id, quality_r FROM h
WHERE CAST({_U32_HH} AS DOUBLE) / 4294967296.0 < quality_r
"""

ORACLES["event_transitions"] = """
WITH e AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id FROM events
),
seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_type
  FROM e
),
pairs AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_from FROM pairs GROUP BY 1)
SELECT p.prev_type, p.event_type, p.n, t.n_from,
       CAST(p.n AS DOUBLE) / CAST(t.n_from AS DOUBLE) AS p
FROM pairs p JOIN tot t USING (prev_type)
"""


ORACLES["events_funnel"] = """
WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
v AS (SELECT user_id, min(ts_ms) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
c AS (
  SELECT e.user_id, min(e.ts_ms) AS t_click
  FROM e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts_ms > v.t_view
  GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts_ms) AS t_purchase
  FROM e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts_ms > c.t_click
  GROUP BY 1
),
u AS (SELECT DISTINCT user_id FROM e)
SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
       CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                 WHEN c.t_click IS NOT NULL THEN 2
                 WHEN v.t_view IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS steps_completed
FROM u
LEFT JOIN v ON u.user_id = v.user_id
LEFT JOIN c ON u.user_id = c.user_id
LEFT JOIN p ON u.user_id = p.user_id
"""

ORACLES["events_retention"] = """
WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
cohort AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
act AS (
  SELECT DISTINCT e.user_id, c.cohort_day, e.day - c.cohort_day AS day_offset
  FROM e JOIN cohort c ON e.user_id = c.user_id
)
SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
       CAST(day_offset AS BIGINT) AS day_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
FROM act GROUP BY 1, 2
"""

# md5-hex-prefix → u32, as an expression over a column named `hh`
_U32_SQL = (
    "("
    + " + ".join(
        f"(instr('0123456789abcdef', substring(hh, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + ")"
)

# at-scale default: quartiles by exact percentile THRESHOLDS (DuckDB's
# quantile_cont and Spark's percentile share the p*(n-1) linear-
# interpolation definition), ties value-determined — mirrors
# operators/sampling.py:length_balanced_sample
ORACLES["length_balanced_sample"] = (
    """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens
  FROM documents
),
thr AS (
  SELECT quantile_cont(n_tokens, 0.25) AS t1,
         quantile_cont(n_tokens, 0.5) AS t2,
         quantile_cont(n_tokens, 0.75) AS t3
  FROM t
),
q AS (
  SELECT doc_id, n_tokens,
         CAST(1 + (CASE WHEN n_tokens > t1 THEN 1 ELSE 0 END)
                + (CASE WHEN n_tokens > t2 THEN 1 ELSE 0 END)
                + (CASE WHEN n_tokens > t3 THEN 1 ELSE 0 END) AS INTEGER) AS quartile
  FROM t, thr
),
h AS (SELECT *, md5(CAST(doc_id AS VARCHAR)) AS hh FROM q),
u AS (SELECT *, CAST({U32} AS BIGINT) AS u32 FROM h)
SELECT doc_id, n_tokens, quartile FROM u
WHERE (quartile = 1 AND u32 < 4294967296)
   OR (quartile = 2 AND u32 < 3221225472)
   OR (quartile = 3 AND u32 < 2147483648)
   OR (quartile = 4 AND u32 < 1073741824)
"""
).replace("{U32}", _U32_SQL)

ORACLES["length_balanced_sample_exact"] = (
    """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens
  FROM documents
),
q AS (
  SELECT doc_id, n_tokens,
         CAST(ntile(4) OVER (ORDER BY n_tokens, doc_id) AS INTEGER) AS quartile
  FROM t
),
h AS (SELECT *, md5(CAST(doc_id AS VARCHAR)) AS hh FROM q),
u AS (SELECT *, CAST({U32} AS BIGINT) AS u32 FROM h)
SELECT doc_id, n_tokens, quartile FROM u
WHERE (quartile = 1 AND u32 < 4294967296)
   OR (quartile = 2 AND u32 < 3221225472)
   OR (quartile = 3 AND u32 < 2147483648)
   OR (quartile = 4 AND u32 < 1073741824)
"""
).replace("{U32}", _U32_SQL)

ORACLES["doc_ccnet_buckets"] = """
WITH s AS (
  SELECT doc_id, lang,
         CAST(length(text) AS DOUBLE)
           / CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS score
  FROM documents
),
thr AS (
  SELECT quantile_cont(score, 1.0/3.0) AS t1, quantile_cont(score, 2.0/3.0) AS t2 FROM s
),
b AS (
  SELECT lang,
         CASE WHEN score <= t1 THEN 'head'
              WHEN score <= t2 THEN 'middle'
              ELSE 'tail' END AS bucket,
         score
  FROM s, thr
)
SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
       round(min(score), 6) AS min_score,
       round(max(score), 6) AS max_score
FROM b GROUP BY 1, 2
"""

# winnowing: same k=7 / w=16 parameters, window-min over per-doc gram
# hash sequences — mirrors operators/textindex.py:winnow_fingerprints
ORACLES["docs_winnow_fingerprint"] = (
    """
WITH pos AS (
  SELECT doc_id, CAST(i AS INTEGER) AS i,
         substring(text, CAST(i AS INTEGER), 7) AS g
  FROM documents,
       unnest(range(1, greatest(length(text) - 6, 1) + 1)) AS t(i)
  WHERE length(substring(text, CAST(i AS INTEGER), 7)) = 7
),
h0 AS (SELECT doc_id, i, substring(md5(g), 1, 8) AS hh FROM pos),
h AS (SELECT doc_id, i, CAST({U32} AS BIGINT) AS hv FROM h0),
wmin AS (
  SELECT doc_id, i,
         min(hv) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp,
         max(i) OVER (PARTITION BY doc_id) AS n
  FROM h
)
SELECT DISTINCT doc_id, fp FROM wmin WHERE i <= greatest(n - 15, 1)
"""
).replace("{U32}", _U32_SQL)

def q_winnow_pairs(spark, sf_dir):
    """r08: MOSS-style fingerprint MATCHING — doc pairs sharing >= 2
    rare winnow prints (k=7, w=16), localizing span-grain overlap. The
    word-soup fixture has no natural >= 22-char cross-doc substrings,
    so the boilerplate-injected corpus (the suffix_array_ngrams
    fixture) provides ground truth: every pair of boiler-carrying docs
    shares the clause's prints. max_fp_df=100 keeps the 50-doc boiler
    clique pairable while still exercising the noise rule."""
    from temporal_vector_database_spark.operators.textindex import (
        winnow_shared_pairs,
    )

    return winnow_shared_pairs(
        _injected_boiler_docs(spark, sf_dir),
        k=7, w=16, min_shared=2, max_fp_df=100,
    )


ORACLES["winnow_pairs"] = (
    """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text ||
           ' copyright notice all rights reserved contact the site owner for permission to reuse any part of this page content'
         ELSE text END AS text
  FROM documents
),
pos AS (
  SELECT doc_id, CAST(i AS INTEGER) AS i,
         substring(text, CAST(i AS INTEGER), 7) AS g
  FROM d,
       unnest(range(1, greatest(length(text) - 6, 1) + 1)) AS t(i)
  WHERE length(substring(text, CAST(i AS INTEGER), 7)) = 7
),
h0 AS (SELECT doc_id, i, substring(md5(g), 1, 8) AS hh FROM pos),
h AS (SELECT doc_id, i, CAST({U32} AS BIGINT) AS hv FROM h0),
wmin AS (
  SELECT doc_id, i,
         min(hv) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp,
         max(i) OVER (PARTITION BY doc_id) AS n
  FROM h
),
fpt AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE i <= greatest(n - 15, 1)),
dfc AS (SELECT fp, CAST(count(*) AS BIGINT) AS df FROM fpt GROUP BY 1),
keep AS (SELECT fp FROM dfc WHERE df >= 2 AND df <= 100),
r AS (SELECT f.doc_id, f.fp FROM fpt f JOIN keep USING (fp)),
p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id, n_shared FROM p WHERE n_shared >= 2
"""
).replace("{U32}", _U32_SQL)


ORACLES["suffix_array_ngrams"] = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text ||
           ' copyright notice all rights reserved contact the site owner for permission to reuse any part of this page content'
         ELSE text END AS text
  FROM documents
),
w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM d
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws) - 7 + 1),
                i -> list_aggregate(ws[CAST(i AS INTEGER):CAST(i AS INTEGER)+7], 'string_agg', ' '))) AS gram
  FROM w WHERE len(ws) >= 8
),
a AS (
  SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_occ
  FROM g GROUP BY 1
)
SELECT md5(gram) AS gram_hash, n_docs, n_occ FROM a WHERE n_docs >= 2
"""

# indexing contract with the Spark side: gram start positions and word
# indices are 1-based here; DuckDB list-lambda index params are 1-based,
# matching Spark's filter((w, i) -> ...) after its explicit i + 1
ORACLES["remove_dup_spans"] = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text ||
           ' copyright notice all rights reserved contact the site owner for permission to reuse any part of this page content'
         ELSE text END AS text
  FROM documents
),
w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM d
),
occ AS (
  SELECT doc_id, CAST(i AS INTEGER) AS i,
         md5(list_aggregate(ws[CAST(i AS INTEGER):CAST(i AS INTEGER)+7], 'string_agg', ' ')) AS gram_hash
  FROM w, unnest(range(1, len(ws) - 7 + 1)) AS t(i)
  WHERE len(ws) >= 8
),
dup AS (SELECT gram_hash FROM occ GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT o.doc_id, o.i + CAST(x AS INTEGER) AS widx
  FROM occ o JOIN dup USING (gram_hash), unnest(range(0, 8)) AS u(x)
),
covl AS (SELECT doc_id, list(widx) AS cov FROM cov GROUP BY 1),
r AS (
  SELECT w.doc_id, w.ws, coalesce(c.cov, []) AS cov
  FROM w LEFT JOIN covl c USING (doc_id)
),
k AS (
  SELECT doc_id, ws,
         list_filter(ws, (x, i) -> NOT list_contains(cov, i)) AS kept
  FROM r
)
SELECT doc_id,
       -- array_to_string([]) is NULL in DuckDB (Spark's concat_ws gives '')
       md5(coalesce(array_to_string(kept, ' '), '')) AS clean_hash,
       CAST(length(coalesce(array_to_string(kept, ' '), '')) AS BIGINT) AS clean_len,
       CAST(len(ws) AS BIGINT) AS n_words,
       CAST(len(ws) - len(kept) AS BIGINT) AS n_removed
FROM k
"""

ORACLES["bm25_scores"] = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
  FROM documents
),
tf AS (
  SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN ('vector', 'join', 'scan') GROUP BY 1, 2, 3
),
stats AS (
  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs,
         avg(CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)) AS avgdl
  FROM documents
),
dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * CAST(tf.tf AS DOUBLE) * 2.2
           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) / s.avgdl))
         ), 6) AS bm25
  FROM tf JOIN dfreq d USING (term), stats s
  GROUP BY 1
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rn, bm25
FROM scored ORDER BY bm25 DESC, doc_id LIMIT 20
"""

ORACLES["hybrid_search"] = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
  FROM documents
),
tf AS (
  SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN ('vector', 'join', 'scan') GROUP BY 1, 2, 3
),
stats AS (
  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs,
         avg(CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)) AS avgdl
  FROM documents
),
dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY 1),
bscored AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * CAST(tf.tf AS DOUBLE) * 2.2
           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) / s.avgdl))
         ), 6) AS bm25
  FROM tf JOIN dfreq d USING (term), stats s
  GROUP BY 1
),
t50 AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank_a
  FROM bscored ORDER BY bm25 DESC, doc_id LIMIT 50
),
e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x * 1024) / 1024) AS emb
  FROM embeddings
),
en AS (
  SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e
),
qv AS (SELECT emb AS qe, nrm AS nq FROM en WHERE vec_id = 0),
vsc AS (
  SELECT en.vec_id AS doc_id,
         CASE WHEN qv.nq > 0 AND en.nrm > 0
              THEN list_dot_product(qv.qe, en.emb) / (qv.nq * en.nrm)
              ELSE 0.0 END AS sim
  FROM en CROSS JOIN qv
),
vranked AS (
  SELECT doc_id, sim,
         CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS INTEGER) AS rank_b
  FROM vsc WHERE sim > 0
),
v50 AS (SELECT doc_id, rank_b FROM vranked WHERE rank_b <= 50),
f AS (
  SELECT doc_id, a.rank_a, b.rank_b,
         coalesce(1.0 / (60 + a.rank_a), 0.0)
           + coalesce(1.0 / (60 + b.rank_b), 0.0) AS rrf
  FROM t50 a FULL JOIN v50 b USING (doc_id)
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rn,
       rank_a AS rank_text, rank_b AS rank_vec, rrf
FROM f ORDER BY rrf DESC, doc_id LIMIT 20
"""

ORACLES["unigram_nll"] = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
counts AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM counts),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       round(-sum(CAST(tf AS DOUBLE) * ln(CAST(cnt AS DOUBLE) / total))
               / CAST(sum(tf) AS DOUBLE), 6) AS unigram_nll
FROM tf JOIN counts USING (term), total
GROUP BY 1
"""

ORACLES["bigram_nll"] = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
pairs AS (
  SELECT doc_id, bg[1] AS w1, bg[2] AS w2 FROM (
    SELECT doc_id, unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS bg
    FROM t
  )
),
uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS u_cnt
  FROM (SELECT unnest(toks) AS term FROM t) GROUP BY 1
),
total AS (SELECT CAST(sum(u_cnt) AS DOUBLE) AS n_total FROM uni),
big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS b_cnt FROM pairs GROUP BY 1, 2),
ctx AS (SELECT w1, CAST(sum(b_cnt) AS BIGINT) AS c_cnt FROM big GROUP BY 1),
tf AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf FROM pairs GROUP BY 1, 2, 3)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       round(-sum(CAST(tf AS DOUBLE) * ln(
           0.75 * (CAST(b_cnt AS DOUBLE) / CAST(c_cnt AS DOUBLE))
         + 0.25 * (CAST(u_cnt AS DOUBLE) / n_total)
       )) / CAST(sum(tf) AS DOUBLE), 6) AS bigram_nll
FROM tf
JOIN big USING (w1, w2)
JOIN ctx USING (w1)
JOIN uni ON tf.w2 = uni.term, total
GROUP BY doc_id
"""

# r11: stream==batch is exact (additive count states + shared scoring
# core, bit-parity pinned in tests), so each streamed serve is checked
# against the SAME relational recomputation as its batch twin (the
# trigram/KN/MKN/band assignments live after their twins' definitions
# below).
ORACLES["bigram_nll_stream"] = ORACLES["bigram_nll"]

ORACLES["kneser_ney_nll"] = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
pairs AS (
  SELECT doc_id, bg[1] AS w1, bg[2] AS w2 FROM (
    SELECT doc_id, unnest(list_zip(toks[1:greatest(len(toks) - 1, 0)],
                                   toks[2:len(toks)])) AS bg
    FROM t WHERE len(toks) >= 2
  )
),
big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS b_cnt FROM pairs GROUP BY 1, 2),
ctx AS (
  SELECT w1, CAST(sum(b_cnt) AS BIGINT) AS c_cnt,
         CAST(count(*) AS BIGINT) AS n1p_fwd
  FROM big GROUP BY 1
),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_bwd FROM big GROUP BY 1),
types AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM big),
tf AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf FROM pairs GROUP BY 1, 2, 3),
joined AS MATERIALIZED (
  SELECT doc_id, tf, b_cnt, c_cnt, n1p_fwd, n1p_bwd
  FROM tf
  JOIN big USING (w1, w2)
  JOIN ctx USING (w1)
  JOIN cont USING (w2)
)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       round(-sum(CAST(tf AS DOUBLE) * ln(
           greatest(CAST(b_cnt AS DOUBLE) - 0.75, 0.0) / CAST(c_cnt AS DOUBLE)
         + 0.75 * CAST(n1p_fwd AS DOUBLE) / CAST(c_cnt AS DOUBLE)
           * (CAST(n1p_bwd AS DOUBLE) / n_types)
       )) / CAST(sum(tf) AS DOUBLE), 6) AS kn_nll
FROM joined, types
GROUP BY doc_id
"""

ORACLES["modified_kn_nll"] = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
trips AS (
  SELECT doc_id, tg[1] AS w1, tg[2] AS w2, tg[3] AS w3 FROM (
    SELECT doc_id, unnest(list_zip(
      toks[1:greatest(len(toks) - 2, 0)],
      toks[2:greatest(len(toks) - 1, 1)],
      toks[3:len(toks)]
    )) AS tg
    FROM t WHERE len(toks) >= 3
  )
),
tri AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS t_cnt FROM trips GROUP BY 1, 2, 3),
ctx3 AS (
  SELECT w1, w2, CAST(sum(t_cnt) AS BIGINT) AS c3_cnt,
         CAST(sum(CASE WHEN t_cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt1,
         CAST(sum(CASE WHEN t_cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nt2,
         CAST(sum(CASE WHEN t_cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS nt3
  FROM tri GROUP BY 1, 2
),
coc3 AS (
  SELECT CAST(sum(CASE WHEN t_cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(sum(CASE WHEN t_cnt = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
         CAST(sum(CASE WHEN t_cnt = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS n3,
         CAST(sum(CASE WHEN t_cnt = 4 THEN 1 ELSE 0 END) AS DOUBLE) AS n4
  FROM tri
),
d3 AS (
  SELECT
    CASE WHEN n1 > 0 THEN greatest(1.0 - 2.0 * (CASE WHEN n1 + 2.0 * n2 > 0
      THEN n1 / (n1 + 2.0 * n2) ELSE 0.5 END) * n2 / n1, 0.0) ELSE 0.5 END AS d1,
    CASE WHEN n2 > 0 THEN greatest(2.0 - 3.0 * (CASE WHEN n1 + 2.0 * n2 > 0
      THEN n1 / (n1 + 2.0 * n2) ELSE 0.5 END) * n3 / n2, 0.0) ELSE 1.0 END AS d2,
    CASE WHEN n3 > 0 THEN greatest(3.0 - 4.0 * (CASE WHEN n1 + 2.0 * n2 > 0
      THEN n1 / (n1 + 2.0 * n2) ELSE 0.5 END) * n4 / n3, 0.0) ELSE 1.5 END AS d3
  FROM coc3
),
cbig AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS cp_cnt FROM tri GROUP BY 1, 2),
ctx2 AS (
  SELECT w2, CAST(sum(cp_cnt) AS BIGINT) AS c2_cnt,
         CAST(sum(CASE WHEN cp_cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb1,
         CAST(sum(CASE WHEN cp_cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nb2,
         CAST(sum(CASE WHEN cp_cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS nb3
  FROM cbig GROUP BY 1
),
coc2 AS (
  SELECT CAST(sum(CASE WHEN cp_cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(sum(CASE WHEN cp_cnt = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
         CAST(sum(CASE WHEN cp_cnt = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS n3,
         CAST(sum(CASE WHEN cp_cnt = 4 THEN 1 ELSE 0 END) AS DOUBLE) AS n4
  FROM cbig
),
e2 AS (
  SELECT
    CASE WHEN n1 > 0 THEN greatest(1.0 - 2.0 * (CASE WHEN n1 + 2.0 * n2 > 0
      THEN n1 / (n1 + 2.0 * n2) ELSE 0.5 END) * n2 / n1, 0.0) ELSE 0.5 END AS e1,
    CASE WHEN n2 > 0 THEN greatest(2.0 - 3.0 * (CASE WHEN n1 + 2.0 * n2 > 0
      THEN n1 / (n1 + 2.0 * n2) ELSE 0.5 END) * n3 / n2, 0.0) ELSE 1.0 END AS e2,
    CASE WHEN n3 > 0 THEN greatest(3.0 - 4.0 * (CASE WHEN n1 + 2.0 * n2 > 0
      THEN n1 / (n1 + 2.0 * n2) ELSE 0.5 END) * n4 / n3, 0.0) ELSE 1.5 END AS e3
  FROM coc2
),
cont AS (SELECT w3, CAST(count(*) AS BIGINT) AS n1p_bwd FROM cbig GROUP BY 1),
types AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM cbig),
tf AS (SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS tf FROM trips GROUP BY 1, 2, 3, 4),
-- the multi-way model join is MATERIALIZED: same DuckDB join-order
-- degeneration under an ln-aggregate as trigram_nll (measured there)
joined AS MATERIALIZED (
  SELECT doc_id, tf, t_cnt, c3_cnt, nt1, nt2, nt3,
         cp_cnt, c2_cnt, nb1, nb2, nb3, n1p_bwd
  FROM tf
  JOIN tri USING (w1, w2, w3)
  JOIN ctx3 USING (w1, w2)
  JOIN cbig USING (w2, w3)
  JOIN ctx2 USING (w2)
  JOIN cont USING (w3)
)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
       round(-sum(CAST(tf AS DOUBLE) * ln(
         greatest(CAST(t_cnt AS DOUBLE) - CASE WHEN t_cnt = 1 THEN d1
           WHEN t_cnt = 2 THEN d2 ELSE d3 END, 0.0) / CAST(c3_cnt AS DOUBLE)
         + (d1 * CAST(nt1 AS DOUBLE) + d2 * CAST(nt2 AS DOUBLE)
            + d3 * CAST(nt3 AS DOUBLE)) / CAST(c3_cnt AS DOUBLE)
           * (
             greatest(CAST(cp_cnt AS DOUBLE) - CASE WHEN cp_cnt = 1 THEN e1
               WHEN cp_cnt = 2 THEN e2 ELSE e3 END, 0.0) / CAST(c2_cnt AS DOUBLE)
             + (e1 * CAST(nb1 AS DOUBLE) + e2 * CAST(nb2 AS DOUBLE)
                + e3 * CAST(nb3 AS DOUBLE)) / CAST(c2_cnt AS DOUBLE)
               * (CAST(n1p_bwd AS DOUBLE) / n_types)
           )
       )) / CAST(sum(tf) AS DOUBLE), 6) AS mkn_nll
FROM joined, types, d3, e2
GROUP BY doc_id
"""

ORACLES["perplexity_band"] = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
counts AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
total AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM counts),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
scored AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         round(-sum(CAST(tf AS DOUBLE) * ln(CAST(cnt AS DOUBLE) / total))
                 / CAST(sum(tf) AS DOUBLE), 6) AS unigram_nll
  FROM tf JOIN counts USING (term), total
  GROUP BY 1
),
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY unigram_nll ASC, doc_id ASC) AS BIGINT) AS rank
  FROM scored
),
nn AS (SELECT CAST(count(*) - 1 AS BIGINT) AS n1 FROM scored)
SELECT doc_id, n_tokens, unigram_nll, rank
FROM ranked, nn
WHERE 25 * n1 <= (rank - 1) * 100 AND (rank - 1) * 100 < 75 * n1
"""

ORACLES["vocab_coverage"] = """
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
counts AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rnk FROM counts
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_types, CAST(sum(cnt) AS BIGINT) AS total_tokens
  FROM counts
),
vs AS (SELECT unnest([100, 1000, 10000]) AS vocab_size)
SELECT CAST(vs.vocab_size AS INTEGER) AS vocab_size,
       tot.n_types,
       CAST(coalesce(sum(CASE WHEN r.rnk <= vs.vocab_size THEN r.cnt END), 0) AS BIGINT)
         AS covered_tokens,
       tot.total_tokens,
       round(CAST(coalesce(sum(CASE WHEN r.rnk <= vs.vocab_size THEN r.cnt END), 0) AS DOUBLE)
             / CAST(tot.total_tokens AS DOUBLE), 6) AS coverage
FROM vs, ranked r, tot
GROUP BY vs.vocab_size, tot.n_types, tot.total_tokens
"""

ORACLES["trigram_nll"] = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
trips AS (
  SELECT doc_id, tg[1] AS w1, tg[2] AS w2, tg[3] AS w3 FROM (
    SELECT doc_id, unnest(list_zip(
      toks[1:greatest(len(toks) - 2, 0)],
      toks[2:greatest(len(toks) - 1, 1)],
      toks[3:len(toks)]
    )) AS tg
    FROM t WHERE len(toks) >= 3
  )
),
bpairs AS (
  SELECT bg[1] AS w1, bg[2] AS w2 FROM (
    SELECT unnest(list_zip(toks[1:greatest(len(toks) - 1, 0)],
                           toks[2:len(toks)])) AS bg
    FROM t WHERE len(toks) >= 2
  )
),
uni AS (
  SELECT term, CAST(count(*) AS BIGINT) AS u_cnt
  FROM (SELECT unnest(toks) AS term FROM t) GROUP BY 1
),
total AS (SELECT CAST(sum(u_cnt) AS DOUBLE) AS n_total FROM uni),
tri AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS t_cnt FROM trips GROUP BY 1, 2, 3),
ctx3 AS (SELECT w1, w2, CAST(sum(t_cnt) AS BIGINT) AS c3_cnt FROM tri GROUP BY 1, 2),
-- keys renamed to the trigram's (w2, w3)/(w3) so every model join is a
-- plain USING equi-join
big2 AS (SELECT w1 AS w2, w2 AS w3, CAST(count(*) AS BIGINT) AS b_cnt FROM bpairs GROUP BY 1, 2),
ctx2 AS (SELECT w2, CAST(sum(b_cnt) AS BIGINT) AS c2_cnt FROM big2 GROUP BY 1),
uni3 AS (SELECT term AS w3, u_cnt FROM uni),
tf AS (SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS tf FROM trips GROUP BY 1, 2, 3, 4),
-- the 5-way model join is MATERIALIZED: with the ln-aggregate on top,
-- DuckDB's join-order optimizer degenerates this exact chain into
-- CROSS products (hangs at 27k rows, 63 GB RSS — measured); pinning
-- the join tree keeps every step a hash join
joined AS MATERIALIZED (
  SELECT doc_id, tf, t_cnt, c3_cnt, b_cnt, c2_cnt, u_cnt
  FROM tf
  JOIN tri USING (w1, w2, w3)
  JOIN ctx3 USING (w1, w2)
  JOIN big2 USING (w2, w3)
  JOIN ctx2 USING (w2)
  JOIN uni3 USING (w3)
)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
       round(-sum(CAST(tf AS DOUBLE) * ln(
           0.5    * (CAST(t_cnt AS DOUBLE) / CAST(c3_cnt AS DOUBLE))
         + 0.3125 * (CAST(b_cnt AS DOUBLE) / CAST(c2_cnt AS DOUBLE))
         + 0.1875 * (CAST(u_cnt AS DOUBLE) / n_total)
       )) / CAST(sum(tf) AS DOUBLE), 6) AS trigram_nll
FROM joined, total
GROUP BY doc_id
"""

# r11: streamed-serve twins (stream==batch exact; header note at
# bigram_nll_stream). Assigned here, after all four batch oracles are
# defined.
ORACLES["trigram_nll_stream"] = ORACLES["trigram_nll"]
ORACLES["kneser_ney_nll_stream"] = ORACLES["kneser_ney_nll"]
ORACLES["modified_kn_nll_stream"] = ORACLES["modified_kn_nll"]
ORACLES["perplexity_band_stream"] = ORACLES["perplexity_band"]

ORACLES["tfidf_topterms"] = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(CAST(tf.tf AS DOUBLE) * ln(n.n_docs / d.df), 6) AS tfidf
  FROM tf JOIN dfreq d USING (term), n
),
ranked AS (
  SELECT doc_id, term, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rn
  FROM scored
)
SELECT doc_id, rn, term, tfidf FROM ranked WHERE rn <= 3
"""

ORACLES["events_hopping"] = """
WITH e AS (SELECT epoch_ms(ts) AS ts_ms, user_id, value FROM events),
x AS (
  SELECT (ts_ms - ts_ms % 3600000) - o * 3600000 AS window_start_ms, user_id, value
  FROM e, unnest([0, 1]) AS t(o)
)
SELECT window_start_ms, CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM x GROUP BY 1
"""

ORACLES["events_dedup_idempotent"] = """
WITH base AS (
  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM events
),
un AS (
  SELECT * FROM base
  UNION ALL
  SELECT event_id + 10000000 AS event_id, user_id, event_type, ts_ms
  FROM base WHERE event_id % 100 = 0
)
SELECT user_id, event_type, ts_ms,
       CAST(min(event_id) AS BIGINT) AS kept_event_id,
       CAST(count(*) AS BIGINT) AS n_rows
FROM un GROUP BY 1, 2, 3
"""

ORACLES["events_approx_distinct"] = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_ok
FROM events GROUP BY 1
"""

# brute-force ground truth (NOT a plan mirror): every pair in the length
# band, verified by levenshtein — checks the operator's recall for real
ORACLES["edit_distance_pairs_short"] = """
WITH d AS (
  SELECT doc_id, substring(text, 1, CAST(3 + (doc_id % 4) * 6 AS INTEGER)) AS text
  FROM documents WHERE doc_id % 5 = 0
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
FROM d a JOIN d b
  ON a.doc_id < b.doc_id AND abs(length(a.text) - length(b.text)) <= 2
WHERE levenshtein(a.text, b.text) <= 2
"""

ORACLES["lineitem_stat_aggs"] = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(stddev_samp(l_quantity), 6) AS qty_stddev,
       round(var_samp(l_quantity), 6) AS qty_var,
       round(corr(l_quantity, l_linenumber), 6) AS qty_line_corr,
       round(covar_samp(l_quantity, l_linenumber), 6) AS qty_line_covar
FROM lineitem GROUP BY 1 ORDER BY 1
"""

ORACLES["tpch_q7"] = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""

ORACLES["tpch_q8"] = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
ORDER BY 1
"""

ORACLES["tpch_q15"] = """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""

ORACLES["tpch_q17"] = """
WITH pa AS (
  SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23' AND p_size < 15
  GROUP BY l_partkey
)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem JOIN pa ON l_partkey = a_partkey
WHERE l_quantity < 0.2 * avg_qty
"""

ORACLES["tpch_q19"] = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""

ORACLES["tpch_q11_shape"] = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(round(sum(l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)
           AS supp_cents
  FROM lineitem GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, round(supp_cents / 100.0, 2) AS supp_value
FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
WHERE supp_cents * (SELECT count(*) FROM per_supp) * 100
      > 105 * (SELECT sum(supp_cents) FROM per_supp)
ORDER BY supp_value DESC, s_suppkey
"""

ORACLES["tpch_q20_shape"] = """
WITH heavy AS (
  SELECT l_suppkey, sum(l_quantity) AS promo_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l_suppkey HAVING sum(l_quantity) > 600
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
ORDER BY s_suppkey
"""

ORACLES["tpch_q4_shape"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o.o_orderkey
      AND l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
"""

ORACLES["tpch_q12_shape"] = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""

ORACLES["tpch_q13_shape"] = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN (
    SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT'
  ) ON c_custkey = o_custkey
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count
"""

ORACLES["tpch_q16_shape"] = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_size IN (1, 4, 9, 14, 19, 23)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""

ORACLES["tpch_q22_shape"] = """
SELECT c_nationkey, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c_acctbal > (
    SELECT round(avg(c_acctbal), 2) FROM customer WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c.c_custkey AND o_orderdate >= TIMESTAMP '1998-09-01'
  )
GROUP BY c_nationkey
"""

ORACLES["revenue_cube"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""

ORACLES["top_orders_per_customer"] = """
SELECT o_custkey, o_orderkey, rank FROM (
  SELECT o_custkey, o_orderkey,
         CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank
  FROM orders
) WHERE rank <= 3
"""

ORACLES["salted_revenue_by_priority"] = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
"""

ORACLES["top_events_per_user_salted"] = """
SELECT user_id, event_id, value, rank FROM (
  SELECT user_id, event_id, value,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS INTEGER) AS rank
  FROM events
) WHERE rank <= 3
"""

ORACLES["customers_without_orders"] = """
SELECT c_custkey, c_name, c_nationkey
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderdate < TIMESTAMP '1993-01-01 00:00:00'
)
"""

ORACLES["revenue_rollup"] = """
SELECT r_name, n_name,
       round(sum(o_totalprice), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""

ORACLES["part_setops"] = """
WITH big_parts AS (SELECT p_partkey AS pk FROM part WHERE p_size >= 40),
heavy_sold AS (SELECT DISTINCT l_partkey AS pk FROM lineitem WHERE l_quantity >= 45)
SELECT 'intersect' AS op, pk FROM (SELECT pk FROM big_parts INTERSECT SELECT pk FROM heavy_sold)
UNION ALL
SELECT 'except' AS op, pk FROM (SELECT pk FROM big_parts EXCEPT SELECT pk FROM heavy_sold)
"""

# z-order layout read: results must equal a plain filter on the source
# table (the layout only changes how much I/O the filters skip)
ORACLES["events_zorder_read"] = """
WITH b AS (
  SELECT min(epoch_ms(ts)) AS lo, max(epoch_ms(ts)) AS hi FROM events
)
SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms
FROM events, b
WHERE user_id BETWEEN 10 AND 30
  AND epoch_ms(ts) >= lo + (hi - lo) // 3
  AND epoch_ms(ts) < lo + 2 * (hi - lo) // 3
"""

ORACLES["events_tumbling"] = """
SELECT (epoch_ms(ts) - epoch_ms(ts) % 3600000) AS window_start_ms, event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2
"""

ORACLES["events_json_props"] = """
SELECT CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(count(*) AS BIGINT) AS parse_agree
FROM events GROUP BY 1
"""

ORACLES["events_asof_join"] = """
WITH ded AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms,
         max(event_id) AS r_event_id, max(value) AS r_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
l AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id
  FROM events WHERE event_type = 'click'
)
SELECT l.user_id, l.ts_ms, l.event_id,
       d.r_event_id AS r_event_id_asof,
       round(d.r_value, 6) AS r_value_asof
FROM l ASOF LEFT JOIN ded d ON l.user_id = d.user_id AND l.ts_ms >= d.ts_ms
"""

ORACLES["events_asof_tolerance"] = """
WITH ded AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms,
         max(event_id) AS r_event_id, max(value) AS r_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
l AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id
  FROM events WHERE event_type = 'click'
)
SELECT l.user_id, l.ts_ms, l.event_id,
       CASE WHEN l.ts_ms - d.ts_ms <= 3600000 THEN d.r_event_id END AS r_event_id_asof,
       CASE WHEN l.ts_ms - d.ts_ms <= 3600000 THEN round(d.r_value, 6) END AS r_value_asof
FROM l ASOF LEFT JOIN ded d ON l.user_id = d.user_id AND l.ts_ms >= d.ts_ms
"""

ORACLES["events_asof_forward"] = """
WITH ded AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms,
         max(event_id) AS r_event_id, max(value) AS r_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
l AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id
  FROM events WHERE event_type = 'click'
)
SELECT l.user_id, l.ts_ms, l.event_id,
       d.r_event_id AS r_event_id_asof,
       round(d.r_value, 6) AS r_value_asof
FROM l ASOF LEFT JOIN ded d ON l.user_id = d.user_id AND l.ts_ms <= d.ts_ms
"""

ORACLES["events_interval_join"] = """
WITH l AS (
  SELECT event_id, epoch_ms(ts) AS ts_ms, user_id
  FROM events WHERE event_type = 'click'
),
r AS (
  SELECT event_id, epoch_ms(ts) AS ts_ms, user_id
  FROM events WHERE event_type = 'view'
)
SELECT l.event_id AS l_event_id, r.event_id AS r_event_id,
       l.user_id AS user_id, r.ts_ms - l.ts_ms AS gap_ms
FROM l JOIN r ON l.user_id = r.user_id
  AND r.ts_ms >= l.ts_ms AND r.ts_ms <= l.ts_ms + 86400000
"""

ORACLES["events_session_window"] = """
WITH g AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, value,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)) AS gap
  FROM events
),
s AS (
  SELECT user_id, ts_ms, value,
         CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END AS new_sess
  FROM g
),
c AS (
  SELECT user_id, ts_ms, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms
                             ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
)
SELECT user_id,
       min(ts_ms) AS session_start_ms,
       max(ts_ms) + 1800000 AS session_end_ms,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM c GROUP BY user_id, session_id
"""

ORACLES["events_sessionize"] = """
WITH g AS (
  -- order by millisecond-truncated time to mirror the Spark side, which
  -- reads the TIMESTAMP(NANOS) column as a raw long and truncates to ms
  SELECT user_id, event_id,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap
  FROM events
),
s AS (
  SELECT user_id, event_id,
         CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END AS new_sess
  FROM g
),
c AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS session_id
  FROM s
)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, CAST(count(*) AS BIGINT) AS n_events
FROM c GROUP BY user_id
"""

ORACLES["events_type_stats"] = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY event_type
"""

ORACLES["ann_topk"] = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x * 1024) / 1024) AS emb
  FROM embeddings
),
en AS (
  SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e
),
q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, emb AS qe, nrm AS nq FROM en WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, en.vec_id,
         CASE WHEN q.nq > 0 AND en.nrm > 0
              THEN list_dot_product(q.qe, en.emb) / (q.nq * en.nrm)
              ELSE 0.0 END AS sim
  FROM en CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
  FROM scored WHERE sim > 0
)
SELECT query_id, rank, vec_id, sim FROM ranked WHERE rank <= 10
"""


_PRF_BM25_CTES = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
  FROM documents
),
tf AS (
  SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN ('vector', 'join', 'scan') GROUP BY 1, 2, 3
),
stats AS (
  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs,
         avg(CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)) AS avgdl
  FROM documents
),
dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * CAST(tf.tf AS DOUBLE) * 2.2
           / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) / s.avgdl))
         ), 6) AS bm25
  FROM tf JOIN dfreq d USING (term), stats s
  GROUP BY 1
),
fb AS (SELECT doc_id FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10)
"""
ORACLES["prf_search"] = (
    _PRF_BM25_CTES
    + """
, e AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[], x -> floor(x * 1024) / 1024) AS emb
  FROM embeddings
),
en AS (
  SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e
),
cent AS (
  SELECT i, floor(avg(e.emb[i]) * 1048576) / 1048576 AS c
  FROM fb JOIN e ON e.vec_id = fb.doc_id,
       unnest(range(1, len(e.emb) + 1)) AS t(i)
  GROUP BY i
),
cvl AS (SELECT list(c ORDER BY i) AS qe FROM cent),
cv AS (
  SELECT qe, sqrt(list_sum(list_transform(qe, x -> x * x))) AS nq FROM cvl
),
scored2 AS (
  SELECT en.vec_id,
         CASE WHEN cv.nq > 0 AND en.nrm > 0
              THEN list_dot_product(cv.qe, en.emb) / (cv.nq * en.nrm)
              ELSE 0.0 END AS sim
  FROM en CROSS JOIN cv
),
ranked AS (
  SELECT vec_id, sim,
         CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
  FROM scored2 WHERE sim > 0
)
SELECT CAST(0 AS INTEGER) AS query_id, rank, vec_id, sim
FROM ranked WHERE rank <= 20
"""
)




# ---------------------------------------------------------------------------
# corpus-curation family (operators/curation.py): decontamination,
# repetition signals, corpus-level segment dedup, PII scrub.
# ---------------------------------------------------------------------------


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination gate: eval set = every 97th doc_id (a
    small held-out "benchmark"), train = the rest; word-3-gram overlap,
    contaminated at >= 2 shared n-grams. Eval n-grams broadcast."""
    from temporal_vector_database_spark.operators.curation import decontaminate

    docs = _documents_spread(spark, sf_dir)
    return decontaminate(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        n=3,
        min_hits=2,
    )


def q_repetition_stats(spark, sf_dir):
    from temporal_vector_database_spark.operators.curation import repetition_stats

    docs = _documents_spread(spark, sf_dir)
    return repetition_stats(docs)


def q_segment_dedup(spark, sf_dir):
    from temporal_vector_database_spark.operators.curation import segment_dedup

    docs = _documents_spread(spark, sf_dir)
    return segment_dedup(docs, width=4)


def q_doc_chunks(spark, sf_dir):
    """Sliding-window chunking gate: width 16 / stride 8 words over the
    fixture docs (small enough that every doc yields several overlapping
    chunks and short tails)."""
    from temporal_vector_database_spark.operators.curation import doc_chunks

    docs = _documents(spark, sf_dir)
    return doc_chunks(docs, width=16, stride=8)


ORACLES["doc_chunks"] = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
),
c AS (
  SELECT doc_id, CAST(len(w) AS INTEGER) AS n_doc_words,
         CAST(i * 8 AS INTEGER) AS start_word, w
  FROM w, unnest(range(0, greatest(CAST(ceil(len(w) / 8.0) AS BIGINT), 0))) AS t(i)
  WHERE len(w) > 0
)
SELECT doc_id,
       CAST(start_word / 8 AS INTEGER) AS chunk_idx,
       start_word,
       CAST(len(w[start_word + 1:start_word + 16]) AS INTEGER) AS n_words,
       md5(array_to_string(w[start_word + 1:start_word + 16], ' ')) AS chunk_hash
FROM c WHERE start_word < n_doc_words
"""


def q_profile_documents(spark, sf_dir):
    """Data-quality profile of the documents table: per-column
    row/null/exact-distinct counts in one pass."""
    from temporal_vector_database_spark.operators.stats import profile_table

    docs = _documents(spark, sf_dir)
    return profile_table(docs, ["doc_id", "text", "lang", "source", "n_chars"])


ORACLES["profile_documents"] = """
SELECT 'doc_id' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct FROM documents
UNION ALL
SELECT 'text', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT text) AS BIGINT) FROM documents
UNION ALL
SELECT 'lang', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT lang) AS BIGINT) FROM documents
UNION ALL
SELECT 'source', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT source) AS BIGINT) FROM documents
UNION ALL
SELECT 'n_chars', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents
"""


def q_edit_distance_pairs(spark, sf_dir):
    """String-similarity join gate: Levenshtein <= 3 via q-gram prefix
    filtering. The fixture corpus has no near-identical texts (random
    word soup), so the gate unions in a deterministic ed-2 clone of every
    83rd document on BOTH engines — the operator is generic; the
    injection makes the gate exercise candidate recall and verification,
    not just emptiness."""
    from temporal_vector_database_spark.operators.dedup import edit_distance_pairs

    docs = _documents_spread(spark, sf_dir).select(
        "doc_id", "text"
    )
    clones = docs.where(F.col("doc_id") % 83 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" z")).alias("text"),
    )
    return edit_distance_pairs(docs.unionByName(clones), max_dist=3, q=4)


ORACLES["edit_distance_pairs"] = """
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' z' AS text
  FROM documents WHERE doc_id % 83 = 0
),
grams AS (
  SELECT DISTINCT doc_id, length(text) AS tlen, substring(text, CAST(i AS INTEGER), 4) AS g
  FROM docs2, unnest(range(1, greatest(length(text) - 3, 1) + 1)) AS t(i)
  WHERE length(substring(text, CAST(i AS INTEGER), 4)) = 4
),
freq AS (SELECT g, count(*) AS df FROM grams GROUP BY 1),
ranked AS (
  SELECT gr.doc_id, gr.tlen, gr.g,
         row_number() OVER (PARTITION BY gr.doc_id ORDER BY f.df, gr.g) AS rn
  FROM grams gr JOIN freq f USING (g)
),
pref AS (SELECT doc_id, tlen, g FROM ranked WHERE rn <= 13),
ngc AS (SELECT doc_id, count(*) AS ng FROM grams GROUP BY 1),
dl AS (
  SELECT d.doc_id, length(d.text) AS tlen, coalesce(n.ng, 0) AS ng
  FROM docs2 d LEFT JOIN ngc n USING (doc_id)
),
cand AS (
  SELECT DISTINCT least(p.doc_id, f.doc_id) AS a_id, greatest(p.doc_id, f.doc_id) AS b_id
  FROM pref p JOIN grams f USING (g)
  WHERE p.doc_id <> f.doc_id AND abs(p.tlen - f.tlen) <= 3
  UNION
  -- docs with <= q*k distinct grams evade the prefix filter: band-verify
  SELECT DISTINCT least(s.doc_id, t.doc_id) AS a_id, greatest(s.doc_id, t.doc_id) AS b_id
  FROM dl s JOIN dl t
    ON s.ng <= 12 AND s.doc_id <> t.doc_id AND abs(s.tlen - t.tlen) <= 3
),
v AS (
  SELECT c.a_id, c.b_id, CAST(levenshtein(da.text, db.text) AS INTEGER) AS dist
  FROM cand c
  JOIN docs2 da ON c.a_id = da.doc_id
  JOIN docs2 db ON c.b_id = db.doc_id
  WHERE abs(length(da.text) - length(db.text)) <= 3
)
SELECT a_id, b_id, dist FROM v WHERE dist <= 3
"""


def q_pii_scrub(spark, sf_dir):
    """PII scrub gate. The fixture corpus contains no PII, so the query
    injects deterministic synthetic PII (email / IPv4 / phone derived
    from doc_id) into the text on BOTH engines before scrubbing — the
    operator itself is generic; the injection makes the gate
    non-vacuous."""
    from temporal_vector_database_spark.operators.curation import pii_scrub

    docs = _documents_spread(spark, sf_dir)
    d = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 7 == 0,
                F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@mail.example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                d % 11 == 0,
                F.concat(
                    F.lit(" ip 10."),
                    (d % 256).cast("string"),
                    F.lit(".0."),
                    ((d * 7) % 256).cast("string"),
                    F.lit(" logged"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 13 == 0,
                F.concat(F.lit(" call +491"), F.lpad((d % 100000).cast("string"), 8, "0")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(injected)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup gate: cluster-bucketed pairwise cosine (within
    nearest-centroid clusters only), drop the higher id of each pair at
    cosine >= 0.5."""
    from temporal_vector_database_spark.operators.dedup import semantic_dedup

    emb = _quantized_embeddings(spark, sf_dir)
    return semantic_dedup(emb, min_cosine=0.5)


def q_ivfpq_residual_topk(spark, sf_dir):
    """Residual-encoded IVF-PQ gate (FAISS IndexIVFPQ formulation):
    codes quantize x − c(x); ADC = dot(q, c) + residual LUT sum."""
    from temporal_vector_database_spark.operators.search import ivfpq_residual_topk

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return ivfpq_residual_topk(emb, queries, k=10, nprobe=2, m=4)


ORACLES["ivfpq_topk_persisted"] = ORACLES["ivfpq_topk"]

ORACLES["pq_topk_persisted"] = ORACLES["pq_topk"]

ORACLES["ivfpq_residual_topk"] = (
    _QEMB_CTE
    + """
, cents AS (
  SELECT vec_id AS centroid_id, emb AS c_emb, nrm AS c_nrm FROM en WHERE vec_id % 20 = 7
),
assign AS (
  SELECT vid, emb, nrm, centroid_id FROM (
    SELECT en.vec_id AS vid, en.emb, en.nrm, c.centroid_id,
           row_number() OVER (
             PARTITION BY en.vec_id
             ORDER BY (CASE WHEN en.nrm > 0 AND c.c_nrm > 0
                            THEN list_dot_product(en.emb, c.c_emb) / (en.nrm * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM en CROSS JOIN cents c
  ) WHERE rn = 1
),
res AS (
  SELECT a.vid, a.centroid_id,
         list_transform(range(1, len(a.emb) + 1), i -> a.emb[i] - c.c_emb[i]) AS r
  FROM assign a JOIN cents c USING (centroid_id)
),
sgrid AS (SELECT unnest([0, 1, 2, 3]) AS s),
cwsub AS (
  SELECT vid AS codeword_id, s,
         list_slice(r, s * (len(r) // 4) + 1, (s + 1) * (len(r) // 4)) AS cw
  FROM res CROSS JOIN sgrid WHERE vid % 20 = 7
),
vsub AS (
  SELECT vid, s,
         list_slice(r, s * (len(r) // 4) + 1, (s + 1) * (len(r) // 4)) AS sub
  FROM res CROSS JOIN sgrid
),
codes AS (
  SELECT vid, s, codeword_id FROM (
    SELECT v.vid, v.s, c.codeword_id,
           row_number() OVER (PARTITION BY v.vid, v.s ORDER BY
             (list_dot_product(v.sub, v.sub) - 2 * list_dot_product(v.sub, c.cw) + list_dot_product(c.cw, c.cw)) ASC,
             c.codeword_id ASC) AS rn
    FROM vsub v JOIN cwsub c ON v.s = c.s
  ) WHERE rn = 1
),
codes_w AS (
  SELECT cd.vid, r.centroid_id,
         max(CASE WHEN cd.s = 0 THEN cd.codeword_id END) AS code_0,
         max(CASE WHEN cd.s = 1 THEN cd.codeword_id END) AS code_1,
         max(CASE WHEN cd.s = 2 THEN cd.codeword_id END) AS code_2,
         max(CASE WHEN cd.s = 3 THEN cd.codeword_id END) AS code_3
  FROM codes cd JOIN res r ON cd.vid = r.vid GROUP BY cd.vid, r.centroid_id
),
q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, emb AS qe, nrm AS nq FROM en WHERE vec_id % 50 = 0),
probes AS (
  SELECT query_id, centroid_id, qc_dot FROM (
    SELECT q.query_id, c.centroid_id,
           list_dot_product(q.qe, c.c_emb) AS qc_dot,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY (CASE WHEN q.nq > 0 AND c.c_nrm > 0
                            THEN list_dot_product(q.qe, c.c_emb) / (q.nq * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= 2
),
qsub AS (
  SELECT query_id, s,
         list_slice(qe, s * (len(qe) // 4) + 1, (s + 1) * (len(qe) // 4)) AS qs
  FROM q CROSS JOIN sgrid
),
lut AS (
  SELECT qs.query_id, qs.s, cw.codeword_id, list_dot_product(qs.qs, cw.cw) AS pdot
  FROM qsub qs JOIN cwsub cw ON qs.s = cw.s
),
scored AS (
  SELECT p.query_id, w.vid,
         p.qc_dot + l0.pdot + l1.pdot + l2.pdot + l3.pdot AS adc_score
  FROM probes p
  JOIN codes_w w ON w.centroid_id = p.centroid_id
  JOIN lut l0 ON l0.query_id = p.query_id AND l0.s = 0 AND l0.codeword_id = w.code_0
  JOIN lut l1 ON l1.query_id = p.query_id AND l1.s = 1 AND l1.codeword_id = w.code_1
  JOIN lut l2 ON l2.query_id = p.query_id AND l2.s = 2 AND l2.codeword_id = w.code_2
  JOIN lut l3 ON l3.query_id = p.query_id AND l3.s = 3 AND l3.codeword_id = w.code_3
),
ranked AS (
  SELECT query_id, vid AS vec_id, adc_score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_score DESC, vid) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, adc_score, rank FROM ranked WHERE rank <= 10
"""
)


def q_bq_topk(spark, sf_dir):
    """Binary-quantization (1-bit sign codes, asymmetric scoring) gate —
    cheapest tier of the 1-bit → int8 → PQ compression ladder."""
    from temporal_vector_database_spark.operators.search import bq_topk

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return bq_topk(emb, queries, k=10)


ORACLES["bq_topk"] = (
    _QEMB_CTE
    + """
, signs AS (
  SELECT vec_id AS vid,
         list_transform(emb, x -> CASE WHEN x >= 0 THEN 1.0 ELSE -1.0 END) AS sgn
  FROM e
),
q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, emb AS qe FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, s.vid, list_dot_product(q.qe, s.sgn) AS score
  FROM signs s CROSS JOIN q
),
ranked AS (
  SELECT query_id, vid AS vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vid) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 10
"""
)


def q_sq8_topk(spark, sf_dir):
    """Scalar-quantization (int8) approximate top-k gate — the 4-8×
    compression tier below PQ; dequantized-inner-product identity."""
    from temporal_vector_database_spark.operators.search import sq8_topk

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return sq8_topk(emb, queries, k=10)


ORACLES["sq8_topk"] = (
    _QEMB_CTE
    + """
, dims AS (
  SELECT CAST(i AS INTEGER) AS d, min(emb[i]) AS mn, max(emb[i]) AS mx
  FROM e, unnest(range(1, len(emb) + 1)) AS t(i)
  GROUP BY 1
),
st AS (
  SELECT list(mn ORDER BY d) AS mns, list((mx - mn) / 255.0 ORDER BY d) AS scs FROM dims
),
codes AS (
  SELECT vec_id AS vid,
         list_transform(range(1, len(emb) + 1),
           i -> CASE WHEN scs[i] > 0
                     THEN CAST(floor((emb[i] - mns[i]) / scs[i] + 0.5) AS INTEGER)
                     ELSE 0 END) AS codes
  FROM e CROSS JOIN st
),
q AS (
  SELECT CAST(vec_id AS INTEGER) AS query_id,
         list_dot_product(emb, mns) AS q_min_dot,
         list_transform(range(1, len(emb) + 1), i -> emb[i] * scs[i]) AS q_scaled
  FROM e CROSS JOIN st WHERE vec_id % 50 = 0
),
scored AS (
  SELECT q.query_id, c.vid,
         q.q_min_dot + list_dot_product(q.q_scaled,
           list_transform(c.codes, x -> CAST(x AS DOUBLE))) AS score
  FROM codes c CROSS JOIN q
),
ranked AS (
  SELECT query_id, vid AS vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vid) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= 10
"""
)


def q_kmeans_step(spark, sf_dir):
    """One Lloyd iteration from the deterministic modulo seeds: the
    assignment half reuses ivf_assign, the update half is the
    partial-aggregatable per-cluster per-dim mean (same shape as
    label_centroids, but keyed by LEARNED cluster, not label)."""
    from temporal_vector_database_spark.operators.search import kmeans_step

    emb = _quantized_embeddings(spark, sf_dir)
    return kmeans_step(emb)


ORACLES["kmeans_step"] = (
    _QEMB_CTE
    + """
, cents AS (
  SELECT vec_id AS centroid_id, emb AS c_emb, nrm AS c_nrm FROM en WHERE vec_id % 20 = 7
),
assign AS (
  SELECT vid, emb, nrm, centroid_id FROM (
    SELECT en.vec_id AS vid, en.emb, en.nrm, c.centroid_id,
           row_number() OVER (
             PARTITION BY en.vec_id
             ORDER BY (CASE WHEN en.nrm > 0 AND c.c_nrm > 0
                            THEN list_dot_product(en.emb, c.c_emb) / (en.nrm * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM en CROSS JOIN cents c
  ) WHERE rn = 1
)
SELECT centroid_id, CAST(i - 1 AS INTEGER) AS dim,
       avg(emb[i]) AS centroid_r,
       CAST(count(*) AS BIGINT) AS n
FROM assign, unnest(range(1, len(emb) + 1)) AS t(i)
GROUP BY 1, 2
"""
)


ORACLES["semantic_dedup"] = (
    _QEMB_CTE
    + """
, cents AS (
  SELECT vec_id AS centroid_id, emb AS c_emb, nrm AS c_nrm FROM en WHERE vec_id % 20 = 7
),
assign AS (
  SELECT vid, emb, nrm, centroid_id FROM (
    SELECT en.vec_id AS vid, en.emb, en.nrm, c.centroid_id,
           row_number() OVER (
             PARTITION BY en.vec_id
             ORDER BY (CASE WHEN en.nrm > 0 AND c.c_nrm > 0
                            THEN list_dot_product(en.emb, c.c_emb) / (en.nrm * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM en CROSS JOIN cents c
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vid AS a_vid, b.vid AS b_vid,
         CASE WHEN a.nrm > 0 AND b.nrm > 0
              THEN list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
              ELSE 0.0 END AS cos
  FROM assign a JOIN assign b USING (centroid_id)
  WHERE a.vid < b.vid
),
hits AS (SELECT b_vid, CAST(count(*) AS BIGINT) AS n FROM pairs WHERE cos >= 0.5 GROUP BY 1)
SELECT a.vid AS vec_id, a.centroid_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_near_lower,
       COALESCE(h.n, 0) = 0 AS is_survivor
FROM assign a LEFT JOIN hits h ON a.vid = h.b_vid
"""
)


_WORDS_CTE = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
)
"""

ORACLES["decontaminate"] = (
    _WORDS_CTE
    + """
, ng AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS ng
  FROM w, unnest(range(1, greatest(len(w) - 1, 1))) AS t(i)
),
eng AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 97 = 0),
tng AS (SELECT doc_id, ng FROM ng WHERE doc_id % 97 <> 0),
per AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         CAST(count(e.ng) AS BIGINT) AS n_contaminated
  FROM tng t LEFT JOIN eng e ON t.ng = e.ng GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(p.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CASE WHEN COALESCE(p.n_ngrams, 0) > 0
            THEN CAST(p.n_contaminated AS DOUBLE) / CAST(p.n_ngrams AS DOUBLE)
            ELSE 0.0 END AS contamination_frac,
       COALESCE(p.n_contaminated, 0) >= 2 AS is_contaminated
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
WHERE d.doc_id % 97 <> 0
"""
)

ORACLES["repetition_stats"] = (
    _WORDS_CTE
    + """
, uni AS (SELECT doc_id, 'w:' || x AS g FROM w, unnest(w) AS t(x)),
bi AS (
  SELECT doc_id, 'b:' || array_to_string(w[i:i+1], ' ') AS g
  FROM w, unnest(range(1, greatest(len(w), 1))) AS t(i)
),
grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
agg AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN g LIKE 'w:%' THEN c END) AS BIGINT) AS n_words,
         CAST(count(CASE WHEN g LIKE 'w:%' THEN 1 END) AS BIGINT) AS n_distinct_words,
         CAST(max(CASE WHEN g LIKE 'w:%' THEN c END) AS BIGINT) AS top_word_count,
         CAST(COALESCE(max(CASE WHEN g NOT LIKE 'w:%' THEN c END), 0) AS BIGINT) AS top_bigram_count,
         CAST(COALESCE(sum(CASE WHEN g NOT LIKE 'w:%' THEN c END), 0) AS BIGINT) AS n_bigrams
  FROM counts GROUP BY 1
)
SELECT doc_id, n_words, n_distinct_words,
       CAST(n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS distinct_word_frac,
       top_word_count,
       CAST(top_word_count AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
       top_bigram_count,
       CASE WHEN n_bigrams > 0
            THEN CAST(top_bigram_count AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
            ELSE 0.0 END AS top_bigram_frac,
       (CAST(top_word_count AS DOUBLE) / CAST(n_words AS DOUBLE)) <= 0.2
       AND (CASE WHEN n_bigrams > 0
                 THEN CAST(top_bigram_count AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                 ELSE 0.0 END) <= 0.18 AS passes_repetition
FROM agg
"""
)

# first-occurrence key: doc_id * 1e6 + seg_idx is order-isomorphic to the
# Spark side's min(struct(doc_id, seg_idx)) for nonneg seg_idx < 1e6
# (fixture docs are <= ~150 words -> seg_idx <= ~40).
ORACLES["segment_dedup"] = (
    _WORDS_CTE
    + """
, segs AS (
  SELECT doc_id, CAST(i AS INTEGER) AS seg_idx,
         array_to_string(w[i*4+1:i*4+4], ' ') AS seg
  FROM w, unnest(range(0, greatest(CAST(ceil(len(w) / 4.0) AS BIGINT), 0))) AS t(i)
  WHERE len(w) > 0
),
first_at AS (SELECT seg, min(doc_id * 1000000 + seg_idx) AS fk FROM segs GROUP BY 1),
kept AS (
  SELECT s.doc_id, s.seg_idx, s.seg
  FROM segs s JOIN first_at f ON s.seg = f.seg
  WHERE s.doc_id * 1000000 + s.seg_idx = f.fk
),
rebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
  FROM kept GROUP BY 1
),
totals AS (
  SELECT doc_id, CAST(CASE WHEN len(w) > 0 THEN CAST(ceil(len(w) / 4.0) AS BIGINT) ELSE 0 END AS BIGINT) AS n_segments
  FROM w
)
SELECT t.doc_id, t.n_segments,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(length(COALESCE(r.clean_text, '')) AS BIGINT) AS clean_len,
       md5(COALESCE(r.clean_text, '')) AS clean_hash
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""
)

ORACLES["pii_scrub"] = """
WITH inj AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || doc_id || '@mail.example.com now' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' ip 10.' || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256) || ' logged' ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' call +491' || lpad((doc_id % 100000)::VARCHAR, 8, '0') ELSE '' END AS text
  FROM documents
),
scrub AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
         CAST(len(regexp_extract_all(text, '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS INTEGER) AS n_ips,
         CAST(len(regexp_extract_all(text, '\\+[0-9]{7,12}')) AS INTEGER) AS n_phones,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g'),
           '\\+[0-9]{7,12}', '<PHONE>', 'g') AS redacted
  FROM inj
)
SELECT doc_id, n_emails, n_ips, n_phones,
       CAST(length(redacted) AS BIGINT) AS redacted_len,
       md5(redacted) AS redacted_hash
FROM scrub
"""


# --- session-7 additions: SCD2, MRL funnel, MMR rerank, Gram/PCA ---


def q_events_scd2_snapshot(spark, sf_dir):
    """SCD2 temporal table over the event log: per-user event_type state
    intervals (consecutive same-type updates compressed, ties broken by
    event_id), snapshotted at the corpus-midpoint millisecond — the
    relational twin of the engine's as-of resolve (O6), over arbitrary
    keys/attributes instead of vectors."""
    from temporal_vector_database_spark.operators.temporal import (
        scd2_intervals,
        scd2_snapshot,
    )
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    iv = scd2_intervals(
        ev.select("user_id", "event_id", "ts_ms", "event_type"),
        key_cols=("user_id",),
        time_col="ts_ms",
        attr_cols=("event_type",),
        tiebreak_cols=("event_id",),
    )
    lo, hi = events_ts_range(spark, sf_dir)
    mid = (int(lo) + int(hi)) // 2
    return scd2_snapshot(iv, mid).select(
        "user_id", F.col("valid_from").alias("valid_from_ms"), "event_type"
    )


def q_mrl_topk(spark, sf_dir):
    """Matryoshka retrieval funnel: shortlist of 50 ranked on the FIRST
    16 of 64 dims only, exact full-dim cosine re-rank to top-10 — the
    deployment shape of MRL-trained embedding stacks (prefix scan reads
    1/4 of the vector bytes; exact math touches 50 rows/query)."""
    from temporal_vector_database_spark.operators.search import mrl_topk

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return mrl_topk(emb, queries, k=10, prefix_dims=16, shortlist=50)


def q_mmr_rerank(spark, sf_dir):
    """Maximal-marginal-relevance diversity re-rank (Carbonell &
    Goldstein 1998): greedy top-10 from the cosine top-50, each step
    maximizing 0.5*relevance - 0.5*max-sim-to-already-selected. The
    greedy loop is bounded to one shortlist-sized Arrow group per query;
    the oracle replays the same 10 steps as an unrolled CTE chain —
    exact on the dyadic fixture grid."""
    from temporal_vector_database_spark.operators.search import mmr_rerank

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return mmr_rerank(emb, queries, k=10, shortlist=50, lam=0.5)


def q_embedding_gram(spark, sf_dir):
    """Distributed Gram matrix X^T X of the embedding column as an
    (i, j, g) relation: per-Arrow-batch partial BLAS grams (dim x dim
    rows per batch, independent of batch size) summed under a
    dim^2-keyed aggregation — embeddings themselves never shuffle. Exact
    on the quantized grid in any summation order, so the relational
    DuckDB recomputation hash-matches bit-for-bit."""
    from temporal_vector_database_spark.operators.linalg import gram_matrix

    emb = _quantized_embeddings(spark, sf_dir)
    return gram_matrix(emb).select("i", "j", "g")


def q_pca_topk(spark, sf_dir):
    """PCA-reduced retrieval: covariance assembled from the distributed
    Gram matrix + means, driver-side eigh over the dim x dim matrix
    (sign-normalized basis), 8-dim shortlist of 50, exact full-dim
    re-rank to top-10. ROWS-ONLY by design: the eigenbasis is not
    ANSI-SQL; funnel-equals-brute-force at shortlist >= |corpus| and
    basis determinism are pinned in tests/test_search.py."""
    from temporal_vector_database_spark.operators.linalg import pca_topk

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return pca_topk(emb, queries, k=10, n_components=8, shortlist=50)


def q_pca_trace_check(spark, sf_dir):
    """r06: value-level oracle contract for the PCA path (pca_topk
    itself stays rows-only — the eigenbasis is not ANSI-SQL, but its
    inputs and its conservation law are): per-dim-rounded covariance
    trace as an exact BIGINT sum (oracle replays it relationally from
    the same quantized parquet) + the eigenvalue-sum-equals-trace
    invariant at 1e-12 grain (oracle publishes the literal 0 the
    correct decomposition must hit)."""
    from temporal_vector_database_spark.operators.linalg import pca_trace_check

    return pca_trace_check(_quantized_embeddings(spark, sf_dir))


ORACLES["pca_trace_check"] = """
WITH e AS (
  SELECT list_transform(embedding::DOUBLE[], x -> floor(x * 1024) / 1024) AS emb
  FROM embeddings
),
x AS (
  SELECT t.d AS d, list_extract(emb, t.d) AS v
  FROM e, range(1, 65) t(d)
),
st AS (
  SELECT d, sum(v * v) AS ss, sum(v) AS s, CAST(count(*) AS BIGINT) AS n
  FROM x GROUP BY d
),
cd AS (SELECT d, ss / n - (s / n) * (s / n) AS c_dd, n FROM st)
SELECT max(n) AS n_vectors,
       CAST(sum(CAST(floor(c_dd * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS trace_e9,
       CAST(0 AS BIGINT) AS eig_trace_diff_e12
FROM cd
"""


ORACLES["events_scd2_snapshot"] = """
WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type FROM events
),
chg AS (
  SELECT user_id, event_id, ts_ms, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_type
  FROM e
),
surv AS (
  SELECT user_id, event_id, ts_ms AS valid_from, event_type
  FROM chg WHERE prev_type IS DISTINCT FROM event_type
),
iv AS (
  SELECT user_id, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
         event_type
  FROM surv
),
m AS (SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS mid FROM events)
SELECT user_id, CAST(valid_from AS BIGINT) AS valid_from_ms, event_type
FROM iv, m
WHERE valid_from <= mid AND (valid_to IS NULL OR valid_to > mid)
"""

ORACLES["mrl_topk"] = (
    _QEMB_CTE
    + """
, pen AS (
  SELECT vec_id, list_slice(emb, 1, 16) AS pemb,
         sqrt(list_sum(list_transform(list_slice(emb, 1, 16), x -> x * x))) AS pnrm
  FROM en
),
pq AS (SELECT CAST(vec_id AS INTEGER) AS query_id, pemb AS qe, pnrm AS nq
       FROM pen WHERE vec_id % 50 = 0),
pscored AS (
  SELECT pq.query_id, pen.vec_id,
         CASE WHEN pq.nq > 0 AND pen.pnrm > 0
              THEN list_dot_product(pq.qe, pen.pemb) / (pq.nq * pen.pnrm)
              ELSE 0.0 END AS sim
  FROM pen CROSS JOIN pq
),
short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
    FROM pscored WHERE sim > 0
  ) WHERE rn <= 50
),
fq AS (SELECT CAST(vec_id AS INTEGER) AS query_id, emb AS qe, nrm AS nq
       FROM en WHERE vec_id % 50 = 0),
ex AS (
  SELECT s.query_id, s.vec_id,
         CASE WHEN fq.nq > 0 AND en.nrm > 0
              THEN list_dot_product(fq.qe, en.emb) / (fq.nq * en.nrm)
              ELSE 0.0 END AS sim
  FROM short s JOIN en ON s.vec_id = en.vec_id
  JOIN fq ON s.query_id = fq.query_id
)
SELECT query_id, rank, vec_id, sim FROM (
  SELECT query_id, vec_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
  FROM ex
) WHERE rank <= 10
"""
)


def _mmr_oracle(k: int = 10, shortlist: int = 50) -> str:
    """Unrolled greedy-MMR oracle: step N's pick is the argmax of
    0.5*sim - 0.5*max-sim-to-sel(N-1) over unselected shortlist rows;
    selections accumulate through sel1..selK CTEs. Every arithmetic step
    mirrors the Spark kernel op-for-op (grid dots exact, sqrt/divide
    correctly rounded, 0.5* exact), so the argmax decisions agree."""
    # MATERIALIZED: `en`/`cand`/`pair` are referenced by every one of the
    # k unrolled steps — without the hint DuckDB re-inlines (and re-opens
    # the parquet for) each reference and exhausts the fd limit.
    head = (
        f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x * 1024) / 1024) AS emb
  FROM embeddings
),
en AS MATERIALIZED (
  SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e
)
"""
        + f"""
, q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, emb AS qe, nrm AS nq
        FROM en WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, en.vec_id,
         CASE WHEN q.nq > 0 AND en.nrm > 0
              THEN list_dot_product(q.qe, en.emb) / (q.nq * en.nrm)
              ELSE 0.0 END AS sim
  FROM en CROSS JOIN q
),
cand AS MATERIALIZED (
  SELECT query_id, vec_id, sim FROM (
    SELECT query_id, vec_id, sim,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
    FROM scored WHERE sim > 0
  ) WHERE rn <= {shortlist}
),
pair AS MATERIALIZED (
  SELECT a.query_id, a.vec_id AS i, b.vec_id AS j,
         CASE WHEN na.nrm > 0 AND nb.nrm > 0
              THEN list_dot_product(na.emb, nb.emb) / (na.nrm * nb.nrm)
              ELSE 0.0 END AS s
  FROM cand a JOIN cand b ON a.query_id = b.query_id
  JOIN en na ON a.vec_id = na.vec_id
  JOIN en nb ON b.vec_id = nb.vec_id
),
sel0 AS (SELECT CAST(0 AS INTEGER) AS query_id, CAST(0 AS BIGINT) AS vec_id,
                CAST(0.0 AS DOUBLE) AS sim, CAST(0.0 AS DOUBLE) AS mmr, 0 AS step
         WHERE 1 = 0)"""
    )
    steps = []
    for n in range(1, k + 1):
        steps.append(
            f"""
, pick{n} AS MATERIALIZED (
  SELECT query_id, vec_id, sim, mmr FROM (
    SELECT c.query_id, c.vec_id, c.sim,
           0.5 * c.sim - 0.5 * COALESCE(m.maxsim, 0.0) AS mmr,
           row_number() OVER (PARTITION BY c.query_id
             ORDER BY 0.5 * c.sim - 0.5 * COALESCE(m.maxsim, 0.0) DESC, c.vec_id) AS rn
    FROM cand c
    LEFT JOIN (
      SELECT p.query_id, p.i AS vec_id, max(p.s) AS maxsim
      FROM pair p JOIN sel{n - 1} s ON p.query_id = s.query_id AND p.j = s.vec_id
      GROUP BY 1, 2
    ) m ON c.query_id = m.query_id AND c.vec_id = m.vec_id
    WHERE NOT EXISTS (SELECT 1 FROM sel{n - 1} s
                      WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id)
  ) WHERE rn = 1
),
sel{n} AS MATERIALIZED (
  SELECT query_id, vec_id, sim, mmr, {n} AS step FROM pick{n}
  UNION ALL SELECT query_id, vec_id, sim, mmr, step FROM sel{n - 1}
)"""
        )
    tail = f"""
SELECT query_id, CAST(step AS INTEGER) AS mmr_rank, vec_id, sim, mmr AS mmr_score
FROM sel{k}"""
    return head + "".join(steps) + tail


ORACLES["mmr_rerank"] = _mmr_oracle(k=10, shortlist=50)

ORACLES["embedding_gram"] = (
    _QEMB_CTE
    + """
SELECT CAST(t1.i AS INTEGER) AS i, CAST(t2.j AS INTEGER) AS j,
       sum(list_extract(emb, t1.i) * list_extract(emb, t2.j)) AS g
FROM en, range(1, 65) t1(i), range(1, 65) t2(j)
GROUP BY 1, 2
"""
)


def q_ivf_recall_eval(spark, sf_dir):
    """ANN quality harness: per-query recall@10 of the nprobe=2 IVF tier
    against brute-force cosine ground truth — the measurement that turns
    nprobe/shortlist knobs into recall decisions. Oracle recomputes BOTH
    rankings relationally and the same small-integer recall division."""
    from temporal_vector_database_spark.operators.search import (
        ann_brute_force,
        ivf_topk,
        recall_at_k,
    )

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    got = ivf_topk(emb, queries, k=10, nprobe=2)
    want = ann_brute_force(emb, queries, k=10)
    return recall_at_k(got, want, k=10)


ORACLES["ivf_recall_eval"] = (
    _QEMB_CTE
    + _IVF_RANKED_BODY
    + """
, bscored AS (
  SELECT q.query_id, en.vec_id,
         CASE WHEN q.nq > 0 AND en.nrm > 0
              THEN list_dot_product(q.qe, en.emb) / (q.nq * en.nrm)
              ELSE 0.0 END AS sim
  FROM en CROSS JOIN q
),
brute AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM bscored WHERE sim > 0
),
t AS (SELECT query_id, vec_id FROM brute WHERE rank <= 10),
r AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 10),
h AS (SELECT r.query_id, count(*) AS n_hit FROM r JOIN t USING (query_id, vec_id) GROUP BY 1),
d AS (SELECT query_id, count(*) AS n_true FROM t GROUP BY 1)
SELECT d.query_id, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(d.n_true AS BIGINT) AS n_true,
       CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / d.n_true AS recall
FROM d LEFT JOIN h ON d.query_id = h.query_id
"""
)


def q_events_ohlc(spark, sf_dir):
    """Daily OHLC bars per event type: open/close are the first/last
    event's value with (ts, event_id) tie-breaks — deterministic under
    any partitioning; no float sums anywhere (the only arithmetic is
    integer bucketing). TimescaleDB/kdb bar-aggregate semantics."""
    from temporal_vector_database_spark.operators.timeseries import ohlc
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return ohlc(
        ev, "ts_ms", ("event_type",), "value", 86_400_000,
        tiebreak_cols=("event_id",),
    )


def q_events_gapfill(spark, sf_dir):
    """Gap-filled daily LOCF resample per user: every user gets a row
    for every day of the corpus span; value = last observation
    at-or-before the day's end (NULL before the first), is_observed
    marks real events — time_bucket_gapfill + locf as explode + two
    keyed windows."""
    from temporal_vector_database_spark.operators.timeseries import resample_locf
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    lo, hi = events_ts_range(spark, sf_dir)
    return resample_locf(
        ev, "ts_ms", ("user_id",), "value", 86_400_000,
        int(lo), int(hi), tiebreak_cols=("event_id",),
    )


ORACLES["events_ohlc"] = """
WITH e AS (
  SELECT event_type, event_id, epoch_ms(ts) AS ts_ms, value FROM events
),
b AS (
  SELECT event_type, event_id, (ts_ms // 86400000) * 86400000 AS bucket_start_ms,
         ts_ms, value
  FROM e
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, bucket_start_ms
                            ORDER BY ts_ms, event_id) AS rno,
         row_number() OVER (PARTITION BY event_type, bucket_start_ms
                            ORDER BY ts_ms DESC, event_id DESC) AS rnc
  FROM b
)
SELECT event_type, CAST(bucket_start_ms AS BIGINT) AS bucket_start_ms,
       max(CASE WHEN rno = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rnc = 1 THEN value END) AS close,
       CAST(count(*) AS BIGINT) AS n_events
FROM r GROUP BY 1, 2
"""

ORACLES["events_gapfill"] = """
WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events
),
bounds AS (
  SELECT (min(ts_ms) // 86400000) * 86400000 AS lo_b,
         (max(ts_ms) // 86400000) * 86400000 AS hi_b
  FROM e
),
grid AS (
  -- generate_series as the LIST-returning scalar (table-function form
  -- rejects lateral column arguments)
  SELECT u.user_id, gs.g AS bucket_start_ms
  FROM (SELECT DISTINCT user_id FROM e) u
  CROSS JOIN (SELECT unnest(generate_series(lo_b, hi_b, 86400000)) AS g
              FROM bounds) gs
),
obs AS (
  SELECT user_id, (ts_ms // 86400000) * 86400000 AS bucket_start_ms,
         ts_ms, event_id, value
  FROM e
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, bucket_start_ms
                               ORDER BY ts_ms DESC, event_id DESC) AS rnc
  FROM obs
),
cl AS (SELECT user_id, bucket_start_ms, value AS c FROM r WHERE rnc = 1)
SELECT g.user_id, CAST(g.bucket_start_ms AS BIGINT) AS bucket_start_ms,
       last_value(cl.c IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.bucket_start_ms
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       cl.c IS NOT NULL AS is_observed
FROM grid g LEFT JOIN cl
  ON g.user_id = cl.user_id AND g.bucket_start_ms = cl.bucket_start_ms
"""


def q_events_interval_coverage(spark, sf_dir):
    """Interval coalescing (SQL:2011 temporal normalization): each event
    opens a 30-minute half-open activity interval; overlapping-or-
    touching intervals per user merge into coverage spans. One key
    shuffle shared by the running-max window, span-id sum, and final
    aggregate."""
    from temporal_vector_database_spark.operators.temporal import coalesce_intervals
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id",
        F.col("ts_ms").alias("iv_start"),
        (F.col("ts_ms") + F.lit(1_800_000)).alias("iv_end"),
    )
    return coalesce_intervals(ev, ("user_id",), "iv_start", "iv_end")


ORACLES["events_interval_coverage"] = """
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS s, epoch_ms(ts) + 1800000 AS e FROM events
),
w1 AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM e
),
flg AS (
  SELECT user_id, s, e,
         CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS f
  FROM w1
),
grp AS (
  SELECT user_id, s, e,
         sum(f) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS UNBOUNDED PRECEDING) AS g
  FROM flg
)
SELECT user_id, CAST(min(s) AS BIGINT) AS span_start,
       CAST(max(e) AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_merged
FROM grp GROUP BY user_id, g
"""


def q_events_bitemporal(spark, sf_dir):
    """Bitemporal point query: per-user event_type state EFFECTIVE at
    the corpus-midpoint valid time, as KNOWN 6 hours after that midpoint
    — events whose (synthetic, deterministic) arrival time
    ``ts_ms + (event_id % 5) hours`` lands later are invisible, exactly
    what the system would have answered then. Transaction time is a pure
    filter in front of the ordinary SCD2 build + snapshot."""
    from temporal_vector_database_spark.operators.temporal import (
        bitemporal_snapshot,
    )
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", "ts_ms", "event_type",
        (F.col("ts_ms") + (F.col("event_id") % 5) * F.lit(3_600_000)).alias(
            "arrival_ms"
        ),
    )
    lo, hi = events_ts_range(spark, sf_dir)
    mid = (int(lo) + int(hi)) // 2
    return bitemporal_snapshot(
        ev,
        key_cols=("user_id",),
        valid_col="ts_ms",
        tx_col="arrival_ms",
        attr_cols=("event_type",),
        at_tx=mid + 6 * 3_600_000,
        at_valid=mid,
        tiebreak_cols=("event_id",),
    ).select("user_id", F.col("valid_from").alias("valid_from_ms"), "event_type")


ORACLES["events_bitemporal"] = """
WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type,
         epoch_ms(ts) + (event_id % 5) * 3600000 AS arrival_ms
  FROM events
),
m AS (SELECT (min(ts_ms) + max(ts_ms)) // 2 AS mid FROM e),
known AS (
  SELECT e.* FROM e, m WHERE e.arrival_ms <= m.mid + 6 * 3600000
),
chg AS (
  SELECT user_id, event_id, ts_ms, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_type
  FROM known
),
surv AS (
  SELECT user_id, event_id, ts_ms AS valid_from, event_type
  FROM chg WHERE prev_type IS DISTINCT FROM event_type
),
iv AS (
  SELECT user_id, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
         event_type
  FROM surv
)
SELECT user_id, CAST(valid_from AS BIGINT) AS valid_from_ms, event_type
FROM iv, m
WHERE valid_from <= m.mid AND (valid_to IS NULL OR valid_to > m.mid)
"""


def q_events_key_skew(spark, sf_dir):
    """Skew diagnosis on the event stream's user key: top-20 hottest
    users with exact counts and global shares — the measurement that
    decides between a plain join, salting, and AQE skew handling."""
    from temporal_vector_database_spark.operators.relational import key_skew_profile
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return key_skew_profile(ev, ("user_id",), top_n=20)


ORACLES["events_key_skew"] = """
WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
s AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS n_distinct_keys
  FROM c
),
top AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT 20)
SELECT CAST(row_number() OVER (ORDER BY n DESC, user_id) AS INTEGER) AS rank,
       user_id, CAST(n AS BIGINT) AS n,
       CAST(n AS DOUBLE) / total_rows AS share,
       total_rows, n_distinct_keys
FROM top, s
"""


def q_knn_graph(spark, sf_dir):
    """kNN graph over the corpus: every vector's 5 nearest cosine
    neighbors (self excluded) via IVF-probed candidates — the primitive
    under graph clustering / kNN dedup; candidates per vector are the
    probed lists, never the corpus."""
    from temporal_vector_database_spark.operators.search import knn_graph

    emb = _quantized_embeddings(spark, sf_dir, spread=True)
    return knn_graph(emb, k=5, nprobe=2)


ORACLES["knn_graph"] = (
    _QEMB_CTE
    + _ivf_ranked_body(query_filter="TRUE", exclude_self=True)
    + """
SELECT query_id, rank, vec_id, sim FROM ranked WHERE rank <= 5
"""
)


def q_graph_beam_search(spark, sf_dir):
    """r09: greedy beam search over the persisted kNN graph — the
    SERVING half of graph ANN (the HNSW layer-0 query pattern): seed
    beam = the 8 smallest ids, 3 synchronous expand-score-prune rounds
    (candidates ≤ beam·(deg+1) per query per round, never the corpus),
    final top-5. Oracle unrolls every round relationally over the same
    relationally-built graph."""
    from temporal_vector_database_spark.operators.search import (
        graph_beam_search,
        knn_graph,
    )

    emb = _quantized_embeddings(spark, sf_dir)
    g = knn_graph(emb, k=5, nprobe=2).select(
        F.col("query_id").alias("id"), F.col("vec_id").alias("nbr")
    )
    qs = emb.where(F.col("vec_id") % 97 == 1).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return graph_beam_search(emb, g, qs, k=5, beam=8, n_rounds=3)


def _beam_search_oracle_sql(
    k: int, beam: int, rounds: int, ivf_seeded: bool = False
) -> str:
    if ivf_seeded:
        # per-query entry points: the query's own IVF top-`beam` (the
        # `ranked` CTE already ranks every vector as a query under
        # query_filter=TRUE / exclude_self=True — exactly Spark's
        # ivf_topk(..., exclude_self=True) over the probe queries)
        seed_sql = f""",
f0 AS MATERIALIZED (
  SELECT query_id, vec_id AS cand FROM ranked
  WHERE query_id % 97 = 1 AND rank <= {beam}
)"""
    else:
        seed_sql = f""",
seeds AS (SELECT vec_id AS cand FROM en ORDER BY vec_id LIMIT {beam}),
f0 AS MATERIALIZED (SELECT q.query_id, s.cand FROM qs q, seeds s)"""
    parts = [
        _QEMB_CTE,
        _ivf_ranked_body(query_filter="TRUE", exclude_self=True),
        f""",
g AS MATERIALIZED (SELECT query_id AS id, vec_id AS nbr FROM ranked WHERE rank <= 5),
qs AS MATERIALIZED (
  SELECT CAST(vec_id AS INTEGER) AS query_id, emb AS qemb, nrm AS qnrm
  FROM en WHERE vec_id % 97 = 1
)"""
        + seed_sql,
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f""",
c{r} AS (
  SELECT DISTINCT query_id, cand FROM (
    SELECT query_id, cand FROM f{p}
    UNION ALL
    SELECT f.query_id, g.nbr AS cand FROM f{p} f JOIN g ON f.cand = g.id
  )
),
s{r} AS (
  SELECT c.query_id, c.cand,
         CASE WHEN e.nrm > 0 AND q.qnrm > 0
              THEN list_dot_product(e.emb, q.qemb) / (e.nrm * q.qnrm)
              ELSE 0.0 END AS sim
  FROM c{r} c JOIN en e ON c.cand = e.vec_id JOIN qs q ON c.query_id = q.query_id
),
f{r} AS MATERIALIZED (
  SELECT query_id, cand FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand ASC) AS rn
    FROM s{r}
  ) WHERE rn <= {beam}
)"""
        )
        # the final beam is re-scored for output (identical sims)
    parts.append(
        f""",
fin AS (
  SELECT f.query_id, f.cand,
         CASE WHEN e.nrm > 0 AND q.qnrm > 0
              THEN list_dot_product(e.emb, q.qemb) / (e.nrm * q.qnrm)
              ELSE 0.0 END AS sim
  FROM f{rounds} f JOIN en e ON f.cand = e.vec_id JOIN qs q ON f.query_id = q.query_id
)
SELECT query_id, cand AS vec_id, sim,
       CAST(rnk AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand ASC) AS rnk
  FROM fin
) WHERE rnk <= {k}
"""
    )
    return "".join(parts)


ORACLES["graph_beam_search"] = _beam_search_oracle_sql(5, 8, 3)


def q_graph_beam_search_ivf(spark, sf_dir):
    """r10: IVF-SEEDED beam search — the production graph-ANN serving
    config (HNSW enters near the query): per-query entry points are the
    query's own IVF top-8 (exclude-self), then the same 3 synchronous
    expand-score-prune rounds over the 5-NN graph. Oracle derives the
    seeds from the identical relational IVF ranking and unrolls every
    round."""
    from temporal_vector_database_spark.operators.search import (
        graph_beam_search,
        ivf_topk,
        knn_graph,
    )

    emb = _quantized_embeddings(spark, sf_dir)
    g = knn_graph(emb, k=5, nprobe=2).select(
        F.col("query_id").alias("id"), F.col("vec_id").alias("nbr")
    )
    qs = emb.where(F.col("vec_id") % 97 == 1).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    seeds = ivf_topk(emb, qs, k=8, nprobe=2, exclude_self=True).select(
        "query_id", F.col("vec_id").alias("cand")
    )
    return graph_beam_search(emb, g, qs, k=5, beam=8, n_rounds=3, seeds=seeds)


ORACLES["graph_beam_search_ivf"] = _beam_search_oracle_sql(5, 8, 3, ivf_seeded=True)


def q_nn_descent(spark, sf_dir):
    """r07: NN-Descent kNN-graph refinement (Dong et al. 2011) — seed
    from the IVF-probed graph, 2 rounds of symmetrized 2-hop candidate
    scoring, keep best k per node. Strictly-no-worse than the seed by
    construction; the recall gain over the probe-bounded seed is
    pinned in tests/test_search.py. Oracle replays both rounds
    relationally (unrolled CTEs)."""
    from temporal_vector_database_spark.operators.search import nn_descent

    # r13 re-audit: PLAIN — interleaved ×4 was a coin flip (spread min
    # 5.28 vs plain 5.60) but plain's in-bench reps are uniformly calmer
    # (run B [8.6, 7.7, 6.2] vs run A spread [7.2, 18.7, 13.5]) and the
    # r11 plain stamp (6.14) beat the r12 spread stamp (7.11).
    emb = _quantized_embeddings(spark, sf_dir)
    return nn_descent(emb, k=5, rounds=2, nprobe=2)


def q_knn_classify(spark, sf_dir):
    """Semi-supervised kNN classification: every 50th vector is held
    out and labeled by the majority label of its 5 nearest neighbors
    among the REMAINING labeled corpus (ties -> smaller label) — the
    standard label-propagation seed step; vote counts keep the decision
    integer-exact."""
    from temporal_vector_database_spark.operators.search import knn_classify

    emb = _quantized_embeddings(spark, sf_dir)
    labels = _embeddings_raw(spark, sf_dir).select(
        "vec_id", "label"
    )
    held = F.col("vec_id") % 50 == 0
    labeled = emb.where(~held).join(labels, "vec_id")
    queries = emb.where(held).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return knn_classify(labeled, queries, k=5, nprobe=2)


ORACLES["knn_classify"] = """
WITH e AS (
  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x * 1024) / 1024) AS emb
  FROM embeddings
),
enq AS (
  SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm FROM e
),
lab AS (SELECT * FROM enq WHERE vec_id % 50 <> 0),
cents AS (
  SELECT vec_id AS centroid_id, emb AS c_emb, nrm AS c_nrm
  FROM lab WHERE vec_id % 20 = 7
),
assign AS (
  SELECT vid, emb, nrm, centroid_id FROM (
    SELECT lab.vec_id AS vid, lab.emb, lab.nrm, c.centroid_id,
           row_number() OVER (
             PARTITION BY lab.vec_id
             ORDER BY (CASE WHEN lab.nrm > 0 AND c.c_nrm > 0
                            THEN list_dot_product(lab.emb, c.c_emb) / (lab.nrm * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM lab CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, emb AS qe, nrm AS nq
      FROM enq WHERE vec_id % 50 = 0),
probes AS (
  SELECT query_id, qe, nq, centroid_id FROM (
    SELECT q.query_id, q.qe, q.nq, c.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY (CASE WHEN q.nq > 0 AND c.c_nrm > 0
                            THEN list_dot_product(q.qe, c.c_emb) / (q.nq * c.c_nrm)
                            ELSE 0.0 END) DESC, c.centroid_id) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= 2
),
cands AS (
  SELECT p.query_id, a.vid,
         CASE WHEN p.nq > 0 AND a.nrm > 0
              THEN list_dot_product(p.qe, a.emb) / (p.nq * a.nrm)
              ELSE 0.0 END AS sim
  FROM probes p JOIN assign a USING (centroid_id)
),
nn AS (
  SELECT query_id, vid AS vec_id FROM (
    SELECT query_id, vid, sim,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vid) AS rank
    FROM cands WHERE sim > 0
  ) WHERE rank <= 5
),
votes AS (
  SELECT nn.query_id, emb2.label, count(*) AS n_votes
  FROM nn JOIN embeddings emb2 ON nn.vec_id = emb2.vec_id
  GROUP BY 1, 2
),
top AS (
  SELECT query_id, label, n_votes FROM (
    SELECT query_id, label, n_votes,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY n_votes DESC, label) AS rn
    FROM votes
  ) WHERE rn = 1
),
totals AS (SELECT query_id, count(*) AS n_neighbors FROM nn GROUP BY 1)
SELECT t.query_id, top.label AS predicted_label,
       CAST(top.n_votes AS BIGINT) AS n_votes,
       CAST(t.n_neighbors AS BIGINT) AS n_neighbors
FROM top JOIN totals t USING (query_id)
"""


def q_semantic_decontaminate(spark, sf_dir):
    """Embedding-level decontamination: every 10th vector plays the
    eval benchmark; corpus survivors are rows whose max cosine to ANY
    eval vector stays under 0.8 — the paraphrase-leakage guard lexical
    n-gram decontamination cannot see. Eval broadcast, corpus scanned
    once."""
    from temporal_vector_database_spark.operators.search import (
        semantic_decontaminate,
    )

    emb = _quantized_embeddings(spark, sf_dir)
    evalq = emb.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") % 10 != 0)
    return semantic_decontaminate(corpus, evalq, max_cosine=0.8).select(
        "vec_id", "max_eval_sim"
    )


ORACLES["semantic_decontaminate"] = (
    _QEMB_CTE
    + """
, q AS (SELECT vec_id AS qid, emb AS qe, nrm AS nq FROM en WHERE vec_id % 10 = 0),
c AS (SELECT vec_id, emb, nrm FROM en WHERE vec_id % 10 <> 0),
mx AS (
  SELECT c.vec_id,
         max(CASE WHEN q.nq > 0 AND c.nrm > 0
                  THEN list_dot_product(q.qe, c.emb) / (q.nq * c.nrm)
                  ELSE 0.0 END) AS max_eval_sim
  FROM c CROSS JOIN q GROUP BY 1
)
SELECT vec_id, max_eval_sim FROM mx WHERE max_eval_sim < 0.8
"""
)


def q_ivf_rank_eval(spark, sf_dir):
    """Label-relevance ranking evaluation of the IVF tier: per held-out
    query (every 50th vector), precision@10 numerator, first-relevant
    rank, and reciprocal rank against same-label relevance — exact
    integer/rational metrics only (log-discounted nDCG deliberately not
    gated: libm log2 is not cross-engine bit-stable)."""
    from temporal_vector_database_spark.operators.search import ivf_topk, rank_eval

    emb = _quantized_embeddings(spark, sf_dir)
    labels = _embeddings_raw(spark, sf_dir).select(
        "vec_id", "label"
    )
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    got = ivf_topk(emb, queries, k=10, nprobe=2)
    qlab = (
        queries.select("query_id")
        .join(labels.withColumnRenamed("vec_id", "qv"), F.col("query_id") == F.col("qv"))
        .select("query_id", "label")
    )
    relevance = (
        qlab.join(labels, "label")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    return rank_eval(got, relevance, k=10)


ORACLES["ivf_rank_eval"] = (
    _QEMB_CTE
    + _IVF_RANKED_BODY
    + """
, res AS (SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 10),
qlab AS (
  SELECT CAST(e1.vec_id AS INTEGER) AS query_id, e1.label
  FROM embeddings e1 WHERE e1.vec_id % 50 = 0
),
rel AS (
  SELECT q.query_id, e2.vec_id
  FROM qlab q JOIN embeddings e2 ON q.label = e2.label
  WHERE e2.vec_id <> q.query_id
),
hits AS (
  SELECT r.query_id,
         CAST(sum(CASE WHEN rel.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant_topk,
         CAST(min(CASE WHEN rel.vec_id IS NOT NULL THEN r.rank END) AS INTEGER) AS first_rel_rank
  FROM res r LEFT JOIN rel ON r.query_id = rel.query_id AND r.vec_id = rel.vec_id
  GROUP BY 1
)
SELECT query_id, n_relevant_topk, first_rel_rank,
       CASE WHEN first_rel_rank IS NOT NULL
            THEN CAST(1.0 AS DOUBLE) / first_rel_rank
            ELSE CAST(0.0 AS DOUBLE) END AS rr
FROM hits
"""
)


def q_mrl_topk_persisted(spark, sf_dir):
    """The MRL funnel against the persisted prefix-column layout: the
    shortlist scan reads ONLY (vec_id, prefix_emb) — 1/4 of the vector
    bytes at rest (ReadSchema-pinned in tests) — with bit-identical
    results to the in-memory funnel; same oracle as `mrl_topk`."""
    from temporal_vector_database_spark.operators.search import mrl_topk_persisted
    from temporal_vector_database_spark.sources.fixtures import ensure_mrl_index

    path = ensure_mrl_index(spark, sf_dir, prefix_dims=16)
    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return mrl_topk_persisted(
        spark, path, queries, k=10, prefix_dims=16, shortlist=50
    )


ORACLES["mrl_topk_persisted"] = ORACLES["mrl_topk"]


def q_events_scd2_cdc(spark, sf_dir):
    """SCD2 from a CDC log with DELETES: an 'error' event clears the
    user's state (the user is then known-absent until the next normal
    event) — snapshot at the corpus midpoint shows only users alive
    there. Plain SCD2 cannot express the gap."""
    from temporal_vector_database_spark.operators.temporal import (
        scd2_intervals_cdc,
        scd2_snapshot,
    )
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", "ts_ms", "event_type",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    iv = scd2_intervals_cdc(
        ev, key_cols=("user_id",), time_col="ts_ms",
        attr_cols=("event_type",), op_col="op", tiebreak_cols=("event_id",),
    )
    lo, hi = events_ts_range(spark, sf_dir)
    mid = (int(lo) + int(hi)) // 2
    return scd2_snapshot(iv, mid).select(
        "user_id", F.col("valid_from").alias("valid_from_ms"), "event_type"
    )


ORACLES["events_scd2_cdc"] = """
WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS state,
         (event_type = 'error') AS dead
  FROM events
),
chg AS (
  SELECT user_id, event_id, ts_ms, state, dead,
         lag(state) OVER w AS prev_state,
         lag(dead) OVER w AS prev_dead
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
),
surv AS (
  SELECT user_id, event_id, ts_ms AS valid_from, state, dead
  FROM chg
  WHERE prev_state IS DISTINCT FROM state OR prev_dead IS DISTINCT FROM dead
),
iv AS (
  SELECT user_id, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
         state, dead
  FROM surv
),
m AS (SELECT (min(epoch_ms(ts)) + max(epoch_ms(ts))) // 2 AS mid FROM events)
SELECT user_id, CAST(valid_from AS BIGINT) AS valid_from_ms, state AS event_type
FROM iv, m
WHERE NOT dead AND valid_from <= m.mid AND (valid_to IS NULL OR valid_to > m.mid)
"""


def q_events_uptime(spark, sf_dir):
    """State-duration report over the CDC SCD2 table: per user, total
    known-alive milliseconds (open intervals closed at the corpus max
    ts) and alive-interval count — pure integer sums over the interval
    table, the uptime/SLA query every state timeline serves."""
    from temporal_vector_database_spark.operators.temporal import (
        scd2_intervals_cdc,
    )
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", "ts_ms", "event_type",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    iv = scd2_intervals_cdc(
        ev, key_cols=("user_id",), time_col="ts_ms",
        attr_cols=("event_type",), op_col="op", tiebreak_cols=("event_id",),
    )
    hi = int(ev.agg(F.max("ts_ms")).first()[0])
    return iv.groupBy("user_id").agg(
        F.sum(
            F.coalesce(F.col("valid_to"), F.lit(hi)) - F.col("valid_from")
        )
        .cast("long")
        .alias("alive_ms"),
        F.count("*").cast("long").alias("n_alive_intervals"),
    )


ORACLES["events_uptime"] = """
WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS state,
         (event_type = 'error') AS dead
  FROM events
),
chg AS (
  SELECT user_id, event_id, ts_ms, state, dead,
         lag(state) OVER w AS prev_state,
         lag(dead) OVER w AS prev_dead
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
),
surv AS (
  SELECT user_id, event_id, ts_ms AS valid_from, state, dead
  FROM chg
  WHERE prev_state IS DISTINCT FROM state OR prev_dead IS DISTINCT FROM dead
),
iv AS (
  SELECT user_id, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
         dead
  FROM surv
),
m AS (SELECT max(epoch_ms(ts)) AS hi FROM events)
SELECT user_id,
       CAST(sum(COALESCE(valid_to, m.hi) - valid_from) AS BIGINT) AS alive_ms,
       CAST(count(*) AS BIGINT) AS n_alive_intervals
FROM iv, m WHERE NOT dead
GROUP BY user_id
"""


def q_events_approx_quantiles(spark, sf_dir):
    """Quantile-sketch gate (the KLL/GK twin of the HLL distinct gate):
    per event type, EXACT interpolated p50/p90/p99 of value plus a
    boolean pinning Spark's approx_percentile (accuracy 10000) inside
    the exact value bracket of a ±2% RANK window per probe — the
    contract quantile sketches actually guarantee (bounded rank error;
    a VALUE tolerance is wrong by construction on sparse tails, where
    nearest-rank sketch output sits far from the interpolated exact
    value). The oracle asserts the exact quantiles and approx_ok=true —
    hashable for a sketch no two engines compute identically."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    g = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))").alias("ex"),
        F.expr("approx_percentile(value, array(0.5D, 0.9D, 0.99D), 10000)").alias(
            "ap"
        ),
        F.expr("percentile(value, array(0.48D, 0.88D, 0.97D))").alias("lo"),
        F.expr("percentile(value, array(0.52D, 0.92D, 1.0D))").alias("hi"),
    )
    in_bracket = F.expr(
        "aggregate(transform(sequence(1, 3),"
        " i -> element_at(ap, i) >= element_at(lo, i)"
        "  AND element_at(ap, i) <= element_at(hi, i)),"
        " true, (acc, x) -> acc AND x)"
    )
    ok = in_bracket
    return g.select(
        "event_type",
        F.element_at("ex", 1).alias("p50"),
        F.element_at("ex", 2).alias("p90"),
        F.element_at("ex", 3).alias("p99"),
        ok.alias("approx_ok"),
    )


ORACLES["events_approx_quantiles"] = """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99,
       TRUE AS approx_ok
FROM events GROUP BY event_type
"""


def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination: same eval split as
    ``decontaminate`` (doc_id % 97), but the train side is ONE
    shuffle-free Arrow scan probing a broadcast 1 Mi-bit filter — the
    100 TB path (no train-gram ever enters an exchange). The oracle
    replays the identical md5 bit math as a positions-set semi-join."""
    from temporal_vector_database_spark.operators.bloomfilter import (
        bloom_decontaminate,
    )

    docs = _documents(spark, sf_dir)
    return bloom_decontaminate(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        n=3,
        min_hits=2,
    )


# nibble-parse of an md5 hex column named h — uniform 32-bit int,
# identical in DuckDB and Spark (the sampling-module idiom)
_H_U32_SQL = (
    "("
    + " + ".join(
        f"(instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + ")"
)

ORACLES["bloom_decontaminate"] = (
    _WORDS_CTE
    + f"""
, ng AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS ng
  FROM w, unnest(range(1, greatest(len(w) - 1, 1))) AS t(i)
),
seeds AS (SELECT unnest(range(0, 4)) AS j),
eh AS (
  SELECT md5(ng || '#' || CAST(j AS VARCHAR)) AS h
  FROM (SELECT DISTINCT ng FROM ng WHERE doc_id % 97 = 0), seeds
),
epos AS (SELECT DISTINCT CAST({_H_U32_SQL} AS BIGINT) % 1048576 AS pos FROM eh),
th AS (
  SELECT doc_id, ng, j, md5(ng || '#' || CAST(j AS VARCHAR)) AS h
  FROM (SELECT doc_id, ng FROM ng WHERE doc_id % 97 <> 0), seeds
),
tpos AS (
  SELECT doc_id, ng, j, CAST({_H_U32_SQL} AS BIGINT) % 1048576 AS pos FROM th
),
probe AS (
  SELECT t.doc_id, t.ng, count(e.pos) = 4 AS hit
  FROM tpos t LEFT JOIN epos e USING (pos)
  GROUP BY t.doc_id, t.ng
),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits
  FROM probe GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(p.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
       CASE WHEN COALESCE(p.n_ngrams, 0) > 0
            THEN CAST(p.n_bloom_hits AS DOUBLE) / CAST(p.n_ngrams AS DOUBLE)
            ELSE 0.0 END AS bloom_frac,
       COALESCE(p.n_bloom_hits, 0) >= 2 AS is_contaminated
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
WHERE d.doc_id % 97 <> 0
"""
)


def q_events_rolling_anomaly(spark, sf_dir):
    """Trailing-7-day volume anomaly per event type (z > 3) — all
    published columns are BIGINT/BOOLEAN (cleared-denominator integer
    z-test, no floats anywhere)."""
    from temporal_vector_database_spark.operators.timeseries import (
        rolling_count_anomaly,
    )
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return rolling_count_anomaly(
        ev, "ts_ms", ("event_type",), 86_400_000, window_buckets=7, z_int=3
    )


ORACLES["events_rolling_anomaly"] = """
WITH b AS (
  SELECT event_type,
         CAST((epoch_ms(ts) // 86400000) * 86400000 AS BIGINT) AS bucket_start_ms,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
wd AS (
  SELECT event_type, bucket_start_ms, n_events,
         CAST(count(n_events) OVER fr AS BIGINT) AS win_n,
         CAST(COALESCE(sum(n_events) OVER fr, 0) AS BIGINT) AS win_sum,
         CAST(COALESCE(sum(n_events * n_events) OVER fr, 0) AS BIGINT) AS win_sumsq
  FROM b
  WINDOW fr AS (PARTITION BY event_type ORDER BY bucket_start_ms
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, bucket_start_ms, n_events, win_n, win_sum, win_sumsq,
       win_n = 7 AND
       (n_events * win_n - win_sum) * (n_events * win_n - win_sum)
         > 9 * (win_n * win_sumsq - win_sum * win_sum) AS is_anomaly
FROM wd
"""

ORACLES["events_rolling_anomaly_state"] = ORACLES["events_rolling_anomaly"]



def q_events_rolling_anomaly_state(spark, sf_dir):
    """Bit-equal twin of ``events_rolling_anomaly`` served from
    maintained OHLC continuous-aggregate state (the ohlc_state/merge
    tables ``streaming/ohlc.py`` keeps) — anomaly refresh never rescans
    raw events; same oracle gates both."""
    from temporal_vector_database_spark.operators.timeseries import (
        ohlc_state,
        rolling_count_anomaly_from_state,
    )
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    state = ohlc_state(
        ev, "ts_ms", ("event_type",), "value", 86_400_000,
        tiebreak_cols=("event_id",),
    )
    return rolling_count_anomaly_from_state(state, window_buckets=7, z_int=3)


def q_events_cube(spark, sf_dir):
    """OLAP CUBE over (event_type, day): counts and exact distinct
    users at every grouping-set level in one pass (Spark expands the
    sets map-side; both grouping keys are non-null so the rolled-up
    NULL markers are unambiguous)."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select(
        "event_type",
        ((F.col("ts_ms") - F.pmod("ts_ms", F.lit(86_400_000))) / 86_400_000)
        .cast("long")
        .alias("day"),
        "user_id",
    )
    return ev.cube("event_type", "day").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


ORACLES["events_cube"] = """
SELECT event_type,
       CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY CUBE (event_type, CAST(epoch_ms(ts) // 86400000 AS BIGINT))
"""


def q_events_rolling_users(spark, sf_dir):
    """Rolling 7-day distinct active users per event type — the exact
    sliding-window distinct that no SQL window frame can express."""
    from temporal_vector_database_spark.operators.timeseries import (
        rolling_distinct_counts,
    )
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return rolling_distinct_counts(
        ev, "ts_ms", ("event_type",), "user_id", 86_400_000, window_buckets=7
    ).withColumnRenamed("n_distinct", "n_users_7d")


ORACLES["events_rolling_users"] = """
WITH e AS (
  SELECT event_type,
         CAST((epoch_ms(ts) // 86400000) * 86400000 AS BIGINT) AS bucket_start_ms,
         user_id
  FROM events
),
grain AS (SELECT DISTINCT event_type, bucket_start_ms, user_id FROM e),
obs AS (SELECT DISTINCT event_type, bucket_start_ms FROM e),
contrib AS (
  SELECT event_type, bucket_start_ms + i * 86400000 AS bucket_start_ms, user_id
  FROM grain, unnest(range(0, 7)) AS t(i)
)
SELECT c.event_type, c.bucket_start_ms,
       CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_users_7d
FROM contrib c
JOIN obs o ON c.event_type = o.event_type
          AND c.bucket_start_ms = o.bucket_start_ms
GROUP BY 1, 2
"""


def q_ivfpq_topk_persisted(spark, sf_dir):
    """IVF-PQ against the persisted codes layout: the corpus encode (the
    dominant cost of the on-the-fly ``ivfpq_topk``) is paid once at
    index build; serving prunes to probed lists and scans m-int codes.
    Bit-equal to ``ivfpq_topk``, so the same oracle gates both."""
    from temporal_vector_database_spark.operators.search import (
        ivfpq_topk_persisted,
    )
    from temporal_vector_database_spark.sources.fixtures import (
        ensure_ivfpq_index,
    )

    path = ensure_ivfpq_index(spark, sf_dir, m=4)
    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return ivfpq_topk_persisted(spark, path, queries, k=10, nprobe=2, m=4)


def q_pq_topk_persisted(spark, sf_dir):
    """Flat-PQ ADC from the persisted codes (no pruning, compressed
    exhaustive tier) — bit-equal to ``pq_topk``, same oracle."""
    from temporal_vector_database_spark.operators.search import pq_topk_persisted
    from temporal_vector_database_spark.sources.fixtures import (
        ensure_ivfpq_index,
    )

    path = ensure_ivfpq_index(spark, sf_dir, m=4)
    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return pq_topk_persisted(spark, path, queries, k=10, m=4)


def q_ivfpq_residual_topk_persisted(spark, sf_dir):
    """Residual IVF-PQ from the persisted codes layout — bit-equal to
    ``ivfpq_residual_topk``, same oracle."""
    from temporal_vector_database_spark.operators.search import (
        ivfpq_residual_topk_persisted,
    )
    from temporal_vector_database_spark.sources.fixtures import (
        ensure_ivfpq_residual_index,
    )

    path = ensure_ivfpq_residual_index(spark, sf_dir, m=4)
    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return ivfpq_residual_topk_persisted(spark, path, queries, k=10, nprobe=2, m=4)


def q_events_rolling_users_approx(spark, sf_dir):
    """Sketch-contract gate for the rolling-distinct HLL path: exact
    trailing-7-day distinct users per type, plus a boolean pinning the
    sketch-union estimate within 5% of exact (the
    ``events_approx_distinct`` discipline — no two engines compute an
    HLL identically, so the gate hashes the exact value + the bound)."""
    from temporal_vector_database_spark.operators.timeseries import (
        rolling_distinct_counts,
        rolling_distinct_estimate,
    )
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    args = (ev, "ts_ms", ("event_type",), "user_id", 86_400_000, 7)
    exact = rolling_distinct_counts(*args).withColumnRenamed(
        "n_distinct", "n_users_7d"
    )
    est = rolling_distinct_estimate(*args)
    return exact.join(est, ["event_type", "bucket_start_ms"]).select(
        "event_type",
        "bucket_start_ms",
        "n_users_7d",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_users_7d"))
            <= 0.05 * F.col("n_users_7d")
        ).alias("approx_ok"),
    )


ORACLES["events_rolling_users_approx"] = """
WITH e AS (
  SELECT event_type,
         CAST((epoch_ms(ts) // 86400000) * 86400000 AS BIGINT) AS bucket_start_ms,
         user_id
  FROM events
),
grain AS (SELECT DISTINCT event_type, bucket_start_ms, user_id FROM e),
obs AS (SELECT DISTINCT event_type, bucket_start_ms FROM e),
contrib AS (
  SELECT event_type, bucket_start_ms + i * 86400000 AS bucket_start_ms, user_id
  FROM grain, unnest(range(0, 7)) AS t(i)
)
SELECT c.event_type, c.bucket_start_ms,
       CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_users_7d,
       TRUE AS approx_ok
FROM contrib c
JOIN obs o ON c.event_type = o.event_type
          AND c.bucket_start_ms = o.bucket_start_ms
GROUP BY 1, 2
"""


def q_corpus_top_ngrams(spark, sf_dir):
    """Corpus-global heavy-hitter bigrams (the boilerplate census):
    top-100 by total occurrences, ties by gram text."""
    from temporal_vector_database_spark.operators.textindex import (
        corpus_top_ngrams,
    )

    docs = _documents_spread(spark, sf_dir)
    return corpus_top_ngrams(docs, n=2, k=100, min_count=2)


ORACLES["corpus_top_ngrams"] = (
    _WORDS_CTE
    + """
, ng AS (
  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS ng
  FROM w, unnest(range(1, greatest(len(w), 1))) AS t(i)
),
per AS (SELECT ng, doc_id, count(*) AS c FROM ng GROUP BY 1, 2),
tot AS (
  SELECT ng, CAST(sum(c) AS BIGINT) AS n_occurrences,
         CAST(count(*) AS BIGINT) AS doc_freq
  FROM per GROUP BY 1
)
SELECT ng, n_occurrences, doc_freq FROM tot
WHERE n_occurrences >= 2
ORDER BY n_occurrences DESC, ng ASC LIMIT 100
"""
)


def q_events_twa(spark, sf_dir):
    """Daily LOCF time-weighted average of the event value per type
    (TimescaleDB time_weight): exact BIGINT numerator/denominator +
    the single final division."""
    from temporal_vector_database_spark.operators.timeseries import (
        time_weighted_average,
    )
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return time_weighted_average(
        ev, "ts_ms", ("event_type",), "value", 86_400_000,
        tiebreak_cols=("event_id",),
    )


ORACLES["events_twa"] = """
WITH e AS (
  SELECT event_type, event_id, epoch_ms(ts) AS ts_ms, value FROM events
),
b AS (
  SELECT event_type, event_id,
         CAST((ts_ms // 86400000) * 86400000 AS BIGINT) AS bucket_start_ms,
         ts_ms, CAST(round(value * 1000) AS BIGINT) AS v_e3
  FROM e
),
s AS (
  SELECT *,
         coalesce(lead(ts_ms) OVER (PARTITION BY event_type, bucket_start_ms
                                    ORDER BY ts_ms, event_id),
                  bucket_start_ms + 86400000) - ts_ms AS d
  FROM b
),
agg AS (
  SELECT event_type, bucket_start_ms,
         CAST(sum(v_e3 * d) AS BIGINT) AS twa_num,
         CAST(bucket_start_ms + 86400000 - min(ts_ms) AS BIGINT) AS twa_den,
         CAST(count(*) AS BIGINT) AS n_events
  FROM s GROUP BY 1, 2
)
SELECT event_type, bucket_start_ms, twa_num, twa_den, n_events,
       CAST(twa_num AS DOUBLE) / (CAST(twa_den AS DOUBLE) * 1000.0) AS twa
FROM agg
"""


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): top-200 documents
    whose hashed n-gram bag is most target-like, target = the English
    subset; weights are exact fixed-point-log2 BIGINTs."""
    from temporal_vector_database_spark.operators.dsir import dsir_select

    docs = _documents(spark, sf_dir)
    target = docs.where(F.col("lang") == "en")
    return dsir_select(docs, target, k=200, n_buckets=4096)


def _dsir_oracle_sql() -> str:
    from temporal_vector_database_spark.operators.dsir import (
        fixed_log2_duckdb_sql as s,
    )

    lam = (
        f"(({s('ct + 1')} - {s('nt + 4096')})"
        f" - ({s('cr + 1')} - {s('nr + 4096')}))"
    )
    return (
        _WORDS_CTE
        + f"""
, grams AS (
  SELECT doc_id, w[i] AS gram
  FROM w, unnest(range(1, len(w) + 1)) AS t(i)
  UNION ALL
  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS gram
  FROM w, unnest(range(1, greatest(len(w), 1))) AS t(i)
),
b AS (
  SELECT doc_id, CAST({_H_U32_SQL} AS BIGINT) % 4096 AS bucket
  FROM (SELECT doc_id, md5(gram) AS h FROM grams)
),
tb AS (
  SELECT b.bucket FROM b JOIN documents d USING (doc_id) WHERE d.lang = 'en'
),
tc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM tb GROUP BY 1),
rc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM b GROUP BY 1),
tt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM tb),
rt AS (SELECT CAST(count(*) AS BIGINT) AS nr FROM b),
grid AS (SELECT i AS bucket FROM unnest(range(0, 4096)) AS t(i)),
lam AS (
  SELECT g.bucket, CAST({lam} AS BIGINT) AS lambda_units
  FROM (SELECT grid.bucket,
               coalesce(tc.ct, 0) AS ct, coalesce(rc.cr, 0) AS cr
        FROM grid LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)) g
  CROSS JOIN tt CROSS JOIN rt
),
perdoc AS (
  SELECT b.doc_id,
         CAST(sum(l.lambda_units) AS BIGINT) AS weight_units,
         CAST(count(*) AS BIGINT) AS n_grams
  FROM b JOIN lam l USING (bucket) GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.weight_units, 0) AS BIGINT) AS weight_units,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams
FROM documents d LEFT JOIN perdoc p USING (doc_id)
ORDER BY weight_units DESC, d.doc_id ASC LIMIT 200
"""
    )


ORACLES["dsir_select"] = _dsir_oracle_sql()



def q_token_budget_mixture(spark, sf_dir):
    """Materialize a training mixture under per-source token budgets
    (distributed prefix-sum selection; the oracle is the naive
    single-window running sum — bit-equal by construction)."""
    from temporal_vector_database_spark.operators.sampling import (
        token_budget_select,
    )

    docs = _documents(spark, sf_dir)
    docs = docs.withColumn(
        "n_tokens",
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
        .cast("long"),
    )
    out = token_budget_select(
        docs,
        {"src0": 3000, "src1": 2000, "src5": 800},
        n_range_buckets=64,
    )
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


ORACLES["token_budget_mixture"] = f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
           AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
u AS (SELECT doc_id, source, n_tokens, CAST({_H_U32_SQL} AS BIGINT) AS u32 FROM t),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY u32, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_tokens
  FROM u
),
b AS (
  SELECT * FROM (VALUES ('src0', 3000), ('src1', 2000), ('src5', 800))
    AS v(source, budget)
)
SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens
FROM c LEFT JOIN b USING (source)
WHERE b.budget IS NULL OR c.cum_tokens <= b.budget
"""



def q_neardup_pagerank(spark, sf_dir):
    """Fixed-point PageRank (3 unrolled power iterations, BIGINT
    1e-12-unit ranks) over the symmetrized sign-band LSH near-dup
    graph — centrality picks the canonical doc of each duplication
    neighborhood."""
    from temporal_vector_database_spark.operators.dedup import (
        embedding_near_duplicates,
    )
    from temporal_vector_database_spark.operators.graph import pagerank_fixed

    emb = _quantized_embeddings(spark, sf_dir)
    pairs = embedding_near_duplicates(emb, min_cosine=0.4)
    edges = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionByName(
        pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
    )
    pr = pagerank_fixed(edges, n_iter=3)
    return pr.select(F.col("id").alias("vec_id"), "pr_units", "deg")


ORACLES["neardup_triangles"] = (
    _QEMB_CTE
    + """
, bucket AS (
  SELECT vec_id, band_id,
         (CASE WHEN emb[4 * band_id + 1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 4] >= 0 THEN 8 ELSE 0 END) AS band_val
  FROM en, unnest([0, 1, 2, 3]) AS t(band_id)
),
pairs AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bucket a JOIN bucket b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id
),
scored AS (
  SELECT p.a_id, p.b_id,
         CASE WHEN ea.nrm > 0 AND eb.nrm > 0
              THEN list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm)
              ELSE 0.0 END AS sim
  FROM pairs p JOIN en ea ON p.a_id = ea.vec_id JOIN en eb ON p.b_id = eb.vec_id
),
ce AS (SELECT a_id AS a, b_id AS b FROM scored WHERE sim >= 0.2),
nodes AS (SELECT a AS id FROM ce UNION ALL SELECT b AS id FROM ce),
deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM nodes GROUP BY 1),
o AS (
  SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND ce.a < ce.b)
              THEN ce.a ELSE ce.b END AS u,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND ce.a < ce.b)
              THEN ce.b ELSE ce.a END AS w,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND ce.a < ce.b)
              THEN db.deg ELSE da.deg END AS degw
  FROM ce JOIN deg da ON ce.a = da.id JOIN deg db ON ce.b = db.id
),
tri AS (
  SELECT e1.u AS u, e1.w AS w1, e2.w AS w2
  FROM o e1 JOIN o e2 ON e1.u = e2.u
   AND (e1.degw < e2.degw OR (e1.degw = e2.degw AND e1.w < e2.w))
  JOIN o e3 ON e3.u = e1.w AND e3.w = e2.w
),
corners AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT u AS id FROM tri
    UNION ALL SELECT w1 AS id FROM tri
    UNION ALL SELECT w2 AS id FROM tri
  ) GROUP BY 1
)
SELECT d.id AS vec_id, d.deg,
       CAST(coalesce(c.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN CAST(2 * coalesce(c.n_triangles, 0) AS DOUBLE)
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE)
            ELSE NULL END AS ccoef
FROM deg d LEFT JOIN corners c ON d.id = c.id
"""
)


def q_neardup_kcore(spark, sf_dir):
    """r06: 2-core membership of the sign-band LSH near-dup graph at
    min_cosine=0.3 — separates genuinely clustered duplication
    structure (220 of 420 nodes at sf0.01, 6 peel rounds) from dangling
    chains; bounded peeling with a published convergence certificate
    (the fixture reaches its fixpoint well inside max_iter=8, so the
    result is the exact core, not an upper bound)."""
    from temporal_vector_database_spark.operators.dedup import (
        embedding_near_duplicates,
    )
    from temporal_vector_database_spark.operators.graph import kcore

    emb = _quantized_embeddings(spark, sf_dir)
    pairs = embedding_near_duplicates(emb, min_cosine=0.3)
    core = kcore(pairs, k=2, max_iter=8, src_col="a_id", dst_col="b_id")
    return core.select(F.col("id").alias("vec_id"), "deg_in_core", "converged")


def _kcore_oracle_sql(k: int, max_iter: int) -> str:
    """Unrolled peeling rounds over the ``ce(a, b)`` canonical-edge CTE
    (the pagerank-oracle discipline: bounded integer recurrences unroll
    into a CTE chain). Peeling is monotone, so the fully-unrolled chain
    equals the engine's early-stopped run."""
    # MATERIALIZED everywhere: without the hint DuckDB re-inlines each
    # a{i} into every downstream reference (2 refs/round -> exponential
    # plan, observed as fd exhaustion re-opening the parquet) — the
    # mmr_rerank oracle lesson
    parts = [
        "a0 AS MATERIALIZED (SELECT a AS id FROM ce UNION SELECT b AS id FROM ce)",
    ]
    for i in range(1, max_iter + 1):
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT ce.a, ce.b FROM ce"
            f" JOIN a{i - 1} x ON ce.a = x.id JOIN a{i - 1} y ON ce.b = y.id)"
        )
        parts.append(
            f"d{i} AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM"
            f" (SELECT a AS id FROM e{i} UNION ALL SELECT b AS id FROM e{i})"
            f" GROUP BY 1)"
        )
        parts.append(f"a{i} AS MATERIALIZED (SELECT id FROM d{i} WHERE deg >= {k})")
    n, p = max_iter, max_iter - 1
    parts.append(
        f"ef AS (SELECT ce.a, ce.b FROM ce"
        f" JOIN a{n} x ON ce.a = x.id JOIN a{n} y ON ce.b = y.id)"
    )
    parts.append(
        "df AS (SELECT id, CAST(count(*) AS BIGINT) AS deg_in_core FROM"
        " (SELECT a AS id FROM ef UNION ALL SELECT b AS id FROM ef) GROUP BY 1)"
    )
    parts.append(
        f"conv AS (SELECT (SELECT count(*) FROM a{p}) = (SELECT count(*) FROM a{n})"
        f" AS converged)"
    )
    return (
        ", ".join(parts)
        + f"""
SELECT a{n}.id AS vec_id,
       CAST(coalesce(df.deg_in_core, 0) AS BIGINT) AS deg_in_core,
       conv.converged
FROM a{n} LEFT JOIN df ON a{n}.id = df.id CROSS JOIN conv
"""
    )


ORACLES["neardup_kcore"] = (
    _QEMB_CTE
    + """
, bucket AS (
  SELECT vec_id, band_id,
         (CASE WHEN emb[4 * band_id + 1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 4] >= 0 THEN 8 ELSE 0 END) AS band_val
  FROM en, unnest([0, 1, 2, 3]) AS t(band_id)
),
pairs AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bucket a JOIN bucket b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id
),
scored AS (
  SELECT p.a_id, p.b_id,
         CASE WHEN ea.nrm > 0 AND eb.nrm > 0
              THEN list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm)
              ELSE 0.0 END AS sim
  FROM pairs p JOIN en ea ON p.a_id = ea.vec_id JOIN en eb ON p.b_id = eb.vec_id
),
ce AS MATERIALIZED (SELECT a_id AS a, b_id AS b FROM scored WHERE sim >= 0.3),
"""
    + _kcore_oracle_sql(k=2, max_iter=8)
)


def q_neardup_triangles(spark, sf_dir):
    """r06: exact triangle counts + clustering coefficient per node of
    the symmetrized sign-band LSH near-dup graph (rank-oriented
    node-iterator, each triangle counted once at its lowest-(deg,id)
    corner) — closure QA for duplication neighborhoods. min_cosine=0.2
    (vs the pagerank gate's 0.4): the fixture's 0.4-graph is a
    triangle-free sparse matching, while 0.2 yields real closure
    structure (2,412 triangle corners over 500 nodes at sf0.01) so the
    gate checks actual triangle math, not an all-zeros column."""
    from temporal_vector_database_spark.operators.dedup import (
        embedding_near_duplicates,
    )
    from temporal_vector_database_spark.operators.graph import triangle_counts

    emb = _quantized_embeddings(spark, sf_dir)
    pairs = embedding_near_duplicates(emb, min_cosine=0.2)
    tri = triangle_counts(pairs, src_col="a_id", dst_col="b_id")
    return tri.select(F.col("id").alias("vec_id"), "deg", "n_triangles", "ccoef")


ORACLES["neardup_pagerank"] = (
    _QEMB_CTE
    + """
, bucket AS (
  SELECT vec_id, band_id,
         (CASE WHEN emb[4 * band_id + 1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 4] >= 0 THEN 8 ELSE 0 END) AS band_val
  FROM en, unnest([0, 1, 2, 3]) AS t(band_id)
),
pairs AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bucket a JOIN bucket b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id
),
scored AS (
  SELECT p.a_id, p.b_id,
         CASE WHEN ea.nrm > 0 AND eb.nrm > 0
              THEN list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm)
              ELSE 0.0 END AS sim
  FROM pairs p JOIN en ea ON p.a_id = ea.vec_id JOIN en eb ON p.b_id = eb.vec_id
),
keep AS (SELECT a_id, b_id FROM scored WHERE sim >= 0.4),
ed AS (
  SELECT a_id AS src, b_id AS dst FROM keep
  UNION ALL
  SELECT b_id AS src, a_id AS dst FROM keep
),
nodes AS (SELECT DISTINCT src AS id FROM (SELECT src FROM ed UNION ALL SELECT dst AS src FROM ed)),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY 1),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
pr0 AS (
  SELECT id, CAST(CAST(1000000000000 AS BIGINT) // nn.n AS BIGINT) AS pr
  FROM nodes CROSS JOIN nn
),
c1 AS (
  SELECT ed.dst AS id,
         CAST(sum((p.pr * 85) // (100 * deg.deg)) AS BIGINT) AS m
  FROM ed JOIN pr0 p ON ed.src = p.id JOIN deg ON ed.src = deg.src
  GROUP BY 1
),
pr1 AS (
  SELECT nodes.id,
         CAST(CAST(1000000000000 AS BIGINT) * 15 // (100 * nn.n)
              + coalesce(c1.m, 0) AS BIGINT) AS pr
  FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.id = c1.id
),
c2 AS (
  SELECT ed.dst AS id,
         CAST(sum((p.pr * 85) // (100 * deg.deg)) AS BIGINT) AS m
  FROM ed JOIN pr1 p ON ed.src = p.id JOIN deg ON ed.src = deg.src
  GROUP BY 1
),
pr2 AS (
  SELECT nodes.id,
         CAST(CAST(1000000000000 AS BIGINT) * 15 // (100 * nn.n)
              + coalesce(c2.m, 0) AS BIGINT) AS pr
  FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.id = c2.id
),
c3 AS (
  SELECT ed.dst AS id,
         CAST(sum((p.pr * 85) // (100 * deg.deg)) AS BIGINT) AS m
  FROM ed JOIN pr2 p ON ed.src = p.id JOIN deg ON ed.src = deg.src
  GROUP BY 1
),
pr3 AS (
  SELECT nodes.id,
         CAST(CAST(1000000000000 AS BIGINT) * 15 // (100 * nn.n)
              + coalesce(c3.m, 0) AS BIGINT) AS pr
  FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.id = c3.id
),
fin AS (SELECT 1)
SELECT nodes.id AS vec_id, pr3.pr AS pr_units,
       CAST(coalesce(deg.deg, 0) AS BIGINT) AS deg
FROM nodes JOIN pr3 ON nodes.id = pr3.id
LEFT JOIN deg ON nodes.id = deg.src
"""
)



def q_mips_topk(spark, sf_dir):
    """r09: exact top-k by MAXIMUM INNER PRODUCT (no norm division, no
    sim>0 floor — norm is signal) over the quantized embedding corpus;
    broadcast query table, tie-aware Arrow partial top-k before the
    per-query exchange. Dots are exact dyadics (grid products sum
    losslessly in doubles), so both engines hash identically."""
    from temporal_vector_database_spark.operators.search import mips_topk

    emb = _quantized_embeddings(spark, sf_dir)
    qs = emb.where(F.col("vec_id") % 50 == 7).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return mips_topk(emb, qs, k=10)


ORACLES["mips_topk"] = (
    _QEMB_CTE
    + """
, q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, emb AS qemb FROM e WHERE vec_id % 50 = 7),
scored AS (
  SELECT q.query_id, e.vec_id, list_dot_product(e.emb, q.qemb) AS dot
  FROM e, q
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, dot, rank FROM ranked WHERE rank <= 10
"""
)


def q_label_propagation(spark, sf_dir):
    """r09: semi-supervised label propagation over the symmetrized
    sign-band LSH near-dup graph — a deterministic seed subset
    (vec_id % 17 == 0, label 'g'||(vec_id % 4)) spreads to whole
    duplication neighborhoods in 3 synchronous rounds; argmax = vote
    count desc, label asc (fully deterministic). The oracle unrolls
    every round relationally (vote CTE → max-count → min-label
    join-back)."""
    from temporal_vector_database_spark.operators.dedup import (
        embedding_near_duplicates,
    )
    from temporal_vector_database_spark.operators.graph import (
        label_propagation,
    )

    emb = _quantized_embeddings(spark, sf_dir)
    pairs = embedding_near_duplicates(emb, min_cosine=0.4)
    edges = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionByName(
        pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"))
    )
    seeds = (
        _embeddings_raw(spark, sf_dir)
        .select(F.col("vec_id").cast("long").alias("id"))
        .where(F.col("id") % 17 == 0)
        .select(
            "id",
            F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias(
                "label"
            ),
        )
    )
    lp = label_propagation(edges, seeds, n_iter=3)
    return lp.select(F.col("id").alias("vec_id"), "label", "is_seed")


_LP_ROUND = """,
v{r} AS (
  SELECT ed.dst AS id, l.label, CAST(count(*) AS BIGINT) AS cnt
  FROM ed JOIN lab{p} l ON ed.src = l.id WHERE l.label IS NOT NULL
  GROUP BY 1, 2
),
m{r} AS (SELECT id, max(cnt) AS mx FROM v{r} GROUP BY 1),
b{r} AS (
  SELECT v.id, min(v.label) AS nl
  FROM v{r} v JOIN m{r} m ON v.id = m.id AND v.cnt = m.mx
  GROUP BY 1
),
lab{r} AS MATERIALIZED (
  SELECT n.id, coalesce(s.slabel, b.nl, l.label) AS label
  FROM nodes n
  LEFT JOIN seeds s ON n.id = s.id
  LEFT JOIN b{r} b ON n.id = b.id
  LEFT JOIN lab{p} l ON n.id = l.id
)"""

ORACLES["label_propagation"] = (
    _QEMB_CTE
    + """
, bucket AS (
  SELECT vec_id, band_id,
         (CASE WHEN emb[4 * band_id + 1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN emb[4 * band_id + 4] >= 0 THEN 8 ELSE 0 END) AS band_val
  FROM en, unnest([0, 1, 2, 3]) AS t(band_id)
),
pairs AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bucket a JOIN bucket b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id
),
scored AS (
  SELECT p.a_id, p.b_id,
         CASE WHEN ea.nrm > 0 AND eb.nrm > 0
              THEN list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm)
              ELSE 0.0 END AS sim
  FROM pairs p JOIN en ea ON p.a_id = ea.vec_id JOIN en eb ON p.b_id = eb.vec_id
),
keep AS (SELECT a_id, b_id FROM scored WHERE sim >= 0.4),
ed AS MATERIALIZED (
  SELECT a_id AS src, b_id AS dst FROM keep
  UNION ALL
  SELECT b_id AS src, a_id AS dst FROM keep
),
nodes AS MATERIALIZED (
  SELECT DISTINCT src AS id FROM (SELECT src FROM ed UNION ALL SELECT dst AS src FROM ed)
),
seeds AS MATERIALIZED (
  SELECT vec_id AS id, 'g' || CAST(vec_id % 4 AS VARCHAR) AS slabel
  FROM embeddings WHERE vec_id % 17 = 0
),
lab0 AS MATERIALIZED (
  SELECT n.id, s.slabel AS label FROM nodes n LEFT JOIN seeds s ON n.id = s.id
)"""
    + _LP_ROUND.format(r=1, p=0)
    + _LP_ROUND.format(r=2, p=1)
    + _LP_ROUND.format(r=3, p=2)
    + """
SELECT l.id AS vec_id, l.label, (s.id IS NOT NULL) AS is_seed
FROM lab3 l LEFT JOIN seeds s ON l.id = s.id
"""
)


def q_events_type_corr(spark, sf_dir):
    """Pairwise Pearson correlation between event-type daily value
    series — exact BIGINT moments; the published corr is composed only
    of IEEE-correctly-rounded ops (engine-bit-stable)."""
    from temporal_vector_database_spark.operators.timeseries import (
        series_correlation,
    )
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return series_correlation(
        ev, "ts_ms", "event_type", "value", 86_400_000, value_scale=1
    )


ORACLES["events_type_corr"] = """
WITH e AS (
  SELECT event_type AS s,
         CAST((epoch_ms(ts) // 86400000) * 86400000 AS BIGINT) AS bucket_start_ms,
         CAST(round(value) AS BIGINT) AS v
  FROM events
),
per AS (
  SELECT s, bucket_start_ms, CAST(sum(v) AS BIGINT) AS x
  FROM e GROUP BY 1, 2
),
p AS (
  SELECT a.s AS series_a, b.s AS series_b,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(a.x) AS BIGINT) AS sx,
         CAST(sum(b.x) AS BIGINT) AS sy,
         CAST(sum(a.x * b.x) AS BIGINT) AS sxy,
         CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
         CAST(sum(b.x * b.x) AS BIGINT) AS syy
  FROM per a JOIN per b
    ON a.bucket_start_ms = b.bucket_start_ms AND a.s < b.s
  GROUP BY 1, 2
)
SELECT series_a, series_b, n_buckets, sx, sy, sxy, sxx, syy,
       CASE WHEN CAST(n_buckets * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(n_buckets * syy - sy * sy AS DOUBLE) > 0
            THEN CAST(n_buckets * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n_buckets * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n_buckets * syy - sy * sy AS DOUBLE)))
            ELSE NULL END AS corr
FROM p
"""



def q_events_acf(spark, sf_dir):
    """r08: per-event-type AUTOCORRELATION of the daily value series at
    lags 1..3 — exact BIGINT moments over (x_t, x_{t+lag}) pairs where
    both days are observed (no implicit zero-fill); the published acf
    double is the fixed IEEE expression shared with events_type_corr.
    One equi-join of the reduced per-day table against itself on
    (series, day+lag) with the 3-lag list exploded — cost is
    |series|·|days|·3, never events."""
    from temporal_vector_database_spark.operators.timeseries import series_acf
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return series_acf(
        ev, "ts_ms", "event_type", "value", 86_400_000, max_lag=3, value_scale=1
    )


ORACLES["events_acf"] = """
WITH e AS (
  SELECT event_type AS s,
         CAST((epoch_ms(ts) // 86400000) AS BIGINT) AS tb,
         CAST(round(value) AS BIGINT) AS v
  FROM events
),
per AS (
  SELECT s, tb, CAST(sum(v) AS BIGINT) AS x
  FROM e GROUP BY 1, 2
),
lags AS (SELECT unnest([1, 2, 3]) AS lag),
p AS (
  SELECT a.s AS series, l.lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(a.x) AS BIGINT) AS sx,
         CAST(sum(b.x) AS BIGINT) AS sy,
         CAST(sum(a.x * b.x) AS BIGINT) AS sxy,
         CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
         CAST(sum(b.x * b.x) AS BIGINT) AS syy
  FROM per a CROSS JOIN lags l
  JOIN per b ON b.s = a.s AND b.tb = a.tb + l.lag
  GROUP BY 1, 2
)
SELECT series, CAST(lag AS INTEGER) AS lag, n_pairs, sx, sy, sxy, sxx, syy,
       CASE WHEN CAST(n_pairs * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(n_pairs * syy - sy * sy AS DOUBLE) > 0
            THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))
            ELSE NULL END AS acf
FROM p
"""


def q_events_spearman(spark, sf_dir):
    """r07: pairwise SPEARMAN rank correlation between event-type daily
    series — tie-averaged ranks in exact 2x integer units (2*c_lt +
    c_eq + 1), then the Pearson moment expression over the integer
    rank pairs; outlier-robust and monotonicity-sensing where the
    Pearson gate (events_type_corr) is linear-only."""
    from temporal_vector_database_spark.operators.timeseries import series_spearman
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return series_spearman(
        ev, "ts_ms", "event_type", "value", 86_400_000, value_scale=1
    )


ORACLES["events_spearman"] = """
WITH e AS (
  SELECT event_type AS s,
         CAST((epoch_ms(ts) // 86400000) * 86400000 AS BIGINT) AS bucket_start_ms,
         CAST(round(value) AS BIGINT) AS v
  FROM events
),
per AS (
  SELECT s, bucket_start_ms, CAST(sum(v) AS BIGINT) AS x
  FROM e GROUP BY 1, 2
),
pr AS (
  SELECT a.s AS series_a, b.s AS series_b, a.x AS xa, b.x AS xb
  FROM per a JOIN per b
    ON a.bucket_start_ms = b.bucket_start_ms AND a.s < b.s
),
rk AS (
  SELECT series_a, series_b,
         CAST(2 * (rank() OVER (PARTITION BY series_a, series_b ORDER BY xa) - 1)
              + count(*) OVER (PARTITION BY series_a, series_b, xa) + 1
              AS BIGINT) AS ra,
         CAST(2 * (rank() OVER (PARTITION BY series_a, series_b ORDER BY xb) - 1)
              + count(*) OVER (PARTITION BY series_a, series_b, xb) + 1
              AS BIGINT) AS rb
  FROM pr
),
m AS (
  SELECT series_a, series_b,
         CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(ra) AS BIGINT) AS sx, CAST(sum(rb) AS BIGINT) AS sy,
         CAST(sum(ra * rb) AS BIGINT) AS sxy,
         CAST(sum(ra * ra) AS BIGINT) AS sxx,
         CAST(sum(rb * rb) AS BIGINT) AS syy
  FROM rk GROUP BY 1, 2
)
SELECT series_a, series_b, n_buckets, sx, sy, sxy, sxx, syy,
       CASE WHEN CAST(n_buckets * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(n_buckets * syy - sy * sy AS DOUBLE) > 0
            THEN CAST(n_buckets * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n_buckets * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n_buckets * syy - sy * sy AS DOUBLE)))
            ELSE NULL END AS spearman
FROM m
"""


def q_vocab_gini(spark, sf_dir):
    """r07: per-source vocabulary CONCENTRATION (Gini over the word-
    frequency distribution) — the inequality diagnostic beside Zipf's
    slope and entropy; exact BIGINT rank moment, fixed two-division
    terminal expression (operators/textindex.py vocab_gini)."""
    from temporal_vector_database_spark.operators.textindex import vocab_gini

    docs = _documents(spark, sf_dir)
    return vocab_gini(docs)


ORACLES["vocab_gini"] = """
WITH cnt AS (
  SELECT src, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source AS src,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents)
  GROUP BY 1, 2
),
stats AS (
  SELECT src, CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(c) AS BIGINT) AS n_tokens
  FROM cnt GROUP BY 1
),
mom AS (
  SELECT src, CAST(sum(i * c) AS BIGINT) AS s_ic
  FROM (SELECT src, c,
               CAST(row_number() OVER (PARTITION BY src ORDER BY c ASC, w ASC)
                    AS BIGINT) AS i
        FROM cnt)
  GROUP BY 1
)
SELECT s.src AS source, s.n_types, s.n_tokens,
       CAST(2 * m.s_ic AS DOUBLE) / CAST(s.n_types * s.n_tokens AS DOUBLE)
         - CAST(s.n_types + 1 AS DOUBLE) / CAST(s.n_types AS DOUBLE) AS gini
FROM stats s JOIN mom m ON s.src = m.src
"""


def q_weighted_reservoir(spark, sf_dir):
    """Exactly-150-document sample with inclusion probability
    proportional to n_chars (Efraimidis-Spirakis A-ES, fixed-point-log2
    exponential clocks — bit-identical in any engine)."""
    from temporal_vector_database_spark.operators.sampling import (
        weighted_reservoir_sample,
    )

    docs = _documents(spark, sf_dir)
    return weighted_reservoir_sample(docs, k=150, weight_col="n_chars").select(
        "doc_id", "n_chars", "priority_units"
    )


def _weighted_reservoir_oracle() -> str:
    from temporal_vector_database_spark.operators.dsir import (
        fixed_log2_duckdb_sql as s,
    )

    neg = f"({32 * 65536} - {s('u32 + 1')})"
    return f"""
WITH h AS (
  SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
  WHERE n_chars > 0
),
u AS (SELECT doc_id, n_chars, CAST({_H_U32_SQL} AS BIGINT) AS u32 FROM h),
p AS (
  SELECT doc_id, n_chars,
         CAST(({neg} * {1 << 20}) // CAST(n_chars AS BIGINT) AS BIGINT)
           AS priority_units
  FROM u
)
SELECT doc_id, n_chars, priority_units FROM p
ORDER BY priority_units ASC, doc_id ASC LIMIT 150
"""


ORACLES["weighted_reservoir"] = _weighted_reservoir_oracle()



def q_collocations_pmi(spark, sf_dir):
    """Top-100 collocations (adjacent-word bigrams, count >= 3) by
    fixed-point-log2 PMI — deterministic Church & Hanks association."""
    from temporal_vector_database_spark.operators.textindex import (
        collocations_pmi,
    )

    docs = _documents(spark, sf_dir)
    return collocations_pmi(docs, k=100, min_count=3)


def _collocations_oracle() -> str:
    from temporal_vector_database_spark.operators.dsir import (
        fixed_log2_duckdb_sql as s,
    )

    pmi = (
        f"(({s('c_ab')} + {s('n_total')}) - ({s('c_a')} + {s('c_b')}))"
    )
    return (
        _WORDS_CTE
        + f"""
, uni AS (
  SELECT w_, CAST(count(*) AS BIGINT) AS cw FROM (
    SELECT unnest(w) AS w_ FROM w
  ) GROUP BY 1
),
bi AS (
  SELECT w[i] AS a, w[i + 1] AS b, CAST(count(*) AS BIGINT) AS c_ab
  FROM w, unnest(range(1, greatest(len(w), 1))) AS t(i)
  GROUP BY 1, 2 HAVING count(*) >= 3
),
tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n_total FROM uni),
j AS (
  SELECT bi.a, bi.b, bi.c_ab, ua.cw AS c_a, ub.cw AS c_b, tot.n_total
  FROM bi JOIN uni ua ON bi.a = ua.w_ JOIN uni ub ON bi.b = ub.w_
  CROSS JOIN tot
)
SELECT a, b, c_ab, c_a, c_b, CAST({pmi} AS BIGINT) AS pmi_units
FROM j
ORDER BY pmi_units DESC, a ASC, b ASC LIMIT 100
"""
    )


ORACLES["collocations_pmi"] = _collocations_oracle()



def q_dataset_diff(spark, sf_dir):
    """Dataset-version changefeed: v1 = documents minus doc_id%89==0;
    v2 = documents minus doc_id%97==0 with text upper-cased where
    doc_id%7==0 — per-key added/removed/changed/unchanged statuses."""
    from temporal_vector_database_spark.operators.relational import dataset_diff

    docs = _documents(spark, sf_dir)
    v1 = docs.where(F.col("doc_id") % 89 != 0)
    v2 = docs.where(F.col("doc_id") % 97 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    return dataset_diff(v1, v2, key_cols=("doc_id",), compare_cols=("text",))


# digest encoding mirrors operators/relational.py dataset_diff: NULL-vs-
# value tag + length prefix per column ('N|' / 'V<len>:<val>|') so
# boundary shifts and NULL<->'' changes can't hash-collide
ORACLES["dataset_diff"] = """
WITH v1 AS (
  SELECT doc_id,
         md5(CASE WHEN text IS NULL THEN 'N|'
                  ELSE 'V' || CAST(length(text) AS VARCHAR) || ':' || text || '|'
             END) AS old_hash
  FROM documents WHERE doc_id % 89 <> 0
),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN t2 IS NULL THEN 'N|'
                  ELSE 'V' || CAST(length(t2) AS VARCHAR) || ':' || t2 || '|'
             END) AS new_hash
  FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS t2
    FROM documents WHERE doc_id % 97 <> 0
  )
)
SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, old_hash, new_hash,
       CASE WHEN old_hash IS NULL THEN 'added'
            WHEN new_hash IS NULL THEN 'removed'
            WHEN old_hash <> new_hash THEN 'changed'
            ELSE 'unchanged' END AS status
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
"""



def q_maxsim_rerank(spark, sf_dir):
    """ColBERT-style late interaction: brute top-50 full-vector cosine
    shortlist, then MaxSim (sum of per-query-subvector maxima over doc
    subvectors, m=4) reranks to top-10."""
    from temporal_vector_database_spark.operators.search import (
        maxsim_rerank,
        topk_cosine,
    )

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    shortlist = topk_cosine(
        emb, queries, k=50, id_cols=("vec_id",), impl="sql"
    ).select("query_id", "vec_id")
    return maxsim_rerank(emb, queries, shortlist, m=4, k=10)


ORACLES["maxsim_rerank"] = (
    _QEMB_CTE
    + """
, q AS (SELECT CAST(vec_id AS INTEGER) AS query_id, emb AS qe, nrm AS nq FROM en WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, en.vec_id,
         CASE WHEN q.nq > 0 AND en.nrm > 0
              THEN list_dot_product(q.qe, en.emb) / (q.nq * en.nrm)
              ELSE 0.0 END AS sim
  FROM en CROSS JOIN q
),
rk AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
  FROM scored WHERE sim > 0
),
sl AS (SELECT query_id, vec_id FROM rk WHERE rn <= 50),
sgrid AS (SELECT unnest([0, 1, 2, 3]) AS s),
qsub AS (
  SELECT q.query_id, s.s AS qi,
         list_slice(q.qe, s.s * (len(q.qe) // 4) + 1, (s.s + 1) * (len(q.qe) // 4)) AS sub
  FROM q CROSS JOIN sgrid s
),
qsn AS (
  SELECT query_id, qi, sub,
         sqrt(list_sum(list_transform(sub, x -> x * x))) AS nrm
  FROM qsub
),
dsub AS (
  SELECT en.vec_id AS vid, s.s AS dj,
         list_slice(en.emb, s.s * (len(en.emb) // 4) + 1, (s.s + 1) * (len(en.emb) // 4)) AS sub
  FROM en CROSS JOIN sgrid s
),
dsn AS (
  SELECT vid, dj, sub,
         sqrt(list_sum(list_transform(sub, x -> x * x))) AS nrm
  FROM dsub
),
wide AS (
  SELECT sl.query_id, sl.vec_id,
         max(CASE WHEN qs.qi = 0 THEN
           CASE WHEN qs.nrm > 0 AND ds.nrm > 0
                THEN list_dot_product(qs.sub, ds.sub) / (qs.nrm * ds.nrm)
                ELSE 0.0 END END) AS mx0,
         max(CASE WHEN qs.qi = 1 THEN
           CASE WHEN qs.nrm > 0 AND ds.nrm > 0
                THEN list_dot_product(qs.sub, ds.sub) / (qs.nrm * ds.nrm)
                ELSE 0.0 END END) AS mx1,
         max(CASE WHEN qs.qi = 2 THEN
           CASE WHEN qs.nrm > 0 AND ds.nrm > 0
                THEN list_dot_product(qs.sub, ds.sub) / (qs.nrm * ds.nrm)
                ELSE 0.0 END END) AS mx2,
         max(CASE WHEN qs.qi = 3 THEN
           CASE WHEN qs.nrm > 0 AND ds.nrm > 0
                THEN list_dot_product(qs.sub, ds.sub) / (qs.nrm * ds.nrm)
                ELSE 0.0 END END) AS mx3
  FROM sl
  JOIN qsn qs ON sl.query_id = qs.query_id
  JOIN dsn ds ON sl.vec_id = ds.vid
  GROUP BY 1, 2
),
fin AS (
  SELECT query_id, vec_id,
         coalesce(mx0, 0.0) + coalesce(mx1, 0.0) + coalesce(mx2, 0.0)
           + coalesce(mx3, 0.0) AS maxsim
  FROM wide
),
rk2 AS (
  SELECT query_id, vec_id, maxsim,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY maxsim DESC, vec_id) AS INTEGER) AS rank
  FROM fin
)
SELECT query_id, rank, vec_id, maxsim FROM rk2 WHERE rank <= 10
"""
)



def q_ngram_containment(spark, sf_dir):
    """Asymmetric containment near-dup over MinHash-LSH candidates:
    |A-inter-B|/|A| and /|B|, pair kept when either side >= 0.5 —
    catches subset/quote duplicates Jaccard misses."""
    from temporal_vector_database_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = _documents(spark, sf_dir)
    return ngram_containment_pairs(docs, min_containment=0.5)


ORACLES["ngram_containment"] = (
    ORACLES["ngram_jaccard"]
    .replace(
        """SELECT a_id, b_id, n_inter, n_union,
       CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard
FROM scored WHERE CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) >= 0.4""",
        """SELECT a_id, b_id, n_inter, n_a, n_b,
       CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment_a,
       CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS containment_b
FROM scored
WHERE CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) >= 0.5
   OR CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) >= 0.5""",
    )
    .replace(
        """  SELECT p.a_id, p.b_id, COALESCE(i.n_inter, 0) AS n_inter,
         sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0) AS n_union""",
        """  SELECT p.a_id, p.b_id, COALESCE(i.n_inter, 0) AS n_inter,
         sa.n_sh AS n_a, sb.n_sh AS n_b""",
    )
)



def q_events_seasonality(spark, sf_dir):
    """Day-of-week seasonal index of the event value per type —
    TZ-free integer phase math, exact cross-product moments, one
    IEEE division for the index."""
    from temporal_vector_database_spark.operators.timeseries import (
        seasonal_profile,
    )
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return seasonal_profile(ev, "ts_ms", ("event_type",), "value")


ORACLES["events_seasonality"] = """
WITH e AS (
  SELECT event_type,
         CAST(((epoch_ms(ts) - epoch_ms(ts) % 86400000) / 86400000) % 7 AS INTEGER)
           AS phase,
         CAST(round(value * 1000) AS BIGINT) AS v
  FROM events
),
pp AS (
  SELECT event_type, phase,
         CAST(sum(v) AS BIGINT) AS phase_sum,
         CAST(count(*) AS BIGINT) AS n_phase
  FROM e GROUP BY 1, 2
),
tt AS (
  SELECT event_type,
         CAST(sum(phase_sum) AS BIGINT) AS total_sum,
         CAST(sum(n_phase) AS BIGINT) AS n_total
  FROM pp GROUP BY 1
)
SELECT pp.event_type, pp.phase, pp.phase_sum, pp.n_phase,
       CAST(pp.phase_sum * tt.n_total AS BIGINT) AS idx_num,
       CAST(pp.n_phase * tt.total_sum AS BIGINT) AS idx_den,
       CASE WHEN pp.n_phase * tt.total_sum <> 0
            THEN CAST(pp.phase_sum * tt.n_total AS DOUBLE)
                 / CAST(pp.n_phase * tt.total_sum AS DOUBLE)
            ELSE NULL END AS seasonal_index
FROM pp JOIN tt USING (event_type)
"""



def q_events_conversion_latency(spark, sf_dir):
    """Time-to-convert: per user the FIRST 'click' and the first
    'purchase' AFTER it; corpus-level exact interpolated latency
    quantiles (ms) + integer moments. Min-struct firsts are
    partial-aggregatable (no per-user window over raw events)."""
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").groupBy("user_id").agg(
        F.min("ts_ms").cast("long").alias("t_click")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_ms").cast("long").alias("t_p")
    )
    lat = (
        clicks.join(purchases, "user_id")
        .where(F.col("t_p") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(
            F.min("t_p").alias("t_purchase"),
            F.first("t_click").alias("t_click2"),
        )
        .select(
            "user_id",
            (F.col("t_purchase") - F.col("t_click2")).cast("long").alias("latency_ms"),
        )
    )
    return lat.agg(
        F.count("*").cast("long").alias("n_converted"),
        F.sum("latency_ms").cast("long").alias("latency_sum_ms"),
        F.min("latency_ms").cast("long").alias("latency_min_ms"),
        F.max("latency_ms").cast("long").alias("latency_max_ms"),
        F.expr("percentile(latency_ms, 0.5D)").alias("p50_ms"),
        F.expr("percentile(latency_ms, 0.9D)").alias("p90_ms"),
    )


ORACLES["events_conversion_latency"] = """
WITH c AS (
  SELECT user_id, CAST(min(epoch_ms(ts)) AS BIGINT) AS t_click
  FROM events WHERE event_type = 'click' GROUP BY 1
),
p AS (
  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS t_p
  FROM events WHERE event_type = 'purchase'
),
lat AS (
  SELECT c.user_id,
         CAST(min(p.t_p) - c.t_click AS BIGINT) AS latency_ms
  FROM c JOIN p ON c.user_id = p.user_id AND p.t_p >= c.t_click
  GROUP BY c.user_id, c.t_click
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       CAST(sum(latency_ms) AS BIGINT) AS latency_sum_ms,
       CAST(min(latency_ms) AS BIGINT) AS latency_min_ms,
       CAST(max(latency_ms) AS BIGINT) AS latency_max_ms,
       quantile_cont(latency_ms, 0.5) AS p50_ms,
       quantile_cont(latency_ms, 0.9) AS p90_ms
FROM lat
"""



def q_events_trend(spark, sf_dir):
    """Per-event-type least-squares daily trend from exact integer
    moments (bucket-index re-based); slope/intercept are single IEEE
    divisions of exact cross-terms."""
    from temporal_vector_database_spark.operators.timeseries import series_trend
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return series_trend(ev, "ts_ms", ("event_type",), "value")


ORACLES["events_trend"] = """
WITH e AS (
  SELECT event_type,
         CAST((epoch_ms(ts) // 86400000) * 86400000 AS BIGINT) AS b,
         CAST(round(value * 1000) AS BIGINT) AS v
  FROM events
),
per AS (
  SELECT event_type, b, CAST(sum(v) AS BIGINT) AS v FROM e GROUP BY 1, 2
),
b0 AS (SELECT event_type, min(b) AS b0 FROM per GROUP BY 1),
idx AS (
  SELECT per.event_type, CAST((per.b - b0.b0) / 86400000 AS BIGINT) AS t, per.v
  FROM per JOIN b0 USING (event_type)
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS st,
         CAST(sum(v) AS BIGINT) AS sv,
         CAST(sum(t * v) AS BIGINT) AS stv,
         CAST(sum(t * t) AS BIGINT) AS stt
  FROM idx GROUP BY 1
)
SELECT event_type, n, st, sv, stv, stt,
       CASE WHEN CAST(n * stt - st * st AS DOUBLE) > 0
            THEN CAST(n * stv - st * sv AS DOUBLE)
                 / CAST(n * stt - st * st AS DOUBLE)
            ELSE NULL END AS slope_units_per_bucket,
       CASE WHEN CAST(n * stt - st * st AS DOUBLE) > 0
            THEN CAST(stt * sv - st * stv AS DOUBLE)
                 / CAST(n * stt - st * st AS DOUBLE)
            ELSE NULL END AS intercept_units
FROM m
"""



def q_events_user_entropy(spark, sf_dir):
    """Per-user Shannon entropy of the event-type distribution —
    fixed-point-log2 numerator (exact BIGINT) + one IEEE division."""
    from temporal_vector_database_spark.operators.relational import group_entropy
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return group_entropy(ev, ("user_id",), "event_type")


def _entropy_oracle() -> str:
    from temporal_vector_database_spark.operators.dsir import (
        fixed_log2_duckdb_sql as s,
    )

    return f"""
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_total,
         CAST(count(*) AS BIGINT) AS n_categories
  FROM c GROUP BY 1
),
j AS (
  SELECT c.user_id, c.c, t.n_total, t.n_categories,
         CAST(c.c * ({s('t.n_total')} - {s('c.c')}) AS BIGINT) AS term
  FROM c JOIN t USING (user_id)
)
SELECT user_id,
       CAST(sum(term) AS BIGINT) AS entropy_num_units,
       CAST(min(n_total) AS BIGINT) AS n_total,
       CAST(min(n_categories) AS BIGINT) AS n_categories,
       CAST(sum(term) AS DOUBLE) / (CAST(min(n_total) AS DOUBLE) * 65536.0)
         AS entropy_bits
FROM j GROUP BY 1
"""


ORACLES["events_user_entropy"] = _entropy_oracle()



def q_heavy_hitters_sketch(spark, sf_dir):
    """Misra-Gries sketch-path heavy hitters with the deterministic
    superset contract: published rows are the candidates' EXACT counts
    over the N/(k+1) threshold — provably every true heavy hitter.

    r06 de-vacuation: the fixture corpus is near-uniform word soup —
    at k_track=64 no bigram clears N/65 and the r05 gate matched on 0
    rows (a broken operator would also have passed). The gate now
    injects a deterministic skewed boilerplate phrase into every 5th
    doc (the mirrored oracle injects the same), so the sketch path must
    actually surface the hot grams: >0 published rows at every SF while
    decrement pressure stays real (~900 distinct bigrams/partition vs
    64 counters)."""
    from temporal_vector_database_spark.operators.textindex import (
        heavy_hitters_sketch,
    )

    docs = _documents(spark, sf_dir)
    skewed = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.expr("repeat(' hot gram', 40)")),
        ).otherwise(F.col("text")),
    )
    return heavy_hitters_sketch(skewed, k_track=64, n=2)


ORACLES["heavy_hitters_sketch"] = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(
           CASE WHEN doc_id % 5 = 0 THEN text || repeat(' hot gram', 40)
                ELSE text END, ' '), x -> x <> '') AS w
  FROM documents
),
ng AS (
  SELECT array_to_string(w[i:i+1], ' ') AS gram
  FROM w, unnest(range(1, greatest(len(w), 1))) AS t(i)
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_grams FROM ng),
cnt AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences FROM ng GROUP BY 1)
SELECT cnt.gram, cnt.n_occurrences, tot.n_grams
FROM cnt CROSS JOIN tot
WHERE cnt.n_occurrences * 65 > tot.n_grams
"""



def q_cms_estimate_check(spark, sf_dir):
    """r06: Count-Min sketch point estimates for the deterministic hot
    set (same skewed injection as heavy_hitters_sketch) — counters are
    pure integer bucket sums with portable md5-prefix hashes, so the
    oracle replays the EXACT estimates; width=256 forces real
    collisions (est > exact) so bucket-sum math is actually checked."""
    from temporal_vector_database_spark.operators.textindex import (
        cms_estimate_check,
    )

    docs = _documents(spark, sf_dir)
    skewed = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.expr("repeat(' hot gram', 40)")),
        ).otherwise(F.col("text")),
    )
    return cms_estimate_check(skewed, k_track=64, n=2, depth=4, width=256)


_CMS_B = (
    "("
    + " + ".join(
        f"(instr('0123456789abcdef', substring(hh, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + ")"
)

ORACLES["cms_estimate_check"] = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(
           CASE WHEN doc_id % 5 = 0 THEN text || repeat(' hot gram', 40)
                ELSE text END, ' '), x -> x <> '') AS w
  FROM documents
),
ng AS (
  SELECT array_to_string(w[i:i+1], ' ') AS gram
  FROM w, unnest(range(1, greatest(len(w), 1))) AS t(i)
),
exact AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences FROM ng GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_grams FROM ng),
hashed AS (
  SELECT gram, n_occurrences, r,
         substring(md5(CAST(r AS VARCHAR) || '|' || gram), 1, 8) AS hh
  FROM exact, unnest([0, 1, 2, 3]) AS t(r)
),
cnt AS (
  SELECT r, CAST({_CMS_B} AS BIGINT) % 256 AS b,
         CAST(sum(n_occurrences) AS BIGINT) AS c
  FROM hashed GROUP BY 1, 2
),
hot AS (
  SELECT gram, n_occurrences, n_grams
  FROM exact CROSS JOIN tot WHERE n_occurrences * 65 > n_grams
),
probes AS (
  SELECT gram, n_occurrences, n_grams, r,
         CAST({_CMS_B.replace("hh", "ph")} AS BIGINT) % 256 AS b
  FROM (
    SELECT gram, n_occurrences, n_grams, r,
           substring(md5(CAST(r AS VARCHAR) || '|' || gram), 1, 8) AS ph
    FROM hot, unnest([0, 1, 2, 3]) AS t(r)
  )
)
SELECT p.gram, p.n_occurrences, CAST(min(c.c) AS BIGINT) AS cms_est, p.n_grams
FROM probes p JOIN cnt c ON p.r = c.r AND p.b = c.b
GROUP BY p.gram, p.n_occurrences, p.n_grams
"""


def q_zipf_fit(spark, sf_dir):
    """r06: Zipf power-law fit over the corpus unigram head — exact
    fixed-point-log2 rank/freq pairs, exact BIGINT moments, slope and
    intercept each composed of IEEE-correctly-rounded ops on exact
    integers (the series_trend discipline, so the doubles hash-match)."""
    from temporal_vector_database_spark.operators.textindex import zipf_fit

    docs = _documents(spark, sf_dir)
    return zipf_fit(docs, top_k=1000)


ORACLES["zipf_fit"] = (
    _WORDS_CTE
    + """
, tok AS (SELECT unnest(w) AS word FROM w),
cnt AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(c) AS BIGINT) AS n_tokens FROM cnt),
top AS (
  SELECT word, c,
         CAST(row_number() OVER (ORDER BY c DESC, word) AS BIGINT) AS rank
  FROM cnt ORDER BY c DESC, word LIMIT 1000
),
xy AS (SELECT CAST({L2RANK} AS BIGINT) AS x, CAST({L2C} AS BIGINT) AS y FROM top),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy
),
m2 AS (
  SELECT n, sx, sy,
         CAST(n * sxy - sx * sy AS BIGINT) AS num,
         CAST(n * sxx - sx * sx AS BIGINT) AS den
  FROM m
),
sl AS (
  SELECT n, sx, sy,
         CASE WHEN den <> 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
              ELSE NULL END AS zipf_slope
  FROM m2
)
SELECT tot.n_types, tot.n_tokens, sl.n AS k_fit, sl.zipf_slope,
       (CAST(sl.sy AS DOUBLE) - sl.zipf_slope * CAST(sl.sx AS DOUBLE))
         / CAST(sl.n * 65536 AS DOUBLE) AS zipf_intercept_bits
FROM tot CROSS JOIN sl
"""
)
from temporal_vector_database_spark.operators.dsir import (  # noqa: E402
    fixed_log2_duckdb_sql as _fl2,
)

ORACLES["zipf_fit"] = (
    ORACLES["zipf_fit"].replace("{L2RANK}", _fl2("rank")).replace("{L2C}", _fl2("c"))
)


def q_table_checksum(spark, sf_dir):
    """r06: order-invariant per-source table fingerprint (the
    pt-table-checksum primitive for migration/replica verification):
    exact row count + two XOR fingerprints over per-row md5 digests of
    the unambiguously-encoded key+payload columns — identical under any
    partitioning, overflow-free at any row count."""
    from temporal_vector_database_spark.operators.relational import table_checksum

    docs = _documents(spark, sf_dir)
    return table_checksum(
        docs,
        key_cols=("doc_id",),
        compare_cols=("text", "lang", "n_chars"),
        group_cols=("source",),
    )


def _hex2int(col: str, start: int) -> str:
    return (
        "("
        + " + ".join(
            f"(instr('0123456789abcdef', substring({col}, {start + i}, 1)) - 1)"
            f" * {16 ** (7 - i)}"
            for i in range(8)
        )
        + ")"
    )


ORACLES["table_checksum"] = f"""
WITH enc AS (
  SELECT source,
         md5(
           CASE WHEN doc_id IS NULL THEN 'N|'
                ELSE 'V' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR)
                     || ':' || CAST(doc_id AS VARCHAR) || '|' END ||
           CASE WHEN text IS NULL THEN 'N|'
                ELSE 'V' || CAST(length(text) AS VARCHAR) || ':' || text || '|' END ||
           CASE WHEN lang IS NULL THEN 'N|'
                ELSE 'V' || CAST(length(lang) AS VARCHAR) || ':' || lang || '|' END ||
           CASE WHEN n_chars IS NULL THEN 'N|'
                ELSE 'V' || CAST(length(CAST(n_chars AS VARCHAR)) AS VARCHAR)
                     || ':' || CAST(n_chars AS VARCHAR) || '|' END
         ) AS dig
  FROM documents
),
h AS (
  SELECT source,
         CAST({_hex2int("dig", 1)} AS BIGINT) AS hi,
         CAST({_hex2int("dig", 9)} AS BIGINT) AS lo
  FROM enc
)
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(hi) AS BIGINT) AS xor_hi,
       CAST(bit_xor(lo) AS BIGINT) AS xor_lo
FROM h GROUP BY source
"""


def q_dataset_drift(spark, sf_dir):
    """Per-source drift between the same two synthetic dataset versions
    as dataset_diff: exact doc/token/char counts per side + deltas."""
    from temporal_vector_database_spark.operators.relational import dataset_drift

    docs = _documents(spark, sf_dir)
    v1 = docs.where(F.col("doc_id") % 89 != 0)
    v2 = docs.where(F.col("doc_id") % 97 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.upper(F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    return dataset_drift(v1, v2)


ORACLES["dataset_drift"] = """
WITH v1 AS (SELECT * FROM documents WHERE doc_id % 89 <> 0),
v2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text
  FROM documents WHERE doc_id % 97 <> 0
),
a AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS v1_docs,
         CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
           AS v1_tokens,
         CAST(sum(length(text)) AS BIGINT) AS v1_chars
  FROM v1 GROUP BY 1
),
b AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS v2_docs,
         CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
           AS v2_tokens,
         CAST(sum(length(text)) AS BIGINT) AS v2_chars
  FROM v2 GROUP BY 1
)
SELECT coalesce(a.source, b.source) AS source,
       CAST(coalesce(v1_docs, 0) AS BIGINT) AS v1_docs,
       CAST(coalesce(v2_docs, 0) AS BIGINT) AS v2_docs,
       CAST(coalesce(v1_tokens, 0) AS BIGINT) AS v1_tokens,
       CAST(coalesce(v2_tokens, 0) AS BIGINT) AS v2_tokens,
       CAST(coalesce(v1_chars, 0) AS BIGINT) AS v1_chars,
       CAST(coalesce(v2_chars, 0) AS BIGINT) AS v2_chars,
       CAST(coalesce(v2_docs, 0) - coalesce(v1_docs, 0) AS BIGINT) AS delta_docs,
       CAST(coalesce(v2_tokens, 0) - coalesce(v1_tokens, 0) AS BIGINT)
         AS delta_tokens
FROM a FULL OUTER JOIN b ON a.source = b.source
"""



def q_jaccard_exact_join(spark, sf_dir):
    """r06: EXACT-recall Jaccard self-join (PPJoin prefix filtering) at
    t=1/2 over width-7 shingle sets — the recall-complete dedup tier
    beside the banding-recall LSH path. Corpus = the doc_id % 10 == 0
    subset plus lightly-edited copies (first 20 chars dropped, ids
    offset by 10^6) of ALL doc_id % 25 == 0 docs — the oracle's corpus;
    copies of the odd multiples of 25 have no source in the subset and
    match only genuine near-dups of other docs (one pair at sf0.1) — so
    the exact join must find every (original, copy) pair — banding
    could miss borderline ones; prefix filtering provably cannot.

    Why a subset: this fixture's ~30-word vocabulary yields only ~5.8k
    distinct width-7 shingles, so every doc's 'rarest' prefix tokens
    still post ~114 docs and candidates go quadratic (10.3M pairs
    full-corpus at sf0.1 — measured) — adversarial for ANY exact-recall
    token join, whose floor is the corpus's true similarity structure.
    On natural text rare shingles are actually rare and the prefix
    lists are short; the subset keeps the gate honest and bounded."""
    from temporal_vector_database_spark.operators.dedup import jaccard_prefix_join

    all_docs = _documents(spark, sf_dir)
    docs = all_docs.where(F.col("doc_id") % 10 == 0)
    leaks = all_docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.expr("substring(text, 21)").alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(leaks)
    return jaccard_prefix_join(both, width=7, min_jaccard_num=1, min_jaccard_den=2)


ORACLES["jaccard_exact_join"] = """
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, substring(text, 21) AS text
  FROM documents WHERE doc_id % 25 = 0
),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 6, 1) + 1),
                               i -> substring(text, i, 7))) AS g
  FROM base
),
tok AS (SELECT DISTINCT doc_id AS _id, {SHH} AS tok FROM sh),
nn AS (SELECT _id, CAST(count(*) AS BIGINT) AS n_sh FROM tok GROUP BY 1),
freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY 1),
rk AS (
  SELECT t._id, t.tok,
         row_number() OVER (PARTITION BY t._id ORDER BY f.df, t.tok) AS rn,
         nn.n_sh
  FROM tok t JOIN freq f ON t.tok = f.tok JOIN nn ON t._id = nn._id
),
prefix AS (
  SELECT tok, _id FROM rk
  WHERE rn <= n_sh - ((1 * n_sh + 2 - 1) // 2) + 1
),
cand AS (
  SELECT DISTINCT pa._id AS a_id, pb._id AS b_id
  FROM prefix pa JOIN prefix pb ON pa.tok = pb.tok AND pa._id < pb._id
),
inter AS (
  SELECT c.a_id, c.b_id, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN tok ta ON ta._id = c.a_id
  JOIN tok tb ON tb._id = c.b_id AND tb.tok = ta.tok
  GROUP BY 1, 2
)
SELECT c.a_id, c.b_id,
       CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       na.n_sh AS n_a, nb.n_sh AS n_b,
       CAST(coalesce(i.n_inter, 0) AS DOUBLE)
         / CAST(na.n_sh + nb.n_sh - coalesce(i.n_inter, 0) AS DOUBLE) AS jaccard
FROM cand c
LEFT JOIN inter i ON c.a_id = i.a_id AND c.b_id = i.b_id
JOIN nn na ON na._id = c.a_id
JOIN nn nb ON nb._id = c.b_id
WHERE coalesce(i.n_inter, 0) * 2 >= 1 * (na.n_sh + nb.n_sh - coalesce(i.n_inter, 0))
"""
ORACLES["jaccard_exact_join"] = ORACLES["jaccard_exact_join"].replace(
    "{SHH}", _token_hash32_expr("g")
)


def q_fuzzy_decontaminate(spark, sf_dir):
    """Fuzzy lexical decontamination: corpus docs that near-duplicate
    any eval/benchmark doc at exact-shingle jaccard >= 0.5, via
    cross-corpus MinHash-LSH (eval side broadcast).

    r06 retune — two changes from the r05 gate, both for gate QUALITY:
    (1) width=7 shingles: 3-char shingles made virtually every doc a
    banding candidate on this vocabulary (measured 4,780/4,800 corpus
    docs at sf0.1), so the candidate prune pruned nothing and the
    verify cost was the whole corpus; at 7-char grain candidates ≈
    actual near-dups. (2) the eval side is a simulated LEAK — lightly
    edited copies (first 20 chars dropped) of the doc_id % 25 == 0
    docs — because the fixture corpus has no genuine wide-grain
    near-dup structure (exactly 1 pair at any width >= 4): the gate now
    verifies the operator catches every edited leak (one row per
    leaked source doc) instead of matching a near-empty result."""
    from temporal_vector_database_spark.operators.dedup import (
        cross_corpus_near_dup,
    )

    docs = _documents(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 25 == 0).select(
        "doc_id", F.expr("substring(text, 21)").alias("text")
    )
    return cross_corpus_near_dup(docs, ev, width=7, min_jaccard=0.5)


# two-sided width-7 oracle for q_fuzzy_decontaminate: corpus = all docs,
# eval = first-20-chars-dropped copies of the doc_id % 25 == 0 docs (the
# simulated benchmark leak — see the query docstring)
ORACLES["fuzzy_decontaminate"] = """
WITH ev AS (
  SELECT doc_id, substring(text, 21) AS text FROM documents WHERE doc_id % 25 = 0
),
shc AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 6, 1) + 1),
                               i -> substring(text, i, 7))) AS sh
  FROM documents
),
she AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 6, 1) + 1),
                               i -> substring(text, i, 7))) AS sh
  FROM ev
),
sigc AS (
  SELECT doc_id,
         min(substring(md5(sh), 1, 4)) AS mh_0, min(substring(md5(sh), 5, 4)) AS mh_1,
         min(substring(md5(sh), 9, 4)) AS mh_2, min(substring(md5(sh), 13, 4)) AS mh_3,
         min(substring(md5(sh), 17, 4)) AS mh_4, min(substring(md5(sh), 21, 4)) AS mh_5,
         min(substring(md5(sh), 25, 4)) AS mh_6, min(substring(md5(sh), 29, 4)) AS mh_7
  FROM shc GROUP BY doc_id
),
sige AS (
  SELECT doc_id,
         min(substring(md5(sh), 1, 4)) AS mh_0, min(substring(md5(sh), 5, 4)) AS mh_1,
         min(substring(md5(sh), 9, 4)) AS mh_2, min(substring(md5(sh), 13, 4)) AS mh_3,
         min(substring(md5(sh), 17, 4)) AS mh_4, min(substring(md5(sh), 21, 4)) AS mh_5,
         min(substring(md5(sh), 25, 4)) AS mh_6, min(substring(md5(sh), 29, 4)) AS mh_7
  FROM she GROUP BY doc_id
),
bucketc AS (
  SELECT doc_id, unnest([0, 1, 2, 3]) AS band_id,
         unnest([md5(mh_0 || '|' || mh_1), md5(mh_2 || '|' || mh_3),
                 md5(mh_4 || '|' || mh_5), md5(mh_6 || '|' || mh_7)]) AS band_hash
  FROM sigc
),
buckete AS (
  SELECT doc_id, unnest([0, 1, 2, 3]) AS band_id,
         unnest([md5(mh_0 || '|' || mh_1), md5(mh_2 || '|' || mh_3),
                 md5(mh_4 || '|' || mh_5), md5(mh_6 || '|' || mh_7)]) AS band_hash
  FROM sige
),
pairs AS (
  SELECT DISTINCT c.doc_id AS c_id, e.doc_id AS e_id
  FROM bucketc c JOIN buckete e
    ON c.band_id = e.band_id AND c.band_hash = e.band_hash
),
shdc AS (SELECT DISTINCT doc_id, {SHH} AS shh FROM shc),
shde AS (SELECT DISTINCT doc_id, {SHH} AS shh FROM she),
sizec AS (SELECT doc_id, CAST(count(DISTINCT shh) AS BIGINT) AS n_sh FROM shdc GROUP BY 1),
sizee AS (SELECT doc_id, CAST(count(DISTINCT shh) AS BIGINT) AS n_sh FROM shde GROUP BY 1),
inter AS (
  SELECT p.c_id, p.e_id, CAST(count(DISTINCT a.shh) AS BIGINT) AS n_inter
  FROM pairs p
  JOIN shdc a ON a.doc_id = p.c_id
  JOIN shde b ON b.doc_id = p.e_id AND b.shh = a.shh
  GROUP BY 1, 2
),
scored AS (
  SELECT p.c_id, p.e_id, COALESCE(i.n_inter, 0) AS n_inter,
         CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
           / CAST(sc.n_sh + se.n_sh - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard
  FROM pairs p
  LEFT JOIN inter i ON p.c_id = i.c_id AND p.e_id = i.e_id
  JOIN sizec sc ON sc.doc_id = p.c_id
  JOIN sizee se ON se.doc_id = p.e_id
),
best AS (
  SELECT c_id, e_id, n_inter, jaccard,
         row_number() OVER (PARTITION BY c_id ORDER BY jaccard DESC, e_id) AS rn
  FROM scored WHERE jaccard >= 0.5
)
SELECT c_id AS doc_id, e_id AS eval_doc_id, n_inter, jaccard
FROM best WHERE rn = 1
"""
ORACLES["fuzzy_decontaminate"] = ORACLES["fuzzy_decontaminate"].replace(
    "{SHH}", _token_hash32_expr("sh")
)


def q_cross_corpus_near_dup_exact(spark, sf_dir):
    """r08 (VERDICT r07 #5): EXACT-RECALL cross-corpus near-dup — the
    ``band_on='small'`` prefix tier generalized to the asymmetric
    corpus-vs-eval decontamination shape. Same fixture as
    ``fuzzy_decontaminate`` (eval = first-20-chars-dropped copies of
    the doc_id % 25 == 0 docs, width-7 shingles, J >= 0.5), but the
    ORACLE is the banding-free brute-force all-pairs Jaccard — so a
    green row IS a recall proof: any qualifying pair the prefix tier
    missed would be an extra oracle row. The global prefix order is
    eval-side df (computable from the broadcast side alone; corpus-
    absent tokens counted, never ranked — the ranking exchange carries
    only corpus tokens present in the eval domain)."""
    from temporal_vector_database_spark.operators.dedup import (
        cross_corpus_jaccard_exact,
    )

    docs = _documents(spark, sf_dir)
    ev = docs.where(F.col("doc_id") % 25 == 0).select(
        "doc_id", F.expr("substring(text, 21)").alias("text")
    )
    return cross_corpus_jaccard_exact(docs, ev, width=7, min_jaccard=0.5)


# brute-force all-pairs oracle (NO banding/prefix on the oracle side —
# the recall proof). t = 1/2: J >= t  ⟺  3·I >= n_c + n_e (exact ints).
ORACLES["cross_corpus_near_dup_exact"] = """
WITH ev AS (
  SELECT doc_id, substring(text, 21) AS text FROM documents WHERE doc_id % 25 = 0
),
shdc AS (
  SELECT DISTINCT doc_id, {SHH} AS shh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(length(text) - 6, 1) + 1),
                                 i -> substring(text, i, 7))) AS sh
    FROM documents)
),
shde AS (
  SELECT DISTINCT doc_id, {SHH} AS shh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(length(text) - 6, 1) + 1),
                                 i -> substring(text, i, 7))) AS sh
    FROM ev)
),
sizec AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_c FROM shdc GROUP BY 1),
sizee AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_e FROM shde GROUP BY 1),
inter AS (
  SELECT a.doc_id AS c_id, b.doc_id AS e_id, CAST(count(*) AS BIGINT) AS n_inter
  FROM shdc a JOIN shde b ON a.shh = b.shh
  GROUP BY 1, 2
),
scored AS (
  SELECT i.c_id, i.e_id, i.n_inter,
         CAST(i.n_inter AS DOUBLE)
           / CAST(sc.n_c + se.n_e - i.n_inter AS DOUBLE) AS jaccard
  FROM inter i
  JOIN sizec sc ON sc.doc_id = i.c_id
  JOIN sizee se ON se.doc_id = i.e_id
  WHERE 3 * i.n_inter >= sc.n_c + se.n_e
),
best AS (
  SELECT c_id, e_id, n_inter, jaccard,
         row_number() OVER (PARTITION BY c_id ORDER BY jaccard DESC, e_id) AS rn
  FROM scored
)
SELECT c_id AS doc_id, e_id AS eval_doc_id, n_inter, jaccard
FROM best WHERE rn = 1
"""
ORACLES["cross_corpus_near_dup_exact"] = ORACLES[
    "cross_corpus_near_dup_exact"
].replace("{SHH}", _token_hash32_expr("sh"))



def q_ngram_containment_short(spark, sf_dir):
    """Ground-truth containment twin: ALL pairs over the doc_id%20==0
    subset (banding-free — quantifies exactly what the LSH candidates
    can miss), exact hashed-shingle sets, same metric columns."""
    from temporal_vector_database_spark.operators.dedup import (
        _shingles,
        _token_hash32_expr,
    )

    docs = _documents(spark, sf_dir).where(
        F.col("doc_id") % 20 == 0
    )
    shsets = (
        _shingles(docs, "text", 3)
        .distinct()
        .withColumn("shh", F.expr(_token_hash32_expr("sh")).cast("long"))
        .groupBy("doc_id")
        .agg(F.collect_set("shh").alias("shset"))
        .select("doc_id", "shset", F.size("shset").cast("long").alias("n_sh"))
    )
    a = shsets.select(
        F.col("doc_id").alias("a_id"), F.col("shset").alias("a_set"),
        F.col("n_sh").alias("n_a"),
    )
    b = shsets.select(
        F.col("doc_id").alias("b_id"), F.col("shset").alias("b_set"),
        F.col("n_sh").alias("n_b"),
    )
    out = (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .withColumn("n_inter", F.size(F.array_intersect("a_set", "b_set")).cast("long"))
        .withColumn(
            "containment_a",
            F.col("n_inter").cast("double") / F.col("n_a").cast("double"),
        )
        .withColumn(
            "containment_b",
            F.col("n_inter").cast("double") / F.col("n_b").cast("double"),
        )
    )
    return out.where(
        (F.col("containment_a") >= 0.5) | (F.col("containment_b") >= 0.5)
    ).select("a_id", "b_id", "n_inter", "n_a", "n_b",
             "containment_a", "containment_b")


ORACLES["ngram_containment_short"] = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
                               i -> substring(text, i, 3))) AS sh
  FROM d
),
shd AS (SELECT DISTINCT doc_id, {SHH} AS shh FROM sh),
sizes AS (SELECT doc_id, CAST(count(DISTINCT shh) AS BIGINT) AS n_sh FROM shd GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sizes a JOIN sizes b ON a.doc_id < b.doc_id
),
inter AS (
  SELECT p.a_id, p.b_id, CAST(count(DISTINCT a.shh) AS BIGINT) AS n_inter
  FROM pairs p
  JOIN shd a ON a.doc_id = p.a_id
  JOIN shd b ON b.doc_id = p.b_id AND b.shh = a.shh
  GROUP BY 1, 2
),
scored AS (
  SELECT p.a_id, p.b_id, COALESCE(i.n_inter, 0) AS n_inter,
         sa.n_sh AS n_a, sb.n_sh AS n_b
  FROM pairs p
  LEFT JOIN inter i ON p.a_id = i.a_id AND p.b_id = i.b_id
  JOIN sizes sa ON sa.doc_id = p.a_id
  JOIN sizes sb ON sb.doc_id = p.b_id
)
SELECT a_id, b_id, n_inter, n_a, n_b,
       CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment_a,
       CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS containment_b
FROM scored
WHERE CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) >= 0.5
   OR CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) >= 0.5
"""
from temporal_vector_database_spark.operators.dedup import _token_hash32_expr as _th
ORACLES["ngram_containment_short"] = ORACLES["ngram_containment_short"].replace(
    "{SHH}", _th("sh")
)


def q_ngram_containment_small(spark, sf_dir):
    """r07: EXACT-RECALL containment at extreme asymmetry —
    ``band_on="small"`` (rare-first prefix postings, the containment
    analogue of the PPJoin tier; see ``ngram_containment_pairs``).
    The fixture injects the exact failure mode of symmetric MinHash
    banding: a TINY doc (words 5..12 of a long source) fully embedded
    in its HUGE source — containment_a = ~1.0, Jaccard tiny, and the
    source's signature is dominated by non-tiny shingles so no band
    collides (tests/test_dedup_text_search.py pins that the symmetric
    tier misses these pairs while this tier finds every one). The
    ORACLE is brute-force ALL-PAIRS over the same corpus — it matches
    only because the prefix plan is recall-complete, making exact
    recall itself the driver-gated property."""
    from temporal_vector_database_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    base = docs.where(F.col("doc_id") % 10 == 0)
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    tiny = docs.where((F.col("doc_id") % 50 == 0) & (F.size(words) >= 20)).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(words, 5, 8)).alias("text"),
    )
    corpus = base.unionByName(tiny)
    return ngram_containment_pairs(
        corpus, width=7, min_containment=0.6, band_on="small"
    )


# brute-force all-pairs truth (no candidate tier at all): hash the same
# width-7 shingles, integer verify n_inter*5 >= 3*least(n_a, n_b) —
# exactly the Spark plan's Fraction('0.6') = 3/5 gate. Equality with
# the prefix-postings plan IS the exact-recall proof.
ORACLES["ngram_containment_small"] = """
WITH d0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
tiny AS (
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(list_slice(list_filter(string_split(text, ' '),
                                                x -> x <> ''), 5, 12), ' ') AS text
  FROM documents
  WHERE doc_id % 50 = 0
    AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 20
),
d AS (SELECT * FROM d0 UNION ALL SELECT * FROM tiny),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 6, 1) + 1),
                               i -> substring(text, i, 7))) AS sh
  FROM d
),
shd AS (SELECT DISTINCT doc_id, {SHH} AS shh FROM sh),
sizes AS (SELECT doc_id, CAST(count(DISTINCT shh) AS BIGINT) AS n_sh FROM shd GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sizes a JOIN sizes b ON a.doc_id < b.doc_id
),
inter AS (
  SELECT p.a_id, p.b_id, CAST(count(DISTINCT a.shh) AS BIGINT) AS n_inter
  FROM pairs p
  JOIN shd a ON a.doc_id = p.a_id
  JOIN shd b ON b.doc_id = p.b_id AND b.shh = a.shh
  GROUP BY 1, 2
),
scored AS (
  SELECT p.a_id, p.b_id, COALESCE(i.n_inter, 0) AS n_inter,
         sa.n_sh AS n_a, sb.n_sh AS n_b
  FROM pairs p
  LEFT JOIN inter i ON p.a_id = i.a_id AND p.b_id = i.b_id
  JOIN sizes sa ON sa.doc_id = p.a_id
  JOIN sizes sb ON sb.doc_id = p.b_id
)
SELECT a_id, b_id, n_inter, n_a, n_b,
       CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment_a,
       CAST(n_inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS containment_b
FROM scored
WHERE n_inter * 5 >= 3 * least(n_a, n_b)
"""
ORACLES["ngram_containment_small"] = ORACLES["ngram_containment_small"].replace(
    "{SHH}", _th("sh")
)


def q_decontaminate_containment(spark, sf_dir):
    """r07: EXACT-RECALL asymmetric decontamination
    (``containment_decontaminate`` — the cross-corpus generalization of
    the small-side prefix tier): eval snippets (words 5..12 of source
    docs) hunted INSIDE long corpus docs at containment >= 0.8 — the
    quote-inclusion contamination mode resemblance-tuned LSH
    (``fuzzy_decontaminate``) structurally misses. Half the eval set's
    sources are in the corpus (contaminated), half are not (clean
    negatives). The ORACLE is brute-force eval x corpus — equality is
    the exact-recall proof."""
    from temporal_vector_database_spark.operators.dedup import (
        containment_decontaminate,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    corpus = docs.where(F.col("doc_id") % 10 == 0)
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")

    def snip(m):
        return docs.where(
            (F.col("doc_id") % 50 == m) & (F.size(words) >= 20)
        ).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat_ws(" ", F.slice(words, 5, 8)).alias("text"),
        )

    eval_docs = snip(0).unionByName(snip(5))
    return containment_decontaminate(
        corpus, eval_docs, width=7, min_containment=0.8
    )


# brute-force eval x corpus truth; integer gate n_inter*5 >= 4*n_e is
# the Spark plan's Fraction('0.8') = 4/5; best match per corpus doc by
# (containment desc, eval id asc) mirrors the operator's window
ORACLES["decontaminate_containment"] = """
WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
ev AS (
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(list_slice(list_filter(string_split(text, ' '),
                                                x -> x <> ''), 5, 12), ' ') AS text
  FROM documents
  WHERE (doc_id % 50 = 0 OR doc_id % 50 = 5)
    AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 20
),
csh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 6, 1) + 1),
                               i -> substring(text, i, 7))) AS sh
  FROM c
),
esh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 6, 1) + 1),
                               i -> substring(text, i, 7))) AS sh
  FROM ev
),
cshd AS (SELECT DISTINCT doc_id, {SHH} AS shh FROM csh),
eshd AS (SELECT DISTINCT doc_id, {SHH} AS shh FROM esh),
esz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_e FROM eshd GROUP BY 1),
inter AS (
  SELECT e.doc_id AS e_id, cd.doc_id AS c_id, CAST(count(*) AS BIGINT) AS n_inter
  FROM eshd e JOIN cshd cd ON e.shh = cd.shh
  GROUP BY 1, 2
),
scored AS (
  SELECT i.c_id, i.e_id, i.n_inter, s.n_e,
         CAST(i.n_inter AS DOUBLE) / CAST(s.n_e AS DOUBLE) AS containment
  FROM inter i JOIN esz s ON i.e_id = s.doc_id
  WHERE i.n_inter * 5 >= 4 * s.n_e
),
best AS (
  SELECT c_id, e_id, n_inter, n_e, containment,
         row_number() OVER (PARTITION BY c_id
                            ORDER BY containment DESC, e_id ASC) AS rn
  FROM scored
)
SELECT c_id AS doc_id, e_id AS eval_doc_id, n_inter, n_e AS n_eval, containment
FROM best WHERE rn = 1
"""
ORACLES["decontaminate_containment"] = ORACLES["decontaminate_containment"].replace(
    "{SHH}", _th("sh")
)


def q_bpe_train(spark, sf_dir):
    """r07: BPE merge-rule TRAINING (Sennrich et al. 2016) over the
    corpus — 8 rounds of globally-most-frequent adjacent pair merging
    on the distinct-word training state (vocabulary-bounded, never
    corpus positions). The oracle replays every round RELATIONALLY
    (lateral-unnest pair counts → deterministic argmax →
    gaps-and-islands parity merge — the kcore unrolled-CTE precedent),
    value-gating the operator's Python greedy apply against an
    independent windowed-SQL formulation of the same semantics."""
    from temporal_vector_database_spark.operators.tokenize import bpe_train

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    return bpe_train(docs, n_merges=8)


def _bpe_oracle_sql(n_merges: int, materialize_w: bool = False) -> str:
    """Unrolled per-round CTE chain: w{r} is the (word, count, tokens)
    state entering round r; p{r}/b{r} the pair counts + argmax (count
    desc, pair lexicographic asc); x..z{r} the greedy non-overlapping
    merge via the run-parity rule (overlapping occurrences only arise
    in same-token runs; greedy keeps offsets 0, 2, 4, … of each maximal
    run of consecutive matches — a gaps-and-islands window).

    ``materialize_w``: each w{r} is referenced TWICE (p{r} and x{r}), so
    without MATERIALIZED DuckDB re-inlines the chain — 2^n_merges plan
    blow-up. Tolerable at 8 rounds; REQUIRED at 64 (the
    bpe_train_incremental gate; the mmr_rerank lesson again)."""
    mat = " MATERIALIZED" if materialize_w else ""
    parts = [
        f"""WITH w1 AS{mat} (
  SELECT word, CAST(count(*) AS BIGINT) AS c,
         list_transform(generate_series(1, length(word)),
                        i -> substr(word, CAST(i AS INTEGER), 1)) AS toks
  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        FROM documents)
  GROUP BY word
)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f""",
p{r} AS (
  SELECT toks[i] AS l, toks[i + 1] AS r2, CAST(sum(c) AS BIGINT) AS cnt
  FROM w{r}, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  GROUP BY 1, 2
),
b{r} AS MATERIALIZED (
  SELECT l, r2, cnt FROM p{r} ORDER BY cnt DESC, l ASC, r2 ASC LIMIT 1
),
x{r} AS (
  SELECT word, c, i, toks[i] AS tok,
         CASE WHEN i < len(toks)
                   AND toks[i] = (SELECT l FROM b{r})
                   AND toks[i + 1] = (SELECT r2 FROM b{r}) THEN 1 ELSE 0 END AS m
  FROM w{r}, unnest(generate_series(1, len(toks))) AS u(i)
),
g{r} AS (
  SELECT *, i - row_number() OVER (PARTITION BY word, m ORDER BY i) AS grp FROM x{r}
),
y{r} AS (
  SELECT word, c, i, tok,
         CASE WHEN m = 1
                   AND (i - min(i) OVER (PARTITION BY word, m, grp)) % 2 = 0
              THEN 1 ELSE 0 END AS kept
  FROM g{r}
),
z{r} AS (
  SELECT word, c, i, kept,
         CASE WHEN kept = 1
              THEN tok || lead(tok) OVER (PARTITION BY word ORDER BY i)
              ELSE tok END AS tok2,
         COALESCE(lag(kept) OVER (PARTITION BY word ORDER BY i), 0) AS prev_kept
  FROM y{r}
),
w{r + 1} AS{mat} (
  SELECT word, c, list(tok2 ORDER BY i) AS toks
  FROM z{r} WHERE prev_kept = 0
  GROUP BY word, c
)"""
        )
    sel = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_rank, l AS left_tok,"
        f" r2 AS right_tok, l || r2 AS merged, cnt AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    parts.append("\n" + sel)
    return "".join(parts)


ORACLES["bpe_train"] = _bpe_oracle_sql(8)


def q_bpe_train_incremental(spark, sf_dir):
    """r08: BPE training with INCREMENTAL pair-count maintenance at a
    production-shaped merge count (n_merges=64 — VERDICT r07: the naive
    per-round full pair re-aggregate hides a cliff at real tokenizer
    merge counts). Per round only the words CONTAINING the merged pair
    re-count (exact integer deltas into the maintained pair table, a
    narrow adjacency-filter scan — no corpus-wide aggregate after round
    0); learned merges are identical to the naive fold's (equality
    pinned in tests at 64 merges, measured 2.6× cheaper per merge at
    sf0.1). Oracle: the same unrolled relational replay, 64 rounds with
    MATERIALIZED w-state (DuckDB re-inlines the doubly-referenced chain
    otherwise — 2^64 plan blow-up, the mmr_rerank lesson)."""
    from temporal_vector_database_spark.operators.tokenize import (
        bpe_train_incremental,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    return bpe_train_incremental(docs, n_merges=64)


ORACLES["bpe_train_incremental"] = _bpe_oracle_sql(64, materialize_w=True)


def q_bpe_train_batched(spark, sf_dir):
    """r09 (VERDICT r08 #4): BPE training committing B merges per Spark
    round — the job-launch rung above the sequential incremental fold
    (32k merges at B=64 is 500 scheduler round-trips instead of 32k).
    Each round takes the top-B SYMBOL-DISJOINT pairs of the counts
    entering the round (disjointness over {left, right, left+right}
    makes the round's rewrites provably commute — one Arrow pass
    applies all B). The oracle replays the BATCH semantics relationally:
    per round, B sequential argmax picks each constrained disjoint from
    the round's earlier picks (NOT EXISTS over the pick rows), then B
    chained parity merges; batch_size=1 equality with the sequential
    fold is pytest-pinned (tests/test_tokenize.py)."""
    from temporal_vector_database_spark.operators.tokenize import (
        bpe_train_batched,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    return bpe_train_batched(docs, n_merges=32, batch_size=4, max_rounds=8)


def _bpe_batched_oracle_sql(n_rounds: int, batch: int) -> str:
    """Unrolled relational replay of the BATCH-greedy semantics: per
    round r, p{r} = pair counts of the ENTERING state w{r}; picks
    bb{r}_{k} are sequential constrained argmaxes (greedy top-B
    disjoint = iterated argmax with a NOT-EXISTS symbol-disjointness
    filter against the round's earlier picks; an empty earlier pick
    conflicts with nothing); the round's merges then chain
    v{r}_{k} = apply(v{r}_{k-1}, bb{r}_{k}) — order within the chain is
    immaterial by the disjointness theorem, the chain just picks one.
    An empty pick's scalar subqueries go NULL so its apply step is a
    no-op, and it contributes no output row; merge_rank is a
    row_number over (round, k), dense exactly like the operator's
    commit counter. All w/v states MATERIALIZED (each is referenced
    twice — the mmr_rerank/bpe_train_incremental re-inline lesson)."""
    parts = [
        """WITH w1 AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS c,
         list_transform(generate_series(1, length(word)),
                        i -> substr(word, CAST(i AS INTEGER), 1)) AS toks
  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        FROM documents)
  GROUP BY word
)"""
    ]
    pick_names: list[tuple[int, int, str]] = []
    for r in range(1, n_rounds + 1):
        parts.append(
            f""",
p{r} AS MATERIALIZED (
  SELECT toks[i] AS l, toks[i + 1] AS r2, CAST(sum(c) AS BIGINT) AS cnt
  FROM w{r}, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  GROUP BY 1, 2
)"""
        )
        state = f"w{r}"
        for k in range(1, batch + 1):
            bb = f"bb{r}_{k}"
            disj = "".join(
                f"""
    AND NOT EXISTS (SELECT 1 FROM bb{r}_{j} bj
        WHERE p.l IN (bj.l, bj.r2, bj.l || bj.r2)
           OR p.r2 IN (bj.l, bj.r2, bj.l || bj.r2)
           OR (p.l || p.r2) IN (bj.l, bj.r2, bj.l || bj.r2))"""
                for j in range(1, k)
            )
            parts.append(
                f""",
{bb} AS MATERIALIZED (
  SELECT l, r2, cnt FROM p{r} p
  WHERE TRUE{disj}
  ORDER BY cnt DESC, l ASC, r2 ASC LIMIT 1
)"""
            )
            pick_names.append((r, k, bb))
            tag = f"{r}_{k}"
            out = f"w{r + 1}" if k == batch else f"v{tag}"
            parts.append(
                f""",
x{tag} AS (
  SELECT word, c, i, toks[i] AS tok,
         CASE WHEN i < len(toks)
                   AND toks[i] = (SELECT l FROM {bb})
                   AND toks[i + 1] = (SELECT r2 FROM {bb}) THEN 1 ELSE 0 END AS m
  FROM {state}, unnest(generate_series(1, len(toks))) AS u(i)
),
g{tag} AS (
  SELECT *, i - row_number() OVER (PARTITION BY word, m ORDER BY i) AS grp FROM x{tag}
),
y{tag} AS (
  SELECT word, c, i, tok,
         CASE WHEN m = 1
                   AND (i - min(i) OVER (PARTITION BY word, m, grp)) % 2 = 0
              THEN 1 ELSE 0 END AS kept
  FROM g{tag}
),
z{tag} AS (
  SELECT word, c, i, kept,
         CASE WHEN kept = 1
              THEN tok || lead(tok) OVER (PARTITION BY word ORDER BY i)
              ELSE tok END AS tok2,
         COALESCE(lag(kept) OVER (PARTITION BY word ORDER BY i), 0) AS prev_kept
  FROM y{tag}
),
{out} AS MATERIALIZED (
  SELECT word, c, list(tok2 ORDER BY i) AS toks
  FROM z{tag} WHERE prev_kept = 0
  GROUP BY word, c
)"""
            )
            state = out
    picks_union = "\n  UNION ALL ".join(
        f"SELECT {r} AS rnd, {k} AS k, l, r2, cnt FROM {bb}"
        for r, k, bb in pick_names
    )
    parts.append(
        f""",
picks AS (
  {picks_union}
)
SELECT CAST(row_number() OVER (ORDER BY rnd, k) AS INTEGER) AS merge_rank,
       l AS left_tok, r2 AS right_tok, l || r2 AS merged,
       cnt AS pair_count, CAST(rnd AS INTEGER) AS batch_round
FROM picks"""
    )
    return "".join(parts)


ORACLES["bpe_train_batched"] = _bpe_batched_oracle_sql(8, 4)


def q_bpe_apply(spark, sf_dir):
    """r07: BPE INFERENCE with the merges trained on the same corpus —
    rules applied in rank order with the training's greedy apply, so
    per-word tokenization equals the training fold's final state. The
    oracle replays the full training chain relationally and reads the
    tokenization off the final w9 state (no Python on the oracle side
    at all); md5 fingerprints the token stream per doc."""
    from temporal_vector_database_spark.operators.tokenize import (
        bpe_apply,
        bpe_train,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    return bpe_apply(docs, bpe_train(docs, n_merges=8))


ORACLES["bpe_apply"] = (
    _bpe_oracle_sql(8)[: _bpe_oracle_sql(8).rindex("SELECT CAST(1")]
    + """,
dw AS (
  SELECT doc_id, generate_subscripts(ws, 1) AS widx, unnest(ws) AS w
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents)
),
agg AS (
  SELECT d.doc_id, count(*) AS nw, CAST(sum(len(s.toks)) AS BIGINT) AS nt,
         string_agg(array_to_string(s.toks, ' '), ' ' ORDER BY d.widx) AS alltok
  FROM dw d JOIN w9 s ON d.w = s.word
  GROUP BY d.doc_id
)
SELECT doc.doc_id,
       CAST(coalesce(a.nw, 0) AS INTEGER) AS n_words,
       CAST(coalesce(a.nt, 0) AS INTEGER) AS n_tokens,
       md5(coalesce(a.alltok, '')) AS tokens_md5
FROM documents doc LEFT JOIN agg a ON doc.doc_id = a.doc_id
"""
)


def q_bleu_pairs(spark, sf_dir):
    """r09: pairwise BLEU-2 over adjacent-id candidate pairs (the gate
    pins the SCORING math — candidate generation composes from any
    gated dedup tier): clipped 1/2-gram precisions + brevity penalty,
    published in LOG domain (min(0,1−r/c) + mean ln p — no exp, the
    nll determinism class)."""
    from temporal_vector_database_spark.operators.textindex import (
        bleu_score_pairs,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    ids = docs.select(F.col("doc_id").alias("a_id"))
    pairs = ids.join(
        docs.select((F.col("doc_id") - 1).alias("a_id"), F.col("doc_id").alias("b_id")),
        "a_id",
    )
    return bleu_score_pairs(docs, pairs)


ORACLES["bleu_pairs"] = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM t),
p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM lens a JOIN lens b ON b.doc_id = a.doc_id + 1
),
g1 AS (
  SELECT doc_id, term AS gram, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2
),
g2 AS (
  SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT doc_id, bg[1] || chr(31) || bg[2] AS gram FROM (
      SELECT doc_id, unnest(list_zip(toks[1:greatest(len(toks) - 1, 0)],
                                     toks[2:len(toks)])) AS bg
      FROM t WHERE len(toks) >= 2)
  ) GROUP BY 1, 2
),
pn1 AS (
  SELECT p.a_id, p.b_id,
         CAST(sum(least(bg.cnt, coalesce(ag.cnt, 0))) AS BIGINT) AS num1,
         CAST(sum(bg.cnt) AS BIGINT) AS den1
  FROM p JOIN g1 bg ON bg.doc_id = p.b_id
  LEFT JOIN g1 ag ON ag.doc_id = p.a_id AND ag.gram = bg.gram
  GROUP BY 1, 2
),
pn2 AS (
  SELECT p.a_id, p.b_id,
         CAST(sum(least(bg.cnt, coalesce(ag.cnt, 0))) AS BIGINT) AS num2,
         CAST(sum(bg.cnt) AS BIGINT) AS den2
  FROM p JOIN g2 bg ON bg.doc_id = p.b_id
  LEFT JOIN g2 ag ON ag.doc_id = p.a_id AND ag.gram = bg.gram
  GROUP BY 1, 2
),
j AS MATERIALIZED (
  SELECT p.a_id, p.b_id, an.n AS n_ref_tokens, bn.n AS n_cand_tokens,
         pn1.num1, pn1.den1, pn2.num2, pn2.den2
  FROM p
  JOIN lens an ON p.a_id = an.doc_id
  JOIN lens bn ON p.b_id = bn.doc_id
  LEFT JOIN pn1 ON p.a_id = pn1.a_id AND p.b_id = pn1.b_id
  LEFT JOIN pn2 ON p.a_id = pn2.a_id AND p.b_id = pn2.b_id
)
SELECT a_id, b_id, n_ref_tokens, n_cand_tokens,
       CASE WHEN den1 > 0
            THEN round(CAST(num1 AS DOUBLE) / CAST(den1 AS DOUBLE), 6) END AS p1,
       CASE WHEN den2 > 0
            THEN round(CAST(num2 AS DOUBLE) / CAST(den2 AS DOUBLE), 6) END AS p2,
       CASE WHEN n_cand_tokens > 0
            THEN round(least(0.0, 1.0 - CAST(n_ref_tokens AS DOUBLE)
                                        / CAST(n_cand_tokens AS DOUBLE)), 6)
       END AS log_bp,
       CASE WHEN num1 > 0 AND num2 > 0
            THEN round(least(0.0, 1.0 - CAST(n_ref_tokens AS DOUBLE)
                                        / CAST(n_cand_tokens AS DOUBLE))
                       + (ln(CAST(num1 AS DOUBLE) / CAST(den1 AS DOUBLE))
                        + ln(CAST(num2 AS DOUBLE) / CAST(den2 AS DOUBLE))) / 2.0, 6)
       END AS log_bleu
FROM j
"""


def q_rouge_pairs(spark, sf_dir):
    """r09: pairwise ROUGE-1/2 recall/precision/F1 over the same
    adjacent-id candidate pairs as bleu_pairs — no transcendental at
    all (pure IEEE ratios), the strictest float class in the repo."""
    from temporal_vector_database_spark.operators.textindex import (
        rouge_score_pairs,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    ids = docs.select(F.col("doc_id").alias("a_id"))
    pairs = ids.join(
        docs.select((F.col("doc_id") - 1).alias("a_id"), F.col("doc_id").alias("b_id")),
        "a_id",
    )
    return rouge_score_pairs(docs, pairs)


ORACLES["rouge_pairs"] = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
),
g1 AS (
  SELECT doc_id, term AS gram, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2
),
g2 AS (
  SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT doc_id, bg[1] || chr(31) || bg[2] AS gram FROM (
      SELECT doc_id, unnest(list_zip(toks[1:greatest(len(toks) - 1, 0)],
                                     toks[2:len(toks)])) AS bg
      FROM t WHERE len(toks) >= 2)
  ) GROUP BY 1, 2
),
c1 AS (
  SELECT p.a_id, p.b_id,
         CAST(sum(least(ag.cnt, coalesce(bg.cnt, 0))) AS BIGINT) AS num1,
         CAST(sum(ag.cnt) AS BIGINT) AS dena1
  FROM p JOIN g1 ag ON ag.doc_id = p.a_id
  LEFT JOIN g1 bg ON bg.doc_id = p.b_id AND bg.gram = ag.gram
  GROUP BY 1, 2
),
c2 AS (
  SELECT p.a_id, p.b_id,
         CAST(sum(least(ag.cnt, coalesce(bg.cnt, 0))) AS BIGINT) AS num2,
         CAST(sum(ag.cnt) AS BIGINT) AS dena2
  FROM p JOIN g2 ag ON ag.doc_id = p.a_id
  LEFT JOIN g2 bg ON bg.doc_id = p.b_id AND bg.gram = ag.gram
  GROUP BY 1, 2
),
tb1 AS (SELECT doc_id AS b_id, CAST(sum(cnt) AS BIGINT) AS denb1 FROM g1 GROUP BY 1),
tb2 AS (SELECT doc_id AS b_id, CAST(sum(cnt) AS BIGINT) AS denb2 FROM g2 GROUP BY 1),
j AS MATERIALIZED (
  SELECT p.a_id, p.b_id, c1.num1, c1.dena1, c2.num2, c2.dena2,
         coalesce(tb1.denb1, 0) AS denb1, coalesce(tb2.denb2, 0) AS denb2
  FROM p
  LEFT JOIN c1 ON p.a_id = c1.a_id AND p.b_id = c1.b_id
  LEFT JOIN c2 ON p.a_id = c2.a_id AND p.b_id = c2.b_id
  LEFT JOIN tb1 ON p.b_id = tb1.b_id
  LEFT JOIN tb2 ON p.b_id = tb2.b_id
)
SELECT a_id, b_id,
  CASE WHEN dena1 > 0 THEN round(CAST(num1 AS DOUBLE) / CAST(dena1 AS DOUBLE), 6) END AS r1,
  CASE WHEN denb1 > 0 THEN round(CAST(num1 AS DOUBLE) / CAST(denb1 AS DOUBLE), 6) END AS "p1_",
  CASE WHEN dena1 > 0 AND denb1 > 0 AND num1 > 0 THEN
    round(2.0 * (CAST(num1 AS DOUBLE) / CAST(denb1 AS DOUBLE))
              * (CAST(num1 AS DOUBLE) / CAST(dena1 AS DOUBLE))
          / ((CAST(num1 AS DOUBLE) / CAST(denb1 AS DOUBLE))
           + (CAST(num1 AS DOUBLE) / CAST(dena1 AS DOUBLE))), 6) END AS f1,
  CASE WHEN dena2 > 0 THEN round(CAST(num2 AS DOUBLE) / CAST(dena2 AS DOUBLE), 6) END AS r2,
  CASE WHEN denb2 > 0 THEN round(CAST(num2 AS DOUBLE) / CAST(denb2 AS DOUBLE), 6) END AS "p2_",
  CASE WHEN dena2 > 0 AND denb2 > 0 AND num2 > 0 THEN
    round(2.0 * (CAST(num2 AS DOUBLE) / CAST(denb2 AS DOUBLE))
              * (CAST(num2 AS DOUBLE) / CAST(dena2 AS DOUBLE))
          / ((CAST(num2 AS DOUBLE) / CAST(denb2 AS DOUBLE))
           + (CAST(num2 AS DOUBLE) / CAST(dena2 AS DOUBLE))), 6) END AS f2
FROM j
"""


def q_tokenizer_fertility(spark, sf_dir):
    """r09: per-source tokenizer fertility (tokens/word, chars/token)
    under the corpus-trained 8-merge BPE — the slice-blowup check a
    tokenizer ships with. Oracle: the same unrolled relational training
    replay as bpe_apply, aggregated per source off the final w9 state."""
    from temporal_vector_database_spark.operators.tokenize import (
        bpe_train,
        tokenizer_fertility,
    )

    docs = _documents(spark, sf_dir).select(
        "doc_id", "text", "source"
    )
    return tokenizer_fertility(docs, bpe_train(docs, n_merges=8))


ORACLES["tokenizer_fertility"] = (
    _bpe_oracle_sql(8)[: _bpe_oracle_sql(8).rindex("SELECT CAST(1")]
    + """,
dw AS (
  SELECT doc_id, unnest(ws) AS w
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents)
),
agg AS (
  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS nw,
         CAST(sum(len(s.toks)) AS BIGINT) AS nt
  FROM dw d JOIN w9 s ON d.w = s.word
  GROUP BY d.doc_id
),
chars AS (
  SELECT doc_id, source,
         CAST(length(replace(text, ' ', '')) AS BIGINT) AS nc
  FROM documents
),
g AS (
  SELECT c.source AS "group", CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(a.nw), 0) AS BIGINT) AS n_words,
         CAST(coalesce(sum(a.nt), 0) AS BIGINT) AS n_tokens,
         CAST(sum(c.nc) AS BIGINT) AS n_chars
  FROM chars c LEFT JOIN agg a ON c.doc_id = a.doc_id
  GROUP BY 1
)
SELECT "group", n_docs, n_words, n_tokens, n_chars,
       CASE WHEN n_words > 0
            THEN round(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
       END AS fertility,
       CASE WHEN n_tokens > 0
            THEN round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
       END AS chars_per_token
FROM g
"""
)


def q_dedup_sorted_neighborhood(spark, sf_dir):
    """r07: sorted-neighborhood blocking (Hernández & Stolfo 1995) —
    the linear-candidate third tier beside banding (probabilistic) and
    prefix filtering (exact): global sort on the lowercased 32-char
    text prefix, verify only pairs within 4 rank positions. The rank
    is the two-phase distributed formulation (range partition + local
    row_number + broadcast offsets), NEVER a single-partition global
    window — pinned in tests/test_plans.py."""
    from temporal_vector_database_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    # r13 re-audit: PLAIN (in-bench tie 2.07 vs 2.15; the r12 spread
    # stamp regressed 2.04->4.01 vs r11 — marginal call goes to plain)
    docs = _documents(spark, sf_dir).select(
        "doc_id", "text"
    )
    return sorted_neighborhood_pairs(
        docs, key_len=32, window=4, width=3, min_jaccard_num=1, min_jaccard_den=2
    )


ORACLES["dedup_sorted_neighborhood"] = """
WITH d AS (SELECT doc_id, text FROM documents),
rk AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY lower(substr(text, 1, 32)), doc_id) AS rank
  FROM d
),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
                               i -> substring(text, i, 3))) AS sh
  FROM d
),
shd AS (SELECT DISTINCT doc_id, {SHH} AS shh FROM sh),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shd GROUP BY 1),
cand AS (
  SELECT a.doc_id AS ra_id, b.doc_id AS rb_id,
         CAST(b.rank - a.rank AS INTEGER) AS rank_dist
  FROM rk a JOIN rk b ON b.rank > a.rank AND b.rank <= a.rank + 4
),
inter AS (
  SELECT c.ra_id, c.rb_id, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN shd x ON x.doc_id = c.ra_id
  JOIN shd y ON y.doc_id = c.rb_id AND y.shh = x.shh
  GROUP BY 1, 2
),
scored AS (
  SELECT c.ra_id, c.rb_id, c.rank_dist,
         COALESCE(i.n_inter, 0) AS n_inter, sa.n_sh AS na, sb.n_sh AS nb
  FROM cand c
  LEFT JOIN inter i ON c.ra_id = i.ra_id AND c.rb_id = i.rb_id
  JOIN sizes sa ON sa.doc_id = c.ra_id
  JOIN sizes sb ON sb.doc_id = c.rb_id
  WHERE COALESCE(i.n_inter, 0) * 2 >= 1 * (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0))
)
SELECT least(ra_id, rb_id) AS a_id, greatest(ra_id, rb_id) AS b_id, rank_dist,
       n_inter,
       CASE WHEN ra_id < rb_id THEN na ELSE nb END AS n_a,
       CASE WHEN ra_id < rb_id THEN nb ELSE na END AS n_b,
       CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE) AS jaccard
FROM scored
"""
ORACLES["dedup_sorted_neighborhood"] = ORACLES["dedup_sorted_neighborhood"].replace(
    "{SHH}", _th("sh")
)


def q_reconstruct_diff(spark, sf_dir):
    """r07: time-travel DIFF between two global as-of instants (the
    max ts of any seq-5 row and of any seq-9 row — staggered content
    start times make per-content resolved seqs vary, so the gate
    exercises unequal bases, equal-seq zero diffs, and multi-epoch
    chains at once). Both targets reconstruct in ONE fold pass
    (operators/reconstruct.py reconstruct_diff)."""
    from temporal_vector_database_spark.operators.reconstruct import (
        reconstruct_diff,
    )

    v = _versions_ok(spark, sf_dir)
    t_a, t_b = (
        v.agg(
            F.max(F.when(F.col("seq") == 5, F.col("ts"))),
            F.max(F.when(F.col("seq") == 9, F.col("ts"))),
        ).first()
    )
    return reconstruct_diff(v, t_a, t_b)


# per-dim replay of BOTH as-of states (base dims + cumulative epoch
# deltas — the reference accumulates duplicate sparse indices, so the
# union-sum is the exact fold), then the dim-join diff. n_changed CAST
# BIGINT (SCALE.md integer-width rule); diff sums/squares live on the
# 2^-20 dyadic grid so every aggregate is exact in any order.
ORACLES["reconstruct_diff"] = f"""
WITH v AS (SELECT * FROM {_VOK}),
tg AS (
  SELECT content_id, seq, kind, embedding, sparse_idx, sparse_val,
         max(CASE WHEN kind = 'base' THEN seq END)
           OVER (PARTITION BY content_id ORDER BY seq
                 ROWS UNBOUNDED PRECEDING) AS base_seq
  FROM v
),
ta AS (SELECT max(ts) AS t FROM v WHERE seq = 5),
tb AS (SELECT max(ts) AS t FROM v WHERE seq = 9),
ra AS (SELECT content_id, max(seq) AS seq_a FROM v, ta WHERE v.ts <= ta.t GROUP BY 1),
rb AS (SELECT content_id, max(seq) AS seq_b FROM v, tb WHERE v.ts <= tb.t GROUP BY 1),
pr AS (
  SELECT ra.content_id, ra.seq_a, rb.seq_b
  FROM ra JOIN rb ON ra.content_id = rb.content_id
),
tgt AS (
  SELECT DISTINCT u.content_id, u.target_seq, t.base_seq
  FROM (SELECT content_id, seq_a AS target_seq FROM pr
        UNION SELECT content_id, seq_b FROM pr) u
  JOIN tg t ON u.content_id = t.content_id AND u.target_seq = t.seq
  WHERE t.base_seq IS NOT NULL
),
bdim AS (
  SELECT s.content_id, s.target_seq,
         generate_subscripts(b.embedding, 1) AS idx, unnest(b.embedding) AS val
  FROM tgt s JOIN tg b
    ON s.content_id = b.content_id AND s.base_seq = b.seq AND b.kind = 'base'
),
ddim AS (
  SELECT s.content_id, s.target_seq,
         unnest(d.sparse_idx) + 1 AS idx, unnest(d.sparse_val) AS val
  FROM tgt s JOIN tg d
    ON s.content_id = d.content_id AND d.kind = 'delta'
   AND d.base_seq = s.base_seq AND d.seq <= s.target_seq
),
state AS (
  SELECT content_id, target_seq, idx, sum(val) AS val
  FROM (SELECT * FROM bdim UNION ALL SELECT * FROM ddim)
  GROUP BY 1, 2, 3
),
dd AS (
  SELECT p.content_id, p.seq_a, p.seq_b, sb.val - sa.val AS diff
  FROM pr p
  JOIN state sa ON p.content_id = sa.content_id AND p.seq_a = sa.target_seq
  JOIN state sb ON p.content_id = sb.content_id AND p.seq_b = sb.target_seq
   AND sa.idx = sb.idx
)
SELECT content_id, seq_a, seq_b,
       CAST(sum(CASE WHEN diff <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       sqrt(sum(diff * diff)) AS magnitude,
       sum(diff) AS diff_sum
FROM dd GROUP BY 1, 2, 3
"""


def q_ivf_filtered_topk(spark, sf_dir):
    """Per-query label-filtered ANN: each query (vec_id % 50 == 0) wants
    neighbors sharing ITS OWN label — the filter applies before ranking,
    so all k slots hold matching vectors (single-stage filtering)."""
    from temporal_vector_database_spark.operators.search import ivf_filtered_topk

    emb = _embeddings_raw(spark, sf_dir).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 1024) / 1024,
        ).alias("embedding"),
        "label",
    )
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"),
        "embedding",
        F.col("label").alias("want_label"),
    )
    return ivf_filtered_topk(
        emb, queries, attr_col="label", filter_col="want_label", k=10, nprobe=2
    )


ORACLES["ivf_filtered_topk"] = (
    _QEMB_CTE
    + _ivf_ranked_body().replace(
        "ranked AS (", """labeled AS (
  SELECT c.query_id, c.vid, c.sim, el.label
  FROM cands c
  JOIN embeddings el ON c.vid = el.vec_id
  JOIN embeddings eq ON c.query_id = eq.vec_id
  WHERE el.label = eq.label
),
ranked AS ("""
    ).replace(
        "FROM cands WHERE sim > 0",
        "FROM labeled WHERE sim > 0",
    ).replace(
        "SELECT query_id, vid AS vec_id, sim,",
        "SELECT query_id, vid AS vec_id, sim, label,",
    )
    + """
SELECT query_id, rank, vec_id, label, sim FROM ranked WHERE rank <= 10
"""
)



def q_events_m4(spark, sf_dir):
    """M4 downsample of the event value series per type at day grain:
    first/last/min/max points per pixel bucket, every number a raw
    input value (no arithmetic), tie-broken by event_id."""
    from temporal_vector_database_spark.operators.timeseries import m4_downsample
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return m4_downsample(
        ev, "ts_ms", ("event_type",), "value", 86_400_000,
        tiebreak_cols=("event_id",),
    )


ORACLES["events_m4"] = """
WITH e AS (
  SELECT event_type, event_id, epoch_ms(ts) AS ts_ms, value FROM events
),
b AS (
  SELECT event_type, event_id, ts_ms, value,
         CAST((ts_ms // 86400000) * 86400000 AS BIGINT) AS bucket_start_ms
  FROM e
),
f AS (
  SELECT event_type, bucket_start_ms, ts_ms AS t_first, value AS v_first
  FROM b QUALIFY row_number() OVER (PARTITION BY event_type, bucket_start_ms
                                    ORDER BY ts_ms, event_id, value) = 1
),
l AS (
  SELECT event_type, bucket_start_ms, ts_ms AS t_last, value AS v_last
  FROM b QUALIFY row_number() OVER (PARTITION BY event_type, bucket_start_ms
                                    ORDER BY ts_ms DESC, event_id DESC, value DESC) = 1
),
lo AS (
  SELECT event_type, bucket_start_ms, ts_ms AS t_min, value AS v_min
  FROM b QUALIFY row_number() OVER (PARTITION BY event_type, bucket_start_ms
                                    ORDER BY value, ts_ms, event_id) = 1
),
hi AS (
  SELECT event_type, bucket_start_ms, ts_ms AS t_max, value AS v_max
  FROM b QUALIFY row_number() OVER (PARTITION BY event_type, bucket_start_ms
                                    ORDER BY value DESC, ts_ms DESC, event_id DESC) = 1
),
n AS (
  SELECT event_type, bucket_start_ms, CAST(count(*) AS BIGINT) AS n_events
  FROM b GROUP BY 1, 2
)
SELECT n.event_type, n.bucket_start_ms,
       f.t_first, f.v_first, l.t_last, l.v_last,
       lo.t_min, lo.v_min, hi.t_max, hi.v_max, n.n_events
FROM n
JOIN f USING (event_type, bucket_start_ms)
JOIN l USING (event_type, bucket_start_ms)
JOIN lo USING (event_type, bucket_start_ms)
JOIN hi USING (event_type, bucket_start_ms)
"""


def q_events_counter_rate(spark, sf_dir):
    """Prometheus-style counter increase/rate per (user, day) treating
    the event value as a cumulative gauge with restarts: negative
    consecutive deltas are resets contributing the full restarted
    value. Exact integer milli-unit sums; one division for the rate."""
    from temporal_vector_database_spark.operators.timeseries import counter_agg
    from temporal_vector_database_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    return counter_agg(
        ev, "ts_ms", ("user_id",), "value", 86_400_000,
        tiebreak_cols=("event_id",),
    )


ORACLES["events_counter_rate"] = """
WITH e AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         CAST(round(value * 1000) AS BIGINT) AS v_e3
  FROM events
),
d AS (
  SELECT user_id, event_id, ts_ms, v_e3,
         CAST((ts_ms // 86400000) * 86400000 AS BIGINT) AS bucket_start_ms,
         lag(v_e3) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev
  FROM e
),
c AS (
  SELECT user_id, bucket_start_ms,
         CASE WHEN prev IS NULL THEN NULL
              WHEN v_e3 >= prev THEN v_e3 - prev
              ELSE v_e3 END AS contrib,
         CASE WHEN prev IS NOT NULL AND v_e3 < prev THEN 1 ELSE 0 END AS reset
  FROM d
)
SELECT user_id, bucket_start_ms,
       CAST(coalesce(sum(contrib), 0) AS BIGINT) AS increase_units,
       CAST(sum(reset) AS BIGINT) AS n_resets,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(coalesce(sum(contrib), 0) AS DOUBLE) / (1000.0 * 86400.0)
         AS rate_per_sec
FROM c GROUP BY 1, 2
"""



def q_ivf_radius_search(spark, sf_dir):
    """FAISS-style range search over the probed IVF lists: every
    neighbor with cosine >= 0.25 (unknown-count retrieval; no ranking
    window anywhere in the plan)."""
    from temporal_vector_database_spark.operators.search import ivf_radius_search

    emb = _quantized_embeddings(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    return ivf_radius_search(emb, queries, min_sim=0.25, nprobe=2)


ORACLES["ivf_radius_search"] = (
    _QEMB_CTE
    + _IVF_RANKED_BODY
    + """
SELECT query_id, vid AS vec_id, sim FROM cands WHERE sim >= 0.25
"""
)


def q_leakage_safe_split(spark, sf_dir):
    """Train/val/test assignment at exact-duplicate-cluster grain
    (md5(text) draw): copies of a document can never straddle splits.
    Zero shuffles — the cluster key is pure column math."""
    from temporal_vector_database_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = _documents(spark, sf_dir)
    return leakage_safe_split(docs).select("doc_id", "split")


ORACLES["leakage_safe_split"] = f"""
WITH h2 AS (
  SELECT doc_id, md5(md5(text)) AS h FROM documents
),
u AS (SELECT doc_id, CAST({_H_U32_SQL} AS BIGINT) AS u32 FROM h2)
SELECT doc_id,
       CASE WHEN u32 < {int(0.9 * 2**32)} THEN 'train'
            WHEN u32 < {int(0.95 * 2**32)} THEN 'val'
            ELSE 'test' END AS split
FROM u
"""


# The driver verifies entries in insertion order, capped at 50/round
# (r01 covered the first 50 of that round's ordering, r02/r03 the first
# 50 of their rotations), so ordering is a correctness-coverage
# decision. r04 priority: (1) the 13 session-7 queries that have NEVER
# had a driver row (r03 positions 51+), (2) the version_rollup bisect
# pair — red r01-r03 with the math proven right locally, so the
# integer-only gate and the timestamp+doubles report twin isolate which
# column class the driver's hasher mangles, (3) the §2 core rows last
# driver-checked in r01 (two rounds of rotation displaced them; pytest-
# pinned at HEAD throughout), (4) the r01-only dedup/search family, to
# fill the cap. Everything past 50 has a green r02 or r03 row.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- (1) never driver-checked (session-7 additions past the r03 cap) ---
    "pca_topk": q_pca_topk,  # rows-only by design (eigenbasis not ANSI-SQL)
    "pca_trace_check": q_pca_trace_check,  # r06: its value-level contract
    "ivf_recall_eval": q_ivf_recall_eval,
    "events_interval_coverage": q_events_interval_coverage,
    "events_bitemporal": q_events_bitemporal,
    "events_key_skew": q_events_key_skew,
    "knn_graph": q_knn_graph,
    "knn_classify": q_knn_classify,
    "semantic_decontaminate": q_semantic_decontaminate,
    "ivf_rank_eval": q_ivf_rank_eval,
    "mrl_topk_persisted": q_mrl_topk_persisted,
    "events_scd2_cdc": q_events_scd2_cdc,
    "events_uptime": q_events_uptime,
    "events_approx_quantiles": q_events_approx_quantiles,
    # --- (2) the r04 version_rollup bisect pair (see q_version_rollup) ---
    "version_rollup": q_version_rollup,
    "storage_tiering": q_storage_tiering,
    "retention_dryrun": q_retention_dryrun,
    "version_rollup_report": q_version_rollup_report,
    # --- (2a) r06 bisect trio: name the column class the driver's
    #     hasher mangles (integers+timestamp / integers+DATE /
    #     integers+doubles — see the q_version_rollup_report_* docstrings)
    "version_rollup_report_ts": q_version_rollup_report_ts,
    "version_rollup_report_date": q_version_rollup_report_date,
    "version_rollup_report_dbl": q_version_rollup_report_dbl,
    # --- (2b) new this round ---
    "bloom_decontaminate": q_bloom_decontaminate,
    "events_rolling_anomaly": q_events_rolling_anomaly,
    "events_cube": q_events_cube,
    "leakage_safe_split": q_leakage_safe_split,
    "ivf_radius_search": q_ivf_radius_search,
    "events_rolling_users": q_events_rolling_users,
    "corpus_top_ngrams": q_corpus_top_ngrams,
    "events_twa": q_events_twa,
    "events_rolling_users_approx": q_events_rolling_users_approx,
    # --- (2b) bit-equal twins with no driver row yet ---
    "events_rolling_anomaly_state": q_events_rolling_anomaly_state,
    "ivfpq_topk_persisted": q_ivfpq_topk_persisted,
    "pq_topk_persisted": q_pq_topk_persisted,
    "ivfpq_residual_topk_persisted": q_ivfpq_residual_topk_persisted,
    # --- (2c) round-5 additions ---
    "events_m4": q_events_m4,
    "events_counter_rate": q_events_counter_rate,
    "ivf_filtered_topk": q_ivf_filtered_topk,
    "dsir_select": q_dsir_select,
    "token_budget_mixture": q_token_budget_mixture,
    "neardup_pagerank": q_neardup_pagerank,
    "label_propagation": q_label_propagation,
    "mips_topk": q_mips_topk,
    "neardup_triangles": q_neardup_triangles,
    "neardup_kcore": q_neardup_kcore,
    "events_type_corr": q_events_type_corr,
    "weighted_reservoir": q_weighted_reservoir,
    "collocations_pmi": q_collocations_pmi,
    "dataset_diff": q_dataset_diff,
    "maxsim_rerank": q_maxsim_rerank,
    "ngram_containment": q_ngram_containment,
    "events_seasonality": q_events_seasonality,
    "events_conversion_latency": q_events_conversion_latency,
    "events_trend": q_events_trend,
    "events_user_entropy": q_events_user_entropy,
    "heavy_hitters_sketch": q_heavy_hitters_sketch,
    "cms_estimate_check": q_cms_estimate_check,
    "zipf_fit": q_zipf_fit,
    "dataset_drift": q_dataset_drift,
    "table_checksum": q_table_checksum,
    "fuzzy_decontaminate": q_fuzzy_decontaminate,
    "cross_corpus_near_dup_exact": q_cross_corpus_near_dup_exact,
    "jaccard_exact_join": q_jaccard_exact_join,
    "ngram_containment_short": q_ngram_containment_short,
    "ngram_containment_small": q_ngram_containment_small,
    "decontaminate_containment": q_decontaminate_containment,
    "bpe_train": q_bpe_train,
    "bpe_train_incremental": q_bpe_train_incremental,
    "bpe_train_batched": q_bpe_train_batched,
    "tokenizer_fertility": q_tokenizer_fertility,
    "bleu_pairs": q_bleu_pairs,
    "rouge_pairs": q_rouge_pairs,
    "dedup_sorted_neighborhood": q_dedup_sorted_neighborhood,
    "reconstruct_diff": q_reconstruct_diff,
    "bpe_apply": q_bpe_apply,
    "events_robust_stats": q_events_robust_stats,
    "events_changepoint": q_events_changepoint,
    "nn_descent": q_nn_descent,
    "graph_beam_search": q_graph_beam_search,
    "graph_beam_search_ivf": q_graph_beam_search_ivf,
    "snapshot_read": q_snapshot_read,
    "bbit_minhash": q_bbit_minhash,
    "embedding_quantile_norm": q_embedding_quantile_norm,
    "source_overlap": q_source_overlap,
    "events_spearman": q_events_spearman,
    "events_acf": q_events_acf,
    "cluster_quality": q_cluster_quality,
    "frequent_token_pairs": q_frequent_token_pairs,
    "epoch_shuffle": q_epoch_shuffle,
    "vocab_gini": q_vocab_gini,
    # --- (3) §2 core rows, last driver-checked r01 ---
    "ingest_encode": q_ingest_encode,
    "nearest_base": q_nearest_base,
    "reconstruct_all": q_reconstruct_all,
    "reconstruct_latest": q_reconstruct_latest,
    "asof_resolve": q_asof_resolve,
    "topk_search": q_topk_search,
    "integrity_report": q_integrity_report,
    "change_stats": q_change_stats,
    "advisor": q_advisor,
    "compaction_invariance": q_compaction_invariance,
    "list_contents": q_list_contents,
    "version_id_parse": q_version_id_parse,
    "storage_stats": q_storage_stats,
    "storage_efficiency": q_storage_efficiency,
    "reconstruction_stats": q_reconstruction_stats,
    "database_stats": q_database_stats,
    "content_stats": q_content_stats,
    "reconstruct_by_id": q_reconstruct_by_id,
    # --- (4) r01-only dedup/search/text family fills the cap to 50 ---
    "dedup_exact": q_dedup_exact,
    "minhash_signature": q_minhash_signature,
    "dedup_near_pairs": q_dedup_near_pairs,
    "dedup_incremental": q_dedup_incremental,
    # --- past the 50-cap: every entry below has a green r01-r03 row ---
    "simhash_signature": q_simhash_signature,
    "simhash_near_pairs": q_simhash_near_pairs,
    "ngram_jaccard": q_ngram_jaccard,
    "embedding_near_dup": q_embedding_near_dup,
    "language_id": q_language_id,
    "ann_topk": q_ann_topk,
    "ivf_topk": q_ivf_topk,
    "pq_topk": q_pq_topk,
    "pq_codes": q_pq_codes,
    "ivfpq_topk": q_ivfpq_topk,
    "token_stats": q_token_stats,
    "text_quality": q_text_quality,
    "doc_fingerprint": q_doc_fingerprint,
    "events_range_frame": q_events_range_frame,
    "events_rank_functions": q_events_rank_functions,
    "quality_percentile_filter": q_quality_percentile_filter,
    "doc_chunks": q_doc_chunks,
    "events_outliers": q_events_outliers,
    "events_funnel": q_events_funnel,
    "events_retention": q_events_retention,
    "length_balanced_sample": q_length_balanced_sample,
    "docs_pivot": q_docs_pivot,
    "quality_weighted_sample": q_quality_weighted_sample,
    "event_transitions": q_event_transitions,
    "events_histogram": q_events_histogram,
    "edit_distance_pairs": q_edit_distance_pairs,
    "profile_documents": q_profile_documents,
    "minhash_signature_prod": q_minhash_signature_prod,  # rows-only by design
    "topk_search_indexed": q_topk_search_indexed,
    "ivf_topk_persisted": q_ivf_topk_persisted,
    "length_balanced_sample_exact": q_length_balanced_sample_exact,
    "edit_distance_pairs_short": q_edit_distance_pairs_short,
    "events_hopping": q_events_hopping,
    "events_dedup_idempotent": q_events_dedup_idempotent,
    "docs_winnow_fingerprint": q_docs_winnow_fingerprint,
    "winnow_pairs": q_winnow_pairs,
    "doc_ccnet_buckets": q_doc_ccnet_buckets,
    "suffix_array_ngrams": q_suffix_array_ngrams,
    "bm25_scores": q_bm25_scores,
    "tfidf_topterms": q_tfidf_topterms,
    "events_approx_distinct": q_events_approx_distinct,
    "dedup_near_pairs_banded": q_dedup_near_pairs_banded,
    "remove_dup_spans": q_remove_dup_spans,
    "hybrid_search": q_hybrid_search,
    "prf_search": q_prf_search,
    "unigram_nll": q_unigram_nll,
    "bigram_nll": q_bigram_nll,
    "trigram_nll": q_trigram_nll,
    "kneser_ney_nll": q_kneser_ney_nll,
    "modified_kn_nll": q_modified_kn_nll,
    "perplexity_band": q_perplexity_band,
    "vocab_coverage": q_vocab_coverage,
    "training_pipeline_banded": q_training_pipeline_banded,
    "temperature_sample": q_temperature_sample,
    "pack_sequences": q_pack_sequences,
    "ivf_store_topk": q_ivf_store_topk,
    "cluster_capped_sample": q_cluster_capped_sample,
    "hard_negatives": q_hard_negatives,
    "search_asof": q_search_asof,
    "ingest_late": q_ingest_late,
    "multimodal_near_dup": q_multimodal_near_dup,
    "events_zorder_read": q_events_zorder_read,
    "wordpiece_tokens": q_wordpiece_tokens,
    "events_scd2_snapshot": q_events_scd2_snapshot,
    "mrl_topk": q_mrl_topk,
    "mmr_rerank": q_mmr_rerank,
    "embedding_gram": q_embedding_gram,
    "events_ohlc": q_events_ohlc,
    "events_gapfill": q_events_gapfill,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_features": q_multimodal_features,
    "frame_sample": q_frame_sample,
    "label_centroids": q_label_centroids,
    "price_quantiles": q_price_quantiles,
    "tpch_q1": q_tpch_q1,
    "tpch_q3_top10": q_tpch_q3_top10,
    "tpch_q5": q_tpch_q5,
    "tpch_q6": q_tpch_q6,
    "tpch_q14": q_tpch_q14,
    "tpch_q10": q_tpch_q10,
    "tpch_q7": q_tpch_q7,
    "tpch_q8": q_tpch_q8,
    "tpch_q15": q_tpch_q15,
    "tpch_q17": q_tpch_q17,
    "tpch_q19": q_tpch_q19,
    "dedup_survivors": q_dedup_survivors,
    "dedup_survivors_quality": q_dedup_survivors_quality,
    "dedup_cluster_sizes": q_dedup_cluster_sizes,
    "training_pipeline": q_training_pipeline,
    "revenue_grouping_sets": q_revenue_grouping_sets,
    "tpch_q11_shape": q_tpch_q11_shape,
    "tpch_q20_shape": q_tpch_q20_shape,
    "events_moving_stats": q_events_moving_stats,
    "lineitem_stat_aggs": q_lineitem_stat_aggs,
    "tpch_q18": q_tpch_q18,
    "tpch_q4_shape": q_tpch_q4_shape,
    "tpch_q12_shape": q_tpch_q12_shape,
    "tpch_q13_shape": q_tpch_q13_shape,
    "tpch_q16_shape": q_tpch_q16_shape,
    "tpch_q22_shape": q_tpch_q22_shape,
    "revenue_cube": q_revenue_cube,
    "top_orders_per_customer": q_top_orders_per_customer,
    "top_events_per_user_salted": q_top_events_per_user_salted,
    "salted_revenue_by_priority": q_salted_revenue_by_priority,
    "events_sessionize": q_events_sessionize,
    "events_session_window": q_events_session_window,
    "events_type_stats": q_events_type_stats,
    "events_tumbling": q_events_tumbling,
    "events_asof_join": q_events_asof_join,
    "events_interval_join": q_events_interval_join,
    "events_json_props": q_events_json_props,
    "customers_without_orders": q_customers_without_orders,
    "revenue_rollup": q_revenue_rollup,
    "part_setops": q_part_setops,
    "pq_topk_reranked": q_pq_topk_reranked,
    "training_pipeline_strict": q_training_pipeline_strict,
    "sample_docs": q_sample_docs,
    "split_assign": q_split_assign,
    "kfold_assign": q_kfold_assign,
    "token_chunks": q_token_chunks,
    "stratified_sample": q_stratified_sample,
    "events_asof_tolerance": q_events_asof_tolerance,
    "events_asof_forward": q_events_asof_forward,
    "decontaminate": q_decontaminate,
    "repetition_stats": q_repetition_stats,
    "segment_dedup": q_segment_dedup,
    "pii_scrub": q_pii_scrub,
    "semantic_dedup": q_semantic_dedup,
    "kmeans_step": q_kmeans_step,
    "ivfpq_residual_topk": q_ivfpq_residual_topk,
    "sq8_topk": q_sq8_topk,
    "bq_topk": q_bq_topk,
    "training_pipeline_full": q_training_pipeline_full,
    # --- new in r11 (rotated to the front by _R11_FRONT below) ---
    "bigram_nll_stream": q_bigram_nll_stream,
    "compaction_advisor_loop": q_compaction_advisor_loop,
    # --- new in r11 PAST the 50-cap (self-verified vs oracle this
    # round via scripts/check_oracle.py; queued FIRST for the r12
    # front per the rotation policy — the graph_beam_search r09->r10
    # precedent). Together with bigram_nll_stream these put every
    # streaming/wordcount.py *_from_state serve under a driver gate.
    "trigram_nll_stream": q_trigram_nll_stream,
    "kneser_ney_nll_stream": q_kneser_ney_nll_stream,
    "modified_kn_nll_stream": q_modified_kn_nll_stream,
    "perplexity_band_stream": q_perplexity_band_stream,
    # --- r11 wave 2 (also past the cap, same r12-front queue): the
    # remaining LM serves + the events series-state serves
    "unigram_nll_stream": q_unigram_nll_stream,
    "vocab_coverage_stream": q_vocab_coverage_stream,
    "events_type_corr_stream": q_events_type_corr_stream,
    "events_acf_stream": q_events_acf_stream,
    # --- r11 wave 3: source-signature + near-dup-graph serve gates
    "source_overlap_stream": q_source_overlap_stream,
    "neardup_pagerank_stream": q_neardup_pagerank_stream,
    "label_propagation_stream": q_label_propagation_stream,
    # --- r11 wave 4: checksum / M4 / DSIR / CMS state serves
    "table_checksum_stream": q_table_checksum_stream,
    "events_m4_stream": q_events_m4_stream,
    "dsir_select_stream": q_dsir_select_stream,
    "cms_estimate_stream": q_cms_estimate_stream,
    # --- r11: ANN-index maintenance loop (the IVF twin of
    # compaction_advisor_loop)
    "ivf_store_compact_loop": q_ivf_store_compact_loop,
    # --- r11 wave 5: OHLC / rollup / counter / bloom state serves
    "events_ohlc_stream": q_events_ohlc_stream,
    "version_rollup_report_stream": q_version_rollup_report_stream,
    "events_counter_rate_stream": q_events_counter_rate_stream,
    "bloom_decontaminate_stream": q_bloom_decontaminate_stream,
    "events_scd2_snapshot_stream": q_events_scd2_snapshot_stream,
    "heavy_hitters_stream": q_heavy_hitters_stream,
}


# --- r07 rotation -----------------------------------------------------
# The driver verifies entries in insertion order, capped at 50/round.
# r06 went all-green except version_rollup_report (the HUGEINT oracle
# bug, fixed this round), so the r07 cap goes to (1) the fixed red row
# + its integer-gate context, (2) the 18 queries gated or added this
# round (ingest_late final-state gate, wordpiece_tokens recursive-CTE
# oracle, and the r07 additions: the exact-recall containment tiers,
# bpe train/apply, sorted-neighborhood, reconstruct_diff, snapshot
# export read-back, nn_descent, b-bit minhash, robust stats,
# changepoint, quantile norm, source overlap), (3) the 11 rows whose
# last driver check is r01 (multimodal tail + TPC-H shape block), then
# (4) the oldest r02 rows, verdict-named dedup_survivors /
# semantic_dedup first — each r07 addition displaced the youngest
# remaining r02 row (displaced + the r03 block roll to r08; the full
# backlog is enumerated in TODO.md). After this round no green row
# predates r02 and none of the §2 core family predates r06.
_R07_FRONT = [
    # (1) the fixed red row + context
    "version_rollup_report",
    "version_rollup",
    # (2) gated/added this round
    "ingest_late",
    "wordpiece_tokens",
    "ngram_containment_small",
    "decontaminate_containment",
    "bpe_train",
    "dedup_sorted_neighborhood",
    "reconstruct_diff",
    "bpe_apply",
    "events_robust_stats",
    "events_changepoint",
    "nn_descent",
    "snapshot_read",
    "bbit_minhash",
    "embedding_quantile_norm",
    "source_overlap",
    "events_spearman",
    "vocab_gini",
    # (3) last driver-checked r01
    "multimodal_features",
    "frame_sample",
    "label_centroids",
    "price_quantiles",
    "tpch_q1",
    "tpch_q3_top10",
    "tpch_q5",
    "tpch_q6",
    "tpch_q14",
    "tpch_q10",
    "tpch_q7",
    # (4) oldest r02 rows (verdict-named first)
    "dedup_survivors",
    "semantic_dedup",
    "tpch_q8",
    "tpch_q15",
    "tpch_q17",
    "tpch_q19",
    "training_pipeline",
    "revenue_grouping_sets",
    "tpch_q11_shape",
    "tpch_q20_shape",
    "events_moving_stats",
    "lineitem_stat_aggs",
    "tpch_q18",
    "tpch_q4_shape",
    "tpch_q12_shape",
    "tpch_q13_shape",
    "tpch_q16_shape",
    "tpch_q22_shape",
    "revenue_cube",
    "top_orders_per_customer",
]
QUERIES = {k: QUERIES[k] for k in _R07_FRONT} | {
    k: v for k, v in QUERIES.items() if k not in set(_R07_FRONT)
}


# --- r08 rotation -----------------------------------------------------
# Rotation POLICY (recorded in SCALE.md "Driver-cap rotation" — VERDICT
# r07 #2): the invariant is "no green row's last driver check is older
# than 2 rounds behind the freshest"; the standing priority order is
# (1) new/changed gates this round, (2) rows with the OLDEST last
# driver check, oldest first, breaking ties by that round's check
# order. r08 applies it: the 2 r08 gates, then ALL 29 rows whose last
# driver row is r02 (enumerated in VERDICT r07), then the 19 oldest
# r03 rows — the remaining 28 r03 rows fill the r09 front.
_R08_FRONT = [
    # (1) new this round
    "bpe_train_incremental",
    "cross_corpus_near_dup_exact",
    "events_acf",
    "cluster_quality",
    "frequent_token_pairs",
    "epoch_shuffle",
    "dedup_survivors_quality",
    "prf_search",
    "winnow_pairs",
    "storage_tiering",
    "retention_dryrun",
    # (2) the 29 rows last driver-checked in r02
    "sample_docs",
    "split_assign",
    "token_chunks",
    "stratified_sample",
    "events_asof_tolerance",
    "events_asof_forward",
    "events_tumbling",
    "events_sessionize",
    "events_session_window",
    "events_type_stats",
    "events_interval_join",
    "events_asof_join",
    "events_json_props",
    "decontaminate",
    "repetition_stats",
    "segment_dedup",
    "pii_scrub",
    "kmeans_step",
    "sq8_topk",
    "bq_topk",
    "ivfpq_residual_topk",
    "pq_topk_reranked",
    "training_pipeline_full",
    "training_pipeline_strict",
    "part_setops",
    "customers_without_orders",
    "revenue_rollup",
    "salted_revenue_by_priority",
    "top_events_per_user_salted",
    # (3) the 19 oldest r03 rows (r03 check order)
    "events_range_frame",
    "events_rank_functions",
    "quality_percentile_filter",
    "doc_chunks",
    "events_outliers",
    "events_funnel",
    "events_retention",
    "length_balanced_sample",
    "docs_pivot",
    "quality_weighted_sample",
]
QUERIES = {k: QUERIES[k] for k in _R08_FRONT} | {
    k: v for k, v in QUERIES.items() if k not in set(_R08_FRONT)
}


# --- r09 rotation -----------------------------------------------------
# Policy (SCALE.md "Driver-cap rotation", VERDICT r08 #1): (1) the 11
# gates NEW this round, (2) gates whose CODE changed this round
# (storage_tiering lost its force-broadcast, dedup_survivors_quality's
# survivor_by tie-break was retyped — both value-neutral, re-checked
# anyway), (3) ALL 37 rows whose last driver check is r03 (enumerated
# in VERDICT r08, reproduced from CORRECTNESS_r*.json file order) —
# exactly the 50-cap. After this round no ledger row's last driver
# check predates r05; the 46 r05 rows (r05 check order, pca_topk
# first) are the r10 front.
_R09_FRONT = [
    # (1) new this round
    "bpe_train_batched",
    "trigram_nll",
    "kneser_ney_nll",
    "perplexity_band",
    "vocab_coverage",
    "label_propagation",
    "tokenizer_fertility",
    "bleu_pairs",
    "rouge_pairs",
    "dedup_cluster_sizes",
    "mips_topk",
    # (2) changed this round
    "storage_tiering",
    "dedup_survivors_quality",
    # (3) the 37 rows last driver-checked in r03 (r03 check order)
    "event_transitions",
    "events_histogram",
    "edit_distance_pairs",
    "profile_documents",
    "minhash_signature_prod",
    "topk_search_indexed",
    "ivf_topk_persisted",
    "length_balanced_sample_exact",
    "edit_distance_pairs_short",
    "events_hopping",
    "events_dedup_idempotent",
    "docs_winnow_fingerprint",
    "doc_ccnet_buckets",
    "suffix_array_ngrams",
    "bm25_scores",
    "tfidf_topterms",
    "events_approx_distinct",
    "dedup_near_pairs_banded",
    "remove_dup_spans",
    "hybrid_search",
    "unigram_nll",
    "bigram_nll",
    "training_pipeline_banded",
    "temperature_sample",
    "pack_sequences",
    "ivf_store_topk",
    "cluster_capped_sample",
    "hard_negatives",
    "search_asof",
    "multimodal_near_dup",
    "events_zorder_read",
    "events_scd2_snapshot",
    "mrl_topk",
    "mmr_rerank",
    "embedding_gram",
    "events_ohlc",
    "events_gapfill",
]
QUERIES = {k: QUERIES[k] for k in _R09_FRONT} | {
    k: v for k, v in QUERIES.items() if k not in set(_R09_FRONT)
}


# --- r10 rotation -----------------------------------------------------
# Policy (SCALE.md "Driver-cap rotation", VERDICT r09 #1): (1) the two
# r09 gates that landed past the r09 front-50 and have NEVER been
# driver-checked, (2) gates new in r10, (3) ALL 46 rows whose last
# driver check is r05 — reference-core rows ingest_encode /
# nearest_base first (VERDICT r09 #1), the rest in r05 check order.
# The 2 never-checked + 2 new + 46 r05 rows spend the 50-cap exactly.
# After this round no ledger row's last driver check predates r06.
_R10_FRONT = [
    # (1) never driver-checked (landed past the r09 cap)
    "graph_beam_search",
    "kfold_assign",
    # (2) new this round
    "modified_kn_nll",
    "graph_beam_search_ivf",
    # (3) the 46 rows last driver-checked in r05 (reference-core first,
    # then r05 check order)
    "ingest_encode",
    "nearest_base",
    "pca_topk",
    "ivf_recall_eval",
    "events_interval_coverage",
    "events_bitemporal",
    "events_key_skew",
    "knn_graph",
    "knn_classify",
    "semantic_decontaminate",
    "ivf_rank_eval",
    "mrl_topk_persisted",
    "events_scd2_cdc",
    "events_uptime",
    "events_approx_quantiles",
    "bloom_decontaminate",
    "events_rolling_anomaly",
    "events_cube",
    "leakage_safe_split",
    "ivf_radius_search",
    "events_rolling_users",
    "corpus_top_ngrams",
    "events_twa",
    "events_rolling_users_approx",
    "events_rolling_anomaly_state",
    "ivfpq_topk_persisted",
    "pq_topk_persisted",
    "ivfpq_residual_topk_persisted",
    "events_m4",
    "events_counter_rate",
    "ivf_filtered_topk",
    "dsir_select",
    "token_budget_mixture",
    "neardup_pagerank",
    "events_type_corr",
    "weighted_reservoir",
    "collocations_pmi",
    "dataset_diff",
    "maxsim_rerank",
    "ngram_containment",
    "events_seasonality",
    "events_conversion_latency",
    "events_trend",
    "events_user_entropy",
    "dataset_drift",
    "ngram_containment_short",
]
QUERIES = {k: QUERIES[k] for k in _R10_FRONT} | {
    k: v for k, v in QUERIES.items() if k not in set(_R10_FRONT)
}


# --- r11 rotation -----------------------------------------------------
# Policy (SCALE.md "Driver-cap rotation", VERDICT r10 #1): (1) the 2
# gates new in r11, (2) ALL 48 rows whose last driver check is r06, in
# r06 check order (recomputed from CORRECTNESS_r06.json key order,
# version_rollup_report_ts first). 2 + 48 spend the 50-cap exactly;
# after this round no ledger row's last driver check predates r07 (the
# r07 block of 50 is the r12 front).
_R11_FRONT = [
    # (1) new this round
    "bigram_nll_stream",
    "compaction_advisor_loop",
    # (2) the 48 rows last driver-checked in r06, in r06 check order
    "version_rollup_report_ts",
    "version_rollup_report_date",
    "version_rollup_report_dbl",
    "pca_trace_check",
    "neardup_triangles",
    "cms_estimate_check",
    "table_checksum",
    "zipf_fit",
    "neardup_kcore",
    "jaccard_exact_join",
    "heavy_hitters_sketch",
    "fuzzy_decontaminate",
    "reconstruct_all",
    "reconstruct_latest",
    "asof_resolve",
    "topk_search",
    "integrity_report",
    "change_stats",
    "advisor",
    "compaction_invariance",
    "list_contents",
    "version_id_parse",
    "storage_stats",
    "storage_efficiency",
    "reconstruction_stats",
    "database_stats",
    "content_stats",
    "reconstruct_by_id",
    "dedup_exact",
    "minhash_signature",
    "dedup_near_pairs",
    "dedup_incremental",
    "simhash_signature",
    "simhash_near_pairs",
    "ngram_jaccard",
    "embedding_near_dup",
    "language_id",
    "ann_topk",
    "ivf_topk",
    "pq_topk",
    "pq_codes",
    "ivfpq_topk",
    "token_stats",
    "text_quality",
    "doc_fingerprint",
    "multimodal_meta",
    "multimodal_decode",
    "multimodal_resize",
]
QUERIES = {k: QUERIES[k] for k in _R11_FRONT} | {
    k: v for k, v in QUERIES.items() if k not in set(_R11_FRONT)
}


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_map(sf_dir: str = ORACLE_SF_DIR) -> dict[str, str]:
    """Oracle SQL with fixture paths bound to ``sf_dir``'s fixture dir.

    Generates the fixtures if absent — the driver may run the DuckDB side
    before any Spark query has touched them."""
    fix = ensure_fixtures(sf_dir) if os.path.isdir(sf_dir) else fixture_dir(sf_dir)
    return {name: sql.replace("{FIX}", fix) for name, sql in ORACLES.items()}

ORACLES["ivfpq_residual_topk_persisted"] = ORACLES["ivfpq_residual_topk"]

# r11 wave 2 streamed-serve twins (stream==batch exact; header note at
# bigram_nll_stream)
ORACLES["unigram_nll_stream"] = ORACLES["unigram_nll"]
ORACLES["vocab_coverage_stream"] = ORACLES["vocab_coverage"]
ORACLES["events_type_corr_stream"] = ORACLES["events_type_corr"]
ORACLES["events_acf_stream"] = ORACLES["events_acf"]

# r11 wave 3: graph analytics served from the folded canonical edge
# state are bit-equal to the batch builds (the folded state is the
# same distinct edge set), so they share the batch oracles verbatim.
ORACLES["neardup_pagerank_stream"] = ORACLES["neardup_pagerank"]
ORACLES["label_propagation_stream"] = ORACLES["label_propagation"]

# r11 wave 4: additive/mergeable state serves (XOR+count fingerprints,
# M4 extremum structs, DSIR bucket counts, CMS counters) are exact
# under any batch split, so each shares its batch twin's oracle.
ORACLES["table_checksum_stream"] = ORACLES["table_checksum"]
ORACLES["events_m4_stream"] = ORACLES["events_m4"]
ORACLES["dsir_select_stream"] = ORACLES["dsir_select"]
ORACLES["cms_estimate_stream"] = ORACLES["cms_estimate_check"]

# r11: IVF compaction is serving-invariant by construction, so the
# compact-then-serve loop shares the merge-on-read serving oracle —
# any value drift in the affected-partition rewrite is a red row.
ORACLES["ivf_store_compact_loop"] = ORACLES["ivf_store_topk"]

# r11 wave 5: mergeable-state serves (OHLC extremum structs, rollup
# integer state, seeded counter deltas over time-ordered batches,
# bloom position-set union) — each shares its batch twin's oracle.
ORACLES["events_ohlc_stream"] = ORACLES["events_ohlc"]
ORACLES["events_scd2_snapshot_stream"] = ORACLES["events_scd2_snapshot"]
# the MG superset + exact-count filter canonicalizes the candidate set
# (docstring at q_heavy_hitters_stream), so the streamed serve shares
# the batch oracle verbatim
ORACLES["heavy_hitters_stream"] = ORACLES["heavy_hitters_sketch"]
ORACLES["version_rollup_report_stream"] = ORACLES["version_rollup_report"]
ORACLES["events_counter_rate_stream"] = ORACLES["events_counter_rate"]
ORACLES["bloom_decontaminate_stream"] = ORACLES["bloom_decontaminate"]

# r11 wave 3: the signature state carries only the mergeable minima,
# so the streamed serve publishes the ESTIMATOR half of the batch
# source_overlap gate — same sh/sig/est relational recomputation,
# without the exact-Jaccard columns.
ORACLES["source_overlap_stream"] = """
WITH sh AS (
  SELECT source AS src,
         unnest(list_transform(range(1, greatest(length(text) - 2, 1) + 1),
                               i -> substring(text, i, 3))) AS sh
  FROM documents
),
sig AS (
  SELECT src,
         min(substring(md5(sh), 1, 4)) AS mh_0, min(substring(md5(sh), 5, 4)) AS mh_1,
         min(substring(md5(sh), 9, 4)) AS mh_2, min(substring(md5(sh), 13, 4)) AS mh_3,
         min(substring(md5(sh), 17, 4)) AS mh_4, min(substring(md5(sh), 21, 4)) AS mh_5,
         min(substring(md5(sh), 25, 4)) AS mh_6, min(substring(md5(sh), 29, 4)) AS mh_7
  FROM sh GROUP BY src
)
SELECT a.src AS src_a, b.src AS src_b,
       CAST((CASE WHEN a.mh_0 = b.mh_0 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_1 = b.mh_1 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_2 = b.mh_2 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_3 = b.mh_3 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_4 = b.mh_4 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_5 = b.mh_5 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_6 = b.mh_6 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_7 = b.mh_7 THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
       CAST((CASE WHEN a.mh_0 = b.mh_0 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_1 = b.mh_1 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_2 = b.mh_2 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_3 = b.mh_3 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_4 = b.mh_4 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_5 = b.mh_5 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_6 = b.mh_6 THEN 1 ELSE 0 END)
          + (CASE WHEN a.mh_7 = b.mh_7 THEN 1 ELSE 0 END) AS DOUBLE) / 8.0
         AS est_jaccard
FROM sig a JOIN sig b ON a.src < b.src
"""
