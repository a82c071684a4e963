"""The per-timeline replay (``reconstruct.replay_timeline``) and the three
callers that share it: the grouped-map batch twin, the append encoder's
continue-from state and the facade's driver-side point, as-of and latest
reads.

The replay must be BIT-equal to the declarative fold, averages included,
so these tests use non-dyadic values: on the ``v/4`` grid every operation
order gives the same bits and a reordered sum would go unseen."""

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from temporal_vector_database_spark.api import TemporalVectorDatabase
from temporal_vector_database_spark.config import TVDBConfig
from temporal_vector_database_spark.operators.ingest import append_versions, ingest
from temporal_vector_database_spark.operators.reconstruct import (
    REPLAY_COLUMNS,
    REPLAY_INPUT,
    reconstruct_all,
    reconstruct_asof,
    reconstruct_at,
    reconstruct_latest,
    replay_timeline,
    with_quality_columns,
)

T0 = datetime(2025, 1, 1)
DIM = 4
VERSIONS_SCHEMA = (
    "content_id string, seq int, ts timestamp, kind string,"
    " embedding array<double>, sparse_idx array<int>, sparse_val array<double>,"
    " from_seq int, magnitude double, n_changed int, total_dims int,"
    " version_id string, metadata map<string,string>"
)


def _bits(v):
    """Exact comparison key: floats by their IEEE bits (``-0.0`` differs
    from ``0.0``), arrays element-wise."""
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_bits(x) for x in v)
    return v


def _spark_recs(df):
    return {r.target_seq: tuple(_bits(r[k]) for k in REPLAY_COLUMNS) for r in df.collect()}


def _replay_recs(recs):
    return {r["target_seq"]: tuple(_bits(r[k]) for k in REPLAY_COLUMNS) for r in recs}


def _stored_rows(content_id, spec):
    """(kind, emb_or_vals, idx, magnitude, n_changed, total_dims) → stored rows."""
    rows = []
    for seq, (kind, vals, idx, mag, n_changed, total_dims) in enumerate(spec, start=1):
        ts = T0 + timedelta(days=seq)
        if kind == "base":
            rows.append((content_id, seq, ts, "base", list(vals), None, None, None, None,
                         None, DIM, f"{content_id}_{seq}", None))
        else:
            rows.append((content_id, seq, ts, "delta", None, list(idx), list(vals[: len(idx)]),
                         seq - 1, mag, n_changed, total_dims, f"{content_id}_v{seq}", None))
    return rows


# non-dyadic values with full mantissas, so a reordered sum shows in the bits
_value = st.integers(-(10**9), 10**9).map(lambda k: k / 3e7)


def _long_chain():
    """A delta before any base, then a 10-delta epoch and a 2-delta one;
    every delta repeats index 0 and carries one negative and one
    out-of-range index. On these values a fold that adds a delta's
    repeated entries one by one into the chain sum, or averages with
    ``np.mean`` (pairwise summation from 8 terms on), changes the bits."""
    rng = np.random.default_rng(5)
    spec = [("delta", rng.normal(size=DIM).tolist(), [1], 0.3, 1, DIM)]
    for k in range(14):
        if k in (0, 11):
            spec.append(("base", rng.normal(size=DIM).tolist(), None, None, None, None))
        else:
            spec.append(("delta", rng.normal(size=DIM + 1).tolist(), [0, 0, 2, DIM + 1, -1],
                         float(rng.random()), int(rng.integers(0, 7)), 7))
    return spec


@settings(max_examples=12, deadline=None, derandomize=True)
@given(
    spec=st.lists(
        st.tuples(
            # mostly deltas: chains of 8+ deltas tell a left-to-right sum
            # from numpy's pairwise one
            st.sampled_from(["base", "delta", "delta", "delta"]),
            st.lists(_value, min_size=DIM, max_size=DIM),
            # duplicate, negative and out-of-range indices
            st.lists(st.integers(-2, DIM + 1), min_size=0, max_size=DIM),
            st.integers(0, 10**9).map(lambda k: k / 7e7),
            st.integers(0, 7),
            st.integers(1, 7),
        ),
        min_size=1,
        max_size=14,
    )
)
@example(spec=_long_chain())
def test_replay_bit_equal_to_declarative_fold(spark, spec):
    """Replay == reconstruct_all / reconstruct_latest / reconstruct_at,
    every column bit for bit, on arbitrary timelines: non-dyadic values,
    deltas before any base, repeated bases, duplicate, negative and
    out-of-range sparse indices, uneven sparsity ratios."""
    versions = spark.createDataFrame(_stored_rows("p", spec), VERSIONS_SCHEMA)
    rows = sorted(versions.select(*REPLAY_INPUT).collect(), key=lambda r: r.seq)

    assert _replay_recs(replay_timeline(rows, "all")) == _spark_recs(reconstruct_all(versions))
    assert _replay_recs(replay_timeline(rows, "last")) == _spark_recs(
        reconstruct_latest(versions)
    )
    # point targets, a missing seq on either side included
    targets = spark.createDataFrame(
        [("p", s) for s in range(0, len(spec) + 2)], "content_id string, target_seq int"
    )
    want = _spark_recs(reconstruct_at(versions, targets))
    got = {}
    for s in range(0, len(spec) + 2):
        got.update(_replay_recs(replay_timeline(rows, s)))
    assert got == want


# ---------------------------------------------------------------------------
# facade reads == the Spark composition they replaced
# ---------------------------------------------------------------------------


def _noisy_spec(rng, kinds):
    vec = rng.normal(size=DIM)
    spec = []
    for kind in kinds:
        if kind == "base":
            vec = rng.normal(size=DIM)
            spec.append(("base", vec.tolist(), None, None, None, None))
        else:
            idx = rng.choice(DIM, size=2, replace=False).tolist()
            vals = (rng.normal(size=2) / 3).tolist()
            spec.append(("delta", vals, idx, float(np.hypot(*vals)), 2, DIM))
    return spec


@pytest.fixture(scope="module")
def odd_db(spark, tmp_path_factory):
    """A sidecar-less table (the legacy read path) whose "p" timeline
    starts with two deltas before its first base, with two epochs after
    it; "q" is a plain timeline."""
    rng = np.random.default_rng(11)
    rows = _stored_rows(
        "p", _noisy_spec(rng, ["delta", "delta", "base", "delta", "delta", "delta", "base", "delta"])
    ) + _stored_rows("q", _noisy_spec(rng, ["base", "delta", "delta"]))
    path = str(tmp_path_factory.mktemp("odd") / "versions")
    spark.createDataFrame(rows, VERSIONS_SCHEMA).write.parquet(path)
    return TemporalVectorDatabase(spark, path, TVDBConfig(base_snapshot_interval=4))


def _old_get_version(db, content_id, seq):
    targets = db.spark.createDataFrame([(content_id, seq)], "content_id string, target_seq int")
    v = db.versions().where(F.col("content_id") == content_id)
    rows = with_quality_columns(reconstruct_at(v, targets), db.cfg).collect()
    return rows[0].asDict(recursive=True) if rows else None


def _old_get_latest(db, content_id):
    v = db.versions().where(F.col("content_id") == content_id)
    rows = with_quality_columns(reconstruct_latest(v), db.cfg).collect()
    return rows[0].asDict(recursive=True) if rows else None


def _old_get_version_at_time(db, content_id, t):
    probes = db.spark.createDataFrame(
        [(0, content_id, t)], "probe_id int, content_id string, t timestamp"
    )
    v = db.versions().where(F.col("content_id") == content_id)
    rows = reconstruct_asof(v, probes).collect()
    return rows[0].asDict(recursive=True) if rows else None


def _same(got, want):
    assert (got is None) == (want is None)
    if want is not None:
        assert sorted(got) == sorted(want)
        assert {k: _bits(v) for k, v in got.items()} == {k: _bits(v) for k, v in want.items()}


def test_facade_point_reads_equal_spark_composition(odd_db):
    # 0 and 9 are missing seqs, 1 and 2 precede the first base
    for seq in range(0, 10):
        _same(odd_db.get_version("p", seq), _old_get_version(odd_db, "p", seq))
    assert odd_db.get_version("p", 2) is None and odd_db.get_version("p", 9) is None
    assert odd_db.get_version("p", 6)["cost"] == 3
    _same(odd_db.get_version("q", 3), _old_get_version(odd_db, "q", 3))
    _same(odd_db.get_version("nope", 1), _old_get_version(odd_db, "nope", 1))
    for c in ("p", "q", "nope"):
        _same(odd_db.get_latest_version(c), _old_get_latest(odd_db, c))
    assert odd_db.get_latest_version("p")["target_seq"] == 8


def test_facade_asof_reads_equal_spark_composition(odd_db):
    # before every version, on a stored ts (inclusive), between two, in
    # the pre-base deltas, and after the last version
    instants = [T0, T0 + timedelta(days=1), T0 + timedelta(days=2, hours=5),
                T0 + timedelta(days=3), T0 + timedelta(days=5, hours=1),
                T0 + timedelta(days=40)]
    probes = [("p", t) for t in instants] + [("q", instants[0]), ("q", instants[3]), ("nope", instants[-1])]
    for c, t in probes:
        _same(odd_db.get_version_at_time(c, t), _old_get_version_at_time(odd_db, c, t))
    assert odd_db.get_version_at_time("p", T0) is None
    assert odd_db.get_version_at_time("p", T0 + timedelta(days=2, hours=5)) is None
    assert odd_db.get_version_at_time("p", T0 + timedelta(days=5, hours=1))["target_seq"] == 5


def _noisy_raw(spark, contents, n, start_day=0, seed=3):
    rng = np.random.default_rng(seed)
    rows = []
    for c in contents:
        vec = rng.normal(size=8)
        for k in range(n):
            vec = vec + np.where(rng.random(8) < 0.3, rng.normal(size=8) / 7, rng.normal(size=8) / 900)
            rows.append((c, T0 + timedelta(days=start_day + k), vec.tolist()))
    return spark.createDataFrame(rows, "content_id string, ts timestamp, embedding array<double>")


def test_two_part_append_continues_from_reconstruct_latest(spark):
    """The append's continue-from state is the replay of the stored rows;
    the rows it writes equal those written from the state
    ``reconstruct_latest`` gives: the same append over a stored table cut
    down to that state (its base = the latest reconstruction, then empty
    deltas up to the latest seq) writes the same rows, bit for bit."""
    cfg = TVDBConfig(base_snapshot_interval=4)
    stored = ingest(_noisy_raw(spark, ["a", "b", "c"], 6), cfg)
    part2 = _noisy_raw(spark, ["a", "b", "c", "new"], 5, start_day=10, seed=4)
    got = append_versions(stored, part2, cfg)

    latest = {r.content_id: r for r in reconstruct_latest(stored).collect()}
    cut = []
    for c, r in latest.items():
        cut.append((c, r.base_seq, T0, "base", list(r.embedding), None, None, None, None,
                    None, 8, f"{c}_{r.base_seq}", None))
        for s in range(r.base_seq + 1, r.target_seq + 1):
            cut.append((c, s, T0, "delta", None, [], [], s - 1, 0.0, 0, 8, f"{c}_v{s}", None))
    want = append_versions(spark.createDataFrame(cut, VERSIONS_SCHEMA), part2, cfg)

    def canon(df):
        return sorted(
            tuple(_bits(v) if k != "metadata" else v for k, v in r.asDict().items())
            for r in df.collect()
        )

    assert canon(got) == canon(want)
    # and directly: each continued content's first new row is seq+1, a
    # delta against reconstruct_latest's embedding
    raw2 = {r.content_id: r.embedding for r in part2.where(F.col("ts") == T0 + timedelta(days=10)).collect()}
    for r in got.where(F.col("seq") == 7).collect():
        L = latest[r.content_id]
        assert L.target_seq == 6
        if r.kind == "delta":
            diff = np.asarray(raw2[r.content_id]) - np.asarray(L.embedding)
            assert list(r.sparse_val) == diff[list(r.sparse_idx)].tolist()
    assert sorted(r.seq for r in got.where(F.col("content_id") == "new").collect()) == [1, 2, 3, 4, 5]


# ---------------------------------------------------------------------------
# serving cost: jobs per facade call, nothing left cached, schema sidecar
# ---------------------------------------------------------------------------


def _calls(spark, fn):
    """(jobs run, persisted RDDs added, result) of one call."""
    sc = spark.sparkContext
    st_ = sc.statusTracker()
    jobs0 = set(st_.getJobIdsForGroup(None))
    rdds0 = set(sc._jsc.getPersistentRDDs().keys())
    out = fn()
    jobs = set(st_.getJobIdsForGroup(None)) - jobs0
    return len(jobs), set(sc._jsc.getPersistentRDDs().keys()) - rdds0, out


@pytest.fixture(scope="module")
def served_db(spark, tmp_path_factory):
    db = TemporalVectorDatabase(
        spark, str(tmp_path_factory.mktemp("served") / "versions"), TVDBConfig(base_snapshot_interval=5)
    )
    db.add_versions(_noisy_raw(spark, ["a", "b", "c"], 9))
    return db


def test_facade_reads_cost_one_timeline(spark, served_db):
    db = served_db
    jobs, cached, res = _calls(spark, lambda: db.get_version("b", 8))
    assert res["target_seq"] == 8 and jobs <= 2 and not cached
    jobs, cached, res = _calls(spark, lambda: db.get_version_at_time("b", T0 + timedelta(days=4)))
    assert res["target_seq"] == 5 and jobs <= 2 and not cached
    jobs, cached, res = _calls(spark, lambda: db.get_latest_version("b"))
    assert res["target_seq"] == 9 and jobs <= 2 and not cached
    _, cached, res = _calls(spark, lambda: db.get_content_statistics("b"))
    assert res["versions_analyzed"] == 9 and not cached
    _, cached, res = _calls(spark, lambda: db.get_version_range("b", 2, 7).collect())
    assert sorted(r.target_seq for r in res) == [2, 3, 4, 5, 6, 7] and not cached
    # the read names the sidecar's schema: no footer-merge job
    jobs, _, _ = _calls(spark, db.versions)
    assert jobs == 0


def test_writes_release_what_they_cache(spark, served_db):
    db = served_db
    _, index_rdds, hits = _calls(spark, lambda: db.search_similar_content([1.0] * 8, k=2))
    assert hits and len(index_rdds) == 1  # the live search index, nothing else
    _, cached, n = _calls(spark, lambda: db.add_versions(_noisy_raw(spark, ["a"], 2, start_day=30)))
    assert n == 2 and not cached  # the append caches nothing
    # the superseded index is released, not just dropped
    assert not (set(spark.sparkContext._jsc.getPersistentRDDs().keys()) & index_rdds)
    _, cached, hits = _calls(spark, lambda: db.search_similar_content([1.0] * 8, k=2))
    assert hits and len(cached) == 1  # only the rebuilt index


def test_schema_sidecar_fallback_and_additive_evolution(spark, tmp_path):
    db = TemporalVectorDatabase(spark, str(tmp_path / "versions"), TVDBConfig())
    db.add_versions(_noisy_raw(spark, ["a"], 3))
    meta_path = os.path.join(db.table_path, "_tvdb_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    schema = db.versions().schema
    assert [f["name"] for f in meta["schema"]["fields"]] == schema.names

    # a sidecar from before schemas were recorded: the footer merge reads
    # the table, and the next write records the schema
    legacy = dict(meta)
    del legacy["schema"]
    with open(meta_path, "w") as f:
        json.dump(legacy, f)
    jobs, _, v = _calls(spark, db.versions)
    assert jobs >= 1 and v.count() == 3
    db.add_versions(_noisy_raw(spark, ["a"], 1, start_day=20))
    with open(meta_path) as f:
        assert "schema" in json.load(f)
    jobs, _, v = _calls(spark, db.versions)
    assert jobs == 0 and v.schema == schema

    # a recorded schema that predates a column gains it on the next write
    # that brings it; older files read it as null
    narrow = dict(meta)
    narrow["schema"] = {**meta["schema"], "fields": [f for f in meta["schema"]["fields"] if f["name"] != "metadata"]}
    with open(meta_path, "w") as f:
        json.dump(narrow, f)
    assert "metadata" not in db.versions().columns
    db.add_content_version("a", [0.0] * 8, timestamp=T0 + timedelta(days=50), metadata={"k": "v"})
    assert "metadata" in db.versions().columns
    row = db.versions().where(F.col("seq") == 5).first()
    assert row.metadata["k"] == "v"
