"""Facade parity: the reference's public API surface
(storage/temporal_database.py) over parquet storage, including the
incremental append path continuing stored timelines."""

from datetime import datetime, timedelta

import numpy as np
import pytest
from pyspark.sql import functions as F

from temporal_vector_database_spark.api import TemporalVectorDatabase
from temporal_vector_database_spark.config import TVDBConfig

CFG = TVDBConfig(base_snapshot_interval=5)
T0 = datetime(2025, 1, 1)


def _raw(spark, contents=("a", "b"), n=12, dim=16, start_seq=1):
    rows = []
    for ci, c in enumerate(contents):
        rng = np.random.default_rng(1000 + ci)
        vec = np.round(rng.normal(size=dim) * 128) / 128
        # advance deterministically to the state right before start_seq
        for k in range(1, start_seq + n):
            if k > 1:
                noise = np.zeros(dim)
                dims = rng.choice(dim, size=3, replace=False)
                noise[dims] = rng.integers(2, 4, size=3) / 128
                vec = vec + noise
            if k >= start_seq:
                rows.append((c, T0 + timedelta(days=k - 1), [float(x) for x in vec]))
    return spark.createDataFrame(rows, "content_id string, ts timestamp, embedding array<double>")


@pytest.fixture()
def db(spark, tmp_path):
    return TemporalVectorDatabase(spark, str(tmp_path / "versions"), CFG)


def test_write_read_roundtrip(db, spark):
    raw = _raw(spark, n=12)
    assert db.add_versions(raw) == 24
    assert db.list_content_ids() == ["a", "b"]
    # interval-5 promotion → bases {1, 6, 11} (reference tests/test_week2.py:409-434)
    bases = sorted(
        r.seq for r in db.versions().where((F.col("content_id") == "a") & (F.col("kind") == "base")).collect()
    )
    assert bases == [1, 6, 11]
    # v7 reconstructs from base 6 with cost 1 (reference asserts cost < 5)
    res = db.get_version("a", 7)
    assert res["base_seq"] == 6 and res["cost"] == 1
    # reconstruction equals the raw input exactly (dyadic-grid arithmetic)
    from pyspark.sql import Window

    truth = {r.seq: r.embedding for r in raw.where(F.col("content_id") == "a").withColumn(
        "seq", F.row_number().over(Window.partitionBy("content_id").orderBy("ts"))
    ).collect()}
    assert res["embedding"] == list(truth[7])


def test_incremental_append_continues_timeline(db, spark):
    db.add_versions(_raw(spark, n=7))
    db.add_versions(_raw(spark, n=5, start_seq=8))
    v = db.versions().where(F.col("content_id") == "a")
    seqs = sorted(r.seq for r in v.select("seq").collect())
    assert seqs == list(range(1, 13))
    bases = sorted(r.seq for r in v.where(F.col("kind") == "base").collect())
    assert bases == [1, 6, 11]  # promotion policy unaware of the append split
    latest = db.get_latest_version("a")
    assert latest["target_seq"] == 12 and latest["base_seq"] == 11


def test_point_and_asof_and_id_lookups(db, spark):
    db.add_versions(_raw(spark, n=12))
    assert db.get_version_by_id("a_v7")["target_seq"] == 7
    asof = db.get_version_at_time("a", T0 + timedelta(days=4, hours=12))
    assert asof["target_seq"] == 5  # inclusive as-of → seq 5
    assert db.get_version_at_time("a", T0 - timedelta(days=1)) is None
    rng_df = db.get_version_range("a", 2, 4)
    assert sorted(r.target_seq for r in rng_df.collect()) == [2, 3, 4]


def test_single_version_insert_and_search(db, spark):
    db.add_versions(_raw(spark, n=12))
    ok, seq = db.add_content_version("a", [0.5] * 16, timestamp=T0 + timedelta(days=40))
    assert ok and seq == 13
    first_base = db.versions().where((F.col("content_id") == "a") & (F.col("seq") == 1)).first()
    hits = db.search_similar_content(list(first_base.embedding), k=3)
    assert hits and hits[0][0] == "a" and hits[0][1] == 1 and hits[0][2] > 0.999
    stats = db.get_storage_statistics()
    assert stats["total_contents"] == 2
    integ = {r.content_id: r.valid for r in db.validate_timeline_integrity().collect()}
    assert integ == {"a": True, "b": True}


def test_metadata_merge_quirk(db, spark):
    db.add_versions(_raw(spark, contents=("a",), n=2))
    latest = db.get_latest_version("a")["embedding"]
    nxt = list(latest)
    nxt[0] += 2 / 128
    nxt[5] -= 3 / 128
    ok, seq = db.add_content_version(
        "a", nxt, timestamp=T0 + timedelta(days=30),
        metadata={"source": "unit", "total_dimensions": "override"},
    )
    assert ok and seq == 3
    row = db.versions().where((F.col("content_id") == "a") & (F.col("seq") == 3)).first()
    assert row.kind == "delta"
    # encoder stats present, user keys win (reference quirk #12)
    assert row.metadata["source"] == "unit"
    assert row.metadata["total_dimensions"] == "override"
    assert row.metadata["dimensions_changed"] == str(row.n_changed)
    base = db.versions().where((F.col("content_id") == "a") & (F.col("seq") == 1)).first()
    assert base.metadata is None


def test_facade_compact_and_truncate(db, spark):
    # a long chain: one base + 14 deltas via interval-100 override
    import numpy as np

    rng = np.random.default_rng(5)
    vec = np.round(rng.normal(size=16) * 128) / 128
    rows = []
    for k in range(1, 16):
        if k > 1:
            noise = np.zeros(16)
            dims = rng.choice(16, size=3, replace=False)
            noise[dims] = rng.integers(2, 4, size=3) / 128
            vec = vec + noise
        rows.append(("lc", T0 + timedelta(days=k), [float(x) for x in vec], False, 100))
    raw = spark.createDataFrame(
        rows,
        "content_id string, ts timestamp, embedding array<double>, "
        "force_base boolean, base_interval int",
    )
    db.add_versions(raw)
    latest_before = db.get_latest_version("lc")
    assert latest_before["cost"] > 10  # advisor-worthy chain
    n = db.compact()
    assert n > 0
    latest_after = db.get_latest_version("lc")
    assert latest_after["embedding"] == latest_before["embedding"]
    assert latest_after["cost"] <= 10
    removed = db.truncate_before(T0 + timedelta(days=8))
    assert removed > 0
    still = db.get_latest_version("lc")
    assert still["embedding"] == latest_before["embedding"]


def test_config_persists_across_sessions(db, spark, tmp_path):
    """Reference parity: a reopened DB keeps the policy it was created
    with (HDF5 attrs, storage/storage_engine.py:70-81) — here via the
    _tvdb_meta.json table sidecar."""
    db.add_versions(_raw(spark, n=12, dim=16))

    reopened = TemporalVectorDatabase.open(spark, db.table_path)
    assert reopened.cfg == CFG  # interval-5 survived, not the default 10
    assert reopened.embedding_dim == 16

    # appends through the reopened handle keep the stored interval:
    # seq 13..16 with interval 5 → base at 16 ((16-1) % 5 == 0)
    reopened.add_versions(_raw(spark, contents=("a",), n=4, start_seq=13))
    kinds = {
        r.seq: r.kind
        for r in reopened.versions().where(F.col("content_id") == "a").collect()
    }
    assert kinds[16] == "base" and kinds[13] == kinds[14] == kinds[15] == "delta"

    # an explicit cfg still overrides; a sidecar-less table falls back to defaults
    assert TemporalVectorDatabase.open(spark, db.table_path, TVDBConfig()).cfg == TVDBConfig()
    bare = str(tmp_path / "bare")
    TemporalVectorDatabase(spark, bare, TVDBConfig()).add_versions(
        _raw(spark, contents=("z",), n=2)
    )
    import os

    os.remove(os.path.join(bare, "_tvdb_meta.json"))
    assert TemporalVectorDatabase.open(spark, bare).cfg == TVDBConfig()


def test_get_version_at_sequence_metadata_only(db, spark):
    """Reference parity (core/data_structures.py:204-211): base rows
    return (embedding, version_id, True); delta rows return
    (None, version_id, False) WITHOUT reconstructing; missing → None."""
    db.add_versions(_raw(spark, n=12))
    emb, vid, is_base = db.get_version_at_sequence("a", 6)  # base (interval 5)
    # base ids are {content}_{timestamp} (reference data_structures.py:39),
    # delta ids are {content}_v{seq} (:104)
    assert is_base and vid.startswith("a_") and "_v" not in vid and len(emb) > 0
    emb7, vid7, is_base7 = db.get_version_at_sequence("a", 7)  # delta row
    assert emb7 is None and vid7 == "a_v7" and not is_base7
    assert db.get_version_at_sequence("a", 99) is None
    assert db.get_version_at_sequence("nope", 1) is None


def test_facade_diff_and_snapshot_export(db, spark, tmp_path):
    raw = _raw(spark, n=12)
    db.add_versions(raw)
    # diff between day 3 (seq 4) and day 8 (seq 9): every content moved
    d = {r.content_id: r for r in db.diff_between(
        T0 + timedelta(days=3), T0 + timedelta(days=8)).collect()}
    assert set(d) == {"a", "b"}
    assert all(r.seq_a == 4 and r.seq_b == 9 and r.n_changed > 0 for r in d.values())

    # snapshot export at day 8: one row per content, seq 9 states,
    # bucket layout on disk
    out = db.export_snapshot(T0 + timedelta(days=8), str(tmp_path / "snap"), buckets=4)
    snap = spark.read.parquet(out)
    assert snap.count() == 2
    assert {r.target_seq for r in snap.select("target_seq").collect()} == {9}
    assert "bucket" in snap.columns


def test_facade_retention_dryrun_verify_and_tiering(db, spark, tmp_path):
    """r08 facade additions: retention_dryrun matches a later
    truncate_before; exported snapshots carry a verifiable manifest;
    storage_tiering reports every version row exactly once."""
    raw = _raw(spark, n=12)
    db.add_versions(raw)

    cutoff = T0 + timedelta(days=7, hours=1)
    rep = {r.content_id: r for r in db.retention_dryrun(cutoff).collect()}
    assert set(rep) == {"a", "b"}
    total_before = db.versions().count()
    removed = db.truncate_before(cutoff)
    assert removed == sum(r.n_dropped for r in rep.values())
    assert db.versions().count() == sum(r.n_survivors for r in rep.values())
    assert total_before - removed == db.versions().count()

    out = db.export_snapshot(cutoff, str(tmp_path / "snap_v"), buckets=4)
    res = db.verify_snapshot(out)
    assert res["ok"] and res["manifest_rows"] == res["actual_rows"] == 2

    tiers = db.storage_tiering(hot_days=2, warm_days=4).collect()
    assert sum(r.n_versions for r in tiers) == db.versions().count()
    assert sum(r.n_latest for r in tiers) == 2


def test_rewrites_keep_the_sidecar(db, spark):
    """compact() and truncate_before() overwrite the table directory; the
    sidecar survives them: a reopened DB keeps its config and dimension,
    and reads keep naming the recorded schema."""
    import json
    import os

    db.add_versions(_raw(spark, contents=("a",), n=12))
    before, schema = db._meta(), db.versions().schema
    assert db.compact(max_cost=2) > 0
    assert db.truncate_before(T0 + timedelta(days=3)) > 0
    after = db._meta()
    assert after.pop("schema") and before.pop("schema")
    assert after == before and db.versions().schema == schema
    reopened = TemporalVectorDatabase.open(spark, db.table_path)
    assert reopened.cfg == CFG and reopened.embedding_dim == 16
    with open(os.path.join(db.table_path, "_tvdb_meta.json")) as f:
        assert json.load(f)["schema"]["fields"]
