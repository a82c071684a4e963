"""V2 integrity + A1-A5/O12 statistics over the corrupt fixtures."""

from pyspark.sql import functions as F

from temporal_vector_database_spark.operators.integrity import (
    dangling_deltas,
    missing_sequences,
    validate_timeline_integrity,
)
from temporal_vector_database_spark.operators.stats import (
    change_statistics,
    list_content_ids,
    optimize_content_bases,
    reconstruction_statistics,
    storage_efficiency,
    storage_statistics,
)


def test_missing_sequences(versions):
    m = {(r.content_id, r.seq) for r in missing_sequences(versions).collect()}
    assert ("corrupt1", 4) in m
    assert ("corrupt2", 1) in m
    assert not any(c.startswith("c0") for c, _ in m)


def test_dangling_deltas(versions):
    d = {(r.content_id, r.seq) for r in dangling_deltas(versions).collect()}
    assert ("corrupt1", 5) in d  # delta 5 references missing seq 4
    assert ("corrupt2", 2) in d  # delta 2 references dropped base 1
    assert not any(c.startswith("c0") for c, _ in d)


def test_validity_flags(versions):
    v = {r.content_id: r for r in validate_timeline_integrity(versions).collect()}
    assert not v["corrupt1"].valid
    assert not v["corrupt2"].valid
    assert v["c00000"].valid
    assert v["c00000"].max_base_gap == 5
    assert v["longchain"].max_base_gap is None  # single base → no gap rows


def test_change_statistics(versions):
    s = {r.content_id: r for r in change_statistics(versions).collect()}
    c = s["c00000"]
    assert c.max_sequence == 12 and c.base_count == 3 and c.delta_count == 9
    assert c.min_change_magnitude > 0
    assert c.avg_change_magnitude <= c.max_change_magnitude


def test_storage_statistics(versions):
    row = storage_statistics(versions).collect()[0]
    assert row.total_contents == versions.select("content_id").distinct().count()
    assert row.total_base_snapshots + row.total_deltas == versions.count()
    eff = storage_efficiency(versions).collect()[0].storage_efficiency
    # reference bar is >5x at dim 384 / ~10% changed dims (test_week1.py:237);
    # fixtures are dim 64 with ~22% changed dims → expected ratio ~1.7
    assert eff > 1.5


def test_reconstruction_statistics_and_advisor(versions):
    rs = {r.content_id: r for r in reconstruction_statistics(versions).collect()}
    lc = rs["longchain"]
    assert lc.max_reconstruction_cost == 11
    assert not lc.recommended_base_promotion  # flag fires at > 15 (recon_service.py:413)
    assert rs["c00000"].max_reconstruction_cost == 4  # interval-5 epochs


def test_advisor(versions):
    rec = optimize_content_bases(versions, max_cost=10)
    rows = rec.collect()
    assert all(r.content_id == "longchain" for r in rows)
    assert sorted(r.seq for r in rows) == [12]  # cost 11 at seq 12 only


def test_list_content_ids(versions):
    ids = [r.content_id for r in list_content_ids(versions).collect()]
    assert ids == sorted(ids)
    assert "c00000" in ids and "longchain" in ids


def test_invalid_reconstruction_targets(spark, versions):
    from temporal_vector_database_spark.operators.integrity import (
        invalid_reconstruction_targets,
    )
    from temporal_vector_database_spark.operators.reconstruct import reconstruct_at

    targets = spark.createDataFrame(
        [
            ("c00000", 1),        # valid
            ("c00000", 999),      # beyond latest
            ("nope", 1),          # unknown content
            ("corrupt2", 2),      # first base missing -> nothing at-or-before
        ],
        "content_id string, target_seq int",
    )
    bad = {
        (r.content_id, r.target_seq): r.reason
        for r in invalid_reconstruction_targets(versions, targets).collect()
    }
    assert bad[("c00000", 999)] == "beyond_latest"
    assert bad[("nope", 1)] == "unknown_content"
    assert bad[("corrupt2", 2)] == "no_base_at_or_before_target"
    assert ("c00000", 1) not in bad
    # reconstruct_at silently omits exactly the invalid ones
    got = {(r.content_id, r.target_seq) for r in reconstruct_at(versions, targets).collect()}
    assert got == {("c00000", 1)}


def test_storage_tiering_report_exact_buckets(spark):
    """r08: whole-day age tiers behind the newest day; logical float
    accounting follows the storage_efficiency convention (dense bases,
    2*nnz deltas); n_latest counts each content's max-seq row in its
    tier; bad bounds raise."""
    from datetime import datetime, timedelta

    import pytest as _pytest

    from temporal_vector_database_spark.operators.stats import (
        storage_tiering_report,
    )

    t0 = datetime(2025, 6, 1)
    rows = [
        # content A: base day0 (age 9 -> cold), delta day5 (age 4 ->
        # warm), delta day9 = newest (age 0 -> hot, latest)
        ("A", 1, t0, "base", 8, None),
        ("A", 2, t0 + timedelta(days=5), "delta", 8, 3),
        ("A", 3, t0 + timedelta(days=9), "delta", 8, 2),
        # content B: base day8 (age 1 -> hot, latest is seq 2 below)
        ("B", 1, t0 + timedelta(days=8), "base", 8, None),
        ("B", 2, t0 + timedelta(days=9), "delta", 8, 1),
    ]
    v = spark.createDataFrame(
        rows,
        "content_id string, seq int, ts timestamp, kind string,"
        " total_dims int, n_changed int",
    )
    got = {
        r.tier: r
        for r in storage_tiering_report(v, hot_days=3, warm_days=7).collect()
    }
    assert set(got) == {"hot", "warm", "cold"}
    h, w, c = got["hot"], got["warm"], got["cold"]
    assert (h.n_versions, h.n_bases, h.n_deltas) == (3, 1, 2)
    assert h.floats_stored == 8 + 2 * 2 + 2 * 1  # B base + A d3 + B d2
    assert h.n_latest == 2 and h.n_contents == 2
    assert (w.n_versions, w.floats_stored, w.n_latest) == (1, 6, 0)
    assert (c.n_versions, c.n_bases, c.floats_stored) == (1, 1, 8)

    with _pytest.raises(ValueError, match="hot_days"):
        storage_tiering_report(v, hot_days=7, warm_days=7)


def test_duplicate_seq_row_marks_timeline_invalid(versions):
    """Fault injection: one content gains a second row at an existing
    ``seq`` (two appends that continued from the same head). Integrity
    reports that content invalid and leaves every other report row as it
    was."""
    clean = {r.content_id: r.asDict() for r in validate_timeline_integrity(versions).collect()}
    assert clean["c00000"]["valid"]
    dup = versions.where((F.col("content_id") == "c00000") & (F.col("seq") == 7))
    assert dup.count() == 1
    faulty = {
        r.content_id: r.asDict()
        for r in validate_timeline_integrity(versions.unionByName(dup)).collect()
    }
    assert faulty["c00000"]["valid"] is False
    # the injected row is no gap and no dangling delta: only the flag moves
    assert faulty["c00000"]["n_missing"] == 0 and faulty["c00000"]["n_dangling"] == 0
    assert {c: r for c, r in faulty.items() if c != "c00000"} == {
        c: r for c, r in clean.items() if c != "c00000"
    }
