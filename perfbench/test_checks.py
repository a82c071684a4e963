"""Tests of the benchmark's own checkers and generators; no Spark session.

    python3 -m pytest -q perfbench/test_checks.py

Each checker must accept the right answer and reject a deliberately wrong
one: a perturbed vector, a wrong as-of sequence, a swapped top-k id, a
dropped planted pair, a returned pair below its threshold.
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import numpy as np

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)),
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

import check  # noqa: E402
import gen  # noqa: E402

THRESHOLD = 0.01


def test_vector_rejects_perturbation():
    want = np.linspace(-1, 1, 16)
    assert check.vector(list(want + 0.009), want, THRESHOLD, "v") == []
    bad = want.copy()
    bad[3] += 2 * THRESHOLD
    assert check.vector(list(bad), want, THRESHOLD, "v")
    assert check.vector(list(want[:-1]), want, THRESHOLD, "v")
    assert check.vector(None, want, THRESHOLD, "v")


def test_governing_seq_is_inclusive():
    ts = [gen.T0 + i * gen.STEP for i in range(4)]
    assert check.governing_seq(ts, ts[0] - gen.STEP) is None
    assert check.governing_seq(ts, ts[0]) == 1
    assert check.governing_seq(ts, ts[2] + gen.STEP / 2) == 3
    assert check.governing_seq(ts, ts[3] + gen.STEP) == 4


def test_read_check_rejects_wrong_asof_sequence():
    from workloads import TimelineServe

    tl = gen.make_timelines(np.random.default_rng(0), 3, 5, 16)
    wl = TimelineServe.__new__(TimelineServe)
    wl.tl, wl.threshold = tl, THRESHOLD
    right = {"target_seq": 3, "embedding": list(tl.vecs[1][2])}
    assert wl._check_read(right, 1, 3, "as-of") == []
    assert wl._check_read({**right, "target_seq": 2}, 1, 3, "as-of")
    assert wl._check_read({**right, "embedding": list(tl.vecs[1][1])}, 1, 3, "as-of")
    assert wl._check_read(None, 1, 3, "as-of")


def test_topk_rejects_swapped_ids_and_accepts_ties():
    rng = np.random.default_rng(1)
    mat = rng.standard_normal((20, 8))
    ids = [(f"c{i}", 1) for i in range(20)]
    want = check.topk(ids, mat, mat[4] + 0.1, 5)
    assert want[0][0] == ("c4", 1) and len(want) == 5
    assert check.topk_matches(list(want), want, "q") == []
    swapped = [(want[1][0], want[0][1]), (want[0][0], want[1][1])] + want[2:]
    assert check.topk_matches(swapped, want, "q")
    assert check.topk_matches(want[:4], want, "q")
    tied = [(("a", 1), 0.5), (("b", 1), 0.5)]
    assert check.topk_matches([tied[1], tied[0]], tied, "q") == []


def test_topk_matches_numpy_with_planted_best():
    mat = np.eye(4)
    got = check.topk([("a", 1), ("b", 1), ("c", 1), ("d", 1)], mat, np.array([0, 2, 1, -1.0]), 3)
    assert [i for i, _ in got] == [("b", 1), ("c", 1)]  # sim > 0 only


def test_pairs_rejects_dropped_and_sub_threshold_pairs():
    texts = {1: "alpha beta gamma delta", 2: "alpha beta gamma delts", 3: "zzz yyy xxx"}
    required = {(1, 2)}
    assert check.pairs({(1, 2)}, required, texts, "jaccard", 0.5, "j") == []
    assert check.pairs(set(), required, texts, "jaccard", 0.5, "j")
    assert check.pairs({(1, 2), (1, 3)}, required, texts, "jaccard", 0.5, "j")
    # containment: (container, contained)
    texts[4] = "prefix words alpha beta gamma delta suffix words"
    assert check.pairs({(4, 1)}, {(4, 1)}, texts, "contained", 0.8, "c") == []
    assert check.pairs({(1, 4)}, {(1, 4)}, texts, "contained", 0.8, "c")


def test_bulk_checks_reject_wrong_answers():
    from workloads import TimelineBulk

    tl = gen.make_timelines(np.random.default_rng(2), 4, 12, 16)
    wl = TimelineBulk.__new__(TimelineBulk)
    wl.tl, wl.cfg = tl, SimpleNamespace(base_snapshot_interval=10, sparsity_threshold=THRESHOLD)
    wl.index_of = {cid: i for i, cid in enumerate(tl.ids)}
    wl.n_rows = tl.n_versions()
    rows = [(cid, s, (s - 1) % 10, list(tl.vecs[c][s - 1]))
            for c, cid in enumerate(tl.ids) for s in range(1, 13)]
    assert wl._check_all(rows, None) == []
    assert wl._check_all(rows[:-1], None)
    wrong_cost = [rows[0][:2] + (1,) + rows[0][3:]] + rows[1:]
    assert wl._check_all(wrong_cost, None)
    assert wl._check_all(rows, 4)  # chain cost 9 > max_cost 4

    wl.probe_want = {0: (1, 5)}
    probe = SimpleNamespace(probe_id=0, target_seq=5, embedding=list(tl.vecs[1][4]))
    assert wl._check_asof([probe]) == []
    assert wl._check_asof([SimpleNamespace(**{**vars(probe), "target_seq": 4})])

    wl.N_CONTENTS, wl.n_bases, wl.advice_want = 4, 8, {("c00000", 7)}
    ok = ([SimpleNamespace(valid=True)] * 4,
          SimpleNamespace(total_contents=4, total_base_snapshots=8, total_deltas=40),
          [SimpleNamespace(content_id="c00000", seq=7)])
    assert wl._check_report(ok) == []
    assert wl._check_report(([SimpleNamespace(valid=False)] + ok[0][1:],) + ok[1:])
    assert wl._check_report(ok[:2] + ([],))


def test_timeline_generator_keeps_bases_on_the_interval_rule():
    tl = gen.make_timelines(np.random.default_rng(3), 5, 25, 32)
    for vs in tl.vecs:
        for a, b in zip(vs, vs[1:]):
            changed = np.abs(b - a) >= THRESHOLD
            assert 0 < changed.sum() <= 0.7 * 32  # never the sparsity promotion
            assert ((np.abs(b - a) > 0) & ~changed).any()  # sub-threshold residue
    ids, mat = tl.bases(10)
    assert [s for cid, s in ids if cid == "c00000"] == [1, 11, 21]
    assert mat.shape == (15, 32)


def test_document_generator_plants_pairs_clear_of_thresholds():
    d1 = gen.make_docs(np.random.default_rng(4), 60, 8, 8, 10)
    d2 = gen.make_docs(np.random.default_rng(4), 60, 8, 8, 10)
    assert d1 == d2  # same seed, same inputs
    texts = dict(d1.corpus) | dict(d1.evals)
    assert all(gen.jaccard(texts[a], texts[b]) >= 0.75 for a, b in d1.near_pairs)
    assert all(gen.containment(texts[s], texts[c]) == 1.0 for s, c in d1.contained_pairs)
    assert all(gen.jaccard(texts[c], texts[e]) >= 0.75 for c, e in d1.eval_copies.items())
    assert all(gen.containment(texts[e], texts[c]) == 1.0 for c, e in d1.contaminated.items())
    assert all(gen.jaccard(texts[c], texts[e]) < 0.5 for c, e in d1.contaminated.items())
    assert all(gen.jaccard(texts[s], texts[c]) < 0.5 for s, c in d1.contained_pairs)
    base = [t for i, t in d1.corpus[:60]]
    assert max(gen.jaccard(base[0], t) for t in base[1:]) < 0.2


if __name__ == "__main__":
    import pytest

    sys.exit(pytest.main(["-q", __file__]))
