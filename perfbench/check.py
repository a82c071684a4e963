"""Output checks computed apart from the engine (numpy and plain Python).

Each checker returns a list of problems; an empty list means the output
is correct. The workloads count an operation as failed when its checker
reports any problem.
"""

from __future__ import annotations

import bisect
from datetime import datetime

import numpy as np

from gen import containment, jaccard

VEC_SLACK = 1e-9  # float accumulation over a delta chain
SIM_EPS = 1e-9


def vector(got, want: np.ndarray, threshold: float, what: str) -> list[str]:
    """A reconstruction may differ from the raw vector by the encoder's
    carried sub-threshold residue, never by the threshold or more."""
    if got is None:
        return [f"{what}: no embedding"]
    g = np.asarray(got, dtype=np.float64)
    if g.shape != want.shape:
        return [f"{what}: shape {g.shape} != {want.shape}"]
    err = float(np.max(np.abs(g - want)))
    if not err < threshold + VEC_SLACK:
        return [f"{what}: max abs error {err:.3g} >= {threshold}"]
    return []


def governing_seq(ts: list[datetime], t: datetime) -> int | None:
    """As-of resolution: the largest 1-based seq with ``ts <= t``."""
    i = bisect.bisect_right(ts, t)
    return i if i > 0 else None


def topk(base_ids: list, base_mat: np.ndarray, q: np.ndarray, k: int) -> list[tuple]:
    """Brute-force cosine top-k, ``sim > 0`` only, ties by id."""
    sims = (base_mat @ q) / (np.linalg.norm(base_mat, axis=1) * np.linalg.norm(q))
    order = sorted(range(len(base_ids)), key=lambda i: (-sims[i], base_ids[i]))
    return [(base_ids[i], float(sims[i])) for i in order[:k] if sims[i] > 0]


def topk_matches(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    """``got``/``want``: ranked [(id, sim)]. Sims must agree within float
    noise; ids must agree except between entries whose sims tie."""
    if len(got) != len(want):
        return [f"{what}: {len(got)} results, want {len(want)}"]
    for r, ((gid, gs), (wid, ws)) in enumerate(zip(got, want)):
        if abs(gs - ws) > SIM_EPS:
            return [f"{what}: rank {r + 1} sim {gs!r} != {ws!r}"]
        if gid != wid and not any(
            wid2 == gid and abs(ws2 - ws) <= SIM_EPS for wid2, ws2 in want
        ):
            return [f"{what}: rank {r + 1} id {gid} != {wid}"]
    return []


def pairs(got: set, required: set, texts: dict, measure: str, threshold: float,
          what: str) -> list[str]:
    """Every required pair is returned, and every returned pair meets the
    threshold under the exact string-shingle measure. Pairs are unordered
    for ``jaccard`` and ``either`` (containment in either direction);
    ``(container, contained)`` for ``contained``."""
    problems = []
    missing = required - got
    if missing:
        problems.append(f"{what}: {len(missing)} planted pairs missing, e.g. {sorted(missing)[0]}")
    for a, b in sorted(got):
        if measure == "jaccard":
            v = jaccard(texts[a], texts[b])
        elif measure == "either":
            v = max(containment(texts[a], texts[b]), containment(texts[b], texts[a]))
        else:
            v = containment(texts[b], texts[a])
        if v < threshold:
            problems.append(f"{what}: pair {(a, b)} has {measure} {v:.4f} < {threshold}")
            break
    return problems


def unordered(ps) -> set:
    return {(min(a, b), max(a, b)) for a, b in ps}
