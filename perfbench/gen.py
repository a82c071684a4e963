"""Seeded input generators. The same seed gives the same inputs.

Timelines: each content starts from a Gaussian vector; every later
version moves a tenth of the dimensions by 0.05-0.5 (far above the 0.01
sparsity threshold) and nudges all others by less than the threshold, so
the encoder carries sub-threshold residue forward. No step changes more
than 70 % of the dimensions and the interval rule caps every base gap, so
bases sit exactly at ``(seq - 1) % interval == 0``.

Documents: words from a seeded vocabulary of pseudo-words. Planted
near-duplicates have exact 7-character-shingle Jaccard >= 0.75 against a
0.5 threshold, contained copies have containment 1.0 against 0.8, and
unrelated documents share almost no shingles — every planted pair sits
well clear of each threshold, so no check hinges on a 32-bit shingle-hash
collision.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np

T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
STEP = timedelta(hours=1)


def drift(rng: np.random.Generator, vec: np.ndarray) -> np.ndarray:
    """One version step: a tenth of the dims move by 0.05-0.5, every other
    dim by less than the sparsity threshold (their sum crosses it now and
    then, which only a residue-carrying encoder reconstructs in tolerance)."""
    dim = vec.shape[0]
    out = vec + rng.uniform(-0.006, 0.006, dim)
    big = rng.choice(dim, size=max(1, dim // 10), replace=False)
    out[big] = vec[big] + rng.uniform(0.05, 0.5, big.shape[0]) * rng.choice([-1.0, 1.0], big.shape[0])
    return out


@dataclass
class Timelines:
    """Ground truth of every stored version: raw vector and timestamp."""

    ids: list[str]
    vecs: list[list[np.ndarray]] = field(default_factory=list)
    ts: list[list[datetime]] = field(default_factory=list)

    def rows(self) -> list[tuple]:
        return [
            (cid, t, v.tolist())
            for cid, vs, ts in zip(self.ids, self.vecs, self.ts)
            for v, t in zip(vs, ts)
        ]

    def n_versions(self) -> int:
        return sum(len(v) for v in self.vecs)

    def extend(self, rng: np.random.Generator, which: list[int], t: datetime) -> list[tuple]:
        """Append one drifted version at ``t`` to each content in ``which``;
        returns the raw rows to write."""
        out = []
        for c in which:
            v = drift(rng, self.vecs[c][-1])
            self.vecs[c].append(v)
            self.ts[c].append(t)
            out.append((self.ids[c], t, v.tolist()))
        return out

    def bases(self, interval: int) -> tuple[list[tuple[str, int]], np.ndarray]:
        """Base snapshots under the interval rule: ids and raw vectors."""
        ids, mat = [], []
        for cid, vs in zip(self.ids, self.vecs):
            for s in range(1, len(vs) + 1, interval):
                ids.append((cid, s))
                mat.append(vs[s - 1])
        return ids, np.asarray(mat)


def make_timelines(rng: np.random.Generator, n: int, versions: int, dim: int) -> Timelines:
    tl = Timelines(ids=[f"c{c:05d}" for c in range(n)])
    for c in range(n):
        v = rng.standard_normal(dim)
        vs, ts = [v], [T0 + timedelta(seconds=c)]
        for s in range(1, versions):
            v = drift(rng, v)
            vs.append(v)
            ts.append(T0 + s * STEP + timedelta(seconds=c))
        tl.vecs.append(vs)
        tl.ts.append(ts)
    return tl


def asof_probes(rng: np.random.Generator, tl: Timelines, n: int) -> list[tuple[int, str, datetime]]:
    """(probe_id, content_id, t) with ``t`` between a content's first and
    last version; a third land exactly on a stored timestamp (the
    inclusive edge)."""
    out = []
    for p in range(n):
        c = int(rng.integers(len(tl.ids)))
        ts = tl.ts[c]
        s = int(rng.integers(len(ts)))
        t = ts[s] if p % 3 == 0 else ts[s] + timedelta(seconds=int(rng.integers(1, 3599)))
        out.append((p, tl.ids[c], t))
    return out


def queries(rng: np.random.Generator, base_mat: np.ndarray, n: int) -> np.ndarray:
    """Query vectors near random base snapshots."""
    pick = rng.integers(base_mat.shape[0], size=n)
    return base_mat[pick] + 0.3 * rng.standard_normal((n, base_mat.shape[1]))


# -- documents ----------------------------------------------------------------

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(LETTERS, n)))
    return sorted(words)


def shingles(text: str, width: int = 7) -> set[str]:
    """The engine's character shingles: every ``width``-character
    substring, or the whole text when it is shorter."""
    return {text[i : i + width] for i in range(max(len(text) - width + 1, 1))}


def jaccard(a: str, b: str, width: int = 7) -> float:
    sa, sb = shingles(a, width), shingles(b, width)
    return len(sa & sb) / len(sa | sb)


def containment(a: str, b: str, width: int = 7) -> float:
    """C(a→b) = |A∩B| / |A|."""
    sa, sb = shingles(a, width), shingles(b, width)
    return len(sa & sb) / len(sa)


@dataclass
class Docs:
    corpus: list[tuple[int, str]]
    evals: list[tuple[int, str]]
    near_pairs: set[tuple[int, int]]  # corpus self-pairs, J >= 0.75
    contained_pairs: set[tuple[int, int]]  # (short, long): short inside long
    eval_copies: dict[int, int]  # corpus doc -> eval doc it nearly copies
    contaminated: dict[int, int]  # corpus doc -> eval doc pasted into it


def make_docs(rng: np.random.Generator, n_base: int, n_near: int, n_contained: int,
              n_eval: int) -> Docs:
    vocab = vocabulary(rng, 4000)

    def words(lo: int, hi: int) -> list[str]:
        return [vocab[i] for i in rng.integers(len(vocab), size=int(rng.integers(lo, hi)))]

    def near_copy(text: str) -> str:
        while True:
            w = text.split(" ")
            for i in rng.choice(len(w), size=max(1, len(w) // 30), replace=False):
                w[i] = vocab[int(rng.integers(len(vocab)))]
            out = " ".join(w)
            if out != text and jaccard(text, out) >= 0.75:
                return out

    corpus: list[tuple[int, str]] = []

    def add(text: str) -> int:
        corpus.append((len(corpus), text))
        return len(corpus) - 1

    base_ids = [add(" ".join(words(50, 80))) for _ in range(n_base)]
    # disjoint sources, so no unplanted pair lands near a threshold
    sources = [int(i) for i in rng.permutation(base_ids)]
    near_pairs = set()
    for src in sources[:n_near]:
        near_pairs.add((src, add(near_copy(corpus[src][1]))))
    contained_pairs = set()
    for src in sources[n_near : n_near + n_contained]:
        w = corpus[src][1].split(" ")
        n = int(rng.integers(10, 17))
        start = int(rng.integers(0, len(w) - n))
        contained_pairs.add((add(" ".join(w[start : start + n])), src))

    evals = [(10_000 + e, " ".join(words(20, 31))) for e in range(n_eval)]
    half = n_eval // 2
    eval_copies = {add(near_copy(text)): eid for eid, text in evals[:half]}
    contaminated = {}
    for eid, text in evals[half:]:
        pre, post = " ".join(words(30, 41)), " ".join(words(30, 41))
        contaminated[add(f"{pre} {text} {post}")] = eid
    return Docs(corpus, evals, near_pairs, contained_pairs, eval_copies, contaminated)
