"""The three workloads. Each is a closed loop of identical rounds driven by
one client; every operation of a round is timed and then checked against
``check`` (outside the timed region).

- ``timeline_serve``: one client drives the facade over a stored table:
  a small append, then one point read, one as-of read and one top-k
  search. Cost: per-call planning and job scheduling, plus the write
  path (each append invalidates the search index and adds files).
- ``timeline_bulk``: a fresh table per round: bulk ingest of the whole
  corpus, reconstruct every version, batch as-of, batch top-k search,
  the integrity/statistics/advisor reports, then compaction. Cost: the
  encode UDF, the delta fold, the cosine kernel, the maintenance rewrite.
- ``near_dup_join``: the four exact-recall prefix-filter joins of
  ``operators.dedup`` over documents with planted pairs. No temporal
  layer is touched.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

import check
import gen
from temporal_vector_database_spark.api import TemporalVectorDatabase
from temporal_vector_database_spark.config import DEFAULT_CONFIG
from temporal_vector_database_spark.operators import dedup as DD
from temporal_vector_database_spark.operators import integrity as IN
from temporal_vector_database_spark.operators import reconstruct as RC
from temporal_vector_database_spark.operators import search as SE
from temporal_vector_database_spark.operators import stats as ST

RAW_SCHEMA = "content_id string, ts timestamp, embedding array<double>"


@dataclass
class Op:
    """One timed operation. ``problems`` lists its failed checks; ``raised``
    marks an operation that failed with an exception and returned nothing
    to check (failed, but not a wrong answer)."""

    name: str
    seconds: float
    problems: list[str]
    raised: bool = False


class Workload:
    """Base: ``setup`` builds inputs and state, ``round`` runs one round
    and returns its timed, checked operations."""

    def __init__(self, spark, tmp: str, seed: int, tracer):
        self.spark = spark
        self.tmp = tmp
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer

    def run_op(self, name: str, fn, checker) -> Op:
        """Time ``fn`` (one operation, its result fully consumed), then
        check its result. An exception counts as a failed check."""
        with self.tracer.op(name):
            t0 = time.perf_counter()
            try:
                out, err = fn(), None
            except Exception as e:  # the loop must go on; the op is failed
                out, err = None, f"{name}: {type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
        problems = [err] if err else checker(out)
        for p in problems:
            print(f"CHECK FAILED {p}", file=sys.stderr)
        return Op(name, dt, problems, raised=err is not None)

    def detail(self, rounds: list[list[Op]]) -> dict:
        return {}


def _median_op(rounds: list[list[Op]], name: str) -> float:
    return statistics.median(o.seconds for r in rounds for o in r if o.name == name)


# -- timeline_serve -------------------------------------------------------------


class TimelineServe(Workload):
    N_CONTENTS, N_VERSIONS, DIM = 300, 12, 32
    APPEND_ROWS, K = 8, 5

    def setup(self) -> None:
        self.tl = gen.make_timelines(self.rng, self.N_CONTENTS, self.N_VERSIONS, self.DIM)
        self.db = TemporalVectorDatabase(self.spark, os.path.join(self.tmp, "serve"))
        self.threshold = self.db.cfg.sparsity_threshold
        self.interval = self.db.cfg.base_snapshot_interval
        raw = self.spark.createDataFrame(self.tl.rows(), RAW_SCHEMA)
        n = self.db.add_versions(raw)
        if n != self.tl.n_versions():
            raise RuntimeError(f"initial load wrote {n} rows, want {self.tl.n_versions()}")
        self.appends = 0

    def _content(self) -> int:
        return int(self.rng.integers(self.N_CONTENTS))

    def round(self) -> list[Op]:
        """One client turn: append, point read of an appended content,
        as-of read, search."""
        tl, db, rng = self.tl, self.db, self.rng
        ops = []

        # a few contents get one new version each, later than any stored
        self.appends += 1
        which = [int(c) for c in rng.choice(self.N_CONTENTS, self.APPEND_ROWS, replace=False)]
        rows = tl.extend(rng, which, gen.T0 + (self.N_VERSIONS + self.appends) * gen.STEP)
        raw = self.spark.createDataFrame(rows, RAW_SCHEMA)

        def append():
            with self.tracer.call("api.add_versions"):
                return db.add_versions(raw)

        ops.append(self.run_op("append", append, lambda n: [] if n == len(rows) else [
            f"append wrote {n} rows, want {len(rows)}"]))

        c = which[0]
        s = int(rng.integers(1, len(tl.vecs[c]) + 1))

        def point():
            with self.tracer.call("api.get_version"):
                return db.get_version(tl.ids[c], s)

        ops.append(self.run_op("point_read", point, lambda r: self._check_read(r, c, s, "point")))

        c2 = self._content()
        ts = tl.ts[c2]
        i = int(rng.integers(len(ts)))
        t_probe = ts[i] + (ts[i + 1] - ts[i]) * float(rng.random()) if i + 1 < len(ts) else ts[i]
        want_seq = check.governing_seq(ts, t_probe)

        def asof():
            with self.tracer.call("api.get_version_at_time"):
                return db.get_version_at_time(tl.ids[c2], t_probe)

        ops.append(self.run_op("asof_read", asof,
                               lambda r: self._check_read(r, c2, want_seq, "as-of")))

        base_ids, base_mat = tl.bases(self.interval)
        q = gen.queries(rng, base_mat, 1)[0]
        want = check.topk(base_ids, base_mat, q, self.K)

        def search():
            with self.tracer.call("api.search_similar_content"):
                return db.search_similar_content(q.tolist(), k=self.K)

        ops.append(self.run_op("search", search, lambda r: check.topk_matches(
            [((cid, seq), sim) for cid, seq, sim in r], want, "search")))
        return ops

    def _check_read(self, r, c: int, seq: int, what: str) -> list[str]:
        if r is None:
            return [f"{what} read of {self.tl.ids[c]}: no row"]
        if r["target_seq"] != seq:
            return [f"{what} read of {self.tl.ids[c]}: seq {r['target_seq']}, want {seq}"]
        return check.vector(r["embedding"], self.tl.vecs[c][seq - 1], self.threshold,
                            f"{what} read {self.tl.ids[c]}@{seq}")

    def detail(self, rounds):
        return {f"{n}_p50_s": _median_op(rounds, n)
                for n in ("point_read", "asof_read", "search", "append")}


# -- timeline_bulk --------------------------------------------------------------


class TimelineBulk(Workload):
    N_CONTENTS, N_VERSIONS, DIM = 400, 15, 32
    N_PROBES, N_QUERIES, K, MAX_COST = 400, 200, 5, 4

    def setup(self) -> None:
        sp, rng = self.spark, self.rng
        self.tl = gen.make_timelines(rng, self.N_CONTENTS, self.N_VERSIONS, self.DIM)
        self.raw_path = os.path.join(self.tmp, "bulk_raw")
        sp.createDataFrame(self.tl.rows(), RAW_SCHEMA).write.parquet(self.raw_path)
        self.cfg = DEFAULT_CONFIG
        interval, tl = self.cfg.base_snapshot_interval, self.tl
        self.index_of = {cid: i for i, cid in enumerate(tl.ids)}

        probes = gen.asof_probes(rng, tl, self.N_PROBES)
        self.probes = sp.createDataFrame(probes, "probe_id int, content_id string, t timestamp")
        self.probe_want = {
            p: (self.index_of[cid], check.governing_seq(tl.ts[self.index_of[cid]], t))
            for p, cid, t in probes
        }
        self.base_ids, base_mat = tl.bases(interval)
        qs = gen.queries(rng, base_mat, self.N_QUERIES)
        self.queries = sp.createDataFrame(
            [(i, q.tolist()) for i, q in enumerate(qs)], "query_id int, embedding array<double>"
        )
        self.search_want = [check.topk(self.base_ids, base_mat, q, self.K) for q in qs]
        # cost of seq s = deltas since its base = (s - 1) % interval
        self.advice_want = {
            (cid, s) for cid in tl.ids for s in range(1, self.N_VERSIONS + 1)
            if (s - 1) % interval > self.MAX_COST
        }
        self.n_rows = tl.n_versions()
        self.n_bases = len(self.base_ids)
        self.bytes_per_raw = []
        self.n_round = 0

    def round(self) -> list[Op]:
        self.n_round += 1
        path = os.path.join(self.tmp, f"bulk_{self.n_round}")
        db = TemporalVectorDatabase(self.spark, path, self.cfg)
        ops = []
        try:
            def ingest():
                with self.tracer.call("api.add_versions"):
                    return db.add_versions(self.spark.read.parquet(self.raw_path))

            ops.append(self.run_op("ingest", ingest, lambda n: [] if n == self.n_rows else [
                f"ingest wrote {n} rows, want {self.n_rows}"]))
            self.bytes_per_raw.append(_dir_bytes(path) / (self.n_rows * self.DIM * 8))

            def reconstruct():
                with self.tracer.call("reconstruct.reconstruct_all"):
                    return RC.reconstruct_all(db.versions()).select(
                        "content_id", "target_seq", "cost", "embedding").collect()

            ops.append(self.run_op("reconstruct", reconstruct,
                                   lambda rows: self._check_all(rows, None)))

            def asof():
                with self.tracer.call("reconstruct.reconstruct_asof"):
                    return RC.reconstruct_asof(db.versions(), self.probes).select(
                        "probe_id", "target_seq", "embedding").collect()

            ops.append(self.run_op("asof", asof, self._check_asof))

            def search():
                with self.tracer.call("search.build_search_index"):
                    index = SE.build_search_index(db.versions())
                with self.tracer.call("search.topk_cosine_indexed"):
                    return SE.topk_cosine_indexed(index, self.queries, k=self.K).collect()

            ops.append(self.run_op("search", search, self._check_search))

            def report():
                v = db.versions()
                with self.tracer.call("integrity.validate_timeline_integrity"):
                    integ = IN.validate_timeline_integrity(v).select(
                        "content_id", "valid").collect()
                with self.tracer.call("stats.database_statistics"):
                    dbs = ST.database_statistics(v, self.cfg).collect()[0]
                with self.tracer.call("stats.optimize_content_bases"):
                    advice = ST.optimize_content_bases(v, self.MAX_COST, self.cfg).select(
                        "content_id", "seq").collect()
                return integ, dbs, advice

            ops.append(self.run_op("report", report, self._check_report))

            def compact():
                with self.tracer.call("api.compact"):
                    return db.compact(self.MAX_COST)

            ops.append(self.run_op("compact", compact, lambda n: self._check_compact(n, db)))
        finally:
            shutil.rmtree(path, ignore_errors=True)
        return ops

    def _check_all(self, rows, max_cost: int | None) -> list[str]:
        interval = self.cfg.base_snapshot_interval
        if len(rows) != self.n_rows or len({(r[0], r[1]) for r in rows}) != self.n_rows:
            return [f"reconstruct-all returned {len(rows)} rows, want {self.n_rows} distinct"]
        for cid, seq, cost, emb in rows:
            c = self.index_of[cid]
            want_cost = (seq - 1) % interval
            if max_cost is None and cost != want_cost:
                return [f"{cid}@{seq}: chain cost {cost}, want {want_cost}"]
            if max_cost is not None and cost > max_cost:
                return [f"{cid}@{seq}: chain cost {cost} > max_cost {max_cost} after compact"]
            p = check.vector(emb, self.tl.vecs[c][seq - 1], self.cfg.sparsity_threshold,
                             f"{cid}@{seq}")
            if p:
                return p
        return []

    def _check_asof(self, rows) -> list[str]:
        got = {r.probe_id: r for r in rows}
        if set(got) != set(self.probe_want):
            return [f"as-of answered {len(got)} probes, want {len(self.probe_want)}"]
        for p, (c, seq) in self.probe_want.items():
            r = got[p]
            if r.target_seq != seq:
                return [f"as-of probe {p}: seq {r.target_seq}, want {seq}"]
            prob = check.vector(r.embedding, self.tl.vecs[c][seq - 1],
                                self.cfg.sparsity_threshold, f"as-of probe {p}")
            if prob:
                return prob
        return []

    def _check_search(self, rows) -> list[str]:
        by_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
            by_q.setdefault(r.query_id, []).append(((r.content_id, r.seq), r.sim))
        for q, want in enumerate(self.search_want):
            p = check.topk_matches(by_q.get(q, []), want, f"query {q}")
            if p:
                return p
        return []

    def _check_report(self, out) -> list[str]:
        integ, dbs, advice = out
        problems = []
        if len(integ) != self.N_CONTENTS or not all(r.valid for r in integ):
            problems.append(f"integrity: {sum(r.valid for r in integ)} valid of "
                            f"{len(integ)}, want {self.N_CONTENTS}")
        want = (self.N_CONTENTS, self.n_bases, self.n_rows - self.n_bases)
        got = (dbs.total_contents, dbs.total_base_snapshots, dbs.total_deltas)
        if got != want:
            problems.append(f"database statistics {got}, want {want}")
        got_advice = {(r.content_id, r.seq) for r in advice}
        if got_advice != self.advice_want:
            problems.append(f"advisor: {len(got_advice)} promotions, want {len(self.advice_want)}")
        return problems

    def _check_compact(self, n, db) -> list[str]:
        if n != len(self.advice_want):
            return [f"compact promoted {n}, want {len(self.advice_want)}"]
        rows = RC.reconstruct_all(db.versions()).select(
            "content_id", "target_seq", "cost", "embedding").collect()
        return self._check_all(rows, self.MAX_COST)

    def detail(self, rounds):
        return {
            "ingest_rows_per_s": self.n_rows / _median_op(rounds, "ingest"),
            "reconstruct_rows_per_s": self.n_rows / _median_op(rounds, "reconstruct"),
            "asof_probes_per_s": self.N_PROBES / _median_op(rounds, "asof"),
            "search_queries_per_s": self.N_QUERIES / _median_op(rounds, "search"),
            "report_s": _median_op(rounds, "report"),
            "compact_s": _median_op(rounds, "compact"),
            "bytes_per_raw_byte": statistics.median(self.bytes_per_raw),
        }


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_"))
    )


# -- near_dup_join --------------------------------------------------------------


class NearDupJoin(Workload):
    N_BASE, N_NEAR, N_CONTAINED, N_EVAL = 200, 20, 20, 30

    def setup(self) -> None:
        d = gen.make_docs(self.rng, self.N_BASE, self.N_NEAR, self.N_CONTAINED, self.N_EVAL)
        self.docs = d
        self.texts = dict(d.corpus) | dict(d.evals)
        schema = "doc_id long, text string"
        self.corpus = self.spark.createDataFrame(d.corpus, schema)
        self.evals = self.spark.createDataFrame(d.evals, schema)

    def round(self) -> list[Op]:
        d, texts, ops = self.docs, self.texts, []

        def jaccard():
            with self.tracer.call("dedup.jaccard_prefix_join"):
                return DD.jaccard_prefix_join(self.corpus, width=7).select(
                    "a_id", "b_id").collect()

        ops.append(self.run_op("jaccard_join", jaccard, lambda rows: check.pairs(
            check.unordered(tuple(r) for r in rows), check.unordered(d.near_pairs),
            texts, "jaccard", 0.5, "jaccard_prefix_join")))

        def cross():
            with self.tracer.call("dedup.cross_corpus_jaccard_exact"):
                return DD.cross_corpus_jaccard_exact(
                    self.corpus, self.evals, width=7, min_jaccard=0.5
                ).select("doc_id", "eval_doc_id").collect()

        ops.append(self.run_op("cross_corpus_join", cross, lambda rows: check.pairs(
            {tuple(r) for r in rows}, set(d.eval_copies.items()),
            texts, "jaccard", 0.5, "cross_corpus_jaccard_exact")))

        def contain():
            with self.tracer.call("dedup.ngram_containment_pairs"):
                return DD.ngram_containment_pairs(
                    self.corpus, width=7, min_containment=0.8, band_on="small"
                ).select("a_id", "b_id").collect()

        ops.append(self.run_op("containment_join", contain, lambda rows: check.pairs(
            check.unordered(tuple(r) for r in rows),
            check.unordered(d.contained_pairs | d.near_pairs),
            texts, "either", 0.8, "ngram_containment_pairs")))

        def decon():
            with self.tracer.call("dedup.containment_decontaminate"):
                return DD.containment_decontaminate(
                    self.corpus, self.evals, width=7, min_containment=0.8
                ).select("doc_id", "eval_doc_id").collect()

        ops.append(self.run_op("decontaminate", decon, lambda rows: check.pairs(
            {tuple(r) for r in rows}, set(d.contaminated.items()) | set(d.eval_copies.items()),
            texts, "contained", 0.8, "containment_decontaminate")))
        return ops

    def detail(self, rounds):
        return {
            "jaccard_join_s": _median_op(rounds, "jaccard_join"),
            "cross_corpus_join_s": _median_op(rounds, "cross_corpus_join"),
            "containment_join_s": _median_op(rounds, "containment_join"),
            "decontaminate_s": _median_op(rounds, "decontaminate"),
        }


WORKLOADS = {
    "timeline_serve": TimelineServe,
    "timeline_bulk": TimelineBulk,
    "near_dup_join": NearDupJoin,
}
