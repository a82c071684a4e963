"""Property-based tests (hypothesis): the encode → reconstruct loop is
lossless for ANY timeline on the dyadic grid, and structural invariants
hold for any generated history."""

from datetime import datetime, timedelta

import numpy as np
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from temporal_vector_database_spark.config import TVDBConfig
from temporal_vector_database_spark.operators.ingest import ingest
from temporal_vector_database_spark.operators.reconstruct import reconstruct_all

T0 = datetime(2025, 6, 1)


@st.composite
def timelines(draw):
    """1-3 contents × 2-10 versions of dim-8 vectors on the 1/128 grid."""
    n_contents = draw(st.integers(1, 3))
    interval = draw(st.integers(2, 6))
    out = []
    for c in range(n_contents):
        n_versions = draw(st.integers(2, 10))
        vec = np.array(draw(st.lists(st.integers(-256, 256), min_size=8, max_size=8))) / 128.0
        for k in range(1, n_versions + 1):
            if k > 1:
                n_changed = draw(st.integers(0, 8))
                dims = draw(
                    st.lists(st.integers(0, 7), min_size=n_changed, max_size=n_changed, unique=True)
                )
                steps = draw(st.lists(st.integers(-5, 5), min_size=n_changed, max_size=n_changed))
                delta = np.zeros(8)
                delta[dims] = np.array(steps) / 128.0
                vec = vec + delta
            out.append((f"c{c}", T0 + timedelta(days=k), [float(x) for x in vec], interval))
    return out


@settings(max_examples=5, deadline=None)
@given(timelines())
def test_encode_reconstruct_roundtrip(spark, rows):
    raw = spark.createDataFrame(
        rows, "content_id string, ts timestamp, embedding array<double>, base_interval int"
    )
    cfg = TVDBConfig(base_snapshot_interval=rows[0][3])
    versions = ingest(raw, cfg)
    rec = reconstruct_all(versions)
    got = {
        (r.content_id, r.target_seq): list(r.embedding)
        for r in rec.collect()
    }
    from pyspark.sql import Window

    truth = {
        (r.content_id, r.seq): list(r.embedding)
        for r in raw.withColumn(
            "seq", F.row_number().over(Window.partitionBy("content_id").orderBy("ts"))
        ).collect()
    }
    # The encode is deliberately lossy: per-dim changes below the sparsity
    # threshold are dropped and carried as residue (reference
    # core/delta_computer.py:63-66). The residue resets whenever a dim's
    # cumulative diff crosses the threshold (applied) or a base is stored,
    # so the TRUE invariant is |recon - raw|_inf < threshold, with exact
    # equality on base rows.
    kinds = {(r.content_id, r.seq): r.kind for r in versions.collect()}
    assert got.keys() == truth.keys()
    for key in got:
        err = max(abs(a - b) for a, b in zip(got[key], truth[key]))
        if kinds[key] == "base":
            assert err == 0.0
        else:
            assert err < cfg.sparsity_threshold


@settings(max_examples=5, deadline=None)
@given(timelines())
def test_structural_invariants(spark, rows):
    raw = spark.createDataFrame(
        rows, "content_id string, ts timestamp, embedding array<double>, base_interval int"
    )
    cfg = TVDBConfig(base_snapshot_interval=rows[0][3])
    v = ingest(raw, cfg).collect()
    by_content: dict[str, list] = {}
    for r in v:
        by_content.setdefault(r.content_id, []).append(r)
    for rows_c in by_content.values():
        rows_c.sort(key=lambda r: r.seq)
        assert rows_c[0].seq == 1 and rows_c[0].kind == "base"  # first is base
        seqs = [r.seq for r in rows_c]
        assert seqs == list(range(1, len(rows_c) + 1))  # dense seqs
        interval = rows[0][3]
        for r in rows_c:
            if r.kind == "delta":
                assert r.from_seq == r.seq - 1  # consecutive chains
                assert r.embedding is None and r.sparse_idx is not None
                assert all(abs(x) >= cfg.sparsity_threshold for x in r.sparse_val)
                assert (r.seq - 1) % interval != 0  # interval rule would have promoted
            else:
                assert r.sparse_idx is None and r.embedding is not None


@st.composite
def keyed_rows(draw):
    """Rows over a tiny key space (forces heavy keys) with ties in the
    score column (stresses the tiebreaker)."""
    n = draw(st.integers(5, 60))
    rows = []
    for i in range(n):
        key = draw(st.sampled_from(["a", "b", "c"]))
        score = float(draw(st.integers(0, 5)))  # few distinct → many ties
        rows.append((key, i, score))
    return rows


@settings(max_examples=8, deadline=None)
@given(keyed_rows(), st.integers(1, 4), st.sampled_from([1, 3, 16]))
def test_two_phase_topk_property(spark, rows, k, n_salt):
    """For ANY keyed data (hot keys, score ties), any k and any salt
    count, the salted two-phase top-k equals the single-window top-k."""
    from pyspark.sql import Window

    from temporal_vector_database_spark.operators.relational import two_phase_topk

    df = spark.createDataFrame(rows, "key string, rid long, score double")
    order = [F.desc("score"), F.asc("rid")]
    w = Window.partitionBy("key").orderBy(*order)
    want = {
        (r.key, r.rid, r.rank)
        for r in df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .collect()
    }
    got = {
        (r.key, r.rid, r.rank)
        for r in two_phase_topk(
            df, ["key"], order, k=k, salt_col="rid", n_salt=n_salt
        ).collect()
    }
    assert got == want


@settings(max_examples=12, deadline=None, derandomize=True)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_property(spark, edges):
    """Contraction-based CC must agree with a plain union-find on ANY
    edge list: same partition into components, each labeled by its
    minimum node id. Random graphs cover shapes the LSH fixtures don't
    (long paths, stars, multi-edges, both edge orientations)."""
    from temporal_vector_database_spark.operators.dedup import connected_components

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for a, b in edges:
        union(a, b)
    # expected: node -> min(component)
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {n: comp_min[find(n)] for n in parent}

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "a_id long, b_id long"
    )
    got = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert got == want


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["base", "delta"]),
            st.lists(st.integers(-2, 6), min_size=0, max_size=3),  # sparse idx (incl. bad)
            st.lists(st.integers(-8, 8), min_size=0, max_size=3),  # sparse val numerators
        ),
        min_size=1,
        max_size=10,
    )
)
def test_reconstruction_twins_agree_on_any_timeline(spark, data):
    """The declarative fold and the grouped-map numpy fold must agree
    bit-for-bit on ARBITRARY timelines: deltas before any base,
    out-of-range and negative sparse indices, repeated bases,
    mismatched idx/val lengths truncated to the shorter."""
    from datetime import datetime, timedelta

    from temporal_vector_database_spark.operators.reconstruct import (
        reconstruct_all,
        reconstruct_all_folded,
    )

    dim = 4
    t0 = datetime(2025, 1, 1)
    rows = []
    for i, (kind, idxs, vals) in enumerate(data, start=1):
        n = min(len(idxs), len(vals))
        idxs, vals = idxs[:n], [v / 4.0 for v in vals[:n]]
        if kind == "base":
            emb = [float((i + d) % 5) / 4.0 for d in range(dim)]
            rows.append(("p", i, t0 + timedelta(days=i), "base", emb, None, None,
                         None, None, None, dim, f"p_{i}", None))
        else:
            rows.append(("p", i, t0 + timedelta(days=i), "delta", None, idxs, vals,
                         i - 1, 0.5, n, dim, f"p_v{i}", None))
    schema = (
        "content_id string, seq int, ts timestamp, kind string,"
        " embedding array<double>, sparse_idx array<int>, sparse_val array<double>,"
        " from_seq int, magnitude double, n_changed int, total_dims int,"
        " version_id string, metadata map<string,string>"
    )
    versions = spark.createDataFrame(rows, schema)

    def canon(df):
        return {
            r.target_seq: (r.base_seq, r.cost, tuple(r.deltas_applied), tuple(r.embedding))
            for r in df.collect()
        }

    a = canon(reconstruct_all(versions))
    b = canon(reconstruct_all_folded(versions))
    assert a == b


# ---------------------------------------------------------------------------
# curation invariants: for ANY corpus, segment dedup conserves segments and
# a duplicated document always loses all its segments to the original;
# decontamination of a corpus against itself flags everything (and against
# a disjoint vocabulary flags nothing).
# ---------------------------------------------------------------------------

_words_st = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.lists(_words_st, min_size=1, max_size=6))
def test_segment_dedup_conserves_and_dedups_clones(spark, word_lists):
    from temporal_vector_database_spark.operators.curation import segment_dedup

    docs = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    # append an exact clone of doc 0 with a higher id
    clone_id = len(docs)
    docs.append((clone_id, docs[0][1]))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in segment_dedup(df, width=2).collect()}
    # conservation: every kept segment is kept exactly once corpus-wide
    assert all(0 <= r["n_kept"] <= r["n_segments"] for r in out.values())
    # the clone keeps nothing: every one of its segments occurred earlier
    assert out[clone_id]["n_kept"] == 0
    # doc 0 is first in corpus order, so it keeps exactly the first
    # occurrence of each of ITS OWN segments (internal repeats drop too)
    import hashlib

    words0 = word_lists[0]
    segs0 = [" ".join(words0[i : i + 2]) for i in range(0, len(words0), 2)]
    keep0 = [s for i, s in enumerate(segs0) if s not in segs0[:i]]
    assert out[0]["n_kept"] == len(keep0)
    assert out[0]["clean_hash"] == hashlib.md5(" ".join(keep0).encode()).hexdigest()


@settings(max_examples=8, deadline=None, derandomize=True)
@given(st.lists(_words_st.filter(lambda ws: len(ws) >= 3), min_size=1, max_size=5))
def test_decontaminate_self_and_disjoint(spark, word_lists):
    from temporal_vector_database_spark.operators.curation import decontaminate

    docs = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    # vs itself: every doc's n-grams are all contaminated
    self_out = decontaminate(df, df, n=3, min_hits=1).collect()
    assert all(r["n_contaminated"] == r["n_ngrams"] for r in self_out)
    assert all(r["is_contaminated"] for r in self_out if r["n_ngrams"] > 0)
    # vs a disjoint vocabulary: nothing flagged
    other = spark.createDataFrame([(99, "one two three four")], "doc_id bigint, text string")
    dis_out = decontaminate(df, other, n=3, min_hits=1).collect()
    assert all(r["n_contaminated"] == 0 and not r["is_contaminated"] for r in dis_out)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcx", min_size=0, max_size=12), min_size=2, max_size=8,
        unique=True,
    ),
    st.integers(1, 3),
)
def test_edit_distance_pairs_complete_on_any_corpus(spark, texts, k):
    """For ANY corpus (tiny alphabet → heavy collisions, many docs under
    the q-gram soundness bound) the operator's pair set equals the brute
    force ground truth — the all-pairs contract restored in r03."""
    from temporal_vector_database_spark.operators.dedup import edit_distance_pairs

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.a_id, r.b_id, r.dist)
        for r in edit_distance_pairs(docs, max_dist=k, q=4).collect()
    }
    want = set()
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            if abs(len(texts[i]) - len(texts[j])) <= k:
                d = lev(texts[i], texts[j])
                if d <= k:
                    want.add((i, j, d))
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=30).map(
            lambda ws: " ".join(ws)
        ),
        min_size=2,
        max_size=6,
    )
)
def test_remove_dup_spans_invariants(spark, texts):
    """For ANY corpus: counts reconcile, untouched docs keep their exact
    text, and every removal is justified (doc shares an n-gram with
    another doc)."""
    from temporal_vector_database_spark.operators.textindex import (
        duplicated_ngrams,
        remove_duplicated_spans,
    )

    n = 4
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = {r.doc_id: r for r in remove_duplicated_spans(docs, n=n).collect()}
    n_dup = duplicated_ngrams(docs, n=n).count()
    for i, t in enumerate(texts):
        words = [w for w in t.split(" ") if w]
        r = out[i]
        assert r.n_words == len(words)
        assert 0 <= r.n_removed <= r.n_words
        kept = [w for w in r.clean_text.split(" ") if w]
        assert len(kept) == r.n_words - r.n_removed
        if r.n_removed == 0:
            assert kept == words
        else:
            assert n_dup > 0  # a removal implies a duplicated gram exists


@given(
    toks=st.lists(st.integers(0, 40), min_size=1, max_size=40),
    seq_len=st.integers(1, 16),
)
@settings(max_examples=20, deadline=None)
def test_pack_concat_chunks_tiles_any_stream(spark, toks, seq_len):
    """For ANY token-count sequence and seq_len: the emitted intervals
    per document concatenate to exactly [0, n_tokens); per sequence the
    interval lengths sum to seq_len (except the final partial); and the
    stream positions covered are exactly [0, total)."""
    from temporal_vector_database_spark.operators.sampling import pack_concat_chunks

    rows = [(i, "s", n) for i, n in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens int")
    out = pack_concat_chunks(df, seq_len=seq_len).collect()

    # per-doc: intervals tile [0, n)
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.seq_id, r.tok_start, r.tok_end))
    for i, n in enumerate(toks):
        ivs = sorted(by_doc.get(i, []))
        if n == 0:
            assert ivs == []
            continue
        assert ivs[0][1] == 0 and ivs[-1][2] == n
        for (s1, _, e1), (s2, s_next, _) in zip(ivs, ivs[1:]):
            assert s2 == s1 + 1 and s_next == e1  # contiguous seqs, abutting intervals

    # per-sequence: full except possibly the last
    total = sum(toks)
    per_seq: dict = {}
    for r in out:
        per_seq[r.seq_id] = per_seq.get(r.seq_id, 0) + (r.tok_end - r.tok_start)
    if total:
        n_seqs = (total + seq_len - 1) // seq_len
        assert set(per_seq) == set(range(n_seqs))
        for sid, filled in per_seq.items():
            want = seq_len if sid < n_seqs - 1 else total - seq_len * (n_seqs - 1)
            assert filled == want


@given(
    counts=st.lists(st.integers(1, 30), min_size=1, max_size=4),
    k=st.floats(0.5, 8.0),
)
@settings(max_examples=15, deadline=None)
def test_temperature_rebalance_membership_property(spark, counts, k):
    """For ANY language profile: each language's kept set equals the
    md5-hash threshold draw at rate min(1, k/sqrt(c)) computed
    independently in Python — temperature rebalancing is exactly
    per-language hash-threshold sampling, subset-stable and exact."""
    import hashlib
    from math import sqrt

    from temporal_vector_database_spark.operators.sampling import (
        temperature_rebalance,
    )

    rows, did = [], 0
    for li, c in enumerate(counts):
        for _ in range(c):
            rows.append((did, f"l{li}"))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = temperature_rebalance(docs, k=k).collect()
    by_lang: dict = {}
    for r in kept:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)

    def u32(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)

    for li, c in enumerate(counts):
        rate = min(1.0, k / sqrt(c))
        lang_ids = [d for d, l in rows if l == f"l{li}"]
        want = {d for d in lang_ids if float(u32(d)) < rate * 2.0**32}
        assert by_lang.get(f"l{li}", set()) == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 3),            # key
            st.integers(0, 400),          # time
            st.sampled_from(["a", "b", "c"]),  # state
        ),
        min_size=1,
        max_size=30,
    )
)
def test_scd2_invariants_on_any_update_log(spark, updates):
    """For ANY update log: per key, SCD2 intervals (1) start at the
    key's first update, (2) tile the timeline — each valid_to equals the
    next valid_from, last is NULL, (3) never repeat a state across
    adjacent rows, and (4) a snapshot at any time equals the brute-force
    last-change state."""
    from temporal_vector_database_spark.operators.temporal import (
        scd2_intervals,
        scd2_snapshot,
    )

    rows = [(k, i, t, s) for i, (k, t, s) in enumerate(updates)]
    df = spark.createDataFrame(rows, "k long, eid long, t long, state string")
    iv_df = scd2_intervals(
        df, key_cols=("k",), time_col="t", attr_cols=("state",),
        tiebreak_cols=("eid",),
    )
    iv = {}
    for r in iv_df.collect():
        iv.setdefault(r.k, []).append((r.valid_from, r.valid_to, r.state))
    # brute-force per-key ordered update list
    from collections import defaultdict

    log = defaultdict(list)
    for k, eid, t, s in rows:
        log[k].append((t, eid, s))
    for k, ups in log.items():
        ups.sort()
        spans = iv[k]
        spans.sort(key=lambda x: (x[0], x[1] is None, x[1] or 0))
        assert spans[0][0] == ups[0][0]                      # (1)
        for (f1, t1, s1), (f2, t2, s2) in zip(spans, spans[1:]):
            assert t1 == f2                                  # (2) tiling
            assert s1 != s2                                  # (3) compressed
        assert spans[-1][1] is None
        # (4) snapshot parity at three representative probes (before the
        # first update, at a mid update instant, after the last) — one
        # Spark job per probe, so keep the probe set small
        all_ts = [t for t, _, _ in ups]
        probes = sorted({all_ts[0] - 1, all_ts[len(all_ts) // 2], all_ts[-1] + 1})
        for p in probes:
            seen = [s for t, _, s in ups if t <= p]
            brute = None
            for t, _, s in ups:
                if t <= p:
                    brute = s
            got = [
                r.state
                for r in scd2_snapshot(iv_df, p).where(F.col("k") == k).collect()
            ]
            if brute is None:
                assert got == []
            else:
                assert got == [brute]


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 2),                 # key
            st.integers(0, 299),               # time
            st.integers(-8, 8),                # value numerator (x/4)
        ),
        min_size=1,
        max_size=25,
    )
)
def test_ohlc_matches_brute_force_on_any_events(spark, events):
    from collections import defaultdict

    from temporal_vector_database_spark.operators.timeseries import ohlc

    rows = [(k, i, t, v / 4.0) for i, (k, t, v) in enumerate(events)]
    df = spark.createDataFrame(rows, "k long, eid long, t long, v double")
    got = {
        (r.k, r.bucket_start_ms): (r.open, r.high, r.low, r.close, r.n_events)
        for r in ohlc(df, "t", ("k",), "v", 100, tiebreak_cols=("eid",)).collect()
    }
    buckets = defaultdict(list)
    for k, eid, t, v in rows:
        buckets[(k, (t // 100) * 100)].append((t, eid, v))
    assert set(got) == set(buckets)
    for key, evs in buckets.items():
        evs.sort()
        want = (evs[0][2], max(v for _, _, v in evs), min(v for _, _, v in evs),
                evs[-1][2], len(evs))
        assert got[key] == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 2),      # key
            st.integers(0, 100),    # start
            st.integers(1, 30),     # length
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(1, 20),             # split point for the merge property
)
def test_coalesce_intervals_brute_force_and_associativity(spark, ivs, cut):
    """For ANY interval set: (a) spans equal a brute-force sweep merge,
    (b) coalescing is associative — coalesce(coalesce(A) ∪ B) ==
    coalesce(A ∪ B) — the property incremental/streaming coverage
    maintenance relies on."""
    from collections import defaultdict

    from temporal_vector_database_spark.operators.temporal import (
        coalesce_intervals,
    )

    rows = [(k, s, s + ln) for k, s, ln in ivs]
    df = spark.createDataFrame(rows, "k long, s long, e long")

    def brute(rows):
        by_k = defaultdict(list)
        for k, s, e in rows:
            by_k[k].append((s, e))
        out = []
        for k, spans in by_k.items():
            spans.sort()
            cur_s, cur_e, n = spans[0][0], spans[0][1], 1
            for s, e in spans[1:]:
                if s > cur_e:
                    out.append((k, cur_s, cur_e, n))
                    cur_s, cur_e, n = s, e, 1
                else:
                    cur_e = max(cur_e, e)
                    n += 1
            out.append((k, cur_s, cur_e, n))
        return sorted(out)

    got = sorted(
        (r.k, r.span_start, r.span_end, r.n_merged)
        for r in coalesce_intervals(df, ("k",), "s", "e").collect()
    )
    assert got == brute(rows)

    # associativity (span geometry only — n_merged legitimately differs:
    # a pre-merged span counts as ONE source interval on the next pass)
    a, b = rows[:cut], rows[cut:]
    if a and b:
        da = spark.createDataFrame(a, "k long, s long, e long")
        db = spark.createDataFrame(b, "k long, s long, e long")
        pre = coalesce_intervals(da, ("k",), "s", "e").select(
            "k", F.col("span_start").alias("s"), F.col("span_end").alias("e")
        )
        merged = coalesce_intervals(
            pre.unionByName(db.select("k", "s", "e")), ("k",), "s", "e"
        )
        got2 = sorted(
            (r.k, r.span_start, r.span_end) for r in merged.collect()
        )
        assert got2 == [(k, s, e) for k, s, e, _ in brute(rows)]


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(_words_st.filter(lambda ws: len(ws) >= 3), min_size=2, max_size=6)
)
def test_bloom_decontaminate_superset_of_exact_property(spark, word_lists):
    """For ANY corpus, the Bloom report dominates the exact one doc-wise:
    same n_ngrams, n_bloom_hits >= n_contaminated, and no exact
    contamination ever escapes the Bloom flag (miss => non-overlap)."""
    from temporal_vector_database_spark.operators.bloomfilter import (
        bloom_decontaminate,
    )
    from temporal_vector_database_spark.operators.curation import decontaminate

    docs = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    train = df.where("doc_id > 0")
    ev = df.where("doc_id = 0")
    exact = {r.doc_id: r for r in decontaminate(train, ev, n=3, min_hits=1).collect()}
    bloom = {
        r.doc_id: r
        for r in bloom_decontaminate(train, ev, n=3, min_hits=1).collect()
    }
    assert set(exact) == set(bloom)
    for d in exact:
        assert bloom[d].n_ngrams == exact[d].n_ngrams
        assert bloom[d].n_bloom_hits >= exact[d].n_contaminated
        if exact[d].is_contaminated:
            assert bloom[d].is_contaminated


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 9), st.integers(0, 4)),
        min_size=1,
        max_size=40,
    ),
    st.integers(1, 4),
)
def test_rolling_distinct_counts_property(spark, events, w):
    """For ANY (key, day, entity) stream and window size, the operator
    equals the set-union brute force on observed buckets exactly."""
    from temporal_vector_database_spark.operators.timeseries import (
        rolling_distinct_counts,
    )

    day = 10
    rows = [(k, d * day + 1, e) for k, d, e in events]
    df = spark.createDataFrame(rows, "k long, t long, e long")
    got = {
        (r.k, r.bucket_start_ms // day): r.n_distinct
        for r in rolling_distinct_counts(
            df, "t", ("k",), "e", day, window_buckets=w
        ).collect()
    }
    by_day = {}
    for k, d, e in events:
        by_day.setdefault((k, d), set()).add(e)
    expect = {}
    for (k, d) in by_day:
        win = set()
        for s in range(d - w + 1, d + 1):
            win |= by_day.get((k, s), set())
        expect[(k, d)] = len(win)
    assert got == expect


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 1),      # key
            st.integers(0, 299),    # t within 3 buckets of width 100
            st.integers(-50, 50),   # value in 1/8 units
        ),
        min_size=1,
        max_size=25,
    )
)
def test_time_weighted_average_matches_integral_property(spark, events):
    """TWA equals the brute-force LOCF integral for ANY event set:
    per (key, bucket), num = sum of v*(hold duration) with the last
    observation holding to bucket end, den = bucket_end - first_ts."""
    from temporal_vector_database_spark.operators.timeseries import (
        time_weighted_average,
    )

    rows = [
        (k, i, t, v / 8.0) for i, (k, t, v) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "k long, eid long, t long, v double")
    got = {
        (r.k, r.bucket_start_ms): (r.twa_num, r.twa_den, r.n_events, r.twa)
        for r in time_weighted_average(
            df, "t", ("k",), "v", 100, tiebreak_cols=("eid",)
        ).collect()
    }
    from collections import defaultdict

    by_bucket = defaultdict(list)
    for k, eid, t, v in rows:
        by_bucket[(k, (t // 100) * 100)].append((t, eid, v))
    assert set(got) == set(by_bucket)
    for (k, b), obs in by_bucket.items():
        obs.sort()
        end = b + 100
        num = 0
        for i, (t, _, v) in enumerate(obs):
            nxt = obs[i + 1][0] if i + 1 < len(obs) else end
            num += round(v * 1000) * (nxt - t)
        den = end - obs[0][0]
        gn, gd, gc, gt = got[(k, b)]
        assert (gn, gd, gc) == (num, den, len(obs))
        assert gt == num / (den * 1000.0)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    st.lists(_words_st.filter(lambda ws: len(ws) >= 3), min_size=2, max_size=6),
    st.integers(1, 3),
)
def test_streaming_bloom_state_batching_invariance(
    spark, tmp_path_factory, word_lists, nb
):
    """ANY batching of the same eval suite commits the identical
    positions state (union-distinct associativity), hence identical
    downstream probes."""
    from temporal_vector_database_spark.operators.bloomfilter import (
        eval_bloom_positions,
    )
    from temporal_vector_database_spark.streaming.bloom import (
        process_eval_bloom_batch,
        read_bloom_positions,
    )

    docs = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    state = str(tmp_path_factory.mktemp("bloom_state"))
    for b in range(nb):
        part = df.where(F.col("doc_id") % nb == b)
        process_eval_bloom_batch(part, b, state)
    got = sorted(r.pos for r in read_bloom_positions(spark, state).collect())
    want = sorted(r.pos for r in eval_bloom_positions(df).collect())
    assert got == want


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=8, deadline=None, derandomize=True)
def test_triangle_counts_match_brute_force(spark, edges):
    """Property: per-node triangle counts equal the O(n^3) brute force
    on arbitrary graphs, regardless of input orientation/duplication."""
    import itertools

    from temporal_vector_database_spark.operators.graph import triangle_counts

    canon = {(min(a, b), max(a, b)) for a, b in edges}
    adj: dict[int, set[int]] = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {
        v: sum(
            1
            for x, y in itertools.combinations(sorted(ns), 2)
            if y in adj[x]
        )
        for v, ns in adj.items()
    }
    rows = [(a, b) for a, b in edges]  # original orientations, dups possible upstream
    df = spark.createDataFrame(rows, "src long, dst long")
    got = {r.id: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.text(max_size=6), st.one_of(st.none(), st.text(max_size=6))),
        min_size=1,
        max_size=12,
    ),
    pick=st.integers(0, 10**6),
)
@settings(max_examples=8, deadline=None, derandomize=True)
def test_table_checksum_detects_any_single_cell_change(spark, rows, pick):
    """Property: perturbing ONE cell of ONE row always changes the
    fingerprint (64 fingerprint bits; an md5 collision on adjacent
    encodings would be required to defeat it)."""
    from temporal_vector_database_spark.operators.relational import table_checksum

    base = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "id long, a string, b string"
    )
    i = pick % len(rows)
    a, b = rows[i]
    mut = [(j, (x if j != i else (None if x == "" else (x or "") + "!")), y)
           for j, (x, y) in enumerate((r[0], r[1]) for r in rows)]
    mutated = spark.createDataFrame(
        [(j, x, y) for j, x, y in mut], "id long, a string, b string"
    )

    def fp(df):
        r = table_checksum(df, ("id",), ("a", "b")).collect()[0]
        return (r.n_rows, r.xor_hi, r.xor_lo)

    assert fp(base) != fp(mutated) or rows[i][0] == (
        None if rows[i][0] == "" else (rows[i][0] or "") + "!"
    )


@given(
    toks=st.lists(st.sampled_from(["a", "b", "ab", "c"]), max_size=30),
    pair=st.tuples(
        st.sampled_from(["a", "b", "ab", "c"]), st.sampled_from(["a", "b", "ab", "c"])
    ),
)
@settings(max_examples=300, deadline=None)
def test_merge_word_greedy_equals_parity_rule(toks, pair):
    """The premise under the bpe_train/bpe_apply oracles: the Python
    greedy left-to-right non-overlapping merge equals the relational
    gaps-and-islands PARITY rule (keep match positions at even offsets
    within each maximal run of consecutive matches; consume kept+1)."""
    from temporal_vector_database_spark.operators.tokenize import _merge_word

    left, right = pair
    greedy = _merge_word(list(toks), left, right)

    n = len(toks)
    m = [
        1 if i + 1 < n and toks[i] == left and toks[i + 1] == right else 0
        for i in range(n)
    ]
    kept = [0] * n
    run_start = None
    for i in range(n):
        if m[i]:
            if run_start is None:
                run_start = i
            kept[i] = 1 if (i - run_start) % 2 == 0 else 0
        else:
            run_start = None
    rel = []
    for i in range(n):
        if i > 0 and kept[i - 1]:
            continue  # consumed by the preceding kept merge
        rel.append(toks[i] + toks[i + 1] if kept[i] else toks[i])
    assert greedy == rel


@given(
    sets=st.lists(
        st.frozensets(st.integers(min_value=0, max_value=25), min_size=1, max_size=12),
        min_size=2,
        max_size=10,
    ),
    tn_td=st.sampled_from([(1, 2), (3, 5), (4, 5), (2, 3)]),
)
@settings(max_examples=300, deadline=None)
def test_containment_prefix_theorem_recall_complete(sets, tn_td):
    """The premise under ngram_containment_small /
    decontaminate_containment: if n_inter·den >= num·min(|A|,|B|) then
    the smaller side shares one of its n − ceil(t·n) + 1 rarest tokens
    (global df asc, token asc) with the other side — i.e. the prefix ×
    full-postings join finds EVERY passing pair."""
    import math
    from collections import Counter

    tn, td = tn_td
    df = Counter(t for s in sets for t in s)

    def prefix(s):
        n = len(s)
        p = n - math.ceil(tn * n / td) + 1
        return set(sorted(s, key=lambda t: (df[t], t))[:p])

    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            a, b = sets[i], sets[j]
            inter = len(a & b)
            if inter * td >= tn * min(len(a), len(b)):
                small, big = (a, b) if len(a) <= len(b) else (b, a)
                assert prefix(small) & big, (
                    f"passing pair missed: {sorted(small)} vs {sorted(big)}"
                )


@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=25)
)
@settings(max_examples=10, deadline=None)
def test_robust_stats_matches_numpy(spark, vals):
    """robust_stats' half-sum median, 2x-unit MAD, and 10%-trim equal an
    independent numpy formulation on integer-valued inputs."""
    from temporal_vector_database_spark.operators.timeseries import robust_stats

    ev = spark.createDataFrame(
        [(i, "k", float(v)) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    got = robust_stats(ev, scale=1).collect()[0]
    a = np.sort(np.array(vals, dtype=np.float64))
    n = len(a)
    assert got.median == float(np.median(a))
    k = n // 10
    kept = a[k : n - k]
    assert got.trimmed_mean == float(kept.sum() / len(kept))
    assert got.mad == float(np.median(np.abs(a - np.median(a))))


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    st.lists(
        st.text(alphabet="abcd ", min_size=3, max_size=40),
        min_size=2,
        max_size=12,
    ),
    st.lists(
        st.text(alphabet="abcd ", min_size=3, max_size=40),
        min_size=1,
        max_size=4,
    ),
    st.sampled_from([(1, 4), (1, 2), (3, 4)]),
)
def test_cross_corpus_exact_recall_property(spark, corpus_texts, ev_texts, thr):
    """r08 recall-proof property: on arbitrary small-alphabet corpora
    (adversarially dense shingle collisions), every exact-recall prefix
    join returns EXACTLY its brute-force answer at any threshold — no
    qualifying pair lost, none invented: cross_corpus_jaccard_exact (the
    best match per corpus doc), containment_decontaminate (the same over
    eval-side containment), and the two self-joins over corpus + eval
    docs, jaccard_prefix_join and ngram_containment_pairs(band_on=
    "small") (every qualifying pair)."""
    import hashlib
    from itertools import combinations

    from temporal_vector_database_spark.operators.dedup import (
        containment_decontaminate,
        cross_corpus_jaccard_exact,
        jaccard_prefix_join,
        ngram_containment_pairs,
    )

    tn, td = thr
    width = 3

    def shset(t):
        n = max(len(t) - width + 1, 1)
        return {
            sum(
                int(c, 16) * (16 ** p)
                for p, c in enumerate(
                    hashlib.md5(t[i : i + width].encode()).hexdigest()[:8]
                )
            )
            for i in range(n)
        }

    corpus_rows = list(enumerate(corpus_texts))
    ev_rows = [(100 + i, t) for i, t in enumerate(ev_texts)]
    sets = {i: shset(t) for i, t in corpus_rows + ev_rows}

    def best_match(ok, score):
        want = {}
        for cid, _ in corpus_rows:
            best = None
            for eid, _ in sorted(ev_rows):
                C, E = sets[cid], sets[eid]
                ni = len(C & E)
                if ok(ni, len(C), len(E)):
                    s = score(ni, len(C), len(E))
                    if best is None or s > best[1]:
                        best = (eid, s, ni)
            if best is not None:
                want[cid] = (best[0], best[2])
        return want

    def pairs(ok):
        want = set()
        for a, b in combinations(sorted(sets), 2):
            ni = len(sets[a] & sets[b])
            if ok(ni, len(sets[a]), len(sets[b])):
                want.add((a, b, ni))
        return want

    def jac_ok(ni, na, nb):
        return ni * td >= tn * (na + nb - ni)

    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    ev = spark.createDataFrame(ev_rows, "doc_id long, text string")
    both = corpus.unionByName(ev)

    got = {
        r.doc_id: (r.eval_doc_id, r.n_inter)
        for r in cross_corpus_jaccard_exact(
            corpus, ev, width=width, min_jaccard=tn / td
        ).collect()
    }
    assert got == best_match(jac_ok, lambda ni, nc, ne: ni / (nc + ne - ni))

    got = {
        r.doc_id: (r.eval_doc_id, r.n_inter)
        for r in containment_decontaminate(
            corpus, ev, width=width, min_containment=tn / td
        ).collect()
    }
    assert got == best_match(
        lambda ni, nc, ne: ni * td >= tn * ne, lambda ni, nc, ne: ni / ne
    )

    got = {
        (r.a_id, r.b_id, r.n_inter)
        for r in jaccard_prefix_join(
            both, width=width, min_jaccard_num=tn, min_jaccard_den=td
        ).collect()
    }
    assert got == pairs(jac_ok)

    got = {
        (r.a_id, r.b_id, r.n_inter)
        for r in ngram_containment_pairs(
            both, width=width, min_containment=tn / td, band_on="small"
        ).collect()
    }
    assert got == pairs(lambda ni, na, nb: ni * td >= tn * min(na, nb))


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "ab", "abc", "bb", "cab"]),
            min_size=1, max_size=8,
        ).map(" ".join),
        min_size=1, max_size=6,
    ),
    batch=st.integers(1, 4),
)
def test_bpe_batched_equals_python_reference_on_any_corpus(spark, texts, batch):
    """r09 property: on ANY small corpus and ANY batch size, the batched
    trainer's full output (rules, counts, rounds) equals the independent
    pure-Python batch-greedy reference, and every round's committed
    rules are symbol-disjoint (the order-independence precondition)."""
    from temporal_vector_database_spark.operators.tokenize import (
        bpe_train_batched,
    )
    from tests.test_tokenize import _py_bpe_batched

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        tuple(r)
        for r in bpe_train_batched(docs, n_merges=10, batch_size=batch).collect()
    ]
    want, _ = _py_bpe_batched(texts, 10, batch)
    assert got == want
    by_round: dict[int, set] = {}
    for _rank, l, r, m, _cnt, rnd in got:
        syms = {l, r, m}
        assert not (by_round.setdefault(rnd, set()) & syms), (rnd, syms)
        by_round[rnd] |= syms
