"""Tests for the beyond-reference LLM-pipeline operators: dedup family
(simhash / n-gram jaccard / embedding near-dup), language-ID, IVF search."""

import pytest
from pyspark.sql import functions as F

from temporal_vector_database_spark.functions.text import language_id
from temporal_vector_database_spark.operators.dedup import (
    embedding_near_duplicates,
    exact_duplicates,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
)
from temporal_vector_database_spark.operators.search import ivf_topk, topk_cosine


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup of 0
        (3, "completely different words here entirely unrelated content"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(docs):
    res = {r.doc_id: r for r in exact_duplicates(docs).collect()}
    assert res[0].text_hash == res[1].text_hash
    assert res[0].dup_count == 2 and res[3].dup_count == 1
    assert res[0].is_canonical and not res[1].is_canonical


def test_simhash_identical_docs_equal(docs):
    sig = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    assert sig[0] == sig[1]
    assert 0 <= sig[0] < 2**32


def test_simhash_near_pairs(docs):
    pairs = {(r.a_id, r.b_id): r.hamming for r in simhash_near_pairs(docs, max_hamming=32).collect()}
    assert pairs[(0, 1)] == 0  # identical docs → hamming 0
    # near-dup shares most tokens → much closer than the unrelated doc
    if (0, 3) in pairs and (0, 2) in pairs:
        assert pairs[(0, 2)] < pairs[(0, 3)]


def test_ngram_jaccard_exactness(docs):
    res = {(r.a_id, r.b_id): r for r in ngram_jaccard_pairs(docs, min_jaccard=0.0).collect()}
    assert res[(0, 1)].jaccard == 1.0  # identical docs
    r02 = res[(0, 2)]
    assert 0.5 < r02.jaccard < 1.0
    assert r02.n_inter == r02.n_union * r02.jaccard  # exact integer ratio


def test_simhash_signature_impls_agree(docs):
    a = {r.doc_id: r.simhash for r in simhash_signatures(docs, impl="pandas").collect()}
    b = {r.doc_id: r.simhash for r in simhash_signatures(docs, impl="sql").collect()}
    assert a == b and len(a) > 0


def test_minhash_signature_impls_agree(docs):
    from temporal_vector_database_spark.operators.dedup import minhash_signatures

    def as_map(df):
        return {r.doc_id: tuple(r[f"mh_{h}"] for h in range(8)) for r in df.collect()}

    assert as_map(minhash_signatures(docs, impl="pandas")) == as_map(
        minhash_signatures(docs, impl="sql")
    )


def test_minhash_xxhash64_matches_independent_plan_shape(docs):
    """The production (JVM xxhash64) signature build is pinned by
    bit-equality against a second, structurally independent plan:
    explode every shingle and min-aggregate the same hash calls. Same
    values from two disjoint execution paths ⇒ the shingling, hash
    calls and min-combine are right."""
    from temporal_vector_database_spark.operators.dedup import _shingles, minhash_signatures

    width, k = 3, 8
    got = {
        r.doc_id: tuple(r[f"mh_{h}"] for h in range(k))
        for r in minhash_signatures(docs, impl="xxhash64", num_hashes=k, width=width).collect()
    }
    agg = _shingles(docs, "text", width).groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.col("sh"), F.lit(h))).alias(f"mh_{h}") for h in range(k)]
    )
    want = {r.doc_id: tuple(r[f"mh_{h}"] for h in range(k)) for r in agg.collect()}
    assert got == want and len(got) == 4


def test_minhash_xxhash64_family_finds_same_near_dups(docs):
    """Different hash family ⇒ different est_jaccard noise, same verdicts
    on clear cases: the exact-dup pair estimates 1.0 in both families and
    the unrelated doc pairs nowhere near it."""
    from temporal_vector_database_spark.operators.dedup import (
        minhash_signatures,
        near_duplicate_pairs,
    )

    sigs = minhash_signatures(docs, impl="xxhash64")
    pairs = {
        (r.a_id, r.b_id): r.est_jaccard
        for r in near_duplicate_pairs(docs, bands=4, min_jaccard_est=0.0, sigs=sigs).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert all(e < 0.75 for (a, b), e in pairs.items() if 3 in (a, b))


def test_minhash_near_pairs_verify_strategies_agree(docs):
    from temporal_vector_database_spark.operators.dedup import near_duplicate_pairs

    def as_map(df):
        return {(r.a_id, r.b_id): (r.n_match, r.est_jaccard) for r in df.collect()}

    mat = as_map(
        near_duplicate_pairs(docs, bands=4, min_jaccard_est=0.0, verify="matrix", chunk_rows=2)
    )
    join = as_map(near_duplicate_pairs(docs, bands=4, min_jaccard_est=0.0, verify="join"))
    assert mat == join and len(mat) > 0


def test_simhash_near_pairs_verify_strategies_agree(docs):
    def as_map(df):
        return {(r.a_id, r.b_id): r.hamming for r in df.collect()}

    mat = as_map(simhash_near_pairs(docs, max_hamming=32, verify="matrix", chunk_rows=2))
    join = as_map(simhash_near_pairs(docs, max_hamming=32, verify="join"))
    assert mat == join and len(mat) > 0


def test_embedding_near_dup_verify_strategies_agree(spark):
    # dim 8 < bands*dims_per_band exercises the degenerate all-zero bands
    # (out-of-range dims), incl. quantized-grid values like the oracle's
    rows = [
        (i, [((i * 7 + d * 3) % 11 - 5) / 1024.0 * (64 if d % 2 else 1) for d in range(8)])
        for i in range(30)
    ] + [(100, [1.0] * 8), (101, [1.0] * 8)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def as_map(d):
        return {(r.a_id, r.b_id): r.sim for r in d.collect()}

    mat = as_map(embedding_near_duplicates(df, min_cosine=0.3, verify="matrix", chunk_rows=4))
    join = as_map(embedding_near_duplicates(df, min_cosine=0.3, verify="join"))
    assert mat == join and (100, 101) in mat


def test_ngram_jaccard_verify_strategies_agree(docs):
    # matrix (bucket-grouped BLAS, chunk_rows=2 to force the chunk loop)
    # and join (per-pair array_intersect) must produce identical rows.
    def as_map(df):
        return {
            (r.a_id, r.b_id): (r.n_inter, r.n_union, r.jaccard) for r in df.collect()
        }

    mat = as_map(ngram_jaccard_pairs(docs, min_jaccard=0.0, verify="matrix", chunk_rows=2))
    join = as_map(ngram_jaccard_pairs(docs, min_jaccard=0.0, verify="join"))
    assert mat == join and len(mat) > 0


def test_language_id(spark):
    rows = [
        (0, "the cat and the dog is of to the"),
        (1, "der hund und die katze ist nicht"),
        (2, "xyzzy qwerty plugh"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    res = {r.doc_id: r.predicted_lang for r in language_id(df).collect()}
    assert res[0] == "en" and res[1] == "de" and res[2] == "und"


def test_embedding_near_dup(spark):
    rows = [
        (0, [1.0, 0.0, 1.0, 0.0] * 4),
        (1, [1.0, 0.001, 1.0, 0.0] * 4),  # near-identical to 0
        (2, [-1.0, 0.5, -1.0, 0.5] * 4),  # far from 0/1
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r.a_id, r.b_id): r.sim for r in embedding_near_duplicates(df, min_cosine=0.9).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.999
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_ivf_matches_brute_force_when_probing_own_list(spark):
    # 40 vectors in 2 well-separated clusters; centroid seeding vec_id%20==7
    # puts one centroid in each cluster, so nprobe=1 already recovers the
    # brute-force top-k for in-cluster queries.
    rows = []
    for i in range(40):
        base = [10.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 10.0, 0.0, 0.0]
        rows.append((i, [b + (i % 7) * 0.01 for b in base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    ivf = ivf_topk(df, queries, k=5, nprobe=2, centroid_mod=20, centroid_rem=7)
    brute = topk_cosine(df, queries, k=5, id_cols=("vec_id",))
    ivf_rows = {(r.query_id, r.rank): r.vec_id for r in ivf.collect()}
    brute_rows = {(r.query_id, r.rank): r.vec_id for r in brute.collect()}
    assert ivf_rows == brute_rows


def test_connected_components_chain_and_isolate(spark):
    """Min-label propagation: a chain {a-b, b-c} collapses to canonical
    'a' (two hops — exercises multi-round convergence), an isolated pair
    {x-y} keeps 'x', and nodes absent from pairs are not emitted."""
    from temporal_vector_database_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "a_id string, b_id string"
    )
    got = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_paths_agree(spark):
    """r13: the three physical paths — single-task fold (default guard),
    multi-level coalesce contraction (tiny guard, many partitions), and
    the distributed SQL fallback (guard that cannot be met) — produce
    IDENTICAL labels on a graph with chains, a clique, and an isolated
    pair spread across many input partitions."""
    from temporal_vector_database_spark.operators.dedup import (
        connected_components,
    )

    edges = (
        [(i, i + 1) for i in range(0, 12)]          # 13-node chain
        + [(20 + i, 20 + j) for i in range(5) for j in range(i + 1, 5)]
        + [(100, 101)]
    )
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "a_id long, b_id long"
    ).repartition(8)
    want = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert want[12] == 0 and want[24] == 20 and want[101] == 100
    # multi-level: guard of 4 rows forces ≥1 coalesce+recontract level
    lvl = {
        r.id: r.comp
        for r in connected_components(pairs, single_task_rows=4).collect()
    }
    assert lvl == want
    # SQL fallback: a 1-row guard cannot be met once coalesce stalls
    sql = {
        r.id: r.comp
        for r in connected_components(pairs, single_task_rows=1).collect()
    }
    assert sql == want


def test_connected_components_self_loop_only_nodes_dropped(spark):
    """ADVICE r12 contract pin: a node appearing ONLY in self-pairs is
    absent from the output (both in-repo consumers coalesce missing ids
    to themselves); self-pairs on connected nodes are harmless."""
    from temporal_vector_database_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 2)], "a_id long, b_id long"
    )
    got = {r.id: r.comp for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1}


def test_connected_components_rejects_mixed_id_types(spark):
    """Ids from both pair columns land in both output columns, so the
    two columns must share one type: a mixed input is refused up front
    instead of typing ``id`` from one column and ``comp`` from the
    other."""
    from temporal_vector_database_spark.operators.dedup import (
        connected_components,
    )

    for rows, schema in (
        ([(1, 2), (2, 3)], "a_id int, b_id long"),
        ([(1, "2"), (2, "3")], "a_id long, b_id string"),
    ):
        pairs = spark.createDataFrame(rows, schema)
        with pytest.raises(ValueError, match="same type"):
            connected_components(pairs)


def test_dedup_survivors_assignment(spark, sf_dir):
    """Survivor table invariants: one row per document, every canonical is
    itself a survivor, and canonical_id <= doc_id (min-id convention)."""
    from temporal_vector_database_spark.operators.dedup import dedup_survivors

    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    surv = dedup_survivors(docs).collect()
    assert len(surv) == docs.count()
    canon = {r.canonical_id for r in surv}
    survivors = {r.doc_id for r in surv if r.is_survivor}
    assert canon == survivors
    assert all(r.canonical_id <= r.doc_id for r in surv)
    assert len(survivors) < len(surv)  # the corpus does contain near-dups


def test_training_pipeline_funnel(spark, sf_dir):
    """Curation funnel consistency: the report's per-group counts tie out
    against the stage outputs it composes — filtered count, survivor
    count from dedup_survivors on the SAME filtered set, and exact
    integer token/quality mass."""
    from pyspark.sql import functions as F

    from temporal_vector_database_spark.functions.text import with_text_stats
    from temporal_vector_database_spark.operators.dedup import dedup_survivors
    from temporal_vector_database_spark.operators.pipeline import curation_report

    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    rep = curation_report(docs).collect()

    kept = with_text_stats(docs).where(
        (F.col("quality_r") >= 0.15) & (F.col("predicted_lang") != "und")
    )
    n_kept = kept.count()
    assert sum(r.n_docs for r in rep) == n_kept
    assert 0 < n_kept < docs.count()  # the filter actually drops something

    surv = dedup_survivors(kept)
    n_surv = surv.where("is_survivor").count()
    assert sum(r.n_survivors for r in rep) == n_surv
    assert 0 < n_surv < n_kept  # the filtered corpus still has near-dups

    for r in rep:
        assert r.n_survivors <= r.n_docs
        if r.n_survivors:
            approx = r.survivor_quality_e9 / 1e9 / r.n_survivors
            assert abs(r.avg_survivor_quality_r - approx) < 1e-9
        else:
            assert r.avg_survivor_quality_r is None


def test_incremental_near_dup_matches_full_recompute(spark, sf_dir):
    """Split the corpus into an 'existing' half (signatures persisted) and
    a 'new' batch. Incremental pairs == full-recompute pairs restricted
    to those touching a new doc; old-old pairs never reappear."""
    from temporal_vector_database_spark.operators.dedup import (
        incremental_near_duplicate_pairs,
        minhash_signatures,
        near_duplicate_pairs,
    )

    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    split = docs.agg(F.expr("percentile(doc_id, 0.5)")).first()[0]
    old = docs.where(F.col("doc_id") < split)
    new = docs.where(F.col("doc_id") >= split)
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}

    old_sigs = minhash_signatures(old).localCheckpoint(eager=True)
    inc, new_sigs = incremental_near_duplicate_pairs(old_sigs, new)
    got = {(r.a_id, r.b_id, r.n_match, r.est_jaccard) for r in inc.collect()}

    full = near_duplicate_pairs(docs, verify="join")
    want = {
        (r.a_id, r.b_id, r.n_match, r.est_jaccard)
        for r in full.collect()
        if r.a_id in new_ids or r.b_id in new_ids
    }
    assert got == want and len(got) > 0
    assert all(a in new_ids or b in new_ids for a, b, _, _ in got)
    # the returned new_sigs are exactly the batch's signature rows
    assert new_sigs.count() == new.count()


def test_streaming_dedup_emits_each_pair_once(spark, sf_dir, tmp_path):
    """Stream the corpus in three file-batches: the union of emitted pairs
    equals a one-shot full recompute, with no duplicates — every pair is
    reported exactly once, when its younger member arrives."""
    from temporal_vector_database_spark.operators.dedup import near_duplicate_pairs
    from temporal_vector_database_spark.streaming.dedup import run_dedup_stream

    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    tercile = docs.agg(
        F.expr("percentile(doc_id, 0.33)"), F.expr("percentile(doc_id, 0.66)")
    ).first()
    src = str(tmp_path / "src")
    docs.where(F.col("doc_id") < tercile[0]).coalesce(1).write.mode("append").parquet(src)
    docs.where(
        (F.col("doc_id") >= tercile[0]) & (F.col("doc_id") < tercile[1])
    ).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") >= tercile[1]).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = str(tmp_path / "pairs")
    run_dedup_stream(stream, str(tmp_path / "sigs"), out, str(tmp_path / "ckpt"))

    from temporal_vector_database_spark.streaming.dedup import read_emitted_pairs

    emitted = [
        (r.a_id, r.b_id, r.n_match, r.est_jaccard)
        for r in read_emitted_pairs(spark, out).collect()
    ]
    assert len(emitted) == len(set(emitted))  # exactly-once per pair
    want = {
        (r.a_id, r.b_id, r.n_match, r.est_jaccard)
        for r in near_duplicate_pairs(docs, verify="join").collect()
    }
    assert set(emitted) == want and len(want) > 0


def test_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """Re-invoking a micro-batch with the same batch_id (foreachBatch
    at-least-once replay) must neither duplicate emitted pairs nor
    double-append signatures (which would multiply later batches'
    scored joins)."""
    from temporal_vector_database_spark.operators.dedup import near_duplicate_pairs
    from temporal_vector_database_spark.streaming.dedup import (
        process_dedup_batch,
        read_emitted_pairs,
        read_signature_store,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words here entirely unrelated content"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    state, out = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    b0 = docs.where(F.col("doc_id") <= 1)
    b1 = docs.where(F.col("doc_id") > 1)
    process_dedup_batch(b0, 0, state, out)
    process_dedup_batch(b1, 1, state, out)
    process_dedup_batch(b1, 1, state, out)  # replay
    sigs = read_signature_store(spark, state)
    assert sigs.count() == 4  # one signature row per doc, not doubled
    emitted = [
        (r.a_id, r.b_id, r.n_match, r.est_jaccard)
        for r in read_emitted_pairs(spark, out).collect()
    ]
    assert len(emitted) == len(set(emitted))
    want = {
        (r.a_id, r.b_id, r.n_match, r.est_jaccard)
        for r in near_duplicate_pairs(docs, verify="join").collect()
    }
    assert set(emitted) == want and len(want) > 0


def test_signature_store_compaction_preserves_dedup(spark, tmp_path):
    """Folding committed batch partitions into the sentinel must not
    change what later batches see: pairs after compaction equal the
    no-compaction run, and the folded dirs are gone."""
    import os

    from temporal_vector_database_spark.operators.dedup import near_duplicate_pairs
    from temporal_vector_database_spark.streaming.dedup import (
        compact_signature_store,
        process_dedup_batch,
        read_emitted_pairs,
        read_signature_store,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words here entirely unrelated content"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "some middling content that is not quite like the others"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    state, out = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    for b in range(3):
        process_dedup_batch(docs.where(F.col("doc_id") % 3 == b), b, state, out)
    folded = compact_signature_store(spark, state, keep_last=1)
    assert folded == 2
    names = sorted(d for d in os.listdir(state) if d.startswith("batch="))
    assert names == ["batch=-1", "batch=2"]
    assert read_signature_store(spark, state).count() == 6  # nothing lost
    # a batch arriving after compaction still sees the whole corpus
    extra = spark.createDataFrame(
        [(6, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    process_dedup_batch(extra, 3, state, out)
    emitted = {
        (r.a_id, r.b_id, r.n_match, r.est_jaccard)
        for r in read_emitted_pairs(spark, out).collect()
    }
    all_docs = docs.union(extra)
    want = {
        (r.a_id, r.b_id, r.n_match, r.est_jaccard)
        for r in near_duplicate_pairs(all_docs, verify="join").collect()
    }
    assert emitted == want and len(want) > 0


def test_edit_distance_pairs_filter_verify(spark):
    from temporal_vector_database_spark.operators.dedup import edit_distance_pairs

    base = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, base),
        (2, base + " x"),            # ed 2 (insert ' ', 'x')
        (3, base.replace("quick", "quack")),  # ed 1 (substitute i->a)
        (4, "completely different content with no shared grams at all"),
        (5, base),                   # ed 0 exact clone
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["a_id"], r["b_id"]): r["dist"]
        for r in edit_distance_pairs(docs, max_dist=3, q=4).collect()
    }
    assert got[(1, 5)] == 0
    assert got[(1, 2)] == 2 and got[(2, 5)] == 2
    assert got[(1, 3)] == 1 and got[(3, 5)] == 1
    assert got[(2, 3)] == 3
    assert not any(4 in k for k in got)


def test_band_store_pairs_equal_direct_and_zero_shuffle(spark, sf_dir):
    """The persisted LSH band store must yield the exact pair set of the
    direct matrix path, from a plan with ZERO exchanges (the shuffle
    happened at write time — the steady-state dedup shape at 100 TB)."""
    import os

    from pyspark.sql import functions as F

    from temporal_vector_database_spark.operators.dedup import (
        near_dup_pairs_from_band_store,
        near_duplicate_pairs,
    )
    from temporal_vector_database_spark.plans.inspect import summarize_plan
    from temporal_vector_database_spark.sources.fixtures import (
        ensure_lsh_band_store,
        ensure_minhash_store,
    )

    name = ensure_lsh_band_store(spark, sf_dir, num_hashes=8, bands=4)
    from_store = near_dup_pairs_from_band_store(spark, name)
    s = summarize_plan(from_store)
    assert s.n_shuffle_exchanges == 0, (
        f"band-store read must not shuffle: {sorted(s.shuffle_keysets)}"
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sigs = spark.read.parquet(ensure_minhash_store(spark, sf_dir))
    direct = near_duplicate_pairs(docs, num_hashes=8, bands=4, sigs=sigs)
    key = lambda r: (r.a_id, r.b_id, r.n_match, round(r.est_jaccard, 9))
    assert sorted(map(key, from_store.collect())) == sorted(map(key, direct.collect()))


def test_tier2_compaction_to_band_table(spark, tmp_path):
    """Tier-2 compaction: fold the stream's signature store into the
    bucketed band table; pairs read from it (zero-shuffle path) equal a
    full recompute over every streamed document."""
    from temporal_vector_database_spark.operators.dedup import (
        near_dup_pairs_from_band_store,
        near_duplicate_pairs,
    )
    from temporal_vector_database_spark.streaming.dedup import (
        compact_store_to_band_table,
        process_dedup_batch,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different words here entirely unrelated content"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "some middling content that is not quite like the others"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    state, out = str(tmp_path / "sigs"), str(tmp_path / "pairs")
    for b in range(3):
        process_dedup_batch(docs.where(F.col("doc_id") % 3 == b), b, state, out)
    name = "tvdb_test_band_compact"
    try:
        compact_store_to_band_table(spark, state, name, num_hashes=8, bands=4)
        got = {
            (r.a_id, r.b_id, r.n_match, r.est_jaccard)
            for r in near_dup_pairs_from_band_store(spark, name).collect()
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    want = {
        (r.a_id, r.b_id, r.n_match, r.est_jaccard)
        for r in near_duplicate_pairs(docs, num_hashes=8, bands=4).collect()
    }
    assert got == want and len(want) > 0


def test_curation_report_banded_pairs_matches_default(spark, sf_dir):
    """The band-store-fed funnel (pairs= from the persisted zero-shuffle
    read, restricted to the post-filter set inside dedup_survivors) must
    produce the identical report to the default in-query band join —
    pairwise est_jaccard depends only on the two docs' signatures."""
    import os

    from temporal_vector_database_spark.operators.dedup import (
        near_dup_pairs_from_band_store,
    )
    from temporal_vector_database_spark.operators.pipeline import curation_report
    from temporal_vector_database_spark.sources.fixtures import (
        ensure_lsh_band_store,
        ensure_minhash_store,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    name = ensure_lsh_band_store(spark, sf_dir, num_hashes=8, bands=4)
    pairs = near_dup_pairs_from_band_store(spark, name, min_jaccard_est=0.75)
    banded = curation_report(docs, pairs=pairs).collect()
    sigs = spark.read.parquet(ensure_minhash_store(spark, sf_dir))
    default = curation_report(docs, sigs=sigs).collect()
    key = lambda r: (r.predicted_lang, r.source)
    assert sorted(map(tuple, banded)) == sorted(map(tuple, default))
    assert len(banded) > 0


def test_ngram_containment_catches_subset_dup_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment ~1.0 on
    the short side while Jaccard stays under a typical 0.4 gate."""
    from pyspark.sql import functions as F  # noqa: F401

    from temporal_vector_database_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    filler = " ".join(f"w{i}" for i in range(14))
    rows = [(1, short), (2, short + " " + filler), (3, "totally different text here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.a_id, r.b_id): r
           for r in ngram_containment_pairs(docs, min_containment=0.5).collect()}
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r.containment_a == 1.0         # short side FULLY contained
    assert r.n_inter == r.n_a <= r.n_b
    # jaccard on the same pair understates the duplication badly (union
    # dominated by the long side) — the asymmetric measure is the signal.
    # (At extreme asymmetry the pair stops colliding in any band at all:
    # the documented recall tradeoff of resemblance-tuned banding.)
    jac = {(p.a_id, p.b_id): p.jaccard
           for p in ngram_jaccard_pairs(docs, min_jaccard=0.0, verify="join").collect()}
    assert jac[(1, 2)] < r.containment_a - 0.3


def test_containment_small_side_finds_pairs_symmetric_bands_miss(spark):
    """The r07 exact-recall tier (band_on='small', rare-first prefix
    postings): at extreme asymmetry — a tiny doc embedded in a huge
    one — the symmetric MinHash bands do NOT collide (the huge side's
    signature is dominated by its other shingles), while the
    small-side prefix plan finds EVERY passing pair (recall quantified
    against an in-test brute force)."""
    from temporal_vector_database_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    tiny = "alpha beta gamma delta epsilon zeta"
    rows = []
    for c in range(6):
        filler = " ".join(f"word{c}x{i} filler{(c * 31 + i) % 97}" for i in range(300))
        rows.append((2 * c, f"{filler} {tiny} {filler}"))   # huge container
    rows.append((101, tiny))                                # tiny contained doc
    rows.append((103, "completely unrelated other text entirely"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(df):
        return {(r.a_id, r.b_id) for r in df.collect()}

    small = pairs(
        ngram_containment_pairs(docs, width=7, min_containment=0.6, band_on="small")
    )
    # the tiny doc passes vs EVERY huge container (containment_a = 1.0)
    want = {(2 * c, 101) for c in range(6)}
    assert want <= small
    # brute-force truth: small-side mode returns exactly the passing set
    sym = pairs(
        ngram_containment_pairs(
            docs, width=7, min_containment=0.6, verify="join"
        )
    )
    # symmetric resemblance-tuned banding misses EVERY asymmetric pair
    assert not (want & sym)


def test_containment_small_rational_threshold_guard():
    """Every exact-recall entry point checks its threshold before it
    touches its inputs (``None`` here): ``0 < t <= 1`` and an exact
    rational with denominator <= 1e4. Reached through the public
    ``ngram_containment_pairs(band_on="small")``; the other entry points
    are further inputs."""
    from temporal_vector_database_spark.operators.dedup import (
        containment_decontaminate,
        cross_corpus_jaccard_exact,
        jaccard_prefix_join,
        ngram_containment_pairs,
        sorted_neighborhood_pairs,
    )

    def small(t):
        return ngram_containment_pairs(None, min_containment=t, band_on="small")

    with pytest.raises(ValueError):
        small(0.3333333333333333)
    with pytest.raises(ValueError):
        small(0.0)

    float_entries = (
        small,
        lambda t: cross_corpus_jaccard_exact(None, None, min_jaccard=t),
        lambda t: containment_decontaminate(None, None, min_containment=t),
    )
    # num == 0, num > den, not a short decimal
    for bad, msg in ((0.0, r"\(0, 1\]"), (1.5, r"\(0, 1\]"), (1 / 3, "short decimal")):
        for entry in float_entries:
            with pytest.raises(ValueError, match=msg):
                entry(bad)
    for (num, den), msg in (
        ((0, 2), r"\(0, 1\]"), ((3, 2), r"\(0, 1\]"), ((1, 10_001), "short decimal"),
    ):
        for entry in (jaccard_prefix_join, sorted_neighborhood_pairs):
            with pytest.raises(ValueError, match=msg):
                entry(None, min_jaccard_num=num, min_jaccard_den=den)


def test_containment_decontaminate_catches_quoted_eval(spark):
    """An eval question pasted verbatim inside a long web page: the
    resemblance-tuned cross-corpus LSH (fuzzy_decontaminate's engine)
    never collides — the page's signature is dominated by its other
    shingles — while the exact-recall containment tier flags the page
    with containment 1.0 and names the right eval doc."""
    from temporal_vector_database_spark.operators.dedup import (
        containment_decontaminate,
        cross_corpus_near_dup,
    )

    eval_text = "which element has the atomic number twenty six answer iron"
    filler = " ".join(f"page{i} token{(i * 17) % 83}" for i in range(400))
    corpus_rows = [
        (1, f"{filler} {eval_text} {filler}"),   # contaminated page
        (2, filler + " clean different tail"),   # clean page
    ]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, eval_text), (101, "unrelated benchmark question entirely")],
        "doc_id long, text string",
    )

    got = {r.doc_id: r for r in containment_decontaminate(
        corpus, ev, width=7, min_containment=0.8).collect()}
    assert set(got) == {1}
    assert got[1].eval_doc_id == 100 and got[1].containment == 1.0
    assert got[1].n_inter == got[1].n_eval

    fuzzy = cross_corpus_near_dup(corpus, ev, min_jaccard=0.2).collect()
    assert not fuzzy  # the structural miss this operator exists to fix


def test_ngram_containment_matrix_equals_join_verify(spark, sf_dir):
    """The bucket-BLAS containment verifier and the pair-join verifier
    compute identical pairs and statistics on real fixture docs."""
    import os

    from temporal_vector_database_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    def canon(df):
        return sorted(
            (r.a_id, r.b_id, r.n_inter, r.n_a, r.n_b,
             round(r.containment_a, 12), round(r.containment_b, 12))
            for r in df.collect()
        )

    mx = canon(ngram_containment_pairs(docs, min_containment=0.5))
    jn = canon(ngram_containment_pairs(docs, min_containment=0.5, verify="join"))
    assert mx == jn and len(mx) > 0


def test_fuzzy_decontaminate_catches_edited_leak(spark):
    """A lightly edited copy of an eval doc is flagged (exact n-gram
    overlap would already be broken by the edit at gram grain); clean
    docs are not; the best-match eval id is correct."""
    from pyspark.sql import functions as F  # noqa: F401

    from temporal_vector_database_spark.operators.dedup import (
        cross_corpus_near_dup,
    )

    eval_text = "the quick brown fox jumps over the lazy dog again and again"
    leaked = eval_text.replace("lazy", "sleepy")   # light edit
    rows_eval = [(100, eval_text), (101, "completely unrelated benchmark prompt")]
    rows_corpus = [(1, leaked), (2, "ordinary web document about cooking pasta")]
    ev = spark.createDataFrame(rows_eval, "doc_id long, text string")
    corpus = spark.createDataFrame(rows_corpus, "doc_id long, text string")
    got = {r.doc_id: r for r in
           cross_corpus_near_dup(corpus, ev, min_jaccard=0.5).collect()}
    assert set(got) == {1}
    assert got[1].eval_doc_id == 100
    assert got[1].jaccard >= 0.5


def test_jaccard_prefix_join_exact_recall_vs_brute_force(spark):
    """The prefix-filter contract: EVERY pair with shingle-set Jaccard
    >= t is returned — parity against the all-pairs brute force on a
    corpus with injected borderline near-dups; thresholds are exact
    rationals (integer compare, no float epsilon)."""
    import hashlib

    from temporal_vector_database_spark.operators.dedup import jaccard_prefix_join

    base = "the quick brown fox jumps over the lazy dog once more today"
    texts = {
        1: base,
        2: base.replace("lazy", "slow"),            # heavy overlap
        3: base[10:],                               # prefix-dropped copy
        4: "completely different content about cooking pasta tonight",
        5: "completely different content about cooking pizza tonight",
        6: "unrelated short text",
    }
    width, tn, td = 5, 1, 3  # t = 1/3

    def shset(t):
        n = max(len(t) - width + 1, 1)
        out = set()
        for i in range(n):
            d = hashlib.md5(t[i : i + width].encode()).hexdigest()
            # little-endian-nibble u32 — mirrors _hash32_from_digest_expr
            out.add(sum(int(c, 16) * (16 ** p) for p, c in enumerate(d[:8])))
        return out

    want = set()
    for a in texts:
        for b in texts:
            if a < b:
                A, B = shset(texts[a]), shset(texts[b])
                ni = len(A & B)
                if ni * td >= tn * (len(A) + len(B) - ni):
                    want.add((a, b, ni))

    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        (r.a_id, r.b_id, r.n_inter)
        for r in jaccard_prefix_join(
            docs, width=width, min_jaccard_num=tn, min_jaccard_den=td
        ).collect()
    }
    assert got == want and len(want) >= 3


def test_bbit_minhash_estimator_and_compression_contract(spark):
    """b-bit minhash: identical docs match all 8 digits (j_est = 1.0
    after collision correction); the compressed signature is one hex
    char per hash (the 4x store reduction); unrelated docs never reach
    6/8 matches."""
    from temporal_vector_database_spark.operators.dedup import bbit_minhash_pairs

    a = "the quick brown fox jumps over the lazy dog " * 4
    rows = [(1, a), (2, a), (3, "completely different content entirely " * 4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.a_id, r.b_id): r for r in bbit_minhash_pairs(docs).collect()}
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r.n_match == 8 and r.j_est == 1.0
    assert (1, 3) not in got and (2, 3) not in got

    # ADVICE r07: odd num_hashes would silently drop the last hash from
    # candidate banding while verify still used it — now a hard error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="even"):
        bbit_minhash_pairs(docs, num_hashes=7)


def test_cross_corpus_jaccard_exact_recall_vs_brute_force(spark):
    """r08 (VERDICT r07 #5): the asymmetric exact tier returns the best
    eval match for EVERY corpus doc with J >= t — parity against the
    all-pairs brute force, including a borderline pair near the
    threshold and a corpus doc whose prefix is dominated by tokens
    absent from the eval domain (the counted-not-ranked path)."""
    import hashlib

    from temporal_vector_database_spark.operators.dedup import (
        cross_corpus_jaccard_exact,
    )

    width = 5
    base = "the quick brown fox jumps over the lazy dog once more today"
    ev_texts = {
        100: base,
        101: "a benchmark prompt about cooking pasta tonight with friends",
    }
    corpus_texts = {
        1: base.replace("lazy", "slow"),          # heavy overlap with 100
        2: base[15:],                              # prefix-dropped copy
        3: "zzz qqq xxx vvv kkk " + base[:40],     # absent-token prefix pad
        4: "totally unrelated web text about gardening and weather",
        5: "a benchmark prompt about cooking pizza tonight with friends",
    }

    def shset(t):
        n = max(len(t) - width + 1, 1)
        out = set()
        for i in range(n):
            d = hashlib.md5(t[i : i + width].encode()).hexdigest()
            out.add(sum(int(c, 16) * (16 ** p) for p, c in enumerate(d[:8])))
        return out

    tn, td = 1, 2  # t = 0.5
    want = {}
    for cid, ct in corpus_texts.items():
        best = None
        C = shset(ct)
        for eid in sorted(ev_texts):
            E = shset(ev_texts[eid])
            ni = len(C & E)
            if ni * (td + tn) >= tn * (len(C) + len(E)):
                j = ni / (len(C) + len(E) - ni)
                if best is None or j > best[2]:
                    best = (eid, ni, j)
        if best is not None:
            want[cid] = best

    corpus = spark.createDataFrame(
        list(corpus_texts.items()), "doc_id long, text string"
    )
    ev = spark.createDataFrame(list(ev_texts.items()), "doc_id long, text string")
    got = {
        r.doc_id: (r.eval_doc_id, r.n_inter, r.jaccard)
        for r in cross_corpus_jaccard_exact(
            corpus, ev, width=width, min_jaccard=0.5
        ).collect()
    }
    assert got == want and len(want) >= 3

    # threshold guard: non-decimal rationals rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="short decimal"):
        cross_corpus_jaccard_exact(corpus, ev, min_jaccard=1 / 3)


def test_dedup_survivors_quality_aware_policy(spark):
    """r08: survivor_by picks each cluster's max-score member (ties ->
    lowest id) while the assignment table still covers every doc;
    default policy unchanged (min id)."""
    from temporal_vector_database_spark.operators.dedup import dedup_survivors

    t = "the quick brown fox jumps over the lazy dog again today"
    rows = [
        (1, t, 10),              # cluster {1,2,3}: 2 has max score
        (2, t, 99),
        (3, t, 50),
        (4, "totally different unrelated content entirely here", 7),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, score long")
    got = {
        r.doc_id: (r.canonical_id, r.is_survivor)
        for r in dedup_survivors(docs, survivor_by="score").collect()
    }
    assert got == {1: (2, False), 2: (2, True), 3: (2, False), 4: (4, True)}

    # ties on score -> lowest id wins
    docs2 = spark.createDataFrame(
        [(5, t, 7), (6, t, 7), (7, "zzz unrelated other thing", 1)],
        "doc_id long, text string, score long",
    )
    got2 = {
        r.doc_id: r.canonical_id
        for r in dedup_survivors(docs2, survivor_by="score").collect()
    }
    assert got2 == {5: 5, 6: 5, 7: 7}

    # default policy still min-id
    base = {
        r.doc_id: r.canonical_id for r in dedup_survivors(docs).collect()
    }
    assert base == {1: 1, 2: 1, 3: 1, 4: 4}

    # ADVICE r08: canonical_id keeps the input id column's exact type
    # (no silent widening to long) ...
    docs_int = spark.createDataFrame(
        [(1, t, 10), (2, t, 99)], "doc_id int, text string, score int"
    )
    out = dedup_survivors(docs_int, survivor_by="score")
    assert out.schema["canonical_id"].dataType.simpleString() == "int"
    # ... and a string id raises up front in survivor_by mode (the
    # negation tie-break is numeric-only); default mode still works
    docs_str = spark.createDataFrame(
        [("a", t, 10), ("b", t, 99)], "doc_id string, text string, score int"
    )
    import pytest as _pytest

    with _pytest.raises(TypeError, match="numeric doc_id"):
        dedup_survivors(docs_str, survivor_by="score")
    got_str = {
        r.doc_id: r.canonical_id for r in dedup_survivors(docs_str).collect()
    }
    assert got_str == {"a": "a", "b": "a"}
