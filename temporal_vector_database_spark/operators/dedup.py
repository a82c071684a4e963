"""Deduplication operators (beyond-reference, BASELINE.json north star).

- exact: hash-groupBy on the full text (md5) — one shuffle on the hash;
- near-dup (MinHash): MinHash over character 3-shingles + LSH banding. The
  minhash uses md5-based hash families so Spark and the DuckDB oracle
  compute identical signatures (Spark's ``hash()`` is murmur3, DuckDB's
  differs — md5 is the portable choice). min() over shingles is
  idempotent, so no DISTINCT is needed before the aggregate.
- near-dup (SimHash): 32-bit simhash over whitespace tokens (bit-majority
  vote of per-token md5-derived hashes), candidate pairs via 8-bit band
  buckets, verified by Hamming distance.
- near-dup (n-gram Jaccard): EXACT Jaccard over distinct character
  3-shingles, computed only for LSH candidate pairs (integer-ratio exact).
- near-dup (embedding cosine): sign-bit LSH bucketing over embedding dims,
  verified by exact cosine.

Scale posture: signatures are built in ONE narrow Arrow pass over the
corpus (`_doc_digest_fn` — no shingle explode, no aggregation shuffle);
the SQL explode+aggregate builds remain as oracle-portable twins. LSH
banding bounds the quadratic all-pairs comparison to bucket-colliding
pairs, and verification is bucket-grouped (`_apply_per_bucket`): each
doc's signature/set moves once per band instead of once per candidate
pair, scored with vectorized numpy/BLAS per bucket. Band-bucket skew —
the mega bucket of near-identical docs, THE hot spot at 100 TB on
self-similar corpora — is handled by triangle tiling: oversized buckets
split into salt-grid cells that parallelize the pairwise work with
exactly-once pair ownership. Every matrix verifier has a join-based SQL
twin cross-checked for equality in tests.
"""

from __future__ import annotations

from fractions import Fraction
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5 text hash, duplicate-group size, canonical flag
    (lowest doc_id wins)."""
    w = Window.partitionBy("text_hash")
    return (
        docs.select("doc_id", F.md5(F.col(text_col)).alias("text_hash"))
        .withColumn("dup_count", F.count("*").over(w).cast("long"))
        .withColumn("is_canonical", F.col("doc_id") == F.min("doc_id").over(w))
    )


def _shingles(docs: DataFrame, text_col: str, width: int) -> DataFrame:
    return docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(length({text_col}) - {width - 1}, 1)),"
                f" i -> substring({text_col}, i, {width}))"
            )
        ).alias("sh"),
    )


def _doc_digest_fn(text_col: str, num_hashes: int, width: int, with_set: bool):
    """mapInPandas worker: per-document shingle md5 digests → minhash
    slices (and optionally the distinct hashed-shingle set).

    Python's hashlib produces the same digest bytes as Spark's/DuckDB's
    ``md5`` (UTF-8 input, hex output), Python ``min`` on the ASCII-hex
    slices matches SQL binary string ``min``, and the 32-bit set hash is
    the same little-endian-nibble sum as `_hash32_from_digest_expr` —
    slice-for-slice equality with the SQL build is pinned in tests.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            ids: list = []
            cols: list[list] = [[] for _ in range(num_hashes)]
            sets: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                n = max(len(text) - width + 1, 1)
                digs = {
                    hashlib.md5(text[i : i + width].encode("utf-8")).hexdigest()
                    for i in range(n)
                }
                ids.append(doc_id)
                for h in range(num_hashes):
                    cols[h].append(min(d[4 * h : 4 * h + 4] for d in digs))
                if with_set:
                    sets.append(
                        np.array(
                            [
                                sum(int(c, 16) * (16**p) for p, c in enumerate(d[:8]))
                                for d in digs
                            ],
                            dtype=np.int64,
                        )
                    )
            out = {"doc_id": ids}
            for h in range(num_hashes):
                out[f"mh_{h}"] = cols[h]
            if with_set:
                out["shset"] = sets
            yield pd.DataFrame(out)

    return fn


def _spread(docs: DataFrame) -> DataFrame:
    """Round-robin the corpus across the session's default parallelism when
    the source has fewer partitions (a single fixture parquet file reads as
    1–4 partitions; a 100 TB corpus already has thousands — then this is a
    no-op and the digest map stays narrow)."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    # inputFiles() is ~free; df.rdd materializes the plan's RDD (~0.2 s/call).
    # File count LOWER-bounds partition count (large files split further), so
    # it can only prove "already parallel enough" — never trigger a spurious
    # shuffle of a big corpus. Below target, confirm with the exact probe.
    if len(docs.inputFiles()) >= target:
        return docs
    if docs.rdd.getNumPartitions() < target:
        return docs.repartition(target)
    return docs


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    width: int = 3,
    impl: str = "pandas",
) -> DataFrame:
    """MinHash signature per document over character ``width``-shingles.

    Hash family: the ``num_hashes`` disjoint 4-hex-char (16-bit) slices of
    ONE ``md5(shingle)`` per shingle. 16-bit slices give ~P(min collision)
    ≈ vocab/2^16 per hash — negligible estimator distortion for realistic
    shingle vocabularies, and the slices of a cryptographic digest are
    independent uniform. Requires ``num_hashes <= 8``.

    ``impl="pandas"`` (default): per-doc digesting in one narrow
    ``mapInPandas`` — no shingle explode, no aggregation shuffle; measured
    ~6× faster than the SQL build at sf0.1. ``impl="sql"``: explode +
    ``min`` aggregate, the DuckDB-oracle-portable form (both impls are
    slice-for-slice equal, pinned in tests).

    ``impl="xxhash64"``: the PRODUCTION hash path — the shingle array is
    materialized once per doc, then each hash function is a JVM-side
    ``array_min(transform(shingles, s -> xxhash64(s, h)))``: zero
    shuffle, zero Python workers, no per-shingle ``hashlib`` call, all
    codegen. Signature columns are ``bigint`` (``mh_0..mh_{k-1}``); the
    LSH band/verify machinery accepts either dtype. This family is not
    expressible in ANSI SQL, so the md5 impls stay as the
    DuckDB-gateable twins; xxhash64 correctness is pinned in tests by
    bit-equality against an independent plan shape (explode +
    min-aggregate of the same hash calls) plus a family-overlap check
    on the derived near-dup pairs.
    """
    if impl == "xxhash64":
        sh_arr = F.expr(
            f"transform(sequence(1, greatest(length({text_col}) - {width - 1}, 1)),"
            f" i -> substring({text_col}, i, {width}))"
        )

        def hasher(h):  # NB: a 2-arg lambda would receive (element, index)
            return lambda s: F.xxhash64(s, F.lit(h))

        return (
            _spread(docs.select("doc_id", text_col))
            .withColumn("_sh", sh_arr)
            .select(
                "doc_id",
                *[
                    F.array_min(F.transform("_sh", hasher(h))).alias(f"mh_{h}")
                    for h in range(num_hashes)
                ],
            )
        )
    if num_hashes > 8:
        raise ValueError("md5 yields 32 hex chars → at most 8 16-bit slices")
    if impl == "pandas":
        id_type = next(
            f.dataType.simpleString() for f in docs.schema.fields if f.name == "doc_id"
        )
        schema = f"doc_id {id_type}, " + ", ".join(
            f"mh_{h} string" for h in range(num_hashes)
        )
        return _spread(docs.select("doc_id", text_col)).mapInPandas(
            _doc_digest_fn(text_col, num_hashes, width, with_set=False), schema=schema
        )
    sh = _shingles(docs, text_col, width)
    one = F.md5(F.col("sh"))
    aggs = [
        F.min(F.substring(one, 4 * h + 1, 4)).alias(f"mh_{h}")
        for h in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _banded_signatures(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Append the per-band LSH hashes (md5 over each band's minhash
    slice) to a signature table."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)])
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    return sig.select(
        "doc_id", *[F.col(f"mh_{h}") for h in range(num_hashes)], *band_cols
    )


def _explode_bands(banded: DataFrame, bands: int) -> DataFrame:
    """One row per (doc, band): the unit of LSH bucket membership."""
    return banded.select(
        "*",
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band_id", "band_hash"
        ),
    )


def _minhash_bucket_verify_fn(num_hashes: int, min_jaccard_est: float, chunk_rows: int):
    """Grouped-map verifier: per-bucket pairwise minhash agreement counts.

    Same shape as `_bucket_verify_fn` but the per-pair statistic is
    ``n_match`` = #agreeing minhash slices, computed as a sum of 8
    factorized-code equality matrices — no signature join, no pair-level
    array shuffle. A pair is emitted only by the first band in which it
    collides, so no global dedup pass is needed.
    """
    import numpy as np
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["doc_id"].to_numpy()
        nb = len(ids)
        if nb < 2:
            return pd.DataFrame(
                {
                    "a_id": ids[:0],
                    "b_id": ids[:0],
                    "n_match": np.array([], dtype=np.int32),
                    "est_jaccard": np.array([], dtype=np.float64),
                }
            )
        band_id = int(pdf["band_id"].iloc[0])
        prev = [pd.factorize(pdf[f"band_{j}"])[0] for j in range(band_id)]
        mh = [pd.factorize(pdf[f"mh_{h}"])[0] for h in range(num_hashes)]
        # integer prefilter equivalent to est >= min_est (exact float filter
        # re-applied after selection); matrix-wide equality sums beat
        # per-pair gathers at the near-100% pair density of LSH buckets
        min_match = int(np.ceil(min_jaccard_est * num_hashes - 1e-9))
        out_a, out_b, out_m, out_e = [], [], [], []
        for s in range(0, nb, chunk_rows):
            e = min(s + chunk_rows, nb)
            keep2d = np.triu(np.ones((e - s, nb), dtype=bool), k=s + 1)
            keep2d &= _cell_mask2d(pdf, s, e)
            for codes in prev:  # pair already emitted by an earlier band
                keep2d &= codes[s:e, None] != codes[None, :]
            nm2d = np.zeros((e - s, nb), dtype=np.uint8)
            for codes in mh:
                nm2d += codes[s:e, None] == codes[None, :]
            keep2d &= nm2d >= min_match
            loc, j = np.nonzero(keep2d)
            i = loc + s
            n_match = nm2d[loc, j].astype(np.int32)
            est = n_match / float(num_hashes)
            keep = est >= min_jaccard_est
            i, j, n_match, est = i[keep], j[keep], n_match[keep], est[keep]
            a, b = ids[i], ids[j]
            swap = a > b
            out_a.append(np.where(swap, b, a))
            out_b.append(np.where(swap, a, b))
            out_m.append(n_match)
            out_e.append(est)
        return pd.DataFrame(
            {
                "a_id": np.concatenate(out_a),
                "b_id": np.concatenate(out_b),
                "n_match": np.concatenate(out_m),
                "est_jaccard": np.concatenate(out_e),
            }
        )

    return fn


def near_duplicate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 2,
    width: int = 3,
    min_jaccard_est: float = 0.5,
    materialize: bool = True,
    verify: str = "matrix",
    chunk_rows: int = 2048,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH near-duplicate candidate pairs with estimated Jaccard.

    Bands of ``num_hashes/bands`` rows; a pair is a candidate iff all rows
    of some band agree; estimated Jaccard = fraction of agreeing
    minhashes. Output: a_id < b_id, n_match, est_jaccard (exact rational).

    ``verify="matrix"`` (default) scores each LSH bucket in one grouped-map
    pass (`_minhash_bucket_verify_fn`): signatures move once per band
    instead of once per candidate pair, and the bucket self-join + distinct
    + two signature joins disappear from the plan. ``verify="join"`` keeps
    the join-based plan (cross-checked equal in tests).

    ``materialize`` checkpoints the signature table before it is consumed
    by the bucket self-join + two verify joins — the signature build is the
    expensive stage (full shingle explode over the corpus) and would
    otherwise be recomputed per consumer. This mirrors production practice:
    the MinHash index is materialized once, then pair generation runs
    against it.

    ``sigs``: a precomputed ``minhash_signatures`` output (same
    num_hashes/width) — e.g. the persisted signature store the incremental
    path maintains — so callers that already paid the shingle pass never
    pay it again here.
    """
    sig = sigs if sigs is not None else minhash_signatures(docs, text_col, num_hashes, width)
    if materialize and sigs is None:
        sig = sig.localCheckpoint(eager=True)
    banded = _banded_signatures(sig, num_hashes, bands)
    if verify == "matrix":
        grouped = _explode_bands(banded, bands)
        id_type = next(
            f.dataType.simpleString() for f in docs.schema.fields if f.name == "doc_id"
        )
        return _apply_per_bucket(
            grouped,
            ["band_id", "band_hash"],
            _minhash_bucket_verify_fn(num_hashes, min_jaccard_est, chunk_rows),
            schema=f"a_id {id_type}, b_id {id_type}, n_match int, est_jaccard double",
        )
    bucket = banded.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band_id", "band_hash"
        ),
    )
    pairs = (
        bucket.alias("a")
        .join(
            bucket.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    a_sig = banded.select(F.col("doc_id").alias("a_id"), *[F.col(f"mh_{h}").alias(f"a_mh_{h}") for h in range(num_hashes)])
    b_sig = banded.select(F.col("doc_id").alias("b_id"), *[F.col(f"mh_{h}").alias(f"b_mh_{h}") for h in range(num_hashes)])
    scored = (
        pairs.join(a_sig, "a_id")
        .join(b_sig, "b_id")
        .withColumn(
            "n_match",
            sum(
                F.when(F.col(f"a_mh_{h}") == F.col(f"b_mh_{h}"), 1).otherwise(0)
                for h in range(num_hashes)
            ).cast("int"),
        )
        .withColumn("est_jaccard", F.col("n_match").cast("double") / F.lit(float(num_hashes)))
        .where(F.col("est_jaccard") >= min_jaccard_est)
        .select("a_id", "b_id", "n_match", "est_jaccard")
    )
    return scored


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32  # nibbles 1..8 of md5(token) — portable across engines


def _hash32_from_digest_expr(dig_col: str) -> str:
    """32-bit hash from the first 8 hex nibbles of an md5-digest column.

    Built from ``instr('0123456789abcdef', nibble)`` so the identical
    expression text runs in both Spark SQL and DuckDB (no engine-specific
    hex-parse builtins).
    """
    terms = [
        f"CAST(instr('0123456789abcdef', substring({dig_col}, {p + 1}, 1)) - 1 AS BIGINT)"
        f" * CAST({16 ** p} AS BIGINT)"
        for p in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def _token_hash32_expr(tok_col: str) -> str:
    """32-bit token hash: `_hash32_from_digest_expr` over ``md5(token)``."""
    return _hash32_from_digest_expr(f"md5({tok_col})")


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", impl: str = "pandas"
) -> DataFrame:
    """Per-document 32-bit SimHash over whitespace tokens.

    Classic Charikar simhash: each token votes its hash bits (+1 if set,
    -1 if clear); signature bit b is 1 iff the vote is strictly positive.

    ``impl="pandas"`` (default): per-doc hashing + bit votes in one narrow
    ``mapInPandas`` — no token explode, no 32-sum aggregation shuffle.
    ``impl="sql"``: explode + partially-aggregated vote sums, the
    DuckDB-oracle-portable form. Both are bit-equal (token md5 and the
    little-endian nibble hash are engine-portable; pinned in tests).
    """
    if impl == "pandas":
        import hashlib

        import numpy as np
        import pandas as pd

        def fn(batches):
            for pdf in batches:
                ids, sigs = [], []
                for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                    votes = np.zeros(SIMHASH_BITS, dtype=np.int64)
                    for tok in text.split(" "):
                        d = hashlib.md5(tok.encode("utf-8")).hexdigest()
                        h = sum(int(c, 16) * (16**p) for p, c in enumerate(d[:8]))
                        bits = (h >> np.arange(SIMHASH_BITS)) & 1
                        votes += 2 * bits - 1
                    ids.append(doc_id)
                    sigs.append(
                        int(((votes > 0).astype(np.int64) << np.arange(SIMHASH_BITS)).sum())
                    )
                yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

        id_type = next(
            f.dataType.simpleString() for f in docs.schema.fields if f.name == "doc_id"
        )
        return _spread(docs.select("doc_id", text_col)).mapInPandas(
            fn, schema=f"doc_id {id_type}, simhash bigint"
        )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", F.expr(_token_hash32_expr("tok")).cast("long"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h div {1 << b}) % 2") == 1, 1).otherwise(-1)
            ).alias(f"v_{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = sum(
        F.when(F.col(f"v_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(SIMHASH_BITS)
    )
    return votes.select("doc_id", sim.cast("long").alias("simhash"))


def _simhash_bucket_verify_fn(max_hamming: int, chunk_rows: int):
    """Grouped-map verifier: per-bucket pairwise Hamming distance via
    xor + 16-bit-LUT popcount; first-band emission (band values are
    recomputed from the signature inside the worker, so nothing extra
    rides along)."""
    import numpy as np
    import pandas as pd

    lut = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint8)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["doc_id"].to_numpy()
        nb = len(ids)
        if nb < 2:
            return pd.DataFrame(
                {
                    "a_id": ids[:0],
                    "b_id": ids[:0],
                    "hamming": np.array([], dtype=np.int32),
                }
            )
        band_id = int(pdf["band_id"].iloc[0])
        sims = pdf["simhash"].to_numpy().astype(np.int64)
        prev = [(sims >> (8 * j)) & 255 for j in range(band_id)]
        out_a, out_b, out_h = [], [], []
        for s in range(0, nb, chunk_rows):
            e = min(s + chunk_rows, nb)
            keep2d = np.triu(np.ones((e - s, nb), dtype=bool), k=s + 1)
            keep2d &= _cell_mask2d(pdf, s, e)
            for codes in prev:
                keep2d &= codes[s:e, None] != codes[None, :]
            loc, j = np.nonzero(keep2d)
            i = loc + s
            x = sims[i] ^ sims[j]
            ham = (lut[x & 0xFFFF] + lut[(x >> 16) & 0xFFFF]).astype(np.int32)
            keep = ham <= max_hamming
            i, j, ham = i[keep], j[keep], ham[keep]
            a, b = ids[i], ids[j]
            swap = a > b
            out_a.append(np.where(swap, b, a))
            out_b.append(np.where(swap, a, b))
            out_h.append(ham)
        return pd.DataFrame(
            {
                "a_id": np.concatenate(out_a),
                "b_id": np.concatenate(out_b),
                "hamming": np.concatenate(out_h),
            }
        )

    return fn


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 6,
    verify: str = "matrix",
    chunk_rows: int = 2048,
) -> DataFrame:
    """SimHash near-duplicate pairs: 8-bit band buckets (4 bands — a pair
    within Hamming distance 6 of a 32-bit hash must agree on ≥1 full byte
    when distance < 4; banding is the recall heuristic, Hamming is the
    verifier), then exact Hamming-distance filter.

    ``verify="matrix"`` (default) scores each band bucket in one
    grouped-map pass (xor + LUT popcount, first-band emission) — no bucket
    self-join, no pair shuffle. ``verify="join"`` keeps the join +
    ``bit_count(xor)`` plan (cross-checked equal in tests)."""
    sig = simhash_signatures(docs, text_col)
    if verify == "matrix":
        id_type = next(
            f.dataType.simpleString() for f in docs.schema.fields if f.name == "doc_id"
        )
        grouped = sig.select(
            "doc_id",
            "simhash",
            F.posexplode(
                F.array(*[F.expr(f"(simhash div {1 << (8 * i)}) % 256") for i in range(4)])
            ).alias("band_id", "band_val"),
        )
        return _apply_per_bucket(
            grouped,
            ["band_id", "band_val"],
            _simhash_bucket_verify_fn(max_hamming, chunk_rows),
            schema=f"a_id {id_type}, b_id {id_type}, hamming int",
        )
    bucket = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.expr(f"(simhash div {1 << (8 * i)}) % 256") for i in range(4)])
        ).alias("band_id", "band_val"),
    )
    pairs = (
        bucket.alias("a")
        .join(
            bucket.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("a_sim"),
            F.col("b.simhash").alias("b_sim"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.expr("bit_count(a_sim ^ b_sim)").cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (over LSH candidates)
# ---------------------------------------------------------------------------

def _apply_per_bucket(
    grouped: DataFrame,
    keys: list[str],
    bucket_fn,
    schema: str,
    id_col: str = "doc_id",
    tiles: int = 8,
    tile_threshold: int = 1024,
) -> DataFrame:
    """Run ``bucket_fn`` (a per-bucket pandas verifier) over every bucket,
    many buckets per task: repartition on the bucket key, then ONE
    ``mapInPandas`` per partition with an in-worker pandas groupby.

    LSH bucketing yields tens of thousands of tiny groups; Spark's
    ``groupBy().applyInPandas`` pays ~ms of plan/Arrow machinery per
    group, which dominates end-to-end (measured 5.2 s → ~1 s at sf0.1).
    Partition memory = the partition's share of the signature table (plus
    its largest bucket) — governed by ``spark.sql.shuffle.partitions``,
    exactly like any shuffle.

    THE skew hazard of LSH on a self-similar corpus is the mega bucket
    (thousands of near-identical docs sharing one band hash) — a single
    task doing quadratic work. Buckets larger than ``tile_threshold`` are
    triangle-tiled: each doc gets a deterministic salt in ``[0, tiles)``
    and is replicated to every grid cell ``(min(salt,c), max(salt,c))``;
    each cell is an independent group, and a pair is owned by exactly ONE
    cell (the one matching its salt pair — enforced via `_cell_mask2d`
    inside the verifier), so the mega bucket's pair work spreads over
    ``tiles·(tiles+1)/2`` parallel tasks with no duplicate emission."""
    salted = _salt_tiles(grouped, keys, id_col, tiles, tile_threshold)
    keys2 = [*keys, "_cell_a", "_cell_b"]
    return salted.repartition(*[F.col(k) for k in keys2]).mapInPandas(
        _bucket_runner(bucket_fn, keys2), schema=schema
    )


def _salt_tiles(
    grouped: DataFrame,
    keys: list[str],
    id_col: str = "doc_id",
    tiles: int = 8,
    tile_threshold: int = 1024,
) -> DataFrame:
    """Append the triangle-tiling columns (``_salt``, ``_cell_a``,
    ``_cell_b``) described in :func:`_apply_per_bucket`. Pure column
    algebra over one window count — deterministic, so the salted rows
    can equally be PERSISTED (see :func:`write_lsh_band_store`)."""
    w = Window.partitionBy(*keys)
    return (
        grouped.withColumn("_bcnt", F.count("*").over(w))
        .withColumn(
            "_salt",
            F.when(
                F.col("_bcnt") > tile_threshold,
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(tiles)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_cell",
            F.explode(
                F.when(
                    F.col("_bcnt") > tile_threshold,
                    F.array_distinct(
                        F.expr(
                            f"transform(sequence(0, {tiles - 1}),"
                            " c -> struct(least(_salt, c) as a, greatest(_salt, c) as b))"
                        )
                    ),
                ).otherwise(F.expr("array(struct(0 as a, 0 as b))"))
            ),
        )
        .withColumn("_cell_a", F.col("_cell.a"))
        .withColumn("_cell_b", F.col("_cell.b"))
        .drop("_cell", "_bcnt")
    )


def _bucket_runner(bucket_fn, keys2: list[str]):
    """mapInPandas runner: in-worker pandas groupby over the (already
    co-located) bucket/cell keys, one ``bucket_fn`` call per group."""
    import pandas as pd

    def runner(batches):
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        outs = []
        for _, g in pdf.groupby(keys2, sort=False):
            if len(g) < 2:
                continue
            out = bucket_fn(g)
            if len(out):
                outs.append(out)
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return runner


def _cell_mask2d(pdf, s: int, e: int):
    """Pair-ownership mask for triangle tiling (see `_apply_per_bucket`):
    keep (i, j) iff (min(salt_i, salt_j), max(salt_i, salt_j)) equals this
    group's cell. Untiled groups are all-salt-0 in cell (0, 0) → all-true."""
    import numpy as np

    salt = pdf["_salt"].to_numpy()
    ca = int(pdf["_cell_a"].iloc[0])
    cb = int(pdf["_cell_b"].iloc[0])
    sa = salt[s:e, None]
    sb = salt[None, :]
    return (np.minimum(sa, sb) == ca) & (np.maximum(sa, sb) == cb)


def _bucket_verify_fn(min_jaccard: float, chunk_rows: int):
    """Grouped-map verifier: exact pairwise Jaccard within one LSH bucket.

    Builds the bucket's doc×vocab membership matrix and gets ALL pairwise
    intersection sizes from one BLAS product ``M @ M.T`` (row-chunked to
    bound memory on giant buckets). Counts of a few hundred are exact in
    float32 (integers < 2²⁴); jaccard is computed in float64 to match the
    SQL double division of the oracle.
    """
    import numpy as np
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["doc_id"].to_numpy()
        nb = len(ids)
        if nb < 2:
            return pd.DataFrame(
                {
                    "a_id": ids[:0],
                    "b_id": ids[:0],
                    "n_inter": np.array([], dtype=np.int64),
                    "n_union": np.array([], dtype=np.int64),
                    "jaccard": np.array([], dtype=np.float64),
                }
            )
        # A pair colliding in several bands lands in several buckets; only
        # the FIRST colliding band emits it, so no global dedup pass is
        # needed. Earlier-band hashes are factorized to ints per bucket for
        # cheap broadcast equality.
        band_id = int(pdf["band_id"].iloc[0])
        prev = [pd.factorize(pdf[f"band_{j}"])[0] for j in range(band_id)]
        sets = pdf["shset"].to_list()
        lens = np.array([len(s) for s in sets], dtype=np.int64)
        vocab, inv = np.unique(np.concatenate(sets), return_inverse=True)
        m = np.zeros((nb, len(vocab)), dtype=np.float32)
        m[np.repeat(np.arange(nb), lens), inv] = 1.0
        out_a, out_b, out_i, out_u, out_j = [], [], [], [], []
        for s in range(0, nb, chunk_rows):
            e = min(s + chunk_rows, nb)
            c = m[s:e] @ m.T  # (e-s, nb) pairwise intersection counts
            # keep (i, j) with global i = s + local row and j > i
            keep2d = np.triu(np.ones((e - s, nb), dtype=bool), k=s + 1)
            keep2d &= _cell_mask2d(pdf, s, e)
            for codes in prev:  # pair already emitted by an earlier band
                keep2d &= codes[s:e, None] != codes[None, :]
            loc, j = np.nonzero(keep2d)
            i = loc + s
            inter = np.rint(c[loc, j]).astype(np.int64)
            union = lens[i] + lens[j] - inter
            jac = inter / union
            keep = jac >= min_jaccard
            i, j, inter, union, jac = i[keep], j[keep], inter[keep], union[keep], jac[keep]
            a, b = ids[i], ids[j]
            swap = a > b  # bucket order is arbitrary; canonicalize a_id < b_id
            out_a.append(np.where(swap, b, a))
            out_b.append(np.where(swap, a, b))
            out_i.append(inter)
            out_u.append(union)
            out_j.append(jac)
        return pd.DataFrame(
            {
                "a_id": np.concatenate(out_a),
                "b_id": np.concatenate(out_b),
                "n_inter": np.concatenate(out_i),
                "n_union": np.concatenate(out_u),
                "jaccard": np.concatenate(out_j),
            }
        )

    return fn


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    width: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    min_jaccard: float = 0.4,
    verify: str = "matrix",
    chunk_rows: int = 2048,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity for MinHash-LSH candidate pairs.

    The LSH stage bounds the candidate set (vs. the quadratic all-pairs
    join); the verify stage computes true |A∩B| / |A∪B| over DISTINCT
    character shingles — an integer ratio, so bit-exact in any engine.
    Shingles are pre-hashed to 32-bit ints (md5-nibble hash, portable);
    the Jaccard is over the hashed shingle space — P(any collision) ≈
    vocab²/2³³, negligible distortion.

    Two verify strategies computing IDENTICAL results (cross-checked in
    tests):

    - ``verify="matrix"`` (default): group by LSH bucket and get every
      pairwise intersection count from one BLAS product over the bucket's
      doc×vocab 0/1 matrix (`_bucket_verify_fn`). Each doc's shingle set
      moves once per band (≤ ``bands`` copies) instead of once per
      candidate pair — on a self-similar corpus where the mean pair-degree
      is in the hundreds, that removes ~99% of the verify-stage shuffle.
      A pair colliding in several bands is emitted only by the FIRST
      band in which it collides (each doc carries all its band hashes, so
      the check is bucket-local) — output needs no global dedup shuffle.
      Giant buckets are the skew hazard at scale: compute is row-chunked
      (``chunk_rows``) so memory stays bounded, but one bucket is still
      one task — salting/two-level banding is the documented escape hatch.
    - ``verify="join"``: candidate pairs first (bucket self-join +
      distinct), then each pair row carries both docs' set arrays through
      ``array_intersect`` in codegen — |pairs| rows moving ~two set
      arrays each. Beats the |pairs| × |shingles| exploded join ~25×,
      but the per-pair array shuffle is the measured bottleneck on
      self-similar corpora (~16 GB at sf0.1).
    """
    rows_per_band = num_hashes // bands

    def band_exprs():
        return [
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            ).alias(f"band_{b}")
            for b in range(bands)
        ]

    if verify == "matrix":
        # Fused build: ONE narrow mapInPandas digest pass yields both the
        # minhash slices and the distinct hashed-shingle set — no shingle
        # explode, no aggregation shuffle (`_doc_digest_fn`).
        id_type = next(
            f.dataType.simpleString() for f in docs.schema.fields if f.name == "doc_id"
        )
        digested = _spread(docs.select("doc_id", text_col)).mapInPandas(
            _doc_digest_fn(text_col, num_hashes, width, with_set=True),
            schema=(
                f"doc_id {id_type}, "
                + ", ".join(f"mh_{h} string" for h in range(num_hashes))
                + ", shset array<bigint>"
            ),
        )
        combined = digested.select("doc_id", "shset", *band_exprs()).localCheckpoint(
            eager=False
        )
        grouped = combined.select(
            "doc_id",
            "shset",
            *[F.col(f"band_{b}") for b in range(bands)],
            F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
                "band_id", "band_hash"
            ),
        )
        id_type = next(
            f.dataType.simpleString() for f in docs.schema.fields if f.name == "doc_id"
        )
        return _apply_per_bucket(
            grouped,
            ["band_id", "band_hash"],
            _bucket_verify_fn(min_jaccard, chunk_rows),
            schema=(
                f"a_id {id_type}, b_id {id_type}, n_inter bigint,"
                " n_union bigint, jaccard double"
            ),
        )

    shsets = (
        _shingles(docs, text_col, width)
        .distinct()
        .withColumn("shh", F.expr(_token_hash32_expr("sh")).cast("long"))
        .groupBy("doc_id")
        .agg(F.collect_set("shh").alias("shset"))
        .select("doc_id", "shset", F.size("shset").cast("long").alias("n_sh"))
        .localCheckpoint(eager=False)
    )

    sig = minhash_signatures(docs, text_col, num_hashes, width).localCheckpoint(
        eager=False
    )
    bucket = sig.select("doc_id", *band_exprs()).select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band_id", "band_hash"
        ),
    )

    pairs = (
        bucket.alias("a")
        .join(
            bucket.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )

    a_sets = shsets.select(
        F.col("doc_id").alias("a_id"), F.col("shset").alias("a_set"), F.col("n_sh").alias("n_a")
    )
    b_sets = shsets.select(
        F.col("doc_id").alias("b_id"), F.col("shset").alias("b_set"), F.col("n_sh").alias("n_b")
    )
    return (
        pairs.join(a_sets, "a_id")
        .join(b_sets, "b_id")
        .withColumn("n_inter", F.size(F.array_intersect("a_set", "b_set")).cast("long"))
        .withColumn("n_union", (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("long"))
        .withColumn("jaccard", F.col("n_inter").cast("double") / F.col("n_union").cast("double"))
        .where(F.col("jaccard") >= min_jaccard)
        .select("a_id", "b_id", "n_inter", "n_union", "jaccard")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (sign-bit LSH)
# ---------------------------------------------------------------------------

def _embedding_bucket_verify_fn(
    bands: int, dims_per_band: int, min_cosine: float, chunk_rows: int
):
    """Grouped-map verifier: per-bucket pairwise cosine via one float64
    BLAS gram matrix; first-band emission (band sign patterns are
    recomputed from the vectors inside the worker).

    Bit-parity note: on the engine's quantized embedding grid (dyadic
    1/1024 steps) every product and partial sum is exactly representable
    in float64, so the BLAS dot equals the SQL left-fold bit-for-bit. On
    arbitrary float data the two can differ in the last ulp (documented;
    the strategies-agree test runs on grid data, like the oracle).
    """
    import numpy as np
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vid"].to_numpy()
        nb = len(ids)
        if nb < 2:
            return pd.DataFrame(
                {
                    "a_id": ids[:0],
                    "b_id": ids[:0],
                    "sim": np.array([], dtype=np.float64),
                }
            )
        band_id = int(pdf["band_id"].iloc[0])
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
        dim = m.shape[1]

        def band_codes(bid: int) -> np.ndarray:
            code = np.zeros(nb, dtype=np.int64)
            for j in range(dims_per_band):
                d = bid * dims_per_band + j
                if d < dim:  # SQL element_at OOB → NULL → bit stays 0
                    code += (m[:, d] >= 0).astype(np.int64) << j
            return code

        prev = [band_codes(j) for j in range(band_id)]
        nrm = np.sqrt((m * m).sum(axis=1))
        out_a, out_b, out_s = [], [], []
        for s in range(0, nb, chunk_rows):
            e = min(s + chunk_rows, nb)
            c = m[s:e] @ m.T
            keep2d = np.triu(np.ones((e - s, nb), dtype=bool), k=s + 1)
            keep2d &= _cell_mask2d(pdf, s, e)
            for codes in prev:
                keep2d &= codes[s:e, None] != codes[None, :]
            loc, j = np.nonzero(keep2d)
            i = loc + s
            denom = nrm[i] * nrm[j]
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = np.where(denom > 0, c[loc, j] / denom, 0.0)
            keep = sim >= min_cosine
            i, j, sim = i[keep], j[keep], sim[keep]
            a, b = ids[i], ids[j]
            swap = a > b
            out_a.append(np.where(swap, b, a))
            out_b.append(np.where(swap, a, b))
            out_s.append(sim)
        return pd.DataFrame(
            {
                "a_id": np.concatenate(out_a),
                "b_id": np.concatenate(out_b),
                "sim": np.concatenate(out_s),
            }
        )

    return fn


def embedding_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    bands: int = 4,
    dims_per_band: int = 4,
    min_cosine: float = 0.8,
    verify: str = "matrix",
    chunk_rows: int = 2048,
) -> DataFrame:
    """Embedding near-duplicate pairs via sign-bit LSH + exact cosine.

    Bucket key per band = the sign pattern of ``dims_per_band`` consecutive
    dimensions (a random-hyperplane LSH specialized to axis-aligned planes —
    deterministic, engine-portable). A candidate pair shares ≥1 full band
    pattern; survivors are verified with exact cosine ≥ ``min_cosine``.
    Recall for cos≈0.8 with 4×4-bit bands ≈ 0.87; more/narrower bands trade
    shuffle volume for recall (documented approximation, like any LSH).

    ``verify="matrix"`` (default) scores each sign bucket in one
    grouped-map BLAS pass (`_embedding_bucket_verify_fn`) — each vector
    moves once per band instead of once per candidate pair. When the
    vector dimension doesn't cover every band (bands beyond the dimension
    hash everything to pattern 0), the degenerate full-population buckets
    make the pair-join plan quadratic in shuffle volume; the grouped pass
    keeps it local. ``verify="join"``: bucket self-join + per-pair HOF
    cosine (cross-checked equal in tests).
    """
    from temporal_vector_database_spark.functions.vector import cosine

    def band_val(i: int):
        # try_element_at: out-of-range dims contribute bit 0 (NULL >= 0 is
        # false) — matches DuckDB's NULL list indexing in the oracle and
        # keeps short vectors legal under ANSI mode
        bits = [
            F.when(
                F.try_element_at(F.col("emb"), F.lit(i * dims_per_band + j + 1)) >= 0,
                F.lit(1 << j),
            ).otherwise(F.lit(0))
            for j in range(dims_per_band)
        ]
        return sum(bits)

    e = embeddings.select(F.col(id_col).alias("vid"), F.col(emb_col).alias("emb"))
    if verify == "matrix":
        id_type = next(
            f.dataType.simpleString()
            for f in embeddings.schema.fields
            if f.name == id_col
        )
        grouped = e.select(
            "vid",
            "emb",
            F.posexplode(F.array(*[band_val(i).cast("int") for i in range(bands)])).alias(
                "band_id", "band_val"
            ),
        )
        return _apply_per_bucket(
            grouped,
            ["band_id", "band_val"],
            _embedding_bucket_verify_fn(bands, dims_per_band, min_cosine, chunk_rows),
            schema=f"a_id {id_type}, b_id {id_type}, sim double",
            id_col="vid",
        )
    bucket = e.select(
        "vid",
        F.posexplode(F.array(*[band_val(i).cast("int") for i in range(bands)])).alias(
            "band_id", "band_val"
        ),
    )
    pairs = (
        bucket.alias("a")
        .join(
            bucket.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("a_id"), F.col("b.vid").alias("b_id"))
        .distinct()
    )
    a_e = e.select(F.col("vid").alias("a_id"), F.col("emb").alias("a_emb"))
    b_e = e.select(F.col("vid").alias("b_id"), F.col("emb").alias("b_emb"))
    return (
        pairs.join(a_e, "a_id")
        .join(b_e, "b_id")
        .withColumn("sim", cosine(F.col("a_emb"), F.col("b_emb")))
        .where(F.col("sim") >= min_cosine)
        .select("a_id", "b_id", "sim")
    )


def _precontract_pairs(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Per-partition vectorized pre-contraction for connected components
    (r12, guide §4.2 / §2.3 "aggregate before you shuffle"): inside each
    scan partition, run numpy min-label propagation with pointer jumping
    over that partition's edges until local fixpoint, and emit ONE
    ``(local_min_label, node)`` edge per non-root node — a spanning
    structure that is connectivity-EQUIVALENT to the partition's edge
    set but at most one row per distinct node.

    Why sound: every emitted edge (node → its current local label) is a
    union of merges the full algorithm would also make, and the labels
    chain within the partition, so global connectivity is exactly
    preserved; the distributed contraction loop downstream finishes the
    cross-partition merges. (Even a PARTIAL local fixpoint would be
    correct — fewer merges, never wrong ones — the fixpoint just
    minimizes what the loop still has to do.)

    Why it scales: the dense LSH near-dup pair lists (near-cliques, the
    dominant cost of the old loop's first round) collapse map-side with
    zero shuffle; the loop then starts from ≤ #distinct-nodes rows per
    partition instead of the full pair list. State per task is bounded
    by that partition's node count (same discipline as the bucket
    verifiers)."""
    tp = dict(pairs.dtypes)

    def fn(it):
        import numpy as np
        import pandas as pd

        a_parts, b_parts = [], []
        for pdf in it:
            a_parts.append(pdf[a_col].to_numpy())
            b_parts.append(pdf[b_col].to_numpy())
        if not a_parts:
            return
        a = np.concatenate(a_parts)
        b = np.concatenate(b_parts)
        if len(a) == 0:
            return
        nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ea, eb = inv[: len(a)], inv[len(a):]
        # labels are indices into the SORTED node array, so min index ==
        # min id — the same canonical the distributed loop converges to
        lbl = np.arange(len(nodes), dtype=np.int64)
        for _ in range(64):
            prev = lbl
            nxt = lbl.copy()
            np.minimum.at(nxt, eb, lbl[ea])
            np.minimum.at(nxt, ea, lbl[eb])
            nxt = nxt[nxt]  # pointer jump: halve chain depth per round
            lbl = nxt
            if np.array_equal(lbl, prev):
                break
        keep = lbl != np.arange(len(nodes))
        yield pd.DataFrame({a_col: nodes[lbl[keep]], b_col: nodes[keep]})

    return pairs.select(a_col, b_col).mapInPandas(
        fn, schema=f"{a_col} {tp[a_col]}, {b_col} {tp[b_col]}"
    )


def _forest_labels_single_task(
    forest: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Final contraction level (r13): the whole pre-contracted forest in
    ONE task — numpy min-label propagation with pointer jumping run to
    the PROVEN fixpoint, emitting ``(id, comp)`` for EVERY node
    (roots label themselves). At fixpoint every edge's endpoints share a
    label and labels are idempotent, and since labels only ever take
    values of reachable node indices and are non-increasing, the shared
    label is exactly the component minimum — the same canonical the SQL
    contraction loop converges to (bit-equality pinned in tests).

    Only called when the caller has PROVEN the forest is under the
    single-task guard (``connected_components(single_task_rows=)``), so
    the one task holds a bounded edge list, never the raw pair graph."""
    tp = dict(forest.dtypes)

    def fn(it):
        import numpy as np
        import pandas as pd

        a_parts, b_parts = [], []
        for pdf in it:
            a_parts.append(pdf[a_col].to_numpy())
            b_parts.append(pdf[b_col].to_numpy())
        a = np.concatenate(a_parts) if a_parts else np.array([])
        if len(a) == 0:
            return
        b = np.concatenate(b_parts)
        nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        ea, eb = inv[: len(a)], inv[len(a):]
        lbl = np.arange(len(nodes), dtype=np.int64)
        for _ in range(200):  # min-prop + pointer jumping: O(log n) rounds
            prev = lbl
            nxt = lbl.copy()
            np.minimum.at(nxt, eb, lbl[ea])
            np.minimum.at(nxt, ea, lbl[eb])
            nxt = nxt[nxt]
            lbl = nxt
            if np.array_equal(lbl, prev):
                break
        else:  # pragma: no cover — 200 ≫ log2 of any guard-sized forest
            raise RuntimeError(
                "connected_components single-task fold did not converge"
            )
        yield pd.DataFrame({"id": nodes, "comp": nodes[lbl]})

    return forest.coalesce(1).mapInPandas(
        fn, schema=f"id {tp[a_col]}, comp {tp[b_col]}"
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 20,
    single_task_rows: int = 4_000_000,
) -> DataFrame:
    """Connected components of an undirected pair graph by iterative
    min-neighborhood contraction (the large-star/small-star family,
    Kiveris et al., "Connected Components in MapReduce and Beyond"):
    each round every node maps to ``h(v) = min(v ∪ neighbors(v))`` and
    the edge set is contracted to ``(h(s), h(d))`` with self-loops
    dropped. The component minimum is a fixed point of ``h``; quotient
    connectivity is preserved, so when the contracted edge set is empty
    each component has exactly one surviving representative — its min.

    Why this beats plain min-label propagation: rounds are
    O(log diameter) (a path halves per round, pointer-jumping style)
    instead of O(diameter), and — decisive for LSH near-dup graphs,
    which are dense near-cliques — the edge set collapses to ~#components
    after round one, so only the first round touches the full pair list
    (measured 20 s → ~3 s on a 981k-edge / 3.4k-node graph at sf0.1).

    Scale posture: the pair list is first collapsed MAP-SIDE to ≤ one
    edge per distinct node per partition (``_precontract_pairs``, r12 —
    zero shuffle). When the resulting forest fits the single-task guard
    (``single_task_rows``) the labels come from ONE bounded numpy fold
    (r13 — see below); otherwise coalesce levels halve-and-recontract
    the forest map-side until it fits, and only if that stalls does the
    distributed SQL loop run: per round one min-aggregate + two hash
    joins keyed by node id over a strictly shrinking edge set; the
    shared ``h`` table is localCheckpoint'ed per round (it feeds three
    consumers) while the label table stays a lazy join chain over those
    checkpoints and materializes once at convergence; only an emptiness
    probe comes to the driver.

    ``single_task_rows`` (r13, guide §2.3/§1.2 step 1): after the
    map-side pre-contraction the remaining cost at bench scale was pure
    Spark job latency — 2 SQL rounds × (h checkpoint + edges checkpoint
    + isEmpty probe) ≈ 6 scheduled jobs to merge a few thousand forest
    rows. With the forest checkpointed, ONE cheap count decides: under
    the guard, a single task union-finds the whole forest (3 jobs
    total, no keyed shuffle at all). At 100 TB the guard makes this
    safe, not a local[32] constant: the forest is ≤ one row per
    distinct node per scan partition, each multi-level coalesce merges
    ~guard-sized groups WITHOUT a shuffle (narrow dependency), per-task
    state stays ≤ ~2 × guard int64s (the bucket-verifier discipline),
    and a forest that cannot contract under the guard falls back to the
    proven distributed loop.

    Degenerate-input contract (ADVICE r12): a node appearing ONLY in
    self-pairs (a == b) is absent from the output entirely (since r12's
    pre-contraction; the pre-r12 loop emitted (id, id) for it) — both
    in-repo consumers coalesce missing ids to themselves, and the
    self-loop property test pins the behavior. Null ids are not
    supported (the pair builders never emit them).

    Both id columns must share one type (``ValueError`` otherwise): ids
    from either column land in both output columns, so a mixed pair
    would type one of them wrongly.

    Output: (id, comp) — comp is the minimum id reachable from ``id``.
    """
    import warnings

    tp = dict(pairs.dtypes)
    if tp[a_col] != tp[b_col]:
        raise ValueError(
            f"connected_components: {a_col} ({tp[a_col]}) and {b_col}"
            f" ({tp[b_col]}) must have the same type"
        )
    # r12: collapse each partition's pair list map-side first (zero
    # shuffle — see _precontract_pairs), then run the contraction loop
    # on the residual ≤ one-edge-per-node structure. Measured at sf0.1
    # (1.27M-pair LSH graph, interleaved A/B): 4.6 s → 3.2 s min-of-4
    # together with the per-round trim below.
    forest = _precontract_pairs(pairs, a_col, b_col).localCheckpoint(
        eager=True
    )
    n_forest = forest.count()  # one trivial job over the checkpoint
    # r13 multi-level map-side contraction: halve toward the guard with
    # shuffle-free coalesce + re-contract levels; stop when a level
    # stops shrinking (pathological partition layout) and fall back.
    guard = max(1, int(single_task_rows))  # 0 would divide below
    while n_forest > guard:
        target = -(-n_forest // guard)  # ceil
        level = _precontract_pairs(
            forest.coalesce(int(target)), a_col, b_col
        ).localCheckpoint(eager=True)
        n_level = level.count()
        if n_level >= n_forest:
            break  # coalesce was a no-op or the forest stopped shrinking
        forest, n_forest = level, n_level
    if n_forest <= guard:
        return _forest_labels_single_task(forest, a_col, b_col).localCheckpoint(
            eager=True
        )
    e0 = forest.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
    edges = e0.union(e0.select(F.col("d").alias("s"), F.col("s").alias("d")))
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    converged = False
    for _ in range(max_iter):
        # r12 per-round trim: checkpoint h (it feeds three consumers —
        # both contraction joins and the label update) instead of the
        # label table; labels stay a LAZY join chain over the ≤ max_iter
        # checkpointed h tables and materialize once at the end — two
        # eager materializations per round become one.
        h = (
            edges.groupBy("s")
            .agg(F.min("d").alias("mind"))
            .select(F.col("s").alias("node"), F.least("s", "mind").alias("h"))
            .localCheckpoint(eager=True)
        )
        contracted = (
            edges.join(h.select(F.col("node").alias("s"), F.col("h").alias("hs")), "s")
            .join(h.select(F.col("node").alias("d"), F.col("h").alias("hd")), "d")
            .select(F.col("hs").alias("s"), F.col("hd").alias("d"))
            .where(F.col("s") != F.col("d"))
            .distinct()
        )
        labels = (
            labels.join(h.select(F.col("node").alias("comp"), "h"), "comp", "left")
            .select("id", F.coalesce("h", F.col("comp")).alias("comp"))
        )
        edges = contracted.localCheckpoint(eager=True)
        if edges.isEmpty():
            converged = True
            labels = labels.localCheckpoint(eager=True)
            break
    if not converged:
        # silent under-merging would let duplicates survive dedup — say so
        warnings.warn(
            f"connected_components: not converged after {max_iter} rounds "
            "(contracted edge set still non-empty); labels are partially "
            "merged. Raise max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def dedup_survivors(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    width: int = 3,
    min_jaccard_est: float = 0.75,
    sigs: DataFrame | None = None,
    pairs: DataFrame | None = None,
    survivor_by: str | None = None,
) -> DataFrame:
    """End of the dedup pipeline: decide which documents SURVIVE.

    MinHash-LSH near-dup pairs above ``min_jaccard_est`` form an
    undirected similarity graph; its connected components are duplicate
    clusters; the canonical (minimum doc_id) of each cluster survives,
    every other member is dropped. Documents in no qualifying pair are
    their own canonical. Output: (doc_id, canonical_id, is_survivor) —
    a full assignment table the downstream pipeline can anti-join on.

    ``survivor_by`` (r08): QUALITY-AWARE canonical selection — name a
    numeric column of ``docs`` and each cluster's survivor becomes its
    max-``survivor_by`` member (ties → lowest doc_id) instead of the
    lowest id: "keep the best copy, not the first" (e.g. the longest
    or highest-quality version of a mirrored page). Implemented as a
    map-side-combinable struct-max aggregate per cluster — no window,
    one cluster-keyed exchange of (cluster, score, id) triples. The
    tie-break encodes "lowest id" as a negated id inside the struct
    max, which requires a NUMERIC ``doc_id`` — validated below (a
    string id raises up front instead of failing mid-plan), and the
    published ``canonical_id`` is cast back to the input id column's
    exact type so both modes agree on schema (ADVICE r08).

    ``sigs``: optional precomputed signature table (see
    ``near_duplicate_pairs``) — lets a pipeline that maintains a
    persisted signature store skip the shingle pass entirely.

    ``pairs``: optional precomputed pair table (e.g. the zero-shuffle
    ``near_dup_pairs_from_band_store`` read over the persisted band
    layout) — skips both shingling AND the band join. Sound to
    pre-filter to ``docs``: pairwise signatures don't depend on other
    documents, so all-corpus pairs restricted to this doc set are
    exactly the pairs this doc set would produce. Rows involving docs
    outside ``docs`` are dropped here defensively.
    """
    if pairs is None:
        pairs = near_duplicate_pairs(
            docs, text_col, num_hashes, bands, width,
            min_jaccard_est=min_jaccard_est, sigs=sigs,
        )
    else:
        ids_a = docs.select(F.col("doc_id").alias("a_id"))
        ids_b = docs.select(F.col("doc_id").alias("b_id"))
        pairs = pairs.join(ids_a, "a_id").join(ids_b, "b_id")
    pairs = pairs.where(F.col("est_jaccard") >= min_jaccard_est)
    comp = connected_components(pairs)
    base_cols = ["doc_id"] + ([survivor_by] if survivor_by else [])
    assigned = (
        docs.select(*base_cols)
        .join(comp, docs["doc_id"] == comp["id"], "left")
        .select(
            *base_cols,
            F.coalesce("comp", F.col("doc_id")).alias("_cluster"),
        )
    )
    if survivor_by is None:
        # CC labels ARE min member ids — the cluster label is canonical
        return assigned.select(
            "doc_id", F.col("_cluster").alias("canonical_id")
        ).withColumn("is_survivor", F.col("doc_id") == F.col("canonical_id"))
    from pyspark.sql.types import NumericType

    id_type = docs.schema["doc_id"].dataType
    if not isinstance(id_type, NumericType):
        raise TypeError(
            "survivor_by tie-break requires a numeric doc_id column "
            f"(got {id_type.simpleString()}); use the default min-id "
            "mode (survivor_by=None) for string ids"
        )
    best = assigned.groupBy("_cluster").agg(
        F.max(
            F.struct(
                F.col(survivor_by).alias("q"), (-F.col("doc_id")).alias("nid")
            )
        ).alias("_best")
    ).select(
        "_cluster", (-F.col("_best.nid")).cast(id_type).alias("canonical_id")
    )
    return (
        assigned.join(best, "_cluster")
        .select("doc_id", "canonical_id")
        .withColumn("is_survivor", F.col("doc_id") == F.col("canonical_id"))
    )


def incremental_near_duplicate_pairs(
    existing_sigs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 2,
    width: int = 3,
    min_jaccard_est: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Incremental dedup: near-dup pairs INVOLVING A NEW DOC, against a
    persisted signature corpus — the daily-crawl pattern at 100 TB: the
    historical corpus is never re-shingled, only its (tiny) signature
    table is read; per-batch cost is |new| shingling + an LSH bucket join
    that is new-vs-all, not all-vs-all.

    ``existing_sigs``: a prior ``minhash_signatures`` output (same
    num_hashes). Returns ``(pairs, new_sigs)`` — append ``new_sigs`` to
    the signature store after the batch commits. Pair schema and scoring
    are identical to ``near_duplicate_pairs`` (a_id < b_id, n_match,
    est_jaccard); old-old pairs are intentionally absent (they were
    reported when their younger member arrived).
    """
    new_sigs = minhash_signatures(new_docs, text_col, num_hashes, width).localCheckpoint(
        eager=True
    )
    all_sigs = existing_sigs.unionByName(new_sigs)
    rows_per_band = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)])
        ).alias(f"band_{b}")
        for b in range(bands)
    ]

    def bucketed(sig: DataFrame) -> DataFrame:
        return sig.select("doc_id", *band_cols).select(
            "doc_id",
            F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
                "band_id", "band_hash"
            ),
        )

    bnew = bucketed(new_sigs)
    ball = bucketed(all_sigs)
    pairs = (
        bnew.alias("n")
        .join(
            ball.alias("m"),
            (F.col("n.band_id") == F.col("m.band_id"))
            & (F.col("n.band_hash") == F.col("m.band_hash"))
            & (F.col("n.doc_id") != F.col("m.doc_id")),
        )
        .select(
            F.least(F.col("n.doc_id"), F.col("m.doc_id")).alias("a_id"),
            F.greatest(F.col("n.doc_id"), F.col("m.doc_id")).alias("b_id"),
        )
        .distinct()
    )
    a_sig = all_sigs.select(
        F.col("doc_id").alias("a_id"), *[F.col(f"mh_{h}").alias(f"a_mh_{h}") for h in range(num_hashes)]
    )
    b_sig = all_sigs.select(
        F.col("doc_id").alias("b_id"), *[F.col(f"mh_{h}").alias(f"b_mh_{h}") for h in range(num_hashes)]
    )
    scored = (
        pairs.join(a_sig, "a_id")
        .join(b_sig, "b_id")
        .withColumn(
            "n_match",
            sum(
                F.when(F.col(f"a_mh_{h}") == F.col(f"b_mh_{h}"), 1).otherwise(0)
                for h in range(num_hashes)
            ).cast("int"),
        )
        .withColumn("est_jaccard", F.col("n_match").cast("double") / F.lit(float(num_hashes)))
        .where(F.col("est_jaccard") >= min_jaccard_est)
        .select("a_id", "b_id", "n_match", "est_jaccard")
    )
    return scored, new_sigs


def semantic_dedup(
    embeddings: DataFrame,
    min_cosine: float = 0.5,
    centroid_mod: int = 20,
    centroid_rem: int = 7,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus
    (nearest-centroid assignment), compare embeddings PAIRWISE ONLY
    WITHIN a cluster, and drop the higher-id member of every pair with
    cosine >= ``min_cosine``.

    Per vector: its cluster, how many LOWER-id near-duplicates it has in
    that cluster, and ``is_survivor`` (no lower-id near-dup — the
    deterministic stand-in for SemDeDup's keep-one-per-group choice).

    Scale posture: the quadratic comparison is bounded per cluster —
    cost is sum(cluster_size²), not corpus²; the number of centroids is
    the knob that caps cluster size (SemDeDup runs ~100k clusters at
    web scale). Assignment reuses ``ivf_assign`` (broadcast centroids,
    one BLAS argmax pass); the pair join is an equi-join on centroid_id
    co-partitioning both sides once. Quantized-grid embeddings keep the
    dot products exact, so the threshold compare is engine-portable.
    """
    from temporal_vector_database_spark.operators.search import ivf_assign

    _, assign = ivf_assign(embeddings, centroid_mod, centroid_rem, id_col, emb_col)
    a = assign.select(
        "centroid_id",
        F.col("vid").alias("a_vid"),
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = assign.select(
        "centroid_id",
        F.col("vid").alias("b_vid"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    from temporal_vector_database_spark.operators.search import _guarded_sim

    cos = _guarded_sim("a_emb", "b_emb", "a_nrm", "b_nrm")
    pairs = (
        a.join(b, "centroid_id")
        .where(F.col("a_vid") < F.col("b_vid"))
        .select("centroid_id", "a_vid", "b_vid", cos.alias("cos"))
        .where(F.col("cos") >= F.lit(float(min_cosine)))
    )
    near_lower = pairs.groupBy("b_vid").agg(F.count("*").cast("bigint").alias("n_near_lower"))
    return (
        assign.join(near_lower, assign["vid"] == near_lower["b_vid"], "left")
        .select(
            F.col("vid").alias(id_col),
            "centroid_id",
            F.coalesce("n_near_lower", F.lit(0)).cast("bigint").alias("n_near_lower"),
            (F.coalesce("n_near_lower", F.lit(0)) == 0).alias("is_survivor"),
        )
    )


def edit_distance_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_dist: int = 3,
    q: int = 4,
) -> DataFrame:
    """Edit-distance similarity join: all pairs with Levenshtein distance
    <= ``max_dist``, found by q-gram prefix filtering (filter-verify, the
    compressed-index string-join literature's standard shape — PAPERS.md
    'Highly Efficient String Similarity Search and Join').

    Soundness: one edit destroys at most ``q`` q-grams, so ed(s,t) <= k
    implies t's gram set contains all but <= q*k of s's distinct grams —
    hence at least one of s's (q*k + 1) globally-rarest grams (its
    "prefix") — PROVIDED s has more than q*k distinct grams. A document
    with <= q*k distinct grams (short text, or long degenerate text)
    can lose its entire gram set to k edits, so those documents are
    routed through a direct length-banded verify against the whole
    corpus instead: the "small" side is broadcast, each small doc meets
    only docs within the |len| <= k band, and the union of both paths
    restores the full contract ("ALL pairs with distance <= k").

    Scale posture: the prefix side is (q*k + 1) rows per doc and the
    join lands on each doc's RAREST grams (global-frequency order), so
    bucket sizes stay small on natural corpora; verification cost is
    candidate-bounded. The fallback side is tiny on natural corpora
    (documents of <= ~q·(k+1) characters); a corpus that is MOSTLY
    degenerate shorts defeats q-gram filtering by nature and should
    lower ``q`` instead. The expensive levenshtein touches only
    candidate pairs' texts, fetched by semi-join.
    """
    pref_len = q * max_dist + 1
    grams = docs.select(
        "doc_id",
        F.length(text_col).alias("tlen"),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length({text_col}) - {q - 1}, 1)),"
                    f" i -> substring({text_col}, i, {q}))"
                )
            )
        ).alias("g"),
    ).where(F.length("g") == q)
    freq = grams.groupBy("g").agg(F.count("*").alias("df"))
    wg = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("g"))
    ranked = grams.join(freq, "g").withColumn("rn", F.row_number().over(wg))
    prefix = ranked.where(F.col("rn") <= pref_len).select("doc_id", "tlen", "g")
    # fallback path: docs whose DISTINCT gram count <= q*k (including
    # zero-gram docs shorter than q chars) — the prefix filter is not
    # sound for them, so band-join them against everything nearby in
    # length and let levenshtein decide
    ng = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    lens = docs.select("doc_id", F.length(text_col).alias("tlen"))
    small = (
        lens.join(ng, "doc_id", "left")
        .where(F.coalesce(F.col("n_grams"), F.lit(0)) <= q * max_dist)
        .select(F.col("doc_id").alias("s_id"), F.col("tlen").alias("s_len"))
    )
    small_cands = (
        lens.alias("t")
        .join(
            F.broadcast(small).alias("s"),
            (F.col("s.s_id") != F.col("t.doc_id"))
            & (F.abs(F.col("s.s_len") - F.col("t.tlen")) <= max_dist),
        )
        .select(
            F.least(F.col("s.s_id"), F.col("t.doc_id")).alias("a_id"),
            F.greatest(F.col("s.s_id"), F.col("t.doc_id")).alias("b_id"),
        )
    )
    # the |len(a)−len(b)| <= k length filter participates in the EQUI-join
    # key, not just as a post-filter: lengths are bucketed at width
    # (k + 1), so a qualifying pair's buckets differ by at most 1, and the
    # prefix side replicates to its 3 admissible buckets. On a corpus
    # whose grams are individually common (small vocabulary — exactly the
    # LSH mega-bucket shape), this splits each gram's join bucket by the
    # length distribution instead of materializing gram-frequency² rows
    # and filtering after (measured 90 s → ~4 s at sf0.1); the residual
    # exact |Δlen| <= k filter stays as a cheap post-condition
    bw = max_dist + 1
    lb = F.floor(F.col("tlen") / F.lit(bw)).cast("long")
    prefix_b = prefix.withColumn(
        "lb", F.explode(F.array(lb - 1, lb, lb + 1))
    )
    grams_b = grams.withColumn("lb", lb)
    cands = (
        prefix_b.alias("p")
        .join(grams_b.alias("f"), ["g", "lb"])
        .where(
            (F.col("p.doc_id") != F.col("f.doc_id"))
            & (F.abs(F.col("p.tlen") - F.col("f.tlen")) <= max_dist)
        )
        .select(
            F.least(F.col("p.doc_id"), F.col("f.doc_id")).alias("a_id"),
            F.greatest(F.col("p.doc_id"), F.col("f.doc_id")).alias("b_id"),
        )
        .unionByName(small_cands)
        .distinct()
    )
    a = docs.select(
        F.col("doc_id").alias("a_id"),
        F.col(text_col).alias("a_text"),
        F.length(text_col).alias("a_len"),
    )
    b = docs.select(
        F.col("doc_id").alias("b_id"),
        F.col(text_col).alias("b_text"),
        F.length(text_col).alias("b_len"),
    )
    # threshold (banded-DP) levenshtein: O(k·n) per pair instead of
    # O(n·m), returning -1 above the bound — on long-text corpora the
    # verify step is ~len/k times cheaper (measured 90 s → 20 s at
    # sf0.1); the distance is exact whenever it is <= max_dist, so the
    # result set is identical to the unbanded form
    return (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .where(F.abs(F.col("a_len") - F.col("b_len")) <= max_dist)
        .withColumn(
            "dist", F.levenshtein("a_text", "b_text", threshold=max_dist).cast("int")
        )
        .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("a_id", "b_id", "dist")
    )


def write_lsh_band_store(
    sigs: DataFrame,
    table_name: str,
    num_hashes: int = 8,
    bands: int = 4,
    buckets: int = 64,
    tiles: int = 8,
    tile_threshold: int = 1024,
) -> None:
    """Persist the fully prepared LSH band layout: signatures exploded
    per band, with the band hashes AND the triangle-tiling columns
    precomputed, BUCKETED by the complete verify grouping key
    ``(band_id, band_hash, _cell_a, _cell_b)``.

    This moves the near-dup join's only shuffle to WRITE time (once per
    corpus, amortized over every dedup query after): a bucketed scan
    already co-locates each LSH bucket/cell, so
    :func:`near_dup_pairs_from_band_store` is scan → mapInPandas with
    ZERO exchanges (plan-pinned in tests). Mega-bucket skew protection
    survives persistence — the tiling cells are part of the bucketing
    key, so a hot band hash's cells hash to different buckets/tasks.

    This is the per-band compaction target for a long-running ingest
    stream: fold `streaming/dedup.py`'s per-batch signature dirs into
    this table and the steady-state dedup cost is pure scan + verify.
    """
    grouped = _explode_bands(_banded_signatures(sigs, num_hashes, bands), bands)
    salted = _salt_tiles(grouped, ["band_id", "band_hash"], "doc_id", tiles, tile_threshold)
    (
        salted.write.mode("overwrite")
        .bucketBy(buckets, "band_id", "band_hash", "_cell_a", "_cell_b")
        .sortBy("band_id", "band_hash", "_cell_a", "_cell_b")
        .saveAsTable(table_name)
    )


def near_dup_pairs_from_band_store(
    spark,
    table_name: str,
    min_jaccard_est: float = 0.5,
    chunk_rows: int = 2048,
) -> DataFrame:
    """Near-duplicate pairs from a persisted :func:`write_lsh_band_store`
    table: the bucketed layout already co-locates every (band bucket,
    tile cell) group, so the whole query is a narrow scan →
    ``mapInPandas`` verify — no exchange anywhere. Bit-equal to
    ``near_duplicate_pairs(verify="matrix")`` at the same parameters
    (pinned in tests)."""
    salted = spark.table(table_name)
    fields = {f.name: f.dataType.simpleString() for f in salted.schema.fields}
    num_hashes = sum(1 for n in fields if n.startswith("mh_"))
    keys2 = ["band_id", "band_hash", "_cell_a", "_cell_b"]
    return salted.mapInPandas(
        _bucket_runner(
            _minhash_bucket_verify_fn(num_hashes, min_jaccard_est, chunk_rows), keys2
        ),
        schema=(
            f"a_id {fields['doc_id']}, b_id {fields['doc_id']},"
            " n_match int, est_jaccard double"
        ),
    )


def _bucket_containment_fn(min_containment: float, chunk_rows: int):
    """Grouped-map verifier for CONTAINMENT: same bucket BLAS product as
    `_bucket_verify_fn`, but the per-pair statistics are the directed
    ratios inter/|A| and inter/|B| (pair kept when either reaches the
    threshold); the canonicalizing swap swaps the sizes with the ids."""
    import numpy as np
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["doc_id"].to_numpy()
        nb = len(ids)
        empty = pd.DataFrame(
            {
                "a_id": ids[:0],
                "b_id": ids[:0],
                "n_inter": np.array([], dtype=np.int64),
                "n_a": np.array([], dtype=np.int64),
                "n_b": np.array([], dtype=np.int64),
                "containment_a": np.array([], dtype=np.float64),
                "containment_b": np.array([], dtype=np.float64),
            }
        )
        if nb < 2:
            return empty
        band_id = int(pdf["band_id"].iloc[0])
        prev = [pd.factorize(pdf[f"band_{j}"])[0] for j in range(band_id)]
        sets = pdf["shset"].to_list()
        lens = np.array([len(s) for s in sets], dtype=np.int64)
        vocab, inv = np.unique(np.concatenate(sets), return_inverse=True)
        m = np.zeros((nb, len(vocab)), dtype=np.float32)
        m[np.repeat(np.arange(nb), lens), inv] = 1.0
        frames = []
        for st in range(0, nb, chunk_rows):
            e = min(st + chunk_rows, nb)
            c = m[st:e] @ m.T
            keep2d = np.triu(np.ones((e - st, nb), dtype=bool), k=st + 1)
            keep2d &= _cell_mask2d(pdf, st, e)
            for codes in prev:
                keep2d &= codes[st:e, None] != codes[None, :]
            loc, j = np.nonzero(keep2d)
            i = loc + st
            inter = np.rint(c[loc, j]).astype(np.int64)
            na, nbn = lens[i], lens[j]
            ca = inter / na
            cb = inter / nbn
            keep = (ca >= min_containment) | (cb >= min_containment)
            i, j = i[keep], j[keep]
            inter, na, nbn, ca, cb = inter[keep], na[keep], nbn[keep], ca[keep], cb[keep]
            a, b = ids[i], ids[j]
            swap = a > b
            frames.append(
                pd.DataFrame(
                    {
                        "a_id": np.where(swap, b, a),
                        "b_id": np.where(swap, a, b),
                        "n_inter": inter,
                        "n_a": np.where(swap, nbn, na),
                        "n_b": np.where(swap, na, nbn),
                        "containment_a": np.where(swap, cb, ca),
                        "containment_b": np.where(swap, ca, cb),
                    }
                )
            )
        return pd.concat(frames) if frames else empty

    return fn


# ---------------------------------------------------------------------------
# Exact-recall set-similarity joins: one filter-verify pipeline
# ---------------------------------------------------------------------------
# The four PPJoin-family joins (`jaccard_prefix_join`,
# `cross_corpus_jaccard_exact`, `ngram_containment_pairs(band_on="small")`,
# `containment_decontaminate`) compose these stages: exact threshold →
# row-local set build → rare-first prefix → candidate equi-join (the one
# piece each shape owns) → candidate-pruned integer verify → best match
# per corpus doc (cross-corpus shapes). Set tables are ``(id, set, n)``
# frames in that column order; the stages address their columns by
# position, so each caller names them for its shape.


def _exact_threshold(t, name: str) -> tuple[int, int]:
    """Threshold stage: ``t`` — a float, read through its shortest decimal
    repr (``0.6`` → 3/5), or an integer pair ``(num, den)`` — as the
    reduced exact rational ``(tn, td)``, checked for ``0 < t <= 1`` and
    ``td <= 10⁴``. Every later comparison is pure integer arithmetic, so
    recall never hinges on float rounding; the denominator bound keeps
    ``tn·n`` far from BIGINT range (pass 1/3 as the short decimal 0.333)."""
    if isinstance(t, tuple):
        num, den = int(t[0]), int(t[1])
    else:
        num, den = Fraction(str(float(t))), 1
    frac = Fraction(num, den) if den > 0 else Fraction(0)
    if not 0 < frac <= 1:
        raise ValueError(f"{name} must be in (0, 1], got {t}")
    if frac.denominator > 10_000:
        raise ValueError(
            f"{name} must be a short decimal (denominator <= 1e4), got {frac}"
        )
    return frac.numerator, frac.denominator


def _shingle_set(text_col: str, width: int) -> Column:
    """Distinct 32-bit hashes (`_hash32_from_digest_expr`) of the
    character ``width``-shingles, built ROW-LOCALLY: one ``md5`` per
    shingle, hashed and de-duplicated inside one projection — no
    explode, no distinct shuffle, no ``collect_set`` (the same set as
    distinct-shingles → hash → collect_set: both dedupe at the hash32
    grain)."""
    digs = (
        f"transform(sequence(1, greatest(length({text_col}) - {width - 1}, 1)),"
        f" i -> md5(substring({text_col}, i, {width})))"
    )
    return F.expr(
        f"array_distinct(transform({digs},"
        f" d -> CAST({_hash32_from_digest_expr('d')} AS BIGINT)))"
    )


def _shingle_sets(
    docs: DataFrame, text_col: str, width: int, id_col: str = "doc_id"
) -> DataFrame:
    """Set-build stage: ``(_id, sh_set, n_sh)`` per document."""
    return docs.select(
        F.col(id_col).alias("_id"), _shingle_set(text_col, width).alias("sh_set")
    ).withColumn("n_sh", F.size("sh_set").cast("long"))


def _tokens(sets: DataFrame) -> DataFrame:
    """Posting stream ``(id, n, tok)`` of a set table."""
    i, s, n = sets.columns
    return sets.select(i, n, F.explode(s).alias("tok"))


def _doc_freq(tok: DataFrame) -> DataFrame:
    return tok.groupBy("tok").agg(F.count("*").cast("long").alias("df"))


def _prefix_len(n: str, tn: int, td: int) -> Column:
    """``n − ceil(t·n) + 1`` in exact integers: a doc whose overlap with
    another must reach ``ceil(t·n)`` shares one of its first this-many
    tokens with it, under ANY global token order (the prefix theorem)."""
    return F.col(n) - F.expr(f"({tn} * {n} + {td} - 1) div {td}") + F.lit(1)


def _rare_prefix(
    ranked: DataFrame, id_col: str, n_col: str, tn: int, td: int
) -> DataFrame:
    """Prefix stage: each doc's `_prefix_len` rarest tokens under the
    global order ``(df, tok)`` — one doc-keyed window. ``ranked`` is a
    posting stream with its ``df`` column joined on. Cost concentrates
    on rare tokens (short posting lists): the frequent-token quadratic
    blowup of a naive token join is exactly what the order prunes."""
    w = Window.partitionBy(id_col).orderBy(F.asc("df"), F.asc("tok"))
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _prefix_len(n_col, tn, td))
        .select("tok", id_col, n_col)
    )


def _members(sets: DataFrame, pairs: DataFrame, *id_cols: str) -> DataFrame:
    """``sets`` pruned to the docs named in ``pairs``' ``id_cols``: at
    corpus scale only docs that survived the prefix filter carry their
    sets into the verify join. The stage adds no broadcast hint: in
    adversarial self-join corpora the id list approaches one row per
    document, so forcing a broadcast is an unbounded OOM risk at the
    100 TB posture (ADVICE r07); AQE picks a broadcast at runtime when
    the list is actually small. A caller whose pair list is bounded
    passes ``F.broadcast(pairs)`` (the hint rides up to the semi-join)."""
    key = sets.columns[0]
    ids = reduce(
        DataFrame.unionByName, [pairs.select(F.col(c).alias(key)) for c in id_cols]
    )
    return sets.join(ids.distinct(), key, "left_semi")


def _verify(pairs: DataFrame, gate: Column, **sides: DataFrame) -> DataFrame:
    """Verify stage: join each candidate pair to the two sides' set
    tables — the keyword is the side's tag, so ``a=sets`` joins
    ``(a_id, a_set, n_a)`` on ``a_id`` — count the exact intersection
    ``n_inter`` (``array_intersect`` in codegen) and keep the pairs that
    pass the integer ``gate``."""
    for tag, sets in sides.items():
        tagged = sets.toDF(f"{tag}_id", f"{tag}_set", f"n_{tag}")
        pairs = pairs.join(tagged, f"{tag}_id")
    a, b = sides
    return pairs.withColumn(
        "n_inter", F.size(F.array_intersect(f"{a}_set", f"{b}_set")).cast("long")
    ).where(gate)


def _gate(tn: int, td: int, bound: Column) -> Column:
    """``n_inter >= (tn/td)·bound`` in exact integers."""
    return F.col("n_inter") * F.lit(td) >= F.lit(tn) * bound


def _jaccard_gate(tn: int, td: int, n_a: str, n_b: str) -> Column:
    """``J >= tn/td`` ⟺ ``n_inter >= tn/(tn+td)·(n_a + n_b)``: the gate
    names ``n_inter`` once — it is pushed into the verify join's
    condition, where each reference re-runs ``array_intersect``."""
    return _gate(tn, tn + td, F.col(n_a) + F.col(n_b))


def _jaccard(n_a: str, n_b: str) -> Column:
    union = F.col(n_a) + F.col(n_b) - F.col("n_inter")
    return F.col("n_inter").cast("double") / union.cast("double")


def _ratio(n: str) -> Column:
    return F.col("n_inter").cast("double") / F.col(n).cast("double")


def _best_match(scored: DataFrame, score: str, *cols) -> DataFrame:
    """Best-match stage: one row per corpus doc ``c_id`` with its best
    eval doc (max ``score``, ties → lower ``e_id``), as ``(doc_id,
    eval_doc_id, *cols)``."""
    w = Window.partitionBy("c_id").orderBy(F.desc(score), F.asc("e_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("c_id").alias("doc_id"), F.col("e_id").alias("eval_doc_id"), *cols
        )
    )


def ngram_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    width: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    min_containment: float = 0.6,
    verify: str = "matrix",
    chunk_rows: int = 2048,
    band_on: str = "sig",
) -> DataFrame:
    """ASYMMETRIC near-dup: n-gram set containment
    ``C(A→B) = |A∩B| / |A|`` in both directions — the measure that
    catches quote-inclusion and superset duplicates (a short doc fully
    embedded in a long one has high containment but LOW Jaccard,
    because the union is dominated by the long doc; Broder 1997
    distinguishes "resemblance" from "containment" for exactly this).
    A pair survives when EITHER direction reaches ``min_containment``.

    Candidates come from the same MinHash-LSH banding as
    ``ngram_jaccard_pairs`` (bounded, no all-pairs); the verify is the
    join form — each candidate pair carries both docs' hashed shingle
    sets through ``array_intersect`` in codegen. Containments are
    integer ratios (|A∩B|, |A|, |B| exact) — bit-stable anywhere.

    Caveat of the default (``band_on="sig"``) candidate tier, shared
    with all MinHash-LSH pipelines: banding recall is tuned for
    RESEMBLANCE, so extreme-asymmetry pairs (tiny |A|, huge |B|) may
    not collide in any band — the signature of B is dominated by its
    non-A shingles. ``band_on="small"`` is the production fix: key the
    candidate join on the SMALL side's shingles. Taken to its exact
    conclusion, bands over the small side degenerate into rare-first
    PREFIX POSTINGS (the containment analogue of the PPJoin tier,
    ``jaccard_prefix_join``): if ``C(A→B) >= num/den`` with
    ``|A| <= |B|`` then ``|A∩B| >= ceil(t·|A|)``, so A shares one of
    its ``n − ceil(t·n) + 1`` globally-rarest shingles with B — an
    equi-join of every doc's rarest-prefix against every doc's FULL
    postings is recall-COMPLETE for the either-direction predicate
    (the container side cannot be prefix-pruned: containment puts no
    lower bound on |∩|/|B|). The threshold is the exact rational of
    `_exact_threshold` and the verify gate is pure integers
    (``n_inter·den >= num·least(n_a, n_b)``), so recall is provable,
    not float-dependent — the driver gate for this mode is a
    brute-force ALL-PAIRS oracle, which only passes because the plan
    misses nothing. Cost concentrates on rare tokens (short posting
    lists); at 100 TB the frequent-shingle postings are the pressure
    point — cap or segment hot shingles there, which trades back
    recall only on pairs whose every prefix shingle is hot.
    """
    if band_on not in ("sig", "small"):
        raise ValueError(f"band_on must be 'sig' or 'small', got {band_on!r}")
    if band_on == "small":
        tn, td = _exact_threshold(min_containment, "min_containment")
        sets = _shingle_sets(
            _spread(docs.select("doc_id", text_col)), text_col, width
        ).localCheckpoint()
        tok = _tokens(sets)
        prefix = _rare_prefix(
            tok.join(_doc_freq(tok), "tok"), "_id", "n_sh", tn, td
        ).localCheckpoint()
        # prefix side = the smaller set of the pair (ties by id) — exactly
        # the side the prefix theorem bounds; the container side is the
        # full posting stream, never prefix-pruned
        ia, ib = F.col("pa._id"), F.col("pb._id")
        na, nb = F.col("pa.n_sh"), F.col("pb.n_sh")
        cand = (
            prefix.alias("pa")
            .join(
                tok.alias("pb"),
                (F.col("pa.tok") == F.col("pb.tok"))
                & ((na < nb) | ((na == nb) & (ia < ib))),
            )
            .select(F.least(ia, ib).alias("a_id"), F.greatest(ia, ib).alias("b_id"))
            .distinct()
            .localCheckpoint()
        )
        # verify-side spread: see jaccard_prefix_join
        v = _members(sets, cand, "a_id", "b_id")
        scored = _verify(_spread(cand), _gate(tn, td, F.least("n_a", "n_b")), a=v, b=v)
        return scored.select(
            "a_id", "b_id", "n_inter", "n_a", "n_b",
            _ratio("n_a").alias("containment_a"), _ratio("n_b").alias("containment_b"),
        )
    rows_per_band = num_hashes // bands

    def band_exprs():
        return [
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            ).alias(f"band_{b}")
            for b in range(bands)
        ]

    if verify == "matrix":
        # bucket-grouped BLAS verify (the jaccard default): each doc's
        # set moves once per band instead of once per candidate pair
        id_type = next(
            f.dataType.simpleString() for f in docs.schema.fields if f.name == "doc_id"
        )
        digested = _spread(docs.select("doc_id", text_col)).mapInPandas(
            _doc_digest_fn(text_col, num_hashes, width, with_set=True),
            schema=(
                f"doc_id {id_type}, "
                + ", ".join(f"mh_{h} string" for h in range(num_hashes))
                + ", shset array<bigint>"
            ),
        )
        combined = digested.select("doc_id", "shset", *band_exprs()).localCheckpoint(
            eager=False
        )
        grouped = combined.select(
            "doc_id",
            "shset",
            *[F.col(f"band_{b}") for b in range(bands)],
            F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
                "band_id", "band_hash"
            ),
        )
        return _apply_per_bucket(
            grouped,
            ["band_id", "band_hash"],
            _bucket_containment_fn(float(min_containment), chunk_rows),
            schema=(
                f"a_id {id_type}, b_id {id_type}, n_inter bigint,"
                " n_a bigint, n_b bigint,"
                " containment_a double, containment_b double"
            ),
        )

    shsets = (
        _shingles(docs, text_col, width)
        .distinct()
        .withColumn("shh", F.expr(_token_hash32_expr("sh")).cast("long"))
        .groupBy("doc_id")
        .agg(F.collect_set("shh").alias("shset"))
        .select("doc_id", "shset", F.size("shset").cast("long").alias("n_sh"))
        .localCheckpoint(eager=False)
    )
    sig = minhash_signatures(docs, text_col, num_hashes, width).localCheckpoint(
        eager=False
    )
    bucket = sig.select("doc_id", *band_exprs()).select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band_id", "band_hash"
        ),
    )
    pairs = (
        bucket.alias("a")
        .join(
            bucket.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    a_sets = shsets.select(
        F.col("doc_id").alias("a_id"), F.col("shset").alias("a_set"), F.col("n_sh").alias("n_a")
    )
    b_sets = shsets.select(
        F.col("doc_id").alias("b_id"), F.col("shset").alias("b_set"), F.col("n_sh").alias("n_b")
    )
    out = (
        pairs.join(a_sets, "a_id")
        .join(b_sets, "b_id")
        .withColumn("n_inter", F.size(F.array_intersect("a_set", "b_set")).cast("long"))
        .withColumn(
            "containment_a", F.col("n_inter").cast("double") / F.col("n_a").cast("double")
        )
        .withColumn(
            "containment_b", F.col("n_inter").cast("double") / F.col("n_b").cast("double")
        )
    )
    thr = float(min_containment)
    return out.where(
        (F.col("containment_a") >= thr) | (F.col("containment_b") >= thr)
    ).select("a_id", "b_id", "n_inter", "n_a", "n_b", "containment_a", "containment_b")


def cross_corpus_near_dup(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    width: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """FUZZY lexical decontamination: corpus documents that are
    NEAR-duplicates of any eval/benchmark document — the GPT-3/Llama
    "fuzzy dedup against test sets" step that exact n-gram overlap
    (``decontaminate``) and Bloom probes miss when the leaked copy is
    lightly edited, and that embedding decontamination
    (``semantic_decontaminate``) catches only if an encoder exists.

    CROSS-corpus MinHash-LSH: both sides get the standard signatures,
    candidates come from an equi-join of band hashes (corpus side ×
    eval side — never a self-join), and candidates verify with the
    exact hashed-shingle Jaccard (integer ratio, engine-exact). Output:
    one row per contaminated corpus doc with its best-matching eval doc
    (max jaccard, ties → lower eval id).

    Scale: the eval side is small (benchmarks) — its banded signatures
    broadcast, so the corpus side never shuffles: scan → band explode →
    broadcast join → verify. Recall is the banding curve at
    ``min_jaccard``; tighten bands/hashes for stricter contracts.

    The exact shingle SETS used by the verify step are built only for
    CANDIDATE docs: the corpus scan is semi-joined against the banded
    candidate ids *before* set construction, so the full-corpus set
    materialization never happens — at 100 TB the expensive work
    touches only docs that share a band with a benchmark doc (the eval
    side stays full: it is broadcast-sized). The sets themselves are
    built ROW-LOCALLY (``array_distinct`` over a ``transform`` of the
    shingle hashes — no explode, no distinct shuffle, no ``collect_set``
    aggregate), so the set-build subtree carries ZERO exchanges
    (plan-pinned in ``tests/test_plans.py``).
    """
    rows_per_band = num_hashes // bands

    def band_exprs():
        return [
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                )
            ).alias(f"band_{b}")
            for b in range(bands)
        ]

    def side_bucket(docs: DataFrame, tag: str) -> DataFrame:
        sig = minhash_signatures(docs, text_col, num_hashes, width)
        return sig.select("doc_id", *band_exprs()).select(
            F.col("doc_id").alias(f"{tag}_id"),
            F.posexplode(
                F.array(*[F.col(f"band_{b}") for b in range(bands)])
            ).alias("band_id", "band_hash"),
        )

    cb = side_bucket(corpus, "c")
    eb = side_bucket(eval_docs, "e")
    # candidate pairs are small (docs sharing a band with a benchmark
    # doc); localCheckpoint so the band join runs once, feeding both the
    # candidate-id prune and the final score join
    pairs = (
        cb.join(F.broadcast(eb), ["band_id", "band_hash"])
        .select("c_id", "e_id")
        .distinct()
        .localCheckpoint()
    )
    cand_ids = pairs.select(F.col("c_id").alias("doc_id")).distinct()
    # _spread: a single-file fixture reads as 1 partition — the row-local
    # set build would otherwise run on one core (at 100 TB the scan is
    # already parallel and this is a no-op)
    cand_docs = corpus.join(F.broadcast(cand_ids), "doc_id", "left_semi")
    cs = _shingle_sets(_spread(cand_docs), text_col, width)
    es = _shingle_sets(eval_docs, text_col, width)
    scored = _verify(
        pairs, _jaccard("n_c", "n_e") >= float(min_jaccard), c=cs, e=F.broadcast(es)
    ).withColumn("jaccard", _jaccard("n_c", "n_e"))
    return _best_match(scored, "jaccard", "n_inter", "jaccard")


def cross_corpus_jaccard_exact(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    width: int = 7,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """EXACT-RECALL cross-corpus near-dup (r08 — VERDICT r07 #5, the
    ``band_on="small"`` prefix tier generalized to the asymmetric
    corpus-vs-eval shape): corpus documents whose exact hashed-shingle
    Jaccard to some eval/benchmark document is ``>= min_jaccard`` —
    the decontamination contract :func:`cross_corpus_near_dup` serves
    probabilistically (LSH banding can miss near-threshold pairs; this
    tier cannot, by the PPJoin prefix theorem).

    Prefix theorem, cross-corpus form: under ANY global token order,
    a qualifying pair (J >= t ⟹ |∩| >= ceil(t·n) for BOTH sizes) must
    share a token inside each side's ``n − ceil(t·n) + 1``-token prefix
    (per-side prefixes are at least as long as the common-α lemma
    needs, since ceil(t·n_side) <= the pair's required overlap).

    The 100 TB trick is the CHOICE of global order: ``(df_eval(tok),
    tok)`` — document frequency in the EVAL side only, with absent
    tokens at df 0. That order is computable from the broadcast-sized
    side alone (no corpus-wide df aggregate, unlike the self-join
    ``jaccard_prefix_join``), and df-0 tokens can never produce a
    candidate (nothing to match in any eval prefix), so they are
    COUNTED per doc, never ranked: the ranking window runs over the
    corpus tokens PRESENT in the eval domain — the stream a broadcast
    inner join already shrank to near-candidate size. Full-corpus work
    is one narrow row-local set-build pass; the only corpus-keyed
    exchange carries the present-token stream (∝ candidates, not
    corpus). A token present in the doc is in the doc's prefix iff
    ``n_absent + rank_present <= prefix_len`` — absent tokens all sort
    before present ones (df 0 < 1 <= df_eval), so ranks compose.

    Verify: exact integers, ``n_inter·(td+tn) >= tn·(n_c+n_e)`` ⟺
    J >= tn/td. Output: same schema as :func:`cross_corpus_near_dup`
    (``doc_id, eval_doc_id, n_inter, jaccard``), best match per
    corpus doc (max jaccard, ties → lower eval id).
    """
    tn, td = _exact_threshold(min_jaccard, "min_jaccard")
    esets = (
        _shingle_sets(eval_docs, text_col, width)
        .toDF("e_id", "e_set", "n_e")
        .localCheckpoint()
    )
    etok = _tokens(esets)
    # global order key from the broadcast-sized side only
    edf = _doc_freq(etok).localCheckpoint()
    eprefix = _rare_prefix(etok.join(edf, "tok"), "e_id", "n_e", tn, td)
    csets = _shingle_sets(
        _spread(corpus.select("doc_id", text_col)), text_col, width
    ).toDF("c_id", "c_set", "n_c").localCheckpoint()
    # present-token stream: corpus tokens in the eval domain (broadcast
    # inner join) — df-0 tokens are implicitly counted via n_present
    present = _tokens(csets).join(F.broadcast(edf), "tok")
    wc = Window.partitionBy("c_id").orderBy(F.asc("df"), F.asc("tok"))
    cprefix = (
        present.withColumn("rn", F.row_number().over(wc))
        .withColumn("n_present", F.count("*").over(Window.partitionBy("c_id")))
        # absent tokens (n_c - n_present of them) occupy ranks 1..A
        .where(
            F.col("n_c") - F.col("n_present") + F.col("rn")
            <= _prefix_len("n_c", tn, td)
        )
        .select("tok", "c_id", "n_c")
    )
    cand = (
        cprefix.join(
            F.broadcast(eprefix),
            (cprefix["tok"] == eprefix["tok"])
            # size-compatibility (exact): t·max <= min
            & (F.col("n_c") * F.lit(tn) <= F.col("n_e") * F.lit(td))
            & (F.col("n_e") * F.lit(tn) <= F.col("n_c") * F.lit(td)),
        )
        .select("c_id", "e_id")
        .distinct()
        .localCheckpoint()
    )
    # r13: a cand spread (the jaccard_prefix_join fix) was A/B'd here
    # and REJECTED — 4.84 s → 5.96 s consistent across interleaved
    # reps: this verify ends in a c_id-keyed row_number window, so the
    # extra round-robin exchange only adds a shuffle before the keyed
    # one the window pays anyway.
    scored = _verify(
        cand,
        _jaccard_gate(tn, td, "n_c", "n_e"),
        c=_members(csets, cand, "c_id"),
        e=F.broadcast(esets),
    ).withColumn("jaccard", _jaccard("n_c", "n_e"))
    return _best_match(scored, "jaccard", "n_inter", "jaccard")


def containment_decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    width: int = 7,
    min_containment: float = 0.8,
) -> DataFrame:
    """EXACT-RECALL asymmetric decontamination (r07, the cross-corpus
    generalization of ``ngram_containment_pairs(band_on="small")``):
    corpus documents that CONTAIN an eval/benchmark document —
    ``C(E→D) = |E∩D| / |E| >= t`` — the quote-inclusion contamination
    mode that resemblance-tuned LSH (``cross_corpus_near_dup``)
    structurally misses: an eval question pasted into a long web page
    leaves the page's MinHash signature dominated by its other
    shingles, so no band ever collides, while the CONTAINMENT of the
    eval side is ~1.0.

    Prefix theorem, one-directional: if ``|E∩D| >= ceil(t·|E|)`` then E
    misses at most ``|E| − ceil(t·|E|)`` of its shingles, so one of its
    ``n_e − ceil(t·n_e) + 1`` rarest shingles (rarity = document
    frequency in the CORPUS — any consistent global order is correct,
    corpus-df minimizes candidate cost; eval shingles absent from the
    corpus have df 0 and produce no candidates) appears in D — an
    equi-join of the eval PREFIX against the corpus' FULL postings is
    recall-complete. The container side cannot be prefix-pruned
    (containment puts no bound on |∩|/|D|); the full corpus inverted
    index is the honest price of exact recall, and it is the index a
    decontamination deployment maintains anyway. Threshold handled as
    the exact rational of `_exact_threshold`; verify is pure integers
    ``n_inter·den >= num·n_e``.

    Output: one row per contaminated corpus doc with its best-matching
    eval doc (max containment, ties → lower eval id): ``(doc_id,
    eval_doc_id, n_inter, n_eval, containment)``.
    """
    tn, td = _exact_threshold(min_containment, "min_containment")
    csets = _shingle_sets(
        _spread(corpus.select("doc_id", text_col)), text_col, width
    ).toDF("c_id", "c_set", "n_c").localCheckpoint()
    esets = (
        _shingle_sets(eval_docs, text_col, width)
        .toDF("e_id", "e_set", "n_e")
        .localCheckpoint()
    )
    ctok = _tokens(csets)
    # rarity join is a LEFT join: an eval shingle the corpus never
    # contains is the rarest possible (df 0) — it sorts first, costs
    # nothing in the posting join, and keeps the prefix bound intact
    prefix = _rare_prefix(
        _tokens(esets).join(_doc_freq(ctok), "tok", "left").fillna(0, ["df"]),
        "e_id", "n_e", tn, td,
    )
    cand = (
        F.broadcast(prefix)
        .join(ctok, "tok")
        .select("c_id", "e_id")
        .distinct()
        .localCheckpoint()
    )
    # r13: the jaccard_prefix_join cand spread was A/B'd here and
    # REJECTED (1.92 s → 2.23 s) — same c_id-window tail as
    # cross_corpus_jaccard_exact, so the extra exchange never pays.
    # Candidates are corpus docs holding an eval prefix shingle, so the
    # id prune is broadcast (no c_id shuffle of the checkpointed sets).
    scored = _verify(
        cand,
        _gate(tn, td, F.col("n_e")),
        c=_members(csets, F.broadcast(cand), "c_id"),
        e=F.broadcast(esets),
    ).withColumn("containment", _ratio("n_e"))
    return _best_match(
        scored, "containment", "n_inter", F.col("n_e").alias("n_eval"), "containment"
    )


def _global_ranks(df: DataFrame, *order_cols: str) -> DataFrame:
    """Contiguous global ranks 1..N over a total order — the TWO-PHASE
    distributed formulation: ``repartitionByRange`` on the order
    columns, per-partition ``row_number`` keyed by ``spark_partition_id``
    (a DISTRIBUTED window — never the empty-partition-spec global
    window, which collapses the dataset to one partition), and a
    broadcast join against the P-row cumulative partition offsets (the
    only driver traffic). Adds a ``rank`` BIGINT column; the order must
    be total (include a tiebreaker column) for ranks to be
    deterministic."""
    from pyspark.sql import Window

    n_part = max(1, df.sparkSession.sparkContext.defaultParallelism)
    parted = (
        df.repartitionByRange(n_part, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()  # pin the partition layout: counts + ranks reuse it
    )
    wloc = Window.partitionBy("_pid").orderBy(*order_cols)
    counts = {
        r._pid: r.cnt
        for r in parted.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(
            [(int(pid), int(off)) for pid, off in offsets.items()],
            "_pid int, _off long",
        )
    )
    return (
        parted.withColumn("_rn", F.row_number().over(wloc))
        .join(off_df, "_pid")
        .withColumn("rank", (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    text_col: str = "text",
    key_len: int = 32,
    window: int = 4,
    width: int = 3,
    min_jaccard_num: int = 1,
    min_jaccard_den: int = 2,
) -> DataFrame:
    """Sorted-neighborhood (SNM, Hernández & Stolfo 1995) near-dup
    blocking — the third candidate tier beside MinHash banding
    (probabilistic S-curve) and prefix filtering (exact-recall): sort
    the corpus by a blocking key (here the lowercased ``key_len``-char
    text prefix), and verify only pairs within ``window`` positions of
    the sort order. Catches clusters that share a key prefix
    regardless of their full-set similarity structure, with candidate
    count LINEAR in corpus size (n·window) — the cheapest tier when
    duplication is key-clustered (crawl re-fetches, versioned titles).

    Scale posture — the global sort is the honest cost and Spark's
    native strength (range-partitioned exchange), but the RANK must
    not be: a bare ``row_number() OVER (ORDER BY …)`` collapses to ONE
    partition. This uses the two-phase formulation instead:
    ``repartitionByRange`` + per-partition ``row_number`` (distributed
    window keyed by partition id) + broadcast cumulative partition
    offsets (a P-row driver collect — the k-row-dimension discipline).
    Candidates are then an EQUI-join on ``rank + d`` (offsets exploded
    1..window), never a range join; verify is the row-local hashed
    shingle-set intersect (`_shingle_set`) under the exact rational
    threshold (`_exact_threshold`) and pure integer comparison.

    Output: ``(a_id, b_id, rank_dist, n_inter, n_a, n_b, jaccard)``
    for unordered pairs with J >= num/den, ``a_id < b_id``.
    """
    tn, td = _exact_threshold(
        (min_jaccard_num, min_jaccard_den), "min_jaccard_num/min_jaccard_den"
    )
    if int(window) < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    key = F.lower(F.substring(F.col(text_col), 1, int(key_len)))
    base = _spread(docs.select("doc_id", text_col)).select(
        "doc_id",
        key.alias("_key"),
        _shingle_set(text_col, width).alias("sh_set"),
    )
    ranked = (
        _global_ranks(base, "_key", "doc_id")
        .select("doc_id", "sh_set", "rank")
        .withColumn("n_sh", F.size("sh_set").cast("long"))
        .localCheckpoint()  # feeds both join sides
    )
    probe = ranked.select(
        F.col("doc_id").alias("a_id"),
        F.col("sh_set").alias("a_set"),
        F.col("n_sh").alias("n_a"),
        F.explode(
            F.array(*[(F.col("rank") + F.lit(d)) for d in range(1, int(window) + 1)])
        ).alias("rank"),
        F.col("rank").alias("a_rank"),
    )
    scored = (
        probe.join(
            ranked.select(
                F.col("doc_id").alias("b_id"),
                F.col("sh_set").alias("b_set"),
                F.col("n_sh").alias("n_b"),
                "rank",
            ),
            "rank",
        )
        .withColumn("rank_dist", (F.col("rank") - F.col("a_rank")).cast("int"))
        .withColumn(
            "n_inter", F.size(F.array_intersect("a_set", "b_set")).cast("long")
        )
        .where(_jaccard_gate(tn, td, "n_a", "n_b"))
    )
    a, b = F.col("a_id"), F.col("b_id")
    return scored.select(
        F.least(a, b).alias("a_id"),
        F.greatest(a, b).alias("b_id"),
        "rank_dist",
        "n_inter",
        F.when(a < b, F.col("n_a")).otherwise(F.col("n_b")).alias("n_a"),
        F.when(a < b, F.col("n_b")).otherwise(F.col("n_a")).alias("n_b"),
        _jaccard("n_a", "n_b").alias("jaccard"),
    )


def jaccard_prefix_join(
    docs: DataFrame,
    text_col: str = "text",
    width: int = 7,
    min_jaccard_num: int = 1,
    min_jaccard_den: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-recall Jaccard similarity self-join via PREFIX FILTERING
    (PPJoin family, Xiao et al. WWW'08) — the recall-complete tier of
    the dedup ladder: MinHash banding (`near_duplicate_pairs`) trades
    recall for cost along the S-curve; this join provably returns
    EVERY pair with shingle-set Jaccard >= t.

    Prefix theorem: order all tokens by global rarity (document
    frequency asc, token asc). If J(A,B) >= t then |A∩B| >= ceil(t·|A|)
    (since |A∪B| >= |A|), so A and B must share a token among each
    side's first ``n − ceil(t·n) + 1`` rarest tokens — candidate pairs
    are an equi-join of PREFIX tokens only; everything else is safely
    pruned. The threshold is the exact rational ``min_jaccard_num /
    min_jaccard_den`` and the verify comparison is pure integers
    (``n_inter·den >= num·(n_a + n_b − n_inter)``) — no float anywhere
    until the published jaccard column.

    Pipeline: the shared filter-verify stages (`_exact_threshold`,
    `_shingle_sets`, `_rare_prefix`, `_members`, `_verify`) around the
    one piece this shape owns — a prefix SELF-join under the PPJoin
    length filter.

    Output: one row per unordered pair ``a_id < b_id`` with
    ``(n_inter, n_a, n_b, jaccard)``.
    """
    tn, td = _exact_threshold(
        (min_jaccard_num, min_jaccard_den), "min_jaccard_num/min_jaccard_den"
    )
    # _spread: a single-file scan is one partition and the md5-per-
    # shingle HOF would run on one core; checkpoint: `sets` feeds the
    # token stream AND both verify sides, `prefix` self-joins — without
    # materialization the set build recomputes per reference
    sets = _shingle_sets(_spread(docs), text_col, width, id_col).localCheckpoint()
    tok = _tokens(sets)
    prefix = _rare_prefix(
        tok.join(_doc_freq(tok), "tok"), "_id", "n_sh", tn, td
    ).localCheckpoint()
    # length filter (the second PPJoin prune, also exact): J >= t forces
    # t·max(n_a, n_b) <= min(n_a, n_b) — pairs with incompatible set
    # sizes never leave the token join
    ia, ib = F.col("pa._id"), F.col("pb._id")
    na, nb = F.col("pa.n_sh"), F.col("pb.n_sh")
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.tok") == F.col("pb.tok"))
            & (ia < ib)
            & (na * F.lit(tn) <= nb * F.lit(td))
            & (nb * F.lit(tn) <= na * F.lit(td)),
        )
        .select(ia.alias("a_id"), ib.alias("b_id"))
        .distinct()
        .localCheckpoint()  # feeds the id-prune AND the verify join
    )
    # r13 (guide §2.5 / §1.2 step 1): the checkpointed pair list is ids
    # only, so AQE coalesces its distinct into ~1 partition — which
    # serialized the whole per-pair array_intersect verify on one core
    # (measured 7.2 s → 3.2 s at sf0.1's 86k adversarial candidates
    # from this alone, consistent across interleaved reps). `_spread`
    # moves id pairs (kilobytes) and never fires once the pair list has
    # partitions ≥ session parallelism (the production regime). Only
    # the VERIFY-side reference is spread: the id-prune branches feed a
    # keyed exchange anyway, and a lazy repartition replays once per
    # reference (5 round-robin exchanges in the dumped plan before this
    # split).
    v = _members(sets, cand, "a_id", "b_id")
    scored = _verify(_spread(cand), _jaccard_gate(tn, td, "n_a", "n_b"), a=v, b=v)
    return scored.select(
        "a_id", "b_id", "n_inter", "n_a", "n_b", _jaccard("n_a", "n_b").alias("jaccard")
    )


def bbit_minhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    width: int = 3,
    num_hashes: int = 8,
    min_match: int = 6,
) -> DataFrame:
    """b-BIT MINWISE HASHING near-dup tier (Li & König, WWW 2010):
    store only the lowest b=4 bits (the last hex char) of each 16-bit
    minhash — a 4× signature-store compression at a quantified
    estimator cost. Equal minima always match their b-bit slices;
    UNEQUAL minima still collide with probability 2^-b, so the match
    fraction P̂ estimates ``C + (1−C)·J`` with C = 1/16 and the
    collision-CORRECTED Jaccard estimate is ``Ĵ = (P̂ − C)/(1 − C) =
    (16·m − H)/(15·H)`` — exact integers until one terminal division,
    engine-bit-stable.

    At 100 TB the point is the STORE: the per-doc signature drops from
    H·16 bits to H·b bits, so the resident LSH layout (the
    ``ensure_lsh_band_store`` pattern) shrinks 4×, at the price of a
    fatter candidate set (band values live in a 2^(2b) space per
    2-digit band — the S-curve flattens exactly as the paper predicts).
    Candidates here are banded over the compressed digits themselves
    (4 bands × 2 hex chars); verify counts exact digit matches and
    gates on the INTEGER ``min_match`` (no float threshold).

    Output: ``(a_id, b_id, n_match, j_est)`` for unordered pairs with
    ``n_match >= min_match``.
    """
    if num_hashes > 8:
        raise ValueError("md5-slice family provides at most 8 hashes")
    if num_hashes % 2 != 0:
        # n_bands = num_hashes // 2 covers only 2*n_bands digits: an odd
        # count would silently drop the last hash from candidate banding
        # while verify/j_est still use all digits — recall would degrade
        # with no error (ADVICE r07).
        raise ValueError("num_hashes must be even (2 digits per band)")
    sig = minhash_signatures(docs, text_col, num_hashes, width)
    bb = sig.select(
        "doc_id",
        *[
            F.substring(F.col(f"mh_{h}"), 4, 1).alias(f"b_{h}")
            for h in range(num_hashes)
        ],
    ).localCheckpoint()
    n_bands = num_hashes // 2
    banded = bb.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat(F.col(f"b_{2 * j}"), F.col(f"b_{2 * j + 1}"))
                    for j in range(n_bands)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    sa = bb.select(F.col("doc_id").alias("a_id"), *[F.col(f"b_{h}").alias(f"a{h}") for h in range(num_hashes)])
    sb = bb.select(F.col("doc_id").alias("b_id"), *[F.col(f"b_{h}").alias(f"bb{h}") for h in range(num_hashes)])
    m = sum(
        F.when(F.col(f"a{h}") == F.col(f"bb{h}"), 1).otherwise(0)
        for h in range(num_hashes)
    ).cast("long")
    return (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("n_match", m)
        .where(F.col("n_match") >= int(min_match))
        .withColumn(
            "j_est",
            (F.lit(16) * F.col("n_match") - F.lit(int(num_hashes))).cast("double")
            / F.lit(float(15 * num_hashes)),
        )
        .select("a_id", "b_id", "n_match", "j_est")
    )


def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    width: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Corpus-level overlap BETWEEN SOURCES (r07): treat each source's
    union of shingles as one set and report every source pair's
    similarity — the feed-procurement diagnostic ("how much of feed B
    is already in feed A?") that doc-grain dedup can't answer directly.
    Publishes BOTH estimates in one row: the MinHash estimate from the
    source-level signature (min over the whole source per hash slice —
    a pure MERGEABLE min-aggregate, so at 100 TB the signature
    maintains incrementally per ingest batch and the pairwise compare
    touches #sources² tiny rows), and the EXACT hashed-shingle Jaccard
    (distinct (source, shingle) relation — vocabulary-bounded, one
    shingle-keyed join; the right exact tier while #sources is small).
    The gate thereby pins estimator-vs-truth in a single query.

    Output per unordered pair: ``(src_a, src_b, n_match, est_jaccard,
    n_inter, n_union, jaccard)`` — integers + two terminal divisions.
    """
    # ONE shingle + md5 pass feeds both paths: the token hash is
    # hash32(md5(sh)) and the signature slices are substrings of the
    # SAME digest, so the expensive per-shingle md5 happens once
    ex = (
        _spread(docs.select(F.col(source_col).alias("doc_id"), text_col))
        .select(F.col("doc_id").alias("src"), F.col(text_col))
        .select(
            "src",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(length({text_col}) - {width - 1}, 1)),"
                    f" i -> md5(substring({text_col}, i, {width})))"
                )
            ).alias("dig"),
        )
        .localCheckpoint()
    )
    shd = (
        ex.select(
            "src", F.expr(_hash32_from_digest_expr("dig")).cast("long").alias("shh")
        )
        .distinct()
        .localCheckpoint()
    )
    # source signature: 8 md5-slice minima over the source's shingle union
    sig = ex.groupBy("src").agg(
        *[
            F.min(F.substring("dig", 1 + 4 * h, 4)).alias(f"mh_{h}")
            for h in range(num_hashes)
        ]
    )
    sa = sig.select(
        F.col("src").alias("src_a"), *[F.col(f"mh_{h}").alias(f"a{h}") for h in range(num_hashes)]
    )
    sb = sig.select(
        F.col("src").alias("src_b"), *[F.col(f"mh_{h}").alias(f"b{h}") for h in range(num_hashes)]
    )
    m = sum(
        F.when(F.col(f"a{h}") == F.col(f"b{h}"), 1).otherwise(0)
        for h in range(num_hashes)
    ).cast("long")
    est = sa.join(sb, F.col("src_a") < F.col("src_b")).select(
        "src_a",
        "src_b",
        m.alias("n_match"),
        (m.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"),
    )
    sizes = shd.groupBy("src").agg(F.count("*").cast("long").alias("n_sh"))
    inter = (
        shd.alias("x")
        .join(shd.alias("y"), (F.col("x.shh") == F.col("y.shh")) & (F.col("x.src") < F.col("y.src")))
        .groupBy(F.col("x.src").alias("src_a"), F.col("y.src").alias("src_b"))
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    exact = (
        sizes.alias("p")
        .join(sizes.alias("q"), F.col("p.src") < F.col("q.src"))
        .select(
            F.col("p.src").alias("src_a"),
            F.col("q.src").alias("src_b"),
            F.col("p.n_sh").alias("n_a"),
            F.col("q.n_sh").alias("n_b"),
        )
        .join(inter, ["src_a", "src_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)).cast("long"))
        .withColumn("n_union", (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double") / F.col("n_union").cast("double"),
        )
        .select("src_a", "src_b", "n_inter", "n_union", "jaccard")
    )
    return est.join(exact, ["src_a", "src_b"]).select(
        "src_a", "src_b", "n_match", "est_jaccard", "n_inter", "n_union", "jaccard"
    )
