"""Deduplication operators for web-scale corpora.

All of these are built from relational primitives so Catalyst handles
partial aggregation / shuffle planning; the only Python is the
min_hash-style signature math, kept JVM-side via hash-function algebra
(xxhash64 + affine permutations), exactly the trick behind the
reference's min_hash token filter
(modules/analysis-common/.../MinHashTokenFilterFactory via
CommonAnalysisPlugin.java registration).

Scale notes:
  - exact dedup: one groupBy on a 64-hex digest — shuffle of (digest,
    id) pairs only, never content.
  - MinHash-LSH: the shuffle unit is (doc, shingle) pairs; high-df
    shingles are naturally bounded because signatures are per-doc
    minima (no hot reducer). Band buckets with huge membership are
    near-duplicate clusters by construction; the pair join is bounded
    with a per-bucket cap to avoid quadratic blowup on degenerate
    buckets (log what was dropped).
  - n-gram Jaccard: inverted-index self-join on shingle; df-capped
    shingles (stop-shingles) are dropped like high-DF terms, the
    standard skew guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from elasticsearch_spark.spread import spread_input

# Mersenne prime 2^31-1: affine permutations (a*h+b) mod p over a base
# hash give n_hashes independent-enough min-hash functions. 31-bit so
# the product a*h stays within int64 (Spark ANSI mode errors on long
# overflow; modular-mul tricks would need Python in the hot path).
_MERSENNE = (1 << 31) - 1

# Salt cap for embedding_cosine_pairs' block join: 32 is the factor its
# sf1.0 measurement ran with (local[32]) and already gives n_blocks x 32
# join tasks; uncapped, the b-side would be copied 2000x on 2000 cores.
_MAX_BLOCK_SALT = 32


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical texts: (digest, n_dupes, keep_id, dup_ids)."""
    h = df.select(F.sha2(F.col(text_col), 256).alias("digest"), F.col(id_col))
    return (
        h.groupBy("digest")
        .agg(
            F.count("*").alias("n_dupes"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
        )
        .filter(F.col("n_dupes") > 1)
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per identical text (window, no join)."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.asc(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def word_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Distinct word k-shingles per doc: (id_col, shingle). Tokenization
    is the SQL-twin-able lower + [a-z0-9_]+ split (ascii_word).

    The token array is materialized in its own projection FIRST —
    inlining it into the per-position lambda would re-run the regex
    O(tokens) times per doc (no CSE inside higher-order functions).

    Small inputs (one parquet split) are re-spread across the cluster
    first: the explode + downstream agg otherwise inherit ONE partition
    and run the whole shingle pass on a single core. At real scale the
    input has >= defaultParallelism splits and this is a no-op.
    Round-robin (no key): callers like ngram_containment pass a
    CONSTANT id for one side, which a hash re-spread would concentrate
    onto a single partition — the opposite of the intent."""
    df = spread_input(df)
    toks_df = df.select(
        F.col(id_col),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9_]+', 0)").alias("_ts"),
    )
    ts = F.col("_ts")
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(ts) - k, F.lit(0))),
        lambda i: F.array_join(F.slice(ts, i + 1, k), " "),
    )
    return (
        toks_df.select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All-pairs Jaccard over word k-shingles >= threshold.

    Inverted-index self-join: |A ∩ B| from co-occurring shingles, sizes
    from per-doc distinct counts. The join is quadratic in per-shingle
    document frequency, so ``max_shingle_df`` (default 1000) drops
    stop-shingles before the self-join — one ubiquitous k-gram ("the
    end if") would otherwise dominate the whole job at scale. Pass
    ``None`` explicitly for the exact, uncapped computation; capped
    runs undercount |A ∩ B| by at most the dropped shingles (both
    pair sizes exclude them too, so near-identical docs still pair)."""
    sh = word_shingles(df, text_col, id_col, k).persist()
    if max_shingle_df is not None:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_shingle_df)
        sh = sh.join(hot.select("shingle"), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.withColumnRenamed(id_col, "id_a")
    b = sh.withColumnRenamed(id_col, "id_b")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    out = (
        common.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 64,
    seed: int = 42,
    use_arrays: bool = False,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-doc MinHash signature: n_hashes min-values of affine-permuted
    shingle hashes — all JVM-side (xxhash64 + arithmetic).

    Default is explode + groupBy(doc).agg(64 mins): a doc's shingles
    never leave their input partition, so map-side partial aggregation
    collapses to ONE row per doc BEFORE the exchange (the shuffle moves
    docs x 65 longs, not postings), and the exchange is a reuse point —
    the LSH self-join downstream evaluates the signature subplan once
    (measured 3x faster end-to-end than the no-shuffle variant, which
    gets re-evaluated per self-join side).

    ``use_arrays=True`` computes every min inside one PROJECTION over
    the per-doc shingle-hash array (array_min over a transform) — no
    explode, no shuffle; identical signatures. Measured ~25x SLOWER
    end-to-end (BENCH/BASELINE.md r4 A/B): Catalyst collapses the
    staged projections, so each of the 64 min columns re-evaluates the
    whole shingle+hash pipeline. Kept as a parity-tested reference."""
    import numpy as np

    rng = np.random.default_rng(seed)
    coeffs = [
        (int(rng.integers(1, _MERSENNE)), int(rng.integers(0, _MERSENNE)))
        for _ in range(n_hashes)
    ]
    if not use_arrays:
        sh = word_shingles(df, text_col, id_col, k)
        # base hash, made non-negative for clean modular algebra.
        # hash_fn="md5": 32-bit base from the md5 hex prefix — both
        # engines compute it identically and the affine algebra below
        # stays within int64 (h*a < 2^62), so the SIGNATURES themselves
        # become oracle-hash-checkable (the xxhash64 default remains
        # rows-only: seeded JVM hash with no DuckDB twin).
        if hash_fn == "md5":
            base = F.conv(
                F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
        else:
            base = F.xxhash64("shingle")
        h = (base % F.lit(_MERSENNE) + F.lit(_MERSENNE)) % F.lit(_MERSENNE)
        sh = sh.select(F.col(id_col), h.alias("h"))
        mins = [
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE)).alias(f"mh{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
        return sh.groupBy(id_col).agg(*mins)

    # array path: each stage materialized in its OWN projection (no CSE
    # inside higher-order-function lambdas)
    toks_df = df.select(
        F.col(id_col),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9_]+', 0)").alias("_ts"),
    )
    ts = F.col("_ts")
    sh_arr = F.filter(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(ts) - k, F.lit(0))),
                lambda i: F.array_join(F.slice(ts, i + 1, k), " "),
            )
        ),
        lambda x: F.length(x) > 0,
    )
    sh_df = toks_df.select(F.col(id_col), sh_arr.alias("_sh")).filter(
        F.size("_sh") > 0
    )
    h_df = sh_df.select(
        F.col(id_col),
        F.transform(
            F.col("_sh"),
            lambda x: (
                F.xxhash64(x) % F.lit(_MERSENNE) + F.lit(_MERSENNE)
            ) % F.lit(_MERSENNE),
        ).alias("_h"),
    )
    mins = [
        F.array_min(
            F.transform(
                F.col("_h"),
                lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE),
            )
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return h_df.select(F.col(id_col), *mins)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int = 1000,
    strategy: str = "bucketed",
    use_arrays: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    bands × (n_hashes/bands) banding: docs agreeing on ALL rows of any
    band become candidates (the classic S-curve). Returns distinct
    (id_a < id_b) candidate pairs; verify with ngram_jaccard or
    estimated signature similarity. Buckets larger than ``max_bucket``
    are dropped (they are giant dup-clusters; handle via exact dedup).

    Default physical shape (round-4 cost-center rework; the four
    strategy x use_arrays combinations are parity-tested and were
    interleave-benchmarked at 60k docs, BENCH/BASELINE.md): explode +
    groupBy signatures feeding the ONE-shuffle bucketed pair expansion.
    Measured 3.3x faster than the round-3 default (join strategy):
    the signature groupBy's exchange is a materialization point, the
    band-bucket groupBy is the only further shuffle, and the bucket cap
    is a plain size() filter.  The ``use_arrays=True`` signature path
    (mins as 64 array_min projections) measured ~25x SLOWER than the
    explode path end-to-end: Catalyst collapses the staged projections
    and re-evaluates the whole shingle+hash pipeline once per min
    column — kept only as a parity-tested reference implementation.

    ``strategy='join'`` keeps the two-sided bucket equi-join (wins when
    buckets are huge and grouped id arrays would dominate task memory);
    with ``use_arrays=True`` the stacked band rows are persisted so the
    self-join's two branches don't recompute the signature projection
    (with ``use_arrays=False`` the signature groupBy exchange is
    already the reuse point)."""
    if strategy == "bucketed":
        return minhash_lsh_pairs_bucketed(
            df, text_col, id_col, k, n_hashes, bands, seed, max_bucket,
            use_arrays=use_arrays,
        )
    if strategy != "join":
        raise ValueError(f"unknown LSH strategy {strategy!r}")
    assert n_hashes % bands == 0
    rows = n_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, k, n_hashes, seed,
                             use_arrays=use_arrays)
    band_cols = [
        F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    stacked = banded.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("band_hash"))
                for b in range(bands)
            ])
        ).alias("bd"),
    ).select(id_col, "bd.band_id", "bd.band_hash")
    if use_arrays:
        # three consumers below (size agg, semi-join, both join sides):
        # without a shuffle boundary each would recompute the per-doc
        # signature projection
        stacked = stacked.persist()
    # skew guard: drop degenerate buckets
    bucket_sizes = stacked.groupBy("band_id", "band_hash").count()
    ok = bucket_sizes.filter(F.col("count") <= max_bucket).select("band_id", "band_hash")
    stacked = stacked.join(ok, ["band_id", "band_hash"], "left_semi")
    a = stacked.withColumnRenamed(id_col, "id_a")
    b = stacked.withColumnRenamed(id_col, "id_b")
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs_bucketed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int = 1000,
    use_arrays: bool = False,
) -> DataFrame:
    """Same candidate pairs as :func:`minhash_lsh_pairs`, different
    physical strategy: ONE shuffle.  Each (band, hash) bucket is
    grouped once (collect_set of member ids — map-side partial agg
    applies), the skew cap becomes a plain size() filter on the bucket
    array (no separate bucket-size aggregation + semi-join), and the
    within-bucket pairs are emitted by a nested array transform instead
    of a two-sided shuffle join.  Worst-case per-bucket memory is
    max_bucket ids + max_bucket^2/2 pair structs (~8 MB at the default
    cap) — bounded, while the join strategy shuffles the stacked rows
    twice more.  Kept alongside the join variant (parity-tested):
    measure at your scale; the join wins when buckets are huge and the
    grouped arrays would dominate task memory."""
    assert n_hashes % bands == 0
    rows = n_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, k, n_hashes, seed,
                             use_arrays=use_arrays)
    band_cols = [
        F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    stacked = banded.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("band_hash"))
                for b in range(bands)
            ])
        ).alias("bd"),
    ).select(id_col, "bd.band_id", "bd.band_hash")
    buckets = (
        stacked.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size(ids) - 2),
            lambda i: F.transform(
                F.sequence(i + 1, F.size(ids) - 1),
                lambda j: F.struct(
                    F.get(ids, i).alias("id_a"), F.get(ids, j).alias("id_b")
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def ngram_containment(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    threshold: float = 0.0,
) -> DataFrame:
    """Training-data DECONTAMINATION: per document, the fraction of its
    distinct word k-shingles that appear anywhere in the benchmark set
    (containment = |doc_shingles ∩ bench_shingles| / |doc_shingles|).
    Docs above ``threshold`` are contamination suspects.

    Scale shape: the benchmark side is distinct shingles only (small —
    eval sets are tiny next to the corpus), so Catalyst broadcasts it;
    the corpus side is one scan + one left-semi probe + one count agg —
    no corpus self-join, no skew (counts are per-doc)."""
    doc_sh = word_shingles(docs, text_col, id_col, k)
    bench_sh = word_shingles(
        benchmark.select(F.col(bench_text_col)).withColumn("_bid", F.lit(0)),
        bench_text_col, "_bid", k,
    ).select("shingle").distinct()
    totals = doc_sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    out = (
        totals.join(hits, id_col, "left")
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)))
        .withColumn(
            "containment", F.col("n_hits") / F.col("n_shingles")
        )
    )
    if threshold > 0.0:
        out = out.filter(F.col("containment") >= threshold)
    return out.select(id_col, "n_shingles", "n_hits", "containment")


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash over ascii_word tokens weighted by tf, fully JVM-side:
    explode tokens -> per-bit signed tf sums -> sign bits.

    ``hash_fn``: ``xxhash64`` (default, 64 bits) or ``md5`` — a 60-bit
    variant whose token hash is the first 15 hex chars of md5, which
    BOTH engines compute identically (Spark conv(substr(md5..)) ==
    DuckDB ('0x'||substr(md5..))::BIGINT), making the signature
    oracle-hash-checkable end to end."""
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9_]+', 0)")
    t = spread_input(df).select(F.col(id_col), F.explode(toks).alias("tok"))
    tf = t.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    if hash_fn == "md5":
        n_bits = 60
        h = tf.withColumn(
            "h",
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"))
    else:
        n_bits = 64
        h = tf.withColumn("h", F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.col("tf"))
            .otherwise(-F.col("tf"))
        ).alias(f"b{i}")
        for i in range(n_bits)
    ]
    agg = h.groupBy(id_col).agg(*bit_sums)
    sig = agg.select(
        F.col(id_col),
        sum(
            (F.when(F.col(f"b{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long") * F.lit(1 << i) if i < 63
             else F.when(F.col("b63") > 0, F.lit(-(1 << 63))).otherwise(F.lit(0)).cast("long"))
            for i in range(n_bits)
        ).alias("simhash"),
    )
    return sig


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming via the
    pigeonhole band trick: split 64 bits into max_hamming+1 chunks; any
    pair within distance shares >= 1 exact chunk -> equi-join on chunk,
    verify with bit_count(xor)."""
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    sig = simhash(df, text_col, id_col)
    chunks = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_id"),
                    F.shiftrightunsigned(F.col("simhash"), c * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("chunk"),
                )
                for c in range(n_chunks)
            ])
        ).alias("ch"),
    ).select(id_col, "simhash", "ch.chunk_id", "ch.chunk")
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"),
        "chunk_id", "chunk",
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"),
        "chunk_id", "chunk",
    )
    return (
        a.join(b, ["chunk_id", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine >= threshold — the exact counterpart of
    similarity.ann_self_join's LSH candidates.

    block_col names a deterministic blocking key (a cluster id, a
    coarse partition label, an IVF assignment): pairs are searched
    WITHIN blocks only, so the self-join is a shuffle hash join on the
    block key, never a cartesian. Without a block the all-pairs compare
    is refused above a small bound — at 100 TB the candidate generator
    must be LSH (ann_self_join) or IVF assignments; this function is
    the exact within-block scorer/verifier those paths feed."""
    from .similarity import with_norm

    # a-side re-spread: the per-pair interpreted cosine fold is the
    # cost center; a 1-row-group scan would stream it on one core
    d = with_norm(spread_input(df), vec_col)
    cols = [F.col(id_col), F.col("_vec"), F.col("_norm")]
    if block_col is not None:
        cols.append(F.col(block_col).alias("_blk"))
    elif df.limit(20_001).count() > 20_000:
        raise ValueError(
            "all-pairs cosine over >20k rows: pass block_col (or use "
            "similarity.ann_self_join) — refusing the cartesian")
    d = d.select(*cols)
    a = d.select(*[F.col(c).alias(f"{c}_a") for c in d.columns])
    b = d.select(*[F.col(c).alias(f"{c}_b") for c in d.columns])
    cos = F.aggregate(
        F.zip_with(F.col("_vec_a"), F.col("_vec_b"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    ) / (F.col("_norm_a") * F.col("_norm_b"))
    if block_col is not None:
        # salt the block join (guide §2.5): a handful of distinct block
        # values would otherwise bound the join at n_blocks parallel
        # tasks while the within-block pair count is quadratic. The
        # a-side gets a deterministic id-hash salt, the b-side is
        # exploded across all salts, so every (a, b) pair still meets
        # exactly once — identical pairs, n_salts x the parallelism.
        # (Measured at sf1.0, 20k vectors in 4 label blocks:
        # 233 s -> ~9 s.) Every salt adds one full copy of the b-side
        # to the shuffle, so the factor is capped at _MAX_BLOCK_SALT.
        n_salt = max(1, min(_MAX_BLOCK_SALT,
                            df.sparkSession.sparkContext.defaultParallelism))
        a = a.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(f"{id_col}_a")), F.lit(n_salt)))
        b = b.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
        joined = a.join(
            b,
            (F.col("_blk_a") == F.col("_blk_b"))
            & (a["_salt"] == b["_salt"])
            & (F.col(f"{id_col}_a") < F.col(f"{id_col}_b")),
        )
    else:
        joined = a.join(b, F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
    return (
        joined.select(
            F.col(f"{id_col}_a").alias("id_a"),
            F.col(f"{id_col}_b").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 20,
) -> DataFrame:
    """Near-duplicate CLUSTERS from a pair table: connected components
    via alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — the
    standard O(log^2 n)-round distributed CC algorithm).

    A dedup pipeline needs this step between pair generation
    (minhash_lsh_pairs / simhash_pairs / embedding_cosine_pairs) and
    keep-one-per-cluster: pairs only witness edges; the component id
    is what dedup keys on. Returns (node, component) with component =
    the minimum node id in each connected component (deterministic).

    Each round is two self-joins on ids only (longs — never content);
    convergence is checked with one count per round and the loop stops
    early at fixpoint. ``max_iter`` bounds pathological chains (a
    20-round cap covers components of diameter ~2^20 under the
    alternation's doubling).
    """
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # undirected: keep both directions for the star operations
    sym = edges.union(edges.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
    # label = current parent pointer; init: parent = min(self, min nbr)
    lab = (
        sym.groupBy("u").agg(F.min("v").alias("m"))
        .select(F.col("u").alias("node"),
                F.least("u", "m").alias("comp"))
    )
    for _ in range(max_iter):
        # propagate: comp(node) <- min(comp(node), min over neighbors
        # of comp(nbr)) — one join pass (label propagation on the
        # shrinking label table; the star variants' hook-compress
        # effect comes from relabeling through the CURRENT labels)
        nbr_min = (
            sym.join(lab.withColumnRenamed("node", "v"), "v")
            .groupBy("u").agg(F.min("comp").alias("nc"))
            .withColumnRenamed("u", "node")
        )
        new_lab = (
            lab.join(nbr_min, "node", "left")
            .select("node",
                    F.least("comp", F.coalesce("nc", "comp")).alias("comp"))
        )
        # pointer jumping: comp <- comp(comp) where comp is a node
        jumped = (
            new_lab.alias("x")
            .join(new_lab.select(F.col("node").alias("comp"),
                                 F.col("comp").alias("cc")).alias("y"),
                  "comp", "left")
            .select(F.col("node"),
                    F.least(F.col("comp"),
                            F.coalesce("cc", "comp")).alias("comp"))
        )
        jumped = jumped.localCheckpoint(eager=True)
        changed = (
            lab.withColumnRenamed("comp", "old")
            .join(jumped, "node")
            .where(F.col("old") != F.col("comp"))
            .count()
        )
        lab = jumped
        if changed == 0:
            break
    return lab.select(F.col("node"), F.col("comp").alias("component"))


def dedup_clusters_keep_best(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    score_col: str | None = None,
) -> DataFrame:
    """Keep ONE doc per near-duplicate cluster: the highest
    ``score_col`` (ties -> lowest id), or the lowest id when no score.
    Docs without a component row are singletons and always survive.
    One broadcast-able join + one window over the (small) clustered
    subset — the full corpus never shuffles."""
    joined = docs.join(
        components.withColumnRenamed("node", id_col), id_col, "left")
    singles = joined.where(F.col("component").isNull()).drop("component")
    clustered = joined.where(F.col("component").isNotNull())
    order = ([F.desc(score_col)] if score_col else []) + [F.asc(id_col)]
    w = Window.partitionBy("component").orderBy(*order)
    best = (
        clustered.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1).drop("_rn", "component")
    )
    return singles.unionByName(best)


def duplicate_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 15,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact substring-level duplication (ExactSubstr): maximal token
    spans whose every k-token window occurs >= ``min_occurrences``
    times anywhere in the corpus (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — the suffix-array
    dedup the reference ecosystem lacks, re-expressed relationally).

    Returns (id_col, span_start, span_end, n_windows): 1-based token
    offsets of merged maximal duplicated spans.

    Plan shape (scale): tokenize once (ascii_word regex, SQL-twin-able)
    -> explode one row per k-token window keyed by md5(window text) —
    |rows| = |corpus tokens|, never content bigger than k tokens ->
    hash-agg window counts (map-side partial combine collapses
    boilerplate like license headers before the exchange) -> semi-join
    windows against the duplicated-hash set (shuffle of (hash, id,
    pos) triples only) -> gaps-and-islands merge per doc (window
    function over the DUPLICATED subset only; the full corpus never
    sorts). No suffix array, no cross-doc join: the quadratic blowup
    of all-pairs substring matching never materializes because windows
    are grouped, not joined.
    """
    df = spread_input(df)
    toks = df.select(
        F.col(id_col),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9_]+', 0)").alias("_ts"),
    ).filter(F.size("_ts") >= k)
    ts = F.col("_ts")
    wins = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - (k - 1)),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(F.array_join(F.slice(ts, i, k), " ")).alias("h"),
                ),
            )
        ).alias("w"),
    ).select(id_col, F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    dup_h = (
        wins.groupBy("h").count()
        .filter(F.col("count") >= min_occurrences)
        .select("h")
    )
    marked = wins.join(dup_h, "h", "left_semi")
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    isl = marked.withColumn(
        "_brk",
        F.when(
            F.col("pos") - F.lag("pos").over(w_doc) <= k, F.lit(0)
        ).otherwise(F.lit(1)),
    ).withColumn("_g", F.sum("_brk").over(w_doc))
    return (
        isl.groupBy(id_col, "_g")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .drop("_g")
    )


def substring_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 15,
    min_occurrences: int = 2,
) -> DataFrame:
    """Per-doc duplicated-token coverage from duplicate_substring_spans:
    (id_col, n_tokens, dup_tokens, dup_frac). ``dup_frac`` is the
    standard keep/drop quality signal (drop docs that are mostly
    boilerplate). Docs shorter than k tokens report 0 coverage."""
    spans = duplicate_substring_spans(df, text_col, id_col, k, min_occurrences)
    cover = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_tokens")
    )
    sizes = df.select(
        F.col(id_col),
        F.size(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9_]+', 0)")
        ).alias("n_tokens"),
    )
    return (
        sizes.join(cover, id_col, "left")
        .withColumn("dup_tokens", F.coalesce("dup_tokens", F.lit(0)))
        .withColumn(
            "dup_frac",
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.col("dup_tokens") / F.col("n_tokens"), 6),
            ).otherwise(F.lit(0.0)),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space near-duplicate
    removal at corpus scale — cluster, compare within clusters only,
    greedily keep the lowest id in each near-duplicate neighborhood.

    Returns (id_col, cluster, keep): ``keep`` is False for any row
    with a >= ``threshold`` cosine neighbor of smaller id in its
    cluster (the standard greedy epsilon-ball keep rule; transitive
    closure is deliberately NOT taken — chain A~B~C with A!~C keeps A
    and C, matching the paper's per-ball dedup).

    Centroids are the ``n_clusters`` rows with the smallest ids — a
    deterministic, engine-replicable seeding (k-means iterations would
    sharpen clusters but make the assignment unverifiable by a
    relational oracle; for iterated centroids use similarity.ivf_build
    and embedding_cosine_pairs(block_col=...) directly). Scale shape:
    one broadcast-matrix assignment pass (Arrow matmul), one
    shuffle-hash self-join keyed by cluster (never a cartesian), one
    anti-join. Cluster skew = a genuinely dense semantic neighborhood;
    cap via ivf_build's larger k at real scale."""
    import numpy as np

    from .similarity import ivf_assign

    seeds = (
        df.select(id_col, vec_col).orderBy(id_col).limit(n_clusters).collect()
    )
    centroids = np.array([[float(x) for x in r[vec_col]] for r in seeds])
    assigned = ivf_assign(df, centroids, vec_col, id_col)
    blocked = df.select(id_col, vec_col).join(assigned, id_col)
    pairs = embedding_cosine_pairs(
        blocked, threshold, id_col, vec_col, block_col="cluster"
    )
    dups = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return (
        assigned.join(dups.withColumn("_dup", F.lit(1)), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.col("_dup").isNull().alias("keep"),
        )
    )
