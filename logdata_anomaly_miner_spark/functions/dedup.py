"""Deduplication operators for training-data pipelines (north-star addition).

All variants are set-oriented and shuffle-bounded:

- exact:      md5(normalized text) hash-groupBy — one shuffle of |docs| keys.
- minhash+LSH: shingle → per-seed min of a portable hash → band → bucket
              join. Candidate pairs only form inside buckets, so the join is
              |bucket|² per bucket instead of |docs|² — the standard LSH
              scale path. The hash is md5-based (hex-string min), portable
              to any engine for oracle checks.
- simhash:    64-bit sign-sum of token-hash bits via explode + groupBy —
              no per-row Python; near-dups share simhash within k bits.
- n-gram Jaccard: exact verification on LSH candidates (or small inputs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalize_text(text: Column) -> Column:
    """Lowercase, collapse whitespace, strip non-alphanumerics — the usual
    dedup normalization."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalize: bool = True
) -> DataFrame:
    """(text_hash, cnt, doc_ids) for texts occurring more than once."""
    t = normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    return (
        df.withColumn("text_hash", F.md5(t))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("cnt") > 1)
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingle array (distinct) from normalized text.

    Built by zipping k shifted slices of the token array (each input array
    evaluated once per row) — not element_at-in-a-lambda, which re-evaluates
    the array per element."""
    toks = F.split(normalize_text(text), " ")
    n = F.size(toks)
    m = n - (k - 1)  # number of k-grams
    grams = F.slice(toks, 1, m)
    for j in range(1, k):
        grams = F.zip_with(
            grams, F.slice(toks, 1 + j, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.array_distinct(
        F.when(n >= k, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, seed, minhash) — minhash per seed = min over shingles of
    md5(seed || shingle) compared as hex strings (portable, deterministic).

    One wide aggregation: n_hashes min(md5(seed:shingle)) columns over the
    shingle rows (map-side combined), per-seed shape restored with stack()
    after aggregation — hash values identical to the former seed-exploded
    form (same md5 inputs), but the shuffle carries |docs| wide rows
    instead of |shingles|·n_hashes hex strings."""
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    agg = ex.groupBy("_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"_h{i}")
            for i in range(n_hashes)
        ]
    )
    stack_args = ", ".join(f"{i}, _h{i}" for i in range(n_hashes))
    return agg.selectExpr(
        f"_id as {id_col}",
        f"stack({n_hashes}, {stack_args}) as (seed, minhash)",
    )


def minhash_signatures_xx(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Scale variant of ``minhash_signatures``: min over shingles of
    xxhash64(seed, shingle) (a signed long). Unlike the md5 oracle form,
    the seeds are NOT exploded: all n_hashes minima are computed as ONE
    wide aggregation over the shingle rows (n_hashes min() columns with
    map-side partial aggregation), so the shuffle carries |docs| rows of
    longs instead of |shingles|·n_hashes rows of hex strings. The
    (id, seed, minhash) shape is restored afterwards with stack() — a
    |docs|·n_hashes expansion AFTER aggregation, feeding the same
    banding/bucketing pipeline. md5 stays the portable ORACLE form (DuckDB
    has md5 but not xxhash64); both are valid MinHash families."""
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    # one string hash per shingle; the n_hashes family is derived from it
    # with fixed-width long re-hashes (12 bytes each) — ~n_hashes× cheaper
    # than hashing the shingle string n_hashes times, same MinHash property
    # (identical shingle sets -> identical signatures).
    base = F.xxhash64(F.col("sh"))
    agg = ex.groupBy("_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), base)).alias(f"_h{i}")
            for i in range(n_hashes)
        ]
    )
    stack_args = ", ".join(f"{i}, _h{i}" for i in range(n_hashes))
    return agg.selectExpr(
        f"_id as {id_col}",
        f"stack({n_hashes}, {stack_args}) as (seed, minhash)",
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_k: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    use_xx: bool = False,
) -> DataFrame:
    """Fused minhash + banding (r8): candidate pairs straight from the
    wide signature aggregation. Produces byte-identical buckets to
    ``minhash_signatures(_xx)`` → ``lsh_candidate_pairs`` — the band
    bucket is md5 of the band's minhash values concatenated in seed order,
    exactly the string the unfused path builds from
    sort_array(collect_list(struct(seed, minhash))) — but the per-seed
    stack() expansion and the second (id, band) aggregation (a full
    shuffle of |docs|·n_hashes rows plus a collect_list sort per band)
    never materialize: buckets project directly off the one wide-agg row
    per document (guide §2.4: remove shuffles outright)."""
    if bands * rows_per_band > n_hashes:
        raise ValueError("bands * rows_per_band must be <= n_hashes")
    ex = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    if use_xx:
        base = F.xxhash64(F.col("sh"))
        mins = [
            F.min(F.xxhash64(F.lit(i), base)).alias(f"_h{i}")
            for i in range(n_hashes)
        ]
    else:
        mins = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"_h{i}")
            for i in range(n_hashes)
        ]
    agg = ex.groupBy("_id").agg(*mins)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"_h{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = agg.select(
        F.col("_id").alias(id_col),
        F.explode(F.array(*band_structs)).alias("_bb"),
    ).select(id_col, "_bb.band", "_bb.bucket")
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Band the signature (seed // rows_per_band), bucket on the band hash,
    self-join within buckets → candidate pairs (id_a < id_b)."""
    # the band signature concatenates minhashes in SEED order (standard
    # banding): sorting by hash VALUE would make the bucket permutation-
    # invariant, pairing documents whose bands merely share a multiset of
    # minhashes across different seeds
    banded = (
        signatures.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("seed", "minhash"))),
                        lambda s: s["minhash"].cast("string"),
                    ),
                )
            ).alias("bucket")
        )
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over shingle sets; keeps pairs with similarity ≥
    threshold. |∩| via the shingle **inverted index** (self-join on gram):
    only pairs that actually share a shingle ever materialize — never the
    all-pairs cross product. Pass ``candidates`` (e.g. LSH pairs) to restrict
    further; None scans the full index.

    ``max_shingle_df`` caps the inverted-index skew: a shingle shared by f
    documents materializes f² join rows, so one stop-shingle ('the qu')
    in 10⁶ docs would alone emit 10¹² rows. With the cap set, shingles with
    document frequency > cap are EXCLUDED from candidate generation (and
    logged); the surviving candidates' Jaccard is then computed exactly
    over ALL their shingles, so reported similarities are unchanged — only
    pairs whose overlap consists exclusively of capped stop-shingles are
    missed (those have near-zero Jaccard by construction when the cap ≫
    doc count × threshold)."""
    src = df
    if candidates is not None:
        # the candidate set is referenced three times below (id filter +
        # both sides of the intersection join); eagerly localCheckpoint it
        # so its upstream (e.g. the whole MinHash/LSH pipeline) runs ONCE,
        # not three times (Catalyst does not CSE duplicated subplans). It is
        # tiny — proportional to true near-dups. Unlike persist(), the
        # checkpoint blocks are released by the ContextCleaner as soon as
        # the caller drops the returned DataFrame, so repeated calls in one
        # session don't leak cached blocks.
        candidates = candidates.localCheckpoint(eager=True)
        # only candidate docs need shingling at all — semi-join the (tiny)
        # candidate id set onto the corpus BEFORE the explode, so the
        # verification cost is O(|candidate docs|), not O(|corpus|)
        cand_ids = (
            candidates.select(F.col("id_a").alias("_cid"))
            .unionByName(candidates.select(F.col("id_b").alias("_cid")))
            .dropDuplicates()
        )
        src = df.join(
            F.broadcast(cand_ids), F.col(id_col) == F.col("_cid"), "left_semi"
        )
    sh = src.select(
        F.col(id_col).alias("_id"), shingles(F.col(text_col), shingle_k).alias("sh")
    )
    sizes = sh.select("_id", F.size("sh").alias("n"))
    ex = sh.select("_id", F.explode("sh").alias("g"))
    if candidates is None and max_shingle_df is not None:
        hot = (
            ex.groupBy("g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > int(max_shingle_df))
        )
        n_hot = hot.count()
        if n_hot:
            import logging

            logging.getLogger(__name__).info(
                "ngram_jaccard_pairs: dropping %d shingles with df > %d from "
                "candidate generation (pairs sharing only those are missed)",
                n_hot,
                max_shingle_df,
            )
        pruned = ex.join(F.broadcast(hot.select("g")), "g", "left_anti")
        candidates = (
            pruned.select(F.col("_id").alias("id_a"), "g")
            .join(pruned.select(F.col("_id").alias("id_b"), "g"), "g")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates()
        )
    if candidates is None:
        # full inverted index: every shingle-sharing pair, exact
        inter = (
            ex.select(F.col("_id").alias("id_a"), "g")
            .join(ex.select(F.col("_id").alias("id_b"), "g"), "g")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        # candidate-restricted: join grams onto the (small) candidate set so
        # the shingle join never expands beyond |candidates| × |grams/doc|
        inter = (
            candidates.join(ex.withColumnRenamed("_id", "id_a"), "id_a")
            .join(ex.select(F.col("_id").alias("id_b"), F.col("g")), ["id_b", "g"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    return (
        inter.join(sizes.select(F.col("_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 9
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per doc: for each token, xxhash64(token) contributes
    ±1 per bit position; simhash bit = sign of the sum.

    All 64 bit-sums are computed as ONE wide aggregation over the token
    rows (64 conditional-sum columns, map-side combined) — the
    ``minhash_signatures_xx`` pattern. The earlier form exploded
    |tokens|×64 rows before the groupBy, inflating the shuffle 64×; here
    the shuffle carries |docs| rows of 64 longs. The packed value is
    reconstructed bit-by-bit afterwards (bit 63 lands as two's-complement
    min-long, matching shiftleft(1L, 63))."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    sums = toks.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {i}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"_s{i}")
            for i in range(64)
        ]
    )
    packed = F.lit(0).cast("long")
    for i in range(64):
        packed = packed + F.when(
            F.col(f"_s{i}") > 0, F.expr(f"shiftleft(CAST(1 AS BIGINT), {i})")
        ).otherwise(F.lit(0).cast("long"))
    return sums.select(F.col("_id").alias(id_col), packed.alias("simhash"))


def portable_simhash_bits(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_bits: int = 64
) -> DataFrame:
    """Relational SimHash with a portable (md5-hex-nibble) token hash —
    one row per (id, bit) with the majority bit value. Cross-engine
    deterministic (md5/substr/strpos exist everywhere), used by the oracle
    parity query; ``simhash64`` (xxhash64, packed long) is the scale path."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).withColumn("h", F.md5(F.col("tok")))
    # wide aggregation, not a bit-explode: one conditional sum per bit over
    # the token rows (map-side combined), then stack() restores the
    # per-(id, bit) oracle shape AFTER aggregation — |docs|·n_bits rows
    # post-shuffle instead of |tokens|·n_bits rows pre-shuffle
    def bitval(i: int):
        nibble = F.conv(F.substring(F.col("h"), i // 4 + 1, 1), 16, 10).cast("int")
        return F.shiftright(nibble, i % 4).bitwiseAND(F.lit(1))

    sums = toks.groupBy("_id").agg(
        *[
            F.sum(F.when(bitval(i) == 1, 1).otherwise(-1)).alias(f"_s{i}")
            for i in range(n_bits)
        ]
    )
    stack_args = ", ".join(f"{i}, _s{i}" for i in range(n_bits))
    return sums.selectExpr(
        f"_id as {id_col}",
        f"stack({n_bits}, {stack_args}) as (bit, s)",
    ).select(
        id_col,
        F.col("bit").cast("int").alias("bit"),
        F.when(F.col("s") > 0, 1).otherwise(0).cast("int").alias("b"),
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    sim: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by simhash: block on 16-bit chunks (a pair within
    hamming ≤3 shares at least one of 4 chunks — pigeonhole), verify
    hamming distance inside blocks."""
    chunks = sim.select(
        F.col(id_col).alias("_id"),
        F.col("simhash"),
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("chunk"),
    ).withColumn("key", F.expr("shiftright(simhash, chunk * 16) & 65535"))
    a = chunks.select(F.col("_id").alias("id_a"), F.col("simhash").alias("sh_a"), "chunk", "key")
    b = chunks.select(F.col("_id").alias("id_b"), F.col("simhash").alias("sh_b"), "chunk", "key")
    return (
        a.join(b, ["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates()
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs`` — component
    is the SMALLEST node (by the ids' natural ordering) reachable from it.

    The consolidation step after candidate-pair generation: LSH banding /
    simhash blocking / exact-hash grouping emit duplicate PAIRS, but
    keep-one-per-cluster dedup needs the transitive closure. Implemented
    as alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): converges in
    O(log n) rounds, and every round is a key-partitioned groupBy + hash
    join over the edge set — no driver-side graph, no partition-less
    shuffle. Each round localCheckpoints to truncate lineage (an iterative
    plan would otherwise grow without bound). Convergence is detected by
    an order-insensitive edge-set hash; the driver loop holds two scalars
    per round.
    """
    spark = pairs.sparkSession
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )

    def _sig(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-insensitive, no ANSI long overflow (edges are
            # distinct, so xor cancellation needs a hash collision)
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def large_star(e: DataFrame) -> DataFrame:
        n = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).dropDuplicates()
        mins = n.groupBy("u").agg(F.min("v").alias("_mv"))
        mins = mins.select("u", F.least(F.col("_mv"), F.col("u")).alias("m"))
        return (
            n.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
        )

    def small_star(e: DataFrame) -> DataFrame:
        n = (
            e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
        )
        mins = n.groupBy("u").agg(F.min("v").alias("m"))
        return (
            n.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
        )

    prev = _sig(edges)
    converged = False
    for _ in range(max_iter):
        edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        cur = _sig(edges)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        # an unconverged edge set is NOT a star forest — the extraction
        # below would silently split true clusters; fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (rounds needed grow with log(component size))"
        )

    # converged edge set is a collection of stars (node -> component root)
    star = edges.select(
        F.greatest("u", "v").alias("node"), F.least("u", "v").alias("component")
    ).dropDuplicates()
    return nodes.join(star, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def dup_clusters(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """(component, n_members, members) duplicate clusters from candidate
    pairs — keep min(component) per cluster, drop the rest."""
    cc = connected_components(pairs, a_col, b_col)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sort_array(F.collect_list("node")).alias("members"),
    )
