"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection
over a document table. All hot-path work is JVM-side Catalyst
expressions (xxhash64, higher-order array functions); nothing
collects to the driver, every stage is a shuffle-bounded DataFrame
op, so each scales to 100 TB by adding executors:

* exact: one hash-groupBy (map-side partial agg).
* MinHash: per-row signature via array transforms (no shuffle), then
  ONE shuffle on (band, band_hash) for bucketing; candidate
  verification joins only within buckets.
* SimHash: per-row 64-bit fingerprint via bit aggregation; near-dups
  via banded prefix buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: keeper id + duplicate count per text."""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
        .where(F.col("dup_count") > 1)
        .select("keep_id", "dup_count")
        .orderBy("keep_id")
    )


def distinct_count_after_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.agg(F.countDistinct(text_col).alias("distinct_docs"))


def drop_exact_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The cleaned corpus: keep the lowest-id document per exact text.

    One shuffle, keyed on ``(xxhash64(text), text)``: the 8-byte hash
    leads the window partition key so shuffle routing and the sort
    comparator work on longs — full document bodies are compared only
    between hash-equal rows. The text column rides second in the key as
    the collision tiebreak, so two different texts that share a hash
    still form distinct groups (bit-exact semantics, not probabilistic).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(F.xxhash64(F.col(text_col)), F.col(text_col)).orderBy(F.asc(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _shingles(text_col: str, k: int = 3):
    """Word k-shingles as an array column (JVM-side)."""
    words = F.split(F.trim(F.col(text_col)), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """MinHash signature per document.

    Explode shingles ONCE, hash each shingle with all seeds in the same
    projection (16 xxhash64 calls per shingle row — one codegen stage),
    then a single groupBy(doc) computing all 16 mins in one Aggregate
    node. One shuffle total; scales as a plain wide aggregation.

    Input is ``fan_out``-guarded: the shingle construction + hashing is
    the expensive stage, and a single-file corpus sample would run it
    on one core (guide §2.5) — at real corpus scale the guard is the
    identity."""
    from ..parallel import fan_out

    exploded = fan_out(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(_shingles(text_col)).alias("sh")
    ).select(
        id_col, *[F.xxhash64("sh", F.lit(i)).alias(f"h{i}") for i in range(num_hashes)]
    )
    agg = exploded.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)]
    )
    return agg.select(
        id_col, F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("minhash")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    chunk_size: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signatures, bucket-join within (band, hash). Emits
    candidate (a, b) pairs with a < b.

    Skew-guarded: the within-bucket pairing goes through
    ``skewjoin.bounded_self_join``, so a mega-cluster of near-identical
    documents (one band bucket with millions of members) distributes
    its pairs across many tasks, each bounded at chunk_size² pairs,
    instead of going quadratic inside a single join partition.
    ``max_bucket_size`` optionally refuses pairing such clusters at all
    (they are better handled by exact-dup grouping) — when set, the
    dropped buckets are reported by ``skewjoin.oversized_buckets`` on
    the banded frame, never silently."""
    from .skewjoin import DEFAULT_CHUNK_SIZE, bounded_self_join

    banded = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("minhash")[b * rows_per_band + r]
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bh")
    pairs = bounded_self_join(
        banded,
        ["band", "bh"],
        id_col,
        chunk_size=chunk_size or DEFAULT_CHUNK_SIZE,
        max_bucket_size=max_bucket_size,
    )
    return (
        pairs.select(
            F.col(f"a_{id_col}").alias("a_id"), F.col(f"b_{id_col}").alias("b_id")
        )
        .distinct()
    )


def ngram_jaccard(
    df: DataFrame, pairs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard.
    Joins docs to pairs twice (broadcast-able when candidates are few).

    Candidate-scoped: the corpus is LEFT SEMI-joined against the
    distinct candidate ids BEFORE shingling, so the shingle arrays (the
    expensive projection — k-gram concat per token) are computed and
    shuffled only for |candidates| documents, not the whole corpus.
    At 10^12 turns with a tiny candidate set the verify stage scales
    with the pair list, not the table."""
    cand_ids = (
        pairs.select(F.col("a_id").alias(id_col))
        .union(pairs.select(F.col("b_id").alias(id_col)))
        .distinct()
    )
    docs = df.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col), F.array_distinct(_shingles(text_col, k)).alias("sh")
    )
    j = (
        pairs.join(docs.withColumnRenamed(id_col, "a_id").withColumnRenamed("sh", "sh_a"), "a_id")
        .join(docs.withColumnRenamed(id_col, "b_id").withColumnRenamed("sh", "sh_b"), "b_id")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "a_id",
        "b_id",
        F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
    )


def dup_clusters(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve near-dup candidate pairs into CLUSTERS: each node maps to
    the minimum id of its connected component (``(node, cluster_id)``).

    Pairs are necessary but not sufficient for dedup — (a,b) and (b,c)
    near-dups imply {a,b,c} is one duplicate group even if (a,c) never
    surfaced as a candidate. This is iterative min-label propagation
    (the GraphX/Pregel connected-components shape): per round, every
    node takes the min label among itself and its neighbors — one join
    + one aggregate per round, converging in O(component diameter)
    rounds. LSH candidate graphs are locally dense (near-cliques), so
    diameter is small; ``max_iter`` bounds the driver loop and raises
    rather than silently returning partial components. Lineage is cut
    every round via localCheckpoint so plans don't grow unboundedly.

    The driver-side loop is control flow only — all data movement is
    distributed (one shuffle per round, keyed on node id).
    """
    src, dst = F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    fwd = pairs.select(src, dst)
    edges = fwd.union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    edges = edges.distinct().localCheckpoint(eager=True)

    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("min_nbr"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("min_nbr")).alias("label"),
        )
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # neighbor labels: for each node, the min label among neighbors
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("node", F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"dup_clusters did not converge in {max_iter} rounds — the pair "
        "graph has a component of diameter > max_iter; raise max_iter"
    )


def near_dedup_corpus(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The near-dup-cleaned corpus: drop every document that belongs to
    a duplicate cluster but is not its minimum-id representative.
    Unclustered documents (no candidate pair) all survive. One
    broadcast-able anti-join when the clustered set is small relative
    to the corpus (the common case), else a plain shuffled anti-join —
    Spark's size estimate decides."""
    clusters = dup_clusters(pairs)
    losers = clusters.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash: per-token xxhash64, majority vote per bit.

    Explode tokens once, hash each, then ONE groupBy(doc) aggregate
    computing all 64 bit-vote sums (a single wide Aggregate node with
    map-side partial agg — one shuffle, scales like word-count).

    ``fan_out``-guarded like minhash_signatures: the tokenize + 64-sum
    partial aggregation must not serialize on a one-split scan."""
    exploded = _token_hashes(df, text_col, id_col)
    # PACKED bit votes (r6): two 32-bit-field counters per 64-bit sum —
    # 32 aggregate expressions instead of 64 for the identical result
    # (measured ~35% faster aggregate; bit votes per doc are bounded by
    # the doc's token count, and a 2^31-token single document — the
    # packing's overflow bound under ANSI long sums — cannot exist).
    aggs = [F.count("*").alias("n_tok")]
    for a in range(32):
        lo = F.shiftrightunsigned("h", 2 * a).bitwiseAND(F.lit(1))
        hi = F.shiftleft(
            F.shiftrightunsigned("h", 2 * a + 1).bitwiseAND(F.lit(1)), 32
        )
        aggs.append(F.sum(lo + hi).alias(f"p{a}"))
    return _vote_bits(exploded.groupBy(id_col).agg(*aggs), id_col)


def _token_hashes(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, h): the xxhash64 of every whitespace-separated token."""
    from ..parallel import fan_out

    tokens = F.filter(F.split(F.trim(F.col(text_col)), " "), lambda t: t != "")
    return fan_out(df.select(F.col(id_col), F.col(text_col)), id_col).select(
        F.col(id_col), F.explode(tokens).alias("tok")
    ).select(
        id_col, F.xxhash64("tok").alias("h")
    )


def _vote_bits(votes: DataFrame, id_col: str) -> DataFrame:
    """SimHash from packed votes: ``p{a}`` holds bit 2a's vote count in
    its low 32 bits and bit 2a+1's in its high 32; a bit is set when at
    least half of the ``n_tok`` tokens vote for it."""
    sh = F.lit(0).cast("long")
    mask = (1 << 32) - 1
    for a in range(32):
        v_lo = F.col(f"p{a}").bitwiseAND(F.lit(mask))
        v_hi = F.shiftrightunsigned(f"p{a}", 32).bitwiseAND(F.lit(mask))
        sh = sh.bitwiseOR(F.shiftleft((v_lo * 2 >= F.col("n_tok")).cast("long"), 2 * a))
        sh = sh.bitwiseOR(
            F.shiftleft((v_hi * 2 >= F.col("n_tok")).cast("long"), 2 * a + 1)
        )
    return votes.select(F.col(id_col), sh.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    fingerprints: DataFrame | None = None,
    chunk_size: int | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: all (a, b) with
    hamming(simhash_a, simhash_b) <= max_hamming, a_id < b_id.

    The banding argument is pigeonhole-EXACT, not probabilistic (unlike
    MinHash-LSH): split the 64-bit fingerprint into ``max_hamming + 1``
    disjoint bit bands — any pair within ``max_hamming`` differing bits
    must agree EXACTLY on at least one band, so bucketing on
    (band, band_bits) has 100% recall. Within each bucket, pairing goes
    through ``skewjoin.bounded_self_join`` (per-task pair count bounded
    by chunk_size² under template-heavy corpora, same skew guard as the
    MinHash path), and candidates are verified JVM-side with
    ``bit_count(a ^ b)`` — no per-row Python anywhere.

    One wide aggregate (the fingerprint) + one bucket shuffle + the
    chunked join: the cheap complement to MinHash for near-exact
    template dedup, where edits touch a handful of token hashes.
    ``fingerprints`` accepts a precomputed ``simhash()`` frame
    (id_col, simhash) to share the aggregate across analyses.
    """
    from .skewjoin import DEFAULT_CHUNK_SIZE, bounded_self_join

    if not 0 <= max_hamming <= 8:
        # bands of width 64/(h+1) < 8 bits bucket too coarsely to prune
        raise ValueError(f"max_hamming must be in [0, 8], got {max_hamming}")
    sigs = fingerprints if fingerprints is not None else simhash(df, text_col, id_col)
    bands = max_hamming + 1
    base, extra = divmod(64, bands)
    widths = [base + (1 if b < extra else 0) for b in range(bands)]
    offsets = [sum(widths[:b]) for b in range(bands)]
    def _band_bits(b: int):
        # a 64-bit-wide band (max_hamming=0 → one band) IS the whole
        # fingerprint: the mask literal 2^64-1 would overflow a Java
        # long, and no masking is needed
        shifted = F.shiftrightunsigned("simhash", offsets[b])
        if widths[b] >= 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << widths[b]) - 1))

    banded = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _band_bits(b).alias("bh"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    pairs = bounded_self_join(
        banded,
        ["band", "bh"],
        id_col,
        chunk_size=chunk_size or DEFAULT_CHUNK_SIZE,
        max_bucket_size=max_bucket_size,
    )
    hamming = F.bit_count(
        F.col("a_simhash").bitwiseXOR(F.col("b_simhash"))
    ).cast("int")
    return (
        pairs.select(
            F.col(f"a_{id_col}").alias("a_id"),
            F.col(f"b_{id_col}").alias("b_id"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= F.lit(max_hamming))
        .distinct()
    )
