"""Similarity search over embedding columns (array<float>).

* Brute-force cosine top-k — the correctness baseline: double-precision
  dot/norm via zip_with + aggregate (JVM-side, no explode, no UDF),
  one global top-k (orderBy + limit → Spark's TakeOrdered, no full
  sort at scale).
* LSH-bucketed ANN — the scale path: deterministic random-hyperplane
  signatures (seeded numpy planes shipped as literals), search only
  within the query's bucket. At 10^12 rows the bucket join replaces
  the full scan; brute force stays as the in-bucket scorer.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.
    Rounded to 6dp (double-sum precision ≫ rounding grain) with id
    tiebreak so results are engine-independent."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = _dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * _norm(q))
    return (
        df.select(F.col(id_col), F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _partial_topk_frame(ids, cos, qids, k, qid_col, id_col):
    """Per-batch partial top-k rows for every query column of ``cos``
    (rounded cosines, possibly -inf-masked). The select widens to the
    kth boundary VALUE before tie-sorting so rounded ties can still be
    displaced by a smaller id in another batch — the global window then
    reproduces single-query tie semantics exactly."""
    import pandas as pd

    b = len(ids)
    out_q, out_i, out_c = [], [], []
    for qi in range(len(qids)):
        col = cos[:, qi]
        finite = col > float("-inf")
        if not finite.any():
            continue
        if b > k:
            part = np.argpartition(-col, k - 1)[:k]
            boundary = max(col[part].min(), np.float64("-inf"))
            cand = np.flatnonzero((col >= boundary) & finite)
        else:
            cand = np.flatnonzero(finite)
        order = np.lexsort((ids[cand], -col[cand]))[:k]
        sel = cand[order]
        out_q.append(np.full(len(sel), qids[qi]))
        out_i.append(ids[sel])
        out_c.append(col[sel])
    if not out_q:
        return pd.DataFrame(
            {
                qid_col: np.array([], np.int64),
                id_col: np.array([], np.int64),
                "cos_sim": np.array([], np.float64),
            }
        )
    return pd.DataFrame(
        {
            qid_col: np.concatenate(out_q),
            id_col: np.concatenate(out_i),
            "cos_sim": np.concatenate(out_c),
        }
    )


def cosine_topk_batch(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    max_queries: int = 4096,
) -> DataFrame:
    """Exact cosine top-k for MANY queries in ONE pass over the table —
    the serving shape for ANN evaluation sets and batched retrieval.

    Distributed shape: the (small) query table is collected once
    (bounded by ``max_queries`` — larger sets should shard) and enters
    the scorer as a broadcast dense matrix; each Arrow batch pays a
    single (batch × dim) @ (dim × Q) matmul, then a PARTIAL top-k per
    query within the batch. The shuffle therefore carries ≤ Q·k rows
    per batch — map-side combine for top-k — never the Q·N cross
    product a naive crossJoin would. A final per-query window takes
    the global top-k. Tie semantics match :func:`cosine_topk` exactly:
    order by (cos_sim rounded 6dp DESC, id ASC); the partial select is
    rounding- and tie-aware so the fused path is bit-identical to
    running cosine_topk per query. Known divergences at the margins:
    a zero-norm QUERY vector scores 0.0 here (norm clamp) where the
    single-query SQL expression yields null cosines, and — as with
    every 6dp-rounded oracle comparison in this repo — sums computed
    in different orders (BLAS vs JVM fold) can in principle round to
    adjacent 6dp values when the true cosine sits within ~1e-15 of a
    rounding boundary."""
    import pandas as pd

    qrows = query_df.select(qid_col, qvec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_batch: > {max_queries} queries; shard the query set"
        )
    if not qrows:
        raise ValueError("cosine_topk_batch: empty query set")
    qids = np.asarray([r[qid_col] for r in qrows], dtype=np.int64)
    qmat = np.asarray([np.asarray(r[qvec_col], np.float64) for r in qrows])
    qnorm = np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-300)
    qn = qmat / qnorm

    out_schema = f"{qid_col} long, {id_col} long, cos_sim double"

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            v = np.asarray([np.asarray(e, np.float64) for e in pdf[vec_col]])
            vnorm = np.maximum(np.linalg.norm(v, axis=1), 1e-300)
            cos = np.round((v @ qn.T) / vnorm[:, None], 6)  # (b, Q)
            yield _partial_topk_frame(ids, cos, qids, k, qid_col, id_col)

    partial = df.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        partial.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy(qid_col, F.desc("cos_sim"), F.asc(id_col))
    )


def embedding_norms(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id", ordered: bool = False
) -> DataFrame:
    # unordered by default: a global sort at corpus scale is a full
    # range shuffle pipeline callers don't need (driver queries opt in)
    out = df.select(F.col(id_col), F.round(_norm(F.col(vec_col)), 6).alias("l2_norm"))
    return out.orderBy(id_col) if ordered else out


def closest_pairs(
    df: DataFrame,
    k: int = 15,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int = 100_000,
) -> DataFrame:
    """Exact top-k most-similar pairs (embedding-cosine near-dup, the
    correctness baseline): self-join a<b, double-precision cosine,
    global top-k. O(n²) BY DESIGN — the exact oracle at bounded scale,
    and it REFUSES larger inputs (``max_rows``; a metadata-cheap count
    for parquet sources) rather than silently launching a 10^24-pair
    cartesian: the scale paths are ``lsh_near_dup_pairs`` (hyperplane
    buckets) and ``ivf_ann_topk`` (coarse quantizer)."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"closest_pairs is an exact O(n^2) self-join and refuses n={n:,} "
            f"rows (> max_rows={max_rows:,}); use lsh_near_dup_pairs or "
            "ivf_ann_topk for corpus-scale near-dup search, or raise "
            "max_rows explicitly if this scan size is intended"
        )
    a = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("a_id") < F.col("b_id"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        pairs.select("a_id", "b_id", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("a_id"), F.asc("b_id"))
        .limit(k)
    )


def _plan_lsh_bands(
    threshold: float,
    recall_target: float = 0.9,
    max_candidate_frac: float = 0.05,
    max_planes: int = 256,
    max_bands: int = 64,
    max_r: int = 20,
) -> tuple[int, int, float, float]:
    """Pick (planes_per_band r, bands B) for a cosine threshold from
    the banding math: a pair AT the threshold agrees per plane with
    p = 1 - arccos(t)/π, is caught with recall 1-(1-p^r)^B, while a
    RANDOM pair becomes a candidate with frac 1-(1-2^-r)^B. Among
    configs inside the plane budget that meet ``recall_target``, take
    the most selective (min frac); if none can, take the max-recall
    config. Returns (r, B, expected_recall, expected_random_frac) —
    callers warn when frac exceeds ``max_candidate_frac``: hyperplane
    LSH is intrinsically weakly selective at low thresholds (p barely
    above 1/2), where MinHash-on-text or IVF are the better tools."""
    import math

    p = 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi
    best = None
    feasible = []
    for r in range(1, max_r + 1):
        pr = p**r
        if pr <= 0.0 or pr >= 1.0:
            b = 1
        else:
            b = math.ceil(math.log(1.0 - recall_target) / math.log(1.0 - pr))
        b = max(1, min(b, max_bands, max(1, max_planes // r)))
        rec = 1.0 - (1.0 - pr) ** b
        frac = 1.0 - (1.0 - 2.0**-r) ** b
        cand = (r, b, rec, frac)
        if rec >= recall_target:
            feasible.append(cand)
        if best is None or (rec, -frac) > (best[2], -best[3]):
            best = cand
    if feasible:
        return min(feasible, key=lambda c: c[3])
    return best


def banded_signatures(
    df: DataFrame,
    dim: int,
    planes_per_band: int,
    bands: int,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-band LSH buckets, EXPLODED to (id, band, bucket) rows —
    band ``b`` hashes planes [b·r, (b+1)·r) of the same seeded plane
    matrix ``hyperplane_signatures`` uses, but without the packed-long
    63-plane ceiling (r·B planes total; each band bucket is its own
    ≤ ``r``-bit long). All JVM-side literal-plane dot products; one
    projection, no UDF."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bands * planes_per_band, dim))
    structs = []
    for b in range(bands):
        bucket = F.lit(0).cast("long")
        for i in range(planes_per_band):
            p = F.array(*[F.lit(float(x)) for x in planes[b * planes_per_band + i]])
            bit = (_dot(F.col(vec_col), p) > 0).cast("long")
            bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
        structs.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    return df.select(
        F.col(id_col), F.explode(F.array(*structs)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    dim: int = 64,
    planes_per_band: int | None = None,
    bands: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    chunk_size: int | None = None,
    max_bucket_size: int | None = None,
    recall_target: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup at scale: BANDED hyperplane-LSH bucket
    join → exact cosine only within buckets → threshold filter.
    Approximate recall, exact precision (every emitted pair carries its
    exact cosine, so false candidates are filtered, never reported).

    Banding is the OR-of-ANDs recall amplifier (the same construction
    MinHash-LSH uses): a pair is a candidate when it agrees on ALL
    ``planes_per_band`` planes of ANY band — recall 1-(1-p^r)^B at
    per-plane agreement p = 1-θ/π. By default (r, B) are PLANNED from
    the threshold (``_plan_lsh_bands``): meet ``recall_target`` with
    the fewest random-pair candidates. SELECTIVITY IS THRESHOLD-BOUND:
    at cos 0.8 the planner reaches ~2% random-candidate fraction, but
    at cos 0.35 per-plane agreement is only 0.62 vs 0.5 for noise, so
    NO banding is selective — the op logs a warning with the expected
    candidate fraction and the better tools (MinHash on text, IVF).
    Cost: B exploded bucket rows per vector (one shuffle) and cross-
    band duplicate candidates, deduped BEFORE the exact-cosine verify.

    Skew-guarded: the within-bucket pairing is a
    ``skewjoin.bounded_self_join`` (per-task pair count ≤ chunk_size²),
    so one hot bucket of near-identical embeddings cannot serialize the
    stage. ``max_bucket_size`` optionally skips pairing such buckets —
    report them via ``skewjoin.oversized_buckets`` on the banded frame."""
    import logging

    from .skewjoin import DEFAULT_CHUNK_SIZE, bounded_self_join

    if planes_per_band is None or bands is None:
        r, b, exp_rec, exp_frac = _plan_lsh_bands(threshold, recall_target)
        planes_per_band = planes_per_band or r
        bands = bands or b
        if exp_frac > 0.05:
            logging.getLogger(__name__).warning(
                "lsh_near_dup_pairs: threshold %.2f is too low for selective "
                "hyperplane LSH — planned (r=%d, B=%d) catches ~%.0f%% of "
                "target pairs but makes ~%.0f%% of ALL pairs candidates "
                "(exact-verified, so precision holds, but cost approaches "
                "the cross join). Prefer threshold ≥ 0.7, MinHash-LSH on "
                "text, or IVF cell-blocking at this similarity level.",
                threshold, planes_per_band, bands, exp_rec * 100, exp_frac * 100,
            )
    banded = banded_signatures(
        df, dim, planes_per_band, bands, seed, vec_col, id_col
    )
    cand = (
        bounded_self_join(
            banded,
            ["band", "bucket"],
            id_col,
            chunk_size=chunk_size or DEFAULT_CHUNK_SIZE,
            max_bucket_size=max_bucket_size,
        )
        .select(
            F.col(f"a_{id_col}").alias("a_id"), F.col(f"b_{id_col}").alias("b_id")
        )
        .distinct()  # a pair matching in k bands must verify ONCE, not k times
    )
    a = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("va"))
    b_ = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("vb"))
    pairs = cand.join(a, "a_id").join(b_, "b_id")
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        pairs.select("a_id", "b_id", F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
        .orderBy("a_id", "b_id")
    )


def hyperplane_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane LSH: sign(v·p) per seeded plane → bit signature.
    Planes are deterministic (seed) and shipped as literal arrays —
    no driver-side state, no UDF."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    bits = F.lit(0).cast("long")
    for i in range(n_planes):
        p = F.array(*[F.lit(float(x)) for x in planes[i]])
        bit = (_dot(F.col(vec_col), p) > 0).cast("long")
        bits = bits.bitwiseOR(F.shiftleft(bit, i))
    return df.select(F.col(id_col), bits.alias("lsh_bucket"))


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multi_probe: int = 1,
) -> DataFrame:
    """LSH-bucketed ANN: score only vectors whose signature is within
    hamming distance ``multi_probe`` of the query's (0 = exact-bucket
    only). Multi-probe is the standard recall amplifier for hyperplane
    LSH — a true neighbor differs from the query on each plane with
    probability θ/π, so probing the Σ C(n_planes, i≤m) adjacent
    buckets recovers most near-misses while still scanning only
    ~Σ C(n,i)/2^n of the table. The probe set is ONE JVM-side
    ``bit_count(sig XOR qsig) <= m`` predicate on the signature column
    — no bucket enumeration, no driver loop."""
    sigs = hyperplane_signatures(df, dim, n_planes, seed, vec_col, id_col)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))
    qsig = 0
    qnp = np.asarray(query_vec, dtype=np.float64)
    for i in range(n_planes):
        if float(planes[i] @ qnp) > 0:
            qsig |= 1 << i
    near = sigs.where(
        F.bit_count(F.col("lsh_bucket").bitwiseXOR(F.lit(qsig))) <= int(multi_probe)
    ).select(id_col)
    bucket = df.join(near, id_col)
    return cosine_topk(bucket, query_vec, k, vec_col, id_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the k-means coarse-quantizer scale path.
#
# Train: numpy Lloyd iterations on a bounded deterministic sample
# (driver-side — centroids are tiny: k × dim floats). Assign: ONE
# narrow mapInPandas pass, a (batch × dim) @ (dim × k) matmul per Arrow
# batch — no shuffle, no explode. Query: probe the n_probe nearest
# cells only; exact cosine re-scores inside the probed cells. At 10^12
# rows the cell filter replaces the full scan (persist the assignment
# and partition the table by ivf_cell to get storage-level pruning).


#: driver-side training budget in VECTOR ELEMENTS (sample_n × dim):
#: 2^23 doubles ≈ 64 MB — above it the Lloyd iterations run
#: distributed (mapInPandas partial sums) instead of collecting the
#: sample to the driver
DEFAULT_DRIVER_TRAIN_BUDGET = 1 << 23


def ivf_train_centroids(
    df: DataFrame,
    k: int = 16,
    sample_n: int | None = None,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    driver_budget: int = DEFAULT_DRIVER_TRAIN_BUDGET,
) -> np.ndarray:
    return _train_centroids_counted(
        df, k, sample_n, iters, seed, vec_col, id_col, driver_budget
    )[0]


def _train_centroids_counted(
    df: DataFrame,
    k: int = 16,
    sample_n: int | None = None,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    driver_budget: int = DEFAULT_DRIVER_TRAIN_BUDGET,
) -> tuple[np.ndarray, int]:
    """k-means centroids (L2-normalized → spherical k-means, the right
    quantizer for cosine) from a deterministic bounded sample.

    ``sample_n`` defaults to ``max(4096, 64·k)`` — a fixed 4096-row
    sample under-trains past ~64 cells (≈64 points/cell is the
    conventional floor), and the 65k-cell quantizer a 100 TB corpus
    wants needs ~4M sample rows. Sampling is a HASH PREDICATE, not a
    global sort: rows where ``xxhash64(id) % p == 0`` with
    ``p = n // sample_n`` — one filter-only scan (the count is
    parquet-footer-cheap), no TakeOrdered over every partition.

    Two Lloyd paths, chosen by ``sample_n × dim`` vs ``driver_budget``:

    * within budget — collect the survivors, order by (hash, id),
      truncate to exactly sample_n, iterate in numpy (a pure function
      of the data: identical on any partitioning or cluster size);
    * past budget — the sample NEVER collects: each iteration is one
      ``mapInPandas`` pass emitting per-cell partial (count, Σv) from
      a batch matmul against broadcast centroids, reduced by a k-row
      groupBy — the only driver-side state is the k×dim centroid
      matrix itself. The survivor set is the hash predicate's
      (deterministic); sample size is then approximate (~sample_n).
    """
    if sample_n is None:
        sample_n = max(4096, 64 * int(k))
    n = df.count()
    p = max(1, n // sample_n)
    sel = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"),
    ).where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(p)) == 0)

    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = int(dim_row["d"]) if dim_row else 0
    if sample_n * max(1, dim) <= driver_budget:
        cand = sel.collect()
        cand.sort(key=lambda r: (r["_h"], r["_id"]))
        rows = cand[:sample_n]
        x = np.asarray([r["_v"] for r in rows], dtype=np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        k = min(k, len(x))
        rng = np.random.default_rng(seed)
        cent = x[rng.choice(len(x), size=k, replace=False)]
        for _ in range(iters):
            sims = x @ cent.T                      # (n, k)
            assign = np.argmax(sims, axis=1)
            for j in range(k):
                sel_x = x[assign == j]
                if len(sel_x):
                    c = sel_x.mean(axis=0)
                    cent[j] = c / max(np.linalg.norm(c), 1e-12)
        return cent, n

    # ---- distributed path: sample stays executor-side
    sample_df = sel.select("_v").cache()
    try:
        # k seed vectors by deterministic (hash, id) order — a TakeOrdered
        # of k rows, the one bounded collect this path performs
        seeds = sel.orderBy("_h", "_id").limit(int(k)).select("_v").collect()
        cent = np.asarray([r["_v"] for r in seeds], dtype=np.float64)
        cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        k = len(cent)
        for _ in range(iters):
            cent = _lloyd_step_distributed(sample_df, cent)
        return cent, n
    finally:
        sample_df.unpersist()


def _lloyd_step_distributed(sample_df: DataFrame, cent: np.ndarray) -> np.ndarray:
    """One distributed Lloyd iteration: per-Arrow-batch argmax matmul
    against broadcast centroids → per-cell partial (count, Σv) → k-row
    groupBy reduce → renormalized means. Empty cells keep their old
    centroid (standard Lloyd convention)."""
    import pandas as pd

    spark = sample_df.sparkSession
    k, dim = cent.shape
    bc = spark.sparkContext.broadcast(cent)

    def partials(it):
        acc_cnt = np.zeros(k, np.int64)
        acc_sum = np.zeros((k, dim), np.float64)
        for pdf in it:
            v = np.asarray([np.asarray(e, np.float64) for e in pdf["_v"]])
            if len(v):
                v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
                a = np.argmax(v @ bc.value.T, axis=1)
                np.add.at(acc_cnt, a, 1)
                np.add.at(acc_sum, a, v)
        cells = np.flatnonzero(acc_cnt)
        yield pd.DataFrame(
            {
                "cell": cells.astype("int32"),
                "cnt": acc_cnt[cells],
                "vsum": [acc_sum[c].tolist() for c in cells],
            }
        )

    parts = sample_df.mapInPandas(partials, "cell int, cnt long, vsum array<double>")
    rows = (
        parts.groupBy("cell")
        .agg(
            F.sum("cnt").alias("cnt"),
            # element-wise Σ over the partial-sum arrays: dim aggregate
            # expressions, one k-row shuffle — never row-scale data
            F.array(*[F.sum(F.col("vsum")[i]) for i in range(dim)]).alias("vsum"),
        )
        .collect()
    )
    new = cent.copy()
    for r in rows:
        c = np.asarray(r["vsum"], dtype=np.float64) / float(r["cnt"])
        new[int(r["cell"])] = c / max(np.linalg.norm(c), 1e-12)
    bc.destroy()
    return new


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add ``ivf_cell`` = argmax-cosine centroid per row. One vectorized
    matmul per Arrow batch; scan-parallel, shuffle-free."""
    import pandas as pd

    cent = np.asarray(centroids, dtype=np.float64)
    cols = df.columns
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", ivf_cell int"

    def assign(it):
        for pdf in it:
            v = np.asarray([np.asarray(e, np.float64) for e in pdf[vec_col]])
            if len(v):
                v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
                pdf = pdf.copy()
                pdf["ivf_cell"] = np.argmax(v @ cent.T, axis=1).astype("int32")
            else:
                pdf = pdf.assign(ivf_cell=pd.Series([], dtype="int32"))
            yield pdf

    return df.mapInPandas(assign, out_schema).select(*cols, "ivf_cell")


def ivf_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    sample_n: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: score only the rows assigned to the query's n_probe
    nearest centroids. n_probe = n_cells degenerates to exact search."""
    cent = ivf_train_centroids(df, n_cells, sample_n, seed=seed, vec_col=vec_col, id_col=id_col)
    q = np.asarray(query_vec, dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    probe = np.argsort(-(cent @ q))[: min(n_probe, len(cent))].tolist()
    assigned = ivf_assign(df, cent, vec_col)
    bucket = assigned.where(F.col("ivf_cell").isin([int(c) for c in probe]))
    return cosine_topk(bucket, query_vec, k, vec_col, id_col)


def _sq8_quantize(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of an assigned frame.
    Delegates the arithmetic to ``Fq8VecCodec.encode_vecs`` itself and
    unpacks its (lengths, scales, codes) sections — ONE source of truth,
    so index contents are bit-identical to fq8 block storage by
    construction (a re-implementation here drifted: float64 products
    can rint across a half-step boundary differently than the codec's
    float32 path — code-review r5 finding)."""
    import pandas as pd

    from ..codecs.primitives import unpack_sections
    from ..codecs.vectors import Fq8VecCodec

    codec = Fq8VecCodec()
    schema = f"{id_col} long, emb_q8 binary, emb_scale float, ivf_cell int"

    def comp(it):
        for pdf in it:
            arrs = [np.asarray(v, dtype=np.float32) for v in pdf[vec_col]]
            lens = np.fromiter((a.size for a in arrs), np.int64, len(arrs))
            flat = np.concatenate(arrs) if arrs else np.empty(0, np.float32)
            payload = codec.encode_vecs(lens, flat)
            _, scale_sec, code_sec = unpack_sections(payload, 3)
            scales = np.frombuffer(scale_sec, dtype="<f4")
            q = np.frombuffer(code_sec, dtype=np.int8)
            bounds = np.concatenate([[0], np.cumsum(lens)])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "emb_q8": [
                        q[bounds[i] : bounds[i + 1]].tobytes() for i in range(len(lens))
                    ],
                    "emb_scale": scales,
                    "ivf_cell": pdf["ivf_cell"].to_numpy(),
                }
            )

    return df.mapInPandas(comp, schema)


def _sq8_dequantize(
    df: DataFrame, vec_col: str, id_col: str, dim: int, keep_cell: bool = False
) -> DataFrame:
    """Reconstruct float32 vectors from (emb_q8, emb_scale) — runs only
    over the PROBED cells after partition pruning. One frombuffer over
    the batch's joined code bytes (fixed dim), vectorized scale
    multiply. ``keep_cell`` carries ivf_cell through (batch queries
    mask per-query probe sets on it)."""
    import pandas as pd

    schema = f"{id_col} long, {vec_col} array<float>"
    if keep_cell:
        schema += ", ivf_cell int"

    def comp(it):
        for pdf in it:
            if not len(pdf):
                continue
            codes = np.frombuffer(
                b"".join(pdf["emb_q8"]), dtype=np.int8
            ).reshape(-1, dim)
            scales = pdf["emb_scale"].to_numpy(dtype=np.float32)
            vecs = codes.astype(np.float32) * scales[:, None]
            out = {id_col: pdf[id_col].to_numpy(), vec_col: list(vecs)}
            if keep_cell:
                out["ivf_cell"] = pdf["ivf_cell"].to_numpy()
            yield pd.DataFrame(out)

    return df.mapInPandas(comp, schema)


def _assign_sq8_quantize(
    df: DataFrame, centroids: np.ndarray, vec_col: str, id_col: str
) -> DataFrame:
    """Fused cell assignment + SQ8 quantization: ONE ``mapInPandas``
    pass over the vectors instead of assign→quantize chained (two full
    JVM↔Python round trips of every embedding — guide §4: you control
    how many times the columns cross the boundary). Quantization is
    per-vector (scale = amax/127 per vector via ``Fq8VecCodec``), so
    fusing cannot change any byte of the output."""
    import pandas as pd

    from ..codecs.primitives import unpack_sections
    from ..codecs.vectors import Fq8VecCodec

    cent = np.asarray(centroids, dtype=np.float64)
    codec = Fq8VecCodec()
    schema = f"{id_col} long, emb_q8 binary, emb_scale float, ivf_cell int"

    def comp(it):
        for pdf in it:
            if not len(pdf):
                continue
            v = np.asarray([np.asarray(e, np.float64) for e in pdf[vec_col]])
            vn = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
            cells = np.argmax(vn @ cent.T, axis=1).astype("int32")
            arrs = [np.asarray(e, dtype=np.float32) for e in pdf[vec_col]]
            lens = np.fromiter((a.size for a in arrs), np.int64, len(arrs))
            flat = np.concatenate(arrs) if arrs else np.empty(0, np.float32)
            payload = codec.encode_vecs(lens, flat)
            _, scale_sec, code_sec = unpack_sections(payload, 3)
            scales = np.frombuffer(scale_sec, dtype="<f4")
            q = np.frombuffer(code_sec, dtype=np.int8)
            bounds = np.concatenate([[0], np.cumsum(lens)])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "emb_q8": [
                        q[bounds[i] : bounds[i + 1]].tobytes() for i in range(len(lens))
                    ],
                    "emb_scale": scales,
                    "ivf_cell": cells,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(comp, schema)


def ivf_build_index(
    spark,
    df: DataFrame,
    index_dir: str,
    n_cells: int = 16,
    sample_n: int | None = None,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    store_codec: str | None = None,
) -> dict:
    """Materialize the IVF index ONCE (VERDICT r03 next #4): train the
    coarse quantizer, assign every vector, and write the assignment
    CELL-PARTITIONED (``partitionBy("ivf_cell")``) plus a centroids
    table. Repeated queries then read only the probed cells' partitions
    — storage-level pruning (PartitionFilters at planning time), not a
    row filter over the whole table — and skip training entirely.
    On Iceberg the same layout is ``partitionedBy(ivf_cell)``; the
    parquet-dir form here is the jar-free equivalent.

    ``store_codec="fq8"`` stores the index SCALAR-QUANTIZED (the Faiss
    IVF-SQ8 layout): one int8 code per element + one float32 scale per
    vector, ~4× smaller index files, dequantized transparently inside
    :func:`ivf_query` after the partition prune. Same quantization
    formula as the fq8 block codec, so recall impact is exactly the
    ``quantized_storage_exact`` number the bench reports (1.0 on the
    sf embeddings). Default stays float32-exact.

    Returns {"cells", "rows", "dim", "store_codec"}.
    """
    if store_codec not in (None, "fq8"):
        raise ValueError(f"store_codec must be None or 'fq8', got {store_codec!r}")
    # training already counts the table for its sample predicate —
    # reuse that count instead of a second full count job at the end
    cent, n_rows = _train_centroids_counted(
        df, n_cells, sample_n, seed=seed, vec_col=vec_col, id_col=id_col
    )
    if store_codec == "fq8":
        # fused assign+quantize: one Python pass over the vectors, not two
        assigned = _assign_sq8_quantize(df, cent, vec_col, id_col)
    else:
        assigned = ivf_assign(df, cent, vec_col)
    # one shuffle on ivf_cell so each cell's files are written together
    # (without it every task writes a sliver of every cell: tiny files
    # at scale); the cell is the partition dir, pruned at query time
    assigned.repartition("ivf_cell").write.mode("overwrite").partitionBy(
        "ivf_cell"
    ).parquet(f"{index_dir}/vectors")
    # centroids/meta are driver-owned k×dim metadata: for a LOCAL index
    # dir write them with pyarrow directly (no Spark job — the
    # createDataFrame(list) path evaluates through a 32-slice Python
    # RDD and costs ~5 s per write, localframe.py); a REMOTE index_dir
    # (hdfs://, s3://…, or scheme-less under a remote fs.defaultFS)
    # keeps the Spark writer, routed through the Arrow local-relation
    # constructor so even that path pays no Python-RDD evaluation —
    # the metadata then lands on the same filesystem as the vectors.
    # spark.read.parquet reads both layouts.
    from ..localframe import driver_fs_path, local_df, write_local_parquet

    base = driver_fs_path(spark, index_dir)
    if base is not None:
        import pyarrow as pa

        write_local_parquet(
            f"{base}/centroids",
            pa.table(
                {
                    "cell": pa.array(range(len(cent)), pa.int32()),
                    "centroid": pa.array(
                        [[float(x) for x in c] for c in cent], pa.list_(pa.float64())
                    ),
                }
            ),
        )
        write_local_parquet(
            f"{base}/index_meta",
            pa.table(
                {
                    "n_cells": pa.array([int(len(cent))], pa.int32()),
                    "dim": pa.array([int(cent.shape[1])], pa.int32()),
                    "vec_col": pa.array([vec_col], pa.string()),
                    "id_col": pa.array([id_col], pa.string()),
                    "seed": pa.array([int(seed)], pa.int32()),
                    "store_codec": pa.array([store_codec], pa.string()),
                }
            ),
        )
    else:
        cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cent)]
        local_df(spark, cent_rows, "cell int, centroid array<double>").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{index_dir}/centroids")
        local_df(
            spark,
            [(int(len(cent)), int(cent.shape[1]), vec_col, id_col, int(seed), store_codec)],
            "n_cells int, dim int, vec_col string, id_col string, seed int, store_codec string",
        ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/index_meta")
    return {
        "cells": int(len(cent)),
        "rows": int(n_rows),
        "dim": int(cent.shape[1]),
        "store_codec": store_codec,
    }


def _local_index_path(spark, index_dir: str, name: str) -> str | None:
    """Filesystem path for a driver-readable index metadata dir, or
    None when the index lives on a remote filesystem and must go
    through a Spark read."""
    import os

    from ..localframe import driver_fs_path

    base = driver_fs_path(spark, index_dir)
    if base is None:
        return None
    p = os.path.join(base, name)
    return p if os.path.isdir(p) else None


def _read_index_meta(spark, index_dir: str) -> dict:
    """index_meta row as a dict — pyarrow driver-side for local dirs
    (the 1-row read is driver metadata; a Spark job for it costs ~0.15 s
    per query), Spark read otherwise."""
    p = _local_index_path(spark, index_dir, "index_meta")
    if p is not None:
        import pyarrow.parquet as pq

        t = pq.read_table(p)
        return {k: v[0] for k, v in t.to_pydict().items()}
    return spark.read.parquet(f"{index_dir}/index_meta").collect()[0].asDict()


def ivf_read_centroids(spark, index_dir: str) -> np.ndarray:
    p = _local_index_path(spark, index_dir, "centroids")
    if p is not None:
        import pyarrow.parquet as pq

        t = pq.read_table(p).to_pydict()
        order = np.argsort(np.asarray(t["cell"]))
        return np.asarray([t["centroid"][i] for i in order], dtype=np.float64)
    rows = spark.read.parquet(f"{index_dir}/centroids").orderBy("cell").collect()
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def ivf_query(
    spark,
    index_dir: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """ANN point query against a built IVF index: nearest ``n_probe``
    centroids (driver-side on the tiny centroid table) → read ONLY
    those cells' partition directories → exact cosine top-k inside.
    Per query this touches ~n_probe/n_cells of the data at the
    STORAGE level; no training, no full-table assignment pass. An
    index built with ``store_codec="fq8"`` is dequantized transparently
    AFTER the partition prune (int8·scale, probed cells only); pre-r5
    indexes have no store_codec column and read as float32-exact."""
    meta = _read_index_meta(spark, index_dir)
    cent = ivf_read_centroids(spark, index_dir)
    q = np.asarray(query_vec, dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    probe = np.argsort(-(cent @ q))[: min(n_probe, len(cent))].tolist()
    vectors = spark.read.parquet(f"{index_dir}/vectors")
    bucket = vectors.where(F.col("ivf_cell").isin([int(c) for c in probe]))
    if meta.get("store_codec") == "fq8":
        bucket = _sq8_dequantize(bucket, meta["vec_col"], meta["id_col"], meta["dim"])
    return cosine_topk(bucket, query_vec, k, meta["vec_col"], meta["id_col"])


def ivf_query_batch(
    spark,
    index_dir: str,
    query_df: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    max_queries: int = 4096,
) -> DataFrame:
    """Batch ANN against a built IVF index — the serving shape for an
    evaluation set or a retrieval batch: ONE partition-pruned read of
    the UNION of every query's probed cells, one matmul per Arrow
    batch, and a per-query CELL MASK so each query ranks only vectors
    from ITS OWN probed cells. Results are row-identical to calling
    :func:`ivf_query` once per query (known-answer tested), but the
    index is read once instead of Q times and the shuffle carries
    ≤ Q·k rows per batch (same map-side partial top-k as
    :func:`cosine_topk_batch`). SQ8 indexes dequantize after the
    prune, cells carried through for the mask."""
    import pandas as pd

    meta = _read_index_meta(spark, index_dir)
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    cent = ivf_read_centroids(spark, index_dir)
    qrows = query_df.select(qid_col, qvec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(f"ivf_query_batch: > {max_queries} queries; shard the query set")
    if not qrows:
        raise ValueError("ivf_query_batch: empty query set")
    qids = np.asarray([r[qid_col] for r in qrows], dtype=np.int64)
    qmat = np.asarray([np.asarray(r[qvec_col], np.float64) for r in qrows])
    qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-300)
    npb = min(n_probe, len(cent))
    # (Q, n_probe) probed cells per query; allowed mask (n_cells, Q)
    probes = np.argsort(-(qn @ cent.T), axis=1)[:, :npb]
    allowed = np.zeros((len(cent), len(qids)), dtype=bool)
    for qi in range(len(qids)):
        allowed[probes[qi], qi] = True
    union_cells = sorted(int(c) for c in np.unique(probes))

    vectors = spark.read.parquet(f"{index_dir}/vectors").where(
        F.col("ivf_cell").isin(union_cells)
    )
    if meta.get("store_codec") == "fq8":
        vectors = _sq8_dequantize(
            vectors, vec_col, id_col, meta["dim"], keep_cell=True
        )

    out_schema = f"{qid_col} long, {id_col} long, cos_sim double"

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            cells = pdf["ivf_cell"].to_numpy(dtype=np.int64)
            v = np.asarray([np.asarray(e, np.float64) for e in pdf[vec_col]])
            vnorm = np.maximum(np.linalg.norm(v, axis=1), 1e-300)
            cos = np.round((v @ qn.T) / vnorm[:, None], 6)  # (b, Q)
            cos = np.where(allowed[cells], cos, float("-inf"))
            yield _partial_topk_frame(ids, cos, qids, k, qid_col, id_col)

    partial = vectors.select(id_col, vec_col, "ivf_cell").mapInPandas(score, out_schema)
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        partial.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy(qid_col, F.desc("cos_sim"), F.asc(id_col))
    )
