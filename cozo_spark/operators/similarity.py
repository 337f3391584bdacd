"""Similarity search over embedding columns (array<float>).

The reference serves vector search through an HNSW index
(cozo-core/src/runtime/hnsw.rs, ~1035 LoC; query surface
data/program.rs:976-991: k, ef, radius, filter, bind distance). HNSW is a
single-node pointer-chasing structure; the distributed re-expression is:

- brute-force top-k: broadcast the query set, score every (query, row) pair
  JVM-side, per-query window top-k. Exact, embarrassingly parallel, and at
  100 TB it's one scan — often the right answer when queries are few.
- IVF (inverted-file) top-k: k-means-ish coarse centroids (deterministic
  seeded sample), assign rows to nearest centroid once (write-time in a real
  pipeline), probe only the nprobe nearest centroid partitions per query.
  This is the scale path: the scan touches nprobe/ncentroids of the data.
- LSH bucketed cosine via random hyperplanes: sign-bit signatures, candidate
  pairs from band equality (for all-pairs near-neighbor joins).

Dot products/norms/L2 run JVM-side, no Python, as aggregate/zip_with
higher-order folds — measured FASTER than flat unrolled arithmetic at
d=64 (see the scoring-expression note below); per-row norms are hoisted
below pair joins so they are computed per row, never per pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from cozo_spark.plans.local import local_frame
from cozo_spark.plans.memo import plan_memo


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def l2_dist_col(a, b):
    return F.sqrt(F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                              F.lit(0.0), lambda acc, v: acc + v))


# ---------------------------------------------------------------------------
# Scoring-expression note (r11, measured twice — the second time properly):
# an earlier r11 pass unrolled the dot/norm/L2 folds into flat 64-term
# arithmetic expressions on the theory that lambda higher-order functions
# (aggregate/zip_with/transform) are CodegenFallback and therefore slow.
# Interleaved A/B on the 2M-pair neardup join at sf0.1 showed the OPPOSITE
# once the join itself was an equi-join: the unrolled 64-term expression
# ran at ~76 ns/element (superlinear in term count — the generated method
# grows past what the JIT optimizes well) vs ~9 ns/element for the HOF
# fold, whose per-element loop lives in one small reusable evaluator.
# Measured: neardup 4.42 → 0.72 s, ann_cosine_topk 0.52 → 0.20 s,
# ann_ivf_topk 1.01 → 0.68 s, ann_pq_topk 0.79 → 0.70 s. The HOF fold is
# the original (((0 + t0) + t1) + …) order, so results are bit-identical.
# What SURVIVES from that pass: per-row norms hoisted below the pair join
# (norms are per-row, never per-pair) and the block-pair equi-join itself.
# ---------------------------------------------------------------------------


@plan_memo
def cosine_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding", round_digits: int | None = None,
) -> DataFrame:
    """(qid, vec_id, cos_sim): exact top-k by cosine for each query vector.

    Query side is broadcast (queries are few); corpus is scanned once. The
    per-query top-k runs as a window over the crossed score table; ties break
    on vec_id for determinism. Cast to double before arithmetic so results
    are stable and match a double-precision oracle.
    """
    from cozo_spark.operators.dedup import _spread_small_input

    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv"))
    c = _spread_small_input(
        corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).cast("array<double>").alias("v")), "vec_id")
    # per-row norms hoisted below the cross join (norms are per-row, never
    # per-pair); the HOF dot/norm folds are the measured-fast path (see the
    # scoring-expression note above)
    q = q.withColumn("_qn", _norm(F.col("qv")))
    c = c.withColumn("_vn", _norm(F.col("v")))
    sim = _dot(F.col("qv"), F.col("v")) / (F.col("_qn") * F.col("_vn"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = (
        F.broadcast(q).crossJoin(c)
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", sim.alias("cos_sim"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("qid", "vec_id", "cos_sim")
    )


def ivf_build(
    corpus: DataFrame, n_centroids: int = 16,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 42,
    refine_iters: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index: (centroids, assigned corpus).

    Centroids = deterministic sample of corpus vectors; ``refine_iters``
    > 0 runs that many Lloyd iterations over them (kmeans_lloyd —
    deterministic, integerized) for tighter cells at a one-off build
    cost. Assignment = argmin L2 over broadcast centroids — at write
    time in a production pipeline, so queries never pay it.
    Returns (centroids(cid, cvec), assigned(id, vec, cid)).
    """
    from cozo_spark.operators.dedup import _spread_small_input

    # r12: spread first — the argmin distance scoring below otherwise runs
    # inside a ONE-task scan stage for a small single-row-group parquet,
    # and the vec_id hash partitioning feeds the assignment window without
    # a new exchange. No-op at real scale.
    c = _spread_small_input(
        corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).cast("array<double>").alias("v")),
        "vec_id")
    if refine_iters > 0:
        km_cents, _ = kmeans_lloyd(corpus, k=n_centroids,
                                   iters=refine_iters, id_col=id_col,
                                   vec_col=vec_col, seed=seed)
        cents = local_frame(
            c.sparkSession,
            [(cid, [x / 1e6 for x in cv])
             for cid, cv in enumerate(km_cents)],
            "cid int, cvec array<double>")
        dist0 = l2_dist_col(F.col("v"), F.col("cvec"))
        aw0 = W.partitionBy("vec_id").orderBy(F.col("_d"), F.col("cid"))
        assigned = (
            c.crossJoin(F.broadcast(cents))
            .withColumn("_d", dist0)
            .withColumn("_rn", F.row_number().over(aw0)).filter("_rn = 1")
            .select("vec_id", "v", "cid"))
        return cents, assigned
    # pseudo-random but PORTABLE pick: md5 of the id+seed decimal string is
    # identical in any engine (DuckDB md5(...)), unlike xxhash64 — the IVF
    # result is therefore fully oracle-checkable. orderBy+limit compiles
    # to distributed TakeOrderedAndProject (per-partition top-k), NOT the
    # single-partition row_number window; ranks assign driver-side on the
    # n_centroids collected rows (broadcast-small by definition).
    picked = (c.select(F.md5((F.col("vec_id") + F.lit(seed)).cast("string"))
                       .alias("_h"), "vec_id", "v")
              .orderBy("_h", "vec_id").limit(n_centroids).collect())
    picked.sort(key=lambda r: (r["_h"], r["vec_id"]))
    cents = local_frame(
        c.sparkSession,
        [(cid, list(r["v"])) for cid, r in enumerate(picked)],
        "cid int, cvec array<double>")
    dist = l2_dist_col(F.col("v"), F.col("cvec"))
    aw = W.partitionBy("vec_id").orderBy(F.col("_d"), F.col("cid"))
    assigned = (
        c.crossJoin(F.broadcast(cents))
        .withColumn("_d", dist)
        .withColumn("_rn", F.row_number().over(aw)).filter("_rn = 1")
        .select("vec_id", "v", "cid")
    )
    return cents, assigned


def ivf_cosine_topk(
    queries: DataFrame, centroids: DataFrame, assigned: DataFrame,
    k: int = 10, nprobe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(qid, vec_id, cos_sim): approximate top-k probing nprobe centroids.

    Per query: rank centroids by L2, keep nprobe, then score only rows
    assigned to those centroids. The corpus-side join hits a cid-partitioned
    table, so at scale this reads nprobe/n_centroids of the data (partition
    pruning if `assigned` is written partitioned by cid).
    """
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("qv"))
    cw = W.partitionBy("qid").orderBy(F.col("_cd"), F.col("cid"))
    probes = (
        F.broadcast(q).crossJoin(F.broadcast(centroids))
        .withColumn("_cd", l2_dist_col(F.col("qv"), F.col("cvec")))
        .withColumn("_rn", F.row_number().over(cw)).filter(F.col("_rn") <= nprobe)
        .select("qid", "qv", "cid")
    )
    # norms hoisted below the probe join (per-row, never per-pair)
    probes = probes.withColumn("_qn", _norm(F.col("qv")))
    asg = assigned.withColumn("_vn", _norm(F.col("v")))
    sim = _dot(F.col("qv"), F.col("v")) / (F.col("_qn") * F.col("_vn"))
    scored = (
        probes.join(asg, "cid")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", sim.alias("cos_sim"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
        .select("qid", "vec_id", "cos_sim")
    )


@plan_memo(extra_key=lambda corpus, *a, **k: corpus.sparkSession.conf.get(
    "spark.cozo.neardup.blocks", ""))
def cosine_neardup_pairs(
    corpus: DataFrame, threshold: float = 0.4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    round_digits: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cos_sim) — all unordered pairs with cosine >= threshold.

    Exact embedding-cosine near-duplicate join. At 100 TB you never run it
    raw — generate candidates with random_hyperplane_lsh_pairs and score
    only candidates — but the exact verify itself is now an EQUI self-join
    (r11 rewrite, guide §3): each row lands in block p = hash(id) mod B;
    the a-side is replicated to block-pair keys (p, p..B−1) and the b-side
    to (0..q, q), so every unordered pair meets on the (p, q) key exactly
    once (twice when p == q, disambiguated by id order). Replication factor
    is B/2 on each side — bounded, parameterizable, and shuffle-
    partitionable at scale, unlike the former theta-join.

    Why not the natural ``a.id < b.id`` theta-join: Spark executes it as a
    BroadcastNestedLoopJoin that evaluates the n² cosine condition row-pair
    at a time with no partition parallelism on a small-file corpus —
    measured 65.6 s at sf0.1 (2k vectors, 4M ordered pairs, one scan task).
    The block-pair equi-join spreads the same work across B(B+1)/2 keyed
    buckets. Scoring uses the HOF dot with per-row norms hoisted below the
    join (see the scoring-expression note above — the unrolled fixed-dim
    variant measured 6x SLOWER here and was removed). Same fold order,
    bit-identical cos_sim, verified against the DuckDB oracle at
    sf0.001/0.01/0.1. Measured 65.6 → 0.72 s at sf0.1.
    """
    from cozo_spark.operators.dedup import _spread_small_input

    spark = corpus.sparkSession
    try:
        n_blocks = int(spark.conf.get("spark.cozo.neardup.blocks", ""))
    except Exception:
        n_blocks = 0
    if n_blocks <= 0:
        # scale-adaptive default: one block pair per 2 cores keeps every
        # core busy locally; at cluster scale raise via the conf so each
        # (p, q) bucket's (n/B)² pair count stays task-sized
        n_blocks = max(8, min(256, spark.sparkContext.defaultParallelism))

    # a small parquet source scans as ONE task, serializing the pair loop
    # on a single core (measured: the whole 65 s sat on one task); spread
    # to cluster parallelism — no-op at scale (see _spread_small_input)
    c = _spread_small_input(
        corpus.select(F.col(id_col).alias("id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
        # the old `a.id < b.id` theta-join dropped null-id rows implicitly
        # (NULL comparison); keep that semantics explicit here
        .filter(F.col("id").isNotNull()), "id")
    c = c.withColumn("nrm", _norm(F.col("v")))
    sim = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)

    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    left = (c.withColumn("_p", blk)
            .withColumn("_q", F.explode(F.sequence(F.col("_p"),
                                                   F.lit(n_blocks - 1)))))
    right = (c.withColumn("_q", blk)
             .withColumn("_p", F.explode(F.sequence(F.lit(0), F.col("_q")))))
    j = left.alias("a").join(
        right.alias("b"),
        (F.col("a._p") == F.col("b._p")) & (F.col("a._q") == F.col("b._q")))
    # same-block pairs meet in both orders — keep one; cross-block pairs
    # meet exactly once, in either order (sim is symmetric: commutative
    # multiplies, same summation order)
    keep = F.when(F.col("a._p") == F.col("a._q"),
                  F.col("a.id") < F.col("b.id")).otherwise(F.lit(True))
    return (
        j.filter(keep)
        .select(F.least("a.id", "b.id").alias("id_a"),
                F.greatest("a.id", "b.id").alias("id_b"),
                sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def random_hyperplane_lsh_pairs(
    corpus: DataFrame, n_bits: int = 16, bands: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int = 64, seed: int = 42, max_bucket: int = 2000,
) -> DataFrame:
    """(id_a, id_b) candidate pairs whose cosine is likely high.

    Sign-bit signature under seeded random hyperplanes (generated
    driver-side with numpy, embedded as literals — no UDF), banded like
    MinHash-LSH. Follow with exact cosine on candidates.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bits, dim))
    v = F.col(vec_col).cast("array<double>")

    def _dlit(x: float) -> str:
        # repr roundtrips exactly; plain decimals need the D suffix so the
        # SQL parser yields DOUBLE (not DECIMAL), scientific notation is
        # already DOUBLE
        s = repr(float(x))
        return s if ("e" in s or "E" in s) else s + "D"

    bits = []
    for i in range(n_bits):
        # one parsed expression per plane instead of `dim` F.lit py4j
        # round-trips (n_bits·dim driver calls — pure build cost, guide
        # §1.2 step 2); the parsed tree matches the former F.array of lits
        lit_plane = F.expr(f"array({','.join(_dlit(x) for x in planes[i])})")
        bits.append(F.when(_dot(v, lit_plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig.bitwiseOR(b)
    s = corpus.select(F.col(id_col).alias("id"), sig.alias("sig"))
    bits_per_band = n_bits // bands
    mask = (1 << bits_per_band) - 1
    banded = s.select(
        "id",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("sig", i * bits_per_band).bitwiseAND(F.lit(mask))
            for i in range(bands)
        ])).alias("band_idx", "band_val"),
    )
    sized = banded.withColumn("_n", F.count("*").over(W.partitionBy("band_idx", "band_val")))
    # no-silent-caps: surface dropped-row stats on the normal action
    from cozo_spark.operators.dedup import _OBS_COUNTER

    _OBS_COUNTER[0] += 1
    sized = sized.observe(
        f"rhp_bucket_cap_{_OBS_COUNTER[0]}",
        F.sum((F.col("_n") > max_bucket).cast("long")).alias("dropped_rows"),
        F.max("_n").alias("max_bucket_size"))
    banded = sized.filter(F.col("_n") <= max_bucket).drop("_n")
    return (
        banded.alias("a").join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def pq_build(
    corpus: DataFrame, m: int = 4, k_codes: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding", seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization build: (codebook(s, cid, cvec), codes(vec_id,
    codes array<int> of length m)).

    The compressed-vector scale path HNSW cannot give a cluster: each
    vector collapses to m small codes (m*log2(k) bits vs 4*dim bytes), and
    query scoring becomes table lookups — the asymmetric-distance
    computation (ADC) of the PQ literature. Codebook = per-subspace slices
    of a deterministic md5-ordered sample (portable to any engine, same
    trick as ivf_build; k-means would refine centroids but breaks
    cross-engine reproducibility). Encoding is argmin L2 per subspace,
    fully JVM-side: k_codes distance expressions per subspace against
    literal centroid arrays, ties to the lowest cid.
    """
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).cast("array<double>").alias("v"))
    # orderBy+limit compiles to TakeOrderedAndProject — per-partition top-k
    # then a k_codes-row merge, NO single-partition window even at 100 TB.
    # Rank assignment happens driver-side on the k_codes collected rows.
    rows = (c.select(F.md5((F.col("vec_id") + F.lit(seed)).cast("string"))
                     .alias("_h"), "vec_id", "v")
            .orderBy("_h", "vec_id").limit(k_codes).collect())
    if len(rows) < k_codes:
        raise ValueError(
            f"corpus has only {len(rows)} vectors — need at least "
            f"k_codes={k_codes} to seed the PQ codebook")
    rows.sort(key=lambda r: (r["_h"], r["vec_id"]))
    dim = len(rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    # r12: spread before the encode below — the subspace explode +
    # broadcast join + argmin otherwise run in the ONE-task scan stage,
    # and vec_id hash partitioning satisfies BOTH encode groupBys
    # (vec_id, s) and (vec_id), so neither needs an exchange. No-op at
    # real scale. (The codebook sample above reads the unspread c: an
    # orderBy+limit needs no fan-out.)
    from cozo_spark.operators.dedup import _spread_small_input

    c = _spread_small_input(c, "vec_id")
    cb = {(s, i): list(r["v"][s * sub:(s + 1) * sub])
          for i, r in enumerate(rows) for s in range(m)}
    codebook = local_frame(
        c.sparkSession,
        [(s, cid, vec) for (s, cid), vec in sorted(cb.items())],
        "s int, cid int, cvec array<double>")

    # encode via broadcast join + argmin, NOT m*k inlined literal-array
    # distance expressions: the expression-tree variant compiled ~2 MB of
    # codegen per run (measured ~6 s at sf0.1, all plan/JIT overhead) —
    # the join form is a small constant plan and the better shape at any
    # corpus size (codebook broadcast, one (vec_id, s) argmin)
    subs = c.select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("s"),
                     F.slice("v", s * sub + 1, sub).alias("sv"))
            for s in range(m)])).alias("p")
    ).select("vec_id", "p.s", "p.sv")
    scored = (subs.join(F.broadcast(codebook), "s")
              .select("vec_id", "s", "cid",
                      l2_dist_col(F.col("sv"), F.col("cvec")).alias("d")))
    picked = (scored.groupBy("vec_id", "s")
              .agg(F.min_by("cid", F.struct("d", "cid")).alias("code")))
    codes = (picked.groupBy("vec_id")
             .agg(F.transform(
                 F.array_sort(F.collect_list(F.struct("s", "code"))),
                 lambda x: x["code"]).alias("codes")))
    return codebook, codes


def pq_ip_topk(
    queries: DataFrame, codebook: DataFrame, codes: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """(qid, vec_id, approx_ip): PQ asymmetric-distance top-k by inner
    product. Per query a lookup table ip(q_subvec, centroid) is computed
    once (|queries| * m * k_codes rows, broadcast); corpus scoring is a
    posexplode of the m codes + broadcast LUT join + one (qid, vec_id)
    sum. Lookup values are integerized (round(ip*1e9) as long) so the sum
    is order-independent and exactly reproducible cross-engine."""
    q = queries.select(F.col(id_col).alias("qid"),
                       F.col(vec_col).cast("array<double>").alias("qv"))
    sub = F.size("cvec")
    lut = (F.broadcast(q).crossJoin(F.broadcast(codebook))
           .select("qid", "s", "cid",
                   F.round(_dot(F.slice("qv", F.col("s") * sub + 1, sub),
                                F.col("cvec")) * 1e9).cast("long")
                   .alias("ip9")))
    exploded = codes.select("vec_id",
                            F.posexplode("codes").alias("s", "code"))
    scored = (
        exploded.join(F.broadcast(lut),
                      (exploded["s"] == lut["s"])
                      & (exploded["code"] == lut["cid"]))
        .filter(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("ip9").alias("ip9")))
    w = W.partitionBy("qid").orderBy(F.col("ip9").desc(), F.col("vec_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("qid", "vec_id",
                    F.round(F.col("ip9") / 1e9, 6).alias("approx_ip")))


# Above this k, per-centroid literal distance expressions stop being free:
# the plan grows O(k·dim) literal nodes and codegen/JIT cost dominates (the
# PQ encode rewrite measured a 3× slowdown from a ~2 MB literal plan —
# commit 9f799b6). The join path keeps the plan constant-size: broadcast
# the k centroids as ROWS and argmin via min(struct(d2, cid)).
KMEANS_LITERAL_MAX_K = 16


def _assign_join(df: DataFrame, cents: list) -> DataFrame:
    """Large-k assignment: broadcast-join the centroid table and take the
    per-vector argmin — one broadcast of k·dim longs and one groupBy on
    vec_id; plan size independent of k. Ties resolve to the lowest cid,
    identical to the literal path's `<=` scan order."""
    from pyspark.sql import types as T

    spark = df.sparkSession
    cents_df = local_frame(
        spark,
        [(i, [int(v) for v in c]) for i, c in enumerate(cents)],
        T.StructType([
            T.StructField("cid_", T.IntegerType(), False),
            T.StructField("c6", T.ArrayType(T.LongType(), False), False)]))
    d2 = F.aggregate(
        F.zip_with("x6", "c6", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda a, x: a + x)
    # argmin per physical ROW, not per vec_id: the literal path keeps one
    # output row per input row even when ids repeat, and the adaptive
    # switch must be plan-only — never semantics-changing
    tagged = df.withColumn("__rid", F.monotonically_increasing_id())
    scored = (tagged.crossJoin(F.broadcast(cents_df))
              .select("__rid", "vec_id", "x6", "cid_", d2.alias("d2")))
    best = (scored.groupBy("__rid")
            .agg(F.first("vec_id").alias("vec_id"),
                 F.first("x6").alias("x6"),
                 F.min(F.struct("d2", "cid_")).alias("m")))
    return best.select("vec_id", "x6", F.col("m.cid_").alias("cid"))


def kmeans_lloyd(
    corpus: DataFrame, k: int = 4, iters: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
    seed: int = 42, scale: int = 10 ** 6,
) -> tuple[list, DataFrame]:
    """Deterministic distributed k-means (Lloyd): returns (centroids as a
    python list of long-arrays, assignment DataFrame (vec_id, cid)).

    The classic Spark shape: assignment is a map-side argmin against k
    broadcast-literal centroids (k distance expressions, whole-stage
    codegen, no join), recompute is one explode + (cid, dim) groupBy —
    per iteration one shuffle over (k·dim) keys and one k-row collect.
    Above KMEANS_LITERAL_MAX_K the literal fan-out is replaced by a
    broadcast-join + min(struct) argmin (_assign_join) so plan/JIT cost
    stays bounded at large k — same adaptive switch the PQ encode uses.

    Everything is INTEGERIZED so any engine replays it bit-for-bit: input
    coords round to 1e6-scaled longs, distances are exact integer sums
    (dim·(2·scale)² bounded — fits int64 for dim ≤ ~1e4), new centroids
    round(sum/n) with exact integer sums. Ties: lowest cid. Empty
    clusters keep their previous centroid. Init = md5-ordered TakeOrdered
    sample (engine-portable, same trick as ivf/pq)."""
    x6 = F.transform(F.col(vec_col).cast("array<double>"),
                     lambda x: F.round(x * scale).cast("long"))
    c = corpus.select(F.col(id_col).alias("vec_id"), x6.alias("x6"))
    rows = (c.select(F.md5((F.col("vec_id") + F.lit(seed)).cast("string"))
                     .alias("_h"), "vec_id", "x6")
            .orderBy("_h", "vec_id").limit(k).collect())
    if len(rows) < k:
        raise ValueError(f"corpus has only {len(rows)} vectors — need at "
                         f"least k={k} to seed the centroids")
    rows.sort(key=lambda r: (r["_h"], r["vec_id"]))
    cents = [list(r["x6"]) for r in rows]
    dim = len(cents[0])

    def _assign(df):
        if len(cents) > KMEANS_LITERAL_MAX_K:
            return _assign_join(df, cents)
        dists = []
        for cid in range(len(cents)):
            # one parsed expression per centroid instead of dim F.lit py4j
            # round-trips (k·dim driver calls dominated the BUILD time of
            # the whole query at ~1ms each — guide §1.2 step 2); the parsed
            # tree is identical to the former F.aggregate(F.zip_with(...))
            arr = ",".join(f"{int(v)}L" for v in cents[cid])
            d2 = F.expr(
                f"aggregate(zip_with(x6, array({arr}), "
                f"(x, y) -> (x - y) * (x - y)), "
                f"CAST(0 AS BIGINT), (a, x) -> a + x)")
            dists.append(d2)
        least = F.least(*dists) if len(dists) > 1 else dists[0]
        cid_col = None
        for i in range(len(cents) - 1, -1, -1):
            hit = F.lit(i)
            cid_col = hit if cid_col is None else \
                F.when(dists[i] <= least, hit).otherwise(cid_col)
        return df.withColumn("cid", cid_col)

    for _ in range(iters):
        assigned = _assign(c)
        sums = (assigned.select("cid", F.posexplode("x6").alias("d", "v"))
                .groupBy("cid", "d")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")))
        got = sums.collect()

        def _half_away(x: float) -> int:
            # SQL ROUND semantics (half away from zero), NOT python's
            # banker's rounding — keeps the DuckDB replica bit-identical
            import math

            return int(math.floor(x + 0.5)) if x >= 0 \
                else -int(math.floor(-x + 0.5))

        acc: dict = {}
        for r in got:
            acc.setdefault(r["cid"], [0] * dim)[r["d"]] = \
                _half_away(r["s"] / r["n"])
        cents = [acc.get(cid, cents[cid]) for cid in range(len(cents))]
    return cents, _assign(c).select("vec_id", "cid")
