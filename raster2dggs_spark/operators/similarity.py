"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exactness baseline — a broadcast join of
  the (small) query set against all targets, dot products as native
  array expressions (zip_with/aggregate) in whole-stage codegen.
- IVF top-k: the scale path — vectors assigned to their nearest of K
  deterministic centroids; queries probe the P nearest centroid
  partitions only.  Candidate set shrinks ~K/P-fold; an equi-join on the
  centroid id replaces the cross join (same shape as the DGGS cell
  trick: geometry → equi-join key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raster2dggs_spark.operators.aggregates import top_k


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_topk(queries: DataFrame, targets: DataFrame, k: int,
                q_id: str = "q_id", t_id: str = "t_id",
                q_vec: str = "q_vec", t_vec: str = "t_vec",
                exclude_self: bool = True) -> DataFrame:
    """Exact cosine top-k of each query against all targets.

    Queries are broadcast (the query set is the small side); ties broken
    by target id."""
    from raster2dggs_spark.plans.layout import fan_out

    q = queries.select(
        F.col(q_id), _as_double(F.col(q_vec)).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    # a single-file embedding table scans as ONE partition, which would
    # run every |Q|x|T| dot product on one core (plans/layout.py; no-op
    # on already-parallel inputs)
    t = fan_out(targets.select(F.col(t_id), F.col(t_vec))).select(
        F.col(t_id), _as_double(F.col(t_vec)).alias("__tv")
    ).withColumn("__tn", _norm(F.col("__tv")))
    cand = t.crossJoin(F.broadcast(q))
    if exclude_self:
        cand = cand.where(F.col(q_id) != F.col(t_id))
    cos = (_dot(F.col("__qv"), F.col("__tv")) / (F.col("__qn") * F.col("__tn")))
    cand = cand.withColumn("cosine", cos).withColumn("__neg", -F.col("cosine"))
    out = top_k(cand, [q_id], "__neg", k, ascending=True, tiebreak=[t_id])
    return out.select(q_id, t_id, "cosine", "rank")


def ivf_assign(vectors: DataFrame, centroids: DataFrame,
               v_id: str = "vec_id", v_vec: str = "embedding",
               c_id: str = "c_id", c_vec: str = "c_vec") -> DataFrame:
    """Assign each vector to its nearest centroid (by cosine).  Centroids
    are broadcast; output (v_id, centroid) is the IVF partition key."""
    from raster2dggs_spark.plans.layout import fan_out

    v = fan_out(vectors.select(F.col(v_id), F.col(v_vec))).select(
        F.col(v_id), _as_double(F.col(v_vec)).alias("__v"))
    v = v.withColumn("__vn", _norm(F.col("__v")))
    c = centroids.select(F.col(c_id), _as_double(F.col(c_vec)).alias("__c"))
    c = c.withColumn("__cn", _norm(F.col("__c")))
    j = v.crossJoin(F.broadcast(c)).withColumn(
        "__cos", _dot(F.col("__v"), F.col("__c")) / (F.col("__vn") * F.col("__cn"))
    )
    best = top_k(j, [v_id], "__cos", 1, ascending=False, tiebreak=[c_id])
    return best.select(v_id, F.col(c_id).alias("centroid"), F.col("__cos").alias("c_cos"))


def ivf_topk(queries: DataFrame, targets: DataFrame, centroids: DataFrame,
             k: int, n_probe: int = 4,
             q_id: str = "q_id", t_id: str = "t_id",
             q_vec: str = "q_vec", t_vec: str = "t_vec") -> DataFrame:
    """Approximate top-k: probe the ``n_probe`` nearest centroid
    partitions per query; exact cosine within the probed subset."""
    t_assigned = ivf_assign(targets, centroids, t_id, t_vec).select(
        t_id, "centroid"
    ).join(targets.select(F.col(t_id), F.col(t_vec)), t_id)
    c = centroids
    q = queries.select(F.col(q_id), F.col(q_vec))
    qc = q.crossJoin(F.broadcast(c)).withColumn(
        "__cos",
        _dot(_as_double(F.col(q_vec)), _as_double(F.col("c_vec")))
        / (_norm(_as_double(F.col(q_vec))) * _norm(_as_double(F.col("c_vec")))),
    )
    probes = top_k(qc, [q_id], "__cos", n_probe, ascending=False,
                   tiebreak=["c_id"]).select(
        q_id, F.col("c_id").alias("centroid"), F.col(q_vec)
    )
    cand = probes.join(t_assigned, "centroid").where(F.col(q_id) != F.col(t_id))
    cos = (
        _dot(_as_double(F.col(q_vec)), _as_double(F.col(t_vec)))
        / (_norm(_as_double(F.col(q_vec))) * _norm(_as_double(F.col(t_vec))))
    )
    cand = cand.withColumn("cosine", cos).withColumn("__neg", -F.col("cosine"))
    out = top_k(cand, [q_id], "__neg", k, ascending=True, tiebreak=[t_id])
    return out.select(q_id, t_id, "cosine", "rank")


def train_centroids(vectors: DataFrame, k: int, iters: int = 5,
                    v_id: str = "vec_id", v_vec: str = "embedding",
                    round_dp: int | None = None) -> DataFrame:
    """Distributed Lloyd iterations for IVF centroids — the scale path's
    replacement for "first k vectors" seeding on real data.

    Deterministic seeding: the k vectors with the smallest md5(id) (a
    uniform pseudo-random draw reproducible in any engine).  Each
    iteration is one broadcast-assign (cross join vs k centroids, argmin
    by cosine) plus one groupBy mean over exploded dimensions — two
    narrow shuffles per iter, on the ``plans/loops.py`` superstep driver.
    Empty clusters keep their previous centroid.

    ``round_dp``: round centroid components to this many decimals after
    every iteration.  Makes the result bit-reproducible across engines
    and summation orders (Spark's partial/final avg vs a sequential
    replay differ in the last ulp; rounding each iteration's output
    stops the divergence from compounding) — negligible effect on
    cluster quality, used by the oracle-checked driver query."""
    from pyspark.sql import Window

    from raster2dggs_spark.plans.loops import fixpoint

    v = vectors.select(F.col(v_id), _as_double(F.col(v_vec)).alias("__v"))
    # stable 0..k-1 centroid ids regardless of partitioning
    cents = (
        v.withColumn("__h", F.md5(F.col(v_id).cast("string")))
        .orderBy("__h").limit(k)
        .select(
            (F.row_number().over(Window.orderBy("__h")) - 1).alias("c_id"),
            F.col("__v").alias("c_vec"),
        )
    )

    def lloyd(cents: DataFrame, _seen) -> DataFrame:
        j = v.crossJoin(F.broadcast(cents)).withColumn(
            "__cos",
            _dot(F.col("__v"), _as_double(F.col("c_vec")))
            / (_norm(F.col("__v")) * _norm(_as_double(F.col("c_vec")))),
        )
        best = top_k(j, [v_id], "__cos", 1, ascending=False, tiebreak=["c_id"])
        dims = best.select(
            "c_id", F.posexplode("__v").alias("pos", "x")
        ).groupBy("c_id", "pos").agg(F.avg("x").alias("m"))
        if round_dp is not None:
            dims = dims.withColumn("m", F.round("m", round_dp))
        new = dims.groupBy("c_id").agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ).alias("__p")
        ).select("c_id", F.col("__p.m").alias("c_vec"))
        # empty clusters: keep the previous centroid
        return cents.select("c_id", F.col("c_vec").alias("__old")).join(
            new, "c_id", "left"
        ).select(
            "c_id", F.coalesce(F.col("c_vec"), F.col("__old")).alias("c_vec")
        )

    # the driver materializes every iteration: without it the final plan
    # chains every crossJoin+window of every prior iteration — planning
    # time and recomputation grow ~linearly in iters
    return fixpoint(lloyd, cents, max_rounds=iters, name="train_centroids")


def hyperplane_near_dup(vectors: DataFrame, threshold: float = 0.9,
                        n_planes: int = 16, bands: int = 2,
                        v_id: str = "vec_id",
                        v_vec: str = "embedding",
                        max_bucket: int | None = 1000,
                        stats: dict | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at corpus scale: random-
    hyperplane LSH (SimHash for real vectors) bucketing + exact cosine
    verification.

    Hyperplane j is the deterministic ±1 vector with sign_ji = +1 iff
    the first hex digit of md5("j|i") is >= 8 — reproducible in any
    engine (md5 is the one hash DuckDB shares), so the WHOLE pipeline
    including the probabilistic candidate set is oracle-checkable.
    P(bit agreement) = 1 - θ/π per plane; near-dup pairs (θ small)
    collide in at least one of the ``bands`` b-bit bands w.h.p., and the
    self-join is per-bucket — never a cross join.  Returns
    (id_a, id_b, cosine) for verified pairs, id_a < id_b.

    ``max_bucket`` caps the per-bucket self-join and DEFAULTS ON (1000):
    the band key has only 2^(n_planes/bands) values (256 at the
    defaults), so at corpus scale an average bucket holds ~N/256 vectors
    and the self-join is O(N²/256) — quadratic with a constant, not
    bucketed growth.  Buckets above the cap are dropped BEFORE the join
    via groupBy-count → broadcast anti-join (the hot key is absorbed by
    partial aggregation map-side; a window count would single-task it —
    same rationale as minhash_lsh_pairs).  An over-cap bucket means the
    band key is saturated: raise ``n_planes`` (bkey cardinality doubles
    per extra bit per band) rather than the cap.  The SQL oracle twin
    applies the identical count filter, so capped output stays
    hash-checked.  ``None`` disables the cap (exact candidate set).

    Saturation is OBSERVABLE (round-4 ADVICE: dropped buckets lose true
    near-dups with no runtime signal): pass ``stats={}`` and it is
    filled with ``buckets_dropped`` / ``rows_dropped`` /
    ``max_bucket_size`` (the connected_components convention) at the
    cost of one extra bounded aggregation job over the bucket table.
    ``buckets_dropped > 0`` means raise ``n_planes``, not the cap."""
    bits = n_planes // bands
    v = vectors.select(F.col(v_id), _as_double(F.col(v_vec)).alias("__v"))
    d = v.select(v_id, F.posexplode("__v").alias("pos", "x"))
    planes = vectors.sparkSession.range(n_planes).select(
        F.col("id").alias("__j")
    )
    sign = F.when(
        F.expr("instr('89abcdef', substr(md5(concat(__j, '|', pos)), 1, 1))")
        > 0, F.lit(1.0)
    ).otherwise(F.lit(-1.0))
    proj = (
        d.join(F.broadcast(planes))
        .groupBy(v_id, "__j")
        .agg(F.sum(F.col("x") * sign).alias("__p"))
    )
    sig = proj.groupBy(v_id).agg(
        F.sum(
            F.when(F.col("__p") > 0,
                   F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__j AS INT))"))
            .otherwise(0)
        ).alias("__sig")
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("__sig"), b * bits)
            .bitwiseAND(F.lit((1 << bits) - 1)).alias("bkey"),
        )
        for b in range(bands)
    ]
    buckets = sig.select(
        F.col(v_id), F.explode(F.array(*band_cols)).alias("bb")
    ).select(v_id, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    if max_bucket is not None:
        sizes = buckets.groupBy("band", "bkey").agg(
            F.count(F.lit(1)).alias("__n"))
        if stats is not None:
            row = sizes.agg(
                F.sum(F.when(F.col("__n") > max_bucket, 1).otherwise(0))
                .alias("dropped"),
                F.sum(F.when(F.col("__n") > max_bucket, F.col("__n"))
                      .otherwise(0)).alias("rows"),
                F.max("__n").alias("mx"),
            ).first()
            stats["buckets_dropped"] = int(row["dropped"] or 0)
            stats["rows_dropped"] = int(row["rows"] or 0)
            stats["max_bucket_size"] = int(row["mx"] or 0)
        hot = sizes.where(F.col("__n") > max_bucket).select("band", "bkey")
        buckets = buckets.join(F.broadcast(hot), ["band", "bkey"], "left_anti")
    elif stats is not None:
        stats["buckets_dropped"] = 0
        stats["rows_dropped"] = 0
        stats["max_bucket_size"] = -1  # uncapped: sizes not computed
    a = buckets.alias("a")
    b_ = buckets.alias("b")
    cand = (
        a.join(b_, ["band", "bkey"])
        .where(F.col(f"a.{v_id}") < F.col(f"b.{v_id}"))
        .select(F.col(f"a.{v_id}").alias("id_a"),
                F.col(f"b.{v_id}").alias("id_b"))
        .distinct()
    )
    va = v.select(F.col(v_id).alias("id_a"), F.col("__v").alias("__va"))
    vb = v.select(F.col(v_id).alias("id_b"), F.col("__v").alias("__vb"))
    out = cand.join(va, "id_a").join(vb, "id_b").withColumn(
        "cosine",
        _dot(F.col("__va"), F.col("__vb"))
        / (_norm(F.col("__va")) * _norm(F.col("__vb"))),
    )
    return out.where(F.col("cosine") >= threshold).select(
        "id_a", "id_b", "cosine"
    )


def pq_codebooks(spark, dim: int, m: int = 8, k: int = 16):
    """Deterministic data-independent PQ codebooks: (sub, code, pos, c)
    rows with c = md5-derived uniform in [-1, 1] (the hyperplane trick —
    md5 is the one hash DuckDB shares, so the WHOLE quantizer is
    oracle-checkable).  ``pq_train_codebooks`` returns the same schema
    from per-subspace k-means when recall matters more than
    cross-engine determinism."""
    if dim % m:
        raise ValueError("dim must divide into m subspaces")
    sub_dim = dim // m
    n = m * k * sub_dim
    return spark.range(n).select(
        F.expr(f"id div {k * sub_dim}").alias("sub"),
        F.expr(f"id div {sub_dim} % {k}").alias("code"),
        F.col("id").alias("__rowid"),
    ).select(
        "sub", "code",
        (F.col("sub") * sub_dim + F.col("__rowid") % sub_dim).alias("pos"),
        (
            F.conv(
                F.expr("substr(md5(concat(sub, '|', code, '|', "
                       f"__rowid % {sub_dim})), 1, 8)"),
                16, 10,
            ).cast("double") / F.lit(float(1 << 32)) * 2.0 - 1.0
        ).alias("c"),
    )


def pq_encode(vectors: DataFrame, dim: int, m: int = 8, k: int = 16,
              v_id: str = "vec_id", v_vec: str = "embedding",
              codebooks: DataFrame | None = None,
              vectorized: bool | None = None) -> DataFrame:
    """Product quantization: each vector's m subvectors are assigned
    their nearest codebook entry → (v_id, sub, code, dist) exploded
    codes — a dim·32/m·⌈log2 k⌉-fold compression of the embedding
    column (64 floats → 8 nibbles at the defaults), the memory lever
    IVF alone lacks at corpus scale.

    Plan: one explode + a BROADCAST join against the (m·k·dim/m)-row
    codebook (genuinely tiny and constant-sized — unlike a vocabulary,
    it cannot grow with the corpus) + one map-side-combinable aggregate
    + an argmin window over m·k rows per vector.  Distances round to
    6dp before the argmin (ties by code) so the assignment is
    bit-stable across engines and summation orders.

    ``vectorized`` (auto when dim·k > 4096): the relational explode is
    O(N·dim·k) rows — transparent to the oracle but wasteful at
    production dims (768·256 = 200k rows/vector).  The vectorized path
    computes the same distances as one batched einsum inside an Arrow
    UDF and emits only the (v_id, sub, code, dist) argmin rows; the
    6dp-round-then-argmin contract makes the two paths BIT-IDENTICAL
    (pytest-pinned), so the oracle checks the relational path and
    production runs the fast one."""
    from raster2dggs_spark.operators.aggregates import top_k

    cb = codebooks if codebooks is not None else pq_codebooks(
        vectors.sparkSession, dim, m, k)
    if vectorized is None:
        vectorized = dim * k > 4096
    from raster2dggs_spark.plans.layout import fan_out

    # widen a single-file vector scan before the O(N·dim·k) explode /
    # einsum (plans/layout.py; no-op on already-parallel inputs)
    vectors = fan_out(vectors.select(F.col(v_id), F.col(v_vec)), v_id)
    if vectorized:
        return _pq_encode_vectorized(vectors, cb, dim, m, k, v_id, v_vec)
    d = vectors.select(
        F.col(v_id), F.posexplode(_as_double(F.col(v_vec))).alias("pos", "x")
    )
    j = d.join(F.broadcast(cb), "pos")
    dist = j.groupBy(v_id, "sub", "code").agg(
        F.round(F.sum((F.col("x") - F.col("c")) ** 2), 6).alias("dist")
    )
    best = top_k(dist, [v_id, "sub"], "dist", 1, ascending=True,
                 tiebreak=["code"])
    return best.select(v_id, "sub", "code", "dist")


def _pq_encode_vectorized(vectors: DataFrame, cb: DataFrame, dim: int,
                          m: int, k: int, v_id: str, v_vec: str) -> DataFrame:
    """Arrow fast path of pq_encode: same 6dp-round-then-argmin
    semantics, O(N·m) output rows, distances via batched NumPy."""
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cpdf = cb.toPandas().sort_values(["sub", "code", "pos"])
    sub_dim = dim // m
    # (m, k, sub_dim) codeword tensor
    C = np.zeros((m, k, sub_dim), dtype=np.float64)
    C[cpdf["sub"].values, cpdf["code"].values,
      cpdf["pos"].values % sub_dim] = cpdf["c"].values
    id_field = vectors.schema[v_id].dataType
    schema = T.StructType([
        T.StructField(v_id, id_field, False),
        T.StructField("sub", T.LongType(), False),
        T.StructField("code", T.LongType(), False),
        T.StructField("dist", T.DoubleType(), False),
    ])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[v_vec].map(np.asarray).values).astype(np.float64)
            Xs = X.reshape(len(pdf), m, sub_dim)
            # (n, m, k) squared distances, rounded BEFORE argmin — the
            # relational path's engine-stability contract
            d = np.round(
                ((Xs[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3), 6
            )
            code = d.argmin(axis=2)  # ties: lowest code (argmin rule)
            n = len(pdf)
            yield pd.DataFrame({
                v_id: np.repeat(pdf[v_id].values, m),
                "sub": np.tile(np.arange(m, dtype=np.int64), n),
                "code": code.reshape(-1),
                "dist": np.take_along_axis(
                    d, code[:, :, None], axis=2).reshape(-1),
            })

    return vectors.select(v_id, v_vec).mapInPandas(fn, schema)


def pq_topk(queries: DataFrame, codes: DataFrame, dim: int, m: int = 8,
            k: int = 16, topn: int = 5,
            q_id: str = "q_id", q_vec: str = "q_vec", t_id: str = "vec_id",
            codebooks: DataFrame | None = None,
            exclude_self: bool = True) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, an
    m·k distance table (exact query-to-codeword distances); a target's
    approximate distance is the sum of its m table entries — targets
    are scanned as CODES (the compressed form), never as raw vectors.

    Plan: the per-query table (|Q|·m·k rows) joins onto the codes —
    broadcast only under the bounded size probe (the table GROWS with
    |Q|; a forced hint is the round-3 OOM class), shuffled equi-join
    above it; one groupBy (q, t) sums m rows; top-k with total
    tie-break.  6dp rounding keeps both the table and the totals
    engine-stable."""
    from raster2dggs_spark.operators.aggregates import top_k
    from raster2dggs_spark.operators.joins import _gate_broadcast

    cb = codebooks if codebooks is not None else pq_codebooks(
        queries.sparkSession, dim, m, k)
    qd = queries.select(
        F.col(q_id), F.posexplode(_as_double(F.col(q_vec))).alias("pos", "x")
    )
    qtab = (
        qd.join(F.broadcast(cb), "pos")
        .groupBy(q_id, "sub", "code")
        .agg(F.round(F.sum((F.col("x") - F.col("c")) ** 2), 6).alias("qd"))
    )
    cand = codes.join(_gate_broadcast(qtab, 2_000_000), ["sub", "code"])
    if exclude_self:
        cand = cand.where(F.col(q_id) != F.col(t_id))
    tot = cand.groupBy(q_id, t_id).agg(
        F.round(F.sum("qd"), 6).alias("adist"),
        F.count(F.lit(1)).alias("__m"),
    ).where(F.col("__m") == m)  # all subspaces matched
    out = top_k(tot, [q_id], "adist", topn, ascending=True, tiebreak=[t_id])
    return out.select(q_id, t_id, "adist", "rank")


def pq_train_codebooks(vectors: DataFrame, dim: int, m: int = 8,
                       k: int = 16, iters: int = 3,
                       v_id: str = "vec_id", v_vec: str = "embedding",
                       round_dp: int | None = 6) -> DataFrame:
    """Per-subspace Lloyd training of PQ codebooks (classic PQ): slice
    every vector into its m subvectors and run the same distributed
    k-means as ``train_centroids`` over ALL subspaces at once (subspace
    rides in the grouping key — one job, not m).  Returns the
    ``pq_codebooks`` schema, so it drops into pq_encode/pq_topk."""
    from pyspark.sql import Window

    from raster2dggs_spark.plans.loops import fixpoint

    sub_dim = dim // m
    sv = vectors.select(
        F.col(v_id), F.posexplode(_as_double(F.col(v_vec))).alias("pos", "x")
    ).select(
        F.col(v_id), (F.col("pos") % sub_dim).alias("p"),
        F.expr(f"pos div {sub_dim}").alias("sub"), "x",
    )
    # seed: per subspace, the k subvectors with smallest md5(id)
    seed_rank = F.row_number().over(
        Window.partitionBy("sub").orderBy(F.md5(F.col(v_id).cast("string")),
                                          F.col(v_id))
    )
    seeds = (
        sv.select(v_id, "sub").distinct()
        .withColumn("__r", seed_rank).where(F.col("__r") <= k)
        .select(v_id, "sub", (F.col("__r") - 1).alias("code"))
    )
    cents = (
        seeds.join(sv, [v_id, "sub"])
        .select("sub", "code", F.col("p"), F.col("x").alias("c"))
    )

    def lloyd(cents: DataFrame, _seen) -> DataFrame:
        j = sv.join(F.broadcast(cents), ["sub", "p"])
        dist = j.groupBy(v_id, "sub", "code").agg(
            F.round(F.sum((F.col("x") - F.col("c")) ** 2), 6).alias("d")
        )
        best = top_k(dist, [v_id, "sub"], "d", 1, ascending=True,
                     tiebreak=["code"]).select(v_id, "sub", "code")
        new = (
            best.join(sv, [v_id, "sub"])
            .groupBy("sub", "code", "p")
            .agg(F.avg("x").alias("c"))
        )
        if round_dp is not None:
            new = new.withColumn("c", F.round("c", round_dp))
        # empty codes keep their previous centroid
        return cents.select("sub", "code", "p", F.col("c").alias("__old")) \
            .join(new, ["sub", "code", "p"], "left") \
            .select("sub", "code", "p",
                    F.coalesce("c", "__old").alias("c"))

    cents = fixpoint(lloyd, cents, max_rounds=iters,
                     name="pq_train_codebooks")
    return cents.select(
        "sub", "code", (F.col("sub") * sub_dim + F.col("p")).alias("pos"), "c"
    )


def ivfpq_topk(queries: DataFrame, targets: DataFrame, centroids: DataFrame,
               dim: int, m: int = 8, k: int = 16, topn: int = 5,
               n_probe: int = 4,
               q_id: str = "q_id", t_id: str = "vec_id",
               q_vec: str = "q_vec", t_vec: str = "embedding",
               codebooks: DataFrame | None = None) -> DataFrame:
    """IVF-PQ — the canonical web-scale ANN composition: coarse IVF
    routing prunes the candidate set to ``n_probe`` centroid buckets,
    then ADC ranks the candidates from their PQ CODES (the compressed
    form; raw target vectors are touched only once, at encode time).

    Plan: both stages are equi-joins on small broadcast sides (the
    centroid table; the per-query distance tables) — candidates shrink
    ~K/n_probe-fold before the ADC scan, and the scan reads
    m·log2(k)-bit codes instead of dim·32-bit floats.  Recall is
    bounded by the IVF routing (as with plain ivf_topk)."""
    from raster2dggs_spark.operators.aggregates import top_k

    cb = codebooks if codebooks is not None else pq_codebooks(
        queries.sparkSession, dim, m, k)
    assigned = ivf_assign(targets, centroids, t_id, t_vec).select(
        t_id, "centroid")
    codes = pq_encode(targets, dim, m, k, v_id=t_id, v_vec=t_vec,
                      codebooks=cb).join(assigned, t_id)
    q = queries.select(F.col(q_id), F.col(q_vec))
    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "__cos",
        _dot(_as_double(F.col(q_vec)), _as_double(F.col("c_vec")))
        / (_norm(_as_double(F.col(q_vec))) * _norm(_as_double(F.col("c_vec")))),
    )
    probes = top_k(qc, [q_id], "__cos", n_probe, ascending=False,
                   tiebreak=["c_id"]).select(
        q_id, F.col("c_id").alias("centroid"))
    # candidate codes: only targets in the probed buckets
    cand_codes = codes.join(probes, "centroid").select(
        t_id, "sub", "code", q_id)
    qd = q.select(
        F.col(q_id), F.posexplode(_as_double(F.col(q_vec))).alias("pos", "x")
    )
    qtab = (
        qd.join(F.broadcast(cb), "pos")
        .groupBy(q_id, "sub", "code")
        .agg(F.round(F.sum((F.col("x") - F.col("c")) ** 2), 6).alias("qd"))
    )
    from raster2dggs_spark.operators.joins import _gate_broadcast

    cand = cand_codes.join(_gate_broadcast(qtab, 2_000_000),
                           [q_id, "sub", "code"]) \
        .where(F.col(q_id) != F.col(t_id))
    tot = cand.groupBy(q_id, t_id).agg(
        F.round(F.sum("qd"), 6).alias("adist"),
        F.count(F.lit(1)).alias("__m"),
    ).where(F.col("__m") == m)
    out = top_k(tot, [q_id], "adist", topn, ascending=True, tiebreak=[t_id])
    return out.select(q_id, t_id, "adist", "rank")


def ivfpq_rerank_topk(queries: DataFrame, targets: DataFrame,
                      centroids: DataFrame, dim: int, m: int = 8,
                      k: int = 16, topn: int = 5, n_probe: int = 4,
                      topn_coarse: int | None = None,
                      q_id: str = "q_id", t_id: str = "vec_id",
                      q_vec: str = "q_vec", t_vec: str = "embedding",
                      codebooks: DataFrame | None = None) -> DataFrame:
    """IVF-PQ with EXACT re-ranking — the production ANN recipe: ADC
    over compressed codes produces a cheap coarse candidate order; the
    per-query top ``topn_coarse`` (default 4·topn) candidates — and
    ONLY those — fetch their raw vectors once for an exact-cosine
    re-rank.  Recovers most of the PQ quantization loss while reading
    ``topn_coarse`` full vectors per query instead of the corpus.

    Scale shape: the coarse stage inherits ivfpq_topk's broadcast
    equi-joins; the re-rank is one equi-join of the (queries × coarse)
    candidate list against the target table on the id key — Catalyst
    broadcasts the candidate side whenever the query set is small, and
    at any size it stays a key join, never a cross join."""
    from raster2dggs_spark.operators.aggregates import top_k

    nc = topn_coarse if topn_coarse is not None else 4 * topn
    coarse = ivfpq_topk(queries, targets, centroids, dim, m, k,
                        topn=nc, n_probe=n_probe, q_id=q_id, t_id=t_id,
                        q_vec=q_vec, t_vec=t_vec, codebooks=codebooks)
    t = targets.select(F.col(t_id),
                       _as_double(F.col(t_vec)).alias("__tv"))
    q = queries.select(F.col(q_id),
                       _as_double(F.col(q_vec)).alias("__qv"))
    cand = (coarse.select(q_id, t_id)
            .join(t, t_id).join(F.broadcast(q), q_id))
    cos = F.round(
        _dot(F.col("__qv"), F.col("__tv"))
        / (_norm(F.col("__qv")) * _norm(F.col("__tv"))), 6)
    cand = cand.withColumn("cosine", cos).withColumn(
        "__neg", -F.col("cosine"))
    out = top_k(cand, [q_id], "__neg", topn, ascending=True,
                tiebreak=[t_id])
    return out.select(q_id, t_id, "cosine", "rank")


def knn_recall(reference: DataFrame, candidate: DataFrame,
               query_col: str = "q_id",
               item_col: str = "t_id") -> DataFrame:
    """ANN index quality evaluation — per-query recall of a candidate
    top-k result set against the exact reference set (the recall@k
    curve every vector-index deployment is tuned by; the relational
    twin of faiss's eval harness).

    Per query: ``recall = |reference ∩ candidate| / |reference|``
    over the (query, item) pair sets (ranks ignored — set recall).
    Queries absent from ``candidate`` score 0; queries absent from
    ``reference`` are not scored.

    Scale shape: two distincts, one pair equi-join, two map-side
    counts, one left join — no collect, no windows; cost follows the
    result-set sizes (k · queries), never the corpus.
    """
    r = reference.select(F.col(query_col), F.col(item_col)).distinct()
    c = candidate.select(F.col(query_col), F.col(item_col)).distinct()
    nref = r.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_ref"))
    hit = (r.join(c, [query_col, item_col])
           .groupBy(query_col).agg(F.count(F.lit(1)).alias("n_hit")))
    return (nref.join(hit, query_col, "left")
            .select(query_col,
                    F.col("n_ref").cast("long").alias("n_ref"),
                    F.coalesce(F.col("n_hit"), F.lit(0))
                    .cast("long").alias("n_hit"),
                    F.round(F.coalesce(F.col("n_hit"), F.lit(0))
                            / F.col("n_ref"), 6).alias("recall")))
