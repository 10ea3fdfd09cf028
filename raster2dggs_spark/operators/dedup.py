"""Deduplication operators for large-scale training-data pipelines.

All hot paths are native Spark expressions (tokenize/explode/groupBy/
join) so Catalyst plans them; hashing uses md5 (identical bytes in Spark
and DuckDB → every stage below is oracle-checkable).

- exact_dedup: hash-groupBy (content hash → canonical id per group)
- minhash_lsh: shingle → md5-minhash signature → banded LSH buckets →
  candidate pairs (the standard near-dup pipeline at corpus scale; the
  signature join is an equi-join Spark shuffles once)
- ngram_jaccard_pairs: exact n-gram Jaccard via shingle self-join
  (verification stage for LSH candidates, or exact small-scale dedup)
- simhash: 32-bit sign-of-sums fingerprint over word hashes
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9]+"


def tokens_expr(text_col: str):
    """lower → alnum tokens. Same expression exists in DuckDB
    (regexp_extract_all) so oracles tokenize identically."""
    return F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_RE}', 0)")


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups: md5(text) → (id, canonical_id, group_size).

    canonical = min id per hash group; single shuffle on the hash."""
    h = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5"))
    g = h.groupBy("content_md5").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return h.join(g, "content_md5").select(
        id_col, "canonical_id", "group_size", "content_md5"
    )


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 1,
                  distinct: bool = True) -> DataFrame:
    """(id, shingle) distinct rows; n-word shingles (n=1 → word set).

    ``distinct=False`` skips the dedupe exchange for consumers whose
    downstream fold is idempotent over duplicates (min/max)."""
    toks = df.select(F.col(id_col), tokens_expr(text_col).alias("toks"))
    if n == 1:
        sh = toks.select(id_col, F.explode("toks").alias("shingle"))
    else:
        # n-gram shingles via native slice over an index sequence
        sh = toks.where(F.size("toks") >= n).select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
                )
            ).alias("shingle"),
        )
    return sh.distinct() if distinct else sh


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n_hashes: int = 16, shingle_n: int = 1) -> DataFrame:
    """MinHash signature per doc: for seed i, min(md5(i || '|' || shingle)).

    md5-as-hash keeps every value reproducible in the SQL oracle (string
    min over hex digests ≡ min over the 128-bit integers)."""
    from raster2dggs_spark.plans.layout import fan_out

    # a single-file corpus scans as ONE partition, which would run the
    # heavy shingle-explode + n_hashes-way md5 map stage on one core;
    # fan_out widens it to session parallelism KEYED BY id so the
    # groupBy below reuses the exchange (no-op on already-parallel
    # inputs — plans/layout.py)
    df = fan_out(df.select(F.col(id_col), F.col(text_col)), id_col)
    # duplicate shingles are harmless under min (idempotent fold), so
    # the per-doc dedupe exchange is skipped — one shuffle, not two;
    # map-side partial aggregation absorbs the duplicate rows
    sh = word_shingles(df, id_col, text_col, shingle_n, distinct=False)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      n_hashes: int = 16, bands: int = 4,
                      shingle_n: int = 1,
                      max_bucket: int | None = 1000) -> DataFrame:
    """LSH candidate pairs: signatures split into ``bands`` bands of
    ``n_hashes/bands`` rows; docs sharing any band bucket are candidates.
    Returns distinct (id_a, id_b), id_a < id_b.

    Plan: one shuffle for signatures, one for the bucket self-join —
    never a cross join.  ``max_bucket`` caps the self-join's quadratic
    blow-up at scale and DEFAULTS ON (1000): a bucket of B docs yields B²
    pairs, and giant buckets signal boilerplate that exact-dedup or a
    finer shingle handles better, so buckets with more than N members are
    skipped.  The SQL oracle twin's count-over-(band,bkey) filter keeps
    identical semantics, so the capped output stays hash-checked.
    ``None`` disables the cap (exact candidate set).

    The cap is enforced as groupBy-count → broadcast anti-join, NOT a
    window count: Window.partitionBy(band,bkey) would shuffle every row
    of a hot bucket onto one task before dropping it — the exact stall
    the cap exists to prevent — while groupBy's partial aggregation
    absorbs the hot key map-side and the over-cap key set (tiny by
    construction) broadcasts."""
    rows = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_n)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("#", *parts)).alias("bkey"))
        )
    buckets = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    # materialize the slim bucket rows ONCE: the signature pipeline
    # behind them is two shuffles deep (shingle distinct + 16-way md5
    # min agg) and is otherwise re-evaluated for the hot-key count AND
    # both sides of the self-join — three times (guide §1.2/§5:
    # cut recomputation of an expensive shared subtree)
    buckets = buckets.localCheckpoint(eager=True)
    if max_bucket is not None:
        hot = (
            buckets.groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_bucket)
            .select("band", "bkey")
        )
        buckets = buckets.join(F.broadcast(hot), ["band", "bkey"], "left_anti")
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(b, ["band", "bkey"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 1, threshold: float = 0.5,
                        max_df: int | None = 100_000) -> DataFrame:
    """Jaccard over DF-capped n-gram shingle sets for all pairs sharing
    at least one shingle: |A∩B| / (|A|+|B|−|A∩B|) >= threshold.

    The shingle self-join only materializes co-occurring pairs (inverted-
    index join), not the quadratic cross product.  ``max_df`` (defaults
    ON) drops shingles whose document frequency exceeds the cap BEFORE
    both the sizes and the self-join — a ubiquitous shingle ("the" at
    n=1) co-occurs in ~every doc and alone produces ~N²/2 intermediate
    join rows at corpus scale.  The cap is part of the operator's defined
    semantics (sets are the DF-filtered shingle sets) so the SQL oracle
    twin applies the identical filter and the result stays hash-checked.
    ``None`` disables the cap.

    Enforced as groupBy-count → broadcast anti-join (not a window count,
    which would single-task the hot shingle it exists to defang — see
    minhash_lsh_pairs)."""
    sh = word_shingles(df, id_col, text_col, n)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint: word hash = first 8 hex chars of md5 (32-bit);
    bit b of the fingerprint = sign of Σ_words (±1 per bit).  The 32
    per-bit sums are generated as native expressions (and identically in
    the SQL oracle)."""
    w = word_shingles(df, id_col, text_col, 1)
    hv = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
    w = w.withColumn("hv", hv)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    g = w.groupBy(id_col).agg(*bit_sums)
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(0)
    return g.select(id_col, fp.alias("simhash"))


def connected_components(pairs: DataFrame, a_col: str = "id_a",
                         b_col: str = "id_b",
                         max_iters: int = 25,
                         stats: dict | None = None,
                         jump_broadcast_rows: int = 4_000_000) -> DataFrame:
    """Transitive closure of a near-dup pair list: every vertex gets the
    MIN vertex id of its connected component (the fuzzy-dedup cluster
    key — pairwise candidates alone under-merge A~B~C chains).

    Hash-to-min label propagation WITH pointer jumping: each round every
    vertex takes the min label among itself and its neighbours, then
    follows its label's label (path shortcut).  The shortcut halves
    label-chain depth each round, so convergence is O(log diameter)
    rounds — a plain neighbour-min walk would need O(diameter) rounds
    (a 50-node chain = 50 rounds).  Each round is one exchange plus the
    pointer-jump lookup.  The rounds run on the ``plans/loops.py``
    driver: termination is the changed-label count, observed on the
    round's checkpoint, and the driver RAISES if the fixpoint is not
    reached in ``max_iters`` rounds (returning unconverged labels would
    silently under-merge).

    Returns (vertex, component).  Works on any undirected pair list —
    minhash_lsh_pairs, ngram_jaccard_pairs, hyperplane_near_dup.

    ``stats``: pass a dict to receive {"rounds": n} — the number of
    propagation rounds actually run, the final no-change round included
    (bench evidence for the O(log diameter) claim: a 1000-diameter chain
    must converge in ~log₂(1000) ≈ 10-12 rounds, not 1000)."""
    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    # hash-partition the persisted edge list by the join key: the
    # per-round edges-join-labels exchange is then satisfied by the
    # cached layout and Catalyst plans no edge shuffle in ANY round
    # (guide §2.4 — share one exchange across keyed operations).  No
    # edge dedupe: min-propagation is idempotent over duplicate edges,
    # so the distinct() exchange bought nothing per round it saved.
    from raster2dggs_spark.plans.loops import fixpoint

    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).repartition(F.col("src")).persist()
    nv_obs = Observation()
    init = (edges.select(F.col("src").alias("vertex")).distinct()
            .withColumn("label", F.col("vertex"))
            # vertex count rides the init checkpoint — gates the
            # pointer-jump broadcast below (no separate count job)
            .observe(nv_obs, F.count(F.lit(1)).alias("n")))

    def step(lab: DataFrame, _changed) -> DataFrame:
        # neighbour-min, own-label carry and the least() fold in ONE
        # aggregation: every vertex receives its neighbours' labels
        # (via the pre-partitioned edge join) plus its OWN label as a
        # flagged self-message; min over the union IS
        # least(own, nbr_min), and the self row's label doubles as
        # __old for the termination probe.  This replaces the previous
        # join -> groupBy -> left-join chain (3 exchanges per round)
        # with a single exchange (guide §2.4).  Checkpointed BEFORE
        # the pointer-jump self-join so the message subtree is not
        # evaluated twice per round (guide §1.2).
        msgs = edges.join(lab, edges.src == lab.vertex).select(
            F.col("dst").alias("vertex"), "label",
            F.lit(False).alias("__self"))
        own = lab.select("vertex", "label", F.lit(True).alias("__self"))
        l1 = (
            msgs.unionByName(own)
            .groupBy("vertex")
            .agg(F.min("label").alias("label"),
                 F.max(F.when(F.col("__self"), F.col("label")))
                 .alias("__old"))
        ).localCheckpoint(eager=True)
        # pointer jumping: label <- label(label); labels only decrease,
        # so the mapping lookup is always <= the current label.  The
        # mapping side is one slim (label, ptr) row per vertex — below
        # ``jump_broadcast_rows`` it broadcasts (the jump then adds ZERO
        # exchanges to the round); above the gate the shuffle join
        # plans as before with a single jump, so the 100-TB shape is
        # unchanged.  In broadcast mode ONE mapping m (built from l1)
        # is applied THREE times: function composition is associative,
        # so m(m(m(m(v)))) equals the former rebuild-twice round
        # (m² then m²∘m²) label-for-label, but the plan reuses a single
        # broadcast exchange — one driver-synced broadcast build per
        # round instead of two (round 8; ~0.15 s/round on the bench
        # graph), quartering label-chain depth per round as before.
        bcast = int(nv_obs.get["n"]) <= jump_broadcast_rows
        ptr = l1.select(F.col("vertex").alias("label"),
                        F.col("label").alias("__ptr"))
        if bcast:
            ptr = F.broadcast(ptr)
        cur = l1
        for _ in range(3 if bcast else 1):
            cur = (
                cur.join(ptr, "label", "left")
                .select(
                    "vertex", "__old",
                    F.coalesce("__ptr", "label").alias("label"),
                )
            )
        return cur

    try:
        # the old label travels with the row, so the changed count needs
        # no (vertex) join; the driver's persist-then-checkpoint rounds
        # keep the double pointer-jump self-join from compounding the
        # carried size estimate (plans/loops.py)
        lab = fixpoint(step, init, max_rounds=max_iters,
                       name="connected_components", stats=stats,
                       probe=F.sum((F.col("label") != F.col("__old"))
                                   .cast("long")))
    finally:
        edges.unpersist()
    return lab.select("vertex", F.col("label").alias("component"))


def dedup_clusters(df: DataFrame, id_col: str, text_col: str,
                   n_hashes: int = 16, bands: int = 4,
                   shingle_n: int = 1,
                   max_bucket: int | None = 1000) -> DataFrame:
    """End-to-end fuzzy dedup: LSH candidate pairs → connected
    components → per-doc (id, component, component_size, is_canonical).
    Canonical = the min id of the component (deterministic); singleton
    docs (no near-dup) are their own canonical."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, n_hashes, bands,
                              shingle_n, max_bucket)
    comp = connected_components(pairs)
    out = (
        df.select(F.col(id_col))
        .join(comp, df[id_col] == comp.vertex, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("component"),
        )
    )
    sizes = out.groupBy("component").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return out.join(sizes, "component").select(
        id_col, "component", "component_size",
        (F.col(id_col) == F.col("component")).alias("is_canonical"),
    )


def phash_near_dup(df: DataFrame, id_col: str = "image_id",
                   phash_col: str = "phash", max_hamming: int = 3,
                   n_bands: int | None = None, nbits: int = 64,
                   max_bucket: int | None = 100_000) -> DataFrame:
    """Perceptual-hash near-duplicate edges over an image table — the
    multimodal twin of minhash_lsh_pairs (the reference carries a phash
    column per image; near-identical frames/crops share most bits).

    Returns (id_a, id_b, hamming) edges sufficient for connected-
    components clustering:
    - one exact edge canonical→member per group of IDENTICAL hashes
      (linear, never the quadratic all-pairs of a duplicate class — the
      web-scale killer for common thumbnails);
    - near edges BETWEEN canonical ids of distinct hash values whose
      Hamming distance ≤ ``max_hamming``, found by pigeonhole banding:
      the hash splits into ``n_bands`` disjoint bit bands (default
      max_hamming+1, the smallest count with guaranteed recall: d < n
      differing bits cannot touch every band), equal-band bucket join,
      then exact popcount filter.  All native Column arithmetic
      (shift/mask/xor/bit_count) — no UDF, and bit-identically
      replayable in the DuckDB oracle.

    ``max_bucket`` caps adversarial band-bucket blow-up with the repo's
    groupBy-count + broadcast anti-join idiom (hot buckets here mean a
    degenerate hash, e.g. all-zero phashes from blank images)."""
    if n_bands is None:
        n_bands = max_hamming + 1
    width = nbits // n_bands  # last band absorbs the remainder bits

    canon = df.groupBy(phash_col).agg(F.min(id_col).alias("canon_id"))
    ident = (
        df.join(canon, phash_col)
        .where(F.col(id_col) != F.col("canon_id"))
        .select(F.col("canon_id").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0).cast("int").alias("hamming"))
    )

    def band_key(col, b):
        if b == n_bands - 1:
            take = nbits - width * (n_bands - 1)
        else:
            take = width
        return (F.shiftrightunsigned(col, b * width)
                .bitwiseAND(F.lit((1 << take) - 1)))

    vals = canon.select(F.col(phash_col).alias("ph"), "canon_id")
    buckets = vals.select(
        "ph", "canon_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     band_key(F.col("ph"), b).alias("bkey"))
            for b in range(n_bands)])).alias("bb"),
    ).select("ph", "canon_id", F.col("bb.band").alias("band"),
             F.col("bb.bkey").alias("bkey"))
    if max_bucket is not None:
        hot = (buckets.groupBy("band", "bkey")
               .agg(F.count(F.lit(1)).alias("__n"))
               .where(F.col("__n") > max_bucket)
               .select("band", "bkey"))
        buckets = buckets.join(F.broadcast(hot), ["band", "bkey"],
                               "left_anti")
    a = buckets.alias("a")
    b = buckets.alias("b")
    near = (
        a.join(b, ["band", "bkey"])
        .where(F.col("a.ph") < F.col("b.ph"))
        .select(F.col("a.ph").alias("pa"), F.col("b.ph").alias("pb"),
                F.col("a.canon_id").alias("id_a"),
                F.col("b.canon_id").alias("id_b"))
        .distinct()
        .withColumn("hamming", F.bit_count(
            F.col("pa").bitwiseXOR(F.col("pb"))).cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return ident.unionByName(near)


def dedup_keep_best(df: DataFrame, id_col: str, text_col: str,
                    score_col: str, n_hashes: int = 16, bands: int = 4,
                    shingle_n: int = 1,
                    max_bucket: int | None = 1000) -> DataFrame:
    """Cluster-representative selection — the step real curation
    pipelines run after near-dup clustering: keep the HIGHEST-scoring
    document of each fuzzy cluster (ties -> smallest id; a total
    order), drop the rest.  ``dedup_clusters`` keeps the min-id doc
    regardless of quality; this keeps the best one.

    Composes the engine's own primitives: LSH candidate pairs ->
    pointer-jumping connected components -> one per-component
    lexicographic min of ``(-score, id)`` -> one equi-join back.
    Returns per-doc ``(id, component, score, is_kept)``.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col, n_hashes, bands,
                              shingle_n, max_bucket)
    comp = connected_components(pairs)
    base = (df.select(F.col(id_col), F.col(score_col))
            .join(comp, df[id_col] == comp.vertex, "left")
            .select(F.col(id_col), F.col(score_col),
                    F.coalesce("component", F.col(id_col))
                    .alias("component")))
    best = (base.groupBy("component")
            .agg(F.min(F.struct((-F.col(score_col)).alias("ns"),
                                F.col(id_col).alias("bid"))).alias("b"))
            .select("component", F.col("b.bid").alias("__best")))
    return (base.join(best, "component")
            .select(id_col, "component", score_col,
                    (F.col(id_col) == F.col("__best")).alias("is_kept")))


def leakage_safe_split(df: DataFrame, id_col: str, text_col: str,
                       weights: dict[str, float] | None = None,
                       buckets: int = 10_000, n_hashes: int = 16,
                       bands: int = 4, shingle_n: int = 1,
                       max_bucket: int | None = 1000) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates
    across splits: documents cluster first (LSH pairs -> pointer-jump
    connected components), then the WHOLE CLUSTER is assigned by the
    deterministic md5-bucket split of its component id — eval
    contamination through paraphrases/boilerplate twins is
    structurally impossible, the failure mode a per-document
    ``hash_split`` silently allows.

    Composes the engine's own primitives; returns per-doc
    ``(id, component, bucket, split)``.  Same split-weight contract as
    :func:`~raster2dggs_spark.operators.text.hash_split`.
    """
    from raster2dggs_spark.operators.text import hash_split

    pairs = minhash_lsh_pairs(df, id_col, text_col, n_hashes, bands,
                              shingle_n, max_bucket)
    comp = connected_components(pairs)
    docs = (df.select(F.col(id_col))
            .join(comp, df[id_col] == comp.vertex, "left")
            .select(F.col(id_col),
                    F.coalesce("component", F.col(id_col))
                    .alias("component")))
    assigned = hash_split(docs, "component", weights, buckets)
    # hash_split returns one row per input row keyed by the component
    # value — re-attach the doc ids positionally via the join key
    return (docs.join(assigned.dropDuplicates(["component"]),
                      "component")
            .select(id_col, "component", "bucket", "split"))
