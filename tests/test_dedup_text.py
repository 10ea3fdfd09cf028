"""Dedup / text / similarity operators vs brute-force python oracles."""

import hashlib
import re

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


def _toks(s):
    return re.findall(r"[a-z0-9]+", s.lower())


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),   # near dup
        (3, "completely different content about spark tables"),
        (4, "spark tables about completely different content"),  # shuffled 3
        (5, "unrelated short text"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    return pdf, spark.createDataFrame(pdf)


def test_exact_dedup(spark, docs):
    from raster2dggs_spark.operators.dedup import exact_dedup

    pdf, sdf = docs
    out = exact_dedup(sdf, "doc_id", "text").toPandas().set_index("doc_id")
    assert out.loc[0, "canonical_id"] == 0 and out.loc[1, "canonical_id"] == 0
    assert out.loc[0, "group_size"] == 2
    assert out.loc[2, "group_size"] == 1
    assert out.loc[0, "content_md5"] == hashlib.md5(
        pdf.loc[0, "text"].encode()
    ).hexdigest()


def test_ngram_jaccard_exact(spark, docs):
    from raster2dggs_spark.operators.dedup import ngram_jaccard_pairs

    pdf, sdf = docs
    for n in (1, 3):
        out = ngram_jaccard_pairs(sdf, "doc_id", "text", n=n, threshold=0.0)
        got = {
            (r.id_a, r.id_b): r.jaccard for r in out.collect()
        }
        # brute force
        sets = {
            r.doc_id: set(
                " ".join(_toks(r.text)[i:i + n])
                for i in range(len(_toks(r.text)) - n + 1)
            )
            for r in pdf.itertuples(index=False)
        }
        for a in range(6):
            for b in range(a + 1, 6):
                inter = len(sets[a] & sets[b])
                if inter == 0:
                    assert (a, b) not in got
                else:
                    exp = inter / len(sets[a] | sets[b])
                    assert got[(a, b)] == pytest.approx(exp), (a, b, n)


def test_minhash_lsh_finds_duplicates(spark, docs):
    from raster2dggs_spark.operators.dedup import minhash_lsh_pairs

    pdf, sdf = docs
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(sdf, "doc_id", "text", 16, 4).collect()
    }
    assert (0, 1) in pairs          # exact dup always collides
    assert (3, 4) in pairs          # same word set (shuffled)
    assert (0, 3) not in pairs      # unrelated docs don't collide
    assert (0, 5) not in pairs


def test_simhash_properties(spark, docs):
    from raster2dggs_spark.operators.dedup import simhash

    pdf, sdf = docs
    out = simhash(sdf, "doc_id", "text").toPandas().set_index("doc_id")["simhash"]
    assert out[0] == out[1]          # identical text
    assert out[3] == out[4]          # same word set
    # near dup: small hamming distance; unrelated: larger
    def ham(a, b):
        return bin(int(a) ^ int(b)).count("1")

    assert ham(out[0], out[2]) <= 10
    assert ham(out[0], out[3]) >= ham(out[0], out[2])


def test_lang_id_and_quality(spark):
    from raster2dggs_spark.operators.text import lang_id, quality_score, token_stats

    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            "the table and the row of a value in the data",
            "der hund und die katze ist nicht ein zu",
            "le chat et la maison les des un une est",
        ],
    })
    sdf = spark.createDataFrame(pdf)
    out = lang_id(sdf, "doc_id", "text").toPandas().set_index("doc_id")
    assert out.loc[0, "lang_guess"] == "en"
    assert out.loc[1, "lang_guess"] == "de"
    assert out.loc[2, "lang_guess"] == "fr"
    q = quality_score(sdf, "doc_id", "text").toPandas()
    assert ((q["quality"] >= 0) & (q["quality"] <= 1)).all()
    t = token_stats(sdf, "doc_id", "text").toPandas().set_index("doc_id")
    assert t.loc[0, "alnum_tokens"] == len(_toks(pdf.loc[0, "text"]))


def test_fingerprint_order_insensitive(spark, docs):
    from raster2dggs_spark.operators.text import fingerprint

    pdf, sdf = docs
    out = fingerprint(sdf, "doc_id", "text").toPandas().set_index("doc_id")
    assert out.loc[3, "fingerprint"] == out.loc[4, "fingerprint"]
    assert out.loc[0, "fingerprint"] != out.loc[3, "fingerprint"]


def test_cosine_topk_exact(spark):
    from raster2dggs_spark.operators.similarity import cosine_topk

    rng = np.random.default_rng(5)
    n, d, k = 60, 16, 4
    vecs = rng.normal(size=(n, d)).astype(np.float32)
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [v.tolist() for v in vecs],
    })
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    q = sdf.limit(10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    t = sdf.select(F.col("vec_id").alias("t_id"), F.col("embedding").alias("t_vec"))
    out = cosine_topk(q, t, k).toPandas()
    # brute force in float64
    v64 = vecs.astype(np.float64)
    norms = np.linalg.norm(v64, axis=1)
    for qi in range(10):
        cos = v64 @ v64[qi] / (norms * norms[qi])
        cos[qi] = -np.inf
        order = np.lexsort((np.arange(n), -cos))[:k]
        got = out[out["q_id"] == qi].sort_values("rank")["t_id"].tolist()
        assert got == [int(x) for x in order], qi


def test_ivf_topk_recall(spark):
    from raster2dggs_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(6)
    # clustered vectors so IVF partitions are meaningful
    centers = rng.normal(size=(8, 16)) * 4
    vecs = np.vstack([
        centers[i % 8] + rng.normal(size=16) * 0.4 for i in range(200)
    ]).astype(np.float32)
    pdf = pd.DataFrame({
        "vec_id": np.arange(200, dtype=np.int64),
        "embedding": [v.tolist() for v in vecs],
    })
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        pd.DataFrame({
            "c_id": np.arange(8, dtype=np.int64),
            "c_vec": [c.astype(np.float32).tolist() for c in centers],
        }),
        "c_id long, c_vec array<float>",
    )
    q = sdf.limit(15).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    t = sdf.select(F.col("vec_id").alias("t_id"), F.col("embedding").alias("t_vec"))
    exact = cosine_topk(q, t, 5).toPandas()
    approx = ivf_topk(q, t, cents, 5, n_probe=3).toPandas()
    # recall@5 over the 15 queries
    rec = []
    for qi in exact["q_id"].unique():
        e = set(exact[exact["q_id"] == qi]["t_id"])
        a = set(approx[approx["q_id"] == qi]["t_id"])
        rec.append(len(e & a) / len(e))
    assert np.mean(rec) >= 0.8


def test_image_stats_and_thumbnails(spark):
    from raster2dggs_spark.sources import images_spark_df, generate_images_pdf
    from raster2dggs_spark.operators.multimodal import image_stats, thumbnails

    sdf = images_spark_df(spark, 12, seed=9)
    out = image_stats(sdf).toPandas().set_index("image_id")
    pdf = generate_images_pdf(12, seed=9).set_index("image_id")
    # phash recomputed from decoded payload matches stored phash for
    # lossless fmts
    for iid, row in pdf.iterrows():
        if row["fmt"] != "q8":
            assert out.loc[iid, "phash_recomputed"] == row["phash"]
    th = thumbnails(sdf, size=8).toPandas()
    assert (th["thumb"].map(len) == 64).all()


def test_frame_sample_external_codec_schema_and_gate(spark):
    """frame_sample decodes rvid for real (test_media.py); external
    formats keep the identical schema but raise at decode."""
    from raster2dggs_spark.operators.multimodal import frame_sample

    vids = spark.createDataFrame(
        pd.DataFrame({"video_id": ["v1"], "bytes": [b"xx"], "fmt": ["h264"]})
    )
    out = frame_sample(vids)
    assert [f.name for f in out.schema.fields] == [
        "video_id", "frame_idx", "frame_bytes", "h", "w",
        "f_mean", "f_min", "f_max",
    ]
    with pytest.raises(Exception, match="NotImplementedError"):
        out.collect()


def test_connected_components_vs_union_find(spark):
    """Hash-to-min label propagation vs an independent union-find oracle
    on a random graph with long chains (forces multi-round
    convergence)."""
    import numpy as np
    import pandas as pd

    from raster2dggs_spark.operators.dedup import connected_components

    rng = np.random.default_rng(17)
    n = 400
    edges = []
    # random sparse edges + two deliberate 50-node chains
    for _ in range(150):
        a, b = rng.integers(0, n, 2)
        if a != b:
            edges.append((int(min(a, b)), int(max(a, b))))
    for base in (1000, 2000):
        edges += [(base + i, base + i + 1) for i in range(50)]
    pdf = pd.DataFrame(edges, columns=["id_a", "id_b"]).drop_duplicates()
    pairs = spark.createDataFrame(pdf, "id_a long, id_b long")

    # independent oracle: union-find with path compression
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pdf.itertuples(index=False):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}

    got = {int(r.vertex): int(r.component)
           for r in connected_components(pairs).collect()}
    assert got == expected
    # the chain comps really are 51 nodes with min-id canonical
    assert sum(1 for v, c in got.items() if c == 1000) == 51


def test_hash_split_stable_and_proportional(spark):
    """Splits are (a) deterministic per id regardless of which other ids
    are present, (b) roughly proportional to the weights."""
    import pandas as pd

    from raster2dggs_spark.operators.text import hash_split

    ids = pd.DataFrame({"doc_id": range(5000)})
    full = hash_split(spark.createDataFrame(ids), "doc_id").toPandas()
    frac = full["split"].value_counts(normalize=True)
    assert abs(frac["train"] - 0.9) < 0.02
    assert abs(frac["val"] - 0.05) < 0.01
    assert abs(frac["test"] - 0.05) < 0.01
    # subset invariance: same ids -> same split in a different table
    sub = hash_split(
        spark.createDataFrame(ids.iloc[::7]), "doc_id"
    ).toPandas().set_index("doc_id")["split"]
    ref = full.set_index("doc_id")["split"]
    assert (sub == ref.loc[sub.index]).all()


def test_tfidf_ubiquitous_term_scores_zero(spark):
    """A term present in every document has idf = ln(N/N) = 0, so it can
    never outrank a discriminative term."""
    import pandas as pd

    from raster2dggs_spark.operators.text import tfidf_top_terms

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["common alpha alpha", "common beta", "common gamma gamma"],
    })
    out = tfidf_top_terms(spark.createDataFrame(docs), "doc_id", "text",
                          k=2).toPandas()
    top1 = out[out["rank"] == 1].set_index("doc_id")["term"]
    assert dict(top1) == {1: "alpha", 2: "beta", 3: "gamma"}
    assert (out[out["term"] == "common"]["tfidf"] == 0.0).all()


def test_stratified_sample_deterministic_and_proportional(spark):
    """Per-stratum rates are honored (±2% at 20k rows), membership is a
    pure function of the id (subset invariance: a kept row stays kept
    when the corpus shrinks/grows), and sampling is independent of
    hash_split's buckets (the joint rate factorizes)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from raster2dggs_spark.operators.text import hash_split, stratified_sample

    n = 20000
    pdf = pd.DataFrame({
        "doc_id": range(n),
        "stratum": ["en" if i % 4 else "fr" for i in range(n)],
    })
    df = spark.createDataFrame(pdf)
    kept = stratified_sample(df, "doc_id", "stratum",
                             rates={"en": 0.2, "fr": 0.7}).toPandas()
    frac = kept.groupby("stratum").size() / pdf.groupby("stratum").size()
    assert abs(frac["en"] - 0.2) < 0.02
    assert abs(frac["fr"] - 0.7) < 0.02

    # subset invariance
    sub = stratified_sample(df.where("doc_id < 5000"), "doc_id", "stratum",
                            rates={"en": 0.2, "fr": 0.7}).toPandas()
    assert set(sub["doc_id"]) == {d for d in kept["doc_id"] if d < 5000}

    # independence from hash_split (different hash input string):
    # P(kept & train) ≈ P(kept)·P(train)
    splits = hash_split(df, "doc_id").toPandas()
    j = kept.merge(splits, on="doc_id")
    p_joint = (j["split"] == "train").mean()
    assert abs(p_joint - 0.9) < 0.02

    # default_rate keeps unlisted strata fully
    all_kept = stratified_sample(df, "doc_id", "stratum",
                                 rates={}).count()
    assert all_kept == n


def test_phash_near_dup_recall_and_cap(spark):
    """Banded pigeonhole phash near-dup (round 7): (1) EVERY pair within
    max_hamming is found (pigeonhole recall guarantee, checked vs a
    brute-force popcount over the component-canonical graph), (2)
    identical hashes produce linear canonical edges, never quadratic
    all-pairs, (3) a degenerate hot bucket is absorbed by the
    groupBy-count + broadcast anti-join cap."""
    import numpy as np
    import pandas as pd

    from raster2dggs_spark.operators.dedup import phash_near_dup

    rng = np.random.default_rng(7)
    base = rng.integers(0, 1 << 60, 40, dtype=np.int64) & ((1 << 60) - 1)
    rows = []
    for i, b in enumerate(base):
        rows.append((f"i{i:04d}_a", int(b)))
        rows.append((f"i{i:04d}_b", int(b) ^ (1 << int(b % 59))))  # d=1
        rows.append((f"i{i:04d}_c", int(b)))                        # dup
    df = spark.createDataFrame(pd.DataFrame(rows,
                                            columns=["image_id", "phash"]),
                               "image_id string, phash long")
    out = phash_near_dup(df, max_hamming=3, nbits=60).toPandas()
    ident = out[out.hamming == 0]
    near = out[out.hamming > 0]
    # identical: exactly one canonical edge per duplicated hash
    assert len(ident) == 40
    assert (ident.id_a.str.endswith("_a") & ident.id_b.str.endswith("_c")).all()
    # recall: every constructed d=1 pair present (canonical ids)
    assert len(near) >= 40
    got = {(r.id_a, r.id_b) for r in near.itertuples()}
    for i in range(40):
        a, b = f"i{i:04d}_a", f"i{i:04d}_b"
        assert (a, b) in got or (b, a) in got, i
    assert (near.hamming == 1).sum() >= 40
    # cap: 50 all-zero phashes (one degenerate bucket) with a tiny cap —
    # the hot VALUE is one canon row, so add 50 DISTINCT near-zero values
    # that all share band 0; cap excludes that bucket without erroring
    hot = pd.DataFrame(
        [(f"z{j:03d}", int(j) << 45) for j in range(50)],
        columns=["image_id", "phash"])  # distinct, share low bands
    dfh = spark.createDataFrame(hot, "image_id string, phash long")
    capped = phash_near_dup(dfh, max_hamming=3, nbits=60,
                            max_bucket=10).toPandas()
    uncapped = phash_near_dup(dfh, max_hamming=3, nbits=60,
                              max_bucket=None).toPandas()
    assert len(capped) <= len(uncapped)


def test_repetition_stats_known_values(spark):
    from raster2dggs_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam eggs"),          # top token spam 3/4
            (2, "a b a b a b"),                  # top bigram "a b" 3/5
            (3, "x y z w"),                      # all distinct
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict()
           for r in repetition_stats(docs, "doc_id", "text").collect()}
    assert out[1]["n_tokens"] == 4
    assert out[1]["top_token"] == "spam"
    assert abs(out[1]["top_token_frac"] - 0.75) < 1e-9
    # bigrams of doc1: "spam spam" x2, "spam eggs" -> dup frac 1/3
    assert out[1]["n_bigrams"] == 3
    assert out[1]["top_bigram"] == "spam spam"
    assert abs(out[1]["dup_bigram_frac"] - round(1 / 3, 6)) < 1e-9
    assert out[2]["top_bigram"] == "a b"
    assert abs(out[2]["top_bigram_frac"] - 0.6) < 1e-9
    assert abs(out[2]["dup_token_frac"] - round(4 / 6, 6)) < 1e-9
    # ties broken by min gram: doc3 all counts 1 -> lexicographic min
    assert out[3]["top_token"] == "w"
    assert out[3]["dup_token_frac"] == 0.0


def test_ngram_decontaminate_counts(spark):
    from raster2dggs_spark.operators.text import ngram_decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words live here today"),
            (3, "quick brown fox jumps again and again"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "a quick brown fox jumps happily")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict()
           for r in ngram_decontaminate(train, ev, "doc_id", "text",
                                        n=4).collect()}
    # eval 4-grams: "a quick brown fox", "quick brown fox jumps",
    # "brown fox jumps happily"
    # doc1 grams include "quick brown fox jumps" -> 1 match of 6 grams
    assert out[1]["matched_ngrams"] == 1
    assert out[1]["total_ngrams"] == 6
    assert abs(out[1]["contaminated_frac"] - round(1 / 6, 6)) < 1e-9
    # doc3 also contains "quick brown fox jumps"
    assert out[3]["matched_ngrams"] == 1
    # doc2 shares nothing -> absent (inner join keeps flagged docs only)
    assert 2 not in out


def test_pii_stats_counts_and_redaction(spark):
    import pandas as pd

    from raster2dggs_spark.operators.text import pii_stats

    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "mail a.b+c@x-y.org or d@ee.io, server 10.0.0.1 up",
            "call +64 555 0042 or +1 800 9999 now",
            "nothing sensitive here 1.2.3 not-an-ip 1234",
        ]})
    out = (pii_stats(spark.createDataFrame(pdf), "doc_id", "text")
           .toPandas().set_index("doc_id").sort_index())
    assert list(out.n_email) == [2, 0, 0]
    assert list(out.n_ipv4) == [1, 0, 0]
    assert list(out.n_phone) == [0, 2, 0]
    assert list(out.n_pii) == [3, 2, 0]
    import hashlib
    red1 = "mail <EMAIL> or <EMAIL>, server <IPV4> up"
    assert out.loc[1, "redacted_md5"] == hashlib.md5(
        red1.encode()).hexdigest()


def test_dup_span_coverage_known_corpus(spark):
    import pandas as pd

    from raster2dggs_spark.operators.text import dup_span_coverage

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            f"one two three {shared} four five",
            f"{shared} completely different tail words here",
            "six seven eight nine ten eleven twelve thirteen fourteen",
        ]})
    out = (dup_span_coverage(spark.createDataFrame(pdf), "doc_id",
                             "text", n=8)
           .toPandas().set_index("doc_id").sort_index())
    # doc 1: 13 tokens, shared 8-gram at pos 3 -> 8 covered
    assert out.loc[1, "n_tokens"] == 13
    assert out.loc[1, "n_dup_grams"] == 1
    assert out.loc[1, "covered"] == 8
    assert abs(out.loc[1, "coverage"] - round(8 / 13, 6)) < 1e-9
    # doc 2: shared gram at pos 0
    assert out.loc[2, "covered"] == 8
    # doc 3: no duplicated grams
    assert out.loc[3, "n_dup_grams"] == 0 and out.loc[3, "covered"] == 0


def test_bm25_topk_ranking(spark):
    import math

    import pandas as pd

    from raster2dggs_spark.operators.text import bm25_topk

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "apple apple apple banana",
            "apple banana cherry",
            "cherry cherry date",
            "date elderberry fig grape hazelnut iris jasmine kiwi",
        ]})
    qs = spark.createDataFrame([(1, "apple"), (2, "cherry date")],
                               ["q_id", "q_text"])
    out = (bm25_topk(spark.createDataFrame(docs), qs, k=3)
           .toPandas())
    q1 = out[out.q_id == 1].sort_values("rank")
    # docs 1 and 2 contain 'apple'; doc 1 has higher tf and is shorter
    # relative to avgdl -> rank 1
    assert list(q1.doc_id) == [1, 2]
    # closed-form check of doc 2's score for q1
    N, df = 4, 2
    idf = math.log(1 + (N - df + 0.5) / (df + 0.5))
    dl, avgdl = 3, (4 + 3 + 3 + 8) / 4
    tf = 1
    want = round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)),
                 4)
    assert abs(float(q1[q1.doc_id == 2].score.iloc[0]) - want) < 1e-9
    q2 = out[out.q_id == 2].sort_values("rank")
    assert list(q2.doc_id)[0] == 3          # two cherry + one date
    assert set(q2.doc_id) == {2, 3, 4}


def test_pack_token_stream_layout_invariants(spark):
    """Packing layout: within each shard offsets are a gapless prefix sum
    in md5 order; sequence spans are consistent with seq_len; zero-token
    docs occupy no slots; and adding docs to one shard never moves docs
    in another (subset stability)."""
    import hashlib as _h

    from raster2dggs_spark.operators.text import pack_token_stream

    rows = [(i, ("tok " * (i * 7 % 23)).strip()) for i in range(60)]
    rows.append((999, ""))  # zero-token doc
    df = spark.createDataFrame(rows, "doc_id int, text string")
    L, S = 16, 4
    out = pack_token_stream(df, "doc_id", "text", seq_len=L, shards=S)
    pdf = out.toPandas()

    def mk(i):
        return _h.md5(f"pack:{i}".encode()).hexdigest()

    for sh, grp in pdf.groupby("shard"):
        g = grp.copy()
        g["mk"] = g.doc_id.map(mk)
        g = g.sort_values(["mk", "doc_id"]).reset_index(drop=True)
        # gapless prefix sum starting at 0
        assert g.start_tok.iloc[0] == 0
        ends = g.start_tok + g.n_tokens
        assert (g.start_tok.iloc[1:].values == ends.iloc[:-1].values).all()
        assert int(mk(int(g.doc_id.iloc[0]))[:8], 16) % S == sh
    for r in pdf.itertuples():
        assert r.first_seq == r.start_tok // L
        if r.n_tokens > 0:
            assert r.last_seq == (r.start_tok + r.n_tokens - 1) // L
            assert r.n_seqs == r.last_seq - r.first_seq + 1
        else:
            assert r.n_seqs == 0 and r.first_seq == r.last_seq
    # subset stability: dropping every doc in shard 0 leaves the other
    # shards' layouts bit-identical
    keep = pdf[pdf.shard != 0].doc_id.tolist()
    sub = df.filter(F.col("doc_id").isin(keep))
    pdf2 = (pack_token_stream(sub, "doc_id", "text", seq_len=L, shards=S)
            .toPandas())
    a = pdf[pdf.shard != 0].sort_values("doc_id").reset_index(drop=True)
    b = pdf2.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_pack_token_stream_two_pass_no_shard_ceiling(spark):
    """Round-8 two-pass layout: the running-sum window partitions by
    (shard, sub-bucket) — NOT one task per shard — and its output
    matches a driver-side reference prefix sum exactly."""
    import hashlib as _h

    from raster2dggs_spark.operators.text import pack_token_stream

    df = spark.range(5000).selectExpr(
        "CAST(id AS INT) AS doc_id",
        "repeat('tok ', CAST(id % 13 AS INT)) AS text")
    out = pack_token_stream(df, "doc_id", "text", seq_len=32, shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the heavy window must be keyed by the sub-bucket as well
    assert "__sub" in plan
    pdf = out.toPandas()
    # window parallelism: many (shard, sub-bucket) groups, not 4
    mks = {i: _h.md5(f"pack:{i}".encode()).hexdigest() for i in range(5000)}
    n_groups = len({(int(m[:8], 16) % 4, int(m[:2], 16))
                    for m in mks.values()})
    assert n_groups > 100
    # reference layout: per shard, cumsum in (md5, id) order
    ref = {}
    rows = sorted(((int(mks[i][:8], 16) % 4, mks[i], i,
                    len(("tok " * (i % 13)).split())) for i in range(5000)))
    acc = {}
    for sh, mk, i, nt in rows:
        start = acc.get(sh, 0)
        ref[i] = (sh, nt, start)
        acc[sh] = start + nt
    for r in pdf.itertuples():
        sh, nt, start = ref[r.doc_id]
        assert (r.shard, r.n_tokens, r.start_tok) == (sh, nt, start), r


def test_chunk_documents_windows(spark):
    import pandas as pd

    from raster2dggs_spark.operators.text import chunk_documents

    txt = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2], "text": [txt, "solo"]}))
    out = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    got = {(r.doc_id, r.chunk_idx): (r.token_start, r.chunk_text,
                                     r.n_tokens) for r in out}
    # doc 1: 10 tokens, step 3 -> starts 0,3,6,9
    assert got[(1, 0)] == (0, "w0 w1 w2 w3", 4)
    assert got[(1, 1)] == (3, "w3 w4 w5 w6", 4)
    assert got[(1, 2)] == (6, "w6 w7 w8 w9", 4)
    assert got[(1, 3)] == (9, "w9", 1)  # short tail
    assert got[(2, 0)] == (0, "solo", 1)
    assert len(got) == 5


def test_chunk_documents_whitespace_normalizing(spark):
    import pandas as pd

    from raster2dggs_spark.operators.text import chunk_documents

    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1], "text": ["  a\t\tb\n c  "]}))
    r = chunk_documents(df, chunk_tokens=8, overlap=0).collect()[0]
    assert r.chunk_text == "a b c" and r.n_tokens == 3


def test_chunk_documents_overlap_validation(spark):
    import pandas as pd
    import pytest as _pytest

    from raster2dggs_spark.operators.text import chunk_documents

    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1], "text": ["x"]}))
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_rrf_fuse_known(spark):
    import pandas as pd

    from raster2dggs_spark.operators.text import rrf_fuse

    # ranker A: d1 > d2 > d3 ; ranker B: d3 > d1 (d2 absent)
    ra = spark.createDataFrame(pd.DataFrame(
        {"query_id": [7, 7, 7], "doc_id": [1, 2, 3],
         "score": [30.0, 20.0, 10.0]}))
    rb = spark.createDataFrame(pd.DataFrame(
        {"query_id": [7, 7], "doc_id": [3, 1],
         "score": [9.0, 1.0]}))
    out = {r.doc_id: (r.rrf_score, r.n_rankers, r.fused_rank)
           for r in rrf_fuse([ra, rb], k=60, top_n=3).collect()}
    s1 = 1 / 61 + 1 / 62   # d1: rank 1 in A, rank 2 in B
    s3 = 1 / 63 + 1 / 61   # d3: rank 3 in A, rank 1 in B
    s2 = 1 / 62            # d2: rank 2 in A only
    assert out[1] == (round(s1, 6), 2, 1)
    assert out[3] == (round(s3, 6), 2, 2)
    assert out[2] == (round(s2, 6), 1, 3)


def test_rrf_fuse_score_tie_doc_order(spark):
    import pandas as pd

    from raster2dggs_spark.operators.text import rrf_fuse

    # equal scores: doc ASC breaks the rank tie deterministically
    ra = spark.createDataFrame(pd.DataFrame(
        {"query_id": [1, 1], "doc_id": [9, 4], "score": [5.0, 5.0]}))
    out = {r.doc_id: r.fused_rank
           for r in rrf_fuse([ra], top_n=2).collect()}
    assert out == {4: 1, 9: 2}


def test_dedup_keep_best(spark):
    import pandas as pd

    from raster2dggs_spark.operators.dedup import dedup_keep_best

    # docs 1,2,3 near-identical (one cluster); 9 unique
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 9],
        "text": ["the quick brown fox jumps over the lazy dog",
                 "the quick brown fox jumps over the lazy dogs",
                 "the quick brown fox jumped over the lazy dog",
                 "completely different content about spark engines"],
        "score": [0.5, 0.9, 0.7, 0.1],
    })
    out = {r.doc_id: (r.component, r.is_kept)
           for r in dedup_keep_best(spark.createDataFrame(docs),
                                    "doc_id", "text", "score",
                                    n_hashes=16, bands=8).collect()}
    comp = out[1][0]
    assert out[2] == (comp, True)       # highest score wins
    assert out[1] == (comp, False) and out[3] == (comp, False)
    assert out[9] == (9, True)          # singleton keeps itself


def test_dedup_keep_best_score_tie_min_id(spark):
    import pandas as pd

    from raster2dggs_spark.operators.dedup import dedup_keep_best

    docs = pd.DataFrame({
        "doc_id": [4, 7],
        "text": ["alpha beta gamma delta epsilon zeta",
                 "alpha beta gamma delta epsilon zeta"],
        "score": [0.5, 0.5],
    })
    out = {r.doc_id: r.is_kept
           for r in dedup_keep_best(spark.createDataFrame(docs),
                                    "doc_id", "text", "score",
                                    n_hashes=16, bands=8).collect()}
    assert out == {4: True, 7: False}


def test_weighted_sample_deterministic_and_biased(spark):
    import pandas as pd

    from raster2dggs_spark.operators.text import weighted_sample

    pdf = pd.DataFrame({
        "doc_id": range(2000),
        # half the docs weight 10, half weight 1
        "w": [10.0 if i % 2 == 0 else 1.0 for i in range(2000)],
    })
    df = spark.createDataFrame(pdf)
    a = weighted_sample(df, "doc_id", "w", k=200).collect()
    b = weighted_sample(df.repartition(13), "doc_id", "w",
                        k=200).collect()
    # deterministic across partitionings
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)
    # heavy docs dominate the sample (E[share] >> 50%)
    heavy = sum(1 for r in a if r.doc_id % 2 == 0)
    assert heavy > 140
    # keys sorted desc, weights carried through
    ks = [r.sample_key for r in a]
    assert all(r.w in (1.0, 10.0) for r in a)


def test_weighted_sample_excludes_nonpositive(spark):
    import pandas as pd

    from raster2dggs_spark.operators.text import weighted_sample

    df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": [1, 2, 3], "w": [1.0, 0.0, -2.0]}))
    out = weighted_sample(df, "doc_id", "w", k=10).collect()
    assert [r.doc_id for r in out] == [1]


def test_leakage_safe_split_clusters_together(spark):
    import pandas as pd

    from raster2dggs_spark.operators.dedup import leakage_safe_split

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 9],
        "text": ["the quick brown fox jumps over the lazy dog",
                 "the quick brown fox jumps over the lazy dogs",
                 "the quick brown fox jumped over the lazy dog",
                 "completely different content about spark engines"],
    })
    out = {r.doc_id: (r.component, r.split)
           for r in leakage_safe_split(
               spark.createDataFrame(docs), "doc_id", "text",
               n_hashes=16, bands=8).collect()}
    # the three near-dups share a component AND a split
    comps = {out[i][0] for i in (1, 2, 3)}
    splits = {out[i][1] for i in (1, 2, 3)}
    assert len(comps) == 1 and len(splits) == 1
    assert out[9][0] == 9
    assert all(s in ("train", "val", "test")
               for _, s in out.values())


def test_tfidf_doc_similarity_ranks_twins_first(spark):
    import pandas as pd

    from raster2dggs_spark.operators.text import tfidf_doc_similarity

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "zebra quokka lemur walks in the misty ravine",
            "zebra quokka lemur walks in the sunny ravine",
            "quantum flux capacitor drives the temporal engine",
            "quantum flux capacitor powers the temporal engine",
        ],
    })
    out = {(r.doc_id, r.rank): r.similar_id
           for r in tfidf_doc_similarity(
               spark.createDataFrame(docs), "doc_id", "text", k=1,
               max_df_frac=0.9).collect()}
    # each doc's nearest lexical neighbour is its paraphrase twin
    assert out[(1, 1)] == 2 and out[(2, 1)] == 1
    assert out[(3, 1)] == 4 and out[(4, 1)] == 3


def test_tfidf_doc_similarity_df_cap_prunes(spark):
    import pandas as pd

    from raster2dggs_spark.operators.text import tfidf_doc_similarity

    # the only shared token appears in ALL docs -> pruned by the cap
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["common alpha", "common beta", "common gamma"],
    })
    out = tfidf_doc_similarity(spark.createDataFrame(docs),
                               "doc_id", "text", k=2,
                               max_df_frac=0.5).collect()
    assert out == []  # no surviving shared tokens -> no pairs
