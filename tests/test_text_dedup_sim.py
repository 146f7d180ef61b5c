"""Text analysis, dedup tiers, and similarity search.

Exactness checks against plain-Python references where the op is exact
(quality metrics, rolling hash, exact dedup, ngram jaccard, simhash);
recall measurements (not assumptions) for the approximate tiers
(MinHash-LSH vs exact Jaccard, LSH-ANN vs brute force)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bb_ocr_spark.functions.text import (
    LANG_MARKERS,
    bpe_ish_token_count_col,
    fingerprint_md5_col,
    lang_guess_col,
    quality_cols,
    rolling_hash_col,
    token_count_col,
)
from bb_ocr_spark.operators.dedup import (
    exact_dedup,
    hamming64,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles_col,
    simhash_col,
)
from bb_ocr_spark.operators.similarity import (
    brute_force_topk,
    embedding_dup_pairs,
    lsh_topk,
    pandas_cosine_topk,
)


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


def test_lang_and_quality(spark):
    rows = [
        ("1", "the quick fox and the dog in a field is that"),
        ("2", "der Hund ist nicht mit der Katze und das Haus"),
        ("3", "le chat est dans la maison pour les amis et"),
        ("4", "xyzzy qwerty plugh"),
        ("5", ""),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            lang_guess_col(F.col("text")).alias("lang"),
            token_count_col(F.col("text")).alias("n_tok"),
            bpe_ish_token_count_col(F.col("text")).alias("n_bpe"),
            *quality_cols(F.col("text")),
        ).collect()
    }
    assert out["1"]["lang"] == "en"
    assert out["2"]["lang"] == "de"
    assert out["3"]["lang"] == "fr"
    assert out["4"]["lang"] is None
    assert out["1"]["n_tok"] == 11
    assert out["5"]["n_tok"] == 0 and out["5"]["quality_keep"] is False
    assert out["1"]["quality_keep"] is True
    assert out["1"]["stop_ratio"] > 0.3
    assert out["2"]["n_bpe"] >= out["2"]["n_tok"]  # punct splits add tokens


def test_rolling_hash_matches_python(spark):
    # python reference using Spark's own xxhash64 per token
    df = spark.createDataFrame(
        [("a", "alpha beta gamma"), ("b", "gamma beta alpha"), ("c", "alpha beta gamma")],
        "id string, text string",
    )
    toks = df.select(
        "id", F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
    ).select("id", "t", F.pmod(F.xxhash64("t"), F.lit(1 << 31)).alias("h"))
    per_tok = {
        (r["id"], r["t"]): r["h"] for r in toks.collect()
    }

    def py_roll(id_, text):
        acc = 5381
        for t in text.lower().split():
            acc = (acc * 1000003 + per_tok[(id_, t)]) % ((1 << 31) - 1)
        return acc

    got = {
        r["id"]: r["rh"]
        for r in df.select("id", rolling_hash_col(F.col("text")).alias("rh")).collect()
    }
    for id_, text in [("a", "alpha beta gamma"), ("b", "gamma beta alpha")]:
        assert got[id_] == py_roll(id_, text)
    assert got["a"] == got["c"]  # same text, same hash
    assert got["a"] != got["b"]  # order-sensitive


# --------------------------------------------------------------------------
# dedup tiers
# --------------------------------------------------------------------------

CORPUS = [
    ("d1", "the cat sat on the mat near the door"),
    ("d2", "The  cat sat ON the mat near the door"),  # exact dup after norm
    ("d3", "the cat sat on the mat near the window"),  # near dup of d1
    ("d4", "completely unrelated text about spark clusters and shuffles"),
    ("d5", "spark clusters and shuffles need tuning for skew"),  # near d4-ish
]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id string, text string")


def test_exact_dedup(corpus_df):
    out = {r["doc_id"]: r["dup_count"] for r in exact_dedup(corpus_df).collect()}
    assert out["d1"] == 2  # d2 collapsed into d1
    assert "d2" not in out
    assert out["d3"] == 1


def py_shingles(text, n=3):
    toks = text.lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def py_jaccard(a, b, n=3):
    sa, sb = py_shingles(a, n), py_shingles(b, n)
    return len(sa & sb) / len(sa | sb)


def test_shingles_and_ngram_jaccard(spark, corpus_df):
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in corpus_df.select(
            "doc_id", shingles_col(F.col("text")).alias("sh")
        ).collect()
    }
    for did, text in CORPUS:
        assert sh[did] == py_shingles(text), did

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus_df, threshold=0.2).collect()
    }
    # exact expectations from the python reference
    want = {}
    for i, (ida, ta) in enumerate(CORPUS):
        for idb, tb in CORPUS[i + 1 :]:
            j = py_jaccard(ta, tb)
            if j >= 0.2:
                want[(min(ida, idb), max(ida, idb))] = round(j, 6)
    assert pairs == want
    assert ("d1", "d3") in pairs  # near-dup found


def test_minhash_lsh_recall(spark):
    # corpus with planted near-duplicates: LSH must recover every exact
    # pair at jaccard >= 0.5 (16 bands x 4 rows -> P(miss | j=0.5) ~ 0.34^16)
    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(30):
        rows.append((f"o{i}", f"{base} variant {i} " + " ".join(f"w{i}_{j}" for j in range(6))))
        rows.append((f"c{i}", f"{base} variant {i} " + " ".join(f"w{i}_{j}" for j in range(5)) + " changed"))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert exact, "fixture must contain true near-dup pairs"
    for engine in ("pandas", "expr"):
        lsh = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_pairs(
                df, num_hashes=64, bands=16, engine=engine
            ).collect()
        }
        recall = len(exact & lsh) / len(exact)
        assert recall >= 0.95, f"LSH[{engine}] recall {recall} on planted near-dups"


def test_simhash(spark, corpus_df):
    out = corpus_df.select(
        "doc_id", simhash_col(F.col("text")).alias("sh")
    )
    pairs = (
        out.alias("a")
        .join(out.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("x"),
            F.col("b.doc_id").alias("y"),
            hamming64(F.col("a.sh"), F.col("b.sh")).alias("ham"),
        )
    )
    d = {(r["x"], r["y"]): r["ham"] for r in pairs.collect()}
    assert d[("d1", "d2")] == 0  # normalization → identical token multiset
    assert d[("d1", "d3")] < d[("d1", "d4")]  # near-dup closer than unrelated


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------


def test_ann_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = brute_force_topk(emb, queries, k=5)
    got = {(r["query_id"], r["rk"]): r["vec_id"] for r in exact.collect()}
    assert len(got) == 8 * 5

    # pandas/BLAS variant must agree exactly with the HOF variant
    pdf = queries.toPandas()
    blas = pandas_cosine_topk(emb, pdf, k=5)
    got2 = {(r["query_id"], r["rk"]): r["vec_id"] for r in blas.collect()}
    assert got2 == got

    # LSH tier: random 64-dim gaussians have no neighbor structure (all
    # cosines ~0), so recall is measured on PLANTED neighbors: queries are
    # tiny perturbations of corpus vectors — the true near-copy agrees with
    # its source on every hyperplane sign whp and must be found at rank 1.
    import pandas as pd

    src = emb.filter(F.col("vec_id") < 20).toPandas()
    planted = pd.DataFrame(
        {
            "vec_id": src["vec_id"] + 500_000,
            "embedding": [
                [float(x) * 1.001 for x in v] for v in src["embedding"]
            ],
            "label": src["label"],
        }
    )
    q_df = spark.createDataFrame(planted)
    approx = lsh_topk(emb, q_df, dim=64, k=3, n_planes=10)
    top1 = {
        r["query_id"]: r["vec_id"] for r in approx.collect() if r["rk"] == 1
    }
    found = sum(1 for qid, vid in top1.items() if vid == qid - 500_000)
    assert found / len(src) >= 0.9, f"LSH found {found}/{len(src)} planted neighbors"


def test_ivf_topk(spark, sf_dir):
    import pandas as pd
    from pyspark.sql import functions as F2

    from bb_ocr_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # planted neighbors (as in the LSH test): perturbed copies must be
    # found at rank 1 — the copy lands in the same inverted list
    src = emb.filter(F2.col("vec_id") < 20).toPandas()
    planted = pd.DataFrame(
        {
            "vec_id": src["vec_id"] + 500_000,
            "embedding": [[float(x) * 1.001 for x in v] for v in src["embedding"]],
            "label": src["label"],
        }
    )
    out = ivf_topk(emb, spark.createDataFrame(planted), dim=64, k=3, n_probe=2)
    top1 = {r["query_id"]: r["vec_id"] for r in out.collect() if r["rk"] == 1}
    found = sum(1 for qid, vid in top1.items() if vid == qid - 500_000)
    assert found / len(src) >= 0.95, f"IVF found {found}/{len(src)}"

    # probed lists must actually bound the scan: candidates < full corpus
    n_corpus = emb.count()
    assert out.count() <= 20 * 3  # top-k only
    # recall vs brute force on the same queries (sanity, not exactness)
    exact = brute_force_topk(emb, spark.createDataFrame(planted), k=3)
    e1 = {r["query_id"]: r["vec_id"] for r in exact.collect() if r["rk"] == 1}
    agree = sum(1 for q, v in top1.items() if e1.get(q) == v)
    assert agree / len(top1) >= 0.95


def test_embedding_dup_pairs(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # plant exact duplicates by unioning a shifted copy of 5 vectors
    dup = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    all_ = emb.unionByName(dup)
    pairs = embedding_dup_pairs(all_, dim=64, threshold=0.999)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in range(5):
        assert (i, i + 100000) in found


def test_embedding_dup_pairs_bucket_cap(spark):
    # degenerate bucket: 10^3 IDENTICAL vectors land in one bucket in EVERY
    # band; uncapped, the self-join emits ~5*10^5 pairs (the quadratic
    # blowup a dense dup cluster causes at corpus scale). With max_bucket
    # the hot bucket is dropped per band before pairing, while a small
    # planted near-dup pair elsewhere keeps colliding and is still found.
    import math

    dim = 8
    cluster_v = [1.0] * dim
    other_v = [math.sin(i + 1) for i in range(dim)]
    rows = [(i, cluster_v) for i in range(1000)]
    rows += [(2000, other_v), (2001, [x * 1.001 for x in other_v])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    capped = embedding_dup_pairs(
        df, dim=dim, threshold=0.999, n_planes=6, bands=2, max_bucket=100
    )
    found = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (2000, 2001) in found
    assert not any(a < 1000 and b < 1000 for a, b in found), (
        "capped cluster must not emit quadratic pairs"
    )

    # sanity that the cap is what prevented the blowup
    uncapped = embedding_dup_pairs(
        df, dim=dim, threshold=0.999, n_planes=6, bands=1, max_bucket=None
    )
    assert uncapped.count() == 1000 * 999 // 2 + 1


# --------------------------------------------------------------------------
# hot-key caps (frequent-shingle / degenerate-bucket quadratic blowup)
# --------------------------------------------------------------------------


def py_capped_jaccard_pairs(corpus, threshold, max_df, n=3):
    """python reference for ngram_jaccard_pairs(max_df=...): jaccard over
    shingle sets with document-frequency > max_df shingles removed."""
    from collections import Counter

    sh = {i: py_shingles(t, n) for i, t in corpus}
    df = Counter(s for ss in sh.values() for s in ss)
    kept = {i: {s for s in ss if df[s] <= max_df} for i, ss in sh.items()}
    out = {}
    ids = [i for i, _ in corpus]
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sorted((ids[x], ids[y]))
            ka, kb = kept[a], kept[b]
            if not (ka & kb):
                continue
            j = len(ka & kb) / len(ka | kb)
            if j >= threshold:
                out[(a, b)] = round(j, 6)
    return out


def test_hot_shingle_df_cap(spark):
    # one boilerplate sentence shared by EVERY doc: uncapped, its shingles
    # alone emit n(n-1)/2 candidate pairs from the inverted-index self-join
    # (the 10^12-row failure mode at corpus scale). With the df cap the hot
    # shingles never reach the join, and the planted near-dups — which
    # share RARE shingles — are still found with the exact capped jaccard.
    boiler = "all rights reserved contact us terms of service apply here"
    rows = []
    for i in range(300):
        rows.append((f"u{i:03d}", f"{boiler} unique{i}a unique{i}b unique{i}c unique{i}d"))
    # planted near-dup pairs with rare shared content
    for i in range(3):
        body = " ".join(f"rare{i}w{j}" for j in range(10))
        rows.append((f"pa{i}", body + " tail one"))
        rows.append((f"pb{i}", body + " tail two"))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.2, max_df=64).collect()
    }
    want = py_capped_jaccard_pairs(rows, threshold=0.2, max_df=64)
    assert got == want
    for i in range(3):
        assert (f"pa{i}", f"pb{i}") in got  # planted pairs survive the cap
    # nothing pairs through the boilerplate-only overlap
    assert not any(a.startswith("u") or b.startswith("u") for a, b in got)


def test_lsh_bucket_cap(spark):
    from bb_ocr_spark.operators.dedup import minhash_lsh_verified_pairs

    # 300 docs with IDENTICAL text collide in every band: one degenerate
    # bucket per band with 300 members -> 300*299/2 pairs per band uncapped.
    # With max_bucket=64 those buckets are dropped; a planted normal
    # near-dup pair must still come through its (small) buckets.
    rows = [(f"z{i:03d}", "same same same same same") for i in range(300)]
    body = " ".join(f"pw{j}" for j in range(12))
    rows.append(("pa", body + " end one"))
    rows.append(("pb", body + " end two"))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, max_bucket=64).collect()
    }
    assert ("pa", "pb") in pairs
    assert not any(a.startswith("z") for a, _ in pairs)
    # verified tier: same planted pair, true-jaccard filtered
    ver = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_verified_pairs(df, threshold=0.5, max_bucket=64).collect()
    }
    assert ver == {("pa", "pb")}


def test_minhash_verified_pairs_exact(spark):
    # the oracle-gate contract: LSH candidates verified against true
    # jaccard must equal the full exact pair set (recall 1.0) on a corpus
    # of planted near-dups at threshold 0.5 with r=2, bands=32
    from bb_ocr_spark.operators.dedup import minhash_lsh_verified_pairs

    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(30):
        rows.append((f"o{i}", f"{base} variant {i} " + " ".join(f"w{i}_{j}" for j in range(6))))
        rows.append((f"c{i}", f"{base} variant {i} " + " ".join(f"w{i}_{j}" for j in range(5)) + " changed"))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.5, max_df=None).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_verified_pairs(
            df, threshold=0.5, num_hashes=64, bands=32
        ).collect()
    }
    assert exact, "fixture must contain true near-dup pairs"
    assert got == exact


def test_simhash_md5_matches_python(spark, corpus_df):
    import hashlib

    from bb_ocr_spark.operators.dedup import simhash_md5_df

    def py_simhash(text, bits=60):
        toks = text.lower().split()
        hs = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) for t in toks]
        v = 0
        for i in range(bits):
            ones = sum(1 for h in hs if (h >> i) & 1)
            if 2 * ones >= len(hs):
                v |= 1 << i
        return v

    got = {r["doc_id"]: r["simhash"] for r in simhash_md5_df(corpus_df).collect()}
    for did, text in CORPUS:
        assert got[did] == py_simhash(text), did


def test_lsh_multiprobe_recall(spark, sf_dir):
    # perturbations large enough that some queries flip a hyperplane sign:
    # multi-probe (flip smallest-margin bits) must dominate single-probe
    import numpy as np
    import pandas as pd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    src = emb.filter(F.col("vec_id") < 40).toPandas()
    rng = np.random.RandomState(7)

    def perturb(v):
        a = np.asarray(v, dtype="float64")
        return list(a + 0.12 * np.linalg.norm(a) / 8 * rng.randn(len(a)))

    planted = pd.DataFrame(
        {
            "vec_id": src["vec_id"] + 500_000,
            "embedding": [perturb(v) for v in src["embedding"]],
            "label": src["label"],
        }
    )
    q_df = spark.createDataFrame(planted)

    def recall(n_probe):
        out = lsh_topk(emb, q_df, dim=64, k=1, n_planes=10, n_probe=n_probe)
        top1 = {r["query_id"]: r["vec_id"] for r in out.collect() if r["rk"] == 1}
        return sum(1 for q, v in top1.items() if v == q - 500_000) / len(src)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    assert r4 >= 0.95, f"multi-probe recall {r4} (single-probe {r1})"


def test_paragraph_dedup(spark):
    from bb_ocr_spark.operators.dedup import paragraph_dedup

    rows = [
        ("a", "unique alpha\nshared boiler\nunique beta"),
        ("b", "shared boiler\nunique gamma\nshared boiler"),  # within-doc repeat too
        ("c", "shared  boiler"),  # ws-normalized == the shared paragraph
        ("d", "\n\n"),  # only empty paragraphs -> no output row
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["id"]: r for r in paragraph_dedup(df, "doc_id").collect()}
    assert out["a"]["text_dedup"] == "unique alpha\nshared boiler\nunique beta"
    assert out["a"]["n_dropped"] == 0
    # doc a holds the first occurrence of the boilerplate; b loses both
    # copies (cross-doc + within-doc), c loses its only paragraph
    assert out["b"]["text_dedup"] == "unique gamma"
    assert out["b"]["n_kept"] == 1 and out["b"]["n_dropped"] == 2
    assert out["c"]["text_dedup"] == "" and out["c"]["n_dropped"] == 1
    assert "d" not in out  # nothing but empties -> filtered before dedup


def test_assign_shards(spark):
    from bb_ocr_spark.operators.packing import assign_shards

    rows = [(i, 10 + (i * 7) % 90) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = assign_shards(df, budget=300, num_buckets=32).collect()
    got = {r["doc_id"]: (r["prefix"], r["shard_id"]) for r in out}
    # python reference: global-order greedy fill
    prefix = 0
    for i, w in rows:
        assert got[i] == (prefix, prefix // 300), i
        prefix += w
    # shard fill: every shard except possibly the last spans >= budget
    # once the next doc arrives (prefix-based assignment property)
    n_shards = max(s for _, s in got.values()) + 1
    assert n_shards == (prefix - rows[-1][1]) // 300 + 1
    # determinism across parallelism / input partitioning
    out2 = assign_shards(df.repartition(13), budget=300, num_buckets=32).collect()
    assert {r["doc_id"]: (r["prefix"], r["shard_id"]) for r in out2} == got


def test_assign_shards_string_keys(spark):
    # regression: the old floor(cast(key AS long)/width) bucketing NULLed
    # string keys and the bucket equi-join silently dropped the whole
    # corpus — datagen's own "doc_%09d" format triggered it
    from bb_ocr_spark.operators.packing import assign_shards

    rows = [(f"doc_{i:09d}", 10 + (i * 7) % 90) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id string, n_tokens long")
    out = assign_shards(df, budget=300, num_buckets=16).collect()
    assert len(out) == 400, "string-keyed corpus must not be dropped"
    got = {r["doc_id"]: (r["prefix"], r["shard_id"]) for r in out}
    prefix = 0
    for k, w in rows:  # zero-padded ids: lexicographic == numeric order
        assert got[k] == (prefix, prefix // 300), k
        prefix += w
    assert all(r["shard_id"] is not None for r in out)


def test_assign_shards_recursive_levels(spark):
    # levels=2 (recursive bucket-subtotal prefix) must be value-identical
    # to levels=1 and deterministic across parallelism
    from bb_ocr_spark.operators.packing import assign_shards

    rows = [(i, 1 + (i * 13) % 50) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    ref = {
        r["doc_id"]: (r["prefix"], r["shard_id"])
        for r in assign_shards(df, budget=200, num_buckets=16).collect()
    }
    # fanout=4 over 16 buckets forces real recursion (4 super-buckets)
    two = {
        r["doc_id"]: (r["prefix"], r["shard_id"])
        for r in assign_shards(
            df, budget=200, num_buckets=16, levels=2, fanout=4
        ).collect()
    }
    assert two == ref
    two_rep = {
        r["doc_id"]: (r["prefix"], r["shard_id"])
        for r in assign_shards(
            df.repartition(11), budget=200, num_buckets=16, levels=2, fanout=4
        ).collect()
    }
    assert two_rep == ref


def test_lsh_plane_count_sizing(spark, sf_dir):
    # the plane-count rule: n_planes ~ log2(corpus / target_bucket).
    # Right-sized (10 planes for a ~5k corpus -> ~5/bucket) the perturbed
    # queries keep high recall; at 4x the planes (40 -> 2^40 buckets) every
    # vector sits alone, perturbations flip several signs, and recall
    # collapses while the candidate scan shrinks — the tradeoff the sizing
    # formula in operators/similarity.py navigates.
    import numpy as np
    import pandas as pd

    from bb_ocr_spark.operators.similarity import with_lsh_buckets

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    src = emb.filter(F.col("vec_id") < 40).toPandas()
    rng = np.random.RandomState(11)

    def perturb(v):
        a = np.asarray(v, dtype="float64")
        return list(a + 0.12 * np.linalg.norm(a) / 8 * rng.randn(len(a)))

    planted = pd.DataFrame(
        {
            "vec_id": src["vec_id"] + 500_000,
            "embedding": [perturb(v) for v in src["embedding"]],
            "label": src["label"],
        }
    )
    q_df = spark.createDataFrame(planted)

    def recall(n_planes):
        out = lsh_topk(emb, q_df, dim=64, k=1, n_planes=n_planes, n_probe=4)
        top1 = {r["query_id"]: r["vec_id"] for r in out.collect() if r["rk"] == 1}
        return sum(1 for q, v in top1.items() if v == q - 500_000) / len(src)

    def mean_bucket(n_planes):
        b = with_lsh_buckets(emb, dim=64, n_planes=n_planes)
        return (
            b.groupBy("bucket").count().agg(F.avg("count")).collect()[0][0]
        )

    r_sized, r_4x = recall(10), recall(40)
    assert r_sized >= 0.9, f"right-sized recall {r_sized}"
    assert r_sized >= r_4x, (r_sized, r_4x)
    # candidate-scan side: 4x planes -> far smaller buckets
    assert mean_bucket(40) < mean_bucket(10)


# --------------------------------------------------------------------------
# substring-level dedup (Lee et al. ExactSubstr semantics)
# --------------------------------------------------------------------------


def _ssd_corpus(spark, n_docs=1000, banner_tokens=60):
    """n_docs docs, each = 5 unique tokens + the SAME banner + unique tail."""
    banner = " ".join(f"brand{i} promo{i}" for i in range(banner_tokens // 2))
    rows = [
        (
            d,
            " ".join(f"u{d}w{j}" for j in range(5))
            + f" {banner} tail{d} close{d}",
        )
        for d in range(n_docs)
    ]
    return banner, spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_dedup_planted_banner(spark):
    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.dedup import substring_dedup

    banner, df = _ssd_corpus(spark)
    out = {
        r["doc_id"]: r
        for r in substring_dedup(df, k=8).collect()
    }
    release_persisted()
    assert len(out) == 1000
    # the banner survives ONLY in the globally-first doc
    assert banner in out[0]["text_dedup"]
    assert out[0]["n_dup_tokens"] == 0
    for d in (1, 17, 999):
        r = out[d]
        assert banner not in r["text_dedup"]
        # exactly the 60 banner tokens go; unique prefix+tail survive
        assert r["n_dup_tokens"] == 60
        assert r["n_dup_runs"] == 1
        assert r["text_dedup"] == (
            " ".join(f"u{d}w{j}" for j in range(5)) + f" tail{d} close{d}"
        )


def test_substring_dedup_within_doc_and_short_docs(spark):
    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.dedup import substring_dedup

    rep = " ".join(f"r{i}" for i in range(6))
    rows = [
        (1, f"{rep} mid1 mid2 mid3 {rep}"),   # within-doc repeat
        (2, "tiny"),                           # shorter than k
        (3, "alpha beta gamma delta epsilon"), # unique, no removal
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in substring_dedup(df, k=4).collect()}
    release_persisted()
    # first copy kept, second removed; the 3-token middle is NOT covered
    r1 = out[1]
    assert r1["text_dedup"] == f"{rep} mid1 mid2 mid3"
    assert r1["n_dup_tokens"] == 6
    assert r1["n_dup_runs"] == 1
    assert out[2]["n_dup_tokens"] == 0 and out[2]["text_dedup"] == "tiny"
    assert out[3]["n_dup_tokens"] == 0


def test_substring_dedup_rolling_equals_expr(spark):
    """The Arrow rolling-hash gram path must reach identical REMOVAL
    decisions as the expression path (hash families differ; the rule
    depends only on gram equality)."""
    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.dedup import substring_dedup

    _, df = _ssd_corpus(spark, n_docs=120, banner_tokens=20)
    a = substring_dedup(df, k=6, method="expr").orderBy("doc_id").collect()
    b = substring_dedup(df, k=6, method="rolling").orderBy("doc_id").collect()
    release_persisted()
    assert a == b
    assert sum(r["n_dup_tokens"] for r in a) == 119 * 20


def test_lang_id_top20_and_script_fallback(spark):
    """Marker stopwords for the widened 20-language table; CJK/Thai and
    other non-segmented scripts resolve via the dominant-script char
    fallback (stopword matching cannot fire without word boundaries)."""
    from bb_ocr_spark.functions.text import lang_guess_col

    rows = [
        ("pt", "não sei uma coisa dos outros em casa já"),
        ("it", "il libro di storia che leggo per la scuola con gli amici"),
        ("nl", "het boek is een verhaal van mensen die niet weten"),
        ("pl", "nie wiem czy to jest tak jak dla ciebie"),
        ("tr", "bu kitap bir hikaye ve daha fazla şey için"),
        ("vi", "đây là một cuốn sách của tôi không có gì"),
        ("id", "buku ini yang saya baca dan tulis untuk kamu"),
        ("ru", "это не книга что я читаю как она хочет"),
        ("ar", "هذا كتاب من المكتبة في المدينة على الطاولة"),
        # script fallback: no word boundaries → no stopword can match
        ("cjk-han", "这是一本关于历史的书籍内容很有趣"),
        ("cjk-kana", "これはとてもおもしろいほんです"),
        ("cjk-hangul", "이것은 아주 재미있는 역사 책입니다"),
        ("devanagari", "यह इतिहास की एक बहुत रोचक पुस्तक है"),
        ("greek", "αυτό είναι ένα πολύ ενδιαφέρον βιβλίο ιστορίας"),
        ("hebrew", "זהו ספר היסטוריה מעניין מאוד שקראתי"),
        ("thai", "นี่คือหนังสือประวัติศาสตร์ที่น่าสนใจมาก"),
        # nothing matches at all
        (None, "qwx zzyq 12345 !!!"),
    ]
    df = spark.createDataFrame(
        [(i, want, txt) for i, (want, txt) in enumerate(rows)],
        "i long, want string, text string",
    )
    got = df.select("i", "want", lang_guess_col(F.col("text")).alias("g")).collect()
    for r in got:
        assert r["g"] == r["want"], (r["i"], r["want"], r["g"])

    # tie-break is declaration order, deterministically: 'og ikke' hits
    # da and no equally → earlier entry (da) wins
    tie = spark.createDataFrame([(1, "og ikke og ikke")], "i long, text string")
    assert tie.select(lang_guess_col(F.col("text")).alias("g")).first()["g"] == "da"


def test_materialize_shards_roundtrip(spark):
    """Shard rows slice back into the exact original docs via
    doc_offsets (lossless), and every multi-doc shard respects the
    budget under the atomic assignment."""
    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.packing import (
        assign_shards_atomic,
        materialize_shards,
    )

    rng = __import__("random").Random("mat-shards")
    docs = [
        (i, " ".join(f"d{i}w{j}" for j in range(rng.randrange(3, 40))))
        for i in range(200)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    w = df.selectExpr(
        "doc_id", "size(split(text, ' ')) AS n_tokens"
    )
    asg = assign_shards_atomic(w, budget=100, key_col="doc_id", chunk=4)
    shards = materialize_shards(asg, df).collect()
    release_persisted()

    want = dict(docs)
    got = {}
    for s in shards:
        ids = [int(x) for x in s["doc_ids"].split(",")]
        offs = [int(x) for x in s["doc_offsets"].split(",")]
        toks = s["text"].split("\n")
        assert s["n_docs"] == len(ids) == len(offs) == len(toks)
        assert s["n_tokens"] <= 100 or s["n_docs"] == 1
        # offsets are the exclusive token prefix per doc
        run = 0
        for d, off, t in zip(ids, offs, toks):
            assert off == run
            run += len(t.split(" "))
            got[d] = t
    assert got == want


def test_bm25_against_python_reference(spark):
    """BM25 scores and ranking vs a plain-python fold, including the
    (score desc, doc_id asc) tie-break and df-aware idf."""
    import math

    from bb_ocr_spark.operators.search import BM25_B, BM25_K1, bm25_topk

    docs = [
        (1, "apple banana apple cherry"),
        (2, "banana cherry date"),
        (3, "apple apple apple"),
        (4, "cherry date elderberry fig"),
        (5, "unrelated words only here"),
    ]
    queries = [(10, "apple cherry"), (20, "date")]
    out = bm25_topk(
        spark.createDataFrame(docs, "doc_id long, text string"),
        spark.createDataFrame(queries, "query_id long, query string"),
        k=3,
    ).collect()

    toks = {d: t.split() for d, t in docs}
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n

    def score(q, d):
        s = 0.0
        for term in set(q.split()):
            tf = toks[d].count(term)
            if not tf:
                continue
            df = sum(term in t for t in toks.values())
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            s += round(
                idf * tf * (BM25_K1 + 1)
                / (tf + BM25_K1 * (1 - BM25_B + BM25_B * len(toks[d]) / avgdl)),
                9,
            )
        return round(s, 6)

    want = {}
    for qid, qtext in queries:
        scored = sorted(
            ((score(qtext, d), d) for d, _ in docs if score(qtext, d) > 0),
            key=lambda x: (-x[0], x[1]),
        )[:3]
        for rk, (s, d) in enumerate(scored, 1):
            want[(qid, d)] = (s, rk)
    got = {(r["query_id"], r["doc_id"]): (r["score"], r["rk"]) for r in out}
    assert got == want


def test_bm25_index_reuse_and_no_corpus_rescan(spark, tmp_path):
    """A materialized index amortizes the corpus scan: two query sets
    over ONE built index equal two fresh calls, and the plan over an
    index read back from disk never references the corpus table."""
    from bb_ocr_spark.operators.search import (
        bm25_topk,
        build_bm25_index,
        read_bm25_index,
        write_bm25_index,
    )

    corpus_dir = str(tmp_path / "corpus")
    docs = [
        (1, "apple banana apple cherry"),
        (2, "banana cherry date"),
        (3, "apple apple apple"),
        (4, "cherry date elderberry fig"),
        (5, "unrelated words only here"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        corpus_dir
    )
    corpus = spark.read.parquet(corpus_dir)
    qa = spark.createDataFrame(
        [(10, "apple cherry"), (20, "date")], "query_id long, query string"
    )
    qb = spark.createDataFrame(
        [(30, "banana fig"), (40, "elderberry")], "query_id long, query string"
    )

    def rows(df):
        return sorted(
            (r["query_id"], r["doc_id"], r["score"], r["rk"])
            for r in df.collect()
        )

    idx = build_bm25_index(corpus)
    assert rows(bm25_topk(None, qa, k=3, index=idx)) == rows(
        bm25_topk(corpus, qa, k=3)
    )
    assert rows(bm25_topk(None, qb, k=3, index=idx)) == rows(
        bm25_topk(corpus, qb, k=3)
    )

    idx_dir = str(tmp_path / "bm25_index")
    write_bm25_index(idx, idx_dir)
    disk = read_bm25_index(spark, idx_dir)
    out = bm25_topk(None, qa, k=3, index=disk)
    assert rows(out) == rows(bm25_topk(corpus, qa, k=3))
    # the executed plan over the on-disk index must not scan the corpus
    plan = out._jdf.queryExecution().executedPlan().toString()
    # path-anchored: the scalar column is NAMED n_corpus, only the corpus
    # table's scan path would contain "/corpus"
    assert "/corpus" not in plan and "bm25_index" in plan


def test_token_vocab_truncation_and_ties(spark):
    from bb_ocr_spark.operators.search import token_vocab

    df = spark.createDataFrame(
        [(1, "b b a a c"), (2, "a b z")], "doc_id long, text string"
    )
    got = [
        (r["token"], r["n_total"], r["n_docs"])
        for r in token_vocab(df, top_v=2).orderBy(F.desc("n_total"), "token").collect()
    ]
    # a and b tie at 3 total — both kept (top 2), c/z truncated
    assert got == [("a", 3, 2), ("b", 3, 2)]


def test_pq_adc_recall_and_determinism(spark):
    """PQ-ADC recall is MEASURED on planted structure (the unstructured
    random test embeddings have median pairwise cosine ~0, where ANY
    32-bit code is information-theoretically blind — numpy-verified):
    each query has 3 noisy near-copies in the corpus, and ADC must
    surface them. Full path deterministic across input partitioning."""
    import numpy as np

    from bb_ocr_spark.operators.similarity import (
        pq_topk,
        train_pq_codebooks,
    )

    rng = np.random.RandomState(7)
    n_q, dim = 25, 64
    qs = rng.randn(n_q, dim)
    rows, qrows = [], []
    vid = 1000
    for i, base in enumerate(qs):
        qrows.append((i, [float(v) for v in base]))
        for _ in range(3):
            noisy = base + 0.15 * rng.randn(dim)
            rows.append((vid, [float(v) for v in noisy]))
            vid += 1
    for _ in range(300):  # distractors
        rows.append((vid, [float(v) for v in rng.randn(dim)]))
        vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(qrows, "vec_id long, embedding array<double>")

    books = train_pq_codebooks(corpus, dim=dim, m=8, ksub=16)
    out = pq_topk(corpus, queries, books, k=3).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    planted = {i: {1000 + 3 * i, 1001 + 3 * i, 1002 + 3 * i} for i in range(n_q)}
    hits = sum(len(planted[q] & got.get(q, set())) for q in planted)
    recall = hits / (3 * n_q)
    assert recall >= 0.8, recall

    # determinism across partitioning
    again = pq_topk(corpus.repartition(13), queries, books, k=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token is covered; consecutive chunks share exactly
    `overlap` tokens; dropping the overlap from chunks 1.. reconstructs
    the doc; boundary cases (fits-in-one, empty) behave."""
    from bb_ocr_spark.functions.text import chunk_documents

    rows = [
        (1, " ".join(f"t{i}" for i in range(50))),   # multi-chunk
        (2, " ".join(f"s{i}" for i in range(10))),   # exactly chunk size
        (3, "a b c"),                                 # shorter than chunk
        (4, ""),                                      # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk=10, overlap=3)
    chunks = {}
    for r in out.collect():
        chunks.setdefault(r["doc_id"], {})[r["chunk_id"]] = r

    toks1 = [f"t{i}" for i in range(50)]
    c1 = chunks[1]
    step = 7
    assert len(c1) == -(-(50 - 10) // step) + 1  # ceil((n-chunk)/step)+1
    rebuilt = c1[0]["text_chunk"].split(" ")
    for i in range(1, len(c1)):
        w = c1[i]["text_chunk"].split(" ")
        assert rebuilt[-3:] == w[:3]              # shared overlap
        rebuilt.extend(w[3:])
    assert rebuilt == toks1
    for i, r in sorted(c1.items()):
        assert r["text_chunk"].split(" ") == toks1[i * step : i * step + 10]

    assert len(chunks[2]) == 1 and chunks[2][0]["n_tokens"] == 10
    assert len(chunks[3]) == 1 and chunks[3][0]["text_chunk"] == "a b c"
    assert len(chunks[4]) == 1 and chunks[4][0]["n_tokens"] == 0
    assert chunks[4][0]["text_chunk"] == ""


def test_top_repeated_kgrams_planted(spark):
    """The planted banner's internal k-grams dominate the repeated-gram
    table, each counted once per doc with the tile-0 keeper."""
    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.dedup import top_repeated_kgrams

    banner, df = _ssd_corpus(spark, n_docs=40, banner_tokens=12)
    out = top_repeated_kgrams(df, k=6, top_n=5).collect()
    release_persisted()
    assert len(out) == 5
    btoks = banner.split(" ")
    for r in out:
        assert r["n_total"] == 40 and r["n_docs"] == 40
        assert r["keeper_id"] == 0
        # gram text is a real banner window
        g = r["gram"].split(" ")
        i = btoks.index(g[0])
        assert btoks[i : i + 6] == g


def test_unigram_surprisal_reference_and_partition_invariance(spark):
    """Hand-computable surprisal on a tiny corpus, plus the property the
    integer micro-nat design exists for: bit-identical totals at any
    partitioning (float sums would drift by summation order)."""
    import math

    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.search import unigram_surprisal

    rows = [(1, "a a b"), (2, "b c"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in unigram_surprisal(df).collect()}
    release_persisted()
    # corpus counts: a=2, b=2, c=1, N=5
    lp = {t: round(-math.log(c / 5) * 1e6) for t, c in
          {"a": 2, "b": 2, "c": 1}.items()}
    assert out[1]["surprisal_micronats"] == 2 * lp["a"] + lp["b"]
    assert out[2]["surprisal_micronats"] == lp["b"] + lp["c"]
    assert out[3]["n_tokens"] == 0 and out[3]["surprisal_micronats"] == 0
    assert out[1]["mean_surprisal_nats"] == round(
        (2 * lp["a"] + lp["b"]) / 3e6, 6
    )

    big = spark.createDataFrame(
        [(d, " ".join(f"w{(d * 7 + j) % 13}" for j in range(30)))
         for d in range(300)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, unigram_surprisal(big).collect()))
    release_persisted()
    b = sorted(map(tuple, unigram_surprisal(big.repartition(17)).collect()))
    release_persisted()
    assert a == b


def test_ivfpq_planted_recall(spark):
    """Two-stage IVF-PQ on planted near-copies: scaled/noisy twins land
    in the same coarse list as their query (identical unit direction) and
    ADC ranks them on top; deterministic across partitioning."""
    import numpy as np

    from bb_ocr_spark.operators.similarity import (
        ivfpq_topk,
        train_centroids,
        train_pq_codebooks,
    )

    rng = np.random.RandomState(11)
    n_q, dim = 20, 64
    qs = rng.randn(n_q, dim)
    rows, qrows = [], []
    vid = 1000
    for i, base in enumerate(qs):
        qrows.append((i, [float(v) for v in base]))
        for _ in range(3):
            rows.append(
                (vid, [float(v) for v in base + 0.1 * rng.randn(dim)])
            )
            vid += 1
    for _ in range(300):
        rows.append((vid, [float(v) for v in rng.randn(dim)]))
        vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(qrows, "vec_id long, embedding array<double>")

    cents = train_centroids(corpus, n_centroids=16)
    books = train_pq_codebooks(corpus, dim=dim, m=8, ksub=16)
    out = ivfpq_topk(
        corpus, queries, dim=dim, codebooks=books, k=3, n_probe=4,
        centroids=cents,
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    planted = {i: {1000 + 3 * i, 1001 + 3 * i, 1002 + 3 * i} for i in range(n_q)}
    hits = sum(len(planted[q] & got.get(q, set())) for q in planted)
    recall = hits / (3 * n_q)
    assert recall >= 0.8, recall

    again = ivfpq_topk(
        corpus.repartition(13), queries, dim=dim, codebooks=books, k=3,
        n_probe=4, centroids=cents,
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_round4_operators_degenerate_inputs(spark):
    """Empty and single-row corpora through every round-4 operator:
    graceful empty/identity results, no exceptions."""
    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.functions.text import chunk_documents
    from bb_ocr_spark.operators.dedup import (
        substring_dedup,
        top_repeated_kgrams,
    )
    from bb_ocr_spark.operators.packing import (
        assign_shards_atomic,
        materialize_shards,
    )
    from bb_ocr_spark.operators.search import (
        bm25_topk,
        token_vocab,
        unigram_surprisal,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    one = spark.createDataFrame([(1, "solo doc here")], "doc_id long, text string")

    assert substring_dedup(empty, k=3).count() == 0
    solo = substring_dedup(one, k=3).first()
    assert solo["n_dup_tokens"] == 0 and solo["text_dedup"] == "solo doc here"

    assert top_repeated_kgrams(empty, k=3).count() == 0
    assert top_repeated_kgrams(one, k=3).count() == 0  # nothing repeats

    assert token_vocab(empty).count() == 0
    assert unigram_surprisal(empty).count() == 0

    q = spark.createDataFrame([(1, "zzz_nowhere")], "query_id long, query string")
    assert bm25_topk(one, q, k=3).count() == 0  # no doc shares a term
    q2 = spark.createDataFrame([(1, "solo")], "query_id long, query string")
    hit = bm25_topk(one, q2, k=3).collect()
    assert len(hit) == 1 and hit[0]["doc_id"] == 1

    assert chunk_documents(empty).count() == 0

    w_empty = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert assign_shards_atomic(w_empty, budget=10).count() == 0
    w_one = spark.createDataFrame([(1, 3)], "doc_id long, n_tokens long")
    a = assign_shards_atomic(w_one, budget=10).first()
    assert a["shard_id"] == 0 and a["weight"] == 3
    m = materialize_shards(
        assign_shards_atomic(w_one, budget=10), one
    ).first()
    assert m["n_docs"] == 1 and m["text"] == "solo doc here"
    release_persisted()


def test_pq_code_budget_sizing(spark):
    """The PQ knob measured, not assumed: with noisier planted twins,
    doubling the subspace count (m=8 → m=16 ⇒ 32 → 64 bits/vector)
    must not lose recall and typically gains it — the sizing rule a
    corpus owner tunes against their recall target."""
    import numpy as np

    from bb_ocr_spark.operators.similarity import pq_topk, train_pq_codebooks

    rng = np.random.RandomState(23)
    n_q, dim = 15, 64
    qs = rng.randn(n_q, dim)
    rows, qrows = [], []
    vid = 1000
    for i, base in enumerate(qs):
        qrows.append((i, [float(v) for v in base]))
        for _ in range(3):
            rows.append((vid, [float(v) for v in base + 0.45 * rng.randn(dim)]))
            vid += 1
    for _ in range(400):
        rows.append((vid, [float(v) for v in rng.randn(dim)]))
        vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(qrows, "vec_id long, embedding array<double>")
    planted = {i: {1000 + 3 * i, 1001 + 3 * i, 1002 + 3 * i} for i in range(n_q)}

    def recall(m):
        books = train_pq_codebooks(corpus, dim=dim, m=m, ksub=16)
        got = {}
        for r in pq_topk(corpus, queries, books, k=3).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        hits = sum(len(planted[q] & got.get(q, set())) for q in planted)
        return hits / (3 * n_q)

    r8, r16 = recall(8), recall(16)
    assert r16 >= r8, (r8, r16)
    assert r16 >= 0.6, (r8, r16)


def test_ivfpq_residual_beats_direct(spark):
    """Residual encoding (classical IVFADC) must not lose recall vs
    direct encoding at the same bit budget on noisy planted twins —
    the codebooks only cover the residual ball, so quantization error
    shrinks. Deterministic across partitioning."""
    import numpy as np

    from bb_ocr_spark.operators.similarity import (
        ivfpq_topk,
        ivfpq_topk_residual,
        train_centroids,
        train_pq_codebooks,
        train_residual_codebooks,
    )

    rng = np.random.RandomState(31)
    n_q, dim = 15, 64
    qs = rng.randn(n_q, dim)
    rows, qrows = [], []
    vid = 1000
    for i, base in enumerate(qs):
        qrows.append((i, [float(v) for v in base]))
        for _ in range(3):
            rows.append((vid, [float(v) for v in base + 0.4 * rng.randn(dim)]))
            vid += 1
    for _ in range(400):
        rows.append((vid, [float(v) for v in rng.randn(dim)]))
        vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(qrows, "vec_id long, embedding array<double>")
    planted = {i: {1000 + 3 * i, 1001 + 3 * i, 1002 + 3 * i} for i in range(n_q)}

    cents = train_centroids(corpus, n_centroids=16)
    direct_books = train_pq_codebooks(corpus, dim=dim, m=8, ksub=16)
    res_books = train_residual_codebooks(corpus, cents, dim=dim, m=8, ksub=16)

    def recall(out):
        got = {}
        for r in out:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        hits = sum(len(planted[q] & got.get(q, set())) for q in planted)
        return hits / (3 * n_q)

    r_direct = recall(
        ivfpq_topk(
            corpus, queries, dim=dim, codebooks=direct_books, k=3,
            n_probe=4, centroids=cents,
        ).collect()
    )
    res_out = ivfpq_topk_residual(
        corpus, queries, dim=dim, centroids=cents,
        residual_books=res_books, k=3, n_probe=4,
    ).collect()
    r_res = recall(res_out)
    assert r_res >= r_direct, (r_direct, r_res)
    assert r_res >= 0.6, (r_direct, r_res)

    again = ivfpq_topk_residual(
        corpus.repartition(11), queries, dim=dim, centroids=cents,
        residual_books=res_books, k=3, n_probe=4,
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, res_out))


def test_recommend_pq_encoding_crossover(spark):
    """The measured IVFADC crossover rule (BENCH/ANN_RECALL_r05.md):
    tight coarse clusters (mean residual norm^2 < 1) -> residual
    encoding; near-isotropic data (residual ball bigger than the unit
    sphere) -> direct encoding."""
    import numpy as np

    from bb_ocr_spark.operators.similarity import (
        recommend_pq_encoding,
        train_centroids,
    )

    rng = np.random.RandomState(7)
    dim = 16
    centers = rng.randn(8, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    tight = spark.createDataFrame(
        [
            (i, [float(v) for v in centers[i % 8] + 0.1 * rng.randn(dim)])
            for i in range(200)
        ],
        "vec_id long, embedding array<double>",
    )
    iso = spark.createDataFrame(
        [(i, [float(v) for v in rng.randn(dim)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    ct = train_centroids(tight, n_centroids=8)
    ci = train_centroids(iso, n_centroids=8)
    rt = recommend_pq_encoding(tight, ct)
    ri = recommend_pq_encoding(iso, ci)
    assert rt["encoding"] == "residual" and rt["mean_residual_sq"] < 1.0
    assert ri["encoding"] == "direct" and ri["mean_residual_sq"] >= 1.0


def test_semantic_dedup_keeper_and_cap(spark):
    """SemDeDup keeper rule: scaled copies share a direction, so their
    round-6 centroid cosines tie and the id ASC tie-break keeps the
    LOWEST id; every later member of the tight group is marked dup.
    max_cluster excludes oversized clusters from pairing wholesale."""
    import numpy as np

    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(7)
    base = rng.randn(8)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x * 1.001) for x in base]),
        (2, [float(x * 0.999) for x in base]),
        # far-away singleton: lands wherever, never a dup
        (3, [float(x) for x in -base]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.stack([base / np.linalg.norm(base), -base / np.linalg.norm(base)])
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, dim=8, n_clusters=2, threshold=0.99, centroids=cents
        ).collect()
    }
    release_persisted()
    assert not out[0]["is_dup"]          # keeper: lowest id of the tied trio
    assert out[1]["is_dup"] and out[2]["is_dup"]
    assert not out[3]["is_dup"]
    assert out[0]["cluster"] == out[1]["cluster"] == out[2]["cluster"]
    assert out[3]["cluster"] != out[0]["cluster"]

    capped = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, dim=8, n_clusters=2, threshold=0.99, centroids=cents,
            max_cluster=2,
        ).collect()
    }
    release_persisted()
    # the trio's cluster (3 > cap) is excluded from pairing: no dups at all
    assert not any(r["is_dup"] for r in capped.values())


def test_perplexity_buckets_terciles_and_unsampled(spark):
    """Full sampling (sample_mod=1) gives exact per-source terciles with
    head = lowest mean surprisal; a source whose docs all miss the hash
    sample gets the explicit 'unsampled' label."""
    import hashlib

    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.search import perplexity_buckets

    # six docs of one source with strictly different token-rarity mixes
    common = "the " * 20
    rows = [(i, (common + f"rare{i}x " * (i + 1)).strip(), "a") for i in range(6)]
    # one doc in source b whose md5 bucket at mod=1000003 is nonzero
    bid = 7
    bucket = (
        int(hashlib.md5(f"ppl{bid}".encode()).hexdigest()[:15], 16) % 1000003
    )
    assert bucket != 0  # fixed input — if this ever fails, pick another id
    rows.append((bid, "some other text entirely", "b"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out = perplexity_buckets(df, sample_mod=1).collect()
    release_persisted()
    a = sorted((r for r in out if r["source"] == "a"),
               key=lambda r: (r["mean_surprisal_nats"], r["doc_id"]))
    labels = [r["ppl_bucket"] for r in a]
    assert labels == ["head", "head", "middle", "middle", "tail", "tail"]

    out2 = perplexity_buckets(df, sample_mod=1000003).collect()
    release_persisted()
    b = [r for r in out2 if r["source"] == "b"]
    assert b[0]["ppl_bucket"] == "unsampled"


def test_dsir_select_discriminates_and_empty_sample(spark):
    """DSIR weights rank target-like raw docs above junk (positive vs
    negative log importance weight) and the keep flag splits exactly
    there at keep_ratio=(1,2) with full sampling; an EMPTY hash sample
    falls back to keep-all, explicitly."""
    from pyspark.sql import functions as F

    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.selection import dsir_select

    rows = [(100 + i, "the quick history of science and art " * 3, "tgt")
            for i in range(10)]
    rows += [(i, f"the quick history of science and art volume {i}", "raw")
             for i in range(10)]
    rows += [(i, f"zzz spam buy now click here offer {i}", "raw")
             for i in range(10, 20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    tgt = F.col("source") == "tgt"

    out = {r["doc_id"]: r for r in
           dsir_select(df, tgt, sample_mod=1, keep_ratio=(1, 2)).collect()}
    release_persisted()
    assert len(out) == 20  # raw docs only
    for i in range(10):
        assert out[i]["dsir_logw_micro"] > 0 and out[i]["selected"]
    for i in range(10, 20):
        assert out[i]["dsir_logw_micro"] < 0 and not out[i]["selected"]

    # sample_mod huge -> no sampled doc -> deterministic keep-all
    out2 = dsir_select(df, tgt, sample_mod=1_000_003).collect()
    release_persisted()
    assert all(r["selected"] for r in out2)


def test_gopher_quality_each_rule(spark):
    """One planted doc per Gopher rule: the clean doc passes, each other
    doc fails exactly its targeted rule."""
    from pyspark.sql import functions as F

    from bb_ocr_spark.functions.text import gopher_quality_cols

    good = ("the quick brown fox jumps over that lazy dog and we have "
            "fun with words here today because everything reads well "
            "and the story continues with more of the same plain prose "
            "until the count of words passes fifty which it now does "
            "with room to spare for the final check of this test") \
        .replace("\n", " ")
    pad = "the and of to that have with be plain words "  # stopword-rich
    rows = [
        (0, good),                                  # keep
        (1, "too short to pass the word count"),    # rule 1: < 50 words
        (2, (pad * 5) + "#" * 40 + " " + "# " * 30),  # rule 3: symbols
        (3, "\n".join(["- bullet item " + pad] * 10) + "\nplain " + pad * 4),
        (4, "\n".join([pad + " trailing..."] * 5) + "\n" + pad * 5),
        (5, (pad * 5) + " ".join(str(i) for i in range(30))),  # rule 6
        (6, ("lorem ipsum dolor sit amet " * 12)),  # rule 7: no stopwords
        (7, pad * 3 + " " + " ".join(["supercalifragilistic"] * 40)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           df.select("doc_id", *gopher_quality_cols(F.col("text"))).collect()}

    assert out[0]["gopher_keep"]
    assert not out[1]["gopher_keep"] and out[1]["n_words"] < 50
    assert not out[2]["gopher_keep"] and out[2]["symbol_ratio"] > 0.1
    assert not out[3]["gopher_keep"] and out[3]["bullet_line_frac"] > 0.9
    assert not out[4]["gopher_keep"] and out[4]["ellipsis_line_frac"] > 0.3
    assert not out[5]["gopher_keep"] and out[5]["alpha_word_frac"] < 0.8
    assert not out[6]["gopher_keep"] and out[6]["n_stopword_hits"] < 2
    assert not out[7]["gopher_keep"] and out[7]["mean_word_len"] > 10.0


def test_gopher_repetition_rules(spark):
    """A1.2 line-repetition rules: >30% duplicate lines (or >20% of line
    chars inside duplicates) drops the doc; distinct-lined control
    passes."""
    from pyspark.sql import functions as F

    from bb_ocr_spark.functions.text import gopher_quality_cols

    pad = "the and of to that have with be plain words "
    uniq = [pad + f"line variant {i}" for i in range(10)]
    rows = [
        (0, "\n".join(uniq)),                          # keep
        (1, "\n".join(uniq[:4] + [uniq[0]] * 6)),      # 6/10 dup lines
        # one LONG line repeated once among short lines: char frac > 0.2
        # while line frac stays <= 0.3
        (2, "\n".join(uniq[:8] + [pad * 12] * 2)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           df.select("doc_id", *gopher_quality_cols(F.col("text"))).collect()}

    assert out[0]["gopher_keep"] and out[0]["dup_line_frac"] == 0.0
    assert not out[1]["gopher_keep"] and out[1]["dup_line_frac"] > 0.3
    assert not out[2]["gopher_keep"]
    assert out[2]["dup_line_frac"] <= 0.3
    assert out[2]["dup_line_char_frac"] > 0.2


def test_bpe_merges_greedy_and_tiebreak(spark):
    """Greedy left-to-right application: 'a a a' + merge (a,a) leaves
    'aa a' (count 2 -> then (aa,a)); ties on count break to the
    alphabetically smallest pair."""
    from bb_ocr_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame([(0, "a a a")], "doc_id long, text string")
    out = [tuple(r) for r in learn_bpe_merges(df, num_merges=2).collect()]
    assert out == [(1, "a", "a", 2), (2, "aa", "a", 1)]

    df2 = spark.createDataFrame(
        [(0, "b c"), (1, "a d")], "doc_id long, text string"
    )
    out2 = [tuple(r) for r in learn_bpe_merges(df2, num_merges=1).collect()]
    assert out2 == [(1, "a", "d", 1)]


def test_c4_clean_rules(spark):
    """Line rules: terminal punctuation + >=5 words + no 'javascript';
    page rules: >=3 kept lines, no 'lorem ipsum', no '{'."""
    from pyspark.sql import functions as F

    from bb_ocr_spark.functions.text import c4_clean_cols

    good_line = "this sentence has enough words to pass the filter."
    rows = [
        (0, "\n".join([good_line, good_line + "!", good_line + "?",
                       "no terminal punctuation here at all",
                       "short line.",
                       "enable javascript in your browser please now."])),
        (1, "\n".join([good_line] * 3) + "\nlorem ipsum dolor."),
        (2, "\n".join([good_line] * 3) + "\nfunction f() { return 1; }"),
        (3, "\n".join([good_line] * 2)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           df.select("doc_id", *c4_clean_cols(F.col("text"))).collect()}

    assert out[0]["c4_lines_kept"] == 3 and out[0]["c4_lines_dropped"] == 3
    assert out[0]["c4_keep"]
    assert out[0]["text_c4"] == "\n".join(
        [good_line, good_line + "!", good_line + "?"])
    assert not out[1]["c4_keep"]          # lorem ipsum page
    assert not out[2]["c4_keep"]          # '{' page
    assert out[3]["c4_lines_kept"] == 2 and not out[3]["c4_keep"]  # <3 lines


def test_bigram_surprisal_reference_and_partition_invariance(spark):
    """Hand-computable interpolated bigram surprisal on a tiny corpus
    (first token scored by the unigram, the rest by the lam=0.75
    Jelinek-Mercer mixture), plus bit-identical totals at any
    partitioning — the property the integer micro-nat design exists for."""
    import math

    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.search import bigram_surprisal

    rows = [(1, "a b a b"), (2, "b c"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_surprisal(df).collect()}
    release_persisted()
    # unigrams: a=2 b=3 c=1, N=6; bigrams: (a,b)=2 (b,a)=1 (b,c)=1
    cu = {"a": 2, "b": 3, "c": 1}
    cb = {("a", "b"): 2, ("b", "a"): 1, ("b", "c"): 1}

    def uni(t):
        return round(-math.log(cu[t] / 6) * 1e6)

    def bi(p, c):
        return round(
            -math.log(0.75 * (cb[(p, c)] / cu[p]) + 0.25 * (cu[c] / 6)) * 1e6
        )

    assert out[1]["n_tokens"] == 4
    assert out[1]["surprisal_micronats"] == (
        uni("a") + bi("a", "b") + bi("b", "a") + bi("a", "b")
    )
    assert out[2]["surprisal_micronats"] == uni("b") + bi("b", "c")
    assert out[3]["n_tokens"] == 0 and out[3]["surprisal_micronats"] == 0
    # 2464286/4e6 = 0.6160715 sits ON the .5 boundary at scale 6, where
    # Spark (HALF_UP on shortest-decimal) and python (binary-faithful)
    # legitimately differ by one ulp — compare with that tolerance; the
    # DuckDB gate is the binding cross-engine parity check
    assert (
        abs(out[1]["mean_surprisal_nats"] - out[1]["surprisal_micronats"] / 4e6)
        <= 1.1e-6
    )

    big = spark.createDataFrame(
        [(d, " ".join(f"w{(d * 7 + j) % 13}" for j in range(30)))
         for d in range(300)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, bigram_surprisal(big).collect()))
    release_persisted()
    b = sorted(map(tuple, bigram_surprisal(big.repartition(17)).collect()))
    release_persisted()
    assert a == b


def test_bpe_encode_matches_learn_and_greedy(spark):
    """Encoding the training corpus with its own merges reproduces the
    learn loop's greedy left-to-right semantics: 'a a a' -> (a,a) then
    (aa,a) -> one symbol 'aaa'; a doc the second merge can't touch
    keeps its partial encoding; empty docs encode to []."""
    from bb_ocr_spark.operators.bpe import bpe_encode, learn_bpe_merges

    df = spark.createDataFrame(
        [(0, "a a a"), (1, "b a a"), (2, "")], "doc_id long, text string"
    )
    merges = learn_bpe_merges(df, num_merges=2)
    out = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    assert list(out[0]["symbols"]) == ["aaa"] and out[0]["n_symbols"] == 1
    assert list(out[1]["symbols"]) == ["b", "aa"]
    assert list(out[2]["symbols"]) == [] and out[2]["n_symbols"] == 0


def test_quality_classifier_reference(spark):
    """Scores replay the md5 feature/weight discipline exactly: expected
    values recomputed in pure python; featureless docs keep=false; the
    keep decision is the integer comparison sum >= threshold * n."""
    import hashlib

    from bb_ocr_spark.operators.selection import (
        hashed_weights,
        quality_classifier,
    )

    def bucket(s, mod, salt):
        return int(hashlib.md5((salt + s).encode()).hexdigest()[:15], 16) % mod

    def weight(b):
        return bucket(str(b), 2001, "qcw") - 1000

    df = spark.createDataFrame(
        [(1, "a b"), (2, "c"), (3, "")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in quality_classifier(
            df, hashed_weights(spark), threshold_micro=0
        ).collect()
    }
    feats1 = [bucket(g, 4096, "qc") for g in ["a", "b", "a b"]]
    s1 = sum(weight(b) for b in feats1)
    assert out[1]["n_features"] == 3
    assert out[1]["score_sum_micro"] == s1
    assert out[1]["qc_keep"] == (s1 >= 0)
    assert out[1]["mean_score"] == round(s1 / 3e6, 6)
    s2 = weight(bucket("c", 4096, "qc"))
    assert out[2]["n_features"] == 1 and out[2]["score_sum_micro"] == s2
    assert out[3]["n_features"] == 0 and not out[3]["qc_keep"]


def test_bpe_encode_fuzz_python_reference(spark):
    """Randomized corpora vs a pure-python replica of the padded-replace
    greedy semantics: learn N merges on the corpus, encode, and compare
    every doc's symbol sequence exactly."""
    import random

    from bb_ocr_spark.operators.bpe import bpe_encode, learn_bpe_merges

    rng = random.Random("bpefuzz:7")
    vocab = ["a", "b", "c", "ab", "zz"]
    rows = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
        for d in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges_df = learn_bpe_merges(df, num_merges=4)
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in merges_df.orderBy("merge_rank").collect()
    ]

    def py_encode(text: str) -> list[str]:
        s = " " + " ".join(text.lower().split()) + " "
        for left, right in merges:
            s = s.replace(f" {left} {right} ", f" {left}{right} ")
        return [t for t in s.strip().split(" ") if t]

    out = {r["doc_id"]: list(r["symbols"])
           for r in bpe_encode(df, merges_df).collect()}
    for d, text in rows:
        assert out[d] == py_encode(text), (d, text, merges)


def test_bigram_surprisal_fuzz_python_reference(spark):
    """Randomized corpus vs a pure-python replica of the interpolated
    scoring (exact integer micro-nats, both engines' rounding)."""
    import math
    import random
    from collections import Counter

    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.search import bigram_surprisal

    rng = random.Random("bifuzz:3")
    vocab = [f"w{i}" for i in range(9)]
    rows = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 15))))
        for d in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_surprisal(df).collect()}
    release_persisted()

    cu: Counter = Counter()
    cb: Counter = Counter()
    for _, text in rows:
        t = text.split()
        cu.update(t)
        cb.update(zip(t, t[1:]))
    n = sum(cu.values())
    for d, text in rows:
        t = text.split()
        s = 0
        for i, cur in enumerate(t):
            if i == 0:
                p = cu[cur] / n
            else:
                prev = t[i - 1]
                p = 0.75 * (cb[(prev, cur)] / cu[prev]) + 0.25 * (cu[cur] / n)
            s += round(-math.log(p) * 1e6)
        assert out[d]["n_tokens"] == len(t), d
        assert out[d]["surprisal_micronats"] == s, (d, text)


def test_quality_classifier_sparse_weights(spark):
    """A pruned (sparse) weight table means weight 0 for missing buckets
    — n_features still counts every gram occurrence."""
    from bb_ocr_spark.operators.selection import quality_classifier

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    empty = spark.createDataFrame([], "bucket int, weight_micro long")
    row = quality_classifier(df, empty).collect()[0]
    assert row["n_features"] == 3  # a, b, "a b"
    # sum 0 >= threshold 0 with features present -> keep by definition
    assert row["score_sum_micro"] == 0 and row["qc_keep"]


def test_bpe_encode_multi_stage_checkpointing(spark):
    """A merge table larger than stage_size encodes through several
    checkpointed chains; output equals the single-stage plan and the
    python reference (vocab-scale structure, small corpus)."""
    from bb_ocr_spark.operators.bpe import bpe_encode

    # 150 synthetic ranked merges: c0+c1 -> c0c1, then (c0c1)+c2, ... —
    # a maximal chain so later stages depend on earlier stages' output
    chain = [f"c{i}" for i in range(151)]
    merged = chain[0]
    merges_rows = []
    for r in range(1, 151):
        merges_rows.append((r, merged, chain[r], 0))
        merged = merged + chain[r]
    mdf = spark.createDataFrame(
        merges_rows,
        "merge_rank int, left_sym string, right_sym string, pair_count long",
    )
    text = " ".join(chain)  # collapses to ONE symbol only if every
    # stage sees the previous stage's result
    df = spark.createDataFrame(
        [(1, text), (2, " ".join(chain[:75])), (3, "x y z")],
        "doc_id long, text string",
    )
    staged = {r["doc_id"]: list(r["symbols"])
              for r in bpe_encode(df, mdf, stage_size=16).collect()}
    single = {r["doc_id"]: list(r["symbols"])
              for r in bpe_encode(df, mdf, stage_size=10_000).collect()}
    assert staged == single
    assert staged[1] == ["".join(chain)]
    assert staged[2] == ["".join(chain[:75])]
    assert staged[3] == ["x", "y", "z"]


def test_unigram_surprisal_lm_frozen_model_and_oov(spark):
    """Frozen-LM scoring: hand-computed Laplace-smoothed values; every
    OOV token scores the shared maximal surprisal; the model is NOT
    retrained on the scored docs (scoring different docs leaves per-doc
    scores unchanged)."""
    import math

    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.search import (
        train_unigram_lm,
        unigram_surprisal_lm,
    )

    ref = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    lm = train_unigram_lm(ref).localCheckpoint(eager=True)
    # counts a=2 b=2 c=1 -> N=5, V=3
    held = spark.createDataFrame(
        [(10, "a zzz"), (11, ""), (12, "zzz qqq")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_surprisal_lm(held, lm).collect()}
    release_persisted()

    def lp(cnt):
        return round(-math.log((cnt + 1) / (5 + 3 + 1)) * 1e6)

    assert out[10]["surprisal_micronats"] == lp(2) + lp(0)
    assert out[10]["n_oov"] == 1
    assert out[11]["n_tokens"] == 0 and out[11]["surprisal_micronats"] == 0
    assert out[12]["surprisal_micronats"] == 2 * lp(0)
    assert out[12]["n_oov"] == 2

    # frozen: scoring a different batch doesn't change doc 10's score
    held2 = spark.createDataFrame(
        [(10, "a zzz"), (99, "c c c c c")], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: r
            for r in unigram_surprisal_lm(held2, lm).collect()}
    release_persisted()
    assert (out2[10]["surprisal_micronats"]
            == out[10]["surprisal_micronats"])


def test_perplexity_buckets_frozen_lm(spark):
    """Bucketing under a frozen reference LM: planted OOV-gibberish docs
    land in the tail of every source (their smoothed surprisal is the
    corpus maximum), and self-trained vs frozen scoring genuinely
    differ on reference-vocabulary docs."""
    from pyspark.sql import functions as F

    from bb_ocr_spark.cache import release_persisted
    from bb_ocr_spark.operators.search import (
        perplexity_buckets,
        train_unigram_lm,
    )

    ref_rows = [(1000 + i, "the plain text reads well " * 4, "ref")
                for i in range(4)]
    corpus_rows = []
    for i in range(24):
        body = ("the plain text reads well " * 3
                if i % 3 else "the text " + f"odd{i} " * 6)
        corpus_rows.append((i, body, f"src{i % 2}"))
    for i in range(4):
        corpus_rows.append((100 + i, " ".join(f"oov{i}x{j}" for j in range(20)),
                            f"src{i % 2}"))
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string, source string")
    corpus = spark.createDataFrame(
        corpus_rows, "doc_id long, text string, source string"
    )
    lm = train_unigram_lm(ref).localCheckpoint(eager=True)
    out = {
        r["doc_id"]: r
        for r in perplexity_buckets(corpus, sample_mod=1, lm=lm).collect()
    }
    release_persisted()
    for i in range(4):
        assert out[100 + i]["ppl_bucket"] == "tail", out[100 + i]
    # frozen vs self-trained scores differ (different models)
    self_out = {
        r["doc_id"]: r
        for r in perplexity_buckets(corpus, sample_mod=1).collect()
    }
    release_persisted()
    assert any(
        out[d]["mean_surprisal_nats"] != self_out[d]["mean_surprisal_nats"]
        for d in out
    )


def test_minhash_pin_gate_scale_adaptive(spark, monkeypatch, tmp_path):
    # round 6: the candidate-dedup width pin (REPARTITION_BY_NUM before
    # dropDuplicates) must fire only when the corpus size estimate says
    # AQE over-coalescing can starve cores — on a small corpus it is
    # pure overhead (A/B-measured +2.5 s at sf0.1). Results must be
    # identical either way (partitioning-invariant dedup). The fixture
    # is parquet-backed because a createDataFrame frame is a LogicalRDD,
    # whose size estimate is spark.sql.defaultSizeInBytes (Long.MaxValue
    # by default), which (correctly, conservatively) always pins.
    from bb_ocr_spark.operators import dedup as D

    rows = [
        (f"d{i}", "alpha beta gamma delta epsilon " + " ".join(f"w{i}_{j}" for j in range(4)))
        for i in range(40)
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id string, text string").write.parquet(path)
    df = spark.read.parquet(path)

    def plan_and_rows(pin_bytes):
        monkeypatch.setattr(D, "_MINHASH_PIN_BYTES", pin_bytes)
        out = D.minhash_lsh_pairs(df, num_hashes=16, bands=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = sorted(
            (r["id_a"], r["id_b"], r["est_jaccard"]) for r in out.collect()
        )
        return plan, got

    pinned_plan, pinned_rows = plan_and_rows(0)  # always pin
    free_plan, free_rows = plan_and_rows(1 << 60)  # never pin
    assert "REPARTITION_BY_NUM" in pinned_plan
    assert "REPARTITION_BY_NUM" not in free_plan
    assert pinned_rows == free_rows


def test_minhash_pin_env_knob_fails_soft(monkeypatch):
    """A malformed BB_OCR_MINHASH_PIN_BYTES falls back to the 2 MiB
    default instead of breaking the operators package import."""
    import importlib

    from bb_ocr_spark.operators import dedup as D

    try:
        monkeypatch.setenv("BB_OCR_MINHASH_PIN_BYTES", "2MB")
        assert importlib.reload(D)._MINHASH_PIN_BYTES == 2 << 20
        monkeypatch.setenv("BB_OCR_MINHASH_PIN_BYTES", "4096")
        assert importlib.reload(D)._MINHASH_PIN_BYTES == 4096
    finally:
        monkeypatch.undo()
        importlib.reload(D)
