"""Training-data operators: text analysis, dedup, similarity, multimodal."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from osm2lanes_spark.operators import dedup as D
from osm2lanes_spark.operators import multimodal as M
from osm2lanes_spark.operators import similarity as S
from osm2lanes_spark.operators import text as X


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# --- text ------------------------------------------------------------------

def test_token_count(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("  ",), ("one",)], "text string")
    got = [r["n_tokens"] for r in
           df.select(F.size(X.tokens(F.col("text"))).alias("n_tokens"))
           .collect()]
    assert got == [3, 0, 0, 1]


def test_langid(spark):
    df = spark.createDataFrame([
        (1, "the cat and the dog is in that house for it"),
        (2, "der hund und die katze ist nicht mit ein haus"),
        (3, "el gato y la casa es de los perros en que no"),
        (4, "le chat et les chiens est de que en ne pas"),
        (5, "我是在人的家里和狗就不了"),
    ], "doc_id int, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in X.with_langid(df).collect()}
    assert got == {1: "en", 2: "de", 3: "es", 4: "fr", 5: "zh"}


# --- dedup -----------------------------------------------------------------

@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "spark engine shuffles data across partitions when grouping by key"
    near = "spark engine shuffles data across partitions when grouping by a key"
    other = "completely different words about cooking pasta with tomato sauce"
    rows = [(1, base), (2, base.upper()), (3, near), (4, other),
            (5, "spark engine shuffles data across partitions when sorting by key"),
            (6, "unrelated text mentioning none of the above concepts at all")]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_dedup(spark, dup_docs):
    marked = D.exact_duplicates(dup_docs, "doc_id", "text")
    dupes = {r["doc_id"]: r["survivor_id"] for r in
             marked.where("is_duplicate").collect()}
    assert dupes == {2: 1}  # case-normalized duplicate
    assert D.dedup_exact(dup_docs, "doc_id", "text").count() == 5
    # the fingerprint collapses runs of mixed whitespace (tab, spaces)
    ws = spark.createDataFrame([(1, "a  b\tc"), (2, "A b C")],
                               "doc_id int, text string")
    fps = [r["fingerprint"] for r in
           D.exact_duplicates(ws, "doc_id", "text").collect()]
    assert fps[0] == fps[1]


def test_exact_dedup_keep_policies(spark):
    """exact_duplicates keep= parity with dedup_clusters (VERDICT r04
    #7): 'longest' keeps the longest RAW text variant of the normalized
    group (ties → min id); a Column score keeps the highest scorer; the
    min_id default is unchanged."""
    rows = [(1, "Hello   World", 5), (2, "hello world", 9),
            (3, "HELLO WORLD  !", 1), (4, "other text", 2)]
    # 1-3 normalize to... the trailing "!" differs — make 3 match:
    rows[2] = (3, "  HELLO    WORLD ", 1)
    df = spark.createDataFrame(rows, "doc_id int, text string, q int")
    base = {r["doc_id"]: (r["survivor_id"], r["is_duplicate"])
            for r in D.exact_duplicates(df, "doc_id", "text").collect()}
    assert base[1] == (1, False) and base[2] == (1, True)
    longest = {r["doc_id"]: r["survivor_id"] for r in D.exact_duplicates(
        df, "doc_id", "text", keep="longest").collect()}
    assert longest[1] == longest[2] == longest[3] == 3  # longest raw text
    assert longest[4] == 4
    scored = {r["doc_id"]: r["survivor_id"] for r in D.exact_duplicates(
        df, "doc_id", "text", keep=F.col("q")).collect()}
    assert scored[1] == scored[2] == scored[3] == 2  # q=9 wins
    kept = sorted(r["doc_id"] for r in D.dedup_exact(
        df, "doc_id", "text", keep="longest").collect())
    assert kept == [3, 4]
    with pytest.raises(ValueError, match="keep policy"):
        D.exact_duplicates(df, "doc_id", "text", keep="median")
    with pytest.raises(ValueError, match="survivor_id"):
        D.exact_duplicates(df.withColumn("survivor_id", F.lit(1)),
                           "doc_id", "text")


def test_minhash_pairs(spark, dup_docs):
    pairs = D.minhash_candidate_pairs(dup_docs, "doc_id", "text",
                                      threshold=0.3).collect()
    got = {(r["left_id"], r["right_id"]) for r in pairs}
    assert (1, 3) in got  # near-dup found
    assert all({l, r} != {4, 6} for l, r in got)  # unrelated never paired


def test_minhash_matches_bruteforce(spark, dup_docs):
    """LSH candidates ⊇ high-jaccard pairs; verified values identical."""
    brute = {(r["left_id"], r["right_id"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(dup_docs, "doc_id", "text",
                                            threshold=0.5).collect()}
    lsh = {(r["left_id"], r["right_id"]): r["jaccard"]
           for r in D.minhash_candidate_pairs(dup_docs, "doc_id", "text",
                                              threshold=0.5).collect()}
    for pair, j in brute.items():
        assert pair in lsh and lsh[pair] == j


def test_simhash(spark, dup_docs):
    # radius 16 is past the exact-banding cap (15): partial recall must
    # be requested explicitly; h=0 pairs share every band so they are
    # always recalled
    pairs = {(r["left_id"], r["right_id"]): r["hamming"]
             for r in D.simhash_pairs(dup_docs, "doc_id", "text",
                                      max_hamming=16,
                                      allow_partial=True).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 0  # normalized-identical
    assert (1, 3) in pairs  # near-dup within radius


def test_embedding_near_dup(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    rows = [(1, base.tolist()), (2, (base * 1.001 + 0.001).tolist()),
            (3, rng.standard_normal(16).tolist()),
            (4, (-base).tolist())]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id int, embedding array<double>")
    pairs = {(r["left_id"], r["right_id"]) for r in
             D.embedding_near_dup(df, threshold=0.95).collect()}
    assert pairs == {(1, 2)}


def test_bloom_contamination_no_false_negatives(spark):
    """Bloom probe vs the exact gram join: every exact hit is flagged
    (no false negatives — the Bloom guarantee), zero-gram docs report
    0/0/NULL, and the hash-join path is output-identical."""
    from osm2lanes_spark.operators.profiling import (bloom_build,
                                                     bloom_contamination,
                                                     ngram_overlap)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    ref = docs.where(F.col("doc_id") % 97 == 0)
    bloom = bloom_build(ref, n=3, m_bits=1 << 20, k=3)
    bl = bloom_contamination(corpus, bloom, n=3, m_bits=1 << 20, k=3)
    ex = ngram_overlap(corpus, ref, n=3)
    j = (bl.select("doc_id", "n_ngrams", "n_flagged")
         .join(ex.select("doc_id",
                         F.col("n_ngrams").alias("n_exact_grams"),
                         F.col("n_contaminated").alias("exact")),
               "doc_id")).collect()
    assert j, "join lost rows"
    for r in j:
        assert r["n_ngrams"] == r["n_exact_grams"]
        assert r["n_flagged"] >= r["exact"]  # Bloom: no false negatives
    hashed = bloom_contamination(corpus, bloom, n=3, m_bits=1 << 20, k=3,
                                 broadcast_bloom=False)
    assert sorted(map(tuple, hashed.collect())) == \
        sorted(map(tuple, bl.collect()))


def test_bloom_membership_tiny(spark):
    """Handcrafted filter: reference grams flag, foreign grams don't
    (m large enough that false positives are effectively impossible)."""
    from osm2lanes_spark.operators.profiling import (bloom_build,
                                                     bloom_contamination)

    ref = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(10, "alpha beta gamma delta"),      # both ref 2-grams-of-3 hit
         (11, "zeta eta theta iota kappa"),   # disjoint vocab
         (12, "x")],                          # too short: zero grams
        "doc_id long, text string")
    bloom = bloom_build(ref, n=3, m_bits=1 << 20, k=3)
    out = {r["doc_id"]: (r["n_ngrams"], r["n_flagged"])
           for r in bloom_contamination(corpus, bloom, n=3,
                                        m_bits=1 << 20, k=3).collect()}
    assert out[10] == (2, 2)
    assert out[11] == (3, 0)
    assert out[12] == (0, 0)


def test_bm25_ranking_semantics(spark):
    """BM25: rarer terms outweigh common ones, length normalization
    penalizes long docs at equal tf, k bounds the output."""
    from osm2lanes_spark.operators.profiling import bm25_topk

    rows = [
        (1, "rare common filler filler"),          # rare + common, short
        (2, "rare common " + "filler " * 20),      # same tf, much longer
        (3, "common common filler filler"),        # common only
        (4, "filler filler filler filler"),        # no query terms
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, terms=["rare", "common"], k=10)
    got = {r["doc_id"]: r["bm25"] for r in out.collect()}
    assert 4 not in got              # zero-tf docs never score
    assert got[1] > got[2]           # length normalization
    assert got[1] > got[3]           # idf: rare term beats repeated common
    assert len(bm25_topk(df, terms=["rare", "common"], k=1).collect()) == 1
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bm25_topk(df, terms=[], k=5)


def test_gopher_rules_one_rule_per_plant(spark):
    """Each planted doc violates exactly one Gopher rule; the clean
    multi-line doc passes all of them."""
    from __spark_entry__ import _GOPHER_PLANTS
    from osm2lanes_spark.operators.text import with_gopher_rules

    df = spark.createDataFrame(_GOPHER_PLANTS, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict()
           for r in with_gopher_rules(df).collect()}
    assert out[900001]["bullet_frac"] == 1.0
    assert not out[900001]["gopher_keep"]
    assert out[900002]["ellipsis_frac"] == 1.0
    assert out[900002]["symbol_ratio"] <= 0.1  # '...' counted but in band
    assert not out[900002]["gopher_keep"]
    assert out[900003]["alpha_frac"] < 0.8
    assert out[900003]["stop_hits"] >= 2  # fails ONLY the alpha rule
    assert not out[900003]["gopher_keep"]
    assert out[900004]["symbol_ratio"] > 0.1
    assert out[900004]["alpha_frac"] >= 0.8  # fails ONLY the symbol rule
    assert not out[900004]["gopher_keep"]
    assert out[900005]["gopher_keep"]
    # empty text: every rule fails closed, nothing divides by zero
    empty = with_gopher_rules(spark.createDataFrame(
        [(1, ""), (2, "   ")], "doc_id long, text string")).collect()
    assert all(not r["gopher_keep"] and r["n_words"] == 0 for r in empty)


def test_semantic_dedup_keep_lowest_id(spark):
    """SemDeDup prunes within a cluster only, keeps the lowest id of each
    near-dup group, and never drops rows from the relation."""
    rng = np.random.default_rng(7)
    a, b = rng.standard_normal(16), rng.standard_normal(16)
    rows = [(1, a), (2, a * 1.001 + 0.0005), (3, a * 0.999),  # dup group
            (4, b), (5, -a)]  # b: own cluster; -a: same axis, cos=-1
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id int, embedding array<double>")
    cent = spark.createDataFrame(
        [(0, [float(x) for x in a]), (1, [float(x) for x in b])],
        "centroid_id int, centroid array<double>")
    out = {r["vec_id"]: (r["cluster_id"], r["keep"])
           for r in D.semantic_dedup(df, cent, threshold=0.95).collect()}
    assert len(out) == 5  # no row dropped, callers filter on keep
    assert out[1] == (0, True)       # group survivor = lowest id
    assert out[2] == (0, False) and out[3] == (0, False)
    assert out[4] == (1, True)       # singleton cluster survives
    assert out[5][1] is True         # anti-parallel: cosine -1 < threshold


def test_semantic_dedup_with_kmeans_centroids(spark):
    """The trained path: kmeans_fit centroids feed semantic_dedup; planted
    near-dups are pruned, the natural corpus (cos<<0.95) is untouched."""
    from osm2lanes_spark.operators.similarity import kmeans_fit

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>"))
           .select("vec_id", "embedding"))
    planted = (emb.where(F.col("vec_id") < 5)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       F.transform(F.col("embedding"),
                                   lambda x: x + F.lit(0.01))
                       .alias("embedding")))
    both = emb.unionByName(planted)
    cent = kmeans_fit(emb, k=4, iterations=2).select(
        "centroid_id", "centroid")
    out = D.semantic_dedup(both, cent, threshold=0.95)
    dropped = {r["vec_id"] for r in out.where(~F.col("keep")).collect()}
    # each planted twin lands in its original's cluster -> pruned
    assert dropped == {100000, 100001, 100002, 100003, 100004}


# --- similarity ------------------------------------------------------------

@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .withColumn("embedding", F.col("embedding").cast("array<double>")))


def test_cosine_topk_exact(spark, embeddings):
    corpus = embeddings.limit(200)
    queries = (corpus.limit(5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = S.cosine_topk(queries, corpus, k=3)
    rows = out.collect()
    assert len(rows) == 15
    # verify one query against numpy brute force
    data = {r["vec_id"]: np.array(r["embedding"]) for r in corpus.collect()}
    qid = rows[0]["query_id"]
    q = data[qid] / np.linalg.norm(data[qid])
    sims = {vid: float(q @ (v / np.linalg.norm(v)))
            for vid, v in data.items() if vid != qid}
    want = [v for v, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:3]]
    got = [r["vec_id"] for r in sorted(rows, key=lambda r: r["rank"])
           if r["query_id"] == qid]
    assert got == want


def test_ivf_recall(spark, embeddings):
    corpus = embeddings.limit(300)
    queries = (corpus.limit(10)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = {(r["query_id"], r["vec_id"])
             for r in S.cosine_topk(queries, corpus, k=1).collect()}
    approx = {(r["query_id"], r["vec_id"])
              for r in S.ivf_topk(queries, corpus, k=1, n_centroids=8,
                                  nprobe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF top-1 recall too low: {recall}"


# --- multimodal ------------------------------------------------------------

def test_multimodal_plumbing(spark):
    media = M.synth_media(spark, [f"media://{i:04d}" for i in range(20)])
    feats = M.feature_extract_stage(media, dim=8).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-5
    # determinism: same ref → same feature
    again = M.feature_extract_stage(media, dim=8).collect()
    assert {r["media_ref"]: r["feature"] for r in feats} == \
           {r["media_ref"]: r["feature"] for r in again}


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        M.decode_media(b"xx", "image")


# --- round-2 hardening: zero-norm guards, centroid selection ----------------

def test_zero_norm_embedding_not_dropped(spark):
    """All-zero embeddings must map to cosine 0 (excluded by threshold),
    not NaN rows silently vanishing (ADVICE r01 #5)."""
    rng = np.random.default_rng(5)
    base = rng.standard_normal(8)
    df = spark.createDataFrame(
        [(1, [float(x) for x in base]),
         (2, [float(x) for x in base * 2.0]),
         (3, [0.0] * 8)],
        "vec_id int, embedding array<double>")
    pairs = {(r["left_id"], r["right_id"]): r["cosine"]
             for r in D.embedding_near_dup(df, dim=8, planes=16, bands=4,
                                           threshold=0.9).collect()}
    assert (1, 2) in pairs
    out = S.cosine_topk(
        df.where("vec_id = 3").select(F.col("vec_id").alias("query_id"),
                                      "embedding"),
        df, k=2).collect()
    assert len(out) == 2
    assert all(r["cosine"] == 0.0 for r in out)  # zero vector → cosine 0


def test_select_centroids_no_global_sort(spark, embeddings):
    """Centroid sampling must be one partial (map-combinable) aggregate —
    never a full-corpus orderBy().limit() (VERDICT r01 #5) and never a
    count-then-filter multi-job probe."""
    from osm2lanes_spark.operators.similarity import select_centroids, with_unit

    corpus = with_unit(embeddings.limit(300), "embedding", "_cv").select(
        "vec_id", "_cv")
    cents = select_centroids(corpus, "vec_id", 8)
    plan = cents._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    # bucketed argmin: the corpus-wide pass is a map-combinable
    # HashAggregate over a long-only buffer (never a SortAggregate, which
    # would per-partition-sort the whole corpus; never a global
    # TakeOrderedAndProject), then a broadcast join-back for the vectors
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    assert "TakeOrderedAndProject" not in plan
    assert "BroadcastHashJoin" in plan
    rows = cents.collect()
    assert len(rows) == 8
    assert sorted(r["centroid_id"] for r in rows) == list(range(1, 9))
    # deterministic across re-runs AND across repartitionings (the argmin
    # key is a pure function of the row id)
    again = select_centroids(corpus.repartition(13), "vec_id", 8).collect()
    assert {r["centroid_id"]: r["_centroid"] for r in rows} == \
        {r["centroid_id"]: r["_centroid"] for r in again}


def test_ivf_exhaustive_probe_equals_brute_force(spark, embeddings):
    """nprobe == n_centroids probes every cluster: IVF must return exactly
    the brute-force ranking (the oracle configuration of ann_ivf)."""
    corpus = embeddings.limit(200)
    queries = (corpus.limit(5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = sorted((r["query_id"], r["vec_id"], r["rank"])
                   for r in S.cosine_topk(queries, corpus, k=3).collect())
    ivf = sorted((r["query_id"], r["vec_id"], r["rank"])
                 for r in S.ivf_topk(queries, corpus, k=3, n_centroids=8,
                                     nprobe=8).collect())
    assert ivf == exact


def test_simhash_banding_exact_within_guarantee(spark, dup_docs):
    """8 bands of 8 bits guarantee (pigeonhole) that every pair with
    hamming <= 7 shares a band — banded output must EQUAL brute force
    (pins the recall gap flagged in VERDICT r01 #3)."""
    sig = D.simhash_signatures(dup_docs, "doc_id", "text")
    l = sig.select(F.col("id").alias("left_id"), F.col("sim").alias("ls"))
    r = sig.select(F.col("id").alias("right_id"), F.col("sim").alias("rs"))
    brute = (l.crossJoin(r).where(F.col("left_id") < F.col("right_id"))
             .withColumn("hamming",
                         F.bit_count(F.col("ls").bitwiseXOR(F.col("rs"))))
             .where(F.col("hamming") <= 7))
    want = {(x["left_id"], x["right_id"], x["hamming"])
            for x in brute.collect()}
    got = {(x["left_id"], x["right_id"], x["hamming"])
           for x in D.simhash_pairs(dup_docs, max_hamming=7,
                                    bands=8).collect()}
    assert got == want


def test_simhash_md5_flavor(spark, dup_docs):
    """The oracle-checkable md5 hash flavor finds the same structural
    duplicates (identical normalized text → hamming 0) as xxhash64."""
    pairs = {(r["left_id"], r["right_id"]): r["hamming"]
             for r in D.simhash_pairs(dup_docs, "doc_id", "text",
                                      max_hamming=7, bands=8,
                                      hash_fn="md5").collect()}
    assert pairs[(1, 2)] == 0  # normalized-identical docs


def test_minhash_candidate_first_equals_rescan(spark, sf_dir):
    """Both verify shapes produce identical pairs on a real file-scan
    corpus, and the auto gate picks by input size: rescan for a small
    scan (round-2 A/B showed the re-shingle is cheaper there),
    candidate_first once the scan dominates (min_rescan_bytes forced to 0
    here to exercise the large-corpus branch)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rescan = {(r["left_id"], r["right_id"]): r["jaccard"]
              for r in D.minhash_candidate_pairs(
                  docs, "doc_id", "text", threshold=0.5,
                  verify="rescan").collect()}
    cand_first = {(r["left_id"], r["right_id"]): r["jaccard"]
                  for r in D.minhash_candidate_pairs(
                      docs, "doc_id", "text", threshold=0.5,
                      verify="candidate_first").collect()}
    assert rescan == cand_first and len(rescan) > 0
    # auto on a small corpus = rescan (no checkpoint jobs): same output
    auto_small = {(r["left_id"], r["right_id"]): r["jaccard"]
                  for r in D.minhash_candidate_pairs(
                      docs, "doc_id", "text", threshold=0.5).collect()}
    assert auto_small == rescan
    # auto with the size gate forced open = candidate_first branch
    auto_large = {(r["left_id"], r["right_id"]): r["jaccard"]
                  for r in D.minhash_candidate_pairs(
                      docs, "doc_id", "text", threshold=0.5,
                      min_rescan_bytes=0).collect()}
    assert auto_large == rescan


def test_minhash_auto_gate_unit(spark, sf_dir):
    """_input_bytes returns real sizes for file scans and None for local
    relations (which must fall back to rescan)."""
    import os
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nbytes = D._input_bytes(docs)
    assert nbytes == os.path.getsize(f"{sf_dir}/documents.parquet")
    local = spark.createDataFrame([(1, "x")], "doc_id int, text string")
    assert D._input_bytes(local) is None


def test_decode_media_real_image_backend(spark):
    """The real PIL decode path of feature_extract_stage(use_fake=False):
    a PNG generated in-memory round-trips through the Arrow stage with the
    same feature contract as fake_decode. Skips cleanly where PIL is
    absent (this container)."""
    import pytest

    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    from osm2lanes_spark.operators.multimodal import (MEDIA_SCHEMA,
                                                      decode_media,
                                                      feature_extract_stage)

    img = Image.fromarray(
        (np.arange(256, dtype=np.uint8).reshape(16, 16)), mode="L")
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    payload = buf.getvalue()
    media = spark.createDataFrame(
        [("media://t1", "image", bytearray(payload),
          {"width": 16, "height": 16, "sample_rate": 0,
           "n_frames": 1, "codec": "png"})], MEDIA_SCHEMA)
    out = feature_extract_stage(media, dim=8, use_fake=False).collect()
    assert len(out) == 1
    feats = np.array(out[0]["feature"], np.float32)
    assert feats.shape == (8,) and abs(feats.sum() - 1.0) < 1e-5
    assert np.allclose(feats, decode_media(payload, "image", 8))


def test_decode_media_raises_without_backend():
    """Where no codec library exists, decode_media declares itself
    unimplemented instead of silently faking."""
    import pytest

    from osm2lanes_spark.operators import multimodal as M

    try:
        import PIL  # noqa: F401
        pytest.skip("PIL present — the raising branch is unreachable")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        M.decode_media(b"\x00" * 16, "image")
    with pytest.raises(NotImplementedError):
        M.decode_media(b"\x00" * 16, "nosuchkind")


def test_connected_components_known_graph(spark):
    """Chain, triangle, pair, plus corpus singletons: components are the
    min member; singletons map to themselves via dedup_clusters."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4),        # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (21, 20)],                     # pair (reversed order)
        "left_id long, right_id long")
    comp = {r["id"]: r["component"]
            for r in D.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10,
                    20: 20, 21: 20}
    docs = spark.createDataFrame([(i, f"t{i}") for i in (1, 3, 10, 50, 99)],
                                 "doc_id long, text string")
    out = {r["doc_id"]: (r["component"], r["is_duplicate"])
           for r in D.dedup_clusters(docs, pairs).collect()}
    assert out == {1: (1, False), 3: (1, True), 10: (10, False),
                   50: (50, False), 99: (99, False)}


def test_connected_components_random_vs_union_find(spark):
    """Property check: 300 random edges over 120 nodes — Spark components
    equal a driver-side union-find ground truth."""
    import random

    rng = random.Random(3)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(300)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "left_id long, right_id long")

    parent = list(range(120))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    truth = {n: find(n) for n in nodes}
    # canonicalize to min member per root
    roots = {}
    for n, r in truth.items():
        roots.setdefault(r, set()).add(n)
    expect = {n: min(roots[r] | {r}) for n, r in truth.items()}
    got = {r["id"]: r["component"]
           for r in D.connected_components(pairs).collect()}
    assert got == expect


def test_hash_split_deterministic_and_proportional(spark):
    from osm2lanes_spark.operators.sampling import hash_split

    df = spark.range(20000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    assert a == b  # pure function of the id
    from collections import Counter
    c = Counter(a.values())
    assert abs(c["train"] / 20000 - 0.8) < 0.02
    assert abs(c["val"] / 20000 - 0.1) < 0.02
    assert abs(c["test"] / 20000 - 0.1) < 0.02
    # custom weights renormalize
    two = hash_split(df, "doc_id", {"a": 3.0, "b": 1.0})
    c2 = Counter(r["split"] for r in two.collect())
    assert abs(c2["a"] / 20000 - 0.75) < 0.02


def test_mixture_sample_exact_multiset(spark):
    from osm2lanes_spark.operators.sampling import mixture_sample
    import hashlib

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {"a": 2.25, "b": 0.5, "c": 0.0}
    got = mixture_sample(df, rates, id_col="doc_id", seed=7,
                         default_rate=1.0).collect()

    def u(i):
        m = hashlib.md5(f"{i}:7".encode()).hexdigest()
        return int(m[:8], 16) / 2**32

    import math
    expect = {}
    for i, s in rows:
        r = rates[s]
        n = int(math.floor(r)) + (1 if u(i) < r - math.floor(r) else 0)
        if n:
            expect[i] = n
    counts = {}
    for row in got:
        counts[row["doc_id"]] = counts.get(row["doc_id"], 0) + 1
        assert 0 <= row["mix_copy"] < expect[row["doc_id"]]
    assert counts == expect  # exact multiset, engine-independent
    # copy indices are each of 0..n-1 exactly once
    copies = {}
    for row in got:
        copies.setdefault(row["doc_id"], []).append(row["mix_copy"])
    assert all(sorted(v) == list(range(len(v))) for v in copies.values())
    # c (rate 0) fully dropped
    assert all(r["source"] != "c" for r in got)


def test_mixture_sample_guards(spark):
    from osm2lanes_spark.operators.sampling import mixture_sample
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with _pytest.raises(ValueError, match="negative rate"):
        mixture_sample(df, {"a": -0.5})
    with _pytest.raises(ValueError, match="already exists"):
        mixture_sample(df.withColumn("mix_copy", F.lit(0)), {"a": 1.0})
    # default_rate=0 with empty rates drops everything
    assert mixture_sample(df, {}, default_rate=0.0).count() == 0


def test_stratified_sample_exact_counts_and_determinism(spark):
    from osm2lanes_spark.operators.sampling import stratified_sample
    import hashlib

    # strata: 'big' 600 rows, 'small' 4 rows (< n), NULL stratum 40 rows
    rows = ([(i, "big") for i in range(600)]
            + [(1000 + i, "small") for i in range(4)]
            + [(2000 + i, None) for i in range(40)])
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def u(i):
        m = hashlib.md5(f"{i}:5".encode()).hexdigest()
        return int(m[:8], 16) / 2**32

    expect = {}
    for s in ("big", "small", None):
        ids = [i for i, src in rows if src == s]
        ids.sort(key=lambda i: (u(i), i))
        expect[s] = set(ids[:10])

    got = stratified_sample(df, 10, strata_col="source",
                            id_col="doc_id", seed=5).collect()
    by_s = {}
    for r in got:
        by_s.setdefault(r["source"], set()).add(r["doc_id"])
    assert by_s == {k: v for k, v in expect.items() if v}
    assert len(by_s["big"]) == 10 and len(by_s["small"]) == 4
    assert len(by_s[None]) == 10

    # prefilter path == naive windowed path
    naive = stratified_sample(df, 10, strata_col="source",
                              id_col="doc_id", seed=5,
                              prefilter=False).collect()
    assert {(r["source"], r["doc_id"]) for r in naive} \
        == {(r["source"], r["doc_id"]) for r in got}


def test_stratified_sample_undershoot_fallback(spark):
    from osm2lanes_spark.operators.sampling import stratified_sample

    # _margin=0.05 makes the prefilter threshold tiny for the 200-row
    # stratum, forcing the exactness fallback to re-run it unfiltered;
    # the result must STILL be exactly n per stratum
    rows = ([(i, "a") for i in range(200)]
            + [(500 + i, "b") for i in range(30)]
            + [(900 + i, None) for i in range(25)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    forced = stratified_sample(df, 8, strata_col="source",
                               id_col="doc_id", seed=1, _margin=0.05)
    clean = stratified_sample(df, 8, strata_col="source",
                              id_col="doc_id", seed=1, prefilter=False)
    assert {(r["source"], r["doc_id"]) for r in forced.collect()} \
        == {(r["source"], r["doc_id"]) for r in clean.collect()}


def test_contiguous_packs_semantics(spark):
    from osm2lanes_spark.operators.packing import contiguous_packs

    rows = [(i, "s", 600) for i in range(10)]  # 600 tokens each
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    got = {r["doc_id"]: r["pack_id"]
           for r in contiguous_packs(df, "n", budget=2048,
                                     part_col="source").collect()}
    # offsets 0,600,...,5400 → pack = offset // 2048
    assert got == {i: (600 * i) // 2048 for i in range(10)}
    # no part_col: single global packing
    got2 = {r["doc_id"]: r["pack_id"]
            for r in contiguous_packs(df, "n", budget=1200).collect()}
    assert got2 == {i: (600 * i) // 1200 for i in range(10)}


def test_contiguous_packs_two_pass_matches_one_window(spark):
    """The range-partitioned two-pass prefix sum (VERDICT r03 #1) is
    byte-identical to the naive one-window formulation, on a skewed key
    distribution (one source holds ~90% of the docs) forced across many
    range partitions."""
    from pyspark.sql import Window

    from osm2lanes_spark.operators.packing import contiguous_packs

    rng = np.random.default_rng(7)
    rows = [(int(i), "crawl" if i % 10 else f"s{i % 3}",
             int(rng.integers(1, 900))) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    for part_col in ("source", None):
        keys = ([F.col(part_col)] if part_col else []) + [F.col("doc_id")]
        w = (Window.partitionBy(*([part_col] if part_col else [F.lit(1)]))
             .orderBy("doc_id")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        want = {r["doc_id"]: r["pack_id"] for r in df.withColumn(
            "pack_id",
            F.floor((F.sum("n").over(w) - F.col("n")) / 2048)).collect()}
        got = {r["doc_id"]: r["pack_id"]
               for r in contiguous_packs(df, "n", budget=2048,
                                         part_col=part_col,
                                         num_partitions=13).collect()}
        assert got == want


def test_exact_greedy_packs(spark):
    """exact=True: no pack exceeds the budget unless a single oversize
    doc does; packing is greedy in doc_id order; on uniform inputs where
    the budget is a multiple of the doc size it equals the offset
    variant (no overflow possible)."""
    from collections import defaultdict

    from osm2lanes_spark.operators.packing import contiguous_packs

    rng = np.random.default_rng(11)
    rows = [(int(i), f"s{i % 3}", int(rng.integers(50, 1500)))
            for i in range(300)] + [(900, "s0", 9000)]  # one oversize doc
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    out = contiguous_packs(df, "n", budget=2048, part_col="source",
                           exact=True).collect()
    fill = defaultdict(int)
    members = defaultdict(list)
    for r in out:
        fill[(r["source"], r["pack_id"])] += r["n"]
        members[(r["source"], r["pack_id"])].append(r["doc_id"])
    for key, tot in fill.items():
        assert tot <= 2048 or members[key] == [900], (key, tot)
    # greedy in order: pack ids are non-decreasing along doc_id per source
    by_source = defaultdict(list)
    for r in sorted(out, key=lambda r: r["doc_id"]):
        by_source[r["source"]].append(r["pack_id"])
    for seq in by_source.values():
        assert seq == sorted(seq)
    # uniform input, budget % size == 0 → identical to the offset variant
    uni = spark.createDataFrame([(int(i), "s", 512) for i in range(40)],
                                "doc_id long, source string, n long")
    exact = {r["doc_id"]: r["pack_id"]
             for r in contiguous_packs(uni, "n", 2048, part_col="source",
                                       exact=True).collect()}
    offset = {r["doc_id"]: r["pack_id"]
              for r in contiguous_packs(uni, "n", 2048,
                                        part_col="source").collect()}
    assert exact == offset
    # global exact packing (part_col=None) is supported since r05: the
    # boundary chase is distributed, not a per-key sequential task
    guni = {r["doc_id"]: r["pack_id"]
            for r in contiguous_packs(uni, "n", 2048, exact=True).collect()}
    assert guni == {i: i // 4 for i in range(40)}
    # an output-column collision raises instead of silently duplicating;
    # so do the reserved internals (they would be silently overwritten)
    with pytest.raises(ValueError, match="pack_id"):
        contiguous_packs(uni.withColumn("pack_id", F.lit(0)), "n", 2048,
                         part_col="source")
    with pytest.raises(ValueError, match="__pid"):
        contiguous_packs(uni.withColumn("__pid", F.lit(0)), "n", 2048,
                         part_col="source")


def test_contiguous_packs_null_part_keys(spark):
    """A NULL partition key is a legal group (unsourced docs): the
    prefix join must be null-safe — a plain equi-join would silently
    DROP every NULL-keyed row (round-4 review)."""
    from osm2lanes_spark.operators.packing import contiguous_packs

    rows = ([(i, None, 600) for i in range(8)]
            + [(100 + i, "s", 600) for i in range(4)])
    df = spark.createDataFrame(rows, "doc_id long, source string, n long")
    out = contiguous_packs(df, "n", budget=2048, part_col="source",
                           num_partitions=5).collect()
    assert len(out) == 12  # nothing dropped
    got = {r["doc_id"]: r["pack_id"] for r in out}
    assert got == {**{i: (600 * i) // 2048 for i in range(8)},
                   **{100 + i: (600 * i) // 2048 for i in range(4)}}
    # exact path keeps the NULL group too (null-safe joins throughout)
    ex = contiguous_packs(df, "n", budget=2048, part_col="source",
                          exact=True).collect()
    assert len(ex) == 12


def test_exact_packs_match_sequential_reference(spark):
    """The distributed exact packer (prefix-sum boundary jumps + pointer
    doubling, VERDICT r04 #1) must reproduce the sequential greedy
    recurrence EXACTLY — including the adversarial shapes the jump
    formulation could get wrong: zero-token docs (empty intervals,
    including right after an oversize doc), oversize docs (straddler ==
    self → successor boundary), packs that fit the budget exactly, and
    heavy key skew across many range partitions."""
    from osm2lanes_spark.operators.packing import (
        _sequential_greedy_reference, contiguous_packs)

    rng = np.random.default_rng(23)
    for trial, (budget, n) in enumerate([(500, 400), (128, 300), (1, 60)]):
        toks = rng.integers(0, 180, size=n)
        toks[rng.integers(0, n, size=n // 12)] = 0          # zero-token
        toks[rng.integers(0, n, size=n // 15)] = budget * 3  # oversize
        toks[rng.integers(0, n, size=n // 15)] = budget      # exact fit
        rows = [(int(i), "crawl" if i % 10 else f"s{i % 4}", int(toks[i]))
                for i in range(n)]
        df = spark.createDataFrame(rows,
                                   "doc_id long, source string, n long")
        want = {r["doc_id"]: r["pack_id"]
                for r in _sequential_greedy_reference(
                    df, "n", budget, "doc_id", "source").collect()}
        got = {r["doc_id"]: r["pack_id"]
               for r in contiguous_packs(df, "n", budget, exact=True,
                                         part_col="source",
                                         num_partitions=7).collect()}
        assert got == want, (trial, budget)
        # global (part_col=None): reference = single-key wrap
        want_g = {r["doc_id"]: r["pack_id"]
                  for r in _sequential_greedy_reference(
                      df.withColumn("g", F.lit("x")), "n", budget,
                      "doc_id", "g").collect()}
        got_g = {r["doc_id"]: r["pack_id"]
                 for r in contiguous_packs(df, "n", budget, exact=True,
                                           num_partitions=7).collect()}
        assert got_g == want_g, (trial, budget)
    # all-zero-token corpus: one pack per key, no interval owners at all
    z = spark.createDataFrame([(i, "s" if i % 2 else None, 0)
                               for i in range(20)],
                              "doc_id long, source string, n long")
    got_z = {(r["source"], r["pack_id"])
             for r in contiguous_packs(z, "n", 100, exact=True,
                                       part_col="source").collect()}
    assert got_z == {("s", 0), (None, 0)}


def test_label_centroids_matches_numpy(spark, sf_dir):
    import numpy as np

    from osm2lanes_spark.operators.similarity import label_centroids

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .withColumn("embedding", F.col("embedding").cast("array<double>")))
    got = {(r["label"], r["pos"]): (r["mean"], r["n"])
           for r in label_centroids(emb).collect()}
    pdf = emb.toPandas()
    for label, grp in pdf.groupby("label"):
        m = np.stack(grp["embedding"].to_numpy())
        means = m.mean(axis=0)
        for pos in range(m.shape[1]):
            mean, n = got[(label, pos)]
            assert n == len(grp)
            assert abs(mean - means[pos]) < 1e-9


def test_connected_components_long_chain_and_id_collision(spark):
    """A 60-node chain (diameter ≫ linear-round budget) converges via
    pointer jumping, and dedup_clusters works when id_col is literally
    named 'id' (round-3 review findings #1/#4)."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "left_id long, right_id long")
    comp = {r["id"]: r["component"]
            for r in D.connected_components(chain, max_iter=10).collect()}
    assert comp == {i: 0 for i in range(61)}
    docs = spark.createDataFrame([(i, f"t{i}") for i in (0, 30, 60, 99)],
                                 "id long, text string")
    out = {r["id"]: (r["component"], r["is_duplicate"])
           for r in D.dedup_clusters(docs, chain, id_col="id").collect()}
    assert out == {0: (0, False), 30: (0, True), 60: (0, True),
                   99: (99, False)}


def test_connected_components_string_ids(spark):
    """String doc ids (the norm for dedup — 'case/0030#r1'-style) must
    work: the r03 convergence witness cast ids to decimal, which crashes
    under ANSI mode and silently false-converges otherwise (ADVICE r03
    high). The change-join witness is type-agnostic; a 13-node chain
    forces multiple propagation rounds."""
    pairs = spark.createDataFrame(
        [(f"doc/n{i:02d}#r1", f"doc/n{i + 1:02d}#r1") for i in range(12)]
        + [("z/1", "z/2")], "left_id string, right_id string")
    comp = {r["id"]: r["component"]
            for r in D.connected_components(pairs).collect()}
    assert all(comp[f"doc/n{i:02d}#r1"] == "doc/n00#r1" for i in range(13))
    assert comp["z/1"] == comp["z/2"] == "z/1"


def test_iterative_ops_bound_block_storage(spark):
    """Iterative operators must not accumulate every round's checkpoint
    in block storage (VERDICT r04 #5): after a multi-round run, only the
    blocks the returned plan still reads may remain persisted."""
    from osm2lanes_spark.operators.packing import contiguous_packs
    from osm2lanes_spark.util import _persistent_rdd_ids

    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    chain = spark.createDataFrame([(i, i + 1) for i in range(60)],
                                  "left_id long, right_id long")
    comp = D.connected_components(chain, max_iter=10)
    leftover = _persistent_rdd_ids(sc) - before
    # a 60-chain takes ~6 pointer-jumping rounds; without the frees the
    # edge table plus every round's prop and labels would linger — only
    # the final labels leaf may remain
    assert len(leftover) <= 3, leftover
    assert comp.count() == 61  # the result is still computable

    before = _persistent_rdd_ids(sc)
    df = spark.createDataFrame(
        [(int(i), "s" if i % 7 else None, int(1 + i % 40))
         for i in range(400)], "doc_id long, source string, n long")
    packed = contiguous_packs(df, "n", budget=64, part_col="source",
                              exact=True)
    leftover = _persistent_rdd_ids(sc) - before
    # exact packing: base + final borders remain (the returned plan
    # reads them); the range stage and every doubling round's J/B are
    # freed eagerly
    assert len(leftover) <= 4, leftover
    assert packed.count() == 400


def test_dedup_clusters_keep_policy(spark):
    """keep='longest' / keep=<Column> survivor policies (VERDICT r03 #4):
    survivor_id is the cluster member with the best score (ties → min
    id), is_duplicate is defined against it; min_id default unchanged."""
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "left_id long, right_id long")
    docs = spark.createDataFrame(
        [(1, "aa", 0.1), (2, "bbbb", 0.9), (3, "ccc", 0.5),
         (7, "dd", 0.3), (8, "dd", 0.3), (9, "solo", 1.0)],
        "doc_id long, text string, quality double")
    longest = {r["doc_id"]: (r["survivor_id"], r["is_duplicate"])
               for r in D.dedup_clusters(docs, pairs,
                                         keep="longest").collect()}
    assert longest[2] == (2, False) and longest[1] == (2, True)
    assert longest[7] == (7, False) and longest[8] == (7, True)  # tie → min id
    assert longest[9] == (9, False)
    scored = {r["doc_id"]: r["survivor_id"]
              for r in D.dedup_clusters(docs, pairs,
                                        keep=F.col("quality")).collect()}
    assert scored[1] == scored[2] == scored[3] == 2
    # keep='longest' follows text_col like every other dedup entry point
    renamed = {r["doc_id"]: r["survivor_id"]
               for r in D.dedup_clusters(
                   docs.withColumnRenamed("text", "body"), pairs,
                   keep="longest", text_col="body").collect()}
    assert renamed[1] == 2
    with pytest.raises(ValueError, match="keep"):
        D.dedup_clusters(docs, pairs, keep="bogus")
    # min_id default keeps its r03 schema (no survivor_id column)
    assert "survivor_id" not in D.dedup_clusters(docs, pairs).columns


def test_dedup_clusters_rejects_output_collision(spark):
    """An input already carrying an output column would make the result
    ambiguous — raise early instead (ADVICE r03 low)."""
    pairs = spark.createDataFrame([(1, 2)], "left_id long, right_id long")
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="component"):
        D.dedup_clusters(docs.withColumn("component", F.lit(0)), pairs)
    with pytest.raises(ValueError, match="is_duplicate"):
        D.dedup_clusters(docs.withColumn("is_duplicate", F.lit(False)),
                         pairs)
    # survivor_id only reserved for the policies that emit it
    sdocs = docs.withColumn("survivor_id", F.lit(0))
    D.dedup_clusters(sdocs, pairs)  # min_id: fine
    with pytest.raises(ValueError, match="survivor_id"):
        D.dedup_clusters(sdocs, pairs, keep="longest")


def test_simhash_auto_widens_bands(spark, dup_docs):
    """A radius above the requested bands' guarantee auto-widens the band
    count (VERDICT r03 #3) — the result must still EQUAL brute force, and
    no UserWarning fires. allow_partial=True keeps the requested bands
    (recall may drop, precision never does)."""
    import warnings

    sig = D.simhash_signatures(dup_docs, "doc_id", "text")
    l = sig.select(F.col("id").alias("left_id"), F.col("sim").alias("ls"))
    r = sig.select(F.col("id").alias("right_id"), F.col("sim").alias("rs"))
    brute = {(x["left_id"], x["right_id"], x["hamming"]) for x in
             (l.crossJoin(r).where(F.col("left_id") < F.col("right_id"))
              .withColumn("hamming",
                          F.bit_count(F.col("ls").bitwiseXOR(F.col("rs"))))
              .where(F.col("hamming") <= 12)).collect()}
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        got = {(x["left_id"], x["right_id"], x["hamming"])
               for x in D.simhash_pairs(dup_docs, max_hamming=12,
                                        bands=8).collect()}
    assert got == brute
    partial = {(x["left_id"], x["right_id"], x["hamming"])
               for x in D.simhash_pairs(dup_docs, max_hamming=12, bands=8,
                                        allow_partial=True).collect()}
    assert partial <= brute
    # widening is capped at 16 bands (beyond, 1-2-bit bands degenerate
    # to an all-pairs join): radius > 15 raises without allow_partial
    with pytest.raises(ValueError, match="allow_partial"):
        D.simhash_pairs(dup_docs, max_hamming=16)
    with pytest.raises(ValueError, match="allow_partial"):
        D.simhash_pairs(dup_docs, max_hamming=64)


def test_minhash_auto_gate_requires_bare_scan(spark, sf_dir):
    """verify='auto' only sizes BARE file scans (ADVICE r03 low): a
    filtered/derived input would report the unfiltered files' bytes and
    pay its whole upstream pipeline for the row count."""
    scan = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert D._is_bare_scan(scan)
    assert D._is_bare_scan(scan.select("doc_id", "text"))
    assert not D._is_bare_scan(scan.where(F.col("doc_id") < 10))
    assert not D._is_bare_scan(scan.groupBy("source").count())
    assert not D._is_bare_scan(scan.join(scan.select("doc_id"), "doc_id"))


# ---------------------------------------------------------------------------
# line_dedup (cross-document boilerplate removal)
# ---------------------------------------------------------------------------

def _line_docs(spark):
    return spark.createDataFrame(
        [(1, "SITE NAV | HOME\nunique one\n\nCopyright 2024"),
         (2, "site   nav | home\nunique two\nCopyright 2024"),
         (3, "SITE NAV | HOME\nunique three"),
         (4, None),
         (5, "SITE NAV | HOME")],
        "doc_id long, text string")


def test_line_dedup_removes_cross_doc_lines_preserves_order(spark):
    out = {r.doc_id: r for r in
           D.line_dedup(_line_docs(spark), min_docs=3).collect()}
    # the nav header appears (normalized) in docs 1,2,3,5 → removed;
    # the copyright line only in 1,2 → kept at min_docs=3
    assert out[1].clean_text == "unique one\n\nCopyright 2024"
    assert out[2].clean_text == "unique two\nCopyright 2024"
    assert out[3].clean_text == "unique three"
    assert (out[1].n_lines, out[1].n_removed_lines) == (4, 1)
    # blank line in doc 1 survives (below min_line_chars)
    assert out[4].clean_text is None and out[4].n_lines is None
    # doc 5 is ALL boilerplate → empty string, not null
    assert out[5].clean_text == "" and out[5].n_removed_lines == 1


def test_line_dedup_min_docs_two_and_hash_path(spark):
    docs = _line_docs(spark)
    bcast = {(r.doc_id, r.clean_text)
             for r in D.line_dedup(docs, min_docs=2).collect()}
    hashp = {(r.doc_id, r.clean_text)
             for r in D.line_dedup(docs, min_docs=2,
                                   broadcast_fingerprints=False).collect()}
    assert bcast == hashp
    got = dict(bcast)
    # at min_docs=2 the copyright footer goes too
    assert got[1] == "unique one\n"
    assert got[2] == "unique two"


def test_line_dedup_paragraph_mode(spark):
    df = spark.createDataFrame(
        [(1, "shared para\n\nunique a"), (2, "shared para\n\nunique b"),
         (3, "solo\n\nunique c")],
        "doc_id long, text string")
    out = {r.doc_id: r.clean_text
           for r in D.line_dedup(df, min_docs=2, sep="\n\n").collect()}
    assert out == {1: "unique a", 2: "unique b", 3: "solo\n\nunique c"}


def test_line_dedup_validation(spark):
    df = _line_docs(spark)
    with pytest.raises(ValueError, match="min_docs"):
        D.line_dedup(df, min_docs=0)
    with pytest.raises(ValueError, match="min_line_chars"):
        D.line_dedup(df, min_line_chars=0)
    with pytest.raises(ValueError, match="already exist"):
        D.line_dedup(df.withColumn("n_lines", F.lit(1)))


def test_line_dedup_plan_shape(spark):
    """Broadcast default: the fingerprint set must come back as a
    broadcast join (no full-data shuffle by fingerprint); the doc-freq
    aggregates must partial-combine map-side."""
    plan = (D.line_dedup(_line_docs(spark), min_docs=2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan or "HashAggregate" in plan


# ---------------------------------------------------------------------------
# duplicate_spans / strip_duplicate_spans (Lee et al. 2022 style)
# ---------------------------------------------------------------------------

def _span_docs(spark):
    # docs 1 and 2 share the 6-token run "a b c d e f"; doc 3 shares
    # nothing; doc 4 is shorter than k; doc 5 is an exact copy of doc 1
    # except one trailing token
    return spark.createDataFrame(
        [(1, "a b c d e f x1 y1 z1 w1"),
         (2, "p q a b c d e f r s"),
         (3, "u v w aa bb cc dd ee ff gg"),
         (4, "a b c"),
         (5, "a b c d e f x1 y1 z1 OTHER"),
         (6, None),
         (7, "   \t  ")],
        "doc_id long, text string")


def test_duplicate_spans_known_overlap(spark):
    # k=4: flagged windows are every 4-gram inside each shared run
    spans = {(r.doc_id, r.span_start, r.span_end, r.n_windows)
             for r in D.duplicate_spans(_span_docs(spark), k=4).collect()}
    # doc1 shares "a b c d e f" with doc2 (pos 0-5) AND
    # "a b c d e f x1 y1 z1" with doc5 (pos 0-8): union span 0-8
    assert (1, 0, 8, 6) in spans
    # doc2's shared run sits at pos 2-7: windows at 2,3,4 → span 2-7
    assert (2, 2, 7, 3) in spans
    # doc5 shares pos 0-8 with doc1
    assert (5, 0, 8, 6) in spans
    # docs 3,4,6,7 contribute nothing
    assert {d for d, *_ in spans} == {1, 2, 5}


def test_duplicate_spans_merge_rule(spark):
    # two flagged k=2 windows at gap exactly k merge (coverage touches);
    # at gap > k they split
    df = spark.createDataFrame(
        [(1, "s1 s2 g1 s3 s4 q1 q2 q3 s5 s6"),
         (2, "s1 s2 x s3 s4 y s5 s6")],
        "doc_id long, text string")
    spans = {(r.doc_id, r.span_start, r.span_end)
             for r in D.duplicate_spans(df, k=2).collect()}
    # doc1: flagged windows at 0 (s1 s2), 3 (s3 s4), 8 (s5 s6):
    # 3-0=3 > k=2 → split; 8-3=5 > 2 → split: three separate spans
    assert {(1, 0, 1), (1, 3, 4), (1, 8, 9)} <= spans
    # doc2: windows at 0, 3, 6 → all gaps 3 > 2 → three spans
    assert {(2, 0, 1), (2, 3, 4), (2, 6, 7)} <= spans


def test_duplicate_spans_touching_windows_merge(spark):
    df = spark.createDataFrame(
        [(1, "a1 a2 b1 b2 zz"), (2, "a1 a2 yy xx ww"),
         (3, "qq b1 b2 rr tt")],
        "doc_id long, text string")
    # k=2: doc1 windows flagged at 0 ("a1 a2", shared w/ doc2) and
    # 2 ("b1 b2", shared w/ doc3); gap 2 == k → coverage [0,1]+[2,3]
    # touches → ONE span 0-3
    spans = {(r.doc_id, r.span_start, r.span_end, r.n_windows)
             for r in D.duplicate_spans(df, k=2).collect()}
    assert (1, 0, 3, 2) in spans


def test_duplicate_spans_hash_path_matches_broadcast(spark):
    docs = _span_docs(spark)
    a = {tuple(r) for r in D.duplicate_spans(docs, k=4).collect()}
    b = {tuple(r) for r in D.duplicate_spans(
        docs, k=4, broadcast_fingerprints=False).collect()}
    assert a == b


def test_strip_duplicate_spans_semantics(spark):
    out = {r.doc_id: r for r in
           D.strip_duplicate_spans(_span_docs(spark), k=4).collect()}
    # doc1: span 0-8 removed → only w1 survives
    assert out[1].clean_text == "w1"
    assert (out[1].n_tokens, out[1].n_removed_tokens) == (10, 9)
    # doc2: pos 2-7 removed → p q r s
    assert out[2].clean_text == "p q r s"
    # unflagged docs pass through VERBATIM (whitespace intact)
    assert out[3].clean_text == "u v w aa bb cc dd ee ff gg"
    assert out[7].clean_text == "   \t  "
    assert out[7].n_removed_tokens == 0
    # null text stays null
    assert out[6].clean_text is None and out[6].n_removed_tokens is None


def test_strip_duplicate_spans_fully_covered_doc(spark):
    df = spark.createDataFrame(
        [(1, "c1 c2 c3 c4"), (2, "c1 c2 c3 c4")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           D.strip_duplicate_spans(df, k=4).collect()}
    assert out[1].clean_text == "" and out[1].n_removed_tokens == 4
    assert out[2].clean_text == "" and out[2].n_removed_tokens == 4


def test_duplicate_spans_validation(spark):
    df = _span_docs(spark)
    with pytest.raises(ValueError, match="k must be"):
        D.duplicate_spans(df, k=0)
    with pytest.raises(ValueError, match="min_docs"):
        D.duplicate_spans(df, min_docs=0)
    with pytest.raises(ValueError, match="already exist"):
        D.strip_duplicate_spans(df.withColumn("n_tokens", F.lit(1)))


def test_duplicate_spans_plan_shape(spark):
    """Fingerprint frequencies must partial-combine map-side and the
    flagged set must join back broadcast (default)."""
    plan = (D.duplicate_spans(_span_docs(spark), k=4)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan or "HashAggregate" in plan


# ---------------------------------------------------------------------------
# with_classifier_score (hashed-feature linear quality model)
# ---------------------------------------------------------------------------

def _clf_docs(spark):
    return spark.createDataFrame(
        [(1, "spark makes the table fast"),
         (2, "slow slow slow"),
         (3, ""), (4, "   \t "), (5, None)],
        "doc_id long, text string")


def test_classifier_score_hashed_matches_python(spark):
    import hashlib
    import math

    out = {r.doc_id: r.clf_score for r in
           X.with_classifier_score(_clf_docs(spark), n_buckets=64,
                                   seed=7).collect()}

    def py_score(text):
        toks = text.split()
        if not toks:
            return 0.5
        ws = []
        for t in toks:
            b = int(hashlib.md5(f"b:7:{t}".encode()).hexdigest()[:8],
                    16) % 64
            u = int(hashlib.md5(f"w:7:{b}".encode()).hexdigest()[:8],
                    16) / 2**32
            ws.append(u * 2 - 1)
        return 1 / (1 + math.exp(-sum(ws) / len(ws)))

    assert out[1] == pytest.approx(py_score("spark makes the table fast"))
    assert out[2] == pytest.approx(py_score("slow slow slow"))
    # no tokens → mean 0 → sigmoid(0) = 0.5; NULL text → NULL
    assert out[3] == 0.5 and out[4] == 0.5
    assert out[5] is None


def test_classifier_score_trained_weights(spark):
    docs = _clf_docs(spark)
    words = spark.createDataFrame(
        [("spark", 4.0), ("slow", -4.0)], "word string, weight double")
    weights = words.select(
        X.token_bucket(F.col("word"), 1 << 16, 0).alias("bucket"),
        "weight")
    out = {r.doc_id: r.clf_score for r in
           X.with_classifier_score(docs, weights=weights,
                                   n_buckets=1 << 16).collect()}
    # doc1: one +4 hit over 5 tokens → sigmoid(0.8); doc2: mean -4
    import math
    assert out[1] == pytest.approx(1 / (1 + math.exp(-0.8)))
    assert out[2] == pytest.approx(1 / (1 + math.exp(4.0)))
    assert out[3] == 0.5 and out[4] == 0.5 and out[5] is None

    hashp = {r.doc_id: r.clf_score for r in
             X.with_classifier_score(docs, weights=weights,
                                     n_buckets=1 << 16,
                                     broadcast_weights=False).collect()}
    assert out == hashp


def test_classifier_score_validation(spark):
    docs = _clf_docs(spark)
    with pytest.raises(ValueError, match="n_buckets"):
        X.with_classifier_score(docs, n_buckets=0)
    with pytest.raises(ValueError, match="already exists"):
        X.with_classifier_score(docs.withColumn("clf_score", F.lit(1.0)))


def test_classifier_score_plan_shapes(spark):
    docs = _clf_docs(spark)
    # hashed path: pure Catalyst, ZERO exchanges
    plan = (X.with_classifier_score(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, plan
    # trained path: the weight vector joins broadcast
    words = spark.createDataFrame([("spark", 1.0)],
                                  "word string, weight double")
    weights = words.select(
        X.token_bucket(F.col("word"), 1 << 16, 0).alias("bucket"),
        "weight")
    plan = (X.with_classifier_score(docs, weights=weights)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# select_to_budget / cap_per_key (corpus selection)
# ---------------------------------------------------------------------------

def test_select_to_budget_semantics(spark):
    from osm2lanes_spark.operators.packing import select_to_budget

    df = spark.createDataFrame(
        [(1, "a", 400), (2, "a", 500), (3, "a", 200), (4, "a", 50),
         (5, "b", 1200), (6, "b", 1)],
        "doc_id long, source string, n long")
    out = {r.doc_id: r.selected
           for r in select_to_budget(df, "n", budget=1000,
                                     order_col="doc_id",
                                     part_col="source").collect()}
    # source a: 400 ok (400), 500 ok (900), 200 overflows (1100) →
    # excluded AND everything after it too (greedy prefix, not knapsack)
    assert out == {1: True, 2: True, 3: False, 4: False,
                   5: False, 6: False}


def test_select_to_budget_global_and_edges(spark):
    from osm2lanes_spark.operators.packing import select_to_budget

    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, 5)], "doc_id long, n long")
    got = {r.doc_id: r.selected
           for r in select_to_budget(df, "n", budget=10).collect()}
    # 10 fits exactly; the 0-token doc rides along; 5 overflows
    assert got == {1: True, 2: True, 3: False}
    none = {r.doc_id: r.selected
            for r in select_to_budget(df, "n", budget=0).collect()}
    # budget 0 still selects zero-cost prefix rows after a break:
    # doc1 (10 > 0) breaks immediately → everything excluded
    assert none == {1: False, 2: False, 3: False}
    with pytest.raises(ValueError, match="budget"):
        select_to_budget(df, "n", budget=-1)
    with pytest.raises(ValueError, match="already exist"):
        select_to_budget(df.withColumn("selected", F.lit(True)),
                         "n", budget=10)


def test_select_to_budget_plan_no_per_key_window(spark):
    from osm2lanes_spark.operators.packing import select_to_budget

    df = spark.createDataFrame(
        [(i, "s", 10) for i in range(100)],
        "doc_id long, source string, n long")
    plan = (select_to_budget(df, "n", budget=100, part_col="source")
            ._jdf.queryExecution().executedPlan().toString())
    # the full-data shuffle is the checkpointed RANGE stage (shows as
    # Scan ExistingRDD — the contiguous_packs shape); the data-bearing
    # window is keyed by __pid, never hash-partitioned on the key alone
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "hashpartitioning(__pid" in plan, plan
    # (the only hash exchange on the bare key feeds the O(#partitions)
    # SUBTOTAL window — tiny by construction); never a single partition
    assert "Exchange SinglePartition" not in plan, plan


def test_cap_per_key_both_flavors(spark):
    from osm2lanes_spark.operators.sampling import cap_per_key

    df = spark.createDataFrame(
        [(i, "a" if i < 8 else "b") for i in range(12)],
        "doc_id long, source string")
    plain = {(r.doc_id, r.kept)
             for r in cap_per_key(df, "source", 3).collect()}
    safe = {(r.doc_id, r.kept)
            for r in cap_per_key(df, "source", 3,
                                 scale_safe=True).collect()}
    assert plain == safe
    kept = {d for d, k in plain if k}
    # first 3 of a (0,1,2) and first 3 of b (8,9,10)
    assert kept == {0, 1, 2, 8, 9, 10}


def test_cap_per_key_edges(spark):
    from osm2lanes_spark.operators.sampling import cap_per_key

    df = spark.createDataFrame([(1, "a"), (2, None)],
                               "doc_id long, source string")
    # NULL is a legal key group in both flavors
    for flavor in (False, True):
        got = {r.doc_id: r.kept
               for r in cap_per_key(df, "source", 1,
                                    scale_safe=flavor).collect()}
        assert got == {1: True, 2: True}
    zero = {r.kept for r in cap_per_key(df, "source", 0).collect()}
    assert zero == {False}
    with pytest.raises(ValueError, match="cap"):
        cap_per_key(df, "source", -1)
    with pytest.raises(ValueError, match="already exists"):
        cap_per_key(df.withColumn("kept", F.lit(True)), "source", 1)


# ---------------------------------------------------------------------------
# kmeans_fit (distributed spherical Lloyd's)
# ---------------------------------------------------------------------------

def _np_spherical_kmeans(X, C, iters):
    """Independent NumPy reference: unit vectors, argmax-dot assignment
    (ties to the lowest centroid id), mean + renormalize, empty
    clusters keep their previous centroid."""
    def unit(M):
        n = np.linalg.norm(M, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return M / n

    Xu, C = unit(X.astype(float)), unit(C.astype(float))
    for _ in range(iters):
        a = np.argmax(Xu @ C.T, axis=1)
        for j in range(len(C)):
            members = Xu[a == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    C[j] = m / n
    return C


def test_kmeans_fit_matches_numpy_reference(spark):
    rng = np.random.RandomState(42)
    X = np.vstack([rng.normal(loc, 0.3, size=(20, 4))
                   for loc in (-2.0, 0.0, 2.0)])
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init_np = X[[0, 20, 40]].copy()
    init = spark.createDataFrame(
        [(j, [float(x) for x in init_np[j]]) for j in range(3)],
        "centroid_id int, centroid array<double>")

    got = {r.centroid_id: np.array(r.centroid) for r in
           S.kmeans_fit(df, k=3, iterations=4, init=init).collect()}
    want = _np_spherical_kmeans(X, init_np, 4)
    for j in range(3):
        assert np.allclose(got[j], want[j], atol=1e-9), (j, got[j], want[j])


def test_kmeans_fit_empty_cluster_and_counts(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    # centroid 9 points AWAY from every vector → never assigned →
    # keeps its init verbatim (unit-normalized)
    init = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (9, [-1.0, -1.0])],
        "centroid_id int, centroid array<double>")
    out = {r.centroid_id: r for r in
           S.kmeans_fit(df, k=3, iterations=2, init=init).collect()}
    assert out[9].n_assigned == 0
    assert np.allclose(out[9].centroid,
                       np.array([-1.0, -1.0]) / np.sqrt(2))
    assert out[0].n_assigned == 2 and out[1].n_assigned == 1


def test_kmeans_fit_tol_early_stop_and_validation(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    # with each point its own cluster the fit converges after one
    # iteration; a huge tol must not change the answer, just stop early
    init = spark.createDataFrame(
        [(0, [1.0, 0.1]), (1, [0.1, 1.0])],
        "centroid_id int, centroid array<double>")
    a = {r.centroid_id: list(r.centroid) for r in
         S.kmeans_fit(df, k=2, iterations=8, init=init).collect()}
    b = {r.centroid_id: list(r.centroid) for r in
         S.kmeans_fit(df, k=2, iterations=8, init=init,
                      tol=1e-12).collect()}
    assert a == b
    with pytest.raises(ValueError, match="k must be"):
        S.kmeans_fit(df, k=0)
    with pytest.raises(ValueError, match="iterations"):
        S.kmeans_fit(df, k=2, iterations=-1)


def test_ivf_trained_centroids_exhaustive_probe_is_exact(spark, embeddings):
    """With nprobe == n_centroids IVF must equal brute force regardless
    of centroid quality — trained centroids included."""
    queries = embeddings.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cents = S.kmeans_fit(embeddings, k=4, iterations=2)
    exact = {(r.query_id, r.vec_id, r.rank) for r in
             S.cosine_topk(queries, embeddings, k=5).collect()}
    ivf = {(r.query_id, r.vec_id, r.rank) for r in
           S.ivf_topk(queries, embeddings, k=5, nprobe=4,
                      centroids=cents.where(F.col("n_assigned") >= 0)
                      ).collect()}
    assert ivf == exact


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

def _dsir_python_reference(docs, target_ids, n_buckets=4096, seed=0,
                           alpha=1.0):
    """Pure-Python replica of dsir_resample's ``dsir_logw``: hashed
    unigram+bigram buckets, add-alpha smoothed target/raw log-ratio,
    per-doc sum."""
    import hashlib
    import math as m

    def bucket(gram):
        h = hashlib.md5(f"b:{seed}:{gram}".encode()).hexdigest()
        return int(h[:8], 16) % n_buckets

    def doc_buckets(text):
        toks = [t for t in text.lower().split(" ") if t]
        grams = list(toks)
        grams += [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
        return [bucket(g) for g in grams]

    qc, pc = {}, {}
    for did, text in docs:
        if text is None:
            continue
        for b in doc_buckets(text):
            qc[b] = qc.get(b, 0) + 1
            if did in target_ids:
                pc[b] = pc.get(b, 0) + 1
    tq, tp = sum(qc.values()), sum(pc.values())

    def lr(b):
        return (m.log(pc.get(b, 0) + alpha)
                - m.log(tp + alpha * n_buckets)
                - m.log(qc.get(b, 0) + alpha)
                + m.log(tq + alpha * n_buckets))

    out = {}
    for did, text in docs:
        if text is None:
            out[did] = None
        else:
            out[did] = sum(lr(b) for b in doc_buckets(text))
    return out


def test_dsir_logratio_matches_python_reference(spark):
    from osm2lanes_spark.operators.sampling import dsir_resample

    rows = [(1, "the quick brown fox"), (2, "spark shuffles data"),
            (3, "quick fox quick fox"), (4, ""), (5, None),
            (6, "brown fox jumps high")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.where("doc_id IN (1, 6)")
    got = {r.doc_id: r.dsir_logw
           for r in dsir_resample(df, target, k=1,
                                  n_buckets=4096).collect()}
    want = _dsir_python_reference(rows, {1, 6})
    assert got[5] is None and want[5] is None
    assert got[4] == 0.0
    for did in (1, 2, 3, 6):
        assert abs(got[did] - want[did]) < 1e-9, (did, got[did], want[did])


def test_dsir_resample_prefers_target_like_docs(spark):
    from osm2lanes_spark.operators.sampling import dsir_resample

    # raw corpus: half "code"-flavored, half "prose"-flavored; target
    # is prose — prose docs must out-score code docs on raw logw
    rows = ([(i, "def func return value lambda stack") for i in range(10)]
            + [(i, "the gentle river flows through quiet meadows")
               for i in range(10, 20)])
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(100, "the river flows through the quiet green meadows")],
        "doc_id long, text string")
    scored = {r.doc_id: r.dsir_logw
              for r in dsir_resample(df, target, k=1,
                                     n_buckets=4096).collect()}
    worst_prose = min(scored[i] for i in range(10, 20))
    best_code = max(scored[i] for i in range(10))
    assert worst_prose > best_code, scored


def test_dsir_resample_edges_and_validation(spark):
    import pytest as _pt

    from osm2lanes_spark.operators.sampling import dsir_resample

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, None)],
        "doc_id long, text string")
    target = df.where("doc_id = 1")
    # k = 0: nothing selected; k >= non-null rows: all non-null selected
    assert dsir_resample(df, target, k=0).where("selected").count() == 0
    sel = {r.doc_id: r.selected
           for r in dsir_resample(df, target, k=10).collect()}
    assert sel == {1: True, 2: True, 3: False}
    # exactly k selected when k < candidates
    assert dsir_resample(df, target, k=1).where("selected").count() == 1
    with _pt.raises(ValueError, match="k must be"):
        dsir_resample(df, target, k=-1)
    with _pt.raises(ValueError, match="alpha"):
        dsir_resample(df, target, k=1, alpha=0.0)
    with _pt.raises(ValueError, match="n_buckets"):
        dsir_resample(df, target, k=1, n_buckets=0)
    with _pt.raises(ValueError, match="ns"):
        dsir_resample(df, target, k=1, ns=())
    with _pt.raises(ValueError, match="already exist"):
        dsir_resample(df.withColumn("dsir_logw", F.lit(0.0)), target, k=1)
    with _pt.raises(ValueError, match="already exist"):
        dsir_resample(df.withColumn("dsir_key", F.lit(0.0)), target, k=1)


def test_dsir_plan_shape(spark):
    from osm2lanes_spark.operators.sampling import dsir_resample

    df = spark.createDataFrame(
        [(i, f"token{i % 7} token{i % 3} filler") for i in range(200)],
        "doc_id long, text string")
    target = df.where("doc_id % 10 = 0")
    plan = (dsir_resample(df, target, k=20)
            ._jdf.queryExecution().executedPlan().toString())
    # the scored slim relation is checkpointed: both the threshold and
    # the flag read Scan ExistingRDD instead of recomputing the fits
    assert plan.count("Scan ExistingRDD") >= 2, plan
    # threshold is TakeOrdered (local top-k + driver merge), never a
    # global sort or single-partition window
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011)
# ---------------------------------------------------------------------------

def test_pq_encode_known_values(spark):
    # 4-dim vectors, m=2, dsub=2; codebooks chosen so the nearest code
    # is obvious per subspace
    cb = spark.createDataFrame(
        [(0, 0, [0.0, 0.0]), (0, 1, [10.0, 10.0]),
         (1, 0, [0.0, 0.0]), (1, 1, [-5.0, -5.0])],
        "sub int, code_id int, centroid array<double>")
    df = spark.createDataFrame(
        [(1, [9.0, 9.0, -4.0, -6.0]), (2, [1.0, -1.0, 0.5, 0.5])],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: list(r.pq_code)
           for r in S.pq_encode(df, cb).collect()}
    assert got == {1: [1, 1], 2: [0, 0]}
    # equidistant ties resolve to the LOWEST code id (quantized argmin)
    tie = spark.createDataFrame([(3, [5.0, 5.0, -2.5, -2.5])],
                                "vec_id long, embedding array<double>")
    assert S.pq_encode(tie, cb).first().pq_code == [0, 0]
    with pytest.raises(ValueError, match="already exist"):
        S.pq_encode(df.withColumn("pq_code", F.lit(0)), cb)


def test_pq_adc_self_match_and_recall(spark, embeddings):
    emb = embeddings.withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    cb = S.pseudo_codebooks(spark, m=4, k=8, dsub=16)
    coded = S.pq_encode(emb, cb)
    q = (emb.where("vec_id < 5")
         .select(F.col("vec_id").alias("query_id"), "embedding"))
    top = S.pq_adc_topk(q, coded, cb, k=5).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        assert len(rows) == 5
        # ADC(query, its own vector) is minimal among vectors sharing
        # fewer codebook cells — the self vector must make the top-k
        assert any(r.vec_id == qid for r in rows), (qid, rows)
        ranks = sorted(r.rank for r in rows)
        assert ranks == [1, 2, 3, 4, 5]


def test_pq_validation(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])],
                               "vec_id long, embedding array<double>")
    ragged = spark.createDataFrame(
        [(0, 0, [0.0, 0.0]), (1, 0, [0.0])],
        "sub int, code_id int, centroid array<double>")
    with pytest.raises(ValueError, match="ragged"):
        S.pq_encode(df, ragged)
    empty = spark.createDataFrame(
        [], "sub int, code_id int, centroid array<double>")
    with pytest.raises(ValueError, match="empty codebooks"):
        S.pq_encode(df, empty)


def test_weighted_sample_semantics(spark):
    """Gumbel-top-k weighted sampling: exactly k selected, zero/NULL
    weights never chosen, heavy weights dominate the selection
    frequency across seeds, and k ≥ candidates selects all."""
    from osm2lanes_spark.operators.sampling import weighted_sample

    rows = [(i, 100.0 if i < 10 else 1.0) for i in range(110)]
    rows += [(200, 0.0), (201, None)]
    df = spark.createDataFrame(rows, "doc_id long, w double")

    out = weighted_sample(df, k=20, weight_col="w")
    sel = [r["doc_id"] for r in out.where("selected").collect()]
    assert len(sel) == 20
    assert 200 not in sel and 201 not in sel
    # heavy ids (w=100, 10 of them) should essentially all be chosen
    assert sum(1 for i in sel if i < 10) >= 8

    # k >= candidate count -> everything with positive weight
    alls = weighted_sample(df, k=500, weight_col="w")
    assert alls.where("selected").count() == 110
    # deterministic across invocations
    again = weighted_sample(df, k=20, weight_col="w")
    assert sorted(sel) == sorted(
        r["doc_id"] for r in again.where("selected").collect())
    # different seed -> (almost surely) different light-weight picks
    other = weighted_sample(df, k=20, weight_col="w", seed=1)
    osel = [r["doc_id"] for r in other.where("selected").collect()]
    assert len(osel) == 20


def test_weighted_sample_guards(spark):
    from osm2lanes_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame([(1, 2.0)], "doc_id long, w double")
    try:
        weighted_sample(df, k=-1, weight_col="w")
        assert False, "expected ValueError"
    except ValueError:
        pass
    clash = df.withColumn("selected", F.lit(True))
    try:
        weighted_sample(clash, k=1, weight_col="w")
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_jaccard_prefix_matches_bruteforce(spark, dup_docs):
    """The PPJoin prefix filter is lossless: the prefix-join scale path
    returns EXACTLY the all-pairs result at every threshold tried (this
    equivalence is what lets jaccard_prefix share ngram_jaccard's
    oracle), and its plan contains no cross product."""
    for t in (0.2, 0.5, 0.8, 1.0):
        brute = {(r["left_id"], r["right_id"]): r["jaccard"]
                 for r in D.ngram_jaccard_pairs(
                     dup_docs, "doc_id", "text", threshold=t).collect()}
        pref = {(r["left_id"], r["right_id"]): r["jaccard"]
                for r in D.jaccard_prefix_pairs(
                    dup_docs, "doc_id", "text", threshold=t).collect()}
        assert pref == brute, t
    plan = (D.jaccard_prefix_pairs(dup_docs, "doc_id", "text")
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    with pytest.raises(ValueError, match="threshold"):
        D.jaccard_prefix_pairs(dup_docs, threshold=0.0)
