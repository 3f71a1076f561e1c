"""M8 operator tests: dedup, similarity, text, multimodal, streaming rollup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from thanos_parquet_gateway_spark.operators import dedup, similarity, text
from thanos_parquet_gateway_spark.operators.multimodal import (
    documents_as_media,
    extract_features,
    media_metadata_stats,
)
from thanos_parquet_gateway_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_exact_dedup_partition_of_corpus(docs):
    d = dedup.exact_dedup(docs)
    total = d.agg(F.sum("n_copies")).collect()[0][0]
    assert total == docs.count()
    assert d.count() <= docs.count()


def test_minhash_is_jaccard_estimator(spark):
    """Identical docs → identical signatures; disjoint docs → distinct."""
    rows = [(1, "a b c d e f g h"), (2, "a b c d e f g h"),
            (3, "q r s t u v w x")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = dedup.minhash_signatures(df).collect()
    by_doc = {}
    for r in sig:
        by_doc.setdefault(r["doc_id"], {})[r["seed"]] = r["minhash"]
    assert by_doc[1] == by_doc[2]
    assert by_doc[1] != by_doc[3]


def test_lsh_finds_exact_duplicates(spark):
    rows = [(1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different text with other words entirely here now")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r["doc_a"], r["doc_b"])
             for r in dedup.lsh_candidate_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_embedding_near_dup_default_is_bucketed(spark, sf_dir):
    """The default near-dup path must be the banded-LSH equi-join (no
    cartesian product in the plan) and, on this corpus, still find exactly
    the all-pairs result set (verified recall 1)."""
    import io
    from contextlib import redirect_stdout

    from thanos_parquet_gateway_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    df = similarity.embedding_near_dup_pairs(emb, threshold=0.35)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan
    # recall check at the loose test threshold needs 1-bit bands (the
    # defaults target real ≥0.9 near-dup thresholds)
    got = {(r["id_a"], r["id_b"])
           for r in similarity.embedding_near_dup_pairs(
               emb, threshold=0.35, bands=8, bits_per_band=1).collect()}
    want = {(r["id_a"], r["id_b"])
            for r in similarity.embedding_near_dup_pairs(
                emb, threshold=0.35, all_pairs=True).collect()}
    assert got == want and want


def test_lsh_hot_bucket_cap(spark):
    """Degenerate-bucket guard: 10k identical boilerplate docs share every
    band key — uncapped, that one bucket expands ~5·10⁷ pairs in a single
    task.  With the cap, the bucket is dropped (reported via Observation,
    never silently) while honest near-dup pairs elsewhere survive."""
    from pyspark.sql import Observation

    boiler = [(i, "all work and no play makes jack a dull boy indeed")
              for i in range(10_000)]
    honest = [(100_001, "one singular sensation every little step she takes"),
              (100_002, "one singular sensation every little step she takes")]
    df = spark.createDataFrame(boiler + honest, ["doc_id", "text"])
    obs = Observation("lsh_skew")
    pairs = dedup.lsh_candidate_pairs(df, max_bucket=100, observation=obs)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (100_001, 100_002) in got
    assert len(got) == 1                      # boilerplate bucket dropped
    assert obs.get["dropped_buckets"] >= 1    # ...and the drop is reported
    assert obs.get["max_bucket_size"] == 10_000
    # cap high enough → nothing dropped, all pairs intact (default path)
    small = spark.createDataFrame(boiler[:5] + honest, ["doc_id", "text"])
    all_pairs = dedup.lsh_candidate_pairs(small).collect()
    assert len(all_pairs) == 10 + 1           # C(5,2) boiler + 1 honest


def test_lsh_wide_path_matches_md5_row_path(spark, sf_dir):
    """The wide xxhash fast path (one groupBy(doc_id), min-agg per seed,
    band keys from aggregated columns) must produce the SAME candidate pairs
    as the md5 row formulation — per-seed minhash ranks agree between the
    two min-wise families only in expectation, so compare bucket structure
    per family via identical pair sets on a corpus with planted dups."""
    docs = load_table(spark, sf_dir, "documents").limit(200)
    wide = {(r["doc_a"], r["doc_b"]) for r in
            dedup.lsh_candidate_pairs(docs, hash_family="xxhash").collect()}
    # row formulation of the same xxhash family, reconstructed inline:
    # explode seeds → min per (doc, seed) → band key over sorted vector
    from pyspark.sql import functions as FF
    sig = dedup.minhash_signatures(docs, hash_family="xxhash")
    banded = sig.withColumn("band", (FF.col("seed") / 2).cast("int"))
    bkey = FF.xxhash64(FF.array_sort(
        FF.collect_list(FF.struct("seed", "minhash"))))
    bk = banded.groupBy("doc_id", "band").agg(bkey.alias("band_key"))
    buckets = (bk.groupBy("band", "band_key")
               .agg(FF.array_sort(FF.collect_list("doc_id")).alias("ids"))
               .filter(FF.size("ids") > 1))
    row_pairs = set()
    for r in buckets.collect():
        ids = r["ids"]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                row_pairs.add((ids[i], ids[j]))
    assert wide == row_pairs


def test_lsh_wide_path_remainder_band(spark, sf_dir):
    """Non-divisible parameters (num_hashes=10, bands=4): the leftover seeds
    8-9 form a partial band in the row formulation (seed//rows_per_band == 4);
    the wide path must emit the same extra band, not drop the seeds."""
    import pytest
    from pyspark.sql import functions as FF
    docs = load_table(spark, sf_dir, "documents").limit(150)
    wide = {(r["doc_a"], r["doc_b"]) for r in
            dedup.lsh_candidate_pairs(docs, num_hashes=10, bands=4,
                                      hash_family="xxhash").collect()}
    sig = dedup.minhash_signatures(docs, num_hashes=10, hash_family="xxhash")
    banded = sig.withColumn("band", (FF.col("seed") / 2).cast("int"))
    bkey = FF.xxhash64(FF.array_sort(
        FF.collect_list(FF.struct("seed", "minhash"))))
    bk = banded.groupBy("doc_id", "band").agg(bkey.alias("band_key"))
    buckets = (bk.groupBy("band", "band_key")
               .agg(FF.array_sort(FF.collect_list("doc_id")).alias("ids"))
               .filter(FF.size("ids") > 1))
    row_pairs = set()
    for r in buckets.collect():
        ids = r["ids"]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                row_pairs.add((ids[i], ids[j]))
    assert wide == row_pairs
    with pytest.raises(ValueError):
        dedup.lsh_candidate_pairs(docs, num_hashes=4, bands=8)
    with pytest.raises(ValueError):  # bands=0 would divide by zero
        dedup.lsh_candidate_pairs(docs, num_hashes=4, bands=0)
    with pytest.raises(ValueError):  # negative bands bypassed the old guard
        dedup.lsh_candidate_pairs(docs, num_hashes=4, bands=-2)
    with pytest.raises(ValueError):
        dedup.lsh_candidate_pairs(docs, num_hashes=0, bands=1)


def test_jaccard_bounds_and_exactness(spark):
    rows = [(1, "a b c d"), (2, "a b c e")]  # 2-shingles: {ab,bc,cd} {ab,bc,ce}
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cand = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    j = dedup.ngram_jaccard_pairs(df, threshold=0.0, candidates=cand).collect()
    assert len(j) == 1
    assert j[0]["inter"] == 1 and j[0]["union"] == 3  # {a b c} ∩/∪ shingles
    assert abs(j[0]["jaccard"] - 1 / 3) < 1e-15


def test_dedup_jaccard_entry_literal_rows(spark, tmp_path):
    """The registry's all-pairs word-3-gram Jaccard ≥ 0.6 on a hand-built
    corpus: null and under-3-word texts have no shingles, a repeated
    shingle counts once, and 3/5 sits exactly on the threshold."""
    from thanos_parquet_gateway_spark.plans.entry_queries import QUERIES

    texts = {
        1: "a b c d e f",      # {abc, bcd, cde, def}
        2: "A b c d e   g",    # {abc, bcd, cde, deg}: 3/5 with doc 1
        3: "x y z w",          # {xyz, yzw}
        4: "X  y\tZ w",        # same shingles after normalization
        5: None,
        6: "a b",              # under 3 words
        7: "a b c d x y",      # 2/6 with docs 1 and 2
        8: "x y z",            # 1/2 with docs 3 and 4
        9: "p q r p q r",      # {pqr, qrp, rpq}: "p q r" twice
        10: "p q r p q",       # {pqr, qrp, rpq}
    }
    spark.createDataFrame(sorted(texts.items()),
                          "doc_id bigint, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    got = sorted(tuple(r) for r in
                 QUERIES["dedup_jaccard"](spark, str(tmp_path)).collect())
    assert got == [(1, 2, 3, 5, 0.6), (3, 4, 2, 2, 1.0), (9, 10, 3, 3, 1.0)]


def test_simhash_similar_docs_close(spark):
    rows = [(1, "spark engine query plan optimizer data"),
            (2, "spark engine query plan optimizer code"),
            (3, "zebra yak xylophone walrus vulture unicorn")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    h = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(h[1], h[2]) < hamming(h[1], h[3])


def test_split_dataset_partition_and_determinism(spark, sf_dir):
    import pytest as _pytest
    from thanos_parquet_gateway_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    out = sampling.split_dataset(
        docs, {"train": 0.8, "validation": 0.1, "test": 0.1}, seed=7)
    rows = out.select("doc_id", "split").collect()
    # exactly one split per row, all rows present
    assert len(rows) == docs.count()
    counts = {}
    for r in rows:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert set(counts) <= {"train", "validation", "test"}
    # fractions roughly honored (hash uniformity, 500 docs)
    assert counts["train"] > counts.get("validation", 0)
    assert counts["train"] > counts.get("test", 0)
    # determinism: same seed → identical assignment; repartition-invariant
    again = {r["doc_id"]: r["split"] for r in
             sampling.split_dataset(docs.repartition(7),
                                    {"train": 0.8, "validation": 0.1,
                                     "test": 0.1}, seed=7)
             .select("doc_id", "split").collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in rows)
    with _pytest.raises(ValueError):
        sampling.split_dataset(docs, {"a": 0.5, "b": 0.4})
    with _pytest.raises(ValueError):
        sampling.split_dataset(docs, {})


def test_duplicate_spans_planted(spark):
    import pytest as _pytest
    shared = "the exact same forty-odd character sentence appears twice here"
    rows = [(1, "A" * 30),                        # self-repeating run
            (2, "prefix one " + shared),
            (3, "prefix two " + shared),
            (4, "tiny"),                          # shorter than min_len
            (5, "x" * 10 + "".join(chr(97 + i % 26) for i in range(40)))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           dedup.duplicate_spans(df, min_len=24).collect()}
    # a homogeneous run duplicates against itself: full coverage
    assert out[1]["dup_fraction"] == 1.0
    # the shared sentence is covered in both docs; the distinct prefixes
    # are not -> 0 < fraction < 1, identical dup_chars on both sides
    assert 0.0 < out[2]["dup_fraction"] < 1.0
    # the common suffix includes the space separating prefix and sentence
    assert out[2]["dup_chars"] == out[3]["dup_chars"] == len(shared) + 1
    # below min_len and unique text -> zero
    assert out[4]["dup_fraction"] == 0.0 and out[4]["n_dup_grams"] == 0
    assert out[5]["dup_fraction"] == 0.0
    with _pytest.raises(ValueError):
        dedup.duplicate_spans(df, min_len=0)


def test_brute_force_topk_self_is_rank1(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 2)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    top = similarity.brute_force_topk(emb, q, k=3).collect()
    rank1 = {r["query_id"]: (r["vec_id"], r["cos_sim"]) for r in top
             if r["rank"] == 1}
    for qid, (vid, cs) in rank1.items():
        assert vid == qid  # self-similarity = 1 ranks first
        assert abs(cs - 1.0) < 1e-9


# the interpreted folds tsq_dot replaced, kept as the reference
_FOLD_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
             "CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
_FOLD_NORM = ("SQRT(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * "
              "CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v))")


def test_tsq_dot_bit_identical_to_fold(spark):
    """tsq_dot and sqrt(tsq_dot(a, a)) equal the aggregate(zip_with) fold
    by float.hex on every pair of test vectors: float and double arrays, a
    literal double array, a null array and a null element, unequal lengths
    and empty/empty, NaN, ±Inf and −0.0.  [1, 1e16, -1e16] sums to 0.0
    left to right and to 1.0 right to left, so the order is pinned."""
    import random

    rng = random.Random(11)
    inf, nan = float("inf"), float("nan")
    vecs = [[1.0, 1e16, -1e16], [1.0, 1.0, 1.0], [0.1, 0.2, 0.3],
            [nan, 1.0, 2.0], [inf, -inf, 1.0], [-0.0, 0.0, -0.0],
            [-0.0, -0.0, -0.0], [0.0, 0.0, 0.0], [1.0, None, 2.0],
            [1.0, 2.0], [], None]
    vecs += [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(6)]
    df = spark.createDataFrame(
        [(i, j, a, b, a, b) for i, a in enumerate(vecs)
         for j, b in enumerate(vecs)],
        "i int, j int, a array<double>, b array<double>, "
        "fa array<float>, fb array<float>")
    lit = similarity._sql_double_array([0.5, -1.5, 1e16])
    pairs = [(f"tsq_dot({x}, {y})", _FOLD_DOT.format(a=x, b=y))
             for x, y in (("a", "b"), ("fa", "fb"), ("fa", "b"),
                          ("a", lit), ("fa", lit))]
    pairs += [(f"sqrt(tsq_dot({x}, {x}))", _FOLD_NORM.format(a=x))
              for x in ("a", "fa")]
    cols = [F.col("i"), F.col("j")]
    for n, (kernel, fold) in enumerate(pairs):
        cols += [F.expr(kernel).alias(f"k{n}"), F.expr(fold).alias(f"f{n}")]
    cols += [similarity.dot(F.col("a"), "b").alias("kd"),
             similarity.norm("fa").alias("kn")]
    rows = df.select(*cols).collect()

    def hx(v):
        return None if v is None else v.hex()
    for r in rows:
        for n in range(len(pairs)):
            assert hx(r[f"k{n}"]) == hx(r[f"f{n}"]), (pairs[n][0], r.i, r.j)
        assert hx(r["kd"]) == hx(r["k0"]) and hx(r["kn"]) == hx(r["k6"])
    assert sum(r.k0 is not None and r.k0 == r.k0 for r in rows) > 50


def test_tsq_dot_zero_norm_cosine_is_null(spark):
    """Under the session's own conf (Spark 4 defaults to ANSI mode, where
    ``x / 0.0`` fails the query with DIVIDE_BY_ZERO) a zero-norm vector's
    cosine is NULL, and brute-force top-k ranks it last instead of
    failing; a nonzero cosine keeps the bits of the plain division."""
    z = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0]),
                               ([0.3, 0.1], [1.0, 2.0])],
                              "a array<double>, b array<double>")
    plain = "tsq_dot(a, b) / (sqrt(tsq_dot(a, a)) * sqrt(tsq_dot(b, b)))"
    rows = z.select(similarity.cosine(F.col("a"), F.col("b")).alias("c"),
                    F.when(F.col("a")[0] != 0, F.expr(plain)).alias("p")
                    ).collect()
    assert rows[0].c is None
    assert rows[1].c.hex() == rows[1].p.hex()
    emb = spark.createDataFrame([(0, [0.0, 0.0]), (1, [1.0, 2.0])],
                                "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(9, [1.0, 2.0])],
                              "query_id long, query_vec array<double>")
    top = similarity.brute_force_topk(emb, q, k=2).orderBy("rank").collect()
    assert [(r.vec_id, r.cos_sim is None) for r in top] == [(1, False),
                                                            (0, True)]


def test_lsh_topk_subset_of_bucket(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 2)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    import random
    rng = random.Random(7)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(4)]
    top = similarity.lsh_topk(emb, q, planes, k=3).collect()
    # the query vector shares its own bucket → self still rank 1
    rank1 = {r["query_id"]: r["vec_id"] for r in top if r["rank"] == 1}
    assert all(vid == qid for qid, vid in rank1.items())


def test_ivf_topk_probed_cells_and_self_rank1(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 2)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    top = similarity.ivf_topk(emb, q, k=3, nlist=4, nprobe=2).collect()
    # the query's own cell is always probed first → self still rank 1
    rank1 = {r["query_id"]: (r["vec_id"], r["cos_sim"]) for r in top
             if r["rank"] == 1}
    assert all(vid == qid for qid, (vid, _) in rank1.items())
    assert all(abs(cs - 1.0) < 1e-9 for _, cs in rank1.values())
    # nprobe = nlist degenerates to exact brute force
    exact = {(r["query_id"], r["rank"]): r["vec_id"]
             for r in similarity.brute_force_topk(emb, q, k=3).collect()}
    full = {(r["query_id"], r["rank"]): r["vec_id"]
            for r in similarity.ivf_topk(emb, q, k=3, nlist=4,
                                         nprobe=4).collect()}
    assert full == exact


def test_pq_topk_self_rank1_and_validation(spark, sf_dir):
    import pytest as _pytest
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 2)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    top = similarity.pq_topk(emb, q, k=3, m=4, n_codes=8).collect()
    # a vector quantizes to its own codes → ADC distance to itself is the
    # minimum of its bucket; self must rank 1 with exact cosine 1
    rank1 = {r["query_id"]: (r["vec_id"], r["cos_sim"]) for r in top
             if r["rank"] == 1}
    assert all(vid == qid for qid, (vid, _) in rank1.items())
    assert all(abs(cs - 1.0) < 1e-9 for _, cs in rank1.values())
    # ADC distances are non-negative and non-decreasing in rank
    by_q = {}
    for r in sorted(top, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["approx_dist"])
    for dists in by_q.values():
        assert all(d >= 0 for d in dists)
        assert dists == sorted(dists)
    with _pytest.raises(ValueError):
        similarity.pq_topk(emb, q, m=0)
    with _pytest.raises(ValueError):
        similarity.pq_topk(emb, q, m=7)  # 7 does not divide dim 64


def test_ivfpq_topk_self_rank1_and_candidate_bound(spark, sf_dir):
    import pytest as _pytest
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 2)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    top = similarity.ivfpq_topk(emb, q, k=3, nlist=4, nprobe=2,
                                m=4, n_codes=8).collect()
    # the query's first probe is its own assignment cell and a vector's
    # own codes attain the per-block table minima, so self ranks 1
    rank1 = {r["query_id"]: (r["vec_id"], r["cos_sim"]) for r in top
             if r["rank"] == 1}
    assert all(vid == qid for qid, (vid, _) in rank1.items())
    assert all(abs(cs - 1.0) < 1e-9 for _, cs in rank1.values())
    # probing every cell can only ADD candidates, and the codebook is
    # cell-independent, so ADC distances agree between runs on common pairs
    full = similarity.ivfpq_topk(emb, q, k=3, nlist=4, nprobe=4,
                                 m=4, n_codes=8).collect()
    fd = {(r["query_id"], r["vec_id"]): r["approx_dist"] for r in full}
    for r in top:
        key = (r["query_id"], r["vec_id"])
        if key in fd:
            assert abs(fd[key] - r["approx_dist"]) < 1e-12
    with _pytest.raises(ValueError):
        similarity.ivfpq_topk(emb, q, nprobe=0)
    with _pytest.raises(ValueError):
        similarity.ivfpq_topk(emb, q, m=7)


def test_language_and_quality_and_tokens(spark):
    rows = [(1, "the cat and the dog went to the house of a friend"),
            (2, "der hund und die katze ist nicht zu hause mit der maus"),
            (3, "xxxx yyyy zzzz")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    langs = {r["doc_id"]: r["detected_lang"]
             for r in text.detect_language(df).collect()}
    assert langs[1] == "en" and langs[2] == "de" and langs[3] == "und"
    q = {r["doc_id"]: r for r in text.quality_score(df).collect()}
    assert all(0.0 <= r["quality"] <= 1.0 for r in q.values())
    assert q[1]["n_words"] == 12 and q[3]["n_words"] == 3
    tc = {r["doc_id"]: r for r in text.token_counts(df).collect()}
    assert tc[1]["ws_tokens"] == 12
    assert tc[1]["bpe_tokens"] == 12  # pure letter runs


def test_chunk_documents_windows(spark):
    # 25 words, chunk=10, overlap=4 → stride 6: starts 0,6,12,18 cover to 25
    words = [f"w{i}" for i in range(25)]
    df = spark.createDataFrame([(1, " ".join(words)), (2, "a b"), (3, "")],
                               ["doc_id", "text"])
    out = text.chunk_documents(df, chunk_words=10, overlap=4)
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    assert rows[(1, 0)]["chunk"] == " ".join(words[0:10])
    assert rows[(1, 1)]["chunk"] == " ".join(words[6:16])   # 4-word overlap
    assert rows[(1, 3)]["chunk"] == " ".join(words[18:25])  # partial tail
    assert rows[(1, 3)]["n_words"] == 7
    assert max(i for d, i in rows if d == 1) == 3
    assert rows[(2, 0)]["chunk"] == "a b" and rows[(2, 0)]["n_words"] == 2
    # coverage: every word appears in some chunk
    covered = set()
    for (d, _), r in rows.items():
        if d == 1:
            covered.update(r["chunk"].split())
    assert covered == set(words)


def test_fingerprint_deterministic_and_sensitive(spark):
    rows = [(1, "a b c"), (2, "a b c"), (3, "a c b")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(df).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]  # order-sensitive (rolling hash)


def test_multimodal_pipeline(docs):
    media = documents_as_media(docs)
    stats = media_metadata_stats(media).collect()
    assert stats[0]["codec"] == "raw" and stats[0]["n_items"] == docs.count()
    # payload must be pruned from the metadata-only scan
    plan = media_metadata_stats(media)._jdf.queryExecution().executedPlan().toString()
    feats = extract_features(media)
    rows = feats.limit(5).collect()
    assert all(len(r["feature"]) == 4 for r in rows)
    n = {r["media_id"]: r["n_bytes"] for r in feats.collect()}
    truth = {r["doc_id"]: len(r["text"].encode())
             for r in docs.select("doc_id", "text").collect()}
    assert n == truth


def test_hash_sampling_deterministic_and_calibrated(spark, sf_dir):
    from thanos_parquet_gateway_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    for fam in ("xxhash", "md5"):
        s1 = sampling.hash_sample(docs, 0.25, seed=7, hash_family=fam)
        ids1 = {r["doc_id"] for r in s1.select("doc_id").collect()}
        ids2 = {r["doc_id"] for r in sampling.hash_sample(
            docs, 0.25, seed=7, hash_family=fam).select("doc_id").collect()}
        assert ids1 == ids2  # reproducible
        assert 0.15 * n <= len(ids1) <= 0.35 * n  # calibrated-ish
        # a larger rate with the same seed is a superset (nested samples)
        ids_half = {r["doc_id"] for r in sampling.hash_sample(
            docs, 0.5, seed=7, hash_family=fam).select("doc_id").collect()}
        assert ids1 <= ids_half
    # edge rates
    assert sampling.hash_sample(docs, 0.0).count() == 0
    assert sampling.hash_sample(docs, 1.0).count() == n


def test_stratified_and_fixed_k_sampling(spark, sf_dir):
    from thanos_parquet_gateway_spark.operators import sampling
    docs = load_table(spark, sf_dir, "documents")
    strat = sampling.stratified_sample(docs, "lang", {"en": 0.0},
                                       default_rate=1.0)
    langs = {r["lang"] for r in strat.select("lang").distinct().collect()}
    assert "en" not in langs  # stratum fully dropped
    non_en = docs.filter(F.col("lang") != "en").count()
    assert strat.count() == non_en  # everything else kept
    # NULL stratum: never equals any configured value, so it must fall in
    # the 'others' branch (default_rate), not be silently dropped by the
    # three-valued NULL from isin
    nulls = spark.createDataFrame(
        [(1, "en"), (2, None), (3, "fr"), (4, None)], ["doc_id", "lang"])
    kept = {r["doc_id"] for r in sampling.stratified_sample(
        nulls, "lang", {"en": 0.0}, default_rate=1.0).collect()}
    assert kept == {2, 3, 4}
    k = sampling.hash_topk_sample(docs, 37)
    assert k.count() == 37
    # same seed → same 37 rows
    a = {r["doc_id"] for r in k.collect()}
    b = {r["doc_id"] for r in sampling.hash_topk_sample(docs, 37).collect()}
    assert a == b


def test_multimodal_resize_pad_and_truncate(spark):
    from thanos_parquet_gateway_spark.operators.multimodal import resize_media
    rows = [(1, "x" * 300), (2, "ab"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["media_id"]: r for r in
           resize_media(documents_as_media(df), 16, 16).collect()}
    assert bytes(out[1]["payload"]) == b"x" * 256          # truncated
    assert bytes(out[2]["payload"]) == b"ab" + b"\x00" * 254  # zero-padded
    assert bytes(out[3]["payload"]) == b"\x00" * 256       # empty → all pad
    assert all(r["meta"]["width"] == 16 and r["meta"]["n_bytes"] == 256
               for r in out.values())


def test_multimodal_frame_sampling(spark):
    from thanos_parquet_gateway_spark.operators.multimodal import sample_frames
    rows = [(1, "a" * 64 + "b" * 64 + "c" * 64 + "d" * 64 + "e" * 10),
            (2, "short"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    frames = sample_frames(documents_as_media(df), frame_bytes=64,
                           every=4).collect()
    got = {(r["media_id"], r["frame_idx"]): bytes(r["frame"]) for r in frames}
    # doc 1 has 5 frames (0..4); every=4 keeps idx 0 and 4
    assert got[(1, 0)] == b"a" * 64
    assert got[(1, 4)] == b"e" * 10
    assert (1, 1) not in got and (1, 2) not in got
    assert got[(2, 0)] == b"short"  # single partial frame
    assert not any(mid == 3 for mid, _ in got)  # empty payload → no frames


def test_multimodal_unknown_codec_raises(spark):
    from thanos_parquet_gateway_spark.operators.multimodal import _decode_payload
    with pytest.raises(NotImplementedError):
        _decode_payload(b"\xff\xd8", "jpeg")


def test_streaming_rollup_matches_batch(spark, tmp_path):
    from tests.conftest import make_samples
    from thanos_parquet_gateway_spark.streaming import (
        batch_equivalent_rollup,
        stream_rollup,
    )
    t0 = 1704067200000
    rows = [({"__name__": "m", "j": str(i % 2)}, t0 + i * 600_000,
             float(i)) for i in range(50)]
    # sentinel far in the future advances the watermark so all real windows
    # finalize and are emitted in append mode
    sentinel_ts = t0 + 10 * 86_400_000
    raw = make_samples(spark, rows + [({"__name__": "flush"}, sentinel_ts, 0.0)])
    in_path = str(tmp_path / "in")
    raw.write.parquet(in_path)
    q = stream_rollup(spark, in_path, str(tmp_path / "out"),
                      str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    want = batch_equivalent_rollup(raw).filter(
        F.col("window_start") < sentinel_ts - 2 * 3_600_000)
    g = {(r["window_start"], r["sig"]): (r["n_samples"], r["sum_value"])
         for r in got.collect()}
    w = {(r["window_start"], r["sig"]): (r["n_samples"], r["sum_value"])
         for r in want.collect()}
    assert g == w


def test_bm25_scoring_and_ranking(spark):
    # 3-doc corpus, query {cat}: df(cat)=2, N=3, dl = 3,3,2, avgdl = 8/3
    docs_df = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "cat dog bird"), (3, "dog bird!")],
        ["doc_id", "text"])
    out = text.bm25_score(docs_df, ["cat"], top_k=10).collect()
    got = {r["doc_id"]: r["score"] for r in out}
    assert set(got) == {1, 2}  # doc 3 never matches
    import math
    idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    def s(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (8 / 3)))
    assert abs(got[1] - s(2, 3)) < 1e-12
    assert abs(got[2] - s(1, 3)) < 1e-12
    assert got[1] > got[2]  # higher tf wins at equal dl
    # multi-term query sums per-term contributions in sorted term order
    out2 = {r["doc_id"]: r["score"]
            for r in text.bm25_score(docs_df, ["cat", "bird"]).collect()}
    assert set(out2) == {1, 2, 3}
    idf_b = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    assert abs(out2[3] - idf_b * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 / (8 / 3)))) < 1e-12


def test_bm25_plan_has_no_wide_shuffle(spark):
    # the only exchanges should be the 1-row stats agg + broadcast + top-k;
    # the corpus side must not hash-repartition
    docs_df = spark.createDataFrame([(1, "a b"), (2, "b c")],
                                    ["doc_id", "text"])
    plan = text.bm25_score(docs_df, ["b"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_tfidf_top_terms(spark):
    # doc 1: apple x3, banana x1; doc 2: banana x2.  df(apple)=1, df(banana)=2
    docs_df = spark.createDataFrame(
        [(1, "apple apple apple banana"), (2, "banana banana")],
        ["doc_id", "text"])
    out = text.tfidf_top_terms(docs_df, top_n=2).collect()
    import math
    rows = {(r["doc_id"], r["term"]): (r["tf"], r["score"]) for r in out}
    assert rows[(1, "apple")][0] == 3
    assert abs(rows[(1, "apple")][1] - 3 * math.log(2 / 1)) < 1e-12
    # banana appears in every doc → idf = ln(1) = 0
    assert rows[(1, "banana")][1] == 0.0
    assert rows[(2, "banana")][1] == 0.0
    # short tokens are dropped by min_term_len
    df2 = spark.createDataFrame([(1, "ab xyz xyz")], ["doc_id", "text"])
    out2 = text.tfidf_top_terms(df2, top_n=5).collect()
    assert {r["term"] for r in out2} == {"xyz"}


def test_connected_components_vs_union_find(spark):
    """Large-star/small-star CC vs a driver-side union-find oracle on a
    graph mixing a long chain (forces multiple rounds), a clique, a
    bridged pair of triangles, and a 2-node component."""
    edges = (
        # chain 1-2-3-...-12
        [(i, i + 1) for i in range(1, 12)]
        # clique on {100..104}
        + [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
        # two triangles bridged
        + [(200, 201), (201, 202), (202, 200),
           (210, 211), (211, 212), (212, 210), (202, 210)]
        # 2-node component, given reversed + duplicated
        + [(301, 300), (300, 301)]
    )
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r["doc_id"]: r["component"]
           for r in dedup.connected_components(df).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want
    # each doc appears exactly once
    assert dedup.connected_components(df).groupBy("doc_id").count() \
        .filter(F.col("count") > 1).count() == 0


def test_connected_components_empty(spark):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.connected_components(df).count() == 0


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """Streaming exact dedup (dropDuplicatesWithinWatermark) emits exactly
    one document per content hash when all arrivals fall inside the
    watermark horizon — same keep-set as batch exact_dedup."""
    from thanos_parquet_gateway_spark.streaming import stream_dedup

    t0 = 1704067200000
    rows = []
    for i in range(40):
        # 20 distinct texts, each ingested twice within the horizon
        rows.append((i, f"text number {i % 20}", t0 + i * 60_000))
    df = spark.createDataFrame(rows, "doc_id long, text string, ts long")
    in_path = str(tmp_path / "in")
    df.write.parquet(in_path)
    q = stream_dedup(spark, in_path, str(tmp_path / "out"),
                     str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 20
    assert got.select("content_hash").distinct().count() == 20
    # the emitted copy is a real row from the input
    joined = got.join(df, ["doc_id", "text", "ts"])
    assert joined.count() == 20
    # batch analogue agrees on the content-hash keep set
    batch = dedup.exact_dedup(df)
    bh = {r["content_hash"] for r in batch.collect()}
    sh = {r["content_hash"] for r in got.collect()}
    assert bh == sh


def test_gopher_quality_rules(spark):
    """Each Gopher rule flips `passes` on a doc violating exactly that rule."""
    good = " ".join(["the quick brown fox jumps over and beside of lazy dogs"] * 6)
    rows = [
        (1, good, True),                       # clean: >50 words, stopwords
        (2, "the of short", False),            # too few words
        (3, " ".join(["### #"] * 40), False),  # symbol ratio + no alpha
        (4, "\n".join(["- item the of and that"] * 12), False),  # bullets
        (5, " ".join(["zz"] * 60), False),     # mean word len < 3, no stops
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows],
                               ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.gopher_quality(df).collect()}
    for i, _, want in rows:
        assert got[i]["passes"] == want, (i, dict(got[i].asDict()))
    assert got[1]["stop_hits"] >= 2
    assert got[4]["bullet_line_frac"] >= 0.9


def test_pii_scan_counts_and_order(spark):
    """SSN redacts before the looser phone pattern; counts are per-class."""
    df = spark.createDataFrame(
        [(1, "mail a@b.com and b.c@d.org ssn 123-45-6789 tel 555 123 4567 "
             "host 10.0.0.1 end"),
         (2, "no pii here")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.pii_scan(df).collect()}
    r1 = got[1]
    assert (r1["n_email"], r1["n_ssn"], r1["n_phone"], r1["n_ipv4"]) == (2, 1, 1, 1)
    assert r1["redacted"] == ("mail <EMAIL> and <EMAIL> ssn <SSN> tel <PHONE> "
                              "host <IP> end")
    r2 = got[2]
    assert (r2["n_email"], r2["n_ssn"], r2["n_phone"], r2["n_ipv4"]) == (0, 0, 0, 0)
    assert r2["redacted"] == "no pii here"


def test_pack_sequences_budget_and_uniqueness(spark, sf_dir):
    """Packs respect the token budget (±1 doc overrun), docs are whole,
    pack ids are shard-scoped, ordering within shard is by doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    cap = 200
    p = text.pack_sequences(docs, capacity_tokens=cap, n_shards=4)
    rows = p.orderBy("shard", "doc_id").collect()
    assert len(rows) == docs.count()
    assert all(r["pack_id"] >> 32 == r["shard"] for r in rows)
    # reconstruct per-shard greedy budget: floor(cum_before/cap) matches
    from collections import defaultdict
    cum = defaultdict(int)
    for r in rows:
        assert r["pack_id"] & 0xFFFFFFFF == cum[r["shard"]] // cap
        cum[r["shard"]] += r["n_tokens"]
    # budget guarantee: a pack overruns capacity only by its LAST doc —
    # all docs before the last fit inside the cap window
    by_pack = defaultdict(list)
    for r in rows:
        by_pack[r["pack_id"]].append(r["n_tokens"])
    for pid, toks in by_pack.items():
        assert sum(toks[:-1]) < cap, (pid, toks)


def test_repetition_signals_duplicate_lines(spark):
    """Crafted multi-line docs: exact duplicate-line fractions and the
    top-2-gram character mass (the synthetic corpus is single-line, so the
    line-level paths only get exercised here)."""
    rows = [
        # 4 non-empty lines, 'dup line' appears 3× → dup_line_frac = (4-2)/4
        # dup chars = 3*8 over total 3*8+5 = 29
        (1, "dup line\ndup line\n\n  dup line \nother"),
        # no duplicates at all
        (2, "alpha\nbeta\ngamma"),
        # single line, 'x y' 2-gram twice: words = x y x y z →
        # grams: 'x y'×2, 'y x'×1, 'y z'×1 → top = 'x y' c=2 glen=2 → 4/5
        (3, "x y x y z"),
        # one word → no grams, one line, no dups
        (4, "solo"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.repetition_signals(df).collect()}
    assert got[1]["n_lines"] == 4
    assert got[1]["dup_line_frac"] == pytest.approx(0.5)
    assert got[1]["dup_line_char_frac"] == pytest.approx(24 / 29)
    assert not got[1]["passes"]
    assert got[2]["dup_line_frac"] == 0.0
    assert got[2]["dup_line_char_frac"] == 0.0
    assert got[3]["top_2gram_char_frac"] == pytest.approx(4 / 5)
    assert not got[3]["passes"]
    assert got[4]["n_lines"] == 1
    assert got[4]["top_2gram_char_frac"] == 0.0
    assert got[4]["passes"]


def test_decontaminate_overlap_and_edges(spark):
    """Distinct-gram overlap counting, zero-gram docs, and the strict
    threshold comparison."""
    bench = spark.createDataFrame([(100, "the quick brown fox jumps")],
                                  ["doc_id", "text"])
    rows = [
        # grams: 'the quick brown','quick brown fox','brown fox ran' → 2/3
        (1, "the quick brown fox ran"),
        # exact benchmark text → 3/3
        (2, "the quick brown fox jumps"),
        # no overlap
        (3, "entirely different words here now"),
        # too short for a 3-gram
        (4, "two words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r
           for r in text.decontaminate(df, bench, n=3, threshold=0.5).collect()}
    assert (out[1]["n_grams"], out[1]["n_matched"]) == (3, 2)
    assert out[1]["contaminated"]  # 2/3 > 0.5
    assert (out[2]["n_grams"], out[2]["n_matched"]) == (3, 3)
    assert out[2]["contaminated"]
    assert (out[3]["n_grams"], out[3]["n_matched"]) == (3, 0)
    assert not out[3]["contaminated"]
    assert (out[4]["n_grams"], out[4]["n_matched"]) == (0, 0)
    assert out[4]["overlap_frac"] == 0.0 and not out[4]["contaminated"]
    with pytest.raises(ValueError):
        text.decontaminate(df, bench, n=0)


def test_semantic_dedup_keep_first_policy(spark):
    """One cluster: near-identical vectors collapse to the lowest id; the
    orthogonal vector survives.  k_clusters=1 makes cell assignment moot so
    the test pins the keep rule itself."""
    rows = [
        (1, [1.0, 0.0]), (2, [1.0, 0.001]),   # dups of each other
        (3, [0.0, 1.0]),                       # orthogonal → kept
        (4, [0.999, 0.01]),                    # dup of 1 and 2 → dropped
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["keep"]
           for r in similarity.semantic_dedup(df, k_clusters=1,
                                              threshold=0.99).collect()}
    assert out == {1: True, 2: False, 3: True, 4: False}
    with pytest.raises(ValueError):
        similarity.semantic_dedup(df, k_clusters=0)


def test_semantic_dedup_partitions_whole_corpus(spark, sf_dir):
    """Every vector gets exactly one row and a valid cell; dropping is
    monotone in threshold (lower threshold → fewer keeps)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    strict = similarity.semantic_dedup(emb, k_clusters=4, threshold=0.99)
    loose = similarity.semantic_dedup(emb, k_clusters=4, threshold=0.35)
    assert strict.count() == n and loose.count() == n
    ks = strict.filter("keep").count()
    kl = loose.filter("keep").count()
    assert kl <= ks <= n
    cells = {r["cell"] for r in strict.select("cell").distinct().collect()}
    assert cells <= set(range(1, 5))


def test_shingles_short_documents(spark):
    """Documents shorter than the shingle width yield an empty shingle set
    instead of a descending-sequence slice error."""
    df = spark.createDataFrame(
        [(1, "one two"), (2, "a"), (3, "x y z w")], ["doc_id", "text"])
    out = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id",
        dedup.shingles(dedup.normalized_words(F.col("text"))).alias("sh"))
        .collect()}
    assert out[1] == [] and out[2] == []
    assert out[3] == ["x y z", "y z w"]


def test_lloyd_step_means_and_empty_cells(spark):
    """One Lloyd iteration re-centers each cell on its members' mean; a
    centroid whose cell goes empty keeps its previous vector."""
    rows = [(1, [0.0, 1.0]), (2, [0.0, 3.0]),      # cluster up
            (3, [2.0, 0.0]), (4, [4.0, 0.0])]      # cluster right
    e = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .select(F.col("vec_id"), F.col("embedding").alias("v"))
    cents = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0]),
         (3, [-1.0, -1.0])],                        # attracts nothing
        ["cell", "cvec"])
    for exact in (True, False):
        out = {r["cell"]: r["cvec"]
               for r in similarity._lloyd_step(e, cents,
                                               exact_means=exact).collect()}
        assert out[1] == pytest.approx([0.0, 2.0])
        assert out[2] == pytest.approx([3.0, 0.0])
        assert out[3] == pytest.approx([-1.0, -1.0])  # empty-cell fallback


def test_ivf_lloyd_preserves_topk_contract(spark, sf_dir):
    """Refined-IVF results keep the (query_id, rank) contract and exact
    rescoring: every returned cos_sim matches a brute-force recompute."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 2)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    got = similarity.ivf_topk(emb, q, k=3, nlist=8, nprobe=2,
                              lloyd_iters=2).collect()
    assert {r["query_id"] for r in got} == {0, 1}
    for qid in (0, 1):
        ranks = sorted(r["rank"] for r in got if r["query_id"] == qid)
        assert ranks == [1, 2, 3]
    # rank 1 for a query that is itself in the corpus is the query itself
    self_hits = {r["query_id"]: r["vec_id"] for r in got if r["rank"] == 1}
    assert self_hits == {0: 0, 1: 1}


def test_c4_filters_line_rules(spark):
    """Line retention rule (terminal punctuation + >=5 words) and the
    document-level lorem/brace/sentence gates on crafted docs."""
    rows = [
        (1, 'This is a good sentence here.\nshort.\nNo terminal punct but '
            'plenty of words\nAnother proper full sentence right there!'),
        (2, 'Lorem Ipsum dolor sit amet. This doc has sentences. Three of '
            'them even.'),
        (3, 'function f() { return 1; }. Valid sentences here anyway. And '
            'more. And more.'),
        (4, 'One sentence only.'),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.c4_filters(df).collect()}
    # doc1: 4 lines; kept = lines 1 and 4 (>=5 words + terminal punct);
    # sentence count is 3 ('.', 'short.', '!') so the doc passes
    assert got[1]["n_lines"] == 4
    assert got[1]["kept_line_frac"] == pytest.approx(0.5)
    assert got[1]["n_sentences"] == 3 and got[1]["passes"]
    assert got[2]["has_lorem_ipsum"] and not got[2]["passes"]
    assert got[3]["has_brace"] and not got[3]["passes"]
    assert got[4]["n_sentences"] == 1 and not got[4]["passes"]


def test_token_entropy_exact_values(spark):
    """H of known distributions: uniform over k words = ln k; single
    repeated word = 0."""
    import math
    rows = [(1, "a b c d"), (2, "x x x x"), (3, "a a b b"), (4, "w")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.token_entropy(df).collect()}
    assert got[1]["entropy"] == pytest.approx(math.log(4))
    assert got[1]["n_distinct"] == 4
    assert got[2]["entropy"] == pytest.approx(0.0)
    assert got[3]["entropy"] == pytest.approx(math.log(2))
    assert got[4]["entropy"] == 0.0 and got[4]["n_words"] == 1


def test_mix_corpus_budgets_and_determinism(spark):
    """Greedy per-source token budgets: every source meets (never silently
    undershoots) its budget when supply allows, the crossing doc is
    included, unbudgeted sources drop, and selection is hash-stable."""
    from thanos_parquet_gateway_spark.operators import sampling
    rows = [(i, "a" if i < 6 else "b",
             " ".join(["w"] * 10)) for i in range(12)]
    rows.append((99, "c", "only words here"))
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = sampling.mix_corpus(df, {"a": 25, "b": 1000}).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # a: docs of 10 tokens; budget 25 -> 3 docs (cum 10,20,30 — third
    # crosses and is kept)
    assert len(by_src["a"]) == 3
    assert max(r["cum_tokens"] for r in by_src["a"]) == 30
    # b: budget exceeds supply -> all 6 kept
    assert len(by_src["b"]) == 6
    # c: no budget -> excluded entirely
    assert "c" not in by_src
    # determinism: same seed, same selection
    again = sampling.mix_corpus(df, {"a": 25, "b": 1000}).collect()
    assert sorted(r["doc_id"] for r in again) == \
        sorted(r["doc_id"] for r in out)
    with pytest.raises(ValueError):
        sampling.mix_corpus(df, {})


def test_hll_distinct_rollup_accuracy_and_mergeability(spark, sf_dir):
    """Mergeable HLL rollup (operators/sketches.py): (a) the merged
    estimate lands within the sketch's error envelope of the exact
    distinct count (lg_k=12 → ~1.6% stderr; assert 5%), (b) merging the
    per-day sketches equals sketching the whole window directly (register
    max-folds are associative), and (c) the estimate is partitioning-
    invariant (register folds are order-insensitive)."""
    from thanos_parquet_gateway_spark.operators import sketches

    e = load_table(spark, sf_dir, "events")
    merged = {r["event_type"]: r for r in
              sketches.distinct_rollup(e, "user_id",
                                       by=("event_type",)).collect()}
    exact = {r["event_type"]: r["n"] for r in
             e.groupBy("event_type")
              .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert set(merged) == set(exact)
    for et, n in exact.items():
        est = merged[et]["approx_distinct"]
        assert abs(est - n) <= 0.05 * n, (et, est, n)
    # (b) union-of-daily == direct whole-window sketch
    direct = {r["event_type"]: r["approx_distinct"] for r in
              e.groupBy("event_type")
               .agg(F.hll_sketch_estimate(
                   F.hll_sketch_agg(F.col("user_id").cast("string"),
                                    F.lit(sketches.DEFAULT_LG_K)))
                    .cast("double").alias("approx_distinct")).collect()}
    for et in exact:
        assert merged[et]["approx_distinct"] == direct[et], et
    # (c) partitioning invariance
    re8 = {r["event_type"]: r["approx_distinct"] for r in
           sketches.distinct_rollup(e.repartition(8), "user_id",
                                    by=("event_type",)).collect()}
    assert re8 == {et: merged[et]["approx_distinct"] for et in merged}
