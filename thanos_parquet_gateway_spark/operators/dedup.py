"""Deduplication operators over document corpora (SURVEY.md §7.1 M8).

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket join),
SimHash, and n-gram Jaccard.  All hashing is built from md5 (hex string) so an
independent SQL oracle can replicate results bit-for-bit; all set/fold math is
integer or string min/max — fully deterministic under any execution order.

Scale design: no collects, no UDFs.  MinHash+LSH candidate generation is a
self-equi-join on (band, band_key) — a shuffle join on a high-cardinality key
that AQE handles well; bucket sizes are bounded by near-duplicate cluster
sizes, not corpus size.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thanos_parquet_gateway_spark.sources.tables import hash_parallelism

MERSENNE = (1 << 31) - 1


def normalized_words(text_col) -> "F.Column":
    """Lowercased whitespace-tokenized words."""
    return F.split(F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " ")), " ")


def shingles(words_col, n: int = 3) -> "F.Column":
    """Distinct word n-gram shingles: slice windows out of the token array.

    NOTE: array-lambda form; fine for per-pair refinement, but the corpus-wide
    hot path uses shingle_rows() instead — higher-order functions are
    interpreted (no whole-stage codegen) and scale poorly across task threads."""
    k = F.size(words_col) - (n - 1)
    # sequence(1, 0) steps DOWNWARD (yields [1, 0] → slice(…, 0) errors),
    # so documents shorter than n words need an explicit empty branch
    return F.when(k >= 1, F.array_distinct(
        F.transform(F.sequence(F.lit(1), k),
                    lambda i: F.array_join(F.slice(words_col, i, n), " ")))
    ).otherwise(F.array().cast("array<string>"))


def shingle_rows(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", shingle_n: int = 3,
                 parallelism: int | None = None,
                 distinct: bool = True) -> DataFrame:
    """Word n-gram shingles as rows (doc_id, shingle) — the corpus hot
    path.  Codegen-only plan: posexplode words → lead() window → concat →
    dropDuplicates (map-side partial dedup).  The explicit repartition
    spreads work when the source has few input splits; the window reuses
    that same doc_id partitioning, so it adds only an in-partition sort.

    ``distinct=False`` skips the dropDuplicates — callers whose downstream
    fold is DUPLICATE-INVARIANT (minhash: min over a multiset equals min
    over its set) should pass it, because the dedup is a full shuffle of
    the exploded shingle rows on (doc_id, shingle) — the widest exchange
    in the whole LSH plan — and without it a following groupBy(doc_id)
    reuses the repartition's partitioning with no exchange at all.
    Set-semantics callers (Jaccard counts, duplicate_spans) keep the
    default.

    ``parallelism`` defaults to max(cluster cores, estimated input splits)
    (``sources.tables.hash_parallelism``) — spread locally,
    input-proportional at scale."""
    from pyspark.sql import Window
    d = docs.repartition(parallelism or hash_parallelism(docs),
                         F.col(id_col))
    words = d.select(F.col(id_col).alias("doc_id"),
                     F.posexplode(normalized_words(F.col(text_col)))
                     .alias("pos", "w"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("w", i).over(win).alias(f"w{i}")
             for i in range(1, shingle_n)]
    led = words.select("doc_id", F.col("w"), *leads)
    out = (led.filter(F.col(f"w{shingle_n - 1}").isNotNull())
           .select("doc_id",
                   F.concat_ws(" ", "w", *[f"w{i}" for i in range(1, shingle_n)])
                   .alias("shingle")))
    return out.dropDuplicates(["doc_id", "shingle"]) if distinct else out


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the smallest id per md5(text) group.
    Returns (content_hash, keep_id, n_copies)."""
    return (docs
            .groupBy(F.md5(F.col(text_col)).alias("content_hash"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_copies")))


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 8,
                       shingle_n: int = 3,
                       hash_family: str = "xxhash") -> DataFrame:
    """MinHash signature per doc: h_i(doc) = min over shingles of a seeded
    uniform hash.  Returns (doc_id, seed, minhash).

    Two hash families, same structure (both valid min-wise families):
    - ``xxhash`` (default, the 100 TB path): xxhash64(seed, shingle) — long
      min, no per-shingle string allocation, stays in whole-stage codegen;
    - ``md5`` (oracle mode): md5 hex strings, bit-replicable by an
      independent DuckDB oracle (used by the correctness entries).

    Hashing runs on exploded rows, NOT inside array lambdas: higher-order
    functions fall out of whole-stage codegen, making per-element hashing
    ~10× slower.  groupBy's map-side partial min keeps the shuffle at
    num_hashes rows per doc regardless of doc length."""
    exploded = shingle_rows(docs, text_col, id_col, shingle_n)
    seeds = exploded.select(
        "doc_id", "shingle",
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed"))
    if hash_family == "md5":
        h = F.md5(F.concat(F.col("seed").cast("string"),
                           F.lit("|"), F.col("shingle")))
    else:
        h = F.xxhash64("seed", "shingle")
    return (seeds
            .groupBy("doc_id", "seed")
            .agg(F.min(h).alias("minhash")))


def lsh_candidate_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", num_hashes: int = 8,
                        bands: int = 4, shingle_n: int = 3,
                        max_bucket: int | None = 1000,
                        observation=None,
                        hash_family: str = "xxhash") -> DataFrame:
    """LSH banding: split the signature into `bands` bands of num_hashes/bands
    rows; docs sharing any band bucket become candidate pairs (a < b).
    Returns (doc_a, doc_b) distinct.

    Plan shape: ONE hashing pass (no self-join — a self-join would hash the
    corpus twice), then a single shuffle grouping docs per (band, band_key)
    bucket; pairs expand inside buckets, whose size is bounded by near-dup
    cluster size, not corpus size.

    ``max_bucket`` is the degenerate-bucket guard: a skewed key (boilerplate
    or empty docs) would otherwise put 10⁵⁺ ids in one bucket and expand
    O(|bucket|²) pairs in a single task.  Buckets above the cap are dropped
    — candidates lost there are (by construction) near-identical docs better
    handled by exact dedup on content hash.  The drop is never silent: pass a
    ``pyspark.sql.Observation`` to get ``dropped_buckets`` /
    ``max_bucket_size`` metrics piggybacked on the consuming action (no
    extra job)."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    if bands < 1:
        raise ValueError(f"bands must be >= 1, got {bands}")
    rows_per_band = num_hashes // bands
    if rows_per_band == 0:
        raise ValueError(f"bands={bands} exceeds num_hashes={num_hashes}")
    # When bands does not divide num_hashes, the leftover seeds form one
    # extra partial band — index == bands, exactly the row formulation's
    # (seed // rows_per_band) grouping — so both paths see identical bucket
    # equivalence classes for any (num_hashes, bands).
    band_seeds = [list(range(b * rows_per_band, (b + 1) * rows_per_band))
                  for b in range(bands)]
    if num_hashes % bands:
        band_seeds.append(list(range(bands * rows_per_band, num_hashes)))
    if hash_family == "xxhash":
        # Wide fast path: ONE groupBy(doc_id) with num_hashes min-aggregates
        # replaces the seed-explode (×num_hashes rows) → groupBy(doc_id,seed)
        # → groupBy(doc_id,band) chain of the row formulation — one shuffle
        # and two codegen stages fewer, and the aggregation hash map sees one
        # row per doc instead of num_hashes.  Band keys hash the seed-ordered
        # minhash columns directly; the bucket equivalence classes are
        # identical to the row path (same per-seed minhashes, keys differ
        # only in representation) — asserted by test_lsh_wide_path_matches.
        # distinct=False: min() is duplicate-invariant, so skipping the
        # shingle dedup drops the widest shuffle in the plan and lets the
        # groupBy(doc_id) reuse the repartition's partitioning exchange-free
        # (values unchanged — same assert covers it).
        sh = shingle_rows(docs, text_col, id_col, shingle_n, distinct=False)
        mins = sh.groupBy("doc_id").agg(*[
            F.min(F.xxhash64(F.lit(s), "shingle")).alias(f"h{s}")
            for s in range(num_hashes)])
        band_keys = mins.select("doc_id", F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"h{s}") for s in seeds])
                 .alias("band_key"))
            for b, seeds in enumerate(band_seeds)])).alias("bk")
        ).select("doc_id", "bk.band", "bk.band_key")
    else:
        sig = minhash_signatures(docs, text_col, id_col, num_hashes,
                                 shingle_n, hash_family)
        banded = sig.withColumn("band",
                                (F.col("seed") / rows_per_band).cast("int"))
        bkey = F.md5(F.concat_ws(",", F.array_sort(
            F.collect_list(F.concat(F.col("seed").cast("string"),
                                    F.lit(":"), F.col("minhash"))))))
        band_keys = (banded.groupBy("doc_id", "band")
                     .agg(bkey.alias("band_key")))
    buckets = (band_keys.groupBy("band", "band_key")
               .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
               .filter(F.size("ids") > 1))
    if observation is not None and max_bucket:
        buckets = buckets.observe(
            observation,
            F.coalesce(F.sum((F.size("ids") > max_bucket).cast("long")),
                       F.lit(0)).alias("dropped_buckets"),
            F.coalesce(F.max(F.size("ids")), F.lit(0))
             .alias("max_bucket_size"))
    if max_bucket:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    pairs = buckets.select(F.explode(F.flatten(F.transform(
        F.col("ids"),
        lambda a, i: F.transform(
            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
            lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")))))).alias("p"))
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def connected_components(pairs: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iter: int = 50) -> DataFrame:
    """Connected components over a candidate-pair edge list → dedup clusters.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — public algorithm):
    each round re-points edges at per-node minima, converging to a forest
    of stars whose centers are the component minima in O(log² n) rounds
    (2-3 in practice for near-dup clusters).  Per round: one groupBy(min)
    + one equi-join — no collects, no per-node adjacency lists, so a
    10⁹-node graph is just two shuffles per round.

    Driver loop notes for scale: each round ends in a LAZY localCheckpoint
    to truncate lineage (otherwise the plan doubles per round), and
    convergence is detected by an (edge-count, xxhash64-sum) fingerprint —
    one tiny aggregate per round, no edge-set diff join.  The fingerprint
    collect IS the action that materializes the checkpoint, so each round
    costs exactly ONE driver-synced job (it used to be two: an eager
    checkpoint pass plus the fingerprint pass over the cached result).

    Returns (doc_id, component) for every node in the edge list; component
    is the minimum doc id of the cluster.  Isolated docs (no edges) are not
    in the output — union them in as self-components if needed.
    """
    # setup follows the same one-job rule as the loop: the initial edge
    # set's LAZY checkpoint is materialized by the first fingerprint below,
    # and ``nodes`` (read once, by the final leftovers join) materializes
    # off the checkpointed edges at the consuming action — 2 fewer
    # driver-synced jobs before the first contraction round
    edges = (pairs
             .select(F.least(F.col(a_col), F.col(b_col)).alias("u"),
                     F.greatest(F.col(a_col), F.col(b_col)).alias("v"))
             .filter(F.col("u") != F.col("v"))
             .distinct()
             .localCheckpoint(eager=False))
    nodes = (edges.select(F.col("u").alias("doc_id"))
             .union(edges.select(F.col("v").alias("doc_id")))
             .distinct()
             .localCheckpoint(eager=False))

    def _star(e: DataFrame, large: bool) -> DataFrame:
        nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (nbrs.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("u", "mn").alias("m")))
        j = nbrs.join(mins, "u")
        if large:
            # connect strictly-larger neighbors to the center's min
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("m").alias("u"), F.col("v"))
        else:
            # connect smaller-or-equal neighbors AND the center itself
            out = (j.filter(F.col("v") <= F.col("u"))
                   .select(F.col("m").alias("u"), F.col("v"))
                   .union(j.select(F.col("m").alias("u"),
                                   F.col("u").alias("v"))))
        return (out.filter(F.col("u") != F.col("v"))
                .select(F.least("u", "v").alias("u"),
                        F.greatest("u", "v").alias("v"))
                .distinct())

    def _fingerprint(e: DataFrame):
        # xor-fold, not sum: overflow-free under ANSI mode, and the edge
        # set is distinct so xor cancellation can't hide a duplicate
        row = e.agg(F.count("*").alias("n"),
                    F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0))
                    .alias("h")).collect()[0]
        return (row["n"], row["h"])

    fp = _fingerprint(edges)
    for _ in range(max_iter):
        edges = _star(_star(edges, large=True), large=False)
        # lazy checkpoint: the fingerprint's collect below is the first
        # action on it, so one job both materializes/persists the round's
        # edge set AND reads the convergence fingerprint
        edges = edges.localCheckpoint(eager=False)
        nfp = _fingerprint(edges)
        if nfp == fp:
            break
        fp = nfp
    # converged: edges are stars (component_min, member)
    members = edges.select(F.col("v").alias("doc_id"),
                           F.col("u").alias("component"))
    roots = edges.select(F.col("u").alias("doc_id"),
                         F.col("u").alias("component")).distinct()
    covered = members.union(roots)
    leftovers = (nodes.join(covered, "doc_id", "left_anti")
                 .select("doc_id", F.col("doc_id").alias("component")))
    return covered.union(leftovers).distinct()


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        threshold: float = 0.8,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (from LSH by
    default): |A∩B| / |A∪B| over distinct shingle sets.
    Returns (doc_a, doc_b, inter, union, jaccard ≥ threshold)."""
    if candidates is None:
        candidates = lsh_candidate_pairs(docs, text_col, id_col,
                                         shingle_n=shingle_n)
    sh = (shingle_rows(docs, text_col, id_col, shingle_n)
          .groupBy("doc_id")
          .agg(F.collect_list("shingle").alias("sh")))
    sh = sh.select("doc_id", "sh", F.size("sh").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"),
                  F.col("n_sh").alias("n_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"),
                  F.col("n_sh").alias("n_b"))
    j = (candidates.join(a, "doc_a").join(b, "doc_b")
         .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
         .withColumn("union", F.col("n_a") + F.col("n_b") - F.col("inter"))
         .withColumn("jaccard",
                     F.col("inter").cast("double") / F.col("union").cast("double")))
    return (j.filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "inter", "union", "jaccard"))


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """32-bit SimHash over word tokens (with multiplicity): bit j of
    md5(word)'s first 8 hex digits votes ±1; sign of the vote sum sets the
    output bit.  Integer math only — order-independent, oracle-replicable.
    Returns (doc_id, simhash long)."""
    assert bits <= 32
    words = docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(normalized_words(F.col(text_col)))
                        .alias("w")).filter(F.col("w") != "")
    # Per-bit votes as ``bits`` NATIVE integer sum-aggregates over plain
    # projected columns — whole-stage codegen with map-side partial
    # aggregation, shuffling one int per bit per (doc, partition).  The
    # former shape (a per-word contribution ARRAY collected with
    # collect_list and zip_with-folded per doc) ran an ObjectHashAggregate
    # that shipped every word's 32-int vector and folded interpreted:
    # measured 24 s → ~1 s at sf0.1 (r12 sweep).  Same integer votes, same
    # hash, bit-identical.  One conv() per hex DIGIT (not per bit): bit j
    # reads digit j//4 under mask 1<<(j%4).
    h = words.select("doc_id", F.md5(F.col("w")).alias("hx"))
    digits = h.select(
        "doc_id",
        *[F.conv(F.col("hx").substr(k + 1, 1), 16, 10).cast("int")
          .alias(f"__d{k}") for k in range((bits + 3) // 4)])
    votes = [(F.col(f"__d{j // 4}").bitwiseAND(1 << (j % 4)) > 0)
             .cast("int") * 2 - 1 for j in range(bits)]
    summed = (digits
              .groupBy("doc_id")
              .agg(*[F.sum(votes[j]).alias(f"__v{j}") for j in range(bits)]))
    simhash = reduce(
        lambda acc, j: acc + F.when(F.col(f"__v{j}") > 0,
                                    F.lit(1 << j).cast("long"))
                             .otherwise(F.lit(0).cast("long")),
        range(bits), F.lit(0).cast("long"))
    return summed.select("doc_id", simhash.alias("simhash"))


def duplicate_spans(docs: DataFrame, min_len: int = 24, stride: int = 1,
                    text_col: str = "text", id_col: str = "doc_id",
                    min_count: int = 2) -> DataFrame:
    """Exact substring-duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", public): every length-
    ``min_len`` character gram occurring in ≥ ``min_count`` (doc, position)
    sites marks a duplicated span; per document the spans' interval union
    gives the exactly-duplicated character coverage.

    Spark-first shape (the paper's suffix array is a single-node design):
    - gram extraction is a narrow per-row ``transform`` over a position
      ``sequence`` (``stride`` > 1 subsamples start positions to bound gram
      volume at scale — coverage then lower-bounds the true value);
    - the only shuffle keys on md5(gram) — corpus-wide duplicate detection
      is one hash aggregation with map-side partial counts;
    - per-document coverage is a sorted sequential fold over the span
      starts (interval union in one pass, oracle-replicable).

    Returns (doc_id, n_chars, n_dup_grams, dup_chars, dup_fraction).
    """
    if min_len < 1 or stride < 1:
        raise ValueError("duplicate_spans: min_len and stride must be >= 1")
    L = min_len
    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.col(text_col).alias("__t"))
    starts = F.sequence(F.lit(1), F.greatest(
        (F.length("__t") - L + 1), F.lit(0)), F.lit(stride))
    grams = (base.filter(F.length("__t") >= L)
             .select("doc_id", F.length("__t").alias("n_chars"),
                     F.posexplode(F.transform(
                         starts,
                         lambda p: F.struct(
                             p.alias("pos"),
                             F.md5(F.substring(F.col("__t"), p, L))
                              .alias("g")))).alias("__i", "s"))
             .select("doc_id", "n_chars", F.col("s.pos").alias("pos"),
                     F.col("s.g").alias("g")))
    counts = grams.groupBy("g").agg(F.count("*").alias("__n"))
    dup = (grams.join(counts.filter(F.col("__n") >= min_count), "g")
           .select("doc_id", "n_chars", "pos"))
    # interval union over sorted span starts: acc = (covered, last_end);
    # each start p covers [p, p+L) minus overlap with [.., last_end)
    acc0 = F.struct(F.lit(0).cast("long").alias("cov"),
                    F.lit(0).cast("long").alias("end"))
    spans = F.array_sort(F.collect_list("pos"))
    fold = F.aggregate(
        spans, acc0,
        lambda a, p: F.struct(
            (a["cov"] + F.greatest(p + L - F.greatest(p, a["end"]),
                                   F.lit(0).cast("long"))).alias("cov"),
            F.greatest(a["end"], p + L).alias("end")))
    per_doc = (dup.groupBy("doc_id")
               .agg(F.first("n_chars").alias("n_chars"),
                    F.count("*").alias("n_dup_grams"),
                    fold["cov"].alias("dup_chars")))
    out = (base.select("doc_id", F.length("__t").alias("n_chars"))
           .join(per_doc.drop("n_chars"), "doc_id", "left")
           .select("doc_id", "n_chars",
                   F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
                   F.coalesce("dup_chars", F.lit(0)).alias("dup_chars")))
    return out.withColumn(
        "dup_fraction",
        F.when(F.col("n_chars") > 0,
               F.col("dup_chars").cast("double") / F.col("n_chars"))
         .otherwise(F.lit(0.0)))
