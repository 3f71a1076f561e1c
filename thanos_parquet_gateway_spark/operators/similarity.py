"""Similarity search over embedding columns (SURVEY.md §7.1 M8).

Brute-force cosine top-k as the correctness baseline, and an LSH-bucketed
(random-hyperplane / sign-sketch) variant as the 100TB scale path: buckets
are joined on a short bit-signature key, so the candidate set per query is a
tiny fraction of the corpus and the join is an equi-join AQE can plan.

Every dot product and norm is one call of the compiled JVM kernel
``tsq_dot`` (``jvm/tsq/Dot.java``, registered by ``session.get_spark``): a
left-to-right double-precision sum, bit-identical to the sequential
``aggregate(zip_with(...))`` fold an independent SQL oracle replicates, but
not interpreted lambda by lambda.  No Python workers, no collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from thanos_parquet_gateway_spark.operators.topk import grouped_topk
from thanos_parquet_gateway_spark.sources.tables import (
    hash_parallelism,
    spread_small_scan,
)


def _sql_ref(c: str) -> str:
    """Backtick-quote a column name for embedding in an expr() string."""
    return "`" + c.replace("`", "``") + "`"


def _sql_double_array(vals) -> str:
    """SQL literal for array<double>.  repr() is shortest-round-trip and
    Spark's string→double cast (Java parseDouble) is correctly rounded, so
    the parsed literal is bit-identical to F.lit(float(x))."""
    return ("array(" +
            ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in vals) + ")")


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array Columns (or column names) by the ``tsq_dot``
    kernel; null if an array or element is null or the lengths differ."""
    return F.call_udf("tsq_dot", a, b)


def norm(a: Column | str) -> Column:
    """Euclidean norm, ``sqrt(tsq_dot(a, a))``: the same products summed in
    the same order as the dot product, so cosines stay bit-reproducible."""
    return F.sqrt(dot(a, a))


def _cos(dot_ab: Column, norm_a: Column, norm_b: Column) -> Column:
    """``dot_ab / (norm_a * norm_b)``, NULL when a norm is zero: try_divide
    gives NULL on a zero divisor in ANSI mode too, where ``/`` would fail
    the query with DIVIDE_BY_ZERO.  Any nonzero divisor divides as ``/``."""
    return F.try_divide(dot_ab, norm_a * norm_b)


def cosine(a: Column, b: Column) -> Column:
    return _cos(dot(a, b), norm(a), norm(b))


def _topk_per_query(scored: DataFrame, k: int, order_col: str, *,
                    descending: bool,
                    payload_cols: tuple[str, ...]) -> DataFrame:
    """Two-phase distributed per-query top-k.

    ``scored`` must carry ``query_id``, ``vec_id`` (the deterministic
    tie-breaker, unique per query), ``order_col`` (double) and
    ``payload_cols``.  Returns (query_id, rank, vec_id, *payload_cols) with
    rank 1..k in the requested order.

    Why not ``Window.partitionBy("query_id")``: that global ranking funnels
    EVERY scored candidate of a query into ONE reducer — at 100 TB with a
    10-query batch the whole corpus squeezes through 10 tasks.  Here:

    - phase 1 ranks inside each scoring partition —
      ``groupBy(query_id, spark_partition_id())`` keeps parallelism at
      queries × partitions and every group is bounded by its own
      partition's rows, so no reducer is ever larger than one input split;
      the per-group sort is a codegen'd ``array_sort`` + ``slice(…, k)``.
    - phase 2 merges the survivors — at most partitions × k rows per query
      reach the final ``groupBy(query_id)``, constant in corpus size.

    The sort key reproduces Spark/DuckDB ``ORDER BY x`` semantics exactly:
    NaN sorts greatest (FIRST under DESC, last-before-NULL under ASC), and
    NULL scores (Spark cosine yields NULL for a zero-norm vector — x/0.0 is
    NULL in non-ANSI mode) sort LAST in both directions, matching the
    oracle's default NULLS LAST.  A leading discriminator field encodes all
    of that so the finite keys stay negatable and the two-phase result is
    bit-identical to the window ranking an independent SQL oracle computes.

    The two-phase machinery itself is the shared
    :func:`~thanos_parquet_gateway_spark.operators.topk.grouped_topk`
    (also used by PromQL topk/bottomk/limitk).
    """
    oc = F.col(order_col)
    if descending:
        disc = (F.when(oc.isNull(), F.lit(2))
                 .when(F.isnan(oc), F.lit(0)).otherwise(F.lit(1)))
        ordv = (F.when(oc.isNull() | F.isnan(oc), F.lit(0.0))
                 .otherwise(-oc))
    else:
        disc = (F.when(oc.isNull(), F.lit(2))
                 .when(F.isnan(oc), F.lit(1)).otherwise(F.lit(0)))
        ordv = (F.when(oc.isNull() | F.isnan(oc), F.lit(0.0))
                 .otherwise(oc))
    key = F.struct(
        disc.alias("__nan"), ordv.alias("__ord"),
        F.col("vec_id").alias("vec_id"),
        *[F.col(c).alias(c) for c in payload_cols])
    ranked = grouped_topk(scored, ["query_id"], key, k)
    return ranked.select(
        "query_id",
        (F.col("__pos") + 1).alias("rank"),
        F.col("__x.vec_id").alias("vec_id"),
        *[F.col(f"__x.{c}").alias(c) for c in payload_cols])


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     query_vec_col: str = "query_vec") -> DataFrame:
    """Exact top-k by cosine: broadcast the (small) query set against the
    corpus, rank per query.  At cluster scale the corpus side stays
    partitioned; only queries move.  Ties break by corpus id (deterministic).
    Ranking is the two-phase partial top-k (``_topk_per_query``) — no
    per-query single-reducer window.
    Returns (query_id, rank, vec_id, cos_sim).

    Norms are hoisted OUT of the pair loop: the corpus norm is computed
    once per row before the join and the query norm once per query, so
    each (row, query) pair costs ONE kernel call (the dot product) instead
    of three — same sums, bit-identical cosine."""
    emb_n = embeddings.select("*", norm(vec_col).alias("__norm"))
    q_n = queries.select("*", norm(query_vec_col).alias("__qnorm"))
    j = emb_n.crossJoin(F.broadcast(q_n))
    scored = j.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("vec_id"),
        _cos(dot(vec_col, query_vec_col),
             F.col("__norm"), F.col("__qnorm")).alias("cos_sim"))
    return _topk_per_query(scored, k, "cos_sim", descending=True,
                           payload_cols=("cos_sim",))


def hyperplane_signature(vec: str, planes: list[list[float]]) -> Column:
    """Sign-sketch LSH bucket key over the column named ``vec``: bit i =
    (vec · plane_i) >= 0.

    The whole signature (planes × dims literals) compiles as ONE expr()
    parse — a Column tree costs one py4j round trip per plane element,
    which profiling showed dominated the lsh_topk query build."""
    v = _sql_ref(vec)
    bits = [f"CASE WHEN tsq_dot({v}, {_sql_double_array(p)}) >= 0 "
            "THEN '1' ELSE '0' END" for p in planes]
    return F.expr("concat(" + ", ".join(bits) + ")")


def lsh_topk(embeddings: DataFrame, queries: DataFrame,
             planes: list[list[float]], k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id",
             query_vec_col: str = "query_vec") -> DataFrame:
    """Approximate top-k: only corpus vectors whose hyperplane signature
    equals the query's are scored (equi-join on the bucket key — the scale
    path; recall grows with fewer planes / multi-probe).
    Returns (query_id, rank, vec_id, cos_sim)."""
    emb_b = embeddings.select(
        "*", hyperplane_signature(vec_col, planes).alias("__bucket"),
        norm(vec_col).alias("__norm"))
    q_b = queries.select(
        "*", hyperplane_signature(query_vec_col, planes).alias("__bucket"),
        norm(query_vec_col).alias("__qnorm"))
    j = emb_b.join(F.broadcast(q_b), "__bucket")
    scored = j.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("vec_id"),
        _cos(dot(vec_col, query_vec_col),
             F.col("__norm"), F.col("__qnorm")).alias("cos_sim"))
    return _topk_per_query(scored, k, "cos_sim", descending=True,
                           payload_cols=("cos_sim",))


def rademacher_signature(vec: Column, n_bits: int, seed: int = 0) -> Column:
    """Sign-sketch bucket key with hash-derived planes: bit i =
    sign(Σ_j v_j · s_ij), s_ij ∈ {±1} from xxhash64(seed, i, j).  The planes
    are never materialized and the dimension is read per row, so the sketch
    works on any embedding column; deterministic given ``seed``."""
    idx = F.sequence(F.lit(0), F.size(vec) - 1)

    def _prod(i):
        def inner(x, j):
            return (x.cast("double") *
                    (F.pmod(F.xxhash64(F.lit(seed), F.lit(i), j), F.lit(2))
                     .cast("double") * 2 - 1))
        return inner

    bits = []
    for i in range(n_bits):
        tot = F.aggregate(F.zip_with(vec, idx, _prod(i)), F.lit(0.0),
                          lambda a, v: a + v)
        bits.append(F.when(tot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _cents_to_arr(cents: DataFrame) -> DataFrame:
    """(cell, cvec) rows → ONE row holding all centroids: the broadcast
    nested-loop attaches the array to every corpus/query row and cell
    assignment becomes a pure map-side argmax — zero corpus shuffle."""
    return cents.agg(F.collect_list(F.struct("cell", "cvec")).alias("__cents"))


def _probe(df: DataFrame, vcol: str, n: int, cents_arr: DataFrame, *,
           keep_cvec: bool = False) -> DataFrame:
    """Attach the n best cells (by centroid cosine, ties to the lower cell
    id) as an exploded ``cell`` column — all map-side.  ``keep_cvec`` also
    carries the probed cell's centroid vector as ``__cvec`` (the residual
    encoders need v − centroid without a second centroid attach)."""
    j = df.crossJoin(F.broadcast(cents_arr))
    fields = [lambda c: cosine(F.col(vcol), c["cvec"]).alias("cs"),
              lambda c: (-c["cell"]).alias("neg"),
              lambda c: c["cell"].alias("cell")]
    if keep_cvec:
        fields.append(lambda c: c["cvec"].alias("cvec"))
    scored = F.transform(
        "__cents", lambda c: F.struct(*[f(c) for f in fields]))
    best = F.slice(F.reverse(F.array_sort(scored)), 1, n)
    out = (j.select("*", F.explode(best).alias("__b"))
           .withColumn("cell", F.col("__b.cell")))
    if keep_cvec:
        out = out.withColumn("__cvec", F.col("__b.cvec"))
    return out.drop("__cents", "__b")


def _lloyd_step(e: DataFrame, cents: DataFrame, *,
                exact_means: bool) -> DataFrame:
    """One Lloyd iteration: assign every vector to its nearest centroid,
    replace each centroid with its cell's element-wise mean (empty cells
    keep the previous centroid).

    Two mean paths:
    - default: posexplode → per-(cell, pos) native AVG — map-side partial
      aggregation, the 100 TB path (float sum order is parallel-dependent,
      fine for an index build);
    - ``exact_means``: per-cell sorted sequential fold in vec_id order —
      bit-reproducible so an independent SQL oracle (list(... ORDER BY
      vec_id) fold) matches exactly; cell size bounds the array.
    """
    asg = _probe(e, "v", 1, _cents_to_arr(cents))
    if exact_means:
        pairs = F.array_sort(F.collect_list(F.struct("vec_id", "v")))
        g = asg.groupBy("cell").agg(pairs.alias("__p"))
        dim = F.size(F.element_at(F.col("__p"), 1)["v"])
        mean = F.transform(
            F.sequence(F.lit(0), dim - 1),
            lambda p: F.aggregate(
                F.col("__p"), F.lit(0.0),
                lambda a, x: a + F.get(x["v"], p).cast("double"))
            / F.size(F.col("__p")))
        means = g.select("cell", mean.alias("mvec"))
    else:
        ex = asg.select("cell", F.posexplode("v").alias("pos", "val"))
        means = (ex.groupBy("cell", "pos")
                 .agg(F.avg(F.col("val").cast("double")).alias("c"))
                 .groupBy("cell")
                 .agg(F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "c"))),
                     lambda s: s["c"]).alias("mvec")))
    return (cents.join(means, "cell", "left")
            .select("cell", F.coalesce("mvec", "cvec").alias("cvec")))


def seed_centroids(e: DataFrame, nlist: int, hash_family: str) -> DataFrame:
    """``nlist`` deterministic seed centroids: the corpus vectors ranked
    first by a hash of their id — an O(1)-state sample needing no k-means
    pass.  orderBy().limit() plans as TakeOrderedAndProject (distributed
    top-nlist, NOT a single-partition sort); numbering then collapses the
    nlist survivors into ONE row (array_sort + posexplode) instead of a
    partition-less window, so no global-window warning and no single-
    partition sort stage."""
    rank_key = (F.md5(F.col("vec_id").cast("string")) if hash_family == "md5"
                else F.xxhash64(F.col("vec_id")).cast("string"))
    seeds = e.withColumn("__hk", rank_key).orderBy("__hk", "vec_id") \
             .limit(nlist)
    packed = seeds.agg(F.array_sort(F.collect_list(F.struct(
        F.col("__hk").alias("hk"), F.col("vec_id").alias("vec_id"),
        F.col("v").alias("v")))).alias("__s"))
    return (packed.select(F.posexplode("__s").alias("__pos", "__x"))
            .select((F.col("__pos") + 1).alias("cell"),
                    F.col("__x.v").alias("cvec")))


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             nlist: int = 8, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", query_vec_col: str = "query_vec",
             hash_family: str = "xxhash", lloyd_iters: int = 0,
             exact_means: bool = False) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into ``nlist``
    inverted cells around deterministic centroids, probe the ``nprobe``
    nearest cells per query, exact-cosine rescore inside the probed cells.

    The scale shape (vs brute force / LSH):
    - centroids start as hash-ranked seed vectors (``seed_centroids``);
      ``lloyd_iters`` k-means refinements re-center them on their cells'
      means (``_lloyd_step``) — each iteration is one corpus scan with a
      (cell, pos)-keyed aggregation whose output is nlist×dim rows, tiny.
    - cell assignment is a broadcast nested-loop against ``nlist`` rows
      (row multiplication nlist×, reduced back to 1× by the argmin window)
      — no shuffle of the corpus.
    - search touches ~``nprobe/nlist`` of the corpus per query via an
      equi-join on ``cell`` — the inverted-file effect.

    ``hash_family``: ``xxhash`` (64-bit JVM hash, default) or ``md5``
    (hex-string ranking an independent SQL oracle can replicate — same
    dual-family pattern as operators/dedup.py).  ``exact_means`` makes the
    Lloyd means bit-reproducible (sorted sequential folds) for oracles.
    Returns (query_id, rank, vec_id, cos_sim); ties break by vec_id.
    """
    e = embeddings.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("v"))
    cents = seed_centroids(e, nlist, hash_family)
    for _ in range(lloyd_iters):
        cents = _lloyd_step(e, cents, exact_means=exact_means)
    cents_arr = _cents_to_arr(cents)

    e_cells = _probe(e, "v", 1, cents_arr)
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).alias("qv"))
    q_probes = _probe(q, "qv", nprobe, cents_arr)

    j = e_cells.join(F.broadcast(q_probes), "cell")
    scored = j.select("query_id", "vec_id",
                      cosine(F.col("v"), F.col("qv")).alias("cos_sim"))
    return _topk_per_query(scored, k, "cos_sim", descending=True,
                           payload_cols=("cos_sim",))


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (deterministic, oracle-replicable
    — same element order as an ORDER-BY-position SQL fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, v: acc + v)


def pq_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
            m: int = 4, n_codes: int = 16, dim: int | None = None,
            id_col: str = "vec_id", vec_col: str = "embedding",
            query_id_col: str = "query_id", query_vec_col: str = "query_vec",
            hash_family: str = "xxhash") -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, public): split each
    vector into ``m`` sub-blocks, quantize every block to one of ``n_codes``
    codewords, search by asymmetric distance computation (ADC) — per query
    ONE m×n_codes lookup table, per corpus vector m table lookups instead of
    a dim-wide float scan.

    The 100 TB shape:
    - the codebook is the ``n_codes`` hash-ranked corpus vectors
      (``seed_centroids`` — a distributed TakeOrderedAndProject, no k-means
      pass required; deterministic, so an independent SQL oracle replicates
      it.  Lloyd refinement per block can be grafted on exactly as in
      ``ivf_topk``).
    - encoding is map-side: codebook broadcast as ONE row, per-block argmin
      inside a codegen'd array sort — the corpus never shuffles and the
      encoded output is m bytes-ish per vector (the memory-bound regime PQ
      exists for).
    - search is a broadcast nested-loop of corpus codes × query tables;
      each pair costs m ``element_at`` lookups — no dim-length math per
      pair, no shuffle.  Top-k per query via window.

    Ordering is by ADC distance (ascending, ties by vec_id); the exact
    cosine of each returned pair is attached for downstream rescoring.
    Returns (query_id, rank, vec_id, approx_dist, cos_sim).
    """
    if m < 1 or n_codes < 1:
        raise ValueError("pq_topk: m and n_codes must be >= 1")
    e = embeddings.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("v"))
    if dim is None:
        # one-row control-plane read (like the conversion manifest), not a
        # data-path collect
        dim = e.select(F.size("v").alias("d")).first()["d"]
    if dim % m != 0:
        raise ValueError(f"pq_topk: m={m} must divide dim={dim}")
    blk = dim // m

    def block(vec: Column, b: int) -> Column:
        return F.slice(vec, b * blk + 1, blk)

    # codebook: hash-ranked corpus vectors, broadcast as one row, sorted by
    # code so a lookup table indexed by code is a plain transform
    cb_arr = _cents_to_arr(seed_centroids(e, n_codes, hash_family))
    sorted_cb = F.array_sort(F.col("__cents"))

    def code_for(vec: Column, b: int) -> Column:
        scored = F.transform(
            sorted_cb,
            lambda c: F.struct(_l2sq(block(vec, b),
                                     block(c["cvec"], b)).alias("d"),
                               c["cell"].alias("code")))
        return F.element_at(F.array_sort(scored), 1)["code"]

    enc = (e.crossJoin(F.broadcast(cb_arr))
           .select("vec_id", "v",
                   F.array(*[code_for(F.col("v"), b)
                             for b in range(m)]).alias("__codes")))

    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).alias("qv"))

    def table_for(b: int) -> Column:
        return F.transform(
            sorted_cb,
            lambda c: _l2sq(block(F.col("qv"), b), block(c["cvec"], b)))

    qt = (q.crossJoin(F.broadcast(cb_arr))
          .select("query_id", "qv",
                  F.array(*[table_for(b) for b in range(m)]).alias("__tables")))

    # ADC: Σ_b tables[b][code_b] — sequential fold in block order
    approx = F.aggregate(
        F.zip_with("__codes", "__tables",
                   lambda c, t: F.element_at(t, c)),
        F.lit(0.0), lambda acc, v: acc + v)
    # rank on the NARROW (query_id, vec_id, approx_dist) projection — the
    # old window ranking dragged full v/qv vectors through the shuffle
    scored = (enc.crossJoin(F.broadcast(qt))
              .select("query_id", "vec_id", approx.alias("approx_dist")))
    topk = _topk_per_query(scored, k, "approx_dist", descending=False,
                           payload_cols=("approx_dist",))
    # exact-cosine rescoring of the winners only: the queries×k survivor
    # set broadcasts against the corpus, so the corpus never shuffles
    return (e.join(F.broadcast(topk), "vec_id")
            .join(F.broadcast(q), "query_id")
            .select("query_id", "rank", "vec_id", "approx_dist",
                    cosine(F.col("v"), F.col("qv")).alias("cos_sim")))


def ivfpq_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
               nlist: int = 8, nprobe: int = 2,
               m: int = 4, n_codes: int = 16, dim: int | None = None,
               id_col: str = "vec_id", vec_col: str = "embedding",
               query_id_col: str = "query_id", query_vec_col: str = "query_vec",
               hash_family: str = "xxhash",
               residual: bool = False) -> DataFrame:
    """IVF×PQ ANN — the IVFADC layout (Jégou et al. 2011 §V, public): an
    IVF coarse quantizer bounds the candidate set to the ``nprobe`` probed
    cells per query, and PQ asymmetric-distance lookups score inside those
    cells.  Composes ``ivf_topk``'s cell pruning with ``pq_topk``'s m-byte
    codes so search touches ~nprobe/nlist of the corpus AND pays m table
    lookups per pair instead of a dim-wide float scan — the shape that
    makes billion-vector search tractable (flat ADC is a linear scan per
    query batch; IVF-only still does dim-wide math inside probed cells).

    The 100 TB shape:
    - coarse centroids and the PQ codebook are both hash-ranked seed
      vectors (``seed_centroids`` — distributed TakeOrderedAndProject
      collapsed to one broadcast row; deterministic, so a SQL oracle
      replicates both).  By default codes quantize the RAW vector so the
      codebook is cell-independent; ``residual=True`` enables the classic
      IVFADC refinement (Jégou 2011 §V.A: quantize v − centroid(cell),
      and build the query's ADC table from q − centroid(probed cell)) —
      the SAME plan shape (the probe already carries the centroid row, so
      the residual is one extra map-side zip_with on each side, no new
      join or shuffle), still closed-form for the SQL oracle.
    - corpus rows get (cell, codes) map-side: one broadcast nested loop
      for the centroid argmax, one for the per-block code argmin — the
      corpus never shuffles for indexing.
    - search joins corpus codes to the broadcast (query, probed-cell,
      lookup-table) rows on ``cell`` — an equi-join AQE plans; candidates
      are bounded by the probed cells, scored by m ``element_at`` lookups.
    - ranking is the two-phase partial top-k; winners-only exact-cosine
      rescoring as in ``pq_topk``.

    Returns (query_id, rank, vec_id, approx_dist, cos_sim); ordering by
    ADC distance ascending, ties by vec_id.
    """
    if m < 1 or n_codes < 1 or nlist < 1 or nprobe < 1:
        raise ValueError("ivfpq_topk: m, n_codes, nlist, nprobe must be >= 1")
    e = embeddings.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("v"))
    if dim is None:
        dim = e.select(F.size("v").alias("d")).first()["d"]
    if dim % m != 0:
        raise ValueError(f"ivfpq_topk: m={m} must divide dim={dim}")
    blk = dim // m

    cents_arr = _cents_to_arr(seed_centroids(e, nlist, hash_family))
    cb_arr = (_cents_to_arr(seed_centroids(e, n_codes, hash_family))
              .withColumnRenamed("__cents", "__cb"))
    sorted_cb = F.array_sort(F.col("__cb"))

    def block(vec: Column, b: int) -> Column:
        return F.slice(vec, b * blk + 1, blk)

    def code_for(vec: Column, b: int) -> Column:
        scored = F.transform(
            sorted_cb,
            lambda c: F.struct(_l2sq(block(vec, b),
                                     block(c["cvec"], b)).alias("d"),
                               c["cell"].alias("code")))
        return F.element_at(F.array_sort(scored), 1)["code"]

    def _residual(vec: Column) -> Column:
        # v − centroid(assigned/probed cell), double precision — the
        # probe row already carries the centroid, so this is map-side
        return F.zip_with(vec, F.col("__cvec"),
                          lambda x, y: x.cast("double") - y.cast("double"))

    # corpus index rows: (vec_id, cell, codes) — both attaches map-side
    e_cells = _probe(e, "v", 1, cents_arr, keep_cvec=residual)
    evec = _residual(F.col("v")) if residual else F.col("v")
    enc = (e_cells.crossJoin(F.broadcast(cb_arr))
           .select("vec_id", "cell",
                   F.array(*[code_for(evec, b)
                             for b in range(m)]).alias("__codes")))

    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).alias("qv"))
    q_probes = _probe(q, "qv", nprobe, cents_arr, keep_cvec=residual)
    qvec = _residual(F.col("qv")) if residual else F.col("qv")

    def table_for(b: int) -> Column:
        return F.transform(
            sorted_cb,
            lambda c: _l2sq(block(qvec, b), block(c["cvec"], b)))

    qt = (q_probes.crossJoin(F.broadcast(cb_arr))
          .select("query_id", "cell",
                  F.array(*[table_for(b) for b in range(m)]).alias("__tables")))

    # each corpus vector lives in exactly one cell, so the cell equi-join
    # matches a (query, vector) pair at most once — no dedup needed
    approx = F.aggregate(
        F.zip_with("__codes", "__tables",
                   lambda c, t: F.element_at(t, c)),
        F.lit(0.0), lambda acc, v: acc + v)
    scored = (enc.join(F.broadcast(qt), "cell")
              .select("query_id", "vec_id", approx.alias("approx_dist")))
    topk = _topk_per_query(scored, k, "approx_dist", descending=False,
                           payload_cols=("approx_dist",))
    return (e.join(F.broadcast(topk), "vec_id")
            .join(F.broadcast(q), "query_id")
            .select("query_id", "rank", "vec_id", "approx_dist",
                    cosine(F.col("v"), F.col("qv")).alias("cos_sim")))


def semantic_dedup(embeddings: DataFrame, k_clusters: int = 8,
                   threshold: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   hash_family: str = "xxhash", lloyd_iters: int = 0,
                   exact_means: bool = False) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    partition the corpus into ``k_clusters`` cells around deterministic
    hash-seeded centroids (the same seeding as ``ivf_topk``), then inside
    each cell drop every vector whose cosine to some LOWER-ID cell member
    is ≥ ``threshold`` (the greedy keep-first exemplar rule, made
    order-free: x is dropped iff ∃ y in x's cell with y.id < x.id and
    cos(x, y) ≥ threshold — a single-pass, non-iterative policy an
    independent SQL oracle replicates exactly).

    Scale shape (100 TB): centroid selection is a distributed top-k
    (TakeOrderedAndProject) collapsed to ONE broadcast row; cell assignment
    is a map-side argmax against that row (zero corpus shuffle — see
    ivf_topk); the pairwise pass is an equi-join on ``cell``, so the
    quadratic term is bounded per cell (n/k average), never corpus².
    Raise ``k_clusters`` proportionally with the corpus to hold cell sizes
    constant.  ``hash_family='md5'`` gives a seeding a SQL oracle can
    reproduce.  The pair join runs in the partitions of the (spread) scan:
    a few-split input is round-robined over the cores first
    (``spread_small_scan``), else the whole quadratic pass is one task.

    Returns one row per input vector: (vec_id, cell, keep).
    """
    if k_clusters < 1:
        raise ValueError("semantic_dedup: k_clusters must be >= 1")
    e = spread_small_scan(embeddings.select(F.col(id_col).alias("vec_id"),
                                            F.col(vec_col).alias("v")))
    cents = seed_centroids(e, k_clusters, hash_family)
    for _ in range(lloyd_iters):
        cents = _lloyd_step(e, cents, exact_means=exact_means)
    assigned = _probe(e, "v", 1, _cents_to_arr(cents))
    # norm hoisted out of the pairwise loop: one per INPUT row, not one
    # per pair (same sum, bit-identical cosine)
    assigned = assigned.withColumn("__n", norm(F.col("v")))
    a = assigned.select("cell", F.col("vec_id").alias("id_a"),
                        F.col("v").alias("va"), F.col("__n").alias("__na"))
    b = assigned.select("cell", F.col("vec_id").alias("id_b"),
                        F.col("v").alias("vb"), F.col("__n").alias("__nb"))
    drops = (a.join(b, "cell")
             .filter(F.col("id_a") < F.col("id_b"))
             .filter(_cos(dot(F.col("va"), F.col("vb")),
                          F.col("__na"), F.col("__nb")) >= threshold)
             .select(F.col("id_b").alias("vec_id"))
             .distinct()
             .withColumn("__drop", F.lit(True)))
    return (assigned.join(drops, "vec_id", "left")
            .select("vec_id", "cell",
                    F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep")))


def embedding_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                             planes: list[list[float]] | None = None,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding", *,
                             all_pairs: bool = False,
                             bands: int = 8, bits_per_band: int = 2,
                             seed: int = 0) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim ≥ threshold).

    DEFAULT is the banded-LSH path (OR-amplified sign sketches: candidates
    are pairs sharing ≥1 of ``bands`` bucket keys of ``bits_per_band`` bits;
    exact cosine rescoring keeps precision at 1, recall is tuned by the
    banding).  An all-pairs crossJoin is O(n²) shuffle — a 100 TB killer —
    so it is now an explicit opt-in (``all_pairs=True``) for small corpora
    and correctness oracles, never the default.

    Tuning: at real near-dup thresholds (≥0.9, angle ≤ 26°) the defaults
    give per-pair recall ≈ 1-(1-0.86^2)^8 ≈ 0.91 with n/4-sized buckets per
    band; raise ``bits_per_band`` to shrink buckets at scale, raise
    ``bands`` for recall.  Loose thresholds (≈0.35) need 1-bit bands, whose
    recall 1-(θ/π)^bands still misses pairs (≈0.9995 at 8 bands) while the
    band join emits more candidate rows than there are pairs — use
    ``all_pairs=True`` there, or IVF-style clustering at scale (see
    ``lsh_topk`` for the search-side variant).

    Parallelism: a few-split input is round-robined over the cores first
    (``spread_small_scan``), so the band join and the all-pairs cross join
    do not run in the single scan task.  The deduplicated candidate ids get
    an explicit partition count (``hash_parallelism``) before the
    CPU-bound rescoring: they are byte-small, and AQE would coalesce their
    shuffle into one or two tasks.  Each cosine is the same left-to-right
    sum whatever the partitioning, so results do not depend on it.
    """
    e = (spread_small_scan(embeddings.select(F.col(id_col).alias("id"),
                                             F.col(vec_col).alias("v")))
         # norm hoisted out of the pair loop: one per input row
         .withColumn("__n", norm("v")))
    if all_pairs:
        a = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                     F.col("__n").alias("__na"))
        b = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                     F.col("__n").alias("__nb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    elif planes is not None:
        e = e.withColumn("__bucket", hyperplane_signature("v", planes))
        a = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                     F.col("__n").alias("__na"), "__bucket")
        b = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                     F.col("__n").alias("__nb"), "__bucket")
        pairs = a.join(b, "__bucket").filter(F.col("id_a") < F.col("id_b"))
    else:
        # Decide with small rows, move vectors once (the §8 shuffle-proxy
        # rule): the band self-join and the pair dedup run over bare
        # (id, band, key) rows — NOT the embedding payloads.  Carrying
        # va/vb through the join+dropDuplicates shuffles every candidate
        # pair's two vectors (≈1 KB each) up to ``bands`` times; measured
        # 116 s → 8 s on the sf0.1 near-dup entry.  Vectors re-attach via
        # two id-keyed joins AFTER the dedup, so each embedding crosses
        # the wire O(candidate-degree) instead of O(bands × pairs).
        keys = F.array(*[rademacher_signature(F.col("v"), bits_per_band,
                                              seed=seed * 1009 + k)
                         for k in range(bands)])
        kb = e.select("id", F.posexplode(keys).alias("band", "key"))
        pa = kb.select(F.col("id").alias("id_a"), "band", "key")
        pb = kb.select(F.col("id").alias("id_b"), "band", "key")
        # repartition AFTER dropDuplicates keeps its map-side dedup
        ids = (pa.join(pb, ["band", "key"])
               .filter(F.col("id_a") < F.col("id_b"))
               .dropDuplicates(["id_a", "id_b"])
               .repartition(hash_parallelism(embeddings)))
        av = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                      F.col("__n").alias("__na"))
        bv = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                      F.col("__n").alias("__nb"))
        pairs = ids.join(av, "id_a").join(bv, "id_b")
    return (pairs.withColumn("cos_sim",
                             _cos(dot("va", "vb"),
                                  F.col("__na"), F.col("__nb")))
            .filter(F.col("cos_sim") >= threshold)
            .select("id_a", "id_b", "cos_sim"))
