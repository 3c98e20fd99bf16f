"""Similarity search over the embeddings table [EXT]:

- **Brute-force cosine top-k** (the exactness baseline): query set x
  corpus join, cosine in a fused JVM expression, per-query top-k via
  window row_number. At 100 TB the corpus side is the big table; the
  query set broadcasts, so this is a map-side join + one shuffle on
  query_id for the top-k — no cross-shuffle of the corpus.
- **LSH-bucketed ANN** (the scale path): deterministic random-hyperplane
  signatures bucket the corpus; each query only scans its own bucket
  (and Hamming-1 neighbors for recall). Approximate by construction ->
  rows-only check; its recall is measured against the brute-force
  baseline in tests.

Dot products fold left-to-right via ``F.aggregate`` so the float math is
order-deterministic; the DuckDB oracle uses ``list_reduce`` with the
same fold order, giving bit-identical doubles before the final round.

Each search stage has one implementation, and the queries differ only
in the parameters they pass it:

- ``_side`` + ``_cosine``: a pair's rounded cosine over norms computed
  once per vector (``cosine_topk``, ``embedding_near_dups``,
  ``ann_lsh_topk``, ``ivf_ann_topk``, ``hard_negative_mining``,
  ``ann_srp_topk``, ``rrf_hybrid_retrieval``'s dense leg).
- ``_top_k``: the first k rows per key by a window ``row_number``,
  filtered on the raw rank so Spark plans a ``WindowGroupLimit``
  (every ranked query; ``_rank_neighbors`` is its per-query
  neighbor form for ``cosine_topk``, ``ann_lsh_topk``,
  ``ivf_ann_topk`` and ``ann_srp_topk``).
- ``_nearest``: each point's nearest centroid by a struct-min argmin,
  ties to the lower centroid id.
- ``_centroids``: the per-dimension decimal(30,15) mean vector of each
  group (``label_centroid_similarity``, ``ivf_ann_topk``'s cells).
- ``_lloyd``: Lloyd rounds composed of the two above, keyed on the
  group keys (``kmeans_assignments`` and so ``kmeans_clusters`` and
  ``cluster_balanced_sample``; ``pq_ann_topk`` per subspace;
  ``incremental_ivf_assign``).
- ``corpusops._trigram_tfidf``: the sparse leg's tf-idf posting list
  (``rrf_hybrid_retrieval``, ``textops.sparse_cosine_pairs``).

The oracle SQL mirrors the same stages with text fragments of its own
(``_sql_emb``, ``_sql_cosine``, ``_sql_top_k``, ``_sql_nearest``,
``_sql_centroids``, ``_sql_lloyd``, ``corpusops._TFIDF_SQL``); it shares
no text with the Spark code, so it stays an independent restatement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.functions import vectors as V
from spark_kafka_airflow_pipeline_spark.operators.base import (
    QueryFn,
    barrier,
    min_label_fixpoint,
    table,
)
from spark_kafka_airflow_pipeline_spark.operators.corpusops import (
    _TFIDF_SQL,
    _trigram_tfidf,
)

N_QUERIES = 10  # vec_id < 10 form the query set
TOP_K = 5


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    # float -> double once, up front: exact widening, and every
    # downstream product/sum is double-precision in both engines
    return e.select("vec_id", "label",
                    F.col("embedding").cast("array<double>").alias("emb"))


def _side(s: str, nrm: str | None = None) -> list[Column]:
    """The columns one side of a cosine pair carries through the join:
    the vector as ``<s>_emb`` and its L2 norm as ``n_<s>``. The norm is
    computed here, once per vector, or read from column ``nrm`` when a
    self-joined frame computed it before the split."""
    norm = V.l2_norm("emb") if nrm is None else F.col(nrm)
    return [F.col("emb").alias(f"{s}_emb"), norm.alias(f"n_{s}")]


def _cosine(a: str, b: str) -> Column:
    """6dp cosine of sides ``a`` and ``b`` (built by ``_side``).

    Higher-order array folds are interpreted (not codegen), so folding
    |a| and |b| per PAIR would redo the dominant work once per pair;
    with the norms carried, a pair costs one dot product, and
    dot/(n_a*n_b) is the exact same double as the fused per-pair form
    the oracle writes."""
    return F.round(V.dot(F.col(f"{a}_emb"), F.col(f"{b}_emb"))
                   / (F.col(f"n_{a}") * F.col(f"n_{b}")), 6)


def _top_k(df: DataFrame, keys: str | list[str], order: list,
           k: int, rank: str = "rank") -> DataFrame:
    """The first ``k`` rows of each ``keys`` group by ``order``,
    numbered from 1 in column ``rank`` (an int). The filter reads the
    raw ``row_number``, so Spark plans a ``WindowGroupLimit`` below the
    window (a cast in between would block it). For k = 1 the filter is
    ``rank = 1``, the equality form the top-1 queries' plans carry."""
    w = Window.partitionBy(keys).orderBy(*order)
    n = F.col(rank)
    return (df.withColumn(rank, F.row_number().over(w))
            .filter(n == 1 if k == 1 else n <= k))


def _rank_neighbors(pairs: DataFrame) -> DataFrame:
    """Each query's ``TOP_K`` most cosine-similar neighbors, ties to
    the lower neighbor id."""
    return (_top_k(pairs, "query_id",
                   [F.col("cosine_sim").desc(), F.col("neighbor_id")], TOP_K)
            .select("query_id", "neighbor_id", "cosine_sim", "rank"))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each query vector (vec_id < N_QUERIES), the TOP_K most
    cosine-similar other vectors. Exact, deterministic tie-break on
    neighbor id."""
    emb = _embeddings(spark, sf_dir)
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"), *_side("q")))
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), *_side("c"))
    return _rank_neighbors(
        corpus.join(F.broadcast(queries),
                    F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _cosine("q", "c").alias("cosine_sim")))


# -- oracle fragments: DuckDB restatements of the stages above ---------

def _sql_emb(*cols: str) -> str:
    """The ``emb`` CTE: ``vec_id``, ``cols`` and the embedding widened
    to DOUBLE[]."""
    return (f"emb AS (\n  SELECT {', '.join(('vec_id',) + cols)}, "
            "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb\n"
            "  FROM embeddings\n)")


def _sql_dot(a: str, b: str) -> str:
    return (f"list_reduce(list_transform(list_zip({a}, {b}), "
            "p -> p[1] * p[2]), (acc, x) -> acc + x)")


def _sql_sumsq(a: str) -> str:
    return f"list_reduce(list_transform({a}, x -> x * x), (acc, x) -> acc + x)"


def _sql_cosine(a: str, b: str) -> str:
    return (f"round({_sql_dot(a, b)}\n"
            f"           / (sqrt({_sql_sumsq(a)}) * sqrt({_sql_sumsq(b)})), 6)")


def _sql_top_k(src: str, part: str, order: str, k: int,
               rank: str = "rank") -> str:
    """Rows of ``src`` ranked 1..k per ``part`` by ``order``, plus the
    INT column ``rank``."""
    return (f"SELECT * FROM (SELECT *, CAST(row_number() OVER ("
            f"PARTITION BY {part} ORDER BY {order}) AS INT) AS {rank} "
            f"FROM {src}) WHERE {rank} <= {k}")


_SQL_RANK_NEIGHBORS = f"""
SELECT query_id, neighbor_id, cosine_sim, rank
FROM ({_sql_top_k("pairs", "query_id", "cosine_sim DESC, neighbor_id", TOP_K)})
"""

COSINE_TOPK_SQL = f"""
WITH {_sql_emb()},
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_sql_cosine("q.emb", "c.emb")} AS cosine_sim
  FROM emb q, emb c
  WHERE q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
)""" + _SQL_RANK_NEIGHBORS


def embedding_near_dups(spark: SparkSession, sf_dir: str,
                        threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within each label group
    (label is the blocking key -> never a full cross join). The norm
    is computed once per vector before the self-join splits it."""
    par = spark.sparkContext.defaultParallelism
    emb = (_embeddings(spark, sf_dir)
           .repartition(par, "vec_id")
           .select("vec_id", "label", "emb", V.l2_norm("emb").alias("nrm")))
    a = emb.select(F.col("vec_id").alias("id_a"), "label", *_side("a", "nrm"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.col("label").alias("label_b"), *_side("b", "nrm"))
    return (
        a.join(b, (F.col("label") == F.col("label_b"))
               & (F.col("id_a") < F.col("id_b")))
        .select("label", "id_a", "id_b", _cosine("a", "b").alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def _sql_near_dups(thr: float) -> str:
    return f"""
WITH {_sql_emb("label")}
SELECT * FROM (
  SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
         {_sql_cosine("a.emb", "b.emb")} AS cosine_sim
  FROM emb a, emb b
  WHERE a.label = b.label AND a.vec_id < b.vec_id
) WHERE cosine_sim >= {thr}
"""


EMBEDDING_NEAR_DUPS_SQL = _sql_near_dups(0.95)


def _centroids(df: DataFrame, keys: list[str]) -> DataFrame:
    """Mean ``emb`` per ``keys`` group as ``(*keys, cent
    array<double>)``. Aggregates per dimension via posexplode + groupBy
    (scales: shuffle keyed on (keys, dim), dims x groups cells); exact
    decimal sums make the centroid doubles
    accumulation-order-independent."""
    return (
        df.select(*keys, F.posexplode("emb").alias("dim", "v"))
        .groupBy(*keys, "dim")
        .agg((F.sum(F.col("v").cast("decimal(30,15)")).cast("double")
              / F.count("v")).alias("c"))
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("p"))
        .select(*keys, F.transform("p", lambda q: q["c"]).alias("cent"))
    )


def _sql_centroids(key: str, src: str) -> str:
    """``(key, cent)``: the decimal per-dimension mean of ``emb`` per
    ``key`` group of ``src``; exact decimal sums make the doubles
    bit-identical to Spark's regardless of accumulation order."""
    return f"""
  SELECT {key}, list(c ORDER BY dim) AS cent FROM (
    SELECT {key}, dim,
           CAST(SUM(CAST(v AS DECIMAL(30,15))) AS DOUBLE) / COUNT(v) AS c
    FROM (SELECT {key}, generate_subscripts(emb, 1) AS dim, unnest(emb) AS v
          FROM {src})
    GROUP BY {key}, dim)
  GROUP BY {key}
"""


def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each vector's cosine to its own label centroid — the classic
    cluster-coherence metric."""
    emb = _embeddings(spark, sf_dir)
    sim = F.round(V.cosine_similarity(F.col("emb"), F.col("cent")), 6)
    return (
        emb.join(F.broadcast(_centroids(emb, ["label"])), "label")
        .select("vec_id", "label", sim.alias("centroid_sim"))
    )


LABEL_CENTROID_SQL = f"""
WITH {_sql_emb("label")},
centroids AS ({_sql_centroids("label", "emb")})
SELECT e.vec_id, e.label,
       {_sql_cosine("e.emb", "c.cent")} AS centroid_sim
FROM emb e JOIN centroids c USING (label)
"""


def hyperplane_buckets_agg(emb: DataFrame, n_planes: int,
                           seed: int = 42) -> DataFrame:
    """(vec_id, bucket): random-hyperplane LSH bucket per vector in
    whole-stage-codegen AGGREGATE form — posexplode the vector once,
    then one conditional sum per plane (weights derived inline from
    ``hash(seed, plane, dim)``, same family as
    ``functions.vectors.random_hyperplane_signs``). The per-row
    higher-order-function fold is interpreted in Spark and costs
    n_planes x dim interpreted ops per vector; this form measured ~6x
    faster at sf0.1 (50k x 64-dim). Projections sum as decimals so the
    SIGN (and therefore the bucket) is accumulation-order-exact."""
    by_dim = emb.select("vec_id", F.posexplode("emb").alias("i", "x"))

    def w(p: int):
        return (F.pmod(F.hash(F.lit(seed), F.lit(p), F.col("i")),
                       F.lit(10007)) / F.lit(5003.5)) - F.lit(1.0)

    # decimal(18,10): order-exact like any decimal sum, but precision
    # <= 18 keeps Spark on long-backed decimals (no BigDecimal boxing);
    # |x*w| <= ~1e2 and 64 terms fit 8 integer digits with room
    projs = by_dim.groupBy("vec_id").agg(*[
        F.sum((F.col("x") * w(p)).cast("decimal(18,10)")).alias(f"pr{p}")
        for p in range(n_planes)
    ])
    bucket = sum(
        (F.when(F.col(f"pr{p}") >= 0,
                F.lit(1 << (n_planes - 1 - p)).cast("long"))
         .otherwise(F.lit(0).cast("long")) for p in range(n_planes)),
        start=F.lit(0).cast("long"),
    )
    return projs.select("vec_id", bucket.alias("bucket"))


def ann_lsh_topk(spark: SparkSession, sf_dir: str,
                 n_planes: int = 6) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH buckets the corpus; each
    query multiprobes its own bucket plus all Hamming-1 neighbors
    (n_planes+1 probes). The 100 TB path — bucket join replaces the full
    query x corpus product. Approximate -> rows-only; recall vs
    cosine_topk is asserted in tests."""
    emb = _embeddings(spark, sf_dir)
    probes = F.array(F.col("bucket"), *[
        F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
        for i in range(n_planes)
    ])
    # the signature agg runs ONCE over the full corpus; the query side
    # recomputes it only for its N_QUERIES vectors (decimal projections
    # are accumulation-order-exact, so both lineages agree per vector)
    q_emb = emb.filter(F.col("vec_id") < N_QUERIES)
    queries = (q_emb.join(hyperplane_buckets_agg(q_emb, n_planes), "vec_id")
               .select(F.col("vec_id").alias("query_id"), *_side("q"),
                       F.explode(probes).alias("bucket")))
    corpus = (emb.join(hyperplane_buckets_agg(emb, n_planes), "vec_id")
              .select(F.col("vec_id").alias("neighbor_id"), *_side("c"),
                      "bucket"))
    return _rank_neighbors(
        corpus.join(F.broadcast(queries), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _cosine("q", "c").alias("cosine_sim"))
        .dropDuplicates(["query_id", "neighbor_id"]))  # multiprobe overlap


def ivf_ann_topk(spark: SparkSession, sf_dir: str,
                 nprobe: int = 3) -> DataFrame:
    """IVF-style ANN: the label partition is the inverted file — each
    query ranks the (tiny, broadcast) centroid table by cosine, probes
    its ``nprobe`` nearest cells, and scans ONLY those cells' vectors
    for the exact top-k. At 100 TB the corpus is read once, pre-
    partitioned by cell; per query the scan cost is nprobe/n_cells of
    brute force. (A production system would k-means its own centroids;
    the label column stands in as the coarse quantizer here, keeping the
    plumbing — centroid build, probe ranking, cell-restricted scan —
    identical.) Approximate -> rows-only; recall vs cosine_topk is
    asserted in tests."""
    emb = _embeddings(spark, sf_dir)
    queries = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"), *_side("q")))
    cent_sim = V.cosine_similarity(F.col("q_emb"), F.col("cent"))
    probes = _top_k(
        queries.crossJoin(F.broadcast(_centroids(emb, ["label"])))
        .select("query_id", "q_emb", "n_q", "label", cent_sim.alias("cent_sim")),
        "query_id", [F.col("cent_sim").desc(), F.col("label")], nprobe,
        "cell_rank").select("query_id", "q_emb", "n_q", "label")
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), *_side("c"),
                        "label")
    return _rank_neighbors(
        corpus.join(F.broadcast(probes), "label")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _cosine("q", "c").alias("cosine_sim")))


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics — the sanity pass before any
    cosine work (catches unnormalized or degenerate vectors). Row-level
    norms fold left-to-right; the label aggregate sums them as decimals
    so min/max/avg are engine- and partitioning-exact."""
    emb = _embeddings(spark, sf_dir)
    nrm = F.round(V.l2_norm("emb"), 6)
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vectors"),
             F.min("nrm").alias("min_norm"),
             F.max("nrm").alias("max_norm"),
             (F.sum(F.col("nrm").cast("decimal(20,6)")).cast("double")
              / F.count("nrm")).alias("avg_norm"))
    )


EMBEDDING_NORM_STATS_SQL = f"""
WITH {_sql_emb("label")},
norms AS (
  SELECT label, round(sqrt({_sql_sumsq("emb")}), 6) AS nrm
  FROM emb
)
SELECT label, COUNT(*) AS n_vectors,
       MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
       CAST(SUM(CAST(nrm AS DECIMAL(20,6))) AS DOUBLE) / COUNT(nrm) AS avg_norm
FROM norms GROUP BY label
"""


def embedding_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization quality report per label: quantize each
    vector to 256 levels over its own [min, max] range, dequantize, and
    aggregate reconstruction error — the storage-compression validation
    pass of an embedding pipeline (4x smaller vectors; is the recall
    loss tolerable?).

    Plan: array_min/max stay vector-local (no explode), then one
    posexplode for the per-dimension error and ONE groupBy(label)
    shuffle — since every vector has the same dimensionality, the mean
    per-vector MSE equals the mean per-dimension squared error, so no
    per-vector intermediate aggregate is needed.

    Cross-engine determinism: elements are cast float->double up front
    (exact); the quant bucket uses floor() (exact in both engines, no
    half-rounding convention involved); squared errors are summed as
    decimals so partial-aggregation order cannot perturb the sum; the
    single final division happens in double, once.
    """
    e = table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    v = v.select(
        "vec_id", "label", "v",
        F.array_min("v").alias("mn"), F.array_max("v").alias("mx"))
    x = v.select(
        "vec_id", "label", "mn", "mx",
        F.posexplode("v").alias("pos", "x"))
    q = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        F.least(F.lit(255.0),
                F.floor((F.col("x") - F.col("mn")) * 255.0
                        / (F.col("mx") - F.col("mn")))))
    deq = F.col("mn") + q * (F.col("mx") - F.col("mn")) / 255.0
    err = F.col("x") - deq
    return (x.withColumn("err2", (err * err).cast("decimal(25,18)"))
            .withColumn("abs_err", F.abs(err))
            .groupBy("label")
            .agg(F.countDistinct("vec_id").alias("n_vectors"),
                 F.round(F.sum("err2").cast("double") * 1e6
                         / F.count(F.lit(1)), 6).alias("avg_mse_ppm"),
                 F.round(F.max("abs_err"), 9).alias("max_abs_err")))


EMBEDDING_INT8_SQL = f"""
WITH {_sql_emb("label")}, b AS (
  SELECT vec_id, label, emb AS v,
         list_min(emb) AS mn, list_max(emb) AS mx
  FROM emb
), x AS (
  SELECT vec_id, label, mn, mx, unnest(v) AS x FROM b
), e AS (
  SELECT vec_id, label,
         x - (mn + (CASE WHEN mx = mn THEN 0.0
                    ELSE least(255.0, floor((x - mn) * 255.0 / (mx - mn)))
                    END) * (mx - mn) / 255.0) AS err
  FROM x
)
SELECT label, COUNT(DISTINCT vec_id) AS n_vectors,
       round(CAST(SUM(CAST(err * err AS DECIMAL(25,18))) AS DOUBLE) * 1e6
             / COUNT(*), 6) AS avg_mse_ppm,
       round(MAX(abs(err)), 9) AS max_abs_err
FROM e GROUP BY label
"""


def _sqdist() -> Column:
    """Squared L2 distance of ``emb`` to ``cent``, folded left to
    right (the oracle's ``_SQL_SQDIST``)."""
    return F.aggregate(
        F.zip_with("emb", "cent", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda a, x: a + x)


def _nearest(points: DataFrame, cents: DataFrame, keys: list[str],
             carry: str = "emb") -> DataFrame:
    """``(vec_id, *keys, carry, cid, dist)``: each point's nearest
    centroid among the ``cents`` rows (``*keys, cid, cent``) that share
    its ``keys``, by squared distance, ties to the lower ``cid``
    (struct-min). The centroid table is k rows per key, so it
    broadcasts: a join on the keys, or with no keys a k-constant nested
    loop, NOT a data-sized cartesian."""
    pairs = (points.join(F.broadcast(cents), keys) if keys
             else points.crossJoin(F.broadcast(cents)))
    return (pairs.withColumn("dist", _sqdist())
            .groupBy("vec_id", *keys)
            .agg(F.min(F.struct("dist", "cid")).alias("m"),
                 F.first(carry).alias(carry))
            .select("vec_id", *keys, carry, F.col("m.cid").alias("cid"),
                    F.col("m.dist").alias("dist")))


def _lloyd(points: DataFrame, init: DataFrame, keys: list[str],
           iters: int) -> tuple[DataFrame, DataFrame]:
    """``iters`` Lloyd rounds over ``points`` (``vec_id, *keys, emb``)
    from the centroid table ``init`` (``*keys, cid, cent``): assign
    each point to its nearest centroid (``_nearest``), then move each
    centroid to its members' decimal mean (``_centroids``). Returns the
    last assignment and the centroids moved onto it; one (keys, cid,
    dim) shuffle per round."""
    assigned, cents = None, init
    for _ in range(iters):
        assigned = _nearest(points, cents, keys)
        cents = _centroids(assigned, [*keys, "cid"])
    return assigned, cents


def kmeans_assignments(spark: SparkSession, sf_dir: str,
                       k: int = 8, iters: int = 2) -> DataFrame:
    """Lloyd k-means over the embedding table with DETERMINISTIC
    arithmetic end-to-end — an iterative algorithm held to a full
    value-hash DuckDB oracle (chained CTEs, one pair per iteration),
    not a rows-only check: init is the first ``k`` vectors, squared
    distances accumulate left-to-right as identical IEEE expressions in
    both engines, ties argmin to the lower cluster id, and centroid /
    mean-distance aggregations run exact decimal(30,15) sums so the
    results are accumulation-order-independent (``_lloyd``).
    Returns each vector's ``(vec_id, emb, cid, dist)``."""
    emb = _embeddings(spark, sf_dir)
    init = (emb.filter(F.col("vec_id") < k)
            .select(F.col("vec_id").cast("int").alias("cid"),
                    F.col("emb").alias("cent")))
    return _lloyd(emb, init, [], iters)[0]


def kmeans_clusters(spark: SparkSession, sf_dir: str,
                    k: int = 8, iters: int = 2) -> DataFrame:
    """Per-cluster summary over ``kmeans_assignments`` (see there for
    the algorithm + determinism discipline)."""
    assigned = kmeans_assignments(spark, sf_dir, k, iters)
    return (assigned.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.sum(F.col("dist").cast("decimal(30,15)"))
                         .cast("double") / F.count(F.lit(1)), 6)
                 .alias("mean_sqdist"))
            .select(F.col("cid").alias("cluster_id"), "n_vecs",
                    "mean_sqdist"))


_SQL_SQDIST = ("list_reduce(list_transform(list_zip(e.emb, c.cent), "
               "p -> (p[1]-p[2])*(p[1]-p[2])), (acc, x) -> acc + x)")


def _sql_nearest(i: int, points: str, cents: str, carry: str = "emb") -> str:
    """CTEs ``d<i>``, ``a<i>``: each ``points`` row's nearest centroid
    in ``cents`` as ``(vec_id, carry, cid, dist)``, ties to the lower
    cid."""
    return f"""d{i} AS (
  SELECT e.vec_id, e.{carry}, c.cid, {_SQL_SQDIST} AS dist
  FROM {points} e CROSS JOIN {cents} c
),
a{i} AS (
  SELECT vec_id, {carry}, cid, dist
  FROM ({_sql_top_k(f"d{i}", "vec_id", "dist, cid", 1, "rn")})
)"""


def _sql_lloyd(points: str, iters: int) -> str:
    """CTEs of ``iters`` Lloyd rounds from the centroid table ``c0``:
    round i assigns in ``a<i>`` and moves the centroids in ``c<i>``."""
    return ",\n".join(
        f"{_sql_nearest(i, points, f'c{i - 1}')},\n"
        f"c{i} AS ({_sql_centroids('cid', f'a{i}')})"
        for i in range(1, iters + 1))


KMEANS_CTES = f"""
WITH {_sql_emb()},
c0 AS (
  SELECT CAST(vec_id AS INT) AS cid, emb AS cent FROM emb WHERE vec_id < 8
),
{_sql_lloyd("emb", 2)}
"""

KMEANS_SQL = KMEANS_CTES + """
SELECT cid AS cluster_id, COUNT(*) AS n_vecs,
       round(CAST(SUM(CAST(dist AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*), 6)
         AS mean_sqdist
FROM a2 GROUP BY cid
"""


def pq_ann_topk(spark: SparkSession, sf_dir: str,
                m: int = 8, dim: int = 64, ksub: int = 16,
                iters: int = 2) -> DataFrame:
    """Product-quantization ANN — the memory-bound scale path that
    complements LSH (`ann_lsh_topk`) and IVF (`ivf_ann_topk`): each
    64-dim vector compresses to ``m`` = 8 one-byte codes (one 16-entry
    k-means codebook per 8-dim subspace), and query-to-corpus L2
    distances are approximated by summing ``m`` lookup-table entries —
    at 100 TB the corpus scan touches 8 bytes/vector instead of 256,
    and the LUT join replaces every floating-point subvector product.

    All-DataFrame construction, deterministic end-to-end (the
    ``kmeans_clusters`` discipline: first-``ksub`` init, argmin ties to
    the lower code id, decimal centroid means):

      1. subvector table: (vec_id, sub, emb[8]) via one slice-explode;
      2. per-subspace Lloyd iterations (``_lloyd`` keyed on sub) — ONE
         broadcast join per iteration trains all ``m`` codebooks at
         once;
      3. encode: per (vec, sub) argmin code -> 8 codes/vector;
      4. asymmetric distance: per query, a (sub, code) -> partial-L2
         lookup table (m x ksub = 128 rows/query, broadcast); corpus
         codes join the LUT and sum ``m`` decimal partials per
         (query, neighbor) — exact given the codes, so ranking is
         reproducible;
      5. top-k by approximate distance (ties to lower neighbor id).

    Approximate by nature -> rows-only; recall vs the exact L2 top-k
    is pinned in tests/test_dedup_similarity.py."""
    d = dim // m
    emb = _embeddings(spark, sf_dir)
    sv = emb.select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("sub"),
                     F.slice("emb", s * d + 1, d).alias("emb"))
            for s in range(m)
        ])).alias("p")).select("vec_id", "p.sub", "p.emb")
    init = (sv.filter(F.col("vec_id") < ksub)
            .select("sub", F.col("vec_id").cast("int").alias("cid"),
                    F.col("emb").alias("cent")))
    codes, cents = _lloyd(sv, init, ["sub"], iters)

    # per-query LUT: partial L2 from each (sub, code) cell
    q_sv = (sv.filter(F.col("vec_id") < N_QUERIES)
            .select(F.col("vec_id").alias("query_id"), "sub", "emb"))
    lut = (q_sv.join(F.broadcast(cents), "sub")
           .select("query_id", "sub", "cid",
                   _sqdist().cast("decimal(30,15)").alias("part")))
    pairs = (
        codes.select(F.col("vec_id").alias("neighbor_id"), "sub", "cid")
        .join(F.broadcast(lut), ["sub", "cid"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("part").cast("double"), 6).alias("approx_sqdist")))
    return (_top_k(pairs, "query_id",
                   [F.col("approx_sqdist").asc(), F.col("neighbor_id")], TOP_K)
            .select("query_id", "neighbor_id", "approx_sqdist", "rank"))


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining [EXT]: for each anchor vector
    (vec_id < N_QUERIES), the most cosine-similar vector with a
    DIFFERENT label — the "closest impostor" a contrastive or
    embedding-finetune loop trains against. Same broadcast + carried-
    norm topology as ``cosine_topk`` (the anchors broadcast; the corpus
    is never reshuffled), plus the label predicate in the join — at
    100 TB the anchor set is the small side by construction, so this
    stays a map-side join over one corpus scan."""
    emb = _embeddings(spark, sf_dir)
    anchors = (emb.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("anchor_id"),
                       F.col("label").alias("a_label"), *_side("a")))
    corpus = emb.select(F.col("vec_id").alias("negative_id"),
                        F.col("label").alias("c_label"), *_side("c"))
    pairs = (corpus.join(F.broadcast(anchors),
                         F.col("a_label") != F.col("c_label"))
             .select("anchor_id", "negative_id",
                     _cosine("a", "c").alias("cosine_sim")))
    return (_top_k(pairs, "anchor_id",
                   [F.desc("cosine_sim"), F.asc("negative_id")], 1)
            .select("anchor_id", "negative_id", "cosine_sim"))


HARD_NEGATIVE_SQL = f"""
WITH {_sql_emb("label")},
pairs AS (
  SELECT a.vec_id AS anchor_id, c.vec_id AS negative_id,
         {_sql_cosine("a.emb", "c.emb")} AS cosine_sim
  FROM emb a, emb c
  WHERE a.vec_id < {N_QUERIES} AND a.label != c.label
)
SELECT anchor_id, negative_id, cosine_sim
FROM ({_sql_top_k("pairs", "anchor_id", "cosine_sim DESC, negative_id", 1)})
"""


def _srp_matrix(n_planes: int = 6, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 sign-random-projection matrix derived from md5
    (public, engine-independent): hyperplane h's entries are the bits
    of md5('srp:<h>'). A CONSTANT of the query text, so Spark and
    DuckDB evaluate the identical projection."""
    import hashlib

    rows = []
    for h in range(n_planes):
        bits = hashlib.md5(f"srp:{h}".encode()).digest()
        rows.append([1.0 if (bits[j // 8] >> (j % 8)) & 1 else -1.0
                     for j in range(dim)])
    return rows


_SRP = _srp_matrix()


def ann_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED approximate nearest neighbors via sign random
    projections [EXT] — the algorithm-proof twin of ``ann_lsh_topk``
    (whose Spark-RNG hyperplanes make it rows-only). 6 deterministic
    ±1 hyperplanes (md5-derived constants shared verbatim with the
    oracle) give every vector a 6-bit sign bucket (with 16 bits no
    query shared a bucket with any other vector); candidates are
    same-bucket pairs, verified by exact cosine and ranked top-5 per
    query. Both engines fold the projection left-to-right over the
    same array, so signs, buckets, the candidate set and ranks are
    bit-identical — LSH's probabilistic recall cannot perturb the
    oracle. Scale topology matches the production path: one bucket
    computation pass, bucket-equality join, no all-pairs."""
    emb = _embeddings(spark, sf_dir)
    signs = [V.dot(F.col("emb"),
                   F.array(*[F.lit(v) for v in row])) >= 0
             for row in _SRP]
    bucket = sum((F.when(s, F.lit(1 << h)).otherwise(F.lit(0))
                  for h, s in enumerate(signs)), F.lit(0))
    b = emb.withColumn("bucket", bucket).withColumn(
        "nrm", V.l2_norm("emb"))
    queries = (b.filter(F.col("vec_id") < N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       *_side("q", "nrm"), "bucket"))
    corpus = b.select(F.col("vec_id").alias("neighbor_id"),
                      *_side("c", "nrm"), "bucket")
    return _rank_neighbors(
        corpus.join(F.broadcast(queries), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                _cosine("q", "c").alias("cosine_sim")))


# ::DOUBLE[] — bare 1.0 literals are DECIMAL in DuckDB, and the
# products must be double×double to match Spark bit-for-bit
_SRP_SIGNS_SQL = ",\n         ".join(
    f"CASE WHEN {_sql_dot('emb', '[' + ', '.join(map(str, row)) + ']::DOUBLE[]')}"
    f" >= 0 THEN {1 << h} ELSE 0 END AS b{h}"
    for h, row in enumerate(_SRP))
_SRP_BUCKET_SQL = " + ".join(f"b{h}" for h in range(len(_SRP)))

ANN_SRP_SQL = f"""
WITH {_sql_emb()}, s AS (
  SELECT vec_id, emb,
         {_SRP_SIGNS_SQL}
  FROM emb
), b AS (
  SELECT vec_id, emb, {_SRP_BUCKET_SQL} AS bucket,
         sqrt({_sql_sumsq("emb")}) AS nrm
  FROM s
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_sql_dot("q.emb", "c.emb")} / (q.nrm * c.nrm), 6) AS cosine_sim
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id < {N_QUERIES}
)""" + _SQL_RANK_NEIGHBORS


def embedding_dup_clusters(spark: SparkSession, sf_dir: str,
                           threshold: float = 0.35) -> DataFrame:
    """Semantic-dedup clusters: connected components over the
    ``embedding_near_dups`` cosine-threshold pair graph (the
    SemDeDup-style grouping that keeps one representative per semantic
    duplicate cluster). Same min-label-propagation fixpoint as
    ``dedup.dedup_clusters_md5`` (shared ``base.min_label_fixpoint``) —
    one co-partitioned join + agg per round, edge list behind one
    ``barrier`` (each round consumes both join directions),
    convergence by changed-label count; near-dup components are dense,
    so a handful of rounds suffice (measured: 2
    at sf0.001, 5 at sf0.1 — and FLAT from 1x to 20x replication,
    since replicas densify components rather than lengthen chains).
    Rounds executed per run land in
    ``base.FIXPOINT_ITERS["embedding_dup_clusters"]`` (soak telemetry).

    The default threshold sits where the SYNTHETIC corpus has
    structure: its embeddings are near-orthogonal (max within-label
    cosine ~0.45 at every SF), so a production-style 0.95 cut selects
    nothing to cluster; 0.35 exercises the identical algorithm on a
    nonempty graph. Because the pair graph itself is value-hash
    oracled, the component structure is verified against a DuckDB
    recursive-CTE reachability oracle: every member's cluster id is
    the component's minimum vec_id."""
    pairs = barrier(embedding_near_dups(spark, sf_dir, threshold=threshold)
                    .select("id_a", "id_b"))
    sym = (pairs.select(F.col("id_a").alias("src"),
                        F.col("id_b").alias("dst"))
           .union(pairs.select(F.col("id_b").alias("src"),
                               F.col("id_a").alias("dst"))))
    labels = min_label_fixpoint(sym, "vec_id", "embedding_dup_clusters")
    return (labels.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"))
            .filter(F.col("n_vecs") > 1)
            .select(F.col("label").alias("cluster_id"), "n_vecs"))


EMBEDDING_DUP_CLUSTERS_SQL = f"""
WITH pairs AS (
  SELECT id_a, id_b FROM ({_sql_near_dups(0.35)})
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), nodes AS (
  SELECT DISTINCT src AS vec_id FROM edges
), walk AS (
  -- reachability closure (graph is symmetric, so reachable == same
  -- component); UNION dedups, guaranteeing termination
  WITH RECURSIVE r(v, reach) AS (
    SELECT vec_id, vec_id FROM nodes
    UNION
    SELECT e.src, r.reach FROM edges e JOIN r ON r.v = e.dst
  )
  SELECT v, MIN(reach) AS label FROM r GROUP BY v
)
SELECT label AS cluster_id, COUNT(*) AS n_vecs
FROM walk GROUP BY label HAVING COUNT(*) > 1
"""


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation as a first-class query: per-probe
    recall@TOP_K of the SRP-LSH retriever against the exact cosine
    baseline — the metric the ANN unit tests assert, productionized so
    an index-tuning run can monitor it as a table.

    Both inputs are themselves oracled deterministic pipelines
    (``ann_srp_topk``, ``cosine_topk``), so the whole evaluation is
    value-hash verifiable: the oracle composes the two queries' SQL as
    CTEs. Scale: composes two bounded top-k frames (N_QUERIES x TOP_K
    rows each), joined on (query, neighbor) — the evaluation itself is
    free at any corpus size; cost lives in the retrievers it audits.
    """
    exact = cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id")
    ann = ann_srp_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor"))
    hits = (exact.join(
        ann, [exact.query_id == ann.query_id,
              exact.neighbor_id == ann.ann_neighbor], "left")
        .groupBy(exact.query_id.alias("query_id"))
        .agg(F.count(F.lit(1)).cast("int").alias("exact_k"),
             F.count("ann_neighbor").cast("int").alias("ann_hits")))
    return hits.select(
        "query_id", "exact_k", "ann_hits",
        F.expr("CAST(ann_hits * 100 DIV exact_k AS INT)")
        .alias("recall_pct"))


ANN_RECALL_SQL = f"""
WITH exact_topk AS (
{COSINE_TOPK_SQL}
), ann_topk AS (
{ANN_SRP_SQL}
)
SELECT e.query_id,
       CAST(COUNT(*) AS INT) AS exact_k,
       CAST(COUNT(a.neighbor_id) AS INT) AS ann_hits,
       CAST(COUNT(a.neighbor_id) * 100 // COUNT(*) AS INT) AS recall_pct
FROM exact_topk e
LEFT JOIN ann_topk a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


def matryoshka_truncation_audit(spark: SparkSession, sf_dir: str,
                                prefix_dim: int = 16) -> DataFrame:
    """Matryoshka-embedding audit: how much vector energy the first
    ``prefix_dim`` dimensions retain, per label — the measurement
    behind MRL-style dimension truncation (serve 16-d prefixes, fall
    back to full vectors only for close calls). For pure truncation the
    retained cosine equals ``|v_prefix| / |v|``, so energy ratio
    ``|v_prefix|^2 / |v|^2`` is the whole story.

    Portability: both sums of squares fold the SAME array left-to-right
    (the ``cosine_topk`` discipline), the ratio is one double divide on
    identical operands, converted to integer ppm per row BEFORE the
    per-label aggregation — only BIGINT sums cross partitions. One
    scan, one label-cardinality aggregate."""
    emb = _embeddings(spark, sf_dir)
    head = F.slice("emb", 1, prefix_dim)
    e2 = V.dot(F.col("emb"), F.col("emb"))
    h2 = V.dot(head, head)
    ppm = F.floor(h2 / e2 * 1000000.0 + 0.5).cast("bigint")
    per = emb.select("label", ppm.alias("energy_ppm"))
    return (per.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.expr("CAST(sum(energy_ppm) DIV count(1) AS BIGINT)")
                 .alias("avg_energy_ppm"),
                 F.min("energy_ppm").alias("min_energy_ppm")))


MATRYOSHKA_SQL = f"""
WITH {_sql_emb("label")}, per AS (
  SELECT label,
         CAST(floor({_sql_sumsq("emb[1:16]")} / {_sql_sumsq("emb")}
                    * 1000000.0 + 0.5) AS BIGINT) AS energy_ppm
  FROM emb
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(energy_ppm) // COUNT(*) AS BIGINT) AS avg_energy_ppm,
       CAST(MIN(energy_ppm) AS BIGINT) AS min_energy_ppm
FROM per GROUP BY label
"""


def knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification evaluation over the exact top-k neighbor
    frame: each probe is labeled by majority vote of its TOP_K cosine
    neighbors (ties -> lowest label, the deterministic mode rule) and
    compared to its own label — the standard embedding-quality probe
    (does the space cluster by label?) as an ORACLED query, beside
    ``ann_recall_report`` (retriever quality) and
    ``matryoshka_truncation_audit`` (dimension budget).

    Scale: votes aggregate the bounded N_QUERIES x TOP_K frame; the
    only data-sized work is the neighbor search it audits."""
    nb = cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    lab = _embeddings(spark, sf_dir).select("vec_id", "label")
    votes = (nb.join(lab, nb.neighbor_id == lab.vec_id)
             .groupBy("query_id", "label")
             .agg(F.count(F.lit(1)).alias("v")))
    pred = (_top_k(votes, "query_id", [F.desc("v"), "label"], 1, "r")
            .select("query_id", F.col("label").alias("predicted_label"),
                    F.col("v").alias("votes")))
    truth = lab.select(F.col("vec_id").alias("query_id"),
                       F.col("label").alias("true_label"))
    return (pred.join(truth, "query_id")
            .select("query_id", "true_label", "predicted_label", "votes",
                    (F.col("predicted_label") == F.col("true_label"))
                    .cast("int").alias("correct")))


KNN_EVAL_SQL = f"""
WITH nb AS (
  SELECT query_id, neighbor_id FROM ({COSINE_TOPK_SQL})
), votes AS (
  SELECT n.query_id, e.label, COUNT(*) AS v
  FROM nb n JOIN embeddings e ON n.neighbor_id = e.vec_id
  GROUP BY 1, 2
), pred AS (
  SELECT query_id, label AS predicted_label, v AS votes
  FROM ({_sql_top_k("votes", "query_id", "v DESC, label", 1)})
)
SELECT p.query_id, e.label AS true_label, p.predicted_label, p.votes,
       CAST(p.predicted_label = e.label AS INT) AS correct
FROM pred p JOIN embeddings e ON p.query_id = e.vec_id
"""


def cluster_balanced_sample(spark: SparkSession, sf_dir: str,
                            per_cluster: int = 2) -> DataFrame:
    """Diversity-balanced subset selection: exactly ``per_cluster``
    vectors from every k-means cluster, picked by deterministic md5
    order — the cluster-balanced sampling step of data-selection
    pipelines (pick from every semantic region instead of wherever
    density is): k-means partitions the space, md5 rank picks
    reproducibly within each cell.

    Fully oracled because the assignment pipeline is the value-hash-
    verified ``kmeans_assignments`` (its SQL CTE chain is reused
    verbatim) and the pick is the ``grouped_sample_topk`` md5 rule.
    Scale: clustering cost is the audit's; the pick is one window over
    cluster-partitioned data."""
    return (_top_k(kmeans_assignments(spark, sf_dir), "cid",
                   [F.md5(F.col("vec_id").cast("string")), "vec_id"],
                   per_cluster, "pick_rank")
            .select(F.col("cid").alias("cluster_id"), "vec_id", "pick_rank"))


CLUSTER_SAMPLE_SQL = KMEANS_CTES + f"""
SELECT cid AS cluster_id, vec_id, pick_rank
FROM ({_sql_top_k("a2", "cid", "md5(CAST(vec_id AS VARCHAR)), vec_id", 2,
                  "pick_rank")})
"""


def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance audit of the embedding space: mean and
    variance of every coordinate from exact decimal moments
    (accumulation-order-independent, the ``lineitem_moment_stats``
    discipline), with a dead-dimension flag (variance < 1e-6) — dead
    or near-constant dims waste index bytes and distort distances, so
    this is the first check before PCA/quantization decisions
    (complements ``embedding_principal_component`` /
    ``embedding_int8_quant_error``).

    Scale: one posexplode into a (dim) aggregate — dims x 1 cells, the
    same shuffle shape as ``_centroids``."""
    emb = _embeddings(spark, sf_dir)
    by_dim = emb.select(F.posexplode("emb").alias("dim", "v"))
    agg = (by_dim.groupBy("dim")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(30,15)")).alias("s"),
                F.sum((F.col("v") * F.col("v")).cast("decimal(30,15)"))
                .alias("ss")))
    n = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n
    var = F.col("ss").cast("double") / n - mean * mean
    return (agg.select(F.col("dim").cast("int").alias("dim"),
                       F.round(mean, 6).alias("mean"),
                       F.round(var, 6).alias("variance"),
                       (var < 1e-6).cast("int").alias("is_dead")))


DIM_VARIANCE_SQL = f"""
WITH {_sql_emb()}, by_dim AS (
  SELECT generate_subscripts(emb, 1) - 1 AS dim, unnest(emb) AS v
  FROM emb
), agg AS (
  SELECT dim, COUNT(*) AS n,
         SUM(CAST(v AS DECIMAL(30,15))) AS s,
         SUM(CAST(v * v AS DECIMAL(30,15))) AS ss
  FROM by_dim GROUP BY dim
)
SELECT CAST(dim AS INT) AS dim,
       round(CAST(s AS DOUBLE) / n, 6) AS mean,
       round(CAST(ss AS DOUBLE) / n
             - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n), 6)
         AS variance,
       CAST((CAST(ss AS DOUBLE) / n
             - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
            < 0.000001 AS INT) AS is_dead
FROM agg
"""


def incremental_ivf_assign(spark: SparkSession, sf_dir: str,
                           k: int = 8, iters: int = 2) -> DataFrame:
    """Incremental IVF index MAINTENANCE [EXT]: the cells (centroids)
    are fitted once on the BASE corpus and FROZEN; a new ingest batch
    is then routed to the existing cells without re-clustering — the
    day-2 operation of every IVF/ANN index. Per cell: base vs new
    populations, growth, and mean squared distance for each — the
    drift report that tells an index owner when re-training is due
    (new vectors landing far from their cells = the index is stale).

    Split rule (stated, oracle identical): vec_id % 10 == 0 plays the
    new batch. Centroid fitting is ``_lloyd``, as in
    ``kmeans_assignments`` (first-k-of-base init by vec_id order);
    both populations are then assigned to the POST-fit centroids in
    one broadcast pass, so base and new distances are comparable (same
    frozen index).

    Scale: k-row centroid broadcasts, one (cluster, dim) shuffle per
    fit iteration, one tagged assignment pass; output is k rows."""
    emb = _embeddings(spark, sf_dir)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    new = emb.filter(F.col("vec_id") % 10 == 0)
    # init = the first k BASE vectors; ids are dense so the base split
    # (vec_id % 10 != 0) makes these exactly vec_id 1..k — a literal
    # slice, same boundedness idiom as kmeans_assignments' vec_id < k
    init = (base.filter(F.col("vec_id").between(1, k))
            .select((F.col("vec_id") - 1).cast("int").alias("cid"),
                    F.col("emb").alias("cent")))
    cents = _lloyd(base, init, [], iters)[1]
    tagged = (base.withColumn("is_new", F.lit(0))
              .unionByName(new.withColumn("is_new", F.lit(1))))
    routed = _nearest(tagged, cents, [], "is_new").select("cid", "is_new",
                                                          "dist")
    per = (routed.groupBy("cid")
           .agg(F.sum(F.when(F.col("is_new") == 0, 1).otherwise(0))
                .alias("base_n"),
                F.sum(F.when(F.col("is_new") == 1, 1).otherwise(0))
                .alias("new_n"),
                F.round(F.sum(F.when(F.col("is_new") == 0, F.col("dist"))
                              .cast("decimal(30,15)")).cast("double")
                        / F.greatest(F.sum(
                            F.when(F.col("is_new") == 0, 1).otherwise(0)),
                            F.lit(1)), 6).alias("base_msd"),
                F.round(F.coalesce(
                    F.sum(F.when(F.col("is_new") == 1, F.col("dist"))
                          .cast("decimal(30,15)")).cast("double"), F.lit(0.0))
                        / F.greatest(F.sum(
                            F.when(F.col("is_new") == 1, 1).otherwise(0)),
                            F.lit(1)), 6).alias("new_msd")))
    return (cents.select("cid").join(per, "cid", "left")
            .select(F.col("cid").alias("cell_id"),
                    F.coalesce("base_n", F.lit(0)).alias("base_n"),
                    F.coalesce("new_n", F.lit(0)).alias("new_n"),
                    F.expr("CAST(COALESCE(new_n, 0) * 1000000"
                           " DIV GREATEST(COALESCE(base_n, 0), 1)"
                           " AS BIGINT)").alias("growth_ppm"),
                    F.coalesce("base_msd", F.lit(0.0)).alias("base_msd"),
                    F.coalesce("new_msd", F.lit(0.0)).alias("new_msd")))


INCREMENTAL_IVF_SQL = f"""
WITH {_sql_emb()},
base AS (SELECT * FROM emb WHERE vec_id % 10 != 0),
newb AS (SELECT * FROM emb WHERE vec_id % 10 = 0),
c0 AS (
  SELECT CAST(vec_id - 1 AS INT) AS cid, emb AS cent
  FROM base WHERE vec_id BETWEEN 1 AND 8
),
{_sql_lloyd("base", 2)},
tagged AS (
  SELECT vec_id, emb, 0 AS is_new FROM base
  UNION ALL
  SELECT vec_id, emb, 1 AS is_new FROM newb
),
{_sql_nearest(3, "tagged", "c2", "is_new")},
per AS (
  SELECT cid,
         CAST(SUM(CASE WHEN is_new = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS base_n,
         CAST(SUM(CASE WHEN is_new = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS new_n,
         round(CAST(SUM(CASE WHEN is_new = 0
                        THEN CAST(dist AS DECIMAL(30,15)) END) AS DOUBLE)
               / GREATEST(SUM(CASE WHEN is_new = 0 THEN 1 ELSE 0 END), 1),
               6) AS base_msd,
         round(COALESCE(CAST(SUM(CASE WHEN is_new = 1
                        THEN CAST(dist AS DECIMAL(30,15)) END) AS DOUBLE),
                        0.0)
               / GREATEST(SUM(CASE WHEN is_new = 1 THEN 1 ELSE 0 END), 1),
               6) AS new_msd
  FROM a3 GROUP BY cid
)
SELECT c.cid AS cell_id,
       COALESCE(p.base_n, 0) AS base_n,
       COALESCE(p.new_n, 0) AS new_n,
       CAST(COALESCE(p.new_n, 0) * 1000000
            // GREATEST(COALESCE(p.base_n, 0), 1) AS BIGINT)
         AS growth_ppm,
       COALESCE(p.base_msd, 0.0) AS base_msd,
       COALESCE(p.new_msd, 0.0) AS new_msd
FROM c2 c LEFT JOIN per p ON c.cid = p.cid
"""


def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str,
                         n_queries: int = 5, leg_k: int = 20,
                         rrf_k: int = 60, topk: int = 10) -> DataFrame:
    """RECIPROCAL-RANK-FUSION hybrid retrieval [EXT] — the standard
    way production search fuses a DENSE leg (embedding cosine) with a
    SPARSE leg (lexical tf-idf): score(d) = Σ_legs 1/(k + rank_leg(d))
    (Cormack et al., SIGIR'09), robust to the legs' incomparable score
    scales because only RANKS cross the boundary.  Query docs are the
    bounded id slice < ``n_queries``; each leg contributes its top
    ``leg_k``; a doc missing from a leg contributes 0.  The corpus'
    partial embedding coverage (embeddings ⊂ documents at sf0.1) is
    exactly the real-world case hybrid fusion exists for: lexical-only
    docs can still be retrieved.

    Determinism: RRF terms are computed in INTEGER micros
    (1e6 // (k + rank)) so the fused score is exact; both legs' ranks
    tie-break on doc id; leg cosines follow the proven 6dp rules
    (dense: identical-operand double; sparse: integer-milli tf-idf).

    Scale: the query side of both legs is a literal id slice —
    broadcast by construction; leg ranks are WindowGroupLimit top-k
    partitioned by query; the fusion join is (query x ≤2·leg_k) rows.
    No un-bounded window, no doc x doc."""
    # -- dense leg: exact cosine of the query slice vs all vectors ---
    emb = _embeddings(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < n_queries)
         .select(F.col("vec_id").alias("query_id"), *_side("q")))
    c = emb.select(F.col("vec_id").alias("doc_id"), *_side("c"))
    dense = (_top_k(c.join(F.broadcast(q), F.col("query_id") != F.col("doc_id"))
                    .select("query_id", "doc_id", _cosine("q", "c").alias("dcos")),
                    "query_id", [F.col("dcos").desc(), F.col("doc_id")], leg_k,
                    "r")
             .select("query_id", "doc_id", F.col("r").alias("dense_rank")))

    # -- sparse leg: trigram tf-idf cosine, query slice vs corpus ----
    # the tf-idf posting list (this IS the search index): norms, the
    # df-kept slice, the query slice and the dot join all consume it —
    # materialize once instead of re-running trigram explode + two aggs
    # per consumer (r9 scan census; measured 5.9s -> below at sf0.1)
    weights = barrier(_trigram_tfidf(table(spark, sf_dir, "documents")))
    norms = weights.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).alias("norm2"))
    kept = weights.filter((F.col("df") >= 2) & (F.col("df") <= 64))
    qk = (kept.filter(F.col("doc_id") < n_queries)
          .select(F.col("doc_id").alias("query_id"),
                  "term", F.col("w").alias("qw")))
    dots = (kept.join(qk, ["term"])
            .filter(F.col("doc_id") != F.col("query_id"))
            .groupBy("query_id", "doc_id")
            .agg(F.sum(F.col("w") * F.col("qw")).alias("dot")))
    scos = (dots
            .join(norms.withColumnRenamed("norm2", "nq")
                  .withColumnRenamed("doc_id", "query_id"), "query_id")
            .join(norms.withColumnRenamed("norm2", "nd"), "doc_id")
            .select("query_id", "doc_id",
                    F.round(F.col("dot") / (F.sqrt(F.col("nq").cast("double"))
                                            * F.sqrt(F.col("nd")
                                                     .cast("double"))), 6)
                    .alias("scos")))
    sparse = (_top_k(scos, "query_id", [F.col("scos").desc(), F.col("doc_id")],
                     leg_k, "r")
              .select("query_id", "doc_id", F.col("r").alias("sparse_rank")))

    # -- fuse: integer-micro reciprocal ranks ------------------------
    fused = (dense.join(sparse, ["query_id", "doc_id"], "full_outer")
             .select("query_id", "doc_id", "dense_rank", "sparse_rank",
                     (F.coalesce(F.expr(f"1000000 DIV ({rrf_k}"
                                        " + dense_rank)"), F.lit(0))
                      + F.coalesce(F.expr(f"1000000 DIV ({rrf_k}"
                                          " + sparse_rank)"), F.lit(0)))
                     .cast("bigint").alias("rrf_micros")))
    return (_top_k(fused, "query_id",
                   [F.col("rrf_micros").desc(), F.col("doc_id")], topk, "r")
            .select("query_id", "doc_id", "dense_rank", "sparse_rank",
                    "rrf_micros", F.col("r").alias("rank"))
            .orderBy("query_id", "rank"))


RRF_HYBRID_SQL = f"""
WITH {_sql_emb()}, dense_pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
         {_sql_cosine("q.emb", "c.emb")} AS dcos
  FROM emb q, emb c
  WHERE q.vec_id < 5 AND q.vec_id != c.vec_id
), dense AS (
  SELECT query_id, doc_id, r AS dense_rank
  FROM ({_sql_top_k("dense_pairs", "query_id", "dcos DESC, doc_id", 20, "r")})
), {_TFIDF_SQL}, kept AS (
  SELECT doc_id, term, w FROM weights WHERE df BETWEEN 2 AND 64
), dots AS (
  SELECT q.doc_id AS query_id, d.doc_id,
         CAST(SUM(d.w * q.w) AS BIGINT) AS dot
  FROM kept d JOIN kept q ON d.term = q.term
  WHERE q.doc_id < 5 AND d.doc_id != q.doc_id
  GROUP BY 1, 2
), scosed AS (
  SELECT dots.query_id, dots.doc_id,
         round(dots.dot / (sqrt(CAST(nq.norm2 AS DOUBLE))
                           * sqrt(CAST(nd.norm2 AS DOUBLE))), 6) AS scos
  FROM dots
  JOIN norms nq ON dots.query_id = nq.doc_id
  JOIN norms nd ON dots.doc_id = nd.doc_id
), sparse AS (
  SELECT query_id, doc_id, r AS sparse_rank
  FROM ({_sql_top_k("scosed", "query_id", "scos DESC, doc_id", 20, "r")})
), fused AS (
  SELECT COALESCE(d.query_id, s.query_id) AS query_id,
         COALESCE(d.doc_id, s.doc_id) AS doc_id,
         d.dense_rank, s.sparse_rank,
         CAST(COALESCE(1000000 // (60 + d.dense_rank), 0)
              + COALESCE(1000000 // (60 + s.sparse_rank), 0) AS BIGINT)
           AS rrf_micros
  FROM dense d
  FULL OUTER JOIN sparse s
    ON d.query_id = s.query_id AND d.doc_id = s.doc_id
)
SELECT query_id, doc_id, dense_rank, sparse_rank, rrf_micros, r AS rank
FROM ({_sql_top_k("fused", "query_id", "rrf_micros DESC, doc_id", 10, "r")})
ORDER BY query_id, rank
"""


QUERIES: dict[str, QueryFn] = {
    "rrf_hybrid_retrieval": rrf_hybrid_retrieval,
    "incremental_ivf_assign": incremental_ivf_assign,
    "embedding_dim_variance": embedding_dim_variance,
    "cluster_balanced_sample": cluster_balanced_sample,
    "knn_classifier_eval": knn_classifier_eval,
    "matryoshka_truncation_audit": matryoshka_truncation_audit,
    "ann_recall_report": ann_recall_report,
    "embedding_dup_clusters": embedding_dup_clusters,
    "embedding_int8_quant_error": embedding_int8_quant_error,
    "hard_negative_mining": hard_negative_mining,
    "ann_srp_topk": ann_srp_topk,
    "cosine_topk": cosine_topk,
    "embedding_near_dups": embedding_near_dups,
    "label_centroid_similarity": label_centroid_similarity,
    "embedding_norm_stats": embedding_norm_stats,
    "ann_lsh_topk": ann_lsh_topk,
    "ivf_ann_topk": ivf_ann_topk,
    "pq_ann_topk": pq_ann_topk,
    "kmeans_clusters": kmeans_clusters,
}

ORACLES: dict[str, str] = {
    "rrf_hybrid_retrieval": RRF_HYBRID_SQL,
    "incremental_ivf_assign": INCREMENTAL_IVF_SQL,
    "embedding_dim_variance": DIM_VARIANCE_SQL,
    "cluster_balanced_sample": CLUSTER_SAMPLE_SQL,
    "knn_classifier_eval": KNN_EVAL_SQL,
    "matryoshka_truncation_audit": MATRYOSHKA_SQL,
    "ann_recall_report": ANN_RECALL_SQL,
    "embedding_dup_clusters": EMBEDDING_DUP_CLUSTERS_SQL,
    "embedding_int8_quant_error": EMBEDDING_INT8_SQL,
    "hard_negative_mining": HARD_NEGATIVE_SQL,
    "ann_srp_topk": ANN_SRP_SQL,
    "cosine_topk": COSINE_TOPK_SQL,
    "embedding_near_dups": EMBEDDING_NEAR_DUPS_SQL,
    "label_centroid_similarity": LABEL_CENTROID_SQL,
    "embedding_norm_stats": EMBEDDING_NORM_STATS_SQL,
    "kmeans_clusters": KMEANS_SQL,
    # ann_lsh_topk / ivf_ann_topk / pq_ann_topk: rows-only (approximate
    # by construction; recall vs the exact top-k is asserted in tests)
}
