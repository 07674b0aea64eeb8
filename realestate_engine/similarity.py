"""Similarity search over embedding columns (north-star extension).

Three tiers, trading exactness for scale:

- brute-force cosine top-k: exact baseline. The probe is a 1-row
  broadcast (no collect); the scan side computes dot products inside
  codegen via zip_with/aggregate. At 100 TB this is a single
  map-side pass + TakeOrderedAndProject — no shuffle of the corpus.
- LSH-bucketed ANN (random hyperplane signs): probe only touches its
  own bucket — candidate set shrinks by ~2^bits.
- IVF-style (coarse quantizer = label here; KMeans in practice):
  search the nearest cells only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from realestate_engine.dedup import cosine_sim
from realestate_engine.registry import cache_once, iterate, register, t

# Deterministic pseudo-random hyperplanes: plane b, component i has
# sign +1 iff portable_hash32(f"{b}:{i}") is even (md5-prefix hash —
# see dedup.portable_hash32). Reproducible across engines AND
# expressible in DuckDB, so the LSH-ANN query carries a full oracle.


def _hyperplane_sign(b: int, i_col: Column) -> Column:
    from realestate_engine.dedup import portable_hash32

    return F.when(
        portable_hash32(F.concat(F.lit(f"{b}:"), i_col.cast("string"))) % 2 == 0, F.lit(1.0)
    ).otherwise(F.lit(-1.0))


def _sql_hyperplane_proj(b: int) -> str:
    """DuckDB projection of `embedding` onto hyperplane b — the exact
    twin of lsh_bucket's per-plane fold (same element order, so the
    double sum is bit-identical)."""
    sign = (
        f"CASE WHEN ('0x' || SUBSTR(MD5(CONCAT('{b}:', CAST(i - 1 AS VARCHAR))), 1, 8))::BIGINT"
        f" % 2 = 0 THEN 1.0 ELSE -1.0 END"
    )
    return (
        f"LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, LEN(embedding) + 1),"
        f" i -> embedding[i]::DOUBLE * ({sign})), 'sum')"
    )


def _lsh_ann_oracle_sql(bits: int = 4) -> str:
    bucket = "\n             + ".join(
        f"CASE WHEN {_sql_hyperplane_proj(b)} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return f"""
    WITH bkt AS (
        SELECT vec_id, embedding,
               CAST({bucket} AS BIGINT) AS bucket
        FROM embeddings
    ),
    p AS (SELECT embedding AS probe_vec, bucket AS probe_bucket FROM bkt WHERE vec_id = 0)
    SELECT b.vec_id,
           ROUND(LIST_DOT_PRODUCT(b.embedding::DOUBLE[], p.probe_vec::DOUBLE[])
                 / (SQRT(LIST_DOT_PRODUCT(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))
                    * SQRT(LIST_DOT_PRODUCT(p.probe_vec::DOUBLE[], p.probe_vec::DOUBLE[]))), 6) AS cosine
    FROM bkt b JOIN p ON b.bucket = p.probe_bucket
    ORDER BY cosine DESC, vec_id
    LIMIT 20
    """


_LSH_MAX_DIM = 256  # sign literals precomputed up to this dimension


def _hyperplane_signs_py(b: int, n: int) -> list[float]:
    """The hyperplane-b sign vector computed ONCE in Python — the
    identical md5-parity values _hyperplane_sign produced per row
    (hashlib.md5 and Spark's md5 hash the same UTF-8 bytes). r15
    (guide §1.2 per-task work): the old per-row form evaluated
    bits x dim interpreted md5 calls PER VECTOR (12 x 64 = 768 at the
    multiprobe setting) for a sign that depends only on (b, i); the
    plan now carries the signs as an array literal, so the projection
    is a pure multiply-add fold. The DuckDB oracle twin is unchanged —
    it recomputes the same md5 parity inline — which also means any
    drift in this precomputation would fail the hash gate."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{b}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1.0
        for i in range(n)
    ]


def lsh_bucket(vec: Column, bits: int = 8) -> Column:
    """Random-hyperplane LSH bucket id (0..2^bits-1) as a pure
    expression: sign of <v, h_b> contributes bit b. Sign vectors are
    constant literals (see _hyperplane_signs_py), sliced to the
    vector's length so any dim <= _LSH_MAX_DIM folds element-for-
    element exactly as the old transform did. A longer vector fails the
    query: past the literal, zip_with pads the signs with nulls and the
    vector would land in bucket 0."""
    acc = F.lit(0).cast("long")
    for b in range(bits):
        # one F.expr per sign array (a 256-literal array() text parses
        # in one py4j call; per-element F.lit composition costs ~3000
        # driver round-trips at 12 bits — measured 2s of build)
        signs = F.expr(
            "array(" + ",".join(
                "1.0D" if s > 0 else "-1.0D"
                for s in _hyperplane_signs_py(b, _LSH_MAX_DIM)
            ) + ")"
        )
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.slice(signs, 1, F.size(vec)),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        acc = acc + F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(F.lit(0).cast("long"))
    return F.when(
        F.size(vec) > _LSH_MAX_DIM,
        F.raise_error(F.lit(f"lsh_bucket: vector dimension exceeds {_LSH_MAX_DIM}")),
    ).otherwise(acc)


def brute_force_topk(
    corpus: DataFrame, probe: DataFrame, k: int = 20, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact cosine top-k of `corpus` against a 1-row `probe(probe_vec)`."""
    joined = corpus.crossJoin(F.broadcast(probe))
    cos = F.round(cosine_sim(F.col(vec_col), F.col("probe_vec")), 6)
    return (
        joined.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


@register(
    "sim_bruteforce_topk",
    """
    SELECT vec_id,
           ROUND(LIST_DOT_PRODUCT(embedding::DOUBLE[], p.probe_vec::DOUBLE[])
                 / (SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * SQRT(LIST_DOT_PRODUCT(p.probe_vec::DOUBLE[], p.probe_vec::DOUBLE[]))), 6) AS cosine
    FROM embeddings
    CROSS JOIN (SELECT embedding AS probe_vec FROM embeddings WHERE vec_id = 0) p
    ORDER BY cosine DESC, vec_id
    LIMIT 20
    """,
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-20 for probe vec_id=0. The probe never leaves the
    plan (broadcast 1-row join, no driver collect)."""
    e = t(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("probe_vec"))
    return brute_force_topk(e, probe, k=20)


def lsh_ann_topk(
    corpus: DataFrame,
    bits: int = 4,
    multiprobe: int = 0,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hyperplane-LSH ANN top-k for probe vec_id=0, with the two scale
    knobs exposed (VERDICT r5 #6):

    - ``bits``: bucket-count exponent. 2^bits buckets ⇒ a probe reads
      ~corpus/2^bits. The registered 4-bit query is a test-scale
      setting; at 100 TB you raise bits until per-bucket bytes fit an
      executor read (e.g. 20 bits ⇒ ~1M buckets), because the corpus
      is WRITTEN partitioned by bucket and bits only changes the
      partition key — a parameter, not a rewrite.
    - ``multiprobe``: also probe the buckets at Hamming distance 1 in
      the first ``multiprobe`` bit positions (1+multiprobe buckets
      total). Recovers the recall that higher bits cost (a neighbor
      whose projection flips one sign lands one bit-flip away) at
      linear, bounded extra read — the standard bits↑ + multi-probe
      trade.

    The probe side stays inside the plan: 1 row → at most 1+multiprobe
    rows via explode, broadcast to an equi-join on the bucket key.
    Every corpus vector has exactly one bucket and probe buckets are
    distinct, so the join cannot duplicate candidates."""
    bucketed = corpus.withColumn("bucket", lsh_bucket(F.col(vec_col), bits=bits))
    probe = bucketed.filter(F.col(id_col) == 0).select(
        F.col(vec_col).alias("probe_vec"), F.col("bucket").alias("pb")
    )
    neighbor_buckets = F.array(
        F.col("pb"),
        *[F.col("pb").bitwiseXOR(F.lit(1 << b)) for b in range(multiprobe)],
    )
    probes = probe.select(
        "probe_vec", F.explode(neighbor_buckets).alias("probe_bucket")
    )
    cand = bucketed.join(F.broadcast(probes), F.col("bucket") == F.col("probe_bucket"))
    cos = F.round(cosine_sim(F.col(vec_col), F.col("probe_vec")), 6)
    return (
        cand.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _lsh_ann_multiprobe_oracle_sql(bits: int, multiprobe: int, k: int = 20) -> str:
    """DuckDB twin of lsh_ann_topk(bits, multiprobe): same bucket
    expression per bit, probe buckets = own bucket XOR each flipped
    bit."""
    bucket = "\n             + ".join(
        f"CASE WHEN {_sql_hyperplane_proj(b)} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    flips = ", ".join(["pb"] + [f"XOR(pb, {1 << b})" for b in range(multiprobe)])
    return f"""
    WITH bkt AS (
        SELECT vec_id, embedding,
               CAST({bucket} AS BIGINT) AS bucket
        FROM embeddings
    ),
    p AS (SELECT embedding AS probe_vec, bucket AS pb FROM bkt WHERE vec_id = 0),
    probes AS (SELECT probe_vec, UNNEST([{flips}]) AS probe_bucket FROM p)
    SELECT b.vec_id,
           ROUND(LIST_DOT_PRODUCT(b.embedding::DOUBLE[], p.probe_vec::DOUBLE[])
                 / (SQRT(LIST_DOT_PRODUCT(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))
                    * SQRT(LIST_DOT_PRODUCT(p.probe_vec::DOUBLE[], p.probe_vec::DOUBLE[]))), 6) AS cosine
    FROM bkt b JOIN probes p ON b.bucket = p.probe_bucket
    ORDER BY cosine DESC, vec_id
    LIMIT {k}
    """


@register("sim_lsh_ann_multiprobe", _lsh_ann_multiprobe_oracle_sql(bits=12, multiprobe=12))
def sim_lsh_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-20 at the SCALE setting of the hyperplane index: 12 bits
    (4096 buckets — each bucket ~1/4096 of the corpus instead of
    sim_lsh_ann's 1/16) with Hamming-1 multi-probe over all 12 bit
    positions (13 buckets read). This is the bits↑ + multi-probe
    configuration PLANS.md prescribes for 100 TB, registered so its
    exact candidate set is oracle-checked and its recall rides in
    sim_ann_recall_report next to the 4-bit baseline."""
    e = t(spark, sf_dir, "embeddings")
    return lsh_ann_topk(e, bits=12, multiprobe=12, k=20)


@register("sim_lsh_ann", _lsh_ann_oracle_sql(bits=4))
def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH: probe searches only its own
    bucket. At 100 TB the corpus is written bucketed/partitioned by this
    key, so a probe reads ~1/2^bits of the data. Oracle-checked since
    round 4: the hyperplane signs come from the portable md5-prefix
    hash and the projections fold in identical element order on both
    engines, so bucket assignment (and hence the exact candidate set)
    is reproduced bit-for-bit in DuckDB; recall-vs-exact remains
    pytest-covered."""
    e = t(spark, sf_dir, "embeddings")
    bucketed = e.withColumn("bucket", lsh_bucket(F.col("embedding"), bits=4))
    probe = bucketed.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("probe_vec"), F.col("bucket").alias("probe_bucket")
    )
    cand = bucketed.join(F.broadcast(probe), F.col("bucket") == F.col("probe_bucket"))
    cos = F.round(cosine_sim(F.col("embedding"), F.col("probe_vec")), 6)
    return cand.select("vec_id", cos.alias("cosine")).orderBy(F.col("cosine").desc(), "vec_id").limit(20)


@register(
    "sim_ivf_cells",
    """
    WITH dims AS (SELECT UNNEST(RANGE(1, 65)) AS i),
    comp AS (
        SELECT label, i, SUM(embedding[i]::DOUBLE) AS s
        FROM embeddings CROSS JOIN dims
        GROUP BY label, i
    ),
    cnt AS (SELECT label, COUNT(*) AS n_vectors FROM embeddings GROUP BY label)
    SELECT c.label AS label, n.n_vectors,
           ROUND(SQRT(SUM((c.s / n.n_vectors) * (c.s / n.n_vectors))), 6) AS centroid_norm
    FROM comp c JOIN cnt n ON c.label = n.label
    GROUP BY c.label, n.n_vectors
    ORDER BY c.label
    """,
)
def sim_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF scaffolding: per-cell (here: label as the coarse cell; a
    seeded KMeans in production) centroid norms and occupancy — the
    statistics an IVF probe planner needs to choose nprobe cells.
    Oracle-checked since round 4: per-dimension sums + norm are plain
    double arithmetic; summation-order noise (~1e-13 relative) sits
    far inside the round-to-6 + 1e-9-atol compare."""
    e = t(spark, sf_dir, "embeddings")
    dim = 64
    sums = e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.array(
            *[F.sum(F.element_at("embedding", i + 1)).alias(f"s{i}") for i in range(dim)]
        ).alias("centroid_sum"),
    )
    centroid = F.transform("centroid_sum", lambda s: s / F.col("n_vectors"))
    return sums.select(
        "label",
        "n_vectors",
        F.round(
            F.sqrt(F.aggregate(centroid, F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("centroid_norm"),
    ).orderBy("label")


def ivf_topk(
    corpus: DataFrame,
    probe_vec: list[float],
    k: int = 20,
    n_cells: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with a real coarse quantizer: seeded KMeans assigns every
    vector to a cell; the probe searches only its ``nprobe`` nearest
    cells with exact cosine rerank inside them.

    Scale: training the quantizer samples the corpus once (KMeans over
    k≪n centroids); cell assignment is one map-side pass (and at rest
    the corpus is WRITTEN partitioned by cell, so a probe reads
    nprobe/n_cells of the data). Choosing the probe's cells compares the
    probe against k centroids — O(k·dim) driver math on model state, not
    a data collect."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    with_vec = corpus.withColumn("_v", array_to_vector(F.col(vec_col)))
    km = KMeans(k=n_cells, seed=42, featuresCol="_v", predictionCol="_cell").fit(with_vec)
    cells = km.transform(with_vec)

    import math

    def dist(c) -> float:
        return math.sqrt(sum((a - b) ** 2 for a, b in zip(c, probe_vec)))

    nearest = sorted(range(n_cells), key=lambda i: dist(km.clusterCenters()[i]))[:nprobe]
    probe_df = corpus.sparkSession.createDataFrame(
        [(probe_vec,)], f"probe_vec array<float>"
    )
    cand = cells.filter(F.col("_cell").isin([int(c) for c in nearest])).crossJoin(F.broadcast(probe_df))
    cos = F.round(cosine_sim(F.col(vec_col), F.col("probe_vec")), 6)
    return (
        cand.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


@register("sim_ivf_kmeans_topk")  # approximate → rows-only (recall tested in pytest)
def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-20 for probe vec_id=0 using a seeded KMeans quantizer
    over the embeddings table (nprobe=2 of 8 cells)."""
    e = t(spark, sf_dir, "embeddings")
    probe = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    return ivf_topk(e, probe, k=20, n_cells=8, nprobe=2)


@register("sim_brp_lsh_ann_mllib")  # rows-only (seeded; recall-tested in pytest)
def sim_brp_lsh_ann_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH ANN (SURVEY §7.8): euclidean
    LSH buckets + approxNearestNeighbors for probe vec_id=0 — the
    library counterpart of the hand-rolled hyperplane LSH above."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = t(spark, sf_dir, "embeddings").withColumn("v", array_to_vector(F.col("embedding")))
    lsh = BucketedRandomProjectionLSH(
        inputCol="v", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    ).fit(e)
    probe = e.filter(F.col("vec_id") == 0).first()["v"]
    nn = lsh.approxNearestNeighbors(e, probe, numNearestNeighbors=20, distCol="dist")
    return nn.select("vec_id", F.round("dist", 6).alias("euclidean_dist")).orderBy(
        "euclidean_dist", "vec_id"
    )


@register("sim_pca_topk")  # rows-only (PCA basis is data-derived; recall-tested in pytest)
def sim_pca_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-reduced top-k (SURVEY §7.8 scale path): StandardScaler
    (center only — unit variance would whiten away the cluster
    structure) → PCA to 32 of 64 dims → exact EUCLIDEAN top-20 in the
    reduced space. Euclidean, not cosine: centering + orthogonal
    projection preserves pairwise distances (up to truncated-variance
    error) but moves the origin, so cosine would be meaningless in the
    reduced space. k=32 because the synthetic embeddings are
    near-isotropic (top-16 PCs carry only ~38% of variance), so deeper
    truncation destroys the neighborhood — the honest trade measured in
    tests/test_clusters_ivf_audio.py: 2× fewer candidate-scan bytes at
    recall@20 ≈ 0.55. At 100 TB this is the front half of an
    IVF-PQ-style stack; real text embeddings concentrate variance far
    more, buying a deeper cut at the same recall."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import PCA, StandardScaler
    from pyspark.ml.functions import array_to_vector, vector_to_array

    e = t(spark, sf_dir, "embeddings").withColumn("v", array_to_vector(F.col("embedding")))
    pipe = Pipeline(
        stages=[
            StandardScaler(inputCol="v", outputCol="centered", withMean=True, withStd=False),
            PCA(k=32, inputCol="centered", outputCol="proj"),
        ]
    )
    reduced = (
        pipe.fit(e)
        .transform(e)
        .select("vec_id", vector_to_array(F.col("proj")).alias("embedding"))
    )
    probe = reduced.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("probe_vec"))
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("embedding"), F.col("probe_vec"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ),
        6,
    )
    return (
        reduced.crossJoin(F.broadcast(probe))
        .select("vec_id", dist.alias("euclidean_dist"))
        .orderBy("euclidean_dist", "vec_id")
        .limit(20)
    )


@register(
    "sim_quantize_int8",
    """
    WITH scaled AS (
        SELECT vec_id,
               NULLIF(LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))), 0.0)
                   AS max_abs
        FROM embeddings
    ), q AS (
        SELECT e.vec_id,
               CAST(s.max_abs AS DOUBLE) AS max_abs,
               GENERATE_SUBSCRIPTS(e.embedding, 1) AS pos,
               CAST(FLOOR(CAST(UNNEST(e.embedding) AS DOUBLE) * 127.0 / s.max_abs) AS BIGINT) AS qv
        FROM embeddings e JOIN scaled s ON s.vec_id = e.vec_id
    )
    SELECT vec_id, max_abs,
           CAST(SUM(qv) AS BIGINT) AS q_sum,
           CAST(SUM(qv * pos) AS BIGINT) AS q_wsum
    FROM q
    GROUP BY vec_id, max_abs
    ORDER BY vec_id
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N7: per-vector symmetric int8 scalar quantization — the storage
    tier of every large ANN index (4x smaller than float32, SIMD int8
    dot products). q_i = floor(x_i * 127 / max|x|), kept alongside the
    per-vector scale so dot products can be de-quantized. Pure
    higher-order expressions, zero shuffle — at 100 TB this is a
    map-only rewrite pass. FLOOR (not round) and exact float->double
    promotion keep Spark and DuckDB bit-identical; NULLIF guards the
    all-zero vector. The oracle-visible output digests the quantized
    array as (sum, position-weighted sum) — elementwise-order-pinning
    scalars, because array result columns break the driver compare."""
    e = t(spark, sf_dir, "embeddings")
    max_abs = F.nullif(
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))),
        F.lit(0.0),
    )
    with_scale = e.select("vec_id", "embedding", max_abs.alias("max_abs"))
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(127.0) / F.col("max_abs")).cast("bigint"),
    )
    return with_scale.select(
        "vec_id",
        F.col("max_abs").cast("double").alias("max_abs"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias("q_sum"),
        F.aggregate(
            F.zip_with(q, F.sequence(F.lit(1), F.size("embedding")), lambda a, i: a * i.cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("q_wsum"),
    ).orderBy("vec_id")


@register(
    "sim_label_centroids",
    """
    WITH elems AS (
        SELECT label,
               GENERATE_SUBSCRIPTS(embedding, 1) AS pos,
               UNNEST(embedding) AS x
        FROM embeddings
    )
    SELECT label,
           CAST(pos AS BIGINT) AS pos,
           CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_micro,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM elems
    GROUP BY label, pos
    ORDER BY label, pos
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N8: per-label centroid accumulation — the E-step of distributed
    KMeans and the class-prototype build for IVF cell seeding /
    nearest-class-mean classification. posexplode + groupBy(label, pos)
    gets map-side partial aggregation, so the shuffle carries one
    partial sum per (label, pos, partition) — at 100 TB the shuffle is
    O(labels x dims x partitions), independent of row count. Components
    are fixed-point micro-units summed as exact BIGINTs (float group
    sums are partition-order dependent and cannot be hash-compared);
    the caller divides sum_micro/n for the float centroid."""
    e = t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode(F.col("embedding")).alias("pos0", "x"))
        .select(
            "label",
            (F.col("pos0") + 1).cast("bigint").alias("pos"),
            F.floor(F.col("x").cast("double") * 1000000).cast("bigint").alias("micro"),
        )
        .groupBy("label", "pos")
        .agg(
            F.sum("micro").cast("bigint").alias("sum_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .orderBy("label", "pos")
    )


@register(
    "sim_matryoshka_topk",
    """
    WITH sliced AS (
        SELECT vec_id,
               embedding[1:16]::DOUBLE[] AS e16,
               embedding::DOUBLE[] AS e64
        FROM embeddings
    ),
    p AS (SELECT e16 AS p16, e64 AS p64 FROM sliced WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(LIST_DOT_PRODUCT(e16, p.p16)
                 / (SQRT(LIST_DOT_PRODUCT(e16, e16)) * SQRT(LIST_DOT_PRODUCT(p.p16, p.p16))), 6)
               AS cosine16,
           ROUND(LIST_DOT_PRODUCT(e64, p.p64)
                 / (SQRT(LIST_DOT_PRODUCT(e64, e64)) * SQRT(LIST_DOT_PRODUCT(p.p64, p.p64))), 6)
               AS cosine64
    FROM sliced CROSS JOIN p
    ORDER BY cosine16 DESC, vec_id
    LIMIT 20
    """,
)
def sim_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6: matryoshka-style truncated-embedding retrieval — rank by
    cosine on the FIRST 16 of 64 dimensions (cosine renormalizes the
    prefix implicitly), returning the full-dimension cosine alongside
    for quality comparison. This is the standard cheap-first retrieval
    trick for MRL-trained embeddings: a prefix scan reads/computes 1/4
    of the vector bytes; re-ranking the short candidate list with full
    vectors restores accuracy. At 100 TB the corpus stores the prefix
    as its own column (column pruning skips the tail entirely); here
    slice() keeps the demo single-table. Same plan shape as
    sim_bruteforce_topk: 1-row broadcast probe, map-side cosine in
    codegen, TakeOrderedAndProject — no corpus shuffle."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.slice(F.col("embedding"), 1, 16).alias("e16"),
        F.col("embedding").alias("e64"),
    )
    probe = e.filter(F.col("vec_id") == 0).select(
        F.col("e16").alias("p16"), F.col("e64").alias("p64")
    )
    joined = e.crossJoin(F.broadcast(probe))
    return (
        joined.select(
            "vec_id",
            F.round(cosine_sim(F.col("e16"), F.col("p16")), 6).alias("cosine16"),
            F.round(cosine_sim(F.col("e64"), F.col("p64")), 6).alias("cosine64"),
        )
        .orderBy(F.col("cosine16").desc(), "vec_id")
        .limit(20)
    )


@register(
    "sim_hard_negatives",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    p AS (SELECT emb AS probe_vec, label AS probe_label FROM e WHERE vec_id = 0)
    SELECT vec_id, label,
           ROUND(LIST_DOT_PRODUCT(emb, p.probe_vec)
                 / (SQRT(LIST_DOT_PRODUCT(emb, emb)) * SQRT(LIST_DOT_PRODUCT(p.probe_vec, p.probe_vec))), 6)
               AS cosine
    FROM e CROSS JOIN p
    WHERE e.label <> p.probe_label
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N7: hard-negative mining — for an anchor embedding, the most
    similar vectors with a DIFFERENT label: contrastive-training's
    negative-sampling step (easy negatives are random; hard negatives
    are the near-misses that carry the gradient signal). Plan shape is
    brute-force top-k (1-row broadcast probe carrying vector AND label,
    map-side cosine + label-inequality filter in codegen,
    TakeOrderedAndProject) — the label filter prunes BEFORE the sort,
    so the top-k heap never sees positives. At 100 TB the same query
    runs per-anchor-batch against an LSH/IVF-bucketed corpus (see
    sim_lsh_ann / sim_ivf_kmeans_topk); the mining semantics are
    unchanged."""
    e = t(spark, sf_dir, "embeddings")
    probe = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("probe_vec"), F.col("label").alias("probe_label")
    )
    return (
        e.crossJoin(F.broadcast(probe))
        .where(F.col("label") != F.col("probe_label"))
        .select(
            "vec_id",
            "label",
            F.round(cosine_sim(F.col("embedding"), F.col("probe_vec")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@register(
    "sim_norms_arrow",
    """
    SELECT vec_id,
           CAST(FLOOR(SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[])) * 1000000)
                AS BIGINT) AS l2_micro,
           CAST(LEN(embedding) AS BIGINT) AS dim
    FROM embeddings
    ORDER BY vec_id
    """,
)
def sim_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N8: per-vector L2 norms via mapInArrow — the third Python API
    tier after pandas UDFs and applyInPandas: the function receives raw
    pyarrow RecordBatches (no pandas conversion at all), runs a
    vectorized numpy reduction per batch, and yields RecordBatches
    back. For numeric array columns this is the lowest-overhead Python
    escape hatch — zero copies beyond Arrow itself, no index/object
    boxing. Norms floor to integer micro-units so the numpy double
    pipeline and DuckDB's list_dot_product agree bit-for-bit. Plan:
    embarrassingly parallel map over batches, no shuffle (the output
    sort is the driver compare's, not the operator's)."""
    import pyarrow as pa

    def norms(batches):
        import numpy as np

        for batch in batches:
            vec_ids = batch.column("vec_id")
            emb = batch.column("embedding")
            # flatten the (possibly chunked) list array into a 2-D view
            arr = emb.flatten().to_numpy(zero_copy_only=False).reshape(len(batch), -1)
            l2 = np.floor(np.sqrt((arr.astype("float64") ** 2).sum(axis=1)) * 1_000_000)
            yield pa.RecordBatch.from_arrays(
                [vec_ids, pa.array(l2.astype("int64")), pa.array([arr.shape[1]] * len(batch), pa.int64())],
                names=["vec_id", "l2_micro", "dim"],
            )

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return e.mapInArrow(norms, "vec_id long, l2_micro long, dim long").orderBy("vec_id")


_RRF_K = 60
_RRF_TOPN = 50


@register(
    "sim_reciprocal_rank_fusion",
    rf"""
    WITH q AS (
        SELECT LIST_DISTINCT(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')) AS qwords,
               LIST_DISTINCT(LIST_TRANSFORM(
                   RANGE(1, GREATEST(LEN(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')), 1)),
                   i -> STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')[i] || ' ' ||
                        STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')[i+1]
               )) AS qbigrams
        FROM documents WHERE doc_id = 0
    ),
    scored AS (
        SELECT d.doc_id,
               CAST(LEN(LIST_INTERSECT(
                   LIST_DISTINCT(STRING_SPLIT_REGEX(LOWER(TRIM(d.text)), '\s+')), q.qwords
               )) AS BIGINT) AS shared_words,
               CAST(LEN(LIST_INTERSECT(
                   LIST_DISTINCT(LIST_TRANSFORM(
                       RANGE(1, GREATEST(LEN(STRING_SPLIT_REGEX(LOWER(TRIM(d.text)), '\s+')), 1)),
                       i -> STRING_SPLIT_REGEX(LOWER(TRIM(d.text)), '\s+')[i] || ' ' ||
                            STRING_SPLIT_REGEX(LOWER(TRIM(d.text)), '\s+')[i+1]
                   )),
                   q.qbigrams
               )) AS BIGINT) AS shared_bigrams
        FROM documents d, q
        WHERE d.doc_id <> 0
    ),
    top_a AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY shared_words DESC, doc_id) AS rnk
        FROM scored QUALIFY rnk <= {_RRF_TOPN}
    ),
    top_b AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY shared_bigrams DESC, doc_id) AS rnk
        FROM scored QUALIFY rnk <= {_RRF_TOPN}
    ),
    fused AS (
        SELECT doc_id,
               CAST(SUM(CAST(FLOOR(1e6 / ({_RRF_K} + rnk)) AS BIGINT)) AS BIGINT) AS rrf_micro
        FROM (SELECT * FROM top_a UNION ALL SELECT * FROM top_b)
        GROUP BY doc_id
    )
    SELECT doc_id, rrf_micro
    FROM fused
    ORDER BY rrf_micro DESC, doc_id
    LIMIT 20
    """,
)
def sim_reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via RECIPROCAL RANK FUSION — the standard way a
    RAG stack merges rankings from heterogeneous retrievers (lexical +
    semantic) without calibrating their incomparable scores: each
    retriever contributes 1/(k + rank), k=60. Here the two retrievers
    are integer-exact relevance signals against the probe document
    (shared distinct words; shared distinct word bigrams), so every
    rank — and therefore the fused score — is deterministic
    cross-engine; a float-scored retriever would rank-flip on ulp ties.

    Scale shape: the probe's word/bigram sets are a 1-row broadcast;
    per-doc overlap counts are map-side array intersections; each
    retriever's top-N comes from TakeOrdered (never a global sort);
    and the rank assignment within the N-row candidate frame is the
    broadcast rank-join idiom, not an unpartitioned window. Fusion
    itself is one tiny groupBy over <= 2N rows."""
    d = t(spark, sf_dir, "documents")
    words = F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    w2 = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    bigrams = F.array_distinct(
        F.filter(
            F.zip_with(w2, F.slice(w2, 2, F.size(w2)), lambda a, b: F.concat(a, F.lit(" "), b)),
            lambda x: x.isNotNull(),
        )
    )
    probe = d.filter(F.col("doc_id") == 0).select(
        words.alias("qwords"), bigrams.alias("qbigrams")
    )
    scored = (
        d.filter(F.col("doc_id") != 0)
        .select("doc_id", words.alias("w"), bigrams.alias("b"))
        .crossJoin(F.broadcast(probe))
        .select(
            "doc_id",
            F.size(F.array_intersect("w", "qwords")).cast("bigint").alias("shared_words"),
            F.size(F.array_intersect("b", "qbigrams")).cast("bigint").alias("shared_bigrams"),
        )
    )

    def topn_ranked(col: str) -> DataFrame:
        # TakeOrdered to the N-row candidate frame, then ranks via the
        # broadcast self-join idiom (no unpartitioned window)
        cand = scored.select("doc_id", col).orderBy(F.col(col).desc(), "doc_id").limit(_RRF_TOPN)
        o = cand.select(F.col("doc_id").alias("o_id"), F.col(col).alias("o_v"))
        rnk = F.sum(
            F.when(
                (F.col("o_v") > F.col(col))
                | ((F.col("o_v") == F.col(col)) & (F.col("o_id") <= F.col("doc_id"))),
                1,
            ).otherwise(0)
        )
        return (
            cand.crossJoin(F.broadcast(o))
            .groupBy("doc_id", col)
            .agg(rnk.alias("rnk"))
            .select("doc_id", "rnk")
        )

    fused = (
        topn_ranked("shared_words")
        .unionByName(topn_ranked("shared_bigrams"))
        .groupBy("doc_id")
        # per-term FLOOR(1e6/(k+rank)) summed as integers: one IEEE
        # division per term is bit-identical cross-engine, and the
        # integer sum is order-free — unlike a float sum ROUNDed to 6
        # decimals, which can flip at a decimal half-boundary when
        # summation order differs between engines
        .agg(
            F.sum(F.floor(F.lit(1e6) / (_RRF_K + F.col("rnk"))).cast("bigint"))
            .cast("bigint")
            .alias("rrf_micro")
        )
    )
    return fused.orderBy(F.col("rrf_micro").desc(), "doc_id").limit(20)


def _recall_oracle() -> str:
    """Compose the ANN-recall oracle from the already-registered ANN
    oracles (single source of truth: if an LSH or brute-force oracle
    changes, this report's oracle follows automatically). One leg per
    index configuration — 4-bit single-probe baseline and the 12-bit
    Hamming-1 multi-probe scale setting."""
    from realestate_engine.registry import ORACLES

    def leg(config: str, bits: int, n_probe: int, ann_sql: str) -> str:
        return f"""
    SELECT '{config}' AS config,
           CAST({bits} AS BIGINT) AS bits,
           CAST({n_probe} AS BIGINT) AS n_probe_buckets,
           CAST(20 AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST((COUNT(*) * 1000000) // 20 AS BIGINT) AS recall_micro
    FROM ({ann_sql}) a
    JOIN ({ORACLES["sim_bruteforce_topk"]}) e USING (vec_id)
    """

    return (
        leg("lsh_12bit_multiprobe", 12, 13, _lsh_ann_multiprobe_oracle_sql(12, 12))
        + "\n    UNION ALL\n"
        + leg("lsh_4bit", 4, 1, _lsh_ann_oracle_sql(bits=4))
        + "\n    ORDER BY config\n"
    )


@register("sim_ann_recall_report", _recall_oracle())
def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N8: in-engine ANN quality report — recall@20 of the hyperplane
    LSH index against the exact brute-force ranking for the probe
    vector. Pytest already asserts a recall floor; this registers the
    measurement itself as a driver-checked query (the observability a
    production vector index ships with: recall regressions surface as
    data, not as a silent quality drop). All rankings are
    deterministic (crc32 hyperplane signs; cosine ties broken by
    vec_id), so the hit counts are exact. One row per index
    configuration: the 4-bit single-probe baseline and the 12-bit
    Hamming-1 multi-probe scale setting (r5 VERDICT #6 — 256-bucket
    headroom is a test-scale artifact; this row is the datapoint that
    the bits↑ + multi-probe knob holds recall). Composition: the
    registered top-20 queries joined on vec_id and counted — O(k)
    work on top of their plans.

    r15 (guide §1.2 / VERDICT r14 #9): the exact top-20 is CACHED —
    both legs join against it, and without the cache each leg replayed
    the full brute-force cosine pass over the corpus (the one
    genuinely expensive input of this report)."""
    exact = cache_once(sim_bruteforce_topk(spark, sf_dir).select("vec_id"))

    def leg(config: str, bits: int, n_probe: int, ann_df: DataFrame) -> DataFrame:
        return ann_df.select("vec_id").join(exact, "vec_id").agg(
            F.lit(config).alias("config"),
            F.lit(bits).cast("bigint").alias("bits"),
            F.lit(n_probe).cast("bigint").alias("n_probe_buckets"),
            F.lit(20).cast("bigint").alias("k"),
            F.count(F.lit(1)).cast("bigint").alias("n_hits"),
            F.expr("(count(1) * 1000000) div 20").cast("bigint").alias("recall_micro"),
        )

    return (
        leg("lsh_12bit_multiprobe", 12, 13, sim_lsh_ann_multiprobe(spark, sf_dir))
        .unionByName(leg("lsh_4bit", 4, 1, sim_lsh_ann(spark, sf_dir)))
        .orderBy("config")
    )


# ---------------------------------------------------------------------------
# Product quantization with asymmetric distance computation (PQ-ADC)
# ---------------------------------------------------------------------------
#
# The memory-side ANN technique the scalar path (sim_quantize_int8)
# can't reach: instead of narrowing each COMPONENT to int8, PQ cuts
# the 64-dim vector into M=8 subvectors and snaps each to one of K=16
# shared centroids — the whole vector becomes M 4-bit codes (4 bytes,
# a 64x compression), and query distance is a table lookup per
# subspace (Jegou et al., "Product Quantization for Nearest Neighbor
# Search"). At 100 TB this is what lets a billion-vector index live in
# executor memory. Codebooks are TRAINED here with one distributed
# Lloyd round (integer fixed point, the m25 idiom) from deterministic
# lattice seeds — data-blind seeds alone rank poorly (recall@10 ~0.1
# measured), one refinement round moves every centroid onto the data.
# Every distance is exact BIGINT math on FLOOR-milli components, so
# DuckDB reproduces seeds, the Lloyd update, codes, LUTs, and the
# final ranking bit-for-bit.

_PQ_M = 8  # subspaces
_PQ_SUBDIM = 8  # dims per subspace (8*8 = 64)
_PQ_K = 16  # centroids per subspace -> 4-bit codes
_PQ_SHIFT = 2048  # > max |milli component|; makes the mean's numerator
# nonnegative so truncating DIV equals floor division on BOTH engines
# (floor(s/n) = (s + SHIFT*n) DIV n - SHIFT; DuckDB // floors, Spark
# DIV truncates — they agree only for nonnegative numerators)

_PQ_SEED_SQL = "((c * 31 + m * 17 + j * 7) % 21 - 10) * 50"


@register(
    "sim_pq_adc",
    f"""
    WITH e AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS vint
        FROM embeddings
    ),
    grid AS (
        SELECT m.m, c.c, j.j, {_PQ_SEED_SQL} AS comp
        FROM (SELECT UNNEST(RANGE(0, {_PQ_M})) AS m) m,
             (SELECT UNNEST(RANGE(0, {_PQ_K})) AS c) c,
             (SELECT UNNEST(RANGE(0, {_PQ_SUBDIM})) AS j) j
    ),
    dist0 AS (
        SELECT e.vec_id, g.m, g.c,
               SUM((e.vint[g.m * {_PQ_SUBDIM} + g.j + 1] - g.comp)
                 * (e.vint[g.m * {_PQ_SUBDIM} + g.j + 1] - g.comp)) AS d
        FROM e, grid g GROUP BY 1, 2, 3
    ),
    code0 AS (
        SELECT vec_id, m, MIN(d * {_PQ_K} + c) % {_PQ_K} AS c FROM dist0 GROUP BY 1, 2
    ),
    assigned AS (
        SELECT k.m, k.c, j.j, e.vint[k.m * {_PQ_SUBDIM} + j.j + 1] AS val
        FROM code0 k JOIN e USING (vec_id),
             (SELECT UNNEST(RANGE(0, {_PQ_SUBDIM})) AS j) j
    ),
    lloyd AS (
        SELECT m, c, j,
               (SUM(val) + {_PQ_SHIFT} * COUNT(*)) // COUNT(*) - {_PQ_SHIFT} AS comp
        FROM assigned GROUP BY 1, 2, 3
    ),
    trained AS (
        SELECT g.m, g.c, g.j, COALESCE(l.comp, g.comp) AS comp
        FROM grid g LEFT JOIN lloyd l ON l.m = g.m AND l.c = g.c AND l.j = g.j
    ),
    dist1 AS (
        SELECT e.vec_id, tr.m, tr.c,
               SUM((e.vint[tr.m * {_PQ_SUBDIM} + tr.j + 1] - tr.comp)
                 * (e.vint[tr.m * {_PQ_SUBDIM} + tr.j + 1] - tr.comp)) AS d
        FROM e, trained tr GROUP BY 1, 2, 3
    ),
    codes AS (
        SELECT vec_id, m, MIN(d * {_PQ_K} + c) % {_PQ_K} AS code FROM dist1 GROUP BY 1, 2
    ),
    lut AS (SELECT m, c, d FROM dist1 WHERE vec_id = 0),
    adc AS (
        SELECT cd.vec_id, SUM(l.d) AS adc_dist
        FROM codes cd JOIN lut l ON l.m = cd.m AND l.c = cd.code
        WHERE cd.vec_id <> 0 GROUP BY 1
    ),
    q AS (SELECT vint FROM e WHERE vec_id = 0),
    exact AS (
        SELECT e.vec_id,
               SUM((e.vint[j.j + 1] - q.vint[j.j + 1])
                 * (e.vint[j.j + 1] - q.vint[j.j + 1])) AS l2_exact
        FROM e, q, (SELECT UNNEST(RANGE(0, {_PQ_M * _PQ_SUBDIM})) AS j) j
        WHERE e.vec_id <> 0 GROUP BY 1
    )
    SELECT a.vec_id,
           CAST(a.adc_dist AS BIGINT) AS adc_dist,
           CAST(x.l2_exact AS BIGINT) AS l2_exact
    FROM adc a JOIN exact x USING (vec_id)
    ORDER BY adc_dist, a.vec_id
    LIMIT 10
    """,
)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-10 with a one-round distributed Lloyd-trained
    codebook. Stages, all linear in the corpus: (1) FLOOR-milli
    integerization (map-only); (2) seed assignment — each vector's
    M subvectors join the broadcast M*K seed grid, argmin made
    tie-free by minimizing the single integer dist*K + c; (3) the
    Lloyd update — one groupBy((m, code, j)) floor-mean, empty
    clusters keep their seed via the left join; (4) encoding against
    the trained 128-row broadcast codebook; (5) ADC — the probe's
    M*K LUT (one row of the same dist frame) broadcast-joined to the
    codes, summed per vector. No full-width arithmetic touches the
    database side at query time, which is the PQ payoff. `l2_exact`
    rides along so quantization error is visible data; ties broken by
    vec_id; everything BIGINT so the DuckDB oracle replays training
    and ranking bit-for-bit."""
    e = cache_once(
        t(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform(
                "embedding", lambda v: F.floor(v.cast("double") * 1000).cast("long")
            ).alias("vint"),
        )
    )
    sub = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("vint", m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", "s.m", "s.sv")

    def centroid_grid(spark: SparkSession) -> DataFrame:
        return (
            spark.range(_PQ_M * _PQ_K)
            .select(
                (F.col("id") / _PQ_K).cast("long").alias("m"),
                (F.col("id") % _PQ_K).alias("c"),
            )
            .select(
                "m",
                "c",
                F.transform(
                    F.sequence(F.lit(0), F.lit(_PQ_SUBDIM - 1)),
                    lambda j: ((F.col("c") * 31 + F.col("m") * 17 + j * 7) % 21 - 10) * 50,
                ).alias("cent"),
            )
        )

    def sub_dists(cents: DataFrame) -> DataFrame:
        """(vec_id, m, c, d): squared L2 from every subvector to every
        centroid of its subspace — the M*K-per-vector encode frame."""
        return sub.join(F.broadcast(cents), "m").select(
            "vec_id",
            "m",
            "c",
            F.aggregate(
                F.zip_with("sv", "cent", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, d: acc + d,
            ).alias("d"),
        )

    seeds = centroid_grid(spark)
    code0 = (
        sub_dists(seeds)
        .groupBy("vec_id", "m")
        .agg((F.min(F.col("d") * _PQ_K + F.col("c")) % _PQ_K).alias("c"))
    )
    assigned = code0.join(sub, ["vec_id", "m"]).select(
        "m", "c", F.posexplode("sv").alias("j", "val")
    )
    lloyd = (
        assigned.groupBy("m", "c", "j")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        # exact integer floor-mean: nonneg numerator makes truncating
        # DIV equal floor division (mirrors the oracle's // exactly)
        .select("m", "c", "j", F.expr(f"(s + {_PQ_SHIFT} * n) DIV n - {_PQ_SHIFT}").alias("comp"))
    )
    seed_flat = seeds.select("m", "c", F.posexplode("cent").alias("j", "seed_comp"))
    trained = (
        seed_flat.join(lloyd, ["m", "c", "j"], "left")
        .select("m", "c", "j", F.coalesce("comp", "seed_comp").alias("comp"))
        .groupBy("m", "c")
        .agg(F.array_sort(F.collect_list(F.struct("j", "comp"))).alias("jc"))
        .select("m", "c", F.transform("jc", lambda x: x["comp"]).alias("cent"))
    )
    dist1 = cache_once(sub_dists(trained))
    codes = (
        dist1.filter(F.col("vec_id") != 0)
        .groupBy("vec_id", "m")
        .agg((F.min(F.col("d") * _PQ_K + F.col("c")) % _PQ_K).alias("code"))
    )
    lut = dist1.filter(F.col("vec_id") == 0).select("m", F.col("c").alias("code"), "d")
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )
    probe = e.filter(F.col("vec_id") == 0).select(F.col("vint").alias("q_vint"))
    exact = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("vint", "q_vint", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, d: acc + d,
            ).cast("bigint").alias("l2_exact"),
        )
    )
    return adc.join(exact, "vec_id").orderBy("adc_dist", "vec_id").limit(10)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + residual product quantization (the FAISS
# IVFADC layout — Jegou et al. §IV)
# ---------------------------------------------------------------------------
#
# The two memory/scale techniques above composed the way production
# indexes actually ship them: an IVF coarse quantizer prunes the
# corpus to nprobe cells, and PQ codes are trained on the RESIDUALS
# v − centroid(cell(v)) — residuals concentrate near zero, so the
# same 4-bit codebook quantizes them far more accurately than raw
# vectors. The query builds one ADC lookup table PER PROBED CELL
# (its residual differs per cell) and scans only those cells' codes.
# All arithmetic is exact BIGINT on FLOOR-milli components: seeds,
# one Lloyd round for each quantizer, assignment, encoding, LUTs and
# ranking replay bit-for-bit in DuckDB.

_IVF_C = 8  # coarse cells
_IVF_NPROBE = 2
_IVFPQ_SHIFT = 8192  # > max |residual component|; floor-mean trick
_IVF_SEED_SQL = "((c * 37 + j.j * 11) % 21 - 10) * 50"
_IVFPQ_SEED_SQL = "((c * 31 + m * 17 + j * 7) % 21 - 10) * 20"


def _ivfpq_oracle() -> str:
    m, sd, k = _PQ_M, _PQ_SUBDIM, _PQ_K
    return f"""
    WITH e AS (
        SELECT vec_id,
               LIST_TRANSFORM(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS vint
        FROM embeddings
    ),
    cgrid AS (
        SELECT c.c, j.j, {_IVF_SEED_SQL} AS comp
        FROM (SELECT UNNEST(RANGE(0, {_IVF_C})) AS c) c,
             (SELECT UNNEST(RANGE(0, {m * sd})) AS j) j
    ),
    cd0 AS (
        SELECT e.vec_id, g.c,
               SUM((e.vint[g.j + 1] - g.comp) * (e.vint[g.j + 1] - g.comp)) AS d
        FROM e, cgrid g GROUP BY 1, 2
    ),
    cell0 AS (
        SELECT vec_id, MIN(d * {_IVF_C} + c) % {_IVF_C} AS c FROM cd0 GROUP BY 1
    ),
    cassigned AS (
        SELECT k0.c, j.j, e.vint[j.j + 1] AS val
        FROM cell0 k0 JOIN e USING (vec_id),
             (SELECT UNNEST(RANGE(0, {m * sd})) AS j) j
    ),
    clloyd AS (
        SELECT c, j, (SUM(val) + {_IVFPQ_SHIFT} * COUNT(*)) // COUNT(*) - {_IVFPQ_SHIFT} AS comp
        FROM cassigned GROUP BY 1, 2
    ),
    ctrained AS (
        SELECT g.c, g.j, COALESCE(l.comp, g.comp) AS comp
        FROM cgrid g LEFT JOIN clloyd l ON l.c = g.c AND l.j = g.j
    ),
    cd1 AS (
        SELECT e.vec_id, tr.c,
               SUM((e.vint[tr.j + 1] - tr.comp) * (e.vint[tr.j + 1] - tr.comp)) AS d
        FROM e, ctrained tr GROUP BY 1, 2
    ),
    cellof AS (
        SELECT vec_id, MIN(d * {_IVF_C} + c) % {_IVF_C} AS c FROM cd1 GROUP BY 1
    ),
    resid AS (
        SELECT e.vec_id, co.c, tr.j, e.vint[tr.j + 1] - tr.comp AS rv
        FROM e JOIN cellof co USING (vec_id)
        JOIN ctrained tr ON tr.c = co.c
    ),
    pqgrid AS (
        SELECT m.m, c.c, j.j, {_IVFPQ_SEED_SQL.replace('c *', 'c.c *').replace('m *', 'm.m *').replace('j *', 'j.j *')} AS comp
        FROM (SELECT UNNEST(RANGE(0, {m})) AS m) m,
             (SELECT UNNEST(RANGE(0, {k})) AS c) c,
             (SELECT UNNEST(RANGE(0, {sd})) AS j) j
    ),
    pd0 AS (
        SELECT r.vec_id, g.m, g.c,
               SUM((r.rv - g.comp) * (r.rv - g.comp)) AS d
        FROM resid r JOIN pqgrid g ON r.j = g.m * {sd} + g.j
        GROUP BY 1, 2, 3
    ),
    pcode0 AS (
        SELECT vec_id, m, MIN(d * {k} + c) % {k} AS c FROM pd0 GROUP BY 1, 2
    ),
    passigned AS (
        SELECT k0.m, k0.c, r.j - k0.m * {sd} AS j, r.rv AS val
        FROM pcode0 k0 JOIN resid r
          ON r.vec_id = k0.vec_id AND r.j >= k0.m * {sd} AND r.j < (k0.m + 1) * {sd}
    ),
    plloyd AS (
        SELECT m, c, j, (SUM(val) + {_IVFPQ_SHIFT} * COUNT(*)) // COUNT(*) - {_IVFPQ_SHIFT} AS comp
        FROM passigned GROUP BY 1, 2, 3
    ),
    ptrained AS (
        SELECT g.m, g.c, g.j, COALESCE(l.comp, g.comp) AS comp
        FROM pqgrid g LEFT JOIN plloyd l ON l.m = g.m AND l.c = g.c AND l.j = g.j
    ),
    pd1 AS (
        SELECT r.vec_id, tr.m, tr.c,
               SUM((r.rv - tr.comp) * (r.rv - tr.comp)) AS d
        FROM resid r JOIN ptrained tr ON r.j = tr.m * {sd} + tr.j
        GROUP BY 1, 2, 3
    ),
    codes AS (
        SELECT vec_id, m, MIN(d * {k} + c) % {k} AS code
        FROM pd1 WHERE vec_id <> 0 GROUP BY 1, 2
    ),
    probecells AS (
        SELECT c FROM cd1 WHERE vec_id = 0
        ORDER BY d, c LIMIT {_IVF_NPROBE}
    ),
    q AS (SELECT vint FROM e WHERE vec_id = 0),
    qresid AS (
        SELECT tr.c, tr.j, q.vint[tr.j + 1] - tr.comp AS rv
        FROM ctrained tr, q WHERE tr.c IN (SELECT c FROM probecells)
    ),
    lut AS (
        SELECT qr.c AS cell, tr.m, tr.c AS code,
               SUM((qr.rv - tr.comp) * (qr.rv - tr.comp)) AS d
        FROM qresid qr JOIN ptrained tr ON qr.j = tr.m * {sd} + tr.j
        GROUP BY 1, 2, 3
    ),
    cand AS (
        SELECT co.vec_id, co.c AS cell FROM cellof co
        WHERE co.vec_id <> 0 AND co.c IN (SELECT c FROM probecells)
    ),
    adc AS (
        SELECT cd.vec_id, cd.cell, SUM(l.d) AS adc_dist
        FROM cand cd JOIN codes k2 ON k2.vec_id = cd.vec_id
        JOIN lut l ON l.cell = cd.cell AND l.m = k2.m AND l.code = k2.code
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT e.vec_id,
               SUM((e.vint[j.j + 1] - q.vint[j.j + 1]) * (e.vint[j.j + 1] - q.vint[j.j + 1])) AS l2_exact
        FROM e, q, (SELECT UNNEST(RANGE(0, {m * sd})) AS j) j
        WHERE e.vec_id <> 0 GROUP BY 1
    )
    SELECT a.vec_id,
           CAST(a.cell AS BIGINT) AS cell,
           CAST(a.adc_dist AS BIGINT) AS adc_dist,
           CAST(x.l2_exact AS BIGINT) AS l2_exact
    FROM adc a JOIN exact x USING (vec_id)
    ORDER BY adc_dist, a.vec_id
    LIMIT 10
    """


@register("sim_ivf_pq", _ivfpq_oracle())
def sim_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 (coarse quantizer + residual PQ + per-cell ADC
    LUTs — the FAISS IVFADC layout). Stages: (1) one-round-Lloyd
    coarse quantizer over the FULL vectors (8 cells, deterministic
    seeds, m25 floor-mean idiom); (2) every vector's RESIDUAL against
    its cell centroid; (3) a PQ codebook trained on residuals (seed
    grid + one Lloyd round, tighter seed spread since residuals
    center on zero); (4) the probe's nprobe=2 nearest cells, chosen
    on an 8-row vec_id-partitioned ranking window; (5) one ADC LUT
    PER PROBED CELL (the query residual differs per cell) broadcast
    onto only those cells' codes. `l2_exact` rides along so the
    quantization error is visible data.

    Scale: this is the production billion-vector layout — the corpus
    at rest is written partitionBy(cell) so a probe READS
    nprobe/n_cells of the data; codes are 4 bytes/vector (64x
    compression); every per-vector step is a linear scan + broadcast
    join (the codebooks and LUTs are KB-sized); nothing is ever
    all-pairs. Training cost is two Lloyd rounds of one pass each.
    Versus sim_pq_adc, the candidate set here is ~nprobe/8 of the
    corpus (pytest pins the pruning), and versus sim_ivf_kmeans_topk
    the scan arithmetic is table lookups, not full-width L2."""
    from pyspark.sql.window import Window

    dim = _PQ_M * _PQ_SUBDIM
    e = cache_once(
        t(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform(
                "embedding", lambda v: F.floor(v.cast("double") * 1000).cast("long")
            ).alias("vint"),
        )
    )

    # --- coarse quantizer: seeds -> assign -> one Lloyd round ---
    cgrid = spark.range(_IVF_C).select(
        F.col("id").alias("c"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: ((F.col("id") * 37 + j * 11) % 21 - 10) * 50,
        ).alias("cent"),
    )

    def cell_dists(cents: DataFrame) -> DataFrame:
        return e.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "c",
            F.aggregate(
                F.zip_with("vint", "cent", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, d: acc + d,
            ).alias("d"),
        )

    cell0 = (
        cell_dists(cgrid)
        .groupBy("vec_id")
        .agg((F.min(F.col("d") * _IVF_C + F.col("c")) % _IVF_C).alias("c"))
    )
    cassigned = cell0.join(e, "vec_id").select("c", F.posexplode("vint").alias("j", "val"))
    clloyd = (
        cassigned.groupBy("c", "j")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .select("c", "j", F.expr(f"(s + {_IVFPQ_SHIFT} * n) DIV n - {_IVFPQ_SHIFT}").alias("comp"))
    )
    cseed_flat = cgrid.select("c", F.posexplode("cent").alias("j", "seed_comp"))
    ctrained = (
        cseed_flat.join(clloyd, ["c", "j"], "left")
        .select("c", "j", F.coalesce("comp", "seed_comp").alias("comp"))
        .groupBy("c")
        .agg(F.array_sort(F.collect_list(F.struct("j", "comp"))).alias("jc"))
        .select("c", F.transform("jc", lambda x: x["comp"]).alias("cent"))
    )
    cd1 = cache_once(cell_dists(ctrained))
    cellof = cache_once(
        cd1.groupBy("vec_id").agg((F.min(F.col("d") * _IVF_C + F.col("c")) % _IVF_C).alias("cell"))
    )

    # --- residuals and their subspaces ---
    resid = (
        e.join(cellof, "vec_id")
        .join(F.broadcast(ctrained.withColumnRenamed("c", "cell")), "cell")
        .select("vec_id", "cell", F.zip_with("vint", "cent", lambda a, b: a - b).alias("rv"))
    )
    rsub = resid.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("rv", m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("sv"),
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", "s.m", "s.sv")

    # --- residual PQ codebook: seeds -> assign -> one Lloyd round ---
    pqgrid = (
        spark.range(_PQ_M * _PQ_K)
        .select((F.col("id") / _PQ_K).cast("long").alias("m"), (F.col("id") % _PQ_K).alias("c"))
        .select(
            "m",
            "c",
            F.transform(
                F.sequence(F.lit(0), F.lit(_PQ_SUBDIM - 1)),
                lambda j: ((F.col("c") * 31 + F.col("m") * 17 + j * 7) % 21 - 10) * 20,
            ).alias("cent"),
        )
    )

    def sub_dists(cents: DataFrame) -> DataFrame:
        return rsub.join(F.broadcast(cents), "m").select(
            "vec_id",
            "m",
            "c",
            F.aggregate(
                F.zip_with("sv", "cent", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, d: acc + d,
            ).alias("d"),
        )

    pcode0 = (
        sub_dists(pqgrid)
        .groupBy("vec_id", "m")
        .agg((F.min(F.col("d") * _PQ_K + F.col("c")) % _PQ_K).alias("c"))
    )
    passigned = pcode0.join(rsub, ["vec_id", "m"]).select(
        "m", "c", F.posexplode("sv").alias("j", "val")
    )
    plloyd = (
        passigned.groupBy("m", "c", "j")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "m", "c", "j", F.expr(f"(s + {_IVFPQ_SHIFT} * n) DIV n - {_IVFPQ_SHIFT}").alias("comp")
        )
    )
    pseed_flat = pqgrid.select("m", "c", F.posexplode("cent").alias("j", "seed_comp"))
    ptrained = (
        pseed_flat.join(plloyd, ["m", "c", "j"], "left")
        .select("m", "c", "j", F.coalesce("comp", "seed_comp").alias("comp"))
        .groupBy("m", "c")
        .agg(F.array_sort(F.collect_list(F.struct("j", "comp"))).alias("jc"))
        .select("m", "c", F.transform("jc", lambda x: x["comp"]).alias("cent"))
    )
    pd1 = sub_dists(ptrained)
    codes = (
        pd1.filter(F.col("vec_id") != 0)
        .groupBy("vec_id", "m")
        .agg((F.min(F.col("d") * _PQ_K + F.col("c")) % _PQ_K).alias("code"))
    )

    # --- probe: 2 nearest cells, per-cell residual LUTs ---
    w_q = Window.partitionBy("vec_id").orderBy("d", "c")
    probecells = (
        cd1.filter(F.col("vec_id") == 0)
        .withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select(F.col("c").alias("cell"))
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("vint").alias("q_vint"))
    qresid = (
        F.broadcast(probecells)
        .join(F.broadcast(ctrained.withColumnRenamed("c", "cell")), "cell")
        .crossJoin(F.broadcast(q))
        .select("cell", F.zip_with("q_vint", "cent", lambda a, b: a - b).alias("qrv"))
    )
    qsub = qresid.select(
        "cell",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("qrv", m * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias("qsv"),
                    )
                    for m in range(_PQ_M)
                ]
            )
        ).alias("s"),
    ).select("cell", "s.m", "s.qsv")
    lut = (
        qsub.join(F.broadcast(ptrained), "m")
        .select(
            "cell",
            "m",
            F.col("c").alias("code"),
            F.aggregate(
                F.zip_with("qsv", "cent", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, d: acc + d,
            ).alias("d"),
        )
    )

    # --- scan only the probed cells' codes via the LUTs ---
    cand = cellof.filter(F.col("vec_id") != 0).join(F.broadcast(probecells), "cell")
    adc = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["cell", "m", "code"])
        .groupBy("vec_id", "cell")
        .agg(F.sum("d").cast("bigint").alias("adc_dist"))
    )
    exact = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with("vint", "q_vint", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, d: acc + d,
            ).cast("bigint").alias("l2_exact"),
        )
    )
    return (
        adc.join(exact, "vec_id")
        .select("vec_id", F.col("cell").cast("bigint").alias("cell"), "adc_dist", "l2_exact")
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


# --- N17: binary (sign-bit) quantization + Hamming top-k ---------------------


def _bin_code_sql(lohalf: bool, duck: bool) -> str:
    """Pack 32 sign bits into one BIGINT (two halves avoid the bit-63
    sign trap: DuckDB raises on 1::BIGINT << 63). Identical CASE/shift
    arithmetic on both engines; element access is 1-based in both
    DuckDB lists and Spark element_at."""
    base = 0 if lohalf else 32
    if duck:
        return (
            f"LIST_SUM(LIST_TRANSFORM(RANGE(0, 32), i -> "
            f"CASE WHEN embedding[CAST(i + {base + 1} AS INTEGER)] > 0 "
            f"THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0::BIGINT END))"
        )
    return (
        f"aggregate(sequence(0, 31), 0L, (acc, i) -> acc + "
        f"CASE WHEN element_at(embedding, i + {base + 1}) > 0 "
        f"THEN shiftleft(1L, i) ELSE 0L END)"
    )


@register(
    "sim_binary_hamming_topk",
    f"""
    WITH codes AS (
        SELECT vec_id, label,
               {_bin_code_sql(True, duck=True)} AS lo,
               {_bin_code_sql(False, duck=True)} AS hi
        FROM embeddings
    ),
    p AS (SELECT lo AS plo, hi AS phi FROM codes WHERE vec_id = 0)
    SELECT c.vec_id, CAST(c.label AS INTEGER) AS label,
           CAST(BIT_COUNT(XOR(c.lo, p.plo)) + BIT_COUNT(XOR(c.hi, p.phi)) AS BIGINT)
             AS hamming
    FROM codes c CROSS JOIN p
    ORDER BY hamming, c.vec_id
    LIMIT 20
    """,
)
def sim_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N17: binary embedding quantization — each 64-dim float vector
    collapses to 64 SIGN BITS packed into two BIGINTs (two 32-bit
    halves, sidestepping the engine-divergent bit-63 shift), and
    similarity search becomes popcount(XOR) Hamming ranking: a 32x
    storage cut and the fastest scan primitive there is (SIMD
    popcount over 16 bytes/vector). The sign quantizer is the
    matryoshka/int8 family's extreme point and the standard first
    filter of binary-rescore pipelines. Everything is exact integer
    arithmetic after the x > 0 comparison, so the DuckDB oracle
    replays the codes and the ranking bit-for-bit. Scale: codes are a
    map-only projection; the probe is a 1-row broadcast; at 100 TB
    you shard the scan by a code prefix (the partition key IS the
    first bits of the code) and rescore survivors with the float
    vectors — this query is that pipeline's filter stage."""
    e = t(spark, sf_dir, "embeddings")
    codes = cache_once(
        e.select(
            "vec_id",
            "label",
            F.expr(_bin_code_sql(True, duck=False)).alias("lo"),
            F.expr(_bin_code_sql(False, duck=False)).alias("hi"),
        )
    )
    probe = codes.where(F.col("vec_id") == 0).select(
        F.col("lo").alias("plo"), F.col("hi").alias("phi")
    )
    return (
        codes.crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            (
                F.bit_count(F.expr("lo ^ plo")) + F.bit_count(F.expr("hi ^ phi"))
            )
            .cast("bigint")
            .alias("hamming"),
        )
        .orderBy("hamming", "vec_id")
        .limit(20)
    )


_IVF_K = 8          # cells
_IVF_D = 64         # embedding dims (all SFs)


def _ivf_assign_sql(q: str, cents: str, out: str) -> str:
    """One exact Lloyd assignment: integer squared L2 to every centroid,
    argmin with (dist, cell) tiebreak."""
    return f"""
    {out} AS MATERIALIZED (
        SELECT vec_id, cell, dist FROM (
            SELECT q.vec_id, c.cell,
                   CAST(SUM((q.qv - c.cv) * (q.qv - c.cv)) AS BIGINT) AS dist,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY SUM((q.qv - c.cv) * (q.qv - c.cv)), c.cell
                   ) AS rn
            FROM {q} q JOIN {cents} c USING (dim)
            GROUP BY q.vec_id, c.cell
        ) WHERE rn = 1
    )"""


def _ivf_update_sql(q: str, assign: str, prev: str, out: str) -> str:
    """Centroid update: per-(cell, dim) truncating integer mean, with
    empty cells inheriting the previous centroid."""
    return f"""
    {out} AS MATERIALIZED (
        SELECT p.cell, p.dim,
               COALESCE(u.cv, p.cv) AS cv
        FROM {prev} p
        LEFT JOIN (
            SELECT a.cell, q.dim, CAST(SUM(q.qv) // COUNT(*) AS BIGINT) AS cv
            FROM {assign} a JOIN {q} q USING (vec_id)
            GROUP BY a.cell, q.dim
        ) u ON u.cell = p.cell AND u.dim = p.dim
    )"""


_IVF_BUILD_ORACLE = f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id, i - 1 AS dim,
               CAST(FLOOR(embedding[i] * 1000) AS BIGINT) AS qv
        FROM embeddings, UNNEST(RANGE(1, {_IVF_D + 1})) AS r(i)
    ),
    c0 AS MATERIALIZED (
        SELECT vec_id AS cell, dim, qv AS cv FROM q WHERE vec_id < {_IVF_K}
    ),
    {_ivf_assign_sql('q', 'c0', 'a1')},
    {_ivf_update_sql('q', 'a1', 'c0', 'c1')},
    {_ivf_assign_sql('q', 'c1', 'a2')},
    {_ivf_update_sql('q', 'a2', 'c1', 'c2')},
    {_ivf_assign_sql('q', 'c2', 'a3')}
    SELECT cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(dist) AS BIGINT) AS inertia
    FROM a3
    GROUP BY cell
    ORDER BY cell
"""


@register("sim_ivf_build_exact", _IVF_BUILD_ORACLE)
def sim_ivf_build_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT IVF coarse-quantizer training: two Lloyd iterations of
    k = 8 k-means over milli-quantized embeddings, fully deterministic
    (seed centroids = vec_id 0..7, argmin tiebroken by cell id,
    truncating integer centroid means, empty cells inherit), so the
    per-cell census after the final assignment — sizes + BIGINT
    inertia — hash-compares against a DuckDB replay of the identical
    unrolled recursion. Upgrades the IVF family's trainer from
    rows-only evidence (sim_ivf_kmeans_topk wraps seeded MLlib KMeans)
    to a bit-exact oracle.

    Plan shape at 100 TB: the exploded (vec, dim, qv) relation is
    computed once and cached; every assignment is a BROADCAST join of
    the k x d centroid table into it (n·d·k partial rows combined
    map-side by (vec, cell) before the argmin window, which partitions
    by vec_id — thousands of vectors per task, no funnel); centroid
    updates are (cell, dim)-keyed aggregates of k·d rows; the two
    rounds run through ``iterate``. This is the coarse-quantizer build that IVF-PQ
    (sim_ivf_pq) consumes."""
    emb = t(spark, sf_dir, "embeddings")
    q = cache_once(
        emb.select(
            "vec_id", F.posexplode("embedding").alias("dim", "e")
        ).select("vec_id", "dim", F.floor(F.col("e") * 1000).cast("bigint").alias("qv"))
    )
    cents = (
        q.filter(F.col("vec_id") < _IVF_K)
        .select(F.col("vec_id").alias("cell"), "dim", F.col("qv").alias("cv"))
        .localCheckpoint()
    )

    def assign(c: DataFrame) -> DataFrame:
        d2 = (F.col("qv") - F.col("cv")) * (F.col("qv") - F.col("cv"))
        dists = (
            q.join(F.broadcast(c), "dim")
            .groupBy("vec_id", "cell")
            .agg(F.sum(d2).cast("bigint").alias("dist"))
        )
        pick = Window.partitionBy("vec_id").orderBy("dist", "cell")
        return (
            dists.withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cell", "dist")
        )

    def update(prev: DataFrame, r: int) -> DataFrame:
        u = (
            assign(prev).join(q, "vec_id")
            .groupBy("cell", "dim")
            .agg(F.expr("CAST(SUM(qv) DIV COUNT(*) AS BIGINT)").alias("ucv"))
        )
        return prev.join(u, ["cell", "dim"], "left").select(
            "cell", "dim", F.coalesce("ucv", "cv").alias("cv")
        )

    final = assign(iterate(cents, update, 2)[-1])
    return (
        final.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("dist").cast("bigint").alias("inertia"),
        )
        .orderBy("cell")
    )


@register(
    "sim_coreset_sensitivity",
    f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id, i - 1 AS dim,
               CAST(FLOOR(embedding[i] * 1000) AS BIGINT) AS qv
        FROM embeddings, UNNEST(RANGE(1, {_IVF_D + 1})) AS r(i)
    ),
    c0 AS MATERIALIZED (
        SELECT vec_id AS cell, dim, qv AS cv FROM q WHERE vec_id < {_IVF_K}
    ),
    dmin AS (
        SELECT vec_id, CAST(MIN(dist) AS BIGINT) AS d_min FROM (
            SELECT q.vec_id, c.cell,
                   CAST(SUM((q.qv - c.cv) * (q.qv - c.cv)) AS BIGINT) AS dist
            FROM q JOIN c0 c USING (dim)
            GROUP BY q.vec_id, c.cell
        ) GROUP BY vec_id
    ),
    tot AS (
        SELECT CAST(SUM(d_min) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n
        FROM dmin
    )
    SELECT d.vec_id, e.label, d.d_min,
           CAST(1000000000 // t.n + d.d_min * 1000000000 // t.total AS BIGINT)
               AS sens_nano
    FROM dmin d CROSS JOIN tot t JOIN embeddings e USING (vec_id)
    ORDER BY sens_nano DESC, d.vec_id
    LIMIT 32
    """,
)
def sim_coreset_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitivity-sampling coreset weights (Bachem/Lucic/Krause
    lightweight-coreset form): each vector's importance is the uniform
    term 1/n plus its share d_min/Σd_min of squared distance to the
    nearest seed centroid — the distribution coreset construction and
    hard-example data pruning both sample from. Integer-exact: milli-
    quantized vectors, BIGINT squared distances, FLOOR-nano shares
    (d_min·1e9 peaks ~2.6e17, inside int64). Emits the 32 highest-
    sensitivity (hardest) examples with labels.

    Plan: the exploded (vec, dim, qv) relation joins the broadcast
    k x d seed-centroid table (same shape as sim_ivf_build_exact's
    assignment), per-vector min over k partials, 1-row totals rejoined
    by broadcast cross join. At 100 TB sensitivity scoring is one
    scan + one broadcast join — the cheap pre-pass that decides which
    0.1 % of the corpus deserves expensive curation."""
    emb = t(spark, sf_dir, "embeddings")
    q = cache_once(
        emb.select("vec_id", F.posexplode("embedding").alias("dim", "e")).select(
            "vec_id", "dim", F.floor(F.col("e") * 1000).cast("bigint").alias("qv")
        )
    )
    c0 = q.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cell"), "dim", F.col("qv").alias("cv")
    )
    d2 = (F.col("qv") - F.col("cv")) * (F.col("qv") - F.col("cv"))
    dmin = (
        q.join(F.broadcast(c0), "dim")
        .groupBy("vec_id", "cell")
        .agg(F.sum(d2).cast("bigint").alias("dist"))
        .groupBy("vec_id")
        .agg(F.min("dist").cast("bigint").alias("d_min"))
    )
    tot = dmin.agg(
        F.sum("d_min").cast("bigint").alias("total"), F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        dmin.crossJoin(F.broadcast(tot))
        .join(emb.select("vec_id", "label"), "vec_id")
        .select(
            "vec_id",
            "label",
            "d_min",
            F.expr(
                "CAST(1000000000 DIV n + d_min * 1000000000 DIV total AS BIGINT)"
            ).alias("sens_nano"),
        )
        .orderBy(F.col("sens_nano").desc(), "vec_id")
        .limit(32)
    )


_KNN_K = 5
_KNN_PROBES = 8  # vec_id < 8 are held out as probes


@register(
    "m51_knn_classifier",
    f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id, label, i - 1 AS dim,
               CAST(FLOOR(embedding[i] * 1000) AS BIGINT) AS qv
        FROM embeddings, UNNEST(RANGE(1, {_IVF_D + 1})) AS r(i)
    ),
    dists AS (
        SELECT p.vec_id AS probe_id, p.label AS true_label,
               g.vec_id AS nbr_id, g.label AS nbr_label,
               CAST(SUM((p.qv - g.qv) * (p.qv - g.qv)) AS BIGINT) AS dist
        FROM (SELECT * FROM q WHERE vec_id < {_KNN_PROBES}) p
        JOIN (SELECT * FROM q WHERE vec_id >= {_KNN_PROBES}) g USING (dim)
        GROUP BY 1, 2, 3, 4
    ),
    topk AS (
        SELECT * FROM (
            SELECT probe_id, true_label, nbr_id, nbr_label, dist,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY dist, nbr_id) AS rn
            FROM dists
        ) WHERE rn <= {_KNN_K}
    ),
    votes AS (
        SELECT probe_id, true_label, nbr_label,
               CAST(COUNT(*) AS BIGINT) AS n_votes,
               CAST(MIN(dist) AS BIGINT) AS closest_dist
        FROM topk GROUP BY 1, 2, 3
    )
    SELECT probe_id, true_label, nbr_label AS predicted_label,
           n_votes, closest_dist,
           nbr_label = true_label AS correct
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                   ORDER BY n_votes DESC, closest_dist, nbr_label) AS pick
        FROM votes
    ) WHERE pick = 1
    ORDER BY probe_id
    """,
)
def m51_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN classification (k = 5, squared-L2 on milli-quantized
    embeddings): the 8 held-out probe vectors are labeled by majority
    vote of their 5 nearest gallery neighbors, ties broken by closest
    distance then smallest label — fully deterministic BIGINT
    arithmetic end to end.

    Plan: the probe side is 8·d rows broadcast into the exploded
    gallery relation (one scan, dim-keyed equi-join, per-(probe,
    gallery) partial sums combined map-side); top-k and the vote are
    probe-partitioned windows. Exactly the brute-force shape
    sim_bruteforce_topk benches — at 100 TB the gallery side streams,
    the probe side stays O(probes·d), and the IVF/LSH families
    (sim_ivf_build_exact, sim_lsh_ann) provide the sub-linear
    candidate generation this exact classifier re-ranks."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "e")
    ).select("vec_id", "label", "dim", F.floor(F.col("e") * 1000).cast("bigint").alias("qv"))
    probes = q.filter(F.col("vec_id") < _KNN_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("true_label"),
        "dim",
        F.col("qv").alias("pv"),
    )
    gallery = q.filter(F.col("vec_id") >= _KNN_PROBES).select(
        F.col("vec_id").alias("nbr_id"), F.col("label").alias("nbr_label"), "dim", "qv"
    )
    d2 = (F.col("pv") - F.col("qv")) * (F.col("pv") - F.col("qv"))
    dists = (
        gallery.join(F.broadcast(probes), "dim")
        .groupBy("probe_id", "true_label", "nbr_id", "nbr_label")
        .agg(F.sum(d2).cast("bigint").alias("dist"))
    )
    topk = (
        dists.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("probe_id").orderBy("dist", "nbr_id")),
        )
        .filter(F.col("rn") <= _KNN_K)
    )
    votes = topk.groupBy("probe_id", "true_label", "nbr_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_votes"),
        F.min("dist").cast("bigint").alias("closest_dist"),
    )
    pick = Window.partitionBy("probe_id").orderBy(
        F.col("n_votes").desc(), "closest_dist", "nbr_label"
    )
    return (
        votes.withColumn("pick", F.row_number().over(pick))
        .filter(F.col("pick") == 1)
        .select(
            "probe_id",
            "true_label",
            F.col("nbr_label").alias("predicted_label"),
            "n_votes",
            "closest_dist",
            (F.col("nbr_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("probe_id")
    )


@register(
    "sim_mips_topk",
    """
    WITH p AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 1),
    qn AS (SELECT SQRT(LIST_DOT_PRODUCT(q::DOUBLE[], q::DOUBLE[])) AS qnorm FROM p),
    m AS (
        SELECT MAX(LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[])) AS m2
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(LIST_DOT_PRODUCT(embedding::DOUBLE[], p.q::DOUBLE[]), 6) AS ip,
           ROUND(LIST_DOT_PRODUCT(embedding::DOUBLE[], p.q::DOUBLE[])
                 / (qn.qnorm * SQRT(m.m2)), 6) AS aug_cosine,
           ROUND(m.m2 - LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[]), 4)
               AS aug_dim_sq
    FROM embeddings CROSS JOIN p CROSS JOIN qn CROSS JOIN m
    ORDER BY ip DESC, vec_id
    LIMIT 20
    """,
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-MIPS: maximum-inner-product search (the retrieval scoring mode
    of two-tower recommenders and dot-product-trained embedding
    models, where vector NORM carries signal and plain cosine is the
    WRONG metric) — exact top-20 by inner product for probe vec_id=1,
    emitted alongside the MIPS→cosine reduction's score: augment every
    corpus vector with sqrt(M² − ‖x‖²) (M = max corpus norm, a 1-row
    broadcast) and the augmented vectors all have norm M, so
    cos(q̃, x̃) = ip / (‖q‖·M) — ORDER-EQUIVALENT to the inner product
    (one shared positive divisor; IEEE division is monotone). That
    reduction is what lets every cosine-ANN structure in this module
    (hyperplane LSH, IVF, PQ) serve MIPS unchanged at 100 TB: bucket
    the AUGMENTED vectors, probe with [q, 0]. The emitted aug_dim_sq
    column is each vector's augmentation mass — the data a MIPS
    indexer would materialize. Cross-engine exactness is empirical
    fact, not hope: Spark's sequential zip_with/aggregate dot and
    DuckDB's LIST_DOT_PRODUCT are bit-identical on this corpus
    (verified to the raw double), so the rounded scores and the
    ordering cannot diverge.

    Plan: 1-row probe/norm/max broadcasts onto a single map-side pass
    + TakeOrderedAndProject — the corpus never shuffles (the
    sim_bruteforce_topk posture, one extra 1-row aggregate)."""
    e = t(spark, sf_dir, "embeddings")
    ad = lambda c: F.transform(c, lambda x: x.cast("double"))
    normsq = F.aggregate(ad(F.col("embedding")), F.lit(0.0), lambda a, x: a + x * x)
    probe = e.filter(F.col("vec_id") == 1).select(F.col("embedding").alias("q"))
    qn = probe.select(
        F.sqrt(F.aggregate(ad(F.col("q")), F.lit(0.0), lambda a, x: a + x * x)).alias(
            "qnorm"
        )
    )
    m2 = e.agg(F.max(normsq).alias("m2"))
    ip = F.aggregate(
        F.zip_with(ad(F.col("embedding")), ad(F.col("q")), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return (
        e.crossJoin(F.broadcast(probe))
        .crossJoin(F.broadcast(qn))
        .crossJoin(F.broadcast(m2))
        .select(
            "vec_id",
            F.round(ip, 6).alias("ip"),
            F.round(ip / (F.col("qnorm") * F.sqrt(F.col("m2"))), 6).alias("aug_cosine"),
            F.round(F.col("m2") - normsq, 4).alias("aug_dim_sq"),
        )
        .orderBy(F.col("ip").desc(), "vec_id")
        .limit(20)
    )
