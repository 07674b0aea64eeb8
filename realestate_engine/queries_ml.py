"""ML operator queries (SURVEY.md §2.9) exercised on the driver
testdata. Deterministic fits (fixed seeds, fixed splits) so reruns are
stable; SQL oracles where the operator's math is reproducible in SQL
(StringIndexer frequency ranks, Bucketizer splits, assembler dims),
rows-only otherwise (tree ensembles, CV)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.ml import Pipeline
from pyspark.ml.feature import Bucketizer, OneHotEncoder, StringIndexer, VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.ml.regression import LinearRegression, RandomForestRegressor

from realestate_engine.ordered import distributed_prefix_sum
from realestate_engine.registry import cache_once, register, t
from realestate_engine.train import SEED


def _orders_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic numeric features + log label on orders."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.log("o_totalprice").alias("log_price"),
        (F.col("o_custkey") % 100).cast("double").alias("f_cust"),
        F.dayofmonth("o_orderdate").cast("double").alias("f_dom"),
        F.month("o_orderdate").cast("double").alias("f_month"),
    )


@register(
    "m1_string_indexer",
    """
    WITH freq AS (
        SELECT c_mktsegment, COUNT(*) AS cnt FROM customer GROUP BY c_mktsegment
    ),
    idx AS (
        SELECT c_mktsegment,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, c_mktsegment) - 1 AS DOUBLE) AS segment_indexed
        FROM freq
    )
    SELECT c.c_custkey, c.c_mktsegment, i.segment_indexed
    FROM customer c JOIN idx i USING (c_mktsegment)
    """,
)
def m1_string_indexer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: frequency-ordered label encoding (ties alphabetical — Spark's
    documented frequencyDesc order), oracle-reproduced as a rank.
    Reference: src/features/feature_engineering.py:226-234."""
    c = t(spark, sf_dir, "customer")
    model = StringIndexer(inputCol="c_mktsegment", outputCol="segment_indexed", handleInvalid="error").fit(c)
    return model.transform(c).select("c_custkey", "c_mktsegment", "segment_indexed")


@register(
    "m2_onehot_encoder",
    """
    WITH freq AS (
        SELECT c_mktsegment, COUNT(*) AS cnt FROM customer GROUP BY c_mktsegment
    ),
    idx AS (
        SELECT c_mktsegment,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, c_mktsegment) - 1 AS DOUBLE) AS segment_indexed,
               COUNT(*) OVER () AS n_categories
        FROM freq
    )
    SELECT c.c_custkey,
           CAST(i.n_categories - 1 AS INTEGER) AS encoded_dim,
           CAST(CASE WHEN i.segment_indexed < i.n_categories - 1 THEN 1 ELSE 0 END AS DOUBLE) AS is_hot
    FROM customer c JOIN idx i USING (c_mktsegment)
    """,
)
def m2_onehot_encoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: one-hot with dropLast=True — vector dim = n_categories - 1 and
    the last index encodes to all-zeros. Oracle reproduces dim + hotness.
    Reference: src/features/feature_engineering.py:236-243."""
    c = t(spark, sf_dir, "customer")
    pipe = Pipeline(
        stages=[
            StringIndexer(inputCol="c_mktsegment", outputCol="segment_indexed", handleInvalid="error"),
            OneHotEncoder(inputCols=["segment_indexed"], outputCols=["segment_encoded"], dropLast=True),
        ]
    ).fit(c)
    enc = pipe.transform(c).withColumn("enc_arr", vector_to_array("segment_encoded"))
    return enc.select(
        "c_custkey",
        F.size("enc_arr").alias("encoded_dim"),
        F.aggregate("enc_arr", F.lit(0.0), lambda a, x: a + x).alias("is_hot"),
    )


@register(
    "m3_vector_assembler",
    """
    SELECT o_orderkey, CAST(3 AS INTEGER) AS n_features,
           ROUND(CAST(o_custkey % 100 AS DOUBLE) + DAYOFMONTH(o_orderdate) + MONTH(o_orderdate), 2) AS feature_sum
    FROM orders
    """,
)
def m3_vector_assembler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: assembled vector has the declared arity and carries the input
    values (checked via the vector's element sum). Reference:
    src/features/feature_engineering.py:245-262."""
    feats = _orders_features(spark, sf_dir)
    asm = VectorAssembler(inputCols=["f_cust", "f_dom", "f_month"], outputCol="features", handleInvalid="keep")
    out = asm.transform(feats).withColumn("farr", vector_to_array("features"))
    return out.select(
        "o_orderkey",
        F.size("farr").alias("n_features"),
        F.round(F.aggregate("farr", F.lit(0.0), lambda a, x: a + x), 2).alias("feature_sum"),
    )


@register("m4_pipeline_fit_transform", "SELECT COUNT(*) AS n_rows FROM customer")
def m4_pipeline_fit_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: multi-stage Pipeline fit+transform preserves row count (the
    invariant the reference checked manually, notebooks/02:58-59)."""
    c = t(spark, sf_dir, "customer")
    pipe = Pipeline(
        stages=[
            StringIndexer(inputCol="c_mktsegment", outputCol="seg_idx", handleInvalid="skip"),
            OneHotEncoder(inputCols=["seg_idx"], outputCols=["seg_enc"], dropLast=True),
            VectorAssembler(inputCols=["c_acctbal", "seg_enc"], outputCol="features", handleInvalid="keep"),
        ]
    ).fit(c)
    return pipe.transform(c).agg(F.count(F.lit(1)).alias("n_rows"))


@register(
    "m5_bucketizer",
    """
    SELECT o_orderkey,
           CAST(CASE WHEN o_totalprice < 100000 THEN 0
                     WHEN o_totalprice < 300000 THEN 1
                     ELSE 2 END AS DOUBLE) AS price_bucket
    FROM orders
    """,
)
def m5_bucketizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: Bucketizer over fixed splits (reference used fitted p01/p99,
    notebooks/04_model_improvement.py:78-90)."""
    o = t(spark, sf_dir, "orders")
    buck = Bucketizer(
        splits=[float("-inf"), 100000.0, 300000.0, float("inf")],
        inputCol="o_totalprice",
        outputCol="price_bucket",
    )
    return buck.transform(o).select("o_orderkey", "price_bucket")


@register("m9_rf_train_predict")  # tree ensemble → rows-only (per-month breakdown)
def m9_rf_train_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9: RandomForest on log_price (B1 FIX: the label is log-space;
    the reference trained on raw price then exp'd it,
    src/models/train.py:90). Returns a per-order-month breakdown
    (12 rows) so the rows-only driver entry binds the seeded model's
    actual predictions, not just "it ran" (VERDICT r11 #3): the mean is
    an order-free integer reduction (sum of FLOOR(pred*1e3) over BIGINT,
    then integer division) so reruns and repartitionings cannot drift
    it; min/max are exact set reductions of the same milli grid."""
    feats = _orders_features(spark, sf_dir)
    asm = VectorAssembler(inputCols=["f_cust", "f_dom", "f_month"], outputCol="features")
    train = asm.transform(feats)
    model = RandomForestRegressor(
        featuresCol="features", labelCol="log_price", numTrees=10, maxDepth=4, seed=SEED
    ).fit(train)
    preds = model.transform(train).select(
        F.col("f_month").cast("int").alias("order_month"),
        F.floor(F.col("prediction") * 1e3).cast("long").alias("pred_milli"),
        F.when(F.isnan("prediction") | F.col("prediction").isNull(), 1).otherwise(0).alias("bad"),
    )
    return (
        preds.groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_predictions"),
            F.sum("bad").cast("long").alias("n_bad"),
            F.expr("sum(pred_milli) DIV count(1)").alias("mean_pred_milli"),
            F.min("pred_milli").alias("min_pred_milli"),
            F.max("pred_milli").alias("max_pred_milli"),
        )
        .orderBy("order_month")
    )


@register("m10_cross_validator")  # CV → rows-only (deterministic w/ seed)
def m10_cross_validator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10: CrossValidator + ParamGrid over LinearRegression (reference
    grids: src/models/train.py:242-246), seeded and parallel."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    feats = _orders_features(spark, sf_dir)
    asm = VectorAssembler(inputCols=["f_cust", "f_dom", "f_month"], outputCol="features")
    train = asm.transform(feats)
    lr = LinearRegression(featuresCol="features", labelCol="log_price")
    grid = ParamGridBuilder().addGrid(lr.regParam, [0.1, 1.0]).addGrid(lr.elasticNetParam, [0.0, 1.0]).build()
    cv = CrossValidator(
        estimator=lr,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(labelCol="log_price", metricName="rmse"),
        numFolds=3,
        seed=SEED,
        parallelism=4,
    ).fit(train)
    best = cv.bestModel
    # per-grid-point breakdown (the m9/m13 discriminating-rows
    # pattern, round 12): one row per ParamMap with its CV-mean rmse
    # (FLOOR-milli so the pinned values are exact integers) and the
    # winner flagged — binds the whole CV metric landscape, not just
    # the argmin, so a silently mis-evaluating CV cannot stay green.
    n_train = int(train.count())
    rows = [
        (
            float(pm[lr.regParam]),
            float(pm[lr.elasticNetParam]),
            int(metric * 1e3),
            pm[lr.regParam] == best.getRegParam()
            and pm[lr.elasticNetParam] == best.getElasticNetParam(),
            n_train,
        )
        for pm, metric in zip(cv.getEstimatorParamMaps(), cv.avgMetrics)
    ]
    return spark.createDataFrame(
        rows,
        "reg_param double, elastic_net double, cv_rmse_milli long, is_best boolean, n_train int",
    ).orderBy("reg_param", "elastic_net")


@register("m12_feature_importances")  # rows-only (seeded RF is deterministic)
def m12_feature_importances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12: featureImportances report (reference:
    notebooks/03_model_training.py:187-215)."""
    feats = _orders_features(spark, sf_dir)
    asm = VectorAssembler(inputCols=["f_cust", "f_dom", "f_month"], outputCol="features")
    train = asm.transform(feats)
    model = RandomForestRegressor(
        featuresCol="features", labelCol="log_price", numTrees=10, maxDepth=4, seed=SEED
    ).fit(train)
    imps = list(model.featureImportances.toArray())
    names = ["f_cust", "f_dom", "f_month"]
    return spark.createDataFrame(
        [(n, round(float(v), 6)) for n, v in zip(names, imps)], "feature string, importance double"
    ).orderBy(F.col("importance").desc(), "feature")


@register("m13_batch_predict")  # rows-only (per-month breakdown)
def m13_batch_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13: end-to-end predict composition — assemble → model.transform →
    smearing inverse → (id, price) (reference: src/inference/predict.py:14-26),
    trained on log_price and inverted once (B1 fix). Returns a
    per-order-month breakdown (12 rows, VERDICT r11 #3) so the driver's
    rows-only entry binds the composed pipeline's dollar-space output:
    per-month mean predicted price in whole cents via the order-free
    FLOOR-then-integer-divide reduction, plus the validity sentinel."""
    feats = _orders_features(spark, sf_dir)
    asm = VectorAssembler(inputCols=["f_cust", "f_dom", "f_month"], outputCol="features")
    train = asm.transform(feats)
    model = LinearRegression(featuresCol="features", labelCol="log_price").fit(train)
    preds = model.transform(train)
    stats = train.agg(F.stddev_samp("log_price").alias("log_std"))
    out = preds.crossJoin(F.broadcast(stats)).select(
        F.col("f_month").cast("int").alias("order_month"),
        (F.exp(F.col("prediction")) * F.exp(F.pow("log_std", F.lit(2)) / 2)).alias("predicted_price"),
    )
    scored = out.select(
        "order_month",
        F.floor(F.col("predicted_price") * 100).cast("long").alias("pred_cents"),
        F.when(F.isnan("predicted_price") | (F.col("predicted_price") <= 0), 1).otherwise(0).alias("invalid"),
    )
    return (
        scored.groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_predictions"),
            F.sum("invalid").cast("long").alias("n_invalid"),
            F.expr("sum(pred_cents) DIV count(1)").alias("mean_pred_cents"),
            F.min("pred_cents").alias("min_pred_cents"),
            F.max("pred_cents").alias("max_pred_cents"),
        )
        .orderBy("order_month")
    )


@register("m14_multiclass_classification")  # iterative fit → rows-only (seeded; invariants inside)
def m14_multiclass_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14: multiclass LogisticRegression over the embeddings table
    (10 cluster labels, 64-dim features) — the classification
    counterpart of the M9-M11 regression stack, and the label-quality
    audit step of an embedding pipeline (a near-random accuracy means
    the embedding space lost the cluster structure). Distributed
    softmax fit; returns accuracy + coverage invariants, rows-only
    (L-BFGS iterations are not SQL-expressible)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    e = t(spark, sf_dir, "embeddings").select(
        array_to_vector(F.col("embedding")).alias("features"),
        F.col("label").cast("double").alias("label"),
    )
    model = LogisticRegression(maxIter=25, regParam=0.01, tol=1e-6).fit(e)
    preds = model.transform(e)
    # per-class breakdown (the m9/m13 discriminating-rows pattern,
    # round 12): 10 rows of integer counts bind the softmax fit's
    # per-class behavior — support, recall numerator, and how often
    # the class is predicted — instead of one global accuracy row.
    # FULL outer join (ADVICE r12): a left join keyed on true-label
    # groups would silently drop predictions for a class value absent
    # from the true labels, breaking sum(n_predicted_as) == n. LR can't
    # predict outside its trained label set today, but the accounting
    # invariant should be structural, not incidental.
    return (
        preds.groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("prediction") == F.col("label"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .join(
            preds.groupBy(F.col("prediction").cast("int").alias("label")).agg(
                F.count(F.lit(1)).alias("n_predicted_as")
            ),
            "label",
            "full",
        )
        .select(
            "label",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("n_correct", F.lit(0)).alias("n_correct"),
            F.coalesce("n_predicted_as", F.lit(0)).alias("n_predicted_as"),
        )
        .orderBy("label")
    )


@register(
    "m15_text_featurization",
    r"""
    WITH toks AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+'),
                           x -> LEN(x) > 0) AS tk
        FROM documents
    ),
    doc_terms AS (
        SELECT doc_id, UNNEST(LIST_DISTINCT(tk)) AS term FROM toks
    ),
    df AS (
        SELECT term, COUNT(*) AS df FROM doc_terms GROUP BY term
    ),
    vocab AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v FROM df
    ),
    ndocs AS (
        SELECT COUNT(*) AS n FROM documents
    ),
    nnz AS (
        SELECT dt.doc_id, CAST(COUNT(*) AS BIGINT) AS nnz
        FROM doc_terms dt JOIN df USING (term), ndocs
        WHERE df.df < ndocs.n
        GROUP BY dt.doc_id
    )
    SELECT t.doc_id,
           vocab.v AS vocab_size,
           vocab.v AS dim,
           COALESCE(nnz.nnz, 0) AS nnz,
           CAST(LEN(t.tk) AS BIGINT) AS n_tokens,
           TRUE AS norm_ok
    FROM toks t
    CROSS JOIN vocab
    LEFT JOIN nnz ON nnz.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
)
def m15_text_featurization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15: the MLlib text-featurization pipeline — RegexTokenizer →
    CountVectorizer (corpus-fit vocabulary) → IDF (log((n+1)/(df+1))
    down-weighting) → Normalizer (L2) — the classic sparse-vector
    text representation (the distributed counterpart of the manual
    oracle-checked TF-IDF in text.py:103). The fitted vocabulary ORDER
    is count-tie-arbitrary, so raw scores can't hash-compare; instead
    the driver-checked row carries the deterministic consequences of a
    correct fit — vocab size == corpus distinct tokens, vector dim ==
    vocab size, per-doc nnz == distinct tokens whose df < n_docs (an
    everywhere-token gets idf 0 and drops out), token count, and the
    L2-norm==1 invariant as a boolean the oracle states TRUE."""
    from pyspark.ml import Pipeline as MLPipeline
    from pyspark.ml.feature import CountVectorizer, IDF, Normalizer, RegexTokenizer

    docs = t(spark, sf_dir, "documents").select("doc_id", F.lower(F.trim("text")).alias("text"))
    pipe = MLPipeline(
        stages=[
            # \s+ with minTokenLength=1 (default) == the oracle's
            # split+filter; the simple Tokenizer splits on single \s,
            # which manufactures empty tokens on doubled whitespace
            RegexTokenizer(inputCol="text", outputCol="tokens", pattern=r"\s+"),
            CountVectorizer(inputCol="tokens", outputCol="tf", minDF=1.0, vocabSize=1 << 20),
            IDF(inputCol="tf", outputCol="tfidf"),
            Normalizer(inputCol="tfidf", outputCol="features", p=2.0),
        ]
    )
    fitted = pipe.fit(docs)
    vocab_size = len(fitted.stages[1].vocabulary)
    out = fitted.transform(docs)
    arr = vector_to_array(F.col("features"))
    nnz = F.aggregate(
        arr, F.lit(0).cast("bigint"), lambda acc, v: acc + F.when(v != 0.0, 1).otherwise(0)
    )
    sq_norm = F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v * v)
    return out.select(
        "doc_id",
        F.lit(vocab_size).cast("bigint").alias("vocab_size"),
        F.size(arr).cast("bigint").alias("dim"),
        nnz.alias("nnz"),
        F.size("tokens").cast("bigint").alias("n_tokens"),
        ((nnz == 0) | (F.abs(sq_norm - 1.0) < 1e-9)).alias("norm_ok"),
    ).orderBy("doc_id")


def als_ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The customer-part purchase matrix as explicit ALS ratings:
    (user = o_custkey, item = l_partkey, rating = summed order
    quantity as float), int ids as MLlib's ALS requires. Read by
    m16_als_recommend and m20_als_recall_eval."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.sum("l_quantity").cast("float").alias("rating"))
    )


@register("m16_als_recommend")  # iterative factorization → rows-only (invariants in tests)
def m16_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M16: ALS collaborative filtering over the customer-part purchase
    matrix (ratings = summed order quantity) — the canonical Spark
    iterative-ML workload (block-partitioned alternating least squares;
    each iteration is a pair of distributed solves, the factor blocks
    co-partitioned with the rating blocks). Returns top-3 part
    recommendations per customer for the 20 lowest customer keys.
    Seeded and rank-16; rows-only (float factor math is
    iteration-order dependent, not SQL-expressible)."""
    from pyspark.ml.recommendation import ALS

    ratings = als_ratings(spark, sf_dir)
    als = ALS(
        rank=16, maxIter=5, regParam=0.1, seed=SEED,
        userCol="user", itemCol="item", ratingCol="rating",
        coldStartStrategy="drop", implicitPrefs=False,
    )
    model = als.fit(ratings)
    users = ratings.select("user").distinct().orderBy("user").limit(20)
    recs = model.recommendForUserSubset(users, 3)
    return recs.select(
        "user",
        F.posexplode("recommendations").alias("rank0", "rec"),
    ).select(
        F.col("user").cast("bigint").alias("user"),
        (F.col("rank0") + 1).cast("bigint").alias("rec_rank"),
        F.col("rec.item").cast("bigint").alias("item"),
        F.col("rec.rating").cast("double").alias("score"),
    ).orderBy("user", "rec_rank")


@register(
    "m17_isotonic_calibration",
    # UPGRADED from rows-only (round 11, the r9 m19/m22 pattern): the
    # L2 isotonic fit is the UNIQUE minimizer, so MLlib's parallel PAV
    # and the max-min closed form (fitted value at x_i =
    # max_{j<=i} min_{k>=i} weighted-mean(y over bins j..k), the same
    # identity m52 uses) land on identical block means. Interval means
    # are ordered through an exact HUGEINT key total_cents*1e15 // n
    # (distinct rationals with denominators <= D differ by > 1/D^2, so
    # the floored key is injective while interval weights stay below
    # sqrt(1e15) ~ 3.1e7 rows — covering sf1's ~6M-row lineitem with
    # 5x headroom, vs the old 1e12 key's 6e5 bound that only covered
    # the shipped SFs (ADVICE r11); totals * 1e15 stay ~1e29 << the
    # HUGEINT range — DuckDB-side only, Spark never computes the key);
    # the published value is the
    # cent floor, where MLlib's double block mean (abs error ~1e-9
    # cents) and the exact rational agree unless a block mean is
    # within 1e-9 of an integer cent — certified empirically bit-equal
    # at sf0.001/0.01/0.1.
    """
    WITH pts AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    binstats AS (
        SELECT q, CAST(SUM(cents) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM pts GROUP BY q
    ),
    intervals AS (
        SELECT j.q AS jq, k.q AS kq,
               CAST(SUM(m.s) AS HUGEINT) * 1000000000000000
                   // CAST(SUM(m.n) AS HUGEINT) AS skey
        FROM binstats j
        JOIN binstats k ON k.q >= j.q
        JOIN binstats m ON m.q BETWEEN j.q AND k.q
        GROUP BY j.q, k.q
    ),
    inner_min AS (
        SELECT b.q, i.jq, MIN(i.skey) AS min_skey
        FROM binstats b JOIN intervals i ON i.jq <= b.q AND i.kq >= b.q
        GROUP BY b.q, i.jq
    ),
    iso AS (SELECT q, MAX(min_skey) AS iso_skey FROM inner_min GROUP BY q)
    SELECT CAST(q AS BIGINT) AS quantity,
           CAST(iso_skey // 1000000000000000 AS BIGINT) AS iso_cents
    FROM iso ORDER BY quantity
    """,
)
def m17_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M17: isotonic regression (distributed pool-adjacent-violators)
    fitting the monotone map quantity -> expected line price; the
    calibration primitive for turning raw model scores into monotone
    probabilities (score calibration is its main production use).
    Spark parallelizes PAV per-partition then merges boundary
    violations (reference parity: the MLlib fit itself is the
    evidence). Returns the fitted step function on the distinct
    quantity grid, cent-floored — full-oracle since round 11: the
    isotonic solution is unique, so DuckDB's max-min closed form over
    the 50-bin census reproduces MLlib's block means exactly (see the
    oracle comment for the precision argument). Scale shape: one scan
    -> 50-row per-quantity census; MLlib's PAV state is
    partition-local + a boundary merge, never an all-rows collect."""
    from pyspark.ml.feature import VectorAssembler as VA
    from pyspark.ml.regression import IsotonicRegression

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    data = VA(inputCols=["x"], outputCol="features").transform(li)
    model = IsotonicRegression(featuresCol="features", labelCol="y", isotonic=True).fit(data)
    grid = data.select("x", "features").distinct()
    return (
        model.transform(grid)
        .select(
            F.col("x").cast("bigint").alias("quantity"),
            F.floor(F.col("prediction") * 100).cast("bigint").alias("iso_cents"),
        )
        .orderBy("quantity")
    )


@register(
    "m18_negative_sampling",
    """
    WITH pos AS (
        SELECT DISTINCT o_custkey AS user, l_partkey AS item
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    np AS (SELECT COUNT(*) AS n_items FROM part),
    cand AS (
        SELECT p.user, k.k,
               (p.user * 131 + p.item * 17 + k.k * 9973) % np.n_items AS neg_item
        FROM pos p
        CROSS JOIN np
        CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) k
    ),
    neg AS (
        SELECT c.user, c.k, c.neg_item
        FROM cand c
        ANTI JOIN pos ON pos.user = c.user AND pos.item = c.neg_item
    )
    SELECT user, CAST(k AS BIGINT) AS k, CAST(neg_item AS BIGINT) AS neg_item
    FROM neg WHERE user < 20
    ORDER BY user, k, neg_item
    """,
)
def m18_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M18: deterministic negative sampling — for every observed
    (user, item) interaction, derive K=4 pseudo-random negative items
    by integer hashing and ANTI-JOIN away accidental positives: the
    training-pair generator for contrastive/implicit-feedback models
    (BPR, two-tower retrieval). Hash-based (not rand()) so the sample
    is reproducible across engines, reruns, and partitionings — the
    same property as p13's hash split. The anti-join is the scalable
    filter: hash-partitioned on the user key, never a broadcast of the
    interaction table. Output windowed to user < 20 for a bounded
    check."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pos = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item"))
        .distinct()
    )
    np_ = t(spark, sf_dir, "part").agg(F.count(F.lit(1)).alias("n_items"))
    ks = spark.range(4).select(F.col("id").alias("k"))
    cand = (
        pos.crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(ks))
        .select(
            "user",
            "k",
            ((F.col("user") * 131 + F.col("item") * 17 + F.col("k") * 9973) % F.col("n_items")).alias(
                "neg_item"
            ),
        )
    )
    neg = cand.join(
        pos.select("user", F.col("item").alias("neg_item")),
        ["user", "neg_item"],
        "left_anti",
    )
    return (
        neg.where(F.col("user") < 20)
        .select("user", "k", F.col("neg_item").cast("bigint").alias("neg_item"))
        .orderBy("user", "k", "neg_item")
    )


@register(
    "m19_fpgrowth_baskets",
    # UPGRADED from rows-only (round 9): FP-Growth's freqItemsets are
    # DETERMINISTIC given data (no seed), so the oracle enumerates
    # frequent itemsets exhaustively to size 3 with plain self-joins.
    # Anti-monotonicity makes the truncation safe: a size-4 itemset
    # can only be frequent if some size-3 one is, and the pytest pins
    # that no 3-itemset reaches minSupport at any tested SF. The
    # threshold replicates MLlib's minCount = ceil(minSupport *
    # numBaskets) with the identical double expression.
    """
    WITH items AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM items),
    f1 AS (
        SELECT CAST(p AS VARCHAR) AS itemset, CAST(COUNT(*) AS BIGINT) AS support
        FROM items GROUP BY p
        HAVING COUNT(*) >= CEIL((SELECT n_orders FROM n) * 0.002)
    ),
    f2 AS (
        SELECT CAST(a.p AS VARCHAR) || ',' || CAST(b.p AS VARCHAR) AS itemset,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
        HAVING COUNT(*) >= CEIL((SELECT n_orders FROM n) * 0.002)
    ),
    f3 AS (
        SELECT CAST(a.p AS VARCHAR) || ',' || CAST(b.p AS VARCHAR)
                   || ',' || CAST(c.p AS VARCHAR) AS itemset,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        JOIN items c ON b.o = c.o AND b.p < c.p
        GROUP BY a.p, b.p, c.p
        HAVING COUNT(*) >= CEIL((SELECT n_orders FROM n) * 0.002)
    )
    SELECT itemset, support FROM (
        SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3
    ) ORDER BY support DESC, itemset LIMIT 100
    """,
)
def m19_fpgrowth_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M19: frequent-itemset mining with FP-Growth over order baskets
    (basket = the set of parts on one order) — market-basket analysis,
    the classic retail co-purchase workload and a distinct algorithm
    class (conditional FP-tree recursion, parallelized per suffix
    by MLlib). Returns frequent itemsets with exact support counts,
    sorted for determinism. Oracle-checked since round 9: the output
    is seed-free, so a bounded exhaustive enumeration (sizes 1-3 via
    self-joins; anti-monotonicity + the pytest pin that no 3-itemset
    is frequent make the truncation provably complete) reproduces
    FP-Growth's itemsets and supports exactly, including MLlib's
    ceil(minSupport · numBaskets) threshold double."""
    from pyspark.ml.fpm import FPGrowth

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    model = FPGrowth(itemsCol="items", minSupport=0.002, minConfidence=0.1).fit(baskets)
    return (
        model.freqItemsets.select(
            # serialize the itemset to a comma-joined string: array
            # result columns break the driver's rows-only compare
            F.array_join(
                F.transform(F.array_sort(F.col("items")), lambda x: x.cast("string")), ","
            ).alias("itemset"),
            F.col("freq").cast("bigint").alias("support"),
        )
        .orderBy(F.desc("support"), F.col("itemset"))
        .limit(100)
    )


@register("m20_als_recall_eval")  # iterative factorization + eval → rows-only (bounds tested)
def m20_als_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M20: offline recommender evaluation — leave-one-out hit@10.
    Each user's single top-quantity item (ties -> smallest item id, so
    the holdout is deterministic) is withheld; ALS trains on the rest;
    a user scores a hit if the held-out item appears in their top-10
    recommendations. This closes the recsys loop (m16 trains, m20
    measures) with the metric that actually gates deployment. The
    holdout split is a window row_number (one shuffle); the eval is an
    array_contains over recommendForUserSubset output. Rows-only:
    factor math is iteration-order dependent; tests bound the metric
    to [0,1] and check the holdout accounting."""
    from pyspark.ml.recommendation import ALS
    from pyspark.sql import Window

    ratings = als_ratings(spark, sf_dir)
    w = Window.partitionBy("user").orderBy(F.desc("rating"), "item")
    ranked = ratings.withColumn("rn", F.row_number().over(w))
    holdout = ranked.where(F.col("rn") == 1).select("user", F.col("item").alias("held_item"))
    train = ranked.where(F.col("rn") > 1).drop("rn")
    als = ALS(
        rank=8, maxIter=3, regParam=0.1, seed=SEED,
        userCol="user", itemCol="item", ratingCol="rating",
        coldStartStrategy="drop", implicitPrefs=False,
    )
    model = als.fit(train)
    users = train.select("user").distinct()
    recs = model.recommendForUserSubset(users, 10).select(
        "user", F.transform("recommendations", lambda r: r["item"]).alias("rec_items")
    )
    joined = holdout.join(recs, "user").select(
        "user", F.array_contains("rec_items", F.col("held_item")).alias("hit")
    )
    # per-activity-bucket breakdown (the m9/m13 discriminating-rows
    # pattern, round 12): recall stratified by each user's training
    # interaction count — the accounting a real offline eval reports
    # (cold users recall worse), and several integer rows instead of
    # one global ratio. Bucket = capped training-item count.
    activity = train.groupBy("user").agg(
        F.least(F.count(F.lit(1)), F.lit(8)).cast("int").alias("train_items_capped")
    )
    return (
        joined.join(activity, "user")
        .groupBy("train_items_capped")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("bigint").alias("n_hits"),
        )
        .orderBy("train_items_capped")
    )


# --- M21 oracle: 3-parameter Poisson Newton scoring, unrolled --------
#
# UPGRADED from rows-only (round 11, VERDICT r10 #7, the m19/m22
# pattern): the Poisson log-likelihood is strictly concave, so the MLE
# is unique; MLlib's IRLS (tol=1e-12) and DuckDB's unrolled Newton
# both converge to it within ~1e-13 relative, and the deviance agrees
# even tighter (its gradient vanishes at the MLE, so the difference is
# second-order, ~1e-11 observed). The published values are
# micro-floors, safe unless the MLE sits within ~1e-12 of a 1e-6 grid
# point — certified empirically bit-equal at sf0.001/0.01/0.1.
# Unlike m50 (its 2-feature integer-exact sibling) this oracle runs in
# plain doubles: it only has to agree to the micro grid, not bit-wise
# per-iteration, which is what lets it track MLlib's own double IRLS.

_M21_STEP = """
    s{i} AS (
        SELECT ANY_VALUE(b0) AS b0, ANY_VALUE(b1) AS b1, ANY_VALUE(b2) AS b2,
               SUM(y - mu) AS g0, SUM(x1 * (y - mu)) AS g1, SUM(x2 * (y - mu)) AS g2,
               SUM(mu) AS h00, SUM(x1 * mu) AS h01, SUM(x2 * mu) AS h02,
               SUM(x1 * x1 * mu) AS h11, SUM(x1 * x2 * mu) AS h12,
               SUM(x2 * x2 * mu) AS h22
        FROM (SELECT f.y, f.x1, f.x2, b.b0, b.b1, b.b2,
                     EXP(b.b0 + b.b1 * f.x1 + b.b2 * f.x2) AS mu
              FROM feats f CROSS JOIN p{i} b)
        GROUP BY ALL
    ),
    p{j} AS (
        SELECT
          b0 + ((h11*h22 - h12*h12) * g0 + (h02*h12 - h01*h22) * g1
                + (h01*h12 - h02*h11) * g2)
               / (h00*(h11*h22 - h12*h12) - h01*(h01*h22 - h12*h02)
                  + h02*(h01*h12 - h11*h02)) AS b0,
          b1 + ((h02*h12 - h01*h22) * g0 + (h00*h22 - h02*h02) * g1
                + (h01*h02 - h00*h12) * g2)
               / (h00*(h11*h22 - h12*h12) - h01*(h01*h22 - h12*h02)
                  + h02*(h01*h12 - h11*h02)) AS b1,
          b2 + ((h01*h12 - h02*h11) * g0 + (h01*h02 - h00*h12) * g1
                + (h00*h11 - h01*h01) * g2)
               / (h00*(h11*h22 - h12*h12) - h01*(h01*h22 - h12*h02)
                  + h02*(h01*h12 - h11*h02)) AS b2
        FROM s{i}
    )"""

_M21_ROUNDS = 14

_M21_ORACLE = f"""
    WITH feats AS MATERIALIZED (
        SELECT CAST(c.y AS DOUBLE) AS y, o.o_totalprice / 100000.0 AS x1,
               CAST(MONTH(o.o_orderdate) AS DOUBLE) / 12.0 AS x2
        FROM orders o
        JOIN (SELECT l_orderkey, COUNT(*) AS y FROM lineitem GROUP BY l_orderkey) c
          ON c.l_orderkey = o.o_orderkey
        WHERE o.o_totalprice IS NOT NULL AND o.o_orderdate IS NOT NULL
    ),
    p0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2),
    {",".join(_M21_STEP.format(i=i, j=i + 1) for i in range(_M21_ROUNDS))},
    fit AS (
        SELECT b0 AS intercept, b1 AS f_price, b2 AS f_month FROM p{_M21_ROUNDS}
    ),
    dev AS (
        SELECT 2.0 * SUM(y * LN(y / mu) - (y - mu)) AS deviance,
               CAST(COUNT(*) - 3 AS BIGINT) AS dof
        FROM (SELECT f.y, EXP(b.intercept + b.f_price * f.x1 + b.f_month * f.x2) AS mu
              FROM feats f CROSS JOIN fit b)
    )
    SELECT u.term, CAST(FLOOR(u.estimate * 1000000) AS BIGINT) AS est_micro,
           CAST(FLOOR(d.deviance * 1000000) AS BIGINT) AS deviance_micro, d.dof
    FROM (
        SELECT 'intercept' AS term, intercept AS estimate FROM fit
        UNION ALL SELECT 'f_price', f_price FROM fit
        UNION ALL SELECT 'f_month', f_month FROM fit
    ) u CROSS JOIN dev d
    ORDER BY term
"""


@register("m21_glm_poisson", _M21_ORACLE)
def m21_glm_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M21: generalized linear model, Poisson family with log link —
    count-target regression (items per order), the right likelihood
    where squared loss is wrong: variance scales with the mean and
    predictions must be positive. MLlib fits via distributed IRLS
    (each iteration one weighted least-squares solve over the
    cluster). Returns micro-floored per-coefficient estimates plus
    training deviance and residual dof — full-oracle since round 11:
    the Poisson MLE is unique (strictly concave likelihood), so
    DuckDB's unrolled Newton scoring reproduces IRLS's converged
    coefficients to ~1e-13, far inside the published micro grid (see
    _M21_ORACLE's precision comment)."""
    from pyspark.ml.feature import VectorAssembler as VA
    from pyspark.ml.regression import GeneralizedLinearRegression

    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderdate").where(
        F.col("o_totalprice").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    counts = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("double").alias("n_items"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "n_items",
            (F.col("o_totalprice") / 100000.0).alias("f_price"),
            (F.month("o_orderdate").cast("double") / 12.0).alias("f_month"),
        )
    )
    data = VA(inputCols=["f_price", "f_month"], outputCol="features").transform(counts)
    glm = GeneralizedLinearRegression(
        family="poisson", link="log", labelCol="n_items",
        maxIter=50, regParam=0.0, tol=1e-12,
    )
    model = glm.fit(data)
    names = ["intercept", "f_price", "f_month"]
    coefs = [float(model.intercept)] + [float(c) for c in model.coefficients]
    summary = model.summary
    import math

    rows = [
        (n, math.floor(c * 1000000), math.floor(float(summary.deviance) * 1000000),
         int(summary.degreesOfFreedom))
        for n, c in zip(names, coefs)
    ]
    return spark.createDataFrame(
        rows, "term string, est_micro long, deviance_micro long, dof long"
    ).orderBy("term")


@register(
    "m22_prefixspan_sequences",
    # UPGRADED from rows-only (round 9): PrefixSpan's patterns are
    # DETERMINISTIC given data (no seed) and the input itemsets are
    # singletons with maxPatternLength=3, so the pattern universe is
    # the <=3-type cross product (155 candidates) and support is a
    # greedy subsequence-containment check per (pattern, user) — the
    # standard first-match walk, exact for containment. Threshold
    # replicates MLlib's ceil(minSupport * n_sequences) double.
    """
    WITH seqs AS MATERIALIZED (
        SELECT user_id, LIST(event_type ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_seq FROM seqs),
    types AS (SELECT DISTINCT event_type AS t FROM events),
    p1 AS (SELECT t AS a, NULL::VARCHAR AS b, NULL::VARCHAR AS c FROM types),
    p2 AS (SELECT x.t AS a, y.t AS b, NULL::VARCHAR AS c FROM types x CROSS JOIN types y),
    p3 AS (SELECT x.t AS a, y.t AS b, z.t AS c
           FROM types x CROSS JOIN types y CROSS JOIN types z),
    pats AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3),
    hits AS (
        SELECT p.a, p.b, p.c, s.user_id,
               CASE
                 WHEN p.b IS NULL THEN COALESCE(list_position(s.seq, p.a), 0) > 0
                 WHEN p.c IS NULL THEN
                   COALESCE(list_position(s.seq, p.a), 0) > 0
                   AND COALESCE(list_position(
                         s.seq[list_position(s.seq, p.a) + 1:], p.b), 0) > 0
                 ELSE
                   COALESCE(list_position(s.seq, p.a), 0) > 0
                   AND COALESCE(list_position(
                         s.seq[list_position(s.seq, p.a) + 1:], p.b), 0) > 0
                   AND COALESCE(list_position(
                         s.seq[list_position(s.seq, p.a)
                               + list_position(s.seq[list_position(s.seq, p.a) + 1:], p.b)
                               + 1:],
                         p.c), 0) > 0
               END AS contained
        FROM pats p CROSS JOIN seqs s
    ),
    counts AS (
        SELECT a, b, c,
               CAST(SUM(CASE WHEN contained THEN 1 ELSE 0 END) AS BIGINT) AS support
        FROM hits GROUP BY a, b, c
    )
    SELECT a || COALESCE('>' || b, '') || COALESCE('>' || c, '') AS pattern, support
    FROM counts
    WHERE support >= CEIL((SELECT n_seq FROM n) * 0.3)
    ORDER BY support DESC, pattern LIMIT 100
    """,
)
def m22_prefixspan_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M22: sequential-pattern mining with PrefixSpan over per-user
    event-type journeys (each user's events ordered by time, each
    itemset a single event) — the behavioral-sequence counterpart of
    m19's basket mining: "view -> click -> purchase"-style ordered
    patterns with exact sequence supports. MLlib parallelizes the
    prefix-projection recursion; the sequence build is one
    shuffle-per-user collect_list sorted inside the array (array_sort
    on (ts, event_id, type) structs — sorting INSIDE the grouped value,
    never a global sort). Pattern supports are exact integers; tests
    re-count containment for sampled patterns in pure Python.
    Oracle-checked since round 9: the output is seed-free and the
    single-item/maxPatternLength=3 setting bounds the pattern universe
    to the <=3-type cross product, so a greedy subsequence-containment
    count per candidate reproduces PrefixSpan exactly (including
    MLlib's ceil threshold double)."""
    from pyspark.ml.fpm import PrefixSpan

    ev = t(spark, sf_dir, "events")
    seqs = (
        ev.select("user_id", F.struct("ts", "event_id", "event_type").alias("s"))
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("s")), lambda x: F.array(x["event_type"])
            ).alias("sequence")
        )
    )
    ps = PrefixSpan(minSupport=0.3, maxPatternLength=3, maxLocalProjDBSize=32000000)
    return (
        ps.findFrequentSequentialPatterns(seqs)
        .select(
            F.array_join(
                F.transform(F.col("sequence"), lambda its: F.array_join(its, "+")), ">"
            ).alias("pattern"),
            F.col("freq").cast("bigint").alias("support"),
        )
        .orderBy(F.desc("support"), "pattern")
        .limit(100)
    )


@register(
    "m23_roc_auc_ranksum",
    """
    WITH scored AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS score_cents,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
        FROM orders
    ),
    ranked AS (
        SELECT label,
               -- average rank over score ties, doubled to stay integral:
               -- 2*avg_rank = rank_before_group*2 + (tie_count + 1)
               CAST(2 * (RANK() OVER (ORDER BY score_cents) - 1)
                    + COUNT(*) OVER (PARTITION BY score_cents) + 1 AS BIGINT)
                   AS rank2
        FROM scored
    ),
    agg AS (
        SELECT CAST(SUM(CASE WHEN label = 1 THEN rank2 ELSE 0 END) AS BIGINT) AS pos_rank2,
               CAST(SUM(label) AS BIGINT) AS np,
               CAST(SUM(1 - label) AS BIGINT) AS nn
        FROM ranked
    )
    SELECT np AS n_pos, nn AS n_neg,
           ROUND((CAST(pos_rank2 AS DOUBLE) / 2 - CAST(np AS DOUBLE) * (np + 1) / 2)
                 / (CAST(np AS DOUBLE) * nn), 6) AS auc
    FROM agg
    """,
)
def m23_roc_auc_ranksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M23: ROC AUC computed distributed via the Mann-Whitney rank-sum
    identity — AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos*n_neg) with
    average ranks over ties. BinaryClassificationEvaluator gives the
    same number but trapezoid-integrates a collected curve; the
    rank-sum form is two shuffles of scalars (label proxy: URGENT
    priority; score: order value in cents).

    Tie-exact trick: 2*avg_rank = 2*(rank-1) + tie_count + 1 is always
    an INTEGER (avg rank is a half-integer), so the positive rank sum
    is an exact BIGINT on both engines; one double division at the end.

    Scale shape (round 4): aggregate per DISTINCT score first (one
    hash-agg with map-side combine — the frame shrinks from rows to
    distinct scores), then compute each score's rank as a
    distributed_prefix_sum running count over range partitions
    (ordered.py, two-phase — no single-partition global window). For a
    tie group of size n starting after cum_before rows,
    rank() = cum_before + 1, so 2*avg_rank = 2*cum_before + n + 1; the
    positive rank sum folds in as Σ n_pos(s) · rank2(s)."""
    o = t(spark, sf_dir, "orders")
    scored = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("score_cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("label"),
    )
    per_score = scored.groupBy("score_cents").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("npos_s")
    )
    cum = distributed_prefix_sum(per_score, [F.col("score_cents")], "n", out_col="cum")
    ranked = cum.select(
        "n",
        "npos_s",
        (2 * (F.col("cum") - F.col("n")) + F.col("n") + 1).cast("bigint").alias("rank2"),
    )
    agg = ranked.agg(
        F.sum(F.col("npos_s") * F.col("rank2")).cast("bigint").alias("pos_rank2"),
        F.sum("npos_s").cast("bigint").alias("np"),
        F.sum(F.col("n") - F.col("npos_s")).cast("bigint").alias("nn"),
    )
    return agg.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        F.round(
            (F.col("pos_rank2").cast("double") / 2 - F.col("np").cast("double") * (F.col("np") + 1) / 2)
            / (F.col("np").cast("double") * F.col("nn")),
            6,
        ).alias("auc"),
    )


# --- M24 oracle: Weibull AFT MLE via Newton in the concave chart -----
#
# UPGRADED from rows-only (round 11, extending VERDICT r10 #7 past the
# two asked-for fits): the extreme-value AFT log-likelihood is NOT
# concave in MLlib's (beta, log sigma) chart, but IS globally concave
# in (theta = beta/sigma, rho = 1/sigma) — z = rho*y - theta'x is
# linear there, so l = sum delta*(log rho + z) - e^z is a sum of
# concave terms and the MLE is unique. DuckDB therefore runs Newton in
# that chart (4-dim; Cramer solve generated symbolically below, rho
# floored at 0.05 so an early overshoot cannot leave the domain) and
# converts back, landing on the same optimum L-BFGS finds. MLlib's
# converged precision is ~5e-8 (observed across SFs), so the published
# grid is 1e-4 floors — margins 0.01-0.6 grid units at
# sf0.001/0.01/0.1, certified bit-equal at all three.


def _aft_det(entries: dict, idx: list[int]) -> str:
    """Symbolic determinant over entry-name SQL strings (permutation
    expansion; 4x4 -> 24 terms — generated, not hand-written)."""
    import itertools

    terms = []
    for perm in itertools.permutations(range(len(idx))):
        sign = 1
        p = list(perm)
        for i in range(len(p)):
            for j in range(i + 1, len(p)):
                if p[i] > p[j]:
                    sign = -sign
        prod = "*".join(entries[(idx[i], idx[perm[i]])] for i in range(len(idx)))
        terms.append(("+" if sign > 0 else "-") + prod)
    return "(" + "".join(terms) + ")"


def _aft_deltas() -> list[str]:
    """Cramer's-rule Newton step (H^-1 g)_i = det(H|col i := g)/det(H)
    over the symmetric Hessian entries h00..h33 and gradient g0..g3."""
    entries = {
        (i, j): f"h{min(i, j)}{max(i, j)}" for i in range(4) for j in range(4)
    }
    det_h = _aft_det(entries, [0, 1, 2, 3])
    out = []
    for i in range(4):
        ent = dict(entries)
        for r in range(4):
            ent[(r, i)] = f"g{r}"
        out.append(_aft_det(ent, [0, 1, 2, 3]) + " / " + det_h)
    return out


_AFT_D = _aft_deltas()

_AFT_STEP = """
    s{i} AS MATERIALIZED (
        SELECT ANY_VALUE(t0) AS t0, ANY_VALUE(t1) AS t1, ANY_VALUE(t2) AS t2,
               ANY_VALUE(rho) AS rho,
               SUM(ez - delta) AS g0,
               SUM(x1 * (ez - delta)) AS g1,
               SUM(x2 * (ez - delta)) AS g2,
               SUM(delta / rho + (delta - ez) * y) AS g3,
               SUM(-ez) AS h00, SUM(-x1 * ez) AS h01, SUM(-x2 * ez) AS h02,
               SUM(y * ez) AS h03,
               SUM(-x1 * x1 * ez) AS h11, SUM(-x1 * x2 * ez) AS h12,
               SUM(x1 * y * ez) AS h13,
               SUM(-x2 * x2 * ez) AS h22, SUM(x2 * y * ez) AS h23,
               SUM(-delta / (rho * rho) - y * y * ez) AS h33
        FROM (SELECT f.y, f.x1, f.x2, f.delta, b.t0, b.t1, b.t2, b.rho,
                     EXP(b.rho * f.y - b.t0 - b.t1 * f.x1 - b.t2 * f.x2) AS ez
              FROM feats f CROSS JOIN p{i} b)
        GROUP BY ALL
    ),
    p{j} AS MATERIALIZED (
        SELECT t0 - ({d0}) AS t0,
               t1 - ({d1}) AS t1,
               t2 - ({d2}) AS t2,
               GREATEST(rho - ({d3}), 0.05) AS rho
        FROM s{i}
    )"""

_AFT_ROUNDS = 15

_AFT_ORACLE = f"""
    WITH feats AS MATERIALIZED (
        SELECT LN(lbl) AS y, n_events AS x1, avg_value AS x2, censor AS delta
        FROM (
            SELECT GREATEST(
                       (EPOCH_US(COALESCE(first_purchase, last_ts))
                        - EPOCH_US(first_ts)) / 86400000000.0, 1e-6) AS lbl,
                   CASE WHEN first_purchase IS NOT NULL THEN 1.0 ELSE 0.0 END AS censor,
                   n_events, avg_value
            FROM (
                SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
                       MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase,
                       CAST(COUNT(*) AS DOUBLE) AS n_events, AVG(value) AS avg_value
                FROM events GROUP BY user_id
            )
        )
    ),
    p0 AS MATERIALIZED (
        SELECT AVG(y) AS t0, 0.0 AS t1, 0.0 AS t2, 1.0 AS rho FROM feats
    ),
    {",".join(_AFT_STEP.format(i=i, j=i + 1, d0=_AFT_D[0], d1=_AFT_D[1], d2=_AFT_D[2], d3=_AFT_D[3]) for i in range(_AFT_ROUNDS))}
    SELECT term, CAST(FLOOR(estimate * 10000) AS BIGINT) AS est_e4
    FROM (
        SELECT 'intercept' AS term, t0 / rho AS estimate FROM p{_AFT_ROUNDS}
        UNION ALL SELECT 'coef_n_events', t1 / rho FROM p{_AFT_ROUNDS}
        UNION ALL SELECT 'coef_avg_value', t2 / rho FROM p{_AFT_ROUNDS}
        UNION ALL SELECT 'scale', 1.0 / rho FROM p{_AFT_ROUNDS}
    ) ORDER BY term
"""


@register("m24_aft_survival", _AFT_ORACLE)
def m24_aft_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M24: accelerated-failure-time survival regression — time from a
    user's first click to first purchase, right-CENSORED at the last
    observed event when no purchase happens: the churn / conversion-
    latency model class, and the one regression family that handles
    "hasn't happened yet" correctly (dropping censored users biases
    toward fast converters). Label build is two first-event aggregates
    on the user key (one shuffle each, reused partitioning); features
    are per-user activity aggregates. MLlib's AFT fits a Weibull
    log-linear model via distributed L-BFGS. Returns the fitted
    coefficients and scale, 1e-4-floored — full-oracle since round 11:
    the likelihood is globally concave in (beta/sigma, 1/sigma), so
    DuckDB's Newton in that chart reaches the same unique MLE (see
    _AFT_ORACLE's precision comment)."""
    from pyspark.ml.feature import VectorAssembler as VA
    from pyspark.ml.regression import AFTSurvivalRegression

    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
        F.count(F.lit(1)).cast("double").alias("n_events"),
        F.avg("value").alias("avg_value"),
    )
    labeled = per_user.select(
        "n_events",
        "avg_value",
        F.when(F.col("first_purchase").isNotNull(), 1.0).otherwise(0.0).alias("censor"),
        (
            F.greatest(
                (
                    F.unix_micros(F.coalesce("first_purchase", "last_ts"))
                    - F.unix_micros("first_ts")
                ).cast("double")
                / 86_400_000_000.0,
                F.lit(1e-6),
            )
        ).alias("label"),
    )
    feats = VA(inputCols=["n_events", "avg_value"], outputCol="features").transform(labeled)
    aft = AFTSurvivalRegression(censorCol="censor", maxIter=500, tol=1e-12)
    model = aft.fit(feats)
    import math

    rows = [
        ("intercept", math.floor(float(model.intercept) * 10000)),
        ("coef_n_events", math.floor(float(model.coefficients[0]) * 10000)),
        ("coef_avg_value", math.floor(float(model.coefficients[1]) * 10000)),
        ("scale", math.floor(float(model.scale) * 10000)),
    ]
    return spark.createDataFrame(rows, "term string, est_e4 long").orderBy("term")


def _km_pts_sql() -> str:
    return """
        SELECT vec_id,
               CAST(FLOOR(embedding[1] * 1000000) AS BIGINT) AS d1,
               CAST(FLOOR(embedding[2] * 1000000) AS BIGINT) AS d2,
               CAST(FLOOR(embedding[3] * 1000000) AS BIGINT) AS d3,
               CAST(FLOOR(embedding[4] * 1000000) AS BIGINT) AS d4
        FROM embeddings
    """


def _km_iter_sql(prev: str, out_a: str, out_c: str) -> str:
    """One unrolled Lloyd iteration: deterministic argmin assignment
    (dist*4+cid packed key), then truncating-integer-mean centroids."""
    return f"""
    {out_a} AS (
        SELECT vec_id,
               CAST(MIN(((p.d1 - c.c1) * (p.d1 - c.c1) + (p.d2 - c.c2) * (p.d2 - c.c2)
                       + (p.d3 - c.c3) * (p.d3 - c.c3) + (p.d4 - c.c4) * (p.d4 - c.c4)) * 4
                        + c.cid) % 4 AS BIGINT) AS cid
        FROM pts p CROSS JOIN {prev} c
        GROUP BY vec_id
    ),
    {out_c} AS (
        SELECT a.cid,
               SUM(p.d1) // COUNT(*) AS c1, SUM(p.d2) // COUNT(*) AS c2,
               SUM(p.d3) // COUNT(*) AS c3, SUM(p.d4) // COUNT(*) AS c4,
               COUNT(*) AS n
        FROM {out_a} a JOIN pts p USING (vec_id)
        GROUP BY a.cid
    )"""


_KMEANS_ORACLE = f"""
    WITH pts AS ({_km_pts_sql()}),
    c0 AS (
        SELECT CAST(vec_id AS BIGINT) AS cid, d1 AS c1, d2 AS c2, d3 AS c3, d4 AS c4
        FROM pts WHERE vec_id IN (0, 1, 2)
    ),
    {_km_iter_sql("c0", "a1", "c1t")},
    {_km_iter_sql("c1t", "a2", "c2t")}
    SELECT cid, CAST(n AS BIGINT) AS n,
           CAST(c1 AS BIGINT) AS c1, CAST(c2 AS BIGINT) AS c2,
           CAST(c3 AS BIGINT) AS c3, CAST(c4 AS BIGINT) AS c4
    FROM c2t ORDER BY cid
"""


@register("m25_kmeans_fixed_point", _KMEANS_ORACLE)
def m25_kmeans_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M25: k-means (Lloyd's algorithm) as a bit-exact distributed
    fixed-point iteration — the pagerank treatment applied to
    clustering: coordinates in exact micro-units, squared distances and
    centroid sums in BIGINT, argmin ties broken by packing
    (dist*k + cid) into one integer key, centroid update by truncating
    integer mean. Two unrolled iterations over the first 4 embedding
    dims, k=3, seeds = vec_ids 0-2 (deterministic init — the floating
    KMeans path with kmeans|| init is sim_ivf_kmeans_topk).

    Spark shape per iteration: points x broadcast(k centroids) in
    codegen (k rows — never a shuffle of points), min-agg keyed by
    vec_id on the points partitioning, then one k-group aggregate for
    new centroids. The driver loop holds NO data — the same
    Pregel-style structure as MLlib's own KMeans, with every arithmetic
    step reproducible in the DuckDB oracle's unrolled CTEs. Float
    k-means cannot be hash-compared (per-cluster float sums are
    partition-order dependent); fixed-point k-means can."""
    e = t(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        *[
            F.floor(F.col("embedding")[i].cast("double") * 1_000_000)
            .cast("bigint")
            .alias(f"d{i + 1}")
            for i in range(4)
        ],
    )
    cents = pts.where(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").cast("bigint").alias("cid"),
        *[F.col(f"d{i + 1}").alias(f"c{i + 1}") for i in range(4)],
    )
    for _ in range(2):
        dist = sum(
            (F.col(f"d{i + 1}") - F.col(f"c{i + 1}")) * (F.col(f"d{i + 1}") - F.col(f"c{i + 1}"))
            for i in range(4)
        )
        assign = (
            pts.crossJoin(F.broadcast(cents))
            .select("vec_id", *[f"d{i + 1}" for i in range(4)], (dist * 4 + F.col("cid")).alias("key"))
            .groupBy("vec_id", *[f"d{i + 1}" for i in range(4)])
            .agg((F.min("key") % 4).cast("bigint").alias("cid"))
        )
        cents = assign.groupBy("cid").agg(
            *[F.expr(f"sum(d{i + 1}) div count(*)").alias(f"c{i + 1}") for i in range(4)],
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    return cents.select(
        "cid", "n", *[F.col(f"c{i + 1}").cast("bigint").alias(f"c{i + 1}") for i in range(4)]
    ).orderBy("cid")


@register(
    "x19_rolling_origin_splits",
    """
    WITH b AS (
        SELECT epoch_us(MIN(o_orderdate)) AS lo, epoch_us(MAX(o_orderdate)) AS hi
        FROM orders
    ),
    folds AS (SELECT UNNEST([1, 2, 3]) AS fold),
    cuts AS (
        SELECT fold,
               lo + fold * ((hi - lo) // 4) AS cut,
               lo + (fold + 1) * ((hi - lo) // 4) AS nxt
        FROM folds, b
    )
    SELECT fold,
           MAKE_TIMESTAMP((cut // 1000000) * 1000000) AS cutoff,
           CAST((SELECT COUNT(*) FROM orders WHERE epoch_us(o_orderdate) < cut) AS BIGINT) AS n_train,
           CAST((SELECT COUNT(*) FROM orders
                 WHERE epoch_us(o_orderdate) >= cut AND epoch_us(o_orderdate) < nxt) AS BIGINT) AS n_test
    FROM cuts
    ORDER BY fold
    """,
)
def x19_rolling_origin_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19: rolling-origin (walk-forward) cross-validation splits — the
    TEMPORAL split an ML pipeline must use when rows are events:
    random K-fold (m10) leaks the future into training. Three folds
    with cutoffs at exact quarter-points of the observed time span
    (integer microsecond arithmetic, so fold boundaries are bit-stable);
    each fold trains on everything strictly before its cutoff and
    tests on the next quarter-window. The plan is one min/max aggregate
    + a 3-row broadcast of cutoffs + one conditional-aggregation pass —
    counts for ALL folds in a single scan, not one scan per fold (at
    100 TB, K scans is the difference between minutes and hours)."""
    # o_orderdate reads as TIMESTAMP_NTZ (parquet isAdjustedToUTC=false);
    # unix_micros requires TIMESTAMP — cast preserves wall-clock under
    # the pinned UTC session TZ. Cast AFTER the scan projection only
    # (no filters ride this column here, so pushdown is unaffected).
    o = t(spark, sf_dir, "orders").select(
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("ts_us")
    )
    b = o.agg(F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi"))
    folds = spark.sql("SELECT explode(array(1, 2, 3)) AS fold")
    cuts = folds.crossJoin(F.broadcast(b)).select(
        "fold",
        (F.col("lo") + F.col("fold") * F.expr("(hi - lo) div 4")).alias("cut"),
        (F.col("lo") + (F.col("fold") + 1) * F.expr("(hi - lo) div 4")).alias("nxt"),
    )
    counted = (
        o.crossJoin(F.broadcast(cuts))
        .groupBy("fold", "cut")
        .agg(
            F.sum(F.when(F.col("ts_us") < F.col("cut"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(
                F.when((F.col("ts_us") >= F.col("cut")) & (F.col("ts_us") < F.col("nxt")), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_test"),
        )
    )
    return counted.select(
        "fold",
        F.timestamp_seconds(F.expr("cut div 1000000")).alias("cutoff"),
        "n_train",
        "n_test",
    ).orderBy("fold")


# Shared Cramer's-rule formula text: evaluated verbatim by Spark
# (selectExpr) AND by DuckDB (oracle SQL) over identically-named exact
# integer moments, so every double op has the same operand order on
# both engines.
_OLS_DETS = """
    CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2)
"""
_OLS_D0 = """
    CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s12)
      - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2y)
      + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2y)
"""
_OLS_D1 = """
    CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2y)
      - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22 - CAST(s12 AS DOUBLE) * s2)
      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2)
"""
_OLS_D2 = """
    CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s12)
      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s2y - CAST(s1y AS DOUBLE) * s2)
      + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12 - CAST(s11 AS DOUBLE) * s2)
"""
_OLS_MOMENTS_SQL = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
           CAST(SUM(x1 * x1) AS BIGINT) AS s11, CAST(SUM(x2 * x2) AS BIGINT) AS s22,
           CAST(SUM(x1 * x2) AS BIGINT) AS s12,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x1 * y) AS BIGINT) AS s1y, CAST(SUM(x2 * y) AS BIGINT) AS s2y
    FROM (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(ROUND(l_discount * 1000) AS BIGINT) AS x2,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    )
"""


def ols_moments(feats: DataFrame) -> DataFrame:
    """The nine exact-BIGINT normal-equation moments of (x1, x2, y):
    n, s1, s2, s11, s22, s12, sy, s1y, s2y — one partial-agg pass,
    every product bounded well inside int64. The oracle is
    _OLS_MOMENTS_SQL; _OLS_D0/_OLS_D1/_OLS_D2/_OLS_DETS solve over it.
    Read by m26_ols_normal_equations and m37_linear_shap."""
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("s1"),
        F.sum("x2").cast("bigint").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).cast("bigint").alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).cast("bigint").alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).cast("bigint").alias("s12"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).cast("bigint").alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast("bigint").alias("s2y"),
    )


@register(
    "m26_ols_normal_equations",
    f"""
    WITH m AS ({_OLS_MOMENTS_SQL})
    SELECT n,
           ROUND(({_OLS_D0}) / ({_OLS_DETS}), 4) AS beta0_cents,
           ROUND(({_OLS_D1}) / ({_OLS_DETS}), 4) AS beta_qty_cents,
           ROUND(({_OLS_D2}) / ({_OLS_DETS}), 4) AS beta_disc_cents
    FROM m
    """,
)
def m26_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M26: multivariate OLS by normal equations, closed form — price
    (cents) on quantity and discount (milli), fit in ONE aggregation
    pass: nine exact-BIGINT moments (n, Σx, Σx², Σxy — every product
    bounded well inside int64), then Cramer's rule on the 3x3 system in
    doubles. Both engines evaluate the IDENTICAL formula text over
    identical integer moments, so the division is the only float step
    and the 4-decimal round is safely stable. This is how linear
    regression actually distributes: the data pass is a partial-agg
    shuffle of 9 scalars; the solve is O(p³) on the driver frame —
    MLlib's LinearRegression(normal solver) does the same with p large
    enough to need WLS. a15 is the univariate special case; m9/m10 the
    iterative-optimizer tier."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        F.round(F.col("l_discount") * 1000).cast("bigint").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    m = ols_moments(li)
    return m.selectExpr(
        "n",
        f"ROUND(({_OLS_D0}) / ({_OLS_DETS}), 4) AS beta0_cents",
        f"ROUND(({_OLS_D1}) / ({_OLS_DETS}), 4) AS beta_qty_cents",
        f"ROUND(({_OLS_D2}) / ({_OLS_DETS}), 4) AS beta_disc_cents",
    )


# round(1e6 / log2(rank+1)) for rank 1..10 — precomputed ONCE and shared
# verbatim by both engines so NDCG needs no runtime log2 (whose last-ulp
# behavior is not pinned by IEEE and could flip a floor at a boundary)
_NDCG_DISC_MICRO = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]


@register(
    "m27_ndcg_ranking_eval",
    f"""
    WITH disc(rnk, d) AS (
        SELECT * FROM (VALUES {", ".join(f"({i + 1}, {d})" for i, d in enumerate(_NDCG_DISC_MICRO))})
    ),
    up AS (
        SELECT o.o_custkey AS custkey, l.l_partkey AS partkey,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT custkey, qty,
               ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY spend_cents DESC, partkey) AS rnk
        FROM up QUALIFY rnk <= 10
    ),
    ideal AS (
        SELECT custkey, qty,
               ROW_NUMBER() OVER (PARTITION BY custkey ORDER BY qty DESC, partkey) AS rnk
        FROM up QUALIFY rnk <= 10
    ),
    dcg AS (
        SELECT custkey, SUM(qty * d) AS dcg_micro
        FROM pred JOIN disc USING (rnk) GROUP BY custkey
    ),
    idcg AS (
        SELECT custkey, SUM(qty * d) AS idcg_micro
        FROM ideal JOIN disc USING (rnk) GROUP BY custkey
    )
    SELECT d.custkey,
           CAST(d.dcg_micro AS BIGINT) AS dcg_micro,
           CAST(i.idcg_micro AS BIGINT) AS idcg_micro,
           CAST((d.dcg_micro * 1000000) // i.idcg_micro AS BIGINT) AS ndcg_micro
    FROM dcg d JOIN idcg i USING (custkey)
    ORDER BY custkey
    """,
)
def m27_ndcg_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M27: NDCG@10 ranking evaluation — grade a predicted per-customer
    part ranking (by spend) against graded relevance (quantity bought)
    with position-discounted gain, the standard recommender/retrieval
    offline metric alongside m20's recall@k. Exactness: the 10 DCG
    position discounts round(1e6/log2(r+1)) are PRECOMPUTED integer
    constants shared verbatim by both engines, so DCG/IDCG are pure
    BIGINT dot products and NDCG is one integer division — no runtime
    log2, whose unpinned last ulp could flip a rounding at a boundary.
    Plan: one (cust, part) aggregate, two per-customer top-10 windows
    on that aggregate (partitioned — group-bounded), two k-row joins
    against the broadcast 10-row discount dim."""
    from pyspark.sql.window import Window

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    # r15 (guide §1.2): cache the (cust, part) rollup — BOTH top-10
    # branches (DCG by spend, IDCG by quantity) window over this exact
    # relation, and the uncached form replayed the lineitem⋈orders
    # join + aggregate once per branch.
    up = cache_once(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).cast("bigint").alias("spend_cents"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
        )
    )
    disc = spark.sql(
        "SELECT rnk, d FROM VALUES "
        + ", ".join(f"({i + 1}, {d})" for i, d in enumerate(_NDCG_DISC_MICRO))
        + " AS t(rnk, d)"
    )
    wp = Window.partitionBy("custkey").orderBy(F.col("spend_cents").desc(), "partkey")
    wi = Window.partitionBy("custkey").orderBy(F.col("qty").desc(), "partkey")

    def topk(w) -> DataFrame:
        return (
            up.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10)
            .join(F.broadcast(disc), "rnk")
            .groupBy("custkey")
            .agg(F.sum(F.col("qty") * F.col("d")).cast("bigint").alias("g"))
        )

    dcg = topk(wp).withColumnRenamed("g", "dcg_micro")
    idcg = topk(wi).withColumnRenamed("g", "idcg_micro")
    return (
        dcg.join(idcg, "custkey")
        .select(
            "custkey",
            "dcg_micro",
            "idcg_micro",
            F.expr("(dcg_micro * 1000000) div idcg_micro").cast("bigint").alias("ndcg_micro"),
        )
        .orderBy("custkey")
    )


@register(
    "m28_confusion_matrix",
    """
    WITH c AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
        FROM orders
    ),
    thr AS (SELECT quantile_cont(cents, 0.5) AS median_cents FROM c),
    pred AS (
        SELECT label, CASE WHEN c.cents > t.median_cents THEN 1 ELSE 0 END AS yhat
        FROM c, thr t
    ),
    m AS (
        SELECT CAST(SUM(CASE WHEN label = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN label = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN label = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN label = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM pred
    )
    SELECT tp, fp, fn, tn,
           CAST((tp * 1000000) // (tp + fp) AS BIGINT) AS precision_micro,
           CAST((tp * 1000000) // (tp + fn) AS BIGINT) AS recall_micro,
           CAST((2 * tp * 1000000) // (2 * tp + fp + fn) AS BIGINT) AS f1_micro
    FROM m
    """,
)
def m28_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M28: binary-classification evaluation — confusion matrix +
    precision/recall/F1 for a median-threshold classifier of URGENT
    orders (the eval scaffold; swap the rule for a model score in
    production — m23 covers the threshold-free AUC view of the same
    problem). Exactness: counts are BIGINTs, the threshold is the
    exact interpolated median of integer cents (a6/a23's quantile
    discipline), and each metric is ONE integer division of count
    expressions — F1 uses 2tp/(2tp+fp+fn) directly rather than
    composing already-rounded precision/recall, so there is no double
    rounding to diverge on. Plan: one scan, a 1-row broadcast
    threshold, one map-side confusion aggregate."""
    o = t(spark, sf_dir, "orders")
    c = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("label"),
    )
    thr = c.agg(F.percentile("cents", F.lit(0.5)).alias("median_cents"))
    pred = c.crossJoin(F.broadcast(thr)).select(
        "label", F.when(F.col("cents") > F.col("median_cents"), 1).otherwise(0).alias("yhat")
    )
    m = pred.agg(
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 1), 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when((F.col("label") == 0) & (F.col("yhat") == 1), 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when((F.col("label") == 1) & (F.col("yhat") == 0), 1).otherwise(0)).cast("bigint").alias("fn"),
        F.sum(F.when((F.col("label") == 0) & (F.col("yhat") == 0), 1).otherwise(0)).cast("bigint").alias("tn"),
    )
    return m.select(
        "tp", "fp", "fn", "tn",
        F.expr("(tp * 1000000) div (tp + fp)").cast("bigint").alias("precision_micro"),
        F.expr("(tp * 1000000) div (tp + fn)").cast("bigint").alias("recall_micro"),
        F.expr("(2 * tp * 1000000) div (2 * tp + fp + fn)").cast("bigint").alias("f1_micro"),
    )


@register(
    "m29_lift_gains_table",
    """
    WITH c AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS score_cents,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
        FROM orders
    ),
    cuts AS (
        SELECT quantile_cont(score_cents, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM c
    ),
    bucketed AS (
        -- decile 1 = HIGHEST scores (model-eval convention)
        SELECT 10 - LEN(LIST_FILTER(cuts.qs, q -> q < c.score_cents)) AS decile, label
        FROM c, cuts
    ),
    agg AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(label) AS BIGINT) AS positives
        FROM bucketed GROUP BY decile
    ),
    tot AS (SELECT SUM(n) AS n_all, SUM(positives) AS pos_all FROM agg)
    SELECT a.decile, a.n, a.positives,
           CAST(SUM(a.positives) OVER (ORDER BY a.decile) AS BIGINT) AS cum_positives,
           CAST((a.positives * t.n_all * 1000000) // (a.n * t.pos_all) AS BIGINT) AS lift_micro
    FROM agg a, tot t
    ORDER BY a.decile
    """,
)
def m29_lift_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M29: decile lift/gains table — the campaign-targeting eval: rank
    orders by the score (price cents standing in for a model score),
    split into equi-depth deciles via the broadcast percentile-cut
    technique (a23 — never NTILE's unpartitioned global window), and
    report per-decile positives plus lift = decile positive rate /
    global rate as one exact integer expression
    (positives*n_all*1e6)//(n*pos_all). Decile 1 holds the highest
    scores. The cumulative-gains column folds the 10-row aggregate
    ledger through the broadcast non-equi self-join idiom (the
    no-single-partition-window invariant applies even to tiny frames).
    One scan + 1-row cut broadcast + one shuffle to the 10-row frame."""
    o = t(spark, sf_dir, "orders")
    c = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("score_cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("label"),
    )
    cuts = c.agg(
        F.percentile("score_cents", F.array(*[F.lit(x / 10.0) for x in range(1, 10)])).alias("qs")
    )
    bucketed = c.crossJoin(F.broadcast(cuts)).select(
        # bigint, matching the oracle's LEN() arithmetic (int-width
        # drift is driver-tolerated but the width-pin convention holds)
        (10 - F.size(F.filter(F.col("qs"), lambda q: q < F.col("score_cents"))))
        .cast("bigint")
        .alias("decile"),
        "label",
    )
    agg = bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("positives"),
    )
    tot = agg.agg(F.sum("n").alias("n_all"), F.sum("positives").alias("pos_all"))
    # cumulative gains over the 10-row ledger via the broadcast
    # non-equi self-join idiom (the engine-wide no-single-partition-
    # window invariant applies even to tiny frames)
    o_frame = agg.select(F.col("decile").alias("o_decile"), F.col("positives").alias("o_pos"))
    cum = (
        agg.crossJoin(F.broadcast(o_frame))
        .where(F.col("o_decile") <= F.col("decile"))
        .groupBy("decile", "n", "positives")
        .agg(F.sum("o_pos").cast("bigint").alias("cum_positives"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "decile", "n", "positives", "cum_positives",
            F.expr("(positives * n_all * 1000000) div (n * pos_all)")
            .cast("bigint")
            .alias("lift_micro"),
        )
        .orderBy("decile")
    )
