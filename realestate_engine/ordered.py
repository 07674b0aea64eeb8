"""Global-order primitives without global funnels.

A ``SUM() OVER (ORDER BY ...)`` with no PARTITION BY funnels every row
through one task. This module provides the scalable replacement — the
two-phase distributed prefix sum — and the operators built on it.
See DESIGN.md "Global-order work without global funnels";
corpus_token_budget (text.py) and p14_dense_reid (queries_core.py)
are the same shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from realestate_engine.registry import cache_once, register, t


def distributed_prefix_sum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    n_parts: int = 8,
    out_col: str = "cum",
) -> DataFrame:
    """Running sum of ``value_col`` in the TOTAL order given by
    ``order_cols`` (must be a strict total order — include a unique
    tiebreak), computed scale-out:

    1. ``repartitionByRange`` on the order — ranges partition the
       global order;
    2. per-partition running sums via a window PARTITIONED BY
       ``spark_partition_id()`` (parallel);
    3. exclusive prefix offsets from the partition-totals frame
       (#partitions rows — KBs at any data size), broadcast back.

    Returns ``df``'s columns plus ``out_col``. The input is cached
    (two branches read it: the cumsum and the totals); the cache is
    keyed by canonicalized plan, so repeated invocations of the same
    query reuse one entry rather than accumulating, and entries are
    LRU-evicted under memory pressure — deliberate, not a leak."""

    ranked = cache_once(
        df.repartitionByRange(n_parts, *order_cols).withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranked.withColumn("_local_cum", F.sum(value_col).over(w_local))
    totals = ranked.groupBy("_pid").agg(F.sum(value_col).alias("_ptot"))
    offsets = exclusive_prefix_offsets(totals, "_pid", "_ptot", "_off")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_off") + F.col("_local_cum")).cast("bigint"))
        .drop("_pid", "_local_cum", "_off")
    )


def exclusive_prefix_offsets(
    totals: DataFrame, key_col: str, tot_col: str, out_col: str = "_off"
) -> DataFrame:
    """Exclusive running sum over a TINY keyed frame (the per-partition
    totals ledger: n_parts rows, KBs at any data size) as a broadcast
    non-equi self-join instead of an unpartitioned window — the n² of a
    ≤64-row frame is cheaper than a WindowExec, and it keeps the plans
    free of single-partition window operators (the 'No Partition
    Defined' warning then only ever signals a REAL full-table funnel).
    Returns (key_col, out_col = Σ tot over keys strictly below)."""
    a = totals.select(F.col(key_col)).alias("a")
    b = totals.alias("b")
    return (
        a.join(F.broadcast(b), F.col(f"b.{key_col}") < F.col(f"a.{key_col}"), "left")
        .groupBy(F.col(f"a.{key_col}").alias(key_col))
        .agg(F.coalesce(F.sum(f"b.{tot_col}"), F.lit(0)).alias(out_col))
    )


@register(
    "x18_systematic_pps_sample",
    r"""
    WITH w AS (
        SELECT doc_id,
               CAST(LEN(STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+')) AS BIGINT) AS wt
        FROM documents
    ),
    c AS (
        SELECT doc_id, wt,
               SUM(wt) OVER (ORDER BY doc_id) AS cum
        FROM w
    ),
    tot AS (SELECT SUM(wt) AS total FROM w),
    grid AS (SELECT total // 50 AS step FROM tot)
    SELECT doc_id, wt, CAST(cum AS BIGINT) AS cum
    FROM c, grid
    WHERE step > 0
      AND (cum - 1) // step >= 1
      AND ((cum - 1) // step) * step >= cum - wt
    ORDER BY doc_id
    """,
)
def x18_systematic_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X18: systematic probability-proportional-to-size sampling — lay
    a deterministic grid of ~50 points over the cumulative token-weight
    axis; a document is selected iff a grid point lands in its weight
    interval [cum-wt, cum). Selection probability is proportional to
    weight, with ZERO floating point and zero randomness: the exact
    integer test is "the largest grid multiple <= cum-1 is >= cum-wt".
    This is the weighted downsampling a training pipeline uses when it
    must be reproducible across engines, reruns, and resharding
    (rand()-based weighted sampling is none of these; the
    Efraimidis-Spirakis priority form needs float logs).

    The cumulative axis comes from distributed_prefix_sum (two-phase,
    no global-window funnel); everything after is a per-row integer
    predicate against a 1-row broadcast step. Docs heavier than one
    step are selected with certainty (and would be selected
    multiple grid times — reported once)."""
    d = t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).cast("bigint").alias("wt"),
    )
    c = distributed_prefix_sum(w, [F.col("doc_id")], "wt", out_col="cum")
    step = c.agg(F.expr("CAST(sum(wt) AS BIGINT) div 50").alias("step"))
    sel = (
        c.crossJoin(F.broadcast(step))
        .where(
            (F.col("step") > 0)
            & (F.expr("(cum - 1) div step") >= 1)
            & (F.expr("(cum - 1) div step") * F.col("step") >= F.col("cum") - F.col("wt"))
        )
        .select("doc_id", "wt", "cum")
        .orderBy("doc_id")
    )
    return sel


@register(
    "a34_weighted_median_prefix",
    """
    WITH pv AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1
    ),
    c AS (SELECT v, w, SUM(w) OVER (ORDER BY v) AS cum FROM pv),
    tot AS (SELECT SUM(w) AS t FROM pv)
    SELECT CAST(MIN(v) AS BIGINT) AS weighted_median_cents
    FROM c, tot WHERE cum * 2 >= t
    """,
)
def a34_weighted_median_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A34: EXACT weighted median (lower median) of extended price
    weighted by quantity — the robust-statistics sibling of a20's exact
    percentiles, for the common case where each row carries a weight
    (revenue-weighted midpoints, token-weighted document stats).
    percentile_approx cannot take weights; the exact form is: aggregate
    weight per DISTINCT value (the frame shrinks rows -> distinct
    values), cumulate weights in value order via distributed_prefix_sum
    (two-phase, no global-window funnel), then the answer is the
    smallest value whose cumulative weight reaches half the total —
    one filtered aggregate against a 1-row broadcast. All BIGINT: the
    2*cum >= total comparison is the cross-multiplied half, so no
    division anywhere. The oracle states the same spec with the plain
    global window DuckDB can afford."""
    li = t(spark, sf_dir, "lineitem")
    pv = li.groupBy(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("v")
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("w"))
    c = distributed_prefix_sum(pv, [F.col("v")], "w", out_col="cum")
    tot = pv.agg(F.sum("w").alias("t"))
    return (
        c.crossJoin(F.broadcast(tot))
        .where(F.col("cum") * 2 >= F.col("t"))
        .agg(F.min("v").cast("bigint").alias("weighted_median_cents"))
    )
