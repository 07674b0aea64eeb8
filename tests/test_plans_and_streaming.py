"""Physical-plan assertions (the 100 TB posture is checkable locally:
pushdown reaches the scan, dims broadcast, top-k avoids global sort)
plus a real Structured Streaming round-trip and multimodal plumbing."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from realestate_engine.registry import QUERIES, load_all, reset
from realestate_engine.schemas import TESTDATA_SCHEMAS
from realestate_engine.streaming import streamify, tumbling_counts
from realestate_engine.multimodal import extract_image_features

load_all()


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_and_projection_pushed_to_scan(spark, sf_dir):
    plan = _plan(QUERIES["s2_parquet_scan_pushdown"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45.0)" in plan
    # column pruning: the scan must read only the 3 projected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in read_schema and "l_quantity" in read_schema


def test_dimension_joins_are_broadcast(spark, sf_dir):
    plan = _plan(QUERIES["flagship_revenue_by_nation"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    plan5 = _plan(QUERIES["tpch_q5_region_revenue"](spark, sf_dir))
    assert plan5.count("BroadcastHashJoin") >= 2  # nation AND region


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(QUERIES["o2_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_covers_haversine(spark, sf_dir):
    plan = _plan(QUERIES["f3_haversine"](spark, sf_dir))
    assert "codegen id" in plan  # haversine runs inside whole-stage codegen
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    # map-side combine: the pre-shuffle HashAggregate computes partial_*
    # functions, so the exchange carries ≤ |groups| rows per partition
    plan = _plan(QUERIES["tpch_q1_pricing_summary"](spark, sf_dir))
    assert "partial_sum" in plan


def test_streaming_tumbling_roundtrip(spark, sf_dir, tmp_path):
    """The SAME tumbling_counts logic as the batch oracle query, run as
    an actual Structured Stream over a file source into a memory sink."""
    from realestate_engine.registry import t as load_table

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "stream_src")
    events.write.parquet(src)
    stream = streamify(spark, src, events.schema)
    assert stream.isStreaming
    q = (
        tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # watermark append-mode emits only windows older than the watermark;
    # the final (open) windows are withheld — compare against batch
    got = spark.sql("SELECT count(*) AS n FROM tumbling_test").first().n
    batch_n = tumbling_counts(events).count()
    assert 0 < got <= batch_n


def test_multimodal_mapinpandas_schema_and_determinism(spark):
    rows = [(1, bytearray(b"hello world")), (2, bytearray(b""))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = extract_image_features(df)
    got = {r.doc_id: r for r in out.collect()}
    assert got[1].n_bytes == 11 and got[1].channels == 3
    assert got[1].width == 16 + 11 % 64 and got[1].height == 16 + 77 % 64
    assert got[2].n_bytes == 0 and got[2].mean_intensity == 0.0
    assert out.schema["mean_intensity"].dataType.typeName() == "double"


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """s23's fact scan must carry a dynamicpruning subquery in its
    PartitionFilters — proof the pruning set is computed at runtime
    from the filtered dim, not statically."""
    plan = _plan(QUERIES["s23_dynamic_partition_pruning"](spark, sf_dir))
    assert "dynamicpruning" in plan


def test_png_codec_roundtrip_and_filters():
    """decode_png must invert encode_png bit-exactly AND reconstruct
    rasters written with every PNG scanline filter (Sub/Up/Average/
    Paeth), since real-world encoders choose filters per row."""
    import struct
    import zlib

    import pytest

    from realestate_engine.multimodal import _PNG_MAGIC, decode_png, encode_png

    w, h = 5, 4
    rgb = bytes((x * 17 + 3) % 256 for x in range(w * h * 3))
    feats = decode_png(encode_png(w, h, rgb))
    assert (feats["width"], feats["height"], feats["channels"]) == (w, h, 3)
    assert feats["mean_intensity"] == round(sum(rgb) / len(rgb), 4)

    # forward-filter the same raster with one of each filter per row,
    # rebuild the PNG by hand, and demand identical reconstruction
    stride, bpp = w * 3, 3
    rows = [bytearray(rgb[y * stride : (y + 1) * stride]) for y in range(h)]

    def paeth(a, b, c):
        pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytearray(stride)
    for y, f in enumerate([1, 2, 3, 4]):  # Sub, Up, Average, Paeth
        cur = rows[y]
        filt = bytearray(stride)
        for i in range(stride):
            a = cur[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            pred = {1: a, 2: b, 3: (a + b) >> 1, 4: paeth(a, b, c)}[f]
            filt[i] = (cur[i] - pred) & 0xFF
        raw += bytes([f]) + filt
        prev = cur

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    payload = (
        _PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    feats2 = decode_png(payload)
    assert feats2["mean_intensity"] == round(sum(rgb) / len(rgb), 4)

    with pytest.raises(NotImplementedError):  # 16-bit depth is out of scope
        decode_png(
            _PNG_MAGIC
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0))
            + chunk(b"IEND", b"")
        )


def test_asof_join_is_window_not_pair_join(spark, sf_dir):
    """The as-of join must compile to union + window (n+m rows per key),
    never a join that materializes per-key pairs."""
    plan = _plan(QUERIES["asof_last_click_before_purchase"](spark, sf_dir))
    assert "Window" in plan
    for bad in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct", "ShuffledHashJoin"):
        assert bad not in plan, bad


def test_range_join_is_hash_join_not_nested_loop(spark, sf_dir):
    """The binned range join must execute as an equi hash/merge join on
    (key, bin) — the naive inequality join compiles to a nested loop."""
    plan = _plan(QUERIES["range_join_clicks_before_purchase"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_custom_pandas_op_uses_arrow_stream_path(spark, sf_dir):
    """The custom running-total op runs on the Arrow map-partitions path
    (one shuffle on the group key + in-partition sort feeding
    MapInPandas with O(1) carry state), not per-group grouped-map calls
    and not row-at-a-time Python eval (see PLANS.md round-8 note)."""
    plan = _plan(QUERIES["custom_running_total_pandas"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan
    # the carry-state contract requires the in-partition sort
    assert "Sort" in plan and "hashpartitioning(user_id" in plan


def test_no_driver_materialization_in_relational_plans(spark, sf_dir):
    """Relational queries must stay fully distributed: no plan node that
    scans driver-materialized rows (the signature of a collect() +
    createDataFrame detour)."""
    for name in ("flagship_revenue_by_nation", "tpch_q5_region_revenue", "o3_distributed_topk_per_group"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert "Scan ExistingRDD" not in plan, name
        assert "LocalTableScan" not in plan, name


def test_stratified_sample_fractions(spark, sf_dir):
    from realestate_engine.registry import t as load_table

    base = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {r.event_type: r.n_sampled for r in QUERIES["p10_stratified_sample"](spark, sf_dir).collect()}
    assert got["signup"] == base["signup"]  # fraction 1.0 keeps everything
    assert got["purchase"] == base["purchase"]
    for etype, frac in (("click", 0.2), ("view", 0.2), ("error", 0.5)):
        assert abs(got[etype] / base[etype] - frac) < 0.1, etype


def test_train_test_split_disjoint_and_complete(spark, sf_dir):
    row = QUERIES["p11_train_test_split"](spark, sf_dir).first()
    assert row.n_overlap == 0
    assert row.partition_complete
    assert row.train_frac_ok


def test_foreach_batch_sink_roundtrip(spark, sf_dir, tmp_path):
    """foreachBatch: the custom-sink escape hatch — each micro-batch is
    a normal DataFrame the callback writes transactionally (here:
    append parquet keyed by batch id). The written data must equal the
    source."""
    from realestate_engine.registry import t as load_table
    from realestate_engine.streaming import streamify

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "fb_src")
    out = str(tmp_path / "fb_out")
    events.write.parquet(src)
    stream = streamify(spark, src, events.schema)

    def write_batch(batch_df, batch_id: int):
        batch_df.withColumn("_batch", F.lit(batch_id)).write.mode("append").parquet(out)

    q = stream.writeStream.foreachBatch(write_batch).trigger(availableNow=True).start()
    q.awaitTermination(120)
    written = spark.read.parquet(out)
    assert written.count() == events.count()
    assert written.select("event_id").distinct().count() == events.count()


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """A filter on the partition column must prune directories at scan
    time (PartitionFilters), not read-then-filter."""
    from realestate_engine.registry import t as load_table

    out = str(tmp_path / "pruned")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).write.partitionBy("o_orderstatus").parquet(out)
    df = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = _plan(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "o_orderstatus" in pf[0]
    # pruned scan must not enumerate the other status partitions
    assert df.count() == load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").count()


def test_stream_static_enrich_roundtrip(spark, sf_dir, tmp_path):
    """Row-level stream-static join: every streamed event is enriched
    against the broadcast static dim; append-mode total equals batch."""
    from realestate_engine.registry import t as load_table
    from realestate_engine.streaming import enrich_events, streamify

    events = load_table(spark, sf_dir, "events")
    customers = load_table(spark, sf_dir, "customer")
    src = str(tmp_path / "enrich_src")
    events.write.parquet(src)
    stream = streamify(spark, src, events.schema)
    q = (
        enrich_events(stream, customers)
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM enrich_test").first().n
    assert got == events.count()
    # no event lost its dimension row (user_id ⊆ c_custkey in testdata)
    nulls = spark.sql("SELECT count(*) AS n FROM enrich_test WHERE c_mktsegment IS NULL").first().n
    assert nulls == 0


def test_foreachbatch_parquet_sink(spark, sf_dir, tmp_path):
    """foreachBatch deploy sink: micro-batches land as parquet appends;
    the materialized table equals the source."""
    from realestate_engine.registry import t as load_table
    from realestate_engine.streaming import streamify

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "febs_src")
    out = str(tmp_path / "febs_out")
    events.write.parquet(src)

    def sink(batch_df, epoch_id):
        # idempotent-per-epoch append (real deployments key the write
        # on epoch_id for exactly-once; one availableNow pass here)
        batch_df.write.mode("append").parquet(out)

    stream = streamify(spark, src, events.schema)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == events.count()


def test_q9_selective_dim_pushdown_and_broadcast(spark, sf_dir):
    """The %widget% filter must reach the part scan and every q9 join
    must be broadcast — the fact table never shuffles for a join."""
    plan = _plan(QUERIES["tpch_q9_product_profit"](spark, sf_dir))
    assert "StringContains(p_name,widget)" in plan
    tree = plan.split("\n\n")[0]  # operator tree only (details repeat names)
    assert tree.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_multi_distinct_uses_expand_not_selfjoin(spark, sf_dir):
    """A13's two DISTINCT aggregates plan as one Expand pass, not N
    scans glued by self-joins."""
    plan = _plan(QUERIES["a13_multi_distinct"](spark, sf_dir))
    assert "Expand" in plan
    assert "Join" not in plan


def test_null_safe_join_stays_hash_join(spark, sf_dir):
    """eqNullSafe must compile to a broadcast HASH join (null-safe
    equality is still an equi-key), never a nested loop."""
    plan = _plan(QUERIES["j4_null_safe_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_gapfill_window_reuses_join_partitioning(spark, sf_dir):
    """ts_gapfill_locf's LOCF window runs on the same user_id hash
    partitioning the gap-fill join produces — no extra exchange between
    join and window."""
    plan = _plan(QUERIES["ts_gapfill_locf"](spark, sf_dir))
    # exchanges budget: daily agg (user_id, day), span agg (user_id),
    # the gap-fill join re-key, and the output-order sort — the LOCF
    # Window adds NO exchange of its own on top of the join's layout
    tree = plan.split("\n\n")[0]  # operator tree only (details repeat names)
    assert tree.count("Window") == 1
    assert tree.count("Exchange") <= 4


def test_observe_metrics_single_pass(spark, sf_dir):
    """df.observe collects pipeline telemetry during the SAME pass that
    computes the result — no second scan. The observed metrics must
    equal a direct aggregation."""
    from pyspark.sql import Observation
    from realestate_engine.registry import t as load_table

    o = load_table(spark, sf_dir, "orders")
    obs = Observation("order_metrics")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
    )
    # drive the pass (noop write = full computation, no driver collect)
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    direct = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
    ).first()
    assert got["n_rows"] == direct.n_rows
    assert got["cents"] == direct.cents


def test_streaming_checkpoint_restart_no_reprocessing(spark, sf_dir, tmp_path):
    """Exactly-once across restarts: a file-source stream with a
    checkpoint processes half the input, stops, the other half lands,
    and a RESTARTED query (same checkpoint dir) picks up only the new
    files — the sink ends with every row exactly once. This is the
    operational property that lets a 100 TB/day ingest pipeline crash
    and resume without double-counting."""
    from realestate_engine.registry import t as load_table
    from realestate_engine.streaming import streamify

    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    half1 = events.where(F.col("event_id") % 2 == 0)
    half2 = events.where(F.col("event_id") % 2 == 1)
    src = str(tmp_path / "ckpt_src")
    sink = str(tmp_path / "ckpt_sink")
    ckpt = str(tmp_path / "ckpt_state")

    half1.write.mode("append").parquet(src)

    def run_once():
        stream = streamify(spark, src, events.schema)

        def append_batch(df, _epoch):
            df.write.mode("append").parquet(sink)

        q = stream.writeStream.foreachBatch(append_batch).option(
            "checkpointLocation", ckpt
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_once()
    n_after_first = spark.read.parquet(sink).count()
    assert n_after_first == half1.count()

    half2.write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(sink)
    assert got.count() == events.count()  # nothing dropped, nothing doubled
    assert got.select("event_id").distinct().count() == events.count()


def test_streaming_session_window_roundtrip(spark, sf_dir, tmp_path):
    """Session windows under a real stream: the same session_window
    expression the batch oracle checks, run via readStream with
    availableNow — append mode emits sessions closed by the watermark."""
    from realestate_engine.registry import t as load_table
    from realestate_engine.streaming import streamify

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "sess_src")
    events.write.parquet(src)
    stream = streamify(spark, src, events.schema)
    sessions = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("session_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS n FROM session_test").first().n
    batch_n = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .count()
    )
    assert 0 < got <= batch_n


def test_nested_struct_schema_pruning(spark, sf_dir, tmp_path):
    """Selecting one subfield of a struct column must prune the parquet
    ReadSchema to that subfield — at 100 TB reading a whole struct for
    one leaf is the difference between a narrow scan and the full
    payload (spark.sql.optimizer.nestedSchemaPruning.enabled, default
    on)."""
    out = str(tmp_path / "nested")
    spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.struct(
            F.col("o_totalprice").alias("price"),
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
        ).alias("payload"),
    ).write.mode("overwrite").parquet(out)
    df = spark.read.parquet(out).select("o_orderkey", F.col("payload.price"))
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    compact = plan.replace(" ", "")
    # pruned leaf present, sibling leaves absent from the scan schema
    assert "payload:struct<price:double>" in compact
    assert "priority" not in compact and "status" not in compact


def test_join_strategy_hints_control_physical_join(spark, sf_dir):
    """Join hints steer the physical strategy: SHUFFLE_HASH produces a
    ShuffledHashJoin, MERGE produces a SortMergeJoin — the manual
    overrides for when AQE's choice is wrong at scale (e.g. forcing
    hash when one side is known-small-per-partition but above the
    broadcast threshold)."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")

    hash_join = o.join(c.hint("SHUFFLE_HASH"), o.o_custkey == c.c_custkey)
    plan = hash_join._sc._jvm.PythonSQLUtils.explainString(
        hash_join._jdf.queryExecution(), "formatted"
    )
    assert "ShuffledHashJoin" in plan

    merge_join = o.join(c.hint("MERGE"), o.o_custkey == c.c_custkey)
    plan = merge_join._sc._jvm.PythonSQLUtils.explainString(
        merge_join._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan


def test_streaming_update_and_complete_modes(spark, sf_dir, tmp_path):
    """The other two output modes: complete re-emits the full aggregate
    table every trigger (bounded cardinality required); update emits
    only rows whose aggregate changed. Both must agree with the batch
    aggregate over the same input."""
    from realestate_engine.registry import t as load_table
    from realestate_engine.streaming import streamify

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "mode_src")
    events.write.parquet(src)
    stream = streamify(spark, src, events.schema)
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    q = (
        agg.writeStream.format("memory")
        .queryName("mode_complete")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.event_type: r.n for r in spark.sql("SELECT * FROM mode_complete").collect()
    }
    batch = {
        r.event_type: r.n
        for r in events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == batch

    q2 = (
        agg.writeStream.format("memory")
        .queryName("mode_update")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    # update mode emits the latest value per changed key; with one
    # availableNow pass the last emission per key equals the batch total
    upd = spark.sql(
        "SELECT event_type, max(n) AS n FROM mode_update GROUP BY event_type"
    ).collect()
    assert {r.event_type: r.n for r in upd} == batch


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """S24 plan contract: both sides scan their bucket files directly
    into the sort-merge join — zero ShuffleExchange nodes anywhere in
    the executed join plan, and the scans report Bucketed: true."""
    from realestate_engine.queries_sources_sql import bucketed_orders_lineitem_join

    j = bucketed_orders_lineitem_join(spark, sf_dir)
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    # AQE prints the initial plan alongside the final one, so the two
    # bucketed scans can appear twice each
    assert plan.count("Bucketed: true") >= 2


def test_stateful_running_totals_matches_batch(spark, sf_dir):
    """The availableNow streaming run's final per-user state equals the
    batch aggregate regardless of micro-batch slicing."""
    from realestate_engine.registry import QUERIES, t
    from pyspark.sql import functions as F

    got = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in QUERIES["st_stateful_running_totals"](spark, sf_dir).collect()
    }
    exp = {
        r["user_id"]: (r["n"], r["cents"])
        for r in (
            t(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            )
            .collect()
        )
    }
    assert got == exp


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Spark 4's runtime bloom-filter injection: a selective filter on
    the dim side of a shuffle join plants a bloom filter on the fact
    scan (might_contain(...) in the plan), skipping fact rows before
    the shuffle — the row-level sibling of dynamic partition pruning
    (s23). Default size thresholds target multi-GB scans, so the test
    lowers them; at 100 TB the defaults fire on their own."""
    from pyspark.sql import functions as F
    from realestate_engine.registry import t

    # creationSideThreshold is a MAXIMUM (the filtered dim must be
    # smaller than it — default 10MB already holds); the application
    # side must be LARGER than applicationSideScanSizeThreshold, whose
    # 10GB default is what keeps the filter off at test scale. And the
    # injector only fires for probable SHUFFLE joins — a broadcastable
    # creation side suppresses it (broadcast join already prunes), so
    # broadcast is disabled to reproduce the big-big join shape
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        o = (
            t(spark, sf_dir, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey", "o_orderpriority")
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        agg = j.groupBy("o_orderpriority").agg(F.sum("l_quantity").alias("qty"))
        rows = agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert len(rows) == 1
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_jpeg_codec_roundtrip_all_paths():
    """decode_jpeg must reconstruct encode_jpeg output within the
    quantization-error envelope on every bitstream variant the encoder
    can emit: 4:4:4, 4:2:0 box-subsampled chroma, restart markers, odd
    (non-multiple-of-8 / non-multiple-of-16) dimensions."""
    from realestate_engine.jpeg import decode_jpeg, encode_jpeg

    def gradient(w, h, seed):
        return bytes(
            v
            for y in range(h)
            for x in range(w)
            for v in (
                (x * 255) // max(w - 1, 1),
                (y * 255) // max(h - 1, 1),
                (seed * 37) % 256,
            )
        )

    cases = [
        (24, 16, {}),
        (13, 9, {}),  # odd dims: edge-replication blocks
        (24, 16, {"subsample": True}),
        (19, 13, {"subsample": True}),  # odd dims + 2x2 MCU geometry
        (48, 32, {"restart_interval": 2}),
        (48, 32, {"subsample": True, "restart_interval": 1}),
    ]
    for i, (w, h, kw) in enumerate(cases):
        rgb = gradient(w, h, i)
        payload = encode_jpeg(w, h, rgb, quality=85, **kw)
        assert payload[:3] == b"\xff\xd8\xff" and payload[-2:] == b"\xff\xd9"
        out = decode_jpeg(payload)
        assert (out["width"], out["height"], out["channels"]) == (w, h, 3)
        errs = [abs(out["rgb"][j] - rgb[j]) for j in range(len(rgb))]
        mae = sum(errs) / len(errs)
        bound = 6.0 if kw.get("subsample") else 3.0
        assert mae <= bound, (w, h, kw, mae)
        assert max(errs) <= 32, (w, h, kw, max(errs))
    # determinism: same input -> byte-identical bitstream (the property
    # the driver-checked mm_jpeg_roundtrip booleans rely on)
    a = encode_jpeg(24, 16, gradient(24, 16, 3), quality=85)
    b = encode_jpeg(24, 16, gradient(24, 16, 3), quality=85)
    assert a == b


def test_jpeg_decode_dispatch_and_rejects():
    """decode_image_stub routes JPEG magic to the real decoder, REAL
    progressive (SOF2) payloads decode identically to baseline, a
    baseline stream mislabeled SOF2 is rejected as an illegal scan
    script (not garbled), and SOF3 decodes for real — an illegal
    lossless scan (predictor selector 0) raises ValueError."""
    import pytest

    from realestate_engine.jpeg import decode_jpeg, encode_jpeg, encode_jpeg_progressive
    from realestate_engine.multimodal import decode_image_stub

    rgb = bytes((i * 7) % 256 for i in range(24 * 16 * 3))
    payload = encode_jpeg(24, 16, rgb, quality=85)
    feats = decode_image_stub(payload)
    assert feats["width"] == 24 and feats["height"] == 16 and feats["channels"] == 3
    assert "rgb" not in feats  # feature dict carries stats, not pixels
    assert feats["n_bytes"] == len(payload)

    # REAL progressive stream: decodes, and reconstructs bit-identically
    # to baseline (both successive-approximation chains run to Al=0)
    prog = encode_jpeg_progressive(24, 16, rgb, quality=85)
    assert decode_jpeg(prog)["rgb"] == decode_jpeg(payload)["rgb"]
    pfeats = decode_image_stub(prog)
    assert pfeats["width"] == 24 and pfeats["channels"] == 3

    # a BASELINE entropy stream mislabeled SOF2 has an illegal scan
    # script (progressive cannot mix the DC and AC bands in one scan)
    mangled = bytearray(payload)
    idx = mangled.find(b"\xff\xc0")
    mangled[idx + 1] = 0xC2
    with pytest.raises(ValueError):
        decode_image_stub(bytes(mangled))

    # a baseline stream relabeled SOF3 carries an illegal lossless scan
    # (predictor selector 0); REAL lossless streams decode exactly
    mangled[idx + 1] = 0xC3
    with pytest.raises(ValueError):
        decode_image_stub(bytes(mangled))

    from realestate_engine.jpeg import encode_jpeg_lossless

    gray = [(x * 3 + y * 5) % 256 for y in range(16) for x in range(24)]
    lossless = decode_jpeg(encode_jpeg_lossless(24, 16, gray))
    assert lossless["samples"] == gray and lossless["channels"] == 1
    lfeats = decode_image_stub(encode_jpeg_lossless(24, 16, gray))
    assert lfeats["width"] == 24 and "samples" not in lfeats


# --- round-10 plan-fix pins (VERDICT r10 #5) -------------------------


def _simple_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")


def _tree_col(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _broadcast_subtrees(plan: str) -> list[str]:
    """Each BroadcastExchange node's subtree (the relation being
    broadcast), extracted from the indentation of the tree string."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        col = _tree_col(line)
        sub = [line]
        for nxt in lines[i + 1:]:
            if nxt.strip() and _tree_col(nxt) <= col:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def test_rich_club_broadcasts_only_the_threshold_grid(spark, sf_dir):
    """Pin the round-10 broadcast-direction fix (graph.py): both
    threshold fan-outs must be BNLJ RightOuter building the 6-row
    k-grid (BuildRight), never the degree census. BNLJ, unlike BHJ,
    honors build-right for a right-outer join — a silent flip back to
    BuildLeft would ship the O(nodes) census to every executor."""
    plan = _simple_plan(QUERIES["graph_rich_club"](spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin BuildRight, RightOuter") == 2
    assert "BroadcastNestedLoopJoin BuildLeft" not in plan
    # each BNLJ's built (broadcast) side must be the grid's
    # IdentityBroadcastMode exchange over Scan ExistingRDD — never an
    # aggregate. (The inner equi joins elsewhere in the plan MAY
    # broadcast the node-sized census when stats say it is small;
    # that is the planner's call, not this regression.)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastNestedLoopJoin" not in line:
            continue
        col = _tree_col(line)
        sub = []
        for nxt in lines[i + 1:]:
            if nxt.strip() and _tree_col(nxt) <= col:
                break
            sub.append(nxt)
        exch = [j for j, s in enumerate(sub) if "BroadcastExchange" in s]
        assert exch, "BNLJ without a broadcast side?"
        built = "\n".join(sub[exch[-1]:])
        assert "IdentityBroadcastMode" in built.splitlines()[0]
        assert "Scan ExistingRDD" in built and "HashAggregate" not in built


def test_good_turing_broadcasts_only_the_bounded_census(spark, sf_dir):
    """Pin the round-10 bounded-census fix (tokenizers.py t33): the
    grid right-outer joins force BuildLeft, so the broadcast (left)
    side must be the f <= 21 slice of the frequency-of-frequencies
    census, never the unbounded O(sqrt N)-types census."""
    plan = _simple_plan(QUERIES["t33_good_turing"](spark, sf_dir))
    assert plan.count("RightOuter, BuildLeft") == 2
    for sub in _broadcast_subtrees(plan):
        # classify by the FIRST aggregate under the exchange: the
        # 1-row global agg (tot, keys=[]) is always bounded; a keyed
        # f-census broadcast must carry the grid bound beneath it
        first_agg = next(
            line for line in sub.splitlines() if "HashAggregate" in line
        )
        if "keys=[]" not in first_agg:
            assert "HashAggregate(keys=[f#" in first_agg
            assert "<= 21)" in sub


def test_q21_decorrelated_exists_scans_lineitem_twice(spark, sf_dir):
    """Pin the q21 decorrelation story (PLANS.md): per-order supplier
    cardinalities replace the EXISTS + NOT-EXISTS pair, so lineitem is
    scanned twice, not three times as in the naive correlated form."""
    plan = _simple_plan(QUERIES["tpch_q21_waiting_supplier"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 2


def test_a23_histogram_has_no_global_window(spark, sf_dir):
    """Pin the a23 scale shape: exact equi-depth cut points are computed
    distributed and broadcast as one row, then bucketing is a map-side
    expression — no NTILE and no Window operator anywhere (a global
    sort-based NTILE would serialize the corpus through one partition)."""
    plan = _simple_plan(QUERIES["a23_equidepth_histogram"](spark, sf_dir))
    # no Window operator at all — NTILE only exists as a window
    # function, so this subsumes the no-NTILE claim (and a textual
    # "ntile" probe would false-positive on perceNTILE, the aggregate
    # the query is SUPPOSED to use)
    assert "Window" not in plan
    assert "percentile" in plan.lower()


def test_minhash_lsh_never_goes_all_pairs(spark, sf_dir):
    """Pin the LSH no-all-pairs claim: candidate pairs come from banded
    bucket equi-joins, so the physical plan contains no nested-loop or
    cartesian join over the corpus."""
    plan = _simple_plan(QUERIES["dedup_minhash_lsh"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _cache_entries(plan, jvm, out: set[int]) -> set[int]:
    """Identities of the cache entries a Catalyst plan reads, including
    entries read inside other cached plans."""
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            _cache_entries(leaf.inputPlan(), jvm, out)
            continue
        if kind == "InMemoryTableScanExec":
            leaf = leaf.relation()
        elif kind != "InMemoryRelation":
            continue
        out.add(jvm.System.identityHashCode(leaf.cacheBuilder()))
        _cache_entries(leaf.cacheBuilder().cachedPlan(), jvm, out)
    return out


def _cache_builder(df):
    """The cache entry a cached relation's plan resolves to."""
    rel = df._jdf.queryExecution().withCachedData()
    assert rel.getClass().getSimpleName() == "InMemoryRelation"
    return rel.cacheBuilder()


def test_trade_graph_consumers_share_one_cached_edge_relation(spark, sf_dir):
    """The fifteen trade-graph operators all read ONE cached
    (src, dst, d) relation, trade_graph's, and none of them drops it
    (spark.sql's view binding in pagerank would, unguarded). ANF,
    k-core, Boruvka and matching checkpoint their rounds while they
    are built, so their final plans no longer read the edges; each
    build, from an empty session, must have filled the cache."""
    from realestate_engine.graph import trade_graph

    jvm = spark._jvm

    def entry():
        return _cache_builder(trade_graph(spark, sf_dir))

    for name in (
        "graph_anf_neighborhood", "graph_kcore", "graph_boruvka_msf",
        "graph_greedy_matching",
    ):
        reset(spark)
        QUERIES[name](spark, sf_dir)
        assert entry().isCachedColumnBuffersLoaded(), name
    shared = jvm.System.identityHashCode(entry())
    for name in (
        "graph_pagerank_trade", "graph_personalized_pagerank",
        "graph_label_propagation", "graph_modularity", "graph_link_prediction",
        "graph_bfs_hops", "graph_mis_luby", "graph_degree_assortativity",
        "graph_rich_club", "graph_deterministic_walks", "graph_degree_distribution",
    ):
        qe = QUERIES[name](spark, sf_dir)._jdf.queryExecution()
        assert shared in _cache_entries(qe.executedPlan(), jvm, set()), name
        assert jvm.System.identityHashCode(entry()) == shared, name


def test_part_graph_consumers_share_one_cached_relation_per_support(spark, sf_dir):
    """The clustering coefficient, k-truss and Adamic-Adar read ONE
    cached part_graph relation (min support _MIN_SUPPORT); triangle
    count reads its own (min support 1). k-truss checkpoints its
    rounds while it is built, so its build, from an empty session,
    must have filled the entry."""
    from realestate_engine.graph import _MIN_SUPPORT, part_graph

    jvm = spark._jvm

    def entry(min_support):
        return _cache_builder(part_graph(spark, sf_dir, min_support))

    reset(spark)
    QUERIES["graph_ktruss"](spark, sf_dir)
    assert entry(_MIN_SUPPORT).isCachedColumnBuffersLoaded()
    shared = jvm.System.identityHashCode(entry(_MIN_SUPPORT))
    for name in ("graph_clustering_coefficient", "graph_adamic_adar"):
        qe = QUERIES[name](spark, sf_dir)._jdf.queryExecution()
        assert shared in _cache_entries(qe.executedPlan(), jvm, set()), name
    qe = QUERIES["graph_triangle_count"](spark, sf_dir)._jdf.queryExecution()
    read = _cache_entries(qe.executedPlan(), jvm, set())
    raw = jvm.System.identityHashCode(entry(1))
    assert raw != shared
    assert raw in read and shared not in read
    assert jvm.System.identityHashCode(entry(_MIN_SUPPORT)) == shared


def test_reset_frees_checkpoints_and_rebuilds_the_session_store(spark, sf_dir):
    """reset(spark) frees what the session holds, including the
    localCheckpoint blocks of iterative queries and of the memoized
    cluster labels, which clearCache() alone leaves resident. The
    next build recomputes the same rows."""
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    before = QUERIES["dedup_clusters"](spark, sf_dir).collect()
    QUERIES["graph_mis_luby"](spark, sf_dir).collect()
    assert len(storage()) > 0
    reset(spark)
    assert len(storage()) == 0
    assert QUERIES["dedup_clusters"](spark, sf_dir).collect() == before


def test_input_width_without_local_files_is_default_parallelism(spark, tmp_path, monkeypatch):
    """A path with no local files (a missing directory, a remote URI)
    has an unknown size, not a tiny one: input_width gives
    defaultParallelism there, never a silent 1. Local bytes still
    drive the width."""
    from realestate_engine.registry import input_width

    monkeypatch.delenv("SPARK_GRAFT_BATCH_PARTS", raising=False)
    cores = spark.sparkContext.defaultParallelism
    for missing in (str(tmp_path / "missing"), "s3a://bucket/sf1"):
        assert input_width(spark, missing, "orders", "lineitem", mb_per_part=8) == cores
    (tmp_path / "orders.parquet").write_bytes(b"x")
    assert input_width(spark, str(tmp_path), "orders", "lineitem", mb_per_part=8) == 1
