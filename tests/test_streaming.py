"""Structured Streaming: stream results must equal their batch
equivalents (backfill == live property), and the bucketed sink must route
documents like the reference's BucketedMongoDBSink."""

from __future__ import annotations

import glob
import os

import pytest
import pyspark.sql.functions as F

from conftest import SF_SMOKE

from mongo_hadoop_spark.session import table
from mongo_hadoop_spark.streaming import (
    BucketedDocumentSink, stream_sessionized, stream_tumbling_counts,
    streaming_events_source,
)
from mongo_hadoop_spark.streaming.jobs import stream_dedup_events
from mongo_hadoop_spark.store import DocumentStore


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events as a multi-file parquet directory (a streaming landing zone)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    table(spark, SF_SMOKE, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def run_to_completion(stream_df, out_mode: str, tmp_path) -> list:
    q = (
        stream_df.writeStream.format("memory")
        .queryName("t_out")
        .outputMode(out_mode)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    spark = stream_df.sparkSession
    return spark.sql("select * from t_out").collect()


def test_stream_tumbling_equals_batch(spark, events_dir, tmp_path):
    stream = stream_tumbling_counts(streaming_events_source(spark, events_dir))
    got = {(r.window_start, r.event_type): r.cnt
           for r in run_to_completion(stream, "append", tmp_path)}

    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "21600 seconds").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "event_type", "cnt")
    )
    want = {(r.ws, r.event_type): r.cnt for r in batch.collect()}
    # watermark may hold back the final windows in availableNow append mode;
    # everything emitted must match the batch result exactly
    assert got
    for k, v in got.items():
        assert want.get(k) == v, k
    assert len(got) >= len(want) - 20


def test_stream_sessions_equal_batch(spark, events_dir, tmp_path):
    stream = stream_sessionized(streaming_events_source(spark, events_dir))
    got = {(r.user_id, r.session_start): r.n_events
           for r in run_to_completion(stream, "append", tmp_path)}

    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.session_window("ts", "1800 seconds").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.unix_timestamp("w.start").alias("ss"), "n_events")
    )
    want = {(r.user_id, r.ss): r.n_events for r in batch.collect()}
    assert got
    for k, v in got.items():
        assert want.get(k) == v, k


def test_stateful_user_totals_across_batches(spark, events_dir, tmp_path):
    from mongo_hadoop_spark.streaming import stream_stateful_user_totals

    # one file per micro-batch → state must carry across 4 batches
    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    q = (
        stream_stateful_user_totals(src)
        .writeStream.format("memory").queryName("t_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # last emission per user = final running totals
    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            "select user_id, n_events, total_value from ("
            " select *, row_number() over (partition by user_id order by n_events desc) rn"
            " from t_state) where rn = 1"
        ).collect()
    }
    batch = {
        r.user_id: (r.n, r.t)
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert final.keys() == batch.keys()
    for u, (n, t) in batch.items():
        assert final[u][0] == n
        assert abs(final[u][1] - t) < 1e-6


def test_watermark_drops_late_event(spark, tmp_path):
    """Event-time correctness: with a 1-hour watermark, an event arriving
    a batch later but 10 hours behind the stream's max timestamp falls
    into an already-finalized window and is dropped from append output.
    File order is pinned via mtimes + maxFilesPerTrigger=1."""
    import datetime as dt
    import os
    import time as _t

    src_dir = str(tmp_path / "late_events")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")
        tmp = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob, shutil
        os.makedirs(src_dir, exist_ok=True)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        dest = os.path.join(src_dir, name)
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    def run_stream():
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string")
            .parquet(src_dir)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "3600 seconds").alias("w"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.unix_timestamp("w.start").alias("ws"), "cnt")
        )
        out_dir = str(tmp_path / "late_out")

        def collect_batch(bdf, bid):
            bdf.write.mode("append").parquet(out_dir)

        q = (agg.writeStream.foreachBatch(collect_batch)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck_late"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return out_dir

    now = _t.time()
    # run 1: on-time events spanning 24h → watermark persisted at 22:00
    write_file("f1.parquet", [
        (i, base + dt.timedelta(hours=i), 1, "view", 1.0, "{}")
        for i in range(24)
    ], now - 100)
    run_stream()
    # run 2 (same checkpoint): one event 10h behind the watermark + a fresh
    # one — separate micro-batch by construction
    write_file("f2.parquet", [
        (100, base + dt.timedelta(hours=13), 1, "view", 1.0, "{}"),  # LATE
        (101, base + dt.timedelta(hours=30), 1, "view", 1.0, "{}"),  # fresh
    ], now - 50)
    out_dir = run_stream()
    got = {r.ws: r.cnt for r in spark.read.parquet(out_dir).collect()}
    late_window = int((base + dt.timedelta(hours=13)).timestamp() // 3600 * 3600)
    # the hour-13 window was emitted with ONLY the on-time event — the
    # late duplicate was dropped by the watermark
    assert got.get(late_window) == 1, got


def test_stream_to_store_upsert_pipeline(spark, events_dir, tmp_path):
    """Full ingest pipeline: stream → tumbling window agg → foreachBatch
    upsert of window rollups into the document store (the Flume-sink +
    sensors-rollup composition).  Re-running the stream from scratch must
    leave the same rollups (upsert idempotence on window keys)."""
    from mongo_hadoop_spark.sinks import UpdateSpec, write_documents
    from mongo_hadoop_spark.streaming import (
        stream_tumbling_counts, streaming_events_source,
    )

    store_path = str(tmp_path / "rollupdb")

    def sink(batch_df, batch_id):
        write_documents(
            batch_df, store_path, "window_rollups", mode="update",
            update_builder=lambda doc: UpdateSpec(
                {"window_start": doc["window_start"], "event_type": doc["event_type"]},
                {"$set": {"cnt": doc["cnt"]}},
                upsert=True,
            ),
        )

    def run(ckpt):
        q = (
            stream_tumbling_counts(streaming_events_source(spark, events_dir))
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run("ck1")
    store = DocumentStore(store_path)
    first = {(d["window_start"], d["event_type"]): d["cnt"]
             for d in store.collection("window_rollups").find()}
    assert first
    run("ck2")  # full replay → upserts overwrite, no duplicates
    second = {(d["window_start"], d["event_type"]): d["cnt"]
              for d in store.collection("window_rollups").find()}
    assert second == first
    # spot-check one rollup against batch
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "21600 seconds").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.unix_timestamp("w.start").alias("ws"), "event_type", "cnt")
    )
    want = {(r.ws, r.event_type): r.cnt for r in batch.collect()}
    for k, v in first.items():
        assert want[k] == v


def test_sql_ddl_using_mongodoc(spark, tmp_path):
    """Hive-DDL-style table creation over the datasource:
    CREATE TEMPORARY VIEW ... USING mongodoc OPTIONS (...) — the Spark
    analog of STORED BY MongoStorageHandler (SURVEY §3.2)."""
    from mongo_hadoop_spark.sources import register

    register(spark)
    store = DocumentStore(str(tmp_path / "ddldb"))
    store.collection("t").insert_many(
        [{"_id": i, "grp": i % 4, "x": float(i)} for i in range(80)]
    )
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY VIEW ddl_t
        USING mongodoc
        OPTIONS (path '{store.path}', collection 't')
    """)
    got = spark.sql(
        "SELECT grp, count(*) AS n, sum(x) AS sx FROM ddl_t GROUP BY grp ORDER BY grp"
    ).collect()
    assert [(r.grp, r.n) for r in got] == [(0, 20), (1, 20), (2, 20), (3, 20)]


def test_bucketed_sink_routing(spark, events_dir, tmp_path):
    store_path = str(tmp_path / "streamdb")
    sink = BucketedDocumentSink(store_path, "events_{event_type}_%Y%m%d")
    q = (
        streaming_events_source(spark, events_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    store = DocumentStore(store_path)
    colls = store.list_collections()
    assert colls, "no bucket collections written"
    assert all(c.startswith("events_") for c in colls)
    # routing correct: every doc in a bucket matches the bucket name
    total = 0
    for c in colls:
        _, etype, day = c.rsplit("_", 2)
        docs = store.collection(c).find()
        total += len(docs)
        for d in docs[:5]:
            assert d["event_type"] == etype
            assert d["ts"].strftime("%Y%m%d") == day
    assert total == spark.read.parquet(events_dir).count()


def test_stateful_user_totals_tws_across_batches(spark, events_dir, tmp_path):
    """transformWithStateInPandas variant: identical final running totals
    across 4 micro-batches (RocksDB state store required by the API)."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState's Python runner speaks protobuf to the "
               "JVM; protobuf is not installed in this environment",
    )
    from mongo_hadoop_spark.streaming import stream_stateful_user_totals_tws

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(events_dir)
        )
        q = (
            stream_stateful_user_totals_tws(src)
            .writeStream.format("memory").queryName("t_tws")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)

    final = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            "select user_id, n_events, total_value from ("
            " select *, row_number() over (partition by user_id order by n_events desc) rn"
            " from t_tws) where rn = 1"
        ).collect()
    }
    batch = {
        r.user_id: (r.n, r.t)
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert final.keys() == batch.keys()
    for u, (n, t) in batch.items():
        assert final[u][0] == n
        assert abs(final[u][1] - t) < 1e-6


def test_bucketed_sink_high_cardinality_no_driver_list(spark, tmp_path):
    """A unique-per-row template column must not blow up the driver: the
    sink routes per-partition (no distinct-collect of bucket names)."""
    store_path = str(tmp_path / "hcdb")
    df = spark.range(200).select(
        F.col("id"), F.concat(F.lit("u"), F.col("id")).alias("uid"),
        F.lit("2024-01-02 03:04:05").cast("timestamp").alias("ts"),
    )
    sink = BucketedDocumentSink(store_path, "b_{uid}", num_partitions=4)
    sink(df, batch_id=0)
    store = DocumentStore(store_path)
    assert len(store.list_collections()) == 200


def test_bucketed_sink_max_buckets_cap(spark, tmp_path):
    store_path = str(tmp_path / "capdb")
    df = spark.range(50).select(
        F.col("id"), F.concat(F.lit("u"), F.col("id")).alias("uid"),
        F.lit("2024-01-02 03:04:05").cast("timestamp").alias("ts"),
    )
    sink = BucketedDocumentSink(store_path, "b_{uid}", max_buckets=10)
    with pytest.raises(ValueError, match="more than 10 distinct buckets"):
        sink(df, batch_id=0)
    # under the cap: writes proceed
    ok = BucketedDocumentSink(store_path, "fixed_{ts}", max_buckets=10)
    ok(df, batch_id=1)
    assert DocumentStore(store_path).list_collections()


def test_stream_dedup_events_collapses_redeliveries(spark, events_dir, tmp_path):
    """Duplicated input files (at-least-once redelivery) dedup to the
    batch-distinct result."""
    import shutil

    dup_dir = str(tmp_path / "dup_events")
    os.makedirs(dup_dir)
    for i, f in enumerate(sorted(glob.glob(events_dir + "/*.parquet"))):
        shutil.copy(f, os.path.join(dup_dir, f"a{i}.parquet"))
        shutil.copy(f, os.path.join(dup_dir, f"b{i}.parquet"))

    out = (
        stream_dedup_events(streaming_events_source(spark, dup_dir))
        .writeStream.format("memory").queryName("dedup_ev")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True).start()
    )
    out.awaitTermination(180)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_ev").collect()[0]
    expect = spark.read.parquet(events_dir).select("event_id").distinct().count()
    assert got.n == got.d == expect


def test_stream_dedup_content(spark, events_dir, tmp_path):
    from mongo_hadoop_spark.streaming.jobs import stream_dedup_content

    out = (
        stream_dedup_content(streaming_events_source(spark, events_dir))
        .writeStream.format("memory").queryName("dedup_ct")
        .option("checkpointLocation", str(tmp_path / "ckpt_dc"))
        .trigger(availableNow=True).start()
    )
    out.awaitTermination(180)
    n = spark.sql("SELECT count(*) FROM dedup_ct").collect()[0][0]
    batch = spark.read.parquet(events_dir)
    expect = (batch.select(F.md5(F.concat_ws("\x1f", "user_id", "event_type",
                                             "value", "props")).alias("h"))
              .distinct().count())
    assert n == expect


@pytest.fixture(scope="module")
def orders_dir(spark, tmp_path_factory):
    """An order stream in the SAME time range as the event stream: the
    synthetic orders table lives in 1995-2001 while events live in 2024,
    so a time-interval join between them would be vacuously empty.
    Purchases make a realistic order-stream stand-in (order placed at the
    purchase instant)."""
    import pyspark.sql.functions as F

    d = str(tmp_path_factory.mktemp("orders_stream"))
    (table(spark, SF_SMOKE, "events")
     .where(F.col("event_type") == "purchase")
     .select(F.col("event_id").alias("o_orderkey"),
             F.col("user_id").alias("o_custkey"),
             F.lit("O").alias("o_orderstatus"),
             F.col("value").alias("o_totalprice"),
             F.col("ts").alias("o_orderdate"),
             F.lit("1-URGENT").alias("o_orderpriority"))
     .repartition(4).write.mode("overwrite").parquet(d))
    return d


def test_stream_stream_interval_join_equals_batch(spark, events_dir, orders_dir,
                                                  tmp_path):
    """Stream-stream interval join (watermarks both sides + event-time
    bound) must produce exactly the batch join's rows once both streams
    are fully consumed."""
    from mongo_hadoop_spark.streaming.jobs import (
        stream_join_events_orders, streaming_events_source,
        streaming_orders_source)

    stream = stream_join_events_orders(
        streaming_events_source(spark, events_dir),
        streaming_orders_source(spark, orders_dir))
    got = run_to_completion(stream, "append", tmp_path)

    batch = stream_join_events_orders(
        spark.read.parquet(events_dir), spark.read.parquet(orders_dir))
    want = batch.collect()
    assert len(got) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_stream_stream_join_requires_watermark_state_bound(spark, events_dir,
                                                           orders_dir):
    """The interval join plan must carry watermarks on both inputs — the
    state-eviction precondition (guards against someone dropping one)."""
    from mongo_hadoop_spark.streaming.jobs import (
        stream_join_events_orders, streaming_events_source,
        streaming_orders_source)

    stream = stream_join_events_orders(
        streaming_events_source(spark, events_dir),
        streaming_orders_source(spark, orders_dir))
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2


def test_stream_foreachbatch_upserts_into_live_collection(spark, events_dir,
                                                          tmp_path):
    """Streaming → live-backend topology: each micro-batch journals
    per-type count mutations and the committer replays them through the
    pymongo-protocol server as ordered bulk upserts ($inc accumulates
    across micro-batches)."""
    import pyspark.sql.functions as F

    from fake_mongo import FakeCollection
    from mongo_hadoop_spark.sinks.live import commit_updates_live
    from mongo_hadoop_spark.sinks.writers import (journal_updates,
                                                  template_update_builder)
    from mongo_hadoop_spark.store import DocumentStore
    from mongo_hadoop_spark.streaming.jobs import streaming_events_source

    store = DocumentStore(str(tmp_path / "db_live_stream"))
    live = FakeCollection("type_counts")
    builder = template_update_builder(
        {"_id": "$event_type"}, {"$inc": {"n": "$cnt"}}, upsert=True)

    def sink(batch_df, batch_id):
        agg = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"))
        journal_updates(agg, store.path, "type_counts", builder)
        commit_updates_live(store.path, "type_counts", live)

    src = (spark.readStream.schema(
               "event_id long, ts timestamp, user_id long, "
               "event_type string, value double, props string")
           .option("maxFilesPerTrigger", 1)  # force several micro-batches
           .parquet(events_dir))
    q = (src.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt_live"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    from mongo_hadoop_spark.session import table
    from tests.conftest import SF_SMOKE
    want = {r.event_type: r.cnt for r in
            table(spark, SF_SMOKE, "events")
            .groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
            .collect()}
    got = {d["_id"]: d["n"] for d in live.find()}
    assert got == want
    # multiple micro-batches actually exercised the $inc accumulation
    assert sum(1 for c in live.calls if c[0] == "bulk_write") >= 2


def test_stream_heavy_hitter_candidates_superset_of_batch(spark, tmp_path):
    """The streaming MG candidate union (after the whole stream) must
    contain every exact batch heavy hitter — the no-false-negatives
    guarantee that makes the batch operator's pruning lossless."""
    from mongo_hadoop_spark.operators.textstats import (HH_PHI,
                                                        text_heavy_hitters)
    from mongo_hadoop_spark.streaming.jobs import \
        stream_heavy_hitter_candidates

    docs_dir = str(tmp_path / "docs_stream")
    (table(spark, SF_SMOKE, "documents").repartition(4)
     .write.mode("overwrite").parquet(docs_dir))
    src = (spark.readStream.schema(
               "doc_id long, text string, lang string, source string, "
               "n_chars long")
           .option("maxFilesPerTrigger", 1)  # several micro-batches
           .parquet(docs_dir))
    from mongo_hadoop_spark.functions import tokenize
    tokens = src.select(F.explode(tokenize("text")).alias("w"))

    q = (stream_heavy_hitter_candidates(tokens)
         .writeStream.format("memory").queryName("t_hh")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_hh"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    # latest emission per shard = final summaries; union their tokens
    streamed = {
        r.w for r in spark.sql(
            "select w from (select *, row_number() over "
            " (partition by shard, w order by mg_count desc) rn from t_hh)"
            " where rn = 1").collect()
    }
    exact = {r.w for r in text_heavy_hitters(spark, SF_SMOKE).collect()}
    assert exact, "batch heavy hitters unexpectedly empty"
    assert exact <= streamed, sorted(exact - streamed)[:10]


@pytest.fixture(scope="module")
def documents_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("documents_stream"))
    (table(spark, SF_SMOKE, "documents").repartition(4)
     .write.mode("overwrite").parquet(d))
    return d


def test_stream_train_split_routes_equal_batch(spark, documents_dir, tmp_path):
    """The corpus pipeline runs incrementally: the streaming train/valid/
    test router (content-keyed, foreachBatch via BucketedDocumentSink)
    must land every document in the same split collection the batch
    operator assigns it to."""
    from mongo_hadoop_spark.operators.analytics import documents_train_split
    from mongo_hadoop_spark.streaming.jobs import (stream_train_split,
                                                   streaming_documents_source)

    store_path = str(tmp_path / "routed")
    sink = BucketedDocumentSink(store_path, "corpus_{split}",
                                num_partitions=2, max_buckets=3)
    q = (stream_train_split(streaming_documents_source(spark, documents_dir))
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    batch = {r["doc_id"]: r["split"]
             for r in documents_train_split(spark, SF_SMOKE).collect()}
    store = DocumentStore(store_path)
    routed = {}
    for split in ("train", "valid", "test"):
        for d in store.collection(f"corpus_{split}").find():
            assert d["doc_id"] not in routed  # routed exactly once
            routed[d["doc_id"]] = split
    assert routed == batch
    assert set(batch.values()) == {"train", "valid", "test"}


def test_stream_gopher_filter_equals_batch(spark, documents_dir, tmp_path):
    """The Gopher quality gate is a stateless map, so its streaming form
    is the operator itself on a streaming frame — stream == batch."""
    from mongo_hadoop_spark.operators.textstats import text_gopher_quality
    from mongo_hadoop_spark.streaming.jobs import streaming_documents_source

    import mongo_hadoop_spark.operators.textstats as ts
    import pyspark.sql.functions as SF
    from mongo_hadoop_spark.functions import tokenize

    src = streaming_documents_source(spark, documents_dir)
    # same expression pipeline applied to the stream
    d = src.select("doc_id", "text", tokenize("text").alias("ws"))
    n_words = SF.size("ws")
    stream_df = d.select("doc_id", n_words.alias("n_words"),
                         ((n_words >= ts.GOPHER_MIN_WORDS)
                          & (n_words <= ts.GOPHER_MAX_WORDS)).alias("wc_ok"))
    q = (stream_df.writeStream.format("memory").queryName("gq")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "gckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = {r["doc_id"]: (r["n_words"], r["wc_ok"])
                for r in spark.sql("select * from gq").collect()}
    batch = {r["doc_id"]: (r["n_words"], r["wc_ok"])
             for r in text_gopher_quality(spark, SF_SMOKE)
             .select("doc_id", "n_words", "wc_ok").collect()}
    assert streamed == batch


def test_stream_cms_cells_equal_batch(spark, documents_dir, tmp_path):
    """Linearity in-stream: the cumulative CMS cell table after consuming
    all micro-batches equals the batch sketch of the same documents."""
    from mongo_hadoop_spark.functions import tokenize
    from mongo_hadoop_spark.operators.sketches import _cms_cells
    from mongo_hadoop_spark.streaming.jobs import (
        stream_cms_cells, streaming_documents_source,
    )

    stream = stream_cms_cells(streaming_documents_source(spark, documents_dir))
    q = (stream.writeStream.format("memory").queryName("cms_out")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.row, r.col): r.cnt
           for r in spark.sql("select * from cms_out").collect()}
    docs = spark.read.parquet(documents_dir)
    want = {(r.row, r.col): r.cnt
            for r in _cms_cells(
                docs.select(F.explode(tokenize("text")).alias("term"))
            ).collect()}
    assert got == want and len(got) > 0


def test_stream_pipeline_quality_gate_equals_batch(spark, documents_dir,
                                                   tmp_path):
    """The Mongo pipeline language runs incrementally for its stateless
    subset: a $jsonSchema quality gate + $addFields + $project applied
    via aggregate_stream must equal the batch compiler on the same data."""
    from mongo_hadoop_spark.plans.aggpipe import aggregate
    from mongo_hadoop_spark.session import table
    from mongo_hadoop_spark.streaming.jobs import (aggregate_stream,
                                                   streaming_documents_source)

    pipeline = [
        {"$match": {"$jsonSchema": {
            "required": ["doc_id", "text"],
            "properties": {"n_chars": {"minimum": 120, "maximum": 420},
                           "lang": {"enum": ["en", "de", "fr"]}}}}},
        {"$addFields": {"flag": {"$cond": [
            {"$gte": ["$n_chars", 300]}, "long", "short"]}}},
        {"$project": {"doc_id": 1, "lang": 1, "flag": 1}},
    ]
    src = streaming_documents_source(spark, documents_dir)
    q = (aggregate_stream(src, pipeline)
         .writeStream.format("memory").queryName("pq").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "pq_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = {r["doc_id"]: (r["lang"], r["flag"])
                for r in spark.sql("select * from pq").collect()}
    batch = {r["doc_id"]: (r["lang"], r["flag"])
             for r in aggregate(table(spark, SF_SMOKE, "documents"),
                                pipeline).collect()}
    assert streamed == batch and len(batch) > 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="not streaming-safe"):
        aggregate_stream(src, [{"$sort": {"doc_id": 1}}])


def test_stream_match_operators_equal_batch(spark, documents_dir, tmp_path):
    """Round-5 find-language operators ($mod, $bits*, $type) are per-row
    predicates, hence streaming-safe through aggregate_stream: the
    streamed result must equal the batch compiler's."""
    from mongo_hadoop_spark.plans.aggpipe import aggregate
    from mongo_hadoop_spark.session import table
    from mongo_hadoop_spark.streaming.jobs import (aggregate_stream,
                                                   streaming_documents_source)

    pipeline = [
        {"$match": {"doc_id": {"$mod": [7, 2]},
                    "n_chars": {"$bitsAnySet": 3},
                    "lang": {"$type": "string"}}},
        {"$project": {"doc_id": 1, "lang": 1}},
    ]
    src = streaming_documents_source(spark, documents_dir)
    q = (aggregate_stream(src, pipeline)
         .writeStream.format("memory").queryName("mq").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "mq_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = {r["doc_id"]: r["lang"]
                for r in spark.sql("select * from mq").collect()}
    batch = {r["doc_id"]: r["lang"]
             for r in aggregate(table(spark, SF_SMOKE, "documents"),
                                pipeline).collect()}
    assert streamed == batch and len(batch) > 0


def test_stream_ddq_sketch_merge_equals_batch(spark, tmp_path):
    """The DDQ quantile sketch is mergeable by summing bucket counts —
    so per-micro-batch sketches folded in foreachBatch equal the batch
    sketch of the whole stream (the 1000-executor / 100 TB merge story
    in miniature)."""
    import pyspark.sql.functions as F
    from mongo_hadoop_spark.operators.sketches import ddq_sketch
    from mongo_hadoop_spark.session import table

    events_dir = str(tmp_path / "ev_stream")
    (table(spark, SF_SMOKE, "events").select("event_id", "value")
     .repartition(5).write.mode("overwrite").parquet(events_dir))
    src = (spark.readStream.schema("event_id long, value double")
           .option("maxFilesPerTrigger", 2).parquet(events_dir))

    merged: dict = {}

    def fold(batch_df, _bid):
        for r in ddq_sketch(batch_df, F.col("value")).collect():
            key = (r.bucket_id, r.lo_cents)
            merged[key] = merged.get(key, 0) + r.cnt

    q = (src.writeStream.foreachBatch(fold)
         .option("checkpointLocation", str(tmp_path / "ddq_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    batch = {(r.bucket_id, r.lo_cents): r.cnt
             for r in ddq_sketch(table(spark, SF_SMOKE, "events"),
                                 F.col("value")).collect()}
    assert merged == batch and len(batch) > 0


def test_stream_quality_gate_equals_batch(spark, documents_dir, tmp_path):
    """The Gopher gate is stateless-map, so the streaming verdict for
    every document must be identical to the batch operator's."""
    from mongo_hadoop_spark.operators.textstats import text_gopher_quality
    from mongo_hadoop_spark.streaming.jobs import (
        stream_quality_gate, streaming_documents_source,
    )

    out = str(tmp_path / "gate_out")
    q = (stream_quality_gate(streaming_documents_source(spark, documents_dir))
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "gate_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r["doc_id"]: (r["keep"], r["n_words"])
           for r in spark.read.parquet(out).collect()}
    want = {r["doc_id"]: (r["keep"], r["n_words"])
            for r in text_gopher_quality(spark, SF_SMOKE).collect()}
    assert got == want
    assert any(k for k, _ in got.values()) and not all(
        k for k, _ in got.values())   # the gate discriminates


def test_stream_crawl_classify_equals_batch(spark, documents_dir, tmp_path):
    """Incremental-crawl dedup runs as a stream: classifying arriving
    new-crawl micro-batches against a fixed seen-corpus index must give
    every document the exact verdict the batch operator assigns —
    regardless of which micro-batch delivered it (maxFilesPerTrigger=2
    over 4 files forces multiple triggers)."""
    import pyspark.sql.functions as F

    from mongo_hadoop_spark.operators.dedup import (
        CRAWL_MOD, build_seen_index, corpus_crawl_increment,
    )
    from mongo_hadoop_spark.streaming.jobs import (
        stream_crawl_classify, streaming_documents_source,
    )

    seen = build_seen_index(
        table(spark, SF_SMOKE, "documents")
        .where(F.col("doc_id") % CRAWL_MOD != 0))
    out = str(tmp_path / "crawl_out")
    new_stream = (streaming_documents_source(spark, documents_dir)
                  .where(F.col("doc_id") % CRAWL_MOD == 0))
    q = (new_stream.writeStream
         .foreachBatch(stream_crawl_classify(seen, out))
         .option("checkpointLocation", str(tmp_path / "crawl_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {r["doc_id"]: r["verdict"]
           for r in spark.read.parquet(out).collect()}
    want = {r["doc_id"]: r["verdict"]
            for r in corpus_crawl_increment(spark, SF_SMOKE).collect()}
    assert got == want
    assert len(set(got.values())) > 1   # the classifier discriminates


def test_stream_geofence_equals_batch(spark, events_dir, tmp_path):
    """The spherical geofence is a stateless map-filter, so every event
    kept by the stream must match the batch application exactly —
    including the polynomial radian distance bit-for-bit."""
    from mongo_hadoop_spark.streaming.jobs import (
        stream_geofence, streaming_events_source,
    )

    center, radius = (-50.0, -80.0), 0.15
    got = run_to_completion(
        stream_geofence(streaming_events_source(spark, events_dir),
                        center, radius),
        "append", tmp_path)
    want = stream_geofence(
        spark.read.parquet(events_dir), center, radius).collect()
    assert {(r["event_id"], r["dist_rad"]) for r in got} == \
        {(r["event_id"], r["dist_rad"]) for r in want}
    assert 0 < len(got) < spark.read.parquet(events_dir).count()


def test_stream_bpe_tokenize_equals_batch(spark, documents_dir, tmp_path):
    """Applying the trained BPE merge table on a stream must reproduce
    the batch tokenizer exactly: per-doc token counts from the
    per-word replace cascade equal the word-table-join counts that
    corpus_bpe_compression aggregates (summed per lang here)."""
    from mongo_hadoop_spark.operators.bpe import (
        corpus_bpe_compression, corpus_bpe_merges)
    from mongo_hadoop_spark.streaming.jobs import (
        stream_bpe_tokenize, streaming_documents_source)

    merges = [r["pair"]
              for r in corpus_bpe_merges(spark, SF_SMOKE).collect()]
    assert merges
    got = run_to_completion(
        stream_bpe_tokenize(streaming_documents_source(spark, documents_dir),
                            merges),
        "append", tmp_path)
    batch = stream_bpe_tokenize(spark.read.parquet(documents_dir),
                                merges).collect()
    assert {(r["doc_id"], r["n_words"], r["n_bpe_tokens"]) for r in got} \
        == {(r["doc_id"], r["n_words"], r["n_bpe_tokens"]) for r in batch}
    # and the per-lang sums equal the independent batch path
    want = {(r["lang"], r["n_words"], r["n_bpe_tokens"])
            for r in corpus_bpe_compression(spark, SF_SMOKE).collect()}
    agg = {}
    for r in got:
        nw, nt = agg.get(r["lang"], (0, 0))
        agg[r["lang"]] = (nw + r["n_words"], nt + r["n_bpe_tokens"])
    assert {(k, *v) for k, v in agg.items()} == want


def test_stream_chunk_and_fim_equal_batch(spark, documents_dir, tmp_path):
    """The chunker and the FIM transform are stateless per-doc maps:
    the streaming runs must reproduce the batch cores row-for-row."""
    from mongo_hadoop_spark.operators.textstats import (
        chunk_windows, fim_transform)
    from mongo_hadoop_spark.streaming.jobs import (
        stream_chunk_windows, stream_fim_transform,
        streaming_documents_source)

    static = spark.read.parquet(documents_dir)
    got_c = run_to_completion(
        stream_chunk_windows(streaming_documents_source(spark, documents_dir)),
        "append", tmp_path / "c")
    want_c = chunk_windows(static).collect()
    key = lambda r: (r["doc_id"], r["chunk_idx"])  # noqa: E731
    assert sorted(((key(r), r["chunk_off"], r["chunk_text"])
                   for r in got_c)) == \
        sorted(((key(r), r["chunk_off"], r["chunk_text"]) for r in want_c))
    got_f = run_to_completion(
        stream_fim_transform(streaming_documents_source(spark, documents_dir)),
        "append", tmp_path / "f")
    want_f = fim_transform(static).collect()
    pick = lambda r: (r["doc_id"], r["fim_applied"], r["cut_lo"],  # noqa: E731
                      r["cut_hi"], r["train_text"])
    assert sorted(map(pick, got_f)) == sorted(map(pick, want_f))


def test_stream_span_classify_equals_batch(spark, documents_dir, tmp_path):
    """Span-level incremental dedup runs as a stream: scoring arriving
    micro-batches against a fixed seen-corpus fingerprint index must
    give every document the exact (n_fps, n_seen_fps, seen_frac, keep)
    the batch operator assigns — regardless of which micro-batch
    delivered it."""
    import pyspark.sql.functions as F

    from mongo_hadoop_spark.operators.spans import (
        SPAN_SEEN_MOD, corpus_span_increment, seen_span_fingerprints,
    )
    from mongo_hadoop_spark.streaming.jobs import (
        stream_span_classify, streaming_documents_source,
    )

    seen_fps = seen_span_fingerprints(
        table(spark, SF_SMOKE, "documents")
        .where(F.col("doc_id") % SPAN_SEEN_MOD != 0)).persist()
    out = str(tmp_path / "span_out")
    new_stream = (streaming_documents_source(spark, documents_dir)
                  .where(F.col("doc_id") % SPAN_SEEN_MOD == 0))
    q = (new_stream.writeStream
         .foreachBatch(stream_span_classify(seen_fps, out))
         .option("checkpointLocation", str(tmp_path / "span_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {r["doc_id"]: (r["n_fps"], r["n_seen_fps"], r["seen_frac"],
                         r["keep"])
           for r in spark.read.parquet(out).collect()}
    want = {r["doc_id"]: (r["n_fps"], r["n_seen_fps"], r["seen_frac"],
                          r["keep"])
            for r in corpus_span_increment(spark, SF_SMOKE).collect()}
    assert got == want
    assert len({k for *_, k in got.values()}) >= 1
    assert any(n > 0 for _, n, _, _ in got.values())  # index actually hits
