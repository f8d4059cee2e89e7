"""Source/sink coverage (SURVEY.md §2.2 Scans/Sinks rows): batch parquet
round trip (partitioned), CSV/JSON batch sources, streaming parquet
sink, Kinesis connector config mapping, and the applyInPandasWithState
custom stateful operator."""

from __future__ import annotations

import datetime
import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from kinesumer_spark.catalog import read_table
from kinesumer_spark.sources.kinesis import KinesisConfig
from kinesumer_spark.streaming.engine import Engine, StreamSource

from .conftest import SF_SMALL


def test_batch_parquet_sink_roundtrip(spark, tmp_path):
    """df.write.parquet partitioned by a column → read back identical."""
    out = str(tmp_path / "out")
    src = read_table(spark, SF_SMALL, "orders")
    src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    a = {r["o_orderkey"]: r["o_totalprice"] for r in src.collect()}
    b = {r["o_orderkey"]: r["o_totalprice"] for r in back.collect()}
    assert a == b
    # partition pruning works on the written layout
    pruned = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    assert 0 < pruned.count() < src.count()


def test_csv_and_json_batch_sources(spark, tmp_path):
    """CSV and JSON line sources with explicit schemas read back what a
    sink wrote — the reference's payloads are exactly such lines."""
    src = read_table(spark, SF_SMALL, "nation")
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    src.write.option("header", True).csv(csv_dir)
    src.write.json(json_dir)
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    csv_back = spark.read.schema(schema).option("header", True).csv(csv_dir)
    json_back = spark.read.schema(schema).json(json_dir)
    expect = {(r["n_nationkey"], r["n_name"], r["n_regionkey"]) for r in src.collect()}
    assert {tuple(r) for r in csv_back.collect()} == expect
    assert {tuple(r) for r in json_back.collect()} == expect


def test_streaming_parquet_sink(spark, tmp_path):
    """Engine records → parquet sink via foreachBatch (the persistent-
    sink path; idempotent per batch directory write)."""
    t = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    d = tmp_path / "in"
    d.mkdir()
    pq.write_table(t, d / "a.parquet")
    out = str(tmp_path / "sink")

    eng = Engine(spark, app="t-pq-sink", checkpoint_root=str(tmp_path / "ck"))
    records = eng.consume([StreamSource("events", str(d))])

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = eng.run(records, sink)
    q.processAllAvailable()
    eng.close()
    back = spark.read.parquet(out)
    assert back.count() == t.num_rows
    assert set(back.columns) == {
        "stream", "shard_id", "sequence_number", "partition_key", "data", "arrival_ts",
    }


def test_kinesis_config_option_mapping():
    """Reference Config knobs → public connector options (O1/O2/O19)."""
    cfg = KinesisConfig(
        app="the-app",
        stream="events",
        region="ap-northeast-2",
        efo_mode=True,
        scan_limit=500,
        role_arn="arn:aws:iam::123:role/x",
    )
    opts = cfg.reader_options()
    assert opts["streamName"] == "events"
    assert opts["kinesis.executor.maxFetchRecordsPerShard"] == "500"
    assert opts["kinesis.consumerType"] == "SubscribeToShard"
    assert opts["kinesis.consumerName"] == "the-app"  # EFO registry key
    assert opts["kinesis.stsRoleArn"] == "arn:aws:iam::123:role/x"
    polling = KinesisConfig(app="a", stream="s").reader_options()
    assert polling["kinesis.consumerType"] == "GetRecords"
    assert polling["startingposition"] == "LATEST"  # kinesumer.go:720 default
    assert "kinesis.consumerName" not in polling


def test_kinesis_connector_contract_replay(spark):
    """Fixture replay of the awslabs spark-sql-kinesis-connector's
    DOCUMENTED output shape (data binary, streamName, partitionKey,
    sequenceNumber, approximateArrivalTimestamp, shardId — the schema
    its README/source publish), through normalize_connector_output:
    until the jar/endpoint path can execute live (environment-blocked,
    reference analog kinesumer_test.go:137-193 vs localstack), this
    pins sources/kinesis.py against the connector's published contract
    rather than our own assumption. Checks: exact RECORD_SCHEMA (names,
    types, order), field mapping, the stream-override path, and that
    the normalized envelope is drop-in for the downstream
    schema-on-read decode."""
    from pyspark.sql import types as T

    from kinesumer_spark.sources.kinesis import normalize_connector_output
    from kinesumer_spark.streaming.envelope import RECORD_SCHEMA, decode_payload

    # one recorded batch, connector column order as documented
    rows = [
        (
            b'{"event_id": 1, "v": 2.5}',
            "orders-stream",
            "user-77",
            "49590338271490256608559692538361571095921575989136588898",
            datetime.datetime(2024, 3, 1, 12, 0, 0),
            "shardId-000000000001",
        ),
        (
            b'{"event_id": 2, "v": -1.0}',
            "orders-stream",
            "user-3",
            "49590338271490256608559692540691899187359536229183848546",
            datetime.datetime(2024, 3, 1, 12, 0, 1),
            "shardId-000000000003",
        ),
    ]
    connector_schema = (
        "data binary, streamName string, partitionKey string, "
        "sequenceNumber string, approximateArrivalTimestamp timestamp, "
        "shardId string"
    )
    df = spark.createDataFrame(rows, connector_schema)
    out = normalize_connector_output(df)
    # exact envelope schema: same names, same order, same types
    assert out.columns == [f.name for f in RECORD_SCHEMA.fields]
    got_types = {f.name: f.dataType for f in out.schema.fields}
    want_types = {f.name: f.dataType for f in RECORD_SCHEMA.fields}
    assert got_types == want_types
    r = {row["sequence_number"]: row for row in out.collect()}
    first = r["49590338271490256608559692538361571095921575989136588898"]
    assert first["stream"] == "orders-stream"
    assert first["shard_id"] == "shardId-000000000001"
    assert first["partition_key"] == "user-77"
    assert bytes(first["data"]) == b'{"event_id": 1, "v": 2.5}'
    assert first["arrival_ts"] == datetime.datetime(2024, 3, 1, 12, 0, 0)
    # stream override (multi-stream unions rename per configured source)
    ov = normalize_connector_output(df, stream="renamed").collect()
    assert {x["stream"] for x in ov} == {"renamed"}
    # downstream drop-in: schema-on-read decode works on the envelope
    payload_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    decoded = {
        row["event_id"]: row["v"]
        for row in decode_payload(out, payload_schema).collect()
    }
    assert decoded == {1: 2.5, 2: -1.0}


def test_kafka_config_option_mapping():
    """Reference Config knob intents → built-in Kafka connector options
    (topic≙stream O4, maxOffsetsPerTrigger≙scan_limit O21,
    minPartitions≙resharding read-parallelism)."""
    from kinesumer_spark.sources.kafka import KafkaConfig

    cfg = KafkaConfig(
        app="the-app",
        topics="events,clicks",
        bootstrap_servers="broker:9092",
        starting_position="earliest",
        max_records_per_trigger=500,
        min_partitions=64,
    )
    opts = cfg.reader_options()
    assert opts["subscribe"] == "events,clicks"
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["startingOffsets"] == "earliest"
    assert opts["maxOffsetsPerTrigger"] == "500"
    assert opts["minPartitions"] == "64"
    assert opts["groupIdPrefix"] == "the-app-"
    defaults = KafkaConfig(app="a", topics="t").reader_options()
    assert defaults["startingOffsets"] == "latest"
    assert "minPartitions" not in defaults


def test_kafka_envelope_normalization(spark):
    """Connector-documented output schema → RECORD_SCHEMA: padding keeps
    lexicographic == numeric order for offsets, null keys become ''."""
    from kinesumer_spark.sources.kafka import normalize_connector_output

    rows = [
        ("events", 0, 9, b"k1", b"v1", datetime.datetime(2024, 1, 1, 0, 0, 0)),
        ("events", 0, 10, None, b"v2", datetime.datetime(2024, 1, 1, 0, 0, 1)),
        ("events", 12, 7, b"k3", b"v3", datetime.datetime(2024, 1, 1, 0, 0, 2)),
    ]
    df = spark.createDataFrame(
        rows, "topic string, partition int, offset long, key binary, "
        "value binary, timestamp timestamp"
    )
    out = normalize_connector_output(df).orderBy("shard_id", "sequence_number")
    got = out.collect()
    assert [c for c in out.columns] == [
        "stream", "shard_id", "sequence_number", "partition_key", "data",
        "arrival_ts",
    ]
    assert got[0]["shard_id"] == "shardId-000000000000"
    assert got[2]["shard_id"] == "shardId-000000000012"
    # offset 9 must order BEFORE offset 10 lexicographically once padded
    assert got[0]["sequence_number"] < got[1]["sequence_number"]
    assert int(got[0]["sequence_number"]) == 9
    assert got[1]["partition_key"] == ""  # null Kafka key
    assert bytes(got[0]["data"]) == b"v1"


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState accumulates per-key state across
    microbatches; final running totals equal the batch ground truth."""
    from kinesumer_spark.catalog import parquet_file_schema
    from kinesumer_spark.streaming.stateful import running_user_totals

    t = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    d = tmp_path / "in"
    d.mkdir()
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), d / "a.parquet")
    pq.write_table(t.slice(half), d / "b.parquet")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(parquet_file_schema(spark, str(d)))
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_stateful")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    # memory sink in update mode appends each emission (unordered); the
    # counter only grows, so the max-n_events row per user is the final
    emitted = spark.sql("select * from t_stateful").collect()
    final: dict[int, tuple[int, float]] = {}
    for r in emitted:
        prev = final.get(r["user_id"])
        if prev is None or r["n_events"] > prev[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])

    truth = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in read_table(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(final) == set(truth)
    for uid, (n, s) in truth.items():
        assert final[uid][0] == n, uid
        assert abs(final[uid][1] - s) < 1e-4, uid


def test_stateful_idle_key_ttl_expiry(spark, tmp_path):
    """EventTimeTimeout GC (the reference's 10 s staleness prune,
    syncclient.go:171-201): a key whose last event time falls TTL
    behind the watermark expires — its final totals arrive tagged
    expired=true and its state row is removed — while a still-active
    key keeps accumulating. Event-time driven: deterministic, no
    wall-clock sleeps."""
    import pyarrow as pa

    from kinesumer_spark.streaming.stateful import running_user_totals_with_ttl

    d = tmp_path / "in"
    d.mkdir()

    def write_batch(name, rows):  # rows: (user_id, value, ts_seconds)
        tbl = pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "value": pa.array([r[1] for r in rows], pa.float64()),
                "ts": pa.array(
                    [r[2] * 1_000_000 for r in rows], pa.timestamp("us")
                ),
            }
        )
        pq.write_table(tbl, d / f"{name}.parquet")

    stream = (
        spark.readStream.schema("user_id bigint, value double, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        running_user_totals_with_ttl(stream, ttl_ms=5_000)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_ttl")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        # batch 0: both users; user 2 last seen at t=5s -> expires at 10s
        write_batch("b0", [(1, 1.0, 1), (1, 2.0, 2), (2, 10.0, 5)])
        q.processAllAvailable()
        # batch 1: watermark is still 5s when it runs; advances it to 20s
        write_batch("b1", [(1, 4.0, 20)])
        q.processAllAvailable()
        # batch 2: runs with watermark 20s > 10s -> user 2's timer fires
        write_batch("b2", [(1, 8.0, 21)])
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()

    expired = spark.sql(
        "select * from t_ttl where expired and user_id = 2"
    ).collect()
    assert expired, "idle key never expired"
    assert expired[0]["n_events"] == 1 and expired[0]["total_value"] == 10.0
    # user 1 stayed live (never expired) and kept accumulating
    live = spark.sql(
        "select max(n_events) as n from t_ttl where user_id = 1 and not expired"
    ).collect()
    assert live[0]["n"] == 4
    assert not spark.sql(
        "select 1 from t_ttl where expired and user_id = 1"
    ).collect()


def test_wap_audit_failure_leaves_target_untouched(spark, tmp_path):
    """publish_wap: a failing audit must raise and leave the final
    location exactly as it was (either absent, or the previously
    published content)."""
    import pytest as _pytest

    from kinesumer_spark.operators.decode import WapAuditError, publish_wap

    import pyspark.sql.functions as F

    good = spark.range(5).select(F.col("id"), F.lit(1.0).alias("v"))
    final = str(tmp_path / "pub")
    res = publish_wap(good, final, audits={"pos": "v > 0"})
    assert res == {"pos": True, "non_empty": True}
    assert spark.read.parquet(final).count() == 5

    bad = spark.range(3).select(F.col("id"), (F.col("id") - 1.0).alias("v"))
    with _pytest.raises(WapAuditError):
        publish_wap(bad, final, audits={"pos": "v > 0"})
    # previous publish still intact
    assert spark.read.parquet(final).count() == 5

    empty = good.filter("v < 0")
    with _pytest.raises(WapAuditError):
        publish_wap(empty, final, audits={"pos": "v > 0"})
    assert spark.read.parquet(final).count() == 5


def test_kafka_contract_replay_through_engine(spark, tmp_path):
    """End-to-end kafka-shape replay WITHOUT a broker: connector-shaped
    rows (topic/partition/offset/key/value/timestamp — the documented
    spark-sql-kafka output schema) land as a file stream, go through
    normalize_connector_output, and are delivered by the Engine's
    run/commit path — proving the kafka adapter's envelope is drop-in
    for the delivery layer (ledger marks keyed by padded offsets, Kafka
    timestamps as arrival_ts), the same fixture strategy as the kinesis
    contract replay above."""
    import pandas as pd

    from kinesumer_spark.sources.kafka import normalize_connector_output
    from kinesumer_spark.streaming.engine import Engine
    from kinesumer_spark.streaming.envelope import RECORD_SCHEMA

    d = tmp_path / "kafka_shape"
    d.mkdir()
    rows = pd.DataFrame(
        {
            "topic": ["orders"] * 6,
            "partition": [0, 0, 0, 1, 1, 1],
            "offset": [5, 6, 7, 100, 101, 102],
            "key": [b"k0", None, b"k2", b"k3", b"k4", None],
            "value": [f'{{"n": {i}}}'.encode() for i in range(6)],
            "timestamp": pd.to_datetime(
                ["2024-03-01 12:00:00"] * 6
            ).astype("datetime64[us]"),  # micros: the fixed stream schema
        }
    )
    rows.to_parquet(d / "batch-0.parquet")

    # pandas writes int64; the kafka connector's partition is int32 —
    # the adapter casts partition to string anyway, so read as bigint
    schema = (
        "topic string, partition bigint, offset bigint, key binary, "
        "value binary, timestamp timestamp"
    )
    raw = spark.readStream.schema(schema).parquet(str(d))
    records = normalize_connector_output(raw)
    assert [f.name for f in records.schema.fields] == [
        f.name for f in RECORD_SCHEMA.fields
    ]

    eng = Engine(spark, app="t-kafka-replay", checkpoint_root=str(tmp_path / "ck"))
    eng._streams = {}  # no file-backed streams; delivery only
    seen: list = []

    def sink(batch_df, batch_id):
        seen.extend(
            batch_df.select("stream", "shard_id", "sequence_number",
                            "partition_key").collect()
        )

    q = eng.run(records, sink, trigger={"availableNow": True})
    q.awaitTermination(120)
    eng.close()

    assert len(seen) == 6
    shards = {r["shard_id"] for r in seen}
    assert shards == {"shardId-" + "0".rjust(12, "0"), "shardId-" + "1".rjust(12, "0")}
    # null kafka keys become empty partition_key strings
    assert sum(1 for r in seen if r["partition_key"] == "") == 2
    # ledger: per-partition high-water = padded max offset
    cps = eng.checkpoints()
    assert cps[("orders", "shardId-" + "0".rjust(12, "0"))] == str(7).zfill(20)
    assert cps[("orders", "shardId-" + "1".rjust(12, "0"))] == str(102).zfill(20)


def test_kafka_contract_resubscribe_resumes_from_ledger(spark, tmp_path):
    """The reference's consumePipe resubscribes its EFO stream every ~5
    minutes (subscription expiry) and continues from the stored
    checkpoint with no loss (kinesumer.go:513-607). Engine analog for
    the kafka contract shape: stop the query, let new connector rows
    arrive, start a FRESH engine over the same app root — the WAL +
    ledger must hand the new reader exactly the unconsumed tail, marks
    never regressing."""
    import pandas as pd

    from kinesumer_spark.sources.kafka import normalize_connector_output
    from kinesumer_spark.streaming.engine import Engine

    d = tmp_path / "kafka_shape"
    d.mkdir()

    def kafka_file(path, offsets_by_partition):
        rows = [
            {
                "topic": "orders",
                "partition": p,
                "offset": o,
                "key": f"k{o}".encode(),
                "value": f'{{"n": {o}}}'.encode(),
            }
            for p, offs in offsets_by_partition.items()
            for o in offs
        ]
        df = pd.DataFrame(rows)
        df["timestamp"] = pd.to_datetime("2024-03-01 12:00:00").to_datetime64()
        df["timestamp"] = df["timestamp"].astype("datetime64[us]")
        df.to_parquet(path)

    schema = (
        "topic string, partition bigint, offset bigint, key binary, "
        "value binary, timestamp timestamp"
    )

    def run_once(seen):
        raw = spark.readStream.schema(schema).parquet(str(d))
        records = normalize_connector_output(raw)
        eng = Engine(
            spark, app="t-kafka-resub", checkpoint_root=str(tmp_path / "ck")
        )
        eng._streams = {}  # no file-backed streams; delivery only

        def sink(batch_df, batch_id):
            seen.extend(
                batch_df.select("shard_id", "sequence_number").collect()
            )

        q = eng.run(records, sink, trigger={"availableNow": True})
        q.awaitTermination(120)
        eng.close()
        return eng.checkpoints()

    kafka_file(d / "batch-0.parquet", {0: [5, 6, 7], 1: [100, 101]})
    seen1: list = []
    cps1 = run_once(seen1)
    assert len(seen1) == 5
    assert cps1[("orders", "shardId-" + "0".rjust(12, "0"))] == str(7).zfill(20)

    # "subscription expired": reader gone, new records land meanwhile
    kafka_file(d / "batch-1.parquet", {0: [8, 9], 1: [102, 103, 104]})
    seen2: list = []
    cps2 = run_once(seen2)

    # the resumed reader got exactly the unconsumed tail (WAL-granular:
    # the consumed file is never re-read)
    assert {(r["shard_id"], r["sequence_number"]) for r in seen2} == {
        ("shardId-" + "0".rjust(12, "0"), str(o).zfill(20)) for o in (8, 9)
    } | {
        ("shardId-" + "1".rjust(12, "0"), str(o).zfill(20)) for o in (102, 103, 104)
    }
    # ledger continuity: marks advanced, never regressed
    assert cps2[("orders", "shardId-" + "0".rjust(12, "0"))] == str(9).zfill(20)
    assert cps2[("orders", "shardId-" + "1".rjust(12, "0"))] == str(104).zfill(20)


def test_python_source_restart_after_stream_error(spark, tmp_path):
    """The reference resubscribes on STREAM ERROR mid-consume
    (kinesumer.go:513-607) and continues from the checkpoint, tolerating
    duplicates (at-least-once). Engine analog for the custom Python
    streaming source: the sink dies between paced batches, the query
    terminates, a fresh engine resumes from the WAL — union of both
    runs covers every record, ledger ends at the per-shard highs."""
    import pytest as _pytest

    from kinesumer_spark.sources.python_source import register_sim_stream_source
    from kinesumer_spark.streaming.engine import Engine, StreamSource

    register_sim_stream_source(spark)
    src = StreamSource(
        "sim",
        format="kinesumer_sim_stream",
        options={"numShards": "2", "totalPerShard": "30", "scanLimit": "10"},
    )

    seen1: list = []

    def dying_sink(batch_df, batch_id):
        rows = batch_df.select("shard_id", "sequence_number").collect()
        if batch_id >= 1:
            raise RuntimeError("simulated stream drop")
        seen1.extend(rows)

    eng = Engine(spark, app="t-pysrc-resub", checkpoint_root=str(tmp_path / "ck"))
    q = eng.run(eng.consume([src]), dying_sink)
    with _pytest.raises(Exception):
        q.processAllAvailable()
    eng.close()
    assert seen1, "first paced batch must deliver before the drop"
    assert any("simulated stream drop" in e for e in eng.errors())

    # resubscribe: fresh engine, same app root → WAL + ledger resume
    seen2: list = []

    def sink2(batch_df, batch_id):
        seen2.extend(batch_df.select("shard_id", "sequence_number").collect())

    eng2 = Engine(spark, app="t-pysrc-resub", checkpoint_root=str(tmp_path / "ck"))
    q2 = eng2.run(eng2.consume([src]), sink2)
    q2.processAllAvailable()
    eng2.close()

    got = {(r["shard_id"], r["sequence_number"]) for r in seen1} | {
        (r["shard_id"], r["sequence_number"]) for r in seen2
    }
    want = {
        ("shardId-" + str(s).rjust(12, "0"), str(s * 30 + i).zfill(21))
        for s in range(2)
        for i in range(30)
    }
    assert got == want  # nothing lost, nothing invented (dups deduped)
    cps = eng2.checkpoints()
    assert cps[("sim", "shardId-" + "0".rjust(12, "0"))] == str(29).zfill(21)
    assert cps[("sim", "shardId-" + "1".rjust(12, "0"))] == str(59).zfill(21)


def test_python_sink_batch_write_audit_publish(spark, tmp_path):
    """The custom Python DataSource WRITER (PutRecords producer analog):
    executors stage, the driver publishes atomically — rows land under
    data/ with ONE manifest whose per-shard totals match, staging is
    empty after commit, and the shard assignment is the deterministic
    partition-key hash."""
    import json
    import os

    from kinesumer_spark.sources.python_source import (
        _shard_of,
        register_sim_sink,
    )

    register_sim_sink(spark)
    d = str(tmp_path / "sink")
    df = spark.range(100).selectExpr(
        "cast(id as string) AS partition_key", "id * 7 AS value"
    )
    df.coalesce(4).write.format("kinesumer_sim_sink").option("path", d).option(
        "numshards", "3"
    ).mode("append").save()

    # r9: append publishes a job-unique manifest slot (fixed-name slot
    # made a second append silently replace-all)
    from kinesumer_spark.sources.python_source import _list_manifests

    manifests = _list_manifests(d)
    assert len(manifests) == 1 and manifests[0].startswith("manifest-batch-")
    with open(os.path.join(d, manifests[0])) as f:
        man = json.load(f)
    assert man["n_rows"] == 100
    assert sum(man["by_shard"].values()) == 100
    # staging drained, data published
    assert not os.listdir(os.path.join(d, "_staging"))
    rows = []
    for fn in man["files"]:
        with open(os.path.join(d, "data", fn)) as f:
            rows += [json.loads(line) for line in f]
    assert len(rows) == 100
    # per-row shard assignment is the deterministic key hash
    for r in rows:
        assert r["_shard"] == f"shardId-{_shard_of(r['partition_key'], 3):012d}"
    # manifest totals agree with the data files
    from collections import Counter

    assert dict(Counter(r["_shard"] for r in rows)) == man["by_shard"]


def test_python_sink_abort_leaves_nothing_visible(spark, tmp_path):
    """Two-phase commit: when a write task fails, abort() must remove
    the staged files and publish NO manifest and NO data — a failed job
    is invisible to readers (the WAP discipline at connector level)."""
    import os
    import time

    import pytest as _pytest

    from kinesumer_spark.sources.python_source import register_sim_sink

    register_sim_sink(spark)
    d = str(tmp_path / "sink")
    bad = spark.range(100).selectExpr(
        "cast(id as string) AS partition_key",
        # one partition poisons the job AFTER others may have staged
        "CASE WHEN id = 99 THEN raise_error('poison') ELSE 'v' END AS v",
    )
    with _pytest.raises(Exception):
        bad.coalesce(4).write.format("kinesumer_sim_sink").option(
            "path", d
        ).mode("append").save()
    # the two-phase guarantee: nothing VISIBLE — no manifest, no data/
    # (staged orphans may remain: cancelled tasks never reach abort()'s
    # message list; readers only see manifest-listed files)
    from kinesumer_spark.sources.python_source import _list_manifests

    assert _list_manifests(d) == []
    assert not os.path.isdir(os.path.join(d, "data")) or not os.listdir(
        os.path.join(d, "data")
    )
    # the next successful publish sweeps the orphans (janitor contract).
    # r9 advisory: the dead job's orphans are FOREIGN to the next job
    # (different job token) and young files could be a concurrent
    # append's live staging — only TTL-expired foreign debris is swept,
    # so age them past the cutoff first.
    import json

    staging = os.path.join(d, "_staging")
    if os.path.isdir(staging):
        for e in os.scandir(staging):
            os.utime(e.path, (0, 0))
    sweep_time = time.time()  # the publish below runs the janitor sweep
    spark.range(10).selectExpr(
        "cast(id as string) AS partition_key", "'v' AS v"
    ).write.format("kinesumer_sim_sink").option("path", d).mode(
        "append"
    ).save()
    (man,) = _list_manifests(d)
    with open(os.path.join(d, man)) as f:
        assert json.load(f)["n_rows"] == 10
    # every AGED orphan was swept. (Not "staging is empty": under host
    # load a cancelled straggler task from the poisoned job can stage
    # its file AFTER the sweep — invisible to readers and TTL-swept by
    # the next publish, which is the actual contract; asserting
    # emptiness races against executor teardown and flaked the r11
    # full-gate run.)
    leftovers = (
        os.listdir(os.path.join(d, "_staging"))
        if os.path.isdir(os.path.join(d, "_staging"))
        else []
    )
    # A genuinely AGED orphan (the utime(0,0) files above) has
    # mtime far below sweep_time - staging_ttl and must be gone; a
    # post-sweep straggler's mtime is >= sweep_time and passes. The
    # earlier `getmtime > 0` form was tautological (r11 advisory).
    staging_ttl = 900.0  # sink default, python_source.py:274
    for name in leftovers:
        assert (
            os.path.getmtime(os.path.join(d, "_staging", name))
            >= sweep_time - staging_ttl
        ), f"aged orphan {name} survived the janitor sweep"


def test_python_sink_append_accumulates_overwrite_replaces(spark, tmp_path):
    """r9 advisory (medium): append must ACCUMULATE — a second
    df.write.mode('append') may not delete the first job's committed
    data — and overwrite must replace the entire published dataset.
    Readers follow published_files(): the union of all manifests."""
    import json
    import os

    from kinesumer_spark.sources.python_source import (
        _list_manifests,
        published_files,
        register_sim_sink,
    )

    register_sim_sink(spark)
    d = str(tmp_path / "sink")

    def write(n, mode):
        spark.range(n).selectExpr(
            "cast(id as string) AS partition_key", "id AS v"
        ).coalesce(2).write.format("kinesumer_sim_sink").option(
            "path", d
        ).mode(mode).save()

    write(40, "append")
    write(25, "append")
    assert len(_list_manifests(d)) == 2
    rows = []
    for p in published_files(d):
        with open(p) as f:
            rows += [json.loads(line) for line in f]
    assert len(rows) == 65  # both appends visible — nothing swept
    # manifests' listed files are exactly data/ (no orphans either way)
    data = {os.path.basename(p) for p in published_files(d)}
    assert data == set(os.listdir(os.path.join(d, "data")))

    write(10, "overwrite")
    assert _list_manifests(d) == ["manifest-batch.json"]
    rows = []
    for p in published_files(d):
        with open(p) as f:
            rows += [json.loads(line) for line in f]
    assert len(rows) == 10  # prior dataset fully replaced
    assert {os.path.basename(p) for p in published_files(d)} == set(
        os.listdir(os.path.join(d, "data"))
    )


def test_python_sink_streaming_per_batch_manifests(spark, tmp_path):
    """Streaming variant: each microbatch publishes its own
    batchId-keyed manifest; totals across manifests equal the source
    rows (idempotent per-batch publication — a replay overwrites the
    same manifest instead of double-publishing)."""
    import glob
    import json
    import os

    import pyarrow.parquet as pq

    from kinesumer_spark.sources.python_source import register_sim_sink

    register_sim_sink(spark)
    src = tmp_path / "src"
    src.mkdir()
    t = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    # two files → ≥2 microbatches under maxFilesPerTrigger=1
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), src / "a.parquet")
    pq.write_table(t.slice(half), src / "b.parquet")

    d = str(tmp_path / "sink")
    raw = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    ).selectExpr("cast(user_id AS string) AS partition_key", "event_id")
    q = (
        raw.writeStream.format("kinesumer_sim_sink")
        .option("path", d)
        .option("numshards", "4")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    manifests = sorted(glob.glob(os.path.join(d, "manifest-*.json")))
    assert len(manifests) >= 2  # one per microbatch
    total = 0
    for m in manifests:
        with open(m) as f:
            doc = json.load(f)
        total += doc["n_rows"]
        assert sum(doc["by_shard"].values()) == doc["n_rows"]
    assert total == t.num_rows
    assert not os.listdir(os.path.join(d, "_staging"))


def test_python_sink_republish_sweeps_previous_attempt(spark, tmp_path):
    """r8 review: a replayed microbatch stages fresh uuid-named files,
    so overwriting the manifest alone would orphan the first attempt's
    data files. _publish must sweep the files the old manifest listed —
    after a re-publish, data/ holds exactly the new attempt's files."""
    import json
    import os

    from kinesumer_spark.sources.python_source import (
        KinesumerPutRecordsStreamWriter,
        _PutBatch,
    )
    from pyspark.sql.types import StructType

    d = str(tmp_path / "sink")
    os.makedirs(os.path.join(d, "_staging"))
    w = KinesumerPutRecordsStreamWriter(
        StructType.fromDDL("partition_key string"), {"path": d}
    )

    def stage(tag, n):
        name = os.path.join("_staging", f"task-{tag}.jsonl")
        with open(os.path.join(d, name), "w") as f:
            for i in range(n):
                f.write(json.dumps({"partition_key": str(i)}) + "\n")
        return _PutBatch(staged=name, n_rows=n, by_shard={"shardId-0": n})

    w.commit([stage("attempt1a", 3), stage("attempt1b", 2)], batchId=7)
    first = set(os.listdir(os.path.join(d, "data")))
    assert len(first) == 2
    # replay of batch 7: fresh task files, same manifest slot
    w.commit([stage("attempt2", 5)], batchId=7)
    with open(os.path.join(d, f"manifest-{7:020d}.json")) as f:
        man = json.load(f)
    assert man["n_rows"] == 5
    data = set(os.listdir(os.path.join(d, "data")))
    assert data == set(man["files"])  # first attempt swept, no orphans
    assert not data & first


def test_python_sink_publish_sweeps_stale_tmp_manifests(spark, tmp_path):
    """A publish that crashed between fsync and rename leaves a stale
    .manifest-*.json.tmp in the sink root. It must never be
    reader-visible (_list_manifests excludes dotfiles) and the next
    successful publish must sweep it."""
    import os

    from kinesumer_spark.sources.python_source import (
        _list_manifests,
        register_sim_sink,
    )

    register_sim_sink(spark)
    d = str(tmp_path / "sink")
    os.makedirs(d)
    stale = os.path.join(d, ".manifest-batch-deadbeef.json.tmp")
    with open(stale, "w") as f:
        f.write('{"files": ["never-published.jsonl"]}')
    # r9 advisory: a YOUNG foreign tmp may be another append job's
    # publish in flight — only debris older than the staging TTL is
    # swept, so age the file past the cutoff
    os.utime(stale, (0, 0))

    assert _list_manifests(d) == []  # invisible to readers
    spark.range(5).selectExpr(
        "cast(id as string) AS partition_key"
    ).write.format("kinesumer_sim_sink").option("path", d).mode("append").save()
    assert len(_list_manifests(d)) == 1
    assert not os.path.exists(stale)  # swept by the janitor


def test_python_sink_janitor_spares_concurrent_append(spark, tmp_path):
    """r9 advisory: the janitor must not sweep a CONCURRENT append
    job's in-flight staged files or tmp manifest — only its OWN staged
    debris (job-token prefix) and TTL-expired foreign debris."""
    import json
    import os

    from kinesumer_spark.sources.python_source import (
        KinesumerPutRecordsWriter,
        _PutBatch,
    )
    from pyspark.sql.types import StructType

    d = str(tmp_path / "sink")
    os.makedirs(os.path.join(d, "_staging"))
    schema = StructType.fromDDL("partition_key string")
    w = KinesumerPutRecordsWriter(schema, {"path": d}, overwrite=False)

    # another append job's in-flight staging (fresh mtime) + its
    # mid-publish tmp manifest
    other_staged = os.path.join(d, "_staging", "task-feedfacecafe-live.jsonl")
    with open(other_staged, "w") as f:
        f.write(json.dumps({"partition_key": "x"}) + "\n")
    other_tmp = os.path.join(d, ".manifest-batch-feedfacecafe.json.tmp")
    with open(other_tmp, "w") as f:
        f.write('{"files": []}')

    # our own orphan (a cancelled task of THIS job: token-prefixed)
    own_orphan = os.path.join(
        d, "_staging", f"task-{w.job_token}-cancelled.jsonl"
    )
    with open(own_orphan, "w") as f:
        f.write(json.dumps({"partition_key": "y"}) + "\n")

    # TTL-expired foreign debris from a crashed job
    dead = os.path.join(d, "_staging", "task-deadjob-old.jsonl")
    with open(dead, "w") as f:
        f.write("{}\n")
    os.utime(dead, (0, 0))

    name = os.path.join("_staging", f"task-{w.job_token}-committed.jsonl")
    with open(os.path.join(d, name), "w") as f:
        f.write(json.dumps({"partition_key": "z", "_shard": "shardId-0"}) + "\n")
    w.commit([_PutBatch(staged=name, n_rows=1, by_shard={"shardId-0": 1})])

    assert os.path.exists(other_staged)  # concurrent job untouched
    assert os.path.exists(other_tmp)
    assert not os.path.exists(own_orphan)  # own debris swept
    assert not os.path.exists(dead)  # expired foreign debris swept


# -- Kinesis wire-protocol path (sources/kinesis_wire.py) --------------------


def test_kinesis_wire_protocol_walk():
    """Direct boto3 walk of the in-process endpoint: shard discovery,
    Limit-paced pagination, AFTER_SEQUENCE_NUMBER resume, and the
    closed-shard null-iterator signal (O1/O3 over real HTTP)."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        resharded_stream,
        simple_stream,
        wire_client,
    )

    with FakeKinesisServer(simple_stream("wire", 2, 7)) as srv:
        c = wire_client(srv.url)
        shards = c.list_shards(StreamName="wire")["Shards"]
        assert [s["ShardId"] for s in shards] == [
            "shardId-000000000000",
            "shardId-000000000001",
        ]
        it = c.get_shard_iterator(
            StreamName="wire",
            ShardId="shardId-000000000001",
            ShardIteratorType="TRIM_HORIZON",
        )["ShardIterator"]
        page1 = c.get_records(ShardIterator=it, Limit=3)
        assert [r["SequenceNumber"] for r in page1["Records"]] == [
            str(i).zfill(21) for i in (7, 8, 9)
        ]
        # blobs cross the wire base64'd; botocore hands back bytes
        import json as _json

        assert _json.loads(bytes(page1["Records"][0]["Data"]))["k"] == (
            7 * 31 + 1
        ) % 1000
        # resume AFTER a committed sequence number (the checkpoint path)
        it2 = c.get_shard_iterator(
            StreamName="wire",
            ShardId="shardId-000000000001",
            ShardIteratorType="AFTER_SEQUENCE_NUMBER",
            StartingSequenceNumber=str(9).zfill(21),
        )["ShardIterator"]
        rest = c.get_records(ShardIterator=it2, Limit=100)
        assert [r["SequenceNumber"] for r in rest["Records"]] == [
            str(i).zfill(21) for i in (10, 11, 12, 13)
        ]
        # open shard keeps a live iterator at the tip
        assert rest["NextShardIterator"] is not None

    with FakeKinesisServer(resharded_stream("wire", 4)) as srv:
        c = wire_client(srv.url)
        it = c.get_shard_iterator(
            StreamName="wire",
            ShardId="shardId-000000000000",
            ShardIteratorType="TRIM_HORIZON",
        )["ShardIterator"]
        out = c.get_records(ShardIterator=it, Limit=100)
        assert len(out["Records"]) == 4
        # the wire sends "NextShardIterator": null for a drained CLOSED
        # shard; botocore drops null fields, so the signal surfaces as
        # an ABSENT key — exactly what the source's .get() handles
        assert out.get("NextShardIterator") is None


def test_kinesis_wire_throttling_retried():
    """ProvisionedThroughputExceededException on every 3rd GetRecords:
    botocore's standard retry mode must absorb it — the drain still
    delivers every record exactly once (the reference's throttle-retry
    loop, kinesumer.go GetRecords error handling, via the SDK)."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        drain_via_wire,
        simple_stream,
    )

    with FakeKinesisServer(simple_stream("wire", 3, 10)) as srv:
        clean = drain_via_wire(srv.url, "wire", scan_limit=4)
        srv.api.throttle_every = 3
        throttled = drain_via_wire(srv.url, "wire", scan_limit=4)
    assert len(clean) == 30 and sorted(clean) == sorted(throttled)


def test_kinesis_wire_lineage_feeds_engine_gate(spark, tmp_path):
    """ListShards' ParentShardId/EndingSequenceNumber topology maps into
    the Engine's reshard-lineage table, and the gate then enforces
    parent-before-child over the WIRE-described split: child rows defer
    while the parent is uncommitted, flush once it commits through its
    wire-reported ending sequence."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        lineage_from_list_shards,
        resharded_stream,
        wire_client,
    )

    with FakeKinesisServer(resharded_stream("wire", 5)) as srv:
        lineage = lineage_from_list_shards(wire_client(srv.url), "wire")
    parent_end = str(4).zfill(21)
    assert lineage == {
        ("wire", "shardId-000000000001"): [("shardId-000000000000", parent_end)],
        ("wire", "shardId-000000000002"): [("shardId-000000000000", parent_end)],
    }

    eng = Engine(spark, app="t-wire-lineage", checkpoint_root=str(tmp_path / "ck"))
    eng._lineage = lineage
    os.makedirs(eng._deferred_data_dir(), exist_ok=True)
    os.makedirs(eng._deferred_tick_dir(), exist_ok=True)

    def rows(shard, seqs):
        return spark.createDataFrame(
            [("wire", shard, str(i).zfill(21), "k", "v") for i in seqs],
            "stream string, shard_id string, sequence_number string, "
            "partition_key string, payload string",
        )

    child = "shardId-000000000001"
    # child rows arrive first: gated (parent uncommitted) → deferred
    admitted = eng._admit(rows(child, range(5, 8)), 0).collect()
    assert admitted == []
    # parent commits through its wire-reported end → gate opens, flush
    eng.commit(rows("shardId-000000000000", range(0, 5)), 1)
    flushed = eng._admit(rows("shardId-000000000000", []).limit(0), 2).collect()
    got = sorted(r["sequence_number"] for r in flushed)
    assert got == [str(i).zfill(21) for i in range(5, 8)], got
    eng.close()


def test_kinesis_wire_spark_source_exact_feed(spark):
    """The kinesumer_wire streaming source end to end: scanLimit-paced
    microbatches through real boto3 in executors deliver the exact
    deterministic feed, once each."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        register_wire_source,
        simple_stream,
    )

    register_wire_source(spark)
    with FakeKinesisServer(simple_stream("wire", 3, 20)) as srv:
        df = (
            spark.readStream.format("kinesumer_wire")
            .option("endpoint", srv.url)
            .option("stream", "wire")
            .option("scanlimit", 8)
            .load()
        )
        q = (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName("t_wire_feed")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        rows = spark.table("t_wire_feed").collect()
    got = sorted(
        (r["shard_id"], r["sequence_number"], r["partition_key"], r["payload_k"])
        for r in rows
    )
    want = sorted(
        (
            f"shardId-{s:012d}",
            str(s * 20 + i).zfill(21),
            str((s * 20 + i) % 97),
            ((s * 20 + i) * 31 + s) % 1000,
        )
        for s in range(3)
        for i in range(20)
    )
    assert got == want


def test_kinesis_wire_put_records_roundtrip(spark):
    """The producer half over the wire: boto3 put_records routes each
    record to the open shard owning MD5(PartitionKey) on the 128-bit
    hash ring (the real Kinesis placement algorithm), then the
    kinesumer_wire Spark source consumes the stream back — a full
    produce→consume protocol roundtrip with nothing pre-filled."""
    import hashlib
    import json as _json

    from kinesumer_spark.sources.kinesis_wire import (
        _HASH_SPACE,
        FakeKinesisServer,
        open_stream,
        register_wire_source,
        wire_client,
    )

    register_wire_source(spark)
    n_shards = 3
    with FakeKinesisServer(open_stream("wire", n_shards)) as srv:
        c = wire_client(srv.url)
        resp = c.put_records(
            StreamName="wire",
            Records=[
                {
                    "PartitionKey": f"user-{i}",
                    "Data": _json.dumps({"k": i * 11 % 1000}).encode(),
                }
                for i in range(40)
            ],
        )
        assert resp["FailedRecordCount"] == 0
        # the server's placement is the real MD5 ring
        step = _HASH_SPACE // n_shards
        for i, r in enumerate(resp["Records"]):
            h = int.from_bytes(
                hashlib.md5(f"user-{i}".encode()).digest(), "big"
            )
            assert r["ShardId"] == f"shardId-{min(h // step, n_shards - 1):012d}"

        df = (
            spark.readStream.format("kinesumer_wire")
            .option("endpoint", srv.url)
            .option("stream", "wire")
            .option("scanlimit", 7)
            .load()
        )
        q = (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName("t_wire_put_rt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        rows = spark.table("t_wire_put_rt").collect()
    assert len(rows) == 40
    got = {(r["partition_key"], r["payload_k"]) for r in rows}
    assert got == {(f"user-{i}", i * 11 % 1000) for i in range(40)}
    # per-shard counts match what PutRecords acknowledged
    from collections import Counter

    acked = Counter(r["ShardId"] for r in resp["Records"])
    consumed = Counter(r["shard_id"] for r in rows)
    assert acked == consumed


def test_kinesis_wire_efo_registry_lifecycle():
    """O19 over the wire: RegisterStreamConsumer surfaces CREATING;
    SubscribeToShard refuses a non-ACTIVE consumer; the describe poll
    flips it ACTIVE; deregistration makes the ARN unknown."""
    import pytest as _pytest
    from botocore.exceptions import ClientError

    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        simple_stream,
        wire_client,
    )

    with FakeKinesisServer(simple_stream("wire", 1, 3)) as srv:
        c = wire_client(srv.url)
        stream_arn = "arn:aws:kinesis:us-east-1:000000000000:stream/wire"
        consumer = c.register_stream_consumer(
            StreamARN=stream_arn, ConsumerName="app"
        )["Consumer"]
        assert consumer["ConsumerStatus"] == "CREATING"
        with _pytest.raises(ClientError) as exc:
            c.subscribe_to_shard(
                ConsumerARN=consumer["ConsumerARN"],
                ShardId="shardId-000000000000",
                StartingPosition={"Type": "TRIM_HORIZON"},
            )
        assert exc.value.response["Error"]["Code"] == "ResourceInUseException"
        # the poll-until-ACTIVE loop the reference runs
        for _ in range(5):
            desc = c.describe_stream_consumer(
                ConsumerARN=consumer["ConsumerARN"]
            )["ConsumerDescription"]
            if desc["ConsumerStatus"] == "ACTIVE":
                break
        assert desc["ConsumerStatus"] == "ACTIVE"
        resp = c.subscribe_to_shard(
            ConsumerARN=consumer["ConsumerARN"],
            ShardId="shardId-000000000000",
            StartingPosition={"Type": "TRIM_HORIZON"},
        )
        n = sum(
            len(ev["SubscribeToShardEvent"]["Records"])
            for ev in resp["EventStream"]
        )
        assert n == 3
        c.deregister_stream_consumer(ConsumerARN=consumer["ConsumerARN"])
        with _pytest.raises(ClientError) as exc2:
            c.subscribe_to_shard(
                ConsumerARN=consumer["ConsumerARN"],
                ShardId="shardId-000000000000",
                StartingPosition={"Type": "TRIM_HORIZON"},
            )
        assert (
            exc2.value.response["Error"]["Code"] == "ResourceNotFoundException"
        )


def test_kinesis_wire_efo_adoption_pages_past_first_listing_page():
    """r10 advisory: the RIUE→adoption branch must page through
    ListStreamConsumers (NextToken) rather than read one MaxResults=20
    page — silently incomplete if the 20-consumers/stream service cap
    ever rises. The fake now implements real pagination (name-sorted,
    MaxResults-capped, NextToken resumes after the last name), so this
    test registers 25 consumers with names that sort BEFORE the target
    and proves adoption still finds it on the second page."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        register_efo_consumer,
        simple_stream,
        wire_client,
    )

    with FakeKinesisServer(simple_stream("wire", 1, 3)) as srv:
        c = wire_client(srv.url)
        stream_arn = "arn:aws:kinesis:us-east-1:000000000000:stream/wire"
        for i in range(25):
            c.register_stream_consumer(
                StreamARN=stream_arn, ConsumerName=f"app-{i:02d}"
            )
        # 'zz-target' sorts after all 25 fillers → page 2 of the listing
        first = register_efo_consumer(wire_client(srv.url), "wire", "zz-target")
        # second client, same name → RIUE → adoption must PAGE to find it
        adopted = register_efo_consumer(
            wire_client(srv.url), "wire", "zz-target"
        )
        assert adopted == first
        assert srv.api.consumer_riue >= 1
        # sanity: one listing page really is capped at 20
        page = c.list_stream_consumers(StreamARN=stream_arn, MaxResults=20)
        assert len(page["Consumers"]) == 20 and page.get("NextToken")
        # r11 second review: a token whose consumer is DEREGISTERED
        # between pages must resume at the next name, not silently end
        # pagination (resume-strictly-after on the sorted listing)
        token = page["NextToken"]
        victim_arn = next(
            d["ConsumerARN"]
            for d in page["Consumers"]
            if d["ConsumerName"] == token
        )
        c.deregister_stream_consumer(ConsumerARN=victim_arn)
        page2 = c.list_stream_consumers(
            StreamARN=stream_arn, NextToken=token, MaxResults=20
        )
        names2 = [d["ConsumerName"] for d in page2["Consumers"]]
        assert names2 and all(n > token for n in names2)
        assert "zz-target" in names2


def test_kinesis_wire_consumer_paging_prefix_names_lose_nothing():
    """r11 advisory (low): the listing must sort by ConsumerName, not by
    ARN — ARN order is name+':'+timestamp, which diverges from bare-name
    order when one name is a prefix of another ('foo-2' sorts before
    'foo:...' byte-wise), so an ARN-sorted listing with a name-based
    NextToken resume can skip consumers across a page boundary. Register
    prefix-colliding names, page with MaxResults=1, and require the
    union of pages to be exactly the registered set."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        simple_stream,
        wire_client,
    )

    with FakeKinesisServer(simple_stream("wire", 1, 3)) as srv:
        c = wire_client(srv.url)
        stream_arn = "arn:aws:kinesis:us-east-1:000000000000:stream/wire"
        names = ["foo", "foo-2", "foo-2-x", "fop", "fo"]
        for n in names:
            c.register_stream_consumer(StreamARN=stream_arn, ConsumerName=n)
        seen, token = [], None
        while True:
            kw = {"StreamARN": stream_arn, "MaxResults": 1}
            if token:
                kw["NextToken"] = token
            page = c.list_stream_consumers(**kw)
            seen += [d["ConsumerName"] for d in page["Consumers"]]
            token = page.get("NextToken")
            if not token:
                break
        assert seen == sorted(names), f"paged listing lost names: {seen}"


def test_kinesis_wire_efo_push_equals_polling():
    """O1/O2 duality at protocol level: the EFO push drain (register →
    ACTIVE → SubscribeToShard events → resubscribe from the
    ContinuationSequenceNumber) delivers exactly the polling drain's
    record set."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        drain_via_efo,
        drain_via_wire,
        simple_stream,
    )

    with FakeKinesisServer(simple_stream("wire", 3, 14)) as srv:
        srv.api.efo_event_batch = 5  # several push events per shard
        polled = drain_via_wire(srv.url, "wire")
        pushed = drain_via_efo(srv.url, "wire")
    assert len(polled) == 42
    assert sorted(polled) == sorted(pushed)


def test_kinesis_wire_efo_spark_source_exact_feed(spark):
    """The EFO push path in Spark executors: SubscribeToShard event
    streams (real vnd.amazon.eventstream frames, parsed by botocore in
    the workers) deliver the exact deterministic feed once each."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        register_efo_consumer,
        register_wire_source,
        simple_stream,
        wire_client,
    )

    register_wire_source(spark)
    with FakeKinesisServer(simple_stream("wire", 3, 20)) as srv:
        arn = register_efo_consumer(wire_client(srv.url), "wire", "t-efo")
        df = (
            spark.readStream.format("kinesumer_wire")
            .option("endpoint", srv.url)
            .option("stream", "wire")
            .option("scanlimit", 8)
            .option("mode", "efo")
            .option("consumerarn", arn)
            .load()
        )
        q = (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName("t_efo_feed")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
        rows = spark.table("t_efo_feed").collect()
    got = sorted(
        (r["shard_id"], r["sequence_number"], r["partition_key"], r["payload_k"])
        for r in rows
    )
    want = sorted(
        (
            f"shardId-{s:012d}",
            str(s * 20 + i).zfill(21),
            str((s * 20 + i) % 97),
            ((s * 20 + i) * 31 + s) % 1000,
        )
        for s in range(3)
        for i in range(20)
    )
    assert got == want


def _drive_planner(reader, max_rounds=20):
    """Call latestOffset until the offset map stops changing; return the
    per-round cursor history."""
    hist = []
    for _ in range(max_rounds):
        off = dict(reader.latestOffset())
        if hist and off == hist[-1]:
            break
        hist.append(off)
    return hist


def test_kinesis_wire_lineage_gate_blocks_children():
    """lineagegate=true: the planner refuses to advance a child shard's
    cursor until its CLOSED parent is fully drained — per-key order
    across the reshard boundary (the reference's open TODO,
    kinesumer.go:314), enforced at admission time over the wire."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWireStreamReader,
        resharded_stream,
    )

    parent = "shardId-000000000000"
    kids = ("shardId-000000000001", "shardId-000000000002")
    with FakeKinesisServer(resharded_stream("wire", 20)) as srv:
        r = KinesumerWireStreamReader(
            None,
            {
                "endpoint": srv.url,
                "stream": "wire",
                "scanlimit": "7",
                "lineagegate": "true",
            },
        )
        hist = _drive_planner(r)
    drained_at = next(i for i, h in enumerate(hist) if h[parent] is None)
    for i, h in enumerate(hist):
        for kid in kids:
            if i < drained_at:
                assert h[kid] == "", (i, h)  # blocked while parent lives
            else:
                assert h[kid] != "", (i, h)  # unblocks the same round
    # both children still drain completely once admitted
    assert hist[-1][kids[0]] == str(39).zfill(21)
    assert hist[-1][kids[1]] == str(59).zfill(21)


def test_kinesis_wire_no_gate_interleaves():
    """Sensitivity: without lineagegate the same topology admits child
    records from round 0 — proving the gated run's ordering is the
    gate's doing, not an artifact of the fake feed."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWireStreamReader,
        resharded_stream,
    )

    with FakeKinesisServer(resharded_stream("wire", 20)) as srv:
        r = KinesumerWireStreamReader(
            None, {"endpoint": srv.url, "stream": "wire", "scanlimit": "7"}
        )
        first = r.latestOffset()
    assert first["shardId-000000000001"] != ""
    assert first["shardId-000000000002"] != ""


def test_kinesis_wire_gate_ignores_open_parent():
    """A child whose parent is still OPEN (no EndingSequenceNumber in
    ListShards — e.g. mid-reshard discovery) is not gated: an open
    parent cannot have post-split data to order against, and blocking
    on it would deadlock the stream."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWireStreamReader,
        _Shard,
        _split_ranges,
    )

    half = _split_ranges(2)
    parent = _Shard("shardId-000000000000", 5, hash_range=half[0])
    child = _Shard(
        "shardId-000000000001",
        5,
        parent=parent.shard_id,
        hash_range=half[1],
    )
    topo = {"wire": [parent, child]}
    for pos, sh in enumerate(topo["wire"]):
        sh._prefill("wire", pos)
    with FakeKinesisServer(topo) as srv:
        r = KinesumerWireStreamReader(
            None,
            {
                "endpoint": srv.url,
                "stream": "wire",
                "scanlimit": "10",
                "lineagegate": "true",
            },
        )
        first = r.latestOffset()
    # open parent never gates: the child advances in round 0
    assert first["shardId-000000000001"] == str(9).zfill(21)


def test_kinesis_wire_live_split_discovery_and_gate():
    """A SplitShard issued WHILE the planner is mid-drain: the next
    planning round's ListShards sweep (the reference's syncShardInfo,
    syncclient.go:305-344) must discover the two children, admit them
    only after the now-closed parent drains, and route live PutRecords
    to the children by the MD5 hash ring — the full live-reshard
    lifecycle at the planner level."""
    import json

    from kinesumer_spark.sources.kinesis_wire import (
        _HASH_SPACE,
        _Shard,
        FakeKinesisServer,
        KinesumerWireStreamReader,
        wire_client,
    )

    parent = _Shard("shardId-000000000000", 20)
    parent._prefill("wire", 0)
    with FakeKinesisServer({"wire": [parent]}) as srv:
        client = wire_client(srv.url)
        r = KinesumerWireStreamReader(
            None,
            {
                "endpoint": srv.url,
                "stream": "wire",
                "scanlimit": "7",
                "lineagegate": "true",
            },
        )
        hist = [dict(r.latestOffset())]  # round 0: single-shard world
        assert set(hist[0]) == {"shardId-000000000000"}
        client.split_shard(
            StreamName="wire",
            ShardToSplit="shardId-000000000000",
            NewStartingHashKey=str(_HASH_SPACE // 2),
        )
        client.put_records(
            StreamName="wire",
            Records=[
                {
                    "Data": json.dumps({"k": i}).encode(),
                    "PartitionKey": f"pk-{i}",
                }
                for i in range(10)
            ],
        )
        hist.extend(_drive_planner(r))
    kids = ("shardId-000000000001", "shardId-000000000002")
    # round 1 discovered the children (cursor entries exist)...
    assert set(hist[1]) == {"shardId-000000000000", *kids}
    # ...but gated them until the closed parent drained
    drained_at = next(i for i, h in enumerate(hist) if h.get("shardId-000000000000") is None)
    for i, h in enumerate(hist[1:], start=1):
        for kid in kids:
            assert (h[kid] != "") == (i >= drained_at), (i, h)
    # the 10 live records all landed and fully drained: child max
    # sequence numbers cover the stream's post-parent range 20..29
    finals = {int(hist[-1][k]) for k in kids}
    assert max(finals) == 29


def test_kinesis_wire_live_merge_waits_for_both_parents():
    """MergeShards mid-drain: the merged child carries ParentShardId +
    AdjacentParentShardId, and the lineage gate must hold it until BOTH
    closed parents drain — one drained parent is not enough. Live
    PutRecords route to the child (it owns the whole ring post-merge)."""
    import json

    from kinesumer_spark.sources.kinesis_wire import (
        _Shard,
        _split_ranges,
        FakeKinesisServer,
        KinesumerWireStreamReader,
        wire_client,
    )

    half = _split_ranges(2)
    s0 = _Shard("shardId-000000000000", 6, hash_range=half[0])
    s1 = _Shard("shardId-000000000001", 20, hash_range=half[1])
    s0._prefill("wire", 0)
    s1._prefill("wire", 1)  # deliberately longer: drains well after s0
    with FakeKinesisServer({"wire": [s0, s1]}) as srv:
        client = wire_client(srv.url)
        r = KinesumerWireStreamReader(
            None,
            {
                "endpoint": srv.url,
                "stream": "wire",
                "scanlimit": "7",
                "lineagegate": "true",
            },
        )
        hist = [dict(r.latestOffset())]
        client.merge_shards(
            StreamName="wire",
            ShardToMerge="shardId-000000000000",
            AdjacentShardToMerge="shardId-000000000001",
        )
        client.put_records(
            StreamName="wire",
            Records=[
                {
                    "Data": json.dumps({"k": i}).encode(),
                    "PartitionKey": f"pk-{i}",
                }
                for i in range(10)
            ],
        )
        hist.extend(_drive_planner(r))
    child = "shardId-000000000002"
    both_drained_at = next(
        i
        for i, h in enumerate(hist)
        if h.get("shardId-000000000000") is None
        and h.get("shardId-000000000001") is None
    )
    # the short parent drains strictly earlier — the child must NOT
    # unblock on that alone
    first_drained_at = next(
        i
        for i, h in enumerate(hist)
        if h.get("shardId-000000000000") is None
        or h.get("shardId-000000000001") is None
    )
    assert first_drained_at < both_drained_at
    for i, h in enumerate(hist):
        if child in h:
            assert (h[child] != "") == (i >= both_drained_at), (i, h)
    # all 10 live records drained through the child: the stream's next
    # monotonic sequence continues from s1's prefill tail (39) → 40..49
    assert int(hist[-1][child]) == 49


# ---------------------------------------------------------------------------
# DynamoDB wire state store (reference statestore.go over boto3)
# ---------------------------------------------------------------------------


def _dyn_store(url, clock):
    from kinesumer_spark.sources.dynamo_wire import DynamoStateStore

    return DynamoStateStore(url, "analytics", clock=clock)


def test_dynamo_wire_client_registry_lifecycle():
    """Register → ascending alive listing (the leader-election order,
    syncclient.go:86) → heartbeat keeps a client alive → staleness
    filter hides an unpinged client → LSI prune deletes it → deregister
    removes explicitly. Deterministic injected clock; all calls cross
    the wire through genuine boto3."""
    from kinesumer_spark.sources.dynamo_wire import FakeDynamoServer

    t = [100.0]
    with FakeDynamoServer() as srv:
        st = _dyn_store(srv.url, lambda: t[0])
        st.register_client("c-b")
        t[0] = 101.0
        st.register_client("c-a")
        t[0] = 102.0
        st.register_client("c-c")
        # ascending client-id order regardless of registration order
        assert st.list_all_alive_client_ids() == ["c-a", "c-b", "c-c"]
        t[0] = 109.5
        st.ping_client_aliveness("c-a")
        st.ping_client_aliveness("c-c")
        t[0] = 112.0  # c-b's last_update=100 is now beyond OUTDATED_GAP
        assert st.list_all_alive_client_ids() == ["c-a", "c-c"]
        # prune uses the LSI range (pk, last_update < cutoff)
        assert st.prune_clients() == ["c-b"]
        assert st.prune_clients() == []  # idempotent
        st.deregister_client("c-a")
        assert st.list_all_alive_client_ids() == ["c-c"]


def test_dynamo_wire_shard_cache_roundtrip():
    """GetShards on a cold cache returns the no-cache signal (the
    reference's ErrNoShardCache, statestore.go:86-88); UpdateShards
    then a consistent read returns the exact list including the
    closed flag (the O3 filter's input)."""
    from kinesumer_spark.sources.dynamo_wire import FakeDynamoServer

    with FakeDynamoServer() as srv:
        st = _dyn_store(srv.url, lambda: 0.0)
        assert st.get_shards("events") is None
        shards = [
            {"shard_id": "shardId-000000000000", "closed": True},
            {"shard_id": "shardId-000000000001", "closed": False},
        ]
        st.update_shards("events", shards)
        assert st.get_shards("events") == shards
        # per-stream isolation under the same app
        assert st.get_shards("other") is None


def test_dynamo_wire_checkpoints_batch_roundtrip():
    """UpdateCheckPoints/ListCheckPoints over BatchWriteItem /
    BatchGetItem: shards without a committed checkpoint are absent
    from the map (statestore.go:247-256), empty input raises
    (ErrEmptyShardIDs), and a re-put overwrites."""
    import pytest

    from kinesumer_spark.sources.dynamo_wire import FakeDynamoServer

    with FakeDynamoServer() as srv:
        st = _dyn_store(srv.url, lambda: 0.0)
        with pytest.raises(ValueError):
            st.list_check_points("events", [])
        st.update_check_points(
            [
                {
                    "stream": "events",
                    "shard_id": "shardId-000000000000",
                    "sequence_number": "000000000000000000007",
                },
                {
                    "stream": "events",
                    "shard_id": "shardId-000000000001",
                    "sequence_number": "000000000000000000019",
                },
            ]
        )
        got = st.list_check_points(
            "events",
            [
                "shardId-000000000000",
                "shardId-000000000001",
                "shardId-000000000099",  # never committed -> absent
            ],
        )
        assert got == {
            "shardId-000000000000": "000000000000000000007",
            "shardId-000000000001": "000000000000000000019",
        }
        st.update_check_points(
            [
                {
                    "stream": "events",
                    "shard_id": "shardId-000000000000",
                    "sequence_number": "000000000000000000011",
                }
            ]
        )
        assert (
            st.list_check_points("events", ["shardId-000000000000"])[
                "shardId-000000000000"
            ]
            == "000000000000000000011"
        )


def test_dynamo_wire_protocol_errors_via_botocore():
    """Protocol-level errors surface as real botocore ClientError with
    the service's __type code: unknown table (ResourceNotFoundException)
    and unknown index."""
    import pytest
    from botocore.exceptions import ClientError

    from kinesumer_spark.sources.dynamo_wire import (
        FakeDynamoServer,
        dynamo_client,
    )

    with FakeDynamoServer() as srv:
        c = dynamo_client(srv.url)
        with pytest.raises(ClientError) as ei:
            c.describe_table(TableName="nope")
        assert (
            ei.value.response["Error"]["Code"]
            == "ResourceNotFoundException"
        )
        with pytest.raises(ClientError) as ei:
            c.query(
                TableName="kinesumer-state",
                IndexName="no-such-index",
                KeyConditionExpression="pk = :p",
                ExpressionAttributeValues={":p": {"S": "x"}},
            )
        assert (
            ei.value.response["Error"]["Code"]
            == "ResourceNotFoundException"
        )


def test_dynamo_wire_alive_ids_drive_golden_assignment():
    """The wire store's ascending alive listing composes with the
    reference's exact range-split math (streaming/assignment.py golden
    vectors): leader = index 0, and each client's shard slice matches
    full_assignment over the wire-cached shard ids."""
    from kinesumer_spark.sources.dynamo_wire import FakeDynamoServer
    from kinesumer_spark.streaming.assignment import (
        full_assignment,
        leader,
    )

    with FakeDynamoServer() as srv:
        st = _dyn_store(srv.url, lambda: 50.0)
        for cid in ("c-2", "c-0", "c-1"):
            st.register_client(cid)
        shards = [
            {"shard_id": f"shardId-{i:012d}", "closed": False}
            for i in range(6)
        ]
        st.update_shards("events", shards)
        alive = st.list_all_alive_client_ids()
        assert leader(alive) == "c-0"
        ids = [s["shard_id"] for s in st.get_shards("events")]
        asg = full_assignment(ids, alive)
        assert asg == {
            "c-0": ids[0:2],
            "c-1": ids[2:4],
            "c-2": ids[4:6],
        }


def test_kinesis_wire_reader_seeds_offsets_from_dynamo():
    """With ``dynamoendpoint`` set, the wire reader's initial offset
    comes from the DynamoDB store's committed checkpoints (resume
    AFTER the stored sequence — syncclient.go:146 + kinesumer.go:575);
    shards without a checkpoint degrade to TRIM_HORIZON ("")."""
    from kinesumer_spark.sources.dynamo_wire import (
        DynamoStateStore,
        FakeDynamoServer,
    )
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWireStreamReader,
        simple_stream,
    )

    with FakeKinesisServer(simple_stream("wire", 2, 20)) as ksrv, (
        FakeDynamoServer()
    ) as dsrv:
        store = DynamoStateStore(dsrv.url, "analytics")
        store.update_check_points(
            [
                {
                    "stream": "wire",
                    "shard_id": "shardId-000000000000",
                    "sequence_number": str(11).zfill(21),
                }
            ]
        )
        r = KinesumerWireStreamReader(
            None,
            {
                "endpoint": ksrv.url,
                "stream": "wire",
                "dynamoendpoint": dsrv.url,
                "app": "analytics",
            },
        )
        first = r.initialOffset()
        assert first["shardId-000000000000"] == str(11).zfill(21)
        assert first["shardId-000000000001"] == ""  # no checkpoint
        # and the paced scan resumes AFTER the checkpoint: first
        # advance lands at 11 + scanLimit on the seeded shard
        nxt = r.latestOffset()
        assert int(nxt["shardId-000000000000"]) > 11


def test_dynamo_wire_batch_caps_chunked_and_unprocessed_keys():
    """r9 advisory: real DynamoDB caps BatchWriteItem at 25 write
    requests and BatchGetItem at 100 keys (the fake now rejects beyond
    the caps like AWS), and either call may return an unprocessed
    subset that botocore does NOT resubmit. A 130-shard commit and
    lookup must chunk, loop the unprocessed subsets, and lose
    nothing."""
    from kinesumer_spark.sources.dynamo_wire import (
        DynamoStateStore,
        FakeDynamoServer,
    )

    shard_ids = [f"shardId-{i:012d}" for i in range(130)]
    with FakeDynamoServer() as srv:
        st = DynamoStateStore(srv.url, "analytics")
        srv.api.unprocessed_every = 7  # bounce every 7th write request
        srv.api.unprocessed_get_every = 5  # and every 5th read key
        st.update_check_points(
            [
                {
                    "stream": "events",
                    "shard_id": sid,
                    "sequence_number": str(3 * i + 1).zfill(21),
                }
                for i, sid in enumerate(shard_ids)
            ]
        )
        got = st.list_check_points("events", shard_ids)
    assert got == {
        sid: str(3 * i + 1).zfill(21) for i, sid in enumerate(shard_ids)
    }


def test_kinesis_wire_foreign_parent_gates_via_statestore():
    """r9 advisory: with lineagegate + an ownership filter that assigns
    a child's CLOSED parent to a DIFFERENT client, the drain signal
    must come from the shared DynamoDB state store — the child is
    admitted only once the store shows the parent's checkpoint at its
    EndingSequenceNumber (or the KCL-style SHARD_END sentinel)."""
    from kinesumer_spark.sources.dynamo_wire import (
        DynamoStateStore,
        FakeDynamoServer,
    )
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWireStreamReader,
        resharded_stream,
    )

    kids = ("shardId-000000000001", "shardId-000000000002")
    with FakeKinesisServer(resharded_stream("wire", 20)) as ksrv, (
        FakeDynamoServer()
    ) as dsrv:
        store = DynamoStateStore(dsrv.url, "analytics")
        r = KinesumerWireStreamReader(
            None,
            {
                "endpoint": ksrv.url,
                "stream": "wire",
                "scanlimit": "50",
                "lineagegate": "true",
                "dynamoendpoint": dsrv.url,
                "app": "analytics",
                "shards": ",".join(kids),  # parent owned elsewhere
            },
        )
        # no checkpoint for the parent yet -> children stay blocked
        for _ in range(3):
            off = r.latestOffset()
            assert all(off[k] == "" for k in kids), off
        # a checkpoint BELOW the parent's EndingSequenceNumber (last
        # record is seq 19) is still mid-drain -> still blocked
        store.update_check_points(
            [
                {
                    "stream": "wire",
                    "shard_id": "shardId-000000000000",
                    "sequence_number": str(10).zfill(21),
                }
            ]
        )
        off = r.latestOffset()
        assert all(off[k] == "" for k in kids), off
        # checkpoint reaches the ending sequence -> drained -> admitted
        store.update_check_points(
            [
                {
                    "stream": "wire",
                    "shard_id": "shardId-000000000000",
                    "sequence_number": str(19).zfill(21),
                }
            ]
        )
        hist = _drive_planner(r)
        assert all(hist[-1][k] != "" for k in kids), hist[-1]
        assert hist[-1][kids[0]] == str(39).zfill(21)
        assert hist[-1][kids[1]] == str(59).zfill(21)

    # the SHARD_END sentinel (what a KCL-style committer records for a
    # fully-consumed shard) also opens the gate
    with FakeKinesisServer(resharded_stream("wire", 20)) as ksrv, (
        FakeDynamoServer()
    ) as dsrv:
        DynamoStateStore(dsrv.url, "analytics").update_check_points(
            [
                {
                    "stream": "wire",
                    "shard_id": "shardId-000000000000",
                    "sequence_number": "SHARD_END",
                }
            ]
        )
        r = KinesumerWireStreamReader(
            None,
            {
                "endpoint": ksrv.url,
                "stream": "wire",
                "scanlimit": "50",
                "lineagegate": "true",
                "dynamoendpoint": dsrv.url,
                "app": "analytics",
                "shards": ",".join(kids),
            },
        )
        off = r.latestOffset()
        assert all(off[k] != "" for k in kids), off


def test_kinesis_wire_commit_records_shard_end_sentinel(spark, tmp_path):
    """r10 review: against real Kinesis a drained shard's data
    checkpoints can never reach its EndingSequenceNumber (sequence
    numbers are sparse in the shard's range), so the reader itself must
    translate drain — cursor None, records durably committed — into a
    KCL-style SHARD_END write to the shared store, or the cross-client
    lineage gate could never open. Drive a REAL streaming query (Spark
    calls commit()) and assert the sentinel lands, and that a fresh
    reader restores it as the drained cursor, not a sequence number."""
    from kinesumer_spark.sources.dynamo_wire import (
        DynamoStateStore,
        FakeDynamoServer,
    )
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWireStreamReader,
        register_wire_source,
        resharded_stream,
    )

    from kinesumer_spark.sources.kinesis_wire import wire_client

    register_wire_source(spark)
    parent = "shardId-000000000000"
    with FakeKinesisServer(resharded_stream("wire", 10)) as ksrv, (
        FakeDynamoServer()
    ) as dsrv:
        q = (
            spark.readStream.format("kinesumer_wire")
            .option("endpoint", ksrv.url)
            .option("stream", "wire")
            .option("scanlimit", "50")
            .option("dynamoendpoint", dsrv.url)
            .option("app", "analytics")
            .load()
            .writeStream.format("memory")
            .queryName("shard_end_probe")
            .option(
                "checkpointLocation", str(tmp_path / "ckpt")
            )
            .start()
        )
        try:
            q.processAllAvailable()
            # Spark commits a batch's offsets to the source when the NEXT
            # batch is constructed — the sentinel for the batch that
            # observed the drain lands one batch later. In a live stream
            # batches keep coming; here a live record forces the next one.
            wire_client(ksrv.url).put_records(
                StreamName="wire",
                Records=[{"Data": b'{"k": 999}', "PartitionKey": "late"}],
            )
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        store = DynamoStateStore(dsrv.url, "analytics")
        cps = store.list_check_points("wire", [parent])
        assert cps.get(parent) == "SHARD_END", cps
        # all 31 records (parent 10 + children 20 + the late put) delivered
        assert spark.table("shard_end_probe").count() == 31
        # a fresh consumer restores the sentinel as the drained cursor
        r = KinesumerWireStreamReader(
            None,
            {
                "endpoint": ksrv.url,
                "stream": "wire",
                "dynamoendpoint": dsrv.url,
                "app": "analytics",
            },
        )
        assert r.initialOffset()[parent] is None


def test_kinesis_wire_empty_filtered_slice_starts_idle():
    """r9 advisory: a stale ``shards`` assignment that matches zero
    shards after a reshard shrank the topology must start IDLE (empty
    offset map), not fail the query start with ErrEmptyShardIDs from
    the checkpoint lookup."""
    from kinesumer_spark.sources.dynamo_wire import FakeDynamoServer
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWireStreamReader,
        simple_stream,
    )

    with FakeKinesisServer(simple_stream("wire", 2, 5)) as ksrv, (
        FakeDynamoServer()
    ) as dsrv:
        r = KinesumerWireStreamReader(
            None,
            {
                "endpoint": ksrv.url,
                "stream": "wire",
                "dynamoendpoint": dsrv.url,
                "app": "analytics",
                "shards": "shardId-000000000909",  # stale: gone
            },
        )
        assert r.initialOffset() == {}
        assert r.latestOffset() == {}


def test_kinesis_wire_reader_shard_ownership_filter():
    """The ``shards`` option restricts a consumer to its ASSIGNED slice
    (O5): the planner's cursor map contains only owned shards, other
    shards are never scanned, and two disjoint readers cover the stream
    with no overlap."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWireStreamReader,
        simple_stream,
    )

    with FakeKinesisServer(simple_stream("wire", 4, 10)) as srv:
        a = KinesumerWireStreamReader(
            None,
            {
                "endpoint": srv.url,
                "stream": "wire",
                "scanlimit": "50",
                "shards": "shardId-000000000000,shardId-000000000001",
            },
        )
        b = KinesumerWireStreamReader(
            None,
            {
                "endpoint": srv.url,
                "stream": "wire",
                "scanlimit": "50",
                "shards": "shardId-000000000002,shardId-000000000003",
            },
        )
        off_a = a.latestOffset()
        off_b = b.latestOffset()
    assert set(off_a) == {"shardId-000000000000", "shardId-000000000001"}
    assert set(off_b) == {"shardId-000000000002", "shardId-000000000003"}
    # disjoint slices drain to their own tails: prefill seqs are
    # pos*per_shard + i, so shard s tops out at (s+1)*10 - 1
    assert off_a["shardId-000000000001"] == str(19).zfill(21)
    assert off_b["shardId-000000000003"] == str(39).zfill(21)



def test_kinesis_wire_expired_iterator_recovery_mid_read():
    """An iterator that expires MID-READ (between pages of one
    partition drain) is re-acquired from the last delivered sequence —
    the reference's expired-iterator handling (kinesumer.go:689-693) —
    with no loss and no replay. botocore does NOT retry this error
    (it is not a throttle); the consumer's recovery path must."""
    from kinesumer_spark.sources.kinesis_wire import (
        _WireSlice,
        FakeKinesisServer,
        KinesumerWireStreamReader,
        simple_stream,
    )

    with FakeKinesisServer(simple_stream("wire", 1, 20)) as srv:
        srv.api.max_page = 5  # force multi-page drains
        srv.api.expire_every = 3  # every 3rd GetRecords expires
        r = KinesumerWireStreamReader(
            None, {"endpoint": srv.url, "stream": "wire"}
        )
        rows = list(
            r.read(
                _WireSlice("shardId-000000000000", None, str(19).zfill(21))
            )
        )
    seqs = [int(t[2]) for t in rows]
    assert seqs == list(range(20))  # exact, ordered, no loss/replay
    # 4 successful pages of 5 records took 5 GetRecords calls total —
    # exactly one (call 3) expired and was recovered, not retried away
    # by botocore
    assert srv.api._gr_calls == 5


def test_kinesis_wire_expired_iterator_livelock_bound():
    """A persistently-expiring endpoint (every call fails) must FAIL
    the read after the consecutive-expiry bound rather than spin the
    executor forever — Spark's task retry is the correct escalation."""
    import pytest
    from botocore.exceptions import ClientError

    from kinesumer_spark.sources.kinesis_wire import (
        _WireSlice,
        FakeKinesisServer,
        KinesumerWireStreamReader,
        simple_stream,
    )

    with FakeKinesisServer(simple_stream("wire", 1, 10)) as srv:
        srv.api.expire_every = 1
        r = KinesumerWireStreamReader(
            None, {"endpoint": srv.url, "stream": "wire"}
        )
        with pytest.raises(ClientError) as ei:
            list(
                r.read(
                    _WireSlice(
                        "shardId-000000000000", None, str(9).zfill(21)
                    )
                )
            )
        assert (
            ei.value.response["Error"]["Code"] == "ExpiredIteratorException"
        )


def test_kinesis_wire_efo_subscription_renewal_mid_read():
    """A SubscribeToShard that the endpoint ends early (AWS ends every
    subscription after 5 minutes) is RENEWED at the last event's
    ContinuationSequenceNumber — the reference's EFO renewal loop —
    with no loss and no replay across the renewal boundaries."""
    from kinesumer_spark.sources.kinesis_wire import (
        _WireSlice,
        FakeKinesisServer,
        KinesumerWireStreamReader,
        register_efo_consumer,
        simple_stream,
        wire_client,
    )

    with FakeKinesisServer(simple_stream("wire", 1, 20)) as srv:
        srv.api.efo_event_batch = 4
        srv.api.efo_max_events_per_sub = 2  # 8 records per subscription
        arn = register_efo_consumer(wire_client(srv.url), "wire", "t-renew")
        r = KinesumerWireStreamReader(
            None,
            {
                "endpoint": srv.url,
                "stream": "wire",
                "mode": "efo",
                "consumerarn": arn,
            },
        )
        rows = list(
            r.read(
                _WireSlice("shardId-000000000000", None, str(19).zfill(21))
            )
        )
        subs = srv.api.efo_subscriptions
    seqs = [int(t[2]) for t in rows]
    assert seqs == list(range(20))  # exact, ordered, no loss/replay
    assert subs == 3  # 8 + 8 + 4: two renewals actually fired


def test_kinesis_wire_efo_stale_subscription_bound():
    """An EFO range whose end is beyond the tip (the subscription can
    never progress past the last record) must FAIL after the stale
    bound rather than renew forever — Spark's task retry is the
    correct escalation, and idling AT the tip must not replay."""
    import pytest

    from kinesumer_spark.sources.kinesis_wire import (
        _WireSlice,
        FakeKinesisServer,
        KinesumerWireStreamReader,
        register_efo_consumer,
        simple_stream,
        wire_client,
    )

    with FakeKinesisServer(simple_stream("wire", 1, 20)) as srv:
        srv.api.efo_event_batch = 4
        srv.api.efo_max_events_per_sub = 2
        arn = register_efo_consumer(wire_client(srv.url), "wire", "t-stale")
        r = KinesumerWireStreamReader(
            None,
            {
                "endpoint": srv.url,
                "stream": "wire",
                "mode": "efo",
                "consumerarn": arn,
            },
        )
        delivered = []
        with pytest.raises(RuntimeError, match="ended before committed end"):
            for row in r.read(
                _WireSlice("shardId-000000000000", None, str(25).zfill(21))
            ):
                delivered.append(row)
    # everything that EXISTS was delivered exactly once before failing
    assert [int(t[2]) for t in delivered] == list(range(20))


def test_kinesis_wire_putrecords_partial_failure_retry():
    """The wire batch writer resubmits EXACTLY the failed subset of a
    PutRecords call (AWS contract: per-entry failures succeed the call
    with FailedRecordCount > 0; botocore never retries them), until
    every record is placed — no loss, no double-placement."""
    import json as _json

    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWirePutWriter,
        drain_via_wire,
        open_stream,
    )

    class _Row(dict):
        def __getitem__(self, k):  # writer indexes rows by column name
            return dict.__getitem__(self, k)

    rows = [
        _Row(partition_key=f"pk-{i}", data=_json.dumps({"k": i}))
        for i in range(40)
    ]
    with FakeKinesisServer(open_stream("wire", 4)) as srv:
        srv.api.put_fail_every = 3  # every 3rd entry throttles
        w = KinesumerWirePutWriter(
            None, {"endpoint": srv.url, "stream": "wire", "batchsize": 10}
        )
        msg = w.write(iter(rows))
        assert msg.n_ok == 40
        assert msg.n_retried > 0  # the injection actually exercised
        drained = drain_via_wire(srv.url, "wire")
    ks = sorted(int(t[3]) for t in drained)
    assert ks == list(range(40))  # every record placed exactly once


def test_kinesis_wire_putrecords_gives_up_after_bound():
    """A sink whose every entry is throttled forever must FAIL the
    task after the attempt bound, not spin."""
    import json as _json

    import pytest

    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWirePutWriter,
        open_stream,
    )

    with FakeKinesisServer(open_stream("wire", 2)) as srv:
        srv.api.put_fail_every = 1  # everything fails, always
        w = KinesumerWirePutWriter(
            None,
            {"endpoint": srv.url, "stream": "wire", "maxattempts": 3},
        )
        with pytest.raises(RuntimeError, match="still throttled after"):
            w.write(
                iter([{"partition_key": "pk", "data": _json.dumps({"k": 1})}])
            )


def test_kinesis_wire_stream_deletion_freezes_planner():
    """DeleteStream under a consumer: the planner's next probe hits
    ResourceInUseException and FREEZES the stream's offsets (sticky —
    the reference exits that stream's consume loop, kinesumer.go:
    667-675, 685-688) instead of crashing; committed offsets and
    already-delivered records are untouched."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWireStreamReader,
        simple_stream,
        wire_client,
    )

    with FakeKinesisServer(simple_stream("wire", 2, 10)) as srv:
        r = KinesumerWireStreamReader(
            None, {"endpoint": srv.url, "stream": "wire", "scanlimit": 100}
        )
        before = r.latestOffset()
        wire_client(srv.url).delete_stream(StreamName="wire")
        after = r.latestOffset()
        again = r.latestOffset()  # sticky: no further wire calls raise
        assert before == after == again
        assert r._stream_dead
        assert srv.api.riue_raised == 1  # short-circuits after the first


def test_kinesis_wire_mid_round_deletion_restores_cursor():
    """Deletion landing MID-probe-round (after one shard's tip probe
    advanced, before the next shard's) must freeze at the PRE-round
    snapshot: a partially-advanced round would commit ranges whose
    data plane is gone, scheduling executor reads that can only fail.
    Nothing delivered is lost — the advancement was driver-only."""
    import json as _json

    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWireStreamReader,
        simple_stream,
        wire_client,
    )

    with FakeKinesisServer(simple_stream("wire", 2, 10)) as srv:
        r = KinesumerWireStreamReader(
            None, {"endpoint": srv.url, "stream": "wire", "scanlimit": 100}
        )
        settled = r.latestOffset()  # both shards drained
        # new records on both shards, then delete after the FIRST
        # shard's probe in the next round (the server is in-process,
        # so wrapping the op hits mid-round deterministically)
        wire_client(srv.url).put_records(
            StreamName="wire",
            Records=[
                {
                    "Data": _json.dumps({"k": i}).encode(),
                    "PartitionKey": f"pk-{i}",
                }
                for i in range(10)
            ],
        )
        real = srv.api.op_GetRecords
        calls = []

        def wrapper(body):
            out = real(body)
            if not calls:  # after shard 1's probe, before shard 2's
                calls.append(1)
                srv.api.stream_status["wire"] = "DELETING"
            return out

        srv.api.op_GetRecords = wrapper
        frozen = r.latestOffset()
        assert frozen == settled  # pre-round snapshot, not partial
        assert r._stream_dead
        assert r.latestOffset() == settled  # sticky


def test_kinesis_wire_wal_restart_resumes_without_replay(spark, tmp_path):
    """A NEW query on the SAME checkpointLocation resumes the wire
    source from the WAL's committed per-shard offsets: records
    produced between the two runs deliver exactly once — the reader's
    offset dict round-trips through Spark's WAL (O11 over the wire,
    Spark-native side of the external-store restore row). The sink is
    idempotent by batchId (per-batch overwrite), the documented
    foreachBatch contract: a stop() racing the commit-log write makes
    the last batch at-least-once, and a batch re-run recomputes the
    SAME WAL-logged range, so the overwrite restores exactly-once —
    the same discipline the Engine's commit ledger implements."""
    import json as _json

    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        register_wire_source,
        simple_stream,
        wire_client,
    )

    register_wire_source(spark)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_once():
        def capture(batch_df, batch_id):
            # idempotent by batchId: a replayed batch overwrites its
            # own slot with the identical WAL-logged range
            batch_df.write.mode("overwrite").parquet(f"{out}/b{batch_id}")

        q = (
            spark.readStream.format("kinesumer_wire")
            .option("endpoint", srv.url)
            .option("stream", "wire")
            .option("scanlimit", 6)
            .load()
            .writeStream.foreachBatch(capture)
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    with FakeKinesisServer(simple_stream("wire", 2, 10)) as srv:
        run_once()
        wire_client(srv.url).put_records(
            StreamName="wire",
            Records=[
                {
                    "Data": _json.dumps({"k": 100 + i}).encode(),
                    "PartitionKey": f"pk-{i}",
                }
                for i in range(10)
            ],
        )
        run_once()  # fresh query object, same WAL

    got = sorted(
        int(r.sequence_number)
        for r in spark.read.parquet(f"{out}/b*").collect()
    )
    assert got == list(range(30))  # 20 prefill + 10 late, exactly once


def test_python_source_wal_restart_is_exactly_once(spark, tmp_path):
    """A fully-drained sim stream restarted on the same WAL must
    deliver NOTHING new: the fresh reader's cursor rebuilds from zero
    and its early offsets-log entries land behind the WAL, but the
    floor learned from partitions() clamps every slice — without it,
    the post-restart catch-up batches replayed the tail of run 1."""
    from kinesumer_spark.sources.python_source import (
        register_sim_stream_source,
    )

    register_sim_stream_source(spark)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    run_rows = []

    def run_once():
        rows = []

        def capture(batch_df, batch_id):
            rows.extend(
                batch_df.select("shard_id", "sequence_number").collect()
            )

        q = (
            spark.readStream.format("kinesumer_sim_stream")
            .option("numShards", "2")
            .option("totalPerShard", "30")
            .option("scanLimit", "10")
            .load()
            .writeStream.foreachBatch(capture)
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        run_rows.append(rows)

    run_once()
    run_once()  # fresh query object, same WAL — the stream is drained
    assert len(run_rows[0]) == 60
    assert run_rows[1] == []  # no replay from stale catch-up offsets


def test_kinesis_wire_wal_restart_closed_shard_not_replayed(spark, tmp_path):
    """Restart over a RESHARDED stream: the drained closed parent's
    WAL offset is the None sentinel, and the heal must honor it — a
    rebuilt cursor that re-probes the parent from TRIM_HORIZON would
    replay the entire drained shard after restart."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        register_wire_source,
        resharded_stream,
    )

    register_wire_source(spark)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_once(srv):
        def capture(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(f"{out}/b{batch_id}")

        q = (
            spark.readStream.format("kinesumer_wire")
            .option("endpoint", srv.url)
            .option("stream", "wire")
            .option("scanlimit", 8)
            .load()
            .writeStream.foreachBatch(capture)
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    with FakeKinesisServer(resharded_stream("wire", 20)) as srv:
        run_once(srv)  # parent 0-19 (then CLOSED+drained), children 20-59
        run_once(srv)  # fresh query, same WAL: nothing must replay
    got = sorted(
        int(r.sequence_number)
        for r in spark.read.parquet(f"{out}/b*").collect()
    )
    assert got == list(range(60))  # exactly once, closed parent included


def test_kinesis_wire_deletion_before_first_probe_freezes(spark):
    """A stream already DELETING when the query starts (or deleted
    before the source's first probe) freezes the source from birth —
    the unioned sibling still delivers; the query never crashes."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        register_wire_source,
        simple_stream,
        wire_client,
    )

    register_wire_source(spark)
    topo = simple_stream("alive", 1, 10)
    topo.update(simple_stream("dead", 1, 10))
    rows = []

    def capture(batch_df, batch_id):
        rows.extend(batch_df.select("stream", "sequence_number").collect())

    with FakeKinesisServer(topo) as srv:
        wire_client(srv.url).delete_stream(StreamName="dead")

        def source(stream):
            return (
                spark.readStream.format("kinesumer_wire")
                .option("endpoint", srv.url)
                .option("stream", stream)
                .option("scanlimit", 100)
                .load()
            )

        q = (
            source("alive")
            .unionByName(source("dead"))
            .writeStream.foreachBatch(capture)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        assert srv.api.riue_raised >= 1
    assert sorted(int(r.sequence_number) for r in rows) == list(range(10))
    assert {r.stream for r in rows} == {"alive"}


def test_dynamo_wire_unprocessed_items_resubmitted():
    """BatchWriteItem's partial-failure contract: under throttling the
    call SUCCEEDS with the unapplied subset in UnprocessedItems and
    botocore does NOT resubmit — the store must (the reference's
    dynamo library does this internally, statestore.go:260-281).
    Dropping the subset would lose committed checkpoints and replay
    records on the next restart."""
    from kinesumer_spark.sources.dynamo_wire import FakeDynamoServer

    with FakeDynamoServer() as srv:
        srv.api.unprocessed_every = 3  # every 3rd write request bounces
        st = _dyn_store(srv.url, lambda: 100.0)
        cps = [
            {
                "stream": "events",
                "shard_id": f"shardId-{s:012d}",
                "sequence_number": str(10 * s + 7).zfill(21),
            }
            for s in range(12)
        ]
        st.update_check_points(cps)
        assert srv.api._bw_requests > 12  # resubmissions actually ran
        got = st.list_check_points(
            "events", [cp["shard_id"] for cp in cps]
        )
    assert got == {
        cp["shard_id"]: cp["sequence_number"] for cp in cps
    }  # every checkpoint landed exactly once despite the bounces


def test_dynamo_wire_unprocessed_items_bound():
    """A table that bounces EVERY write forever must fail the commit
    after the resubmission bound, not spin."""
    import pytest

    from kinesumer_spark.sources.dynamo_wire import FakeDynamoServer

    with FakeDynamoServer() as srv:
        srv.api.unprocessed_every = 1
        st = _dyn_store(srv.url, lambda: 100.0)
        with pytest.raises(RuntimeError, match="still unprocessed"):
            st.update_check_points(
                [
                    {
                        "stream": "events",
                        "shard_id": "shardId-000000000000",
                        "sequence_number": "1".zfill(21),
                    }
                ]
            )


def test_kinesis_wire_list_shards_pagination():
    """ListShards pages via NextToken (the reference's loop,
    kinesumer.go:305-344): the token excludes StreamName (API
    contract), pages compose to the full topology, and a consumer
    that stopped at page one would see only a prefix."""
    import pytest
    from botocore.exceptions import ClientError

    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        list_all_shards,
        simple_stream,
        wire_client,
    )

    with FakeKinesisServer(simple_stream("wire", 5, 4)) as srv:
        c = wire_client(srv.url)
        out = c.list_shards(StreamName="wire", MaxResults=2)
        assert len(out["Shards"]) == 2 and "NextToken" in out
        with pytest.raises(ClientError) as ei:
            c.list_shards(StreamName="wire", NextToken=out["NextToken"])
        assert ei.value.response["Error"]["Code"] == "InvalidArgumentException"
        # server-side page cap forces pagination on default calls too
        srv.api.list_shards_page = 2
        assert len(c.list_shards(StreamName="wire")["Shards"]) == 2
        got = [s["ShardId"] for s in list_all_shards(c, "wire")]
    assert got == [f"shardId-{i:012d}" for i in range(5)]


def test_kinesis_wire_consume_spans_listshards_pages(spark):
    """The streaming source's per-round topology listing paginates:
    with the server capping ListShards at 2 shards per page, a
    5-shard stream still delivers every record exactly once — an
    unpaginated consumer would silently drain only the first page."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        register_wire_source,
        simple_stream,
    )

    register_wire_source(spark)
    with FakeKinesisServer(simple_stream("wire", 5, 6)) as srv:
        srv.api.list_shards_page = 2
        rows = []

        def capture(batch_df, batch_id):
            rows.extend(batch_df.select("sequence_number").collect())

        q = (
            spark.readStream.format("kinesumer_wire")
            .option("endpoint", srv.url)
            .option("stream", "wire")
            .option("scanlimit", 100)
            .load()
            .writeStream.foreachBatch(capture)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    assert sorted(int(r.sequence_number) for r in rows) == list(range(30))


def _count_dispatch(api) -> dict:
    """Count API calls per operation at the endpoint's dispatch
    boundary, plus how often GetRecords returned each sequence number.
    Returns the live counters dict."""
    import collections
    import threading

    counts = {"ops": collections.Counter(), "seqs": collections.Counter()}
    lock = threading.Lock()
    inner = api.dispatch

    def dispatch(op, body):
        out = inner(op, body)
        with lock:
            counts["ops"][op] += 1
            if op == "GetRecords":
                seqs = (r["SequenceNumber"] for r in out["Records"])
                counts["seqs"].update(seqs)
        return out

    api.dispatch = dispatch
    return counts


def _simple_feed(n_shards: int, per_shard: int) -> list[tuple]:
    """The (shard_id, sequence_number, partition_key, payload_k) rows of
    ``simple_stream(_, n_shards, per_shard)``."""
    return sorted(
        (
            f"shardId-{s:012d}",
            str(s * per_shard + i).zfill(21),
            str((s * per_shard + i) % 97),
            ((s * per_shard + i) * 31 + s) % 1000,
        )
        for s in range(n_shards)
        for i in range(per_shard)
    )


def _wire_rows(rows) -> list[tuple]:
    return sorted(
        (r["shard_id"], r["sequence_number"], r["partition_key"], r["payload_k"])
        for r in rows
    )


def test_kinesis_wire_polling_fetches_each_record_once(spark):
    """Polling mode reads on the driver, once: the planner's tip probe
    is the read, so a drain through readStream takes every record off
    the wire exactly once (the executor re-fetch of the probed range
    doubled it) and runs no Python read task."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        register_wire_source,
        simple_stream,
    )

    register_wire_source(spark)
    rows = []

    def capture(batch_df, batch_id):
        rows.extend(batch_df.collect())

    with FakeKinesisServer(simple_stream("wire", 3, 20)) as srv:
        counts = _count_dispatch(srv.api)
        q = (
            spark.readStream.format("kinesumer_wire")
            .option("endpoint", srv.url)
            .option("stream", "wire")
            .option("scanlimit", 8)
            .load()
            .writeStream.foreachBatch(capture)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    assert _wire_rows(rows) == _simple_feed(3, 20)
    assert len(counts["seqs"]) == 60
    assert set(counts["seqs"].values()) == {1}
    assert "SubscribeToShard" not in counts["ops"]


def test_kinesis_wire_efo_reads_on_executors(spark):
    """mode=efo keeps the partitioned reader: the probe only paces the
    batch boundary and executors read the committed ranges through
    SubscribeToShard, so GetRecords still returns each record once
    (the probe) and the data arrives over the event streams."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWireDataSource,
        KinesumerWireStreamReader,
        register_efo_consumer,
        register_wire_source,
        simple_stream,
        wire_client,
    )

    register_wire_source(spark)
    rows = []

    def capture(batch_df, batch_id):
        rows.extend(batch_df.collect())

    with FakeKinesisServer(simple_stream("wire", 3, 20)) as srv:
        arn = register_efo_consumer(wire_client(srv.url), "wire", "t-efo-ex")
        opts = {"endpoint": srv.url, "consumerarn": arn, "mode": "efo"}
        assert isinstance(
            KinesumerWireDataSource(opts).streamReader(None),
            KinesumerWireStreamReader,
        )
        counts = _count_dispatch(srv.api)
        q = (
            spark.readStream.format("kinesumer_wire")
            .option("endpoint", srv.url)
            .option("stream", "wire")
            .option("scanlimit", 8)
            .option("mode", "efo")
            .option("consumerarn", arn)
            .load()
            .writeStream.foreachBatch(capture)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    assert _wire_rows(rows) == _simple_feed(3, 20)
    # every shard range of every batch is one subscription
    assert counts["ops"]["SubscribeToShard"] >= 3
    assert set(counts["seqs"].values()) == {1}


def test_kinesis_wire_failed_batch_replays_wal_range(spark, tmp_path):
    """A batch whose sink raises kills the query; the restarted query
    on the same checkpoint has no prefetched records for that
    WAL-logged batch (the cache miss) and re-reads its range on an
    executor through readBetweenOffsets. With a batch-id-idempotent
    sink every (shard_id, sequence_number) is delivered exactly once,
    and the replayed batch is the one that failed, row for row."""
    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        register_wire_source,
        simple_stream,
    )

    register_wire_source(spark)
    ck = str(tmp_path / "ck")
    out: dict[int, list[tuple]] = {}
    failed: dict[int, list[tuple]] = {}

    def sink(batch_df, batch_id):
        rows = _wire_rows(batch_df.collect())
        if batch_id == 1 and not failed:
            failed[batch_id] = rows
            raise RuntimeError("sink down once")
        out[batch_id] = rows  # idempotent by batch id

    def run_once(srv):
        q = (
            spark.readStream.format("kinesumer_wire")
            .option("endpoint", srv.url)
            .option("stream", "wire")
            .option("scanlimit", 6)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    with FakeKinesisServer(simple_stream("wire", 2, 15)) as srv:
        counts = _count_dispatch(srv.api)
        with pytest.raises(Exception, match="sink down once"):
            run_once(srv)
        assert set(counts["seqs"].values()) == {1}  # no replay yet
        run_once(srv)
    assert failed[1] and out[1] == failed[1]
    delivered = [(r[0], r[1]) for rows in out.values() for r in rows]
    assert len(delivered) == len(set(delivered))
    got = sorted(r for rows in out.values() for r in rows)
    assert got == _simple_feed(2, 15)
    # the replay fetched the failed batch's records a second time
    assert all(counts["seqs"][r[1]] >= 2 for r in failed[1])


def test_kinesis_wire_polling_read_drops_partial_round_on_deletion():
    """The polling read's freeze: a deletion landing mid-round returns
    the pre-round offset with NO rows — the records the round had
    already fetched from the first shard are dropped, not promised
    under an offset that never advanced."""
    import json as _json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from kinesumer_spark.sources.kinesis_wire import (
        FakeKinesisServer,
        KinesumerWirePollingReader,
        simple_stream,
        wire_client,
    )

    schema = StructType(
        [
            StructField(c, StringType())
            for c in ("stream", "shard_id", "sequence_number", "partition_key")
        ]
        + [StructField("payload_k", LongType())]
    )
    with FakeKinesisServer(simple_stream("wire", 2, 10)) as srv:
        r = KinesumerWirePollingReader(
            schema, {"endpoint": srv.url, "stream": "wire", "scanlimit": 100}
        )
        rows, settled = r.read(r.initialOffset())
        (batch,) = list(rows)
        assert batch.num_rows == 20
        wire_client(srv.url).put_records(
            StreamName="wire",
            Records=[
                {"Data": _json.dumps({"k": i}).encode(), "PartitionKey": f"k{i}"}
                for i in range(10)
            ],
        )
        real = srv.api.op_GetRecords

        def delete_after_first(body):
            out = real(body)
            srv.api.stream_status["wire"] = "DELETING"
            return out

        srv.api.op_GetRecords = delete_after_first
        rows, frozen = r.read(settled)
        assert frozen == settled
        assert list(rows) == []
