"""S2/K2 executed end-to-end against the file-backed Kafka stand-in.

The real format("kafka") reader/writer needs a broker + the
spark-sql-kafka package (neither exists here; test_streaming.py's live
round trip env-gates on them). These tests run the SAME adapter code
around the broker — S4 record building, S2 value deserialization, the
K2 column contract, per-partition offset semantics — against
kafka_standin's bit-identical source schema.
"""

from __future__ import annotations

import pytest

from flink_realtime_data_eng_spark import (generators, kafka_standin, sinks,
                                           sources)


def test_source_schema_parity_with_real_kafka(spark, tmp_path):
    """The stand-in must emit exactly the 7 columns (names, types,
    order) Spark's Kafka source produces — that parity is what makes it
    a stand-in rather than a different source."""
    topic_dir = str(tmp_path / "t0")
    kafka_standin.produce(topic_dir, "t0", [("k", "v")])
    df = kafka_standin.read_batch(spark, topic_dir)
    assert tuple(df.dtypes) == kafka_standin.KAFKA_SOURCE_SCHEMA


def test_s4_records_through_s2_deserialization(spark, tmp_path):
    """S4 (kafka_producer_records) → topic → streaming read →
    kafka_values: the value-only CAST(value AS STRING) path the
    reference's SimpleStringSchema consumer uses
    (chapter3/WindowingOperations.java:47-60)."""
    topic_dir = str(tmp_path / "audit")
    records = generators.kafka_producer_records(n=50)
    kafka_standin.produce(topic_dir, "audit-topic", records)

    stream = sources.kafka_values(
        kafka_standin.read_stream(spark, topic_dir))
    assert stream.isStreaming and stream.columns == ["value"]
    writer = (stream.writeStream.format("memory")
              .queryName("kafka_standin_vals")
              .option("checkpointLocation", str(tmp_path / "ck")))
    sinks.run_available_now(writer)
    got = {r["value"] for r in
           spark.sql("SELECT value FROM kafka_standin_vals").collect()}
    assert got == {v for _, v in records}
    # every record is a parseable audit CSV line (the downstream P1 map)
    assert all(len(v.split(",")) >= 5 for v in got)


def test_partition_stickiness_and_dense_offsets(spark, tmp_path):
    """Kafka's ordering contract: same key → same partition, offsets
    dense from 0 per partition — across MULTIPLE produce calls."""
    topic_dir = str(tmp_path / "tp")
    kafka_standin.produce(topic_dir, "tp",
                          [(f"k{i % 5}", f"v{i}") for i in range(20)])
    kafka_standin.produce(topic_dir, "tp",
                          [(f"k{i % 5}", f"w{i}") for i in range(20)])
    rows = kafka_standin.read_batch(spark, topic_dir).collect()
    assert len(rows) == 40
    by_part: dict[int, list[int]] = {}
    key_part: dict[bytes, set[int]] = {}
    for r in rows:
        by_part.setdefault(r["partition"], []).append(r["offset"])
        key_part.setdefault(bytes(r["key"]), set()).add(r["partition"])
    for part, offs in by_part.items():
        assert sorted(offs) == list(range(len(offs))), (part, offs)
    assert all(len(ps) == 1 for ps in key_part.values()), key_part


def test_k2_sink_contract_and_roundtrip(spark, tmp_path):
    """K2 stand-in: value column required (kafka sink contract), keyed
    records land partition-sticky, and the topic reads back the exact
    produced values."""
    import pyspark.sql.functions as F

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    (src_dir / "a.txt").write_text("alpha\nbeta\ngamma\n")
    lines = sources.file_text_stream(spark, str(src_dir))

    # contract: no value column → refuse, same as format("kafka") would
    with pytest.raises(ValueError, match="value"):
        kafka_standin.standin_sink(
            lines.select(F.col("value").alias("payload")),
            str(tmp_path / "t1"), "t1", str(tmp_path / "ck1"))

    topic_dir = str(tmp_path / "t2")
    writer = kafka_standin.standin_sink(
        lines.select(F.substring("value", 1, 1).alias("key"), "value"),
        topic_dir, "t2", str(tmp_path / "ck2"))
    sinks.run_available_now(writer)
    back = kafka_standin.read_batch(spark, topic_dir)
    vals = {bytes(r["value"]).decode() for r in back.collect()}
    assert vals == {"alpha", "beta", "gamma"}
    # at-least-once: replaying the same data appends, never overwrites
    (src_dir / "b.txt").write_text("alpha\n")
    writer2 = kafka_standin.standin_sink(
        lines.select(F.substring("value", 1, 1).alias("key"), "value"),
        topic_dir, "t2", str(tmp_path / "ck2"))
    sinks.run_available_now(writer2)
    assert kafka_standin.read_batch(spark, topic_dir).count() == 4
