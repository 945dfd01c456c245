"""Structured Streaming validation tests (SURVEY §2.10 T1-T5)."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.fixtures.generator import SHAPEMAP_QUERY, SHEX_SENSOR
from rdfshape_api_spark.streaming import CLOSE_CODES, StreamConfig, stream_validate


@pytest.fixture()
def stream_input(tmp_path, fixtures_001):
    """Split the fixture docs parquet into 3 chunk files (micro-batches)."""
    tbl = pq.read_table(fixtures_001["docs"])
    n = tbl.num_rows
    d = tmp_path / "in"
    d.mkdir()
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]):
        pq.write_table(tbl.slice(lo, hi - lo), str(d / f"chunk{i}.parquet"))
    return str(d)


def test_stream_matches_batch(spark, stream_input, tmp_path, triples_001):
    out = str(tmp_path / "out")
    cfg = StreamConfig(
        shex_schema=SHEX_SENSOR,
        shex_shapemap=SHAPEMAP_QUERY,
        max_files_per_trigger=1,
    )
    status = stream_validate(spark, stream_input, out, cfg)
    assert status["kind"] == "STANDARD"
    assert status["code"] == CLOSE_CODES["STANDARD"]
    assert status["batches"] >= 1

    # T1: streamed verdicts == batch verdicts on the same input
    from rdfshape_api_spark.plans import parse_shexc, validate

    batch = validate(
        triples_001, parse_shexc(SHEX_SENSOR), shapemap=SHAPEMAP_QUERY, shape_label="shex_stream"
    ).select("doc_sha256", "node", "status")
    streamed = spark.read.parquet(os.path.join(out, "verdicts")).select(
        "doc_sha256", "node", "status"
    )
    assert streamed.exceptAll(batch).isEmpty()
    assert batch.exceptAll(streamed).isEmpty()


def test_halt_on_invalid(spark, stream_input, tmp_path):
    out = str(tmp_path / "halt")
    cfg = StreamConfig(
        shex_schema=SHEX_SENSOR,
        shex_shapemap=SHAPEMAP_QUERY,
        halt_on_invalid=True,
        max_files_per_trigger=1,
    )
    status = stream_validate(spark, stream_input, out, cfg)
    # fixture has nonconformant readings in every chunk → halts on batch 0
    assert status["kind"] == "INVALID_ITEM"
    assert status["code"] == 3003
    assert status["batches"] == 1


def test_halt_on_errored(spark, stream_input, tmp_path):
    out = str(tmp_path / "halt_err")
    cfg = StreamConfig(
        shex_schema=SHEX_SENSOR,
        shex_shapemap=SHAPEMAP_QUERY,
        halt_on_errored=True,
        max_files_per_trigger=1,
    )
    status = stream_validate(spark, stream_input, out, cfg)
    # ~1% syntax-error docs exist in the fixture → ERRORED_ITEM close
    assert status["kind"] == "ERRORED_ITEM"
    assert status["code"] == 3005


def test_no_schema_is_configuration_error(spark, stream_input, tmp_path):
    out = str(tmp_path / "noschema")
    status = stream_validate(spark, stream_input, out, StreamConfig())
    assert status["kind"] == "CONFIGURATION_ERROR"
    assert status["code"] == 3002


def test_kafka_source_config_selection():
    """stream block with server+topic selects the Kafka source path
    (CometTransformations.scala:115-141); without it, file-stream."""
    from rdfshape_api_spark.streaming.validate_stream import StreamConfig

    cfg = StreamConfig.from_reference_json(
        {
            "validator": {"schema": {"content": "x", "engine": "shex"},
                           "triggerMode": {"shape-map": "{FOCUS a ex:T}@ex:S"}},
            "extractor": {"data": {"format": "Turtle"}},
            "stream": {"server": "kafka://broker", "port": 9092,
                        "topic": "rdf-docs", "groupId": "g1"},
        }
    )
    assert cfg.uses_kafka()
    assert cfg.extractor_format == "turtle"
    nofk = StreamConfig.from_reference_json(
        {"validator": {"schema": {"content": "x", "engine": "shex"},
                        "triggerMode": {"shape-map": "m"}}}
    )
    assert not nofk.uses_kafka()


def test_kafka_recorded_offset_replay(spark, tmp_path):
    """Broker-less execution evidence for the Kafka source path (r5):
    recorded messages in the spark-sql-kafka wire shape stream through
    the SAME projection the live source uses (kafka_message_projection) —
    topic/partition/offset become repo/path/commit, value bytes become
    the document — and the full foreachBatch validation pipeline runs on
    top.  Streamed verdicts must equal batch validation of the same
    payloads."""
    import pyspark.sql.functions as SF

    from rdfshape_api_spark.streaming.validate_stream import (
        KAFKA_WIRE_SCHEMA,
        StreamConfig,
        stream_validate,
    )

    ex = "http://example.org/"
    good = f"@prefix ex: <{ex}> .\nex:n1 a ex:T ; ex:p ex:v .\n"
    bad = f"@prefix ex: <{ex}> .\nex:n2 a ex:T .\n"
    records = [
        (None, good.encode(), "rdf-docs", 0, 0),
        (None, bad.encode(), "rdf-docs", 0, 1),
        (None, good.replace("n1", "n3").encode(), "rdf-docs", 1, 0),
    ]
    replay_dir = tmp_path / "recorded"
    replay_dir.mkdir()
    spark.createDataFrame(
        [r + (None,) for r in records], KAFKA_WIRE_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(str(replay_dir / "seg0"))
    # the file-stream reader expects files directly under the dir
    src = glob.glob(str(replay_dir / "seg0" / "*.parquet"))[0]
    shutil.move(src, str(replay_dir / "rec0.parquet"))
    shutil.rmtree(replay_dir / "seg0")

    cfg = StreamConfig(
        shex_schema=f"PREFIX ex: <{ex}>\nex:S {{ ex:p . }}",
        shex_shapemap=f"{{FOCUS a <{ex}T>}}@<{ex}S>",
        stream_info={
            "server": "kafka://recorded", "topic": "rdf-docs",
            "replayDir": str(replay_dir),
        },
    )
    out = str(tmp_path / "out")
    status = stream_validate(spark, str(tmp_path / "unused"), out, cfg)
    assert status["kind"] == "STANDARD" and status["batches"] >= 1

    verdicts = spark.read.parquet(os.path.join(out, "verdicts"))
    rows = {(r["node"], r["status"]) for r in verdicts.collect()}
    assert rows == {
        (ex + "n1", "conformant"),
        (ex + "n2", "nonconformant"),
        (ex + "n3", "conformant"),
    }
    # the projection's synthetic identity: repo=kafka:<topic>,
    # path=<partition>/<offset>, commit=<offset>
    docs = verdicts.select("doc_sha256").distinct()
    assert docs.count() == 3


def test_kafka_projection_identity_columns(spark):
    """The shared projection itself (unit): wire row → docs row."""
    from rdfshape_api_spark.streaming.validate_stream import (
        KAFKA_WIRE_SCHEMA,
        StreamConfig,
        kafka_message_projection,
    )

    cfg = StreamConfig(
        shex_schema="x",
        stream_info={"server": "kafka://b", "topic": "t"},
    )
    wire = spark.createDataFrame(
        [(None, b"<a> <b> <c> .", "t", 3, 17, None)], KAFKA_WIRE_SCHEMA
    )
    row = wire.select(*kafka_message_projection(cfg)).collect()[0]
    assert row["repo"] == "kafka:t"
    assert row["path"] == "3/17"
    assert row["commit"] == "17"
    assert row["content"] == "<a> <b> <c> ."
    import hashlib

    assert row["content_sha256"] == hashlib.sha256(b"<a> <b> <c> .").hexdigest()


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_KAFKA_BOOTSTRAP"),
    reason="no Kafka broker configured (set SPARK_GRAFT_KAFKA_BOOTSTRAP host:port)",
)
def test_kafka_source_integration(spark, tmp_path):
    """Real-broker integration: requires the spark-sql-kafka connector and
    a topic with RDF document values."""
    from rdfshape_api_spark.streaming.validate_stream import (
        StreamConfig,
        stream_validate,
    )

    host, port = os.environ["SPARK_GRAFT_KAFKA_BOOTSTRAP"].rsplit(":", 1)
    cfg = StreamConfig(
        shex_schema="PREFIX ex: <http://example.org/>\nex:S { ex:p . }",
        shex_shapemap="{FOCUS a <http://example.org/T>}@<http://example.org/S>",
        stream_info={"server": host, "port": int(port),
                     "topic": os.environ.get("SPARK_GRAFT_KAFKA_TOPIC", "rdf-docs")},
    )
    status = stream_validate(spark, str(tmp_path / "in"), str(tmp_path / "out"), cfg)
    assert status["code"] in (3000, 3003, 3005)
