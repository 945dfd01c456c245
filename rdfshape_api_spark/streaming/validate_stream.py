"""Streaming validation (SURVEY §2.10 T1-T5).

Reference: the WebSocket/Kafka streaming validation pipeline — each incoming
message is a raw RDF string parsed and validated independently, results
streamed back (``StreamValidation.mkValidationStream``
``modules/server/.../schema/service/stream/StreamValidation.scala:48-98``;
``CometTransformations.toValidationStream`` :85-102, Kafka extractor
:115-141).  Config tree {validator{schema, triggerMode, haltOnInvalid,
haltOnErrored}, extractor{format, inference}, stream{...}}
(``StreamValidationConfiguration.scala:18-22``).

Spark mapping — Structured Streaming with the batch pipeline reused in
``foreachBatch`` (the idiomatic pattern for "same semantics, unbounded
input"):

* **source**: file-stream of docs-table parquet (the sandbox stand-in for
  the Kafka topic; swap ``readStream.format("kafka")`` + a value→content
  projection for a real broker — same downstream code);
* **T1** per-item validation: each micro-batch runs extract → canonicalize →
  validate and appends verdicts;
* **T2** ``halt_on_invalid`` / ``halt_on_errored``: checked per batch;
  matching condition stops the query after recording a typed close frame
  (``CometTransformations.mkStreamValidator`` :154-173);
* **T3** item timeout: a no-progress watchdog on the streaming query
  (default 40 s, matching ``Server.scala:164``);
* **T4** concurrency: micro-batch parallelism = shuffle partitions
  (``concurrentItems`` analogue, :136-139,167-170);
* **T5** close-code taxonomy 3000-3007/4999
  (``StreamValidation.WebSocketClosures`` :179-270) recorded in the status
  file written at query close.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from rdfshape_api_spark.model import TRIPLE_COLUMNS
from rdfshape_api_spark.operators.canonicalize import canonicalize, dedup_triples
from rdfshape_api_spark.plans import parse_shacl, parse_shexc, validate
from rdfshape_api_spark.sources.extract import extract_triples_raw

# T5: the reference's WebSocket closure taxonomy (StreamValidation.scala:179-270)
CLOSE_CODES = {
    "STANDARD": 3000,
    "JSON_PARSE_ERROR": 3001,
    "CONFIGURATION_ERROR": 3002,
    "INVALID_ITEM": 3003,
    "TIMEOUT": 3004,
    "ERRORED_ITEM": 3005,
    "ILLEGAL_ARGUMENT": 3006,
    "ASSERTION_ERROR": 3007,
    "KAFKA_ERROR": 4999,
}

DOCS_SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content string, content_sha256 string"
)

# The Kafka wire shape as spark-sql-kafka exposes it (value/topic/
# partition/offset are the columns the projection consumes) — shared by
# the live source and the recorded-offset replay path so both execute
# the SAME projection expressions.
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp"
)


def kafka_message_projection(cfg: "StreamConfig") -> list:
    """Kafka message → docs-table row (CometTransformations.scala:115-141):
    each message value is one raw RDF document; topic/partition/offset
    become the synthetic repo/path/commit identity and
    ``extractor_format`` supplies the syntax."""
    content = F.col("value").cast("string")
    return [
        F.concat(F.lit("kafka:"), F.col("topic")).alias("repo"),
        F.concat_ws(
            "/", F.col("partition").cast("string"), F.col("offset").cast("string")
        ).alias("path"),
        F.col("offset").cast("string").alias("commit"),
        F.lit(cfg.extractor_format).alias("lang"),
        content.alias("content"),
        F.sha2(content, 256).alias("content_sha256"),
    ]


@dataclass
class StreamConfig:
    """validator/extractor config (StreamValidationConfiguration.scala:18-22)."""

    shex_schema: str | None = None
    shex_shapemap: str | None = None
    shacl_schema: str | None = None
    halt_on_invalid: bool = False
    halt_on_errored: bool = False
    timeout_s: float = 40.0  # T3 default, Server.scala:164
    max_files_per_trigger: int | None = None
    extra: dict = field(default_factory=dict)
    # the reference's stream block (server/port/topic/groupId,
    # CometTransformations.scala:115-141): when server+topic are set the
    # source is a real Kafka readStream (requires the spark-sql-kafka
    # connector on the classpath and a reachable broker); otherwise the
    # file-stream stand-in reads docs-table parquet from input_dir
    stream_info: dict = field(default_factory=dict)
    # extractor{data{format}} — the RDF syntax of incoming Kafka message
    # values (file-stream rows carry their own lang column)
    extractor_format: str = "turtle"

    def uses_kafka(self) -> bool:
        return bool(self.stream_info.get("server") and self.stream_info.get("topic"))

    @classmethod
    def from_reference_json(cls, cfg: dict) -> "StreamConfig":
        """Build from the reference's streaming configuration tree
        (docs/api-usage/streaming.md:57-84):

        ``{validator: {schema: {content, engine, ...}, triggerMode:
        {shape-map, ...}, haltOnInvalid, haltOnErrored}, extractor:
        {data: {format, inference}}, stream: {server, port, topic,
        groupId}}`` — the ``stream`` block maps to the source options
        (Kafka in production, file-stream here)."""
        validator = cfg.get("validator", {})
        schema = validator.get("schema", {})
        engine = str(schema.get("engine", "shex")).lower()
        content = schema.get("content")
        trigger = validator.get("triggerMode", {})
        shapemap = trigger.get("shape-map", trigger.get("shapeMap"))
        extractor = cfg.get("extractor", {}).get("data", {})
        return cls(
            shex_schema=content if engine == "shex" else None,
            shex_shapemap=shapemap,
            shacl_schema=content if engine != "shex" else None,
            halt_on_invalid=bool(validator.get("haltOnInvalid", False)),
            halt_on_errored=bool(validator.get("haltOnErrored", False)),
            stream_info=dict(cfg.get("stream", {})),
            extractor_format=str(extractor.get("format", "turtle")).lower(),
        )


def _batch_validate(batch: DataFrame, cfg: StreamConfig) -> tuple[DataFrame, DataFrame]:
    """The batch pipeline applied to one micro-batch: returns (verdicts,
    errors)."""
    raw = extract_triples_raw(batch)
    errors = raw.filter(F.col("error").isNotNull()).select(
        "repo", "path", "commit", "doc_sha256", "error"
    )
    triples = dedup_triples(
        canonicalize(raw.filter(F.col("error").isNull()).select(*TRIPLE_COLUMNS))
    )
    verdicts = []
    if cfg.shex_schema:
        verdicts.append(
            validate(
                triples,
                parse_shexc(cfg.shex_schema),
                shapemap=cfg.shex_shapemap,
                shape_label="shex_stream",
            )
        )
    if cfg.shacl_schema:
        verdicts.append(
            validate(triples, parse_shacl(cfg.shacl_schema), shape_label="shacl_stream")
        )
    if not verdicts:
        raise ValueError("no schema configured")  # CONFIGURATION_ERROR
    out = verdicts[0]
    for v in verdicts[1:]:
        out = out.unionByName(v)
    return out, errors


def _source_stream(spark: SparkSession, input_dir: str, cfg: StreamConfig) -> DataFrame:
    """Streaming source → docs-table rows.

    Kafka (``CometTransformations.scala:115-141``): each message value is
    one raw RDF document; topic/partition/offset become the synthetic
    repo/path/commit identity and ``extractor_format`` supplies the
    syntax.  Requires the spark-sql-kafka connector JAR and a reachable
    broker — the downstream foreachBatch pipeline is identical, so CI
    exercises it through the file-stream stand-in.
    """
    if cfg.uses_kafka():
        info = cfg.stream_info
        if info.get("replayDir"):
            # Recorded-offset replay: parquet of KAFKA_WIRE_SCHEMA rows
            # (captured messages) streamed through the SAME projection as
            # the live source — the broker-less execution evidence for
            # this path (a real broker test needs a sandbox with one).
            reader = spark.readStream.schema(KAFKA_WIRE_SCHEMA)
            if cfg.max_files_per_trigger:
                reader = reader.option("maxFilesPerTrigger", cfg.max_files_per_trigger)
            return (
                reader.parquet(str(info["replayDir"]))
                # the live source subscribes to ONE topic; a capture from a
                # multi-topic broker must replay only that topic's messages
                .filter(F.col("topic") == info["topic"])
                .select(*kafka_message_projection(cfg))
            )
        server = str(info["server"]).replace("kafka://", "").rstrip("/")
        bootstrap = server if ":" in server else f"{server}:{info.get('port', 9092)}"
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("subscribe", info["topic"])
        )
        if info.get("groupId"):
            reader = reader.option("kafka.group.id", info["groupId"])
        for k, v in cfg.extra.items():
            reader = reader.option(k, v)
        return reader.load().select(*kafka_message_projection(cfg))
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if cfg.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", cfg.max_files_per_trigger)
    for k, v in cfg.extra.items():
        reader = reader.option(k, v)
    return reader.parquet(input_dir)


def stream_validate(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    cfg: StreamConfig,
    available_now: bool = True,
) -> dict:
    """Run the streaming validation job; blocks until the stream closes
    (availableNow drains existing files then stops — the batch-test mode;
    ``available_now=False`` runs continuously under the watchdog).

    Returns the close status {code, reason, batches, verdicts} and writes it
    to ``out_dir/close_status.json``."""
    verdict_dir = os.path.join(out_dir, "verdicts")
    errors_dir = os.path.join(out_dir, "errors")
    ckpt_dir = os.path.join(out_dir, "_checkpoint")
    os.makedirs(out_dir, exist_ok=True)

    state = {"batches": 0, "verdicts": 0, "close": ("STANDARD", "stream completed")}
    halt = {"flag": False}

    def process(batch: DataFrame, batch_id: int) -> None:
        if halt["flag"]:
            return
        verdicts, errors = _batch_validate(batch, cfg)
        verdicts.persist()
        n = verdicts.count()
        verdicts.write.mode("append").parquet(verdict_dir)
        errors.persist()
        n_err = errors.count()
        if n_err:
            errors.write.mode("append").parquet(errors_dir)
        state["batches"] += 1
        state["verdicts"] += n
        # T2: halt conditions checked per micro-batch
        if cfg.halt_on_errored and n_err:
            state["close"] = ("ERRORED_ITEM", f"batch {batch_id}: {n_err} errored items")
            halt["flag"] = True
        elif cfg.halt_on_invalid:
            n_bad = verdicts.filter(F.col("status") == "nonconformant").count()
            if n_bad:
                state["close"] = ("INVALID_ITEM", f"batch {batch_id}: {n_bad} invalid items")
                halt["flag"] = True
        verdicts.unpersist()
        errors.unpersist()

    stream = _source_stream(spark, input_dir, cfg)

    writer = stream.writeStream.foreachBatch(process).option("checkpointLocation", ckpt_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()

    try:
        if available_now:
            # drain; halt flag still wins between batches
            while query.isActive:
                if halt["flag"]:
                    query.stop()
                    break
                query.awaitTermination(0.5)
        else:
            # T3: no-progress watchdog (the comet item-timeout analogue)
            last_progress = time.time()
            last_batches = 0
            while query.isActive:
                if halt["flag"]:
                    query.stop()
                    break
                if state["batches"] != last_batches:
                    last_batches = state["batches"]
                    last_progress = time.time()
                if time.time() - last_progress > cfg.timeout_s:
                    state["close"] = ("TIMEOUT", f"no items for {cfg.timeout_s}s")
                    query.stop()
                    break
                query.awaitTermination(0.5)
        query.awaitTermination()
    except Exception as e:  # noqa: BLE001 — map to taxonomy, re-raise config errors
        if "no schema configured" in str(e):
            state["close"] = ("CONFIGURATION_ERROR", str(e))
        else:
            state["close"] = ("ASSERTION_ERROR", str(e))
        if query.isActive:
            query.stop()

    kind, reason = state["close"]
    status = {
        "code": CLOSE_CODES[kind],
        "kind": kind,
        "reason": reason,
        "batches": state["batches"],
        "verdicts": state["verdicts"],
    }
    with open(os.path.join(out_dir, "close_status.json"), "w") as f:
        json.dump(status, f, indent=2)
    return status
