"""Extraction stage: docs table → flat triple rows (SURVEY §2.1 S1/S4).

Reference semantics: ``RDFAsJenaModel.fromChars(input, format, base)``
(``modules/server/.../data/logic/types/DataSingle.scala:78-93``); format list
``RdfFormat.scala:18-29``.  Differences by design:

* parse failure is a per-document **error row** (subj NULL, ``error`` set),
  not a failed job — at 10^12 files a single bad document must not kill the
  pipeline;
* every format — N-Triples, Turtle, JSON-LD and the rest of
  ``parsers.PARSERS`` — goes through one Arrow-batched ``mapInPandas``
  stage that calls one parser per format (``parsers.parse_document``), so
  the same bytes give the same triples whatever their ``lang`` label
  (batch-level Python at the edge only — input_hint "no per-row Python");
* compound/multi-format inputs (SURVEY §2.1 S4, DataCompound.scala:58-82)
  are free: format dispatch is per document inside that one stage.

Scale notes (100 TB): the docs scan prunes to (repo, path, commit, lang,
content) only, and extraction itself has no shuffle.  Ingest partitioning
(the north rule's range partition by ``repo``) belongs to the caller:
``pipeline.run_pipeline`` applies it once to the prepared docs before its
bucket jobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from rdfshape_api_spark.model import PREFIX_SCHEMA, RAW_TRIPLE_SCHEMA, TRIPLE_COLUMNS
from rdfshape_api_spark.sources import parsers


def with_doc_sha(docs: DataFrame) -> DataFrame:
    """Add the per-row content sha256 — the lineage invariant column
    (north_star: 'per-row content sha256 equality vs the source rows')."""
    if "doc_sha256" in docs.columns:
        return docs
    return docs.withColumn("doc_sha256", F.sha2(F.col("content"), 256))


def _parse_batch(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow batches of docs in, triple rows out."""
    cols = [f.name for f in RAW_TRIPLE_SCHEMA.fields]
    for pdf in batch_iter:
        out: list[tuple] = []
        for repo, path, commit, sha, lang, content in zip(
            pdf["repo"], pdf["path"], pdf["commit"], pdf["doc_sha256"], pdf["lang"], pdf["content"]
        ):
            triples, err = parsers.parse_document(content, lang)
            if err is not None:
                out.append((repo, path, commit, sha, None, None, None, None, None, None, err))
            else:
                for s, p, k, v, lg, dt in triples:
                    out.append((repo, path, commit, sha, s, p, k, v, lg, dt, None))
        yield pd.DataFrame(out, columns=cols)


def extract_python_formats(docs: DataFrame) -> DataFrame:
    """Every format's parse: one Arrow-batched mapInPandas stage."""
    narrow = docs.select("repo", "path", "commit", "doc_sha256", "lang", "content")
    return narrow.mapInPandas(_parse_batch, schema=RAW_TRIPLE_SCHEMA)


# Only perfbench's copy of the pipeline (ROADMAP item 4) uses these two names.
NT_LANGS = ("ntriples", "nt", "n-triples")
extract_ntriples_columnar = extract_python_formats


def extract_triples_raw(docs: DataFrame) -> DataFrame:
    """Full extraction with error channel: one parser per ``lang`` value."""
    return extract_python_formats(with_doc_sha(docs))


def extract_triples(docs: DataFrame) -> DataFrame:
    """Extraction → good triples only (canonical columns, no error rows).

    Compose with :func:`extract_errors` for the error channel, or use
    :func:`extract_triples_raw` for both in one pass (cache it if you need
    both — one scan, two consumers).
    """
    raw = extract_triples_raw(docs)
    return raw.filter(F.col("error").isNull()).select(*TRIPLE_COLUMNS)


def extract_errors(docs: DataFrame) -> DataFrame:
    """Per-document parse errors (doc identity + message)."""
    raw = extract_triples_raw(docs)
    return raw.filter(F.col("error").isNotNull()).select(
        "repo", "path", "commit", "doc_sha256", "error"
    )


# --------------------------------------------------------------------------
# Prefix tables (SURVEY §2.3 P8 — getPrefixMap, MergedModels.scala:31-39)
# --------------------------------------------------------------------------

def _prefix_batch(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import json as _json

    for pdf in batch_iter:
        out = []
        for sha, lang, content in zip(pdf["doc_sha256"], pdf["lang"], pdf["content"]):
            lg = (lang or "").lower()
            try:
                if lg in ("turtle", "ttl"):
                    pm = parsers.turtle_prefixes(content)
                elif lg in ("jsonld", "json-ld"):
                    doc = _json.loads(content)
                    ctx = doc.get("@context", {}) if isinstance(doc, dict) else {}
                    pm = {
                        k: v
                        for k, v in ctx.items()
                        if isinstance(v, str) and not k.startswith("@") and v.endswith(("/", "#"))
                    }
                else:
                    pm = {}
            except Exception:  # noqa: BLE001
                pm = {}
            out.extend((sha, p, i) for p, i in pm.items())
        yield pd.DataFrame(out, columns=["doc_sha256", "prefix", "iri"])


def extract_prefixes(docs: DataFrame) -> DataFrame:
    """Per-document prefix table ``(doc_sha256, prefix, iri)``."""
    docs = with_doc_sha(docs)
    return docs.select("doc_sha256", "lang", "content").mapInPandas(
        _prefix_batch, schema=PREFIX_SCHEMA
    )


def merged_prefix_map(prefixes: DataFrame, order_col: str = "doc_sha256") -> DataFrame:
    """Union of prefix maps, left-biased like the reference
    (MergedModels.scala:31-39: first definition of a prefix wins, in doc
    order). Deterministic via min-by on the order column."""
    return (
        prefixes.groupBy("prefix")
        .agg(F.min_by("iri", F.col(order_col)).alias("iri"))
    )
