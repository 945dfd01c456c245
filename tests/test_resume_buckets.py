"""Sub-stage (bucket-level) extraction resume — north rule: resumable from
checkpoint with per-partition lineage."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from rdfshape_api_spark import pipeline
from rdfshape_api_spark.fixtures.generator import SHAPEMAP_QUERY, SHEX_SENSOR
from rdfshape_api_spark.lineage import triple_precision_recall
from rdfshape_api_spark.operators.canonicalize import read_store
from rdfshape_api_spark.pipeline import run_pipeline

_TOTALS = ("docs", "triples", "error_docs")


def test_bucketed_extraction_equals_single_shot(spark, fixtures_001, tmp_path):
    docs = spark.read.parquet(fixtures_001["docs"])
    m1 = run_pipeline(
        spark, docs, str(tmp_path / "single"),
        shex_schema=SHEX_SENSOR, shex_shapemap=SHAPEMAP_QUERY, resume=False,
    )
    out = str(tmp_path / "bucketed")
    m2 = run_pipeline(
        spark, docs, out,
        shex_schema=SHEX_SENSOR, shex_shapemap=SHAPEMAP_QUERY, resume=False,
        extract_buckets=3,
    )
    assert m2["triples"] == m1["triples"]
    assert m2["docs"] == m1["docs"]
    assert m2["error_docs"] == m1["error_docs"]
    pr = triple_precision_recall(
        read_store(spark, os.path.join(out, "triple_store")),
        spark.read.parquet(fixtures_001["triples"]),
    )
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0


def test_extract_buckets_below_one_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="extract_buckets"):
        run_pipeline(spark, None, str(tmp_path / "out"), extract_buckets=0)


def test_crash_after_bucket_writes_resumes_cleanly(spark, fixtures_001, tmp_path, monkeypatch):
    """A crash in the lineage write, after the bucket jobs committed, must
    not leave the extraction stage marked complete: the resumed run keeps
    the committed bucket and redoes lineage and the error channel."""
    docs = spark.read.parquet(fixtures_001["docs"])
    clean = run_pipeline(spark, docs, str(tmp_path / "clean"), resume=False)

    real = pipeline.extraction_lineage
    calls = []

    def crash_once(*a, **k):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected crash")
        return real(*a, **k)

    monkeypatch.setattr(pipeline, "extraction_lineage", crash_once)
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline(spark, docs, out)
    markers = glob.glob(os.path.join(out, "raw_triples", "bucket=*", "_SUCCESS"))
    mtimes = {m: os.path.getmtime(m) for m in markers}
    resumed = run_pipeline(spark, docs, out)
    assert {k: resumed[k] for k in _TOTALS} == {k: clean[k] for k in _TOTALS}
    # the committed bucket was kept, not rewritten
    assert markers and {m: os.path.getmtime(m) for m in markers} == mtimes
    assert (
        spark.read.parquet(os.path.join(out, "errors")).count()
        == clean["error_docs"]
    )


def test_bucket_resume_redoes_only_missing_bucket(spark, fixtures_001, tmp_path):
    docs = spark.read.parquet(fixtures_001["docs"])
    out = str(tmp_path / "out")
    m1 = run_pipeline(
        spark, docs, out,
        shex_schema=SHEX_SENSOR, shex_shapemap=SHAPEMAP_QUERY, resume=False,
        extract_buckets=3,
    )
    raw_dir = os.path.join(out, "raw_triples")
    # simulate a crash: bucket 1 lost, stage marker + downstream gone
    shutil.rmtree(os.path.join(raw_dir, "bucket=1"))
    os.remove(os.path.join(raw_dir, "_SUCCESS"))
    for stage in ("triple_store", "verdicts"):
        shutil.rmtree(os.path.join(out, stage), ignore_errors=True)

    kept_marker = os.path.join(raw_dir, "bucket=0", "_SUCCESS")
    mtime_before = os.path.getmtime(kept_marker)
    m2 = run_pipeline(
        spark, docs, out,
        shex_schema=SHEX_SENSOR, shex_shapemap=SHAPEMAP_QUERY, resume=True,
        extract_buckets=3,
    )
    # untouched bucket was NOT rewritten; totals identical to the first run
    assert os.path.getmtime(kept_marker) == mtime_before
    assert m2["triples"] == m1["triples"]
    assert m2["verdicts"] == m1["verdicts"]
