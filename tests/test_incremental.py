"""Incremental snapshot maintenance (operators/incremental.py).

Semantics under test: a delta batch is authoritative per (repo, path) —
previous versions' triples are retracted wholesale, the delta's
extraction is appended, and the merge-on-read log reconciles versions so
re-updated keys keep only their latest extraction.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.operators.incremental import (
    compact_snapshot,
    incremental_merge,
    init_snapshot,
    merge_snapshot,
    read_snapshot,
    snapshot_version,
)

CANON = ["doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]

STALE_LINE = '<http://stale.example/f> <http://stale.example/p> "stale" .\n'


def _extract(docs):
    from rdfshape_api_spark.operators.canonicalize import canonicalize, dedup_triples
    from rdfshape_api_spark.sources.extract import extract_triples

    return dedup_triples(canonicalize(extract_triples(docs)))


def _canon_set(df):
    return df.select(*CANON).distinct()


def _sym_diff_empty(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.fixture(scope="module")
def split_docs(spark, fixtures_001):
    """(base_docs_with_stale_versions, delta_docs, all_docs).

    Delta = 1/8 of the line-oriented docs (NT + Turtle — an N-Triples
    statement prepended to either stays valid); base carries STALE
    versions of every delta file (extra stale triple, zeroed commit) so a
    broken retraction is visible in the merged output.
    """
    docs = spark.read.parquet(fixtures_001["docs"])
    is_delta = (F.pmod(F.xxhash64("path"), F.lit(8)) == 0) & F.lower(
        F.col("lang")
    ).isin("ntriples", "nt", "turtle", "ttl")
    delta = docs.filter(is_delta)
    stale = (
        delta.withColumn("content", F.concat(F.lit(STALE_LINE), F.col("content")))
        .withColumn("commit", F.lit("0" * 40))
        .withColumn("content_sha256", F.sha2(F.col("content"), 256))
    )
    base = docs.filter(~is_delta).unionByName(stale)
    return base, delta, docs


def test_incremental_merge_matches_full_extract(spark, split_docs):
    base, delta, docs = split_docs
    assert delta.count() > 0
    store = _extract(base)
    # the stale marker must actually be in the pre-merge store
    assert store.filter(F.col("pred") == "http://stale.example/p").count() > 0
    merged = incremental_merge(store, delta)
    _sym_diff_empty(_canon_set(merged), _canon_set(_extract(docs)))
    # and no stale remnants
    assert merged.filter(F.col("pred") == "http://stale.example/p").count() == 0


def test_snapshot_merge_on_read(spark, split_docs, tmp_path):
    base, delta, docs = split_docs
    store_dir = str(tmp_path / "snap")
    init_snapshot(base, store_dir)
    assert snapshot_version(store_dir) == 0

    v = merge_snapshot(spark, store_dir, delta)
    assert v == 1
    got = read_snapshot(spark, store_dir)
    expected = _canon_set(_extract(docs))
    _sym_diff_empty(_canon_set(got), expected)

    # re-update the same keys with a THIRD version: only it must survive
    delta2 = (
        delta.withColumn(
            "content",
            F.concat(
                F.lit('<http://v3.example/f> <http://v3.example/p> "v3" .\n'),
                F.col("content"),
            ),
        )
        .withColumn("commit", F.lit("f" * 40))
        .withColumn("content_sha256", F.sha2(F.col("content"), 256))
    )
    assert merge_snapshot(spark, store_dir, delta2) == 2
    got2 = read_snapshot(spark, store_dir).persist()
    n_delta = delta.count()
    assert got2.filter(F.col("pred") == "http://v3.example/p").count() == n_delta
    # v1 adds for those keys are gone: their doc_sha256s differ from v2's
    v1_shas = _extract(delta).select("doc_sha256").distinct()
    assert got2.join(v1_shas, on="doc_sha256", how="semi").count() == 0

    # compaction must not change the reconciled result
    compact_snapshot(spark, store_dir)
    assert snapshot_version(store_dir) == 0
    got3 = read_snapshot(spark, store_dir)
    _sym_diff_empty(_canon_set(got3), _canon_set(got2))
    got2.unpersist()


def test_broken_delta_doc_still_retracts(spark, tmp_path):
    rows = [
        ("r1", "a.nt", "c1", "ntriples", '<http://e/s> <http://e/p> "one" .\n'),
        ("r1", "b.nt", "c1", "ntriples", '<http://e/s> <http://e/p> "two" .\n'),
    ]
    docs = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    store_dir = str(tmp_path / "snap")
    init_snapshot(docs, store_dir)

    broken = spark.createDataFrame(
        [("r1", "a.nt", "c2", "ntriples", "THIS IS NOT NTRIPLES")],
        "repo string, path string, commit string, lang string, content string",
    )
    merge_snapshot(spark, store_dir, broken)
    got = read_snapshot(spark, store_dir)
    # a.nt's old triple is retracted even though its new version parses to nothing
    assert got.count() == 1
    assert got.filter(F.col("path") == "b.nt").count() == 1


def test_stream_merge_snapshots(spark, tmp_path):
    """Two micro-batches through the same checkpoint lineage: batch 2
    re-updates batch 1's key; the reconciled snapshot keeps only the
    latest version per (repo, path)."""
    from rdfshape_api_spark.operators.incremental import stream_merge_snapshots
    from rdfshape_api_spark.streaming.validate_stream import DOCS_SCHEMA

    drop = tmp_path / "drop"
    drop.mkdir()
    store_dir = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    empty = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"
    )
    init_snapshot(empty, store_dir)

    def run_stream():
        src = spark.readStream.schema(DOCS_SCHEMA).parquet(str(drop))
        q = stream_merge_snapshots(src, store_dir, ckpt)
        q.awaitTermination(120)

    spark.createDataFrame(
        [
            ("r1", "a.nt", "c1", "ntriples", '<http://e/s> <http://e/p> "v1" .\n'),
            ("r1", "b.nt", "c1", "ntriples", '<http://e/s2> <http://e/p> "b" .\n'),
        ],
        "repo string, path string, commit string, lang string, content string",
    ).write.mode("append").parquet(str(drop))
    run_stream()
    got1 = read_snapshot(spark, store_dir)
    assert got1.count() == 2

    spark.createDataFrame(
        [("r1", "a.nt", "c2", "ntriples", '<http://e/s> <http://e/p> "v2" .\n')],
        "repo string, path string, commit string, lang string, content string",
    ).write.mode("append").parquet(str(drop))
    run_stream()
    got2 = read_snapshot(spark, store_dir)
    vals = {r["obj_value"] for r in got2.collect()}
    assert got2.count() == 2 and vals == {"v2", "b"}


def test_incremental_merge_verdicts_matches_full(spark, split_docs):
    from rdfshape_api_spark.fixtures.generator import (
        SHACL_SENSOR,
        SHAPEMAP_QUERY,
        SHEX_SENSOR,
    )
    from rdfshape_api_spark.operators.incremental import incremental_merge_verdicts
    from rdfshape_api_spark.plans import parse_shacl, parse_shexc
    from rdfshape_api_spark.plans.validate import validate_batch

    base, delta, docs = split_docs
    jobs = [
        (parse_shexc(SHEX_SENSOR), SHAPEMAP_QUERY, "shex_sensor"),
        (parse_shacl(SHACL_SENSOR), None, "shacl_sensor"),
    ]

    def verdicts(d):
        tri = _extract(d)
        return validate_batch(tri, jobs).join(
            tri.select("doc_sha256", "repo", "path").distinct(), on="doc_sha256"
        )

    base_v = verdicts(base).persist()
    merged = incremental_merge_verdicts(base_v, delta, jobs)
    full = verdicts(docs)
    cols = ["doc_sha256", "node", "shape_id", "status"]
    _sym_diff_empty(merged.select(*cols).distinct(), full.select(*cols).distinct())
    # the stale docs' verdicts WERE in the base (different doc_sha256s)
    stale_shas = base_v.select("doc_sha256").subtract(full.select("doc_sha256"))
    assert stale_shas.count() > 0
    # ...and none survive the merge
    assert merged.join(stale_shas, on="doc_sha256", how="semi").count() == 0
    base_v.unpersist()


def _nt_docs(spark, rows):
    return spark.createDataFrame(
        [("r1", path, commit, "ntriples", content) for path, commit, content in rows],
        "repo string, path string, commit string, lang string, content string",
    )


def test_read_snapshot_missing_base_raises(spark, tmp_path):
    """A snapshot whose base directory is gone fails loudly; it is never
    read as an empty store."""
    import os
    import shutil

    from pyspark.errors import AnalysisException

    store_dir = str(tmp_path / "snap")
    init_snapshot(
        _nt_docs(spark, [("a.nt", "c1", '<http://e/s> <http://e/p> "one" .\n')]),
        store_dir,
    )
    assert read_snapshot(spark, store_dir).count() == 1
    shutil.rmtree(os.path.join(store_dir, "base"))
    with pytest.raises(AnalysisException):
        read_snapshot(spark, store_dir)


def test_read_snapshot_plans_without_spark_jobs(spark, tmp_path):
    """Base and log reads use pinned schemas, so building the reconciled
    frame after a merge runs no schema-inference job."""
    store_dir = str(tmp_path / "snap")
    init_snapshot(
        _nt_docs(
            spark,
            [
                ("a.nt", "c1", '<http://e/s> <http://e/p> "one" .\n'),
                ("b.nt", "c1", '<http://e/s> <http://e/p> "two" .\n'),
            ],
        ),
        store_dir,
    )
    merge_snapshot(
        spark,
        store_dir,
        _nt_docs(spark, [("a.nt", "c2", '<http://e/s> <http://e/p> "new" .\n')]),
    )
    sc = spark.sparkContext
    group = "test_read_snapshot_plan"
    sc.setJobGroup(group, group)
    try:
        got = read_snapshot(spark, store_dir)
        planned = list(sc.statusTracker().getJobIdsForGroup(group))
        # the group does capture this thread's jobs once an action runs
        vals = {r["obj_value"] for r in got.collect()}
        ran = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert planned == []
    assert ran and vals == {"new", "two"}


def test_compaction_resizes_the_layout(spark, tmp_path, monkeypatch):
    """Compaction recomputes each predicate's bucket count: a predicate that
    merges grew past ``STORE_TARGET_ROWS`` is rewritten into several
    buckets, and the reconciled snapshot is unchanged by the rewrite."""
    import os

    from rdfshape_api_spark.operators import canonicalize as C

    monkeypatch.setattr(C, "STORE_TARGET_ROWS", 4)
    pred = "http://e/p"

    def doc(path, subjects):
        return (path, "c1", "".join(f'<http://e/s{i}> <{pred}> "v" .\n' for i in subjects))

    def buckets(store_dir):
        part = os.path.join(store_dir, "base", f"pred_part={C.pred_partition_value(pred)}")
        return sorted(d for d in os.listdir(part) if d.startswith("bucket="))

    store_dir = str(tmp_path / "snap")
    init_snapshot(_nt_docs(spark, [doc("a.nt", range(3))]), store_dir)
    assert buckets(store_dir) == ["bucket=0"]
    merge_snapshot(spark, store_dir, _nt_docs(spark, [doc("b.nt", range(3, 20))]))
    merge_snapshot(spark, store_dir, _nt_docs(spark, [doc("c.nt", range(20, 40))]))
    before = sorted(map(tuple, read_snapshot(spark, store_dir).select(*CANON).collect()))
    assert len(before) == 40
    compact_snapshot(spark, store_dir)
    assert len(buckets(store_dir)) > 1
    after = sorted(map(tuple, read_snapshot(spark, store_dir).select(*CANON).collect()))
    assert after == before


def _values(spark, store_dir):
    return sorted((r["path"], r["obj_value"]) for r in read_snapshot(spark, store_dir).collect())


def _doc(path, commit, value):
    return (path, commit, f'<http://e/s> <http://e/p> "{value}" .\n')


def test_retract_readd_retract_one_key(spark, tmp_path):
    """One key retracted (a broken version), re-added, then retracted again
    over three versions: each read shows exactly that version's state."""
    store_dir = str(tmp_path / "snap")
    init_snapshot(_nt_docs(spark, [_doc("a.nt", "c0", "a0"), _doc("b.nt", "c0", "b0")]), store_dir)
    merge_snapshot(spark, store_dir, _nt_docs(spark, [("a.nt", "c1", "NOT NTRIPLES")]))
    assert _values(spark, store_dir) == [("b.nt", "b0")]
    merge_snapshot(spark, store_dir, _nt_docs(spark, [_doc("a.nt", "c2", "a2")]))
    assert _values(spark, store_dir) == [("a.nt", "a2"), ("b.nt", "b0")]
    assert merge_snapshot(spark, store_dir, _nt_docs(spark, [("a.nt", "c3", "NOT NTRIPLES")])) == 3
    assert _values(spark, store_dir) == [("b.nt", "b0")]


def test_replayed_versions_leave_snapshot_unchanged(spark, tmp_path):
    """Replaying version 1 and version 2 after version 2 is committed
    rebuilds each version's logs from the same predecessor, so the
    snapshot does not change and the pointer stays at 2."""
    store_dir = str(tmp_path / "snap")
    init_snapshot(_nt_docs(spark, [_doc("a.nt", "c0", "a0"), _doc("b.nt", "c0", "b0")]), store_dir)
    batch1 = _nt_docs(spark, [_doc("a.nt", "c1", "a1"), _doc("c.nt", "c1", "c1")])
    batch2 = _nt_docs(spark, [_doc("a.nt", "c2", "a2"), _doc("b.nt", "c2", "b2")])
    merge_snapshot(spark, store_dir, batch1, version=1)
    merge_snapshot(spark, store_dir, batch2, version=2)
    want = [("a.nt", "a2"), ("b.nt", "b2"), ("c.nt", "c1")]
    assert _values(spark, store_dir) == want
    for version, batch in ((1, batch1), (2, batch2)):
        assert merge_snapshot(spark, store_dir, batch, version=version) == version
        assert snapshot_version(store_dir) == 2
        assert _values(spark, store_dir) == want


def test_read_snapshot_job_count(spark, tmp_path):
    """After two merges a counted read runs 3 Spark jobs: the broadcast of
    the retract keys, the scan stage and the final count.  The merges
    reconciled the log, so the read has no aggregate of its own."""
    store_dir = str(tmp_path / "snap")
    init_snapshot(_nt_docs(spark, [_doc("a.nt", "c0", "a0"), _doc("b.nt", "c0", "b0")]), store_dir)
    merge_snapshot(spark, store_dir, _nt_docs(spark, [_doc("a.nt", "c1", "a1")]))
    merge_snapshot(spark, store_dir, _nt_docs(spark, [_doc("c.nt", "c2", "c2")]))
    sc = spark.sparkContext
    group = "test_read_snapshot_jobs"
    sc.setJobGroup(group, group)
    try:
        n = read_snapshot(spark, store_dir).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n == 3
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3


def test_stream_resumes_after_compaction(spark, tmp_path):
    """A stream that resumes after a compaction: its next batch (id 1, so
    version 2) builds on the compacted base alone, and replaying that
    batch as version 2 leaves the snapshot unchanged."""
    from rdfshape_api_spark.operators.incremental import stream_merge_snapshots
    from rdfshape_api_spark.streaming.validate_stream import DOCS_SCHEMA

    drop = tmp_path / "drop"
    drop.mkdir()
    store_dir = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    init_snapshot(_nt_docs(spark, []), store_dir)

    def run_stream():
        src = spark.readStream.schema(DOCS_SCHEMA).parquet(str(drop))
        stream_merge_snapshots(src, store_dir, ckpt).awaitTermination(120)

    _nt_docs(spark, [_doc("a.nt", "c1", "a1")]).write.mode("append").parquet(str(drop))
    run_stream()
    compact_snapshot(spark, store_dir)
    batch = _nt_docs(spark, [_doc("b.nt", "c1", "b1")])
    batch.write.mode("append").parquet(str(drop))
    run_stream()
    assert snapshot_version(store_dir) == 2
    want = [("a.nt", "a1"), ("b.nt", "b1")]
    assert _values(spark, store_dir) == want
    merge_snapshot(spark, store_dir, batch, version=2)
    assert _values(spark, store_dir) == want


def _compaction_crash(spark, tmp_path, monkeypatch, fail_step):
    """Compact with one step after the new base is in place raising, then
    check the read and a following merge."""
    import os
    import shutil

    from rdfshape_api_spark.operators import incremental as I

    store_dir = str(tmp_path / "snap")
    init_snapshot(_nt_docs(spark, [_doc("a.nt", "c0", "a0"), _doc("b.nt", "c0", "b0")]), store_dir)
    merge_snapshot(spark, store_dir, _nt_docs(spark, [_doc("a.nt", "c1", "a1")]))
    merge_snapshot(spark, store_dir, _nt_docs(spark, [_doc("c.nt", "c2", "c2")]))
    before = _values(spark, store_dir)
    assert before == [("a.nt", "a1"), ("b.nt", "b0"), ("c.nt", "c2")]

    log_root = os.path.join(store_dir, "log")
    real_rmtree = shutil.rmtree

    def crash(*a, **k):
        raise OSError("injected crash")

    def rmtree(path, *a, **k):
        if os.path.abspath(path) == os.path.abspath(log_root):
            crash()
        return real_rmtree(path, *a, **k)

    with monkeypatch.context() as m:
        if fail_step == "pointer":
            m.setattr(I, "_write_version", crash)
        else:
            m.setattr(shutil, "rmtree", rmtree)
        with pytest.raises(OSError, match="injected crash"):
            compact_snapshot(spark, store_dir)
    assert _values(spark, store_dir) == before

    merge_snapshot(spark, store_dir, _nt_docs(spark, [_doc("b.nt", "c3", "b3")]))
    assert _values(spark, store_dir) == [("a.nt", "a1"), ("b.nt", "b3"), ("c.nt", "c2")]


def test_compaction_crash_at_pointer_reset(spark, tmp_path, monkeypatch):
    _compaction_crash(spark, tmp_path, monkeypatch, "pointer")


def test_compaction_crash_at_log_removal(spark, tmp_path, monkeypatch):
    _compaction_crash(spark, tmp_path, monkeypatch, "log")


def test_retract_logs_are_one_file(spark, tmp_path):
    """Every read broadcasts the retract log whole, so each merge writes it
    as one file, however many files its predecessor and delta had."""
    import glob
    import os

    store_dir = str(tmp_path / "snap")
    init_snapshot(_nt_docs(spark, [_doc("a.nt", "c0", "a0"), _doc("b.nt", "c0", "b0")]), store_dir)
    merge_snapshot(spark, store_dir, _nt_docs(spark, [_doc("a.nt", "c1", "a1")]))
    merge_snapshot(spark, store_dir, _nt_docs(spark, [_doc("c.nt", "c2", "c2")]))
    merge_snapshot(spark, store_dir, _nt_docs(spark, [_doc("b.nt", "c3", "b3"), _doc("d.nt", "c3", "d3")]))
    logs = sorted(glob.glob(os.path.join(store_dir, "log", "retracts_v*")))
    assert len(logs) == 3
    assert [len(glob.glob(os.path.join(d, "*.parquet"))) for d in logs] == [1, 1, 1]
    assert _values(spark, store_dir) == [("a.nt", "a1"), ("b.nt", "b3"), ("c.nt", "c2"), ("d.nt", "d3")]
