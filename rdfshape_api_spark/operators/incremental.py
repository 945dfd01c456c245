"""Incremental construction: Iceberg-style MERGE of document deltas into
the canonical triple store.

North rule context: at 10^12 source files the pipeline cannot re-extract
the corpus on every commit — construction must be *incremental*.  The
reference is stateless per request (every call re-parses its input,
``DataSingle.scala:78-93``), so there is nothing to port; this module is
the Spark-native design for keeping a canonical store current as new
commits land:

* **Delta semantics** — a delta batch of document versions is
  *authoritative* for its ``(repo, path)`` keys: every triple extracted
  from ANY previous version of those files is retracted and the delta's
  extraction is appended.  A delta doc that fails to parse still retracts
  (the new version is authoritative even when broken — its triples are
  simply the empty set, and the parse error flows through the normal
  error channel).
* **Merge-on-read snapshot log** — ``merge_snapshot`` never rewrites the
  base store.  Version ``v`` writes two parquet logs: ``adds_v``, every
  add since the base that is still live at ``v``, and ``retracts_v``,
  every ``(repo, path)`` retracted since the base.  The merge carries its
  predecessor's logs forward (its adds anti-joined against this delta's
  keys, its keys plus this delta's), so the log reconcile runs once per
  merge; ``read_snapshot`` then needs only version ``v``'s two logs.
  This is the same copy-on-write-avoidance trade Iceberg makes with
  delete files: at 100 TB a delta of 10^6 files must not touch the
  10^12-file base.
* **Compaction** — ``compact_snapshot`` folds the log back into a new
  base (the Iceberg ``rewrite_data_files`` analog) once the log's size
  outweighs the rewrite cost.

Scale shape: the retract log holds one row per ``(repo, path)`` changed
since the last compaction — log-sized, so it broadcasts, and a read is
one base scan with a map-side anti-join probe (no shuffle of the store)
plus one scan of the live adds.  The read cost does not grow with the
number of versions.  Every key of ``adds_v`` is in ``retracts_v``, so a
key retracted at v2 and re-added at v3 keeps exactly its v3 triples, and
reconciling an already compacted base against the same logs changes
nothing.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from rdfshape_api_spark.model import TRIPLE_COLUMNS, TRIPLE_SCHEMA


def _extract_canonical(docs: DataFrame) -> DataFrame:
    from rdfshape_api_spark.operators.canonicalize import canonicalize, dedup_triples
    from rdfshape_api_spark.sources.extract import extract_triples

    return dedup_triples(canonicalize(extract_triples(docs)))


def incremental_merge(store_triples: DataFrame, delta_docs: DataFrame) -> DataFrame:
    """Triple-level MERGE: retract every store triple whose ``(repo, path)``
    appears in ``delta_docs``, then append the delta's own extraction.

    The retraction key set is delta-sized (≪ store), so it broadcasts and
    the anti-join streams the store without a shuffle; the append is a
    union Catalyst plans as extra scan branches.  Equivalent Iceberg op:
    ``MERGE INTO store USING delta ON (repo, path) WHEN MATCHED DELETE +
    INSERT`` — see :func:`merge_snapshot` for the log-structured on-disk
    form that avoids rewriting the base.
    """
    keys = delta_docs.select("repo", "path").distinct()
    kept = store_triples.join(F.broadcast(keys), on=["repo", "path"], how="left_anti")
    new = _extract_canonical(delta_docs)
    return kept.unionByName(new.select(*store_triples.columns))


def incremental_merge_verdicts(
    base_verdicts: DataFrame, delta_docs: DataFrame, jobs: list
) -> DataFrame:
    """Incremental maintenance of the VALIDATION verdict store, same
    delta-authoritative semantics as :func:`incremental_merge`.

    This is exact (not approximate) because validation in this engine is
    document-scoped: focus resolution, target selection and every
    constraint aggregate group by ``doc_sha256``, so a document's
    verdicts depend only on its own triples — re-validating just the
    delta reproduces precisely the rows a full revalidation would emit
    for those documents.  No global invalidation pass is needed.

    ``base_verdicts`` must carry ``(repo, path)`` alongside the verdict
    columns (join the store's doc map once at build time); ``jobs`` is
    the same ``(schema, shapemap, label)`` list ``validate_batch`` takes.
    Cost: O(delta) — one broadcast anti-join over the verdict store plus
    extraction + validation of the delta docs only.
    """
    from rdfshape_api_spark.plans.validate import validate_batch

    keys = delta_docs.select("repo", "path").distinct()
    kept = base_verdicts.join(F.broadcast(keys), on=["repo", "path"], how="left_anti")
    delta_tri = _extract_canonical(delta_docs)
    new_v = validate_batch(delta_tri, jobs)
    doc_map = delta_tri.select("doc_sha256", "repo", "path").distinct()
    new_v = new_v.join(doc_map, on="doc_sha256")
    return kept.unionByName(new_v.select(*base_verdicts.columns))


# ---------------------------------------------------------------------------
# merge-on-read snapshot store
# ---------------------------------------------------------------------------

_VERSION_FILE = "_SNAPSHOT_VERSION"
_RETRACT_SCHEMA = "repo string, path string"


def _log_dir(store_dir: str, kind: str, version: int) -> str:
    return os.path.join(store_dir, "log", f"{kind}_v{version:06d}")


def snapshot_version(store_dir: str) -> int:
    """Current snapshot version (0 = base only, no merges yet)."""
    vf = os.path.join(store_dir, _VERSION_FILE)
    if not os.path.exists(vf):
        return 0
    with open(vf) as fh:
        return int(fh.read().strip() or 0)


def _write_version(store_dir: str, version: int) -> None:
    vf = os.path.join(store_dir, _VERSION_FILE)
    tmp = vf + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, vf)  # atomic pointer swap = the commit point


def init_snapshot(docs: DataFrame, store_dir: str) -> None:
    """Write the base store (version 0) in the canonical predicate-
    partitioned layout, with the dedup fused into the layout shuffle."""
    from rdfshape_api_spark.operators.canonicalize import (
        canonicalize,
        write_canonical_store,
    )
    from rdfshape_api_spark.sources.extract import extract_triples

    tri = canonicalize(extract_triples(docs))
    write_canonical_store(tri, os.path.join(store_dir, "base"), dedup=True)
    _write_version(store_dir, 0)


def _predecessor(store_dir: str, cur: int, below: int) -> int:
    """The live log version a merge to ``below`` builds on: the highest
    version under ``below`` and not above the pointer ``cur`` whose adds
    and retracts logs both exist.  0 means the base alone."""
    log_root = os.path.join(store_dir, "log")
    if not os.path.isdir(log_root):
        return 0
    names = os.listdir(log_root)
    found = {
        kind: {int(n[len(kind) + 2 :]) for n in names if n.startswith(f"{kind}_v")}
        for kind in ("adds", "retracts")
    }
    live = [p for p in found["adds"] & found["retracts"] if p < below and p <= cur]
    return max(live, default=0)


def _read_log(spark: SparkSession, store_dir: str, version: int):
    adds = spark.read.schema(TRIPLE_SCHEMA).parquet(_log_dir(store_dir, "adds", version))
    retracts = spark.read.schema(_RETRACT_SCHEMA).parquet(
        _log_dir(store_dir, "retracts", version)
    )
    return adds.select(*TRIPLE_COLUMNS), retracts


def merge_snapshot(
    spark: SparkSession,
    store_dir: str,
    delta_docs: DataFrame,
    version: int | None = None,
) -> int:
    """Apply one delta batch as snapshot version N+1.

    Writes version ``v``'s two logs from its predecessor's (see
    :func:`_predecessor`): ``adds_v`` = the predecessor's adds minus this
    delta's keys, plus the delta's extraction; ``retracts_v`` = the
    predecessor's keys plus the delta's.  Cost is O(delta + live log); the
    base is untouched.  At pointer 0 no log is live, so ``log/`` is
    removed first.  The version-file swap is the atomic commit — a crash
    before it leaves a dangling log directory that no read or merge uses
    (versions above the pointer are invisible), so the merge is
    idempotently re-runnable: the re-run rebuilds the same ``v`` dirs
    from the same predecessor and then swings the pointer.  Returns the
    new version.

    ``version``: explicit target version for replay-safe callers (the
    streaming path maps micro-batch id → version, so a replayed batch
    overwrites ITS OWN logs instead of appending a duplicate version).
    The pointer only ever moves forward (max of current and written).
    """
    cur = snapshot_version(store_dir)
    v = cur + 1 if version is None else int(version)
    log_root = os.path.join(store_dir, "log")
    if cur == 0 and os.path.isdir(log_root):
        shutil.rmtree(log_root)
    prev = _predecessor(store_dir, cur, v)
    delta_docs.persist()
    try:
        # keys are not deduplicated: a repeated key is harmless to an
        # anti-join, and skipping the distinct saves a shuffle per merge
        keys = delta_docs.select("repo", "path")
        adds = _extract_canonical(delta_docs).select(*TRIPLE_COLUMNS)
        retracts = keys
        if prev:
            prev_adds, prev_retracts = _read_log(spark, store_dir, prev)
            live = prev_adds.join(F.broadcast(keys), on=["repo", "path"], how="left_anti")
            adds = live.unionByName(adds)
            retracts = prev_retracts.unionByName(keys)
        adds.write.mode("overwrite").parquet(_log_dir(store_dir, "adds", v))
        # one file: every read broadcasts the retract keys whole
        retracts.coalesce(1).write.mode("overwrite").parquet(_log_dir(store_dir, "retracts", v))
    finally:
        delta_docs.unpersist()
    _write_version(store_dir, max(cur, v))
    return v


def read_snapshot(spark: SparkSession, store_dir: str) -> DataFrame:
    """The current canonical triple set: the base anti-joined against the
    broadcast ``retracts_v`` of the pointer's version ``v``, plus
    ``adds_v``.  The merges already reconciled the versions, so this is
    one base scan, one broadcast anti-join and one small scan, whatever
    the number of versions.  Column pruning and pushed-down data filters
    still apply to the base scan before the probe; the result drops
    ``pred_part``, so there is no directory pruning.

    Base and logs are read with pinned schemas, so building the frame runs
    no Spark job.  A base written over zero documents reads as empty; a
    missing ``base/`` or log directory raises Spark's path-not-found error.
    """
    from rdfshape_api_spark.operators.canonicalize import read_store

    v = snapshot_version(store_dir)
    base = read_store(spark, os.path.join(store_dir, "base")).select(*TRIPLE_COLUMNS)
    if v == 0:
        return base
    adds, retracts = _read_log(spark, store_dir, v)
    kept = base.join(F.broadcast(retracts), on=["repo", "path"], how="left_anti")
    return kept.unionByName(adds)


def stream_merge_snapshots(
    docs_stream: DataFrame, store_dir: str, checkpoint_dir: str
):
    """Continuous construction: a Structured-Streaming source of document
    versions merges into the snapshot store, one snapshot version per
    micro-batch.

    Exactly-once end to end: the streaming checkpoint makes batch ids
    stable across restarts (a replayed batch re-arrives with ITS id), and
    ``version = batch_id + 1`` makes the merge write idempotent — the
    replay overwrites its own log directories and the version pointer
    never moves backwards.  Contract: the store starts at version 0
    (:func:`init_snapshot`, possibly over an empty doc set) and is owned
    by one checkpoint lineage; compaction requires the stream stopped,
    and a stream resumed after it builds its next version on the new base.

    Returns the started ``StreamingQuery`` (``availableNow`` trigger —
    drains what exists, then stops; swap the trigger for continuous
    ingest).  Source: any streaming DataFrame with the docs-table schema —
    a file stream over parquet drops, or a Kafka topic projected to
    (repo, path, commit, lang, content) as in
    ``streaming/validate_stream.py``.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_snapshot(
            batch_df.sparkSession, store_dir, batch_df, version=int(batch_id) + 1
        )

    return (
        docs_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def compact_snapshot(spark: SparkSession, store_dir: str) -> None:
    """Fold the merge log into a fresh base (Iceberg rewrite_data_files
    analog): materialize the reconciled snapshot, rewrite the canonical
    layout (each predicate's bucket count recomputed from its current row
    count), reset the version pointer, then remove the log.  Run when the
    accumulated log size makes the read-side anti-join dominate scan cost.

    Once the new base is in place, a crash at either later step leaves a
    readable snapshot: the new base reconciled against the still-named
    logs is the same snapshot, and a log left after the pointer reset is
    dead (the next merge at pointer 0 removes it)."""
    from rdfshape_api_spark.operators.canonicalize import write_canonical_store

    cur = read_snapshot(spark, store_dir)
    new_base = os.path.join(store_dir, "base_compacting")
    write_canonical_store(cur, new_base)
    old_base = os.path.join(store_dir, "base")
    shutil.rmtree(old_base)
    os.replace(new_base, old_base)
    _write_version(store_dir, 0)
    log_root = os.path.join(store_dir, "log")
    if os.path.isdir(log_root):
        shutil.rmtree(log_root)
