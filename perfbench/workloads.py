"""The benchmark's workloads.  Each is one closed-loop client in one process:
the next operation starts when the previous one has returned its result.

``build``  repeated ``pipeline.run_pipeline`` over a seeded corpus (fresh
           output directory per call, ``resume=False``).
``serve``  a merge-on-read snapshot store (``operators.incremental``) that
           takes delta batches while it answers a fixed round-robin mix of
           reads: SPARQL (BGP+FILTER, GROUP BY, a path through the hot
           ``ex:hub`` object), a predicate lookup, ``outgoing_arcs`` of a hot
           or cold subject, ShEx and SHACL validation.  Every read goes
           through ``read_snapshot``, so it sees the latest merged version;
           each round ends with a compaction.

Every operation's output is checked against goldens computed by the
generator for the same documents; a wrong output counts as a failed
operation, not as a timing.
"""

from __future__ import annotations

import collections
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as pads

import corpus
from procfs import tree_cpu_s
from rdfshape_api_spark.fixtures.generator import (
    EX,
    RDF_TYPE,
    SHACL_SENSOR,
    SHAPEMAP_QUERY,
    SHEX_SENSOR,
)

MIN_PR = 0.95  # triple precision/recall the build gate requires (1.0 expected by construction)
GOLD_COLUMNS = ["doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]
SHAPES = ("shex_sensor", "shacl_sensor")

BUILD_DOCS = 5000
# in a fresh process the first run_pipeline call pays Python-worker start,
# JIT and code generation (about 3x a steady call); it is set-up, not a
# sample.  The second call is still ~30% slow, the same in every run; a
# second warm-up call would not fit the run-time budget on a busy host
BUILD_WARMUP = 1

SERVE_DOCS = 2000
SERVE_BATCHES = 13

PREFIX = "PREFIX ex: <http://example.org/>\n"
Q_BGP = PREFIX + "SELECT ?s ?t WHERE { ?s a ex:Reading . ?s ex:readingTemperature ?t . FILTER(?t > 19.5) }"
Q_GROUP = PREFIX + "SELECT ?st (COUNT(?s) AS ?n) WHERE { ?s ex:status ?st } GROUP BY ?st"
Q_PATH = PREFIX + "SELECT ?b WHERE { ex:shared0 ex:station/^ex:station ?b }"
READS = ("bgp", "group", "path", "lookup", "arcs", "shex", "shacl")
# one serve round: two merges, each followed by reads of the new version,
# then a compaction that folds the round's log into the base
ROUND = ("ingest", "bgp", "group", "path", "ingest", "lookup", "arcs", "shex", "shacl", "compact")


@dataclass
class Op:
    kind: str
    wall: float
    ok: bool
    traced: bool
    triples: int = 0  # canonical triples the operation covered
    rnd: int = 0  # build: operation number; serve: round number
    cpu: float = 0.0  # CPU seconds of the process tree (driver, JVM, workers)


@dataclass
class Run:
    """What one benchmark process measured."""

    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    trace: bool
    log: object
    setup_s: float = 0.0
    measured_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    checks: list[tuple[str, bool]] = field(default_factory=list)
    precision: float = 1.0
    recall: float = 1.0
    agree: int = 0
    verdicts: int = 0
    store_bytes_per_input_byte: float = 0.0
    layer: dict = field(default_factory=dict)
    # first operation (round) whose untraced timings are the reference for
    # the tracing overhead; serve's first round compiles its query plans
    reference_from: int = 0

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok)))
        if not ok:
            self.log(f"CHECK FAILED: {name} {detail}")
        return bool(ok)


def keep_going(run: Run, t0: float) -> bool:
    """Start another operation (or ``serve`` round) while the run's seconds
    are not used up.  A traced run also goes on until it has a traced one
    and an untraced reference one, to report the tracing overhead."""
    if time.perf_counter() - t0 < run.seconds:
        return True
    return run.trace and not (any(o.traced for o in run.ops) and reference_ops(run))


def reference_ops(run: Run) -> list[Op]:
    return [o for o in run.ops if not o.traced and o.rnd >= run.reference_from]


def _pr(got: set, exp: set) -> tuple[float, float]:
    tp = len(got & exp)
    return (tp / len(got) if got else 1.0, tp / len(exp) if exp else 1.0)


def _rows(table, cols) -> list[tuple]:
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------


def _staged_pipeline(spark, docs, out_dir: str, tr) -> dict:
    """The stage calls ``run_pipeline(resume=False)`` makes, in its order and
    each ending in the same write, with one span per layer call.  The N-Triples
    and the Turtle/JSON-LD branches of extraction are written as two jobs so
    that each gets its own span; the sum is ``sources.extract``."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from rdfshape_api_spark.lineage import extraction_lineage
    from rdfshape_api_spark.model import TRIPLE_COLUMNS
    from rdfshape_api_spark.operators.canonicalize import (
        OWL_SAMEAS,
        canonicalize,
        link_entities,
        write_canonical_store,
    )
    from rdfshape_api_spark.pipeline import _store_pruned_for_schemas
    from rdfshape_api_spark.plans import parse_shacl, parse_shexc
    from rdfshape_api_spark.plans.validate import validate_batch
    from rdfshape_api_spark.sources.extract import (
        NT_LANGS,
        extract_ntriples_columnar,
        extract_python_formats,
        with_doc_sha,
    )

    raw_dir = os.path.join(out_dir, "raw_triples")
    lineage_dir = os.path.join(out_dir, "lineage_extract")
    store_dir = os.path.join(out_dir, "triple_store")
    verdict_dir = os.path.join(out_dir, "verdicts")
    errors_dir = os.path.join(out_dir, "errors")

    prepared = with_doc_sha(docs).persist(StorageLevel.DISK_ONLY)
    try:
        lang = F.lower(F.col("lang"))
        with tr.span("sources.extract"):
            with tr.span("sources.extract_nt.exec"):
                extract_ntriples_columnar(prepared.filter(lang.isin(*NT_LANGS))).write.mode(
                    "overwrite"
                ).parquet(os.path.join(raw_dir, "branch=nt"))
            with tr.span("sources.extract_py.exec"):
                extract_python_formats(prepared.filter(~lang.isin(*NT_LANGS))).write.mode(
                    "overwrite"
                ).parquet(os.path.join(raw_dir, "branch=py"))
        with tr.span("lineage.extraction_lineage.exec"):
            extraction_lineage(prepared, spark.read.parquet(raw_dir)).write.mode("overwrite").parquet(
                lineage_dir
            )
    finally:
        prepared.unpersist()
    raw = spark.read.parquet(raw_dir)
    with tr.span("sources.errors.exec"):
        raw.filter(F.col("error").isNotNull()).select(
            "repo", "path", "commit", "doc_sha256", "error"
        ).write.mode("overwrite").parquet(errors_dir)

    with tr.span("canonicalize.plan"):
        canon = canonicalize(raw.filter(F.col("error").isNull()).select(*TRIPLE_COLUMNS))
    with tr.span("canonicalize.same_as_probe.exec"):
        if not canon.filter(F.col("pred") == OWL_SAMEAS).isEmpty():
            canon = link_entities(canon)
    with tr.span("canonicalize.store_write.exec"):
        write_canonical_store(canon, store_dir, subj_buckets=16, dedup=True)

    with tr.span("validate.batch.plan"):
        triples = spark.read.parquet(store_dir).select(*TRIPLE_COLUMNS)
        jobs = [
            (parse_shexc(SHEX_SENSOR), SHAPEMAP_QUERY, "shex_sensor"),
            (parse_shacl(SHACL_SENSOR), None, "shacl_sensor"),
        ]
        vt = _store_pruned_for_schemas(spark, store_dir, [s for s, *_ in jobs])
        verdicts = validate_batch(vt, jobs, focus_triples=triples)
    with tr.span("validate.batch.exec"):
        verdicts.write.mode("overwrite").parquet(verdict_dir)

    with tr.span("lineage.metrics"):
        lin = pads.dataset(lineage_dir, format="parquet").to_table(
            columns=["input_docs", "output_triples", "error_docs", "sha_violations"]
        )
        return {c: sum(lin.column(c).to_pylist()) for c in lin.column_names} | {
            "docs": sum(lin.column("input_docs").to_pylist()),
            "triples": sum(lin.column("output_triples").to_pylist()),
        }


def _sorted(table):
    return table.sort_by([(c, "ascending") for c in GOLD_COLUMNS])


def _gold_table(triples) -> "pa.Table":
    rows = list(triples)
    return _sorted(
        pa.table(
            {c: [r[i] for r in rows] for i, c in enumerate(GOLD_COLUMNS)},
            schema=pa.schema([(c, pa.string()) for c in GOLD_COLUMNS]),
        )
    )


def _check_build(run: Run, out_dir: str, metrics: dict, exp: "pa.Table", exp_verdicts: set, n_docs: int, n_error: int) -> bool:
    store = pads.dataset(os.path.join(out_dir, "triple_store"), format="parquet", partitioning="hive")
    got = _sorted(store.to_table(columns=GOLD_COLUMNS))
    if got.equals(exp):
        p = r = 1.0
        dup_free = True
    else:  # slow path, only to report how far off the store is
        got_rows = _rows(got, GOLD_COLUMNS)
        p, r = _pr(set(got_rows), set(_rows(exp, GOLD_COLUMNS)))
        dup_free = len(got_rows) == len(set(got_rows))
    run.precision, run.recall = min(run.precision, p), min(run.recall, r)
    vt = pads.dataset(os.path.join(out_dir, "verdicts"), format="parquet").to_table(
        columns=["doc_sha256", "node", "shape_id", "status"]
    )
    rows = _rows(vt, vt.column_names)
    agree = total = 0
    for shape in SHAPES:
        g = {(d, n, st) for d, n, sid, st in rows if sid == shape}
        agree += len(g & exp_verdicts)
        total += len(g | exp_verdicts)
    run.agree += agree
    run.verdicts += total
    ok = run.check("build.triples", p >= MIN_PR and r >= MIN_PR and dup_free, f"P={p} R={r}")
    ok &= run.check("build.verdicts", agree == total, f"{agree}/{total}")
    ok &= run.check("build.docs", metrics.get("docs") == n_docs, str(metrics.get("docs")))
    ok &= run.check("build.error_docs", metrics.get("error_docs") == n_error, str(metrics.get("error_docs")))
    ok &= run.check("build.sha_violations", metrics.get("sha_violations") == 0, str(metrics.get("sha_violations")))
    return ok


def build(run: Run, t_start: float, n_docs: int | None = None) -> None:
    from rdfshape_api_spark.pipeline import run_pipeline

    spark, tr = run.spark, run.tracer
    n_docs = n_docs or BUILD_DOCS
    with tr.span("bench.generate"):
        c = corpus.build_corpus(run.seed, n_docs, os.path.join(run.work, "input"))
    exp_triples = set().union(*(d.triples for d in c.docs))
    exp_table = _gold_table(exp_triples)
    exp_verdicts = set().union(*(d.verdicts for d in c.docs))
    n_error = sum(d.is_error for d in c.docs)
    input_bytes = corpus.content_bytes(c.docs)
    docs = spark.read.parquet(c.docs_path)
    kw = dict(shex_schema=SHEX_SENSOR, shex_shapemap=SHAPEMAP_QUERY, shacl_schema=SHACL_SENSOR, resume=False)

    def one(i: int, traced: bool) -> tuple[float, float, dict, str]:
        out = os.path.join(run.work, f"build_{i:03d}")
        c0, t0 = tree_cpu_s(), time.perf_counter()
        if traced:
            with tr.span("bench.build_op", op=i):
                m = _staged_pipeline(spark, docs, out, tr)
        else:
            m = run_pipeline(spark, docs, out, **kw)
        return time.perf_counter() - t0, tree_cpu_s() - c0, m, out

    for w in range(BUILD_WARMUP):
        shutil.rmtree(one(-1 - w, False)[3])
    run.setup_s = time.perf_counter() - t_start

    t0 = time.perf_counter()
    i = 0
    while keep_going(run, t0):
        traced = run.trace and i % 2 == 1
        wall, cpu, m, out = one(i, traced)
        ok = _check_build(run, out, m, exp_table, exp_verdicts, n_docs, n_error)
        store = os.path.join(out, "triple_store")
        run.store_bytes_per_input_byte = corpus.tree_bytes(store) / input_bytes
        if traced:
            run.layer.update(
                {
                    "sources.docs": m["docs"],
                    "sources.error_docs": m["error_docs"],
                    "sources.raw_triples": m["triples"],
                    "canonicalize.dedup_ratio": len(exp_triples) / max(1, m["triples"]),
                    "canonicalize.store_files": corpus.tree_files(store),
                    "canonicalize.store_bytes": corpus.tree_bytes(store),
                }
            )
        run.ops.append(Op("build", wall, ok, traced, len(exp_triples), i, cpu))
        shutil.rmtree(out)
        i += 1
    run.measured_s = time.perf_counter() - t0


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


class Expected:
    """Answers for one snapshot version, computed from the goldens of the
    documents live at that version (independently of the code under test)."""

    def __init__(self, live: dict):
        self.triples = set().union(*(d.triples for d in live.values()))
        self.verdicts = set().union(*(d.verdicts for d in live.values()))
        # SPARQL evaluates over the merged model: the set of triples
        # without their document
        self.model = {t[1:] for t in self.triples}

    def bgp(self) -> list[tuple]:
        readings = {s for s, p, k, v, lg, dt in self.model if p == RDF_TYPE and v == EX + "Reading"}
        return sorted(
            (s, v)
            for s, p, k, v, lg, dt in self.model
            if p == EX + "readingTemperature" and s in readings and float(v) > 19.5
        )

    def group(self) -> list[tuple]:
        c = collections.Counter(v for s, p, k, v, lg, dt in self.model if p == EX + "status")
        return sorted(c.items())

    def path(self) -> list[str]:
        mid = [v for s, p, k, v, lg, dt in self.model if s == EX + "shared0" and p == EX + "station"]
        return sorted(
            s for m in mid for s, p, k, v, lg, dt in self.model if p == EX + "station" and v == m
        )

    def lookup(self) -> int:
        return sum(1 for t in self.triples if t[2] == EX + "status")

    def arcs(self, node: str) -> list[tuple]:
        out: dict[str, list] = {}
        for t in self.triples:
            if t[1] == node:
                out.setdefault(t[2], []).append(t[4])
        return sorted((p, sorted(vs)) for p, vs in out.items())


def serve(run: Run, t_start: float, n_docs: int | None = None) -> None:
    from rdfshape_api_spark.operators.algebra import outgoing_arcs, triples_with_predicate
    from rdfshape_api_spark.operators.incremental import (
        compact_snapshot,
        init_snapshot,
        merge_snapshot,
        read_snapshot,
        snapshot_version,
    )
    from rdfshape_api_spark.plans import parse_shacl, parse_shexc, validate
    from rdfshape_api_spark.plans.sparql import sparql_select

    spark, tr = run.spark, run.tracer
    n_docs = n_docs or SERVE_DOCS
    with tr.span("bench.generate"):
        c = corpus.serve_corpus(run.seed, n_docs, SERVE_BATCHES, os.path.join(run.work, "input"))
    store = os.path.join(run.work, "snapshot")
    live = {d.key: d for d in c.base}
    rng = random.Random(run.seed)
    hot = [EX + f"shared{k}" for k in range(3)]
    cold = [r for d in c.base for r in sorted({t[1] for t in d.triples}) if "/reading" in r]

    with tr.span("incremental.init"):
        init_snapshot(spark.read.parquet(c.base_path), store)
    exp = Expected(live)
    batch_no = 0

    def snapshot():
        with tr.span("incremental.read_snapshot.plan"):
            return read_snapshot(spark, store)

    def ingest() -> bool:
        nonlocal batch_no, exp
        batch = c.batches[batch_no]
        with tr.span("incremental.merge"):
            merge_snapshot(spark, store, spark.read.parquet(c.batch_paths[batch_no]))
        tri = snapshot()
        with tr.span("incremental.read_snapshot.count"):
            n = tri.count()
        batch_no += 1
        for d in batch:
            live[d.key] = d
        exp = Expected(live)
        return run.check("serve.ingest_count", n == len(exp.triples), f"{n} != {len(exp.triples)}")

    def sparql(kind: str, text: str, cols: list[str]) -> list[tuple]:
        tri = snapshot()
        with tr.span(f"sparql.{kind}.plan"):
            df = sparql_select(tri, text)
        with tr.span(f"sparql.{kind}.exec"):
            t = df.toArrow()
        return _rows(t, cols)

    def read(kind: str) -> bool:
        if kind == "bgp":
            got = sorted(sparql("bgp", Q_BGP, ["s", "t"]))
            return run.check("serve.bgp", got == exp.bgp(), f"{len(got)} rows")
        if kind == "group":
            got = sorted((st, int(n)) for st, n in sparql("group", Q_GROUP, ["st", "n"]))
            return run.check("serve.group", got == exp.group(), str(got))
        if kind == "path":
            got = sorted(b for (b,) in sparql("path", Q_PATH, ["b"]))
            return run.check("serve.path", got == exp.path(), f"{len(got)} rows")
        if kind == "lookup":
            tri = snapshot()
            with tr.span("store.lookup.plan"):
                df = triples_with_predicate(tri, EX + "status")
                if tr.enabled:
                    run.layer["store.files_per_lookup"] = len(df.inputFiles())
            with tr.span("store.lookup.exec"):
                n = df.count()
            return run.check("serve.lookup", n == exp.lookup(), f"{n}")
        if kind == "arcs":
            node = rng.choice(hot) if rng.random() < 0.5 else rng.choice(cold)
            tri = snapshot()
            with tr.span("algebra.outgoing_arcs.plan"):
                df = outgoing_arcs(tri, node)
            with tr.span("algebra.outgoing_arcs.exec"):
                got = sorted((p, list(v)) for p, v in _rows(df.toArrow(), ["pred", "values"]))
            return run.check("serve.arcs", got == exp.arcs(node), node)
        # shex / shacl
        tri = snapshot()
        with tr.span(f"validate.{kind}.plan"):
            if kind == "shex":
                v = validate(tri, parse_shexc(SHEX_SENSOR), shapemap=SHAPEMAP_QUERY)
            else:
                v = validate(tri, parse_shacl(SHACL_SENSOR))
        with tr.span(f"validate.{kind}.exec"):
            got = set(_rows(v.select("doc_sha256", "node", "status").toArrow(), ["doc_sha256", "node", "status"]))
        run.agree += len(got & exp.verdicts)
        run.verdicts += len(got | exp.verdicts)
        return run.check(f"serve.{kind}", got == exp.verdicts, f"{len(got)} vs {len(exp.verdicts)}")

    def compact() -> bool:
        total = corpus.tree_bytes(store)
        run.layer["incremental.log_versions"] = max(run.layer.get("incremental.log_versions", 0), snapshot_version(store))
        run.layer["incremental.log_bytes"] = max(
            run.layer.get("incremental.log_bytes", 0), total - corpus.tree_bytes(os.path.join(store, "base"))
        )
        with tr.span("incremental.compact"):
            compact_snapshot(spark, store)
        return run.check("serve.compact_version", snapshot_version(store) == 0)

    def timed(kind: str, fn, traced: bool, op_no: int) -> Op:
        covered = len(exp.triples)  # every serve operation reads the whole snapshot
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            with tr.span(f"bench.serve_{kind}", op=op_no):
                res = fn()
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, the run goes on
            run.log(f"OP FAILED: {kind}: {type(e).__name__}: {e}")
            res = False
        return Op(kind, time.perf_counter() - t0, res, traced, covered, op_no, tree_cpu_s() - c0)

    def round_(r: int, traced: bool) -> list[Op]:
        prev = tr.enabled
        tr.enabled = traced
        try:
            return [timed(k, handlers[k], traced, r) for k in ROUND]
        finally:
            tr.enabled = prev

    handlers = {k: (lambda k=k: read(k)) for k in READS} | {"ingest": ingest, "compact": compact}

    # warm-up: the first merge pays the cold parse path (about 1.4x a steady
    # merge); the compaction after it warms that path too and leaves the log
    # empty, so every timed round starts from the same state.  The reads are
    # not warmed: a read round costs ~20 s, more than the run budget has, so
    # the first round's reads include their plan compilation, the same way
    # in every run
    run.reference_from = 1
    prev, tr.enabled = tr.enabled, False
    warm = [timed("ingest", ingest, False, -1), timed("compact", compact, False, -1)]
    tr.enabled = prev
    run.setup_s = time.perf_counter() - t_start
    run.checks.append(("serve.warmup", all(o.ok for o in warm)))

    t0 = time.perf_counter()
    r = 0
    while keep_going(run, t0) and batch_no + ROUND.count("ingest") <= len(c.batches):
        run.ops += round_(r, run.trace and r % 2 == 1)
        r += 1
    run.measured_s = time.perf_counter() - t0

    # gate: the final snapshot equals the goldens of the final document set
    got = read_snapshot(spark, store).select(*GOLD_COLUMNS).toArrow()
    got_rows = _rows(got, GOLD_COLUMNS)
    p, rc = _pr(set(got_rows), exp.triples)
    run.precision, run.recall = p, rc
    run.check("serve.final_snapshot", p == 1.0 and rc == 1.0 and len(got_rows) == len(set(got_rows)), f"P={p} R={rc}")
    run.store_bytes_per_input_byte = corpus.tree_bytes(store) / corpus.content_bytes(live.values())
    base = os.path.join(store, "base")
    run.layer.update(
        {
            "canonicalize.store_files": corpus.tree_files(base),
            "canonicalize.store_bytes": corpus.tree_bytes(base),
        }
    )


WORKLOADS = {"build": build, "serve": serve}


def op_table(run: Run) -> str:
    """Per operation kind: count and median wall, for the run log."""
    kinds: dict[str, list[Op]] = {}
    for o in run.ops:
        kinds.setdefault(o.kind, []).append(o)
    return "  ".join(
        f"{k}: p50={statistics.median(o.wall for o in v):.3f}s [{' '.join(f'{o.wall:.2f}/{o.cpu:.1f}' for o in v)}]"
        for k, v in kinds.items()
    )


def per_kind_median(ops: list[Op], attr: str) -> float:
    """Median of ``attr`` for each operation kind, averaged over the kinds
    (serve's round has each read once, the ingest twice)."""
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o.kind, []).append(getattr(o, attr))
    return statistics.fmean(statistics.median(v) for v in kinds.values()) if kinds else 0.0


def wall_times(ops: list[Op]) -> dict:
    """Latency and throughput of the timed operations.  They follow the load
    other guests put on the host more than the program, so they are
    reported beside the gated metrics, not as gated metrics."""
    walls = [o.wall for o in ops]
    return {
        "op_p50_s": per_kind_median(ops, "wall"),
        # closed loop, one client; the client's output checks are not counted
        "ops_per_s": len(walls) / sum(walls),
        "triples_per_s": sum(o.triples for o in ops) / sum(walls),
    }


def summarize(run: Run) -> tuple[dict, int, int]:
    """End-to-end metrics of one run, with the operations and checks
    attempted and failed."""
    attempted = len(run.ops) + len(run.checks)
    failed = sum(not o.ok for o in run.ops) + sum(not ok for _, ok in run.checks)
    return {
        "setup_s": (run.setup_s, "s"),
        "op_cpu_s": (per_kind_median(run.ops, "cpu"), "s"),
        "store_bytes_per_input_byte": (run.store_bytes_per_input_byte, "ratio"),
        "triple_precision": (run.precision, "ratio"),
        "triple_recall": (run.recall, "ratio"),
        "verdict_agreement": (run.agree / run.verdicts if run.verdicts else 1.0, "ratio"),
        "op_success_ratio": (1 - failed / attempted, "ratio"),
    }, attempted, failed
