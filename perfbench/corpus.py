"""Seeded inputs for the benchmark, rendered through the repo's fixture
generator.

Document ``j`` of the fixture generator is a pure function of ``j`` (its RNG
is keyed by the index), so a seed only picks *which* indices are rendered:
``first_index(seed) = (seed mod 2^32) * STRIDE``.  Every seed therefore yields a corpus
with the same statistics (60/30/10 Turtle/N-Triples/JSON-LD, ~1% truncated
documents, bnode and IRI label collisions, ``ex:hub`` on every reading) but
different bytes, and the same seed always yields the same bytes.

Goldens are computed by construction for the same documents:
``triples`` holds ``(doc_sha256, subj, pred, obj_kind, obj_value, obj_lang,
obj_datatype)`` rows and ``verdicts`` holds ``(doc_sha256, node, status)``
rows, one per reading, identical for the ShEx and the SHACL schema.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from rdfshape_api_spark.fixtures import generator as gen

STRIDE = 10_000_000
DOC_COLUMNS = gen._DOC_COLS
# a corpus is written as several files so that a local[4] scan gets one
# split per file instead of one split for the whole (small) corpus
DOC_FILES = 8
# re-versions render content from their own index range, disjoint from the
# corpus and from the new-path range of the same seed
REVISION_OFFSET = STRIDE // 2


@dataclass(frozen=True)
class Doc:
    repo: str
    path: str
    commit: str
    lang: str
    content: str
    sha: str
    is_error: bool
    triples: frozenset
    verdicts: frozenset

    @property
    def key(self) -> tuple[str, str]:
        return (self.repo, self.path)

    def row(self) -> tuple:
        return (self.repo, self.path, self.commit, self.lang, self.content, self.sha)


def first_index(seed: int) -> int:
    # any integer is a seed; negative ones wrap onto the same index space
    return (seed % 2**32) * STRIDE


def render(j: int, at: Doc | None = None) -> Doc:
    """Document ``j`` with its goldens; with ``at``, the same content is a
    new version of ``at``'s ``(repo, path)``."""
    (repo, path, commit, lang, content, sha), readings, is_error, _ = gen._gen_one_doc(j)
    if at is not None:
        repo, path = at.repo, at.path
        commit = hashlib.sha1(f"revision:{repo}:{path}:{j}".encode()).hexdigest()
    if is_error:
        triples, verdicts = frozenset(), frozenset()
    else:
        triples = frozenset(gen._golden_triples(readings, sha))
        verdicts = frozenset(
            (
                sha,
                gen.skolem(sha, r.node) if r.is_bnode else r.node,
                "conformant" if r.conformant() else "nonconformant",
            )
            for r in readings
        )
    return Doc(repo, path, commit, lang, content, sha, is_error, triples, verdicts)


def write_docs(docs: list[Doc], path: str, files: int = 1) -> None:
    """Docs table ``(repo, path, commit, lang, content, content_sha256)``:
    one parquet file, or a directory of ``files`` parquet files."""
    schema = pa.schema([(c, pa.string()) for c in DOC_COLUMNS])

    def table(chunk: list[Doc]) -> pa.Table:
        rows = [d.row() for d in chunk]
        return pa.table({c: [r[i] for r in rows] for i, c in enumerate(DOC_COLUMNS)}, schema=schema)

    if files == 1:
        pq.write_table(table(docs), path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-len(docs) // files)
    for k in range(files):
        pq.write_table(table(docs[k * step : (k + 1) * step]), os.path.join(path, f"part-{k:05d}.parquet"))


def content_bytes(docs) -> int:
    return sum(len(d.content.encode()) for d in docs)


@dataclass
class BuildCorpus:
    docs: list[Doc]
    docs_path: str


def build_corpus(seed: int, n_docs: int, out_dir: str) -> BuildCorpus:
    j0 = first_index(seed)
    docs = [render(j) for j in range(j0, j0 + n_docs)]
    path = os.path.join(out_dir, "docs")
    write_docs(docs, path, files=DOC_FILES)
    return BuildCorpus(docs, path)


@dataclass
class ServeCorpus:
    base: list[Doc]
    base_path: str
    batches: list[list[Doc]]
    batch_paths: list[str]


def serve_corpus(seed: int, n_docs: int, n_batches: int, out_dir: str) -> ServeCorpus:
    """Base snapshot = the first 90% of an ``n_docs`` corpus.  Each delta
    batch holds ~1% of the corpus: half are new versions of paths already
    in the store (chosen by a seeded RNG among all paths present before the
    batch), half are new paths (the held-out 10%, then further indices)."""
    j0 = first_index(seed)
    n_base = n_docs * 9 // 10
    half = max(1, n_docs // 200)
    base = [render(j) for j in range(j0, j0 + n_base)]
    base_path = os.path.join(out_dir, "base_docs")
    write_docs(base, base_path, files=DOC_FILES)

    rng = random.Random(seed)
    live = [d.key for d in base]
    by_key = {d.key: d for d in base}
    next_new = j0 + n_base
    next_rev = j0 + REVISION_OFFSET
    batches, paths = [], []
    for b in range(n_batches):
        batch = []
        for key in rng.sample(live, half):
            batch.append(render(next_rev, at=by_key[key]))
            next_rev += 1
        for _ in range(half):
            batch.append(render(next_new))
            next_new += 1
        for d in batch:
            if d.key not in by_key:
                live.append(d.key)
            by_key[d.key] = d
        path = os.path.join(out_dir, f"delta_{b:03d}.parquet")
        write_docs(batch, path)
        batches.append(batch)
        paths.append(path)
    return ServeCorpus(base, base_path, batches, paths)


def tree_digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


def tree_files(root: str, suffix: str = ".parquet") -> int:
    return sum(1 for _, _, fs in os.walk(root) for f in fs if f.endswith(suffix))
