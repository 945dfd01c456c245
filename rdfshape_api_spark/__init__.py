"""rdfshape_api_spark — a from-scratch PySpark-native KG-construction engine.

Re-expresses the query / data-processing capabilities of weso/rdfshape-api
(reference at /root/reference, survey in /root/repo/SURVEY.md) as a batch
pipeline over an Iceberg-style table of source documents
``(repo, path, commit, lang, content)``:

* triple extraction (Turtle / N-Triples / JSON-LD) — one parser per format,
  every document through one Arrow-batched ``mapInPandas`` stage;
* ShEx / SHACL conformance compiled to DataFrame predicates (no per-row
  Python in the validation hot path);
* IRI canonicalization, deterministic blank-node skolemization, skew-aware
  dedup; canonical triple store partitioned by predicate;
* per-partition lineage + resumable stages.

Nothing here is a port: the reference is a single-node Scala/Jena web API;
this engine is DataFrame/Catalyst-first and designed for 100 TB inputs on
multi-executor clusters.
"""

__version__ = "0.1.0"
