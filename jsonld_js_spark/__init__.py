"""jsonld_js_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the JSON-LD 1.1 algorithm family (context resolution,
expansion, flattening, toRDF triple emission, RDF dataset
canonicalization, and the inverse/presentation operators) — the
capability set of digitalbazaar/jsonld.js — as Arrow-vectorized
DataFrame dataflow over tables of multi-turn conversation transcripts.

Layout
------
- ``kernel``    pure-Python JSON-LD kernels (no Spark imports): run
                per-document inside Arrow UDF batches.
- ``operators`` Spark DataFrame operators: the fused transcript→triples
                pipeline, canonicalization, entity linking, dedup,
                similarity search, text analysis.
- ``sources``   readers/writers: transcript synthesizer, N-Quads IO,
                format registry.
- ``plans``     lineage / checkpoint-manifest / resume support.
- ``streaming`` incremental (snapshot-based) ingest.
- ``session``   the SparkSession builder; ``daemon`` is the Python
                worker daemon its sessions run.

This is NOT a port of jsonld.js: the reference is a single-process
recursive JSON processor; here documents stay inside Arrow record
batches and everything that shuffles (grouping, joins, dedupe,
entity linking) is stock Catalyst-optimized DataFrame code.
"""

__version__ = "0.1.0"
