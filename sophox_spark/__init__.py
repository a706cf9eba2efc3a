"""sophox_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch rebuild (NOT a port) of the analytics capabilities of the
Sophox reference stack (OSM→RDF conversion, SPARQL/PostGIS geo queries,
regions tiling service), re-expressed Spark-first:

- DataFrame/SQL logical plans; Catalyst picks physical strategy.
- Geometry + cell-index kernels in vectorized numpy behind Arrow-batched
  pandas UDFs / ``applyInPandas`` (no per-row Python anywhere).
- Spatial predicates via the filter-then-refine convention: a coarse
  hierarchical-cell equi-join (plain Catalyst hash join, broadcastable,
  co-partitionable) followed by exact ray-cast refinement in the JVM.
- Incremental ingestion as idempotent micro-batch MERGE emulation with a
  checkpoint/lineage manifest (the reference keeps its watermark *in the
  store*: /root/reference/osm2rdf/RdfUpdateHandler.py:59-66).

Subpackages
-----------
cells      hierarchical cell indexes (quad grid + S2 point encoding)
geometry   numpy geometry kernels (PIP, STRtree, haversine, simplify, ...)
operators  spatial join, kNN, tiling, dissolve, dedup, similarity, skew
functions  text extraction, tag normalization, TTL literal grammar, text stats
sources    deterministic synthetic fixtures + file sinks
streaming  incremental upsert / fixpoint / watermark semantics
plans      session builder, explain helpers, bench utilities
"""

__version__ = "0.1.0"
