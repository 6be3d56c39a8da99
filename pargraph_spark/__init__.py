"""pargraph_spark — a from-scratch PySpark-native link-graph analytics engine.

Re-expresses the mission of the reference task-graph library (Citi/pargraph,
/root/reference) in idiomatic Spark: instead of a hand-rolled DAG scheduler
(reference: pargraph/engine/engine.py:42-129) we declare DataFrame plans and
let Catalyst/AQE schedule; instead of GraphBLAS boolean SpMV for frontier
extraction (reference: pargraph/utility/graphlib_graphblas.py:136-167) we run
the SpMV as a plan shape: a join against the hash(src)-co-partitioned edge
table, partial (partition-local) aggregation of the messages, then a
hash-shuffle sum by dst.

Layout:
  session    — SparkSession factory (Arrow, AQE, shuffle partitioning)
  synth      — deterministic seeded Common-Crawl-style pages generator
  sources/   — page-table readers (latest-crawl dedupe)
  functions/ — pure deterministic kernels shared with test oracles
               (HTML extraction, URL normalization, text analysis exprs)
  operators/ — graph + pipeline operators (edges, pagerank, components,
               label propagation, triangles, dedup, similarity, skew)
  plans/     — job orchestration, checkpoint/resume manifests, metrics
  streaming/ — incremental page-ingest (Structured Streaming foreachBatch)
"""

__version__ = "0.1.0"
