"""dbt_pro3_spark — a PySpark-native analytics engine.

Re-implements the capabilities of the yashkandi9/DBT-Pro3 reference (a dbt
medallion lakehouse for insurance analytics on Databricks SQL) as an
idiomatic Spark-first engine:

- ``sources``   : readers (parquet/csv, file metadata, rescued data) & sinks
                  (table materialization, audit log append).
- ``functions`` : scalar expression helpers (string/date/math/conditional),
                  mirroring the reference's SQL function surface.
- ``operators`` : relational operator library — projections, filters, joins,
                  aggregations, window dedup/trends, quality flags & tests.
- ``plans``     : the model registry + DAG + topo runner that reproduces dbt's
                  run/test/post-hook lifecycle (ref()/source() resolution).
- ``streaming`` : Structured Streaming surface — tumbling/sliding/session
                  windows, watermarked late-data handling.
- ``ext``       : large-scale training-data-pipeline operators — exact and
                  fuzzy dedup (MinHash-LSH, SimHash, n-gram Jaccard,
                  embedding-cosine), similarity search (brute force + LSH),
                  text analysis (lang-id, quality, tokens, fingerprints),
                  multimodal binary-column plumbing.
- ``pipeline``  : the 12 reference models (bronze/silver/gold) over
                  synthetic insurance fixtures: typed-cast bronze, and one
                  SQL text per silver and gold model.
- ``queries``   : the driver-facing registry: one runnable query per operator
                  key from SURVEY.md §2, each with a DuckDB oracle SQL twin.

Everything is stock PySpark DataFrame/SQL — no custom Catalyst rules, no
row-at-a-time Python UDFs on hot paths. Catalyst + AQE supply optimization;
this package owns semantics and orchestration only.
"""

__version__ = "0.1.0"
