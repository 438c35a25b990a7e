"""clin_variant_etl_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of the reference pipeline (meek0/clin-variant-etl,
surveyed in SURVEY.md) as an idiomatic Spark lakehouse engine:

- ``lake``      : snapshot/manifest table format over parquet (atomic commits,
                  bucketed layout, in-place schema evolution, time travel) —
                  the role Delta Lake plays in the reference
                  (reference: conf/EtlConfiguration.scala:43-54 load types).
- ``engine``    : CDC apply — dedup-by-LSN, LSN-guarded MERGE, tombstones,
                  exactly-once epoch gate and per-epoch lineage in the
                  same atomic snapshot commit
                  (reference: FhirRawToNormalizedMappings.scala:14-17 keep-newest
                  dedup; LoadResolver Upsert/Scd1 semantics).
- ``streaming`` : Structured Streaming wrapper (readStream → foreachBatch apply).
- ``queries``   : the registered operator surface from SURVEY.md §2 (joins, aggs,
                  window dedup, interval joins) plus training-data ops
                  (dedup families, similarity search, text analysis, multimodal).
- ``sources``   : DatasetConf-driven readers (parquet/csv/json-with-pinned-schema,
                  multi-path union) (reference: fhir/FhirToNormalizedETL.scala:22-33).
- ``transforms``: ordered named-transformation pipelines — the reference's logical
                  IR (reference: utils/transformation/DatasetTransformationMapping.scala:5-17).
"""

__version__ = "0.1.0"
