"""french_admin_etl_spark — a PySpark-native CDC / incremental-ingest engine.

A brand-new engine with the query & data-processing capabilities of the
reference (xvThomas/french-admin-etl, Go ETL: CSV/GeoJSON stream -> filter ->
validate -> pivot -> idempotent keyed upsert into Postgres), re-expressed
Spark-first and generalized to an ordered change-event log applied as
exactly-once MERGE upserts into snapshot-isolated lake tables:

- ``table``      snapshot-based lake table (bucketed parquet + JSON metadata
                 log, atomic commit, MERGE INTO, schema evolution, fencing)
- ``operators``  dedup (max-LSN), allow-list filters, validate-and-split,
                 long->wide pivot, hot-key salting; training-data ops
                 (``textdedup``: exact/minhash/simhash dedup,
                 ``similarity``: similarity search) and media blobs
                 (``multimodal``: media blob metadata without decode)
- ``functions``  vectorized hashing (sha256 pandas UDF), normalization
                 casts, text quality and language-id
- ``sources``    CSV / nested-JSON / change-event-log readers
- ``streaming``  micro-batch apply loop, checkpointing, lineage & metrics
- ``plans``      versioned schema registry (the reference's migration analog)
"""

__version__ = "0.1.0"
