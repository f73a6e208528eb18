"""Ordered change-event log source (the engine's generalized input).

The reference tails a large ordered record file through a bounded channel
(``csv_extractor.go:106-126``); the engine tails an ordered change-event
log stored as parquet (stand-in for a binlog/WAL topic — at cluster scale
the same code reads an Iceberg/ Kafka source; only this module changes).

Two access patterns:
- **LSN windows** (``lsn_range``): the incremental drivers pin each
  window's upper bound (``pending_hi``) in their checkpoint before
  applying it, so a replay reads the identical slice; the scan is pruned
  by the ``lsn`` range predicate (parquet min/max row-group stats).
- **Structured Streaming** (``read_stream``): file-source stream over the
  log directory for the foreachBatch pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("op", T.StringType(), False),
        T.StructField("repo", T.StringType(), True),
        T.StructField("path", T.StringType(), True),
        T.StructField("commit", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("schema_version", T.IntegerType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


class LsnLog:
    """Parquet-backed ordered-log access, parameterized by schema — ONE
    implementation of the read / max_lsn / lsn_range / read_stream
    quartet (review finding: ``EventLog`` and ``MultiTableLog``
    hand-rolled identical copies, double maintenance for the log-access
    layer). Subclasses set ``SCHEMA``."""

    SCHEMA: T.StructType = EVENT_SCHEMA

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        return self.spark.read.schema(self.SCHEMA).parquet(self.path)

    def max_lsn(self) -> int:
        row = self.read().agg(F.max("lsn").alias("m")).collect()[0]
        return int(row["m"] or 0)

    def lsn_range(self, lo: int, hi: int) -> DataFrame:
        """Events with lo <= lsn < hi (pushed to the scan as min/max pruning)."""
        return self.read().filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))

    def read_stream(self, max_files_per_trigger: int = 4) -> DataFrame:
        """Structured Streaming tail of the log directory. The file source
        admits files oldest-first, so a producer that lands its segments
        in LSN order (the universal binlog/WAL contract — a segment is
        sealed before the next is written) yields micro-batches whose LSN
        ranges are monotone."""
        return (
            self.spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(self.path)
        )


class EventLog(LsnLog):
    SCHEMA = EVENT_SCHEMA

    def event_balanced_bounds(self, batch_events: int, start_lsn: int = 0) -> list[int]:
        """LSN window boundaries that split the log (from ``start_lsn``)
        into batches of ~``batch_events`` events EACH, regardless of how
        unevenly events are distributed over the LSN space (a binlog after
        a bulk import is dense early and sparse late — fixed-width LSN
        windows there produce one giant batch and many empty ones).

        ``approx_percentile`` of ``lsn`` with tight accuracy (one
        bounded-memory combinable aggregation — an exact percentile would
        buffer every near-unique LSN of a 10^9+-event binlog in a single
        aggregation buffer). Replay stability does NOT rest on this
        computation: the apply driver persists the planned bounds in its
        checkpoint and replays them verbatim, so exactness is unnecessary
        and per-run sketch variation is harmless. ``start_lsn`` plans over
        only the suffix ``lsn >= start_lsn`` (used to EXTEND a previously
        planned window list after the log has grown — the committed prefix
        is never re-planned). Returns ascending bounds
        [start_lsn, …, max_lsn+1]."""
        df = self.read()
        if start_lsn:
            df = df.filter(F.col("lsn") >= start_lsn)
        row = df.agg(F.count(F.lit(1)).alias("n"), F.max("lsn").alias("m")).collect()[0]
        n = int(row["n"] or 0)
        mx = int(row["m"]) if row["m"] is not None else start_lsn
        k = max(1, -(-n // batch_events))  # ceil
        if k == 1:
            return [start_lsn, max(mx + 1, start_lsn + 1)]
        qs = ", ".join(str(i / k) for i in range(1, k))
        cuts = df.select(
            F.expr(f"approx_percentile(lsn, array({qs}), 10000)").alias("c")
        ).collect()[0]["c"]
        bounds = [start_lsn]
        for c in cuts:
            b = int(c) + 1
            if b > bounds[-1]:
                bounds.append(b)
        if mx + 1 > bounds[-1]:
            bounds.append(mx + 1)
        return bounds
