"""S1-S3: CSV source with explicit schema, delimiter, malformed-row handling.

Reference: ``internal/extractors/csv_extractor.go`` — streaming reader with
configurable delimiter (';' for INSEE, ``cmd/main.go:113``), header→row
binding (:86-90), and drop-with-warning on arity mismatch (:77-84). Spark
maps the whole goroutine topology to one declarative scan; malformed rows
either drop (DROPMALFORMED) or are quarantined via PERMISSIVE +
``_corrupt_record`` (the lineage-preserving dead-letter variant the
reference only logs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv_stream_shaped(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    delimiter: str = ";",
    header: bool = True,
    dead_letter: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Explicit-schema CSV scan (never inferSchema in the engine proper —
    SURVEY §1.4). dead_letter=True returns (good, corrupt) built from ONE
    permissive scan instead of dropping malformed rows silently.

    SESSION-LEVEL REQUIREMENT (documented side effect): this disables
    ``spark.sql.csv.parser.columnPruning.enabled`` for the session. CSV
    column pruning makes zero-column plans (e.g. ``count()``) skip parsing
    entirely, silently keeping malformed rows — the reference's arity check
    (csv_extractor.go:77-84) must hold regardless of the consuming query,
    and the conf is read at EXECUTION time, so a set/restore scoped to this
    call would not stick. The trade: other CSV scans in the same session
    parse all columns even under projection. Parquet/JSON scans (the
    engine's hot paths) are unaffected.

    NOT FAULT-TOLERANT TO EXECUTOR LOSS (dead_letter=True): the one shared
    parse is a ``localCheckpoint``, whose blocks live only on the executors
    that computed them and are not replicated. If such an executor is lost,
    every later action on ``good`` or ``bad`` fails instead of recomputing
    from the CSV; call this function again to rebuild the split."""
    if spark.conf.get("spark.sql.csv.parser.columnPruning.enabled", "true") != "false":
        spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")
    if not dead_letter:
        return (
            spark.read.option("delimiter", delimiter)
            .option("header", header)
            .option("mode", "DROPMALFORMED")
            .option("ignoreLeadingWhiteSpace", "true")
            .schema(schema)
            .csv(path)
        )
    with_corrupt = T.StructType(list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())])
    df = (
        spark.read.option("delimiter", delimiter)
        .option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("ignoreLeadingWhiteSpace", "true")
        .schema(with_corrupt)
        .csv(path)
        # one parse for both consumers, WITHOUT pinning executor storage
        # for the session: a .cache() here had no unpersist path (only the
        # two filtered children are returned), so every dead-letter call
        # leaked one cached copy of the parsed file until session end
        # (review finding). localCheckpoint blocks are ContextCleaner-
        # tracked — reclaimed when the frames are garbage-collected (the
        # same fix as the LSH banded cache, round-5 session 7). The blocks
        # are not replicated: see the executor-loss note in the docstring.
        .localCheckpoint(eager=False)
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad
