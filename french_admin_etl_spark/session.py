"""SparkSession factory with scale-aware defaults.

The reference sizes its worker pool / connection pool explicitly
(``internal/infrastructure/repository/database_manager.go:77-81``,
``internal/infrastructure/config/load_config.go:14-15``); here the analogous
knobs are shuffle partitions, AQE, and Arrow. Everything is declared so that
Catalyst owns physical planning (pushdown, pruning, join selection, AQE
coalesce/skew handling).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def get_spark(
    app_name: str = "french_admin_etl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. Shuffle partitions
    default to the core count (never the 200 default — wrong at both ends).
    On a real cluster the same conf applies minus ``master``/driver memory;
    AQE re-plans partition counts at runtime either way.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env and env != "*" else 0
    elif cores == "*":
        # accept the literal '*' (callers mirror $SPARK_GRAFT_CPUS / the
        # master string); an un-normalized '*' would otherwise flow into
        # spark.sql.shuffle.partitions, an invalid conf whose failure
        # surfaces as a baffling per-job error far from the cause
        cores = 0
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 8)

    # make this package importable on executor python workers (local mode
    # inherits env, cluster mode uses spark-submit --py-files instead)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: T.StructType | str
) -> DataFrame:
    """Frame over driver-local ``rows`` (tuples in ``schema`` order).

    The rows travel as one Arrow table, so the frame is a ``LocalRelation``:
    Catalyst folds projections over it on the driver, and ``collect()`` of
    a projection starts no Spark job and no Python worker. A list passed
    straight to ``createDataFrame`` instead becomes a pickled Python RDD
    whose every action is a job through Python workers. The only
    ``createDataFrame`` call in the package lives here.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
