"""Mergeable sketch operators: KMV distinct-count and count-min frequency.

At 10^10-event scale, exact per-group COUNT(DISTINCT) and exact per-value
frequency tables are often the single most expensive aggregations in a
pipeline (a full shuffle of every distinct value). The classical answer is
mergeable sketches — bounded-size summaries that combine associatively, so
Spark's partial (map-side) aggregation applies and the shuffle carries
sketch-sized state instead of data-sized state.

Both sketches here are built from DETERMINISTIC md5-derived 32-bit hashes,
so their outputs are exactly reproducible across engines — the DuckDB
oracle twins in ``__spark_entry__.py`` reproduce them bit-for-bit (the
driver hash-checks them like any exact query). That determinism is also
what makes them replay-safe inside the CDC engine: re-running a batch
yields the identical sketch.

- ``kmv_distinct`` — K-Minimum-Values distinct estimator (Bar-Yossef et
  al. 2002; the same bottom-k family Datasketches' theta sketch uses).
  Estimate = (k-1) * 2^32 / h_(k) where h_(k) is the k-th smallest of the
  distinct hash values. Error ~ 1/sqrt(k).
- ``cms_build`` / ``cms_query`` — count-min sketch (Cormode & Muthu 2005):
  a depth × width grid of counters; point frequency estimate = min over
  rows; never under-estimates, over-estimates by ≤ εN with probability
  1-δ for width = e/ε, depth = ln(1/δ).

Scale posture (the part that matters at 100 TB):

- the hash projection and the (group, hash) dedup are ONE combinable
  hash aggregate — map-side combine collapses duplicates before the
  shuffle, so shuffle volume is O(distinct), not O(rows);
- per-group bottom-k never sorts a whole group in one task: phase 1
  takes the k smallest within each of ``salt_buckets`` deterministic
  salt cells (any global bottom-k hash has < k smaller hashes overall,
  hence < k smaller in its own cell — so the cell-level bottom-k union
  is a superset of the global bottom-k), phase 2 reduces the ≤
  salt_buckets × k survivors per group — the same two-phase topology as
  ``operators/salting.py``;
- CMS cells are a plain groupBy-count over (row, cell): perfectly
  combinable, output size depth × width regardless of input size.

Reference parity: the reference engine has no sketches (it counts
exactly at Postgres scale, e.g. lineage counters in
``internal/infrastructure/repository/region_repository.go``); these
extend the same aggregation surface to sizes where exact is impractical
— part of the training-data operator suite, not a port.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from french_admin_etl_spark.session import local_frame

_HASH_SPACE = 4294967296.0  # 2^32


def hash32(col: Column) -> Column:
    """Deterministic uint32 hash as BIGINT: first 8 hex chars of md5.

    Engine-portable by construction — DuckDB twin:
    ``CAST(('0x' || substr(md5(v), 1, 8)) AS BIGINT)``. The input must
    already be a string (or an integer cast to string by the CALLER with
    known formatting); silently casting doubles here would diverge from
    other engines' float rendering."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: int = 64,
    salt_buckets: int = 16,
) -> DataFrame:
    """Per-group KMV distinct-count estimate.

    Output: ``group_cols`` + ``kmv_kth`` (the k-th smallest distinct hash,
    NULL when the group has fewer than k distinct hashes) + ``distinct_est``
    (the KMV estimate; exact distinct-hash count for small groups).

    The estimate is over distinct HASH values — at 2^32 hash space,
    collisions bias the estimate only once distinct counts approach
    ~2^16 per group (birthday bound), which is far beyond k's own
    ~1/sqrt(k) noise floor for any practical k.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    gcols = [F.col(c) for c in group_cols]
    # NULL values are excluded (COUNT(DISTINCT) semantics): md5(NULL)
    # hashes to NULL, which sorts NULLS FIRST under both row_number
    # windows — it would occupy a bottom-k slot and shift kmv_kth to the
    # (k-1)-th real hash, a systematic ~k/(k-1) overestimate (review
    # finding)
    hashed = (
        df.select(*gcols, hash32(F.col(value_col)).alias("_h"))
        .filter(F.col("_h").isNotNull())
        .distinct()
    )
    counts = hashed.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("_n"))
    # phase 1: bounded bottom-k inside each deterministic salt cell
    cell_w = Window.partitionBy(*group_cols, "_s").orderBy("_h")
    cand = (
        hashed.withColumn("_s", F.pmod(F.col("_h"), F.lit(salt_buckets)))
        .withColumn("_rn", F.row_number().over(cell_w))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_s")
    )
    # phase 2: global k-th smallest over the <= salt_buckets*k survivors
    grp_w = Window.partitionBy(*group_cols).orderBy("_h")
    kth = (
        cand.withColumn("_rn", F.row_number().over(grp_w))
        .filter(F.col("_rn") == k)
        .select(*group_cols, F.col("_h").alias("kmv_kth"))
    )
    est = (
        F.when(F.col("kmv_kth").isNull(), F.col("_n"))
        .otherwise(F.floor(F.lit((k - 1) * _HASH_SPACE) / F.col("kmv_kth")))
        .cast("long")
    )
    return counts.join(kth, group_cols, "left").select(
        *group_cols, F.col("kmv_kth"), est.alias("distinct_est")
    )


def _cms_cell(row_col: Column, value_col: Column, width: int) -> Column:
    """Row-salted cell index: hash32 of '<row>|<value>' mod width."""
    return F.pmod(
        hash32(F.concat_ws("|", row_col.cast("string"), value_col)), F.lit(width)
    )


def cms_build(
    df: DataFrame, value_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Build a count-min sketch over ``value_col`` (string column).

    Output: (row_id, cell, cnt) — the non-zero cells of the depth × width
    counter grid. One explode (constant ×depth fan-out) + one combinable
    groupBy-count; shuffle state is bounded by depth × width."""
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got {depth}x{width}")
    rows = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row_id")
    return (
        df.select(F.col(value_col).alias("_v"))
        .select(rows, "_v")
        .select("row_id", _cms_cell(F.col("row_id"), F.col("_v"), width).alias("cell"))
        .groupBy("row_id", "cell")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_query(
    spark: SparkSession,
    cms: DataFrame,
    values: list[str],
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates for ``values`` against a built sketch.

    est(v) = min over rows of the addressed cell's count (0 for an empty
    cell). Never under-estimates the true frequency. The sketch is at
    most depth × width rows — broadcast to the probe side (only the
    non-preserved side of a left join can be broadcast)."""
    probe = local_frame(spark, [(v,) for v in values], "value string")
    rows = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row_id")
    addressed = probe.select("value", rows).select(
        "value", "row_id", _cms_cell(F.col("row_id"), F.col("value"), width).alias("cell")
    )
    return (
        addressed.join(F.broadcast(cms), ["row_id", "cell"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("freq_est"))
    )
