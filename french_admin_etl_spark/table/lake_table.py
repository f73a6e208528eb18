"""LakeTable — a snapshot-isolated, hash-bucketed lake table in pure PySpark.

The engine needs Iceberg-style semantics (atomic MERGE commits, snapshot
properties for exactly-once fencing, schema evolution, time travel) but the
sandbox ships no Iceberg/Delta jars, so this module implements a minimal
table format with exactly those properties:

  root/
    _meta/v00000001.json ...   # one JSON per snapshot; the COMMIT POINT is
                               # the exclusive create (open 'x') of this file
    data/*.parquet             # immutable data files, grouped by hash bucket

Design for 100 TB:

- **Hash-bucketed, merge-on-read.** Every row belongs to bucket
  ``pmod(xxhash64(key...), num_buckets)``. A MERGE appends the deduped
  batch as delta file groups — O(batch) write, no target read, no join —
  and reads resolve max-LSN per key across base+delta, touching only the
  buckets a query needs (bucket pruning mirrors Iceberg partition/file
  pruning); ``compact()`` (auto past ``compact.max-delta-files``) folds
  deltas back. This is the trade Hudi/Paimon/Iceberg-MOR make: at 10^10
  events, rewriting every touched bucket per micro-batch would be
  O(table × batches). At cluster scale num_buckets is sized so one
  bucket ≈ one task's worth of data.
- **Atomic commit / optimistic concurrency.** A snapshot JSON names the
  complete set of live files. Writers stage data files first, then attempt
  an exclusive create of the next version file; a loser raises
  ``CommitConflict`` (its staged files are orphans, removable by vacuum) —
  the same swap-the-pointer protocol Iceberg uses. This replaces the
  reference's per-batch transaction (``region_repository.go:26-30,87-89``)
  and its deterministic-lock-order sort (``commune_population_repository.
  go:179-191``): snapshot isolation needs no lock ordering.
- **Exactly-once fencing.** ``merge(..., batch_id=n)`` writes
  ``last_batch_id`` into the snapshot properties *atomically with the
  commit*; a replayed batch (id ≤ last committed) is a no-op. This is the
  engine's generalization of the reference's idempotent
  ``ON CONFLICT DO UPDATE`` redelivery tolerance
  (``region_repository.go:38-42``).
- **LSN-guarded upsert + tombstones.** Each physical row carries
  ``_lsn`` (last applied sequence) and ``_deleted``. Reads resolve each
  key to its row with the greatest ``(_lsn, commit seq)`` (equal LSN:
  later commit wins), so stale out-of-order events arriving in *later*
  batches are ignored; deletes leave tombstones so a stale pre-delete
  update cannot resurrect a key. ``vacuum_tombstones`` reclaims
  tombstones once the source watermark has passed them.
- **Schema evolution.** Snapshots record a logical schema version plus the
  op log (add_column / widen / rename_column). Data files are never
  rewritten on evolution; each file group remembers the schema version it
  was written under and is upgraded on read (cast / rename / null-fill),
  then ``unionByName`` stitches versions — the reference's
  golang-migrate versioned-DDL analog (``run_migrations.go:20-80``).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.observation import Observation

from french_admin_etl_spark.session import local_frame

INTERNAL_COLS = ["_lsn", "_deleted"]
_WIDEN_OK = {("int", "bigint"), ("smallint", "int"), ("smallint", "bigint"), ("float", "double")}


class CommitConflict(RuntimeError):
    """Another writer committed this version first; re-read and retry."""


@dataclass
class SchemaOp:
    """One evolution step. action ∈ {add_column, widen, rename_column}."""

    action: str
    name: str | None = None
    type: str | None = None
    from_name: str | None = None
    to_name: str | None = None

    def to_dict(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if v is not None}

    @staticmethod
    def from_dict(d: dict) -> "SchemaOp":
        return SchemaOp(**d)


@dataclass
class MergeStats:
    """Outcome of one MERGE. ``rows_upserted``/``rows_deleted`` count the
    batch's source ops (its upserts and deletes), not their net effect
    on the table: a merge-on-read append never reads the target, so
    whether a delete hit a live row is only known at read time."""

    batch_id: int | None
    snapshot_version: int
    rows_upserted: int
    rows_deleted: int
    buckets_touched: int
    fenced: bool = False
    lineage: list[dict] = field(default_factory=list)


@dataclass
class StagedMerge:
    """A merge between its two phases (:meth:`LakeTable.stage_merge`,
    :meth:`LakeTable.commit_merge`): delta file groups already written
    under ``data/`` but in no snapshot, so no reader sees them until the
    commit (or ``vacuum_orphans`` reclaims them). After the commit,
    ``groups`` are the ones committed: a rebucket racing the commit
    restages them under its layout."""

    groups: list[dict]
    delta: DataFrame  # the shaped delta plan, restaged on a layout change
    base: dict  # the snapshot the groups were staged against
    coalesce: bool
    upserts: int
    deletes: int

    @property
    def buckets(self) -> list[int]:
        return sorted({g["bucket"] for g in self.groups})

    def snapshot(self) -> dict:
        """``base`` plus the staged groups: the state the commit would
        publish if no other commit lands first."""
        snap = dict(self.base)
        snap["file_groups"] = self.base["file_groups"] + [
            dict(g, seq=self.base["version"] + 1) for g in self.groups
        ]
        return snap


def fence_key(writer_id: str | None) -> str:
    """The snapshot property holding a writer's exactly-once fence (the
    highest batch id it committed); ``None`` is the shared fence."""
    return "last_batch_id" if writer_id is None else f"last_batch_id.{writer_id}"


def is_fenced(properties: dict, batch_id: int | None, writer_id: str | None) -> bool:
    """True when ``properties`` (a snapshot's, or a branch's own) carry
    this writer's fence at or past ``batch_id``: the batch already
    committed and replaying it must be a no-op."""
    if batch_id is None:
        return False
    fence = properties.get(fence_key(writer_id))
    return fence is not None and batch_id <= fence


def _bucket_expr(keys: list[str], num_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)).cast("int")


def _footer_stats(md, cols: list[str]) -> dict | None:
    """Per-file min/max for ``cols`` straight from the parquet footer we
    already open for row counts — zero extra jobs, zero extra I/O. Only
    JSON-safe scalar types (int/float/str) are kept; a column missing
    stats in ANY row group is dropped (absent stats must read as "may
    contain anything", never as a bound). This is the manifest-level
    data-skipping layer (Iceberg manifest ``lower_bounds``/``upper_bounds``
    analog): at 10^10 rows, ``lookup()`` prunes whole files driver-side
    before any scan task is scheduled."""
    want = set(cols)
    out: dict[str, list] = {}
    for ci in range(md.num_columns):
        name = md.row_group(0).column(ci).path_in_schema if md.num_row_groups else None
        if name not in want:
            continue
        mn = mx = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if (
            ok
            and not isinstance(mn, bool)
            and isinstance(mn, (int, float, str))
            and isinstance(mx, (int, float, str))
        ):
            out[name] = [mn, mx]
    return out or None


def _bloom_config(properties: dict) -> tuple[int, int]:
    """Parsed, validated (bloom.bits, bloom.hashes) — (0, k) when blooms
    are off. One parser serves create-time rejection and write-time use."""
    bbits = int(properties.get("bloom.bits", 0) or 0)
    bk = int(properties.get("bloom.hashes", 3) or 3)
    if bbits and (bbits % 8 or bbits < 64 or bk < 1):
        raise ValueError(
            f"bloom.bits must be a multiple of 8 and >= 64 (got {bbits}), "
            f"bloom.hashes >= 1 (got {bk})"
        )
    return bbits, bk


def _compact_threshold(properties: dict) -> int:
    """Parsed, validated ``compact.max-delta-files`` (default 8): the
    delta-group count per bucket that triggers auto-compaction. One
    parser serves create-time rejection and the pre-commit check, so a
    bad value never surfaces after a batch's commit has landed."""
    raw = properties.get("compact.max-delta-files", 8)
    n = None
    if isinstance(raw, (int, str)) and not isinstance(raw, bool):
        try:
            n = int(raw)
        except ValueError:
            pass
    if n is None or n < 1:
        raise ValueError(f"compact.max-delta-files must be an integer >= 1 (got {raw!r})")
    return n


def _bloom_positions_expr(keys: list[str], bits: int, hashes: int):
    """Array of ``hashes`` bit positions for a row's key tuple — the
    bloom-filter address set. Each hash is the table's own xxhash64 over
    (hash index, key columns): salting with the literal index derives
    independent hash functions from the one JVM-side primitive, and the
    SAME expression computes write-side bits and probe-side positions, so
    the two can never drift (the bucket-hash lesson applied to blooms)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(i), *[F.col(k) for k in keys]), F.lit(bits)).cast("int")
            for i in range(hashes)
        ]
    )


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._meta_dir = os.path.join(root, "_meta")
        self._data_dir = os.path.join(root, "data")
        # committed snapshots are immutable → cache the raw JSON per
        # version. This removes the dominant fixed per-batch driver cost
        # (the apply path reads the snapshot several times per merge);
        # current_version() still lists the directory, so concurrent
        # writers' commits are always seen. The cache stores the JSON
        # STRING, not the parsed dict: snapshot() parses per call so every
        # caller gets a private deep copy — a stray in-place mutation can
        # never poison later reads (parsing ~KB of JSON is noise next to
        # the file I/O the cache avoids).
        self._snap_cache: dict[int, str] = {}

    # ------------------------------------------------------------------ meta

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 16,
        properties: dict | None = None,
        write_mode: str = "mor",
    ) -> "LakeTable":
        """CREATE TABLE: logical schema only (internal cols added physically).

        ``write_mode`` accepts only 'mor' (merge-on-read, the one write
        path); new snapshots keep recording it so every table's snapshot
        JSON has the same shape."""
        if write_mode != "mor":
            raise ValueError(f"write_mode must be 'mor' (got {write_mode!r})")
        if isinstance(num_buckets, bool) or not isinstance(num_buckets, int) or num_buckets < 1:
            raise ValueError(f"num_buckets must be an int >= 1 (got {num_buckets!r})")
        if not key_cols or len(set(key_cols)) != len(key_cols):
            raise ValueError(f"key_cols must be non-empty with no duplicates (got {key_cols!r})")
        missing = [k for k in key_cols if k not in schema.fieldNames()]
        if missing:
            raise ValueError(f"key_cols {missing} are not top-level fields of the schema")
        _bloom_config(properties or {})  # reject a bad bloom config up front
        _compact_threshold(properties or {})
        t = cls(spark, root)
        os.makedirs(t._meta_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        snap = {
            "version": 1,
            "schema_version": 1,
            "schemas": {"1": json.loads(schema.json())},
            "schema_ops": [],
            "key_cols": key_cols,
            "num_buckets": num_buckets,
            "write_mode": write_mode,
            "file_groups": [],
            "properties": dict(properties or {}),
            "parent": None,
        }
        t._commit(snap)
        return t

    @classmethod
    def exists(cls, root: str) -> bool:
        # require a COMMITTED snapshot (v*.json): a crash between the
        # commit tmp write and its unlink leaves 'v...json.<hex>.tmp',
        # which a bare startswith('v') counted as an existing table —
        # exists() True while current_version() raises, wedging every
        # create-if-not-exists caller (review finding)
        meta = os.path.join(root, "_meta")
        return os.path.isdir(meta) and any(
            f.startswith("v") and f.endswith(".json") for f in os.listdir(meta)
        )

    def _version_path(self, v: int) -> str:
        return os.path.join(self._meta_dir, f"v{v:08d}.json")

    def _versions(self) -> list[int]:
        return sorted(
            int(f[1:9])
            for f in os.listdir(self._meta_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def current_version(self) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no snapshots under {self._meta_dir}")
        return vs[-1]

    def snapshot(self, version: int | None = None) -> dict:
        """Parsed snapshot. The raw JSON is cached (committed snapshots are
        immutable) but each call returns a FRESH parse — a private deep
        copy the caller may mutate freely without corrupting other
        readers."""
        v = version if version is not None else self.current_version()
        if v not in self._snap_cache:
            with open(self._version_path(v)) as fh:
                self._cache_snap(v, fh.read())
        return json.loads(self._snap_cache[v])

    def _cache_snap(self, v: int, payload: str) -> None:
        if len(self._snap_cache) >= 1024:  # bound driver memory on long runs
            self._snap_cache.pop(min(self._snap_cache))
        self._snap_cache[v] = payload

    def _commit(self, snap: dict) -> None:
        """The commit point: exclusive create of the next version file."""
        path = self._version_path(snap["version"])
        payload = json.dumps(snap)
        tmp = path + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            fh.write(payload)
            # fsync before publishing: os.link makes the tmp's INODE the
            # committed snapshot, and with delayed allocation a power
            # loss can journal the link ahead of the data blocks — a
            # torn v*.json bricks every subsequent read of the chain
            # (same durability rule as CheckpointStore.save)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            # os.link is atomic and fails if the target exists (POSIX) —
            # the optimistic-concurrency check and the commit in one syscall.
            os.link(tmp, path)
        except FileExistsError as e:
            raise CommitConflict(f"snapshot v{snap['version']} already committed") from e
        finally:
            os.unlink(tmp)
        # cache the serialized form (callers may go on mutating their dicts)
        self._cache_snap(snap["version"], payload)

    def update_properties(self, mutate, retries: int = 10) -> bool:
        """Metadata-only commit under optimistic concurrency — THE one
        implementation of the re-read → mutate → commit → retry loop
        (review finding: four hand-rolled copies across the view markers,
        fence pruning and clone registration had already diverged in
        retry counts and give-up behavior).

        ``mutate(props)`` receives a private copy of the current
        properties and returns the NEW dict, or ``None`` to signal
        "already satisfied — no commit needed" (the idempotence check
        re-runs against the freshest snapshot on every retry, so a racing
        writer that already landed the change turns the loop into a
        no-op). Returns True when a commit landed, False when ``mutate``
        declined. Re-raises the final ``CommitConflict`` after
        ``retries`` lost races."""
        for attempt in range(retries):
            snap = self.snapshot()
            props = mutate(dict(snap["properties"]))
            if props is None:
                return False
            new = dict(snap)
            new.update(
                version=snap["version"] + 1, properties=props, parent=snap["version"]
            )
            try:
                self._commit(new)
                return True
            except CommitConflict:
                if attempt == retries - 1:
                    raise
        return False

    def history(self) -> list[dict]:
        """All RETAINED snapshots, oldest first (expiration leaves gaps)."""
        return [self.snapshot(v) for v in self._versions()]

    def property(self, key: str, default=None):
        return self.snapshot().get("properties", {}).get(key, default)

    def branch(self, name: str):
        """A write-audit-publish branch handle (see ``table.branch.Branch``):
        stage merges invisibly, audit the would-be state, publish
        atomically or drop without a trace."""
        from french_admin_etl_spark.table.branch import Branch

        return Branch(self, name)

    # ------------------------------------------------------------------ read

    def _schema_at(self, snap: dict, version: int) -> T.StructType:
        logical = T.StructType.fromJson(snap["schemas"][str(version)])
        phys = T.StructType(
            logical.fields
            + [T.StructField("_lsn", T.LongType()), T.StructField("_deleted", T.BooleanType())]
        )
        return phys

    def _upgrade(self, df: DataFrame, snap: dict, from_v: int, to_v: int) -> DataFrame:
        """Apply recorded schema ops (from_v, to_v] to a frame read at from_v."""
        for entry in snap["schema_ops"]:
            v, op = entry["version"], SchemaOp.from_dict(entry["op"])
            if v <= from_v or v > to_v:
                continue
            if op.action == "add_column":
                df = df.withColumn(op.name, F.lit(None).cast(op.type))
            elif op.action == "widen":
                df = df.withColumn(op.name, F.col(op.name).cast(op.type))
            elif op.action == "rename_column":
                df = df.withColumnRenamed(op.from_name, op.to_name)
            else:
                raise ValueError(f"unknown schema op {op.action}")
        return df

    def read_raw(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        resolve: bool = True,
        file_pruner=None,
        group_pruner=None,
        snapshot_dict: dict | None = None,
        key_filter: DataFrame | None = None,
    ) -> DataFrame:
        """All physical rows (incl. tombstones + internal cols), optionally
        pruned to a bucket subset (the MERGE fast path).

        On a 'mor' table with outstanding deltas, rows are RESOLVED by
        default: per key, the max-``(_lsn, commit seq)`` row across
        base+delta wins — commit order breaks equal-LSN ties (later commit
        wins), so reads are DETERMINISTIC even when a bootstrap base row
        (``_lsn=0``) and a delta, or a replayed delta, carry the same LSN.
        (Bucket pruning is safe before resolution — a key's rows all share
        one bucket.) ``resolve=False`` exposes the raw multiplicity (used
        by compaction metrics/debugging).

        ``file_pruner(stats_or_None) -> bool`` drops individual files by
        their manifest min/max stats BEFORE the scan is planned (the
        Iceberg manifest-bounds skip). Callers must only prune files that
        cannot contain any row of the keys they're after — then MOR
        resolution over the surviving files is unchanged, because every
        physical row of a requested key is still present. Files with no
        recorded stats always survive.

        ``group_pruner(group_dict) -> bool`` is the same contract one
        level up: drop a whole file GROUP (e.g. by its key bloom filter)
        when it cannot contain any requested key. Groups without the
        pruner's evidence must survive.

        ``snapshot_dict`` substitutes a synthetic snapshot (a branch's
        parent + staged groups) for the stored chain — the WAP audit
        read path.

        ``key_filter`` — a frame containing (at least) the table's key
        columns; rows are LEFT-SEMI filtered to those keys BEFORE the MOR
        resolution aggregate, so the resolution shuffle moves only the
        requested keys' physical rows instead of the whole bucket
        (resolution is per-key, and every physical row of a kept key
        survives the semi join, so resolved values are unchanged — the
        same pre-resolution-pruning rationale as ``buckets``). Wrap the
        filter in ``F.broadcast`` when it is window-sized; callers doing
        a post-read join on keys should pass it here instead."""
        snap = snapshot_dict if snapshot_dict is not None else self.snapshot(version)
        cur_v = snap["schema_version"]
        groups = snap["file_groups"]
        if buckets is not None:
            bs = set(buckets)
            groups = [g for g in groups if g["bucket"] in bs]
        if group_pruner is not None:
            groups = [g for g in groups if group_pruner(g)]
        phys_cur = self._schema_at(snap, cur_v)
        # group files by (schema version, commit seq, intra-commit sub
        # order, coalesce flag) — sub is the equal-LSN tie-break for WAP
        # publishes and MUST stay in the grouping key; seq counts distinct
        # scans, but outstanding delta commits are bounded by the
        # compaction threshold so the union stays small
        by_key: dict[tuple[int, int, int, bool], list[str]] = {}
        for g in groups:
            # "sub" — intra-commit sub-order: a published WAP branch lands
            # all its staged commits under ONE snapshot (one seq), with
            # sub preserving their relative order for equal-LSN ties
            k = (g["schema_version"], g.get("seq", 0), g.get("sub", 0), bool(g.get("coalesce")))
            files = g["files"]
            if file_pruner is not None:
                st = g.get("stats") or [None] * len(files)
                files = [f for f, s in zip(files, st) if file_pruner(s)]
            if files:
                by_key.setdefault(k, []).extend(files)
        parts = []
        for (sv, seq, sub, coal), files in sorted(by_key.items()):
            df = self.spark.read.schema(self._schema_at(snap, sv)).parquet(
                *[os.path.join(self.root, f) for f in files]
            )
            parts.append(
                self._upgrade(df, snap, sv, cur_v)
                .withColumn("_cseq", F.lit(seq).cast("long"))
                .withColumn("_sub", F.lit(sub).cast("long"))
                .withColumn("_coal", F.lit(coal))
            )
        if not parts:
            return local_frame(self.spark, [], phys_cur)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        # column order normalized to current schema
        cols = [f.name for f in phys_cur.fields]
        out = out.select(*cols, "_cseq", "_sub", "_coal")
        if key_filter is not None:
            kcols = snap["key_cols"]
            kf = key_filter if key_filter.columns == kcols else key_filter.select(*kcols)
            out = out.join(kf, kcols, "left_semi")  # semi join: dups on the right are free
        if resolve and snap["properties"].get("resolution") == "additive":
            # additive tables (incremental aggregate views): every physical
            # row is an increment; resolution = a combinable aggregate per
            # key, not max-LSN. Default SUM; property ``additive.agg.<col>``
            # may pick ``min``/``max`` instead (the monotonic aggregates —
            # an insert-only stream maintains min/max by combining, which
            # is what lets AggregateView keep them incrementally on
            # append-only windows). One combinable aggregate either way —
            # map-side partials collapse deltas before the shuffle, the
            # same scale shape as W1 dedup. Sums widen (int→bigint) under
            # Spark's agg typing, so each is cast back to the column's
            # declared type (ANSI: a genuine overflow raises instead of
            # wrapping); min/max never widen but the cast is harmless.
            key_cols = snap["key_cols"]
            agg_fns = {"sum": F.sum, "min": F.min, "max": F.max}
            props = snap["properties"]

            def _agg_for(c):
                fn = props.get(f"additive.agg.{c}", "sum")
                if fn not in agg_fns:
                    raise ValueError(f"unknown additive.agg.{c} = {fn!r}")
                return agg_fns[fn]

            aggs = [
                _agg_for(c)(c).cast(phys_cur[c].dataType).alias(c)
                for c in cols
                if c not in key_cols and c not in INTERNAL_COLS
            ]
            out = (
                out.groupBy(*key_cols)
                .agg(
                    *aggs,
                    F.max("_lsn").alias("_lsn"),
                    F.max("_deleted").alias("_deleted"),
                )
                .select(*cols)
            )
        elif resolve and any(g.get("delta") for g in groups):
            ord_key = F.struct(F.col("_lsn"), F.col("_cseq"), F.col("_sub"))
            if any(g.get("coalesce") for g in groups):
                # S7 partial-column resolution: each column independently
                # takes the value of the greatest (_lsn, commit seq) row
                # that PARTICIPATES for it. Coalesce rows participate only
                # where non-null ("not updated" never clears); BARRIER
                # rows — full-row (non-coalesce) rows and tombstones —
                # always participate, so an overwrite's null still clobbers
                # and a delete discards pre-delete values (no resurrection
                # of columns through a tombstone). Still ONE combinable
                # groupBy: max_by ignores rows whose ordering key is null.
                key_cols = snap["key_cols"]
                data_cols = [
                    c for c in cols if c not in key_cols and c not in INTERNAL_COLS
                ]
                barrier = (~F.col("_coal")) | F.col("_deleted")
                aggs = [
                    F.max_by(
                        F.struct(F.col("_lsn"), F.col("_deleted")), ord_key
                    ).alias("_live")
                ]
                for c in data_cols:
                    aggs.append(
                        F.max_by(
                            F.col(c),
                            F.when(F.col(c).isNotNull() | barrier, ord_key),
                        ).alias(c)
                    )
                sel = []
                for c in cols:
                    if c == "_lsn":
                        sel.append(F.col("_live._lsn").alias("_lsn"))
                    elif c == "_deleted":
                        sel.append(F.col("_live._deleted").alias("_deleted"))
                    else:
                        sel.append(F.col(c))
                out = out.groupBy(*key_cols).agg(*aggs).select(*sel)
            else:
                payload = F.struct(*[F.col(c) for c in cols])
                out = (
                    out.groupBy(*snap["key_cols"])
                    .agg(F.max_by(payload, ord_key).alias("_r"))
                    .select(*[F.col(f"_r.{c}").alias(c) for c in cols])
                )
        else:
            out = out.drop("_cseq", "_sub", "_coal")
        return out

    def read(self, version: int | None = None) -> DataFrame:
        """Logical view: live rows, logical columns (SELECT * semantics)."""
        snap = self.snapshot(version)
        logical = [f["name"] for f in snap["schemas"][str(snap["schema_version"])]["fields"]]
        return self.read_raw(version=version).filter(~F.col("_deleted")).select(*logical)

    def lookup(self, key_values: list[tuple]) -> DataFrame:
        """Point lookup: live rows for the given key tuples, reading ONLY
        the buckets those keys hash to. The scan stack at 100 TB: bucket
        pruning drops (num_buckets - k)/num_buckets of the data before
        any I/O, the pushed key predicate prunes row groups via parquet
        min/max stats (tight after ``optimize_sort``), and only then do
        surviving rows hit the (possibly MOR-resolving) read path. The
        bucket set comes from the WRITER'S OWN hash expression (no
        reimplementation that could drift from xxhash64's exact semantics)
        evaluated over the k key tuples as a driver-local Arrow
        ``LocalRelation``: Catalyst folds the projection on the driver, so
        the probe starts no Spark job and no Python worker, and building
        the lookup frame runs no job at all. The key predicate pushes
        through the resolution aggregate because it filters grouping
        columns.

        Between bucket pruning and the pushed predicate sits manifest
        pruning: files whose recorded key min/max ranges exclude every
        requested key are dropped driver-side (sound for MOR resolution —
        a skipped file contains NO row of any requested key, so per-key
        max-(_lsn, seq) over the remaining files is unchanged; tombstones
        carry the key, so delete markers survive pruning too). Stats live
        under write-time physical names; after a key rename old files
        simply stop pruning (absent range = unconstrained), never skip
        wrongly.

        When the table keeps key blooms (property ``bloom.bits``), whole
        file GROUPS are additionally pruned by bloom membership — the
        point-lookup complement to min/max: hash-distributed keys make
        every delta group's min/max span the domain, but a bloom still
        answers "was this key ever written here". Same soundness rule
        (prune only what cannot match; absent/mismatched-config blooms
        keep the group), same driver-side cost (bitset tests over the
        manifest)."""
        snap = self.snapshot()
        keys, nb = snap["key_cols"], snap["num_buckets"]
        schema = T.StructType.fromJson(snap["schemas"][str(snap["schema_version"])])
        if not key_values:
            return local_frame(self.spark, [], schema)
        # key schema must use the TABLE'S OWN types: xxhash64 of bigint 5
        # and of string '5' bucket differently — a hardcoded string schema
        # silently scans the wrong bucket (review repro on bigint keys)
        key_schema = T.StructType([T.StructField(k, schema[k].dataType, True) for k in keys])
        one = local_frame(self.spark, key_values, key_schema)
        # buckets (and, when the table keeps blooms, the probe's bloom
        # positions) computed on the driver from the same hash expressions
        # the writer used — one projection over the local frame serves both
        bbits, bk = _bloom_config(snap["properties"])
        probe_cols = [_bucket_expr(keys, nb).alias("_b")]
        if bbits:
            probe_cols.append(_bloom_positions_expr(keys, bbits, bk).alias("_ps"))
        probe_rows = one.select(*probe_cols).collect()
        buckets = sorted({r["_b"] for r in probe_rows})
        group_pruner = None
        if bbits:
            pos_by_bucket: dict[int, list[list[int]]] = {}
            for r in probe_rows:
                pos_by_bucket.setdefault(r["_b"], []).append(list(r["_ps"]))

            def group_pruner(g) -> bool:
                bl = g.get("bloom")
                # no bloom, or one written under a DIFFERENT config
                # (property changed between commits): no evidence → keep
                if not bl or bl["bits"] != bbits or bl["k"] != bk:
                    return True
                ba = bytes.fromhex(bl["hex"])
                return any(
                    all((ba[p // 8] >> (p % 8)) & 1 for p in ps)
                    for ps in pos_by_bucket.get(g["bucket"], [])
                )
        pred = None
        for kv in key_values:
            clause = None
            for k, v in zip(keys, kv):
                c = F.col(k) == F.lit(v)
                clause = c if clause is None else (clause & c)
            pred = clause if pred is None else (pred | clause)

        def _covers(rng, v) -> bool:
            if rng is None or v is None:
                return True
            try:
                return rng[0] <= v <= rng[1]
            except TypeError:
                # type mismatch (e.g. stats from a differently-typed old
                # schema version) — must read as "may contain"
                return True

        def _may_contain(stats) -> bool:
            if not stats:
                return True
            return any(
                all(_covers(stats.get(k), v) for k, v in zip(keys, kv))
                for kv in key_values
            )

        return (
            self.read_raw(
                buckets=buckets, file_pruner=_may_contain, group_pruner=group_pruner
            )
            .filter(pred)
            .filter(~F.col("_deleted"))
            .select(*schema.fieldNames())
        )

    def scan_range(self, col: str, lo=None, hi=None, version: int | None = None) -> DataFrame:
        """Range scan over a (typically sort-clustered) column: live rows
        with ``lo <= col <= hi`` (either bound may be None).

        On a fully-compacted table — the state ``optimize_sort([col])``
        leaves — files whose recorded manifest [min, max] for ``col`` is
        disjoint from the requested range are pruned DRIVER-SIDE before
        planning, and parquet row-group stats prune within the survivors:
        the classic sorted-layout range-scan shape (Delta OPTIMIZE +
        data-skipping).

        With outstanding MOR deltas, file pruning on a NON-KEY column is
        UNSOUND — dropping the file holding a key's newest (out-of-range)
        version would let a stale in-range version win resolution and
        resurface a dead value — so the scan silently degrades to
        filter-after-resolution (always correct, no skipping). Run
        ``optimize_sort`` / ``compact`` to restore the fast path; the
        scheduler does in production. Tombstone files carry no stats for
        all-null columns and therefore always survive pruning."""
        snap = self.snapshot(version)
        logical = [
            f["name"] for f in snap["schemas"][str(snap["schema_version"])]["fields"]
        ]
        if col not in logical:
            raise ValueError(f"no column {col!r}")
        dirty = any(g.get("delta") for g in snap["file_groups"])

        def pruner(stats) -> bool:
            if not stats or col not in stats:
                return True
            mn, mx = stats[col]
            try:
                if lo is not None and mx < lo:
                    return False
                if hi is not None and mn > hi:
                    return False
            except TypeError:
                return True  # cross-type stats: no evidence, keep
            return True

        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
        return (
            self.read_raw(version=version, file_pruner=None if dirty else pruner)
            .filter(~F.col("_deleted"))
            .filter(pred)
            .select(*logical)
        )

    def scan_box(self, box: dict[str, tuple], version: int | None = None) -> DataFrame:
        """Multi-dimensional range scan: live rows satisfying
        ``lo <= col <= hi`` for EVERY ``col: (lo, hi)`` in ``box`` (either
        bound may be None). Two driver-side pruning layers run before any
        task is scheduled:

        1. per-dimension manifest min/max (``scan_range``'s rule applied
           conjunctively — a file disjoint from the box on ANY queried
           dimension is out);
        2. on a z-ordered layout, the CURVE test: each file records the
           Morton interval it covers (``zstats``), the box converts to
           rank space through the recorded equi-depth boundaries, and
           Tropf–Herzog BIGMIN decides whether the file's curve segment
           ever enters the box (:mod:`.zcurve`). This prunes files whose
           per-dimension bounding rectangle overlaps the box but whose
           actual curve segment never does — on a z-layout the interval
           is the exact geometry, the rectangle is only its hull.

        Both layers are conservative under quantization (rank boxes are
        supersets) and the in-flow predicate re-filters survivors, so
        results are exact. Same MOR-soundness rule as ``scan_range``:
        outstanding deltas disable file pruning entirely (dropping a
        key's newest out-of-box version would resurrect a stale in-box
        one). ``last_scan_box_pruning`` records {total, after_stats,
        after_curve} file counts for observability/tests."""
        from french_admin_etl_spark.table.zcurve import (
            interval_intersects_box,
            rank_of,
        )

        snap = self.snapshot(version)
        logical = [
            f["name"] for f in snap["schemas"][str(snap["schema_version"])]["fields"]
        ]
        for c in box:
            if c not in logical:
                raise ValueError(f"no column {c!r}")

        def as_py_num(v):
            # rank conversion only for plain numerics: a datetime's
            # .timestamp() is timezone-sensitive where the write path's
            # epoch cast is session-scoped — a mismatch could WRONGLY
            # prune, so date/timestamp box bounds leave their curve
            # dimension unconstrained (full rank range; the in-flow
            # predicate still filters exactly)
            if isinstance(v, bool) or not isinstance(v, (int, float)):
                return None
            return float(v)

        dirty = any(g.get("delta") for g in snap["file_groups"])
        total = sum(len(g["files"]) for g in snap["file_groups"])
        kept_stats = kept_curve = total
        snap_used = snap
        if not dirty:
            zc = snap.get("zcurve")
            curve_on = bool(zc) and set(box) <= set(zc["cols"])
            if curve_on:
                ncols, zbits = len(zc["cols"]), zc["bits"]
                rank_lo, rank_hi = [], []
                for j, c in enumerate(zc["cols"]):
                    bnds = zc["bounds"][j]
                    lo, hi = box.get(c, (None, None))
                    lo_n, hi_n = as_py_num(lo), as_py_num(hi)
                    # rank is monotonic, so [rank(lo), rank(hi)] is a
                    # superset image of [lo, hi] — sound to prune outside
                    rank_lo.append(0 if lo_n is None else rank_of(lo_n, bnds))
                    rank_hi.append(len(bnds) if hi_n is None else rank_of(hi_n, bnds))
            kept_stats = kept_curve = 0
            pruned_groups = []
            for g in snap["file_groups"]:
                files = g["files"]
                stats = g.get("stats") or [None] * len(files)
                zst = g.get("zstats") or [None] * len(files)
                kf, ks, kz = [], [], []
                for f, s, zr in zip(files, stats, zst):
                    keep = True
                    for c, (lo, hi) in box.items():
                        if not s or c not in s:
                            continue
                        mn, mx = s[c]
                        try:
                            if (lo is not None and mx < lo) or (
                                hi is not None and mn > hi
                            ):
                                keep = False
                                break
                        except TypeError:
                            continue  # cross-type stats: no evidence
                    if not keep:
                        continue
                    kept_stats += 1
                    if curve_on and zr is not None:
                        if not interval_intersects_box(
                            zr[0], zr[1], rank_lo, rank_hi, ncols, zbits
                        ):
                            continue
                    kept_curve += 1
                    kf.append(f)
                    ks.append(s)
                    kz.append(zr)
                if kf:
                    pruned_groups.append(dict(g, files=kf, stats=ks, zstats=kz))
            snap_used = dict(snap, file_groups=pruned_groups)
        self.last_scan_box_pruning = {
            "files_total": total,
            "after_stats": kept_stats,
            "after_curve": kept_curve,
        }
        pred = F.lit(True)
        for c, (lo, hi) in box.items():
            if lo is not None:
                pred = pred & (F.col(c) >= F.lit(lo))
            if hi is not None:
                pred = pred & (F.col(c) <= F.lit(hi))
        return (
            self.read_raw(snapshot_dict=snap_used if not dirty else None, version=version)
            .filter(~F.col("_deleted"))
            .filter(pred)
            .select(*logical)
        )

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """CDF-style incremental read: the change rows committed AFTER
        ``from_version`` up to ``to_version`` (default: current) — what a
        downstream consumer tails to cascade this table into the next one
        (Delta CDF / Iceberg incremental-scan analog).

        Works on the MOR commit structure: every merge appends delta file
        groups stamped with ``seq`` = their commit version, so the changes
        are exactly the delta groups with ``from_version < seq <=
        to_version`` — an O(changed data) file-pruned scan, no diffing.
        Output = logical columns + ``_lsn``, ``_deleted`` (tombstones
        appear with ``_deleted=true`` — deletes ARE changes) and
        ``_commit_version``. Deduped per key to the latest change in the
        window (same max-(_lsn, seq) rule as read resolution).

        Raises on a legacy table whose snapshot an earlier build wrote
        with ``"write_mode": "cow"`` (its copy-on-write file groups carry
        no commit ``seq``, so a window over them would silently skip
        rows; merging into such a table still works, its groups read as
        plain base groups) and when the window's deltas have already
        been folded away by compaction (the compacted base, seq = compact
        commit, no longer separates the window's changes)."""
        snap = self.snapshot(to_version)
        to_v = to_version if to_version is not None else snap["version"]
        if snap.get("write_mode", "cow") != "mor":
            raise ValueError(
                "changes() cannot read a legacy copy-on-write table: its "
                "file groups record no commit seq"
            )
        if snap["properties"].get("resolution") == "additive":
            raise ValueError(
                "changes() on an additive table would replay increments as "
                "row states; consumers must read the resolved view"
            )
        if from_version >= to_v:
            raise ValueError(f"empty window: from {from_version} >= to {to_v}")
        cur_v = snap["schema_version"]
        in_window = [
            g for g in snap["file_groups"]
            if g.get("delta") and not g.get("restored")
            and from_version < g.get("seq", 0) <= to_v
        ]
        # detect a compacted-away window: a base group whose seq (the
        # compaction commit) falls inside the window means changes from
        # before it were folded into unattributable base rows. A
        # restore() commit is the same situation from the other side —
        # its groups (marked "restored", delta or not) restate a PRIOR
        # state, and reading them as change rows would mask the
        # rolled-back deletions — so it refuses identically.
        folded = [
            g for g in snap["file_groups"]
            if (not g.get("delta") or g.get("restored"))
            and from_version < g.get("seq", 0) <= to_v
        ]
        # a restore to an EMPTY snapshot leaves no groups to mark, so the
        # recorded restore versions back the group markers up
        restored_in_window = [
            v
            for v in json.loads(snap["properties"].get("restore.versions", "[]"))
            if from_version < v <= to_v
        ]
        if folded or restored_in_window:
            raise ValueError(
                f"changes in ({from_version}, {to_v}] were compacted away "
                "or restored over (run changes() before compaction catches "
                "up, or resync after a restore)"
            )
        if any(g.get("coalesce") for g in in_window):
            # a coalesce delta's nulls mean "not updated" — replaying them
            # as full rows downstream would clobber columns the source
            # never touched (reviewer finding); a faithful incremental
            # replay needs the consumer to know per-column provenance,
            # which the whole-row change format cannot carry. Refuse →
            # consumers (CascadeJob) fall back to a full resync of the
            # RESOLVED state, which is always correct.
            raise ValueError(
                f"changes in ({from_version}, {to_v}] include partial-column "
                "(coalesce) deltas, which cannot be replayed as whole rows; "
                "use a full resync of the resolved state"
            )
        logical = [f["name"] for f in snap["schemas"][str(cur_v)]["fields"]]
        if not in_window:
            phys = self._schema_at(snap, cur_v)
            empty = local_frame(self.spark, [], phys)
            return empty.withColumn("_commit_version", F.lit(None).cast("long")).select(
                *logical, "_lsn", "_deleted", "_commit_version"
            )
        parts = []
        for g in in_window:
            df = self.spark.read.schema(self._schema_at(snap, g["schema_version"])).parquet(
                *[os.path.join(self.root, f) for f in g["files"]]
            )
            parts.append(
                self._upgrade(df, snap, g["schema_version"], cur_v)
                .withColumn("_cseq", F.lit(g["seq"]).cast("long"))
                # _sub: intra-commit sub-order (published WAP branches) —
                # same equal-LSN tie-break the read path applies
                .withColumn("_sub", F.lit(g.get("sub", 0)).cast("long"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        cols = logical + ["_lsn", "_deleted", "_cseq", "_sub"]
        out = out.select(*cols)
        payload = F.struct(*[F.col(c) for c in cols])
        return (
            out.groupBy(*snap["key_cols"])
            .agg(
                F.max_by(
                    payload, F.struct(F.col("_lsn"), F.col("_cseq"), F.col("_sub"))
                ).alias("_r")
            )
            .select(
                *[F.col(f"_r.{c}").alias(c) for c in logical + ["_lsn", "_deleted"]],
                F.col("_r._cseq").alias("_commit_version"),
            )
        )

    # ----------------------------------------------------------------- write

    def _stage_write(
        self,
        df: DataFrame,
        schema_version: int,
        sort_cols: list[str] | None = None,
        stat_cols: list[str] | None = None,
    ) -> list[dict]:
        """Write df (must carry _bucket) as one file group per bucket; return
        file_group dicts with rows counted from parquet footers (no extra job).
        ``sort_cols`` sorts rows WITHIN each bucket partition before the
        write, so parquet row-group min/max stats on those columns become
        narrow, disjoint ranges — point/range scans then skip row groups
        (``optimize_sort``).

        Every staged file also records manifest-level min/max stats for
        the key columns (+ sort_cols) in the file group (``stats``,
        parallel to ``files``), read from the same footer as the row
        count — the Iceberg manifest bounds analog that lets ``lookup()``
        skip files before any task is scheduled.

        With table property ``bloom.bits`` set (> 0), each staged file
        GROUP additionally carries a key bloom filter (``bloom``: bits /
        hash count / hex bitset) — min/max ranges are near-useless for
        point lookups on hash-distributed keys (every delta group spans
        the whole key domain), but a bloom answers "is THIS key possibly
        here" per group, so ``lookup()`` skips the delta groups a key was
        never written to. Computed by ONE extra distributed aggregation
        over the just-written staging files (column-pruned to the keys,
        page-cache warm; bounded state — ≤ ``bloom.bits`` positions per
        bucket reach the driver), the same pay-at-write-time economics as
        Iceberg's file stats. Key column types are immutable (rename AND
        widen of key columns are refused in ``evolve``), so write-time
        positions stay valid for the life of the file."""
        snap = self.snapshot()
        # validate bloom config BEFORE any staging I/O (a bad property must
        # not leak a staging dir per write attempt); create() also rejects
        # it up front, but properties can arrive later via extra_properties
        bbits, bk = _bloom_config(snap["properties"])
        if stat_cols is None:
            stat_cols = list(
                dict.fromkeys(
                    snap["key_cols"]
                    + [c for c in (sort_cols or []) if not c.startswith("__")]
                )
            )
        staging = os.path.join(self.root, "_staging", uuid.uuid4().hex)
        shaped = df.repartition(F.col("_bucket"))
        if sort_cols:
            # "_bucket" MUST lead the sort: partitionBy writes require
            # ordering by the partition columns, and if the plan's sort
            # doesn't already satisfy that, V1Writes inserts its own sort
            # by _bucket ABOVE this one — at which point EliminateSorts
            # removes this one as "overwritten" and the files come out in
            # ARRIVAL order, silently voiding the layout contract (found
            # by the z-order test: stats were arrival-ordered, and
            # arrival order happened to equal the sort order in every
            # earlier layout test).
            shaped = shaped.sortWithinPartitions("_bucket", *sort_cols)
            # "__"-prefixed sort columns are ordering-only scaffolding
            # (e.g. the interleaved z-value): drop them after the sort so
            # they never reach the files. The projection cannot be pushed
            # below the sort (the sort reads them), so order is preserved.
            scaffold = [c for c in sort_cols if c.startswith("__")]
            if scaffold:
                shaped = shaped.drop(*scaffold)
        try:
            writer = shaped.write.mode("overwrite").partitionBy("_bucket")
            max_records = int(snap["properties"].get("write.max-records-per-file", 0) or 0)
            if max_records:
                # bounded file sizes (Delta/Iceberg maxRecordsPerFile
                # analog): at 100 TB a bucket must be many files, both for
                # scan parallelism and so sorted layouts yield NARROW
                # per-file stats ranges that scan_range can prune on
                writer = writer.option("maxRecordsPerFile", max_records)
            writer.parquet(staging)
            return self._collect_staged(staging, snap, schema_version, stat_cols, bbits, bk)
        finally:
            # always reclaim the staging dir — a failure mid-collection may
            # orphan already-renamed data files (age-thresholded
            # vacuum_orphans reclaims those), but never staging litter
            shutil.rmtree(staging, ignore_errors=True)

    def _collect_staged(
        self, staging: str, snap: dict, schema_version: int,
        stat_cols: list[str], bbits: int, bk: int,
    ) -> list[dict]:
        bucket_dirs = [
            e for e in sorted(os.listdir(staging)) if e.startswith("_bucket=")
        ]
        blooms: dict[int, str] = {}
        if bbits and bucket_dirs:  # empty writes stage only _SUCCESS
            pos_rows = (
                self.spark.read.parquet(staging)
                .select(
                    F.col("_bucket").cast("int").alias("_b"),
                    F.explode(
                        _bloom_positions_expr(snap["key_cols"], bbits, bk)
                    ).alias("_p"),
                )
                .groupBy("_b")
                .agg(F.collect_set("_p").alias("_ps"))
                .collect()
            )
            for r in pos_rows:
                ba = bytearray(bbits // 8)
                for p in r["_ps"]:
                    ba[p // 8] |= 1 << (p % 8)
                blooms[r["_b"]] = ba.hex()
        groups = []
        for entry in bucket_dirs:
            bucket = int(entry.split("=", 1)[1])
            files = []
            stats = []
            rows = 0
            for i, fname in enumerate(sorted(os.listdir(os.path.join(staging, entry)))):
                if not fname.endswith(".parquet"):
                    continue
                src = os.path.join(staging, entry, fname)
                rel = f"data/s{schema_version}-b{bucket}-{uuid.uuid4().hex[:12]}-{i}.parquet"
                md = pq.ParquetFile(src).metadata
                rows += md.num_rows
                stats.append(_footer_stats(md, stat_cols))
                os.rename(src, os.path.join(self.root, rel))
                files.append(rel)
            if files:
                g = {
                    "bucket": bucket,
                    "files": files,
                    "schema_version": schema_version,
                    "rows": rows,
                    "stats": stats,
                }
                if bucket in blooms:
                    g["bloom"] = {"bits": bbits, "k": bk, "hex": blooms[bucket]}
                groups.append(g)
        return groups

    def overwrite(self, df: DataFrame, extra_properties: dict | None = None) -> int:
        """Full-table load (bootstrap): logical columns in, snapshot out.
        ``extra_properties`` ride the same commit (e.g. an aggregate
        view's resync marker must land atomically with its state)."""
        snap = self.snapshot()
        keys, nb, sv = snap["key_cols"], snap["num_buckets"], snap["schema_version"]
        # align source types to the table schema (same ANSI cast rule as
        # merge): staging e.g. a DOUBLE aggregate into a bigint column
        # writes parquet the snapshot schema cannot read back
        df = self._align_source_types(df, snap)
        phys = (
            df.withColumn("_lsn", F.lit(0).cast("long"))
            .withColumn("_deleted", F.lit(False))
            .withColumn("_bucket", _bucket_expr(keys, nb))
        )
        groups = self._stage_write(phys, sv)
        for g in groups:  # stamp the writing commit (changes() provenance)
            g["seq"] = snap["version"] + 1
        new = dict(snap)
        props = dict(snap["properties"])
        for k, v in (extra_properties or {}).items():
            props[k] = v
        new.update(
            version=snap["version"] + 1,
            file_groups=groups,
            properties=props,
            parent=snap["version"],
        )
        self._commit(new)
        return new["version"]

    # ----------------------------------------------------------------- merge

    def merge(
        self,
        source: DataFrame,
        seq_col: str = "lsn",
        op_col: str = "op",
        batch_id: int | None = None,
        mode: str = "overwrite",
        extra_properties: dict | None = None,
        writer_id: str | None = None,
    ) -> MergeStats:
        """MERGE INTO this table USING source ON key-equality.

        Semantics (source must be pre-deduped to one row per key — see
        ``operators.dedup.dedup_max_seq``):

          WHEN MATCHED  AND s.seq >= t._lsn AND s.op = 'D'  THEN tombstone
          WHEN MATCHED  AND s.seq >= t._lsn AND s.op != 'D' THEN UPDATE
          WHEN NOT MATCHED AND s.op != 'D'                  THEN INSERT
          WHEN NOT MATCHED AND s.op = 'D'                   THEN tombstone
          otherwise (stale seq, s.seq < t._lsn)             THEN no-op

        Equal-LSN tie-break: the LATER COMMIT WINS (>=, not >) — read
        resolution's ``max_by(payload, (_lsn, commit seq))`` lets a later
        commit's row beat an equal-LSN base row, so a bootstrap row
        (``_lsn=0``) plus a delta at lsn=0 yields the delta. Redelivery of
        the same event is still idempotent (same row content → same
        result), and true replays are fenced by batch_id before the
        guard is ever consulted.

        Merge-on-read: the (pre-deduped) source is appended as delta file
        groups — NO read of the target, NO join; write cost is O(batch)
        regardless of table size. Deletes become tombstone rows, and the
        read path resolves the rules above per key. The returned counts
        are therefore source ops applied (see :class:`MergeStats`).

        mode='overwrite' → UPDATE SET * (reference S6, full-row upsert,
        ``region_repository.go:35-42``); mode='coalesce' → per-column
        ``SET c = coalesce(s.c, t.c)`` (reference S7 partial merge,
        ``commune_population_repository.go:201-264``): the delta file
        groups are FLAGGED, and the read path switches to per-column
        last-non-null resolution — for each column the winning value
        comes from the greatest ``(_lsn, commit seq)`` row that actually
        SET it (nulls in a coalesce delta mean "not updated", never
        "clear"), with non-coalesce rows and tombstones acting as
        barriers. Intra-batch partial updates must be pre-folded with
        ``operators.dedup.dedup_coalesce`` (one row per key, each column
        already last-non-null within the batch).

        Two-phase: :meth:`stage_merge` writes the delta file groups and
        :meth:`commit_merge` publishes them under the fence — split so a
        multi-table driver (``streaming.dag``) can stage several tables
        concurrently and still commit them in FK order.

        ``writer_id`` namespaces the exactly-once fence (see
        :func:`fence_key`): each writer (e.g. one per log partition in a
        multi-writer topology) gets its own fence property, so independent
        batch-id sequences never fence each other out. With
        ``writer_id=None`` the fence is shared (single-writer-sequence).
        """
        snap = self.snapshot()
        if is_fenced(snap["properties"], batch_id, writer_id):
            return MergeStats(batch_id, snap["version"], 0, 0, 0, fenced=True)
        staged = self._stage_merge(source, snap, seq_col, op_col, mode)
        if staged is None:
            return MergeStats(batch_id, snap["version"], 0, 0, 0)
        return self.commit_merge(staged, batch_id, writer_id, extra_properties)

    def stage_merge(
        self,
        source: DataFrame,
        seq_col: str = "lsn",
        op_col: str = "op",
        mode: str = "overwrite",
    ) -> StagedMerge | None:
        """Phase one of :meth:`merge`: shape the (pre-deduped) source into
        delta rows and write them as file groups, with no commit. Returns
        ``None`` for an empty source. Stage order between tables is free —
        staged files are invisible until :meth:`commit_merge`."""
        return self._stage_merge(source, self.snapshot(), seq_col, op_col, mode)

    def _stage_merge(
        self, source: DataFrame, snap: dict, seq_col: str, op_col: str, mode: str
    ) -> StagedMerge | None:
        # merge() stages against the snapshot its fence check already read
        if snap["properties"].get("resolution") == "additive":
            raise ValueError(
                "additive tables take increments, not row states — use merge_add()"
            )
        coalesce = mode == "coalesce"
        source = self._align_source_types(source, snap)
        delta, obs = self._build_mor_delta(source, snap, seq_col, op_col, coalesce)
        groups = self._stage_groups(delta, snap["schema_version"], coalesce)
        if not groups:
            # Empty slice (the COMMON case for the per-table windows of a
            # multi-table DAG): nothing staged, so the caller skips the
            # commit AND the fence advance — a replay re-applies the same
            # empty slice, preserving exactly-once without a metadata-only
            # snapshot per empty window. obs.get must not be read here:
            # Catalyst can fold an all-empty source (e.g. the coalesce
            # barrier union of two empties) to a LocalRelation, dropping
            # the CollectMetrics node the Observation waits on.
            return None
        got = obs.get
        return StagedMerge(
            groups, delta, snap, coalesce, int(got["upserts"] or 0), int(got["deletes"] or 0)
        )

    def _stage_groups(self, delta: DataFrame, sv: int, coalesce: bool) -> list[dict]:
        """Write a delta plan (carrying ``_bucket``) as delta file groups."""
        groups = self._stage_write(delta, sv)
        for g in groups:
            g["delta"] = True
            if coalesce:
                g["coalesce"] = True
        return groups

    def _align_source_types(self, source: DataFrame, snap: dict) -> DataFrame:
        """Align source column types to the snapshot's schema. A caller
        may legitimately carry wider types — e.g. a multi-table envelope
        window parsed with a widened schema whose widen event applies in
        a LATER epoch of the same window — and staging those as-is writes
        parquet the snapshot schema cannot read back (INT64 files in an
        int file group; found by the DAG mid-window widen test). Keys
        matter even more: ``_bucket_expr``'s xxhash64 is TYPE-sensitive,
        so an unaligned wider key would route rows to a bucket reads
        never look in. Cast is ANSI: a genuinely out-of-range value
        raises instead of corrupting. Shared by the main-chain merge and
        branch staging (review finding: the branch path skipped it)."""
        sv = snap["schema_version"]
        want = {f["name"]: f["type"] for f in snap["schemas"][str(sv)]["fields"]}
        have = {f.name: f.dataType for f in source.schema.fields}
        casts, realign = [], False
        for c in source.columns:
            target_t = _parse_type_json(want[c]) if c in want else None
            if target_t is not None and have[c] != target_t:
                casts.append(F.col(c).cast(target_t).alias(c))
                realign = True
            else:
                casts.append(F.col(c))
        return source.select(*casts) if realign else source

    def _build_mor_delta(
        self, source: DataFrame, snap: dict, seq_col: str, op_col: str, coalesce: bool
    ):
        """Shape a (pre-deduped) CDC source into MOR delta rows: payload
        columns nulled on deletes, ``_lsn``/``_deleted``/``_bucket``
        stamped, plus an Observation counting source ops. Shared by the
        main-chain MOR merge and branch (write-audit-publish) staging."""
        keys, nb, sv = snap["key_cols"], snap["num_buckets"], snap["schema_version"]
        logical = [f["name"] for f in snap["schemas"][str(sv)]["fields"]]
        data_cols = [c for c in logical if c not in keys]
        phys = self._schema_at(snap, sv)

        is_del = F.col(op_col) == F.lit("D")
        out_cols = [F.col(k) for k in keys]
        for c in data_cols:
            out_cols.append(
                F.when(is_del, F.lit(None).cast(phys[c].dataType)).otherwise(F.col(c)).alias(c)
            )
        out_cols.append(F.col(seq_col).cast("long").alias("_lsn"))
        out_cols.append(is_del.alias("_deleted"))

        obs = Observation()
        delta = source.select(*out_cols).observe(
            obs,
            F.sum(F.when(~F.col("_deleted"), 1).otherwise(0)).alias("upserts"),
            F.sum(F.when(F.col("_deleted"), 1).otherwise(0)).alias("deletes"),
        )
        if coalesce and "_del_lsn" in source.columns:
            # a source row that survived an INTRA-batch delete carries
            # _del_lsn (dedup_coalesce); materialize that delete as a
            # physical tombstone at its own LSN so read resolution's
            # barrier rule discards pre-delete values from EARLIER
            # commits (null survivor columns alone cannot express
            # "cleared" — the resurrection bug caught by review repro).
            # Not observed: the barrier restates a delete already counted
            # inside the fold, not a new source op.
            barriers = source.filter(F.col("_del_lsn").isNotNull()).select(
                *[F.col(k) for k in keys],
                *[F.lit(None).cast(phys[c].dataType).alias(c) for c in data_cols],
                F.col("_del_lsn").cast("long").alias("_lsn"),
                F.lit(True).alias("_deleted"),
            )
            delta = delta.unionByName(barriers)
        return delta.withColumn("_bucket", _bucket_expr(keys, nb)), obs

    def commit_merge(
        self,
        staged: StagedMerge,
        batch_id: int | None = None,
        writer_id: str | None = None,
        extra_properties: dict | None = None,
    ) -> MergeStats:
        """Phase two of :meth:`merge`: publish staged file groups under the
        writer's fence (a batch the fence already covers comes back
        ``fenced`` and publishes nothing). Driver-only except a rebucket
        restage.

        Commit with bounded retry: a MOR delta append is independent of
        target state (no bucket was read), so on CommitConflict we simply
        rebase the already-staged file groups onto the newest snapshot —
        this makes a concurrent compactor plus ingest writers safe. Two
        log partitions feeding one table each carry their OWN batch-id
        sequence, so each must pass a distinct ``writer_id`` (per-writer
        fence property) — a shared scalar fence would treat writer B's
        fresh batch as writer A's replay and silently drop it."""
        delta, base = staged.delta, staged.base
        keys, sv = base["key_cols"], base["schema_version"]
        # file groups staged per bucket count: an attempt whose layout was
        # already staged reuses it. Restaging is a Spark job, so a
        # maintenance loop that rebuckets (8→2→4→8…) faster than one
        # restage would otherwise win every race and starve the writer.
        staged_by_nb = {base["num_buckets"]: staged.groups}
        for attempt in range(10):
            snap = self.snapshot()
            if is_fenced(snap["properties"], batch_id, writer_id):
                return MergeStats(batch_id, snap["version"], 0, 0, 0, fenced=True)
            nb = snap["num_buckets"]
            if nb not in staged_by_nb:
                # a concurrent rebucket() changed the layout between stage
                # and commit: the staged files route rows by the OLD hash,
                # and appending them would put keys in buckets reads never
                # look in. Restage under the new count (O(batch); the delta
                # plan is still in hand); the first stage's files become
                # orphans for vacuum_orphans.
                delta = delta.withColumn("_bucket", _bucket_expr(keys, nb))
                staged_by_nb[nb] = self._stage_groups(delta, sv, staged.coalesce)
            groups = staged_by_nb[nb]
            # commit seq = the version this attempt will commit as; the read
            # path uses it to break equal-LSN ties by commit order
            for g in groups:
                g["seq"] = snap["version"] + 1
            new_groups = sorted(snap["file_groups"] + groups, key=lambda g: g["bucket"])
            props = dict(snap["properties"])
            if batch_id is not None:
                props[fence_key(writer_id)] = batch_id
            for k, v in (extra_properties or {}).items():
                props[k] = v
            # parsed from the props this attempt publishes, BEFORE the
            # commit: a bad value must fail the batch, not a landed commit
            threshold = _compact_threshold(props)
            new = dict(snap)
            new.update(
                version=snap["version"] + 1,
                file_groups=new_groups,
                properties=props,
                parent=snap["version"],
            )
            try:
                self._commit(new)
                break
            except CommitConflict:
                if attempt == 9:
                    raise
        staged.groups = groups
        stats = MergeStats(
            batch_id, new["version"], staged.upserts, staged.deletes, len(groups)
        )
        # auto-compaction: fold deltas into the base for any bucket past the
        # threshold (a maintenance commit, separate from the fenced commit —
        # a crash in between leaves deltas in place, correctness unaffected)
        from collections import Counter

        counts = Counter(g["bucket"] for g in new_groups if g.get("delta"))
        over = [b for b, c in counts.items() if c >= threshold]
        if over:
            try:
                self.compact(buckets=over)
            except CommitConflict:
                # best-effort maintenance: the batch's fenced commit already
                # succeeded; a concurrent writer winning the compaction
                # version race leaves deltas in place (correctness
                # unaffected) — never fail the streaming batch over it
                pass
        return stats

    def merge_add(
        self,
        deltas: DataFrame,
        batch_id: int | None = None,
        writer_id: str | None = None,
        lsn: int = 0,
        extra_properties: dict | None = None,
    ) -> MergeStats:
        """Append INCREMENTS to an additive table (``properties
        {"resolution": "additive"}``, MOR) — the storage half of an
        incrementally-maintained aggregate view (``streaming/aggview.py``).

        ``deltas`` carries the key columns plus numeric per-column
        increments (negative = retraction); reads resolve SUM per key, so
        the write is O(batch) with no target read and no join, exactly
        the MOR delta-append shape. Exactly-once via the same per-writer
        batch-id fence as ``merge`` — a replayed window is a no-op, which
        is what makes additive state safe at all (increments are NOT
        idempotent on their own). ``lsn`` stamps ``_lsn`` (the source
        high-water mark the increment was derived from; reads surface the
        max). Compaction folds increments into one row per key through
        the same resolved-read path.

        This generalizes the reference's run-metric counters
        (``internal/processor/csv_processor.go:75-95`` processed/failed
        tallies) into maintained aggregate state at CDC scale."""
        snap = self.snapshot()
        if snap["properties"].get("resolution") != "additive":
            raise ValueError(
                'merge_add() needs an additive table (create with properties '
                '{"resolution": "additive"}); row-state tables use merge()'
            )
        if is_fenced(snap["properties"], batch_id, writer_id):
            return MergeStats(batch_id, snap["version"], 0, 0, 0, fenced=True)
        keys, nb, sv = snap["key_cols"], snap["num_buckets"], snap["schema_version"]
        phys = self._schema_at(snap, sv)
        logical = [f["name"] for f in snap["schemas"][str(sv)]["fields"]]
        data_cols = [c for c in logical if c not in keys]
        for c in data_cols:
            # SUM-resolved columns must be numeric; MIN/MAX-resolved
            # columns (additive.agg.<c>) only need to be orderable —
            # strings/timestamps are legitimate min/max domains
            if snap["properties"].get(f"additive.agg.{c}", "sum") == "sum" and not isinstance(
                phys[c].dataType, T.NumericType
            ):
                raise ValueError(f"additive column {c!r} must be numeric, is {phys[c].dataType}")

        # align KEY types to the table schema like every other write path
        # (_align_source_types casts data columns too — harmless, the
        # select below re-casts): an unaligned key is hashed by the
        # SOURCE type, xxhash64 is type-sensitive, so the increment lands
        # in a bucket reads never look in AND the parquet carries the
        # wrong physical type (review finding — merge()/overwrite()/
        # Branch.merge all align; this path skipped it)
        deltas = self._align_source_types(deltas, snap)
        delta = deltas.select(
            *[F.col(k) for k in keys],
            *[F.col(c).cast(phys[c].dataType).alias(c) for c in data_cols],
        )
        delta = (
            delta.withColumn("_lsn", F.lit(lsn).cast("long"))
            .withColumn("_deleted", F.lit(False))
            .withColumn("_bucket", _bucket_expr(keys, nb))
        )
        groups = self._stage_groups(delta, sv, coalesce=False)
        if not groups:
            return MergeStats(batch_id, snap["version"], 0, 0, 0)
        rows = sum(g["rows"] for g in groups)
        # the one fenced rebase-retry + auto-compaction implementation
        staged = StagedMerge(groups, delta, snap, False, rows, 0)
        return self.commit_merge(staged, batch_id, writer_id, extra_properties)

    def delete_where(
        self,
        condition=None,
        lsn: int | None = None,
        batch_id: int | None = None,
        writer_id: str | None = None,
        extra_properties: dict | None = None,
        keys_df: DataFrame | None = None,
    ) -> MergeStats:
        """Predicate delete — tombstone every LIVE row matching
        ``condition`` (a Column or SQL string), the GDPR /
        right-to-be-forgotten shape (Iceberg's DELETE FROM ... WHERE).

        Two phases, both distributed: (1) one predicate-pushed scan of the
        resolved table yields the matching KEYS (they never hit the
        driver); (2) a standard MERGE of op='D' events at ``lsn`` writes
        the tombstones as an O(matched) delta append. The deletes then
        behave like any CDC delete: late out-of-order events below
        ``lsn`` stay shadowed by the tombstone (T6), redelivery with the
        same ``batch_id`` fences to a no-op (T5), ``changes()`` surfaces
        them to downstream consumers (cascades, aggregate views), and
        ``vacuum_tombstones`` reclaims them once the log watermark passes
        ``lsn``.

        ``lsn=None`` stamps the deletes at the table's current high-water
        mark + 1 ("delete as of now"): one single-row aggregation job.
        Note the matched-key set is evaluated at CALL time — for
        exactly-once semantics under retry, pass a ``batch_id`` (the
        fence, not the predicate, is what makes the retry a no-op).

        ``keys_df`` (instead of ``condition``) deletes a pre-computed key
        set — e.g. a :class:`~french_admin_etl_spark.operators.
        secondary_index.SecondaryIndex` search result — skipping the full
        predicate scan entirely: ``t.delete_where(keys_df=idx.search(
        lang='go'), batch_id=...)`` touches only the index plus the
        tombstone write.

        Reference parity: none — the reference is upsert-only (``ON
        CONFLICT DO UPDATE``, ``commune_repository.go:42-46``) and never
        deletes; predicate deletes extend the engine beyond it (GDPR
        erasure is table stakes for a lake serving CDC state)."""
        snap = self.snapshot()
        sv = snap["schema_version"]
        keys = snap["key_cols"]
        if (condition is None) == (keys_df is None):
            raise ValueError("delete_where needs exactly one of condition / keys_df")
        if lsn is None:
            row = self.read_raw().agg(F.max("_lsn").alias("m")).collect()[0]
            lsn = int(row["m"] or 0) + 1
        fields = {f["name"]: f["type"] for f in snap["schemas"][str(sv)]["fields"]}
        if keys_df is not None:
            missing = [k for k in keys if k not in keys_df.columns]
            if missing:
                raise ValueError(f"keys_df lacks key column(s) {missing!r}")
            doomed = keys_df.select(*keys).distinct()
        else:
            if isinstance(condition, str):
                condition = F.expr(condition)
            doomed = self.read().filter(condition).select(*keys)
        payload = [
            F.lit(None).cast(_parse_type_json(t)).alias(c)
            for c, t in fields.items()
            if c not in keys
        ]
        source = doomed.select(
            *[F.col(k) for k in keys],
            *payload,
            F.lit(lsn).cast("long").alias("lsn"),
            F.lit("D").alias("op"),
        )
        return self.merge(
            source,
            batch_id=batch_id,
            writer_id=writer_id,
            extra_properties=extra_properties,
        )

    def compact(
        self,
        buckets: list[int] | None = None,
        min_delta_files: int = 1,
        sort_cols: list[str] | None = None,
        include_clean: bool = False,
    ) -> int:
        """Fold delta file groups into resolved base groups (MOR
        maintenance). By default only rewrites buckets that actually hold
        deltas; tombstones survive compaction (they still shadow late
        out-of-order events) until ``vacuum_tombstones`` reclaims them.

        ``sort_cols`` sorts rows within each rewritten bucket (the
        row-group-pruning layout — see ``optimize_sort``);
        ``include_clean=True`` rewrites EVERY bucket, deltas or not (the
        layout-rewrite mode). One resolve-and-commit protocol serves both
        maintenance passes, so the seq-stamping / folded-window contract
        lives in exactly one place."""
        snap = self.snapshot()
        keys, nb, sv = snap["key_cols"], snap["num_buckets"], snap["schema_version"]
        if include_clean:
            target = sorted({g["bucket"] for g in snap["file_groups"]})
        else:
            from collections import Counter

            counts = Counter(g["bucket"] for g in snap["file_groups"] if g.get("delta"))
            target = sorted(b for b, c in counts.items() if c >= min_delta_files)
        if buckets is not None:
            bs = set(buckets)
            target = [b for b in target if b in bs]
        if not target:
            return snap["version"]
        resolved = self.read_raw(buckets=target).withColumn(
            "_bucket", _bucket_expr(keys, nb)
        )
        groups = self._stage_write(resolved, sv, sort_cols=sort_cols)
        for g in groups:
            # stamp the compaction commit: read resolution is unaffected
            # (no older delta survives to tie against), and changes()
            # uses it to detect windows whose deltas were folded away
            g["seq"] = snap["version"] + 1
            if sort_cols:
                g["sorted_by"] = sort_cols
        tset = set(target)
        new_groups = [g for g in snap["file_groups"] if g["bucket"] not in tset] + groups
        new_groups.sort(key=lambda g: g["bucket"])
        new = dict(snap)
        new.update(version=snap["version"] + 1, file_groups=new_groups, parent=snap["version"])
        self._commit(new)
        return new["version"]

    def optimize_sort(self, sort_cols: list[str] | None = None) -> int:
        """Rewrite every bucket with rows SORTED by ``sort_cols`` (default:
        the key columns) — the sort-based file-layout optimization
        (Delta OPTIMIZE/Z-ORDER lite). Sorting clusters each column's
        values into narrow per-row-group min/max ranges, so a key-predicate
        scan prunes most row groups via parquet statistics instead of
        reading the whole bucket; at 100 TB this is the difference between
        a point lookup touching one row group and touching every file of
        the bucket. Resolves outstanding MOR deltas in the same pass
        (the rewrite is a compaction with a layout contract). Maintenance
        commit — run from a scheduler like ``compact``; implemented AS a
        compact so the resolve/stamp/commit protocol exists once."""
        cols = sort_cols or self.snapshot()["key_cols"]
        return self.compact(include_clean=True, sort_cols=cols)

    def optimize_zorder(self, cols: list[str], bits: int = 8) -> int:
        """Rewrite every bucket ordered along a Z-ORDER (Morton) curve
        over ``cols`` — the multi-dimensional file layout (Delta OPTIMIZE
        ZORDER BY). A lexicographic sort gives narrow per-file stats only
        for its LEADING column (every file spans the full range of the
        second); bit-interleaving equi-depth ranks of ALL the columns
        clusters the curve so each file covers a narrow range of EVERY
        participating column — ``scan_range`` then prunes files for
        predicates on any of them.

        Mechanics (all JVM-side, whole-stage-codegen expressions):

        1. one pass computes ``2^bits``-quantile boundaries per column
           (equi-depth: skew-proof where equi-width collapses);
        2. each row's per-column rank = count of boundaries ≤ value
           (a literal-array filter, no join) — nulls rank 0, so they
           cluster at the curve's origin;
        3. the z-value interleaves the rank bits (column j's bit i at
           position ``i·ncols + j``) and drives the within-bucket sort;
           it is ordering-only scaffolding and never reaches the files.

        Columns must be numeric/date/timestamp (rank needs a total order
        with quantiles; for strings, sort lexicographically via
        ``optimize_sort`` or z-order a numeric derivative). Resolves
        outstanding MOR deltas like ``optimize_sort``; O(table) rewrite,
        run from a scheduler. File groups record ``zorder: cols``."""
        snap = self.snapshot()
        keys, nb, sv = snap["key_cols"], snap["num_buckets"], snap["schema_version"]
        if not 2 <= len(cols) <= 4:
            raise ValueError("z-order needs 2-4 columns (1 column: use optimize_sort)")
        if not 1 <= bits <= 15:
            raise ValueError(f"bits must be in [1, 15], got {bits}")
        phys = self._schema_at(snap, sv)
        names = {f.name for f in phys.fields}
        for c in cols:
            if c not in names:
                raise ValueError(f"no column {c!r}")
            dt = phys[c].dataType
            if not isinstance(dt, (T.NumericType, T.DateType, T.TimestampType, T.TimestampNTZType)):
                raise ValueError(
                    f"z-order column {c!r} must be numeric/date/timestamp, is {dt}"
                )
        # materialize the resolved state ONCE: both the quantile pass and
        # the staged write consume it, and without this each would run the
        # full base+delta resolution scan from scratch (review finding —
        # 2x the I/O on the O(table) maintenance rewrite this already is)
        resolved = (
            self.read_raw().withColumn("_bucket", _bucket_expr(keys, nb)).localCheckpoint()
        )

        def as_num(c: str):
            dt = phys[c].dataType
            if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
                return F.col(c).cast("timestamp").cast("long").cast("double")
            return F.col(c).cast("double")

        # equi-depth boundaries: one approx pass over the live rows
        q = [i / (1 << bits) for i in range(1, 1 << bits)]
        live = resolved.filter(~F.col("_deleted")).select(
            *[as_num(c).alias(c) for c in cols]
        )
        all_bounds = live.approxQuantile(list(cols), q, 0.001)

        zparts = []
        bounds_per_col: list[list[float]] = []
        for j, (c, bounds) in enumerate(zip(cols, all_bounds)):
            uniq = sorted(set(bounds))[: (1 << bits) - 1]
            bounds_per_col.append([float(b) for b in uniq])
            if uniq:
                arr = F.array(*[F.lit(float(b)) for b in uniq])
                v = as_num(c)
                # NB: the lambda must take exactly ONE parameter — a
                # two-arg lambda makes F.filter pass the array INDEX as
                # the second arg, silently shadowing any default
                rank = F.coalesce(
                    F.size(F.filter(arr, lambda b: b <= v)), F.lit(0)
                )
            else:  # empty/constant column: every row at the origin
                rank = F.lit(0)
            for i in range(bits):
                zparts.append(
                    F.shiftleft(
                        F.shiftright(rank, i).bitwiseAND(F.lit(1)).cast("long"),
                        i * len(cols) + j,
                    )
                )
        z = zparts[0]
        for p in zparts[1:]:
            z = z + p
        groups = self._stage_write(
            resolved.withColumn("__z", z),
            sv,
            sort_cols=["__z"],
            stat_cols=list(dict.fromkeys(keys + list(cols))),
        )
        # per-FILE curve intervals for box pruning (``scan_box``): the
        # z-value never reaches the files (ordering-only scaffolding), so
        # recompute it — z is a deterministic function of the data columns
        # and the boundaries above — with ONE aggregation over the
        # just-written files (page-cache warm, column-pruned; the same
        # pay-at-write-time economics as the manifest stats and blooms)
        all_files = [f for g in groups for f in g["files"]]
        zstats: dict[str, list[int]] = {}
        if all_files:
            for r in (
                self.spark.read.parquet(*[os.path.join(self.root, f) for f in all_files])
                .select(F.input_file_name().alias("_f"), z.alias("__z"))
                .groupBy("_f")
                .agg(F.min("__z").alias("lo"), F.max("__z").alias("hi"))
                .collect()
            ):
                # input_file_name is a URI; manifest paths are root-relative
                zstats[r["_f"].split("/data/")[-1]] = [int(r["lo"]), int(r["hi"])]
        for g in groups:
            g["seq"] = snap["version"] + 1
            g["zorder"] = list(cols)
            g["zstats"] = [zstats.get(f.split("data/")[-1]) for f in g["files"]]
        new = dict(snap)
        new.update(
            version=snap["version"] + 1,
            file_groups=sorted(groups, key=lambda g: g["bucket"]),
            parent=snap["version"],
            # curve metadata shared by every group of this rewrite: the
            # query-time rank conversion needs the same boundaries the
            # write used; later merge commits copy the snapshot dict so
            # the key persists, and pruning only ever engages on groups
            # that still carry ``zstats``
            zcurve={"cols": list(cols), "bits": bits, "bounds": bounds_per_col},
        )
        self._commit(new)
        return new["version"]

    def rebucket(self, new_num_buckets: int, sort_cols: list[str] | None = None) -> int:
        """Partition evolution: rewrite the table into ``new_num_buckets``
        hash buckets in one atomic commit (Iceberg partition-spec evolution
        for the ``bucket(N, key)`` transform, done eagerly).

        The bucket count is a day-1 guess that a growing table outlives: at
        10^10 events a table created with 16 buckets has multi-TB buckets
        (no scan parallelism beyond 16 tasks, giant compactions), while a
        table created with 4096 buckets at small scale drowns in tiny
        files. ``rebucket`` is the day-2 escape hatch — one resolve-and-
        rewrite pass (same cost shape as ``optimize_sort``: O(table), run
        from a scheduler) that re-routes every key through
        ``pmod(xxhash64(keys), new_n)``.

        Correctness notes:

        - **Per-snapshot layout**: ``num_buckets`` lives in the snapshot,
          and every read/write path takes it from the snapshot it runs
          against — time-travel reads of pre-rebucket versions keep the
          old routing; post-commit merges route by the new one.
        - **Tombstones survive** (they ride ``read_raw``'s resolution like
          compaction) so late out-of-order events stay shadowed — in their
          NEW bucket, which is where a post-rebucket merge routes them.
        - **Concurrent writers** are safe: a writer that staged its
          delta under the old count detects the layout change on rebase
          and restages (see ``commit_merge``); the orphaned first-stage
          files are reclaimed by ``vacuum_orphans``. ``rebucket`` itself
          never retries — racing it against
          another full-rewrite maintenance pass is a scheduler bug and
          surfaces as ``CommitConflict``.
        - **changes() windows are folded** by the rewrite (groups are
          seq-stamped like a compaction), so incremental consumers fall
          back to a full resync instead of mis-reading deltas.
        """
        snap = self.snapshot()
        if new_num_buckets <= 0:
            raise ValueError(f"num_buckets must be positive, got {new_num_buckets}")
        keys, nb, sv = snap["key_cols"], snap["num_buckets"], snap["schema_version"]
        if new_num_buckets == nb:
            return snap["version"]
        resolved = self.read_raw().withColumn(
            "_bucket", _bucket_expr(keys, new_num_buckets)
        )
        groups = self._stage_write(resolved, sv, sort_cols=sort_cols)
        for g in groups:
            g["seq"] = snap["version"] + 1
            if sort_cols:
                g["sorted_by"] = sort_cols
        new = dict(snap)
        new.update(
            version=snap["version"] + 1,
            num_buckets=new_num_buckets,
            file_groups=sorted(groups, key=lambda g: g["bucket"]),
            parent=snap["version"],
        )
        self._commit(new)
        return new["version"]

    def restore(self, version: int) -> int:
        """Roll the table back to ``version`` (Delta RESTORE / Iceberg
        rollback): commit a NEW snapshot whose entire content — file
        groups, schema lineage, properties (including writer fences and
        view sync markers), and bucket layout — is the target's. History
        is preserved (the bad versions stay time-travelable until
        ``expire_snapshots``), and the data files of the rolled-back
        window stay referenced by those snapshots, so vacuum spares them
        until expiry.

        Restoring the PROPERTIES is what keeps the CDC contract whole:
        the batch fences revert with the state, so replaying the source
        log from the restored point re-applies the undone batches instead
        of fencing them into a silent gap; downstream consumers (views,
        cascades) see their synced markers revert and re-converge the
        same way. Concurrent MOR writers are safe even across a bucket
        layout revert (the rebase-loop ``num_buckets`` guard restages)."""
        target = self.snapshot(version)
        cur = self.snapshot()
        if version == cur["version"]:
            return version
        new = dict(target)
        # Restamp every group's seq into the restore commit so changes()
        # windows spanning the rollback REFUSE (non-delta groups with an
        # in-window seq = the folded-window signal) and incremental
        # consumers resync instead of silently reading an empty window
        # while holding rolled-back rows (review finding). Relative
        # resolution order among the target's groups is preserved
        # EXACTLY — and boundedly, surviving repeated restores and
        # arbitrarily large branch subs — by renumbering subs DENSELY in
        # (seq, sub) rank order (a multiplicative fold like seq*K+sub
        # inverts order once any sub >= K, and compounds toward int64
        # overflow across restores; second review pass).
        groups = [dict(g) for g in new["file_groups"]]
        order = sorted(
            range(len(groups)),
            key=lambda i: (groups[i].get("seq", 0), groups[i].get("sub", 0)),
        )
        for rank, i in enumerate(order):
            groups[i]["sub"] = rank
            groups[i]["seq"] = cur["version"] + 1
            # delta groups restamped into the window would otherwise READ
            # as ordinary change rows (masking the rolled-back deletions);
            # the marker makes changes() refuse them like folded windows
            groups[i]["restored"] = True
        # A restore to an EMPTY snapshot has no groups to carry the
        # refusal signal, so the restore versions also ride a PROPERTY
        # (propagated by every later commit's props copy); changes()
        # refuses any window containing one.
        props = dict(new["properties"])
        restores = sorted(
            set(json.loads(props.get("restore.versions", "[]")))
            # the target's props predate LATER restores; the current
            # snapshot's list has them all — union so a restore-of-a-
            # pre-restore-state cannot erase an earlier marker
            | set(json.loads(cur["properties"].get("restore.versions", "[]")))
            | {cur["version"] + 1}
        )
        props["restore.versions"] = json.dumps(restores)
        # clone registrations are LIFECYCLE markers, not state: a clone
        # registered after the restore target was committed must keep its
        # vacuum protection across the rollback, or the next maintenance
        # trio deletes the source files it still references (review
        # finding — same carried-forward-marker rationale as
        # restore.versions just above; vacuum deregisters stale ones)
        for k, v in cur["properties"].items():
            if k.startswith("clone.outstanding."):
                props[k] = v
        new.update(
            version=cur["version"] + 1,
            parent=cur["version"],
            file_groups=groups,
            properties=props,
        )
        self._commit(new)
        return new["version"]

    def clone(self, dest_root: str, deep: bool = False) -> "LakeTable":
        """CLONE the table's current state into a NEW table at
        ``dest_root`` (Delta SHALLOW/DEEP CLONE).

        - **shallow** (default): metadata-only — the clone's snapshot
          references the source's data files by ABSOLUTE path (zero
          copy, O(metadata)); new writes/compactions/rebuckets on the
          clone land under its own root, so it localizes as it diverges.
          The dev/test idiom: a full-size table materialized in
          milliseconds, writable without touching production. The clone
          REGISTERS itself in the source's properties
          (``clone.outstanding.<uid> = dest_root``), and the source's
          ``vacuum_orphans`` counts every source file a registered
          clone's retained snapshots still reference as LIVE — so source
          maintenance (compact → expire → vacuum) can no longer break an
          outstanding shallow clone (the caveat Delta documents and
          leaves to the operator). Once the clone localizes fully (or is
          deleted), the next source vacuum deregisters it. The clone's
          own vacuum only touches its own data dir — safe.
        - **deep**: every referenced file is copied under the clone's
          root; fully independent (O(table) copy).

        Properties (including batch fences and view sync markers) carry
        over, so replaying the source's log against the clone fences
        exactly as it would on the source — behavioral parity for
        testing. The clone starts a fresh version chain at v1."""
        snap = self.snapshot()
        if LakeTable.exists(dest_root):
            # a COMMITTED snapshot, not a leftover dir from a crashed
            # clone attempt (mkdir/copies land before the commit; a
            # retry over those must succeed — second review pass)
            raise ValueError(f"destination {dest_root!r} already has a table")
        t = LakeTable(self.spark, dest_root)
        os.makedirs(t._meta_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        groups = []
        for g in snap["file_groups"]:
            g = dict(g)
            if deep:
                files = []
                for f in g["files"]:
                    src = f if os.path.isabs(f) else os.path.join(self.root, f)
                    rel = f"data/{os.path.basename(f)}"
                    shutil.copyfile(src, os.path.join(dest_root, rel))
                    files.append(rel)
                g["files"] = files
            else:
                # abspath, not just join: a source opened with a RELATIVE
                # root would store relative references, which fail
                # vacuum_orphans' isabs() protection test — the clone
                # would be deregistered as stale and its files vacuumed
                # (review finding; the docstring promises absolute paths)
                g["files"] = [
                    f if os.path.isabs(f) else os.path.abspath(os.path.join(self.root, f))
                    for f in g["files"]
                ]
            groups.append(g)
        # Restamp (seq, sub) into the clone's OWN chain (baseline v1,
        # dense rank order — same protocol as restore): carrying source
        # seqs verbatim would poison the clone's version arithmetic —
        # changes() windows would re-emit (or refuse on) source-era
        # groups, and an equal-LSN correction merged on the clone
        # (commit seq 2) would LOSE the later-commit-wins tie-break to a
        # stale source group stamped seq 7 (second review pass).
        order = sorted(
            range(len(groups)),
            key=lambda i: (groups[i].get("seq", 0), groups[i].get("sub", 0)),
        )
        for rank, i in enumerate(order):
            groups[i]["sub"] = rank
            groups[i]["seq"] = 1
        new = dict(snap)
        props = dict(snap["properties"])
        props.pop("restore.versions", None)  # source history, not the clone's
        # a clone of a clone must not inherit its source's registrations
        for k in [k for k in props if k.startswith("clone.outstanding.")]:
            del props[k]
        props["clone.source"] = self.root
        props["clone.source_version"] = snap["version"]
        new.update(version=1, parent=None, file_groups=groups, properties=props)
        if not deep:
            # protect-then-publish: register BEFORE the clone commit, so a
            # crash never leaves a live-but-unprotected clone (a crashed
            # attempt leaves only a stale registration, which the next
            # source vacuum deregisters). Registration goes to every table
            # whose data dir the clone's groups actually REFERENCE — for a
            # clone of a clone the absolute paths pass through to the
            # ORIGINAL table, and registering only on the direct source
            # would leave the original's vacuum free to break this clone
            # once the middle clone localizes.
            my_root = os.path.abspath(self.root)
            roots = {
                os.path.abspath(os.path.dirname(os.path.dirname(f)))
                for g in groups
                for f in g["files"]
            }
            for r in sorted(roots):
                owner = self if r == my_root else LakeTable(self.spark, r)
                owner._register_clone(dest_root)
        t._commit(new)
        return t

    def _register_clone(self, dest_root: str) -> None:
        """Record an outstanding shallow clone in this table's properties
        so :meth:`vacuum_orphans` protects the source files it references.
        Keyed by a digest of the destination path (stable across retries);
        OCC retry mirrors :meth:`prune_fences`."""
        dest_root = os.path.abspath(dest_root)
        uid = hashlib.sha256(dest_root.encode()).hexdigest()[:12]
        key = f"clone.outstanding.{uid}"

        def mutate(props: dict) -> dict | None:
            if props.get(key) == dest_root:
                return None  # a retried clone already registered itself
            props[key] = dest_root
            return props

        self.update_properties(mutate)

    def clones(self) -> dict[str, str]:
        """Outstanding registered shallow clones: ``{uid: dest_root}``."""
        return {
            k.split(".")[-1]: v
            for k, v in self.snapshot()["properties"].items()
            if k.startswith("clone.outstanding.")
        }

    def snapshots_df(self) -> DataFrame:
        """Metadata table (DESCRIBE HISTORY analog): one row per retained
        snapshot — driver-side metadata only, no data I/O."""
        rows = [
            (
                s["version"],
                s.get("parent"),
                s["schema_version"],
                s["num_buckets"],
                len(s["file_groups"]),
                sum(len(g["files"]) for g in s["file_groups"]),
                sum(g.get("rows", 0) for g in s["file_groups"]),
                sum(1 for g in s["file_groups"] if g.get("delta")),
                json.dumps(s["properties"], sort_keys=True),
            )
            for s in self.history()
        ]
        return local_frame(
            self.spark,
            rows,
            "version long, parent long, schema_version int, num_buckets int, "
            "file_groups int, files int, rows long, delta_groups int, properties string",
        )

    def files_df(self, version: int | None = None) -> DataFrame:
        """Metadata table (Iceberg ``files`` analog): one row per live
        data file of the snapshot, with its group context and manifest
        stats — the input to maintenance decisions (small-file ratios,
        delta backlogs, clustering health) without touching data."""
        snap = self.snapshot(version)
        rows = []
        for g in snap["file_groups"]:
            st = g.get("stats") or [None] * len(g["files"])
            for f, s in zip(g["files"], st):
                rows.append(
                    (
                        g["bucket"],
                        f,
                        g["schema_version"],
                        g.get("seq", 0),
                        bool(g.get("delta")),
                        bool(g.get("coalesce")),
                        (
                            json.dumps(g.get("sorted_by") or g.get("zorder"))
                            if (g.get("sorted_by") or g.get("zorder"))
                            else None  # SQL NULL, not the string "null"
                        ),
                        json.dumps(s, sort_keys=True) if s else None,
                    )
                )
        return local_frame(
            self.spark,
            rows,
            "bucket int, file string, schema_version int, seq long, "
            "delta boolean, coalesce boolean, layout string, stats string",
        )

    # ------------------------------------------------------------- evolution

    def evolve(self, ops: list[SchemaOp]) -> int:
        """Apply schema-evolution ops; metadata-only commit (files upgrade on read)."""
        snap = self.snapshot()
        sv = snap["schema_version"]
        schema = T.StructType.fromJson(snap["schemas"][str(sv)])
        fields = list(schema.fields)
        # reserved physical names: a logical column named _lsn/_deleted/
        # _bucket would duplicate _schema_at's appended internal fields
        # and every read would raise AMBIGUOUS_REFERENCE — the commit
        # would brick the table (review finding)
        reserved = set(INTERNAL_COLS) | {"_bucket"}

        def check_new_name(name: str) -> None:
            if any(f.name == name for f in fields):
                raise ValueError(f"column {name} exists")
            if name in reserved:
                raise ValueError(f"column name {name!r} is reserved (internal)")

        for op in ops:
            if op.action == "add_column":
                check_new_name(op.name)
                fields.append(T.StructField(op.name, _parse_type(op.type), True))
            elif op.action == "widen":
                idx = _field_index(fields, op.name)
                if op.name in snap["key_cols"]:
                    # xxhash64 is TYPE-sensitive (int 5 and bigint 5 hash
                    # differently), so widening a key column would route
                    # new versions of existing keys to a DIFFERENT bucket
                    # than their current rows — resolution then never sees
                    # both and the table silently forks per key. Same
                    # rationale as the key-rename refusal below.
                    raise ValueError("cannot widen a key column (bucket hash is type-sensitive)")
                old = fields[idx].dataType.simpleString()
                if (old, op.type) not in _WIDEN_OK:
                    raise ValueError(f"illegal widen {old}->{op.type}")
                fields[idx] = T.StructField(op.name, _parse_type(op.type), True)
            elif op.action == "rename_column":
                idx = _field_index(fields, op.from_name)
                if op.from_name in snap["key_cols"]:
                    raise ValueError("cannot rename a key column")
                # renaming ONTO an existing column would commit a schema
                # with two same-named fields — permanently unreadable
                # (review finding, same class as the reserved names)
                check_new_name(op.to_name)
                fields[idx] = T.StructField(op.to_name, fields[idx].dataType, True)
            else:
                raise ValueError(f"unknown schema op {op.action}")
        new_sv = sv + 1
        new = dict(snap)
        new_schemas = dict(snap["schemas"])
        new_schemas[str(new_sv)] = json.loads(T.StructType(fields).json())
        new.update(
            version=snap["version"] + 1,
            schema_version=new_sv,
            schemas=new_schemas,
            schema_ops=snap["schema_ops"] + [{"version": new_sv, "op": o.to_dict()} for o in ops],
            parent=snap["version"],
        )
        self._commit(new)
        return new_sv

    # ----------------------------------------------------------- maintenance

    def vacuum_tombstones(self, watermark_lsn: int) -> int:
        """Physically drop tombstones with _lsn < watermark (safe once the
        source guarantees no event older than watermark can still arrive).
        Rewrites only buckets that contain vacuumable tombstones."""
        snap = self.snapshot()
        if any(g.get("delta") for g in snap["file_groups"]):
            self.compact()
            snap = self.snapshot()
        sv, nb, keys = snap["schema_version"], snap["num_buckets"], snap["key_cols"]
        raw = self.read_raw()
        dead = (
            raw.filter(F.col("_deleted") & (F.col("_lsn") < watermark_lsn))
            .select(_bucket_expr(keys, nb).alias("b"))
            .distinct()
            .collect()
        )
        buckets = sorted(r["b"] for r in dead)
        if not buckets:
            return snap["version"]
        kept = self.read_raw(buckets=buckets).filter(
            ~(F.col("_deleted") & (F.col("_lsn") < watermark_lsn))
        )
        kept = kept.withColumn("_bucket", _bucket_expr(keys, nb))
        groups = self._stage_write(kept, sv)
        new_groups = [g for g in snap["file_groups"] if g["bucket"] not in set(buckets)] + groups
        new_groups.sort(key=lambda g: g["bucket"])
        new = dict(snap)
        new.update(version=snap["version"] + 1, file_groups=new_groups, parent=snap["version"])
        self._commit(new)
        return new["version"]

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Drop old snapshot metadata, keeping the newest ``keep_last``
        versions (time travel to an expired version then raises). At CDC
        scale the metadata grows one JSON per micro-batch — 10^10 events
        in 10^4 batches is 10^4 snapshot files per table; this is the
        Iceberg ``expire_snapshots`` analog completing the maintenance
        trio (compact → expire_snapshots → vacuum_orphans: data files
        referenced ONLY by expired snapshots drop out of the live set, so
        a subsequent age-guarded vacuum reclaims them).

        Returns the number of snapshot files removed. Concurrency-safe
        against writers: only files strictly older than the retained
        window are unlinked, and active readers hold parsed snapshots (a
        reader that cached an expired version keeps working — parquet
        data files are only removed by the separate vacuum)."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self._versions()
        expired = vs[:-keep_last] if len(vs) > keep_last else []
        # an open WAP branch pins its parent snapshot: every branch
        # operation time-travels to it, so expiring it strands the staged
        # batches behind FileNotFoundError (review finding — the same
        # branch-awareness vacuum_orphans already has for staged FILES)
        pinned: set[int] = set()
        for fname in os.listdir(self._meta_dir):
            if fname.startswith("branch-") and fname.endswith(".json"):
                try:
                    with open(os.path.join(self._meta_dir, fname)) as fh:
                        pinned.add(int(json.load(fh)["parent_version"]))
                except (FileNotFoundError, KeyError, ValueError):
                    continue  # published/dropped mid-listing, or malformed
        expired = [v for v in expired if v not in pinned]
        removed = 0
        for v in expired:
            try:
                os.unlink(self._version_path(v))
                removed += 1
            except FileNotFoundError:
                pass  # another maintainer expired it concurrently
            self._snap_cache.pop(v, None)
        return removed

    def prune_fences(self, prefix: str, keep: list[str] | None = None) -> int:
        """Drop retired fence properties (metadata-only commit).

        Per-writer and per-stream-uid fences each live as a
        ``last_batch_id.<namespace>`` snapshot property that is carried
        forward by every commit FOREVER; an operator that recreates
        stream checkpoint dirs per run therefore grows the snapshot JSON
        without bound (reviewer finding). This is the maintenance
        counterpart: remove every property whose key starts with
        ``prefix`` (except those in ``keep``) — call it ONLY for
        namespaces whose writer is retired; pruning a live writer's fence
        re-opens its replay window (the next replayed batch re-applies —
        convergent under the LSN guard, but no longer a fenced no-op).

        Returns the number of properties removed (0 = nothing to do, no
        commit). Optimistic-concurrency: retries on CommitConflict."""
        keep_set = set(keep or [])
        removed = 0

        def mutate(props: dict) -> dict | None:
            nonlocal removed
            doomed = [k for k in props if k.startswith(prefix) and k not in keep_set]
            if not doomed:
                removed = 0
                return None
            for k in doomed:
                del props[k]
            removed = len(doomed)
            return props

        self.update_properties(mutate, retries=5)
        return removed

    def vacuum_orphans(self, min_age_sec: float = 300.0) -> int:
        """Delete data files not referenced by ANY snapshot (lost commits).

        ``min_age_sec`` guards the stage→commit window: a writer renames
        its staged files into ``data/`` *before* its snapshot commit, so a
        file younger than the threshold may belong to an in-flight commit
        that no snapshot references YET — deleting it would make the
        commit land pointing at missing files. Files are only removed once
        older than ``min_age_sec`` (the same age-threshold protocol as
        Iceberg's ``remove_orphan_files``); pass ``0`` only when no writer
        can be active (e.g. offline maintenance).

        Outstanding shallow clones (registered by :meth:`clone`) are part
        of the live set: any file in THIS table's data dir that a clone's
        retained snapshots still reference survives, so the maintenance
        trio cannot break a clone. Clones that no longer reference any
        source file — localized by their own compaction, expired past
        their source-era snapshots, or deleted outright — are
        DEREGISTERED here (best-effort metadata commit); a clone cannot
        re-acquire source references (its writes land under its own root,
        and restore/branch only reach retained snapshots, which are all
        source-free by then), so deregistration is safe."""
        import time as _time

        live: set[str] = set()
        for snap in self.history():
            for g in snap["file_groups"]:
                live.update(g["files"])
        stale_clone_keys: list[str] = []
        for key, dest in list(self.snapshot()["properties"].items()):
            if not key.startswith("clone.outstanding."):
                continue
            refs: set[str] = set()
            my_data = os.path.abspath(self._data_dir)
            if LakeTable.exists(dest):
                for csnap in LakeTable(self.spark, dest).history():
                    for g in csnap["file_groups"]:
                        for f in g["files"]:
                            if (
                                os.path.isabs(f)
                                and os.path.abspath(os.path.dirname(f)) == my_data
                            ):
                                refs.add(f"data/{os.path.basename(f)}")
            if refs:
                live.update(refs)
            else:
                stale_clone_keys.append(key)
        for key in stale_clone_keys:
            try:
                self.prune_fences(key)
            except CommitConflict:
                pass  # racing writers; the next vacuum retries
        # open WAP branches reference staged files no snapshot knows yet
        for fname in os.listdir(self._meta_dir):
            if fname.startswith("branch-") and fname.endswith(".json"):
                try:
                    with open(os.path.join(self._meta_dir, fname)) as fh:
                        for g in json.load(fh).get("file_groups", []):
                            live.update(g["files"])
                except FileNotFoundError:
                    # published/dropped between listdir and open: its files
                    # are either in a snapshot now or legitimate orphans
                    continue
        removed = 0
        cutoff = _time.time() - min_age_sec
        for fname in os.listdir(self._data_dir):
            rel = f"data/{fname}"
            path = os.path.join(self._data_dir, fname)
            if rel not in live and os.path.getmtime(path) <= cutoff:
                os.unlink(path)
                removed += 1
        return removed


def _parse_type(s: str) -> T.DataType:
    return T._parse_datatype_string(s)


def _parse_type_json(t) -> T.DataType:
    """DataType from the JSON-schema 'type' field (plain string for
    primitives, dict for complex types)."""
    if isinstance(t, str):
        return T._parse_datatype_string(t)
    return T.StructType.fromJson({"fields": [{"name": "x", "type": t,
                                              "nullable": True, "metadata": {}}]})["x"].dataType


def _field_index(fields: list[T.StructField], name: str) -> int:
    for i, f in enumerate(fields):
        if f.name == name:
            return i
    raise ValueError(f"no column {name}")
