"""spark-submit entry point for the CDC apply job.

Cluster run (north_rule: "runs via spark-submit --py-files on N and 4N
executors"):

    python tools/make_pyfiles.py   # deterministic dist/fae_spark.zip
    spark-submit --py-files dist/fae_spark.zip \
        --num-executors N --executor-cores C \
        app.py apply --log-dir s3://…/event_log \
                     --table-root s3://…/repos_table \
                     --checkpoint /…/ckpt.json --batch-lsns 1000000

Local smoke (this sandbox):

    python app.py demo --workdir /tmp/cdc_demo --n-events 100000

Subcommands:
  apply   tail the event log incrementally and MERGE into the lake table
          (creates the table on first run), exactly-once, checkpointed
  stream  same apply via Structured Streaming foreachBatch (availableNow)
  demo    generate a synthetic log, run apply, and verify final state
          against the pandas oracle (sha256 per-row equality)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _mk_table(spark, root: str, num_buckets: int):
    from french_admin_etl_spark.streaming.apply import KEYS, REPOS_SCHEMA
    from french_admin_etl_spark.table.lake_table import LakeTable

    if LakeTable.exists(root):
        return LakeTable(spark, root)
    return LakeTable.create(spark, root, schema=REPOS_SCHEMA, key_cols=KEYS,
                            num_buckets=num_buckets)


def cmd_apply(args) -> None:
    from french_admin_etl_spark.config import EngineConfig
    from french_admin_etl_spark.sources.event_log import EventLog
    from french_admin_etl_spark.streaming.apply import CDCApplyJob
    from french_admin_etl_spark.streaming.checkpoint import CheckpointStore

    # CLI flags > $SPARK_GRAFT_* env > .env file > defaults (the
    # reference's config bootstrap precedence, load_config.go:57-72)
    cfg = EngineConfig.load(
        overrides={
            k: getattr(args, k)
            for k in (
                "log_dir", "table_root", "checkpoint", "batch_lsns",
                "num_buckets", "dead_letter_dir", "lineage_dir",
                "writer_id",
            )
        }
        | {"workers": args.cores}
    )
    for req in ("log_dir", "table_root", "checkpoint"):
        if getattr(cfg, req) is None:
            raise SystemExit(
                f"missing --{req.replace('_', '-')} "
                f"(or $SPARK_GRAFT_{req.upper()})"
            )
    spark = cfg.session(app_name="cdc_apply")
    table = _mk_table(spark, cfg.table_root, cfg.num_buckets)
    job = CDCApplyJob(
        spark, table, dead_letter_dir=cfg.dead_letter_dir,
        lineage_dir=cfg.lineage_dir, writer_id=cfg.writer_id,
    )
    log = EventLog(spark, cfg.log_dir)
    if args.stream:
        results = job.run_stream(log, cfg.checkpoint)
    else:
        results = job.run_incremental(
            log, CheckpointStore(cfg.checkpoint), batch_lsns=cfg.batch_lsns
        )
    for r in results:
        print(
            json.dumps(
                {
                    "batch_id": r.batch_id,
                    "n_events": r.n_events,
                    "n_rejects": r.n_rejects,
                    "upserted": r.merge.rows_upserted if r.merge else 0,
                    "deleted": r.merge.rows_deleted if r.merge else 0,
                    "schema_evolutions": r.schema_evolutions,
                    "wall_ms": r.wall_ms,
                }
            )
        )


def cmd_cascade(args) -> None:
    """One hop of a lake-to-lake incremental pipeline: tail the source
    table's changes() into the target (bootstrap/full-resync fallback
    handled by CascadeJob). Run from a scheduler to keep a downstream
    table current."""
    from french_admin_etl_spark.session import get_spark
    from french_admin_etl_spark.streaming.cascade import CascadeJob
    from french_admin_etl_spark.streaming.checkpoint import CheckpointStore
    from french_admin_etl_spark.table.lake_table import LakeTable

    spark = get_spark(app_name="cdc_cascade", cores=args.cores)
    source = LakeTable(spark, args.source_root)
    if LakeTable.exists(args.target_root):
        target = LakeTable(spark, args.target_root)
    else:
        snap = source.snapshot()
        from pyspark.sql import types as T

        target = LakeTable.create(
            spark, args.target_root,
            schema=T.StructType.fromJson(snap["schemas"][str(snap["schema_version"])]),
            key_cols=snap["key_cols"], num_buckets=snap["num_buckets"],
            write_mode="mor",
        )
    job = CascadeJob(spark, source, target, writer_id=args.writer_id)
    results = job.run_to_latest(CheckpointStore(args.checkpoint))
    for r in results:
        print(
            json.dumps(
                {
                    "batch_id": r.batch_id,
                    "window": [r.from_version, r.to_version],
                    "mode": r.mode,
                    "upserted": r.merge.rows_upserted if r.merge else 0,
                    "deleted": r.merge.rows_deleted if r.merge else 0,
                    "fenced": bool(r.merge and r.merge.fenced),
                }
            )
        )


def cmd_dag(args) -> None:
    """FK-ordered multi-table apply: one shared envelope log (Debezium
    idiom: JSON payload + table tag), applied window-by-window to every
    table in topological order with per-window FK gates. The topology
    comes from a JSON spec file:

        {"tables": {"region":   {"schema": "code string, name string",
                                 "keys": ["code"]},
                    "commune":  {"schema": "code string, department_code string",
                                 "keys": ["code"]}},
         "edges": [["commune", "department_code", "region", "code"]]}
    """
    from pyspark.sql import types as T

    from french_admin_etl_spark.session import get_spark
    from french_admin_etl_spark.sources.envelope_log import MultiTableLog
    from french_admin_etl_spark.streaming.apply import CDCApplyJob
    from french_admin_etl_spark.streaming.checkpoint import CheckpointStore
    from french_admin_etl_spark.streaming.dag import DagApplyJob, FKEdge
    from french_admin_etl_spark.table.lake_table import LakeTable

    with open(args.tables_json) as fh:
        spec = json.load(fh)
    spark = get_spark(app_name="cdc_dag", cores=args.cores)
    jobs = {}
    for name, t in spec["tables"].items():
        root = os.path.join(args.table_root, name)
        if LakeTable.exists(root):
            table = LakeTable(spark, root)
        else:
            table = LakeTable.create(
                spark, root,
                schema=T._parse_datatype_string(f"struct<{t['schema']}>"),
                key_cols=t["keys"], num_buckets=args.num_buckets,
            )
        jobs[name] = CDCApplyJob(
            spark, table, merge_mode=t.get("merge_mode", "overwrite")
        )
    fk_indexes = {}
    edge_pairs = {(e[0], e[1]) for e in spec.get("edges", [])}
    for child, fk_col in spec.get("fk_indexes") or []:
        # narrow CDC-maintained index backing the gate's parent-delete
        # leg (O(index + candidates) instead of a full child scan); the
        # DAG syncs it per gated window via the paired checkpoint.
        # Validate BEFORE creating: a bad spec entry must fail clean, not
        # leave a stray _fkidx_* table behind for later runs to reopen
        if child not in jobs:
            raise ValueError(f"fk_indexes entry {[child, fk_col]!r}: unknown table {child!r}")
        if (child, fk_col) not in edge_pairs:
            raise ValueError(f"fk_indexes entry {[child, fk_col]!r} matches no FK edge")
        from french_admin_etl_spark.operators.secondary_index import SecondaryIndex

        iroot = os.path.join(args.table_root, f"_fkidx_{child}_{fk_col}")
        ick = CheckpointStore(
            os.path.join(args.checkpoint, f"fkidx_{child}_{fk_col}.json")
        )
        if LakeTable.exists(iroot):
            # reopen sanity check (review finding): if the child table was
            # dropped and recreated at the same root while the stale index
            # table + its cascade checkpoint survived, the checkpoint points
            # at versions of the OLD table — the index would under-report
            # candidates and the gate's delete leg could miss orphans.
            # Fail clean and tell the operator; a silent rebuild could mask
            # an operational mistake (wrong --table-root / --checkpoint).
            idx = SecondaryIndex(jobs[child].table, LakeTable(spark, iroot), [fk_col])
            csnap, isnap = jobs[child].table.snapshot(), idx.table.snapshot()
            want_cols = list(csnap["key_cols"]) + [fk_col]
            have_cols = [
                f["name"]
                for f in isnap["schemas"][str(isnap["schema_version"])]["fields"]
            ]
            state = ick.load() or {}
            if (
                isnap["key_cols"] != csnap["key_cols"]
                or have_cols != want_cols
                or state.get("from_version", 0) > csnap["version"]
            ):
                raise ValueError(
                    f"stale fk index at {iroot!r}: index keys/columns "
                    f"{isnap['key_cols']}/{have_cols} vs expected "
                    f"{csnap['key_cols']}/{want_cols}, checkpoint from_version "
                    f"{state.get('from_version', 0)} vs child version "
                    f"{csnap['version']} — the child table was likely recreated; "
                    f"delete the index table and its checkpoint to rebuild"
                )
        else:
            idx = SecondaryIndex.create(spark, jobs[child].table, iroot, [fk_col])
        fk_indexes[(child, fk_col)] = (idx, ick)
    dag = DagApplyJob(
        jobs,
        [FKEdge(*e) for e in spec.get("edges", [])],
        writer_id=args.writer_id,
        gate=args.gate,
        on_violation=args.on_violation,
        fk_indexes=fk_indexes,
        quarantine_dir=os.path.join(args.checkpoint, "quarantine"),
    )
    log = MultiTableLog(spark, args.log_dir)
    if args.requeue_quarantined:
        # drain mode: re-apply quarantined windows (optionally repaired)
        # instead of advancing the stream
        results = dag.requeue_quarantined(log, repair_where=args.repair_where)
        for r in results:
            print(
                json.dumps(
                    {
                        "requeued_batch_id": r.batch_id,
                        "window": [r.lo, r.hi],
                        "drained": not r.violations,
                        "violations": r.violations,
                    }
                )
            )
        return
    if args.stream:
        results = dag.run_stream(log, args.checkpoint)
    else:
        results = dag.run_incremental(
            log, CheckpointStore(os.path.join(args.checkpoint, "dag.json")),
            batch_lsns=args.batch_lsns,
            group_commit=args.group_commit,
        )
    for r in results:
        print(
            json.dumps(
                {
                    "batch_id": r.batch_id,
                    "window": [r.lo, r.hi],
                    "tables": {
                        n: {
                            "events": br.n_events,
                            "rejects": br.n_rejects,
                            "upserted": br.merge.rows_upserted if br.merge else 0,
                            "deleted": br.merge.rows_deleted if br.merge else 0,
                            "fenced": bool(br.merge and br.merge.fenced),
                        }
                        for n, br in r.tables.items()
                    },
                }
            )
        )


def cmd_ingest_warc(args) -> None:
    """Crawl → lake: parse WARC/WET segments into the documents-table
    shape and MERGE them keyed by URL (latest fetch wins — WARC-Date
    micros is the sequence, so re-crawls upsert and replayed segments
    are idempotent). The result is a LakeTable ready for the curation
    operators (dedup / quality gate / splits / shards)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from french_admin_etl_spark.config import EngineConfig
    from french_admin_etl_spark.operators.dedup import dedup_max_seq
    from french_admin_etl_spark.sources.warc_source import warc_documents
    from french_admin_etl_spark.table.lake_table import LakeTable

    cfg = EngineConfig.load(
        overrides={"table_root": args.table_root, "num_buckets": args.num_buckets}
        | {"workers": args.cores}
    )
    if cfg.table_root is None:
        raise SystemExit("missing --table-root (or $SPARK_GRAFT_TABLE_ROOT)")
    spark = cfg.session(app_name="ingest_warc")
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("doc_id", T.StringType()),
            T.StructField("fetched_at", T.StringType()),
            T.StructField("content", T.StringType()),
            T.StructField("truncated", T.BooleanType()),
        ]
    )
    if LakeTable.exists(cfg.table_root):
        table = LakeTable(spark, cfg.table_root)
    else:
        table = LakeTable.create(
            spark, cfg.table_root, schema=schema, key_cols=["url"],
            num_buckets=cfg.num_buckets,
        )
    docs = warc_documents(
        spark, args.warc_dir, payload_limit=args.payload_limit,
        text_types=tuple(t.strip() for t in args.text_types.split(",")),
    )
    src = docs.where(
        # a record without WARC-Target-URI has no key: a NULL url never
        # matches in the MERGE join, so it would INSERT a fresh duplicate
        # on every run — drop it (S9: the rest of the segment survives)
        F.col("url").isNotNull()
    ).select(
        "url", "doc_id", "fetched_at", "content", "truncated",
        # WARC-Date (ISO 8601) micros = the merge sequence: the latest
        # fetch of a URL wins, equal-date redelivery is idempotent
        F.coalesce(
            F.unix_micros(F.to_timestamp("fetched_at")), F.lit(0)
        ).alias("lsn"),
        F.lit("U").alias("op"),
    )
    # intra-batch dedup tie-breaks deterministically on doc_id: WARC-Date
    # is second-resolution, so two same-second fetches of one URL would
    # otherwise pick an arbitrary winner per run
    src = dedup_max_seq(
        src.withColumn("_ord", F.struct("lsn", "doc_id")), ["url"], "_ord"
    ).drop("_ord")
    stats = table.merge(src, batch_id=args.batch_id, writer_id=args.writer_id)
    print(
        json.dumps(
            {
                "table_root": cfg.table_root,
                "upserted": stats.rows_upserted,
                "deleted": stats.rows_deleted,
                "fenced": stats.fenced,
            }
        )
    )


def cmd_maintain(args) -> None:
    """Table maintenance trio (run from a scheduler, never inline with
    ingest): compact MOR deltas, expire old snapshot metadata, vacuum
    orphaned data files (age-guarded so in-flight commits survive)."""
    from french_admin_etl_spark.session import get_spark
    from french_admin_etl_spark.table.lake_table import LakeTable

    spark = get_spark(app_name="cdc_maintain", cores=args.cores)
    table = LakeTable(spark, args.table_root)
    out = {"table_root": args.table_root}
    if args.compact:
        out["compacted_to_version"] = table.compact()
    if args.expire_keep_last is not None:
        out["snapshots_expired"] = table.expire_snapshots(keep_last=args.expire_keep_last)
    if args.vacuum:
        out["orphans_removed"] = table.vacuum_orphans(min_age_sec=args.vacuum_min_age)
    if args.vacuum_tombstones_watermark is not None:
        out["tombstone_vacuum_version"] = table.vacuum_tombstones(
            args.vacuum_tombstones_watermark
        )
    if args.prune_fence_prefix:
        out["fences_pruned"] = table.prune_fences(args.prune_fence_prefix)
    if args.rebucket is not None:
        out["rebucketed_to_version"] = table.rebucket(args.rebucket)
    if args.zorder:
        out["zorder_version"] = table.optimize_zorder(args.zorder.split(","))
    if args.sort:
        out["sort_version"] = table.optimize_sort(args.sort.split(","))
    if args.restore is not None:
        out["restored_to_version"] = table.restore(args.restore)
    if args.clone_to:
        table.clone(args.clone_to, deep=args.clone_deep)
        out["cloned_to"] = args.clone_to
        out["clone_deep"] = bool(args.clone_deep)
    if args.delete_where:
        stats = table.delete_where(
            args.delete_where, batch_id=args.delete_batch_id
        )
        out["delete_where"] = {
            "rows_tombstoned": stats.rows_deleted, "fenced": stats.fenced,
        }
    out["current_version"] = table.current_version()
    print(json.dumps(out))


def cmd_view(args) -> None:
    """Maintain an incrementally-updated JOIN view from a scheduler:
    ``--on left_fk=right_key`` pairs and ``--select view_col=right_col``
    pairs define the enrichment; the view table is created on first run
    and advanced to both sources' current versions on every run (the
    sync decides bootstrap / incremental / resync itself)."""
    from french_admin_etl_spark.session import get_spark
    from french_admin_etl_spark.streaming.joinview import JoinView
    from french_admin_etl_spark.table.lake_table import LakeTable

    def pairs(specs):
        out = []
        for s in specs:
            a, _, b = s.partition("=")
            if not a or not b:
                raise SystemExit(f"bad pair {s!r}: expected name=name")
            out.append((a, b))
        return out

    spark = get_spark(app_name="cdc_view", cores=args.cores)
    left = LakeTable(spark, args.left_root)
    right = LakeTable(spark, args.right_root)
    on = pairs(args.on)
    select = dict(pairs(args.select))
    if LakeTable.exists(args.view_root):
        jv = JoinView(
            spark, left, right, LakeTable(spark, args.view_root),
            on=on, select=select, writer_id=args.writer_id,
        )
    else:
        jv = JoinView.create(
            spark, left, right, args.view_root, on=on, select=select,
            writer_id=args.writer_id,
        )
    report = jv.sync()
    print(json.dumps({"view_root": args.view_root, **{
        k: (list(v) if isinstance(v, tuple) else v) for k, v in report.items()
    }}))


def cmd_branch(args) -> None:
    """Operator surface for write-audit-publish: report a branch's staged
    state, gate-and-publish it, or drop it. The audit gate is a SQL
    predicate over the staged (would-be) state — one matching row aborts
    the publish with the branch intact for inspection."""
    from french_admin_etl_spark.session import get_spark
    from french_admin_etl_spark.table.lake_table import LakeTable

    spark = get_spark(app_name="cdc_branch", cores=args.cores)
    table = LakeTable(spark, args.table_root)
    br = table.branch(args.name)
    out = {"table_root": args.table_root, "branch": args.name, "exists": br.exists()}
    if args.drop:
        br.drop()
        out["dropped"] = True
    elif args.publish:
        audit = None
        if args.audit_fail_where:
            pred = args.audit_fail_where

            def audit(df):
                n = df.filter(pred).count()
                if n:
                    raise SystemExit(
                        json.dumps({**out, "published": False,
                                    "audit_failed_rows": n, "predicate": pred})
                    )

        out["published_version"] = br.publish(audit=audit)
        out["published"] = True
    elif br.exists():
        state = br._load()
        out.update(
            parent_version=state["parent_version"],
            staged_commits=state["commits"],
            staged_rows=sum(g.get("rows", 0) for g in state["file_groups"]),
            staged_live_rows=br.read().count(),
        )
    print(json.dumps(out))


def cmd_demo(args) -> None:
    from french_admin_etl_spark import datagen
    from french_admin_etl_spark.session import get_spark
    from french_admin_etl_spark.sources.event_log import EVENT_SCHEMA, EventLog
    from french_admin_etl_spark.streaming.apply import CDCApplyJob
    from french_admin_etl_spark.streaming.checkpoint import CheckpointStore

    os.makedirs(args.workdir, exist_ok=True)
    spark = get_spark(app_name="cdc_demo", cores=args.cores)
    ev = datagen.gen_change_events(
        n_events=args.n_events, n_keys=max(100, args.n_events // 10)
    )
    log_dir = os.path.join(args.workdir, "event_log")
    spark.createDataFrame(ev, schema=EVENT_SCHEMA).write.mode("overwrite").parquet(log_dir)
    table = _mk_table(spark, os.path.join(args.workdir, "repos_table"), args.num_buckets)
    job = CDCApplyJob(spark, table)
    results = job.run_incremental(
        EventLog(spark, log_dir),
        CheckpointStore(os.path.join(args.workdir, "ckpt.json")),
        batch_lsns=max(1, args.n_events // 4) + 1,
    )
    applied = sum(r.n_events for r in results)
    got = {
        (r["repo"], r["path"]): r["content_sha"]
        for r in table.read().select("repo", "path", "content_sha").collect()
    }
    exp = {
        (r.repo, r.path): r.content_sha
        for r in datagen.expected_final_state(ev).itertuples()
    }
    ok = got == exp
    print(
        json.dumps(
            {
                "events_applied": applied,
                "final_rows": len(got),
                "oracle_rows": len(exp),
                "sha256_state_match": ok,
            }
        )
    )
    sys.exit(0 if ok else 1)


def main() -> None:
    p = argparse.ArgumentParser(description="PySpark CDC/incremental-ingest engine")
    sub = p.add_subparsers(dest="cmd", required=True)

    ap = sub.add_parser("apply", help="incremental exactly-once apply")
    # every flag falls back to $SPARK_GRAFT_* / .env via EngineConfig
    ap.add_argument("--log-dir", default=None)
    ap.add_argument("--table-root", default=None)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--batch-lsns", type=int, default=None)
    ap.add_argument("--num-buckets", type=int, default=None)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--dead-letter-dir", default=None)
    ap.add_argument("--lineage-dir", default=None)
    ap.add_argument("--stream", action="store_true", help="use Structured Streaming driver")
    ap.add_argument("--writer-id", default=None,
                    help="namespace the exactly-once fence per writer; REQUIRED "
                         "(distinct per job) when several jobs with independent "
                         "batch-id sequences feed one table")
    ap.set_defaults(fn=cmd_apply)

    cp = sub.add_parser("cascade", help="tail one table's changes() into another")
    cp.add_argument("--source-root", required=True)
    cp.add_argument("--target-root", required=True)
    cp.add_argument("--checkpoint", required=True)
    cp.add_argument("--writer-id", default="cascade")
    cp.add_argument("--cores", type=int, default=None)
    cp.set_defaults(fn=cmd_cascade)

    gp = sub.add_parser("dag", help="FK-ordered multi-table apply over one envelope log")
    gp.add_argument("--log-dir", required=True)
    gp.add_argument("--table-root", required=True,
                    help="parent dir; each table lives at <root>/<name>")
    gp.add_argument("--tables-json", required=True,
                    help="JSON spec: tables {name: {schema, keys[, merge_mode]}}, "
                         "edges [[child, fk, parent, pk], ...], "
                         "fk_indexes [[child, fk], ...] (opt-in narrow index for the delete gate)")
    gp.add_argument("--checkpoint", required=True)
    gp.add_argument("--batch-lsns", type=int, default=1_000_000)
    gp.add_argument("--num-buckets", type=int, default=32)
    gp.add_argument("--writer-id", default="dag")
    gp.add_argument("--gate", choices=["post", "pre"], default="post",
                    help="FK gate placement: detect post-commit or prevent pre-commit (WAP)")
    gp.add_argument("--on-violation", choices=["halt", "record"], default="halt")
    gp.add_argument("--requeue-quarantined", action="store_true",
                    help="drain mode: re-apply windows quarantined by "
                         "gate=pre on_violation=record (after upstream repair)")
    gp.add_argument("--repair-where", default=None,
                    help="SQL boolean over the envelope columns; events where "
                         "it is false are dropped from the requeued replay")
    gp.add_argument("--group-commit", type=int, default=1,
                    help="coalesce up to N pending windows into one apply "
                         "when the log is behind (catch-up throughput)")
    gp.add_argument("--stream", action="store_true",
                    help="Structured Streaming driver (availableNow over sealed segments)")
    gp.add_argument("--cores", type=int, default=None)
    gp.set_defaults(fn=cmd_dag)

    wp = sub.add_parser(
        "ingest-warc",
        help="parse WARC/WET crawl segments into a URL-keyed documents table",
    )
    wp.add_argument("warc_dir", help="directory of .warc / .warc.gz segments")
    wp.add_argument("--table-root", default=None)
    wp.add_argument("--num-buckets", type=int, default=None)
    wp.add_argument("--payload-limit", type=int, default=1 << 20)
    wp.add_argument("--text-types", default="text/html,text/plain")
    wp.add_argument("--batch-id", type=int, default=None)
    wp.add_argument("--writer-id", default=None)
    wp.add_argument("--cores", type=int, default=None)
    wp.set_defaults(fn=cmd_ingest_warc)

    mp = sub.add_parser("maintain", help="compact / expire snapshots / vacuum")
    mp.add_argument("--table-root", required=True)
    mp.add_argument("--compact", action="store_true")
    mp.add_argument("--expire-keep-last", type=int, default=None)
    mp.add_argument("--vacuum", action="store_true")
    mp.add_argument("--vacuum-min-age", type=float, default=300.0,
                    help="never delete unreferenced files younger than this "
                         "(protects in-flight commits)")
    mp.add_argument("--vacuum-tombstones-watermark", type=int, default=None)
    mp.add_argument("--prune-fence-prefix", default=None,
                    help="drop retired fence properties with this key prefix "
                         "(e.g. 'last_batch_id.job1.stream.' after a stream "
                         "checkpoint is decommissioned)")
    mp.add_argument("--delete-where", default=None, metavar="SQL_PREDICATE",
                    help="tombstone every live row matching this predicate "
                         "(GDPR erasure, e.g. \"repo = 'acme/secrets'\")")
    mp.add_argument("--delete-batch-id", type=int, default=None,
                    help="fence id for --delete-where (makes retries no-ops)")
    mp.add_argument("--rebucket", type=int, default=None, metavar="N",
                    help="partition evolution: rewrite into N hash buckets")
    mp.add_argument("--zorder", default=None, metavar="COL,COL[,COL]",
                    help="rewrite with a Z-order (Morton) layout over these "
                         "columns (multi-dimensional file pruning)")
    mp.add_argument("--sort", default=None, metavar="COL[,COL]",
                    help="rewrite with a lexicographic sorted layout")
    mp.add_argument("--restore", type=int, default=None, metavar="VERSION",
                    help="roll the table back to this version (new commit; "
                         "history retained)")
    mp.add_argument("--clone-to", default=None, metavar="PATH",
                    help="clone the current state to a new table (shallow "
                         "by-reference unless --clone-deep)")
    mp.add_argument("--clone-deep", action="store_true")
    mp.add_argument("--cores", type=int, default=None)
    mp.set_defaults(fn=cmd_maintain)

    vp = sub.add_parser(
        "view", help="maintain an incrementally-updated join view (scheduler-run)"
    )
    vp.add_argument("--left-root", required=True)
    vp.add_argument("--right-root", required=True)
    vp.add_argument("--view-root", required=True)
    vp.add_argument("--on", nargs="+", required=True, metavar="LEFT_FK=RIGHT_KEY")
    vp.add_argument("--select", nargs="+", required=True, metavar="VIEW_COL=RIGHT_COL")
    vp.add_argument("--writer-id", default="joinview")
    vp.add_argument("--cores", type=int, default=None)
    vp.set_defaults(fn=cmd_view)

    bp = sub.add_parser(
        "branch", help="write-audit-publish: inspect / publish / drop a staged branch"
    )
    bp.add_argument("--table-root", required=True)
    bp.add_argument("--name", required=True)
    bp.add_argument("--publish", action="store_true")
    bp.add_argument("--drop", action="store_true")
    bp.add_argument("--audit-fail-where", default=None, metavar="SQL_PREDICATE",
                    help="abort the publish if ANY staged-state row matches "
                         "(e.g. \"content_sha IS NULL\") — the audit gate")
    bp.add_argument("--cores", type=int, default=None)
    bp.set_defaults(fn=cmd_branch)

    dp = sub.add_parser("demo", help="synthetic end-to-end with oracle check")
    dp.add_argument("--workdir", required=True)
    dp.add_argument("--n-events", type=int, default=100_000)
    dp.add_argument("--num-buckets", type=int, default=32)
    dp.add_argument("--cores", type=int, default=None)
    dp.set_defaults(fn=cmd_demo)

    args = p.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
