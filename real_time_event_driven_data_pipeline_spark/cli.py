"""Job entry points with the reference's exit-code contract (S7/S8).

The reference ships two containerized jobs driven by env vars and
reporting their verdict via exit code for Step Functions branching
(reference: docker-images/validation/validate.py:16-19,177-189;
docker-images/transformation/transform.py:19-25,204-227).  Ours
exposes the same surface as subcommands of one CLI:

    python -m real_time_event_driven_data_pipeline_spark.cli validate \
        --products P.csv --orders ORDERS_DIR/ --order-items ITEMS_DIR/
    python -m real_time_event_driven_data_pipeline_spark.cli transform \
        --products ... --orders ... --order-items ... --store kpis.db
    python -m real_time_event_driven_data_pipeline_spark.cli pipeline \
        --landing-dir DIR --work-dir WORK --store kpis.db

Exit codes: 0 = success, 1 = validation failure / job error — the same
contract the reference's orchestrator branches on.  Paths may be single
files or folders of part files (S1/S2); env-var fallbacks mirror the
reference's configuration style.
"""

from __future__ import annotations

import argparse
import logging
import os
import sys

from pyspark.sql import SparkSession

logging.basicConfig(
    level=logging.INFO, format="%(asctime)s %(levelname)s %(name)s %(message)s"
)
logger = logging.getLogger("rtedp")


def _load_ecom(spark: SparkSession, args) -> dict:
    from .schemas import ECOM_SCHEMAS, nullable_copy
    from .sources.readers import read_csv_table

    paths = {
        "products": args.products or os.environ.get("ECOM_PRODUCTS_PATH"),
        "orders": args.orders or os.environ.get("ECOM_ORDERS_PATH"),
        "order_items": args.order_items or os.environ.get("ECOM_ORDER_ITEMS_PATH"),
    }
    missing = [k for k, v in paths.items() if not v]
    if missing:
        raise SystemExit(f"missing input paths: {missing}")
    return {
        name: read_csv_table(
            spark, path, nullable_copy(ECOM_SCHEMAS[name]), check_non_empty=True
        )
        for name, path in paths.items()
    }


def cmd_validate(spark: SparkSession, args) -> int:
    """The reference's validation job (validate.py:100-189), fused plans."""
    from .operators.validation import validate_tables
    from .schemas import ECOM_FOREIGN_KEYS, ECOM_PRIMARY_KEYS, ECOM_SCHEMAS

    tables = _load_ecom(spark, args)
    report = validate_tables(
        tables,
        ECOM_SCHEMAS,
        ECOM_PRIMARY_KEYS,
        [(c, ck, p, pk) for c, ck, p, pk in ECOM_FOREIGN_KEYS],
    )
    for check in report.checks:
        level = logging.INFO if check.passed else logging.ERROR
        logger.log(
            level,
            "check table=%s name=%s passed=%s %s %s",
            check.table,
            check.check,
            check.passed,
            check.detail,
            f"offenders={check.offenders[:5]}" if check.offenders else "",
        )
    logger.info("validation verdict: %s", "PASS" if report.passed else "FAIL")
    return 0 if report.passed else 1


def cmd_transform(spark: SparkSession, args) -> int:
    """The reference's KPI job (transform.py:204-227) with the
    executor-side sink replacing its driver-side collect loop."""
    from .operators.kpis import category_kpis, order_kpis
    from .sinks.kv import write_kv_upsert

    tables = _load_ecom(spark, args)
    for df in tables.values():
        df.cache()
    cat = category_kpis(tables["order_items"], tables["orders"], tables["products"])
    order = order_kpis(tables["orders"], tables["order_items"])
    store = args.store or os.environ.get("KPI_STORE_PATH", "kpis.db")
    write_kv_upsert(
        {
            "category_kpis": (cat, ["category", "order_date"]),
            "order_kpis": (order, ["order_date"]),
        },
        store,
    )
    logger.info("KPI tables written to %s", store)
    return 0


def cmd_pipeline(spark: SparkSession, args) -> int:
    """One event-driven activation: drain landing dir, validate,
    quarantine-or-serve (SURVEY §3.3 collapsed into one app)."""
    from pyspark.sql import functions as F

    from .schemas import ECOM_ORDER_ITEMS, nullable_copy
    from .streaming.pipeline import EventDrivenPipeline

    def _daily_item_revenue(valid):
        return (
            valid.withColumn("order_date", F.to_date("created_at"))
            .groupBy("order_date")
            .agg(F.round(F.sum("sale_price"), 2).alias("daily_revenue"))
        )

    work = args.work_dir
    pipe = EventDrivenPipeline(
        spark,
        landing_dir=args.landing_dir,
        schema=nullable_copy(ECOM_ORDER_ITEMS),
        contract_schema=ECOM_ORDER_ITEMS,
        table_name="order_items",
        valid_dir=f"{work}/valid",
        quarantine_dir=f"{work}/quarantine",
        checkpoint_dir=f"{work}/checkpoint",
        primary_key=["id"],
        kpi_fns={"daily_revenue": _daily_item_revenue},
        kv_store_path=args.store or f"{work}/kpis.db",
        kpi_key_cols={"daily_revenue": ["order_date"]},
    )
    pipe.run_available_now()
    verdicts = [(epoch, r.passed) for epoch, r in pipe.reports]
    logger.info("activation complete; batch verdicts: %s", verdicts)
    return 0


def cmd_maintain(spark: SparkSession, args) -> int:
    """Post-ingestion table maintenance: compact fragmented partitions
    (the operational follow-up to streaming appends; sinks/maintenance).
    ``--partition-cols ''`` selects the unpartitioned path (e.g. the
    streaming key-index sidecar), compacted via atomic directory swap."""
    from .sinks.maintenance import (
        compact_partitions,
        compact_unpartitioned,
        partition_file_stats,
        recover_compaction,
    )

    # crash-window recovery first, unconditionally: a maintain run that
    # died inside compact_unpartitioned's directory swap leaves the
    # table at <path>.compact-old — restore it before touching anything,
    # so recovery needs no operator knowledge (r3 verdict item 7)
    if recover_compaction(spark, args.path):
        logger.warning("recovered %s from interrupted compaction", args.path)

    target = args.target_file_mb * 1024 * 1024
    if not args.partition_cols:
        n_out = compact_unpartitioned(
            spark, args.path, target_file_bytes=target, min_files_to_compact=args.min_files
        )
        logger.info(
            "compaction done: %s",
            f"table rewritten into {n_out} file(s)" if n_out else "below threshold, no-op",
        )
        return 0
    before = partition_file_stats(spark, args.path)
    done = compact_partitions(
        spark,
        args.path,
        args.partition_cols.split(","),
        target_file_bytes=target,
        min_files_to_compact=args.min_files,
    )
    for part, n_out in sorted(done.items()):
        logger.info(
            "compacted %s: %d files -> %d", part, before[part][0], n_out
        )
    logger.info("compaction done: %d partitions rewritten", len(done))
    return 0


def cmd_zorder(spark: SparkSession, args) -> int:
    """Rewrite a parquet table Z-order-clustered on the given columns
    (multi-column min/max file pruning; sinks/layout.py).  Writes to
    --out; rewriting in place would race readers of the source files."""
    from .sinks.layout import zorder

    df = spark.read.parquet(args.path)
    cols = args.cols.split(",")
    zorder(df, cols, args.n_files).write.mode("overwrite").parquet(args.out)
    logger.info(
        "z-ordered %s by (%s) into %d files at %s",
        args.path,
        args.cols,
        args.n_files,
        args.out,
    )
    return 0


def cmd_export(spark: SparkSession, args) -> int:
    """Ship a curated corpus as deterministic training shards + manifest
    (the loader hand-off; sinks/maintenance.py::export_training_shards)."""
    from .sinks.maintenance import export_training_shards

    df = spark.read.parquet(args.corpus)
    manifest = export_training_shards(
        df, args.out, rows_per_shard=args.rows_per_shard, id_col=args.id_col
    )
    logger.info(
        "exported %d rows into %d shard(s) at %s",
        manifest["n_rows"],
        manifest["n_shards"],
        args.out,
    )
    return 0


def cmd_dims(spark: SparkSession, args) -> int:
    """Drain a CDC landing dir into the SCD2 dimension history
    (streaming/dimensions.py): one availableNow activation, per-batch
    bucket-pruned MERGE."""
    from .streaming.dimensions import run_scd2_stream

    schema = spark.read.parquet(args.landing_dir).schema
    stream = spark.readStream.schema(schema).parquet(args.landing_dir)
    q = run_scd2_stream(
        stream,
        args.history,
        args.checkpoint,
        key_cols=args.keys.split(","),
        attr_cols=args.attrs.split(","),
        ts_col=args.ts_col,
        tiebreak_cols=args.tiebreak.split(",") if args.tiebreak else None,
        n_buckets=args.n_buckets,
    )
    q.awaitTermination()
    logger.info("dimension history updated at %s", args.history)
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="rtedp-spark")
    sub = parser.add_subparsers(dest="command", required=True)
    for name in ("validate", "transform"):
        p = sub.add_parser(name)
        p.add_argument("--products")
        p.add_argument("--orders")
        p.add_argument("--order-items", dest="order_items")
        if name == "transform":
            p.add_argument("--store")
    p = sub.add_parser("pipeline")
    p.add_argument("--landing-dir", required=True)
    p.add_argument("--work-dir", required=True)
    p.add_argument("--store")
    p = sub.add_parser("maintain")
    p.add_argument("--path", required=True)
    p.add_argument("--partition-cols", dest="partition_cols", default="")
    p.add_argument("--target-file-mb", dest="target_file_mb", type=int, default=128)
    p.add_argument("--min-files", dest="min_files", type=int, default=4)
    p = sub.add_parser("zorder")
    p.add_argument("--path", required=True)
    p.add_argument("--cols", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--n-files", dest="n_files", type=int, default=8)
    p = sub.add_parser("dims")
    p.add_argument("--landing-dir", dest="landing_dir", required=True)
    p.add_argument("--history", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--keys", required=True)
    p.add_argument("--attrs", required=True)
    p.add_argument("--ts-col", dest="ts_col", default="ts")
    p.add_argument("--tiebreak", default="")
    p.add_argument("--n-buckets", dest="n_buckets", type=int, default=64)
    p = sub.add_parser("export")
    p.add_argument("--corpus", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--rows-per-shard", dest="rows_per_shard", type=int, default=100_000)
    p.add_argument("--id-col", dest="id_col", default="doc_id")
    args = parser.parse_args(argv)

    from .session import get_spark

    # reuse an existing session (e.g. under a test harness) and only
    # stop one we created ourselves
    existing = SparkSession.getActiveSession()
    spark = existing or get_spark(f"rtedp-{args.command}")
    try:
        handler = {
            "validate": cmd_validate,
            "transform": cmd_transform,
            "pipeline": cmd_pipeline,
            "maintain": cmd_maintain,
            "zorder": cmd_zorder,
            "dims": cmd_dims,
            "export": cmd_export,
        }[args.command]
        return handler(spark, args)
    except Exception:
        logger.exception("job failed")
        return 1
    finally:
        if existing is None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
