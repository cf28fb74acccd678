"""KV sink: executor-side writes, serialization contract, idempotency."""

from real_time_event_driven_data_pipeline_spark.operators.kpis import category_kpis
from real_time_event_driven_data_pipeline_spark.schemas import ECOM_SCHEMAS
from real_time_event_driven_data_pipeline_spark.sinks.kv import (
    SQLiteKVStore,
    serialize_row,
    write_kv_batch,
)

from .ecom_fixtures import make_ecom, to_spark


def test_serialize_row_contract():
    import datetime as dt

    out = serialize_row(
        {
            "d": dt.date(2025, 3, 8),
            "ts": dt.datetime(2025, 3, 8, 12, 30, 1),
            "money": 123.456,
            "n": 7,
            "s": "x",
        }
    )
    assert out == {
        "d": "2025-03-08",
        "ts": "2025-03-08T12:30:01",
        "money": "123.46",
        "n": 7,
        "s": "x",
    }


def test_write_kv_batch_roundtrip_and_idempotency(spark, tmp_path):
    products, orders, order_items = make_ecom(n_products=100, n_orders=80, seed=3)
    kpis = category_kpis(
        to_spark(spark, order_items, ECOM_SCHEMAS["order_items"]),
        to_spark(spark, orders, ECOM_SCHEMAS["orders"]),
        to_spark(spark, products, ECOM_SCHEMAS["products"]),
    )
    n = kpis.count()
    store_path = str(tmp_path / "kv.db")
    write_kv_batch(kpis, store_path, ["category", "order_date"], table="category_kpis")
    store = SQLiteKVStore(store_path, "category_kpis")
    assert store.count() == n
    # idempotent upsert: rewriting the same rows must not grow the table
    write_kv_batch(kpis, store_path, ["category", "order_date"], table="category_kpis")
    assert store.count() == n
    sample = kpis.limit(1).collect()[0].asDict()
    key = f"{sample['category']}|{sample['order_date']:%Y-%m-%d}"
    item = store.get(key)
    assert item is not None
    assert item["daily_revenue"] == str(round(sample["daily_revenue"], 2))
    assert item["order_date"] == f"{sample['order_date']:%Y-%m-%d}"


# --- partitioned analytical sink: dynamic overwrite + MERGE upsert ---


def _read_days(spark, path):
    rows = spark.read.parquet(path).collect()
    return {(r.day, r.k): r.v for r in rows}


def test_overwrite_partitions_replaces_only_touched(spark, tmp_path):
    from real_time_event_driven_data_pipeline_spark.sinks.tables import overwrite_partitions

    path = str(tmp_path / "kpis")
    base = spark.createDataFrame(
        [("d1", 1, 10.0), ("d1", 2, 20.0), ("d2", 1, 30.0), ("d3", 1, 40.0)],
        "day string, k int, v double",
    )
    overwrite_partitions(base, path, ["day"])
    # re-publish d2 only, with different content
    patch = spark.createDataFrame([("d2", 9, 99.0)], "day string, k int, v double")
    overwrite_partitions(patch, path, ["day"])
    got = _read_days(spark, path)
    assert got == {("d1", 1): 10.0, ("d1", 2): 20.0, ("d2", 9): 99.0, ("d3", 1): 40.0}


def test_merge_upsert_partitioned_key_semantics(spark, tmp_path):
    from real_time_event_driven_data_pipeline_spark.sinks.tables import (
        merge_upsert_partitioned,
        overwrite_partitions,
    )

    path = str(tmp_path / "kpis")
    base = spark.createDataFrame(
        [("d1", 1, 10.0), ("d1", 2, 20.0), ("d2", 1, 30.0)],
        "day string, k int, v double",
    )
    overwrite_partitions(base, path, ["day"])
    updates = spark.createDataFrame(
        # update (d1,2), insert (d1,3), insert new day d9
        [("d1", 2, 21.0), ("d1", 3, 31.0), ("d9", 1, 90.0)],
        "day string, k int, v double",
    )
    merge_upsert_partitioned(spark, updates, path, ["day", "k"], ["day"])
    got = _read_days(spark, path)
    assert got == {
        ("d1", 1): 10.0,   # untouched key in touched partition survives
        ("d1", 2): 21.0,   # replaced
        ("d1", 3): 31.0,   # inserted
        ("d2", 1): 30.0,   # untouched partition intact
        ("d9", 1): 90.0,   # new partition created
    }
    # idempotent: re-applying the same batch changes nothing
    merge_upsert_partitioned(spark, updates, path, ["day", "k"], ["day"])
    assert _read_days(spark, path) == got


def test_merge_upsert_into_empty_dir(spark, tmp_path):
    from real_time_event_driven_data_pipeline_spark.sinks.tables import merge_upsert_partitioned

    path = str(tmp_path / "fresh")
    updates = spark.createDataFrame([("d1", 1, 1.0)], "day string, k int, v double")
    merge_upsert_partitioned(spark, updates, path, ["day", "k"], ["day"])
    assert _read_days(spark, path) == {("d1", 1): 1.0}


def test_merge_readback_predicate_partition_prunes(spark, tmp_path):
    from real_time_event_driven_data_pipeline_spark.sinks.tables import (
        overwrite_partitions,
        touched_partitions_predicate,
    )

    path = str(tmp_path / "pruned")
    base = spark.createDataFrame(
        [("d1", 1, 1.0), ("d2", 1, 2.0), ("d3", 1, 3.0)],
        "day string, k int, v double",
    )
    overwrite_partitions(base, path, ["day"])
    pred = touched_partitions_predicate([{"day": "d1"}, {"day": "d3"}], ["day"])
    df = spark.read.parquet(path).filter(pred)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "d1" in pf and "d3" in pf, f"predicate not pruned: {pf}"
    # and no residual data filter opens files in other partitions
    assert df.count() == 2


def test_sinks_never_write_ntz_parquet(spark, tmp_path):
    """Guard for the session-global inferTimestampNTZ=false (ADVICE r1):
    that conf is only safe while the engine never writes TIMESTAMP_NTZ
    parquet itself.  Push a timestamp column through the analytical sink
    and assert the written file reads back as plain TimestampType."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from real_time_event_driven_data_pipeline_spark.sinks.tables import (
        overwrite_partitions,
    )

    df = spark.range(10).select(
        F.col("id"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
        (F.col("id") % 2).alias("day"),
    )
    out = str(tmp_path / "ntz_probe")
    overwrite_partitions(df, out, ["day"])

    # physical check: parquet logical type must be UTC-adjusted (instant),
    # not NTZ — independent of any read-time session conf
    import glob

    files = glob.glob(f"{out}/**/*.parquet", recursive=True)
    assert files
    ts_field = pq.read_schema(files[0]).field("ts")
    assert getattr(ts_field.type, "tz", None) is not None, (
        f"sink wrote NTZ parquet: {ts_field}"
    )

    # logical check: read-back is TimestampType under the engine session
    back = spark.read.parquet(out)
    assert isinstance(back.schema["ts"].dataType, T.TimestampType)


def test_kv_store_protocol_pluggable(spark, tmp_path):
    """Same upsert contract against both adapters (the Protocol slot a
    DynamoDB writer would fill): executor-side write, idempotent rewrite,
    typed read-back — identical items from either store."""
    import pytest  # noqa: F401
    from real_time_event_driven_data_pipeline_spark.sinks.kv import (
        JsonDirKVStore,
        KVStore,
    )

    products, orders, order_items = make_ecom(n_products=60, n_orders=50, seed=11)
    kpis = category_kpis(
        to_spark(spark, order_items, ECOM_SCHEMAS["order_items"]),
        to_spark(spark, orders, ECOM_SCHEMAS["orders"]),
        to_spark(spark, products, ECOM_SCHEMAS["products"]),
    ).cache()
    n = kpis.count()
    key_cols = ["category", "order_date"]

    sqlite_path = str(tmp_path / "kv.db")
    json_dir = str(tmp_path / "kvdir")

    def sqlite_factory():
        return SQLiteKVStore(sqlite_path, "kpis")

    def jsondir_factory():
        return JsonDirKVStore(json_dir)

    stores = {}
    for factory in (sqlite_factory, jsondir_factory):
        assert isinstance(factory(), KVStore)  # structural conformance
        write_kv_batch(kpis, "", key_cols, store_factory=factory)
        write_kv_batch(kpis, "", key_cols, store_factory=factory)  # idempotent
        store = factory()
        assert store.count() == n
        stores[factory.__name__] = store.all_items()

    assert stores["sqlite_factory"] == stores["jsondir_factory"]


def test_multi_table_upsert_byte_equal_to_per_table_writes(spark, tmp_path):
    """Both KPI tables of an activation in one ``write_kv_upsert`` job
    store exactly the keys and value strings that per-table
    ``write_kv_batch`` writes, and that the driver-side serialization
    contract produces."""
    import json
    import sqlite3

    from real_time_event_driven_data_pipeline_spark.operators.kpis import order_kpis
    from real_time_event_driven_data_pipeline_spark.sinks.kv import _make_key, write_kv_upsert

    products, orders, order_items = make_ecom(n_products=80, n_orders=70, seed=5)
    items = to_spark(spark, order_items, ECOM_SCHEMAS["order_items"])
    odf = to_spark(spark, orders, ECOM_SCHEMAS["orders"])
    tables = {
        "category_kpis": (
            category_kpis(items, odf, to_spark(spark, products, ECOM_SCHEMAS["products"])),
            ["category", "order_date"],
        ),
        # several partitions in the second table: every task must find
        # its own table from its partition index in the union
        "order_kpis": (order_kpis(odf, items).repartition(3), ["order_date"]),
    }
    multi, single = str(tmp_path / "multi.db"), str(tmp_path / "single.db")
    write_kv_upsert(tables, multi)
    for name, (df, keys) in tables.items():
        write_kv_batch(df, single, keys, table=name)

    def raw(path, table):
        with sqlite3.connect(path) as con:
            return dict(con.execute(f"SELECT k, v FROM {table}").fetchall())

    for name, (df, keys) in tables.items():
        want = {
            _make_key(r.asDict(), keys): json.dumps(serialize_row(r.asDict()))
            for r in df.collect()
        }
        assert len(want) > 1
        assert raw(multi, name) == raw(single, name) == want
