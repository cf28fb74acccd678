"""Key-value serving sink, executor-side.

The reference's biggest scalability bug is its sink: ``collect()`` the
whole KPI result to the driver, then sequential boto3 ``put_item``
calls (reference: docker-images/transformation/transform.py:149-202).
Fine at 250 rows; O(result) driver memory and zero parallelism at
100 TB.  Ours keeps writes on the executors:

- ``write_kv_upsert({table: (df, key_cols), ...}, ...)`` upserts every
  table of one activation in ONE Spark job: the tables' row RDDs are
  unioned on the JVM side, and each task of the job's single stage
  writes one partition of one table from one Python worker, so an
  ``EventDrivenPipeline`` activation serving two KPI tables pays one
  job and one Python write stage, not one per table.  Idempotent per key (exactly-once under retries given a deterministic
  key, the standard Structured Streaming sink contract).
- ``write_kv_batch(df, ...)``: the one-table call of the same job.

The store is pluggable; ``SQLiteKVStore`` is the local stand-in for a
DynamoDB-style table (INSERT OR REPLACE == put_item upsert).  The
serialization contract mirrors the reference's typed-attribute
conversion (transform.py:161-167,188-195): dates/timestamps ->
ISO strings, floats -> 2-dp Decimal-safe strings, ints -> ints.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import hashlib
import json
import os
import sqlite3
import time
from collections.abc import Callable
from decimal import Decimal
from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame


@runtime_checkable
class KVStore(Protocol):
    """Serving-store adapter contract — the slot the reference fills with
    a boto3 DynamoDB ``table.batch_writer().put_item`` loop (reference:
    docker-images/transformation/transform.py:149-202).

    Requirements on an implementation:
    - constructible on the EXECUTOR (the factory closure must pickle);
    - ``put_batch`` is an upsert (last write per key wins) and safe under
      concurrent calls from parallel partitions;
    - ``get`` returns the deserialized row dict or None.
    A DynamoDB adapter is this Protocol + boto3 calls; the engine code
    (``write_kv_batch`` / ``write_kv_upsert``) never changes.
    """

    def put_batch(self, items: list[tuple[str, str]]) -> None: ...

    def get(self, key: str) -> dict | None: ...


def serialize_row(row_dict: dict) -> dict:
    """Reference type-conversion contract, applied engine-side."""
    out = {}
    for k, v in row_dict.items():
        if isinstance(v, _dt.datetime):
            out[k] = v.strftime("%Y-%m-%dT%H:%M:%S")
        elif isinstance(v, _dt.date):
            out[k] = v.strftime("%Y-%m-%d")
        elif isinstance(v, float):
            # Decimal-safe: serialize via str to avoid binary artifacts
            out[k] = str(Decimal(str(round(v, 2))))
        else:
            out[k] = v
    return out


class SQLiteKVStore:
    """DynamoDB-style upsert table stand-in (works across the Python
    worker processes of local mode via file locking + retries)."""

    def __init__(self, path: str, table: str = "kv"):
        self.path = path
        self.table = table
        with self._connect() as con:
            con.execute(
                f"CREATE TABLE IF NOT EXISTS {self.table} "
                "(k TEXT PRIMARY KEY, v TEXT NOT NULL)"
            )

    def _connect(self) -> sqlite3.Connection:
        con = sqlite3.connect(self.path, timeout=60)
        con.execute("PRAGMA busy_timeout=60000")
        return con

    def put_batch(self, items: list[tuple[str, str]]) -> None:
        for attempt in range(8):
            try:
                with self._connect() as con:
                    con.executemany(
                        f"INSERT OR REPLACE INTO {self.table} (k, v) VALUES (?, ?)",
                        items,
                    )
                return
            except sqlite3.OperationalError:
                if attempt == 7:
                    raise
                time.sleep(0.1 * (attempt + 1))

    def get(self, key: str) -> dict | None:
        with self._connect() as con:
            row = con.execute(
                f"SELECT v FROM {self.table} WHERE k = ?", (key,)
            ).fetchone()
        return json.loads(row[0]) if row else None

    def count(self) -> int:
        with self._connect() as con:
            return con.execute(f"SELECT COUNT(*) FROM {self.table}").fetchone()[0]

    def all_items(self) -> dict[str, dict]:
        with self._connect() as con:
            rows = con.execute(f"SELECT k, v FROM {self.table}").fetchall()
        return {k: json.loads(v) for k, v in rows}


class JsonDirKVStore:
    """Second ``KVStore`` implementation: one JSON file per key under a
    directory, addressed by key hash.  Upserts are atomic tmp+rename, so
    concurrent partitions never need a lock (last rename wins — the same
    last-writer-wins contract as a DynamoDB put_item).  Exists to prove
    the adapter slot is genuinely pluggable, and as a zero-dependency
    store for tests and local pipelines."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _file(self, key: str) -> str:
        return os.path.join(self.path, hashlib.sha256(key.encode()).hexdigest() + ".json")

    def put_batch(self, items: list[tuple[str, str]]) -> None:
        for key, value in items:
            target = self._file(key)
            tmp = f"{target}.tmp.{os.getpid()}"
            with open(tmp, "w") as f:
                f.write(json.dumps({"k": key, "v": value}))
            os.replace(tmp, target)

    def get(self, key: str) -> dict | None:
        try:
            with open(self._file(key)) as f:
                return json.loads(json.load(f)["v"])
        except FileNotFoundError:
            return None

    def count(self) -> int:
        return sum(1 for n in os.listdir(self.path) if n.endswith(".json"))

    def all_items(self) -> dict[str, dict]:
        out = {}
        for n in os.listdir(self.path):
            if n.endswith(".json"):
                with open(os.path.join(self.path, n)) as f:
                    rec = json.load(f)
                out[rec["k"]] = json.loads(rec["v"])
        return out


def _make_key(row_dict: dict, key_cols: list[str]) -> str:
    ser = serialize_row({c: row_dict[c] for c in key_cols})
    return "|".join(str(ser[c]) for c in key_cols)


def write_kv_upsert(
    tables: dict[str, tuple[DataFrame, list[str]]],
    store_path: str,
    store_factory: Callable[[str], KVStore] | None = None,
) -> None:
    """Idempotent keyed upsert of several tables in ONE Spark job.

    ``tables`` maps a table name to (frame, key columns).  The frames'
    row RDDs are unioned on the JVM side, so the job has one stage and
    each of its tasks makes one Python pass, writing one partition of
    one table; a task finds its table from its partition index (the
    union lays each table's partitions out contiguously, in order).
    Keys and values are ``_make_key`` / ``json.dumps(serialize_row)``.

    ``store_factory(table)`` selects the adapter (must be a pickle-safe
    closure); default is the SQLite stand-in at ``store_path``.
    """
    if not tables:
        return
    if store_factory is None:
        def store_factory(table: str) -> KVStore:
            return SQLiteKVStore(store_path, table)

    names, key_cols, rdds, starts = [], [], [], []
    n_parts = 0
    for name, (df, keys) in tables.items():
        names.append(name)
        key_cols.append(keys)
        rdds.append(df.rdd)
        starts.append(n_parts)
        n_parts += rdds[-1].getNumPartitions()

    def _write_partition(index: int, rows):
        t = bisect.bisect_right(starts, index) - 1
        store, keys, items = store_factory(names[t]), key_cols[t], []
        for row in rows:
            d = row.asDict()
            items.append((_make_key(d, keys), json.dumps(serialize_row(d))))
            if len(items) >= 500:
                store.put_batch(items)
                items = []
        if items:
            store.put_batch(items)
        return iter(())

    rdds[0].context.union(rdds).mapPartitionsWithIndex(_write_partition).count()


def write_kv_batch(
    df: DataFrame,
    store_path: str,
    key_cols: list[str],
    table: str = "kv",
    store_factory: Callable[[], KVStore] | None = None,
) -> None:
    """One table through ``write_kv_upsert`` (the reference's driver
    loop, distributed: each partition serializes and writes its own
    rows).  ``store_factory`` takes no argument here."""
    write_kv_upsert(
        {table: (df, key_cols)},
        store_path,
        None if store_factory is None else lambda _table: store_factory(),
    )
