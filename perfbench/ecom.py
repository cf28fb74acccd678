"""``ecom_arrivals``: the paper's own path, file lands -> KPIs served.

``EventDrivenPipeline.run_available_now`` drains order_items part files
from a landing directory, validates them, publishes accepted rows, and
recomputes ``category_kpis`` / ``order_kpis`` into a SQLite ``KVStore``.
The load is a closed loop from one process: the next file lands only
after the previous one is served.

1. A burst lands the 18 full 1,500-row parts of the reference volume at
   once and one activation drains them: CSV scan, validation and
   publish dominate, and the burst holds most of ``rows_per_s``'s rows.
2. A trickle then lands one small file at a time on top of that
   history: the KPI recompute (O(history)) dominates, and every served
   file is one latency sample, from its atomic rename until
   ``KVStore.get`` returns its day's ``order_kpis`` row.  The first
   trickle files are planted: a file with nulls and a re-delivered
   burst part (both must be quarantined), then the ragged 7-row last
   part of the reference volume.
"""

from __future__ import annotations

import json
import time
from contextlib import nullcontext
from pathlib import Path

import pandas as pd

import gen
from harness import SETUP_REPEATS, Outcome, RssSampler, fresh_state, land, log, median, repeated_setup, tail, timed
from tracing import TracedRun

BURST_PARTS = 18
PART_ROWS = 1_500
TRICKLE_ORDERS = 50
# the planted nulls / re-delivered / ragged files, then three plain days:
# a run always has at least four latency samples
MIN_TRICKLES = 6
SCHEDULE_S = 20.0
TRICKLE_S = 3.5
RAGGED_ROWS = 7
WARMUP_ROWS = 200
KPI_KEYS = {"category_kpis": ["category", "order_date"], "order_kpis": ["order_date"]}


def _day(day_index: int) -> str:
    return str((gen.BASE_DAY + pd.Timedelta(days=day_index)).date())


class Inputs:
    """All files of one seed, written once, outside every timed phase."""

    def __init__(self, seed: int, scale: float, n_trickles: int, root: Path):
        part_rows = max(20, int(PART_ROWS * scale))
        prods, orders, parts, trickles = gen.ecom(
            seed, BURST_PARTS, part_rows, n_trickles, max(5, int(TRICKLE_ORDERS * scale))
        )
        self.products, self.orders, self.root = prods, orders, root
        root.mkdir(parents=True, exist_ok=True)
        self.burst = [(f"order_items_part{i:03d}.csv", part) for i, part in enumerate(parts)]
        self.warmup = parts[1].iloc[:WARMUP_ROWS]
        _, nulls = trickles[0]
        nulls = nulls.copy()
        nulls["sale_price"] = nulls["sale_price"].astype(object)
        nulls.loc[nulls.index[::3], "sale_price"] = None
        ragged_day, ragged = trickles[1]
        # (name, kind, items, day whose order_kpis row proves it served)
        self.trickle = [
            ("trickle_nulls.csv", "nulls", nulls, None),
            ("trickle_redelivered.csv", "redelivered", parts[0], None),
            ("order_items_part_last.csv", "ragged", ragged.iloc[:RAGGED_ROWS], ragged_day),
        ] + [
            (f"trickle{t:03d}.csv", "trickle", items, day)
            for t, (day, items) in enumerate(trickles[2:])
        ]
        orders_by_id = orders.set_index("order_id")
        self.expect = {}
        for name, _, items, day in self.trickle:
            if day is None:
                continue
            joined = items[["order_id"]].join(orders_by_id, on="order_id")
            self.expect[name] = (int(items["order_id"].nunique()), int(joined["num_of_item"].sum()))

    def stage(self, name: str, items: pd.DataFrame) -> Path:
        path = self.root / f"{name}.tmp"
        gen.write_csv(items, path)
        return path


def _prepare(inputs: Inputs):
    def prepare(spark, d: Path) -> dict:
        from real_time_event_driven_data_pipeline_spark.schemas import ECOM_ORDERS, ECOM_PRODUCTS, nullable_copy

        spark.createDataFrame(inputs.products, nullable_copy(ECOM_PRODUCTS)).write.parquet(str(d / "products"))
        spark.createDataFrame(inputs.orders, nullable_copy(ECOM_ORDERS)).write.parquet(str(d / "orders"))
        products = spark.read.parquet(str(d / "products"))
        orders = spark.read.parquet(str(d / "orders"))
        return {"dir": d, "pipe": _pipeline(spark, d, orders, products), "orders": orders, "products": products}

    return prepare


def _warm_up(spark, state: dict, inputs: Inputs) -> float:
    """One activation of a throwaway pipeline on a small file: plan
    compilation and JIT warm-up of the code every later activation
    runs, so the measured burst is not the process's first activation.
    Paid once per process after the timed set-ups, not in ``setup_s``."""
    d = state["dir"] / "warmup"
    warm = _pipeline(spark, d, state["orders"], state["products"])
    t0 = time.perf_counter()
    land(inputs.stage("warmup.csv", inputs.warmup), d / "landing", "warmup.csv")
    warm.run_available_now()
    return time.perf_counter() - t0


def _pipeline(spark, d: Path, orders, products):
    from real_time_event_driven_data_pipeline_spark.operators.kpis import category_kpis, order_kpis
    from real_time_event_driven_data_pipeline_spark.schemas import ECOM_ORDER_ITEMS, nullable_copy
    from real_time_event_driven_data_pipeline_spark.streaming.pipeline import EventDrivenPipeline

    (d / "landing").mkdir(parents=True)
    return EventDrivenPipeline(
        spark,
        landing_dir=str(d / "landing"),
        schema=nullable_copy(ECOM_ORDER_ITEMS),
        contract_schema=ECOM_ORDER_ITEMS,
        table_name="order_items",
        valid_dir=str(d / "valid"),
        quarantine_dir=str(d / "quarantine"),
        checkpoint_dir=str(d / "checkpoint"),
        primary_key=["id"],
        kpi_fns={
            "category_kpis": lambda items: category_kpis(items, orders, products),
            "order_kpis": lambda items: order_kpis(orders, items),
        },
        kv_store_path=str(d / "kv.sqlite"),
        kpi_key_cols=KPI_KEYS,
    )


def _served(kv_path: Path, day: str, expect: tuple[int, int]) -> bool:
    """``KVStore.get`` of the day's order_kpis row shows the file's
    orders and items (the activation returns after the upsert)."""
    from real_time_event_driven_data_pipeline_spark.sinks.kv import SQLiteKVStore

    row = SQLiteKVStore(str(kv_path), "order_kpis").get(day)
    return row is not None and (row["total_orders"], row["total_items_sold"]) == expect


def trickles_for(seconds: float) -> int:
    """Trickle files in a run: MIN_TRICKLES fill the first SCHEDULE_S
    seconds on a 4-core machine, each further TRICKLE_S adds one.  The work
    is fixed by ``seconds``, not by a deadline, so a faster or slower
    machine measures the same operations."""
    return MIN_TRICKLES + max(0, int((seconds - SCHEDULE_S) // TRICKLE_S))


def _phase(state: dict, inputs: Inputs, n_trickles: int, tr: TracedRun | None = None) -> list[dict]:
    """The burst, then ``n_trickles`` trickle files, one at a time.
    Returns one record per operation."""
    pipe, d = state["pipe"], state["dir"]
    landing, kv = d / "landing", d / "kv.sqlite"
    listener = tr.listener if tr else None
    ops = []

    def span(name):
        return tr.tracer.span(name) if tr else nullcontext()

    def op(name, kind, staged: list[tuple[Path, str]], check, rows: int = 0):
        first_span = len(tr.tracer.spans) if tr else 0
        with span("op"):
            t0 = min(land(p, landing, n) for p, n in staged)
            n_reports = len(pipe.reports)
            with span("streaming.pipeline.activation_s"):
                pipe.run_available_now(listener=listener)
            new = pipe.reports[n_reports:]
            passed = bool(new) and all(r.passed for _, r in new)
            with span("sinks.kv.get_s"):
                ok = check(passed)
            t1 = time.perf_counter()
        rec = {"name": name, "kind": kind, "latency_s": t1 - t0, "rows": rows, "ok": ok, "epochs": [e for e, _ in new]}
        if tr:
            rec["layers_s"] = tr.tracer.totals_since(first_span)
            rec["spark"] = tr.counters.read()
        ops.append(rec)

    staged = [(inputs.stage(n, items), n) for n, items in inputs.burst]
    burst_days = [_day(i) for i in range(31)]

    def burst_served(passed: bool) -> bool:
        from real_time_event_driven_data_pipeline_spark.sinks.kv import SQLiteKVStore

        store = SQLiteKVStore(str(kv), "order_kpis")
        return passed and all(store.get(day) is not None for day in burst_days)

    op("burst", "burst", staged, burst_served, rows=sum(len(items) for _, items in inputs.burst))
    for name, kind, items, day in inputs.trickle[:n_trickles]:
        staged = [(inputs.stage(name, items), name)]
        if day is None:
            op(name, kind, staged, lambda passed: not passed)
        else:
            expect = inputs.expect[name]
            check = lambda passed, day=day, expect=expect: passed and _served(kv, _day(day), expect)  # noqa: E731
            op(name, kind, staged, check, rows=len(items))
    return ops


def _check_store(spark, state: dict, inputs: Inputs, ops: list[dict], plant_wrong_kv: bool) -> dict[str, bool]:
    """KV contents equal a batch recompute over the accepted files, and
    exactly the planted bad files were quarantined."""
    from real_time_event_driven_data_pipeline_spark.operators.kpis import category_kpis, order_kpis
    from real_time_event_driven_data_pipeline_spark.schemas import ECOM_ORDER_ITEMS, nullable_copy
    from real_time_event_driven_data_pipeline_spark.sinks.kv import SQLiteKVStore, serialize_row

    d = state["dir"]
    kv = str(d / "kv.sqlite")
    if plant_wrong_kv:
        store = SQLiteKVStore(kv, "order_kpis")
        key, row = next(iter(sorted(store.all_items().items())))
        row["total_orders"] += 1
        store.put_batch([(key, json.dumps(row))])
    accepted = [name for name, _ in inputs.burst] + [
        o["name"] for o in ops if o["kind"] in ("ragged", "trickle")
    ]
    items = spark.read.schema(nullable_copy(ECOM_ORDER_ITEMS)).option("header", True).csv(
        [str(d / "landing" / n) for n in accepted]
    )
    frames = {
        "category_kpis": category_kpis(items, state["orders"], state["products"]),
        "order_kpis": order_kpis(state["orders"], items),
    }
    checks = {}
    for table, df in frames.items():
        want = {}
        for r in df.collect():
            ser = serialize_row(r.asDict())
            want["|".join(str(ser[c]) for c in KPI_KEYS[table])] = json.loads(json.dumps(ser))
        checks[f"kv_{table}_equals_batch"] = SQLiteKVStore(kv, table).all_items() == want
    quarantined = {o["kind"] for o in ops if o["kind"] in ("nulls", "redelivered") and o["ok"]}
    planted_rows = sum(len(i) for n, k, i, _ in inputs.trickle if k in ("nulls", "redelivered"))
    q_rows = spark.read.parquet(str(d / "quarantine")).count() if (d / "quarantine").exists() else 0
    failed_epochs = {e for e, r in state["pipe"].reports if not r.passed}
    planted_epochs = {e for o in ops if o["kind"] in ("nulls", "redelivered") for e in o["epochs"]}
    checks["quarantine_exactly_planted"] = (
        quarantined == {"nulls", "redelivered"} and q_rows == planted_rows and failed_epochs == planted_epochs
    )
    return checks


def _rows_written(spark):
    """Rows an upsert wrote: the records read by the final stage of the
    job it ran (the KPI plans end in an exchange)."""
    sc = spark.sparkContext._jsc.sc()

    def count() -> float:
        sc.listenerBus().waitUntilEmpty(30_000)
        store = sc.statusStore()
        ids = store.job(sc.dagScheduler().numTotalJobs() - 1).stageIds()
        final = store.lastStageAttempt(max(ids.apply(k) for k in range(ids.size())))
        return float(final.shuffleReadRecords() or final.inputRecords())

    return count


def _traced(spark, pipe) -> TracedRun:
    """Wrappers around the layers the pipeline calls, at the names the
    pipeline module looks them up by."""
    from real_time_event_driven_data_pipeline_spark.streaming import pipeline as pl

    tr = TracedRun(spark)
    t = tr.tracer
    t.wrap(pl, "validate_tables", "operators.validation.validate_s")
    t.wrap(pl, "publish_epoch", "streaming.epochs.publish_s")
    t.wrap(pl, "read_epoch_dir", "streaming.epochs.history_read_s")
    t.wrap(pl, "write_kv_upsert", "sinks.kv.upsert_s", counter=("sinks.kv.rows_written", _rows_written(spark)))
    t.wrap(pipe, "_gate", "streaming.pipeline.batch_fn_s")
    t.wrap_pins()
    return tr


def run(ctx) -> Outcome:
    n_trickles = trickles_for(ctx.seconds)
    inputs = Inputs(ctx.seed, ctx.scale, n_trickles, ctx.work_dir / "inputs")
    prepare = _prepare(inputs)
    # a traced run reports no setup_s, so it sets up once
    spark, state, setup_times = repeated_setup(
        "perfbench-ecom", ctx.work_dir, prepare, repeats=1 if ctx.trace else SETUP_REPEATS
    )
    ctx.spark = spark
    warmup_s = _warm_up(spark, state, inputs)
    with RssSampler() as rss:
        ops, wall = timed(lambda: _phase(state, inputs, n_trickles))
    checks = _check_store(spark, state, inputs, ops, ctx.plant_wrong_kv)
    served = [o["latency_s"] for o in ops if o["kind"] in ("ragged", "trickle")]
    tail_v, tail_p, n = tail(served)
    # over every accepting operation, not the burst alone: one burst is
    # a single sample and spreads too widely from run to run
    accepting = [o for o in ops if o["rows"]]
    metrics = {
        "setup_s": median(setup_times),
        "wall_s": wall,
        "latency_p50_s": median(served),
        "latency_tail_s": tail_v,
        "rows_per_s": sum(o["rows"] for o in accepting) / sum(o["latency_s"] for o in accepting),
        "peak_rss_mb": rss.peak_mb,
    }
    detail = {
        "setup_times_s": setup_times,
        "warmup_s": warmup_s,
        "ops": ops,
        "checks": checks,
        "latency_tail_percentile": tail_p,
        "latency_samples": n,
    }
    layers = _layers(spark, prepare, inputs, ctx, n_trickles, wall, detail) if ctx.trace else {}
    failed = sum(not o["ok"] for o in ops) + sum(not v for v in checks.values())
    return Outcome(metrics, len(ops) + len(checks), failed, detail, layers)


def _layers(spark, prepare, inputs: Inputs, ctx, n_trickles: int, base_wall: float, detail: dict) -> dict:
    """The measured schedule again, traced, on a fresh pipeline.  The
    warm-up activation warmed the JVM before the measured phase too, so
    the traced wall minus the measured wall is the tracing overhead."""
    state = fresh_state(prepare, spark, ctx.work_dir, "traced")
    tr = _traced(spark, state["pipe"])
    try:
        ops, wall = timed(lambda: _phase(state, inputs, n_trickles, tr))
    finally:
        tr.close()
    detail["traced_ops"] = ops
    detail["progress"] = tr.listener.records
    log(f"traced phase {wall:.2f}s, untraced {base_wall:.2f}s")
    return tr.layers(ops, wall, base_wall)
