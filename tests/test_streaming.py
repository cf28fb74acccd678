"""Streaming pipeline: arrival-triggered activations, validation gate
branching (quarantine), per-activation KPI recompute, and the native
windowed aggregation."""

import pyspark.sql.functions as F
import pytest

from real_time_event_driven_data_pipeline_spark.schemas import (
    ECOM_ORDER_ITEMS,
    nullable_copy,
)
from real_time_event_driven_data_pipeline_spark.sinks.kv import SQLiteKVStore
from real_time_event_driven_data_pipeline_spark.streaming.pipeline import (
    EventDrivenPipeline,
    streaming_windowed_kpis,
)

from .ecom_fixtures import make_ecom

TS_FMT = "%Y-%m-%dT%H:%M:%S"


def _write_csv(pdf, path):
    pdf.to_csv(path, index=False, date_format=TS_FMT)


def _daily_revenue(df):
    return (
        df.withColumn("order_date", F.to_date("created_at"))
        .groupBy("order_date")
        .agg(F.round(F.sum("sale_price"), 2).alias("daily_revenue"))
    )


@pytest.fixture()
def pipeline_env(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    dirs = {
        "landing": str(landing),
        "valid": str(tmp_path / "valid"),
        "quarantine": str(tmp_path / "quarantine"),
        "checkpoint": str(tmp_path / "ckpt"),
        "store": str(tmp_path / "kv.db"),
    }
    pipe = EventDrivenPipeline(
        spark,
        landing_dir=dirs["landing"],
        schema=nullable_copy(ECOM_ORDER_ITEMS),
        contract_schema=ECOM_ORDER_ITEMS,
        table_name="order_items",
        valid_dir=dirs["valid"],
        quarantine_dir=dirs["quarantine"],
        checkpoint_dir=dirs["checkpoint"],
        primary_key=["id"],
        kpi_fns={"daily_revenue": _daily_revenue},
        kv_store_path=dirs["store"],
        kpi_key_cols={"daily_revenue": ["order_date"]},
    )
    return pipe, dirs


def test_event_driven_activations_and_quarantine(spark, pipeline_env):
    pipe, dirs = pipeline_env
    _, _, order_items = make_ecom(n_products=100, n_orders=120, seed=11)
    part1 = order_items.iloc[:150]
    part2 = order_items.iloc[150:300]
    dirty = order_items.iloc[300:320].copy()
    dirty["sale_price"] = dirty["sale_price"].astype(object)
    dirty.loc[dirty.index[:4], "sale_price"] = None

    # activation 1: first arrival event
    _write_csv(part1, f"{dirs['landing']}/part1.csv")
    pipe.run_available_now()
    assert len(pipe.reports) == 1 and pipe.reports[0][1].passed
    store = SQLiteKVStore(dirs["store"], "daily_revenue")
    expected1 = {
        f"{r['order_date']:%Y-%m-%d}": str(round(r["daily_revenue"], 2))
        for r in _daily_revenue(
            spark.createDataFrame(part1, nullable_copy(ECOM_ORDER_ITEMS))
        ).collect()
    }
    got1 = {k: v["daily_revenue"] for k, v in store.all_items().items()}
    assert got1 == expected1

    # activation 2: dirty arrival -> quarantined, serving store unchanged
    _write_csv(dirty, f"{dirs['landing']}/dirty.csv")
    pipe.run_available_now()
    assert len(pipe.reports) == 2 and not pipe.reports[1][1].passed
    assert {c.check for c in pipe.reports[1][1].checks if not c.passed} == {"null_check"}
    assert spark.read.parquet(dirs["quarantine"]).count() == 20
    assert {k: v["daily_revenue"] for k, v in store.all_items().items()} == expected1

    # activation 2b: re-delivered file (keys already accepted) -> quarantined
    _write_csv(part1.iloc[:10], f"{dirs['landing']}/redelivered.csv")
    pipe.run_available_now()
    assert not pipe.reports[-1][1].passed
    assert {c.check for c in pipe.reports[-1][1].checks if not c.passed} == {
        "unique_key_cross_batch"
    }
    assert {k: v["daily_revenue"] for k, v in store.all_items().items()} == expected1

    # activation 3: clean arrival -> KPIs recomputed over part1+part2
    _write_csv(part2, f"{dirs['landing']}/part2.csv")
    pipe.run_available_now()
    assert pipe.reports[3][1].passed
    import pandas as pd

    both = pd.concat([part1, part2])
    expected2 = {
        f"{r['order_date']:%Y-%m-%d}": str(round(r["daily_revenue"], 2))
        for r in _daily_revenue(
            spark.createDataFrame(both, nullable_copy(ECOM_ORDER_ITEMS))
        ).collect()
    }
    assert {k: v["daily_revenue"] for k, v in store.all_items().items()} == expected2

    # the cross-batch dup probe reads the narrow key-index sidecar (pk
    # columns of ACCEPTED rows only), never the full valid history
    idx = spark.read.parquet(pipe.key_index_dir)
    assert idx.columns == ["id"]
    assert idx.count() == 300  # part1 + part2; dirty/redelivered excluded


def test_streaming_windowed_kpis_matches_batch(spark, tmp_path):
    from real_time_event_driven_data_pipeline_spark.sources.readers import load_testdata

    events = load_testdata(spark, "/root/testdata/sf0.001", "events")["events"]
    src = str(tmp_path / "events_parquet")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_windowed_kpis(stream, window="1 day", watermark="1 day")
    # complete mode: append would hold back windows the watermark hasn't
    # closed (the final day never flushes in a finite test input)
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_kpis")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_kpis").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in streaming_windowed_kpis(events, window="1 day", watermark="1 day").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_streaming_windowed_kpis_sketch_mode(spark, tmp_path):
    """distinct_mode='sketch' streams mergeable HLL state: the per-window
    estimate is within 10% of the batch exact countDistinct, and the
    emitted sketches re-aggregate (day -> whole-period per key) without
    touching the raw stream — the documented countDistinct-gap answer
    (SURVEY §4.3, r3 verdict item 6)."""
    from real_time_event_driven_data_pipeline_spark.sources.readers import load_testdata

    events = load_testdata(spark, "/root/testdata/sf0.001", "events")["events"]
    src = str(tmp_path / "events_parquet")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_windowed_kpis(stream, window="1 day", watermark="1 day", distinct_mode="sketch")
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_kpis_sketch")
        .option("checkpointLocation", str(tmp_path / "ckpt_sk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    served = spark.sql("SELECT * FROM win_kpis_sketch")
    exact = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in events.groupBy(
            F.window("ts", "1 day").alias("w"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .collect()
    }
    got = {
        (r["window_start"], r["event_type"]): r["approx_unique_users"]
        for r in served.collect()
    }
    assert set(got) == set(exact) and got
    for k, n in exact.items():
        assert abs(got[k] - n) / n <= 0.10, f"{k}: sketch {got[k]} vs exact {n}"

    # re-aggregation from SERVED state only: merge the per-day sketches
    # per event_type and compare to the exact whole-period distinct
    rolled = {
        r["event_type"]: r["est"]
        for r in served.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias("est"))
        .collect()
    }
    period_exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, n in period_exact.items():
        assert abs(rolled[et] - n) / n <= 0.10, f"{et}: rollup {rolled[et]} vs exact {n}"

    # invalid mode fails fast, not silently
    with pytest.raises(ValueError):
        streaming_windowed_kpis(stream, distinct_mode="exact")


def test_incremental_kpi_upsert_matches_batch(spark, tmp_path):
    """update-mode windowed KPIs + foreachBatch upsert == batch agg,
    including across a second activation that only touches new windows."""
    from real_time_event_driven_data_pipeline_spark.sources.readers import load_testdata
    from real_time_event_driven_data_pipeline_spark.streaming.pipeline import (
        incremental_kpi_upsert,
        streaming_windowed_kpis,
    )

    events = load_testdata(spark, "/root/testdata/sf0.001", "events")["events"]
    # split by TIME: a second arrival of genuinely newer data.  (An
    # id-parity split would put most of batch 2 behind the watermark
    # established by batch 1 — correctly dropped as late, but then the
    # store can't equal the batch aggregate.)
    split_ts = events.selectExpr("percentile(unix_micros(ts), 0.5)").collect()[0][0]
    early = events.filter(F.unix_micros("ts") <= split_ts)
    late = events.filter(F.unix_micros("ts") > split_ts)
    src = str(tmp_path / "ev")
    early.write.parquet(src)
    schema = spark.read.parquet(src).schema
    store, ckpt = str(tmp_path / "kv.db"), str(tmp_path / "ckpt")

    def activate():
        stream = spark.readStream.schema(schema).parquet(src)
        q = incremental_kpi_upsert(stream, store, ckpt)
        q.awaitTermination()

    activate()
    # second arrival: the other half lands as a new file
    late.write.mode("append").parquet(src)
    activate()

    from real_time_event_driven_data_pipeline_spark.sinks.kv import SQLiteKVStore

    got = {
        k.replace("T", " "): (str(v["n_events"]), str(float(v["sum_value"])))
        for k, v in SQLiteKVStore(store, "windowed_kpis").all_items().items()
    }
    expected = {
        f"{r['window_start']}|{r['event_type']}": (str(r["n_events"]), str(float(r["sum_value"])))
        for r in streaming_windowed_kpis(events).collect()
    }
    assert len(expected) > 0
    assert got == expected


def test_metrics_listener_captures_batches(spark, pipeline_env):
    import time as _time

    from real_time_event_driven_data_pipeline_spark.streaming.listener import (
        MetricsLogListener,
    )

    pipe, dirs = pipeline_env
    _, _, order_items = make_ecom(n_products=50, n_orders=40, seed=7)
    _write_csv(order_items.iloc[:80], f"{dirs['landing']}/part1.csv")
    listener = MetricsLogListener()
    pipe.run_available_now(listener=listener)
    # listener events are delivered async; poll briefly
    for _ in range(40):
        if listener.records:
            break
        _time.sleep(0.25)
    assert listener.records, "no progress events captured"
    # numInputRows counts source reads: the pinned gate reads the 80
    # arrival rows exactly once
    assert sum(r["num_input_rows"] for r in listener.records) == 80
    assert all("batch_id" in r for r in listener.records)
    phases = next(r for r in listener.records if r["num_input_rows"])["duration_phases_ms"]
    assert {"addBatch", "walCommit", "triggerExecution"} <= set(phases)


def test_streaming_scorer_matches_batch_under_frozen_weights(spark, tmp_path):
    """r4 verdict item 8: train offline, score the stream online under
    the FROZEN weights — every (id, label, margin, pred) row from the
    streaming file sink must equal the batch scorer's output bit-exactly
    (the transformation is stateless, so streaming adds no semantics)."""
    from real_time_event_driven_data_pipeline_spark.operators import classifier
    from real_time_event_driven_data_pipeline_spark.sources.readers import load_testdata
    from real_time_event_driven_data_pipeline_spark.streaming import scoring

    dim, iters = 8, 2
    docs = load_testdata(spark, "/root/testdata/sf0.001", "documents")[
        "documents"
    ].select("doc_id", "text")

    feat = classifier._dense_features(docs, dim, "doc_id", "text")
    w = classifier.perceptron_fit(feat, dim, iters)
    assert any(v != 0 for v in w)

    src = str(tmp_path / "docs_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    with pytest.raises(ValueError, match="streaming"):
        scoring.score_stream(docs, w, dim)
    q = scoring.run_scoring_stream(
        stream,
        w,
        out_path=str(tmp_path / "scores_out"),
        checkpoint=str(tmp_path / "ckpt_score"),
        dim=dim,
    )
    q.awaitTermination()

    got = {
        r["doc_id"]: (r["label"], r["margin"], r["pred"])
        for r in spark.read.parquet(str(tmp_path / "scores_out")).collect()
    }
    want = {
        r["doc_id"]: (r["label"], r["margin"], r["pred"])
        for r in classifier.score_with_weights(docs, w, dim).collect()
    }
    assert got == want and len(got) == docs.count()


def test_incremental_bottomk_quantiles_match_batch(spark, tmp_path):
    """Streaming twin of the bottom-k quantile sketch (r9 verdict item
    7b): per-epoch partials published through the idempotent epoch
    protocol, resolved sample re-ranked at read time.  Mergeability
    makes the resolved output EQUAL — bit for bit, not approximately —
    to the batch sketch over everything that ever streamed, across a
    second activation, a replayed epoch (idempotence), and a partial
    compaction."""
    from real_time_event_driven_data_pipeline_spark.operators.sketches import (
        bottomk_sample_quantiles,
    )
    from real_time_event_driven_data_pipeline_spark.sources.readers import (
        load_testdata,
    )
    from real_time_event_driven_data_pipeline_spark.streaming.pipeline import (
        incremental_bottomk_sample,
        resolved_bottomk_quantiles,
    )

    events = load_testdata(spark, "/root/testdata/sf0.001", "events")["events"]
    split_ts = events.selectExpr("percentile(unix_micros(ts), 0.5)").collect()[0][0]
    early = events.filter(F.unix_micros("ts") <= split_ts)
    late = events.filter(F.unix_micros("ts") > split_ts)
    src = str(tmp_path / "ev")
    early.write.parquet(src)
    schema = spark.read.parquet(src).schema
    sample_dir, ckpt = str(tmp_path / "bk_sample"), str(tmp_path / "ckpt")
    args = dict(value_col="value", group_col="event_type", key_col="event_id", k=64)

    def activate():
        stream = spark.readStream.schema(schema).parquet(src)
        q = incremental_bottomk_sample(stream, sample_dir, ckpt, **args)
        q.awaitTermination()

    activate()
    late.write.mode("append").parquet(src)
    activate()
    activate()  # no new data: no epoch, nothing double-published

    got = resolved_bottomk_quantiles(spark, sample_dir, **args).collect()
    want = bottomk_sample_quantiles(
        events, "value", "event_type", key_col="event_id", k=64
    ).collect()
    assert len(want) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # compaction between activations is layout-only: resolved unchanged
    from real_time_event_driven_data_pipeline_spark.sinks.maintenance import (
        compact_unpartitioned,
    )

    assert compact_unpartitioned(spark, sample_dir, min_files_to_compact=1) >= 1
    got2 = resolved_bottomk_quantiles(spark, sample_dir, **args).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, want))

    # fold-compaction collapses the accumulated partials to the
    # resolved <= k per group — row count shrinks, resolution is
    # bit-identical, and STREAMING CONTINUES exactly on top of the
    # folded rows (mergeability: fold-then-merge == merge)
    from real_time_event_driven_data_pipeline_spark.streaming.pipeline import (
        fold_bottomk_sample,
    )

    raw_before = spark.read.parquet(sample_dir).count()
    n_resolved = fold_bottomk_sample(spark, sample_dir, **args)
    assert n_resolved == spark.read.parquet(sample_dir).count() < raw_before
    got3 = resolved_bottomk_quantiles(spark, sample_dir, **args).collect()
    assert sorted(map(tuple, got3)) == sorted(map(tuple, want))

    # genuinely NEW rows (fresh keys -> fresh md5 ranks) landing AFTER
    # the fold, continuing the SAME source/checkpoint lineage (the
    # epoch-id idempotency key is bound to the checkpoint — a fresh
    # checkpoint against an existing sidecar would collide with its
    # committed markers, the documented single-lineage contract)
    more = events.orderBy("event_id").limit(200).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )
    more.write.mode("append").parquet(src)
    activate()
    got4 = resolved_bottomk_quantiles(spark, sample_dir, **args).collect()
    want4 = bottomk_sample_quantiles(
        events.unionByName(more), "value", "event_type", key_col="event_id", k=64
    ).collect()
    assert sorted(map(tuple, got4)) == sorted(map(tuple, want4))
