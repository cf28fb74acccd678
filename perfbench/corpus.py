"""``corpus_arrivals``: ``CorpusCurationPipeline``'s text gate chain.

Quality, decontamination, exact and text near-dup gates with cluster
labels, as ``tools/curation_pipeline_probe.py`` composes them; the
optional image and embedding near-dup gates and the export manifest are
off (see README.md).  Each arrival batch plants one exact copy, one
near copy and one eval-suite document, so the per-gate reject ladder is
known exactly.  One operation is one batch, from its atomic rename
until a read of the accepted corpus shows its surviving documents.  An
epoch costs ~30 s on a 4-core machine whatever its size, so a run holds
one and more only when ``--seconds`` allows; the first batch's
duplicates therefore target batchmates, later batches' target history.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from pathlib import Path

import pandas as pd

import gen
from harness import SETUP_REPEATS, Outcome, RssSampler, fresh_state, land, log, median, repeated_setup, tail, timed
from tracing import TracedRun

BATCH_DOCS = 40
SCHEDULE_S = 30.0
EPOCH_S = 30.0
GATES = ("quality", "decontam", "exact_dup", "near_dup")
REASON = {"decontam": "contaminated"}


def _prepare(eval_docs: list[tuple[int, str]], instrument_io: bool):
    def prepare(spark, d: Path) -> dict:
        from real_time_event_driven_data_pipeline_spark.streaming.curation import CorpusCurationPipeline

        (d / "landing").mkdir()
        pipe = CorpusCurationPipeline(
            spark,
            landing_dir=str(d / "landing"),
            corpus_dir=str(d / "corpus"),
            quarantine_dir=str(d / "quarantine"),
            checkpoint_dir=str(d / "checkpoint"),
            near_dup_threshold=0.5,
            eval_docs=spark.createDataFrame(eval_docs, "doc_id long, text string"),
            cluster_labels=True,
            instrument_io=instrument_io,
        )
        return {"dir": d, "pipe": pipe}

    return prepare


def epochs_for(seconds: float) -> int:
    """Arrival batches in a run: one fills the first SCHEDULE_S seconds
    on a 4-core machine, each further EPOCH_S adds one.  The work is fixed
    by ``seconds``, not by a deadline."""
    return 1 + max(0, int((seconds - SCHEDULE_S) // EPOCH_S))


def _phase(spark, state: dict, batches: list[pd.DataFrame], tr: TracedRun | None = None) -> list[dict]:
    """Land each batch, drain it, and read the corpus for the batch's
    survivors.  Returns one record per batch."""
    pipe, d = state["pipe"], state["dir"]
    listener = tr.listener if tr else None
    ops = []

    def span(name):
        return tr.tracer.span(name) if tr else nullcontext()

    for epoch, batch in enumerate(batches):
        name = f"docs{epoch:03d}.csv"
        staged = d / f"{name}.tmp"
        batch.to_csv(staged, index=False)
        fresh = [int(i) for i in batch["doc_id"] if gen.planted_reason(int(i)) is None]
        first_span = len(tr.tracer.spans) if tr else 0
        with span("op"):
            t0 = land(staged, d / "landing", name)
            with span("streaming.pipeline.activation_s"):
                pipe.run_available_now(listener=listener)
            with span("corpus_read_s"):
                served = (
                    spark.read.parquet(str(d / "corpus"))
                    .where(f"doc_id in ({','.join(map(str, fresh))})")
                    .count()
                )
            t1 = time.perf_counter()
        rec = {"name": name, "latency_s": t1 - t0, "docs": len(batch), "ok": served == len(fresh),
               "stats": pipe.stats[-1] if pipe.stats else None}
        if tr:
            rec["layers_s"] = tr.tracer.totals_since(first_span)
            rec["spark"] = tr.counters.read()
        ops.append(rec)
    return ops


def _check(spark, state: dict, batches: list[pd.DataFrame], ops: list[dict]) -> tuple[dict, dict]:
    """The planted per-gate ladder is exact: every batch loses exactly
    one document at decontamination, one at the exact gate and one at
    the near-duplicate gate, and each planted document is quarantined
    for the reason of the gate it was planted for."""
    pipe, d = state["pipe"], state["dir"]
    ladder_ok = len(pipe.stats) == len(ops) and all(
        s["arrived"] == len(b)
        and s["quality_pass"] == len(b)
        and s["after_decontam"] == len(b) - 1
        and s["after_exact"] == len(b) - 2
        and s["accepted"] == len(b) - 3
        for s, b in zip(pipe.stats, batches)
    )
    q = spark.read.parquet(str(d / "quarantine")).select("doc_id", "reject_reason").collect()
    rejected = {(int(r.doc_id), r.reject_reason) for r in q}
    planted = {
        (int(i), gen.planted_reason(int(i)))
        for b in batches[: len(ops)]
        for i in b["doc_id"]
        if gen.planted_reason(int(i))
    }
    caught = planted & rejected
    stats = {
        "planted": len(planted),
        "caught": len(caught),
        "rejects_by_reason": pd.Series([r for _, r in rejected]).value_counts().to_dict(),
    }
    return {"ladder_exact": ladder_ok, "quarantine_exactly_planted": rejected == planted}, stats


def run(ctx) -> Outcome:
    batches, eval_docs = gen.corpus_epochs(ctx.seed, epochs_for(ctx.seconds), max(10, int(BATCH_DOCS * ctx.scale)))
    prepare = _prepare(eval_docs, instrument_io=False)
    # a traced run reports no setup_s, so it sets up once
    spark, state, setup_times = repeated_setup(
        "perfbench-corpus", ctx.work_dir, prepare, repeats=1 if ctx.trace else SETUP_REPEATS
    )
    ctx.spark = spark
    with RssSampler() as rss:
        ops, wall = timed(lambda: _phase(spark, state, batches))
    checks, planted = _check(spark, state, batches, ops)
    lat = [o["latency_s"] for o in ops]
    tail_v, tail_p, n = tail(lat)
    metrics = {
        "setup_s": median(setup_times),
        "wall_s": wall,
        "latency_p50_s": median(lat),
        "latency_tail_s": tail_v,
        "rows_per_s": sum(o["docs"] for o in ops) / sum(lat),
        "peak_rss_mb": rss.peak_mb,
    }
    detail = {
        "setup_times_s": setup_times,
        "ops": ops,
        "checks": checks,
        "planted": planted,
        "latency_tail_percentile": tail_p,
        "latency_samples": n,
    }
    layers = _layers(spark, prepare, batches, eval_docs, ctx, detail) if ctx.trace else {}
    failed = sum(not o["ok"] for o in ops) + sum(not v for v in checks.values())
    return Outcome(metrics, len(ops) + len(checks), failed, detail, layers)


def _gate_ladder(ops: list[dict], rejects: dict[str, int]) -> dict[str, float]:
    """rows_in / rows_out per gate, in gate order, from the arrivals and
    the quarantine's reject reasons."""
    out, rows = {}, float(sum(o["docs"] for o in ops))
    for g in GATES:
        out[f"streaming.curation.{g}.rows_in"] = rows
        rows -= rejects.get(REASON.get(g, g), 0)
        out[f"streaming.curation.{g}.rows_out"] = rows
    return out


def _layers(spark, prepare, batches, eval_docs, ctx, detail: dict) -> dict:
    """Traced phase (with the pipeline's own per-stage shuffle
    attribution on) on a fresh pipeline, then the same batches untraced
    on another; both run warm, so their difference is the overhead."""
    from real_time_event_driven_data_pipeline_spark.streaming import curation as cur

    state = fresh_state(_prepare(eval_docs, instrument_io=True), spark, ctx.work_dir, "traced")
    tr = TracedRun(spark)
    tr.tracer.wrap(cur, "read_epoch_dir", "streaming.epochs.history_read_s")
    tr.tracer.wrap(cur, "publish_epoch", "streaming.epochs.publish_s")
    tr.tracer.wrap(state["pipe"], "_gate", "streaming.pipeline.batch_fn_s")
    tr.tracer.wrap_pins()
    try:
        ops, wall = timed(lambda: _phase(spark, state, batches, tr))
    finally:
        tr.close()
    _, planted = _check(spark, state, batches, ops)
    base = fresh_state(prepare, spark, ctx.work_dir, "baseline")
    _, base_wall = timed(lambda: _phase(spark, base, batches))
    layers = tr.layers(ops, wall, base_wall)
    layers.update(_gate_ladder(ops, planted["rejects_by_reason"]))
    for o in ops:
        for stage, nbytes in o["stats"]["stage_io"].items():
            key = f"streaming.curation.stage_io.{stage}_bytes"
            layers[key] = layers.get(key, 0.0) + nbytes
    layers["streaming.curation.accept_ratio"] = sum(o["stats"]["accepted"] for o in ops) / sum(o["docs"] for o in ops)
    layers["streaming.curation.planted_recall"] = planted["caught"] / planted["planted"]
    detail["traced_ops"] = ops
    detail["progress"] = tr.listener.records
    log(f"traced phase {wall:.2f}s, untraced baseline {base_wall:.2f}s")
    return layers
