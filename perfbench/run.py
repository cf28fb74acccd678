"""Arrival-to-served benchmark.

    python3 perfbench/run.py --workload ecom_arrivals --seed 1 --seconds 20 --trace 0

Runs one workload (see README.md in this directory) through the
program's public entry points, checks its outputs, and prints as its
last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (every end-to-end metric with ``--trace 0``,
every per-layer metric with ``--trace 1``).  The line before it
carries ``error_rate``, ``latency_tail_s`` and the detail-record
path.  Exits non-zero without a result line when the program cannot be
imported or run.
"""

from __future__ import annotations

import argparse
import importlib
import json
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

from corpus import GATES
from harness import REPO_ROOT, WORK_ROOT, log, pin_environment, shutdown, write_detail

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

STAGE_IO = ("arrival", "quality", "decontam", "exact_dup", "text_near_dup", "cluster_labels", "publish_corpus", "quarantine")
PER_LAYER = {
    "operators.validation.validate_s": "s",
    "streaming.epochs.publish_s": "s",
    "streaming.epochs.history_read_s": "s",
    "sinks.kv.upsert_s": "s",
    "sinks.kv.rows_written": "count",
    "sinks.kv.get_s": "s",
    "streaming.pipeline.activation_s": "s",
    "streaming.pipeline.batch_fn_s": "s",
    "streaming.pipeline.engine_s": "s",
    **{f"streaming.progress.{p}_ms": "ms" for p in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit")},
    **{f"streaming.curation.{g}.rows_in": "count" for g in GATES},
    **{f"streaming.curation.{g}.rows_out": "count" for g in GATES},
    "streaming.curation.accept_ratio": "ratio",
    "streaming.curation.planted_recall": "ratio",
    **{f"streaming.curation.stage_io.{s}_bytes": "bytes" for s in STAGE_IO},
    "pins.count": "count",
    "pins.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    scale: float
    plant_wrong_kv: bool
    work_dir: Path
    spark: object = None


WORKLOADS = {
    "ecom_arrivals": "ecom",
    "corpus_arrivals": "corpus",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke tests use < 1)")
    ap.add_argument(
        "--plant-wrong-kv",
        action="store_true",
        help="self-test: corrupt one served KPI row before the correctness check",
    )
    args = ap.parse_args()

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    sys.path.insert(0, str(REPO_ROOT))
    try:
        import real_time_event_driven_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program from {REPO_ROOT}: {e}")
        return 2
    run_workload = importlib.import_module(WORKLOADS[args.workload]).run

    work_dir = WORK_ROOT / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work_dir, ignore_errors=True)
    work_dir.mkdir(parents=True)
    pin_environment(work_dir)
    ctx = Context(args.seed, args.seconds, bool(args.trace), args.scale, args.plant_wrong_kv, work_dir)
    t0 = time.perf_counter()
    try:
        out = run_workload(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown(ctx.spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    if args.trace:
        # a layer the workload does not run reads 0
        metrics = {n: {"value": float(out.layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": float(out.metrics[n]), "unit": u} for n, u in END_TO_END.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "scale": args.scale,
        "run_s": time.perf_counter() - t0,
        "metrics": out.metrics,
        "layers": out.layers,
        "attempted": out.attempted,
        "failed": out.failed,
        **out.detail,
    }
    detail_path = write_detail(args.workload, args.seed, args.trace, record)
    # a run has too few samples for a tail percentile with ten beyond
    # it, so the tail is the maximum: reported here, not bounded
    print(json.dumps({
        "error_rate": {"value": out.failed / out.attempted, "unit": "ratio"},
        "latency_tail_s": {
            "value": out.metrics["latency_tail_s"],
            "unit": "s",
            "percentile": out.detail["latency_tail_percentile"],
            "samples": out.detail["latency_samples"],
        },
        "detail": str(detail_path.relative_to(REPO_ROOT)),
    }))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
