"""SparkSession factory.

The reference builds its session per-job with S3A configs
(reference: docker-images/validation/validate.py:57-63,
docker-images/transformation/transform.py:64-69). Ours centralizes
session construction and tunes for the local[N] test harness while
keeping every knob cluster-safe (AQE, shuffle partitions, UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding this package: workers start ``WORKER_DAEMON``
# with ``python -m``, so it must be importable whatever the JVM's cwd
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_DAEMON = f"{__package__}.worker_daemon"

# Knobs that are safe to (re)apply on an externally supplied session at
# runtime.  Timezone pinning matters for oracle comparison: DuckDB
# timestamps are naive-UTC, so date truncation must agree.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # testdata events.parquet carries TIMESTAMP(NANOS); Spark's reader
    # rejects it unless nanos are surfaced as long (converted back to
    # timestamps in sources.readers.load_testdata)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # testdata timestamp[us] columns have isAdjustedToUTC=false; read
    # them as TimestampType (not NTZ) so unix_micros/watermarks accept
    # them and timestamp predicates still push down to the parquet scan
    # (a cast-in-the-loader would sit between scan and filter).  Session
    # tz is UTC, so the instant equals DuckDB's naive reading.
    # Session-global on purpose; safe because the engine itself never
    # writes TIMESTAMP_NTZ parquet (all timestamp columns flow through
    # TimestampType end-to-end — pinned by
    # tests/test_sinks.py::test_sinks_never_write_ntz_parquet), so the
    # only NTZ-typed parquet a session ever reads is driver testdata.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # write timestamps as TIMESTAMP(MICROS, adjustedToUTC=true) instead
    # of legacy INT96: engine-written parquet is explicitly instant-typed,
    # so the inferTimestampNTZ=false above can never reinterpret our own
    # sink output (it only ever fires on foreign NTZ files)
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # InferFiltersFromGenerate synthesizes `size(arr) > 0` ahead of every
    # explode, and PushDownPredicates then drags that predicate below
    # projections and exchanges — INLINING the array expression into the
    # filter.  All of this engine's exploded arrays are COMPUTED (shingle
    # transforms, span lists, posting arrays), so the inferred filter
    # only ever re-computes them — and when the array expr references a
    # tokenization inside a lambda, the inlined copy re-evaluates it per
    # element (the quadratic re-eval the with_shingles rule exists to
    # avoid), concentrated in the narrow pre-repartition scan task.
    # Measured on eval_contamination @ sf0.1: 13.2 s -> 5.4 s executor
    # CPU for the whole query.  The rule only ever helps when exploded
    # arrays arrive empty from a SCAN, which never happens here.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to any session (incl. the driver's)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not runtime-settable on this build — fine
    return spark


def object_store_confs(env: dict[str, str] | None = None) -> dict[str, str]:
    """Opt-in S3A object-store configuration, env-driven.

    Mirrors the reference's session bootstrap (reference:
    docker-images/validation/validate.py:58-63 and
    docker-images/transformation/transform.py:64-69 set fs.s3a.impl,
    the DefaultAWSCredentialsProviderChain, and the hadoop-aws jars)
    as a dormant hook: empty dict unless ``RTEDP_S3A=1``, so local and
    test sessions carry zero object-store config.

    Env knobs (all optional beyond the RTEDP_S3A switch):
      RTEDP_S3A_CREDENTIALS_PROVIDER  override the credential chain
      RTEDP_S3A_ENDPOINT              custom endpoint (MinIO / on-prem)
      RTEDP_S3A_PATH_STYLE=1          path-style access for non-AWS stores
      RTEDP_S3A_JARS                  comma list for spark.jars (hadoop-aws
                                      + aws sdk bundle, as in the reference
                                      Dockerfiles)
    Credentials themselves are never read here — the provider chain picks
    up the standard AWS env/instance-profile sources on the cluster.
    """
    if env is None:
        env = dict(os.environ)
    if env.get("RTEDP_S3A") != "1":
        return {}
    confs = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.aws.credentials.provider": env.get(
            "RTEDP_S3A_CREDENTIALS_PROVIDER",
            "com.amazonaws.auth.DefaultAWSCredentialsProviderChain",
        ),
    }
    if env.get("RTEDP_S3A_ENDPOINT"):
        confs["spark.hadoop.fs.s3a.endpoint"] = env["RTEDP_S3A_ENDPOINT"]
    if env.get("RTEDP_S3A_PATH_STYLE") == "1":
        confs["spark.hadoop.fs.s3a.path.style.access"] = "true"
    if env.get("RTEDP_S3A_JARS"):
        confs["spark.jars"] = env["RTEDP_S3A_JARS"]
    return confs


def default_driver_memory() -> str:
    """Half of physical memory, capped at 48g: in local mode the driver
    JVM holds every executor, and a heap larger than the machine lets
    the kernel kill it before the garbage collector runs."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(48 * 1024, phys_mb // 2))}m"


def get_spark(app_name: str = "rtedp-spark", cpus: int | None = None) -> SparkSession:
    """Local session tuned for the test harness.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is either local-only or cluster-neutral.
    ``SPARK_DRIVER_MEMORY`` sets the driver heap; unset, it is
    ``default_driver_memory()``.

    Python workers fork from ``worker_daemon``, which skips the
    ``pyspark.zip`` re-read PySpark's worker does before every task
    (see that module); the package root goes on the workers'
    ``PYTHONPATH`` so the daemon can be imported.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", WORKER_DAEMON)
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in object_store_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
