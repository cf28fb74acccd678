"""Exactly-once epoch publishing for foreachBatch sinks.

Structured Streaming's foreachBatch gives at-least-once delivery: if
the driver dies between the batch function returning and the checkpoint
committing, the SAME epoch re-runs with the SAME batch.  A gate that
does N independent ``mode("append")`` parquet writes (corpus + sidecar
indexes + quarantine) is therefore unsafe twice over (round-2 ADVICE):

- full re-run after success  -> every output double-appended;
- re-run after a PARTIAL publish -> the outputs desync (e.g. the
  fingerprint sidecar has the batch but the corpus does not, so the
  retry quarantines the batch as "already seen" and the rows are lost).

Two primitives fix both:

- ``publish_epoch(df, target_dir, epoch_id)``: append ``df``'s rows to
  ``target_dir`` as files named ``epoch<id>-*``.  The write lands in a
  staging dir (``mode("overwrite")``, retry-safe), any ``epoch<id>-*``
  files from a previous partial attempt are deleted, then the staged
  files are renamed in.  Re-running an epoch converges to exactly one
  copy regardless of where the previous attempt died.
- ``epoch_committed`` / ``commit_epoch``: a per-epoch marker file
  written AFTER every output published; the batch function checks it
  first and skips the whole epoch on a post-success replay.

Spark Structured Streaming guarantees epoch_id <-> batch-content
stability across restarts from the same checkpoint, which is what makes
the epoch id a safe idempotency key.  All filesystem ops go through the
Hadoop FileSystem API (local/HDFS/s3a alike); note that on object
stores rename is copy+delete, so the swap is slower but the delete-
then-rename protocol stays correct (readers may transiently see a
partial epoch, never a duplicated one).

Reference analogue: the reference pipeline relies on Step Functions
retries around its Glue jobs (SURVEY §3.3) and is NOT idempotent on
partial failure; this module is the Spark-first upgrade of that
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, jvm = _fs(spark, path)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(path))


def epoch_committed(spark: SparkSession, marker_dir: str, epoch_id: int) -> bool:
    return path_exists(spark, f"{marker_dir}/epoch-{epoch_id}.done")


def commit_epoch(spark: SparkSession, marker_dir: str, epoch_id: int) -> None:
    fs, jvm = _fs(spark, marker_dir)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(f"{marker_dir}/epoch-{epoch_id}.done"), True)
    out.close()


def read_epoch_dir(
    spark: SparkSession,
    path: str,
    exclude_epoch: int | None = None,
    schema: StructType | None = None,
) -> DataFrame | None:
    """Read a per-epoch published directory; ``None`` if absent/empty.

    ``exclude_epoch`` (pass the epoch currently being processed) skips
    that epoch's files.  This matters on REPLAY of a partially
    published epoch: the previous attempt's own files would otherwise
    (a) poison history gates — the batch's fingerprints/keys look
    "already seen" and the retry quarantines its own rows — and
    (b) be deleted by this attempt's publish while a lazy plan still
    references them (FILE_NOT_EXIST at action time).  Excluding the
    current epoch makes the read see exactly the pre-epoch history,
    which is the correct gate input by definition.

    ``schema`` (the schema the files were written with) skips parquet
    schema inference, which otherwise costs a Spark job per read."""
    fs, jvm = _fs(spark, path)
    root = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(root):
        return None
    prefix = None if exclude_epoch is None else f"epoch{exclude_epoch}-"
    files = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.endswith(".parquet"):
            continue
        if prefix is not None and name.startswith(prefix):
            continue
        files.append(st.getPath().toString())
    if not files:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*files)


def publish_epoch(df: DataFrame, target_dir: str, epoch_id: int) -> None:
    """Idempotently append ``df`` to ``target_dir`` as this epoch's
    contribution (files ``epoch<id>-part-*``).  Safe to re-run: a
    retry first removes whatever the previous attempt left behind."""
    spark = df.sparkSession
    staging = f"{target_dir.rstrip('/')}.epoch-{epoch_id}.staging"
    df.write.mode("overwrite").parquet(staging)

    fs, jvm = _fs(spark, target_dir)
    hpath = jvm.org.apache.hadoop.fs.Path
    target = hpath(target_dir)
    fs.mkdirs(target)
    prefix = f"epoch{epoch_id}-"
    # clear a previous partial attempt's files for THIS epoch only
    for st in fs.listStatus(target):
        name = st.getPath().getName()
        if name.startswith(prefix):
            fs.delete(st.getPath(), False)
    moved = False
    for st in fs.listStatus(hpath(staging)):
        name = st.getPath().getName()
        if not name.endswith(".parquet"):
            continue  # _SUCCESS, checksums
        if not fs.rename(st.getPath(), hpath(f"{target_dir}/{prefix}{name}")):
            raise OSError(f"publish_epoch: rename failed for {name} -> {target_dir}")
        moved = True
    fs.delete(hpath(staging), True)
    if not moved:
        # empty epochs still publish an empty (schema-bearing) marker
        # file so downstream reads of the dir don't schema-fail; Spark
        # always writes >=1 part file for an empty frame, so this branch
        # means the staging listing was unexpectedly bare
        df.limit(0).write.mode("append").parquet(target_dir)
