"""Session factory: the opt-in S3A object-store hook.

The sandbox has no object store, so these tests assert the *conf dict*
the hook would hand the builder (the reference wires the same keys at
docker-images/validation/validate.py:58-63) — and, critically, that the
hook stays dormant for local/test sessions.
"""

from pyspark.sql import SparkSession

from real_time_event_driven_data_pipeline_spark.session import object_store_confs


def test_dormant_without_opt_in():
    assert object_store_confs({}) == {}
    assert object_store_confs({"RTEDP_S3A_ENDPOINT": "http://x"}) == {}


def test_base_s3a_confs():
    confs = object_store_confs({"RTEDP_S3A": "1"})
    assert confs["spark.hadoop.fs.s3a.impl"] == "org.apache.hadoop.fs.s3a.S3AFileSystem"
    assert (
        confs["spark.hadoop.fs.s3a.aws.credentials.provider"]
        == "com.amazonaws.auth.DefaultAWSCredentialsProviderChain"
    )
    assert "spark.hadoop.fs.s3a.endpoint" not in confs
    assert "spark.jars" not in confs


def test_all_knobs_land_in_builder():
    env = {
        "RTEDP_S3A": "1",
        "RTEDP_S3A_CREDENTIALS_PROVIDER": "org.example.MyProvider",
        "RTEDP_S3A_ENDPOINT": "http://minio.local:9000",
        "RTEDP_S3A_PATH_STYLE": "1",
        "RTEDP_S3A_JARS": "/jars/hadoop-aws-3.3.4.jar,/jars/aws-sdk.jar",
    }
    confs = object_store_confs(env)
    assert confs["spark.hadoop.fs.s3a.aws.credentials.provider"] == "org.example.MyProvider"
    assert confs["spark.hadoop.fs.s3a.endpoint"] == "http://minio.local:9000"
    assert confs["spark.hadoop.fs.s3a.path.style.access"] == "true"
    assert confs["spark.jars"] == "/jars/hadoop-aws-3.3.4.jar,/jars/aws-sdk.jar"

    # and they land on a real builder (no session started)
    builder = SparkSession.builder
    for k, v in confs.items():
        builder = builder.config(k, v)
    opts = builder._options
    for k, v in confs.items():
        assert opts[k] == v


def test_fresh_session_runs_python_jobs_under_worker_daemon(tmp_path):
    """A new ``get_spark`` session, started outside the repository (so
    only the session's own worker PYTHONPATH makes the daemon
    importable), runs a Python RDD job and a pandas UDF, and its
    workers carry the no-op zip cache invalidation."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    script = f"""
import json, sys
sys.path.insert(0, {str(repo)!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from real_time_event_driven_data_pipeline_spark.session import WORKER_DAEMON, get_spark

spark = get_spark("worker-daemon-check", cpus=2)
sc = spark.sparkContext

def probe(_):
    import zipimport
    yield zipimport.zipimporter.invalidate_caches.__qualname__

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

print(json.dumps({{
    "daemon": sc.getConf().get("spark.python.daemon.module") == WORKER_DAEMON,
    "rdd": sc.parallelize(range(10), 2).map(lambda x: x * x).sum(),
    "invalidate": sorted(set(sc.parallelize(range(2), 2).mapPartitions(probe).collect())),
    "udf": [r[0] for r in spark.range(3).select(plus_one("id")).orderBy(1).collect()],
}}))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"daemon": True, "rdd": 285, "invalidate": ["<lambda>"], "udf": [1, 2, 3]}
