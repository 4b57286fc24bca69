"""The one session factory: ``get_spark`` defers to spark-submit, every
job takes its session from it, and outside spark-submit it builds the
configuration the rest of the suite checks."""

import ast
import json
import os
import subprocess
import sys

from conftest import JOBS_DIR, REPO_DIR
from pyspark.find_spark_home import _find_spark_home

_DRIVER = """
import json
from mistral_ocr_app_spark.session import get_spark

spark = get_spark(cores=3)
conf = dict(spark.sparkContext.getConf().getAll())
keys = [
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
    "spark.sql.parquet.compression.codec",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
]
print(json.dumps({
    "master": spark.sparkContext.master,
    "app_name": spark.sparkContext.appName,
    "driver_memory": conf.get("spark.driver.memory"),
    **{k: spark.conf.get(k) for k in keys},
}))
spark.stop()
"""


def test_spark_submit_launch_settings_win(tmp_path):
    """Keys given to spark-submit keep their launch values; the keys it
    left unset still carry the factory's defaults. The app name is the
    caller's: spark-submit fills one in (the script's file name) even
    when --name is absent."""
    script = tmp_path / "driver.py"
    script.write_text(_DRIVER)
    env = dict(os.environ, PYSPARK_DRIVER_PYTHON=sys.executable)
    proc = subprocess.run(
        [
            os.path.join(_find_spark_home(), "bin", "spark-submit"),
            "--master", "local[2]",
            "--driver-memory", "1g",
            "--conf", "spark.sql.shuffle.partitions=5",
            str(script),
        ],
        capture_output=True, text=True, timeout=240, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["master"] == "local[2]"
    assert got["app_name"] == "mistral_ocr_app_spark"
    assert got["driver_memory"] == "1g"
    assert got["spark.sql.shuffle.partitions"] == "5"
    assert got["spark.sql.session.timeZone"] == "UTC"
    assert got["spark.sql.adaptive.enabled"] == "true"
    assert got["spark.sql.parquet.compression.codec"] == "zstd"
    assert got["spark.sql.execution.arrow.maxRecordsPerBatch"] == "10000"


def test_outside_spark_submit_factory_settings_apply(spark):
    assert spark.sparkContext.master == "local[8]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"


def test_launch_keys_do_not_start_the_gateway():
    """Outside spark-submit the launch-conf probe must not start the JVM:
    spark.driver.memory only takes effect as a launch argument."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    code = (
        "from pyspark import SparkContext\n"
        "from mistral_ocr_app_spark.session import _launch_keys\n"
        "assert _launch_keys() == set()\n"
        "assert SparkContext._gateway is None\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=120, env=env, cwd=str(REPO_DIR),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def _main(tree: ast.Module) -> ast.FunctionDef:
    return next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "main"
    )


def test_no_job_builds_its_own_session():
    jobs = sorted(JOBS_DIR.glob("*.py"))
    assert len(jobs) == 7
    for job in jobs:
        tree = ast.parse(job.read_text(), filename=str(job))
        builders = [
            n for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr == "builder"
            and isinstance(n.value, ast.Name) and n.value.id == "SparkSession"
        ]
        assert not builders, f"{job.name}: SparkSession.builder at line {builders[0].lineno}"
        calls = [
            n for n in ast.walk(_main(tree))
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
            and n.func.id == "get_spark"
        ]
        assert len(calls) == 1, f"{job.name}: main() makes {len(calls)} get_spark calls"
        assert [k.arg for k in calls[0].keywords] == ["app_name"], job.name
