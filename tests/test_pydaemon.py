"""The preloading worker daemon (rhq_metrics_spark.pydaemon).

Workers fork from the daemon and inherit its imports copy-on-write; the
engine points ``spark.python.daemon.module`` at a daemon that has the
vectorized stack (numpy/pandas/pyarrow) preloaded so freshly forked
workers skip their first-batch import tax (measured 5.9-12.3 s/task of
worker-init time on 32-task Python stages after a pool kill).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyspark.sql.functions as F

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_uses_preloading_daemon(spark):
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "rhq_metrics_spark.pydaemon"
    )


def test_pydaemon_module_preloads_vector_stack():
    # In a fresh interpreter: importing the daemon module must pull in
    # numpy/pandas/pyarrow and expose pyspark.daemon's manager().
    code = (
        "import rhq_metrics_spark.pydaemon as d, sys; "
        "assert 'numpy' in sys.modules; "
        "assert 'pandas' in sys.modules; "
        "assert 'pyarrow' in sys.modules; "
        "assert callable(d.manager)"
    )
    subprocess.run([sys.executable, "-c", code], check=True, cwd=_REPO)


def test_arrow_udf_runs_through_preloaded_daemon(spark):
    # End-to-end: a pandas UDF executes in a worker forked from the
    # custom daemon and returns correct values.
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def double(x):
        return x * 2

    rows = (
        spark.range(100)
        .select(F.sum(double(F.col("id"))).alias("s"))
        .collect()
    )
    assert rows[0]["s"] == 2 * sum(range(100))


def test_pydaemon_pins_blas_threads_before_fork():
    # Fork safety: the daemon forks workers after importing numpy, so
    # BLAS must not have started a thread pool.  Unset variables are
    # pinned to 1; a value the deployment chose is left alone.
    code = (
        "import os, rhq_metrics_spark.pydaemon; "
        "print([os.environ[v] for v in ('OPENBLAS_NUM_THREADS', "
        "'OMP_NUM_THREADS', 'MKL_NUM_THREADS')])"
    )
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")
    }
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, check=True,
        capture_output=True, text=True, cwd=_REPO,
    ).stdout
    assert out.strip() == "['1', '1', '1']"
    out = subprocess.run(
        [sys.executable, "-c", code], env={**env, "OMP_NUM_THREADS": "3"},
        check=True, capture_output=True, text=True, cwd=_REPO,
    ).stdout
    assert out.strip() == "['1', '3', '1']"


def test_sys_path_only_script_runs_python_stages(tmp_path):
    # A script that puts the package only on its own sys.path (no
    # PYTHONPATH, not installed, started from another directory): the
    # workers could not import the preloading daemon, so the session
    # keeps Spark's stock daemon and a Python UDF stage runs.
    script = tmp_path / "udf_stage.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {_REPO!r})\n"
        "import pyspark.sql.functions as F\n"
        "from rhq_metrics_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1)\n"
        "print(spark.conf.get('spark.python.daemon.module', 'default'))\n"
        "plus = F.udf(lambda x: x + 1, 'long')\n"
        "print(sum(r[0] for r in spark.range(5).select(plus('id')).collect()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "512m"
    out = subprocess.run(
        [sys.executable, str(script)], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["default", "15"]
