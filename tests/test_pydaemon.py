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
