"""PySpark worker daemon with the engine's heavy imports preloaded.

Spark forks one Python **worker per concurrent task** from a per-executor
daemon process (``spark.python.daemon.module``, default
``pyspark.daemon``).  The stock daemon imports only pyspark, so every
freshly forked worker pays the *lazy* imports its first Arrow/pandas UDF
batch triggers — numpy + pandas + pyarrow are ~1-2 s of pure import
time — and workers are forked far more often than one would hope: any
task that does not fully drain its Python stream (``limit``-style early
exits, take waves over Python-stage subtrees) is killed rather than
returned to the reuse pool, so a busy session repeatedly re-forks whole
32-wide worker waves.  Measured in this repo's bench (event log, task
accumulables): "time to initialize Python workers" was 5.9-12.3 s *per
task* on 32-task Python stages that landed right after such a pool kill
— 189-393 s of task time per stage, all import/boot cost.

Importing the heavy libraries HERE, once per daemon, lets every forked
worker inherit them copy-on-write: the per-worker import tax drops to
zero at any core count (the daemon is per executor, so this is
cluster-correct, not a local[32] tweak).  The daemon costs the imports
once at session start and ~150 MB of RSS that all workers share.

Usage (set in :mod:`rhq_metrics_spark.session`)::

    spark.python.daemon.module=rhq_metrics_spark.pydaemon

The module must be importable on executors — it ships with the engine
package, which a PySpark deployment distributes anyway.

Fork safety: the daemon forks workers after these imports, and
``fork()`` copies only the calling thread.  A BLAS library that has
started its thread pool at import (OpenBLAS, OpenMP, MKL) would leave
each child with pool state whose threads do not exist, and the child's
first BLAS call can hang.  The module therefore pins
``OPENBLAS_NUM_THREADS`` / ``OMP_NUM_THREADS`` / ``MKL_NUM_THREADS`` to
``1`` before any import, so no pool threads exist at fork time; a value
the deployment sets itself is left alone.  The assumption is that the
daemon itself never runs numeric work — it only imports and forks.
"""

from __future__ import annotations

import os

for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

# Preload the vectorized stack the engine's Arrow/pandas UDFs touch on
# their first batch.  Failures must never break the daemon: fall back to
# the stock lazy-import behaviour per library.
for _mod in ("numpy", "pandas", "pyarrow"):
    try:  # noqa: SIM105
        __import__(_mod)
    except Exception:  # pragma: no cover - optional at runtime
        pass

# The Arrow serializer chain pyspark.worker lazily pulls in per UDF kind.
for _mod in (
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
):
    try:  # noqa: SIM105
        __import__(_mod)
    except Exception:  # pragma: no cover
        pass

from pyspark.daemon import manager  # noqa: E402  (re-export for __main__)

if __name__ == "__main__":
    manager()
