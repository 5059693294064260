"""PySpark daemon used by traced runs (``spark.python.daemon.module``).

Wraps ``duke_spark.kernel.tree.aggregate_tree_scores`` before the daemon
forks any worker, so every fold a Python worker runs is counted (see
``perfbench.trace.install_worker_fold_counter``), then serves workers
exactly as ``pyspark.daemon`` does.
"""

import os

from perfbench.trace import WORKER_TRACE_ENV, install_worker_fold_counter

if __name__ == "__main__":
    install_worker_fold_counter(os.environ[WORKER_TRACE_ENV])
    from pyspark import daemon

    daemon.manager()
