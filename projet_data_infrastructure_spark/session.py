"""SparkSession factory.

Replaces the reference's ad-hoc session builders
(``/root/reference/airflow/config/read_delta.py:16-25`` and the spark-shell
conf in ``/root/reference/airflow/dags/rewrite_delta_dag.py:36-48``) with one
opinionated factory tuned for scale:

* AQE on (runtime re-planning, skew-join splitting, partition coalescing) —
  the reference ran Spark 3.2 defaults with AQE off.
* Arrow execution for any pandas interop (the slow path, when unavoidable).
* UTC session timezone so timestamp semantics are reproducible across engines.
* Shuffle partitions sized from the environment (local test = cores; a real
  cluster overrides via ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` or spark-submit
  conf — at 100 TB you want 2-4x total executor cores, or simply AQE
  coalescing from a high initial number).
* Delta Lake extensions are applied only when the `delta-spark` package is
  importable (it is not in the test container); all sinks degrade to parquet.

Files a query writes only to read them back (stream sources, checkpoints,
fold state, fixture copies) live in :func:`scratch_dir`, under one root per
process that is removed when the process exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import SparkSession

try:  # pragma: no cover - optional dependency
    from delta import configure_spark_with_delta_pip  # type: ignore

    HAVE_DELTA = True
except ImportError:  # pragma: no cover
    configure_spark_with_delta_pip = None
    HAVE_DELTA = False


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


_scratch_lock = threading.Lock()
#: (owner pid, root) of this process's scratch root, made on first use.
_scratch_root: tuple[int, str] | None = None


def _remove_scratch(owner: int, root: str) -> None:
    # A forked child inherits this handler; only the creator removes the root.
    if os.getpid() == owner:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str) -> str:
    """A fresh directory for files a query writes before it reads them.

    Every such directory sits under one per-process root,
    ``spark_graft_scratch_<pid>_*`` in the temp dir, which an ``atexit``
    handler removes: the files last as long as the process that may still
    read them (a returned lazy frame, a module cache), and no longer. A
    forked child makes its own root on first use and never removes its
    parent's."""
    global _scratch_root
    pid = os.getpid()
    with _scratch_lock:
        if _scratch_root is None or _scratch_root[0] != pid:
            root = tempfile.mkdtemp(prefix=f"spark_graft_scratch_{pid}_")
            atexit.register(_remove_scratch, pid, root)
            _scratch_root = (pid, root)
        root = _scratch_root[1]
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def get_spark(
    app_name: str = "projet-data-infrastructure-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale notes: every config here is safe on a 1000-executor cluster; local
    values only affect the single-JVM test harness. ``master`` is left unset
    when running under spark-submit so the cluster manager decides.
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime row-level filtering: when one side of a shuffle join is
        # selectively filtered, inject a bloom filter of its join keys into
        # the other side's scan — at 100 TB this prunes most of the fact
        # table before the exchange (asserted in test_plans_quality.py).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # read 128 MiB splits; at 100 TB this yields ~800k input partitions,
        # which AQE coalesces after filters/projections prune the data.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master:
        builder = builder.master(master)
    if HAVE_DELTA:  # pragma: no cover - not available in the test container
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
        builder = configure_spark_with_delta_pip(builder)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
