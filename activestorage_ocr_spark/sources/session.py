"""SparkSession construction with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB target (SURVEY.md §4.2), applied identically in
tests/bench so measured plans match shipped plans:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing);
* Arrow execution on, ``maxRecordsPerBatch`` bounded (1024) because page rows
  can be MB-sized; the kernel additionally re-slices batches to a byte budget
  (KERNEL_SLICE_BYTES), so the record cap is a first-line bound, not the only
  memory guard;
* session timezone pinned UTC (DuckDB oracle comparison; pyspark guide
  pitfall);
* shuffle partitions sized to cores for local runs — on a real cluster this
  is set to ~2-3x total cores via spark-submit conf;
* parallel partition-discovery listing sized to cores for local runs too:
  a read of more than 32 partition dirs (a committed ``data/`` tree) lists
  them in a Spark job of that many tasks, which Spark caps only at 10000 —
  on a cluster the default stands.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: repo root (the package's parent) — exported to Python workers below
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_session(
    master: str = "local[*]",
    app_name: str = "activestorage-ocr-spark",
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 1024,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Python workers unpickle the Arrow kernels by importing this package, so
    # it must be on the *worker* PYTHONPATH even when the driver runs from
    # another cwd. Local-mode workers inherit the driver environment (set
    # before the JVM starts); on a real cluster `--py-files
    # dist/activestorage_ocr_spark.zip` (jobs/package.py) does this instead.
    pypath = os.environ.get("PYTHONPATH", "")
    if _PKG_ROOT not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{_PKG_ROOT}{os.pathsep}{pypath}" if pypath else _PKG_ROOT

    # local[N] -> N; local[*] / cluster -> 0 (leave to AQE and Spark defaults)
    local_cores = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else 0
    if shuffle_partitions is None:
        shuffle_partitions = local_cores
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # binary page rows are MB-scale and zstd compresses them ~7x: default
        # 128 MB *compressed* splits give far too few scan tasks for the
        # CPU-heavy extraction stage; 4 MB keeps all cores fed
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if local_cores:
        b = b.config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(local_cores))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
