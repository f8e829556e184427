"""SparkSession factory tuned for the KG-construction workload.

Local-mode knobs mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow on (every Python stage is batch-vectorized), shuffle
partition count sized to >= 4x task slots so stragglers can be rebalanced.
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS_PER_CORE = 4


def get_spark(
    app_name: str = "entity_extractor_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all
    local cores. On a real cluster the same confs apply; only ``master``
    changes (spark-submit provides it).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = cores * DEFAULT_SHUFFLE_PARTITIONS_PER_CORE

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size: the mention matcher is CPU-bound per batch; 10k
        # rows/batch keeps per-task memory bounded at 100 TB scale while
        # amortizing Python<->JVM transfer.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _package_dir() -> Path:
    import entity_extractor_spark

    return Path(entity_extractor_spark.__file__).parent


def package_digest() -> str:
    """sha1 over this package's Python sources, in path order: the code
    identity that names the shipped zip and enters every stage
    fingerprint (``lineage.StageRunner``)."""
    import hashlib

    digest = hashlib.sha1()
    for py in sorted(_package_dir().rglob("*.py")):
        digest.update(py.read_bytes())
    return digest.hexdigest()


def _ship_package(spark: SparkSession) -> None:
    """Distribute this package to executor Python workers.

    The programmatic equivalent of ``spark-submit --py-files pkg.zip``
    (the north rule's deployment mode): without it, workers only see the
    driver's cwd and PYTHONPATH, and the matcher UDF's closure fails to
    unpickle when the job is launched from elsewhere.
    """
    pkg_dir = _package_dir()
    zip_path = Path("/tmp") / f"entity_extractor_spark-{package_digest()[:12]}.zip"
    if not zip_path.exists():
        tmp = zip_path.with_suffix(".zip.tmp")
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, arcname=str(Path(pkg_dir.name) / py.relative_to(pkg_dir)))
        os.replace(tmp, zip_path)  # atomic: concurrent sessions race safely
    spark.sparkContext.addPyFile(str(zip_path))
