"""SparkSession factory tuned for this engine.

Local mode is a single JVM; on a real cluster the same config applies,
only ``master``/``spark.executor.*`` change (shipped via spark-submit
--py-files, see scripts/submit.sh). AQE is on so skewed shuffles get
re-planned at runtime; Arrow is on because every Python touchpoint is a
vectorized pandas UDF; the session timezone is pinned to UTC so results
hash-compare cleanly against UTC-naive engines (DuckDB oracle).
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def package_zip(dest_dir: str | None = None) -> str:
    """Zip this package for --py-files shipping; returns the zip path.

    Used both by ``get_spark`` (addPyFile, so pandas-UDF closures resolve
    on executors regardless of the driver's cwd) and by
    scripts/submit.sh for real spark-submit deployment.
    """
    pkg_root = Path(__file__).resolve().parent
    dest = Path(dest_dir or tempfile.gettempdir()) / "oscar_tools_spark.zip"
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg_root.rglob("*.py")):
            zf.write(py, Path(pkg_root.name) / py.relative_to(pkg_root))
    return str(dest)


def get_spark(
    app_name: str = "oscar-tools-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``cores`` is only honoured when no master is configured yet (local
    runs / tests); on a cluster the submitted master wins.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(str(cores)), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r8 (guide §9/§3.1): let the planner pick shuffled-hash join
        # when its size conditions hold — no sort on either side.
        # Spark's own build-side size checks still gate the choice (a
        # build partition must fit in memory), and AQE skew-join
        # handling stays on. A/B over the join-heavy suite queries at
        # sf0.1/32: dedup_components 3.48->3.12, incremental minhash
        # 1.93->1.75, repetition_stats 1.20->1.11, simhash ~flat.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 5000-row Arrow batches keep the vectorized scorers' numpy
        # temporaries cache-resident (A/B'd 2k/5k/10k/20k: 5k ~8% faster
        # than the 10k default on the fused model pipeline)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "5000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Ship the package to executors (the local-mode analog of
    # spark-submit --py-files) so vectorized UDF closures that reference
    # this package import cleanly on Python workers from any cwd.
    spark.sparkContext.addPyFile(package_zip())
    return spark
