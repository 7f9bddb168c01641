"""SparkSession factory tuned for the fulltext engine.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting.
- Arrow enabled: every Python boundary is Arrow-batched (no per-row Python).
- shuffle.partitions is a local-mode default; on a real cluster it is set
  per-job from input size (``segments_for`` in sources.index_store picks the
  ingest parallelism explicitly).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _package_zip(pkg_dir: str | None = None) -> str:
    """Zip a package directory (default: this package) so executors can
    import it — the local-mode analog of ``spark-submit --py-files
    elasticsearch_spark.zip`` (the north-rule deployment shape). Each
    checkout gets its own zip, named by a digest of its package directory,
    and rebuilds it only when its own sources are newer: two checkouts on
    one host never run each other's executor code."""
    pkg_dir = os.path.abspath(pkg_dir or os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    digest = hashlib.sha1(pkg_dir.encode()).hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(), f"{os.path.basename(pkg_dir)}_pkg-{digest}.zip")
    sources = [os.path.join(dp, f) for dp, _, fs in os.walk(pkg_dir) for f in fs if f.endswith(".py")]
    if not os.path.exists(out) or os.path.getmtime(out) < max(map(os.path.getmtime, sources)):
        tmp = f"{out}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for p in sources:
                z.write(p, os.path.relpath(p, root))
        os.replace(tmp, out)
    return out


def get_spark(
    app_name: str = "elasticsearch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "*"))
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cores, 8))))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.locality.wait", "0")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:
        pass  # already added in this context, or running from a --py-files deploy
    return spark
