"""SparkSession factory with scale-aware defaults.

Defaults follow the public Spark tuning guidance: AQE on (runtime
re-plan + skew-join splitting), shuffle partitions sized to cores in
local mode (would be 2-3× total cores on a real cluster), Arrow enabled
for the pandas-UDF hot path, UTC session timezone for deterministic
timestamp semantics.
"""

from __future__ import annotations

import hashlib
import io
import os
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_DIR = Path(__file__).resolve().parent
_PKG_PARENT = str(_PKG_DIR.parent)


def package_zip(out: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``.
    Entries carry no mtime, so the zip is a function of the sources'
    relative paths and bytes, and the default name is its hash: checkouts
    with other sources never rewrite it (Spark fails tasks whose shipped
    file changes contents)."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for p in sorted(_PKG_DIR.rglob("*.py")):
            entry = zipfile.ZipInfo(str(p.relative_to(_PKG_DIR.parent)))
            z.writestr(entry, p.read_bytes(), zipfile.ZIP_DEFLATED)
    data = buf.getvalue()
    digest = hashlib.sha256(data).hexdigest()[:16]
    out = out or os.path.join("/tmp", f"qcfe_spark_pkg_{digest}.zip")
    tmp = f"{out}.{os.getpid()}.tmp"  # renamed into place: readers never see a partial zip
    Path(tmp).write_bytes(data)
    os.replace(tmp, out)
    return out


def _default_driver_mem() -> str:
    """Half the host's RAM, at most 48g. Local mode runs every task in
    the driver JVM, and a heap larger than RAM lets it grow until the
    OS kills it (a 48g heap on a 16 GB host dies mid test-suite)."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, ram // 2**31))}g"


def get_spark(
    app: str = "qcfe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers must be able to import this package (they unpickle the
    # decode UDF). Propagate via PYTHONPATH for local mode and ship a zip
    # via addPyFile for cluster mode (spark-submit --py-files equivalent).
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_PARENT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _PKG_PARENT + (os.pathsep + pp if pp else "")
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
        shuffle_partitions = int(os.cpu_count() or 32) if n == "*" else int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # DSv2-python filter pushdown (sources/snapshot_source.py): lets
        # Catalyst's pushed filters drive manifest file pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if _PKG_DIR.is_dir():  # imported from a zip (--py-files): already shipped
        try:
            spark.sparkContext.addPyFile(package_zip())
        except Exception:
            pass  # already added in a reused session
    return spark
