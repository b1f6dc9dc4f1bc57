"""SparkSession construction & normalization.

The engine needs a handful of session confs for deterministic, oracle-checkable
results (UTC timezone) and for reading the fixture parquet (nanosecond
timestamps are stored as INT64 TIMESTAMP(NANOS) which Spark 4 only reads via
``spark.sql.legacy.parquet.nanosAsLong``). ``configure_session`` applies the
runtime-settable ones to an externally provided session (the verify driver owns
its own SparkSession); ``get_spark`` builds a local session for tests/bench.
``ship_package`` makes the package importable on Python workers, and
``arrow_map`` runs a module-level per-row kernel over Arrow batches.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

# Runtime-settable confs required for correctness parity with the DuckDB oracle.
RUNTIME_CONFS = {
    # deterministic timestamp formatting / window bucketing
    "spark.sql.session.timeZone": "UTC",
    # fixture events.parquet stores ts as INT64 TIMESTAMP(NANOS); read as long
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for any pandas_udf paths
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # local-scale shuffle sizing (Spark's 200 default over-parallelizes the
    # fixture scales; results are partition-count independent by construction
    # — deterministic sums/rankings — so this is purely a latency knob. AQE
    # coalesces further at runtime.)
    "spark.sql.shuffle.partitions": "64",
}

# Scan-split sizing is SCALE-APPROPRIATE, not a constant (r10, measured both
# ways): at sf1 a 16 MB split turns the ~100 MB scans into 8-10 parallel
# tasks (corr_stats 24 s -> 1.6 s vs a 1-task layout), but the SAME 16 MB at
# sf0.1 doubles artifact-heavy sub-second keys (stratified_sample 0.44 ->
# 0.86 s, dedup_cluster_sizes 1.9 -> 3.8 s: dozens of tiny session-artifact
# files become dozens of ~ms tasks and launch overhead dominates). So the
# knob rides an env var — sf1 bench runs set SPARK_GRAFT_MAX_PARTITION_BYTES
# =16m, fixture scales keep Spark's 128 MB default. A 100 TB deployment
# sizes this per executor-memory budget (the brief's own instruction).
_MAX_PARTITION_ENV = "SPARK_GRAFT_MAX_PARTITION_BYTES"


def _scan_split_conf() -> dict[str, str]:
    v = os.environ.get(_MAX_PARTITION_ENV)
    return {"spark.sql.files.maxPartitionBytes": v} if v else {}

# Confs we want at build time for performance (AQE is default-on in Spark 4 but
# be explicit — the 100 TB posture depends on it).
BUILD_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
_SHIPPED_APPS: set[str] = set()


@functools.cache
def _package_zip() -> str:
    """Zip of the package's ``.py`` files, built once per process and
    named by a digest of their contents, so processes running the same
    code share one file in the temp dir instead of leaving one each."""
    import glob
    import hashlib
    import tempfile
    import zipfile

    root = os.path.dirname(_PACKAGE_DIR)
    files = []
    pattern = os.path.join(_PACKAGE_DIR, "**", "*.py")
    for path in sorted(glob.glob(pattern, recursive=True)):
        with open(path, "rb") as fh:
            files.append((os.path.relpath(path, root), fh.read()))
    digest = hashlib.sha1()
    for name, data in files:
        digest.update(name.encode() + b"\0" + data)
    path = os.path.join(
        tempfile.gettempdir(),
        f"{os.path.basename(_PACKAGE_DIR)}-{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for name, data in files:
                zf.writestr(name, data)
        os.replace(tmp, path)
    return path


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on the session's Python workers.

    Python workers do not inherit the driver's ``sys.path``: a driver
    started outside the repository (or an executor JVM on another host)
    runs workers that cannot import ``cassandra_data_migrator_spark``.
    This zips the package's ``.py`` files and registers the zip with
    ``sc.addPyFile`` once per ``applicationId``. The rule that follows:
    a Python kernel is a module-level function of this package, run
    through :func:`arrow_map`, which ships the package before it builds
    the plan; cloudpickle sends such functions by reference, so a kernel
    never needs an inlined copy of the code it calls."""
    sc = spark.sparkContext
    app = sc.applicationId
    if app not in _SHIPPED_APPS:
        sc.addPyFile(_package_zip())
        _SHIPPED_APPS.add(app)


def arrow_map(df: DataFrame, fn, schema: StructType | str) -> DataFrame:
    """Run a per-row kernel over Arrow batches (``mapInPandas``).

    ``fn`` is called with each input row's values in ``df``'s column
    order and returns an iterable of zero or more output tuples, each in
    ``schema`` order — one tuple for a 1:1 decoder, one per record for a
    splitter. Select the input columns before calling. Output columns are
    built as ``object`` so ``None`` stays null in every column type."""
    ship_package(df.sparkSession)
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    names = schema.fieldNames()

    def _batches(it):
        import pandas as pd

        for pdf in it:
            rows = [
                out
                for row in pdf.itertuples(index=False, name=None)
                for out in fn(*row)
            ]
            yield pd.DataFrame(rows, columns=names, dtype=object)

    return df.mapInPandas(_batches, schema)


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, best-effort)
    and ship the package to its Python workers."""
    for k, v in {**RUNTIME_CONFS, **_scan_split_conf()}.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf in this Spark build — loaders have fallbacks.
            pass
    ship_package(spark)
    return spark


def get_spark(app_name: str = "cdm-spark", cpus: int | None = None) -> SparkSession:
    """Local session for tests and bench (mirrors the reference's local[*]
    deployment, /root/reference/entrypoint.sh:278)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # SPARK_GRAFT_MASTER overrides the deployment: local-cluster[n,cores,mem]
    # runs real executor JVMs (task serialization, broadcast transport,
    # per-executor Python workers, shuffle fetch), the axis single-JVM
    # local[] can't exercise.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(min(32, cpus * 2)))
        .config("spark.driver.memory", os.environ.get("CDM_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", "-Dlog4j2.level=ERROR")
    )
    for k, v in {**RUNTIME_CONFS, **BUILD_CONFS, **_scan_split_conf()}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure_session(spark)
