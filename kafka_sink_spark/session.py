"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every setting is chosen to also hold on a
large cluster: AQE on (runtime re-plan + skew-join handling), shuffle partitions
sized for the data scale, Arrow enabled for the few pandas-UDF code paths, and
case-sensitive SQL because the reference's mapping DSL distinguishes quoted
case-sensitive identifiers (reference:
sink/src/it/java/com/datastax/oss/kafka/sink/ccm/StructEndToEndCCMIT.java:611-668).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def _read_zip_directories_once() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive's
    directory only when the archive changed.

    PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``worker_util.setup_spark_files``). Before Python
    3.13 that makes every ``zipimporter`` re-read the whole central
    directory of its archive, and a worker holds one importer per package it
    imported from ``pyspark.zip``: about 16 reads of an unchanged file per
    task. Here each archive's directory is read once and shared by all its
    importers, and read again only when the archive's
    ``(st_mtime_ns, st_size, st_ino)`` differs from the read before, so a
    rewritten ``addPyFile`` archive is still picked up. Python 3.13 made the
    stdlib method lazy; there nothing is replaced.

    Runs when this module is imported, which is how a worker installs it:
    unpickling any package function imports the package, and its
    ``__init__`` imports this module.
    """
    if sys.version_info >= (3, 13):
        return
    import zipimport

    read = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches
    directories = zipimport._zip_directory_cache
    stamps: dict[str, tuple[int, int, int] | None] = {}

    def stamp(archive: str) -> tuple[int, int, int] | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    def read_directory(archive: str) -> dict:
        # Stat before reading: a rewrite racing the read shows up as a
        # changed stamp at the next invalidation, never as a stale match.
        before = stamp(archive)
        files = read(archive)
        stamps[archive] = before
        return files

    def invalidate_caches(self) -> None:
        now = stamp(self.archive)
        files = directories.get(self.archive)
        if now is None or files is None or stamps.get(self.archive) != now:
            reread(self)  # reads through read_directory, which stamps it
        else:
            self._files = files

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # Directories read before this ran carry no stamp: read each once now,
    # so from here on an invalidation reads nothing until an archive changes.
    for archive in list(directories):
        try:
            directories[archive] = read_directory(archive)
        except zipimport.ZipImportError:
            del directories[archive]


_read_zip_directories_once()


def get_spark(
    app_name: str = "kafka-sink-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults scale with the environment: ``SPARK_GRAFT_CPUS`` drives local
    parallelism; on a real cluster the same configs apply unchanged (AQE
    coalesces the 2x-cores shuffle partitions down when partitions are small,
    and splits skewed ones).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Reference mapping DSL is case-sensitive for quoted identifiers.
        .config("spark.sql.caseSensitive", "true")
        # AQE: runtime coalescing, skew-join splitting, join-strategy switch.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDFs (timeuuid/locale codecs, multimodal plumbing).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast small dimension tables aggressively (region/nation/etc.).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scans: keep splits big enough to amortize task overhead at
        # 100 TB (128 MiB default is right; make it explicit).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Driver testdata parquet carries TIMESTAMP(NANOS) which Spark rejects
        # by default; read as raw nanos long and convert in load_tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Driver testdata timestamps are micros with isAdjustedToUTC=false;
        # Spark 4 would infer TIMESTAMP_NTZ, which breaks unix_micros / window
        # RANGE frames and diverges from DuckDB's naive-timestamp handling.
        # With session TZ pinned to UTC, reading them as TIMESTAMP (LTZ) gives
        # byte-identical values to the oracle.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark call-site capture off. With it on, every F.* / Column /
        # DataFrame call reads this conf and sets and clears a JVM origin:
        # about 1,300 extra py4j round trips per two-table fan-out batch.
        # Turning it off loses only the Python call-site fragment of
        # analysis-error messages. A static conf, and PySpark caches its
        # first reading per process, so it is set when the session is built.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Lazy-relation cache: (applicationId, sf_dir, table) -> DataFrame.  The
# cached object is an UNMATERIALIZED plan — every execution still scans the
# parquet input — but building it costs a spark.read.parquet JVM roundtrip
# with footer/schema inference (~55 ms/table measured at sf0.1), which the
# catalog pays 300+ times per sweep without this.  Reading a table once per
# session and reusing the DataFrame is the normal Spark application shape;
# keying on applicationId drops entries from dead sessions.
_RELATION_CACHE: dict[tuple[str, str, str], "object"] = {}


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Read the driver parquet tables and register them as temp views.

    Returns a dict of DataFrames. Views make every query runnable via
    ``spark.sql`` too.
    """
    all_names = (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    # The NTZ->LTZ coercion below is value-preserving ONLY under a UTC
    # session timezone; a session built outside get_spark (or an older
    # reused one) could silently shift wall-clock values otherwise.
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    app_id = spark.sparkContext.applicationId
    if any(k[0] != app_id for k in _RELATION_CACHE):
        # New session: plans cached from a stopped SparkContext are unusable.
        stale = [k for k in _RELATION_CACHE if k[0] != app_id]
        for k in stale:
            del _RELATION_CACHE[k]

    out = {}
    for name in names or all_names:
        key = (app_id, sf_dir, name)
        df = _RELATION_CACHE.get(key)
        if df is None:
            path = os.path.join(sf_dir, f"{name}.parquet")
            df = spark.read.parquet(path)
            df = _convert_nanos_timestamps(df, path)
            df = _coerce_ntz_timestamps(df)
            df._graft_scan_units = _scan_units(path)
            _RELATION_CACHE[key] = df
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _scan_units(path: str) -> int:
    """Upper bound on the scan parallelism a parquet input can deliver.

    Split planning can cut a file into many byte ranges, but rows only come
    from row groups, so min(row groups, splits) bounds how many tasks do real
    work.  Row-group count is the binding term for the small single-row-group
    driver files; at production scale (row groups >> cores) the number is
    large and ``spread_small_scan`` below becomes a no-op.
    """
    import glob
    import os as _os

    import pyarrow.parquet as pq

    if _os.path.isdir(path):
        parts = glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    else:
        parts = [path]
    units = 0
    for p in parts:
        try:
            units += pq.ParquetFile(p).metadata.num_row_groups
        except Exception:
            units += 1
    return max(units, 1)


def spread_small_scan(df, spark: SparkSession):
    """Round-robin repartition a low-parallelism scan up to session parallelism.

    The driver testdata is single-row-group parquet: the scan is ONE task and
    every narrow operator until the first exchange runs on one core, which
    serializes CPU-heavy row work (md5 fan-out, JSON decode, shingling,
    per-token processing).  This helper inserts a round-robin exchange ONLY
    when the input cannot feed at least the session's default parallelism
    (scan units < cores).  At 100 TB a table scan carries orders of magnitude
    more row groups than the cluster has cores, so the condition is false and
    no exchange is added — the helper is scale-adaptive by construction, not
    a local[32] tuning constant.
    """
    n = spark.sparkContext.defaultParallelism
    units = getattr(df, "_graft_scan_units", None)
    if units is None:
        try:
            units = df.rdd.getNumPartitions()
        except Exception:  # pragma: no cover - defensive
            return df
    return df.repartition(n) if units < n else df


def _convert_nanos_timestamps(df, path: str):
    """TIMESTAMP(NANOS) parquet columns arrive as raw nanos longs (via
    spark.sql.legacy.parquet.nanosAsLong); convert to TimestampType with
    microsecond truncation — exactly what DuckDB does reading the same file,
    so oracle comparisons agree."""
    import glob
    import os as _os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    import pyarrow as pa

    # Driver testdata is single-file parquet, but production tables are
    # directories of part files — possibly Hive-partitioned (day=*/part-*),
    # so probe RECURSIVELY and union every part's view of a column: any part
    # carrying TIMESTAMP(NANOS) marks the column for conversion.
    if _os.path.isdir(path):
        parts = sorted(
            glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not parts:
            import warnings

            warnings.warn(
                f"load_tables: no probeable parquet part under {path}; "
                "skipping TIMESTAMP(NANOS) detection",
                stacklevel=2,
            )
            return df
        schemas = [pq.read_schema(p) for p in parts]
    else:
        schemas = [pq.read_schema(path)]
    ns_cols = sorted(
        {
            f.name
            for schema in schemas
            for f in schema
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        }
    )
    from pyspark.sql.types import LongType

    for c in ns_cols:
        # Only convert when the column actually arrived as a raw long (the
        # nanosAsLong effect on INT64-nanos columns). INT96 timestamps also
        # read as timestamp[ns] in pyarrow but Spark decodes them natively.
        if not isinstance(df.schema[c].dataType, LongType):
            continue
        # Integer division (`div`), NOT `/`: epoch-nanos (~1.7e18) exceed
        # double precision, so floor(col/1000.0) is off by ±1 µs.
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _coerce_ntz_timestamps(df):
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (LTZ).

    Belt-and-braces for sessions created before inferTimestampNTZ was
    disabled (getOrCreate reuses the existing session, ignoring new configs).
    With session TZ = UTC the cast reinterprets the wall-clock value
    unchanged, matching DuckDB's naive-timestamp reads of the same parquet.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df
