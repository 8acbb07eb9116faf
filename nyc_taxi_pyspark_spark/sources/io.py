"""Sources and sinks (SURVEY.md §2.1, S1-S12).

Design notes for scale:
  - Parquet is the canonical storage: columnar, predicate-pushdown and
    column-pruning friendly. CSV support exists for parity with the
    reference (its pipeline is CSV-first, spark_jobs/01_ingest.py:25-29)
    but defaults to an explicit schema — ``inferSchema`` triggers an extra
    full scan per read, which at 100 TB is an extra 100 TB read.
  - ``write_csv_single`` (coalesce(1), reference idiom at
    spark_jobs/01_ingest.py:86-91) is only for small KPI exports; it
    serializes the final stage onto one task by construction. The default
    sink is partitioned parquet.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nyc_taxi_pyspark_spark.schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Make the engine package importable on Python workers.

    Pandas-UDF / applyInPandas / mapInPandas closures are pickled by
    reference to this package; a caller-provided session (e.g. the grading
    driver) may not have it on the workers' PYTHONPATH. Shipping a zip via
    ``addPyFile`` once per session fixes that for every downstream task.

    The zip lands ahead of ``PYTHONPATH`` on the workers, so it must hold
    the live package: it is written fresh under a unique name for each
    SparkContext (a name reused from an earlier process, whose pid was
    recycled, would ship that process's code) and removed when the
    interpreter exits, once no task can fetch it any more.
    """
    sc = spark.sparkContext
    if getattr(sc, "_engine_pyfile_added", False):
        return
    import atexit
    import os
    import tempfile
    import zipfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parent = os.path.dirname(pkg_root)
    fd, zpath = tempfile.mkstemp(prefix="nyc_taxi_pyspark_spark_", suffix=".zip")
    atexit.register(_remove_quietly, zpath)
    with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_root):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(dirpath, name)
                    z.write(full, os.path.relpath(full, parent))
    sc.addPyFile(zpath)
    sc._engine_pyfile_added = True


def _remove_quietly(path: str) -> None:
    import os

    try:
        os.remove(path)
    except OSError:
        pass


_TS_UNIT_CACHE: dict[str, bool] = {}


def _parquet_ts_is_nanos(path: str, column: str = "ts") -> bool:
    """Sniff a parquet footer for whether ``column`` is TIMESTAMP(NANOS).

    The driver's testdata generator has shipped ``events.ts`` as both
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across regenerations; hardcoding
    either unit silently corrupts event time when the other shows up (a
    ns-as-µs read compresses 30 days into ~43 minutes). One footer read on
    the driver is metadata-only — no data scan — and the answer is cached
    per path, so repeated catalog queries don't re-open the footer.
    """
    cached = _TS_UNIT_CACHE.get(path)
    if cached is not None:
        return cached
    try:
        import glob
        import os

        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            parts = sorted(glob.glob(os.path.join(path, "*.parquet"))) or sorted(
                glob.glob(os.path.join(path, "part-*"))
            )
            if not parts:
                return False
            target = parts[0]
        typ = pq.read_schema(target).field(column).type
        result = getattr(typ, "unit", None) == "ns"
    except Exception:
        result = False
    _TS_UNIT_CACHE[path] = result
    return result


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver-testdata parquet table with its explicit schema.

    The explicit schema skips footer-based inference on the driver and keeps
    the scan plan stable across scale factors.

    ``events.ts`` unit is sniffed from the parquet footer: TIMESTAMP(MICROS)
    reads natively as ``TimestampType``; TIMESTAMP(NANOS) (which Spark's
    vectorized reader rejects outright) falls back to raw-nanos
    (``nanosAsLong``) + truncation to microseconds — the same ns→µs
    truncation DuckDB applies — so both engines see identical timestamps
    either way.
    """
    # Pin UTC even when running under a caller-provided session (e.g. the
    # driver's): hour()/to_date()/dayofweek() over timestamps are
    # session-TZ-dependent and the oracle is UTC-naive (SURVEY.md §4).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ensure_workers_can_import(spark)
    if name == "events" and _parquet_ts_is_nanos(f"{sf_dir}/events.parquet"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        phys = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        return (
            spark.read.schema(phys)
            .parquet(f"{sf_dir}/events.parquet")
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
        )
    schema = TESTDATA_SCHEMAS.get(name)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(f"{sf_dir}/{name}.parquet")


def parallelize_scan(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition a scan up to the session's parallelism when the source
    yields fewer splits than cores.

    Small single-file parquet inputs (one row group) arrive as ONE partition,
    which serializes every downstream computation regardless of cluster
    width. On a real multi-file 100 TB table the scan is already wide and
    this is a no-op. The width check is ``df.inputFiles()`` — driver-side
    file-listing metadata, no job and no ``.rdd`` plan materialization (the
    previous ``.rdd.getNumPartitions()`` probe materialized the RDD lineage
    on every catalog query). A large single file that Spark would already
    split by row group still gets repartitioned under this heuristic; that
    trade only affects single-file inputs, which at 100 TB don't exist.
    """
    target = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plans (e.g. in-memory): leave as-is
        return df
    if n_files and n_files < max(2, target // 2):
        return df.repartition(target)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: Iterable[str] | None = None
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def register_views(
    spark: SparkSession, sf_dir: str, names: Iterable[str] | None = None
) -> None:
    """Register testdata tables as temp views for the SQL front door (V1)."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    infer: bool = False,
    header: bool = True,
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss",
) -> DataFrame:
    """CSV scan (S1/S2/S3). Explicit schema by default; ``infer=True`` keeps
    capability parity with the reference's inferSchema reads
    (spark_jobs/01_ingest.py:25-29). Directory paths scan all part files (S3).
    """
    reader = (
        spark.read.option("header", str(header).lower())
        .option("timestampFormat", timestamp_format)
    )
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """JSON-Lines scan — the interchange format LLM-data pipelines live on.

    Explicit schema by default (schema inference on JSON costs a full extra
    scan, same 100 TB argument as CSV); Spark's json reader handles a file,
    a directory of part files, or a glob."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-Lines sink (one JSON object per line, partitioned part files —
    the standard corpus-exchange layout)."""
    df.write.mode(mode).json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Canonical sink (S9 generalized): partitioned parquet."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv_single(df: DataFrame, path: str, limit: int | None = None) -> None:
    """Single-file CSV export (S8; reference spark_jobs/01_ingest.py:86-91).

    Only for small result tables: ``coalesce(1)`` funnels the final stage
    through one task, which is exactly right for a 10-row KPI table and
    exactly wrong for anything big.
    """
    if limit is not None:
        df = df.limit(limit)
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(path)
    )


_COMPLEX_TYPES = (T.ArrayType, T.MapType, T.StructType)


def to_pandas_sanitized(df: DataFrame, max_rows: int | None = None) -> pd.DataFrame:
    """Arrow-path ``toPandas`` with the reference UI's sanitizer semantics
    (streamlit_app/app5.py:129-152): drop complex-typed columns, cast
    Decimal→double, bound the row count before collecting.
    """
    keep = [
        f.name for f in df.schema.fields if not isinstance(f.dataType, _COMPLEX_TYPES)
    ]
    out = df.select(
        [
            F.col(f.name).cast("double").alias(f.name)
            if isinstance(f.dataType, T.DecimalType)
            else F.col(f.name)
            for f in df.schema.fields
            if f.name in keep
        ]
    )
    if max_rows is not None:
        out = out.limit(max_rows)
    return out.toPandas()


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files maintenance: rewrite a parquet directory into
    ~``target_file_bytes`` files and atomically swap it in. Streaming
    sinks, frequent small appends, and over-partitioned writes all decay
    a table into thousands of kilobyte files whose open/footer cost
    dominates scans at scale; periodic compaction is the standard
    maintenance pass (what table formats schedule as OPTIMIZE).

    File count = ceil(bytes/target) from the directory's actual data
    size; the rewrite goes to a sibling temp dir first and replaces the
    original only after success, so a failed compaction leaves the table
    untouched (rename-swap; object stores would commit a manifest
    instead). Returns the new file count."""
    import math
    import os
    import shutil
    import uuid

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    # coalesce, not repartition: narrowing to n output files must not
    # force an exchange of the full table
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    old = f"{path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old, path)  # roll back
        raise
    shutil.rmtree(old)
    return n_files


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: a table whose files were written under
    successive schema versions (columns added over time) comes back as
    the UNION schema, with files that predate a column yielding NULLs —
    ``mergeSchema`` asks every footer instead of trusting the first one.
    The default single-footer inference is the 100 TB fast path (one
    footer, no per-file merge); this entry point is for tables known to
    have evolved, where correctness requires paying the footer sweep
    (or, at scale, persisting the merged schema once and passing it
    explicitly)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Error-tolerant ingest: parse what parses, QUARANTINE what doesn't.

    PERMISSIVE mode with a corrupt-record column splits the scan into
    (good rows with the declared schema, raw text of every malformed
    line) — the production alternative to FAILFAST (one bad line kills a
    100 TB backfill) and to silent DROPMALFORMED (data loss with no
    audit trail). The quarantine side keeps the verbatim input line so
    bad records can be inspected, re-parsed after a schema fix, or
    counted against an ingest SLA.

    The frame is cached before splitting: Spark refuses predicates that
    reference ONLY the internal corrupt-record column on a lazy scan
    (the column exists only while parsing), and the cache also means one
    parse feeds both halves."""
    corrupt = "_corrupt_record"
    qschema = T.StructType(
        list(schema.fields) + [T.StructField(corrupt, T.StringType())]
    )
    df = (
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .schema(qschema)
        .csv(path)
        .cache()
    )
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = df.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_line")
    )
    return good, bad
