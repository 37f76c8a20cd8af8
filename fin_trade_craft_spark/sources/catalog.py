"""Table catalog over the driver-generated parquet test tables.

Reference parity: the reference's catalog is a Postgres schema
(`db/postgres_database_manager.py:121-129` does `pd.read_sql` table
scans — SURVEY §2.1 S1). Here a "table scan" is a parquet read that
Catalyst can push filters into and prune columns from; at cluster
scale the same loader points at a partitioned warehouse instead of a
flat directory.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as ST
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# path → (StructType to pass to spark.read.schema, needs_nanos_conf).
# A real deployment swaps this for the warehouse catalog's schema
# registry; here the footer is read ONCE per path on the driver.
_SCHEMA_CACHE: dict[tuple, tuple[ST.StructType, bool]] = {}


def _arrow_field_to_spark(field, physical: str | None = None) -> tuple[ST.DataType, bool]:
    """Map one pyarrow field type to the Spark type ``load_table``
    declares for it. Returns (spark_type, is_nanos_timestamp).
    Explicit and fail-fast — only the types the test tables actually
    ship are mapped; an unknown type raises with the column named
    rather than silently mis-typing a scan. ``physical`` is the
    parquet PHYSICAL type: legacy INT96 timestamps also surface as
    arrow timestamp[ns] but Spark reads them natively as TIMESTAMP —
    only INT64 TIMESTAMP(NANOS) needs the nanosAsLong long path."""
    import pyarrow as pa

    t = field.type
    simple = {
        pa.int64(): ST.LongType(),
        pa.int32(): ST.IntegerType(),
        pa.int16(): ST.ShortType(),
        pa.float64(): ST.DoubleType(),
        pa.float32(): ST.FloatType(),
        pa.string(): ST.StringType(),
        pa.large_string(): ST.StringType(),
        pa.bool_(): ST.BooleanType(),
        pa.date32(): ST.DateType(),
        pa.binary(): ST.BinaryType(),
        pa.large_binary(): ST.BinaryType(),
    }
    if t in simple:
        return simple[t], False
    if pa.types.is_timestamp(t):
        if t.unit == "ns" and physical != "INT96":
            # parquet INT64 TIMESTAMP(NANOS): Spark's reader only
            # accepts it as INT64 under nanosAsLong — declare long;
            # the caller truncates to micros (normalize_event_ts)
            return ST.LongType(), True
        if physical == "INT96":
            # legacy INT96: Spark reads it as session-TZ TIMESTAMP
            return ST.TimestampType(), False
        return (ST.TimestampType() if t.tz else ST.TimestampNTZType()), False
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        inner, _ = _arrow_field_to_spark(t.value_field)
        return ST.ArrayType(inner, t.value_field.nullable), False
    raise TypeError(f"unmapped parquet type {t} for column {field.name}")


def table_schema(path: str) -> tuple[ST.StructType, bool]:
    """Spark schema for a parquet table, from ONE footer read on the
    driver (pyarrow) — no Spark job, no executor round-trip. Cached
    per (path, content stamp) so a same-path regeneration refreshes
    the entry; at cluster scale this is the catalog lookup; here it
    keeps query CONSTRUCTION free of schema-inference jobs (the
    r06 plan-lint premise: building a plan must execute nothing)."""
    key = (path, path_stamp(path))
    cached = _SCHEMA_CACHE.get(key)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    footer = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        footer = parts[0]
    pf = pq.ParquetFile(footer)
    arrow = pf.schema_arrow
    # top-level physical types (nested/list columns have dotted
    # paths; only scalar timestamps need the INT96-vs-INT64 split)
    physical = {}
    for i in range(len(pf.schema)):
        col = pf.schema.column(i)
        physical.setdefault(col.path.split(".")[0], col.physical_type)
    fields, nanos = [], False
    for f in arrow:
        st, is_ns = _arrow_field_to_spark(f, physical.get(f.name))
        nanos = nanos or is_ns
        fields.append(ST.StructField(f.name, st, f.nullable))
    out = (ST.StructType(fields), nanos)
    _SCHEMA_CACHE[key] = out
    return out


def path_stamp(path: str) -> tuple:
    """Content fingerprint of a parquet path for driver-side catalog
    caches: the sorted (part-file, mtime_ns, size) list. Datasets DO
    get regenerated in place (the k-means memo fingerprints content
    for exactly this reason — ADVICE r07), so caches keyed on the
    bare path would serve stale stats after a same-path rewrite;
    keying on (path, stamp) costs one os.stat per part file."""
    parts = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    stamps = []
    for p in parts:
        try:
            st = os.stat(p)
            stamps.append((p, st.st_mtime_ns, st.st_size))
        except FileNotFoundError:
            stamps.append((p, 0, 0))
    return tuple(stamps)


_ROWCOUNT_CACHE: dict[tuple, int] = {}


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of a test table from parquet footer metadata
    (summed over part files) — one driver-side pyarrow read per
    path, no Spark job. This is the catalog-statistics lookup a
    warehouse serves for free; use it wherever a query needs the
    corpus SIZE (adaptive band widths, quantizer tier selection)
    so that sizing never costs a construction-time count() scan."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (path, path_stamp(path))
    cached = _ROWCOUNT_CACHE.get(key)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    parts = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    if not parts:
        raise FileNotFoundError(f"no parquet part files under {path}")
    n = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    _ROWCOUNT_CACHE[key] = n
    return n


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table. Filters/projections applied by callers
    are pushed into the parquet scan by Catalyst (verify with
    ``.explain`` → PushedFilters / ReadSchema).

    The schema is passed EXPLICITLY (from the driver-side footer
    cache, :func:`table_schema`) so constructing the scan launches no
    schema-inference job — plan building stays job-free, which the
    construction lint
    (tests/test_plan_lint.py::test_construction_launches_no_jobs)
    relies on.

    ``events.ts`` has been written by the driver as either parquet
    TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read
    as long via nanosAsLong and truncate to microseconds, matching
    DuckDB's ``CAST(ts AS TIMESTAMP)``) or TIMESTAMP(MICROS) (read
    natively). Detect which from the footer so both driver data
    generations work.
    """
    # The driver hands us ITS session — pin the runtime confs our
    # semantics depend on (UTC keeps collected timestamps identical
    # to the oracle's naive parquet values; non-ANSI division gives
    # the engine's documented NULL-on-zero-divisor semantics instead
    # of Spark 4's default ANSI exception).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    schema, nanos = table_schema(path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        return normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-TZ TimestampType regardless
    of which physical parquet type the driver wrote. Schema-driven —
    the decision keys on the type the column actually loaded as, never
    on a session conf (a conf set mid-session after a schema was
    captured silently changes what "ts" means; see round-2 verdict).

    - LongType  → INT64 nanos read under ``nanosAsLong``; integer DIV,
      not `/`: ns-since-epoch (~1.7e18) exceeds double's 53-bit
      mantissa, so float division is off by ±1µs.
    - TIMESTAMP_NTZ → parquet TIMESTAMP(MICROS) (naive); present as
      session-TZ TimestampType (UTC) so downstream epoch math and the
      DuckDB oracle agree.
    - TimestampType → already what we want.
    - anything else → fail fast with the loaded type named, instead of
      letting a bad ts type surface later as confusing epoch math.
    """
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(ts_type, TimestampType):
        return df
    raise TypeError(
        f"events.ts loaded as {ts_type.simpleString()}; expected INT64 nanos "
        "(long under nanosAsLong), TIMESTAMP_NTZ, or TIMESTAMP — the parquet "
        "was written with an unsupported ts encoding"
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for spark.sql use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
