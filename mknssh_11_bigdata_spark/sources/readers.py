"""Schema'd readers.

Replaces the reference's ``load_tables``
(``/root/reference/scripts/data_processing.py:10-67``, inventory rows
S1-S3 in SURVEY.md §2.1) with scale-safe equivalents:

* **No ``inferSchema``** — the reference's ``inferSchema=True`` forces an
  extra full pass over every file (at 100 TB that's a second 100 TB scan
  before any work starts). All readers here take an explicit
  ``StructType``.
* **``nullValue``** subsumes the reference's seven hand-written
  ``when(col == '\\N', None)`` projections
  (``data_processing.py:45-51``) — the sentinel never reaches the plan.
* **Array-ification at ingest**: csv-list string columns become real
  ``ArrayType`` columns once, so every downstream explode /
  ``array_contains`` works on arrays instead of re-splitting strings.
"""

from __future__ import annotations

import os
import stat as _stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = [
    "TESTDATA_TABLES",
    "read_tsv",
    "read_parquet",
    "load_table",
    "load_tables",
    "arrayify",
]

#: Tables the driver generates under /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
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

#: Default null sentinel used by IMDb TSV dumps (reference
#: data_processing.py:45-51 rewrote it with per-column projections).
IMDB_NULL_SENTINEL = r"\N"


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    null_value: str = IMDB_NULL_SENTINEL,
) -> DataFrame:
    """Single-pass TSV scan with explicit schema and null sentinel."""
    return spark.read.csv(
        path,
        sep="\t",
        header=True,
        schema=schema,
        nullValue=null_value,
        # Malformed rows become nulls instead of aborting a 100 TB job.
        mode="PERMISSIVE",
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def arrayify(df: DataFrame, columns: dict[str, str]) -> DataFrame:
    """Turn delimited-string pseudo-array columns into real arrays.

    ``columns`` maps column name -> delimiter. The reference stored
    "Action,Comedy" style lists as strings and re-split them at every use
    (``data_processing.py:123,212-213,218-219``); we split once at ingest.
    One ``withColumns`` projection (one analyzer pass) replaces the
    columns in place, so column order and the other types are kept.
    """
    return df.withColumns(
        {name: F.split(name, delim) for name, delim in columns.items()}
    )


#: Event-time columns whose physical parquet type has varied across
#: testdata generations: TIMESTAMP(NANOS) (Spark rejects outright — read
#: as raw nanos via the legacy flag, then integer-divide to micros,
#: exactly the truncation DuckDB applies coercing TIMESTAMP_NS), or
#: micros without timezone (Spark reads TIMESTAMP_NTZ, which
#: ``withWatermark`` rejects). Either way we normalize to TIMESTAMP_LTZ;
#: with the session timezone pinned to UTC the NTZ→LTZ cast is
#: wall-clock-preserving, so oracle comparisons see identical values.
#: (`div`, not `/`: the nano epoch ≈ 1.7e18 exceeds double's 2^53.)
NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def normalize_event_time(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Coerce raw-nanos bigint or TIMESTAMP_NTZ event-time columns to
    TIMESTAMP_LTZ (see NANOS_TS_COLUMNS). No-op on already-LTZ columns."""
    dtypes = dict(df.dtypes)
    for col in cols:
        if dtypes.get(col) == "bigint":
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000"))
            )
        elif dtypes.get(col) == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


#: Resolved-table memo: (applicationId, session id, path, size, mtime)
#: -> DataFrame. A DataFrame is an immutable PLAN — reusing it is the
#: reference's own load-once pattern (data_processing.load_tables) and
#: skips the ~50-100 ms per call that spark.read.parquet spends
#: re-resolving the source (footer schema read + file listing) — a pure
#: driver-side cost paid by every query's construction. No DATA is
#: cached: every action on the returned frame still scans the parquet
#: files. Keyed on the file's (size, mtime) so a regenerated table
#: re-resolves, on the applicationId so a new SparkContext never sees a
#: stale plan, and on id(spark) so a sibling session (spark.newSession()
#: — different session-level confs at analysis time) never receives a
#: plan analyzed under another session's confs (ADVICE r8).
#:
#: SINGLE-FILE assumption (ADVICE r8): testdata tables are one parquet
#: FILE each, so (size, mtime_ns) of the path is a content fingerprint.
#: For a directory-style dataset an in-place part-file rewrite would not
#: bump the directory stat — directory paths therefore bypass the memo.
_TABLE_PLAN_MEMO: dict[tuple[str, int, str, int, int], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated testdata table (TESTDATA.md)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        # One stat, race-free: the regular-file check reads the SAME
        # stat result the key is built from (a second isfile() call
        # opened a swap window where the key described an old file
        # while spark.read resolved a new directory — review finding).
        if not _stat.S_ISREG(st.st_mode):
            raise OSError  # directory dataset: stat key unsafe, skip memo
        sc = spark.sparkContext
        # applicationId is a Py4J round-trip (~5 ms); pin it on the
        # context object once — a new SparkContext is a new object.
        app_id = sc.__dict__.get("_mknssh_app_id")
        if app_id is None:
            app_id = sc.applicationId
            sc.__dict__["_mknssh_app_id"] = app_id
        key = (
            app_id,
            id(spark),
            os.path.abspath(path),
            st.st_size,
            st.st_mtime_ns,
        )
    except OSError:
        key = None
    if key is not None:
        hit = _TABLE_PLAN_MEMO.get(key)
        if hit is not None:
            return hit
    nanos_cols = NANOS_TS_COLUMNS.get(name, ())
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    df = normalize_event_time(df, nanos_cols)
    if key is not None:
        _TABLE_PLAN_MEMO[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def source_fingerprint(sf_dir: str, *tables: str) -> str:
    """Content tag for a prepared-layout cache (bucketed tables,
    partitioned copies): an md5 over the source dir PLUS each source
    table's file stats (relative name, size, mtime). A path-only tag
    serves STALE prepared data when the same directory is regenerated
    (e.g. tools/make_scale_data.py rerun fair→dense into the same out
    dir); folding the stats in makes regeneration produce a new tag, so
    the layout is rebuilt instead of silently read from the old copy."""
    import hashlib
    import pathlib

    h = hashlib.md5(sf_dir.encode())
    for table in tables:
        src = pathlib.Path(sf_dir) / f"{table}.parquet"
        files = (
            sorted(p for p in src.rglob("*") if p.is_file())
            if src.is_dir()
            else [src]
        )
        for p in files:
            try:
                st = p.stat()
            except OSError:
                continue
            rel = p.name if not src.is_dir() else str(p.relative_to(src))
            h.update(f"{table}/{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:12]


def read_format(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: StructType | str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Generic schema'd reader for json / orc / csv / avro.

    Same stance as read_tsv: pass an explicit schema for the schemaless
    formats (json/csv) — schema inference is an extra full pass over the
    data, which at 100 TB doubles the scan before any work starts. ORC
    carries its own schema (like parquet) so ``schema=None`` is fine
    there.
    """
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)
