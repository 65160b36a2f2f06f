"""Lake source readers (SURVEY §2 A1/A2 scans + format coverage).

``read_parquet_table`` is the canonical path-addressed scan. It also
absorbs a real-world lake wart: parquet files written with
TIMESTAMP(NANOS) (pandas/pyarrow default), which Spark's vectorized
reader rejects outright. Those columns are read as nanos-since-epoch
longs (legacy conf, runtime-settable) and truncated to microsecond
TimestampType — the same truncation DuckDB applies reading nanos into
its µs TIMESTAMP, so differential oracles see identical instants.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException


def _nanos_columns(path: str) -> list[str]:
    """Names of timestamp[ns] columns per the parquet footer."""
    import pyarrow.dataset as ds

    schema = ds.dataset(path, format="parquet").schema
    return [f.name for f in schema if str(f.type).startswith("timestamp[ns")]


# Session-level SCHEMA memo (r17): spark.read.parquet() re-infers the
# schema from footers on EVERY call — measured ~105-120 ms of driver
# work per call at sf0.1, the single largest component of the repo's
# ~0.2 s/query session floor (a query builder calls load() 1-3 times
# per invocation, bench reps re-invoke the builder). Passing the
# explicit schema cuts the read to ~20 ms. Guide §6's "file listing is
# cached per session" logic applied to schema inference:
# - ONLY the StructType is memoized — file LISTING happens fresh on
#   every call (each load builds a new DataFrame), so appends/
#   overwrites are always picked up and every action computes from the
#   parquet inputs as they are NOW; no data, no results, no plans are
#   cached.
# - an entry is valid only for the listing signature it was inferred
#   from: a single file's own mtime, or for a directory the (relative
#   path, mtime, size) of every visible file below it — a file
#   rewritten inside ``a=1/b=2/`` changes neither the root's mtime nor
#   its first-level entries, but does change the signature. One entry
#   per path: storing a new signature replaces the superseded one.
# - nanos-bearing tables memoize the RAW (longs) read schema, whether
#   it was inferred under nanosAsLong, and the converted column list; a
#   hit replays the exact legacy-conf dance (set at creation, restore
#   after) + µs conversions; mergeSchema reads never memoize
#   (schema-evolution dirs must see real footers).
# value: (signature, raw_read_schema, needs_nanos_conf, converted_names)
_SCHEMA_MEMO: dict[str, tuple] = {}


def _listing_signature(path: str):
    """A file's mtime, or every visible data file's (relpath, mtime,
    size) below a directory — Spark skips ``_``/``.``-prefixed names,
    so commit markers and manifests never invalidate the schema."""
    if not os.path.isdir(path):
        return os.stat(path).st_mtime_ns
    sig = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            full = os.path.join(root, f)
            st = os.stat(full)
            sig.append((os.path.relpath(full, path), st.st_mtime_ns, st.st_size))
    return tuple(sig)


def read_parquet_table(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """Parquet scan (file or hive-partitioned dir) with nanos fallback.

    The nanosAsLong conf is scoped to this call: the prior value is
    restored in a finally block, so other code paths doing plain
    ``spark.read`` keep real timestamp decoding. That is safe because
    Spark captures the conf at DataFrame-creation (schema inference)
    time — the returned (lazy) DataFrame still collects correctly
    after the restore (verified empirically on Spark 4).

    The footer is probed (pyarrow, driver-side, metadata-only) BEFORE
    the Spark read: setting the conf proactively avoids ever surfacing
    the executor-side PARQUET_TYPE_ILLEGAL task failure in logs. The
    catch block stays as a fallback for paths pyarrow can't enumerate
    the same way (e.g. glob patterns).
    """
    _NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
    # fast path: read with the memoized schema — skips the per-call
    # footer re-inference (the dominant component of the session
    # floor); file listing and data decoding stay per-call
    key = sig = None
    if not merge_schema:
        try:
            key = os.path.abspath(path)
            sig = _listing_signature(path)
        except Exception:
            key = None  # can't stat (glob?) — legacy path, no memo
        hit = _SCHEMA_MEMO.get(key) if key is not None else None
        if hit is not None and hit[0] == sig:
            _sig, schema, needs_nanos, nanos = hit
            if not needs_nanos:
                return spark.read.schema(schema).parquet(path)
            prior = spark.conf.get(_NANOS_CONF, None)
            try:
                spark.conf.set(_NANOS_CONF, "true")
                df = spark.read.schema(schema).parquet(path)
            finally:
                if prior is None:
                    spark.conf.unset(_NANOS_CONF)
                else:
                    spark.conf.set(_NANOS_CONF, prior)
            for name in nanos:
                df = df.withColumn(
                    name, F.timestamp_micros(F.expr(f"`{name}` div 1000"))
                )
            return df

    prior = spark.conf.get(_NANOS_CONF, None)
    try:
        try:
            if _nanos_columns(path):
                spark.conf.set(_NANOS_CONF, "true")
        except Exception:
            pass  # probe is best-effort; the read fallback below still works
        reader = spark.read.option("mergeSchema", "true") if merge_schema else spark.read
        try:
            df = reader.parquet(path)
        except AnalysisException as e:
            if "TIMESTAMP(NANOS" not in str(e):
                raise
            spark.conf.set(_NANOS_CONF, "true")
            df = reader.parquet(path)
        raw_schema = df.schema  # BEFORE conversions — what a reader needs
        converted: list[str] = []
        needs_nanos = spark.conf.get(_NANOS_CONF, "false") == "true"
        if needs_nanos:
            long_cols = {f.name for f in df.schema.fields if f.dataType.typeName() == "long"}
            try:
                nanos = _nanos_columns(path)
            except Exception:
                nanos = []  # pyarrow can't probe globs/exotic paths; no footer, no conversion
            for name in nanos:
                if name in long_cols:
                    df = df.withColumn(name, F.timestamp_micros(F.expr(f"`{name}` div 1000")))
                    converted.append(name)
        if key is not None:
            _SCHEMA_MEMO[key] = (sig, raw_schema, needs_nanos, converted)
        return df
    finally:
        if prior is None:
            spark.conf.unset(_NANOS_CONF)
        else:
            spark.conf.set(_NANOS_CONF, prior)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet", **options: str) -> DataFrame:
    """Format-dispatching lake read (parquet/csv/json/orc/text).

    Versioned table roots (quack_reduce_spark.lake layout, a _CURRENT
    pointer naming the live ``vNNNNNNNN/`` data dir) resolve to the
    version that is live AT READ TIME; the returned DataFrame stays
    bound to that snapshot's files. Engine keeps registered views
    current across later commits (``_refresh_versioned_views`` re-
    resolves the pointer before every sql()/df()); callers holding a
    raw DataFrame re-call read_table to see a newer snapshot."""
    from quack_reduce_spark import lake

    path = lake.resolve(path)
    if fmt == "parquet":
        return read_parquet_table(spark, path)
    reader = spark.read.options(**options)
    if fmt == "csv" and "header" not in options:
        reader = reader.option("header", "true").option("inferSchema", "true")
    return reader.format(fmt).load(path)
