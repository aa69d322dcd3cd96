"""Table loading for the driver testdata directories.

Reads are always schema-pinned (schemas.py) so the scan stays vectorized
and column-prunable; ``spark.read.parquet`` + explicit ``.schema`` means
Catalyst can push predicates to Parquet row groups and prune columns to
exactly the ``ReadSchema`` the query needs.

Timestamp note: some driver generations store ``events.ts`` as
TIMESTAMP(NANOS,false), which Spark's reader rejects as a timestamp
type; others store plain TIMESTAMP(MICROS). We sniff the parquet footer
(one cheap metadata read per (dir, table), cached) and only when the
physical unit is nanos do we read the column as raw INT64
(``spark.sql.legacy.parquet.nanosAsLong``) and convert with
``timestamp_micros(ns div 1000)`` — identical truncation semantics to
DuckDB's nanos→micros read, so oracle comparisons line up exactly.
The conversion is a codegen-inline projection; pushdown on the derived
timestamp still works for partition-style pruning because the filter is
applied to the long column after Catalyst folds the comparison.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import schemas

TABLE_NAMES = tuple(schemas.DRIVER_TABLES)


# Columns that MAY be stored as TIMESTAMP(NANOS) depending on the
# writer; verified per-path against the parquet footer before the
# long-read workaround is applied.
# (orders.o_orderdate / lineitem.l_shipdate are timestamp[ms/us]: native.)
NANOS_TS_COLUMNS = {"events": ("ts",)}

# (path, column) -> True if physically nanos. At most a few footer reads
# per table path for the life of the process — irrelevant at any scale.
# Error paths are never cached (transient failures may retry).
_NANOS_CACHE: dict[tuple[str, str], bool] = {}


_SNIFF_FILES = 3  # footer reads per directory-layout table (first/mid/last)


class MixedTimestampUnits(ValueError):
    """Sentinel for the deliberate mixed-units failure. pyarrow's
    ArrowInvalid also subclasses ValueError, so re-raising on bare
    ValueError would propagate corrupt-footer errors the fallback is
    meant to swallow."""


def _file_is_nanos(target: str, column: str) -> bool | None:
    import pyarrow.parquet as pq

    md = pq.ParquetFile(target).metadata.schema
    for i in range(len(md)):
        col = md.column(i)
        if col.name == column:
            # Only logical TIMESTAMP(NANOS) over physical INT64 needs
            # the long-read workaround; INT96 (legacy Spark/Impala
            # timestamps — pyarrow also reports those as timestamp[ns])
            # reads natively.
            return (
                col.physical_type == "INT64"
                and "nanoseconds" in str(col.logical_type).lower()
            )
    return None  # column absent in this file's footer


def _stored_as_nanos(path: str, column: str) -> bool:
    key = (path, column)
    if key in _NANOS_CACHE:
        return _NANOS_CACHE[key]
    try:
        import pyarrow.dataset as ds

        d = ds.dataset(path, format="parquet")
        files = sorted(getattr(d, "files", None) or [path])
        # Sample first/middle/last file: a single-file sniff can pin the
        # wrong unit for a mixed-unit directory. Disagreement is a data
        # bug — fail loudly rather than silently mis-reading timestamps.
        idx = sorted({0, len(files) // 2, len(files) - 1})
        verdicts = {f: _file_is_nanos(files[i], column) for i, f in
                    ((i, files[i]) for i in idx[:_SNIFF_FILES])}
        seen = {v for v in verdicts.values() if v is not None}
        if len(seen) > 1:
            raise MixedTimestampUnits(
                f"mixed parquet timestamp units for {column} under {path}: "
                f"{verdicts} — rewrite the table with one unit"
            )
        result = seen.pop() if seen else False
    except MixedTimestampUnits:
        raise
    except Exception:
        # No footer access (e.g. non-local path in a unit test): assume
        # native timestamp; the schema-pinned read will surface a loud
        # PARQUET_TYPE_ILLEGAL if that's wrong. NOT cached, so a
        # transient footer-read error doesn't pin the wrong schema for
        # the process lifetime.
        return False
    _NANOS_CACHE[key] = result
    return result


def _read_schema(name: str, path: str) -> tuple[T.StructType, tuple[str, ...]]:
    """Physical read schema (nanos timestamps as longs) + the list of
    columns needing long→timestamp conversion."""
    nanos = tuple(
        c for c in NANOS_TS_COLUMNS.get(name, ()) if _stored_as_nanos(path, c)
    )
    fields = [
        T.StructField(f.name, T.LongType()) if f.name in nanos else f
        for f in schemas.DRIVER_TABLES[name].fields
    ]
    return T.StructType(fields), nanos


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ensure_nanos_conf(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_nanos_conf(spark)
    path = table_path(sf_dir, name)
    read_schema, ts_cols = _read_schema(name, path)
    df = spark.read.schema(read_schema).parquet(path)
    for c in ts_cols:
        # integer division: double division would lose precision at
        # nanosecond-epoch magnitudes (> 2^53)
        df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view (for spark.sql paths)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
