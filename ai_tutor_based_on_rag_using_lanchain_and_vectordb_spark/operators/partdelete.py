"""Partition-scoped delete for the persistent index layouts — the
engine-side half of the reference's document purge (``POST
/delete-doc`` removes a document from BOTH stores: the SQLite catalog
AND the Chroma collection, backend/main.py:443-486 +
backend/chroma_utils.py:174 ``_collection.delete(where={"file_id":
…})``). The catalog/chunk side is ``sources/ingest.delete_document``;
this module gives the persistent retrieval layouts (BM25 postings,
IVF vectors, IVF+PQ codes — all parquet partitioned by a routing
column) the same ability to FORGET ids.

Scale shape (the GDPR-purge / re-crawl-replace cadence at 100 TB):

- LOCATE is a column-pruned (id, part) scan of the layout filtered on
  the victim ids — two thin columns, map-only, no shuffle (a
  Delta/Hudi deployment would consult the table's key index instead);
- REWRITE touches only the partitions that actually contain victim
  rows (dynamic partition overwrite): purging one document from a
  1024-cell index rewrites the handful of partitions it lives in, not
  the index;
- a partition whose EVERY row was a victim is absent from the dynamic
  overwrite and would keep its stale files — such partitions are
  explicitly overwritten with an empty schema-bearing parquet (same
  contract as the upsert path's emptied-cell handling).

Deletes are idempotent by construction (deleting an absent id touches
nothing), which is what makes the streaming delete wrapper
(streaming/index_deletes.py) exactly-once under foreachBatch's
at-least-once redelivery with just an epoch marker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_table, pin

__all__ = ["anti_filter", "clear_emptied_partitions", "delete_ids_from_layout"]


def anti_filter(df: DataFrame, victim_ids, id_col: str) -> DataFrame:
    """Rows of ``df`` whose ``id_col`` is NOT a victim. ``victim_ids``
    is a small python list (becomes a NOT-IN literal filter, pushable
    into the scan) or a 1-column DataFrame (broadcast anti-join — the
    bulk-purge path). Null-safe either way: a NULL id is "not the
    victim" and survives (``~isin`` alone would silently drop NULL-keyed
    rows under three-valued logic — the ingest.delete_document
    convention)."""
    if isinstance(victim_ids, DataFrame):
        vdf = victim_ids.select(
            F.col(victim_ids.columns[0]).alias(id_col)
        ).dropDuplicates()
        return df.join(F.broadcast(vdf), id_col, "left_anti")
    ids = [i for i in victim_ids]
    if not ids:
        return df
    return df.where(F.col(id_col).isNull() | ~F.col(id_col).isin(ids))


def _semi_filter(df: DataFrame, victim_ids, id_col: str) -> DataFrame:
    if isinstance(victim_ids, DataFrame):
        vdf = victim_ids.select(
            F.col(victim_ids.columns[0]).alias(id_col)
        ).dropDuplicates()
        return df.join(F.broadcast(vdf), id_col, "left_semi")
    ids = [i for i in victim_ids]
    if not ids:
        return df.where(F.lit(False))
    return df.where(F.col(id_col).isin(ids))


def clear_emptied_partitions(
    spark: SparkSession,
    kept: DataFrame,
    data_path: str,
    touched: list,
    part_col: str,
) -> None:
    """Dynamic partition overwrite only rewrites partitions PRESENT in
    the output — a touched partition whose every row was removed keeps
    its old files and would serve stale rows. Overwrite such
    partitions' directories with an empty (schema-bearing) parquet so
    the stale rows are gone and the reader still discovers the
    partition. Bounded collect: one row per touched partition."""
    present = {
        r[part_col] for r in kept.select(part_col).distinct().collect()
    }
    empty = local_table(spark, [], kept.drop(part_col).schema)
    for p in touched:
        if p not in present:
            empty.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(data_path, f"{part_col}={int(p)}")
            )


def delete_ids_from_layout(
    spark: SparkSession,
    data_path: str,
    victim_ids,
    id_col: str,
    part_col: str,
) -> tuple[int, list]:
    """Remove every row whose ``id_col`` is in ``victim_ids`` from a
    ``part_col``-partitioned parquet layout, rewriting ONLY the
    partitions that contain such rows. Returns ``(rows_deleted,
    touched_partitions)`` — ``(0, [])`` when no victim is present (the
    idempotent replay case)."""
    base = spark.read.parquet(data_path)
    located = (
        _semi_filter(base.select(id_col, part_col), victim_ids, id_col)
        .groupBy(part_col)
        .agg(F.count("*").alias("n"))
        .collect()
    )  # bounded: one row per touched partition
    touched = sorted(int(r[part_col]) for r in located)
    n_rows = sum(int(r["n"]) for r in located)
    if not touched:
        return 0, []
    existing = spark.read.parquet(data_path).where(
        F.col(part_col).isin(touched)
    )
    # materialize the survivors BEFORE overwriting the files the plan
    # reads from (the upsert paths' contract)
    kept = pin(anti_filter(existing, victim_ids, id_col), eager=True)
    (
        kept.repartition(part_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(part_col)
        .parquet(data_path)
    )
    clear_emptied_partitions(spark, kept, data_path, touched, part_col)
    return n_rows, touched
