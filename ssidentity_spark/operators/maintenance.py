"""Table maintenance operators: MERGE-style upsert and small-file
compaction — the operational half of running the observation store at scale.

Upsert impetus: the reference TODO "Use MAC as primary key and keep
timestamps as CSV text field" (/root/reference/ssidentity.c:26) is an
upsert-by-key table. Plain parquet has no MERGE INTO (that's Delta/Iceberg);
the classic emulation is anti-join + union + atomic swap, which is also the
SCD pattern from the era before ACID table formats.

Compaction impetus: streaming sinks (micro-batch parquet commits,
streaming/ingest.py) accrete small files; at 100 TB the file count — not
byte volume — kills scan planning. Compaction rewrites a partition to
target-sized files.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ssidentity_spark.operators.iterate import materialize


def upsert_by_key(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    validate: bool = True,
) -> DataFrame:
    """MERGE INTO emulation: rows of ``target`` whose key collides with an
    update are replaced; new keys are appended. Pure DataFrame plan — the
    caller writes the result (or uses ``upsert_parquet`` for the swap).

    ``validate`` (default on) raises when the update batch itself holds a
    key twice — real MERGE INTO errors on multiple source matches, and
    silently appending both rows would break the primary-key contract the
    target table promises. The check is one bounded job over the batch;
    pass ``validate=False`` only when the caller has already collapsed
    the batch (e.g. via ``latest_per_key``).

    Both sides shuffle once on the key; with a bucketed target
    (io.write_observations_bucketed) the anti-join is shuffle-free.
    """
    if validate:
        dup = (
            updates.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter("_n > 1")
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"upsert_by_key: update batch contains key "
                f"{tuple(dup[0][k] for k in keys)!r} more than once — "
                "collapse the batch (latest_per_key) before merging"
            )
    keep = target.join(updates.select(*keys).distinct(), list(keys), "left_anti")
    return keep.unionByName(updates)


def latest_per_key(df: DataFrame, keys: Sequence[str], order_col: str) -> DataFrame:
    """SCD-1 collapse: keep each key's newest row. Ties on ``order_col``
    break on the lexicographically largest remaining-column tuple (struct
    ordering), so the survivor is deterministic across shuffles and runs
    — row_number over the bare order column alone would pick whichever
    row a partition scanned first."""
    from pyspark.sql.types import MapType

    # unorderable columns (MapType) are excluded from the tiebreak struct
    # — including them would fail analysis for frames the bare ordering
    # handled fine; ties among rows differing ONLY in a map column remain
    # arbitrary (no total order exists for them)
    rest = [
        c
        for c in df.columns
        if c not in keys
        and c != order_col
        and not isinstance(df.schema[c].dataType, MapType)
    ]
    tiebreak = [F.desc(F.struct(*rest))] if rest else []
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col), *tiebreak)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
    )


def mac_roster_upsert(
    roster: DataFrame, new_obs: DataFrame
) -> DataFrame:
    """The reference's MAC-as-primary-key table (ssidentity.c:26): one row
    per device with first/last seen and the ts CSV field, merged with a new
    batch of observations."""
    batch = new_obs.groupBy("mac").agg(
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.array_join(F.sort_array(F.collect_set("ts_str")), ",").alias("ts_csv"),
        F.count(F.lit(1)).alias("n_probes"),
    )
    merged = roster.unionByName(batch)
    return (
        merged.groupBy("mac")
        .agg(
            F.min("first_seen").alias("first_seen"),
            F.max("last_seen").alias("last_seen"),
            # re-sort the union of both CSV fields; drop empty tokens —
            # a batch whose ts_str values were all NULL produces
            # ts_csv='' and split('', ',') yields [''], which would
            # otherwise survive as a phantom leading-comma entry forever
            F.array_join(
                F.array_sort(
                    F.filter(
                        F.array_distinct(
                            F.flatten(F.collect_list(F.split("ts_csv", ",")))
                        ),
                        lambda x: x != "",
                    )
                ),
                ",",
            ).alias("ts_csv"),
            F.sum("n_probes").cast("long").alias("n_probes"),
        )
    )


def _swap_in(stage: str, path: str) -> None:
    """Crash-safe directory swap: rename the live table aside, move the
    fully-written stage in, delete the backup LAST. A crash between any two
    steps leaves either the old table (possibly under the ``._backup``
    name) or the new one on disk — never neither. ``stage`` must be a
    sibling of ``path`` so every step is a same-filesystem rename, not a
    copy (tempfile.mkdtemp could land on another mount and turn the "swap"
    into a slow, non-atomic copy)."""
    backup = path + "._backup"
    if os.path.isdir(backup):  # leftover from an interrupted earlier swap
        shutil.rmtree(backup)
    if os.path.isdir(path):
        os.rename(path, backup)
    os.rename(stage, path)
    if os.path.isdir(backup):
        shutil.rmtree(backup)


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
) -> None:
    """Read-modify-swap upsert for an UNPARTITIONED parquet table. Rewrites
    the whole table — O(history) per call, acceptable only for compact
    roster-sized tables. For fact tables partitioned by date use
    ``upsert_parquet_partitioned``: O(touched partitions) per batch.
    (Delta/Iceberg would make either a metadata-only MERGE; the plan shape
    is identical.)"""
    target = spark.read.parquet(path)
    merged = upsert_by_key(target, updates, keys)
    stage = path + "._stage"
    merged.write.mode("overwrite").parquet(stage)
    _swap_in(stage, path)


def upsert_parquet_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_col: str,
) -> list:
    """MERGE for a hive-partitioned parquet table that touches ONLY the
    partitions present in the update batch (dynamic partition overwrite),
    so per-batch cost is O(batch ∪ touched partitions), not O(history).

    Untouched partition directories are not rewritten — their files stay
    byte-identical (asserted in tests/test_maintenance.py). The distinct
    partition-value collect is bounded by the number of partitions in one
    batch (a handful of dates), not by data volume. Returns the touched
    partition values."""
    # the batch is consumed three times (touched-partition scan, the
    # duplicate-key validation inside upsert_by_key, and the final
    # write); persist once so a non-trivial updates plan is not
    # recomputed per consumer
    updates = updates.persist()
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    # isin() alone is a trap when the batch touches the NULL partition:
    # isin([None]) is NULL for EVERY row, so the target read comes back
    # empty and dynamic overwrite then rewrites
    # __HIVE_DEFAULT_PARTITION__ with only the update rows — silently
    # deleting every other row that lived there
    non_null = [v for v in touched if v is not None]
    cond = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if len(non_null) < len(touched):
        cond = cond | F.col(partition_col).isNull()
    try:
        target = spark.read.parquet(path).filter(cond)
        merged = upsert_by_key(target, updates, keys)
        # break lineage from `path` before overwriting it (Spark refuses
        # a direct read-from/write-to cycle); bounded by the touched
        # partitions
        merged = materialize(merged)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
    finally:
        updates.unpersist()
    return touched


def compact_partition(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Rewrite a (partition) directory into ~target-sized files. Returns the
    new file count. At scale this runs per date-partition as a maintenance
    job; the rewrite is a narrow repartition — no wide shuffle keys."""
    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, (n + target_rows_per_file - 1) // target_rows_per_file)
    stage = path + "._stage"
    df.repartition(n_files).write.mode("overwrite").parquet(stage)
    _swap_in(stage, path)
    return n_files
