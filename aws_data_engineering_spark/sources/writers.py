"""Writer strategies — reference operators W1-W6, Spark-first.

The reference's load strategies (``generic_load_script.py:128-173``;
``FInal/load_script.py:73-112,197-204``):

- W1/W2 landing write: append/overwrite, partitioned by ``dt`` (v1 Delta) or
  unpartitioned parquet (v2 — which writes landing *before* stamping ``dt``,
  a bug we don't copy; our landing is always dt-partitioned).
- W3 curated append, W4 curated truncate/overwrite: blind insert / full
  replace, partitioned by ``dt``.
- W5 curated MERGE upsert: Delta ``whenMatchedUpdateAll / whenNotMatchedInsertAll``
  keyed on **primary_key + dt** (``generic_load_script.py:158``;
  ``FInal/load_script.py:94-96``) — the same business key on a new day
  inserts rather than updates. First load creates the table; missing PK is a
  hard error (``generic_load_script.py:155-156``).
- W6 strategy dispatch: unknown strategy → ``ValueError``
  (``generic_load_script.py:172-173``; ``FInal/load_script.py:111-112``).

Delta Lake is used when installed; otherwise ``merge_upsert`` runs a
pure-Spark merge with the identical row semantics. Because the merge key
includes the partition column, a source row can only ever touch its own
``dt`` partition — so the fallback rewrites *only the partitions present in
the incoming batch*, never the whole table. At 100 TB with daily ingest that
is the difference between rewriting ~1/1000 of the table and rewriting all
of it.

The rewrite happens in place: ``survivors ∪ source`` is written straight
back to the table it reads with ``partitionOverwriteMode=dynamic``. Spark
allows that because a dynamic overwrite writes its files under
``<table>/.spark-staging-<jobId>`` and swaps the touched partitions in at
job commit, after every task has finished reading. A *static* overwrite of a
path the query reads is still refused, so unpartitioned tables keep a
staging copy next to the table.
"""

from __future__ import annotations

import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_data_engineering_spark.session import HAS_DELTA
from aws_data_engineering_spark.sources.fs import delete_path, hadoop_path

VALID_STRATEGIES = ("append", "overwrite", "truncate", "upsert")


def write_append(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("dt",),
    fmt: str = "parquet",
) -> None:
    """W1/W3 — blind insert. Not idempotent on re-run (reference behavior:
    re-delivered files duplicate rows under append; use upsert for
    exactly-once)."""
    w = df.write.mode("append").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_overwrite(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("dt",),
    fmt: str = "parquet",
    dynamic: bool = False,
) -> None:
    """W4 — full replace ('truncate' in v1, 'overwrite' in v2). With
    ``dynamic=True`` only partitions present in ``df`` are replaced."""
    w = df.write.mode("overwrite").format(fmt)
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def _table_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` holds a table: it exists and has at least one
    visible entry (Spark hides ``_``/``.`` names from reads).

    A filesystem probe, never a read: a table that exists but fails to read
    must raise from the merge's own read. Treating a read error as "no
    table" would send ``merge_upsert`` down the first-load branch, which
    overwrites the whole table with the batch. An empty directory (left by
    an aborted first write) counts as absent, since it holds no rows to
    lose."""
    fs, hpath = hadoop_path(spark, path)
    if not fs.exists(hpath):
        return False
    return any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(hpath)
    )


def _overwrite_via_staging(
    spark: SparkSession, df: DataFrame, path: str, fmt: str
) -> None:
    """Replace the unpartitioned table at ``path`` with ``df``, which reads
    it. Spark refuses a static overwrite of a path the query reads, so
    ``df`` is written to a sibling staging path first and copied back."""
    parent = posixpath.dirname(path.rstrip("/")) or "."
    staging = f"{parent}/_staging_{uuid.uuid4().hex[:8]}"
    try:
        df.write.mode("overwrite").format(fmt).save(staging)
        write_overwrite(spark.read.format(fmt).load(staging), path, (), fmt)
    finally:
        delete_path(spark, staging)


def merge_condition(
    primary_key: list[str],
    partition_col: str | None,
    target_alias: str = "t",
    source_alias: str = "s",
) -> str:
    """The Delta MERGE ON condition: equality on every primary key column
    plus the partition column, each backtick-quoted (reference contract:
    FInal/load_script.py:94-96 — ``target.`k` = source.`k``` per PK AND
    ``target.dt = source.dt``; we quote the partition column too, which is
    semantically identical and safe for reserved-word column names).

    Matches ``_merge_upsert_pure_spark`` exactly: both key on
    ``primary_key + [partition_col]``, so the Delta branch and the tested
    pure-Spark branch have identical row semantics.
    """
    keys = list(primary_key) + ([partition_col] if partition_col else [])
    return " AND ".join(
        f"{target_alias}.`{k}` = {source_alias}.`{k}`" for k in keys
    )


def merge_upsert(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    primary_key: list[str],
    partition_col: str | None = "dt",
    fmt: str = "parquet",
    batch_keys: DataFrame | None = None,
) -> None:
    """W5 — MERGE upsert keyed on ``primary_key + partition_col``.

    Matched target rows are replaced column-for-column by the source row
    (update-all); unmatched source rows are inserted (insert-all) — i.e. the
    post-merge table is: (target rows with no source match) ∪ (source rows).
    Idempotent: re-running the same batch yields the same table.

    ``batch_keys`` is a DataFrame holding the merge-key columns of every
    source row (default: ``df`` itself). The batch's partition list and the
    anti-join's key set are read from it, so a caller whose ``df`` sits on
    top of an expensive plan (a global sort, an ``observe``) can pass the
    cached scan beneath it and keep those side queries off that plan.
    """
    if not primary_key:
        # reference contract: upsert without a PK is a hard error
        # (generic_load_script.py:155-156; FInal/load_script.py:89-90)
        raise ValueError("primary_key is required for upsert strategy")
    if fmt == "delta" and not HAS_DELTA:
        raise ValueError(
            "fmt='delta' requires delta-spark, which is not installed; "
            "use fmt='parquet' (the pure-Spark merge has identical row semantics)"
        )

    if not _table_exists(spark, path):
        # first load creates the table (generic_load_script.py:152-154)
        write_overwrite(
            df, path, (partition_col,) if partition_col else (), fmt
        )
        return

    if HAS_DELTA and fmt == "delta":
        from delta.tables import DeltaTable

        cond = merge_condition(primary_key, partition_col)
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(df.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return

    _merge_upsert_pure_spark(
        spark, df, path, primary_key, partition_col, fmt, batch_keys
    )


def _merge_upsert_pure_spark(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    primary_key: list[str],
    partition_col: str | None,
    fmt: str,
    batch_keys: DataFrame | None = None,
) -> None:
    """Pure-Spark MERGE: survivors(target) ∪ source, rewritten per-partition.

    Join strategy note: the anti-join's build side is the incoming batch's
    key columns — one day of keys, typically MBs even when the table is TBs —
    so Catalyst/AQE broadcasts it and the merge costs one scan of the
    affected partitions, no target-side shuffle.

    A partitioned table is rewritten in place by one dynamic partition
    overwrite (see the module docstring): each merged row is written once
    and never read back. Spark refuses only a *static* overwrite of a path
    it is reading from, which is what an unpartitioned table needs, so that
    case keeps the staging copy. (With Delta installed the whole merge is a
    single transactional MERGE.)
    """
    target = spark.read.format(fmt).load(path)
    keys = list(primary_key) + ([partition_col] if partition_col else [])
    source = df.select(*target.columns)  # align column order for the union
    batch = (df if batch_keys is None else batch_keys).select(*keys)

    survivors = target
    if partition_col:
        # static partition pruning: only scan partitions the batch touches
        batch_parts = [r[0] for r in batch.select(partition_col).distinct().collect()]
        survivors = survivors.filter(F.col(partition_col).isin(batch_parts))
    # no distinct(): a left-anti join only tests whether a key exists, so
    # duplicate keys on the build side cannot change the result
    survivors = survivors.join(F.broadcast(batch), on=keys, how="left_anti")
    merged = survivors.unionByName(source)

    if partition_col:
        write_overwrite(merged, path, (partition_col,), fmt, dynamic=True)
    else:
        _overwrite_via_staging(spark, merged, path, fmt)


def compact_table(
    spark: SparkSession,
    path: str,
    partition_col: str | None = "dt",
    target_files_per_partition: int = 1,
    fmt: str = "parquet",
) -> None:
    """Small-file compaction — the gap the reference leaves open (SURVEY.md
    §4: per-day appends accumulate small files; no OPTIMIZE anywhere).

    Rewrites each partition into ``target_files_per_partition`` files via a
    partition-keyed repartition + dynamic partition overwrite of the table
    in place (every partition is in the read, so every partition is
    replaced). An unpartitioned table goes through a staging copy, since
    Spark refuses a static overwrite of a path it is reading. At 100 TB run
    this per-partition (recent ``dt`` values only) on a schedule; with Delta
    installed prefer ``OPTIMIZE`` (transactional, concurrent-reader-safe)."""
    df = spark.read.format(fmt).load(path)
    if partition_col:
        compacted = df.repartition(target_files_per_partition, F.col(partition_col))
        write_overwrite(compacted, path, (partition_col,), fmt, dynamic=True)
    else:
        compacted = df.repartition(target_files_per_partition)
        _overwrite_via_staging(spark, compacted, path, fmt)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Bucketed managed table — the co-location tool for repeated big-big
    joins. Two tables bucketed by the same key into the same bucket count
    join with NO exchange on either side (the physical plan is scan →
    sort-merge join directly; asserted in tests). At 100 TB this converts
    every recurring fact-fact join from two full shuffles to zero —
    bucketing is paid once at write time.

    Uses ``saveAsTable`` because bucket metadata lives in the catalog
    (path-based writes can't record it)."""
    w = df.write.mode("overwrite").format(fmt).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def write_curated(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    strategy: str,
    primary_key: list[str] | None = None,
    partition_col: str | None = "dt",
    fmt: str = "parquet",
    batch_keys: DataFrame | None = None,
) -> None:
    """W6 — strategy dispatch ('truncate' is the v1 spelling of overwrite).
    ``batch_keys`` is passed to ``merge_upsert`` (upsert only)."""
    parts = (partition_col,) if partition_col else ()
    if strategy == "append":
        write_append(df, path, parts, fmt)
    elif strategy in ("overwrite", "truncate"):
        write_overwrite(df, path, parts, fmt)
    elif strategy == "upsert":
        merge_upsert(
            spark, df, path, primary_key or [], partition_col, fmt, batch_keys
        )
    else:
        raise ValueError(
            f"Unknown load strategy: {strategy!r} (expected one of {VALID_STRATEGIES})"
        )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """Apply a change-data-capture batch (I/U/D rows) to a snapshot.

    Extends the reference's MERGE semantics (``merge_upsert``,
    ``generic_load_script.py:150-170``) with DELETE — the op Delta MERGE
    expresses as ``whenMatchedDelete`` and the reference never needed
    (append-only feeds). Semantics: with ``seq_col`` given, only each key's
    LATEST change applies (earlier versions are superseded — the Debezium
    compaction rule); ``'D'`` removes the key, anything else upserts the
    row. Plan shape: one window (latest-per-key) + one left-anti join on
    the key + a union — all key-partitioned, no full-table rewrite beyond
    what MERGE itself would touch.
    """
    if not keys:
        raise ValueError("apply_cdc requires a non-empty primary_key")
    latest = changes
    if seq_col is not None:
        from pyspark.sql import Window

        order = [F.col(seq_col).desc()]
        if tiebreak:
            order.append(F.col(tiebreak).asc())
        w = Window.partitionBy(*keys).orderBy(*order)
        latest = (
            changes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    drop_cols = [op_col] + ([seq_col] if seq_col else [])
    upserts = latest.filter(F.col(op_col) != "D").drop(*drop_cols)
    kept = base.join(latest.select(*keys), keys, "left_anti")
    return kept.unionByName(upserts)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink (Spark 4 built-in XML source). One file per partition, same
    parallel-write model as parquet/csv — the interchange format for
    feeds that still speak XML."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode(mode)
        .save(path)
    )
