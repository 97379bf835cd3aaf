"""Config-driven load pipeline — the reference lifecycle (SURVEY.md §3),
collapsed into one composable function and purged of its bugs.

Reference shape (``FInal/load_script.py:115-221``): parse key → fetch config →
build schema → CSV scan → project → sort → landing write → derive dt →
stamp metadata → curated strategy write. We keep the same JSON config
contract (schema / select_columns / sort_columns / delimiter /
landing_load_strategy / curated_load_strategy / primary_key) and the same
zone layout, with these deliberate fixes:

- landing is written *after* the ``dt`` stamp and partitioned by it (v2
  wrote landing pre-``dt``, ``FInal/load_script.py:197-204`` vs ``:212``).
- the date comes from the filename per-row (``input_file_name()``), so one
  run can ingest a whole directory of daily files — the reference was
  one-file-per-job (``Script.sh:10-16``).
- no driver-side gunzip (v1's ``generic_load_script.py:14-24``): Spark reads
  ``.gz`` CSV natively on executors.
- unknown landing strategy is a hard error (v1 silently treated anything
  ≠ 'append' as overwrite, ``generic_load_script.py:130``).
- the two zones are written concurrently, not one after the other, and
  the config's sort survives into the files of both (see below).

Scale posture: every step is a narrow transform fused into the scan until
the optional sort; the writes are the only shuffles-by-necessity.
Gzip files are non-splittable — one task per file — so 100 TB ingest
parallelism comes from file count, which the daily-file layout provides.
Each load parses its inbound files once: the projected, ``dt``-stamped scan
is persisted (``MEMORY_AND_DISK``, so a batch larger than executor memory
spills to local disk rather than failing), every job of the load — the
sort's stages for both zones, the batch's partition list and key set for
the MERGE — reads that cache, and it is released when the load ends. The
cache holds one batch, never the table.

Sort order: with ``sort_columns`` set, both zones are sorted by
``("dt", *sort_columns)``, the order the ``dt``-partitioned writer needs,
so each file is non-decreasing in ``sort_columns`` (``T.global_sort`` says
why sorting by ``sort_columns`` alone leaves files unsorted). A
single-partition scan (one gz file, or small files packed into one split)
is sorted within its partition: no range-sampling job and no shuffle.

Concurrent zones: a load on one gz file is a chain of one-task jobs per
zone, which leaves the other cores idle. The landing write runs on a
helper thread (carrying the caller's job group and tags) while the
curated write runs on the calling thread; Spark's block lock makes the
second reader of a cache partition wait for the first, so the CSV is still
parsed once. Failure states: either zone can commit while the other
fails. A committed landing append with a failed curated write was
possible with sequential writes too; rerunning the load then appends
the batch to landing a second time. A committed curated MERGE with a
failed landing write is new, and a rerun repairs it: the MERGE is
idempotent and landing gets the batch once. So the failures a rerun
cannot repair are the same as before.
"""

from __future__ import annotations

import json
import logging
import sys
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from aws_data_engineering_spark.operators import transforms as T
from aws_data_engineering_spark.schema import build_schema_from_dict
from aws_data_engineering_spark.sources.readers import read_csv
from aws_data_engineering_spark.sources.writers import write_curated

VALID_LANDING_STRATEGIES = ("append", "overwrite")


def setup_logger(name: str = "aws_data_engineering_spark", log_file: str | None = None) -> logging.Logger:
    """E4 — stdout (+ optional file) logger, generalizing the reference's
    ``setup_logger`` contract (``FInal/load_script.py:16-29``)."""
    logger = logging.getLogger(name)
    if not logger.handlers:
        fmt = logging.Formatter("%(asctime)s %(levelname)s %(name)s: %(message)s")
        sh = logging.StreamHandler(sys.stdout)
        sh.setFormatter(fmt)
        logger.addHandler(sh)
        if log_file:
            fh = logging.FileHandler(log_file)
            fh.setFormatter(fmt)
            logger.addHandler(fh)
        logger.setLevel(logging.INFO)
    return logger


_log = setup_logger()


@dataclass
class TableConfig:
    """The per-table JSON contract (``<table>_config.json`` in the reference:
    ``generic_load_script.py:88-100``; ``FInal/load_script.py:150-175``)."""

    table_name: str
    schema: dict[str, str]
    primary_key: list[str] = field(default_factory=list)
    select_columns: list[str] = field(default_factory=list)
    sort_columns: list[str] = field(default_factory=list)
    delimiter: str = ","
    landing_load_strategy: str = "append"
    curated_load_strategy: str = "append"
    file_format: str = "parquet"

    @classmethod
    def from_json(cls, text: str) -> "TableConfig":
        raw = json.loads(text)
        known = {f for f in cls.__dataclass_fields__}
        return cls(**{k: v for k, v in raw.items() if k in known})

    @classmethod
    def from_file(cls, path: str) -> "TableConfig":
        return cls.from_json(Path(path).read_text())

    @classmethod
    def from_s3(cls, bucket: str, key: str, s3_client=None) -> "TableConfig":
        """S2 — fetch ``<table>_config.json`` from the config bucket, the
        reference's live path (``generic_load_script.py:27-36``;
        ``FInal/load_script.py:33-38``: ``s3.get_object`` → ``json.loads``).

        The client is injectable so tests run against moto/stubs; the
        default builds a real boto3 client. This is a driver-side fetch of
        a few-KB JSON — never a Spark job.
        """
        if s3_client is None:
            import boto3  # driver-side only; deferred so the engine
            # itself never requires AWS SDKs at import time

            s3_client = boto3.client("s3")
        body = s3_client.get_object(Bucket=bucket, Key=key)["Body"].read()
        return cls.from_json(body.decode("utf-8"))


def to_s3a(path: str) -> str:
    """Normalize an ``s3://`` URI to the ``s3a://`` scheme Spark's Hadoop
    connector needs (``FInal/load_script.py:138-140`` — the reference's
    ``s3a_path`` helper; boto3 paths stay ``s3://``). Non-s3 paths pass
    through untouched, so local/hdfs runs need no special-casing."""
    if path.startswith("s3://"):
        return "s3a://" + path[5:]
    return path


def compose_inbound_path(landing_root: str, file_key: str) -> str:
    """Join the landing root and the landed object key exactly as the
    reference composes ``full_s3_path`` (``FInal/load_script.py:143-144``:
    ``f"{LANDING_PATH.rstrip('/')}/{file_key.lstrip('/')}"`` then
    ``s3a_path``) — minus the reference's bug of reading an undefined
    ``file_key`` variable (its argv binds ``file_path``; the composed path
    crashes with NameError before any Spark work)."""
    return to_s3a(f"{landing_root.rstrip('/')}/{file_key.lstrip('/')}")


def parse_inbound_key(key: str) -> tuple[str, str, str]:
    """S1 — split ``inbound/<source_system>/<table_name>/<file>`` positionally
    (``Script.sh:13-16``; ``FInal/script.sh:13-16``)."""
    parts = key.strip("/").split("/")
    if len(parts) < 4:
        raise ValueError(
            f"Inbound key must be inbound/<source>/<table>/<file>, got {key!r}"
        )
    return parts[1], parts[2], parts[3]


def run_load(
    spark: SparkSession,
    config: TableConfig,
    inbound_path: str,
    landing_path: str,
    curated_path: str,
) -> DataFrame:
    """Execute one config-driven load: inbound CSV → landing → curated.

    Returns the curated-ready DataFrame (post-transform) for inspection.
    The load's scan cache is released before it returns, so evaluating
    the result parses the inbound files again.

    The landing and curated writes run concurrently (module docstring).
    Both are waited for before the cache is released; if either fails the
    load raises — the landing error when landing failed (a curated error
    beside it is logged), else the curated one.
    """
    schema = build_schema_from_dict(config.schema)
    _log.info(
        "load start: table=%s inbound=%s landing=%s curated=%s strategies=%s/%s",
        config.table_name,
        inbound_path,
        landing_path,
        curated_path,
        config.landing_load_strategy,
        config.curated_load_strategy,
    )

    if config.landing_load_strategy not in VALID_LANDING_STRATEGIES:
        raise ValueError(
            f"Unknown landing strategy: {config.landing_load_strategy!r}"
        )
    scan = read_csv(spark, inbound_path, schema=schema, delimiter=config.delimiter)
    scan = T.project(scan, config.select_columns)
    # dt BEFORE the sort: input_file_name() is only defined inside the scan
    # stage — after the sort's range-exchange it evaluates to "" (→ 'unknown')
    scan = T.stamp_dt_from_filename(scan)

    # in-flight audit metrics via observe(): row count + null-PK count are
    # computed ON the curated write itself (no second scan of the input —
    # at 100 TB a separate count() would double the job). The reference
    # only log-stamps progress (FInal/load_script.py:16-29); this gives the
    # load a verifiable data contract at zero extra passes.
    obs = Observation(f"load_audit_{config.table_name}")
    metrics = [F.count(F.lit(1)).alias("rows_written")]
    if config.primary_key:
        null_pk = F.lit(False)
        for k in config.primary_key:
            null_pk = null_pk | F.col(k).isNull()
        metrics.append(F.sum(null_pk.cast("int")).alias("null_pk_rows"))

    # Parse once: without the cache every job below (the sort's stages in
    # both zones, the MERGE's partition list and key set) decompresses and
    # parses the gz-CSV again. The cache sits BEFORE the sort: a cached
    # plan keeps its own output partitioning, so caching a range-sorted
    # frame would stop AQE from coalescing the sort's exchange and spread
    # each dt over more, smaller files.
    scan = scan.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        df = T.global_sort(scan, config.sort_columns, partition_col="dt")
        curated = T.stamp_audit_columns(df).observe(obs, *metrics)
        with ThreadPoolExecutor(max_workers=1) as pool:
            landing = pool.submit(
                inheritable_thread_target(spark)(write_curated),
                spark,
                df,
                landing_path,
                config.landing_load_strategy,
                partition_col="dt",
                fmt=config.file_format,
            )
            try:
                write_curated(
                    spark,
                    curated,
                    curated_path,
                    config.curated_load_strategy,
                    primary_key=config.primary_key,
                    partition_col="dt",
                    fmt=config.file_format,
                    # the MERGE's side queries read the keys from the cache,
                    # not through the sort and the observed plan
                    batch_keys=scan,
                )
                curated_error = None
            except Exception as e:
                curated_error = e
            landing_error = landing.exception()
        if landing_error is not None:
            if curated_error is not None:
                _log.error(
                    "table=%s curated write failed too: %r",
                    config.table_name,
                    curated_error,
                )
            raise landing_error
        if curated_error is not None:
            raise curated_error
        audit = obs.get
    finally:
        scan.unpersist()
    _log.info("load done: table=%s audit=%s", config.table_name, audit)
    if config.primary_key and audit.get("null_pk_rows"):
        _log.warning(
            "table=%s has %s rows with NULL primary-key columns",
            config.table_name,
            audit["null_pk_rows"],
        )
    return curated
