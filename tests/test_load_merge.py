"""The load path's writes: one parse per ``run_load``, the in-place MERGE,
the filesystem existence probe, and the ``dt`` stamp's file-name rule."""

from __future__ import annotations

import glob
import gzip
import os
import subprocess
import sys
import textwrap
import uuid

import pytest
from pyspark.sql import functions as F

from aws_data_engineering_spark import pipeline as P
from aws_data_engineering_spark.operators import transforms as T
from aws_data_engineering_spark.sources import writers as W

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_gz_csv(path, text):
    path.parent.mkdir(parents=True, exist_ok=True)
    with gzip.open(path, "wt") as f:
        f.write(text)


def _cfg(name):
    return P.TableConfig(
        table_name=name,
        schema={"id": "long", "name": "string"},
        primary_key=["id"],
        sort_columns=["id"],
        landing_load_strategy="append",
        curated_load_strategy="upsert",
    )


def _rows(spark, path):
    return sorted(
        (r["id"], r["name"], r["dt"])
        for r in spark.read.parquet(path).select("id", "name", "dt").collect()
    )


def test_dt_from_filename_ignores_directory_digits(spark):
    df = spark.createDataFrame(
        [
            ("/data/20230101_drop/orders_20240131.csv.gz",),
            ("s3a://b/inbound/20230101/t/no_date.csv",),
            ("orders_20240131_20240201.csv",),
        ],
        ["path"],
    )
    out = df.select(T.dt_from_filename(F.col("path")).alias("dt")).collect()
    assert [r["dt"] for r in out] == ["2024-01-31", "unknown", "2024-01-31"]


def test_run_load_stamps_dt_from_file_name_not_directory(spark, tmp_path):
    inbound = tmp_path / "20230101_drop"
    _write_gz_csv(inbound / "orders_20240131.csv.gz", "id,name\n1,ann\n2,bob\n")
    curated = str(tmp_path / "curated")
    P.run_load(spark, _cfg("dtname"), str(inbound), str(tmp_path / "landing"), curated)
    assert _rows(spark, curated) == [(1, "ann", "2024-01-31"), (2, "bob", "2024-01-31")]


def _csv_scans(spark, first_exec: int) -> int:
    """Scan csv nodes that produced rows across the SQL executions started
    since ``first_exec`` (a node read from the cache reports no rows)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList(first_exec, 1 << 30)
    scans = 0
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            if not node.name().startswith("Scan csv"):
                continue
            metrics = node.metrics()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                if metric.name() != "number of output rows":
                    continue
                v = values.get(metric.accumulatorId())
                if v.isDefined() and v.get().replace(",", "").strip() != "0":
                    scans += 1
    return scans


def test_run_load_parses_inbound_once(spark, tmp_path):
    """A load onto an existing curated table parses its gz-CSV in one job
    and finishes in fewer jobs than the 17 the staged merge took."""
    landing, curated = str(tmp_path / "landing"), str(tmp_path / "curated")
    day1 = tmp_path / "in1"
    _write_gz_csv(day1 / "t_20240101.csv.gz", "id,name\n1,a\n2,b\n")
    P.run_load(spark, _cfg("once"), str(day1), landing, curated)

    day2 = tmp_path / "in2"
    _write_gz_csv(day2 / "t_20240101.csv.gz", "id,name\n2,B\n3,c\n")
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group = f"run_load_{uuid.uuid4().hex[:8]}"
    sql_store = spark._jsparkSession.sharedState().statusStore()
    first_exec = sql_store.executionsCount()
    cached_before = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup(group, "single-scan load")
    try:
        P.run_load(spark, _cfg("once"), str(day2), landing, curated)
    finally:
        jsc.clearJobGroup()
    jsc.listenerBus().waitUntilEmpty()

    jobs = jsc.statusStore().jobsList(None)
    n_jobs = sum(
        1
        for i in range(jobs.size())
        if jobs.apply(i).jobGroup().isDefined()
        and jobs.apply(i).jobGroup().get() == group
    )
    assert 0 < n_jobs < 17
    assert _csv_scans(spark, first_exec) == 1
    assert sc._jsc.getPersistentRDDs().size() == cached_before  # cache released
    assert _rows(spark, curated) == [
        (1, "a", "2024-01-01"),
        (2, "B", "2024-01-01"),
        (3, "c", "2024-01-01"),
    ]


def test_unpartitioned_merge_and_compaction(spark, tmp_path):
    """``partition_col=None`` keeps the staging copy (a static overwrite of a
    path being read is refused) and removes it afterwards."""
    p = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "id int, name string")
    W.merge_upsert(spark, mk([(1, "a"), (2, "b")]), p, ["id"], partition_col=None)
    W.merge_upsert(spark, mk([(2, "B"), (3, "c")]), p, ["id"], partition_col=None)
    W.write_append(mk([(4, "d")]), p, partition_by=())
    W.compact_table(spark, p, partition_col=None)
    got = sorted(tuple(r) for r in spark.read.parquet(p).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert len(glob.glob(f"{p}/part-*.parquet")) == 1
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_table_exists_is_a_filesystem_probe(spark, tmp_path):
    p = tmp_path / "t"
    assert not W._table_exists(spark, str(p))
    p.mkdir()
    (p / "_SUCCESS").write_bytes(b"")
    assert not W._table_exists(spark, str(p))  # nothing a read would return
    (p / "dt=d1").mkdir()
    assert W._table_exists(spark, str(p))


def test_merge_upsert_unreadable_table_raises_and_keeps_files(spark, tmp_path):
    """A table that exists but cannot be read must fail the merge, not be
    taken for a first load and overwritten with the batch."""
    part = tmp_path / "t" / "dt=d1" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    part.write_bytes(b"not a parquet file")
    batch = spark.createDataFrame([(1, "a", "d2")], "id int, name string, dt string")
    with pytest.raises(Exception):
        W.merge_upsert(spark, batch, str(tmp_path / "t"), ["id"])
    assert part.read_bytes() == b"not a parquet file"
    assert sorted(os.listdir(tmp_path / "t")) == ["dt=d1"]


def test_guards_hold_under_python_O():
    """The q-digest census bound and the empty-split guard are explicit
    raises, so they still fire when asserts are stripped."""
    code = textwrap.dedent(
        """
        import numpy as np
        from aws_data_engineering_spark.operators import sampling, sketch

        assert False, "asserts must be stripped in this interpreter"
        kernel = sketch._compress_leaf_arrays_fn(2, 4)
        try:
            kernel(np.arange(5, dtype=np.int64), np.ones(5, dtype=np.int64))
        except ValueError as e:
            print("census:", e)
        sampling.split_thresholds = lambda fractions: []
        try:
            sampling.split_assignment("id", {"a": 1.0})
        except ValueError as e:
            print("split:", e)
        """
    )
    out = subprocess.run(
        [sys.executable, "-O", "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "census: q-digest census has 5 rows > 2^2" in out.stdout
    assert "split: split_assignment needs at least one split" in out.stdout
