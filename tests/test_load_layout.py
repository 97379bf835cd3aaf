"""File layout and job budget of ``run_load``: one sort the partitioned
writer keeps, both zones written concurrently, and the cache released when
either zone fails."""

from __future__ import annotations

import glob
import gzip
import random
import uuid

import pyarrow.parquet as pq
import pytest

from aws_data_engineering_spark import pipeline as P


def _write_gz_csv(path, keys):
    path.parent.mkdir(parents=True, exist_ok=True)
    with gzip.open(path, "wt") as f:
        f.write("id,name\n" + "".join(f"{k},n{k}\n" for k in keys))


def _cfg(name, sort_columns=("id",)):
    return P.TableConfig(
        table_name=name,
        schema={"id": "long", "name": "string"},
        primary_key=["id"],
        sort_columns=list(sort_columns),
        landing_load_strategy="append",
        curated_load_strategy="upsert",
    )


def _shuffled(keys, seed):
    keys = list(keys)
    random.Random(seed).shuffle(keys)
    return keys


def _files_sorted(zone):
    """Per parquet file under ``zone``: whether its ids are non-decreasing."""
    out = {}
    for f in sorted(glob.glob(f"{zone}/dt=*/*.parquet")):
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        out[f] = ids == sorted(ids)
    return out


def _counts_by_dt(spark, path):
    return {
        r["dt"]: r["count"]
        for r in spark.read.parquet(path).groupBy("dt").count().collect()
    }


def _load(spark, cfg, inbound, landing, curated):
    """Run one load; returns the physical plans of the SQL executions it ran."""
    store = spark._jsparkSession.sharedState().statusStore()
    first_exec = store.executionsCount()
    P.run_load(spark, cfg, str(inbound), landing, curated)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList(first_exec, 1 << 30)
    return [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]


def test_single_file_load_sorts_every_file_without_a_shuffle(spark, tmp_path):
    """A base delivery and its correction on the same day, keys shuffled:
    every landing and curated file is non-decreasing in the sort column,
    and the single-partition scan is sorted with no range exchange."""
    landing, curated = str(tmp_path / "landing"), str(tmp_path / "curated")
    keys = _shuffled(range(3000), 1)
    _write_gz_csv(tmp_path / "in1" / "t_20240101.csv.gz", keys)
    plans = _load(spark, _cfg("sorted1"), tmp_path / "in1", landing, curated)
    _write_gz_csv(tmp_path / "in2" / "t_20240101_fix.csv.gz", _shuffled(keys[:600], 2))
    plans += _load(spark, _cfg("sorted1"), tmp_path / "in2", landing, curated)

    for zone in (landing, curated):
        layout = _files_sorted(zone)
        assert layout and all(layout.values()), layout
    assert not any("rangepartitioning" in p for p in plans)
    assert _counts_by_dt(spark, landing) == {"2024-01-01": 3600}
    assert _counts_by_dt(spark, curated) == {"2024-01-01": 3000}


def test_directory_of_dated_files_takes_the_range_sort(spark, tmp_path):
    """Three dated gz files are three scan partitions: the load sorts them
    with one global ``orderBy("dt", "id")`` and every file stays sorted."""
    landing, curated = str(tmp_path / "landing"), str(tmp_path / "curated")
    inbound = tmp_path / "in"
    for day, seed in (("20240101", 3), ("20240102", 4), ("20240103", 5)):
        _write_gz_csv(inbound / f"t_{day}.csv.gz", _shuffled(range(1000), seed))
    plans = _load(spark, _cfg("sorted3"), inbound, landing, curated)

    assert any("rangepartitioning(dt" in p for p in plans)
    for zone in (landing, curated):
        layout = _files_sorted(zone)
        assert layout and all(layout.values()), layout
    expected = {"2024-01-01": 1000, "2024-01-02": 1000, "2024-01-03": 1000}
    assert _counts_by_dt(spark, landing) == expected
    assert _counts_by_dt(spark, curated) == expected


def test_no_sort_columns_adds_no_range_exchange(spark, tmp_path):
    inbound = tmp_path / "in"
    for day in ("20240101", "20240102"):
        _write_gz_csv(inbound / f"t_{day}.csv.gz", _shuffled(range(200), 6))
    plans = _load(
        spark,
        _cfg("unsorted", sort_columns=()),
        inbound,
        str(tmp_path / "landing"),
        str(tmp_path / "curated"),
    )
    assert plans and not any("rangepartitioning" in p for p in plans)


def test_warm_load_job_budget(spark, tmp_path):
    """A correction load onto an existing table runs at most 8 jobs, every
    one of them under the caller's job group (the landing thread inherits
    it)."""
    landing, curated = str(tmp_path / "landing"), str(tmp_path / "curated")
    keys = _shuffled(range(2000), 7)
    _write_gz_csv(tmp_path / "in1" / "t_20240101.csv.gz", keys)
    P.run_load(spark, _cfg("budget"), str(tmp_path / "in1"), landing, curated)
    _write_gz_csv(tmp_path / "in2" / "t_20240101_fix.csv.gz", keys[:400])

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group = f"warm_load_{uuid.uuid4().hex[:8]}"
    first_job = jsc.dagScheduler().numTotalJobs()
    sc.setJobGroup(group, "warm load")
    try:
        P.run_load(spark, _cfg("budget"), str(tmp_path / "in2"), landing, curated)
    finally:
        jsc.clearJobGroup()
    last_job = jsc.dagScheduler().numTotalJobs()
    jsc.listenerBus().waitUntilEmpty()

    store = jsc.statusStore()
    groups = [store.job(j).jobGroup() for j in range(first_job, last_job)]
    assert 0 < len(groups) <= 8
    assert all(g.isDefined() and g.get() == group for g in groups)
    assert _counts_by_dt(spark, curated) == {"2024-01-01": 2000}


def test_failed_landing_raises_and_releases_the_cache(spark, tmp_path):
    """A landing path that is a plain file fails the landing write. The
    load raises after the curated write has finished, and its scan cache is
    released. The curated MERGE has committed; once landing is writable, a
    rerun of the same load converges on the state of one clean load."""
    landing = tmp_path / "landing"
    landing.write_text("not a directory")
    curated = str(tmp_path / "curated")
    _write_gz_csv(tmp_path / "in" / "t_20240101.csv.gz", _shuffled(range(100), 8))
    sc = spark.sparkContext
    cached_before = sc._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception):
        P.run_load(spark, _cfg("badland"), str(tmp_path / "in"), str(landing), curated)
    assert sc._jsc.getPersistentRDDs().size() == cached_before
    assert _counts_by_dt(spark, curated) == {"2024-01-01": 100}

    landing.unlink()
    P.run_load(spark, _cfg("badland"), str(tmp_path / "in"), str(landing), curated)
    assert _counts_by_dt(spark, curated) == {"2024-01-01": 100}
    assert _counts_by_dt(spark, str(landing)) == {"2024-01-01": 100}


def test_failed_curated_raises_after_landing_commits(spark, tmp_path):
    """An upsert without a primary key fails the curated side; the landing
    append still commits and the load raises the curated error."""
    landing = str(tmp_path / "landing")
    _write_gz_csv(tmp_path / "in" / "t_20240101.csv.gz", range(50))
    cfg = _cfg("nopk")
    cfg.primary_key = []
    cached_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="primary_key"):
        P.run_load(spark, cfg, str(tmp_path / "in"), landing, str(tmp_path / "curated"))
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_before
    assert _counts_by_dt(spark, landing) == {"2024-01-01": 50}
