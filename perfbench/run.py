"""Repository benchmark: two workloads through the package's public entry
points, one closed-loop process on ``local[N]`` with N = the usable cores.

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 14 --trace 0

Each run starts a session with ``session.get_spark``, runs ``WARM_PASSES``
untimed passes that warm the JVM (the first, for registry queries, verifies
every output), then times a fixed number of passes over the workload's
operation list: ``--seconds`` over the workload's nominal pass length, and at
least ``MIN_PASSES``. It prints readable ``perfbench ...`` lines, then one
JSON line with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of
``tracing.py`` with ``--trace 1``. ``README.md`` in this
directory describes every metric and workload.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import string  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Pass times keep falling until the third pass of a run while the JVM
# compiles, so two untimed passes come first. The number of timed passes comes
# from --seconds and a fixed nominal pass length, never from measured time, so
# a faster engine cannot earn extra (warmer, or on etl_upsert later-day) passes.
WARM_PASSES = 2
MIN_PASSES = 2
NOMINAL_PASS_S = {"etl_upsert": 6.0, "analytics_mix": 7.0}

# Registry workload: (scale-factor dir, operations). One pass runs a JVM-only
# star join, an Arrow/Python curation kernel and a micro-batch stream.
REGISTRY = {
    "analytics_mix": (
        "sf0.1",
        (
            "q02_revenue_by_nation",
            "d04_minhash_candidate_pairs",
            "st08_stream_cdc_upsert",
        ),
    ),
}
WORKLOADS = ("etl_upsert", *REGISTRY)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "rows_per_s": "rows/s",
}

# Per-operation layer counts the traced run prints (medians over passes).
OP_LAYER = (
    "plans.build_s",
    "plans.exec_s",
    "plans.jobs",
    "plans.broadcast_collect_s",
    "operators.python_s",
    "streaming.batches",
    "plans.scratch_leaked_entries",
    "pipeline.load_s",
    "sources.writers.curated_s",
)


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _run_dir() -> str:
    """A fresh per-run scratch root inside the checkout. Letters only: the
    pipeline takes ``dt`` from the first 8-digit run in a file's path."""
    base = os.path.join(HERE, ".scratch")
    os.makedirs(base, exist_ok=True)
    name = "".join(random.SystemRandom().choices(string.ascii_lowercase, k=12))
    path = os.path.join(base, f"run_{name}")
    for sub in ("tmp", "jvmtmp", "local", "lake"):
        os.makedirs(os.path.join(path, sub))
    return path


def _fixture_root() -> str:
    """Directory holding the ``sf*`` fixture tables: ``$PERFBENCH_DATA``, else
    the one the repository's TESTDATA.md names."""
    if os.environ.get("PERFBENCH_DATA"):
        return os.environ["PERFBENCH_DATA"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        found = re.search(r"`([^`]+)/sf0\.1/?`", f.read())
    if not found:
        raise RuntimeError("TESTDATA.md names no sf0.1 directory; set PERFBENCH_DATA")
    return found.group(1)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Measure:
    """Op and pass timings of one run, plus its attempted/failed counts."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_s: dict[str, list[float]] = {}
        self.pass_s: list[float] = []
        self.excluded_s = 0.0  # the benchmark's own work inside set-up

    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{op}: {why}")

    def run_op(self, op: str, call) -> float:
        """Run one operation under the tracer; returns its wall seconds. An
        operation that raises counts as failed and the run goes on."""
        self.tracer.op_start(op)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            call()
        except Exception as e:
            self.fail(op, f"{type(e).__name__}: {e}".splitlines()[0])
        secs = time.perf_counter() - t0
        self.tracer.op_end()
        return secs

    def warm_pass(self, ops: list[str], run) -> None:
        for op in ops:
            self.run_op(op, lambda: run(op))
        self.tracer.pass_end()

    def timed_pass(self, ops: list[str], run) -> None:
        total = 0.0
        for op in ops:
            secs = self.run_op(op, lambda: run(op))
            self.op_s.setdefault(op, []).append(secs)
            total += secs
        self.pass_s.append(total)
        self.tracer.pass_end()


class RegistryWorkload:
    """Runs ``queries()[name](spark, sf_dir)`` then a noop-sink write; the
    untimed pass collects instead and compares with the DuckDB oracle."""

    def __init__(self, spark, name: str, seed: int, m: Measure) -> None:
        from aws_data_engineering_spark.plans import registry

        sf, self.ops = REGISTRY[name]
        self.sf_dir = os.path.join(_fixture_root(), sf)
        self.spark = spark
        self.m = m
        self.rng = random.Random(seed)
        self.queries = registry.queries()
        self.oracle_sql = registry.oracle_sql()
        self.rows_per_pass = 0

    def _order(self) -> list[str]:
        ops = list(self.ops)
        self.rng.shuffle(ops)
        return ops

    def verify_pass(self) -> None:
        t0 = time.perf_counter()
        from perfbench.oracle import OracleCache, mismatch

        oracles = OracleCache(self.sf_dir, os.path.join(HERE, ".cache", "oracle"))
        self.m.excluded_s += time.perf_counter() - t0
        for op in self._order():
            self.m.attempted += 1
            try:
                df = self.queries[op](self.spark, self.sf_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as e:  # counts as failed; the op stays in the workload
                self.m.fail(op, f"{type(e).__name__}: {e}".splitlines()[0])
                continue
            self.rows_per_pass += len(rows)
            t0 = time.perf_counter()
            why = mismatch(cols, rows, oracles.expected(self.oracle_sql[op]))
            self.m.excluded_s += time.perf_counter() - t0
            if why:
                self.m.fail(op, why)
        self.m.tracer.pass_end()

    def _run(self, op: str) -> None:
        t0 = time.perf_counter()
        df = self.queries[op](self.spark, self.sf_dir)
        t1 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        self.m.tracer.add("plans.build_s", t1 - t0)
        self.m.tracer.add("plans.exec_s", time.perf_counter() - t1)

    def warm_pass(self) -> None:
        self.m.warm_pass(self._order(), self._run)

    def timed_pass(self) -> None:
        self.m.timed_pass(self._order(), self._run)

    def finish(self) -> None:
        pass


class EtlWorkload:
    """One day per pass: the base file, then the correction file, each by
    ``pipeline.run_load`` (landing append, curated upsert). The lake is
    checked once, after the last pass."""

    OPS = ("load_base", "load_correction")

    def __init__(self, spark, seed: int, m: Measure, lake_root: str) -> None:
        from aws_data_engineering_spark import pipeline
        from perfbench.etl import Lake

        if re.search(r"\d{8}", lake_root):
            raise RuntimeError(
                f"scratch path {lake_root!r} has an 8-digit run; the "
                "pipeline would read dt from it instead of the file name"
            )
        self.spark = spark
        self.m = m
        self.pipeline = pipeline
        t0 = time.perf_counter()
        self.lake = Lake(os.path.join(_fixture_root(), "sf0.1"), lake_root, seed)
        self.m.excluded_s += time.perf_counter() - t0
        self.config = pipeline.TableConfig.from_file(self.lake.config_path)
        self.rows_per_pass = 0
        self._files: dict[str, str] = {}

    def _deliver(self) -> None:
        """Write the next day's files (untimed: input generation)."""
        t0 = time.perf_counter()
        _, paths = self.lake.next_day()
        self.m.excluded_s += time.perf_counter() - t0
        self._files = dict(zip(self.OPS, paths))
        self.rows_per_pass = self.lake.rows_delivered // self.lake.days

    def _run(self, op: str) -> None:
        t0 = time.perf_counter()
        self.pipeline.run_load(
            self.spark, self.config, self._files[op], self.lake.landing, self.lake.curated
        )
        self.m.tracer.add("pipeline.load_s", time.perf_counter() - t0)

    def warm_pass(self) -> None:
        self._deliver()
        self.m.warm_pass(list(self.OPS), self._run)

    verify_pass = warm_pass  # the lake is checked once, in finish()

    def timed_pass(self) -> None:
        self._deliver()
        self.m.timed_pass(list(self.OPS), self._run)

    def finish(self) -> None:
        """Check every delivered day's curated and landing rows."""
        self.stored_ratio = self.lake.stored_bytes() / self.lake.csv_bytes_delivered
        for dt_value, why in self._mismatches():
            for op in self.OPS:
                self.m.fail(op, f"{dt_value}: {why}")

    def _mismatches(self) -> list[tuple[str, str]]:
        from perfbench.etl import COLUMNS, row_digest

        cols = [*COLUMNS, "dt", "updt_nm", "cret_nm"]
        try:
            curated = self.spark.read.parquet(self.lake.curated).select(*cols).collect()
            landed = dict(
                self.spark.read.parquet(self.lake.landing).groupBy("dt").count().collect()
            )
        except Exception as e:  # a lake that cannot be read back fails every day
            return [("all days", f"read-back failed: {type(e).__name__}: {e}")]
        by_dt: dict[str, list[tuple]] = {}
        for r in curated:
            by_dt.setdefault(r["dt"], []).append(tuple(r))
        out = []
        for dt_value in sorted(set(self.lake.landing_rows) | set(by_dt) | set(landed)):
            got = row_digest(by_dt.get(dt_value, []))
            want = self.lake.expected_digest(dt_value)
            if got != want:
                out.append((dt_value, f"curated (rows, hash) {got} != expected {want}"))
            elif landed.get(dt_value) != self.lake.landing_rows.get(dt_value):
                out.append(
                    (
                        dt_value,
                        f"landing rows {landed.get(dt_value)} != "
                        f"{self.lake.landing_rows.get(dt_value)}",
                    )
                )
        return out


def _wrap_write_curated(tracer):
    """Time each ``write_curated`` call ``run_load`` makes by wrapping the
    name in the pipeline module; returns the undo callable."""
    from aws_data_engineering_spark import pipeline

    original = pipeline.write_curated

    def traced(*args, **kwargs):
        with tracer.writer_call():
            return original(*args, **kwargs)

    pipeline.write_curated = traced

    def undo():
        pipeline.write_curated = original

    return undo


def _stop_jvm(gateway) -> None:
    """End the driver JVM (and the Python workers it forked) and wait."""
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be gone; the wait decides
        pass
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()


def run(args, run_dir: str) -> tuple[Measure, dict]:
    from aws_data_engineering_spark import pipeline  # noqa: F401 (sets up its logger)
    from aws_data_engineering_spark.session import get_spark
    from perfbench import tracing

    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    jvm_tmp = os.path.join(run_dir, "jvmtmp")
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData"
        },
    )
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    logging.getLogger("aws_data_engineering_spark").setLevel(logging.WARNING)
    gateway = spark.sparkContext._gateway
    tracer = (
        tracing.Tracer(spark, os.path.join(run_dir, "tmp"))
        if args.trace
        else tracing.NullTracer()
    )
    m = Measure(tracer)
    undo = _wrap_write_curated(tracer) if args.trace else None
    try:
        if args.workload == "etl_upsert":
            w = EtlWorkload(spark, args.seed, m, os.path.join(run_dir, "lake"))
        else:
            w = RegistryWorkload(spark, args.workload, args.seed, m)
        w.verify_pass()
        for _ in range(WARM_PASSES - 1):
            w.warm_pass()
        setup_s = time.perf_counter() - _T_PROCESS - m.excluded_s

        passes = max(MIN_PASSES, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        for _ in range(passes):
            w.timed_pass()
        w.finish()

        rss_mb = (_vm_hwm_kb(gateway.proc.pid) + _vm_hwm_kb("self")) / 1024
        pass_s = statistics.median(m.pass_s)
        medians = [statistics.median(v) for v in m.op_s.values()]
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "op_geomean_s": math.exp(statistics.fmean(math.log(v) for v in medians)),
            "rows_per_s": w.rows_per_pass / pass_s,
        }
        # Printed by name but not gated: too noisy between runs, or defined
        # on one workload only (see README.md).
        op_p50 = statistics.median(t for v in m.op_s.values() for t in v)
        extra = {
            "peak_rss_mb": (rss_mb, "MB"),
            "fail_frac": (m.failed / m.attempted, "ratio"),
        }
        if isinstance(w, EtlWorkload):
            extra["load_s_p50"] = (op_p50, "s")
            extra["stored_bytes_per_input_byte"] = (w.stored_ratio, "ratio")
        else:
            extra["op_s_p50"] = (op_p50, "s")
        layer, op_layer = {}, {}
        if tracer.enabled:
            tracer.fixed["session.start_s"] = start_s
            tracer.fixed["session.peak_rss_mb"] = rss_mb
            tracer.fixed["sources.writers.stored_bytes_per_input_byte"] = getattr(
                w, "stored_ratio", 0.0
            )
            layer = tracer.report(measure_from=WARM_PASSES)
            op_layer = tracer.op_report(WARM_PASSES, OP_LAYER)
        return m, {"metrics": metrics, "extra": extra, "layer": layer, "op_layer": op_layer}
    finally:
        if undo:
            undo()
        try:
            spark.stop()
        finally:
            _stop_jvm(gateway)


def main(argv=None) -> int:
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "aws_data_engineering_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # import perfbench.* and the engine from the checkout

    run_dir = _run_dir()
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        m, out = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        f"attempted={m.attempted} failed={m.failed}"
    )
    for f in m.failures:
        print(f"perfbench failed {f}")
    print("perfbench passes_s " + " ".join(f"{v:.4f}" for v in m.pass_s))
    for op, v in sorted(m.op_s.items()):
        print(f"perfbench op {op} s " + " ".join(f"{t:.4f}" for t in v))
    for op, vals in sorted(out["op_layer"].items()):
        cells = " ".join(f"{k}={v:.4g}" for k, v in vals.items())
        print(f"perfbench layer {op} {cells}")
    metrics = out["metrics"]
    for name, unit in END_TO_END.items():
        print(f"perfbench metric {name} {metrics[name]:.6g} {unit}")
    for name, (value, unit) in out["extra"].items():
        print(f"perfbench metric {name} {value:.6g} {unit}")

    from perfbench.tracing import PER_LAYER

    if args.trace:
        reported = {
            name: {"value": out["layer"][name], "unit": unit}
            for name, (unit, _) in PER_LAYER.items()
        }
    else:
        reported = {
            name: {"value": metrics[name], "unit": unit}
            for name, unit in END_TO_END.items()
        }
    result = {
        "correct": m.failed == 0,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": reported,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
