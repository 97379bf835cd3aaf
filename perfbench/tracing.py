"""Per-layer tracing for the traced run (``--trace 1``).

Spans are taken in the benchmark's own files, around the calls it makes into
each layer. Counts come from Spark's status stores (jobs, stages, SQL plan
metrics) and from a ``StreamingQueryListener`` this module registers. The
engine is not modified. ``NullTracer`` is what an untraced run uses: every
hook does nothing.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# name -> (unit, better); the order is the order of the report.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.exec_s": ("s", "lower"),
    "plans.jobs": ("count", "lower"),
    "plans.broadcast_collect_s": ("s", "lower"),
    "plans.shuffle_write_bytes": ("bytes", "lower"),
    "plans.spill_bytes": ("bytes", "lower"),
    "plans.scratch_leaked_entries": ("count", "lower"),
    "sources.scan_bytes": ("bytes", "lower"),
    "sources.writers.landing_s": ("s", "lower"),
    "sources.writers.curated_s": ("s", "lower"),
    "sources.writers.bytes_written": ("bytes", "lower"),
    "sources.writers.jobs": ("count", "lower"),
    "sources.writers.stored_bytes_per_input_byte": ("ratio", "lower"),
    "operators.python_s": ("s", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.trigger_s_p50": ("s", "lower"),
    "streaming.commit_s": ("s", "lower"),
    "pipeline.load_s": ("s", "lower"),
    "pipeline.self_s": ("s", "lower"),
}
# Reported per operation (or per load) instead of per pass.
_PER_OP = ("plans.jobs", "streaming.batches", "streaming.commit_s")

_BROADCAST_METRIC = "time to collect"
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _metric_seconds(text: str) -> float:
    """Seconds in a formatted SQL timing metric: ``"270 ms"``, ``"1.5 s"`` or
    ``"total (min, med, max (...))\\n93 ms (18 ms, ...)"``."""
    value, unit = text.split("\n")[-1].split(" (")[0].split()
    return float(value.replace(",", "")) * _UNITS[unit]


def _scratch_entries(root: str) -> set[str]:
    out = set()
    for dirpath, dirs, files in os.walk(root):
        out.update(os.path.join(dirpath, n) for n in dirs + files)
    return out


def _descendants_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) of every live descendant of ``root_pid``,
    plus what each has collected from its exited children. Under a local
    master these are the Python worker daemon and the workers it forks."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        # fields[1] is ppid; [11:15] are utime, stime, cutime, cstime
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        total += stats[pid][1]
        todo.extend(children.get(pid, []))
    return total * _TICK_S


class _StreamListener(StreamingQueryListener):
    """Collects per-batch durations; the tracer drains it per operation."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.batches.append(dict(event.progress.durationMs))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class NullTracer:
    enabled = False

    def op_start(self, name: str) -> None:
        pass

    def op_end(self) -> None:
        pass

    def pass_end(self) -> None:
        pass

    def add(self, name: str, value: float) -> None:
        pass

    @contextmanager
    def writer_call(self):
        yield


class Tracer(NullTracer):
    """Records each operation's counts, keyed by the pass it ran in.

    ``pass_end`` closes a pass; ``report`` summarizes the passes from
    ``measure_from`` on (the timed ones).
    """

    enabled = True

    def __init__(self, spark, scratch_root: str) -> None:
        self._sc = spark.sparkContext
        self._jvm_pid = self._sc._gateway.proc.pid
        jsc = self._sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._acc = self._sc._jvm.org.apache.spark.util.AccumulatorContext
        self._no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        self._listener = _StreamListener()
        spark.streams.addListener(self._listener)
        self._scratch = scratch_root
        self._pass = 0
        self._op = None
        self._vals: dict[str, float] = {}
        self._writer_jobs: list[tuple[int, int]] = []
        self._writer_calls = 0
        # (pass index, op name, counts) per operation, and per-batch
        # triggerExecution seconds with their pass index
        self.op_log: list[tuple[int, str, dict[str, float]]] = []
        self.triggers: list[tuple[int, float]] = []
        self.fixed: dict[str, float] = {}

    def op_start(self, name: str) -> None:
        self._sc.setJobGroup(f"perfbench:{name}", name)
        self._vals = {}
        self._op = (
            name,
            self._dag.numTotalJobs(),
            self._sql.executionsCount(),
            _scratch_entries(self._scratch),
            _descendants_cpu_s(self._jvm_pid),
        )
        self._listener.batches.clear()

    def op_end(self) -> None:
        name, first_job, first_exec, scratch_before, python_before = self._op
        self._bus.waitUntilEmpty()  # status stores and listener are complete
        jobs = range(first_job, self._dag.numTotalJobs())
        stages = self._stages(jobs)
        self.add("plans.jobs", len(jobs))
        self.add("plans.shuffle_write_bytes", sum(s.shuffleWriteBytes() for s in stages))
        self.add("plans.spill_bytes", sum(s.diskBytesSpilled() for s in stages))
        self.add("sources.scan_bytes", sum(s.inputBytes() for s in stages))
        self.add("plans.broadcast_collect_s", self._broadcast_collect_s(first_exec))
        self.add("operators.python_s", _descendants_cpu_s(self._jvm_pid) - python_before)
        leaked = _scratch_entries(self._scratch) - scratch_before
        self.add("plans.scratch_leaked_entries", len(leaked))

        batches = list(self._listener.batches)
        self.add("streaming.batches", len(batches))
        self.add(
            "streaming.commit_s",
            sum(b.get("walCommit", 0) + b.get("commitOffsets", 0) for b in batches) / 1e3,
        )
        self.triggers.extend(
            (self._pass, b.get("triggerExecution", 0) / 1e3) for b in batches
        )
        if self._writer_jobs:
            w_jobs = [j for a, b in self._writer_jobs for j in range(a, b)]
            self.add("sources.writers.jobs", len(w_jobs))
            self.add(
                "sources.writers.bytes_written",
                sum(s.outputBytes() for s in self._stages(w_jobs)),
            )
            self._writer_jobs.clear()
        self.op_log.append((self._pass, name, self._vals))
        self._op = None

    def pass_end(self) -> None:
        self._pass += 1

    def add(self, name: str, value: float) -> None:
        self._vals[name] = self._vals.get(name, 0.0) + value

    @contextmanager
    def writer_call(self):
        """Span around one ``write_curated`` call: landing first, then
        curated, alternating within each ``run_load``."""
        first_job = self._dag.numTotalJobs()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            zone = "landing" if self._writer_calls % 2 == 0 else "curated"
            self._writer_calls += 1
            self.add(f"sources.writers.{zone}_s", time.perf_counter() - t0)
            self._writer_jobs.append((first_job, self._dag.numTotalJobs()))

    def _stages(self, jobs) -> list:
        """Stage data (every attempt) of the given job ids."""
        seen: dict[int, list] = {}
        for j in jobs:
            ids = self._store.job(j).stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
                seen[sid] = [attempts.apply(a) for a in range(attempts.size())]
        return [s for attempts in seen.values() for s in attempts]

    def _broadcast_collect_s(self, first_exec: int) -> float:
        """Sum of BroadcastExchange "time to collect" over the SQL executions
        an operation started. A metric whose execution never saw its updates
        (a lazily checkpointed plan runs under a later execution) is read
        from the live accumulator instead."""
        per_acc: dict[int, float] = {}
        execs = self._sql.executionsList(first_exec, 1 << 30)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if node.name() != "BroadcastExchange":
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() != _BROADCAST_METRIC:
                        continue
                    acc_id = metric.accumulatorId()
                    text = values.get(acc_id)
                    if text.isDefined():
                        sec = _metric_seconds(text.get())
                    else:
                        live = self._acc.get(acc_id)
                        sec = live.get().value() / 1e3 if live.isDefined() else 0.0
                    # one accumulator can appear in several executions' plans
                    per_acc[acc_id] = max(per_acc.get(acc_id, 0.0), sec)
        return sum(per_acc.values())

    def _timed(self, measure_from: int):
        return [(i, op, v) for i, op, v in self.op_log if i >= measure_from]

    def report(self, measure_from: int) -> dict[str, float]:
        """Each per-layer metric over the passes from ``measure_from`` on:
        the median per-pass total, or the mean per operation (per load for
        ``sources.writers.jobs``)."""
        timed = self._timed(measure_from)
        passes: dict[int, dict[str, float]] = {}
        for i, _, vals in timed:
            tot = passes.setdefault(i, {})
            for k, v in vals.items():
                tot[k] = tot.get(k, 0.0) + v
        for tot in passes.values():
            tot["pipeline.self_s"] = (
                tot.get("pipeline.load_s", 0.0)
                - tot.get("sources.writers.landing_s", 0.0)
                - tot.get("sources.writers.curated_s", 0.0)
            )
        out = {
            name: statistics.median(p.get(name, 0.0) for p in passes.values())
            for name in PER_LAYER
        }
        for name in _PER_OP:
            out[name] = sum(v.get(name, 0.0) for _, _, v in timed) / len(timed)
        loads = sum(1 for _, _, v in timed if "pipeline.load_s" in v)
        out["sources.writers.jobs"] = (
            sum(v.get("sources.writers.jobs", 0.0) for _, _, v in timed) / loads
            if loads
            else 0.0
        )
        trig = [t for i, t in self.triggers if i >= measure_from]
        out["streaming.trigger_s_p50"] = statistics.median(trig) if trig else 0.0
        out.update(self.fixed)
        return out

    def op_report(self, measure_from: int, names: tuple[str, ...]) -> dict[str, dict]:
        """Per operation, the median over timed passes of each named count."""
        by_op: dict[str, list[dict]] = {}
        for _, op, vals in self._timed(measure_from):
            by_op.setdefault(op, []).append(vals)
        return {
            op: {n: statistics.median(v.get(n, 0.0) for v in runs) for n in names}
            for op, runs in by_op.items()
        }
