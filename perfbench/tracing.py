"""Per-layer tracing from outside the program.

Spans are recorded by the benchmark around its calls into the program
(build = the ``QUERIES[name]``/``api.sql`` call, action = ``toPandas``)
and read back from Spark's own records: a job group per op, the
``QueryExecution`` phase tracker, the status store's job and stage
data, and the JVM's GC and heap beans. Spark-side records are read
once, after the timed window, so the window itself pays only for the
job-group tag and one phase-tracker read per op.

Per op, the wall ``[start, end]`` is split into exclusive parts, in
this priority: stage spans, Catalyst phases, build (the Python/Py4J
plan construction not already covered), outside-stage (from the end of
the action's Catalyst phases, or its first job if earlier, to the end
of the action: scheduling, broadcast builds, AQE re-plans, the Arrow
fetch). What none of these cover, over the whole traced window, is
``unattributed``: the hand-off from build to the action's first phase,
and the harness's own time between ops.
"""

from __future__ import annotations

import statistics


def union_ms(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def length(intervals: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in union_ms(intervals))


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def minus(cover: list[tuple[float, float]], taken: list[tuple[float, float]]) -> float:
    """Length of ``cover`` not overlapped by ``taken``."""
    return length(cover + taken) - length(taken)


def p50(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return float(values[0]) if values else 0.0
    return float(statistics.quantiles(values, n=10, method="inclusive")[-1])


class Tracer:
    """Spans and counts for one traced run; ``spans`` is written out
    as JSON lines when the run ends."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._gc0 = self.gc_ms()

    def span(self, name: str, start: float, end: float, parent: str | None,
             op_id: str | None, **attrs) -> None:
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "op": op_id, **attrs})

    # -- per-op recording (inside the timed window) ------------------------

    def begin(self, op_id: str, name: str) -> None:
        self.sc.setJobGroup(f"perfbench-{op_id}", name)

    def end(self, op_id: str, name: str, df, t0: float, t1: float, t2: float,
            rows: int, plan_cache_miss: bool | None) -> None:
        phases = {}
        jmap = df._jdf.queryExecution().tracker().phases()
        for phase in ("parsing", "analysis", "optimization", "planning"):
            opt = jmap.get(phase)
            if opt.isDefined():
                s = opt.get()
                phases[phase] = (float(s.startTimeMs()), float(s.endTimeMs()))
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.ops.append({"op": op_id, "name": name, "t0": t0 * 1e3, "t1": t1 * 1e3,
                         "t2": t2 * 1e3, "rows": rows, "phases": phases,
                         "plan_cache_miss": plan_cache_miss})

    # -- after the window ---------------------------------------------------

    def gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def heap_used_mb(self) -> float:
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mx.getHeapMemoryUsage().getUsed() / 2**20

    def _stage_records(self, op_id: str) -> tuple[list[dict], list[dict]]:
        from py4j.protocol import Py4JError

        jsc = self.sc._jsc.sc()
        store = jsc.statusStore()
        jobs, stages = [], []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{op_id}"):
            try:
                jd = store.job(job_id)
            except Py4JError:  # evicted from the store
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            jobs.append({"id": job_id, "start": float(sub.get().getTime()),
                         "end": float(done.get().getTime())})
            ids = jd.stageIds()
            for i in range(ids.size()):
                try:
                    sd = store.lastStageAttempt(ids.apply(i))
                except Py4JError:  # evicted from the store
                    continue
                s_sub, s_done = sd.submissionTime(), sd.completionTime()
                if str(sd.status()) == "SKIPPED" or not (s_sub.isDefined() and s_done.isDefined()):
                    continue
                stages.append({
                    "id": sd.stageId(), "job": job_id,
                    "start": float(s_sub.get().getTime()),
                    "end": float(s_done.get().getTime()),
                    "tasks": sd.numTasks(),
                    "run_ms": float(sd.executorRunTime()),
                    "cpu_ms": sd.executorCpuTime() / 1e6,
                    "input_bytes": sd.inputBytes(),
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.diskBytesSpilled(),
                })
        return jobs, stages

    def summarize(self, untraced_ops_per_s: float, traced_ops_per_s: float,
                  window_s: float) -> dict[str, float]:
        """Read Spark's records for every op and reduce them to the
        per-layer metrics: means per query call, so the parts add up,
        except the build time (median and p90).
        The two rates give ``trace.overhead_frac``; ``unattributed``
        counts the traced window's wall outside every op's covered parts,
        the harness's time between ops included."""
        # The status store is fed asynchronously; drain the listener bus
        # so the last op's jobs and stages are in it.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        par = self.sc.defaultParallelism
        per: dict[str, list[float]] = {k: [] for k in (
            "build", "analysis", "optimization", "planning", "outside",
            "stage_span", "run", "cpu", "shuffle_r", "shuffle_w", "spill", "input",
            "rows", "jobs", "stages", "tasks", "covered")}
        misses = []
        for op in self.ops:
            t0, t1, t2 = op["t0"], op["t1"], op["t2"]
            jobs, stages = self._stage_records(op["op"])
            st = clip([(s["start"], s["end"]) for s in stages], t0, t2)
            cat = clip(list(op["phases"].values()), t0, t2)
            build = [(t0, t1)]
            # The action's own driver work starts when its last Catalyst
            # phase ends, or at its first job if that comes earlier.
            action_cat = [b for a, b in cat if b > t1]
            driver_start = min([j["start"] for j in jobs] + [max(action_cat, default=t2)])
            outside = [(min(max(t1, driver_start), t2), t2)]
            covered = length(st + cat + build + outside)
            per["build"].append(t1 - t0)
            for ph in ("analysis", "optimization", "planning"):
                a, b = op["phases"].get(ph, (0.0, 0.0))
                per[ph].append(b - a)
            per["outside"].append(minus(outside, st + cat + build))
            per["stage_span"].append(length(st))
            per["run"].append(sum(s["run_ms"] for s in stages))
            per["cpu"].append(sum(s["cpu_ms"] for s in stages))
            per["shuffle_r"].append(sum(s["shuffle_read_bytes"] for s in stages))
            per["shuffle_w"].append(sum(s["shuffle_write_bytes"] for s in stages))
            per["spill"].append(sum(s["spill_bytes"] for s in stages))
            per["input"].append(sum(s["input_bytes"] for s in stages))
            per["rows"].append(op["rows"])
            per["jobs"].append(len(jobs))
            per["stages"].append(len(stages))
            per["tasks"].append(sum(s["tasks"] for s in stages))
            per["covered"].append(covered)
            if op["plan_cache_miss"] is not None:
                misses.append(1.0 if op["plan_cache_miss"] else 0.0)
            self.span("op", t0 / 1e3, t2 / 1e3, None, op["op"], query=op["name"], rows=op["rows"])
            self.span("build", t0 / 1e3, t1 / 1e3, "op", op["op"])
            for ph, (a, b) in op["phases"].items():
                self.span(f"catalyst.{ph}", a / 1e3, b / 1e3, "op", op["op"])
            for j in jobs:
                self.span("job", j["start"] / 1e3, j["end"] / 1e3, "op", op["op"], job=j["id"])
            for s in stages:
                self.span("stage", s["start"] / 1e3, s["end"] / 1e3, f"job:{s['job']}", op["op"],
                          **{k: v for k, v in s.items() if k not in ("start", "end")})
        n = max(1, len(self.ops))

        def mean(key: str) -> float:
            return sum(per[key]) / n

        span_total = sum(per["stage_span"])
        return {
            "registry.build_ms": p50(per["build"]),
            "registry.build_p90_ms": p90(per["build"]),
            "registry.plan_cache_miss_frac": sum(misses) / len(misses) if misses else 0.0,
            "catalyst.analysis_ms": mean("analysis"),
            "catalyst.optimization_ms": mean("optimization"),
            "catalyst.planning_ms": mean("planning"),
            "exec.jobs_per_op": mean("jobs"),
            "exec.stages_per_op": mean("stages"),
            "exec.tasks_per_op": mean("tasks"),
            "exec.outside_stage_ms": mean("outside"),
            "exec.stage_span_ms": mean("stage_span"),
            "exec.executor_run_ms": mean("run"),
            "exec.executor_cpu_ms": mean("cpu"),
            "exec.core_busy_frac": sum(per["run"]) / (span_total * par) if span_total else 0.0,
            "exec.shuffle_read_bytes": mean("shuffle_r"),
            "exec.shuffle_write_bytes": mean("shuffle_w"),
            "exec.spill_bytes": mean("spill"),
            "exec.input_bytes": mean("input"),
            "exec.rows_out": mean("rows"),
            "jvm.gc_ms": self.gc_ms() - self._gc0,
            "jvm.heap_used_mb_end": self.heap_used_mb(),
            "spark.persisted_rdds_end": float(self.sc._jsc.getPersistentRDDs().size()),
            "trace.unattributed_frac": 1.0 - sum(per["covered"]) / (window_s * 1e3),
            "trace.overhead_frac": (untraced_ops_per_s / traced_ops_per_s - 1.0)
            if traced_ops_per_s else 0.0,
        }
