"""Per-layer capture around each gate, from Spark's own reporting surfaces.

A gate's wall time splits into four layers (ROADMAP aim 1):

- ``plans.ctor_*``: the gate constructor, minus the analysis of the
  DataFrame it returns, and the jobs started before it returns;
- ``catalyst.*``: analysis of the returned DataFrame, then optimization
  and physical planning of the noop write, read from each
  ``QueryExecution``'s ``QueryPlanningTracker``, and the nodes and
  exchanges of the executed plan from the SQL status REST API;
- ``exec.*``: the noop write's SQL execution as Spark timed it (its
  duration in the SQL status REST API) minus its optimization and
  planning, which run inside it, with the jobs, stages, tasks, shuffle and
  spill of its execution from the status REST API. The duration comes
  from Spark's own clock, so the layers of a gate add up to its wall time
  only if each is attributed right;
- ``streaming.*``: every micro-batch trigger, from a
  ``StreamingQueryListener`` registered by the benchmark. Micro-batch jobs
  run on the stream's own thread, so triggers are collected by listener
  and jobs by job-id range, never by job group.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener


class TriggerLog(StreamingQueryListener):
    """Collects the progress of every micro-batch in the session."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self._progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self) -> list[dict]:
        with self._lock:
            out, self._progress = self._progress, []
        return out


def trigger_stats(progress: list[dict]) -> dict:
    """Per-gate streaming counts: triggers, trigger seconds, input rows, and
    the state each query held when it finished."""
    last: dict[str, dict] = {}
    mem: dict[str, int] = {}
    for p in progress:
        ops = p.get("stateOperators") or []
        last[p["runId"]] = p
        used = sum(op.get("memoryUsedBytes", 0) for op in ops)
        mem[p["runId"]] = max(mem.get(p["runId"], 0), used)
    return {
        "streaming.triggers": len(progress),
        "streaming.trigger_s": sum(
            p["durationMs"].get("triggerExecution", 0) for p in progress
        )
        / 1000.0,
        "streaming.input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "streaming.state_rows": sum(
            op.get("numRowsTotal", 0)
            for p in last.values()
            for op in p.get("stateOperators") or []
        ),
        "streaming.state_mem_bytes": sum(mem.values()),
    }


class PhaseLog:
    """``QueryExecutionListener`` implemented through the py4j callback
    server: records the planning phases of every finished query."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[tuple[str, dict]] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        phases = _phases(qe)
        with self._lock:
            self._events.append((func_name, phases))

    def onFailure(self, func_name, qe, exception) -> None:
        pass

    def drain(self) -> list[tuple[str, dict]]:
        with self._lock:
            out, self._events = self._events, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _phases(qe) -> dict[str, float]:
    """``{phase: seconds}`` from a JVM QueryExecution's planning tracker."""
    ph = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = ph.get(name)
        if opt.isDefined():
            out[name] = opt.get().durationMs() / 1000.0
    return out


class StatusRest:
    """The driver UI's status REST API, reached on the loopback address."""

    def __init__(self, sc) -> None:
        if sc.uiWebUrl is None:
            raise RuntimeError("tracing needs spark.ui.enabled=true")
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self._base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as r:
            return json.load(r)


class GateTracer:
    """Brackets one gate: call ``begin``, then ``after_ctor`` with the
    returned DataFrame, then ``end`` once the write has finished. Only
    ``after_ctor`` runs inside the gate's wall time, and it makes one py4j
    call; the REST reads happen before and after the gate. The listeners
    are registered between ``attach`` and ``detach`` only."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self._spark = spark
        self._bus = sc._jsc.sc().listenerBus()
        self._rest = StatusRest(sc)
        self._phase_log = PhaseLog()
        self._trigger_log = TriggerLog()

    def attach(self) -> None:
        self._spark._jsparkSession.listenerManager().register(self._phase_log)
        self._spark.streams.addListener(self._trigger_log)

    def detach(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self._phase_log)
        self._spark.streams.removeListener(self._trigger_log)

    def _jobs_after(self, job_id: int) -> list[dict]:
        self._bus.waitUntilEmpty()
        return [j for j in self._rest.get("jobs") if j["jobId"] > job_id]

    def begin(self) -> None:
        self._phase_log.drain()
        self._trigger_log.drain()
        self._j0 = max((j["jobId"] for j in self._jobs_after(-1)), default=-1)

    def after_ctor(self, df) -> None:
        self._analysis = _phases(df._jdf.queryExecution()).get("analysis", 0.0)

    def end(self, ctor_wall: float) -> tuple[dict, list[dict]]:
        """The gate's layers and the progress of its micro-batches."""
        jobs = self._jobs_after(self._j0)
        triggers = self._trigger_log.drain()
        writes = [p for f, p in self._phase_log.drain() if f in ("save", "overwrite")]
        if not writes:
            raise RuntimeError("no QueryExecutionListener event for the noop write")
        opt = writes[-1].get("optimization", 0.0)
        plan = writes[-1].get("planning", 0.0)
        # the write is the gate's last SQL execution: its jobs are the
        # execution layer, every earlier job belongs to the constructor
        roots = {j["jobId"]: _root_execution(j) for j in jobs}
        write_root = max((r for r in roots.values() if r is not None), default=None)
        if write_root is None:
            raise RuntimeError("no SQL execution found for the noop write")
        exec_jobs = [j for j in jobs if roots[j["jobId"]] == write_root]
        shuffle = spill = 0
        for sid in sorted({s for j in exec_jobs for s in j["stageIds"]}):
            for attempt in self._rest.get(f"stages/{sid}"):
                shuffle += attempt.get("shuffleWriteBytes", 0)
                spill += attempt.get("diskBytesSpilled", 0)
        sql = self._rest.get(f"sql/{write_root}?details=true&planDescription=false")
        nodes = [n["nodeName"] for n in sql["nodes"]]
        layers = {
            "plans.ctor_s": ctor_wall - self._analysis,
            "plans.ctor_jobs": len(jobs) - len(exec_jobs),
            "catalyst.analysis_s": self._analysis,
            "catalyst.optimization_s": opt,
            "catalyst.planning_s": plan,
            "catalyst.plan_nodes": sum(
                not n.startswith("WholeStageCodegen") for n in nodes
            ),
            "catalyst.exchanges": sum(
                n.endswith("Exchange") and not n.startswith("Reused")
                for n in nodes
            ),
            "exec.exec_s": sql["duration"] / 1000.0 - opt - plan,
            "exec.jobs": len(exec_jobs),
            "exec.stages": sum(j["numCompletedStages"] for j in exec_jobs),
            "exec.tasks": sum(j["numCompletedTasks"] for j in exec_jobs),
            "exec.failed_tasks": sum(j["numFailedTasks"] for j in exec_jobs),
            "exec.shuffle_write_bytes": shuffle,
            "exec.spill_bytes": spill,
        }
        layers.update(trigger_stats(triggers))
        return layers, triggers


def _root_execution(job: dict) -> int | None:
    """Id of the root SQL execution that started a job, from its tags."""
    for tag in job.get("jobTags", []):
        head, sep, tail = tag.rpartition("-execution-root-id-")
        if sep:
            return int(tail)
    return None
