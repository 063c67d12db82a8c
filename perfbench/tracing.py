"""Spans and Spark status-store rollups for the traced run.

Spans are recorded by the benchmark around its calls into the program's
modules; nothing inside the program is changed.  Calls the program makes
between its own modules (``io.load_table`` from a query, the artifact
writer from ``serve``) are reached by swapping the module attribute for a
timing wrapper for the length of the traced run (:func:`patched`).

The status-store readers go through py4j to the JVM's AppStatusStore and
SQLAppStatusStore.  Any failure raises :class:`MeasurementError`; a failed
read is a failed measurement, never a zero.
"""

from __future__ import annotations

import contextlib
import re
import time
from dataclasses import dataclass, field


class MeasurementError(RuntimeError):
    """A layer metric could not be read."""


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: str  # id shared by every span of one query or serve op
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name, op or (parent.op if parent else ""), time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return timed

    def self_times(self, ops: set[str]) -> dict[str, dict[str, float]]:
        """Per op in ``ops``: total self time (duration minus child spans)
        by span name."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, dict[str, float]] = {op: {} for op in ops}
        for s in self.spans:
            if s.op in ops:
                out[s.op][s.name] = out[s.op].get(s.name, 0.0) + s.end - s.start - child.get(s.id, 0.0)
        return out

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, str]], tracer: Tracer):
    """Wrap ``module.attr`` in a span named ``name`` for each
    ``(module, attr, name)``; a dict attribute of callables (a registry)
    gets each value wrapped.  The originals are restored on exit."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
    try:
        for m, a, name in targets:
            fn = getattr(m, a)
            if isinstance(fn, dict):
                setattr(m, a, {k: tracer.wrap(name, f) for k, f in fn.items()})
            else:
                setattr(m, a, tracer.wrap(name, fn))
        yield
    finally:
        for m, a, fn in saved:
            setattr(m, a, fn)


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(option):
    return option.get() if option.isDefined() else None


ROLLUP_KEYS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
               "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_write_records",
               "shuffle_read_records", "spill_bytes")


def job_rollups(spark, groups: set[str]) -> tuple[dict[str, dict[str, float]], set[int]]:
    """Per job group in ``groups``: jobs, stages, tasks, executor time and
    bytes, from the AppStatusStore; plus the ids of all those jobs.  A stage
    shared by two jobs counts once; skipped stages did no work and count
    not at all."""
    sc = spark.sparkContext
    try:
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = {g: dict.fromkeys(ROLLUP_KEYS, 0.0) for g in groups}
        stages: dict[str, set[int]] = {g: set() for g in groups}
        job_ids = set()
        for j in _iter(store.jobsList(None)):
            g = _opt(j.jobGroup())
            if g in out:
                out[g]["jobs"] += 1
                job_ids.add(j.jobId())
                stages[g].update(_iter(j.stageIds()))
        for g, sids in stages.items():
            r = out[g]
            for sid in sorted(sids):
                st = store.lastStageAttempt(sid)
                status = st.status().toString()
                if status == "SKIPPED":
                    continue
                if status != "COMPLETE":
                    raise MeasurementError(f"stage {sid} is {status}")
                r["stages"] += 1
                r["tasks"] += st.numCompleteTasks()
                r["run_s"] += st.executorRunTime() / 1e3
                r["cpu_s"] += st.executorCpuTime() / 1e9
                r["gc_s"] += st.jvmGcTime() / 1e3
                r["input_bytes"] += st.inputBytes()
                r["shuffle_write_bytes"] += st.shuffleWriteBytes()
                r["shuffle_read_bytes"] += st.shuffleReadBytes()
                r["shuffle_write_records"] += st.shuffleWriteRecords()
                r["shuffle_read_records"] += st.shuffleReadRecords()
                r["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    except MeasurementError:
        raise
    except Exception as e:  # py4j errors carry the JVM stack; keep the message
        raise MeasurementError(f"AppStatusStore read failed: {type(e).__name__}: {e}") from e
    missing = [g for g, r in out.items() if not r["jobs"]]
    if missing:
        raise MeasurementError(f"no jobs recorded for job groups {sorted(missing)[:3]}")
    return out, job_ids


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([0-9.,]+) (B|KiB|MiB|GiB|TiB)")
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_ROWS = "number of output rows"


def _size(text: str) -> float:
    """Total of a formatted size metric: the single value, or the first
    value of the 'total (min, med, max ...)' line.  Spark formats sizes to
    one decimal of their unit, so this keeps 3-4 significant digits."""
    m = _SIZE.search(text.splitlines()[-1])
    if m is None:
        raise MeasurementError(f"unparsable size metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def python_rollup(spark, job_ids: set[int]) -> dict[str, float]:
    """Rows and bytes that crossed into Python workers in the SQL
    executions that ran any of ``job_ids``, from the SQLAppStatusStore
    plan graphs.  Rows sent are the output rows of the Python node's input
    (the nearest descendant reporting output rows)."""
    out = {"rows_sent": 0.0, "bytes_sent": 0.0, "bytes_received": 0.0}
    try:
        sql = spark._jsparkSession.sharedState().statusStore()
        for ex in _iter(sql.executionsList()):
            if not {int(j) for j in _iter(ex.jobs().keys())} & job_ids:
                continue
            eid = ex.executionId()
            values = sql.executionMetrics(eid)
            graph = sql.planGraph(eid)
            nodes = {n.id(): n for n in _iter(graph.allNodes())}
            children: dict[int, list[int]] = {}
            for e in _iter(graph.edges()):
                children.setdefault(e.toId(), []).append(e.fromId())

            def metric(node, name):
                for m in _iter(node.metrics()):
                    if m.name() == name:
                        return _opt(values.get(m.accumulatorId()))
                return None

            def has(node, name):
                return any(m.name() == name for m in _iter(node.metrics()))

            for n in nodes.values():
                if not has(n, _PY_SENT):
                    continue
                sent, recv = metric(n, _PY_SENT), metric(n, _PY_RECV)
                if sent is None or recv is None:
                    continue  # the node never ran (AQE replaced its stage)
                out["bytes_sent"] += _size(sent)
                out["bytes_received"] += _size(recv)
                todo = list(children.get(n.id(), []))
                while todo:
                    c = nodes[todo.pop()]
                    if has(c, _ROWS):
                        rows = metric(c, _ROWS)
                        out["rows_sent"] += float(rows.splitlines()[-1].split()[0].replace(",", "")) if rows else 0.0
                    else:
                        todo.extend(children.get(c.id(), []))
    except MeasurementError:
        raise
    except Exception as e:
        raise MeasurementError(f"SQLAppStatusStore read failed: {type(e).__name__}: {e}") from e
    return out


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s QueryExecution (analysis,
    optimization, planning), in ms.  Plans of DataFrames the program
    checkpoints internally are not reachable from here."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            ph = _opt(phases.get(name))
            if ph is None:
                raise MeasurementError(f"no {name} phase recorded")
            out[name] = float(ph.durationMs())
        return out
    except MeasurementError:
        raise
    except Exception as e:
        raise MeasurementError(f"QueryPlanningTracker read failed: {type(e).__name__}: {e}") from e
