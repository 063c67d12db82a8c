"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates the workload's inputs
from ``--seed``, starts a SparkSession through the engine's session
factory on ``local[<cpus>]``, runs one untimed warm pass, then timed passes
until ``--seconds`` have elapsed and at least MIN_PASSES have run, checking
every result against DuckDB.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  A readable table goes to stderr and
the full record, spans included, to ``.perfbench_out/``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "1g"
MIN_PASSES = 3
# C1 only.  With C2, profile-driven compilation left each fresh JVM at its
# own speed: whole runs of one workload differed by up to 2x (pass_s
# spread 0.42 over ten seeds).  With C1 only, passes are flat after the
# warm pass and the spread fell to 0.17.
JIT = "-XX:TieredStopAtLevel=1"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=os.path.join(ROOT, ".perfbench_out"), help="directory for the full record")
    return p.parse_args(argv)


def _configure(work: str) -> int:
    """Environment for the engine; must run before pyspark is imported.
    Returns the core count the session uses."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    scratch = os.path.join(work, "scratch")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # engine scratch (shuffle, checkpoints, spark.local.dir) stays in the work dir
        SPARK_GRAFT_SCRATCH=scratch,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        SPARK_GRAFT_EXTRA_CONF=";".join([
            "spark.ui.retainedJobs=100000",
            "spark.sql.ui.retainedExecutions=100000",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} {JIT}",
        ]),
        # Python workers import the engine package from the checkout
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
    )
    tempfile.tempdir = None
    return cpus


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def all_queries() -> list[str]:
    from perfbench.workloads import WORKLOADS

    return [q for w in WORKLOADS.values() for q in w.queries]


def op_medians(passes) -> dict[str, float]:
    """Median seconds per op label over ``passes``."""
    by: dict[str, list[float]] = {}
    for p in passes:
        for _, label, s in p:
            by.setdefault(label, []).append(s)
    return {k: statistics.median(v) for k, v in by.items()}


class Bench:
    def __init__(self, args, work: str, cpus: int):
        from perfbench import tracing
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.cpus = cpus
        self.wl = WORKLOADS[args.workload]
        self.sf_dir = os.path.join(work, "data")
        self.tracer = tracing.Tracer()
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.setup_parts: dict[str, float] = {}

    # -- setup ------------------------------------------------------------

    def setup(self) -> float:
        """Session start, Python-worker warm-up, input generation and one
        untimed warm pass; returns its wall time in seconds."""
        from perfbench.inputs import describe, make_inputs
        from perfbench.workloads import Oracle
        from youtubeanalyzerproject_big_data__spark.session import get_spark

        t = self.tracer
        t0 = time.perf_counter()
        with t.span("session.get_spark", op="setup") as s_sess:
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        with t.span("session.warmup", op="setup") as s_warm:
            sc = self.spark.sparkContext
            sc.parallelize(range(self.cpus), self.cpus).map(lambda x: x + 1).sum()
        with t.span("inputs.generate", op="setup") as s_gen:
            make_inputs(self.sf_dir, self.args.seed, self.wl.profile, videos=self.wl.serve)
        setup = time.perf_counter() - t0
        self.inputs = describe(self.sf_dir)
        # expected results are computed untimed, outside set-up
        self.oracle = Oracle(self.sf_dir)
        self._prepare_ops()
        with t.span("warm_pass", op="setup") as s_pass:
            if self.wl.serve:
                # Phase 1: materialize every artifact, so serve() ops are hits
                for name in self.cached:
                    self.svc.serve(name)
            self._pass(verify=False)
        setup += s_pass.end - s_pass.start
        if self.wl.serve:
            self._expect_artifacts()
        self.setup_parts = {
            "session.get_spark_s": s_sess.end - s_sess.start,
            "session.warmup_s": s_warm.end - s_warm.start,
            "inputs.generate_s": s_gen.end - s_gen.start,
            "warm_pass_s": s_pass.end - s_pass.start,
        }
        return setup

    def _prepare_ops(self):
        """The op list of one pass and each op's expected rows."""
        import __spark_entry__ as entry
        from perfbench import workloads as w

        self.ops: list[tuple] = []
        self.expected: list[list[tuple] | None] = []
        if not self.wl.serve:
            qs, oracles = entry.queries(), entry.oracle_sql()
            for name in self.wl.queries:
                self.ops.append(("query", name, qs[name]))
                self.expected.append(self.oracle.rows(oracles[name]))
            return
        from youtubeanalyzerproject_big_data__spark import serve
        from youtubeanalyzerproject_big_data__spark.io import load_table

        videos = load_table(self.spark, self.sf_dir, "videos")
        self.svc = serve.QueryService(self.spark, videos, os.path.join(self.work, "artifacts"))
        self.cached = sorted(serve.CACHED_JOBS)
        ids = [r[0] for r in self.oracle.con.execute("SELECT video_id FROM videos ORDER BY video_id").fetchall()]
        for op in w.serve_block(self.args.seed, ids, self.cached):
            self.ops.append(op)
            sql = w.op_sql(op)
            self.expected.append(self.oracle.rows(sql) if sql else None)

    def _expect_artifacts(self):
        """Expected rows of artifact hits: a served artifact must hold
        exactly what its job computes.  Run after the warm pass, which
        leaves the JVM warm and so costs less."""
        from perfbench import workloads as w
        from youtubeanalyzerproject_big_data__spark import serve

        want = {}
        for name in self.cached:
            job = serve.CACHED_JOBS[name](self.svc.videos)
            want[name] = w.canonical(job.collect(), job.columns)
        self.expected = [want[op[1]] if op[0] == "serve" else e for op, e in zip(self.ops, self.expected)]

    # -- passes -----------------------------------------------------------

    def _pass(self, verify: bool, tag: str | None = None) -> list[tuple[str, str, float]]:
        """One pass over the op list; returns (op class, op label, seconds)
        per completed op.  ``tag`` (traced passes) names each op's job group."""
        from perfbench import workloads as w

        t = self.tracer
        sc = self.spark.sparkContext
        done = []
        for i, op in enumerate(self.ops):
            kind = op[0]
            label = op[1] if kind == "query" else kind
            opid = f"{tag}:{i}:{label}" if tag else f"op:{i}"
            if tag:
                sc.setJobGroup(opid, label)
            try:
                with t.span("query" if kind == "query" else f"serve.{kind}", op=opid) as root:
                    with t.span("build"):
                        df = op[2](self.spark, self.sf_dir) if kind == "query" else w.run_op(self.svc, op)
                    rows = cols = None
                    if df is not None:
                        with t.span("collect"):
                            rows = df.collect()
                        cols = df.columns
                elapsed = root.end - root.start
            except Exception as e:  # an op that raises is a failed op, reported by name
                self.attempted += 1
                self.failures.append(f"{label}: {type(e).__name__}: {str(e)[:300]}")
                continue
            if tag:
                self._after_traced_op(opid, kind, op, df)
            self.attempted += 1
            if verify and not self._check(i, op, rows, cols):
                self.failures.append(f"{label}: wrong rows")
                continue
            done.append((kind if kind != "query" else "live", label, elapsed))
        return done

    def _check(self, i: int, op: tuple, rows, cols) -> bool:
        from perfbench import workloads as w

        if op[0] == "refresh":
            return os.path.exists(os.path.join(self.svc.cache_dir, op[1], "_SUCCESS"))
        return w.canonical(rows, cols) == self.expected[i]

    # -- timed and traced runs -------------------------------------------

    def timed(self, seconds: float) -> list[list[tuple[str, str, float]]]:
        """Passes until ``seconds`` have elapsed, and at least MIN_PASSES."""
        passes = []
        t0 = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
            passes.append(self._pass(verify=True))
        return passes

    def end_to_end(self, setup_s: float, passes) -> dict[str, float]:
        from perfbench.workloads import LIVE_OPS

        # each statistic is taken within a pass, then its median over passes
        med = statistics.median
        live = [[s for k, _, s in p if k == "live" or k in LIVE_OPS] for p in passes]
        return {
            "setup_s": setup_s,
            "pass_s": med(sum(s for *_, s in p) for p in passes),
            "ops_per_s": med(len(p) / sum(s for *_, s in p) for p in passes),
            "live_p50_ms": med(_pct(v, 50) for v in live) * 1e3,
            "live_p95_ms": med(_pct(v, 95) for v in live) * 1e3,
            "driver_peak_rss_mb": self.peak_rss_mb(),
        }

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)

    def _after_traced_op(self, opid, kind, op, df):
        from perfbench import tracing

        if df is not None:
            self.plan_ms[opid] = tracing.plan_phases_ms(df)
        if kind == "refresh":
            path = os.path.join(self.svc.cache_dir, op[1])
            self.artifact_bytes.append(sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)))

    def traced(self, seconds: float) -> dict[str, float]:
        """Untraced and traced passes in blocks of four (untraced, traced,
        traced, untraced) until ``seconds`` have elapsed, so the JVM's
        warm-up trend falls evenly on both kinds.  Traced passes add spans,
        job groups and status-store rollups."""
        from perfbench import tracing
        import __spark_entry__ as entry
        from youtubeanalyzerproject_big_data__spark import io, serve

        self.plan_ms: dict[str, dict[str, float]] = {}
        self.artifact_bytes: list[int] = []
        t = self.tracer
        targets = [
            (io, "load_table", "io.load"), (io, "load_events", "io.load"),
            (entry, "load_table", "io.load"), (entry, "load_events", "io.load"),
            (serve, "read_json_artifact", "io.artifact_read"),
            (serve, "write_json_artifact", "io.artifact_write"),
            (serve, "CACHED_JOBS", "jobs.build"),
        ]
        base, walls, per_op, python = [], [], [], []
        t0 = time.perf_counter()
        while (len(base) + len(walls)) % 4 or time.perf_counter() - t0 < seconds:
            if (len(base) + len(walls)) % 4 in (0, 3):
                base.append(self._pass(verify=True))
                continue
            tag = f"traced{len(walls)}"
            try:
                with tracing.patched(targets, t):
                    p = self._pass(verify=True, tag=tag)
            finally:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            walls.append(sum(s for *_, s in p))
            groups = [f"{tag}:{i}:{op[1] if op[0] == 'query' else op[0]}" for i, op in enumerate(self.ops)]
            rolls, job_ids = tracing.job_rollups(self.spark, set(groups))
            per_op.append([rolls[g] for g in groups])
            python.append(tracing.python_rollup(self.spark, job_ids))
        self.op_counts = per_op
        self.base_passes = base
        self._check_counts(per_op)
        rollups = [{k: sum(r[k] for r in ops) for k in tracing.ROLLUP_KEYS} for ops in per_op]
        return self._layers(base, walls, rollups, python)

    def _check_counts(self, per_op):
        """Job, stage, task and shuffle-record counts of every op must
        repeat exactly across traced passes.  Shuffle bytes are compressed
        blocks whose size depends on the order rows arrive in, so they are
        reported with their largest relative drift instead."""
        self.attempted += 1
        first = per_op[0]
        for ops in per_op[1:]:
            for i, (a, b) in enumerate(zip(first, ops)):
                for c in ("jobs", "stages", "tasks", "shuffle_write_records", "shuffle_read_records"):
                    if a[c] != b[c]:
                        self.failures.append(f"op {i}: spark.{c} differs across traced passes: {a[c]} vs {b[c]}")
        totals = [sum(r["shuffle_write_bytes"] for r in ops) for ops in per_op]
        self.shuffle_bytes_drift = (max(totals) - min(totals)) / max(totals) if max(totals) else 0.0

    def _layers(self, base, walls, rollups, python) -> dict[str, float]:
        med = statistics.median
        t = self.tracer
        traced_ops = {s.op for s in t.spans if s.op.startswith("traced")}
        roots = {}
        for s in t.spans:
            if s.op in traced_ops and s.parent is None:
                roots.setdefault(s.name, []).append(s.end - s.start)

        selft = t.self_times(traced_ops)

        def per_pass(name):  # median over traced passes of the pass's summed self time
            by_pass: dict[str, float] = {}
            for op, names in selft.items():
                tag = op.split(":")[0]
                by_pass[tag] = by_pass.get(tag, 0.0) + names.get(name, 0.0)
            return med(by_pass.values())

        def p50_ms(name):
            v = roots.get(name)
            return med(v) * 1e3 if v else 0.0

        def call_med(name):
            v = [s.end - s.start for s in t.spans if s.op in traced_ops and s.name == name]
            return med(v) if v else 0.0

        plan = {}
        for k in ("analysis", "optimization", "planning"):
            by_pass: dict[str, float] = {}
            for op, phases in self.plan_ms.items():
                by_pass[op.split(":")[0]] = by_pass.get(op.split(":")[0], 0.0) + phases[k]
            plan[k] = med(by_pass.values())
        wall = med(walls)
        roll = {k: med(r[k] for r in rollups) for k in rollups[0]}
        py = {k: med(p[k] for p in python) for k in python[0]}
        root_of = {s.op: s.name for s in t.spans if s.op in traced_ops and s.parent is None}
        serve_calls = len(roots.get("serve.serve", []))
        misses = {s.op for s in t.spans if s.name == "jobs.build" and root_of.get(s.op) == "serve.serve"}
        writes = {}
        for s in t.spans:
            if s.name == "io.artifact_write" and root_of.get(s.op) == "serve.refresh":
                writes[s.op] = writes.get(s.op, 0.0) + s.end - s.start
        refresh_compute = [s.end - s.start - writes.get(s.op, 0.0) for s in t.spans
                           if s.parent is None and root_of.get(s.op) == "serve.refresh"]
        untraced = med(sum(s for *_, s in p) for p in base)
        per_query = op_medians(base)
        return {
            "session.get_spark_s": self.setup_parts["session.get_spark_s"],
            "session.warmup_s": self.setup_parts["session.warmup_s"],
            "io.load_s": per_pass("io.load"),
            "io.input_bytes": roll["input_bytes"],
            "io.artifact_write_s": call_med("io.artifact_write"),
            "io.artifact_bytes": med(self.artifact_bytes) if self.artifact_bytes else 0.0,
            "io.artifact_read_s": call_med("io.artifact_read"),
            "entry.build_s": per_pass("build"),
            "entry.collect_s": per_pass("collect"),
            "plan.analysis_ms": plan["analysis"],
            "plan.optimization_ms": plan["optimization"],
            "plan.planning_ms": plan["planning"],
            "spark.jobs": roll["jobs"],
            "spark.stages": roll["stages"],
            "spark.tasks": roll["tasks"],
            "spark.run_s": roll["run_s"],
            "spark.cpu_s": roll["cpu_s"],
            "spark.gc_s": roll["gc_s"],
            "spark.utilization": roll["run_s"] / (wall * self.cpus),
            "spark.shuffle_write_bytes": roll["shuffle_write_bytes"],
            "spark.shuffle_read_bytes": roll["shuffle_read_bytes"],
            "spark.spill_bytes": roll["spill_bytes"],
            "python.rows_sent": py["rows_sent"],
            "python.bytes_sent": py["bytes_sent"],
            "python.bytes_received": py["bytes_received"],
            "serve.lookup_ms": p50_ms("serve.lookup"),
            "serve.search_range_ms": p50_ms("serve.search_range"),
            "serve.search_count_ms": p50_ms("serve.search_count"),
            "serve.top_k_ms": p50_ms("serve.top_k"),
            "serve.hit_ms": p50_ms("serve.serve"),
            "serve.refresh_ms": p50_ms("serve.refresh"),
            # a serve() call that had to run its job was not a hit
            "serve.hit_ratio": (serve_calls - len(misses)) / serve_calls if serve_calls else 0.0,
            "jobs.refresh_compute_s": med(refresh_compute) if refresh_compute else 0.0,
            "trace.overhead_frac": wall / untraced - 1,
            # per-query latency: query.<name up to its first "_">_s
            **{f"query.{q.split('_')[0]}_s": per_query.get(q, 0.0) for q in all_queries()},
        }

    def close(self):
        """Stop the session and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if hasattr(self, "oracle"):
            self.oracle.close()
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _table(result: dict, record: dict) -> str:
    lines = [f"workload {record['workload']} seed {record['seed']} trace {record['trace']}: "
             f"correct={result['correct']} attempted={result['attempted']} failed={result['failed']} "
             f"failed_frac={result['failed'] / result['attempted']:.4f}"]
    for name, m in result["metrics"].items():
        lines.append(f"  {name:28s} {m['value']:14.4f} {m['unit']}")
    for name, v in record.get("serve_latency", {}).items():
        lines.append(f"  {name:28s} {v:14.4f} ms")
    for f in record["failures"][:10]:
        lines.append(f"  FAILED {f}")
    return "\n".join(lines)


def main(argv=None) -> int:
    args = _args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; pick from {names}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = _configure(work)
    sys.path[:0] = [ROOT]
    try:
        # the engine and its tools come from the checkout; without them
        # there is nothing to measure
        import __spark_entry__  # noqa: F401
        import youtubeanalyzerproject_big_data__spark  # noqa: F401
        import perfbench.workloads  # noqa: F401  (imports tools.verify_local)
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    bench = Bench(args, work, cpus)
    try:
        setup_s = bench.setup()
        if args.trace:
            metrics = bench.traced(args.seconds)
            passes = bench.base_passes
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            serve_latency = {}
        else:
            passes = bench.timed(args.seconds)
            metrics = bench.end_to_end(setup_s, passes)
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            ops = [x for p in passes for x in p]
            serve_latency = {
                f"{label}_p50_ms": statistics.median(s for k, _, s in ops if k == kind) * 1e3
                for kind, label in (("serve", "cached"), ("refresh", "refresh"))
                if any(k == kind for k, *_ in ops)
            }
            serve_latency.update({f"{q}_p50_ms": v * 1e3 for q, v in op_medians(passes).items()
                                  if q in all_queries()})
        if set(metrics) != set(units):
            raise RuntimeError(f"metric names drifted from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "seconds": args.seconds,
        "cpus": cpus, "driver_mem": DRIVER_MEM, "jit": JIT, "profile": bench.wl.profile,
        "inputs": bench.inputs, "setup_parts": bench.setup_parts, "serve_latency": serve_latency,
        "failures": bench.failures, "result": result, "passes": passes,
        "op_counts": getattr(bench, "op_counts", []),
        "shuffle_bytes_drift": getattr(bench, "shuffle_bytes_drift", None),
        "spans": bench.tracer.dump() if args.trace else [],
    }
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(_table(result, record), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
