"""Traced-run tooling: span recorder, layer wrappers, job-group tagging
and a standard-library parser for Spark's uncompressed event log.

Spans are recorded only from the benchmark's side of each layer
boundary: `install` rebinds a layer's public names where the caller
looks them up (a module global, a class attribute, or the module alias
`bearysta_spark.queries` calls through) to a wrapper that records a
span around the call. Nothing inside `bearysta_spark` is edited, and
`uninstall` restores every binding.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import time
import types
from dataclasses import dataclass, field

# metric -> the span whose time it sums (outermost spans of that name
# only, so a recursive RecipeEngine.normalized counts once)
SECONDS = {
    "recipe.load_s": "recipe.load",
    "sources.scan_s": "sources.scan",
    "sources.glob_s": "sources.glob",
    "sources.sidecar_s": "sources.sidecar",
    "core.infer_numeric_s": "core.infer_numeric",
    "core.normalized_s": "core.normalized",
    "core.aggregated_s": "core.aggregated",
    "expr.compile_s": "expr.compile",
    "operators.ratio_s": "operators.ratio",
    "operators.filter_s": "operators.filter",
    "operators.pivot_table_s": "operators.pivot_table",
    "sinks.to_csv_s": "sinks.to_csv",
    "sinks.pivot_string_s": "sinks.pivot_string",
    "sinks.to_html_s": "sinks.to_html",
    "functions.dedup_s": "functions.dedup",
    "functions.similarity_s": "functions.similarity",
    "functions.clustering_s": "functions.clustering",
    "scratch.materialize_s": "scratch.materialize",
    "op.build_s": "op.build",
    "op.action_s": "op.action",
}
# metric -> the span whose outermost calls it counts
CALLS = {
    "expr.compiles": "expr.compile",
    "operators.pivot_variants": "operators.pivot_table",
    "scratch.materialize_calls": "scratch.materialize",
}
# metric -> the span whose Spark jobs it counts
JOBS = {
    "sources.scan_jobs": "sources.scan",
    "core.infer_numeric_jobs": "core.infer_numeric",
    "op.build_jobs": "op.build",
    "op.action_jobs": "op.action",
}
SPARK = [
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.driver_only_s",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.cpu_util",
    "spark.gc_s",
    "spark.shuffle_write_mb",
    "spark.shuffle_read_mb",
    "spark.spill_mb",
    "spark.input_mb",
    "spark.barrier_job_share",
]
EXTRA = {
    "session.get_spark_s": "s",
    "sources.files": "count",
    "sinks.bytes_out": "bytes",
    "core.infer_promoted_ratio": "ratio",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
}


def unit_of(name: str) -> str:
    if name in EXTRA:
        return EXTRA[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("spark.cpu_util", "spark.barrier_job_share"):
        return "ratio"
    return "count"


PER_LAYER = [*SECONDS, *CALLS, *JOBS, *SPARK, *EXTRA]


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: str | None
    outermost: bool
    jobs: int = 0
    attrs: dict = field(default_factory=dict)


class Recorder:
    """In-memory span store. `op` is the id of the op running now; its
    Spark jobs carry it as their job group."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self._open: dict[str, int] = {}

    def _jobs_now(self) -> int:
        if self.op is None:
            return 0
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self.op))

    def call(self, name: str, fn, args, kwargs, count_jobs: bool, attrs_of=None):
        outermost = self._open.get(name, 0) == 0
        self._open[name] = self._open.get(name, 0) + 1
        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        span = Span(name, 0.0, 0.0, parent, self.op, outermost)
        self.spans.append(span)
        self.stack.append(idx)
        jobs0 = self._jobs_now() if count_jobs else 0
        span.start = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            span.end = time.time()
            if count_jobs:
                span.jobs = self._jobs_now() - jobs0
            self.stack.pop()
            self._open[name] -= 1
        if attrs_of is not None:
            span.attrs = attrs_of(args, kwargs, out)
        return out

    def phase(self, name: str, fn, *args, **kwargs):
        """Run one op phase under the op's job group, as a span."""
        sc = self.spark.sparkContext
        sc.setJobGroup(self.op, name)
        return self.call(name, fn, args, kwargs, count_jobs=True)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# ---------------------------------------------------------------------------
# wrappers
# ---------------------------------------------------------------------------


def _is_plain_function(obj) -> bool:
    # pandas UDFs are functions carrying an evalType; they run in workers
    return inspect.isfunction(obj) and not hasattr(obj, "evalType")


def _wrap(rec: Recorder, name: str, fn, count_jobs=False, attrs_of=None):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        return rec.call(name, fn, args, kwargs, count_jobs, attrs_of)

    return traced


class _LayerProxy(types.ModuleType):
    """Stands in for a module alias (`D`, `S` in queries.py):
    public plain functions come back wrapped, everything else as is."""

    def __init__(self, module, rec: Recorder, span: str):
        super().__init__(module.__name__)
        self._module = module
        self._rec = rec
        self._span = span

    def __getattr__(self, attr):
        obj = getattr(self._module, attr)
        if attr.startswith("_") or not _is_plain_function(obj):
            return obj
        return _wrap(self._rec, self._span, obj)


def _infer_attrs(args, kwargs, out):
    from bearysta_spark.engine.core import _LINEAGE

    df = args[0]
    exclude = kwargs.get("exclude", args[1] if len(args) > 1 else ())
    probed = [
        c for c, t in df.dtypes if t == "string" and c not in exclude and c not in _LINEAGE
    ]
    after = dict(out.dtypes)
    return {"probed": len(probed), "promoted": sum(after.get(c) != "string" for c in probed)}


def _str_bytes(args, kwargs, out):
    return {"bytes": len(out.encode()) if isinstance(out, str) else 0}


def _csv_bytes(args, kwargs, out):
    path = kwargs.get("path", args[1] if len(args) > 1 else None)
    if out is not None:
        return {"bytes": len(out.encode())}
    return {"bytes": os.path.getsize(path) if path and os.path.exists(path) else 0}


def _files_of(args, kwargs, out):
    return {"files": len(out)}


def install(rec: Recorder) -> list[tuple[object, str, object]]:
    """Rebind every traced name; returns the (owner, attr, original)
    triples `uninstall` puts back."""
    import bearysta_spark.engine.core as core
    import bearysta_spark.engine.recipe as recipe
    import bearysta_spark.engine.sources as sources
    import bearysta_spark.functions.clustering as clustering
    import bearysta_spark.operators.aggregate as aggregate
    import bearysta_spark.operators.ratio as ratio
    import bearysta_spark.queries as queries
    import bearysta_spark.scratch as scratch
    import bearysta_spark.sinks as sinks

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def fn(owner, attr, span, **kw):
        patch(owner, attr, _wrap(rec, span, getattr(owner, attr), **kw))

    fn(core, "scan", "sources.scan", count_jobs=True)
    fn(sources, "expand_globs", "sources.glob", attrs_of=_files_of)
    fn(sources, "attach_sidecar_meta", "sources.sidecar")
    fn(core, "infer_numeric", "core.infer_numeric", count_jobs=True, attrs_of=_infer_attrs)
    fn(core, "compile_expr", "expr.compile")
    fn(core, "filter_in", "operators.filter")
    fn(core, "filter_out", "operators.filter")
    fn(ratio, "ratio_of", "operators.ratio")
    fn(aggregate, "pivot_table", "operators.pivot_table")
    fn(sinks, "to_csv", "sinks.to_csv", attrs_of=_csv_bytes)
    fn(sinks, "pivot_string", "sinks.pivot_string", attrs_of=_str_bytes)
    fn(sinks, "to_html", "sinks.to_html", attrs_of=_str_bytes)
    fn(scratch, "materialize_distributed", "scratch.materialize")
    fn(clustering, "kmeans_fit", "functions.clustering")
    fn(core.RecipeEngine, "normalized", "core.normalized")
    fn(core.RecipeEngine, "aggregated", "core.aggregated")
    load = recipe.Recipe.__dict__["load"].__func__
    patch(recipe.Recipe, "load", classmethod(_wrap(rec, "recipe.load", load)))
    for alias, span in (("D", "functions.dedup"), ("S", "functions.similarity")):
        patch(queries, alias, _LayerProxy(getattr(queries, alias), rec, span))
    return saved


def uninstall(saved) -> None:
    for owner, attr, orig in reversed(saved):
        setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# summaries
# ---------------------------------------------------------------------------


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_metrics(spans: list[Span]) -> dict[str, float]:
    """Per-layer sums over the given spans (one traced pass)."""
    out: dict[str, float] = {}
    for metric, name in SECONDS.items():
        out[metric] = sum(s.end - s.start for s in spans if s.outermost and s.name == name)
    for metric, name in CALLS.items():
        out[metric] = float(sum(1 for s in spans if s.outermost and s.name == name))
    for metric, name in JOBS.items():
        out[metric] = float(sum(s.jobs for s in spans if s.outermost and s.name == name))
    out["sources.files"] = float(
        sum(s.attrs.get("files", 0) for s in spans if s.name == "sources.glob")
    )
    out["sinks.bytes_out"] = float(
        sum(s.attrs.get("bytes", 0) for s in spans if s.name.startswith("sinks."))
    )
    probed = sum(s.attrs.get("probed", 0) for s in spans if s.name == "core.infer_numeric")
    promoted = sum(s.attrs.get("promoted", 0) for s in spans if s.name == "core.infer_numeric")
    out["core.infer_promoted_ratio"] = promoted / probed if probed else 0.0
    return out


def status_counts(spark, groups: list[str]) -> dict[str, dict[str, int]]:
    """Jobs, stages that ran tasks, and completed tasks per job group,
    from the status tracker (read after the pass, outside its timing)."""
    st = spark.sparkContext.statusTracker()
    out = {}
    for g in groups:
        jobs = st.getJobIdsForGroup(g)
        stages: dict[int, int] = {}
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages[sid] = si.numCompletedTasks
        out[g] = {"jobs": len(jobs), "stages": len(stages), "tasks": sum(stages.values())}
    return out


def parse_event_log(log_dir: str, app_id: str) -> dict[str, dict]:
    """Per job group: job intervals (epoch seconds) and summed task
    metrics, from the application's uncompressed event log (a single
    file, or the event files of a rolling log directory)."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def grp(g):
        return groups.setdefault(
            g,
            {
                "intervals": {},
                "task_run_s": 0.0,
                "task_cpu_s": 0.0,
                "gc_s": 0.0,
                "shuffle_write_mb": 0.0,
                "shuffle_read_mb": 0.0,
                "spill_mb": 0.0,
                "input_mb": 0.0,
            },
        )

    mb = 1024.0 * 1024.0
    paths = sorted(
        os.path.join(dp, f)
        for dp, _, files in os.walk(log_dir)
        for f in files
        if app_id in os.path.join(dp, f) and not f.endswith(".crc")
    )
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                    grp(g)["intervals"][jid] = [ev["Submission Time"] / 1000.0, None]
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(ev["Job ID"])
                    if g is not None:
                        grp(g)["intervals"][ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    d = grp(g)
                    d["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    d["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    d["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics") or {}
                    d["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                    sr = m.get("Shuffle Read Metrics") or {}
                    d["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / mb
                    d["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb
                    d["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / mb
    return groups


def spark_metrics(
    ops: dict[str, tuple[float, float]],
    counts: dict[str, dict[str, int]],
    log: dict[str, dict],
    build_jobs: float,
) -> dict[str, float]:
    """spark.* metrics summed over the given ops (op id -> wall window)."""
    out = {k: 0.0 for k in SPARK}
    for op, (t0, t1) in ops.items():
        c = counts.get(op, {})
        out["spark.jobs"] += c.get("jobs", 0)
        out["spark.stages"] += c.get("stages", 0)
        out["spark.tasks"] += c.get("tasks", 0)
        d = log.get(op)
        busy = 0.0
        if d is not None:
            iv = [
                (max(s, t0), min(e if e is not None else t1, t1))
                for s, e in d["intervals"].values()
            ]
            busy = _union_len([(s, e) for s, e in iv if e > s])
            for k in ("task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
                      "shuffle_read_mb", "spill_mb", "input_mb"):
                out["spark." + k] += d[k]
        out["spark.driver_only_s"] += (t1 - t0) - busy
    out["spark.cpu_util"] = (
        out["spark.task_cpu_s"] / out["spark.task_run_s"] if out["spark.task_run_s"] else 0.0
    )
    out["spark.barrier_job_share"] = build_jobs / out["spark.jobs"] if out["spark.jobs"] else 0.0
    return out
