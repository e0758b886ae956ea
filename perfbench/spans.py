"""Tracing for the benchmark's traced run.

Spans are recorded by the benchmark around its calls into each layer
and kept in memory.  Each span (and, inside it, its construction phase
and its action phase) runs under its own Spark job group, so Spark's
event log, enabled only in the traced run, ties every job and task back
to the span that caused it.  After the session stops, the event log is
read once and the per-layer metrics are assembled:

- ``<span>_s``: span wall seconds; ``<pipeline>.self_s``: the part of a
  pipeline span no child span covers;
- ``<span>.jobs/.tasks/.busy_s/.wait_s``: jobs and tasks run under the
  span's own job groups, summed executor run time, and shuffle fetch
  wait plus scheduler delay;
- ``<layer>.jobs/.gc_s/.spill_bytes/.failed_tasks``: jobs attributed to
  the module named in their Spark call site when it lies in the
  program's package (eager jobs fired inside a call), else to the span
  they ran under;
- pipeline-pass metrics ``<pipeline>.build_s/.eager_jobs/.action_s``;
- counters the workloads report (``llmdata.dedup.cc_rounds``, ...);
- ``trace.total_s/.job_s/.overhead_s``: the traced iteration's wall
  time, the median of the untraced iterations run between the traced
  ones, and their difference.

Every metric is the median over the traced iterations of the run.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "transcriptomics_data_integration_spark"
JOB_LAYERS = ("sources", "operators", "stats", "pipelines", "llmdata")
JOB_SPANS = (
    "pipelines.meta",
    "operators.filters",
    "stats.ttest",
    "stats.stouffer",
    "stats.bh",
    "sources.tsv_matrix.read",
    "sources.tsv_matrix.write",
    "llmdata.dedup.minhash_lsh_pairs",
    "llmdata.dedup.connected_components",
)
PIPELINES = ("pipelines.meta",)


def _per_layer() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in report order."""
    out = [("session.get_spark_s", "s", "lower")]
    for span in JOB_SPANS:
        out += [
            (f"{span}_s", "s", "lower"),
            (f"{span}.jobs", "count", "lower"),
            (f"{span}.tasks", "count", "lower"),
            (f"{span}.busy_s", "s", "lower"),
            (f"{span}.wait_s", "s", "lower"),
        ]
    for p in PIPELINES:
        out += [
            (f"{p}.self_s", "s", "lower"),
            (f"{p}.build_s", "s", "lower"),
            (f"{p}.eager_jobs", "count", "lower"),
            (f"{p}.action_s", "s", "lower"),
        ]
    for layer in JOB_LAYERS:
        out += [
            (f"{layer}.jobs", "count", "lower"),
            (f"{layer}.gc_s", "s", "lower"),
            (f"{layer}.spill_bytes", "bytes", "lower"),
            (f"{layer}.failed_tasks", "count", "lower"),
        ]
    out += [
        ("stats.ttest.eager_jobs", "count", "lower"),
        ("sources.tsv_matrix.read_eager_jobs", "count", "lower"),
        ("sources.tsv_matrix.bytes_read", "bytes", "lower"),
        ("sources.tsv_matrix.bytes_written", "bytes", "lower"),
        ("llmdata.dedup.lsh_candidates", "count", "lower"),
        ("llmdata.dedup.verified_pairs", "count", "higher"),
        ("llmdata.dedup.verify_yield", "ratio", "higher"),
        ("llmdata.dedup.cc_rounds", "count", "lower"),
        ("llmdata.dedup.cc_rounds_spread", "count", "lower"),
        ("llmdata.dedup.connected_components.jobs_spread", "count", "lower"),
        ("runtime.cleanup_persisted_s", "s", "lower"),
        ("runtime.persisted_relations", "count", "lower"),
        ("trace.total_s", "s", "lower"),
        ("trace.job_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    return out


PER_LAYER = _per_layer()


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.counters: list[dict] = []  # per traced iteration
        self.iteration = 0
        self.pass_name = "layers"
        self._stack: list[int] = []

    def _group(self, phase: str) -> None:
        if self._stack:
            sid = self._stack[-1]
            self.sc.setJobGroup(f"s{sid}:{phase}", self.spans[sid]["name"])
        else:
            self.sc.setJobGroup("untraced", "outside every span")

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "iteration": self.iteration,
            "pass": self.pass_name,
            "start": time.perf_counter(),
            "end": None,
            "action_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._group("build")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group("build")

    @contextmanager
    def action(self):
        """Run the body as the current span's action phase."""
        rec = self.spans[self._stack[-1]]
        self._group("action")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["action_s"] += time.perf_counter() - t0
            self._group("build")

    def materialize(self, df):
        """Compute ``df`` now; the next call reads the stored result
        through a lineage-free plan, so its span holds only its own
        work."""
        with self.action():
            return df.localCheckpoint(eager=True)

    def collect(self, df) -> list:
        with self.action():
            return df.collect()

    def cleanup(self) -> None:
        """The program's own end-of-query cleanup, as a runtime span."""
        from transcriptomics_data_integration_spark.runtime import cleanup_persisted

        with self.span("runtime.cleanup_persisted"):
            cleanup_persisted()

    def next_iteration(self) -> None:
        self.iteration = len(self.counters)
        self.counters.append({})


# ------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs ``{group, site}`` and tasks ``{group, site, ...metrics}``
    from every event-log file under ``log_dir``."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
    )
    jobs, tasks, stage_props = [], [], {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        {"group": props.get("spark.jobGroup.id"), "site": props.get("callSite.short", "")}
                    )
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    stage_props[ev["Stage Info"]["Stage ID"]] = (
                        props.get("spark.jobGroup.id"),
                        props.get("callSite.short", ""),
                    )
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task_record(ev))
    for t in tasks:
        t["group"], t["site"] = stage_props.get(t.pop("stage"), (None, ""))
    return jobs, tasks


def _task_record(ev: dict) -> dict:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    run = m.get("Executor Run Time", 0)
    sched = duration - run - m.get("Executor Deserialize Time", 0) - m.get(
        "Result Serialization Time", 0
    ) - info.get("Getting Result Time", 0)
    return {
        "stage": ev["Stage ID"],
        "busy_s": run / 1000.0,
        "wait_s": (shuffle_read.get("Fetch Wait Time", 0) + max(sched, 0)) / 1000.0,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        "bytes_read": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "failed": int(info.get("Failed", False) or (ev.get("Task End Reason") or {}).get("Reason") != "Success"),
    }


_SITE = re.compile(PACKAGE + r"/([\w/]+)\.py:\d+")


def layer_of(site: str, span_name: str) -> str:
    """The layer a job belongs to: the module in its call site when
    that lies in the program's package, else the span it ran under."""
    m = _SITE.search(site or "")
    return (m.group(1).replace("/", ".") if m else span_name).split(".")[0]


# -------------------------------------------------------------- assembly


def _spread(values: list[float]) -> float:
    return max(values) - min(values) if values else 0.0


def assemble(tracer: Tracer, jobs: list[dict], tasks: list[dict], job_s: float) -> dict:
    """Per-layer metrics: the median over traced iterations of each
    per-iteration value; a metric absent from the workload reads 0."""
    spans = {s["id"]: s for s in tracer.spans}
    wall = {sid: s["end"] - s["start"] for sid, s in spans.items()}
    child_wall: dict = defaultdict(float)
    for s in spans.values():
        if s["parent"] is not None:
            child_wall[s["parent"]] += wall[s["id"]]

    def owner(group):
        if not group or not group.startswith("s") or ":" not in group:
            return None, None
        sid, phase = group[1:].split(":", 1)
        return spans.get(int(sid)), phase

    per_iter = [defaultdict(float) for _ in tracer.counters]
    for s in spans.values():
        v = per_iter[s["iteration"]]
        if s["pass"] == "pipeline":
            v[f"{s['name']}.build_s"] += wall[s["id"]] - s["action_s"]
            v[f"{s['name']}.action_s"] += s["action_s"]
            continue
        v[f"{s['name']}_s"] += wall[s["id"]]
        if s["name"] in PIPELINES:
            v[f"{s['name']}.self_s"] += wall[s["id"]] - child_wall[s["id"]]
    for job in jobs:
        s, phase = owner(job["group"])
        if s is None:
            continue
        v = per_iter[s["iteration"]]
        if s["pass"] == "pipeline":
            if phase == "build":
                v[f"{s['name']}.eager_jobs"] += 1
            continue
        v[f"{s['name']}.jobs"] += 1
        v[f"{layer_of(job['site'], s['name'])}.jobs"] += 1
        if phase == "build" and s["name"] not in PIPELINES:
            v[f"{s['name']}.eager_jobs"] += 1
    for t in tasks:
        s, _ = owner(t["group"])
        if s is None or s["pass"] != "layers":
            continue
        v = per_iter[s["iteration"]]
        name, layer = s["name"], layer_of(t["site"], s["name"])
        v[f"{name}.tasks"] += 1
        v[f"{name}.busy_s"] += t["busy_s"]
        v[f"{name}.wait_s"] += t["wait_s"]
        for key in ("bytes_read", "bytes_written"):
            v[f"{name}.{key}"] += t[key]
        v[f"{layer}.gc_s"] += t["gc_s"]
        v[f"{layer}.spill_bytes"] += t["spill_bytes"]
        v[f"{layer}.failed_tasks"] += t["failed"]
    for s in spans.values():
        if s["name"] == "iteration" and s["pass"] == "layers":
            per_iter[s["iteration"]]["trace.total_s"] += wall[s["id"]]
    for v, counters in zip(per_iter, tracer.counters):
        v.update(counters)
        v["sources.tsv_matrix.read_eager_jobs"] = v["sources.tsv_matrix.read.eager_jobs"]
        v["sources.tsv_matrix.bytes_read"] = v["sources.tsv_matrix.read.bytes_read"]
        v["sources.tsv_matrix.bytes_written"] = v["sources.tsv_matrix.write.bytes_written"]
        v["trace.job_s"] = job_s
        v["trace.overhead_s"] = v["trace.total_s"] - job_s

    ok = [v for v, c in zip(per_iter, tracer.counters) if not c.get("failed")] or per_iter
    out = {name: statistics.median(v.get(name, 0.0) for v in ok) for name, _, _ in PER_LAYER}
    out["llmdata.dedup.cc_rounds_spread"] = _spread([v["llmdata.dedup.cc_rounds"] for v in ok])
    out["llmdata.dedup.connected_components.jobs_spread"] = _spread(
        [v["llmdata.dedup.connected_components.jobs"] for v in ok]
    )
    return out
