"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources, all read from outside ``tinyetl_spark``:

* spans — wrappers installed around the public functions of each layer
  record (name, start, end, parent) in memory; they are written out with
  the run record when the run ends;
* Spark's own status store — every operation runs under
  ``setJobGroup("<workload>:<op>")``; its jobs, stages and tasks are read
  after the operation, outside the timed region;
* plan shape — node counts of each operation's physical plan.

``layer_metrics`` turns one operation's spans, jobs, plan counts and
memo events into the per-layer metrics listed in BENCHMARK.json.
"""

from __future__ import annotations

import contextlib
import importlib
import re
import statistics
import time

# (module, attribute, span name). Each layer is wrapped at the attribute
# its caller looks up at call time, so the wrapper sees every call.
WRAPPED = [
    ("tinyetl_spark.engine", "transfer", "engine.transfer"),
    ("tinyetl_spark.engine", "write_target", "engine.write"),
    ("tinyetl_spark.io.files", "read_csv", "io_files.read_csv"),
    ("tinyetl_spark.io.files", "read_parquet", "io_files.read_parquet"),
    ("tinyetl_spark.io.files", "infer_from_string_df", "schema_infer.sample"),
    ("tinyetl_spark.io.files", "write_parquet", "io_files.write_parquet"),
    ("tinyetl_spark.io.sqlite", "write_table", "io_sqlite.write_table"),
    ("tinyetl_spark.validate", "SchemaFile.apply", "validate.apply"),
    ("tinyetl_spark.transforms", "apply_inline", "transforms.compile"),
    ("tinyetl_spark.queries", "_stage_once", "memo.stage"),
]

# Layers whose self time is reported (span name prefix before the dot).
SELF_LAYERS = [
    "engine", "io_files", "schema_infer", "validate", "transforms",
    "io_sqlite", "queries", "memo",
]


class Tracer:
    """In-memory span recorder. ``op`` tags every span with the id of the
    operation that caused it."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self.write_dfs: list = []  # DataFrames handed to engine.write_target
        self._stack: list[int] = []
        self._next_id = 0
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": self._next_id,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "name": name,
            "start": time.time(),
        }
        self._next_id += 1
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def install(self) -> None:
        """Wrap every entry of WRAPPED; ``uninstall`` restores them. This
        imports the wrapped modules, so in a traced run the cold operation
        no longer pays for those imports."""
        for mod_name, attr, span_name in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, leaf)
            self._restore.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrap(orig, span_name))

    def uninstall(self) -> None:
        while self._restore:
            owner, leaf, orig = self._restore.pop()
            setattr(owner, leaf, orig)

    def _wrap(self, fn, span_name: str):
        tracer = self

        def wrapped(*args, **kwargs):
            if span_name == "engine.write":
                tracer.write_dfs.append(args[0])
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped


# ------------------------------------------------------------ status store

class SparkStatus:
    """Reads jobs, stages and task times of one job group from Spark's
    status store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._max_seen = -1

    def jobs(self, group: str) -> list[dict]:
        """Jobs of ``group`` submitted since the previous call."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        found = []
        newest = self._max_seen
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= self._max_seen:
                continue
            newest = max(newest, jid)
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                found.append(j)
        self._max_seen = newest
        seen_stages: set[int] = set()
        out = []
        for j in sorted(found, key=lambda j: j.jobId()):
            sub, done = j.submissionTime(), j.completionTime()
            stages = []
            sids = j.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = _stage(store, sid)
                if st is not None:
                    stages.append(st)
            out.append({
                "job": j.jobId(),
                "submit": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "complete": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "status": j.status().toString(),
                "stages": stages,
            })
        return out


def _stage(store, sid: int) -> dict | None:
    s = store.lastStageAttempt(sid)
    if s.status().toString() == "SKIPPED":
        return None
    tasks = store.taskList(sid, s.attemptId(), 1 << 20)
    run_ms = []
    for k in range(tasks.size()):
        m = tasks.apply(k).taskMetrics()
        if m.isDefined():
            run_ms.append(m.get().executorRunTime())
    return {
        "stage": sid,
        "tasks": s.numTasks(),
        "executor_run_ms": s.executorRunTime(),
        "input_bytes": s.inputBytes(),
        "input_records": s.inputRecords(),
        "output_bytes": s.outputBytes(),
        "shuffle_read_bytes": s.shuffleReadBytes(),
        "shuffle_write_bytes": s.shuffleWriteBytes(),
        "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        "task_run_ms": run_ms,
    }


# -------------------------------------------------------------- plan shape

_NODE_PREFIX = re.compile(r"^[\s:+\-|]*(\*\(\d+\)\s*)?")
PLAN_KINDS = {
    "exchanges": lambda n: n in ("Exchange", "BroadcastExchange"),
    "smj": lambda n: n == "SortMergeJoin",
    "nlj": lambda n: n in ("BroadcastNestedLoopJoin", "CartesianProduct"),
    "python_nodes": lambda n: "Python" in n or "InPandas" in n or "InArrow" in n,
    "scans": lambda n: "Scan" in n,
}


def plan_counts(df) -> dict:
    """Node counts of the physical plan Spark prepares for ``df`` (the
    initial adaptive plan, so the counts repeat exactly run to run)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    counts = dict.fromkeys(PLAN_KINDS, 0)
    for line in text.splitlines():
        node = _NODE_PREFIX.sub("", line).split(" ", 1)[0]
        for kind, match in PLAN_KINDS.items():
            if node and match(node):
                counts[kind] += 1
    return counts


def add_counts(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) + b.get(k, 0) for k in PLAN_KINDS}


# ---------------------------------------------------------- layer metrics

def _union_s(intervals: list[tuple[float, float]]) -> float:
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


def _within(jobs: list[dict], spans: list[dict]) -> list[dict]:
    """Jobs submitted inside any of ``spans`` (status-store times have
    millisecond resolution, hence the small slack)."""
    return [
        j for j in jobs
        if j["submit"] is not None
        and any(s["start"] - 0.002 <= j["submit"] <= s["end"] + 0.002 for s in spans)
    ]


def _job_stats(jobs: list[dict]) -> dict:
    stages = [st for j in jobs for st in j["stages"]]
    tasks = sorted(t for st in stages for t in st["task_run_ms"])
    p50 = statistics.median(tasks) / 1000.0 if tasks else 0.0
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "executor_run_s": sum(st["executor_run_ms"] for st in stages) / 1000.0,
        "task_p50_s": p50,
        "task_max_s": tasks[-1] / 1000.0 if tasks else 0.0,
        "task_skew": (tasks[-1] / 1000.0) / p50 if p50 > 0 else 0.0,
        "input_bytes": sum(st["input_bytes"] for st in stages),
        "input_rows": sum(st["input_records"] for st in stages),
        "output_bytes": sum(st["output_bytes"] for st in stages),
        "shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in stages),
        "shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in stages),
        "spill_bytes": sum(st["spill_bytes"] for st in stages),
    }


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of it
    that its child spans cover, summed by layer."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = dict.fromkeys(SELF_LAYERS, 0.0)
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        if layer not in out:
            continue
        covered = _union_s([(c["start"], c["end"]) for c in children.get(s["id"], [])])
        out[layer] += (s["end"] - s["start"]) - covered
    return out


def layer_metrics(spans: list[dict], jobs: list[dict], plan: dict, memo: dict) -> dict:
    """Per-layer metrics of one operation."""

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(name):
        return sum(s["end"] - s["start"] for s in named(name))

    engine_jobs = _within(jobs, named("engine.transfer"))
    engine = _job_stats(engine_jobs)
    allj = _job_stats(jobs)
    sink_spans = named("io_sqlite.write_table")
    sink_jobs = _within(jobs, sink_spans)
    sink_job_wall = _union_s([
        (j["submit"], j["complete"]) for j in sink_jobs if j["complete"] is not None
    ])
    construct, execute = dur("queries.construct"), dur("queries.exec")
    m = {
        "engine.transfer_s": dur("engine.transfer"),
        "engine.write_s": dur("engine.write"),
        "engine.jobs": engine["jobs"],
        "engine.stages": engine["stages"],
        "engine.executor_run_s": engine["executor_run_s"],
        "engine.task_p50_s": engine["task_p50_s"],
        "engine.task_max_s": engine["task_max_s"],
        "io_files.read_csv_s": dur("io_files.read_csv"),
        "io_files.input_bytes": engine["input_bytes"],
        "io_files.input_rows": engine["input_rows"],
        "io_files.write_parquet_s": dur("io_files.write_parquet"),
        "io_files.output_bytes": _job_stats(
            _within(jobs, named("io_files.write_parquet")))["output_bytes"],
        "schema_infer.sample_s": dur("schema_infer.sample"),
        "validate.apply_s": dur("validate.apply"),
        "transforms.compile_s": dur("transforms.compile"),
        "io_sqlite.write_table_s": dur("io_sqlite.write_table"),
        "io_sqlite.spark_s": _job_stats(sink_jobs)["executor_run_s"],
        "io_sqlite.driver_s": dur("io_sqlite.write_table") - sink_job_wall,
        "queries.construct_s": construct,
        "queries.exec_s": execute,
        "queries.construct_share": construct / (construct + execute)
        if construct + execute > 0 else 0.0,
        "queries.construct_jobs": len(_within(jobs, named("queries.construct"))),
        "memo.stage_s": dur("memo.stage"),
        "memo.hits": len(memo["hit"]),
        "spark.jobs": allj["jobs"],
        "spark.stages": allj["stages"],
        "spark.executor_run_s": allj["executor_run_s"],
        "spark.shuffle_read_bytes": allj["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": allj["shuffle_write_bytes"],
        "spark.spill_bytes": allj["spill_bytes"],
        "spark.task_skew": allj["task_skew"],
    }
    for kind in PLAN_KINDS:
        m[f"plan.{kind}"] = plan.get(kind, 0)
    for layer, v in self_times(spans).items():
        m[f"self.{layer}_s"] = v
    return m
