"""One benchmark run, in a fresh process started by ``run.py``.

Sets up the Spark session (timed from process start), runs the
workload's operations in a closed loop — one client, the next operation
starts when the previous one has finished — checks their outputs outside
the timed region and writes the run record as JSON.

Usage: python3 worker.py <params.json>
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time
import traceback

import tracing

# The harness modules ``checks`` (DuckDB, pyarrow) and ``inputs`` (numpy,
# pyarrow) are imported inside the workloads, after set-up, so that
# ``setup_s`` times the program's start and not the harness's imports.

# Warm-up operations, not measured. Every transfer and every query
# generates code for the JVM's JIT to compile: in an ``etl`` run the
# compilers spend about 13 s in the cold operation, then about 5, 3 and
# 2 s in the next three, and settle near 1 s per operation after that.
# They run beside the four task threads, so early operations are slower.
WARMUP_OPS = 3
# The measuring window: warm operations until their wall times add up to
# ``--seconds``, and at least this many.
MIN_WINDOW_OPS = 3

MIX = ("revenue_by_nation", "near_dup_ngram")


class Etl:
    """One operation is two transfers through ``engine.transfer``:

    * ``csv_parquet``: lineitem CSV with a declared schema (error mode)
      -> four-assignment inline transform -> parquet file;
    * ``parquet_sqlite``: orders parquet file -> two-assignment inline
      transform -> SQLite table, whose driver-side sink dominates.

    Both truncate their target. ``steps_s`` holds each step's wall time
    in the last operation."""

    check_every_op = True

    def __init__(self, spark, p: dict) -> None:
        import checks

        self.spark = spark
        self.csv, self.schema, self.orders = p["csv"], p["schema"], p["orders"]
        self.parquet_out = os.path.join(p["work"], "lineitem_out.parquet")
        self.db = os.path.join(p["work"], "orders_out.db")
        self.want = {
            "csv_parquet": checks.expected_csv_parquet(self.csv),
            "parquet_sqlite": checks.expected_parquet_sqlite(self.orders),
        }
        self.rows = {k: v["rows"] for k, v in self.want.items()}
        self.steps_s: dict[str, float] = {}

    def op(self, i: int) -> dict:
        import inputs
        from tinyetl_spark import engine  # the cold operation pays the import

        self.steps_s = {}
        t0 = time.perf_counter()
        a = engine.transfer(
            self.spark, self.csv, self.parquet_out,
            transform=inputs.CSV_TRANSFORM, schema_file=self.schema,
            truncate=True, on_violation="error",
        ).rows_transferred
        t1 = time.perf_counter()
        self.steps_s["csv_parquet"] = t1 - t0
        b = engine.transfer(
            self.spark, self.orders, f"{self.db}#orders",
            transform=inputs.SQLITE_TRANSFORM, truncate=True,
        ).rows_transferred
        self.steps_s["parquet_sqlite"] = time.perf_counter() - t1
        return {"csv_parquet": a, "parquet_sqlite": b}

    def check(self, result: dict) -> str | None:
        import checks

        if result != self.rows:
            return f"transfers reported {result} rows, want {self.rows}"
        bad = []
        for step, got in (("csv_parquet", checks.parquet_digest(self.parquet_out)),
                          ("parquet_sqlite", checks.sqlite_digest(self.db, "orders"))):
            why = checks.compare_digest(got, self.want[step])
            if why:
                bad.append(f"{step}: {why}")
        return "; ".join(bad) or None


class QueryMix:
    """Passes over MIX; each query is built by its registry function and
    executed with a ``noop`` write. The seed sets the order in each pass."""

    check_every_op = False  # the cold pass and the last pass are checked
    rows = None  # rows_per_s is an ETL figure

    def __init__(self, spark, p: dict, tracer: tracing.Tracer) -> None:
        self.spark, self.tracer, self.base = spark, tracer, p["base"]
        self.data_root = p["data_root"]
        self.rng = random.Random(p["seed"])

    def op(self, i: int) -> dict:
        from tinyetl_spark.queries import QUERIES  # the cold pass pays the import

        order = list(MIX)
        self.rng.shuffle(order)
        dfs = {}
        for name in order:
            with self.tracer.span("queries.construct"):
                df = QUERIES[name](self.spark, self.base)
            with self.tracer.span("queries.exec"):
                df.write.format("noop").mode("overwrite").save()
            dfs[name] = df
        return dfs

    def check(self, result: dict) -> str | None:
        import checks
        from tinyetl_spark.queries import ORACLES

        bad = []
        for name, df in sorted(result.items()):
            want = checks.oracle_digest(name, ORACLES[name], self.base, self.data_root)
            why = checks.compare_result(checks.result_digest(df.toPandas()), want)
            if why:
                bad.append(f"{name}: {why}")
        return "; ".join(bad) or None


def _memo_events() -> list:
    mod = sys.modules.get("tinyetl_spark.queries")
    return mod.MEMO_EVENTS if mod is not None else []


class Runner:
    """Runs a workload's operations closed-loop and keeps one record per
    operation: wall time, error, check result, and its memo and plan
    records (empty when there was nothing to record)."""

    def __init__(self, wl, tracer: tracing.Tracer, spark=None, name: str = "op",
                 trace: bool = False) -> None:
        self.wl, self.tracer, self.spark, self.name = wl, tracer, spark, name
        self.status = tracing.SparkStatus(spark) if trace else None
        self.ops: list[dict] = []
        self.results: dict[int, object] = {}

    def jit_s(self) -> float:
        """Total time the JVM's JIT compilers have spent so far (s)."""
        if self.spark is None:
            return 0.0
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return mf.getCompilationMXBean().getTotalCompilationTime() / 1000

    def _check(self, rec: dict) -> None:
        t0 = time.perf_counter()
        rec["check"] = self.wl.check(self.results[rec["op"]])
        rec["check_s"] = time.perf_counter() - t0

    def run_op(self, i: int, phase: str, traced: bool) -> None:
        group = f"{self.name}:op{i}"
        if self.status is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        if traced:
            self.tracer.install()
        self.tracer.op, self.tracer.write_dfs = i, []
        ev0 = len(_memo_events())
        rec = {"op": i, "phase": phase, "traced": traced, "error": None, "check": None}
        jit0 = self.jit_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                self.results[i] = self.wl.op(i)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            traceback.print_exc()
        rec["wall_s"] = time.perf_counter() - t0
        rec["steps_s"] = dict(getattr(self.wl, "steps_s", {}))
        rec["jit_s"] = self.jit_s() - jit0
        if traced:
            self.tracer.uninstall()
        new = _memo_events()[ev0:]
        rec["memo"] = {
            "built": sorted(m for k, m in new if k == "build"),
            "hit": sorted(m for k, m in new if k == "hit"),
        }
        rec["plan"] = {}
        if self.status is not None:
            rec["jobs"] = self.status.jobs(group)
            result = self.results.get(i)
            dfs = list(result.values()) if isinstance(self.wl, QueryMix) else self.tracer.write_dfs
            for df in dfs:
                rec["plan"] = tracing.add_counts(rec["plan"], tracing.plan_counts(df))
        if rec["error"] is None and self.wl.check_every_op:
            self._check(rec)
            del self.results[i]
        self.ops.append(rec)

    def run(self, seconds: float) -> list[dict]:
        """The cold operation, WARMUP_OPS warm-up operations, then the
        window: operations until their wall times add up to ``seconds``
        (the checks between them do not count), at least MIN_WINDOW_OPS.
        With a status store (traced runs) the cold operation is traced and
        window operations alternate traced / untraced, so the traced run
        also measures its own overhead; warm-up operations are untraced."""
        tracing_on = self.status is not None
        self.run_op(0, "cold", tracing_on)
        for i in range(1, 1 + WARMUP_OPS):
            self.run_op(i, "warmup", False)
        measured, n = 0.0, 0
        while n < MIN_WINDOW_OPS or measured < seconds:
            self.run_op(1 + WARMUP_OPS + n, "window", tracing_on and n % 2 == 0)
            measured += self.ops[-1]["wall_s"]
            n += 1
        if not self.wl.check_every_op:
            for rec in (self.ops[0], self.ops[-1]):
                if rec["error"] is None:
                    self._check(rec)
        return self.ops


def failed_count(ops: list[dict]) -> int:
    return sum(1 for r in ops if r["error"] or r["check"])


def _tree_peak_rss() -> dict[str, float]:
    """Peak resident set (VmHWM, MB) of this process and each of its
    descendants: the Python driver, the JVM and its Python workers. The
    kernel keeps each process's peak, so no sampling can miss one."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    tree, grew = {os.getpid()}, True
    while grew:
        kids = {pid for pid, pp in parent.items() if pp in tree} - tree
        tree |= kids
        grew = bool(kids)
    peaks = {}
    for pid in sorted(tree):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            peaks[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024
    return peaks


def _host(spark, p: dict) -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    conf = dict(spark.sparkContext.getConf().getAll())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "host_mem_mb": mem_kb // 1024,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "seed": p["seed"],
        "git_commit": p["git_commit"],
        "driver_memory": conf.get("spark.driver.memory"),
        "session_conf": conf,
    }


def _layers(ops: list[dict], spans: list[dict]) -> dict:
    """Per-layer metrics: medians over the traced window operations,
    set-up spans from the session, the cold operation's wall time, and
    memo builds and stage time from the cold operation."""
    per_op = {
        r["op"]: tracing.layer_metrics(
            [s for s in spans if s["op"] == r["op"]], r["jobs"], r["plan"], r["memo"])
        for r in ops if r["traced"] and not r["error"]
    }
    warm_ids = [k for k in per_op if k > 0]
    out = {k: statistics.median(per_op[i][k] for i in warm_ids) for k in per_op[warm_ids[0]]}
    out["cold_s"] = ops[0]["wall_s"]
    for step in ("csv_parquet", "parquet_sqlite"):  # 0 on query_mix
        out[f"etl.{step}_s"] = statistics.median(
            r["steps_s"].get(step, 0.0) for r in ops if r["op"] in warm_ids)
    for s in spans:
        if s["name"] in ("session.get_spark", "session.first_action"):
            out[f"{s['name']}_s"] = s["end"] - s["start"]
    if 0 in per_op:  # the build happens in the cold operation
        out["memo.stage_s"] = per_op[0]["memo.stage_s"]
    builds = [len(r["memo"]["built"]) for r in ops]
    hits = sum(len(r["memo"]["hit"]) for r in ops)
    out["memo.builds"] = builds[0]
    out["memo.warm_builds"] = sum(builds[1:])
    out["memo.hit_ratio"] = hits / (hits + sum(builds)) if hits + sum(builds) else 0.0
    window = [r for r in ops if r["phase"] == "window" and not r["error"]]
    traced = [r["wall_s"] for r in window if r["traced"]]
    plain = [r["wall_s"] for r in window if not r["traced"]]
    out["trace.warm_traced_s"] = statistics.median(traced)
    out["trace.warm_untraced_s"] = statistics.median(plain)
    out["trace.overhead_s"] = out["trace.warm_traced_s"] - out["trace.warm_untraced_s"]
    return out


def main(params_path: str) -> int:
    with open(params_path, encoding="utf-8") as fh:
        p = json.load(fh)
    tracer = tracing.Tracer(enabled=bool(p["trace"]))

    # set-up: from process start to the end of the first action
    with tracer.span("session.get_spark"):
        from tinyetl_spark.session import get_spark

        spark = get_spark(app_name="perfbench")
    with tracer.span("session.first_action"):
        spark.range(1).write.format("noop").mode("overwrite").save()
    setup_s = time.time() - p["spawn_time"]

    name = p["workload"]
    wl = Etl(spark, p) if name == "etl" else QueryMix(spark, p, tracer)
    ops = Runner(wl, tracer, spark, name, trace=bool(p["trace"])).run(p["seconds"])

    record = {
        "params": {k: p[k] for k in ("workload", "seed", "seconds", "trace")},
        "host": _host(spark, p),
        "attempted": len(ops),
        "failed": failed_count(ops),
        "setup_s": setup_s,
        "cold_s": ops[0]["wall_s"],
        "warmup_ops": WARMUP_OPS,
        "warm_samples_s": [
            r["wall_s"] for r in ops if r["phase"] == "window" and not r["error"]],
        "rows_per_op": wl.rows,
        "peak_rss_by_process_mb": _tree_peak_rss(),
        "ops": ops,
    }
    if p["trace"]:
        record["spans"] = tracer.spans
        record["layers"] = _layers(ops, tracer.spans)
        record["layers"]["peak_rss_mb"] = sum(record["peak_rss_by_process_mb"].values())
    with open(p["record"], "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    return 0


if __name__ == "__main__":
    rc = main(sys.argv[1])
    # Skip stopping Spark gracefully (about 3 s per run): run.py kills the
    # JVM and its Python workers as soon as this process has exited.
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(rc)
