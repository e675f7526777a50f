#!/usr/bin/env python3
"""The repository benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run

1. makes its inputs from the seed under ``perfbench/.data`` and
   ``perfbench/.work`` (not timed);
2. starts ``worker.py`` in a fresh process, which sets up a
   ``local[4]`` Spark session, runs one cold operation, three warm-up
   operations and then warm operations until they add up to
   ``--seconds`` (at least three), and checks every output it is asked
   to check;
3. kills what is left of the worker's process tree once it has exited;
4. prints a readable summary (``cold_s``, and ``rows_per_s`` for the
   ``etl`` workload), then as its last line one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
   the metrics are the end-to-end metrics of BENCHMARK.json, with
   ``--trace 1`` its per-layer metrics.

The full run record (host, session configuration, every operation with
its memo and plan record, spans when traced) is written to
``perfbench/out/<workload>-seed<n>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402

DEADLINE_S = 170.0  # the whole run, preparation included


def _spec() -> dict:
    """BENCHMARK.json: the workloads and each metric's name and unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _session_procs(sid: int) -> list[int]:
    """Pids of the live (not zombie) processes whose session id is ``sid``."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(d))
    return pids


def _kill_session(sid: int) -> None:
    """Kill every process left in the session and wait until all are gone."""
    for pid in _session_procs(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while _session_procs(sid):
        time.sleep(0.05)


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head, encoding="ascii") as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    ref_path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(ref_path):
        with open(ref_path, encoding="ascii") as fh:
            return fh.read().strip()
    return None


def _prepare(args, work: str) -> dict:
    data_root = os.path.join(HERE, ".data")
    os.makedirs(data_root, exist_ok=True)
    base = inputs.base_dir(data_root)
    p = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "base": base, "data_root": data_root, "work": work,
        "git_commit": _git_commit(),
        "record": os.path.join(
            HERE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
    }
    if args.workload == "etl":
        p["csv"], p["schema"] = inputs.write_lineitem_csv(base, args.seed, work)
        p["orders"] = inputs.write_orders_parquet(base, args.seed, work)
    return p


def _child_env(work: str) -> dict:
    """Keep every file the run writes inside the checkout: temp files,
    Spark scratch space and the JVM's temp dir (``-XX:-UsePerfData``
    stops the JVM writing its perf-data file to /tmp). Fix Python's
    string hashing, as Spark deployments do for their Python workers,
    so that set and dict order, and with it the plans the program
    builds, are the same in every run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(min(4, len(os.sched_getaffinity(0)))),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TZ": "UTC",
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
    })
    return env


def _run_worker(p: dict, work: str, deadline: float) -> int:
    """Run worker.py and return its exit code; leave no process behind."""
    params_path = os.path.join(work, "params.json")
    p["spawn_time"] = time.time()
    with open(params_path, "w", encoding="utf-8") as fh:
        json.dump(p, fh)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), params_path],
        cwd=work, env=_child_env(work), stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True,
    )
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its deadline", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        _kill_session(proc.pid)


def _summary(rec: dict, metrics: dict, trace: int) -> list[str]:
    warm = rec["warm_samples_s"]
    n = len(warm)
    # highest percentile with at least ten samples beyond it
    pct = int(100 * (1 - 10 / n)) if n >= 20 else None
    lines = [
        f"workload {rec['params']['workload']} seed {rec['params']['seed']} "
        f"trace {trace}: attempted {rec['attempted']} failed {rec['failed']} "
        f"failed_ratio {rec['failed'] / rec['attempted']:.4f} (ratio)",
        f"cold_s {rec['cold_s']:.6g} s (the first operation; one sample per run)",
        f"warm samples n={n} after {rec['warmup_ops']} warm-up operations; "
        "highest supported percentile: "
        + (f"p{pct}" if pct else "none (needs >= 20 samples)")
        + f"; max {max(warm) if warm else float('nan'):.4f} s",
        f"peak_rss_mb {sum(rec['peak_rss_by_process_mb'].values()):.6g} MB",
    ]
    rows = rec["rows_per_op"]
    if rows and n:  # the ETL workload only
        lines.append(f"rows_per_s {sum(rows.values()) / statistics.median(warm):.6g} rows/s")
        window = [r for r in rec["ops"] if r["phase"] == "window" and not r["error"]]
        for step, k in rows.items():
            step_s = statistics.median(r["steps_s"][step] for r in window)
            lines.append(f"rows_per_s.{step} {k / step_s:.6g} rows/s "
                         f"(median step time {step_s:.4f} s)")
    for r in rec["ops"]:
        if r["error"] or r["check"]:
            lines.append(f"op {r['op']} FAILED: {r['error'] or r['check']}")
    lines += [f"{k} {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
    return lines


def main(argv: list[str] | None = None) -> int:
    spec = _spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    # on SIGTERM, unwind through _run_worker's cleanup so no process is left
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "tinyetl_spark")):
        print(f"perfbench: no tinyetl_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    p = _prepare(args, work)
    rc = _run_worker(p, work, deadline)
    if rc != 0:
        print(f"perfbench: worker exited with {rc}", file=sys.stderr)
        return 1
    with open(p["record"], encoding="utf-8") as fh:
        rec = json.load(fh)
    if not rec["warm_samples_s"]:
        print("perfbench: no warm operation succeeded", file=sys.stderr)
        return 1

    if args.trace:
        values, wanted = rec["layers"], spec["per_layer"]
    else:
        values = {
            "setup_s": rec["setup_s"],
            "cold_s": rec["cold_s"],
            "warm_s": statistics.median(rec["warm_samples_s"]),
        }
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for line in _summary(rec, metrics, args.trace):
        print(line)
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
