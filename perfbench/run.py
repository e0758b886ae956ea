"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the workload's inputs from
the seed (untimed), then drives the program in one child process
(``worker.py``): one Spark session on ``local[<cpus>]`` with a fixed
driver heap, one client in a closed loop.

- ``--trace 0`` prints the end-to-end metrics ``job_s``,
  ``input_rows_per_s``, ``setup_s`` (child spawn to the end of its
  first, cold iteration) and ``peak_rss_mb``;
- ``--trace 1`` runs with Spark's event log on and prints the
  per-layer metrics.

Every iteration's output is checked; the last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
All files go under ``.bench_work/`` in the checkout.
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
import threading
import time

import gen
import spans

PACKAGE = "transcriptomics_data_integration_spark"
WORK = ".bench_work"
DRIVER_MEM = "2g"
RUN_DEADLINE_S = 170.0  # the worker is killed past this


def _pinned_env(work: str, trace: bool) -> dict:
    """The session pinned from outside: cores, heap, no progress bar,
    scratch dirs inside the checkout, event log only when tracing."""
    conf = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{work}/events",
            "--conf", "spark.eventLog.compress=false",
        ]
    # a fixed heap, touched at start, so peak RSS does not depend on
    # when the heap happened to grow; no perf-data file outside the checkout
    conf += [
        "--driver-java-options",
        f"'-Djava.io.tmpdir={work}/tmp -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData'",
    ]
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_SUBMIT_ARGS=" ".join(conf + ["pyspark-shell"]),
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        TMPDIR=f"{work}/tmp",
        PYTHONUNBUFFERED="1",
    )
    return env


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _reap(proc: subprocess.Popen) -> None:
    """Wait until every process of the child's group (its JVM and
    Python workers) has ended; kill what is left after a grace period."""
    proc.wait()
    grace = time.perf_counter() + 20.0
    while _group_alive(proc.pid):
        if time.perf_counter() > grace:
            _kill_group(proc.pid)
        time.sleep(0.1)


def _run_child(args, work: str) -> tuple[float, dict]:
    """Run one worker; returns (seconds from spawn to the end of its
    cold iteration, its JSON summary)."""
    mode = "trace" if args.trace else "measure"
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = [
        sys.executable, os.path.join(here, "worker.py"),
        "--workload", args.workload, "--mode", mode,
        "--in-dir", f"{work}/inputs", "--out-dir", f"{work}/out",
        "--event-dir", f"{work}/events", "--seconds", str(args.seconds),
    ]
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, text=True,
        env=_pinned_env(work, args.trace), start_new_session=True,
    )
    # the whole run must end in time: past the deadline, kill the group
    watchdog = threading.Timer(RUN_DEADLINE_S, _kill_group, (proc.pid,))
    watchdog.start()
    cold_s, last = None, ""
    try:
        for line in proc.stdout:
            if line.strip() == "COLD_DONE" and cold_s is None:
                cold_s = time.perf_counter() - t0
            elif line.strip():
                last = line
    finally:
        watchdog.cancel()
        _reap(proc)
    if proc.returncode != 0 or cold_s is None:
        raise RuntimeError(f"{mode} worker failed with exit code {proc.returncode}")
    return cold_s, json.loads(last)


def end_to_end(iterations_s: list[float], input_rows: int, setup_s: float, peak_rss_mb: float) -> dict:
    """The end-to-end metrics of one measuring run."""
    job_s = statistics.median(iterations_s)
    return {
        "job_s": {"value": job_s, "unit": "s"},
        "input_rows_per_s": {"value": input_rows / job_s, "unit": "rows/s"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"error: run from a checkout root holding {PACKAGE}/", file=sys.stderr)
        return 2

    work = os.path.abspath(os.path.join(WORK, args.workload))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("inputs", "out", "events", "tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    inputs = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
    print("inputs " + json.dumps(inputs), flush=True)

    setup_s, child = _run_child(args, work)
    print("worker " + json.dumps(child), file=sys.stderr)
    if args.trace:
        metrics = {
            name: {"value": child["per_layer"][name], "unit": unit}
            for name, unit, _ in spans.PER_LAYER
        }
    else:
        metrics = end_to_end(
            child["iterations_s"], inputs["input_rows"], setup_s, child["peak_rss_mb"]
        )
    attempted, failed = child["attempted"], child["failed"]
    for err in child["errors"]:
        print(f"check failed: {err}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} failed_ratio = {failed / attempted:.6g} ({failed}/{attempted} iterations)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
