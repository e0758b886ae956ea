"""One benchmark process: one Spark session driving one workload.

Started by ``run.py`` with the session pinned through the environment.
Runs the first (cold) iteration, prints ``COLD_DONE`` so the parent can
time process start to the end of that iteration, warms up, then, by
``--mode``:

- ``measure``: times iterations for ``--seconds`` in a closed loop (each
  one starts when the previous one has returned);
- ``trace``: runs traced iterations for ``--seconds`` and assembles the
  per-layer metrics from the spans and Spark's event log.

Every iteration's output is checked; the last stdout line is a JSON
summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.getcwd())  # the program's package, at the checkout root

from transcriptomics_data_integration_spark.runtime import cleanup_persisted  # noqa: E402
from transcriptomics_data_integration_spark.session import get_spark  # noqa: E402

import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

WARMUP = 2
MIN_TIMED = 2
MIN_TRACED = 2


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Runner:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        with open(os.path.join(args.in_dir, "truth.json"), encoding="utf-8") as fh:
            self.truth = json.load(fh)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.first_digest = None
        self.persisted: list[int] = []
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{args.workload}")
        self.get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    def _fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(msg)

    def _verify(self, out: dict) -> None:
        errs = self.wl["check"](out, self.truth, self.args.in_dir, self.args.out_dir)
        d = self.wl["digest"](out)
        if self.first_digest is None:
            self.first_digest = d
        elif d != self.first_digest:
            errs.append("output digest differs from the first iteration's")
        if errs:
            self._fail("; ".join(errs))

    def iteration(self, traced=None) -> float | None:
        """One checked iteration; returns its wall seconds, or None if
        it raised.  The program's own end-of-iteration cleanup runs
        after the clock stops; an untraced iteration records how many
        persisted relations it released."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if traced is None:
                out = self.wl["run"](self.spark, self.args.in_dir, self.args.out_dir)
            else:
                out = self.wl["traced"](self.spark, traced, self.args.in_dir, self.args.out_dir)
        except Exception:  # a failed iteration is counted; the run goes on
            self._fail(traceback.format_exc(limit=3))
            return None
        finally:
            dt = time.perf_counter() - t0
            released = cleanup_persisted()
            self.spark.catalog.clearCache()
        if traced is None:
            self.persisted.append(released)
        self._verify(out)
        if traced is not None:
            traced.counters[-1].update(out["counters"])
        return dt

    def warm_up(self) -> list[float]:
        """``WARMUP`` untimed iterations after the cold one.  On a 4-core
        host the last of them still runs ~10 % (0-26 %) slower than the
        timed ones; a longer warm-up does not fit a run's time."""
        return [dt for dt in (self.iteration() for _ in range(WARMUP)) if dt is not None]

    def timed(self) -> list[float]:
        times: list[float] = []
        end = time.perf_counter() + self.args.seconds
        while time.perf_counter() < end or len(times) < MIN_TIMED:
            dt = self.iteration()
            if dt is not None:
                times.append(dt)
            elif self.failed > 2 * MIN_TIMED:
                break
        return times

    def traced(self) -> dict:
        """Traced iterations for ``--seconds``, each after an untraced
        one, so the tracing overhead compares iterations at the same
        point of the JVM's warm-up."""
        tr = spans.Tracer(self.spark.sparkContext)
        untraced: list[float] = []
        end = time.perf_counter() + self.args.seconds
        while time.perf_counter() < end or len(tr.counters) < MIN_TRACED:
            dt = self.iteration()
            if dt is not None:
                untraced.append(dt)
            tr.next_iteration()
            if self.iteration(traced=tr) is None:
                tr.counters[-1]["failed"] = True
            if self.failed > 2 * MIN_TRACED:
                break
        self.spark.sparkContext.setJobGroup("untraced", "outside every span")
        self.stop()
        jobs, tasks = spans.read_event_log(self.args.event_dir)
        metrics = spans.assemble(tr, jobs, tasks, statistics.median(untraced) if untraced else 0.0)
        metrics["session.get_spark_s"] = self.get_spark_s
        metrics["runtime.persisted_relations"] = statistics.median(self.persisted or [0])
        return metrics

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0

    def stop(self) -> None:
        """Stop the session; the JVM exits with this process."""
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--mode", required=True, choices=["measure", "trace"])
    ap.add_argument("--in-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--event-dir")
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    r = Runner(args)
    result: dict = {}
    try:
        r.iteration()
        print("COLD_DONE", flush=True)
        result["warmup_s"] = r.warm_up()
        if args.mode == "measure":
            result["iterations_s"] = r.timed()
            result["peak_rss_mb"] = r.peak_rss_mb()
        else:
            result["per_layer"] = r.traced()
    finally:
        r.stop()
    result.update(attempted=r.attempted, failed=r.failed, errors=r.errors)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
