"""Measurement from outside the program.

- ``EpochListener``: a StreamingQueryListener recording each micro-batch's
  ``durationMs`` breakdown. Spark posts these events either way, so it is
  on in untraced runs too.
- ``Spans``: timing wrappers installed around public library callables
  (traced runs only) and removed afterwards.
- ``SparkTotals``: job, stage and task metrics summed from the Spark status
  REST API, which exists only when the UI is on (traced runs only).
- ``host_snapshot``: CPU steal and PSI stall counters of the host.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import socket
import time
import urllib.request
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class EpochListener(StreamingQueryListener):
    def __init__(self):
        self.epochs = []  # (end_time_s, durationMs dict) of batches with input

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if not p.numInputRows:
            return
        d = dict(p.durationMs)
        start = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        start = start.replace(tzinfo=dt.timezone.utc).timestamp()
        self.epochs.append((start + d.get("triggerExecution", 0) / 1000.0, d))


class Spans:
    """Accumulated wall time and call count per wrapped callable."""

    def __init__(self):
        self.s = defaultdict(float)
        self.n = defaultdict(int)
        self._undo = []

    def wrap(self, owner, attr, key):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*a, **kw):
            t = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                self.s[key] += time.perf_counter() - t
                self.n[key] += 1

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, orig))

    def count_builds(self, owner, attr, counts, key):
        """Wrap a session cache ``owner.attr(..., build)`` whose last
        argument builds the value on a miss: count ``key.builds`` when
        ``build`` ran and ``key.hits`` when it did not."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def counted(*a):
            built = []

            def build():
                built.append(True)
                return a[-1]()

            out = orig(*a[:-1], build)
            counts[f"{key}.builds" if built else f"{key}.hits"] += 1
            return out

        setattr(owner, attr, counted)
        self._undo.append((owner, attr, orig))

    def unwrap(self):
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


class SparkTotals:
    """Sums over the jobs and stages the status API has recorded."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.tracker = sc.statusTracker()

    def _get(self, path):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout=30.0):
        """Wait until the status store has seen every job finish."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if not self.tracker.getActiveJobsIds():
                jobs = self._get("/jobs")
                if all(j["status"] != "RUNNING" for j in jobs):
                    return
            time.sleep(0.2)

    def snapshot(self):
        self.settle()
        jobs = self._get("/jobs")
        stages = self._get("/stages?status=complete&status=failed")
        out = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 2**20,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / 2**20,
        }
        return out


def _proc_steal_ticks():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _psi_cpu_some_us():
    try:
        with open("/proc/pressure/cpu") as f:
            return int(f.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return 0


def host_id():
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            boot = f.read().strip()[:8]
    except OSError:
        boot = "?"
    return f"{socket.gethostname()}-{boot}"


def host_snapshot():
    return {"t": time.time(), "steal_ticks": _proc_steal_ticks(), "psi_us": _psi_cpu_some_us()}


def host_delta(a, b):
    return {
        "steal_ticks": b["steal_ticks"] - a["steal_ticks"],
        "steal_s": (b["steal_ticks"] - a["steal_ticks"]) / os.sysconf("SC_CLK_TCK"),
        "psi_stall_s": (b["psi_us"] - a["psi_us"]) / 1e6,
        "span_s": b["t"] - a["t"],
    }
