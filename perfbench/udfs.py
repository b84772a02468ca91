"""The pipeline workload's user functions. They are plain Python, as a
pypeln user writes them; run.py registers this module to be pickled by
value so executors need no copy of the benchmark on their path."""

from __future__ import annotations

import time


def scale(x):
    return 3 * x + 1


def keep(x):
    return x % 5 != 0


def fan_out(x):
    return [x, -x]


def reference(xs):
    """The same pipeline with Python builtins: the pipeline oracle."""
    return [y for x in xs for y in fan_out(scale(x)) if keep(scale(x))]


def counted(fn, calls, seconds):
    """``fn`` feeding two Spark accumulators (traced runs only)."""

    def run(x):
        t = time.perf_counter()
        out = fn(x)
        seconds.add(time.perf_counter() - t)
        calls.add(1)
        return out

    return run
