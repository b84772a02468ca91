"""The benchmark's workloads. Each one drives the library only through
its public entry points, checks every output against an oracle, and
returns per-operation timings.

- ``batch``: the pypeln operator surface on seeded Python ints, then
  registry batch entries across the relational, text and similarity
  layers.
- ``ingest``: the registry's durable streaming text ingest gate.

An operation is one complete unit of user work: one pipeline drained and
one pass over the batch entries, or one ingest stream run to completion.
"""

from __future__ import annotations

import random
import statistics
import time
import traceback
from collections import Counter

import pypeln_spark as pl
from pypeln_spark import streaming as ST
from pypeln_spark.ext import dedup as D
from pypeln_spark.ext import similarity as S
from pypeln_spark.queries import REGISTRY

from . import gen, oracle, udfs
from .trace import EpochListener, Spans

BUILD_GROUP = "perfbench-build"


class Ops:
    """Outcome tallies: every checked output is one attempted operation;
    an exception or an oracle mismatch is one failure."""

    def __init__(self, log):
        self.attempted = 0
        self.failed = 0
        self.log = log

    def check(self, name, got_rows, want_rows):
        self.attempted += 1
        if got_rows != want_rows:
            self.failed += 1
            self.log(f"MISMATCH {name}: {len(got_rows)} rows vs {len(want_rows)} expected")

    def error(self, name):
        self.attempted += 1
        self.failed += 1
        self.log(f"ERROR {name}:\n{traceback.format_exc()}")


class Workload:
    name = ""

    def __init__(self, spark, input_root, seed, traced, log, sizes=None):
        self.spark = spark
        self.input_root = input_root
        self.seed = seed
        self.traced = traced
        self.log = log
        self.sizes = dict(self.SIZES, **(sizes or {}))
        self.ops = Ops(log)
        self.spans = Spans()
        self.counts = Counter()
        self.listener = EpochListener()
        spark.streams.addListener(self.listener)
        self.epoch_s = []

    def prepare(self):
        """Make the inputs and the expected outputs (untimed)."""

    def instrument(self):
        """Install the traced run's spans."""

    def seeded_dir(self):
        docs, orders = self.sizes["docs"], self.sizes["orders"]
        return gen.generate(
            f"{self.input_root}/seed{self.seed}-d{docs}-o{orders}", self.seed, docs, orders
        )

    def run_op(self):
        """One timed operation -> {"wall_s", "first_out_s", ...}."""
        raise NotImplementedError

    def begin_timed(self):
        """Forget what the warm-up recorded."""
        self.spans.s.clear()
        self.spans.n.clear()
        self.counts.clear()

    def build_jobs(self):
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(BUILD_GROUP))

    def _building(self, on):
        """Tag the jobs run while plans are built (traced runs only)."""
        if not self.traced:
            return
        sc = self.spark.sparkContext
        if on:
            sc.setJobGroup(BUILD_GROUP, "perfbench plan construction")
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def extra(self):
        """Per-layer seconds that are not span totals (traced run)."""
        return {}

    def close(self):
        self.spans.unwrap()
        self.spark.streams.removeListener(self.listener)


class Ingest(Workload):
    name = "ingest"
    ENTRY = "streaming_incremental_dedup_durable"
    SIZES = {"docs": 120, "orders": 1500}
    SMOKE = {"docs": 60, "orders": 150}

    def prepare(self):
        d = self.input_dir = self.seeded_dir()
        self.want, pdf = oracle.expected(d, self.ENTRY, REGISTRY[self.ENTRY].oracle)
        gen.check_traffic(pdf)

    def plant_wrong_row(self):
        cols, rows = self.want
        self.want = (cols, [tuple(("i", -1) if i == 0 else v for i, v in enumerate(rows[0]))] + rows[1:])

    def instrument(self):
        sp = self.spans
        sp.wrap(ST, "staged_foreach_batch", "streaming.harness_s")
        sp.wrap(D.TextIngestGate, "__call__", "gate.call_s")
        sp.wrap(D.IncrementalLshIndex, "absorb", "index.absorb_s")
        sp.wrap(D.IncrementalLshIndex, "absorb_combined", "index.absorb_s")
        sp.wrap(D.IncrementalLshIndex, "compact", "index.compact_s")

    def run_op(self):
        q = REGISTRY[self.ENTRY]
        n0 = len(self.listener.epochs)
        staged0 = self.spans.s["streaming.harness_s"]
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            pdf = q.fn(self.spark, self.input_dir).toPandas()
        except Exception:
            self.ops.error(self.ENTRY)
            return None
        t1 = time.perf_counter()
        self.ops.check(self.ENTRY, oracle.normalize(pdf)[1], self.want[1])
        time.sleep(0.05)  # let the listener bus deliver the last progress event
        epochs = self.listener.epochs[n0:]
        first = (epochs[0][0] - wall0) if epochs else (t1 - t0)
        self.counts.update({
            "streaming.epochs": len(epochs),
            "gate.decisions": len(pdf),
            "gate.dups": int(pdf["dup_of"].notna().sum()),
        })
        sp = self.spans.s
        for _, d in epochs:
            sp["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
            sp["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            sp["streaming.wal_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            sp["streaming.planning_s"] += (
                d.get("queryPlanning", 0) + d.get("getBatch", 0) + d.get("latestOffset", 0)
            ) / 1e3
        self.epoch_s += [d.get("triggerExecution", 0) / 1e3 for _, d in epochs]
        # driver-side work outside the stream: index set-up and final read
        build = (t1 - t0) - (sp["streaming.harness_s"] - staged0)
        return {"wall_s": t1 - t0, "first_out_s": first, "build_s": build}

    def begin_timed(self):
        super().begin_timed()
        self.epoch_s = []

    def extra(self):
        out = {}
        if self.epoch_s:
            out["streaming.epoch_p50_s"] = statistics.median(self.epoch_s)
        sp = self.spans
        if self.traced:
            out["streaming.harness_s"] = sp.s["streaming.harness_s"] - sp.s["streaming.trigger_s"]
            self.counts["index.absorbs"] = sp.n["index.absorb_s"]
            self.counts["index.compactions"] = sp.n["index.compact_s"]
        return out


class Batch(Workload):
    """One operation = the pypeln pipeline on seeded ints, then the
    registry batch entries, each output checked."""

    name = "batch"
    ENTRIES = (
        "q18_large_volume_customers",
        "search_bm25_topk",
        "ann_ivf_kmeans_topk",
    )
    SIZES = {"n": 10000, "docs": 120, "orders": 1500}
    SMOKE = {"n": 300, "docs": 60, "orders": 150}

    def prepare(self):
        rng = random.Random(self.seed)
        self.xs = [rng.randrange(-(10**9), 10**9) for _ in range(self.sizes["n"])]
        self.want_pipeline = udfs.reference(self.xs)
        self.fns = (udfs.scale, udfs.keep, udfs.fan_out)
        d = self.input_dir = self.seeded_dir()
        self.want = {e: oracle.expected(d, e, REGISTRY[e].oracle)[0] for e in self.ENTRIES}

    def plant_wrong_row(self):
        self.want_pipeline = [self.want_pipeline[0] + 1] + self.want_pipeline[1:]

    def instrument(self):
        sc = self.spark.sparkContext
        self.udf_calls = sc.accumulator(0)
        self.udf_s = sc.accumulator(0.0)
        self.fns = tuple(udfs.counted(f, self.udf_calls, self.udf_s) for f in self.fns)
        for attr in ("trained_artifact", "cached_index"):
            self.spans.count_builds(S, attr, self.counts, "similarity.artifact")

    def pipeline(self, mode=pl.process):
        """from_iterable -> map -> filter -> flat_map -> ordered ->
        to_iterable(maxsize=1), drained; returns (t0, first, t_build, t_end)."""
        scale, keep, fan_out = self.fns
        t0 = time.perf_counter()
        try:
            self._building(True)
            s = pl.from_iterable(self.xs)
            t1 = time.perf_counter()
            s = mode.map(scale, s)
            s = mode.filter(keep, s)
            s = mode.flat_map(fan_out, s)
            s = pl.ordered(s)
            self._building(False)
            t2 = time.perf_counter()
            got = []
            first = None
            for v in pl.to_iterable(s, maxsize=1):
                if first is None:
                    first = time.perf_counter()
                got.append(v)
            t3 = time.perf_counter()
        except Exception:
            self._building(False)
            self.ops.error("pipeline")
            return None
        self.ops.check("pipeline", got, self.want_pipeline)
        first = first if first is not None else t3
        if mode is pl.process:
            sp = self.spans.s
            sp["from_iterable.s"] += t1 - t0
            sp["operators.build_s"] += t2 - t0
            sp["to_iterable.first_s"] += first - t2
            sp["to_iterable.drain_s"] += t3 - first
        return t0, first, t2 - t0, t3

    def run_op(self):
        t0 = time.perf_counter()
        p = self.pipeline()
        first, build = (p[1], p[2]) if p else (None, 0.0)
        for e in self.ENTRIES:
            try:
                ta = time.perf_counter()
                self._building(True)
                df = REGISTRY[e].fn(self.spark, self.input_dir)
                self._building(False)
                tb = time.perf_counter()
                pdf = df.toPandas()
                tc = time.perf_counter()
            except Exception:
                self._building(False)
                self.ops.error(e)
                continue
            self.ops.check(e, oracle.normalize(pdf)[1], self.want[e][1])
            build += tb - ta
            sp = self.spans.s
            sp[f"batch.{e}_s"] += tc - ta
            sp["queries.build_s"] += tb - ta
            sp["queries.exec_s"] += tc - tb
            first = tc if first is None else first
        t1 = time.perf_counter()
        first = first if first is not None else t1
        return {"wall_s": t1 - t0, "first_out_s": first - t0, "build_s": build}

    def begin_timed(self):
        super().begin_timed()
        if self.traced:
            self.udf0 = (self.udf_calls.value, self.udf_s.value)

    def extra(self):
        out = {}
        if self.traced:
            out["harness.udf_s"] = self.udf_s.value - self.udf0[1]
            self.counts["harness.udf_calls"] = self.udf_calls.value - self.udf0[0]
            # the single-partition pl.sync baseline, once
            p = self.pipeline(mode=pl.sync)
            if p:
                out["modes.sync_wall_s"] = p[3] - p[0]
        return out


WORKLOADS = {w.name: w for w in (Batch, Ingest)}
