"""Lifecycle, dependency-injection, timeout and async-mode contracts —
the reference's behavioral micro-contracts (SURVEY.md §5) re-expressed:

- on_start returns resources consumed by name  (map_process_test.py:97-119)
- worker_info injection                        (map_process_test.py:79-94)
- timeout drops exactly the slow element       (map_process_test.py:63-76)
- error type surfaces on the driver            (map_process_test.py:168-182)
- task mode runs async fns with concurrency    (task/api/map_task_test.py)
"""

import time

import pytest

import pypeln_spark as pl


def test_on_start_resources_injected(spark):
    def on_start():
        return {"factor": 10}

    def f(x, factor):
        return x * factor

    out = sorted(pl.map(f, [1, 2, 3], on_start=on_start, returns="long"))
    assert out == [10, 20, 30]


def test_on_start_worker_info_and_on_done(spark, tmp_path):
    marker = tmp_path / "done"

    def on_start(worker_info):
        assert worker_info.index >= 0
        return {"wid": worker_info.index}

    def on_done(stage_status):
        assert stage_status.done
        marker.write_text("yes")  # local mode: executor shares our fs

    def f(x, wid):
        return wid >= 0

    out = list(pl.map(f, [1, 2, 3], on_start=on_start, on_done=on_done, returns="boolean"))
    assert out == [True, True, True]
    assert marker.read_text() == "yes"


def test_stage_status_real_counts(spark, tmp_path):
    """on_done(stage_status) carries LIVE per-worker counters, not
    constants (reference: worker.py:189-214 keeps real bookkeeping):
    summing `processed` across workers recovers the exact element count,
    and each worker reports its own partition id. Covers both the scalar
    harness (pl.map) and the row harness (map_rows via process.map over a
    table stage is scalar too, so exercise map_rows through relational
    group-less row mapping)."""
    import json

    out_dir = tmp_path / "status"
    out_dir.mkdir()

    def on_done(stage_status, worker_info):
        assert stage_status.done and stage_status.active_workers == 0
        assert stage_status.partition == worker_info.index
        p = out_dir / f"w{worker_info.index}.json"
        p.write_text(json.dumps({"processed": stage_status.processed}))

    n = 40
    got = sorted(
        pl.map(lambda x: x * 2, list(range(n)), on_done=on_done, returns="long")
    )
    assert got == [2 * i for i in range(n)]
    counts = [
        json.loads(p.read_text())["processed"] for p in out_dir.glob("w*.json")
    ]
    # every element was counted by exactly one worker, live, executor-side
    assert sum(counts) == n and all(c >= 0 for c in counts)

    # row harness (map_rows) keeps the same contract
    row_dir = tmp_path / "status_rows"
    row_dir.mkdir()

    def on_done_rows(stage_status):
        (row_dir / f"w{stage_status.partition}.json").write_text(
            json.dumps({"processed": stage_status.processed})
        )

    df = spark.createDataFrame([(i,) for i in range(17)], "v long").repartition(4)
    out = pl.map_rows(
        lambda r: {"v": r["v"] + 1},
        pl.to_stage(df),
        on_done=on_done_rows,
        returns="v long",
    )
    assert sorted(r.v for r in out.df.collect()) == list(range(1, 18))
    row_counts = [
        json.loads(p.read_text())["processed"] for p in row_dir.glob("w*.json")
    ]
    assert sum(row_counts) == 17


def test_element_index_injection(spark):
    def f(x, element_index):
        return list(element_index)

    out = pl.map(f, ["a", "b", "c"], returns="array<long>") | pl.ordered() | list
    assert out == [[0], [1], [2]]


def test_timeout_drops_slow_element(spark):
    def f(x):
        if x == 2:
            time.sleep(5)
        return x

    out = sorted(pl.map(f, list(range(10)), timeout=1.0, returns="long"))
    assert out == [0, 1, 3, 4, 5, 6, 7, 8, 9]


def test_error_propagates_with_type(spark):
    def boom(x):
        if x == 3:
            raise ValueError("boom")
        return x

    with pytest.raises(Exception) as exc_info:
        # returns hint prevents the driver-side sample call from raising first
        list(pl.map(boom, [3, 3, 3], returns="long"))
    assert "ValueError" in str(exc_info.value) or "boom" in str(exc_info.value)


def test_task_mode_async_fn(spark):
    import asyncio

    async def f(x):
        await asyncio.sleep(0.01)
        return x * 2

    out = sorted(pl.task.map(f, [1, 2, 3, 4], workers=4, returns="long"))
    assert out == [2, 4, 6, 8]


def test_task_mode_async_concurrency_wall_clock(spark):
    import asyncio

    async def f(x):
        await asyncio.sleep(0.5)
        return x

    data = list(range(32))
    t0 = time.time()
    out = sorted(pl.task.map(f, data, workers=64, returns="long"))
    elapsed = time.time() - t0
    assert out == data
    # 32 × 0.5s sleeps across 8 partitions with in-partition concurrency:
    # sequential would be ≥2s per partition; concurrent ≈0.5s + overhead
    assert elapsed < 8, f"async concurrency not effective: {elapsed:.1f}s"


def test_task_mode_async_flat_map_gen(spark):
    async def gen(x):
        yield x
        yield x + 100

    out = sorted(pl.task.flat_map(gen, [1, 2], returns="long"))
    assert out == [1, 2, 101, 102]


def test_task_mode_timeout(spark):
    import asyncio

    async def f(x):
        if x == 1:
            await asyncio.sleep(5)
        return x

    out = sorted(pl.task.map(f, [0, 1, 2], timeout=1.0, returns="long"))
    assert out == [0, 2]


def test_task_mode_filter_timeout_drops_element(spark):
    """ADVICE r1: timeout must apply to async filter predicates too — the
    timed-out element is dropped, matching the sync watchdog."""
    import asyncio

    async def pred(x):
        if x == 1:
            await asyncio.sleep(5)
        return True

    out = sorted(pl.task.filter(pred, [0, 1, 2], timeout=1.0))
    assert out == [0, 2]


def test_task_mode_async_filter_element_index(spark):
    """Async predicates get element_index injected, like every other mode."""

    async def keep(x, element_index):
        return element_index[0] % 2 == 0

    assert list(pl.task.filter(keep, list("abcd")) | pl.ordered()) == ["a", "c"]


def test_task_mode_async_gen_timeout_drops_element(spark):
    """ADVICE r1: the async-generator flat_map path gets one timeout budget
    for the whole generator consumption."""
    import asyncio

    async def gen(x):
        yield x
        if x == 1:
            await asyncio.sleep(5)
            yield -1
        yield x + 100

    out = sorted(pl.task.flat_map(gen, [0, 1, 2], timeout=1.0, returns="long"))
    assert out == [0, 2, 100, 102]


def test_array_values_reach_f_as_lists(spark):
    """f gets Python lists for array values, nested ones included, both
    inside a fused chain and across an Arrow boundary (a Stage(df) with an
    array ``value`` column)."""
    fused = pl.map(lambda x: x + [0], pl.map(lambda x: [x, x], [1, 2]))
    assert list(fused | pl.ordered()) == [[1, 1, 0], [2, 2, 0]]

    df = spark.createDataFrame(
        [([[1], [2, 3]], {"k": [4]})], "value array<array<long>>, m map<string,array<long>>"
    )
    nested = pl.to_stage(df.select("value"))
    assert list(pl.map(lambda x: x + [[0]], nested)) == [[[1], [2, 3], [0]]]
    kinds = pl.map(lambda x: [type(x).__name__, type(x[0]).__name__], nested)
    assert list(kinds) == [["list", "list"]]
    mapped = pl.to_stage(df.select(df.m.alias("value")))
    assert list(pl.map(lambda d: d["k"] + [5], mapped)) == [[4, 5]]


def test_thread_mode_concurrent_io(spark):
    def f(x):
        time.sleep(0.3)
        return x

    data = list(range(16))
    t0 = time.time()
    out = sorted(pl.thread.map(f, data, workers=16, returns="long"))
    elapsed = time.time() - t0
    assert out == data
    assert elapsed < 6, f"thread concurrency not effective: {elapsed:.1f}s"


def test_fused_chain_lifecycle_per_op(spark, tmp_path):
    """A fused chain runs every op's on_start/on_done once per partition,
    and each op's summed stage_status.processed equals that op's input."""
    import json

    def hooks(op):
        def record(event, partition, processed):
            with open(tmp_path / f"{op}.{event}.{partition}", "a") as fh:
                fh.write(json.dumps(processed) + "\n")

        def on_start(worker_info):
            record("start", worker_info.index, 0)

        def on_done(stage_status, worker_info):
            record("done", worker_info.index, stage_status.processed)

        return {"on_start": on_start, "on_done": on_done}

    n = 24
    src = pl.from_iterable(range(n))
    parts = src.df.rdd.getNumPartitions()
    st = (
        src
        | pl.map(lambda x: x + 1, returns="long", **hooks("map"))
        | pl.thread.filter(lambda x: x % 2 == 0, workers=2, **hooks("filter"))
        | pl.flat_map(lambda x: [x, x], returns="long", **hooks("flat_map"))
    )
    assert st.df._jdf.queryExecution().executedPlan().toString().count("MapInPandas") == 1
    assert sorted(st) == sorted(y for x in range(1, n + 1) if x % 2 == 0 for y in (x, x))

    inputs = {"map": n, "filter": n, "flat_map": n // 2}
    for op, n_in in inputs.items():
        for event in ("start", "done"):
            files = sorted(tmp_path.glob(f"{op}.{event}.*"))
            assert sorted(int(f.suffix[1:]) for f in files) == list(range(parts)), (op, event)
            lines = [f.read_text().splitlines() for f in files]
            assert all(len(ls) == 1 for ls in lines), (op, event, lines)
        processed = [json.loads(f.read_text()) for f in tmp_path.glob(f"{op}.done.*")]
        assert sum(processed) == n_in, (op, processed)


def test_fused_chain_middle_op_timeout_and_error(spark):
    """Inside one fused chain a timeout in the middle op drops only that
    element, and an exception in the middle op surfaces its type."""

    def slow(x):
        if x == 2:
            time.sleep(5)
        return x * 10

    st = pl.map(lambda x: x, list(range(6)), returns="long")
    out = st | pl.map(slow, timeout=1.0, returns="long") | pl.map(lambda x: x + 1, returns="long")
    assert sorted(out) == [1, 11, 31, 41, 51]

    def boom(x):
        if x == 3:
            raise KeyError("middle")
        return x

    bad = st | pl.map(boom, returns="long") | pl.map(lambda x: x + 1, returns="long")
    with pytest.raises(Exception) as exc_info:
        list(bad)
    assert "KeyError" in str(exc_info.value)


def test_map_rows_with_inference_and_lifecycle(spark, sf_dir):
    import pypeln_spark as pl
    from pypeln_spark.queries.base import load_table

    nation = load_table(spark, sf_dir, "nation")

    def on_start():
        return {"prefix": "N:"}

    def f(row, prefix):
        return {"key": row["n_nationkey"], "tag": prefix + row["n_name"]}

    out = pl.map_rows(f, nation, on_start=on_start)  # schema inferred
    rows = {r.key: r.tag for r in out.df.collect()}
    assert len(rows) == 25 and rows[0].startswith("N:")


def test_map_rows_timeout_drops_row(spark, sf_dir):
    import time

    import pypeln_spark as pl
    from pypeln_spark.queries.base import load_table

    nation = load_table(spark, sf_dir, "nation")

    def f(row):
        if row["n_nationkey"] == 3:
            time.sleep(5)
        return {"key": row["n_nationkey"]}

    out = pl.map_rows(f, nation, timeout=1.0, returns="key long")
    keys = {r.key for r in out.df.collect()}
    assert 3 not in keys and len(keys) == 24


def test_shared_counter_and_broadcast(spark):
    import pypeln_spark as pl

    acc = pl.shared.counter(spark)
    lookup = pl.shared.broadcast_value(spark, {1: "a", 2: "b"})

    def f(x):
        acc.add(1)
        return lookup.value.get(x, "?")

    out = sorted(pl.map(f, [1, 2, 3], returns="string"))
    assert out == ["?", "a", "b"]
    assert acc.value == 3


def test_shared_dict_counter(spark):
    import pypeln_spark as pl

    acc = pl.shared.dict_counter(spark)

    def f(x):
        acc.add({"even" if x % 2 == 0 else "odd": 1})
        return x

    pl.run(pl.map(f, list(range(10)), returns="long"))
    assert acc.value == {"even": 5, "odd": 5}


def test_observe_batch_metrics_ride_the_action(spark):
    """observe(): exact in-flight metrics with no second pass — the
    Spark-native stage_status (reference worker counters,
    pypeln/process/worker.py:189-214). Values arrive with the action."""
    import pypeln_spark as pl
    from pyspark.sql import functions as F

    st = pl.to_stage(spark.range(100).withColumnRenamed("id", "value"))
    st, obs = pl.observe(
        st,
        F.count(F.lit(1)).alias("rows"),
        F.sum("value").alias("total"),
        F.max("value").alias("hi"),
    )
    out = st | pl.filter(F.col("value") % 2 == 0)
    assert out.df.count() == 50  # the action that materializes metrics
    # metrics observed BEFORE the downstream filter: full 100 rows
    assert obs.get == {"rows": 100, "total": 4950, "hi": 99}


def test_observe_streaming_metrics_in_progress_events(spark, tmp_path):
    """Streaming observe: per-epoch metrics surface in progress events —
    the alerting hook for a long-running pipeline."""
    import pypeln_spark as pl
    from pyspark.sql import functions as F

    src = str(tmp_path / "obs_src")
    spark.createDataFrame([(i,) for i in range(7)], "v long").write.parquet(src)
    stream = spark.readStream.schema("v long").parquet(src)
    st, obs = pl.observe(
        pl.to_stage(stream),
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("v")).alias("total"),
        name="inflow",
    )
    assert obs is None
    q = (
        st.df.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "obs_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = q.lastProgress["observedMetrics"]["inflow"]
    finally:
        q.stop()
    assert got["rows"] == 7 and got["total"] == 21
