"""Self-tests of the benchmark (not of the library).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark; each CLI run takes about half a minute.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SMOKE_SEED = 7


def _files(d):
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def test_generator_is_byte_identical_per_seed(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 3, 60, 150)
    b = gen.generate(str(tmp_path / "b"), 3, 60, 150)
    c = gen.generate(str(tmp_path / "c"), 4, 60, 150)
    assert _files(a) == _files(b) == _files(c)
    for f in _files(a):
        assert filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f
    assert not filecmp.cmp(
        os.path.join(a, "documents.parquet"), os.path.join(c, "documents.parquet"), shallow=False
    )


def test_generator_rebuilds_on_stamp_mismatch(tmp_path):
    d = str(tmp_path / "d")
    gen.generate(d, 3, 60, 150)
    with open(os.path.join(d, gen.STAMP)) as f:
        stamp = json.load(f)
    stamp["scheme"] = "older"
    with open(os.path.join(d, gen.STAMP), "w") as f:
        json.dump(stamp, f)
    gen.generate(d, 3, 60, 150)
    with open(os.path.join(d, gen.STAMP)) as f:
        assert json.load(f)["scheme"] == gen.SCHEME


def test_documents_and_embeddings_stay_one_to_one(tmp_path):
    import pyarrow.parquet as pq

    d = gen.generate(str(tmp_path / "d"), 5, 60, 150)
    docs = pq.read_table(os.path.join(d, "documents.parquet")).column("doc_id").to_pylist()
    vecs = pq.read_table(os.path.join(d, "embeddings.parquet")).column("vec_id").to_pylist()
    assert docs == vecs and sorted(docs) == list(range(60))


def _cli(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(SMOKE_SEED), "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    out = _cli(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 2
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if not trace:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in spec)


@pytest.fixture(scope="module")
def spark():
    conf = run.prepare_env()
    import pypeln_spark as pl

    s = pl.get_spark(app_name="perfbench-selftest", extra_conf=conf)
    yield s
    run.stop_spark(s)


@pytest.mark.parametrize("workload", ["batch", "ingest"])
def test_planted_wrong_row_counts_as_failure(spark, workload):
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[workload](
        spark, os.path.join(run.WORK, "inputs"), SMOKE_SEED, False, lambda m: None,
        sizes=WORKLOADS[workload].SMOKE,
    )
    try:
        w.prepare()
        assert w.run_op() is not None
        per_op = w.ops.attempted
        assert per_op >= 1 and w.ops.failed == 0
        w.plant_wrong_row()
        assert w.run_op() is not None
        assert (w.ops.attempted, w.ops.failed) == (2 * per_op, 1)
    finally:
        w.close()
