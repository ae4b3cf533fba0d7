"""The benchmark's own tests: timed plans compute every output column, no
workload leaves a persisted RDD behind, and the oracles and tracer agree
with hand-computed answers.

    python -m pytest perfbench -q     (from the repository root)
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402


class SmallPages(workloads.PagesPipTiles):
    rows = 3000


class SmallHotspot(workloads.HotspotBroadcastPip):
    rows = 3000


@pytest.fixture(scope="module")
def engine(tmp_path_factory):
    eng = run.Engine(str(tmp_path_factory.mktemp("work")))
    eng.start()
    yield eng
    eng.close()


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    return str(tmp_path_factory.mktemp("cache"))


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_timed_flagship_plan_computes_tile_columns(engine, cache):
    wl = SmallPages(cache, seed=3)
    plan = _executed_plan(wl.plan(engine.spark, Tracer("t", enabled=False)))
    top = plan.split("MapInPandas")[0]
    assert "MapInPandas" in plan
    assert "Project []" not in plan
    for col in ("tx#", "ty#", "quadkey#"):
        assert col in top, f"{col} not computed above MapInPandas:\n{plan}"


@pytest.mark.parametrize("cls", [SmallPages, SmallHotspot])
def test_workload_checks_pass_and_leave_no_persisted_rdd(engine, cache, cls):
    wl = cls(cache, seed=5)
    wl.op(engine.spark, Tracer("t", enabled=False))
    con = oracles.connect()
    try:
        checks = wl.check(engine.spark, con)
    finally:
        con.close()
    assert checks and all(ok for _, ok, _ in checks), checks
    assert engine.spark.sparkContext._jsc.getPersistentRDDs().isEmpty()


def test_same_seed_same_inputs(engine, tmp_path):
    import pyarrow.parquet as pq

    a = SmallHotspot(str(tmp_path / "a"), seed=7)
    b = SmallHotspot(str(tmp_path / "b"), seed=7)
    c = SmallHotspot(str(tmp_path / "c"), seed=8)
    read = lambda w: pq.read_table(w.points_dir).sort_by("doc_id")  # noqa: E731
    assert read(a).equals(read(b))
    assert not read(a).equals(read(c))


def test_tile_oracle_known_answer():
    con = oracles.connect()
    tx, ty = oracles.tile_sql("2.35", "48.85", 12)
    row = con.execute(f"SELECT {tx}, {ty}, {oracles.quadkey_sql(tx, ty, 12)}").fetchone()
    con.close()
    assert row == (2074, 1409, "120220011012")


def test_tracer_self_time_excludes_children():
    tr = Tracer("t", enabled=True)
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.05)
    st = tr.self_times()
    assert 0.015 < st["outer"] < 0.045
    assert st["inner"] >= 0.05
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]
    assert Tracer("t", enabled=False).span("x").__enter__() is None


def test_tail_needs_ten_samples_beyond():
    assert run.tail([1.0] * 10) is None
    t = run.tail([float(i) for i in range(20)])
    assert t == {"pct": 50.0, "value": 9.0}


def test_declared_metrics_have_units():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"]


def test_any_integer_seed_is_accepted():
    base = ["--workload", "pages_pip_tiles", "--seconds", "1"]
    big = run.parse_args(base + ["--seed", "2718281828"])
    assert big.seed == 2718281828
    assert 0 <= big.input_seed < inputs.MAX_SEED
    assert big.input_seed == run.parse_args(base + ["--seed", "2718281828"]).input_seed
    assert run.parse_args(base + ["--seed", "-3"]).input_seed >= 0
