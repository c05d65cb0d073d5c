"""Self-tests of the benchmark itself (not of the engine).

    python3 -m pytest hybridbench/tests -q

Seeded inputs are reproducible, a corrupted answer is flagged, and a
tiny-size smoke run of every workload prints the metric names
BENCHMARK.json declares. The smoke runs start Spark, about a minute each.
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from hybridbench import inputs  # noqa: E402

TINY_POINTS = 2880


def _oracle(points=TINY_POINTS):
    import duckdb

    from otit_swt_spark.windpower import series_frame

    con = duckdb.connect(config={"threads": 1})
    pdf = series_frame(points, 8)  # noqa: F841 - read by DuckDB
    con.execute("CREATE TABLE ts AS SELECT * FROM pdf")
    return con


def _ingest_oracle(seed, batches):
    import duckdb

    con = duckdb.connect(config={"threads": 1})
    con.execute("CREATE TABLE ts (id VARCHAR, timestamp TIMESTAMP, "
                "value DOUBLE)")
    for k in range(batches):
        pdf = inputs.ingest_batch(seed, k)
        local = pdf.assign(  # noqa: F841 - read by DuckDB
            timestamp=pdf["timestamp"].dt.tz_localize(None))
        con.execute("INSERT INTO ts SELECT * FROM local")
    return con


def test_same_seed_same_dashboard_ops_and_answers():
    a = inputs.dashboard_params(7, 20, TINY_POINTS)
    assert a == inputs.dashboard_params(7, 20, TINY_POINTS)
    assert a != inputs.dashboard_params(8, 20, TINY_POINTS)
    assert len(set(a)) == len(a), "a refresh text repeats"
    # a longer sequence extends, never reorders, the shorter one
    assert inputs.dashboard_params(7, 40, TINY_POINTS)[:20] == a
    con1, con2 = _oracle(), _oracle()
    for turbine, lo, hi in a[:5]:
        assert inputs.panel_single_text(turbine, lo, hi) == \
            inputs.panel_single_text(turbine, lo, hi)
        for expect in (inputs.expected_single, inputs.expected_sync):
            e1 = expect(con1, turbine, lo, hi)
            assert e1 and e1 == expect(con2, turbine, lo, hi)


def test_same_seed_same_ingest_inputs_and_answers():
    b1, b2 = inputs.ingest_batch(3, 4), inputs.ingest_batch(3, 4)
    assert b1.equals(b2)
    assert not b1.equals(inputs.ingest_batch(4, 4))
    assert len(b1) == len(inputs.fleet_ids()) * inputs.BATCH_POINTS
    assert inputs.moving_read_params(3, 9) == inputs.moving_read_params(3, 9)
    c1, c2 = _ingest_oracle(3, 8), _ingest_oracle(3, 8)
    assert inputs.expected_rollup(c1) == inputs.expected_rollup(c2)
    assert inputs.expected_repeat(c1) == 8 * 8 * inputs.BATCH_POINTS
    turbine, lo, hi = inputs.moving_read_params(3, 7)
    e = inputs.expected_single(c1, turbine, lo, hi)
    # the trailing hour ends where batch 7 ends: buckets 00:20 .. 01:10
    assert len(e) == 6
    assert e == inputs.expected_single(c2, turbine, lo, hi)


def _as_rows(expected, cols):
    return [dict(zip(("year", "month", "day", "hour", "minute_10"), k),
                 **dict(zip(cols, v))) for k, v in expected.items()]


def test_corrupted_answers_are_flagged():
    con = _oracle()
    turbine, lo, hi = inputs.dashboard_params(1, 1, TINY_POINTS)[0]
    exp = inputs.expected_sync(con, turbine, lo, hi)
    cols = ["a", "b", "c"]
    rows = _as_rows(exp, cols)
    assert inputs.same_answer(inputs.got_buckets(rows, cols), exp)

    nudged = [dict(r) for r in rows]
    nudged[0]["b"] += 1e-3
    assert not inputs.same_answer(inputs.got_buckets(nudged, cols), exp)
    assert not inputs.same_answer(inputs.got_buckets(rows[1:], cols), exp)
    nulled = [dict(r) for r in rows]
    nulled[-1]["c"] = None
    assert not inputs.same_answer(inputs.got_buckets(nulled, cols), exp)

    roll = inputs.expected_rollup(_ingest_oracle(1, 2))
    assert inputs.same_rollup(dict(roll), roll)
    some = next(iter(roll))
    stale = dict(roll, **{some: (roll[some][0] - 60, roll[some][1])})
    assert not inputs.same_rollup(stale, roll)
    off = dict(roll, **{some: (roll[some][0], roll[some][1] + 0.001)})
    assert not inputs.same_rollup(off, roll)


def test_same_seed_same_mapper_block_and_answer():
    a = inputs.mapper_block(3, 500)
    assert a.equals(inputs.mapper_block(3, 500))
    assert not a.equals(inputs.mapper_block(4, 500))
    assert a["reading"].is_unique
    assert inputs.expected_ntriples(a) == \
        inputs.expected_ntriples(inputs.mapper_block(3, 500))


def _ntriples(block):
    xsd = "http://www.w3.org/2001/XMLSchema#"
    for r in block.itertuples():
        yield f"<{r.reading}> <{inputs.EX}ofSensor> <{r.sensor}> ."
        yield f'<{r.reading}> <{inputs.EX}hasValue> "{r.value}"^^<{xsd}double> .'
        yield f'<{r.reading}> <{inputs.EX}atSecond> "{r.second}"^^<{xsd}long> .'


def test_corrupted_ntriples_are_flagged():
    block = inputs.mapper_block(2, 300)
    exp = inputs.expected_ntriples(block)
    lines = list(_ntriples(block))
    assert inputs.same_ntriples(inputs.read_ntriples(lines), exp)
    assert not inputs.same_ntriples(inputs.read_ntriples(lines[1:]), exp)
    assert not inputs.same_ntriples(
        inputs.read_ntriples(lines + lines[:3]), exp)
    bad = list(lines)
    bad[1] = bad[1].replace('"', '"1', 1)
    assert not inputs.same_ntriples(inputs.read_ntriples(bad), exp)


def _declared():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd, workload, trace, tiny=True):
    bench = _declared()
    cmd = bench["command"] + ["--workload", workload, "--seed", "5",
                              "--seconds", "1", "--trace", str(trace)]
    if tiny:
        cmd.append("--tiny")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


@pytest.mark.parametrize("workload", [w["name"]
                                      for w in _declared()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_smoke_run_prints_declared_metrics(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1
    declared = _declared()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == \
        {k: v["unit"] for k, v in result["metrics"].items()}


def test_fails_without_the_program():
    """In a directory holding only BENCHMARK.json and the benchmark's own
    files, the run exits non-zero and prints no result."""
    bare = ROOT / ".hybridbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
        for p in _declared()["paths"]:
            shutil.copytree(ROOT / p, bare / p,
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, "dashboard-cold", 0, tiny=False)
        assert proc.returncode != 0
        assert '"metrics"' not in proc.stdout
    finally:
        shutil.rmtree(bare)
