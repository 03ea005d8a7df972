"""Tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest layerbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen_ine  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

FIXTURE_LOG = os.path.join(HERE, "fixtures", "eventlog.jsonl")


def _read_all(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


# -- INE generator ---------------------------------------------------------------
def test_ine_generator_is_deterministic(tmp_path):
    a = _read_all(os.path.dirname(next(iter(gen_ine.generate(7, str(tmp_path / "a")).values()))))
    b = _read_all(os.path.dirname(next(iter(gen_ine.generate(7, str(tmp_path / "b")).values()))))
    c = _read_all(os.path.dirname(next(iter(gen_ine.generate(8, str(tmp_path / "c")).values()))))
    assert len(a) == 87
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[n] != c[n] for n in a)


def test_ine_generator_covers_all_13_shapes():
    def shape(name):
        header = gen_ine.render_csv(3, 0, name).split("\n", 1)[0].split(",")
        return tuple(h for h in header if h.lower() not in ("flag codes", "flags"))

    shapes = {shape(n) for n in gen_ine.DATASETS}
    assert len(shapes) == 13
    assert len(set(gen_ine.DATASETS.values())) == 13


def test_ine_generator_carries_the_fixture_dirt():
    dirty = gen_ine.render_csv(3, 0, "nox_perc95").splitlines()
    assert dirty[0].split(",")[:2] == ["DTI_CL_MES", "Año"]
    assert not any(h.lower().startswith("flag") for h in dirty[0].split(","))
    casings = {tuple(gen_ine.render_csv(3, i, "temp_med").splitlines()[0].split(",")[-2:])
               for i in range(3)}
    assert casings == set(gen_ine._FLAG_CASINGS)
    rows = [r.split(",") for r in gen_ine.render_csv(3, 5, "temp_med").splitlines()[1:]]
    stations = [r[2] for r in rows]
    assert "" in stations and "''" in stations
    assert 1 <= sum(s.endswith(gen_ine.SPARSE_STATION) for s in stations) <= 2
    keys = [(r[0], r[2]) for r in rows]
    assert len(keys) > len(set(keys))  # duplicate (period, station) observations
    assert any(r[4] == "" for r in rows)  # an empty value


def test_table_generator_is_deterministic(tmp_path):
    sizes = {"n_docs": 40, "n_vecs": 30, "n_orders": 50}
    gen_tables.generate(5, str(tmp_path / "a"), **sizes)
    gen_tables.generate(5, str(tmp_path / "b"), **sizes)
    gen_tables.generate(6, str(tmp_path / "c"), **sizes)
    for t in ("documents", "embeddings", "lineitem"):
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{t}.parquet"))
    docs = pq.read_table(tmp_path / "a" / "documents.parquet").to_pylist()
    assert all(d["n_chars"] == len(d["text"]) for d in docs)


# -- event log ---------------------------------------------------------------------
def test_event_log_parser_on_fixture():
    passes = tracing.parse_event_log(FIXTURE_LOG)
    s1 = passes["s1"]
    assert s1["jobs"] == 2
    assert s1["jobs_by_phase"] == {"construct": 1, "execute": 1}
    assert s1["jobs_by_layer"] == {"operators.graph": 1, "spark.execute": 1}
    assert s1["tasks"] == 3
    assert s1["task_run_s"] == pytest.approx(0.060)
    assert s1["task_cpu_s"] == pytest.approx(0.045)
    assert s1["gc_s"] == pytest.approx(0.005)
    assert s1["shuffle_write_mb"] == pytest.approx(2.0)
    assert s1["spill_mb"] == pytest.approx(1.0)
    assert passes["cold"]["jobs"] == 1 and passes["cold"]["tasks"] == 1


# -- spans -------------------------------------------------------------------------
def test_self_time_subtracts_covered_child_time():
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)
    # overlapping children are covered once; parts outside the span do not count
    assert stats.self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0), (9.0, 12.0)]) == pytest.approx(5.0)


def test_nested_spans_self_time_and_calls(tmp_path):
    t = tracing.Tracer()
    t.enabled, t.pass_no = True, "s1"
    clock = iter([0.0, 1.0, 2.0, 4.0, 4.0, 5.0, 6.0, 6.0, 9.0, 10.0])
    orig = tracing.time.perf_counter
    tracing.time.perf_counter = lambda: next(clock)
    try:
        with t.phase("op", "construct"):            # 0 .. 10
            t.on_command("c\no0\nm\ne\n")
            with t.span("load_table", "sources.registry"):   # 1 .. 6
                with t.span("dot", "operators.similarity"):  # 2 .. 4
                    t.on_command("c\no1\nm\ne\n")
                    t.on_command("m\nd\no1\ne\n")  # a release, not a call
                with t.span("dot", "operators.similarity"):  # 4 .. 5
                    pass
            with t.span("cut", "functions.lineage"):          # 6 .. 9
                t.on_command("c\no2\nm\ne\n")
    finally:
        tracing.time.perf_counter = orig
    layers = tracing.per_pass_layers(t)["s1"]
    assert layers["sources.registry"]["self_s"] == pytest.approx(2.0)
    assert layers["operators.similarity"]["self_s"] == pytest.approx(3.0)
    assert layers["functions.lineage"]["self_s"] == pytest.approx(3.0)
    assert layers["contract.construct"]["self_s"] == pytest.approx(2.0)
    assert layers["contract.total"]["self_s"] == pytest.approx(10.0)
    assert layers["contract.total"]["calls"] == 3
    assert layers["operators.similarity"]["calls"] == 1
    assert t.releases["s1"] == 1
    tracing.write_spans(t, str(tmp_path / "spans.jsonl"))
    rows = [json.loads(line) for line in open(tmp_path / "spans.jsonl")]
    assert [(r["name"], r["parent"]) for r in rows] == [
        ("op", None), ("load_table", 0), ("dot", 1), ("dot", 1), ("cut", 0)]
    assert rows[4]["start"] == 6.0 and rows[4]["end"] == 9.0


# -- arithmetic ----------------------------------------------------------------------
def test_median_quartiles_and_ok_share():
    values = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 14.0]
    assert stats.median(values) == statistics.median(values) == 11.25
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / 11.25)
    assert stats.quartile_spread([5.0] * 10) == 0.0
    assert stats.ok_op_share(7, 0) == 1.0
    assert stats.ok_op_share(8, 2) == 0.75
    with pytest.raises(ValueError):
        stats.ok_op_share(0, 0)


def test_compare_normalises_like_the_oracle_helper():
    assert checks.compare(["b", "a"], [(1.0, "x"), (2.0, "y")],
                          ["a", "b"], [("y", 2.0 + 1e-12), ("x", 1.0)]) is None
    assert "rows" in checks.compare(["a"], [(1,)], ["a"], [(1,), (2,)])
    assert "columns" in checks.compare(["a"], [(1,)], ["b"], [(1,)])
    assert "row 0" in checks.compare(["a"], [(1.0,)], ["a"], [(1.1,)])
    assert "hostile" in checks.compare(["a"], [([1, 2],)], ["a"], [([1, 2],)])
