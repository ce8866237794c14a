"""Configuration parsing, checked without a Spark session: the
full-battery switch, the shuffle-partition env fallback chain, and the
legacy bench's per-phase error reporting."""

from __future__ import annotations

import json
import types
import warnings

import pytest

from tests import conftest


class _Config:
    def __init__(self, full: bool = False):
        self.full = full

    def getoption(self, name):
        assert name == "--full"
        return self.full


@pytest.mark.parametrize("value", ["", "0", "false", "False", " FALSE "])
def test_run_full_off_values(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_FULL_TESTS", value)
    assert not conftest._run_full(_Config())


def test_run_full_on(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_FULL_TESTS", raising=False)
    assert not conftest._run_full(_Config())
    assert conftest._run_full(_Config(full=True))
    monkeypatch.setenv("SPARK_GRAFT_FULL_TESTS", "1")
    assert conftest._run_full(_Config())


@pytest.mark.parametrize(
    "shuffle, cpus, expected, n_warnings",
    [
        (None, None, 32, 0),
        ("12", "4", 12, 0),
        (None, "4", 4, 0),
        ("abc", "4", 4, 1),
        ("", "4", 4, 1),
        ("0", "4", 4, 1),
        ("abc", "-2", 32, 2),
        ("12", "x", 12, 1),
    ],
)
def test_shuffle_partitions_fallback_chain(
    monkeypatch, shuffle, cpus, expected, n_warnings
):
    from wilayah_aceh_etl_spark import session

    for name, value in (
        ("SPARK_GRAFT_SHUFFLE_PARTITIONS", shuffle),
        ("SPARK_GRAFT_CPUS", cpus),
    ):
        if value is None:
            monkeypatch.delenv(name, raising=False)
        else:
            monkeypatch.setenv(name, value)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        assert session._shuffle_partitions() == expected
    assert len(rec) == n_warnings
    assert all("not a positive integer" in str(w.message) for w in rec)


class _FakeSpark:
    """Just enough of a SparkSession for bench.main: a calibration
    probe and the job-description / cache calls."""

    def __init__(self):
        sc = types.SimpleNamespace(
            setLogLevel=lambda level: None,
            setJobDescription=lambda desc: None,
        )
        self.sparkContext = sc
        self.catalog = types.SimpleNamespace(clearCache=lambda: None)

    def range(self, n):
        frame = types.SimpleNamespace(collect=lambda: [])
        return types.SimpleNamespace(selectExpr=lambda expr: frame)


def test_bench_cold_failure_drops_warm_figure(monkeypatch, capsys):
    import bench

    spark = _FakeSpark()

    def ok(spark_, sf_dir):
        return types.SimpleNamespace(collect=lambda: [])

    calls = []

    def cold_fails(spark_, sf_dir):
        # warm-up + 3 warm runs succeed; the first cold run raises
        calls.append(sf_dir)
        if len(calls) > 4:
            raise RuntimeError("boom")
        return types.SimpleNamespace(collect=lambda: [])

    def warm_fails(spark_, sf_dir):
        raise ValueError("bad plan")

    specs = {
        name: types.SimpleNamespace(fn=fn, bench=True)
        for name, fn in (
            ("a_ok", ok),
            ("b_cold", cold_fails),
            ("c_warm", warm_fails),
        )
    }
    monkeypatch.setattr(bench, "all_specs", lambda: specs)
    monkeypatch.setattr(bench, "get_spark", lambda *a, **k: spark)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    bench.main()
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(report["queries"]) == set(report["queries_cold"]) == {"a_ok"}
    assert report["n_queries"] == report["n_queries_cold"] == 1
    assert report["errors"]["b_cold"].startswith("cold: RuntimeError: boom")
    assert report["errors"]["c_warm"].startswith("warm: ValueError: bad plan")
