"""The benchmark's own tests: its generators are deterministic for a
seed, and the metric and workload names it prints are the ones
BENCHMARK.json declares. No Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import gen_geojson  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402

with open(os.path.join(common.ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def test_tables_are_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    gen_tables.write_tables(a, seed=11, sf=0.001)
    gen_tables.write_tables(b, seed=11, sf=0.001)
    gen_tables.write_tables(c, seed=12, sf=0.001)
    files = [f"{t}.parquet" for t in gen_tables.TABLES]
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert match == files and not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert {"lineitem.parquet", "documents.parquet", "embeddings.parquet"} <= set(differ)


def test_tables_have_the_sf_shape():
    t = gen_tables.build_tables(seed=3, sf=0.01)
    assert t["lineitem"].num_rows == 60_000 and t["orders"].num_rows == 15_000
    texts = t["documents"].column("text").to_pylist()
    dups = [x for x in texts if x.endswith(" dup")]
    assert len(dups) == len(texts) // 20
    assert all(x[: -len(" dup")] in texts for x in dups)
    ts = t["events"].column("ts").to_pylist()
    assert ts == sorted(ts)


def test_corpus_is_a_function_of_the_seed(tmp_path):
    runs = []
    for d in ("x", "y"):
        corpus, size = gen_geojson.write_corpus(str(tmp_path / d / "a"), str(tmp_path / d / "b"), 5)
        runs.append((corpus, size))
    (c1, s1), (c2, s2) = runs
    assert s1 == s2 and c1.files == c2.files
    for v in ("a", "b"):
        names = sorted(os.listdir(tmp_path / "x" / v))
        match, mismatch, _ = filecmp.cmpfiles(tmp_path / "x" / v, tmp_path / "y" / v, names, shallow=False)
        assert match == names and not mismatch
    c3 = gen_geojson.build_corpus(6)
    assert [f.nama for f in c3.a] != [f.nama for f in c1.a]


def test_corpus_has_the_reference_shape_and_edge_cases():
    c = gen_geojson.build_corpus(7)
    assert len(c.files) == 37 and len(c.a) == 388
    assert [sum(f.level == lv for f in c.a) for lv in (1, 2, 3, 4)] == [1, 18, 135, 234]
    rows = c.rows("a")
    assert len(rows) == 387 and c.dup_kode in rows  # one duplicate code, last wins
    lo, hi = c.suffix_pair
    assert lo != hi and lo[-2:] == hi[-2:] and lo in rows and hi in rows
    assert rows[c.malformed_kode].malformed
    b = c.rows("b")
    assert set(b) == set(rows)
    changed = [k for k in rows if rows[k].nama != b[k].nama]
    assert changed and all(any(k.startswith(p) for p in c.changed_in_b) for k in changed)


def test_printed_names_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == common.E2E_METRICS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == common.LAYER_METRICS
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(common.ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""
