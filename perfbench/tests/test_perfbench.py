"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark; the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, layer_self_times, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# -- generator ---------------------------------------------------------------


def test_csv_is_byte_identical_per_seed(tmp_path):
    a, b, c = (tmp_path / n for n in ("a.csv", "b.csv", "c.csv"))
    gen.write_csv(str(a), 7, 2000)
    gen.write_csv(str(b), 7, 2000)
    gen.write_csv(str(c), 8, 2000)
    assert a.read_bytes() == b.read_bytes()
    assert a.read_bytes() != c.read_bytes()


def test_csv_has_every_lattice_class_and_no_quotes(tmp_path):
    p = tmp_path / "a.csv"
    gen.write_csv(str(p), 1, 3000)
    text = p.read_text()
    assert '"' not in text
    assert text.splitlines()[0].split(",") == list(gen.CSV_COLUMNS)
    assert {cls for cls, _ in gen.CSV_COLUMNS.values()} == {
        "Int64", "Float64", "Date32", "Date64", "Boolean", "Utf8"}
    # every column parses as its declared DuckDB type
    assert checks.csv_checksum(str(p))[0] == 3000


def test_tables_are_byte_identical_per_seed(tmp_path):
    gen.write_tables(str(tmp_path / "a"), 3, 0.001)
    gen.write_tables(str(tmp_path / "b"), 3, 0.001)
    gen.write_tables(str(tmp_path / "c"), 4, 0.001)
    names = sorted(os.listdir(tmp_path / "a"))
    assert "lineitem.parquet" in names and "documents.parquet" in names
    same = [(tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes()
            for n in names]
    assert all(same)
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() != (
        tmp_path / "c" / "lineitem.parquet").read_bytes()


# -- self-time arithmetic -----------------------------------------------------


def _spans():
    # root [0, 10]: a [1, 4] with child c [2, 3]; b [5, 9] with child d [5, 9]
    return [
        Span(0, "root", None, "r", 0.0, 10.0),
        Span(1, "a", 0, "r", 1.0, 4.0),
        Span(2, "c", 1, "r", 2.0, 3.0),
        Span(3, "b", 0, "r", 5.0, 9.0),
        Span(4, "d", 3, "r", 5.0, 9.0),
        Span(5, "a", 0, "r", 9.0, 9.5),
        Span(6, "elsewhere", None, "r", 20.0, 30.0),
    ]


def test_self_time_subtracts_children():
    st = self_times(_spans())
    assert st == pytest.approx({0: 2.5, 1: 2.0, 2: 1.0, 3: 0.0, 4: 4.0, 5: 0.5, 6: 10.0})


def test_layer_self_times_add_up_to_the_root():
    spans = _spans()
    layers, unattributed = layer_self_times(spans, spans[0])
    assert layers == pytest.approx({"a": 2.5, "c": 1.0, "b": 0.0, "d": 4.0})
    assert unattributed == pytest.approx(2.5)
    assert sum(layers.values()) + unattributed == pytest.approx(spans[0].dur)


def test_child_outside_parent_is_clipped():
    spans = [Span(0, "p", None, "r", 0.0, 2.0), Span(1, "c", 0, "r", 1.0, 5.0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


# -- metric names -------------------------------------------------------------


def test_metric_names_and_units_match_the_spec():
    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in SPEC["per_layer"]] == list(run.PER_LAYER)
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert run.unit(m["name"]) == m["unit"], m["name"]
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)


# -- smoke runs -----------------------------------------------------------------


def _bench(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [
    ("convert", "0"), ("convert", "1"), ("query_mix", "0"), ("query_mix", "1")])
def test_smoke_run(workload, trace):
    p = _bench(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
               "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    last = p.stdout.strip().splitlines()[-1]
    assert len(last.encode()) < 2000
    out = json.loads(last)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in want]
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        # every layer the workload goes through reports work
        layer = "converter.inference.s" if workload == "convert" else "queries.construct.s"
        assert out["metrics"][layer]["value"] > 0
    if workload == "convert" and trace == "1":
        # convert_scale writes (and footer-patches) one part per input split
        detail = dict(line.split()[:2] for line in p.stdout.splitlines()
                      if not line.startswith(("#", "{")))
        assert int(detail["converter.footer.files"]) > 1


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench(tmp_path, "--workload", "convert", "--seed", "1", "--seconds", "1",
               "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
