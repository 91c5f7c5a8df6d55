"""The benchmark's own tests: generator determinism, metric names,
span arithmetic, the workload reasons in BENCHMARK.json, stdout
hygiene and the no-engine failure path.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from perfbench import gen, measure
from perfbench.spans import Span, Tracer, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _rows(path):
    return sorted(map(repr, pq.read_table(path).to_pylist()))


@pytest.fixture(scope="module")
def tables():
    return gen.star_tables(0.001)


class TestGenerator:
    def test_same_seed_same_files(self, tables, tmp_path):
        a = gen.write_inputs(tables, str(tmp_path / "a"), seed=5, drops=3)
        b = gen.write_inputs(tables, str(tmp_path / "b"), seed=5, drops=3)
        assert a == b
        for name in tables:
            ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
            tb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
            assert ta.equals(tb)

    def test_other_seed_same_row_multiset(self, tables, tmp_path):
        a = gen.write_inputs(tables, str(tmp_path / "a"), seed=1, drops=3)
        b = gen.write_inputs(tables, str(tmp_path / "b"), seed=2, drops=3)
        for name in ("lineitem", "orders", "events", "documents", "embeddings"):
            pa_, pb = (tmp_path / d / f"{name}.parquet" for d in "ab")
            assert _rows(pa_) == _rows(pb)
            assert not pq.read_table(pa_).equals(pq.read_table(pb))
        for name in ("documents", "events"):
            ids_a = sorted(i for d in a["streams"][name]["drops"] for i in d)
            ids_b = sorted(i for d in b["streams"][name]["drops"] for i in d)
            assert ids_a == ids_b == list(range(tables[name].num_rows))
            assert all(a["streams"][name]["drops"])
        assert a["streams"]["documents"]["drops"] != b["streams"]["documents"]["drops"]

    def test_events_ts_is_int64_nanos(self, tables, tmp_path):
        gen.write_inputs(tables, str(tmp_path), seed=3)
        col = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1)
        assert col.physical_type == "INT64"
        assert "NANOS" in str(col.logical_type).upper()


class TestSpans:
    def test_union_length_merges_and_clips(self):
        assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
        assert union_length([(-1, 1), (9, 12)], 0, 10) == 2
        assert union_length([], 0, 10) == 0

    def test_self_time_subtracts_covered_children(self):
        t = Tracer()
        t.spans = [
            Span("pass", 0.0, 10.0),
            Span("query", 1.0, 6.0, parent=0),
            Span("build", 1.0, 3.0, parent=1),
            Span("execute", 2.5, 5.0, parent=1),  # overlaps build by 0.5
            Span("query", 7.0, 9.0, parent=0),
        ]
        st = t.self_times()
        assert st["pass"] == pytest.approx(10 - 5 - 2)
        assert st["query"] == pytest.approx((5 - 4) + 2)
        assert st["build"] == pytest.approx(2)
        assert st["execute"] == pytest.approx(2.5)

    def test_disabled_tracer_records_nothing(self):
        t = Tracer(enabled=False)
        with t.span("pass") as sp:
            assert sp is None
        assert t.spans == []


class TestSpec:
    def test_metric_names_and_units(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        assert len(names) == len(set(names))
        for n in names:
            assert NAME.fullmatch(n), n
        e2e = {m["name"]: m for m in SPEC["end_to_end"]}
        assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
        assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())

    def test_spec_lists_what_the_code_reports(self):
        assert [m["name"] for m in SPEC["end_to_end"]] == list(measure.END_TO_END)
        assert [m["name"] for m in SPEC["per_layer"]] == list(measure.PER_LAYER)
        for m in SPEC["end_to_end"]:
            assert m["unit"] == measure.END_TO_END[m["name"]]
        for m in SPEC["per_layer"]:
            assert m["unit"] == measure.PER_LAYER[m["name"]]

    def test_workload_reasons(self):
        why = {w["name"]: w["why"] for w in SPEC["workloads"]}
        assert set(why) == {"star_analytics", "stream_ingest"}
        assert why["star_analytics"].startswith("Relational scan/join/agg/window")
        assert why["stream_ingest"].startswith("The only workload that writes")

    def test_spec_shape(self):
        assert set(SPEC) == {
            "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
        }
        assert SPEC["command"] == ["python3", "perfbench/run.py"]
        assert SPEC["paths"] == ["perfbench"]
        assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60
        for w in SPEC["workloads"]:
            assert set(w) == {"name", "why"} and NAME.fullmatch(w["name"])
            assert len(w["why"]) <= 200 and "\n" not in w["why"]
        for m in SPEC["end_to_end"]:
            assert set(m) == {"name", "unit", "better", "bound"}
            assert 0 < m["bound"] <= 0.25
        for m in SPEC["per_layer"]:
            assert set(m) == {"name", "unit", "better"}
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
            assert m["better"] in ("higher", "lower")


def _run(args, cwd, env=None):
    return subprocess.run(
        [sys.executable, *args],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    res = _run(
        ["perfbench/run.py", "--workload", "star_analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        tmp_path,
    )
    assert res.returncode != 0
    assert res.stdout == ""


SLICE = """
import sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads
workloads.WORKLOADS["slice"] = workloads.Workload(
    "slice", 0.01, ("prefix_jaccard_pairs", "minhash_near_dup"))
sys.exit(run.main(sys.argv[1:]))
"""


def test_only_metric_lines_reach_stdout(tmp_path):
    """A near-dup slice whose prefix-filter tier switch print()s (forced
    by a one-candidate budget) still leaves stdout to the metric lines."""
    env = dict(os.environ, AFG_PREFIX_JACCARD_MAX_CAND="1")
    res = _run(
        ["-c", SLICE.format(root=ROOT), "--workload", "slice", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        ROOT,
        env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "prefix_filter_jaccard_pairs:" in res.stderr
    lines = res.stdout.splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] > 0
    assert set(result["metrics"]) == set(measure.END_TO_END)
    for line in lines[:-1]:
        assert re.fullmatch(r"metric [A-Za-z0-9_.-]+ \S+ \S+ n=\d+", line), line
