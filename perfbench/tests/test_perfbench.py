"""The benchmark's own tests: its contract file, its input generator, and a
smoke-size run of every workload.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark, about a minute each.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.bronze import SIZES, generate  # noqa: E402
from perfbench.common import tail  # noqa: E402
from perfbench.query_mix import HEADLINE, MIX  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_benchmark_json_shape():
    spec = _spec()
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in WORKLOADS
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_tail_is_the_highest_percentile_with_ten_beyond():
    assert tail([float(i) for i in range(20)]) == (50.0, 9.0)
    assert tail([3.0, 1.0, 2.0]) == (0.0, 1.0)


def test_mix_is_drawn_from_the_headline():
    assert len(HEADLINE) == len(set(HEADLINE)) == 36
    assert set(MIX) <= set(HEADLINE)


def test_span_overhead_covers_tracing_inside_it():
    tr = Tracer(lambda: None, True, "t")
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            with tr.bookkeeping():
                time.sleep(0.01)
    assert inner.overhead >= 0.01
    assert outer.overhead >= inner.overhead
    assert tr.overhead_s == outer.overhead
    assert tr.self_time(outer) < outer.end - outer.start


def test_bronze_generator_is_deterministic(tmp_path):
    a = generate(str(tmp_path / "a"), 7, SIZES["smoke"])
    b = generate(str(tmp_path / "b"), 7, SIZES["smoke"])
    c = generate(str(tmp_path / "c"), 8, SIZES["smoke"])
    for d in ("bronze", "updates"):
        cmp = filecmp.dircmp(tmp_path / "a" / d, tmp_path / "b" / d)
        assert cmp.left_list == cmp.right_list and not cmp.diff_files
        assert not filecmp.cmpfiles(
            tmp_path / "a" / d, tmp_path / "b" / d, cmp.left_list, shallow=False
        )[1]
    assert a.ingest_rows == b.ingest_rows
    assert a.expected_keys == b.expected_keys
    assert a.expected_upsert == b.expected_upsert
    assert a.expected_keys != c.expected_keys


def test_bronze_generator_shape(tmp_path):
    s = generate(str(tmp_path), 3, SIZES["smoke"])
    sizes = SIZES["smoke"]
    assert len(s.files) == sizes.days + 2  # plus the empty and the unparseable file
    assert os.path.getsize(s.files[-2]) == 0
    with pytest.raises(json.JSONDecodeError):
        json.load(open(s.files[-1]))
    crawled = [r for f in s.files[: sizes.days] for r in json.load(open(f))]
    prices = " ".join(r["price"] for r in crawled)
    assert "tỷ" in prices and "triệu" in prices
    assert any(not any(ch.isdigit() for ch in r["price"]) for r in crawled)
    assert any("Chiều ngang" not in r["attrs"] for r in crawled)
    assert len({r["list_id"] for r in crawled}) < len(crawled)  # repeats and duplicates
    assert s.bronze_rows == len(crawled) + len(s.ingest_rows)
    assert {r["list_id"] for r in s.ingest_rows} <= s.expected_keys
    days = sorted(os.listdir(s.updates_dir))
    latest = {}
    for name in days:
        for line in open(os.path.join(s.updates_dir, name)):
            row = json.loads(line)
            latest[row["list_id"]] = row
    assert latest == s.expected_upsert


@pytest.mark.parametrize(
    "workload,trace",
    [("query_cached", 0), ("query_parquet", 1), ("medallion_etl", 0), ("medallion_etl", 1)],
)
def test_smoke_run_prints_every_metric(workload, trace):
    p = _run("--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--size", "smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert os.path.exists(os.path.join(
            ROOT, "perfbench", ".work", "traces", f"{workload}-1.jsonl"))


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".work", "__pycache__"),
    )
    p = _run("--workload", "query_parquet", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
