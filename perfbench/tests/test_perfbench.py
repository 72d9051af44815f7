"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Input determinism and the BENCHMARK.json schema run in seconds; the
smoke tests run each workload once, traced, through the command line
(about a minute each).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import crawl  # noqa: E402
import inputs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SMOKE_SEED = 2027


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(path: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n != "manifest.json":
                full = os.path.join(dirpath, n)
                with open(full, "rb") as fh:
                    out[os.path.relpath(full, path)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_crawl(tmp_path):
    a = crawl.write_crawl(str(tmp_path / "a"), 5, 400)
    b = crawl.write_crawl(str(tmp_path / "b"), 5, 400)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert {k: v for k, v in a.items() if k not in ("paths", "store")} == \
        {k: v for k, v in b.items() if k not in ("paths", "store")}
    other = crawl.write_crawl(str(tmp_path / "c"), 6, 400)
    assert _files(str(tmp_path / "c")) != _files(str(tmp_path / "a"))
    assert other["parsed_videos"] >= other["videos"] == 400


def test_crawl_store_matches_the_dump(tmp_path):
    """The expected store is what ingest must produce from the XML: one row
    per distinct video, sentinels for missing and malformed numbers."""
    import pyarrow.parquet as pq

    from youtubeanalyzerproject_big_data__spark.sources.xml_ingest import iter_xml_elements

    facts = crawl.write_crawl(str(tmp_path), 3, 300)
    store = {r["video_id"]: r for r in pq.read_table(facts["store"]).to_pylist()}
    parsed = [e for p in facts["paths"] for e in iter_xml_elements(p, "video")]
    assert len(parsed) == facts["parsed_videos"] > len(store) == 300
    for e in parsed:
        row = store[e["id"]]
        assert row["category"] == e["category"] and row["related"] == e["related"]
        views = e.get("views")
        assert row["views"] == (int(views) if views not in (None, "N/A") else -1)
    assert any(r["category"] == "People &amp; Blogs" for r in store.values())


def test_same_seed_gives_byte_identical_query_tables(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "CACHE", str(tmp_path / "a"))
    a = inputs.query_tables(9, tile_k=2)
    monkeypatch.setattr(inputs, "CACHE", str(tmp_path / "b"))
    b = inputs.query_tables(9, tile_k=2)
    assert _files(a["dir"]) == _files(b["dir"])
    assert a["expected"] == b["expected"] and set(a["expected"]) == set(inputs.SHORT_QUERIES)


def test_benchmark_json_schema(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in spec["workloads"])
    assert 1 <= spec["run_seconds"] <= 60
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert all(UNIT.match(m["unit"]) for k in ("end_to_end", "per_layer") for m in spec[k])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(spec["per_layer"]) <= 128


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SMOKE_SEED),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_smoke_run(spec, workload):
    out = _run(ROOT, workload, 1)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    record_line = next(line for line in out.stdout.splitlines() if line.startswith("record "))
    with open(os.path.join(ROOT, record_line.split(" ", 1)[1])) as fh:
        record = json.load(fh)
    # the untraced figures of the same run use the end-to-end names
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in record["end_to_end"].items()} == want
    assert all(v["value"] > 0 for v in record["end_to_end"].values())
    for key in ("nproc", "master", "spark", "java", "python", "git_commit"):
        assert record["env"][key]
    with open(os.path.join(ROOT, record["spans_file"])) as fh:
        spans = json.load(fh)
    ids = {s["id"] for s in spans}
    assert all(s["parent"] in ids for s in spans if s["parent"] is not None)
    assert all({"run", "start", "end", "group", "self_s"} <= set(s) for s in spans)
    assert any(s["name"] in ("build", "collect", "write") for s in spans)


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".cache", "results", "__pycache__"))
    out = _run(str(tmp_path), next(iter(WORKLOADS)), 0)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
