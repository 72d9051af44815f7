"""Unit tests for tools/verify_local.py: its digest-sum compare, its disk
guards, and where it imports the engine from.

The digest's row encoding must be INJECTIVE (ADVICE r8): the old '|'-join made
('a|b','c') and ('a','b|c') indistinguishable in BOTH engines (a
false-PASS shape), and concat_ws silently skipped NULLs.  The
length-prefixed encoding has to separate those, agree across engines on
values containing the old separator / the new prefix syntax, and keep
NULL distinct from every literal string.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import subprocess
import sys
import time

import duckdb
import pytest

from tools.verify_local import _digest_compare


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


def test_digest_compare_separates_shifted_column_boundaries(spark, con):
    # same bytes, different column split: identical under the old '|'-join
    fn = lambda s, sf: s.createDataFrame([("a|b", "c")], "x string, y string")  # noqa: E731
    rec = _digest_compare(spark, con, "", "t", fn, "SELECT 'a' AS x, 'b|c' AS y")
    assert rec["err"] is None and rec["rows_match"] and rec["schema_match"]
    assert not rec["hash_match"]


def test_digest_compare_matches_on_hostile_values(spark, con):
    # pipes, colons, empty strings, NULLs, literal 'N', digit:payload lookalikes
    rows = [("a|b", "c"), (None, "x:y"), ("", None), ("N", "3:abc"), ("0:", "1:N")]
    fn = lambda s, sf: s.createDataFrame(rows, "x string, y string")  # noqa: E731
    oracle = (
        "SELECT * FROM (VALUES ('a|b','c'), (NULL,'x:y'), ('',NULL), "
        "('N','3:abc'), ('0:','1:N')) t(x, y)"
    )
    rec = _digest_compare(spark, con, "", "t", fn, oracle)
    assert rec["err"] is None and rec["hash_match"], rec


def test_digest_compare_null_is_not_the_letter_n(spark, con):
    fn = lambda s, sf: s.createDataFrame([(None, "c")], "x string, y string")  # noqa: E731
    rec = _digest_compare(spark, con, "", "t", fn, "SELECT 'N' AS x, 'c' AS y")
    assert rec["err"] is None and not rec["hash_match"]


def test_digest_compare_empty_string_is_not_null(spark, con):
    fn = lambda s, sf: s.createDataFrame([("", "c")], "x string, y string")  # noqa: E731
    rec = _digest_compare(spark, con, "", "t", fn, "SELECT NULL AS x, 'c' AS y")
    assert rec["err"] is None and not rec["hash_match"]


def test_digest_compare_int_schema_still_matches(spark, con):
    # g12's real shape: integer-only columns
    fn = lambda s, sf: s.createDataFrame([(1, 20), (3, 40)], "a int, b int")  # noqa: E731
    rec = _digest_compare(spark, con, "", "t", fn, "SELECT * FROM (VALUES (1,20),(3,40)) t(a,b)")
    assert rec["err"] is None and rec["hash_match"], rec


def test_digest_compare_float_micro_lane_matches(spark, con):
    # round-6 doubles (every contract float output) encode as
    # floor(x*1e6+0.5) micros -- bit-identical IEEE ops in both engines;
    # includes a negative, a NULL, and a dyadic exact half (67/128)
    rows = [(1, 0.823529), (2, -0.5), (3, None), (4, 0.523438), (5, 0.0)]
    fn = lambda s, sf: s.createDataFrame(rows, "id int, v double")  # noqa: E731
    oracle = (
        "SELECT * FROM (VALUES (1, 0.823529), (2, -0.5), (3, NULL), "
        "(4, 0.523438), (5, 0.0)) t(id, v)"
    )
    rec = _digest_compare(spark, con, "", "t", fn, oracle)
    assert rec["err"] is None and rec["hash_match"], rec


def test_digest_compare_float_micro_lane_detects_ulp_at_output_precision(spark, con):
    # the lane is injective at the contract's own ROUND(x, 6) precision:
    # a 1e-6 divergence (one output ulp, the q5/e1 bug class) must mismatch
    fn = lambda s, sf: s.createDataFrame([(1, 0.823529)], "id int, v double")  # noqa: E731
    rec = _digest_compare(spark, con, "", "t", fn, "SELECT 1 AS id, 0.823530 AS v")
    assert rec["err"] is None and not rec["hash_match"], rec


def test_digest_compare_rejects_timestamp_schema(spark, con):
    import datetime

    fn = lambda s, sf: s.createDataFrame(  # noqa: E731
        [(datetime.datetime(2024, 1, 1),)], "a timestamp"
    )
    rec = _digest_compare(spark, con, "", "t", fn, "SELECT TIMESTAMP '2024-01-01' AS a")
    assert rec["err"] and "int/string/double" in rec["err"]


class _FakeSC:
    def __init__(self):
        self.calls = []

    def cancelAllJobs(self):
        self.calls.append("cancel")


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeSC()


class _FakeCon:
    def __init__(self, log):
        self._log = log

    def interrupt(self):
        self._log.append("interrupt")


def test_disk_watchdog_fires_below_hard_floor(monkeypatch):
    """Mid-query guard (VERDICT r9 item 4): below the hard floor the
    watchdog must cancel Spark jobs AND interrupt the oracle, and the
    evidence must be visible in err_prefix for the per-query record."""
    import time as _time

    import youtubeanalyzerproject_big_data__spark.session as sess
    from tools.verify_local import _DiskWatchdog

    monkeypatch.setattr(sess, "scratch_free_gb", lambda: 1.0)
    fake = _FakeSpark()
    log: list[str] = []
    with _DiskWatchdog(fake, _FakeCon(log), poll_s=0.02, hard_gb=5.0) as wd:
        deadline = _time.time() + 2.0
        while not wd.evidence and _time.time() < deadline:
            _time.sleep(0.02)
    assert wd.evidence["free_gb"] == 1.0
    assert fake.sparkContext.calls == ["cancel"]
    assert log == ["interrupt"]
    assert "disk-guard" in wd.err_prefix() and "1.0 GB free" in wd.err_prefix()


def test_disk_watchdog_interrupts_the_twin_connection(monkeypatch, tmp_path):
    """A segmented twin runs on its own DuckDB file: while it runs, the
    guard must interrupt that connection, not the idle shared one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import youtubeanalyzerproject_big_data__spark.session as sess
    from tools.verify_local import TABLES, _DiskWatchdog, twin_connection

    for t in TABLES:
        pq.write_table(pa.table({"x": [1]}), tmp_path / f"{t}.parquet")
    # low only once the twin's query has surely started, so the interrupt
    # cannot land before it
    fire_at = time.time() + 0.5
    monkeypatch.setattr(sess, "scratch_free_gb", lambda: 1.0 if time.time() > fire_at else 500.0)
    shared: list[str] = []
    with _DiskWatchdog(_FakeSpark(), _FakeCon(shared), poll_s=0.02, hard_gb=5.0) as wd:
        with twin_connection(str(tmp_path), str(tmp_path), "t", wd) as twin:
            assert wd.con is twin
            t0 = time.time()
            with pytest.raises(duckdb.InterruptException):
                twin.execute("SELECT sum(i % 7) FROM range(20000000000) t(i)").fetchall()
        assert wd.con is not twin
    assert time.time() - t0 < 5
    assert shared == [] and wd.evidence["free_gb"] == 1.0
    assert not list(tmp_path.glob("twin_*"))  # the twin's file is deleted


def test_disk_watchdog_quiet_on_healthy_volume(monkeypatch):
    import time as _time

    import youtubeanalyzerproject_big_data__spark.session as sess
    from tools.verify_local import _DiskWatchdog

    monkeypatch.setattr(sess, "scratch_free_gb", lambda: 500.0)
    fake = _FakeSpark()
    with _DiskWatchdog(fake, None, poll_s=0.02, hard_gb=5.0) as wd:
        _time.sleep(0.2)
    assert not wd.evidence
    assert fake.sparkContext.calls == []
    assert wd.err_prefix() == ""


def test_scratch_floor_guard(monkeypatch):
    """The sweep reap assertion: warn band prints, hard floor raises,
    healthy volume is a no-op (VERDICT r8 item 7)."""
    import time as _time

    import youtubeanalyzerproject_big_data__spark.session as sess
    from tools.verify_local import _assert_scratch_bounded

    monkeypatch.setattr(_time, "sleep", lambda s: None)
    monkeypatch.setattr(sess, "scratch_free_gb", lambda: 2.0)
    with pytest.raises(RuntimeError, match="critically low"):
        _assert_scratch_bounded(None, warn_gb=15)
    monkeypatch.setattr(sess, "scratch_free_gb", lambda: 10.0)
    _assert_scratch_bounded(None, warn_gb=15)  # warn band: no raise
    monkeypatch.setattr(sess, "scratch_free_gb", lambda: 100.0)
    _assert_scratch_bounded(None, warn_gb=15)  # healthy


def test_imports_the_engine_of_its_own_checkout(tmp_path):
    """An A/B correctness run from a second checkout must check that
    checkout's engine: the tool puts its own tree, not a fixed path, first
    on sys.path."""
    root = pathlib.Path(__file__).resolve().parent.parent
    tree = tmp_path / "tree"
    ignore = shutil.ignore_patterns("__pycache__")
    for d in ("tools", "youtubeanalyzerproject_big_data__spark"):
        shutil.copytree(root / d, tree / d, ignore=ignore)
    shutil.copy(root / "__spark_entry__.py", tree)
    code = (
        "import importlib.util, sys\n"
        f"spec = importlib.util.spec_from_file_location('verify_local', {str(tree / 'tools' / 'verify_local.py')!r})\n"
        "spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "print(sys.modules['__spark_entry__'].__file__)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert pathlib.Path(out.stdout.strip().splitlines()[-1]).resolve() == (tree / "__spark_entry__.py").resolve()
