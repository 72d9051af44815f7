"""Contract identity: the declared queries, their DuckDB oracle twins and
their bench tags, pinned to the byte.  The digests were taken when each
query was still spread over a name->function dict, an oracle dict and two
hand-written bench lists; they are stable across PYTHONHASHSEED."""

from __future__ import annotations

import hashlib
import json

import pytest

import __spark_entry__ as entrymod
from youtubeanalyzerproject_big_data__spark import contract


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def test_query_names_identity():
    names = entrymod.queries()
    assert len(names) == 241
    assert _sha256("\n".join(sorted(names))) == "2a247cf07303031696190d8a6502b452df70bcf5e2fb35bfd76b2d44f39d25c3"


def test_oracle_sql_identity():
    oracles = entrymod.oracle_sql()
    assert len(oracles) == 240
    assert set(entrymod.queries()) - set(oracles) == {"m1_als_recommendations"}  # rows-only
    assert _sha256(json.dumps(oracles, sort_keys=True)) == (
        "76d2603a5960fc58480947b8e87d540c014c5fde0b47665efb82287496f67879"
    )


def test_bench_tags_identity():
    declared = contract.declared()
    bench = sorted(n for n, q in declared.items() if q.bench)
    stdout = sorted(n for n, q in declared.items() if q.stdout)
    assert len(bench) == 110
    assert _sha256("\n".join(bench)) == "9133cc36285502fc30171c4b17bd260f90b68ebc84e2130e6c7d9688fbdf266b"
    assert len(stdout) == 47
    assert _sha256("\n".join(stdout)) == "1ae835c63a02e60787331c68c9c820df04f3669417722ea1d094543c55707d7f"
    assert set(stdout) <= set(bench)  # bench prints only what it ran


def test_query_rejects_duplicate_name():
    before = contract.declared()
    with pytest.raises(ValueError, match="a1_event_type_stats"):
        contract.query("a1_event_type_stats", oracle=None)(lambda spark, sf: None)
    assert contract.declared() == before


def test_bench_stdout_line_elided_when_over_budget():
    """Even when the 1-decimal subset is over budget, bench prints the
    elided line -- never the full map that tail truncation would cut."""
    import bench

    timings = {name: 1234.5678 for name in bench.BENCH_QUERIES}
    headline = {"metric": "headline_queries_total", "value": 1.0, "queries": timings}
    line = json.loads(bench._stdout_line(headline, timings, budget=10))
    assert sorted(line["queries"]) == sorted(bench.STDOUT_QUERIES)
    assert set(line["queries"].values()) == {1234.6}
    assert line["queries_elided"] == len(timings) - len(bench.STDOUT_QUERIES)
