"""Registry order: the external checker hashes the first ``WINDOW``
registered queries each round and records them as CORRECTNESS_r{N}.json.
The order is derived from those files by ``registry._rank``; these tests
check the rule, on synthetic evidence and against the committed rounds.
"""

from __future__ import annotations

import json

from target_iceberg_spark.plans.registry import (
    OUTPUT_CHANGED,
    WINDOW,
    QuerySpec,
    _rank,
    all_specs,
    load_evidence,
    ordered,
)


def _spec(name: str, oracle: str | None = "SELECT 1") -> QuerySpec:
    return QuerySpec(name, lambda spark, sf_dir: None, oracle)


def _order(names_oracle: dict[str, bool], evidence, output_changed=()) -> list[str]:
    specs = {n: _spec(n, "SELECT 1" if has else None) for n, has in names_oracle.items()}
    return list(ordered(specs, evidence, output_changed))


def test_backtest_reproduces_the_committed_window():
    # The rule applied to rounds 1-13 picks exactly the queries, in
    # exactly the order, the checker hashed in round 14.
    evidence = load_evidence()
    before = {r: rows for r, rows in evidence.items() if r < 14}
    derived = list(ordered(all_specs(), before))[:WINDOW]
    assert derived == list(evidence[14])


def test_unevidenced_queries_are_hoisted():
    # Tier 0: never green, or the newest row failed, leads everything.
    evidence = {1: {"a_old": True, "b_fixed": False, "c_broke": True},
                2: {"b_fixed": True, "c_broke": False, "d_rows_only": False}}
    names = {"a_old": True, "b_fixed": True, "c_broke": True,
             "d_rows_only": False, "e_new": True}
    assert _order(names, evidence) == ["c_broke", "e_new", "a_old", "b_fixed", "d_rows_only"]


def test_output_changed_follows_failures():
    evidence = {1: {"a": True, "b": True}, 2: {"c": True}}
    names = {"a": True, "b": True, "c": True, "z_new": True}
    assert _order(names, evidence, ("c",)) == ["z_new", "c", "a", "b"]


def test_green_queries_rotate_oldest_evidence_first():
    # Newest green round decides, not the first one; name breaks ties.
    evidence = {1: {"a": True, "b": True, "c": True}, 2: {"b": True}, 3: {"a": True, "d": True}}
    names = {"a": True, "b": True, "c": True, "d": True}
    assert _order(names, evidence) == ["c", "b", "a", "d"]


def test_rows_only_queries_sort_last():
    names = {"a_rows": False, "b": True}
    assert _order(names, {}) == ["b", "a_rows"]
    assert _rank(_spec("a_rows", None), {1: {"a_rows": True}}, ("a_rows",))[0] == 3


def test_evidence_reader_requires_all_three_matches(tmp_path):
    row = {"rows_match": True, "schema_match": True, "hash_match": True}
    (tmp_path / "artifacts").mkdir()
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(
        {"b": row, "a": {**row, "hash_match": False}}))
    (tmp_path / "artifacts" / "CORRECTNESS_r01.json").write_text(json.dumps(
        {"c": {"rows_match": None, "schema_match": None, "hash_match": None}}))
    (tmp_path / "CORRECTNESS_r03_partial.json").write_text("{}")
    evidence = load_evidence(tmp_path)
    assert evidence == {1: {"c": False}, 2: {"b": True, "a": False}}
    assert list(evidence[2]) == ["b", "a"]


def test_unverified_queries_inside_checker_window():
    # Every query lacking current evidence (tiers 0-1) is inside the
    # window, unless such queries fill it; the overflow leads the next
    # round's window.
    specs = all_specs()
    evidence = load_evidence()
    names = list(specs)
    unverified = [n for n in names if _rank(specs[n], evidence, OUTPUT_CHANGED)[0] < 2]
    assert names[: len(unverified)] == unverified
    assert len(names) >= WINDOW


def test_no_rows_only_entries_in_window():
    # A rows-only (oracle=None) query in the window produces a
    # `no_oracle` checker row: a slot the checker cannot hash.
    specs = all_specs()
    rows_only = [n for n in list(specs)[:WINDOW] if specs[n].oracle is None]
    assert not rows_only, f"rows-only queries occupy checker-window slots: {rows_only}"


def test_output_changed_fits_checker_window():
    specs = all_specs()
    unknown = [n for n in OUTPUT_CHANGED if n not in specs]
    assert not unknown, f"OUTPUT_CHANGED names no registered query: {unknown}"
    assert len(OUTPUT_CHANGED) <= WINDOW
