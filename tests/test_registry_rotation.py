"""Adjudication-rotation logic (registry._adjudicated_names): the
round-3 verdict's binding defect was this function marking a query
"done" off ANY past green record, so ops that later crashed in a
driver sweep never re-entered the 50-query window. These tests pin the
latest-record-wins semantics against synthetic driver records."""

from __future__ import annotations

import json

from clj_kinesis_to_firehose_spark import registry


def _write_round(dirpath, n, records):
    with open(dirpath / f"CORRECTNESS_r{n:02d}.json", "w") as fh:
        json.dump(records, fh)


GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
ERR = {"rows_match": None, "schema_match": None, "hash_match": None,
       "err": "SparkException: boom"}
WEAK = {"rows_match": None, "schema_match": None, "hash_match": None,
        "err": "no_oracle"}


def test_green_then_error_must_readjudicate(tmp_path):
    _write_round(tmp_path, 1, {"op_a": GREEN, "op_b": GREEN})
    _write_round(tmp_path, 2, {"op_a": ERR})
    seen = registry._adjudicated_names(root=str(tmp_path))
    assert "op_a" not in seen, "latest record is an error — must re-enter window"
    assert "op_b" in seen


def test_error_then_green_is_adjudicated(tmp_path):
    _write_round(tmp_path, 1, {"op_a": ERR})
    _write_round(tmp_path, 2, {"op_a": GREEN})
    assert "op_a" in registry._adjudicated_names(root=str(tmp_path))


def test_rounds_applied_in_numeric_order(tmp_path):
    # r10 must override r2 even though "r10" < "r2" lexicographically
    # is false here (zero-padded names sort correctly; pin it anyway)
    _write_round(tmp_path, 2, {"op_a": GREEN})
    _write_round(tmp_path, 10, {"op_a": ERR})
    assert "op_a" not in registry._adjudicated_names(root=str(tmp_path))


def test_weak_record_counts_only_while_no_oracle(tmp_path):
    registry._load_all()
    _write_round(tmp_path, 1, {"stream_source_rate": WEAK, "dedup_exact": WEAK})
    seen = registry._adjudicated_names(root=str(tmp_path))
    # stream_source_rate has no oracle → rows-only record is conclusive
    assert "stream_source_rate" in seen
    # dedup_exact HAS an oracle now → its old rows-only record is stale
    assert "dedup_exact" not in seen


def test_malformed_round_file_ignored(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text("{not json")
    _write_round(tmp_path, 2, {"op_a": GREEN})
    assert registry._adjudicated_names(root=str(tmp_path)) == {"op_a"}
