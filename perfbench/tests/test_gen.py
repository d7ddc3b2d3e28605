"""Determinism and reported properties of the benchmark's input generators.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import tables  # noqa: E402

SPEC = gen.SliceSpec.scaled(5_000)
SLICES = 3


def digests(root: str) -> list[str]:
    return [
        hashlib.sha256(open(gen.slice_path(root, i), "rb").read()).hexdigest()
        for i in range(SLICES)
    ]


def test_same_seed_writes_identical_files(tmp_path):
    gen.write_backlog(str(tmp_path / "a"), 7, SLICES, SPEC)
    gen.write_backlog(str(tmp_path / "b"), 7, SLICES, SPEC)
    assert digests(str(tmp_path / "a")) == digests(str(tmp_path / "b"))


def test_other_seed_writes_other_files(tmp_path):
    gen.write_backlog(str(tmp_path / "a"), 7, SLICES, SPEC)
    gen.write_backlog(str(tmp_path / "b"), 8, SLICES, SPEC)
    a, b = digests(str(tmp_path / "a")), digests(str(tmp_path / "b"))
    assert all(x != y for x, y in zip(a, b))


@pytest.mark.parametrize("seed", [1, 2])
def test_reported_properties_match_files(tmp_path, seed):
    root = str(tmp_path / "in")
    gen.write_backlog(root, seed, SLICES, SPEC)
    tables = [pq.read_table(gen.slice_path(root, i)) for i in range(SLICES)]
    props = gen.describe(tables)
    n = SLICES * SPEC.records
    assert props["records"] == n
    assert props["slices"] == SLICES
    assert props["key_counts"] == {k: c * SLICES for k, c in SPEC.key_counts().items() if c}
    assert props["error_share"] == SPEC.key_counts()["error"] / SPEC.records
    assert props["large_share"] == SPEC.large / SPEC.records
    assert props["poison_share"] == SPEC.poison / SPEC.records
    # Zipf skew: the rank-r key has about 1/r of the top key's records
    counts = [props["key_counts"][k] for k in gen.KEYS]
    assert counts == sorted(counts, reverse=True)
    assert abs(counts[0] / counts[1] - 2.0) < 0.01
    # large payloads span 10-100 KiB; the poison marker sits in props
    sizes = [len(p) for t in tables for p in t.column("props").to_pylist() if '"blob"' in p]
    assert min(sizes) > gen.LARGE_MIN_BYTES and max(sizes) < gen.LARGE_MAX_BYTES + 64
    # ids are unique across slices, and every slice holds the same
    # composition whatever the seed
    ids = np.concatenate([t.column("event_id").to_numpy() for t in tables])
    assert len(np.unique(ids)) == n
    assert sum(int(gen.poison_mask(t).sum()) for t in tables) == SLICES * SPEC.poison


def test_trickle_lands_whole_slices_on_schedule(tmp_path):
    out = str(tmp_path / "in")
    started = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(HERE), "gen.py"), "trickle", "--out", out,
         "--seed", "3", "--slices", "3", "--records", "1000", "--interval", "0.2"],
        capture_output=True, text=True, timeout=60, check=True,
    )
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(os.listdir(out)) == [f"slice={i}" for i in range(3)]
    t0 = report["due"][0]
    assert started < t0 < time.time()
    assert report["due"] == pytest.approx([t0, t0 + 0.2, t0 + 0.4])
    assert all(late >= 0 for late in report["late_ms"])
    for i, due in enumerate(report["due"]):
        t = pq.read_table(gen.slice_path(out, i))
        assert t.num_rows == 1000
        stamps = set(t.column("ts").cast("int64").to_pylist())
        assert stamps == {int(due * 1e6)}


def table_digests(root: str) -> dict[str, str]:
    return {name: hashlib.sha256(open(os.path.join(root, name), "rb").read()).hexdigest()
            for name in sorted(os.listdir(root))}


def test_tables_are_seeded(tmp_path):
    rows = tables.write_tables(str(tmp_path / "a"), 7, 0.001)
    tables.write_tables(str(tmp_path / "b"), 7, 0.001)
    tables.write_tables(str(tmp_path / "c"), 8, 0.001)
    a, b, c = (table_digests(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert sorted(a) == sorted(f"{t}.parquet" for t in rows)
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
    li = pq.read_table(str(tmp_path / "a" / "lineitem.parquet"))
    # line numbers restart at 1 in every order and never repeat in one
    keys = list(zip(li.column("l_orderkey").to_pylist(), li.column("l_linenumber").to_pylist()))
    assert len(set(keys)) == len(keys) and min(n for _, n in keys) == 1
