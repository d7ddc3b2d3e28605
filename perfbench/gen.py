"""Seeded input generator for the benchmark.

Writes event slices in the program's stream schema
(``sources.streams.EVENTS_RAW_SCHEMA``) as ``slice=N/part-0.parquet``,
the layout ``read_event_stream`` and the ``kinesis_replay`` source
consume. The program never sees anything but these files.

Every slice has the same composition whatever the seed: exact per-key
quotas (Zipf-skewed over ``KEYS``), an exact number of large payloads
with a fixed multiset of sizes, and an exact number of poison records.
The seed decides only which record gets which role and the random
fields, so runs with different seeds do the same amount of work.

Two modes, each run as its own process so the inputs never sit in the
measured process's memory:

* ``python gen.py backlog ...`` (``write_backlog``) — a closed-loop
  backlog, written before the stream starts; slice mtimes are stamped
  in index order so the file source replays them in order. Prints one
  JSON line of the properties written (``describe``).
* ``python gen.py trickle ...`` — the open-loop generator, run as its
  own process: it lands one slice per interval on a fixed schedule
  (written ahead under a dot-prefixed name, renamed into place when
  due) and stamps every record's ``ts`` with the time its slice was
  due. It prints one JSON line of the schedule and how late it ran.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: small-payload stream keys: the five ``event_type`` values of the
#: program's events fixture, in the order of their counts there
#: (sf0.1: signup 20,302, purchase 20,084, view 19,941, click 19,863,
#: error 19,810), which is the rank order the Zipf skew is applied in.
#: ``error`` is the key the bridge's drop-filter removes.
KEYS = ("signup", "purchase", "view", "click", "error")
ZIPF_S = 1.0
#: the one key that is not the fixture's: it carries every large
#: payload, so its puts are the ones that reach the 4 MiB
#: PutRecordBatch cap before the 500-record cap
LARGE_KEY = "media_upload"
LARGE_MIN_BYTES = 10 * 1024
LARGE_MAX_BYTES = 100 * 1024
#: byte string whose presence makes ``LocalDirFirehoseClient`` fail a
#: record on every attempt (``poison_marker``)
POISON_MARKER = b"POISON-5e1f"
#: event time of the first backlog record; backlog records are 1 ms apart
BACKLOG_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
#: slice mtimes of a backlog: this base plus the slice index, in seconds
BACKLOG_MTIME_BASE = 1_700_000_000

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


@dataclass(frozen=True)
class SliceSpec:
    """Composition of one slice; identical for every seed."""

    records: int
    large: int
    poison: int

    @classmethod
    def scaled(cls, records: int) -> SliceSpec:
        """0.2% large payloads and 0.01% poison records, at least one.

        0.2%: in a 50k-record slice that is 100 payloads of 55 KiB on
        average, 5.6 MB in one stream, so every slice makes at least one
        put that closes at the 4 MiB cap while 99.8% of the records
        stay small. 0.01%: the smallest share that puts a poison record
        in every slice, so the retry-exhaustion and dead-letter path
        runs in every micro-batch at a negligible share of the work."""
        return cls(records, large=round(records * 0.002), poison=max(1, round(records * 1e-4)))

    def key_counts(self) -> dict[str, int]:
        small = self.records - self.large
        w = np.array([1.0 / (r + 1) ** ZIPF_S for r in range(len(KEYS))])
        counts = np.floor(small * w / w.sum()).astype(int)
        counts[0] += small - counts.sum()
        out = dict(zip(KEYS, (int(c) for c in counts)))
        out[LARGE_KEY] = self.large
        return out

    def large_sizes(self) -> list[int]:
        """Fixed ladder of large-payload sizes from 10 to 100 KiB."""
        return [int(v) for v in np.linspace(LARGE_MIN_BYTES, LARGE_MAX_BYTES, self.large)]


def make_slice(seed: int, index: int, spec: SliceSpec, ts_us: int | None = None) -> pa.Table:
    """One slice as an Arrow table. ``ts_us``: the event time of every
    record, in µs since the epoch; by default the backlog clock, which
    puts records 1 ms apart."""
    rng = np.random.default_rng([seed, index])
    n = spec.records
    ids = np.arange(index * n, (index + 1) * n, dtype=np.int64)
    if ts_us is None:
        ts_us = BACKLOG_T0_US + ids * 1000
    ts = np.broadcast_to(np.asarray(ts_us, dtype=np.int64), (n,))
    roles = np.concatenate([np.full(c, k, dtype=object) for k, c in spec.key_counts().items()])
    event_type = roles[rng.permutation(n)]
    user_id = rng.integers(0, 100_000, n, dtype=np.int64)
    value = np.round(rng.uniform(0.0, 500.0, n), 2)
    k = rng.integers(0, 100, n)
    props = [f'{{"k": {v}}}' for v in k.tolist()]
    large_pos = np.flatnonzero(event_type == LARGE_KEY)
    for pos, size in zip(large_pos, rng.permutation(spec.large_sizes())):
        blob = _LETTERS[rng.integers(0, 26, int(size))].tobytes().decode()
        props[pos] = f'{{"k": {k[pos]}, "blob": "{blob}"}}'
    small_ok = np.flatnonzero(np.isin(event_type, [t for t in KEYS if t != "error"]))
    for pos in rng.choice(small_ok, spec.poison, replace=False):
        props[pos] = f'{{"k": {k[pos]}, "tag": "{POISON_MARKER.decode()}"}}'
    return pa.table(
        [
            pa.array(ids),
            pa.array(ts, type=pa.timestamp("us")),
            pa.array(user_id),
            pa.array(event_type.tolist(), type=pa.string()),
            pa.array(value),
            pa.array(props, type=pa.string()),
        ],
        schema=SCHEMA,
    )


def write_slice(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def slice_path(root: str, index: int) -> str:
    return os.path.join(root, f"slice={index}", "part-0.parquet")


def poison_mask(table: pa.Table) -> np.ndarray:
    return pc.match_substring(table.column("props"), POISON_MARKER.decode()).to_numpy(zero_copy_only=False)


def describe(tables: list[pa.Table]) -> dict:
    """Input properties as written: counts and shares of each role."""
    n = sum(t.num_rows for t in tables)
    keys: dict[str, int] = {}
    large = poison = 0
    large_bytes = 0
    for t in tables:
        for key, c in zip(*np.unique(t.column("event_type").to_numpy(zero_copy_only=False), return_counts=True)):
            keys[key] = keys.get(key, 0) + int(c)
        large_mask = pc.match_substring(t.column("props"), '"blob"').to_numpy(zero_copy_only=False)
        large += int(large_mask.sum())
        large_bytes += int(pc.sum(pc.binary_length(t.column("props").filter(pa.array(large_mask)))).as_py() or 0)
        poison += int(poison_mask(t).sum())
    return {
        "records": n,
        "slices": len(tables),
        "key_counts": dict(sorted(keys.items(), key=lambda kv: -kv[1])),
        "error_share": keys.get("error", 0) / n,
        "large_share": large / n,
        "large_bytes": large_bytes,
        "poison_share": poison / n,
    }


def write_backlog(root: str, seed: int, slices: int, spec: SliceSpec) -> list[pa.Table]:
    """Write a closed-loop backlog of ``slices`` slices under ``root``
    and return the tables written."""
    tables = []
    for i in range(slices):
        t = make_slice(seed, i, spec)
        path = slice_path(root, i)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        write_slice(t, path)
        os.utime(path, (BACKLOG_MTIME_BASE + i, BACKLOG_MTIME_BASE + i))
        tables.append(t)
    return tables


def trickle(root: str, seed: int, slices: int, spec: SliceSpec, interval_s: float, t0: float) -> dict:
    """Open loop: slice k is due at ``t0 + k * interval_s`` and its
    records are stamped with that time. Each slice is written ahead
    under ``.slice=k`` and renamed to ``slice=k`` when due, so it lands
    whole and on time. Never slows down when the consumer does."""
    os.makedirs(root, exist_ok=True)
    due = [t0 + i * interval_s for i in range(slices)]
    late_ms = []
    for i, d in enumerate(due):
        tmp = os.path.join(root, f".slice={i}")
        os.makedirs(tmp)
        write_slice(make_slice(seed, i, spec, ts_us=int(d * 1e6)), os.path.join(tmp, "part-0.parquet"))
        delay = d - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(tmp, os.path.join(root, f"slice={i}"))
        late_ms.append((time.time() - d) * 1000.0)
    return {"due": due, "late_ms": late_ms}


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description="seeded slice generator")
    ap.add_argument("mode", choices=["backlog", "trickle"])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--slices", type=int, required=True)
    ap.add_argument("--records", type=int, required=True)
    ap.add_argument("--interval", type=float, default=0.0)
    a = ap.parse_args(argv)
    if a.mode == "backlog":
        print(json.dumps(describe(write_backlog(a.out, a.seed, a.slices, SliceSpec.scaled(a.records)))), flush=True)
        return
    # the schedule starts once this process is up, with a lead that covers
    # writing the first slice, so the generator's own start-up never makes
    # a slice late
    res = trickle(a.out, a.seed, a.slices, SliceSpec.scaled(a.records), a.interval, time.time() + 1.0)
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
