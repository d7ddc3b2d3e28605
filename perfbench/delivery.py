"""Reads a delivery directory back with plain Python: the output check
and the sink counters of one measured pass.

The foreachBatch sink names each accepted put
``{stream}-e{epoch}-p{partition}-{chunk}-a{attempt}.jsonl`` and each
dead-letter file ``errors/{stream}-e{epoch}-p{partition}-{chunk}-dead.jsonl``;
the connector writer names its files ``batch-{batch}-p{partition}-c{chunk}.jsonl``.
From these names and the lines in each file the chunker's puts,
retries and dead letters are reconstructed exactly.

Run as its own process after the session has stopped, so neither the
expected records nor the delivered ones sit in the measured process:

    python3 perfbench/delivery.py SPEC.json

``SPEC.json`` lists the run's passes (see ``audit``); the last line of
standard output is one JSON object with the failures and the figures
read back from the output.
"""

from __future__ import annotations

import inspect
import io
import json
import os
import re
import shutil
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.json as pj

import gen
from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
    MAX_RECORDS_PER_BATCH,
    DeadLetterDir,
    LocalDirFirehoseClient,
    deliver_records,
)

_PUT = re.compile(r"(?P<stream>.+)-e(?P<e>\d+)-p(?P<p>\d+)-(?P<c>\d+)-(?:a(?P<a>\d+)|dead)\.jsonl")
MAX_RETRIES = inspect.signature(deliver_records).parameters["max_retries"].default
_FIELDS = pa.schema([("event_id", pa.int64()), ("value", pa.float64()), ("event_type", pa.string())])


@dataclass
class Delivered:
    """Every record found under a delivery directory."""

    ids: np.ndarray  # event_id per record
    values: np.ndarray  # value per record
    mtimes: np.ndarray  # mtime (epoch s) of the file holding the record
    dead: np.ndarray  # True when the record sits under errors/
    misrouted: int  # records whose file's stream is not their event_type
    files: list[tuple[str, int, int]] = field(default_factory=list)  # (name, records, bytes)
    payloads: dict[str, list[bytes]] = field(default_factory=dict)  # stream -> lines


def read_delivery(out_dir: str, keep_payloads: bool = False) -> Delivered:
    chunks, counts, mtimes, dead, streams = [], [], [], [], []
    files = []
    payloads: dict[str, list[bytes]] = {}
    for sub in ("", "errors"):
        d = os.path.join(out_dir, sub)
        if not os.path.isdir(d):
            continue
        for name in sorted(os.listdir(d)):
            if not name.endswith(".jsonl"):
                continue
            path = os.path.join(d, name)
            m = _PUT.fullmatch(name)
            with open(path, "rb") as fh:
                data = fh.read()
            n = data.count(b"\n")
            chunks.append(data)
            counts.append(n)
            mtimes.append(os.stat(path).st_mtime)
            dead.append(sub == "errors")
            streams.append(m["stream"] if m else None)
            files.append((os.path.join(sub, name), n, len(data)))
            if keep_payloads:
                payloads.setdefault(m["stream"] if m else "connector", []).extend(data.splitlines(keepends=True))
    table = (
        pj.read_json(
            io.BytesIO(b"".join(chunks)),
            read_options=pj.ReadOptions(block_size=8 << 20),
            parse_options=pj.ParseOptions(explicit_schema=_FIELDS, unexpected_field_behavior="ignore"),
        )
        if chunks
        else _FIELDS.empty_table()
    )
    counts = np.array(counts, dtype=np.int64)
    etype = table.column("event_type").to_numpy(zero_copy_only=False)
    want_stream = np.repeat(np.array(streams, dtype=object), counts)
    routed = np.repeat(np.array([s is not None for s in streams], dtype=bool), counts)
    return Delivered(
        table.column("event_id").to_numpy(),
        table.column("value").to_numpy(),
        np.repeat(np.array(mtimes, dtype=np.float64), counts),
        np.repeat(np.array(dead, dtype=bool), counts),
        int((routed & (etype != want_stream)).sum()),
        files,
        payloads,
    )


def check(got: Delivered, want_ids: np.ndarray, want_values: np.ndarray, want_dead: np.ndarray) -> int:
    """Failed records: each expected record must appear exactly once,
    in the right place (delivered or ``errors/``) and with its value.
    Counts missing, duplicate, unexpected, misplaced, misrouted and
    altered records."""
    order = np.argsort(want_ids)
    want_ids, want_values, want_dead = want_ids[order], want_values[order], want_dead[order]
    uniq, first, counts = np.unique(got.ids, return_index=True, return_counts=True)
    failed = int((counts - 1).sum())  # duplicates
    known = np.isin(uniq, want_ids)
    failed += int((~known).sum())  # records that should not be there
    failed += len(want_ids) - int(known.sum())  # missing
    pos = np.searchsorted(want_ids, uniq[known])
    at = first[known]
    failed += int((got.dead[at] != want_dead[pos]).sum())
    failed += int((got.values[at] != want_values[pos]).sum())
    return failed + got.misrouted


def sink_counters(got: Delivered) -> dict[str, float]:
    """Puts, retries and dead letters of the foreachBatch sink,
    reconstructed from file names. A chunk closed below 500 records
    that is not the last of its (stream, epoch, partition) group was
    closed by the 4 MiB cap."""
    chunks: dict[tuple, dict] = {}
    put_files = put_bytes = put_records = 0
    for name, n, nbytes in got.files:
        m = _PUT.fullmatch(os.path.basename(name))
        if m is None:
            continue
        c = chunks.setdefault((m["stream"], m["e"], m["p"], int(m["c"])), {"a": {}, "dead": 0})
        if m["a"] is None:
            c["dead"] += n
        else:
            c["a"][int(m["a"])] = n
            put_files += 1
            put_bytes += nbytes
            put_records += n
    last: dict[tuple, int] = {}
    for s, e, p, ci in chunks:
        last[(s, e, p)] = max(last.get((s, e, p), 0), ci)
    capped = retried = submitted = 0
    for (s, e, p, ci), c in chunks.items():
        size = sum(c["a"].values()) + c["dead"]
        capped += size < MAX_RECORDS_PER_BATCH and ci < last[(s, e, p)]
        top = MAX_RETRIES if c["dead"] else max(c["a"], default=0)
        for a in range(top + 1):
            sub = sum(v for b, v in c["a"].items() if b >= a) + c["dead"]
            submitted += sub
            retried += sub if a else 0
    return {
        "put_files": put_files,
        "records_per_put": put_records / put_files if put_files else 0.0,
        "bytes_per_put": put_bytes / put_files if put_files else 0.0,
        "byte_capped_puts": capped,
        "retried_records": retried,
        "dead_lettered": int(got.dead.sum()),
        "useful_ratio": put_records / submitted if submitted else 0.0,
    }


def kernel_rate(payloads: dict[str, list[bytes]], scratch: str, fail_every: int) -> float:
    """``deliver_records`` alone on a pass's payload bytes, with the
    sink's failure injection and dead-letter target and no Spark: the
    ceiling of the bridge's per-record path."""
    client = LocalDirFirehoseClient(scratch, fail_first_attempt_every=fail_every, poison_marker=gen.POISON_MARKER)
    n = 0
    t0 = time.perf_counter()
    for stream, records in payloads.items():
        res = deliver_records(records, client, stream, sleep=lambda s: None,
                              idempotency_prefix="k", dead_letter=DeadLetterDir(scratch))
        n += res["n_records"] + res["n_dead"]
    dt = time.perf_counter() - t0
    shutil.rmtree(scratch)
    return n / dt


def audit(spec: dict) -> dict:
    """Check every pass of a run against the generator and read back its
    figures. ``spec["passes"]``: one entry per pass with ``face``
    (``bridge`` or ``connector``), ``out``, the ``seed``, ``slices`` and
    ``records`` its input was generated with, and optionally ``since``
    (per slice, the epoch second its records count from), ``group``
    (passes whose freshness is summarised together), ``counters`` (report the sink's
    counters) and ``kernel`` (time ``deliver_records`` on its payloads).
    The generator is deterministic, so the expected records are made
    again here from the seed."""
    attempted = failed = 0
    fresh: dict[str, list[np.ndarray]] = {}
    passes = []
    for p in spec["passes"]:
        spec_ = gen.SliceSpec.scaled(p["records"])
        tables = [gen.make_slice(p["seed"], i, spec_) for i in range(p["slices"])]
        got = read_delivery(p["out"], keep_payloads=p.get("kernel", False))
        ids = np.concatenate([t.column("event_id").to_numpy() for t in tables])
        values = np.concatenate([t.column("value").to_numpy() for t in tables])
        if p["face"] == "bridge":
            etype = np.concatenate([t.column("event_type").to_numpy(zero_copy_only=False) for t in tables])
            poison = np.concatenate([gen.poison_mask(t) for t in tables])
            keep = etype != "error"
            bad = check(got, ids[keep], values[keep], poison[keep])
        else:
            bad = check(got, ids, values, np.zeros(len(ids), dtype=bool))
        attempted += len(ids)
        failed += bad
        delivered = ~got.dead
        res = {"generated": len(ids), "delivered": int(delivered.sum()), "failed": bad,
               "files": len(got.files), "records": len(got.ids)}
        if p.get("group") and p.get("since"):
            # ids the generator never made are already failures
            slice_of = np.clip(got.ids[delivered] // spec_.records, 0, p["slices"] - 1)
            ms = (got.mtimes[delivered] - np.asarray(p["since"], dtype=np.float64)[slice_of]) * 1000.0
            for i in range(p["slices"]):
                fresh.setdefault(p["group"], []).append(ms[slice_of == i])
        if p.get("counters"):
            res["counters"] = sink_counters(got)
        if p.get("kernel"):
            res["kernel_records_per_s"] = kernel_rate(got.payloads, p["out"] + "-kernel", spec["fail_every"])
        passes.append(res)
        print(f"audit {p['face']} {p['out']}: {res['delivered']} delivered, {bad} failed", file=sys.stderr)
    # per slice (each is one micro-batch) the percentiles of its
    # records' freshness, then the median over the group's slices: the
    # typical batch, not the one slowest batch of a short run
    groups = {}
    for g, arrays in fresh.items():
        arrays = [a for a in arrays if len(a)]
        groups[g] = {q: float(np.median([np.percentile(a, int(q[1:])) for a in arrays])) for q in ("p50", "p90")}
    return {"attempted": attempted, "failed": failed, "groups": groups, "passes": passes}


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        print(json.dumps(audit(json.load(fh))))
