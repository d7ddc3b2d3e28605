#!/usr/bin/env python3
"""Benchmark of the Kinesis→Firehose bridge, end to end and by layer.

    python3 perfbench/run.py --workload bridge_bulk --seed 1 --seconds 15 --trace 0

Workloads (README.md says why each exists):

* ``bridge_bulk`` — closed loop: a prepared backlog replayed with
  ``availableNow`` through ``read_event_stream`` → drop-filter →
  ``firehose_foreach_batch``, one 50k-record slice per micro-batch,
  repeated for ``--seconds``.
* ``bridge_trickle`` — open loop: a separate generator process lands one
  small slice every 2 s for ``--seconds`` while the same bridge runs on
  its default trigger.

A run starts the JVM, sets up a session ``SETUPS`` times on it
(``setup_s``: build the session, then one Python-worker task, which
checks that workers import the program from this checkout), warms up
untimed, measures the
workload, stops the session, checks every delivered record against the
generator in a separate process, and prints one JSON line last. Inputs
are generated by separate processes too, so the measured process holds
only the program's own state. ``--trace 1`` measures one untraced and
one traced round of the workload and reports the per-layer metrics, the
tracing overhead, the Python DataSource connector pair
(``kinesis_replay`` → ``firehose_delivery``) on a bulk backlog, the 14
headline queries on generated tables, and ``bridge_bulk`` at local[1]
as the single-thread baseline. Its spans are written to
``.perfbench/traces/``.

All scratch state (``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM's
``java.io.tmpdir``, inputs, checkpoints, delivery directories) lives
under ``.perfbench/run-<pid>`` in the checkout and is removed when the
run ends.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import uuid
from contextlib import contextmanager
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")
PACKAGE = "clj_kinesis_to_firehose_spark"
CPUS = 4
#: driver heap, in place of the program's 8 GiB default: keeps the
#: machine small and the JVM's peak RSS steady, so ``peak_rss_mb`` is
#: the figure at a 1 GiB heap
DRIVER_MEM = "1g"
#: session set-ups per run on the started JVM; ``setup_s`` is their
#: median. Not a new JVM each: three cold starts cost ~30 s of a run,
#: more than the run schedule allows; the cold start is measured once,
#: as ``session.build_s`` of a traced run.
SETUPS = 3
#: records per backlog slice, i.e. per bulk micro-batch: large enough
#: that the per-record path dominates each batch
BULK_RECORDS = 50_000
#: slices per bulk pass; a pass takes 3-4 s on a 4-core box, so a
#: 15-second run holds 4-5 passes, 8-10 micro-batches
BULK_SLICES = 2
#: open loop: one slice of TRICKLE_RECORDS every TRICKLE_INTERVAL_S,
#: about a third of what the bridge sustains at this slice size
TRICKLE_RECORDS = 1_000
TRICKLE_INTERVAL_S = 2.0
#: every Nth record of a put fails on its first attempt: each full
#: 500-record put resubmits 10 records once, so the retry path runs on
#: every put and adds 2% to the records submitted
FAIL_FIRST_ATTEMPT_EVERY = 50
#: the untimed warm-up pass before measuring, (slices, records per
#: slice): two full-size slices through the same bridge, so Python
#: workers, code generation and the JIT's warm-up are paid before the
#: first measured batch (after one slice the first measured pass still
#: ran 15-25% slower than the next). The traced run's extra faces only
#: need their first-use cost paid: one small slice.
WARMUP = (2, BULK_RECORDS)
WARMUP_EXTRA = (1, 5_000)
#: scale of the generated tables the headline queries run on (lineitem
#: ~600k rows, as the program's sf0.1 fixture)
HEADLINE_SF = 0.1

WORKLOADS = ("bridge_bulk", "bridge_trickle")


def prepare_environment(root: str) -> None:
    """Point every scratch location of this process, its children, the
    JVM and the Python workers at ``root``, and put the checkout on the
    workers' import path. Must run before the JVM starts."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    sys.path[:0] = [REPO, HERE]


def remove_stale_roots() -> None:
    """Scratch roots of runs that were killed before they could clean up."""
    if not os.path.isdir(STATE):
        return
    for name in os.listdir(STATE):
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(STATE, name), ignore_errors=True)


class Tracer:
    """Spans kept in memory and written when the run ends. Each span has
    a name, start and end (epoch s), its parent span's id, and the run
    id every span of one run shares."""

    def __init__(self) -> None:
        self.enabled = False
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append({"id": len(self.spans), "run": self.run_id, "name": name,
                           "start": start, "end": end, "parent": parent, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        sid = self.add(name, time.time(), 0.0, parent)
        try:
            yield sid
        finally:
            if sid is not None:
                self.spans[sid]["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


def process_tree(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    tree, stack = [], [pid]
    while stack:
        p = stack.pop()
        tree.append(p)
        stack.extend(children.get(p, []))
    return tree


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM over the given processes (those that still exist)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024.0


def spawn(script: str, *args: str) -> subprocess.Popen:
    """Start one of the benchmark's scripts as its own process."""
    return subprocess.Popen([sys.executable, os.path.join(HERE, script), *args], stdout=subprocess.PIPE)


def result(proc: subprocess.Popen) -> dict:
    """Wait for a process from ``spawn`` and return the JSON object it
    printed last."""
    try:
        stdout, _ = proc.communicate()
    except BaseException:  # interrupted: leave no process behind
        proc.kill()
        proc.wait()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(proc.args[1:])} exited with {proc.returncode}")
    return json.loads(stdout.decode().strip().splitlines()[-1])


def child(script: str, *args: str) -> dict:
    return result(spawn(script, *args))


def _worker_module_file(_):
    import importlib

    return importlib.import_module(f"{PACKAGE}.streaming.firehose_sink").__file__


def batch_start(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


class Bench:
    def __init__(self, args, root: str) -> None:
        self.args = args
        self.root = root
        self.tracer = Tracer()
        self.spark = None
        #: every pass of the run, for the audit after the session stops
        self.audits: list[dict] = []

    # ------------------------------------------------------------ session

    def start_session(self, cpus: int) -> float:
        """Start the JVM if none runs and build the session; returns the
        time this took."""
        from clj_kinesis_to_firehose_spark.session import build_spark

        t0 = time.perf_counter()
        with self.tracer.span(f"session.build.local{cpus}"):
            self.spark = build_spark("perfbench", cpus=cpus)
        build_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        # keep every batch's progress report, not the last 100
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        return build_s

    def preflight(self) -> None:
        """One Python-worker task, before anything is timed on this
        session: fails the run if workers do not import the program
        from this checkout."""
        with self.tracer.span("preflight"):
            where = self.spark.sparkContext.parallelize([0], 1).map(_worker_module_file).collect()[0]
        if not os.path.realpath(where).startswith(os.path.realpath(REPO) + os.sep):
            raise RuntimeError(f"Python workers import the program from {where}, not from {REPO}")

    def stop_session(self, jvm: bool = True) -> None:
        """Stop the session and, with ``jvm``, the JVM too."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if jvm:
            stop_jvm()

    def peak_rss_mb(self) -> float:
        """The driver Python process, its JVM, and the largest Python
        process below the JVM: the worker that held the most of the
        per-record path. Not the sum over workers, whose number varies
        with how tasks happened to be scheduled."""
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        workers = process_tree(jvm)[1:]
        return peak_rss_mb([os.getpid(), jvm]) + max((peak_rss_mb([w]) for w in workers), default=0.0)

    # ------------------------------------------------------------ inputs

    def dir(self, name: str) -> str:
        return os.path.join(self.root, f"{name}-{uuid.uuid4().hex[:8]}")

    def backlogs(self, *sizes: tuple[int, int, int], parent=None) -> list[dict]:
        """Closed-loop backlogs of the given (seed, slices, records per
        slice), written by generator processes running side by side."""
        inputs = [{"src": self.dir("in"), "seed": seed, "slices": slices, "records": records}
                  for seed, slices, records in sizes]
        with self.tracer.span("generate", parent):
            procs = [spawn("gen.py", "backlog", "--out", i["src"], "--seed", str(i["seed"]),
                           "--slices", str(i["slices"]), "--records", str(i["records"])) for i in inputs]
            for i, proc in zip(inputs, procs):
                i["props"] = result(proc)
        return inputs

    # ------------------------------------------------------------ queries

    def bridge(self, src: str, out: str, trigger: dict):
        """The composition ``stream_firehose_pipeline`` builds, on the
        benchmark's inputs, with failure injection and poison records."""
        from pyspark.sql import functions as F

        import gen
        from clj_kinesis_to_firehose_spark.sources.streams import read_event_stream
        from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
            LocalDirFirehoseClient,
            firehose_foreach_batch,
        )

        routed = (
            read_event_stream(self.spark, src)
            .withColumn("prop_k", F.get_json_object("props", "$.k").cast("long"))
            .filter(F.col("event_type") != "error")
        )
        sink = firehose_foreach_batch(
            out,
            fail_first_attempt_every=FAIL_FIRST_ATTEMPT_EVERY,
            client_factory=functools.partial(LocalDirFirehoseClient, poison_marker=gen.POISON_MARKER),
        )
        return (
            routed.writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.dir("chk"))
            .trigger(**trigger)
            .start()
        )

    def connector(self, src: str, out: str):
        from clj_kinesis_to_firehose_spark.sources.pyds import (
            register_delivery_sink,
            register_replay_source,
        )

        register_replay_source(self.spark)
        register_delivery_sink(self.spark)
        return (
            self.spark.readStream.format("kinesis_replay")
            .option("path", src)
            .load()
            .writeStream.format("firehose_delivery")
            .option("path", out)
            .option("checkpointLocation", self.dir("chk"))
            .trigger(availableNow=True)
            .start()
        )

    # ------------------------------------------------------------ passes

    def bulk_pass(self, face: str, inp: dict, group: str | None = None, parent=None) -> dict:
        """One bounded replay of a prepared backlog; every record is
        available when the stream starts. A record's freshness counts
        from the start of the micro-batch that takes it."""
        out = self.dir("out")
        with self.tracer.span(f"stream.{face}", parent) as sid:
            t0 = time.time()
            with self.tracer.span("query.start", sid):
                q = self.bridge(inp["src"], out, {"availableNow": True}) if face == "bridge" \
                    else self.connector(inp["src"], out)
            q.awaitTermination()
            t1 = time.time()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        starts = [batch_start(p) for p in batches]
        if face == "bridge" and len(batches) != inp["slices"]:
            raise RuntimeError(f"{inp['slices']} slices took {len(batches)} micro-batches, not one each")
        since = starts if face == "bridge" else [starts[0]] * inp["slices"]
        self.audits.append({"face": face, "out": out, "seed": inp["seed"], "slices": inp["slices"],
                            "records": inp["records"], "since": since, "group": group})
        print(f"pass {face}: {sum(p['numInputRows'] for p in batches)} records in {len(batches)} batches,"
              f" {t1 - t0:.2f} s; batch ms {[p['durationMs']['triggerExecution'] for p in batches]}", file=sys.stderr)
        return {"q": q, "batches": batches, "landed": [t0] * inp["slices"], "sid": sid, "t0": t0, "t1": t1,
                "audit": len(self.audits) - 1}

    def trickle_pass(self, seed: int, seconds: float, group: str | None = None, parent=None) -> dict:
        """Open loop: once the stream is up, the generator process lands
        slices on its own schedule, whatever the stream does. A
        record's freshness counts from the time its slice was due."""
        src, out = self.dir("in"), self.dir("out")
        os.makedirs(src)
        slices = max(2, int(seconds // TRICKLE_INTERVAL_S))
        with self.tracer.span("stream.bridge", parent) as sid:
            t0 = time.time()
            with self.tracer.span("query.start", sid):
                q = self.bridge(src, out, {"processingTime": "0 seconds"})
            deadline = time.time() + 60
            while not q.recentProgress and time.time() < deadline:  # first (empty) trigger done
                time.sleep(0.01)
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "gen.py"), "trickle", "--out", src, "--seed", str(seed),
                 "--slices", str(slices), "--records", str(TRICKLE_RECORDS),
                 "--interval", str(TRICKLE_INTERVAL_S)],
                stdout=subprocess.PIPE,
            )
            try:
                stdout, _ = proc.communicate(timeout=slices * TRICKLE_INTERVAL_S + 60)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
            if proc.returncode != 0:
                raise RuntimeError(f"generator exited with {proc.returncode}")
            report = json.loads(stdout.decode().strip().splitlines()[-1])
            want = slices * TRICKLE_RECORDS
            deadline = time.time() + 60
            while sum(p["numInputRows"] for p in q.recentProgress) < want and time.time() < deadline:
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                time.sleep(0.01)
            t1 = time.time()
            q.stop()
        due = report["due"]
        self.audits.append({"face": "bridge", "out": out, "seed": seed, "slices": slices,
                            "records": TRICKLE_RECORDS, "since": due, "group": group})
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        print(f"pass trickle: {sum(p['numInputRows'] for p in batches)} records in {len(batches)} batches,"
              f" generator late by up to {max(report['late_ms']):.0f} ms", file=sys.stderr)
        return {"q": q, "batches": batches, "landed": [d + late / 1000.0 for d, late in zip(due, report["late_ms"])],
                "sid": sid, "t0": t0, "t1": t1, "audit": len(self.audits) - 1, "late_ms_max": max(report["late_ms"]),
                "slices": slices}

    # ------------------------------------------------------------ layers

    def layer_metrics(self, face: str, res: dict) -> dict:
        """Per-layer numbers of one traced pass from the stream's own
        progress reports and the engine's job/stage/task counts for the
        query's job group. The sink's counters are read back from its
        output by the audit and added later."""
        import numpy as np

        batches, sid = res["batches"], res["sid"]

        def dur(key):
            return float(sum(p["durationMs"].get(key, 0) for p in batches))

        starts = []
        for p in batches:
            start = batch_start(p)
            starts.append(start)
            self.tracer.add(f"batch.{p['batchId']}", start, start + p["durationMs"]["triggerExecution"] / 1000.0,
                            sid, rows=p["numInputRows"], durationMs=p["durationMs"])
        st = self.spark.sparkContext.statusTracker()
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(str(res["q"].runId))]
        stages = [st.getStageInfo(s) for j in jobs if j for s in j.stageIds]
        m = {
            "streams.batches": len(batches),
            "streams.rows_per_batch": float(np.mean([p["numInputRows"] for p in batches])),
            "streams.latest_offset_ms": dur("latestOffset"),
            "streams.get_batch_ms": dur("getBatch"),
            # the file source takes one slice per batch, in landing order
            "streams.queue_wait_ms_p50": float(np.median([(s - lt) * 1000.0 for s, lt in zip(starts, res["landed"])])),
            "checkpoint.wal_commit_ms": dur("walCommit"),
            "checkpoint.commit_offsets_ms": dur("commitOffsets"),
            "checkpoint.query_planning_ms": dur("queryPlanning"),
            "checkpoint.trigger_ms_p50": float(np.median([p["durationMs"]["triggerExecution"] for p in batches])),
            "engine.jobs": len(jobs),
            "engine.stages": len(stages),
            "engine.tasks": sum(s.numTasks for s in stages if s),
        }
        if face == "bridge":
            m["firehose_sink.add_batch_ms"] = dur("addBatch")
        else:
            m["pyds.add_batch_ms"] = dur("addBatch")
        return m

    # ------------------------------------------------------------ workloads

    def warm_up(self, face: str, size: tuple[int, int], parent=None) -> None:
        """Untimed pass over a fixed backlog of ``size`` (slices, records
        per slice) through the same path: code generation and the JIT
        pay their first-use cost here, not in a measured pass. Its
        output is checked too."""
        with self.tracer.span(f"warm_up.{face}", parent) as sid:
            self.bulk_pass(face, self.backlogs((0, *size), parent=sid)[0], parent=sid)

    def measure(self, inp: dict | None, seconds: float, group: str | None = None, parent=None) -> list[dict]:
        """Passes of the workload for about ``seconds`` (at least one):
        a bulk pass starts only if it can end in time, judged by the
        last one."""
        if self.args.workload == "bridge_trickle":
            return [self.trickle_pass(self.args.seed, seconds, group, parent)]
        passes = []
        due = time.time()
        t_end = due + seconds
        while True:
            start = time.time()
            res = self.bulk_pass("bridge", inp, group, parent)
            # the closed loop's next pass is due when the last one ends
            res["late_ms_max"] = (res["t0"] - due) * 1000.0
            passes.append(res)
            due = res["t1"]
            if 2 * time.time() - start > t_end:
                return passes


def records_per_s(passes: list[dict]) -> float:
    """Input records the stream processed ÷ the wall time of the passes,
    each from ``start()`` until its last record's micro-batch finished.
    In the closed loop this is the bridge's throughput; in the open loop
    it is the offered load, and falls below it only when the bridge
    cannot keep up."""
    rows = sum(p["numInputRows"] for res in passes for p in res["batches"])
    return rows / sum(res["t1"] - res["t0"] for res in passes)


def audit(bench: Bench) -> dict:
    """Check every pass in a separate process, once the session is down."""
    path = os.path.join(bench.root, "audit.json")
    with open(path, "w") as fh:
        json.dump({"passes": bench.audits, "fail_every": FAIL_FIRST_ATTEMPT_EVERY}, fh)
    with bench.tracer.span("audit"):
        return child("delivery.py", path)


def run_plain(bench: Bench, args) -> dict:
    warm, inp = bench.backlogs((0, *WARMUP), (args.seed, BULK_SLICES, BULK_RECORDS))
    if args.workload != "bridge_bulk":
        inp = None
    bench.start_session(CPUS)
    setups = []
    for _ in range(SETUPS):
        bench.stop_session(jvm=False)
        t0 = time.perf_counter()
        bench.start_session(CPUS)
        bench.preflight()
        setups.append(time.perf_counter() - t0)
    bench.bulk_pass("bridge", warm)
    passes = bench.measure(inp, args.seconds, "measure")
    rss = bench.peak_rss_mb()
    bench.stop_session()
    checked = audit(bench)
    fresh = checked["groups"]["measure"]
    metrics = {
        "setup_s": statistics.median(setups),
        "records_per_s": records_per_s(passes),
        "freshness_p50_ms": fresh["p50"],
        "freshness_p90_ms": fresh["p90"],
        "peak_rss_mb": rss,
    }
    print(f"setups {', '.join(f'{s:.2f}' for s in setups)} s", file=sys.stderr)
    return {"attempted": checked["attempted"], "failed": checked["failed"], "metrics": metrics}


def run_traced(bench: Bench, args) -> dict:
    import headline

    tracer = bench.tracer
    tracer.enabled = True
    seconds = max(1.0, args.seconds / 2)
    tables = os.path.join(bench.root, "tables")
    with tracer.span("generate.tables"):
        rows = spawn("tables.py", "--out", tables, "--seed", str(args.seed), "--sf", str(HEADLINE_SF))
        (backlog,) = bench.backlogs((args.seed, BULK_SLICES, BULK_RECORDS))
        rows = result(rows)
    inp = backlog if args.workload == "bridge_bulk" else None
    metrics: dict[str, float] = {"session.build_s": bench.start_session(CPUS)}
    bench.preflight()
    bench.warm_up("bridge", WARMUP)
    tracer.enabled = False
    plain = bench.measure(inp, seconds)
    tracer.enabled = True
    with tracer.span("measure") as sid:
        traced = bench.measure(inp, seconds, parent=sid)
    last = traced[-1]
    metrics.update(bench.layer_metrics("bridge", last))
    bench.audits[last["audit"]].update(counters=True, kernel=True)
    metrics["trace.overhead_share"] = records_per_s(plain) / records_per_s(traced) - 1.0
    metrics["gen.late_ms_max"] = max(res["late_ms_max"] for res in traced)
    if inp is None:
        metrics["gen.slices"] = last["slices"]
        metrics["gen.records"] = last["slices"] * TRICKLE_RECORDS
    else:
        metrics["gen.slices"] = inp["props"]["slices"]
        metrics["gen.records"] = inp["props"]["records"]

    with tracer.span("connector") as cid:
        bench.warm_up("connector", WARMUP_EXTRA, cid)
        res = bench.bulk_pass("connector", backlog, parent=cid)
    metrics["pyds.records_per_s"] = records_per_s([res])
    metrics.update({k: v for k, v in bench.layer_metrics("connector", res).items() if k.startswith("pyds.")})
    connector_audit = res["audit"]

    order = list(headline.HEADLINE)
    random.Random(args.seed).shuffle(order)
    with tracer.span("headline") as hid:
        ops, wrong = headline.timed_pass(bench.spark, tables, order, tracer, hid)
    metrics.update(ops)
    print(f"headline: {len(order)} queries on {rows['lineitem']} lineitem rows in {ops['operators.query_total_s']:.2f} s,"
          f" {len(wrong)} failed", file=sys.stderr)

    bench.stop_session(jvm=False)
    bench.start_session(1)
    bench.preflight()
    with tracer.span("baseline.local1") as bid:
        bench.warm_up("bridge", WARMUP_EXTRA, bid)
        metrics["baseline.local1_records_per_s"] = records_per_s([bench.bulk_pass("bridge", backlog, parent=bid)])
    bench.stop_session()

    checked = audit(bench)
    sink = checked["passes"][last["audit"]]
    metrics.update({f"firehose_sink.{k}": v for k, v in sink["counters"].items()})
    metrics["firehose_sink.kernel_records_per_s"] = sink["kernel_records_per_s"]
    conn = checked["passes"][connector_audit]
    metrics["pyds.delivered_files"] = conn["files"]
    metrics["pyds.records_per_file"] = conn["records"] / conn["files"]
    tracer.write(os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}-{tracer.run_id[:8]}.json"))
    return {"attempted": checked["attempted"] + len(order), "failed": checked["failed"] + len(wrong),
            "metrics": metrics}


def stop_jvm() -> None:
    """Close the JVM's stdin, its signal to exit, and wait for it, so no
    process outlives the run."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(REPO, PACKAGE, "__init__.py")):
        print(f"perfbench: program package {PACKAGE} not found in {REPO}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _terminate)
    remove_stale_roots()
    root = os.path.join(STATE, f"run-{os.getpid()}")
    prepare_environment(root)
    bench = Bench(args, root)
    try:
        result = (run_traced if args.trace else run_plain)(bench, args)
    finally:
        if "pyspark" in sys.modules:
            bench.stop_session()
        shutil.rmtree(root, ignore_errors=True)
    # report exactly the metrics BENCHMARK.json declares, with its units
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    m = result["metrics"]
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {d["name"]: {"value": float(m[d["name"]]), "unit": d["unit"]} for d in declared},
    }
    print(f"failed_share {result['failed'] / result['attempted']:.6g} ratio")
    for k, v in out["metrics"].items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
