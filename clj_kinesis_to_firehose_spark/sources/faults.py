"""Consumer-side fault double for the Kinesis source seam.

The ``kinesis_replay`` DataSource (sources/pyds.py) reads each
shard-slice through :func:`pyds._read_slice_rows`, whose happy path is
:func:`pyds._read_batches` — the seam a live GetRecords loop replaces.
The happy-path replay never exercises what a real
consumer spends most of its defensive code on [PK: Kinesis API docs]:

* ``ProvisionedThroughputExceededException`` — the shard's 5 reads/s /
  2 MiB/s budget is exhausted; the SDK contract is exponential backoff
  and retry of the SAME iterator (the position is not lost).
* ``ExpiredIteratorException`` — shard iterators live ~5 minutes; the
  consumer must re-acquire one AFTER the last sequence number it
  processed and resume (re-acquiring at TRIM_HORIZON would duplicate,
  at LATEST would drop).
* mid-read network disconnects — the HTTP call dies between pages; the
  position survives in the consumer, so reconnect + resume must be
  loss-free and duplicate-free.

This module provides a deterministic fake shard client that serves a
slice file's records in GetRecords-style pages while injecting all
three faults on a schedule derived from the slice path (reproducible,
no RNG at read time), plus the retrying consumer loop that must
survive them. The loop is the TESTED implementation shape of the live
consumer: swap the fake client for a boto3 client and the
backoff/resume logic is already correct.

Exactly-once accounting: every record carries a monotonically
increasing sequence number (its index in the slice); the consumer
tracks ``last_seq`` and always resumes AFTER it, so the delivered
stream is bit-equal to the slice regardless of the fault schedule —
``stream_source_faults`` pins that against the events table with an
exact DuckDB oracle, and tests/test_source_faults.py pins the retry
counts, backoff capping, and give-up behavior.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass, field


class ProvisionedThroughputExceeded(Exception):
    """Shard read budget exhausted — retry the same iterator after
    backoff [PK: Kinesis GetRecords error semantics]."""


class ExpiredIteratorError(Exception):
    """Iterator token aged out — re-acquire AFTER the last processed
    sequence number."""


class MidSliceDisconnect(ConnectionError):
    """Transport died mid-read — reconnect and resume from position."""


#: fault kinds, in the order the schedule cycles through them
_FAULTS = ("throttle", "expired", "disconnect")


def _fault_plan(path: str, n_pages: int) -> dict[int, str]:
    """Deterministic {get_records-call-index: fault} schedule.

    Derived from the slice path's md5 so distinct slices fault at
    distinct offsets, but every slice with ≥1 page gets at least one
    fault of EVERY kind (the test contract). Slots are confined to
    ``[0, max(n_pages, 3))``: the loop makes exactly
    ``n_pages + faults_fired`` get_records calls, so every slot below
    that bound is guaranteed to be reached — a wider span would leave
    faults scheduled past the last call.
    """
    if n_pages <= 0:
        return {}
    h = int(hashlib.md5(path.encode()).hexdigest()[:8], 16)
    span = max(n_pages, 3)
    plan: dict[int, str] = {}
    for i, kind in enumerate(_FAULTS):
        # one guaranteed fault of each kind, at distinct offsets
        slot = (h + i * (span // 3)) % span
        while slot in plan:
            slot = (slot + 1) % span
        plan[slot] = kind
    return plan


@dataclass
class ConsumeStats:
    """What the consumer loop observed — pinned by the pytest."""

    pages: int = 0
    records: int = 0
    throttled: int = 0
    expired: int = 0
    disconnects: int = 0
    iterators_acquired: int = 0
    backoffs: list[float] = field(default_factory=list)


class FaultInjectingSliceClient:
    """Fake shard client over one slice file.

    ``get_shard_iterator(after_sequence)`` / ``get_records(iterator)``
    mirror the live API shape: an iterator token encodes a read
    position; ``get_records`` returns ``(records, next_iterator)``
    where records are ``(sequence_number, row)`` pairs and
    ``next_iterator`` is ``None`` at shard end. Faults fire per the
    deterministic plan, once each — the schedule entry is consumed by
    raising, so the retry proceeds.

    ``iterator_ttl_calls`` models the ~5-minute iterator lifetime in
    call units: a token older than the TTL raises
    :class:`ExpiredIteratorError` even outside the plan, so a consumer
    that sat in backoff too long exercises the re-acquire path exactly
    as it would live.
    """

    def __init__(
        self,
        path: str,
        page_size: int = 500,
        iterator_ttl_calls: int = 64,
        rows: list | None = None,
        fault_plan: dict | None = None,
    ):
        from clj_kinesis_to_firehose_spark.sources.pyds import _read_rows

        self.path = path
        self.page_size = page_size
        self.iterator_ttl_calls = iterator_ttl_calls
        self._rows = rows if rows is not None else list(_read_rows(path))
        n_pages = (len(self._rows) + page_size - 1) // page_size
        # explicit plan override: {} turns the client into a clean pager
        # (the lease double uses it — contention, not faults, is its
        # subject), a custom dict scripts exact schedules in tests
        self._plan = (
            dict(fault_plan)
            if fault_plan is not None
            else _fault_plan(path, n_pages)
        )
        self._calls = 0  # get_records attempts, successful or not
        self._iter_seq = 0  # iterator generation counter
        self.faults_fired: dict[str, int] = {k: 0 for k in _FAULTS}

    # -- API surface -------------------------------------------------

    def get_shard_iterator(self, after_sequence: int = -1) -> dict:
        """AFTER_SEQUENCE_NUMBER semantics: first record returned is
        ``after_sequence + 1``."""
        self._iter_seq += 1
        return {
            "pos": after_sequence + 1,
            "gen": self._iter_seq,
            "born": self._calls,
        }

    def get_records(self, iterator: dict) -> tuple[list, dict | None]:
        call = self._calls
        self._calls += 1
        if self._calls - iterator["born"] > self.iterator_ttl_calls:
            # A TTL expiry can land on a call index that carried a
            # scheduled fault; call indices never repeat, so re-home
            # the unfired fault to the next index — otherwise slices
            # longer than ~iterator_ttl_calls pages would silently
            # drop scheduled faults and break the "at least one fault
            # of EVERY kind per slice" contract.
            deferred = self._plan.pop(call, None)
            if deferred is not None:
                slot = self._calls
                while slot in self._plan:
                    slot += 1
                self._plan[slot] = deferred
            raise ExpiredIteratorError(f"iterator gen {iterator['gen']} aged out")
        kind = self._plan.pop(call, None)
        if kind == "throttle":
            self.faults_fired[kind] += 1
            raise ProvisionedThroughputExceeded("slice read budget exhausted")
        if kind == "expired":
            self.faults_fired[kind] += 1
            raise ExpiredIteratorError(f"iterator gen {iterator['gen']} expired")
        if kind == "disconnect":
            self.faults_fired[kind] += 1
            raise MidSliceDisconnect("connection reset mid-GetRecords")
        pos = iterator["pos"]
        page = [
            (pos + i, row)
            for i, row in enumerate(self._rows[pos : pos + self.page_size])
        ]
        nxt_pos = pos + len(page)
        if nxt_pos >= len(self._rows):
            return page, None  # closed-shard end
        return page, {"pos": nxt_pos, "gen": iterator["gen"], "born": iterator["born"]}


def consume_slice(
    path: str,
    client: FaultInjectingSliceClient | None = None,
    max_attempts: int = 8,
    base_backoff: float = 0.01,
    max_backoff: float = 0.2,
    sleep=time.sleep,
    stats: ConsumeStats | None = None,
):
    """Retrying GetRecords loop: yields the slice's rows exactly once
    in order, surviving the full fault schedule.

    * throttle → capped exponential backoff, retry the SAME iterator;
    * expired iterator → re-acquire AFTER ``last_seq``, no backoff
      (the position is intact, only the token died);
    * disconnect → backoff + re-acquire (the transport AND the token
      are gone).

    ``max_attempts`` bounds CONSECUTIVE failed attempts — any
    successful page resets the budget, so long streams with scattered
    faults don't accumulate toward give-up, but a hard-down shard
    fails fast instead of spinning forever.
    """
    if client is None:
        client = FaultInjectingSliceClient(path)
    st = stats if stats is not None else ConsumeStats()
    last_seq = -1
    it = client.get_shard_iterator(after_sequence=last_seq)
    st.iterators_acquired += 1
    failures = 0
    backoff = base_backoff
    while it is not None:
        try:
            page, it = client.get_records(it)
        except ProvisionedThroughputExceeded:
            st.throttled += 1
            failures += 1
            if failures >= max_attempts:
                raise
            d = min(backoff, max_backoff)
            st.backoffs.append(d)
            sleep(d)
            backoff *= 2
            continue  # same iterator — position not lost
        except ExpiredIteratorError:
            st.expired += 1
            failures += 1
            if failures >= max_attempts:
                raise
            it = client.get_shard_iterator(after_sequence=last_seq)
            st.iterators_acquired += 1
            continue
        except MidSliceDisconnect:
            st.disconnects += 1
            failures += 1
            if failures >= max_attempts:
                raise
            d = min(backoff, max_backoff)
            st.backoffs.append(d)
            sleep(d)
            backoff *= 2
            it = client.get_shard_iterator(after_sequence=last_seq)
            st.iterators_acquired += 1
            continue
        failures = 0
        backoff = base_backoff
        st.pages += 1
        for seq, row in page:
            last_seq = seq
            st.records += 1
            yield row


def read_rows_with_faults(path: str):
    """Drop-in for :func:`pyds._read_rows` with the fault gauntlet on.

    Executor-side entry for the ``faults=true`` option of the
    ``kinesis_replay`` DataSource: same rows, same order, after
    surviving ≥1 of every fault kind per slice. Backoff sleeps are
    real but capped (base 1 ms, cap 20 ms) so the conformance query
    stays fast while the code path is the production one.
    """
    yield from consume_slice(path, base_backoff=0.001, max_backoff=0.02)
