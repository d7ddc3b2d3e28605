"""Enhanced fan-out (SubscribeToShard) push-consumer double.

The repo's Kinesis consumer surface so far models the SHARED-throughput
pull path: GetRecords paging (sources/pyds.py), its fault gauntlet
(sources/faults.py), and KCL-style lease contention (sources/kcl_lease.py).
The one real consumer mode still missing is ENHANCED FAN-OUT
[PK: Kinesis SubscribeToShard API docs]:

* the consumer is REGISTERED against the stream
  (``RegisterStreamConsumer``) and becomes usable only once its status
  flips CREATING -> ACTIVE;
* it then calls ``SubscribeToShard`` once and the service PUSHES
  ``SubscribeToShardEvent`` batches over a long-lived HTTP/2
  connection — no per-page polling, a dedicated 2 MiB/s pipe per
  consumer;
* each subscription lasts AT MOST 5 minutes, after which the service
  closes it normally and the consumer must re-subscribe starting at
  the ``ContinuationSequenceNumber`` carried by every event;
* events with an empty record list are heartbeats — they keep the
  pipe alive and advance the continuation position;
* ``SubscribeToShard`` is rate-limited to ~1 call per consumer per
  shard per second; a reconnect racing that limit gets
  ``ResourceInUseException`` and must back off and retry.

This module is the deterministic double of that contract: a pusher
that streams a replay slice as SubscribeToShardEvents with
hash-scheduled heartbeats, one mid-subscription connection drop, and
one ResourceInUse on the hurried re-subscribe after the drop — plus
the consumer loop that must survive all of it. The loop is the tested
implementation shape of a live EFO consumer: swap the pusher for the
real HTTP/2 event stream and the resubscribe/continuation logic is
already correct. ``stream_efo_push_consumer`` pins delivery against
the untouched events table (surviving the window churn must be
invisible); tests/test_efo.py pins the subscription, heartbeat, drop,
and rate-limit accounting.
"""

from __future__ import annotations

import hashlib
import time
from dataclasses import dataclass, field


class ResourceInUse(Exception):
    """SubscribeToShard raced the 1/sec per-consumer-per-shard limit —
    back off and retry [PK: Kinesis error semantics]."""


class SubscriptionDropped(ConnectionError):
    """The HTTP/2 event stream died mid-subscription — re-subscribe at
    the last continuation position."""


@dataclass
class EfoStats:
    """What the consumer loop observed — pinned by the pytest."""

    subscriptions: int = 0
    events: int = 0
    heartbeats: int = 0
    records: int = 0
    drops: int = 0
    resource_in_use: int = 0
    describe_polls: int = 0


class EfoShardPusher:
    """Deterministic SubscribeToShard double over one slice file.

    ``subscribe_to_shard(after_sequence)`` returns a generator of
    event dicts ``{"records": [(seq, row), ...], "continuation":
    int | None, "millis_behind": int}``; the generator ends normally
    after ``events_per_subscription`` events (the 5-minute window in
    event units) and the final event of a fully-drained shard carries
    ``continuation=None``. Heartbeat slots and the single
    mid-subscription drop are derived from the slice path's md5 —
    reproducible, no RNG at read time. The re-subscribe immediately
    after the drop raises :class:`ResourceInUse` once (the reconnect
    models racing the 1/sec subscribe limit).
    """

    def __init__(
        self,
        path: str,
        page_size: int = 500,
        events_per_subscription: int = 4,
        rows: list | None = None,
    ):
        from clj_kinesis_to_firehose_spark.sources.pyds import _read_rows

        self.path = path
        self.page_size = page_size
        self.events_per_subscription = events_per_subscription
        self._rows = rows if rows is not None else list(_read_rows(path))
        h = int(hashlib.md5(path.encode()).hexdigest()[:8], 16)
        n_pages = (len(self._rows) + page_size - 1) // page_size
        #: every 4th event slot with this residue is a heartbeat
        self._hb_mod = h % 4
        #: the Nth event overall dies mid-subscription. >=2 so at least
        #: one event lands first (the position must survive), and
        #: <= n_pages so the slot is always reached on slices of >=2
        #: pages (total events >= n_pages; single-page slices may skip
        #: the drop — the churn contract targets real slice sizes).
        self._drop_at = 2 + h % max(n_pages - 1, 1)
        self._ev_idx = 0
        self._drop_fired = False
        self._riu_pending = False
        self._describe_calls = 0
        self.subscribe_calls = 0

    # -- control plane -------------------------------------------------

    def register_stream_consumer(self, name: str) -> dict:
        """RegisterStreamConsumer: returns immediately with CREATING;
        the consumer polls describe until ACTIVE."""
        self._describe_calls = 0
        return {
            "arn": f"arn:fake:kinesis:consumer/{name}",
            "status": "CREATING",
        }

    def describe_stream_consumer(self, arn: str) -> dict:
        """First describe still shows CREATING; ACTIVE from the second
        poll on — deterministic stand-in for the ~seconds-long real
        activation."""
        self._describe_calls += 1
        status = "CREATING" if self._describe_calls < 2 else "ACTIVE"
        return {"arn": arn, "status": status}

    # -- data plane ------------------------------------------------------

    def subscribe_to_shard(self, after_sequence: int = -1):
        self.subscribe_calls += 1
        if self._riu_pending:
            # the reconnect right after a drop races the 1/sec limit
            self._riu_pending = False
            raise ResourceInUse("SubscribeToShard rate exceeded for consumer")
        return self._event_stream(after_sequence + 1)

    def _event_stream(self, pos: int):
        sent = 0
        while sent < self.events_per_subscription:
            self._ev_idx += 1
            sent += 1
            if not self._drop_fired and self._ev_idx == self._drop_at:
                self._drop_fired = True
                self._riu_pending = True
                raise SubscriptionDropped("event stream reset mid-subscription")
            behind = max(len(self._rows) - pos, 0)
            if self._ev_idx % 4 == self._hb_mod and pos < len(self._rows):
                # heartbeat: empty batch, continuation unchanged
                yield {
                    "records": [],
                    "continuation": pos - 1,
                    "millis_behind": behind,
                }
                continue
            page = [
                (pos + i, row)
                for i, row in enumerate(self._rows[pos : pos + self.page_size])
            ]
            pos += len(page)
            at_end = pos >= len(self._rows)
            yield {
                "records": page,
                "continuation": None if at_end else pos - 1,
                "millis_behind": 0 if at_end else len(self._rows) - pos,
            }
            if at_end:
                return


def consume_shard_efo(
    path: str,
    pusher: EfoShardPusher | None = None,
    max_attempts: int = 8,
    base_backoff: float = 0.001,
    max_backoff: float = 0.02,
    sleep=time.sleep,
    stats: EfoStats | None = None,
):
    """Registration + resubscribe loop: yields the slice's rows exactly
    once in order, across subscription-window expiries, one
    mid-subscription drop, and one ResourceInUse on reconnect.

    The continuation position lives in the CONSUMER (``last_seq``),
    not the subscription token — exactly the property that makes EFO
    window churn loss-free: every re-subscribe starts AFTER the last
    sequence number actually processed.
    """
    if pusher is None:
        pusher = EfoShardPusher(path)
    st = stats if stats is not None else EfoStats()

    reg = pusher.register_stream_consumer("spark-efo")
    while reg["status"] != "ACTIVE":
        st.describe_polls += 1
        reg = pusher.describe_stream_consumer(reg["arn"])

    last_seq = -1
    failures = 0
    backoff = base_backoff
    done = False
    while not done:
        try:
            events = pusher.subscribe_to_shard(after_sequence=last_seq)
        except ResourceInUse:
            st.resource_in_use += 1
            failures += 1
            if failures >= max_attempts:
                raise
            d = min(backoff, max_backoff)
            sleep(d)
            backoff *= 2
            continue
        st.subscriptions += 1
        try:
            for ev in events:
                st.events += 1
                if not ev["records"] and ev["continuation"] is not None:
                    st.heartbeats += 1
                for seq, row in ev["records"]:
                    last_seq = seq
                    st.records += 1
                    yield row
                if ev["continuation"] is None:
                    done = True
                    break
                failures = 0
                backoff = base_backoff
        except SubscriptionDropped:
            st.drops += 1
            failures += 1
            if failures >= max_attempts:
                raise
            continue  # re-subscribe AFTER last_seq — no loss, no dup
        # normal window expiry: loop re-subscribes at the continuation


def read_rows_efo(path: str):
    """Drop-in for :func:`pyds._read_rows` behind the ``efo=true``
    option of the ``kinesis_replay`` DataSource: same rows, same
    order, delivered through the full push-model churn (window
    expiries, one drop, one rate-limit rejection) per slice."""
    yield from consume_shard_efo(path)
