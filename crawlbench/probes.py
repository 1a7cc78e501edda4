"""Benchmark-side probes around the engine's public seams.

Nothing here changes what the engine computes: each probe wraps an
object the engine already accepts as an argument (``transport_factory``,
``state_store``, ``seen_store_factory``) and counts or times the calls
that pass through it. The untraced runs pass the engine's own objects;
only the traced run passes these.
"""

from __future__ import annotations

import os
import time

from course_scraper_spark.operators.seen_store import PartitionedSeenStore
from course_scraper_spark.storage.crawl_state import BudgetedStateStore
from course_scraper_spark.synth.transport import spec_transport_factory
from course_scraper_spark.synth.world import WorldSpec, fetch_ok


# -- fetch layer ---------------------------------------------------------


class FetchCounters:
    """Spark accumulators the counting transport reports through. Built
    on the driver; the transport closure ships them to the workers."""

    def __init__(self, sc):
        self.requests = sc.accumulator(0)
        self.retries = sc.accumulator(0)
        self.ok = sc.accumulator(0)
        self.transport_s = sc.accumulator(0.0)

    def snapshot(self) -> dict:
        return {
            "requests": self.requests.value,
            "retries": self.retries.value,
            "ok": self.ok.value,
            "transport_s": self.transport_s.value,
        }


class CountingTransport:
    """Wraps one transport instance; counts requests, retries (a GET for
    the URL the previous GET asked for) and ok responses, and times every
    call. Accumulator adds stay local to the task until it ends, so the
    per-call cost is two clock reads and a few additions."""

    def __init__(self, inner, counters: FetchCounters):
        self._inner = inner
        self._c = counters
        self._last_get = None

    def _record(self, t0: float, resp, retry: bool):
        self._c.transport_s.add(time.perf_counter() - t0)
        self._c.requests.add(1)
        if retry:
            self._c.retries.add(1)
        if resp.status is not None and resp.status < 400:
            self._c.ok.add(1)
        return resp

    def get(self, url: str, headers: dict | None = None):
        t0 = time.perf_counter()
        resp = self._inner.get(url, headers)
        retry = url == self._last_get
        self._last_get = url
        return self._record(t0, resp, retry)

    def render(self, url: str):
        t0 = time.perf_counter()
        return self._record(t0, self._inner.render(url), False)


def counting_transport_factory(spec: WorldSpec, counters: FetchCounters):
    inner = spec_transport_factory(spec)
    return lambda: CountingTransport(inner(), counters)


class SpecPageStore:
    """The oracle's page store (``fetch`` / ``root_html``) over the spec
    transport: pages are regenerated on demand, so the oracle never
    needs the whole world in driver memory. ``fetch`` collapses the
    retry/render ladder to its outcome, as ``synth.world.fetch_ok``
    defines it."""

    def __init__(self, spec: WorldSpec):
        self._t = spec_transport_factory(spec)()

    def fetch(self, url: str) -> str | None:
        r = self._t.get(url)
        if r.status is None or not fetch_ok(r.status, r.mode):
            return None
        return r.html if r.status < 400 else self._t.render(url).html

    def root_html(self, url: str) -> str | None:
        r = self._t.get(url)
        if r.status is None or r.status >= 400:
            return None
        return r.html


# -- state stores --------------------------------------------------------


class TimedBudgetedStateStore(BudgetedStateStore):
    """Round-checkpoint store whose writes and reads run inside
    ``crawl_state`` spans (and so under the ``crawl_state`` job group)."""

    def __init__(self, spark, root: str, tracer, n_buckets: int = 32):
        super().__init__(spark, root, n_buckets)
        self._tracer = tracer
        self.commits = 0

    def save_round(self, rnd, seen_delta, pending, seq_base) -> None:
        with self._tracer.span("crawl_state.save_round"):
            super().save_round(rnd, seen_delta, pending, seq_base)
        self.commits += 2  # frontier overwrite + seen append

    def read_seen(self, snapshot_id=None):
        with self._tracer.span("crawl_state.read_seen"):
            return super().read_seen(snapshot_id)

    def read_pending(self, rnd):
        with self._tracer.span("crawl_state.read_pending"):
            return super().read_pending(rnd)


class SeenStoreProbe:
    """``seen_store_factory`` for the crawl loops: builds the same store
    the loops build by default, records that the co-partitioned path
    engaged, and counts and times every delta it absorbs."""

    def __init__(self, spark, tracer):
        self._spark = spark
        self._tracer = tracer
        self.engaged = 0
        self.deltas = 0

    def __call__(self):
        self.engaged = 1
        probe = self

        class _Store(PartitionedSeenStore):
            def add_delta(self, df):
                with probe._tracer.span("seen_store.add_delta"):
                    d = super().add_delta(df)
                probe.deltas += 1
                return d

        return _Store(
            self._spark, ("source_id", "url"),
            n_partitions=self._spark.sparkContext.defaultParallelism,
        )


# -- process memory and disk ---------------------------------------------


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks the Python
    daemon from a worker thread, not its main thread)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of every process this one started (the
    driver JVM and the Python workers it forks), from ``/proc``: each
    process's own high-water mark, kept per pid across samples so a
    worker that exits still counts, summed over processes."""

    def __init__(self):
        self._peak_kb: dict[int, int] = {}

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            kb = _hwm_kb(pid)
            if kb > self._peak_kb.get(pid, 0):
                self._peak_kb[pid] = kb

    def peak_mb(self) -> float:
        return sum(self._peak_kb.values()) / 1024.0


def tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``root``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return total, files
