"""Per-layer metrics of the traced run: the traced iterations' probe
counters, span timings and event-log folds, each the median over the
traced iterations."""

from __future__ import annotations

import statistics
from collections import Counter

from .trace import layer_job_stats, read_event_log, self_times

UNITS = {
    "frontier.crawl_s": "s", "frontier.waves": "count", "frontier.wave_s": "s",
    "frontier.seen_urls": "count", "frontier.visited": "count",
    "frontier.crawl_urls_per_s": "1/s", "frontier.jobs": "count",
    "frontier.tasks": "count", "frontier.driver_s": "s", "frontier.core_util": "ratio",
    "frontier.shuffle_bytes": "bytes",
    "fetch.requests": "count", "fetch.retries": "count", "fetch.ok_ratio": "ratio",
    "fetch.transport_s": "s",
    "seen_store.deltas": "count", "seen_store.engaged": "count",
    "spans.scrape_s": "s", "spans.targets": "count", "spans.docs": "count",
    "spans.spans": "count", "spans.courses": "count", "spans.useful_ratio": "ratio",
    "spans.task_s": "s", "spans.core_util": "ratio",
    "merge.courses_s": "s", "merge.inserted": "count", "merge.updated": "count",
    "snaptable.append_s": "s", "snaptable.flags_s": "s", "snaptable.bytes_written": "bytes",
    "snaptable.files_written": "count", "snaptable.write_amp": "ratio",
    "crawl_state.commits": "count", "crawl_state.save_s": "s", "crawl_state.read_s": "s",
    "crawl_state.bytes": "bytes", "crawl_state.resume_s": "s",
    "politeness.rounds": "count", "politeness.fetches_per_round": "count",
    "politeness.max_host_fetches_per_round": "count",
    "spark.gc_s": "s", "spark.spill_bytes": "bytes",
    "trace.overhead_s": "s",
}


def _one(res: dict, jobs: list[dict], spans: list[dict], cores: int) -> dict:
    it = res["iteration"]
    st = layer_job_stats(jobs, spans, it, cores)
    layers = st["layers"]
    fr = layers.get("frontier", {})
    sp = layers.get("spans", {})
    selfs = self_times([s for s in spans if s["iteration"] == it])
    m: dict[str, float] = {}

    crawl_s = res.get("crawl_s", 0.0)
    waves = res.get("waves", res.get("rounds", 0))
    m["frontier.crawl_s"] = crawl_s
    m["frontier.waves"] = waves
    m["frontier.wave_s"] = crawl_s / waves if waves else 0.0
    m["frontier.seen_urls"] = res.get("seen_urls", 0)
    m["frontier.visited"] = sum(1 for r in res.get("seen_rows", ()) if r["visited"])
    m["frontier.crawl_urls_per_s"] = m["frontier.seen_urls"] / crawl_s if crawl_s else 0.0
    m["frontier.jobs"] = fr.get("jobs", 0)
    m["frontier.tasks"] = fr.get("tasks", 0)
    m["frontier.driver_s"] = st["frontier_driver_s"]
    m["frontier.core_util"] = fr.get("core_util", 0.0)
    m["frontier.shuffle_bytes"] = fr.get("shuffle_bytes", 0)

    f = res["fetch"].snapshot() if res.get("fetch") is not None else None
    m["fetch.requests"] = f["requests"] if f else 0
    m["fetch.retries"] = f["retries"] if f else 0
    m["fetch.ok_ratio"] = f["ok"] / f["requests"] if f and f["requests"] else 0.0
    m["fetch.transport_s"] = f["transport_s"] if f else 0.0

    probe = res.get("seen_probe")
    m["seen_store.deltas"] = probe.deltas if probe else 0
    m["seen_store.engaged"] = probe.engaged if probe else 0

    docs = res.get("doc_rows") or ()
    targets = res.get("targets", 0) if "scrape_s" in res else 0
    m["spans.scrape_s"] = res.get("scrape_s", 0.0)
    m["spans.targets"] = targets
    m["spans.docs"] = len(docs)
    m["spans.spans"] = sum(len(d["spans"] or ()) for d in docs)
    m["spans.courses"] = res.get("courses", 0)
    m["spans.useful_ratio"] = len(docs) / targets if targets else 0.0
    m["spans.task_s"] = sp.get("task_s", 0.0)
    m["spans.core_util"] = sp.get("core_util", 0.0)

    inserted, updated = res.get("tally", (0, 0))
    m["merge.courses_s"] = res.get("merge_s", 0.0)
    m["merge.inserted"] = inserted
    m["merge.updated"] = updated
    m["snaptable.append_s"] = res.get("append_s", 0.0)
    m["snaptable.flags_s"] = res.get("flags_s", 0.0)
    m["snaptable.bytes_written"] = res.get("bytes_written", 0)
    m["snaptable.files_written"] = res.get("files_written", 0)
    m["snaptable.write_amp"] = res.get("write_amp", 0.0)

    m["crawl_state.commits"] = res.get("state_commits") or 0
    m["crawl_state.save_s"] = selfs.get("crawl_state.save_round", 0.0)
    m["crawl_state.read_s"] = sum(
        selfs.get(n, 0.0)
        for n in ("crawl_state.open", "crawl_state.read_seen", "crawl_state.read_pending")
    )
    m["crawl_state.bytes"] = res.get("state_bytes", 0)
    m["crawl_state.resume_s"] = res.get("resume_s", 0.0)

    log = res.get("schedule_log")
    rounds = res.get("rounds", 0)
    m["politeness.rounds"] = rounds
    m["politeness.fetches_per_round"] = len(log) / rounds if log and rounds else 0.0
    per_host = Counter((e[0], e[1], e[2]) for e in log or ())
    m["politeness.max_host_fetches_per_round"] = max(per_host.values(), default=0)

    m["spark.gc_s"] = st["gc_s"]
    m["spark.spill_bytes"] = st["spill_bytes"]
    return m


def layer_metrics(out: dict, event_log: str, cores: int, absent_by_prefix: dict):
    """(metrics {name: (value, unit)}, absent {name: reason}, overhead_s)."""
    jobs = read_event_log(event_log)
    results = out["results"]
    traced = [r for r in results if r["traced"]]
    plain = [r for r in results if not r["traced"]]
    per_it = [_one(r, jobs, out["spans"], cores) for r in traced]
    overhead = statistics.median(r["wall_s"] for r in traced) - statistics.median(
        r["wall_s"] for r in plain
    )
    metrics = {}
    for name, unit in UNITS.items():
        v = overhead if name == "trace.overhead_s" else statistics.median(m[name] for m in per_it)
        metrics[name] = (float(v), unit)
    absent = {
        name: reason
        for name in UNITS
        for prefix, reason in absent_by_prefix.items()
        if name.startswith(prefix)
    }
    if metrics["seen_store.engaged"][0] == 0 and "seen_store.engaged" not in absent:
        reason = ("the seen set stayed below COPARTITION_SEEN_THRESHOLD, "
                  "so the co-partitioned store never engaged")
        absent["seen_store.engaged"] = absent["seen_store.deltas"] = reason
    return metrics, absent, overhead
