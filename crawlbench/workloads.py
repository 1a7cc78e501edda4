"""The two workloads. Each builds its inputs from the seed, runs one
iteration through the layers' public functions, and checks the
iteration's outputs against the oracle.

* ``bfs_extract_store``: the fused-HTTP BFS crawl (``crawl_sources``);
  its seen set is appended to the urls table, then scraped and committed:
  ``scrape_targets`` -> docs ``SnapshotTable.append`` -> ``merge_courses``
  into a courses table that already holds an earlier scrape of half the
  pages (so the MERGE both updates and inserts) -> ``update_url_targets``.
  Per-wave scheduling, the seen anti-join, ranking, the fetch and parse
  UDFs and the MERGE path all run.
* ``polite_resume``: ``crawl_sources_budgeted`` under robots crawl delays,
  checkpointing every round to ``BudgetedStateStore``; cut after the
  first round, then resumed from the last checkpoint to the end.
"""

from __future__ import annotations

import dataclasses
import math
import os
import shutil
import time
import zlib
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F

from course_scraper_spark.operators.fetch import NO_SLEEP
from course_scraper_spark.operators.frontier import crawl_sources, crawl_sources_budgeted
from course_scraper_spark.operators.merge import (
    COURSE_COLS,
    TABLE_COLS,
    create_courses_table,
    merge_courses,
    update_url_targets,
    with_merge_keys,
)
from course_scraper_spark.operators.politeness import DEFAULT_CRAWL_DELAY
from course_scraper_spark.operators.spans import scrape_targets
from course_scraper_spark.storage.crawl_state import BudgetedStateStore
from course_scraper_spark.storage.snaptable import SnapshotTable
from course_scraper_spark.synth.spark_world import build_pages_spark
from course_scraper_spark.synth.transport import spec_transport_factory
from course_scraper_spark.synth.world import (
    WorldSpec,
    build_robots,
    build_schemas,
    build_sources,
)

from . import oracle_gate as G
from .probes import (
    FetchCounters,
    SeenStoreProbe,
    TimedBudgetedStateStore,
    counting_transport_factory,
    tree_bytes,
)

SEEN_COLS = ["source_id", "url", "depth", "seq", "visited"]


class Workload:
    """One workload over one seed. ``setup`` builds the inputs (repeatable:
    each call rebuilds them); ``iteration`` runs the timed section and
    returns its result; ``check`` gates that result against the oracle;
    ``release`` drops what the iteration left cached or on disk."""

    name = ""

    def __init__(self, spark, seed: int, workdir: str, tracer):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer
        self.pages = None
        self.oracle = None

    # -- inputs ------------------------------------------------------------
    def world(self) -> WorldSpec:
        raise NotImplementedError

    def setup(self) -> None:
        self.spec = self.world()
        if self.pages is not None:
            self.pages.unpersist()
        # a local checkpoint, not .cache(): the per-iteration clearCache()
        # that drops the engine's own cached results leaves it in place
        self.pages = build_pages_spark(self.spark, self.spec).localCheckpoint(eager=True)
        self.schemas_pdf = build_schemas(self.spec)
        self.schemas = self.spark.createDataFrame(self.schemas_pdf)

    def prepare_oracle(self) -> None:
        """Compute the oracle's answer; sets ``oracle_crawl_s``, the
        single-process crawl time on the same world (context only)."""
        raise NotImplementedError

    # -- one iteration -----------------------------------------------------
    def iteration(self, it: int, traced: bool) -> dict:
        raise NotImplementedError

    def check(self, res: dict) -> list[str]:
        raise NotImplementedError

    def release(self) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(os.path.join(self.workdir, "iter"), ignore_errors=True)

    # -- helpers -------------------------------------------------------------
    def _transport(self, traced: bool, res: dict):
        if traced:
            res["fetch"] = FetchCounters(self.spark.sparkContext)
            return counting_transport_factory(self.spec, res["fetch"])
        return spec_transport_factory(self.spec)

    def _iter_dir(self, it: int) -> str:
        d = os.path.join(self.workdir, "iter", str(it))
        os.makedirs(d, exist_ok=True)
        return d


def _cap_depth(sources, depth: int):
    return [dataclasses.replace(s, crawl_depth=min(s.crawl_depth, depth)) for s in sources]


def _fetch_attempts(seen_rows, sources) -> int:
    """URLs whose page the crawl fetched: visited rows the crawl expands
    (generic sources stop fetching at ``crawl_depth``; Modern-Campus
    rows are all below it by construction)."""
    max_depth = {s.source_id: s.crawl_depth for s in sources}
    return sum(
        1 for r in seen_rows
        if r["visited"] and r["depth"] is not None and r["depth"] < max_depth[r["source_id"]]
    )


class BfsExtractStore(Workload):
    """BFS crawl, then its seen set scraped and committed into tables
    that already hold an earlier scrape's courses."""

    name = "bfs_extract_store"
    TOTAL_PAGES = 8_000
    N_HOSTS = 32
    EXTRA_LINKS = 4
    FILLER_PARAS = 4
    MAX_COURSES = 8
    MAX_DEPTH = 2

    def world(self) -> WorldSpec:
        return WorldSpec(
            n_hosts=self.N_HOSTS, total_pages=self.TOTAL_PAGES, seed=self.seed,
            extra_links=self.EXTRA_LINKS, filler_paras=self.FILLER_PARAS,
            max_courses=self.MAX_COURSES,
        )

    def setup(self) -> None:
        super().setup()
        self.sources = _cap_depth(build_sources(self.spec), self.MAX_DEPTH)

    def prepare_oracle(self) -> None:
        """Oracle crawl and scrape; also the courses table's starting
        content: the courses of a seeded half of the pages, as an earlier
        scrape committed them, so the timed MERGE both updates and
        inserts."""
        t0 = time.perf_counter()
        crawl = G.crawl_oracle(self.spec, self.sources)
        self.oracle_crawl_s = time.perf_counter() - t0
        urls = {sid: o.seen_sorted for sid, o in crawl.items()}
        scrape = G.scrape_oracle(self.spec, self.schemas_pdf, urls)
        records = [(sid, r) for sid, o in scrape.items() for r in o.records]
        earlier = [
            (sid, r) for sid, r in records
            if zlib.crc32(f"{self.seed}|{r['_source_url']}".encode()) % 2 == 0
        ]
        tallies, keys = G.recount_merges([[r for _, r in earlier], [r for _, r in records]])
        rows = {}
        for sid, r in earlier:  # one row per key, as a MERGE leaves the table
            k = (r.get("course_code") or "", r.get("course_title") or "")
            rows[k] = tuple(r.get(c) for c in COURSE_COLS[:-1]) + (sid, *k)
        self.earlier_courses = self.spark.createDataFrame(
            list(rows.values()), ", ".join(f"{c} string" for c in TABLE_COLS)
        )
        self.oracle = {
            "crawl": crawl,
            "docs": G.expected_docs(scrape),
            "tally": tallies[1],
            "keys": keys,
            "flags": {(sid, u): u in scrape[sid].good_urls
                      for sid, us in urls.items() for u in us},
        }

    def iteration(self, it: int, traced: bool) -> dict:
        res: dict = {}
        transport = self._transport(traced, res)
        seen_probe = SeenStoreProbe(self.spark, self.tracer) if traced else None
        span = self.tracer.span
        root = self._iter_dir(it)
        docs_t = SnapshotTable.create(
            self.spark, os.path.join(root, "docs"), bucket_col="doc_id", n_buckets=16
        )
        courses_t = create_courses_table(self.spark, os.path.join(root, "courses"))
        courses_t.append(self.earlier_courses)
        urls_t = SnapshotTable.create(
            self.spark, os.path.join(root, "urls"), bucket_col="url", n_buckets=16
        )
        seeded_bytes, seeded_files = tree_bytes(root)

        t0 = time.perf_counter()
        with span("frontier.crawl"):
            crawl = crawl_sources(
                self.spark, self.sources, self.pages, fetch="http",
                transport_factory=transport, fetch_kwargs={"sleep_fn": NO_SLEEP},
                seen_store_factory=seen_probe,
            )
            seen = crawl.seen.cache()
            n_seen = seen.count()
        t1 = time.perf_counter()
        targets = seen.select("source_id", "url")
        with span("snaptable.append"):
            urls_t.append(targets.withColumn("is_target", F.lit(True)))
        t2 = time.perf_counter()
        with span("spans.scrape"):
            out = scrape_targets(targets, self.pages, self.schemas)
            if traced:  # charge the parse to this layer, not to the append
                out.docs.count()
        t3 = time.perf_counter()
        with span("snaptable.append"):
            docs_t.append(out.docs)
        t4 = time.perf_counter()
        scraped = with_merge_keys(
            out.courses.withColumn(
                "seq",
                F.concat_ws(
                    "#", F.col("_source_url"),
                    F.lpad(F.col("record_pos").cast("string"), 6, "0"),
                ),
            )
        )
        with span("merge.courses"):
            stats = merge_courses(courses_t, scraped, seq_col="seq")
        t5 = time.perf_counter()
        with span("snaptable.flags"):
            update_url_targets(urls_t, out.url_flags)
        t6 = time.perf_counter()
        res.update(
            wall_s=t6 - t0, crawl_s=t1 - t0, scrape_s=t3 - t2,
            append_s=(t2 - t1) + (t4 - t3), merge_s=t5 - t4, flags_s=t6 - t5,
            tally=(stats.inserted, stats.updated), seen_urls=n_seen,
            waves=len(crawl.metrics), seen_probe=seen_probe,
        )

        # outputs for the gate: the crawl's cached result and the committed tables
        res["seen_rows"] = [r.asDict() for r in seen.select(*SEEN_COLS).collect()]
        res["doc_rows"] = docs_t.read().collect()
        res["keys"] = {
            (r.k_code, r.k_title) for r in courses_t.read().select("k_code", "k_title").collect()
        }
        res["flags"] = {(r.source_id, r.url): r.is_target for r in urls_t.read().collect()}
        res["targets"] = n_seen
        res["docs"] = len(res["doc_rows"])
        res["courses"] = sum(res["tally"])
        res["fetched"] = _fetch_attempts(res["seen_rows"], self.sources)
        res["work"] = res["fetched"] + res["docs"]
        total_bytes, total_files = tree_bytes(root)
        live = sum(
            os.path.getsize(p.removeprefix("file:"))
            for t in (docs_t, courses_t, urls_t) for p in t.read().inputFiles()
        )
        res["bytes_written"] = total_bytes - seeded_bytes
        res["files_written"] = total_files - seeded_files
        res["write_amp"] = total_bytes / live if live else 0.0
        return res

    def check(self, res: dict) -> list[str]:
        o = self.oracle
        msgs = G.check_seen(res["seen_rows"], o["crawl"], visit_order=True)
        msgs += G.check_docs(res["doc_rows"], o["docs"])
        if res["tally"] != o["tally"]:
            msgs.append(f"merge tally {res['tally']} vs sequential recount {o['tally']}")
        if res["keys"] != o["keys"]:
            msgs.append(f"course keys differ ({len(res['keys'])} vs {len(o['keys'])})")
        if res["flags"] != o["flags"]:
            bad = sum(1 for k, v in o["flags"].items() if res["flags"].get(k) != v)
            msgs.append(f"is_target flags differ on {bad} urls")
        return msgs


class PoliteResume(Workload):
    """Budgeted crawl under robots crawl delays, checkpointed every round,
    cut after ``CUT_ROUNDS`` rounds and resumed to the end."""

    name = "polite_resume"
    TOTAL_PAGES = 2_000
    N_HOSTS = 8
    MAX_DEPTH = 2
    ROUND_BUDGET_S = 12.0
    CUT_ROUNDS = 1

    def world(self) -> WorldSpec:
        return WorldSpec(n_hosts=self.N_HOSTS, total_pages=self.TOTAL_PAGES, seed=self.seed)

    def setup(self) -> None:
        super().setup()
        self.sources = _cap_depth(build_sources(self.spec), self.MAX_DEPTH)
        self.robots_pdf = build_robots(self.spec)
        self.robots = self.spark.createDataFrame(self.robots_pdf)

    def prepare_oracle(self) -> None:
        t0 = time.perf_counter()
        self.oracle = {"crawl": G.crawl_oracle(self.spec, self.sources)}
        self.oracle_crawl_s = time.perf_counter() - t0

    def iteration(self, it: int, traced: bool) -> dict:
        res: dict = {}
        transport = self._transport(traced, res)
        root = os.path.join(self._iter_dir(it), "state")
        span = self.tracer.span
        logs = ([], []) if traced else (None, None)  # per call: cut, resume
        seen_probe = SeenStoreProbe(self.spark, self.tracer) if traced else None

        def store():
            if traced:
                return TimedBudgetedStateStore(self.spark, root, self.tracer)
            return BudgetedStateStore(self.spark, root)

        kw = dict(
            robots=self.robots, round_budget_s=self.ROUND_BUDGET_S, fetch="http",
            transport_factory=transport, fetch_kwargs={"sleep_fn": NO_SLEEP},
            seen_store_factory=seen_probe,
        )
        t0 = time.perf_counter()
        with span("frontier.crawl_cut"):
            with span("crawl_state.open"):
                st = store()
            cut = crawl_sources_budgeted(
                self.spark, self.sources, self.pages, state_store=st,
                max_rounds=self.CUT_ROUNDS, schedule_log=logs[0], **kw,
            )
        t1 = time.perf_counter()
        with span("frontier.crawl_resume"):
            with span("crawl_state.open"):
                st2 = store()  # a restarted process re-opens the tables
            done = crawl_sources_budgeted(
                self.spark, self.sources, self.pages, state_store=st2, resume=True,
                schedule_log=logs[1], **kw,
            )
            seen = done.seen.cache()
            n_seen = seen.count()
        t2 = time.perf_counter()
        res.update(
            wall_s=t2 - t0, crawl_s=t2 - t0, resume_s=t2 - t1, seen_urls=n_seen,
            rounds=len(cut.metrics) + len(done.metrics),
            schedule_log=[(call, *e) for call, lg in enumerate(logs) for e in lg]
            if traced else None,
            seen_probe=seen_probe,
            state_commits=(st.commits + st2.commits) if traced else None,
        )
        res["seen_rows"] = [r.asDict() for r in seen.select(*SEEN_COLS).collect()]
        res["fetched"] = _fetch_attempts(res["seen_rows"], self.sources)
        res["work"] = res["fetched"]
        res["state_bytes"] = tree_bytes(root)[0]
        return res

    def check(self, res: dict) -> list[str]:
        msgs = G.check_seen(res["seen_rows"], self.oracle["crawl"], visit_order=False)
        if res["schedule_log"] is not None:
            msgs += self.check_politeness(res["schedule_log"])
        return msgs

    def check_politeness(self, log) -> list[str]:
        """Per call, round and host: no more fetches than slots fit the
        round budget at the host's crawl delay."""
        delay = {
            r.host: r.crawl_delay if pd.notna(r.crawl_delay) else DEFAULT_CRAWL_DELAY
            for r in self.robots_pdf.itertuples()
        }
        per = Counter((call, rnd, host) for call, rnd, host, _url, _t in log)
        msgs = []
        for (call, rnd, host), n in per.items():
            cap = math.ceil(self.ROUND_BUDGET_S / delay.get(host, DEFAULT_CRAWL_DELAY))
            if n > cap:
                msgs.append(f"round {rnd} host {host}: {n} fetches > cap {cap}")
        return msgs[: G.MAX_MESSAGES]


WORKLOADS = {w.name: w for w in (BfsExtractStore, PoliteResume)}
