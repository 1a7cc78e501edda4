"""Oracle gate: compares each iteration's outputs with the single-process
oracle (``course_scraper_spark.oracle``). Runs outside the timed section.

Every check returns a list of mismatch messages; an empty list passes.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict

from course_scraper_spark.oracle.crawl import oracle_crawl
from course_scraper_spark.oracle.parse import oracle_scrape

from .probes import SpecPageStore

MAX_MESSAGES = 5


def crawl_oracle(spec, sources) -> dict:
    """source_id -> OracleCrawlResult, over pages regenerated from ``spec``."""
    store = SpecPageStore(spec)
    return {s.source_id: oracle_crawl(s, store) for s in sources}


def scrape_oracle(spec, schemas_pdf, urls_by_source: dict) -> dict:
    """source_id -> OracleScrapeResult for the given target URLs."""
    store = SpecPageStore(spec)
    schema = {r.source_id: json.loads(r.schema_json) for r in schemas_pdf.itertuples()}
    return {
        sid: oracle_scrape(urls, schema[sid], store) for sid, urls in urls_by_source.items()
    }


def span_key(spans) -> tuple:
    """(kind, text, media_ref, offset) sequence of one doc, from Spark
    rows or oracle dicts alike."""
    return tuple(
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in (spans or [])
    )


def check_seen(seen_rows, oracle: dict, visit_order: bool) -> list[str]:
    """Per source: final seen set, and (BFS only) the exact visit order
    ``(url, depth)`` by ``seq``. ``seen_rows``: (source_id, url, depth,
    seq, visited) rows."""
    by_sid = defaultdict(list)
    for r in seen_rows:
        by_sid[r["source_id"]].append(r)
    msgs = []
    for sid, o in oracle.items():
        rows = by_sid.get(sid, [])
        got = sorted(r["url"] for r in rows)
        if got != o.seen_sorted:
            msgs.append(f"{sid}: seen set differs ({len(got)} vs oracle {len(o.seen_sorted)})")
            continue
        if visit_order:
            order = [
                (r["url"], r["depth"])
                for r in sorted((r for r in rows if r["visited"]), key=lambda r: r["seq"])
            ]
            if order != o.visit_order:
                msgs.append(f"{sid}: visit order differs")
    extra = set(by_sid) - set(oracle)
    if extra:
        msgs.append(f"sources not in the oracle: {sorted(extra)[:3]}")
    return msgs[:MAX_MESSAGES]


def check_docs(doc_rows, expected: Counter) -> list[str]:
    """Multiset equality of (source_id, doc_id, span sequence)."""
    got = Counter((r["source_id"], r["doc_id"], span_key(r["spans"])) for r in doc_rows)
    if got == expected:
        return []
    missing = expected - got
    extra = got - expected
    return [f"docs differ: {sum(missing.values())} missing, {sum(extra.values())} unexpected"]


def expected_docs(scrape: dict) -> Counter:
    """Oracle docs as a multiset of (source_id, doc_id, span sequence)."""
    return Counter(
        (sid, d["doc_id"], span_key(d["spans"])) for sid, res in scrape.items() for d in res.docs
    )


def recount_merges(batches: list[list[dict]]) -> tuple[list[tuple[int, int]], set]:
    """The reference's sequential course MERGE, one record at a time:
    per batch (inserted, updated), where a key absent from the table is
    inserted and every other occurrence is an update; plus the final
    key set."""
    table: set = set()
    tallies = []
    for records in batches:
        ins = upd = 0
        for r in records:
            key = (r.get("course_code") or "", r.get("course_title") or "")
            if key in table:
                upd += 1
            else:
                ins += 1
                table.add(key)
        tallies.append((ins, upd))
    return tallies, table
