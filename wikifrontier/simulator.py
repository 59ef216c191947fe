"""Pure-Python reference simulator — the end-to-end test oracle.

Replays the reference pipeline's semantics (SURVEY.md §3) over the
synthetic corpus without Spark: FIFO-by-rounds pop with dispatch budget and
per-host politeness cap, corpus-join fetch, extract.py parsing, the
D1→F1-F5→D2 schedule chain (seen-check before filter, claim after filter —
schedule_service.py:40-112), and the A1/A2/A3 upsert quirks
(db_writer.py:42-102: insert total=1/failed=0; update does not touch
url_hash/compressed_filepath).

The Spark engine must produce set-identical pages/links/seen/content state
and equal per-round counters under the same config (SURVEY.md §5.2 tier 2).
"""

from __future__ import annotations

from urllib.parse import urlparse

from wikifrontier import extract, synth
from wikifrontier.filters import (
    ALLOWED_DOMAINS,
    EXCLUDED_PREFIXES,
    MAX_DEPTH,
    parse_robots,
)


def _robots_denied(path: str, rules: list[tuple[str, bool]]) -> bool:
    for prefix, allow in rules:  # rules pre-sorted longest-first
        if path.startswith(prefix):
            return not allow
    return False


def filter_reason_py(
    url: str,
    depth: int,
    max_depth: int = MAX_DEPTH,
    allowed_domains: tuple[str, ...] = ALLOWED_DOMAINS,
    excluded_prefixes: tuple[str, ...] = EXCLUDED_PREFIXES,
    robots_rules: list[tuple[str, bool]] | None = None,
) -> str | None:
    """Python twin of filters.filter_reason (reference filter.py:43-110)."""
    parsed = urlparse(url)
    if depth > max_depth:
        return "depth"
    if parsed.netloc not in allowed_domains:
        return "domain"
    if any(parsed.path.startswith(p) for p in excluded_prefixes):
        return "prefix"
    if parsed.path.strip("/") == "" and parsed.netloc in ("", "en.wikipedia.org"):
        return "home_page"
    if robots_rules and _robots_denied(parsed.path, robots_rules):
        return "robots_txt"
    return None


def simulate_crawl(
    n: int,
    seeds: list[str] | None = None,
    max_depth: int = MAX_DEPTH,
    budget: int | None = None,
    per_host_cap: int | None = None,
    max_rounds: int = 32,
    robots_txt: str = synth.ROBOTS_TXT,
) -> dict:
    """Run the full crawl over the synthetic corpus of size n."""
    seeds = seeds or [synth.page_url(synth.SEED_ID)]
    robots_rules = parse_robots(robots_txt)
    corpus = {synth.page_url(i): synth.gen_html(i, n) for i in range(n)}

    pending: list[tuple[str, int, int, str]] = [(u, 0, 0, "") for u in seeds]
    seen: dict[str, dict] = {}
    pages: dict[str, dict] = {}
    content: dict[str, dict] = {}
    links: list[dict] = []
    rounds: list[dict] = []

    rnd = 0
    while pending and rnd < max_rounds:
        pending.sort(key=lambda r: (r[2], r[1], r[3], r[0]))
        popped = pending[:budget] if budget is not None else pending
        if per_host_cap is not None:
            per_host: dict[str, int] = {}
            kept = []
            for row in popped:
                host = urlparse(row[0]).netloc
                per_host[host] = per_host.get(host, 0) + 1
                if per_host[host] <= per_host_cap:
                    kept.append(row)
            popped = kept
        popped_urls = {r[0] for r in popped}
        pending = [r for r in pending if r[0] not in popped_urls]

        counters = dict.fromkeys(
            (
                "urls_popped fetch_success fetch_failed pages_parsed "
                "links_extracted links_dedup_dropped filtered_depth "
                "filtered_domain filtered_prefix filtered_home_page "
                "filtered_robots links_claimed"
            ).split(),
            0,
        )
        counters["round"] = rnd
        counters["urls_popped"] = len(popped)

        candidates: list[dict] = []
        for url, depth, _, _ in popped:
            html = corpus.get(url)
            found = html is not None
            if found:
                counters["fetch_success"] += 1
            else:
                counters["fetch_failed"] += 1
            old = pages.get(url)
            new_status = "SUCCESS" if found else "FAILED"
            if old is None:
                pages[url] = {
                    "url": url,
                    "last_crawl_status": new_status,
                    "http_status_code": 200 if found else None,
                    "url_hash": extract.sha256_hex(url),
                    "html_content_hash": extract.sha256_hex(html) if found else None,
                    "compressed_filepath": (
                        f"/data/html/{extract.sha256_hex(url)}.html.gz" if found else None
                    ),
                    "total_crawl_attempts": 1,
                    "failed_crawl_attempts": 0,
                    "depth": depth,
                    "first_crawled_round": rnd,
                }
            else:
                old["last_crawl_status"] = new_status
                old["http_status_code"] = 200 if found else None
                old["html_content_hash"] = extract.sha256_hex(html) if found else None
                old["total_crawl_attempts"] += 1
                if new_status in ("FAILED", "SKIPPED"):
                    old["failed_crawl_attempts"] += 1
                old["depth"] = min(old["depth"], depth)
            if not found:
                continue

            counters["pages_parsed"] += 1
            parsed = extract.parse_page(url, html, depth)
            content[url] = {
                "source_page_url": url,
                "title": parsed["title"],
                "categories": parsed["categories"],
                "text_content": parsed["text_content"],
                "text_content_hash": parsed["text_content_hash"],
            }
            candidates.extend(parsed["links"])

        counters["links_extracted"] = len(candidates)
        unseen = [c for c in candidates if c["url"] not in seen]
        counters["links_dedup_dropped"] = len(candidates) - len(unseen)

        passed: list[dict] = []
        for c in unseen:
            reason = filter_reason_py(
                c["url"], c["depth"], max_depth=max_depth, robots_rules=robots_rules
            )
            if reason is None:
                passed.append(c)
            else:
                # the robots_txt reason's counter is filtered_robots, as in
                # the engine's metrics row (frontier.run_round)
                key = "robots" if reason == "robots_txt" else reason
                counters[f"filtered_{key}"] += 1

        # D2 claim: first wins, deterministic (source_page_url, in_page_seq)
        by_url: dict[str, dict] = {}
        for c in sorted(passed, key=lambda c: (c["source_page_url"], c["in_page_seq"])):
            by_url.setdefault(c["url"], c)
        claimed = list(by_url.values())
        counters["links_claimed"] = len(claimed)

        for c in claimed:
            seen[c["url"]] = {
                "url": c["url"],
                "depth": c["depth"],
                "claimed_round": rnd,
                "source_page_url": c["source_page_url"],
            }
            links.append({**c, "discovered_round": rnd})
            pending.append((c["url"], c["depth"], rnd + 1, c["source_page_url"]))

        rounds.append(counters)
        rnd += 1

    return {
        "pages": pages,
        "content": content,
        "links": links,
        "seen": seen,
        "rounds": rounds,
        "final_round": rnd,
    }
