"""Schemas for every state table (SURVEY.md §1.2 Postgres→Spark mapping).

Reference schema source: /root/reference/database/db_models/models.py
(pages :34-105, links :108-158, scheduled_links :162-183,
page_content :203-253, categories :192-200,256-275). Surrogate bigserial ids
are dropped; natural keys (`url`, `(source_page_url, url)`) rule, and the
categories M:N collapses to ``array<string>`` on page_content.
"""

from __future__ import annotations

from pyspark.sql import types as T

# input corpus (BASELINE.json input_hint)
WEB_PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"

# pending frontier (reference scheduled_links, models.py:162-183; the
# bigserial insertion-order id becomes the deterministic ordering key
# (scheduled_round, depth, source_page_url, url) — SURVEY.md §3.4)
FRONTIER_DDL = (
    "url string, depth int, scheduled_round int, source_page_url string"
)

# URL-seen claim set (reference Redis keyspace, shared/redis/cache_service.py)
SEEN_DDL = "url string, depth int, claimed_round int, source_page_url string"

# link graph — only filter-passing, claim-winning links are stored
# (scheduler publishes valid_links only: schedule_service.py:114-121)
LINKS_DDL = (
    "source_page_url string, url string, depth int, is_internal boolean, "
    "anchor_text string, title_attribute string, rel_attribute string, "
    "id_attribute string, link_type string, discovered_round int, "
    "discovered_at timestamp"
)

# full discovered link GRAPH — every distinct (source_page_url, url) pair
# that passed the validity + filter gates, INCLUDING edges to already-seen
# targets. The reference's runtime only ever inserts claim-winning links
# (schedule_service.py:114-121 publishes valid_links after the Redis
# claim), so its `links` relation is a BFS claim tree — in-degree over it
# is ≤ 1 and useless as a priority signal (ADVICE r4 #1). This table is
# the additive edge relation the composite PK of models.py:108-155 was
# built for: real in-degrees for the scored frontier and a real graph for
# PageRank. `depth` is the target's depth at discovery; `discovered_round`
# is lineage.
LINK_GRAPH_DDL = "source_page_url string, url string, depth int, discovered_round int"

# incremental frontier-priority state: per-round pre-aggregated in-degree
# deltas (url, in_degree) — the scored pop folds SUM over these instead of
# re-aggregating the full edge table every round (VERDICT r4 #4). Durable
# checkpoints / compaction collapse the log to one row per url.
# `scored_round` is the round the delta batch (or fold) was produced at —
# the monotone column incremental checkpoints filter on, so a delta
# snapshot writes only score rows born since the previous snapshot.
LINK_SCORES_DDL = "url string, in_degree long, scored_round int"

# crawl outcomes (reference pages, models.py:34-105; `depth` /
# `first_crawled_round` added for BFS-layer lineage)
PAGES_DDL = (
    "url string, last_crawl_status string, http_status_code int, "
    "url_hash string, html_content_hash string, compressed_filepath string, "
    "last_crawled_at timestamp, next_crawl_at timestamp, "
    "total_crawl_attempts int, failed_crawl_attempts int, "
    "last_error_seen string, depth int, first_crawled_round int"
)

# event log that `pages` folds on read: one row per fetch outcome, stamped
# with the `_round` that fetched it
PAGE_EVENTS_DDL = (
    "url string, last_crawl_status string, http_status_code int, "
    "url_hash string, html_content_hash string, compressed_filepath string, "
    "last_crawled_at timestamp, next_crawl_at timestamp, "
    "last_error_seen string, depth int, _round int"
)

# parsed content (reference page_content, models.py:203-253; `summary` is
# never written by the reference db_writer (db_writer.py:199-207) — dropped)
PAGE_CONTENT_DDL = (
    "source_page_url string, title string, categories array<string>, "
    "text_content string, text_content_hash string, parsed_at timestamp"
)
# event log that `page_content` folds on read: one row per parse
CONTENT_EVENTS_DDL = f"{PAGE_CONTENT_DDL}, _round int"

# per-url failed-fetch attempt counters driving bounded retry
# (reference download_retry: 2 attempts + grace,
# components/crawler/services/crawler_service.py:157-190)
RETRIES_DDL = "url string, depth int, attempts int"

# DLQ side output (reference per-queue dead-letter exchange,
# shared/rabbitmq/queue_service.py:39-71 + message_handler.py:37-41):
# rows failing the P7/S1 validity gate, with the reject reason
INVALID_DDL = (
    "url string, depth int, source_page_url string, reject_reason string, "
    "rejected_round int"
)

# per-round counters (reference Prometheus metrics, components/*/monitoring)
METRICS_DDL = (
    "round int, urls_popped long, fetch_success long, fetch_failed long, "
    "pages_parsed long, links_extracted long, links_dedup_dropped long, "
    "filtered_depth long, filtered_domain long, filtered_prefix long, "
    "filtered_home_page long, filtered_robots long, links_claimed long"
)

PARSED_LINK_FIELDS = (
    "source_page_url:string,url:string,depth:int,is_internal:boolean,"
    "anchor_text:string,title_attribute:string,rel_attribute:string,"
    "id_attribute:string,link_type:string,in_page_seq:int"
)

# return struct of the fused parse UDF (X1–X7)
PARSED_DDL = (
    "title string, categories array<string>, text_content string, "
    f"text_content_hash string, links array<struct<{PARSED_LINK_FIELDS}>>"
)


def ddl_to_schema(ddl: str) -> T.StructType:
    return T.StructType.fromDDL(ddl)


def empty_df(spark, ddl: str):
    """An empty table of schema ``ddl`` that the optimizer proves empty.

    A typed-null projection under ``WHERE false``: PruneFilters turns it
    into an empty ``LocalRelation`` of 0 partitions, and
    PropagateEmptyRelation then drops it from every union and reduces a
    join against it (``combine_pages``' full outer join becomes its event
    fold, ``combine_content``'s anti join its latest-content aggregate).
    ``spark.range(0)`` alone is not enough: the optimizer does not treat
    an empty Range as an empty relation, so the union branch and the join
    stay in the plan. Nor is ``.limit(0)`` on it: EliminateLimits removes
    a limit that the Range's row bound of 0 already meets.
    ``createDataFrame([])`` is not empty to the optimizer either, and has
    ``defaultParallelism`` partitions. The projection is one SQL
    ``selectExpr``: a Column per field costs a JVM round trip each, and a
    resumed state builds several empty tables per commit."""
    return spark.range(0, numPartitions=1).selectExpr(*[
        f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
        for f in ddl_to_schema(ddl)
    ]).where("false")
