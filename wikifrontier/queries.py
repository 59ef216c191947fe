"""Driver-facing query suite: every SURVEY.md §2 operator family plus the
training-data-pipeline tier, each as (spark, sf_dir) -> DataFrame.

Each query exercises a *package operator* (filters.py, seen.py,
politeness.py, frontier.py, dedup.py, similarity.py, textops.py,
multimodal.py) over the driver's parquet tables; `__spark_entry__.py`
pairs each with an equivalent DuckDB oracle SQL string. Crawl-dataflow
operators that need URL-shaped input derive a deterministic URL column
from doc_id/event_id arithmetic — closed-form, so the oracle reproduces it
exactly.

Column aliases here and in the oracle SQL must stay identical — the
driver's comparator hashes values after sorting columns by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikifrontier import corpus as corpus_mod
from wikifrontier import dedup, filters, frontier, linkgraph, multimodal, politeness, seen
from wikifrontier import extract, sketch
from wikifrontier import similarity as sim
from wikifrontier import textops
from wikifrontier.session import spread

NEARDUP_OFFSET = 1_000_000  # id offset for derived near-duplicate docs


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- derived URL corpora (shared with oracle SQL) ---------------------------
def candidate_urls(docs: DataFrame) -> DataFrame:
    """Deterministic raw candidate links from doc_id arithmetic: a mix of
    wiki articles, namespace pages (F3), external hosts (F2), deep depths
    (F1), and fragment/query suffixes (P4)."""
    host = F.when(F.col("doc_id") % 20 == 0, F.lit("example.com")).otherwise(
        F.lit("en.wikipedia.org")
    )
    prefix = (
        F.when(F.col("doc_id") % 7 == 0, F.lit("/wiki/Special:Doc_"))
        .when(F.col("doc_id") % 11 == 0, F.lit("/wiki/Help:Doc_"))
        .otherwise(F.lit("/wiki/Doc_"))
    )
    suffix = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("#frag"))
        .when(F.col("doc_id") % 3 == 1, F.lit("?q=1"))
        .otherwise(F.lit(""))
    )
    return docs.select(
        "doc_id",
        F.concat(F.lit("https://"), host, prefix, F.col("doc_id"), suffix).alias("url"),
        (F.col("doc_id") % 6).cast("int").alias("depth"),
    )


def event_frontier(events: DataFrame) -> DataFrame:
    """events → a frontier-shaped table (url unique per event)."""
    return events.select(
        F.concat(F.lit("https://en.wikipedia.org/wiki/E"), F.col("event_id")).alias("url"),
        (F.col("user_id") % 5).cast("int").alias("depth"),
        (F.col("event_id") % 3).cast("int").alias("scheduled_round"),
        F.col("event_type").alias("source_page_url"),
    )


def neardup_docs(docs: DataFrame) -> DataFrame:
    """documents ∪ derived near-duplicates (last 3 tokens dropped, id
    offset) — gives the similarity operators true positives to find."""
    docs = spread(docs)
    toks = textops.tokens(F.col("text"))
    trunc = F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1))))
    dups = docs.select(
        (F.col("doc_id") + NEARDUP_OFFSET).alias("doc_id"),
        trunc.alias("text"),
        F.col("lang"),
    )
    return docs.select("doc_id", "text", "lang").unionByName(dups)


# --- crawl-dataflow queries (SURVEY §2) -------------------------------------
def q01_canonicalize(spark, sf_dir):
    """P4 — fragment/query strip + host/path split (wiki_link_extractor.py:110-120)."""
    cand = candidate_urls(load(spark, sf_dir, "documents"))
    canonical = F.regexp_replace(F.col("url"), "[#?].*$", "")
    return cand.select(
        "doc_id",
        "url",
        canonical.alias("canonical_url"),
        F.parse_url(canonical, F.lit("HOST")).alias("host"),
        F.parse_url(canonical, F.lit("PATH")).alias("path"),
    )


# one filter-chain DataFrame per (session, sf_dir): q03 aggregates the
# SAME plan object q02 returns instead of re-deriving it (VERDICT r2
# "what's wrong" #3). A plain plan memo — no persist: the chain is a
# single codegen scan either way, only the re-derivation was waste.
_FILTER_CHAIN_MEMO: dict[tuple, DataFrame] = {}


def _filter_chain(spark, sf_dir) -> DataFrame:
    # keyed on the session OBJECT (not id(): CPython reuses ids after GC,
    # which could hand a new session a plan bound to a dead one — ADVICE
    # r3 #2); the identity check below also rejects a stale entry whose
    # session was stopped and replaced.
    key = (spark, sf_dir)
    df = _FILTER_CHAIN_MEMO.get(key)
    if df is not None and df.sparkSession is not spark:
        df = None
    if df is None:
        cand = candidate_urls(load(spark, sf_dir, "documents"))
        canonical = F.regexp_replace(F.col("url"), "[#?].*$", "")
        df = cand.select(
            "doc_id",
            canonical.alias("canonical_url"),
            "depth",
            filters.filter_reason(canonical, F.col("depth")).alias("filter_reason"),
        )
        _FILTER_CHAIN_MEMO.clear()  # keep at most one (session, sf) entry
        _FILTER_CHAIN_MEMO[key] = df
    return df


def q02_filter_chain(spark, sf_dir):
    """F1–F4 — scheduler filter chain (filter.py:43-110) as one CASE expr."""
    return _filter_chain(spark, sf_dir)


def q03_filter_metrics(spark, sf_dir):
    """A6 — per-filter-type counters (FILTERED_LINKS_TOTAL labels) as a
    groupBy over the shared filter-chain plan (memoized with q02)."""
    return (
        _filter_chain(spark, sf_dir)
        .groupBy(F.coalesce(F.col("filter_reason"), F.lit("passed")).alias("outcome"))
        .agg(F.count("*").alias("n"))
    )


def q04_seen_antijoin(spark, sf_dir):
    """D1 — the Redis batch seen-check (cache_service.py:53-74) as a
    left-anti join; seen = even doc_ids."""
    cand = candidate_urls(load(spark, sf_dir, "documents")).select("doc_id", "url", "depth")
    seen_df = cand.filter(F.col("doc_id") % 2 == 0).select("url")
    return seen.drop_seen(cand, seen_df)


def q05_claim_first_wins(spark, sf_dir):
    """D2 — SET-NX claim (cache_service.py:77-96) as a deterministic
    first-wins window over event-derived candidates."""
    events = load(spark, sf_dir, "events")
    cands = events.select(
        F.concat(F.lit("https://en.wikipedia.org/wiki/U"), F.col("user_id")).alias("url"),
        F.concat(F.lit("https://en.wikipedia.org/wiki/E"), F.col("event_type")).alias(
            "source_page_url"
        ),
        F.col("event_id").cast("int").alias("in_page_seq"),
        (F.col("user_id") % 5).cast("int").alias("depth"),
    )
    return seen.claim_first_wins(cands)


def q06_frontier_pop(spark, sf_dir):
    """T1 — the global FIFO pop (db_reader.py:53-77) as a distributed
    top-k over the deterministic POP_ORDER."""
    pending = event_frontier(load(spark, sf_dir, "events"))
    return politeness.pop_frontier(pending, budget=100)


def q07_politeness_cap(spark, sf_dir):
    """§2.9 — per-host politeness budget: ≤5 URLs per host per round."""
    events = load(spark, sf_dir, "events")
    batch = events.select(
        F.concat(
            F.lit("https://h"),
            (F.col("user_id") % 10),
            F.lit(".com/e/"),
            F.col("event_id"),
        ).alias("url"),
        (F.col("user_id") % 5).cast("int").alias("depth"),
        F.lit(0).cast("int").alias("scheduled_round"),
        F.col("event_type").alias("source_page_url"),
    )
    return politeness.cap_per_host(batch, per_host_cap=5)


def q08_pages_merge(spark, sf_dir):
    """A1 — the attempts-accumulating page upsert (db_writer.py:42-102) as
    a full-outer-join rewrite over two orders-derived snapshots."""
    orders = load(spark, sf_dir, "orders")

    def snapshot(df, status_col, http):
        return df.select(
            F.concat(F.lit("https://en.wikipedia.org/wiki/O"), F.col("o_orderkey")).alias(
                "url"
            ),
            status_col.alias("last_crawl_status"),
            F.lit(http).cast("int").alias("http_status_code"),
            F.sha2(F.col("o_orderkey").cast("string"), 256).alias("url_hash"),
            F.when(
                F.col("o_orderkey") % 5 != 0,
                F.sha2(F.concat(F.lit("h"), F.col("o_orderkey")), 256),
            ).alias("html_content_hash"),
            F.lit(None).cast("string").alias("compressed_filepath"),
            F.lit(None).cast("timestamp").alias("last_crawled_at"),
            F.lit(None).cast("timestamp").alias("next_crawl_at"),
            F.lit(1).cast("int").alias("total_crawl_attempts"),
            F.lit(0).cast("int").alias("failed_crawl_attempts"),
            F.lit(None).cast("string").alias("last_error_seen"),
            (F.col("o_orderkey") % 4).cast("int").alias("depth"),
            F.lit(0).cast("int").alias("first_crawled_round"),
        )

    old = snapshot(
        orders.filter(F.col("o_orderkey") % 3 != 0),
        F.when(F.col("o_orderstatus") == "F", F.lit("SUCCESS")).otherwise(F.lit("FAILED")),
        200,
    )
    prio = F.substring(F.col("o_orderpriority"), 1, 1)
    new = snapshot(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        F.when(prio.isin("1", "2"), F.lit("SUCCESS"))
        .when(prio.isin("3", "4"), F.lit("FAILED"))
        .otherwise(F.lit("SKIPPED")),
        404,
    )
    merged = frontier.combine_pages(old, new.withColumn("_round", F.lit(0)))
    return merged.select(
        "url",
        "last_crawl_status",
        "http_status_code",
        "url_hash",
        "html_content_hash",
        "total_crawl_attempts",
        "failed_crawl_attempts",
        "depth",
    )


def q09_recrawl_due(spark, sf_dir):
    """A5/S7 — recrawl-due scan with depth-recovery join
    (db_reader.py:109-151): effective predicate is next_crawl < cutoff."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    pages = orders.select(
        F.concat(F.lit("https://en.wikipedia.org/wiki/O"), F.col("o_orderkey")).alias("url"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderdate").alias("next_crawl_at"),
    ).filter(F.col("next_crawl_at") < F.lit("1993-01-01").cast("timestamp"))
    links = lineitem.select(
        F.col("l_orderkey").alias("okey"), F.col("l_linenumber").alias("ldepth")
    )
    return (
        pages.join(links, "okey", "left")
        .groupBy("url")
        .agg(F.coalesce(F.min("ldepth"), F.lit(0)).cast("int").alias("depth"))
    )


def q10_bfs_crawl(spark, sf_dir):
    """Flagship: the full iterative BFS crawl (frontier.py round loop) over
    the documents-derived web_pages corpus; output = BFS layer assignment.
    Oracle: closed-form recursive CTE (corpus.bfs_layers_oracle_sql)."""
    web_pages = corpus_mod.documents_corpus(spark, sf_dir)
    cfg = frontier.CrawlConfig(
        max_depth=4, budget_per_round=None, per_host_cap=None, max_rounds=12,
        collect_metrics=False,
    )
    state = frontier.run_crawl(spark, web_pages, [corpus_mod.doc_url(0)], cfg)
    return state.pages.select(
        "url", "depth", "last_crawl_status", "first_crawled_round"
    )


def q30_bfs_crawl_bucketed(spark, sf_dir):
    """Flagship crawl on the no-broadcast scale path: fetch_strategy =
    "bucketed" (shuffle-hash join against the url-partitioned corpus
    layout) with Spark's auto-broadcast disabled for the whole run, so the
    plan provably works when a BFS layer outgrows the 8 GB broadcast cap.
    Oracle: same recursive-CTE BFS ground truth as q10."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        web_pages = corpus_mod.documents_corpus(spark, sf_dir)
        cfg = frontier.CrawlConfig(
            max_depth=4, budget_per_round=None, per_host_cap=None, max_rounds=12,
            collect_metrics=False, fetch_strategy="bucketed",
        )
        state = frontier.run_crawl(spark, web_pages, [corpus_mod.doc_url(0)], cfg)
        # materialize the fold while broadcast is still disabled so every
        # join in this query's lifetime ran without one
        out = state.pages.select(
            "url", "depth", "last_crawl_status", "first_crawled_round"
        ).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


def q38_page_content_values(spark, sf_dir):
    """A3/X1–X5 VALUE surface (VERDICT r2 #1): the flagship crawl's
    parsed-content table — title, joined sorted categories, clean-text
    hash and length per crawled url, all produced by the real fused parse
    UDF through the real round loop. Oracle: closed-form reconstruction
    of the render_html template text (corpus.page_content_oracle_sql)."""
    web_pages = corpus_mod.documents_corpus(spark, sf_dir)
    cfg = frontier.CrawlConfig(
        max_depth=4, budget_per_round=None, per_host_cap=None, max_rounds=12,
        collect_metrics=False,
    )
    state = frontier.run_crawl(spark, web_pages, [corpus_mod.doc_url(0)], cfg)
    return state.page_content.select(
        "source_page_url",
        "title",
        F.array_join(F.array_sort("categories"), "|").alias("categories_joined"),
        "text_content_hash",
        F.length("text_content").cast("long").alias("text_len"),
    )


def q39_crawl_retry(spark, sf_dir):
    """Bounded fetch retry at crawl level (VERDICT r2 #4; reference
    download_retry, crawler_service.py:157-190): the flagship corpus with
    every doc_id % 17 == 5 page REMOVED, fetch_retries=2 — a missing url
    is claimed once, then fetched (and FAILs) in 3 consecutive rounds.
    Oracle replays the attempt arithmetic and the present-pages-only BFS
    (corpus.retry_crawl_oracle_sql)."""
    web_pages = corpus_mod.documents_corpus(spark, sf_dir)
    did = F.regexp_extract(F.col("url"), r"Doc_(\d+)$", 1).cast("long")
    corpus_missing = web_pages.filter(
        did % corpus_mod.MISS_DIVISOR != corpus_mod.MISS_MOD
    )
    cfg = frontier.CrawlConfig(
        max_depth=4, budget_per_round=None, per_host_cap=None, max_rounds=12,
        collect_metrics=False, fetch_retries=2,
    )
    state = frontier.run_crawl(spark, corpus_missing, [corpus_mod.doc_url(0)], cfg)
    return state.pages.select(
        "url",
        "last_crawl_status",
        "total_crawl_attempts",
        "failed_crawl_attempts",
        "depth",
        "first_crawled_round",
        "last_error_seen",
    )


def q40_crawl_recrawl(spark, sf_dir):
    """Rescheduler at crawl level (S7/A5 under oracle; reference
    rescheduler_service.py:36-71): recrawl horizon shrunk to 3 s of crawl
    clock so pages re-enter the frontier every 4 rounds over a 10-round
    run. Oracle: closed-form recrawl-period arithmetic per BFS layer
    (corpus.recrawl_oracle_sql)."""
    web_pages = corpus_mod.documents_corpus(spark, sf_dir)
    cfg = frontier.CrawlConfig(
        max_depth=4, budget_per_round=None, per_host_cap=None, max_rounds=10,
        collect_metrics=False, enable_recrawl=True, recrawl_interval_s=3,
        # no checkpoint_dir: at 10 rounds the lazy event-log fold is
        # cheaper than periodic materialization (measured 53 s vs 95 s at
        # sf0.1); compaction pays off only at perpetual-crawl round
        # counts where the O(rounds) fold depth dominates
    )
    state = frontier.run_crawl(spark, web_pages, [corpus_mod.doc_url(0)], cfg)
    epoch_s = int(cfg.crawl_epoch.timestamp())
    return state.pages.select(
        "url",
        "depth",
        "total_crawl_attempts",
        "failed_crawl_attempts",
        (F.unix_timestamp("last_crawled_at") - F.lit(epoch_s))
        .cast("long")
        .alias("last_crawled_round"),
    )


def q11_events_rollup(spark, sf_dir):
    """A6 — round-metrics-style rollup: exact decimal sums (order-
    insensitive, unlike double sums) per event_type."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


def q12_events_json(spark, sf_dir):
    """JSON scalar extraction over the events props column."""
    events = load(spark, sf_dir, "events")
    return (
        events.select(
            "event_type",
            F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("k").alias("k_sum"), F.max("k").alias("k_max"))
    )


def q31_validity_dlq(spark, sf_dir):
    """S1/P7 — the message validity gate + DLQ side output
    (shared/rabbitmq/schemas/crawling.py:13-35, message_handler.py:37-41):
    deterministic malformed rows (no scheme / wrong scheme / empty host /
    negative depth) classified by reject reason; NULL = passes the gate."""
    docs = load(spark, sf_dir, "documents")
    m = F.col("doc_id") % 13
    url = (
        F.when(m == 0, F.concat(F.lit("nota url "), F.col("doc_id")))
        .when(m == 1, F.concat(F.lit("ftp://files.example.com/d"), F.col("doc_id")))
        .when(m == 2, F.concat(F.lit("https:///Doc_"), F.col("doc_id")))
        .otherwise(
            F.concat(F.lit("https://en.wikipedia.org/wiki/Doc_"), F.col("doc_id"))
        )
    )
    depth = (
        F.when(m == 3, F.lit(-1)).otherwise(F.col("doc_id") % 6).cast("int")
    )
    cand = docs.select("doc_id", url.alias("url"), depth.alias("depth"))
    return cand.select(
        "doc_id",
        "url",
        "depth",
        filters.validity_reason(F.col("url"), F.col("depth")).alias("reject_reason"),
    )


def q36_seen_partitioned_bloom(spark, sf_dir):
    """D1 through the PartitionedBloomSeen scale path: the per-bucket
    shard filter pre-prunes the anti-join. Bloom false positives only
    cost a redundant probe, so the result is EXACTLY the plain anti-join
    — which is the oracle (same derivation as q04). The result is
    materialized eagerly so the shard tempdir can be removed before
    returning (ADVICE r2 #4: sweeps were leaking /tmp shard dirs)."""
    cand = candidate_urls(load(spark, sf_dir, "documents")).select(
        "doc_id", "url", "depth"
    )
    seen_df = cand.filter(F.col("doc_id") % 2 == 0).select("url")
    bloom = seen.PartitionedBloomSeen(buckets=16, nbits_per_bucket=1 << 14)
    try:
        bloom.add_df(spark, seen_df)
        return seen.drop_seen(
            cand.localCheckpoint(eager=True), seen_df, bloom, spark
        ).localCheckpoint(eager=True)
    finally:
        bloom.cleanup()


# robots ruleset for q32 — longest-prefix-first precedence, Allow overrides
# (mirrors components/scheduler/core/filter.py:80-89 + urllib.robotparser)
ROBOTS_Q32 = """User-agent: *
Disallow: /wiki/Doc_7
Allow: /wiki/Doc_77
Disallow: /wiki/Doc_3
"""


def q32_robots_filter(spark, sf_dir):
    """F5 — the filter chain with a NONEMPTY robots.txt: Doc_7*/Doc_3*
    denied, Doc_77* re-allowed by the longer Allow rule. Exercises rule
    precedence (longest first, Allow wins) under the oracle."""
    cand = candidate_urls(load(spark, sf_dir, "documents"))
    canonical = F.regexp_replace(F.col("url"), "[#?].*$", "")
    rules = filters.parse_robots(ROBOTS_Q32)
    return cand.select(
        "doc_id",
        canonical.alias("canonical_url"),
        "depth",
        filters.filter_reason(
            canonical, F.col("depth"), robots_rules=rules
        ).alias("filter_reason"),
    )


def q33_error_taxonomy(spark, sf_dir):
    """Crawler error taxonomy + SKIPPED (crawler_types.py:8-40,
    crawl_status.py:4-7): deterministic fetch outcomes — robots-declined →
    SKIPPED, corpus misses → FAILED with the 6-way error class from
    frontier.classify_fetch_error — aggregated per (status, error_type)."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://en.wikipedia.org/wiki/Doc_"), F.col("doc_id"))
    status = (
        F.when(F.col("doc_id") % 10 == 7, F.lit("SKIPPED"))
        .when(F.col("doc_id") % 4 == 1, F.lit("FAILED"))
        .otherwise(F.lit("SUCCESS"))
    )
    out = docs.select(url.alias("url"), status.alias("status"))
    err = (
        F.when(
            F.col("status") == "FAILED", frontier.classify_fetch_error(F.col("url"))
        )
        .when(F.col("status") == "SKIPPED", F.lit("RobotsDisallowed"))
    )
    return (
        out.select("status", err.alias("error_type"))
        .groupBy("status", "error_type")
        .agg(F.count("*").alias("n"))
    )


def q37_priority_pop(spark, sf_dir):
    """Scored frontier pop (north_rule "depth + link-score ordering"):
    top-100 of the events-derived frontier ordered by (depth, in-degree
    desc, url), in-degree from a derived link table."""
    events = load(spark, sf_dir, "events")
    pending = event_frontier(events)
    links = events.select(
        F.lit("src").alias("source_page_url"),
        F.concat(
            F.lit("https://en.wikipedia.org/wiki/E"), F.col("event_id") % 200
        ).alias("url"),
    )
    return politeness.scored_pop(
        pending, politeness.in_degrees(links), budget=100
    )


def q35_page_categories(spark, sf_dir):
    """page_categories parity view (reference categories M:N,
    database/db_models/models.py:192-200,256-275): the real parse UDF (X2)
    over the documents corpus, categories exploded to one row per
    (page, category) natural key — dropDuplicates stands in for the
    association table's unique constraint. Oracle = the generator's
    closed-form category ('Lang_' || lang per page)."""
    from wikifrontier.udfs import parse_page_udf

    web = corpus_mod.documents_corpus(spark, sf_dir)
    parsed = web.select(
        F.col("url").alias("source_page_url"),
        parse_page_udf(F.col("url"), F.col("html"), F.lit(0)).alias("p"),
    )
    return parsed.select(
        "source_page_url", F.explode("p.categories").alias("category")
    ).dropDuplicates(["source_page_url", "category"])


# --- training-data-pipeline queries -----------------------------------------
def q13_dedup_exact(spark, sf_dir):
    """Exact dedup (hash-groupBy) on a normalized key (first-5-token prefix)."""
    docs = load(spark, sf_dir, "documents")
    toks = textops.tokens(F.col("text"))
    norm = docs.select(
        "doc_id", F.concat_ws(" ", F.slice(toks, 1, 5)).alias("text")
    )
    return dedup.exact_dedup(norm, text="text", id_col="doc_id")


def q14_dedup_minhash(spark, sf_dir):
    """MinHash signatures (12 perms, sha256-based, string-order min)."""
    docs = neardup_docs(load(spark, sf_dir, "documents"))
    return dedup.minhash_signatures(docs)


def q15_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs at est. Jaccard ≥ 0.5 over documents ∪
    derived near-duplicates."""
    docs = neardup_docs(load(spark, sf_dir, "documents"))
    return dedup.minhash_lsh_pairs(docs, threshold=0.5)


def q16_dedup_simhash(spark, sf_dir):
    """SimHash sketch (SIMHASH_BITS wide) per document."""
    return dedup.simhash(spread(load(spark, sf_dir, "documents")))


def q17_dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard ≥ 0.5 over documents ∪ derived near-dups,
    candidates proposed by MinHash-LSH bands (never an n² block)."""
    docs = neardup_docs(load(spark, sf_dir, "documents"))
    return dedup.jaccard_lsh_verified(docs, threshold=0.5)


def q34_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (Hamming ≤ 3) over documents ∪ derived
    near-dups, candidates from nibble-band buckets (pigeonhole) — the
    banded equi-join pair path, no cartesian anywhere."""
    docs = neardup_docs(load(spark, sf_dir, "documents"))
    return dedup.simhash_pairs(docs, max_hamming=3)


def q18_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs within label blocks."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    return dedup.embedding_dup_pairs(emb, threshold=0.35)


def q19_ann_bruteforce(spark, sf_dir):
    """Brute-force cosine top-10 for query vectors vec_id < 5."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    return sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


def q20_ann_bucketed(spark, sf_dir):
    """Sign-LSH bucketed ANN top-10 (same queries; bucket-local probe)."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    return sim.bucketed_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


def q21_lang_id(spark, sf_dir):
    """Marker-profile language ID (deterministic argmax, alpha tie-break)."""
    docs = load(spark, sf_dir, "documents")
    toks = textops.tokens(F.col("text"))
    return docs.select(
        "doc_id", "lang", textops.predicted_lang(toks).alias("pred_lang")
    )


def q22_quality(spark, sf_dir):
    """Quality scoring: length/stopword/digit/word-shape features."""
    docs = load(spark, sf_dir, "documents")
    feats = textops.quality_features(F.col("text"))
    return docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])


def q23_token_counts(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish sub-tokens."""
    docs = load(spark, sf_dir, "documents")
    ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return docs.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        textops.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


def q24_fingerprints(spark, sf_dir):
    """Winnowing-style document fingerprints, exploded to rows."""
    docs = spread(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", F.explode(textops.fingerprints(F.col("text"))).alias("fingerprint")
    )


def q47_dedup_clusters(spark, sf_dir):
    """Connected components over the MinHash-LSH near-dup pairs (q15
    semantics, est. Jaccard ≥ 0.5) → one (doc_id, cluster_id) row per
    document in documents ∪ derived near-dups, cluster_id = min member id
    (the canonical survivor). Iterative hash-min label propagation, one
    keyed shuffle join per round; oracle: recursive-CTE min-label
    closure over the same edge set."""
    docs = neardup_docs(load(spark, sf_dir, "documents"))
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).select("id_a", "id_b")
    return dedup.dedup_clusters(docs, pairs)


def q48_repetition(spark, sf_dir):
    """Gopher-style intra-document repetition metrics: duplicate-token and
    duplicate-3-gram fractions (pure array expressions) plus the
    top-2-gram occupancy fraction (explode → per-gram count → per-doc
    max/sum, map-side combine on doc_id)."""
    docs = spread(load(spark, sf_dir, "documents"))
    feats = textops.repetition_features(F.col("text"))
    base = docs.select("doc_id", *[c.alias(n) for n, c in feats.items()])
    g2 = docs.select(
        "doc_id",
        F.explode(textops.shingles(textops.tokens(F.col("text")), 2)).alias("g"),
    )
    top2 = (
        g2.groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            (F.max("c").cast("double") / F.sum("c").cast("double")).alias("t2")
        )
    )
    return base.join(top2, "doc_id", "left").select(
        "doc_id",
        "dup_word_frac",
        "dup_3gram_frac",
        F.round(F.coalesce(F.col("t2"), F.lit(0.0)), 6).alias("top_2gram_frac"),
    )


def q49_containment(spark, sf_dir):
    """Directed fingerprint-containment pairs (MOSS-style inverted-index
    join, stop-fingerprint df cap) over documents ∪ derived near-dups —
    the truncated near-dup copies are the planted true positives (their
    fingerprint sets are subsets of the originals')."""
    docs = neardup_docs(load(spark, sf_dir, "documents"))
    return dedup.fingerprint_containment(docs, threshold=0.6)


def q50_curation_pipeline(spark, sf_dir):
    """End-to-end training-corpus curation, the composition an LLM-data
    pipeline runs nightly, as ONE declarative plan: quality gate
    (composite score ≥ 0.35) → language gate (predicted lang = en) →
    MinHash-LSH near-dup pair generation → hash-min duplicate clustering
    → canonical-survivor selection (doc_id = cluster min). Returns the
    surviving corpus with its quality score and BPE token count — i.e.
    "what would we actually train on, and how many tokens is it".

    Every stage is an already-oracle-verified operator (q22, q21, q15,
    q47); this row verifies their composition end-to-end — filters
    applied BEFORE pair generation change the signature inputs, so a
    wrong evaluation order shows up as a value mismatch, not just a
    row-count drift."""
    docs = neardup_docs(load(spark, sf_dir, "documents"))
    qf = textops.quality_features(F.col("text"))
    kept = docs.select(
        "doc_id",
        "text",
        qf["quality_score"].alias("quality_score"),
        textops.predicted_lang(textops.tokens(F.col("text"))).alias("pred_lang"),
        textops.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    ).filter((F.col("quality_score") >= 0.35) & (F.col("pred_lang") == "en"))
    pairs = dedup.minhash_lsh_pairs(kept, threshold=0.5).select("id_a", "id_b")
    clusters = dedup.dedup_clusters(kept.select("doc_id"), pairs)
    survivors = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id"
    )
    return kept.join(survivors, "doc_id").select(
        "doc_id", "quality_score", "n_bpe_tokens"
    )


def q25_multimodal_meta(spark, sf_dir):
    """Multimodal metadata over opaque binary payloads (no decode)."""
    docs = load(spark, sf_dir, "documents")
    return multimodal.media_metadata(multimodal.attach_media(docs))


def q26_multimodal_features(spark, sf_dir):
    """mapInPandas decode/feature plumbing (deterministic fake codec)."""
    docs = load(spark, sf_dir, "documents")
    return multimodal.extract_features(multimodal.attach_media(docs))


def q41_multimodal_decode(spark, sf_dir):
    """REAL codec decode (TD13 upgrade, VERDICT r2 #6): image/audio
    payloads are genuine BMP / RIFF-WAVE containers assembled from the
    document text, and the mapInPandas feature pass parses their headers
    with the stdlib struct codecs (decode_bmp / decode_wav — no fake).
    Video has no available codec and stays on the documented fake.
    Oracle replays the closed-form container dimensions; the `codec`
    column proves which rows took the real path."""
    docs = load(spark, sf_dir, "documents")
    media = multimodal.attach_media_encoded(docs)
    return multimodal.extract_features(media, include_codec=True).select(
        "media_id", "kind", "n_frames", "width", "height", "codec"
    )


def q28_ann_ivf(spark, sf_dir):
    """IVF ANN top-10 with a LEARNED codebook: 2 deterministic k-means
    iterations (seeded from the 8 lowest-id vectors, exact quantized
    means) — queries probe only their own inverted list."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    cents = sim.kmeans_centroids(emb, k=8, iters=2)
    return sim.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), cents, k=10)


def q29_metrics_rollup(spark, sf_dir):
    """Grouping-sets rollup over orders — subtotal + grand-total rows in
    one pass (the crawl-metrics drill-down shape)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            "n",
            "total_price",
        )
    )


def q27_host_state(spark, sf_dir):
    """§2.9/§1.4 — host_state view: per-host fetch counters and last-fetch
    clock over an events-derived crawled-pages table."""
    events = load(spark, sf_dir, "events")
    pages = events.select(
        F.concat(
            F.lit("https://h"),
            (F.col("user_id") % 10),
            F.lit(".com/e/"),
            F.col("event_id"),
        ).alias("url"),
        F.col("ts").alias("last_crawled_at"),
    )
    hs = politeness.host_state(pages)
    return hs.select(
        "host",
        "n_fetched",
        F.date_format("last_fetch_at", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_fetch"),
        F.date_format("first_fetch_at", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("first_fetch"),
    )


def q42_salted_repartition(spark, sf_dir):
    """Salted skew repartition under oracle (VERDICT r2 #8): the q07-style
    skewed batch (10 hosts, thousands of urls each) is spread over
    (host, salt) with the engine-portable sha256-nibble salt
    (politeness.portable_salt), then summarized per salt bucket. The
    repartition exchange is in the executed plan (pytest asserts the
    physical spread; test_filters_spark); the oracle replays the salt
    derivation and per-bucket membership exactly."""
    events = load(spark, sf_dir, "events")
    batch = events.select(
        F.concat(
            F.lit("https://h"),
            (F.col("user_id") % 10),
            F.lit(".com/e/"),
            F.col("event_id"),
        ).alias("url")
    )
    salt = politeness.portable_salt(F.col("url"), 64)
    spread = politeness.salted_repartition(
        batch.withColumn("salt", salt), 32, salt_col=F.col("salt")
    )
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return spread.groupBy("salt").agg(
        F.count("*").alias("n"),
        F.countDistinct(host).alias("n_hosts"),
        F.min("url").alias("first_url"),
    )


def q43_host_rate_clock(spark, sf_dir):
    """The applyInPandasWithState politeness clock as an oracle-gated
    batch query (VERDICT r2 #8): events-derived fetch telemetry (10
    hosts, second-offset timestamps closed-form in event_id) is landed as
    ONE parquet file, drained through the real streaming operator in a
    single availableNow micro-batch, and the emitted per-host rows are
    returned. Exact-integer μs rate arithmetic makes every column —
    including over_limit — replayable in SQL."""
    import shutil
    import tempfile

    from wikifrontier import streaming

    events = load(spark, sf_dir, "events")
    base = F.unix_timestamp(F.lit("2025-01-15 00:00:00"))
    telemetry = events.select(
        F.concat(
            F.lit("https://h"),
            (F.col("user_id") % 10),
            F.lit(".com/e/"),
            F.col("event_id"),
        ).alias("url"),
        F.concat(F.lit("h"), (F.col("user_id") % 10), F.lit(".com")).alias("host"),
        F.lit("SUCCESS").alias("last_crawl_status"),
        F.timestamp_seconds(base + F.col("event_id") % 3600).alias(
            "last_crawled_at"
        ),
    )
    work = tempfile.mkdtemp(prefix="wikifrontier_q43_")
    try:
        events_dir = f"{work}/events"
        telemetry.coalesce(1).write.parquet(events_dir)
        out = streaming.stateful_host_rate(
            streaming.read_event_stream(spark, events_dir),
            rate_limit_per_sec=1.0,
        )
        rows = streaming.run_available_now_collect(
            out, streaming.host_rate_checkpoint_dir(f"{work}/ckpt")
        )
        result = spark.createDataFrame(rows, streaming.HOST_RATE_OUTPUT_DDL)
        return result.select(
            "host",
            "batch_n",
            "n_total",
            F.date_format("last_fetch_at", "yyyy-MM-dd HH:mm:ss").alias(
                "last_fetch"
            ),
            "over_limit",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def q44_gzip_store_roundtrip(spark, sf_dir):
    """S3/S4 — the reference's gzip-file-per-page HTML store
    (downloader.py:8-44) done distributed: write every rendered page as
    {sha256(url)}.html.gz from executor tasks, re-scan the directory
    through the binaryFile source + gunzip, and verify byte-identical
    round-trip per url. Oracle: every document url round-trips (ok =
    true)."""
    import shutil
    import tempfile

    from wikifrontier import htmlstore

    web = corpus_mod.documents_corpus(spark, sf_dir).localCheckpoint(eager=True)
    store = tempfile.mkdtemp(prefix="wikifrontier_q44_")
    try:
        htmlstore.write_gzip_store(web, store).count()  # materialize writes
        read_back = htmlstore.read_gzip_store(spark, store)
        return htmlstore.roundtrip_check(web, read_back).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)


def q46_crawl_retry_recrawl(spark, sf_dir):
    """Combined retry × recrawl crawl (VERDICT r3 "do this" #8): planted
    fetch misses (doc_id % 17 == 5 removed) AND the rescheduler in one
    run — the two attempt-counter paths (q39's bounded retry, q40's
    recrawl period) share the A1 fold and must compose. Oracle:
    corpus.retry_recrawl_oracle_sql replays both arithmetics plus the
    interaction rule (FAILED fetches carry next_crawl_at NULL, so
    exhausted-retry pages are never rescheduled)."""
    web_pages = corpus_mod.documents_corpus(spark, sf_dir)
    did = F.regexp_extract(F.col("url"), r"Doc_(\d+)$", 1).cast("long")
    corpus_missing = web_pages.filter(
        did % corpus_mod.MISS_DIVISOR != corpus_mod.MISS_MOD
    )
    cfg = frontier.CrawlConfig(
        max_depth=4, budget_per_round=None, per_host_cap=None, max_rounds=10,
        collect_metrics=False, fetch_retries=2,
        enable_recrawl=True, recrawl_interval_s=3,
    )
    state = frontier.run_crawl(spark, corpus_missing, [corpus_mod.doc_url(0)], cfg)
    epoch_s = int(cfg.crawl_epoch.timestamp())
    return state.pages.select(
        "url",
        "last_crawl_status",
        "total_crawl_attempts",
        "failed_crawl_attempts",
        "depth",
        "first_crawled_round",
        (F.unix_timestamp("last_crawled_at") - F.lit(epoch_s))
        .cast("long")
        .alias("last_crawled_round"),
        "last_error_seen",
    )


def q45_adversarial_html_crawl(spark, sf_dir):
    """X4/X6 recovery-contract surface (VERDICT r3 "do this" #1): the
    flagship crawl over a corpus whose every page is malformed — one of 8
    families per doc_id (unclosed <p>, stray end tags, doctype+comments,
    <script>/<style> decoys inside mw-content-text, entity-encoded text,
    case/quote chaos + duplicate attrs; corpus.render_html_adversarial).
    Every family is extraction-invariant under the documented libxml2
    recovery rules (extract.py R1–R6), so the oracle is the SAME
    closed-form content reconstruction as q38 — a hash mismatch on any
    page means a recovery rule broke."""
    web_pages = corpus_mod.documents_corpus(spark, sf_dir, adversarial=True)
    cfg = frontier.CrawlConfig(
        max_depth=4, budget_per_round=None, per_host_cap=None, max_rounds=12,
        collect_metrics=False,
    )
    state = frontier.run_crawl(spark, web_pages, [corpus_mod.doc_url(0)], cfg)
    return state.page_content.select(
        "source_page_url",
        "title",
        F.array_join(F.array_sort("categories"), "|").alias("categories_joined"),
        "text_content_hash",
        F.length("text_content").cast("long").alias("text_len"),
    )


def q51_pagerank(spark, sf_dir):
    """PageRank link scores (north_rule "depth + link-score ordering"):
    3 fixed iterations, damping 0.85, over a deterministic doc_id link
    graph — every node i links to (i+1)%N, (31i+7)%N, (17i+3)%N; the
    cycle edge guarantees out-degree ≥ 1 so the fixture has no dangling
    nodes (the operator still implements the dangling term — see
    linkgraph.pagerank). Oracle: chained-CTE replay of the identical
    arithmetic. scored_pop's in-degree is the cheap per-round score;
    this is the periodic full-graph recompute a production crawl feeds
    back into the priority queue."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    src = F.col("doc_id").alias("src")
    edges = (
        docs.select(src, ((F.col("doc_id") + 1) % n).alias("dst"))
        .unionByName(docs.select(src, ((F.col("doc_id") * 31 + 7) % n).alias("dst")))
        .unionByName(docs.select(src, ((F.col("doc_id") * 17 + 3) % n).alias("dst")))
    )
    pr = linkgraph.pagerank(edges)
    return pr.select(
        F.col("id").alias("doc_id"), F.round("pr", 8).alias("pagerank")
    )


def q52_segment_dedup(spark, sf_dir):
    """Segment-level exact dedup (the CCNet/RefinedWeb paragraph-dedup
    pass) over documents ∪ derived near-dups: each doc split into
    non-overlapping 10-token segments, segments whose hash appears in >1
    document dropped corpus-wide, survivors reassembled in order. The
    truncated near-dup copies share every segment but their tails with
    the originals — the planted cross-document boilerplate."""
    docs = neardup_docs(load(spark, sf_dir, "documents"))
    return dedup.segment_dedup(docs)


def q53_top_ngrams(spark, sf_dir):
    """Corpus-wide top-50 3-gram mining (boilerplate-phrase detection):
    total occurrences + document frequency per gram, distributed top-k
    (TakeOrderedAndProject), ties broken lexicographically so the cut is
    deterministic on both engines."""
    docs = spread(load(spark, sf_dir, "documents"))
    return textops.top_ngrams(docs, k=50)


# q54 scenario constants — shared with the oracle generator in
# __spark_entry__ (_scored_frontier_sql)
SCORED_ROUNDS = 5


def q54_scored_frontier(spark, sf_dir):
    """Incremental scored frontier (VERDICT r4 #4 + ADVICE r4 #1) under a
    full dynamic-order oracle: ALL document urls start pending at depth 0
    (pre-seeded into seen so re-discovery never re-queues), the pop budget
    is ceil(n/5), pop_strategy='scored'. Each round parses its batch, the
    parsed pages' out-edges land in the link-graph delta, the per-round
    in-degree deltas fold into the score state, and the NEXT round's pop
    is ordered by (depth, in_degree desc, url) over scores discovered so
    far — so the visit order is genuinely score-driven (round 0 is
    lexicographic, rounds 1+ follow the accumulating in-degrees). Output:
    (url, first_crawled_round, in_degree) where in_degree is the final
    fold over the full discovered graph. Oracle: chained-CTE round-by-
    round replay of the identical ranking (one CTE block per round).

    This is the query whose pop plan must contain NO full-edge-table
    aggregate — the fold reads only the pre-aggregated per-round deltas
    (asserted in tests/test_plans.py::test_scored_pop_is_incremental)."""
    web = corpus_mod.documents_corpus(spark, sf_dir)
    docs = corpus_mod.load_documents(spark, sf_dir)
    n = docs.count()
    budget = -(-n // SCORED_ROUNDS)  # ceil
    url = F.concat(F.lit(corpus_mod.URL_PREFIX), F.col("doc_id"))
    all_pending = docs.select(
        url.alias("url"),
        F.lit(0).cast("int").alias("depth"),
        F.lit(0).cast("int").alias("scheduled_round"),
        F.lit("").alias("source_page_url"),
    )
    state = frontier.init_state(spark, [])
    state.pending = all_pending.localCheckpoint(eager=True)
    state.seen = all_pending.select(
        "url", "depth", F.lit(0).cast("int").alias("claimed_round"), "source_page_url"
    )
    cfg = frontier.CrawlConfig(
        max_depth=4,
        budget_per_round=budget,
        max_rounds=SCORED_ROUNDS,
        collect_metrics=False,
        pop_strategy="scored",
        bloom_bits=None,
    )
    for _ in range(SCORED_ROUNDS):
        state, _ = frontier.run_round(spark, state, web, cfg)
    return (
        state.pages.select("url", "first_crawled_round")
        .join(state.in_degrees, "url", "left")
        .select(
            "url",
            "first_crawled_round",
            F.coalesce(F.col("in_degree"), F.lit(0)).cast("long").alias("in_degree"),
        )
    )


# q55/q58 scenario constants — shared with the oracle SQL
CONTAM_BENCH_MOD = 37
CONTAM_RATIO_MAX = 0.5  # q58 keep rule: < half the doc's grams hit the benchmark


def q55_contamination(spark, sf_dir):
    """Benchmark decontamination (GPT-3/PaLM-style n-gram overlap) over
    documents ∪ derived near-dups: every 37th original is the "held-out
    benchmark"; all other docs are the training candidates. The near-dup
    copies of benchmark docs share almost all their 3-grams with the
    benchmark — the planted contamination the operator must flag — while
    unrelated docs overlap only on common phrases. Output: per candidate
    doc, distinct-gram total, overlapping-gram count, contamination
    ratio, flag. Oracle: identical split + LEFT JOIN overlap count."""
    docs = neardup_docs(load(spark, sf_dir, "documents"))
    bench = docs.where(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    cand = docs.where(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    return dedup.benchmark_contamination(cand, bench)


def q56_trap_detection(spark, sf_dir):
    """Per-host crawl-trap signals (filters.trap_signals) over a derived
    discovered-URL log with four host personas: a flat wiki (amplification
    1 — clean), a versioned docs site (high amplification but shallow and
    query-free — clean, exercises the AND), an infinite-calendar host
    (deep paths under 3 month prefixes — trap), and a faceted forum
    (query-id URLs under one path — trap). Oracle replays the identical
    URL derivation + exact-integer-sum aggregation."""
    docs = spread(load(spark, sf_dir, "documents"))
    d = F.col("doc_id")
    wiki = F.concat(F.lit("https://en.wikipedia.org/wiki/Doc_"), d.cast("string"))
    vdocs = F.concat(
        F.lit("https://docs.example.org/docs/v"), (d % 10).cast("string"),
        F.lit("/page_"), d.cast("string"),
    )
    cal = F.concat(
        F.lit("https://calendar.example.com/2026/"), (d % 12 + 1).cast("string"),
        F.lit("/"), (d % 28 + 1).cast("string"), F.lit("/event_"), d.cast("string"),
    )
    forum = F.concat(
        F.lit("https://forum.example.net/thread?id="), d.cast("string"),
        F.lit("&sort="), (d % 3).cast("string"),
    )
    urls = docs.select(
        F.when(d % 4 == 0, wiki)
        .when(d % 4 == 1, vdocs)
        .when(d % 4 == 2, cal)
        .otherwise(forum)
        .alias("url")
    )
    return filters.trap_signals(urls)


# q57 mixture targets — shared with the oracle SQL (rate 1.0 keeps all)
MIXTURE_RATES = {"de": 1.0, "en": 0.5, "es": 0.25, "fr": 0.125, "zh": 0.0625}


def q57_mixture_sample(spark, sf_dir):
    """Deterministic hash-stratified mixture sampling
    (textops.stratified_sample): per-language keep-rates rebalance the
    corpus toward a target training mixture; membership is an md5-prefix
    threshold compare keyed on doc_id, so the oracle reproduces the exact
    sample with the same md5 in SQL. Output: kept rows with the audit
    sample_key and token count."""
    docs = spread(load(spark, sf_dir, "documents"))
    kept = textops.stratified_sample(docs, MIXTURE_RATES, "lang", "doc_id")
    return kept.select(
        "doc_id",
        "lang",
        "sample_key",
        F.size(textops.tokens(F.col("text"))).cast("int").alias("n_tokens"),
    )


def q58_training_export(spark, sf_dir):
    """The full "ship the dataset" composition — every corpus-hygiene
    stage an LLM-data pipeline runs before training, as ONE declarative
    plan: quality gate (≥ 0.35) → near-dup clustering survivor selection
    (MinHash-LSH pairs → hash-min components, q15/q47) → benchmark
    decontamination (drop docs whose distinct-3-gram overlap with the
    held-out every-37th-doc benchmark reaches CONTAM_RATIO_MAX, plus the
    benchmark docs themselves, q55) →
    deterministic per-language mixture sampling (q57 rates). Returns the
    shippable corpus: (doc_id, lang, n_bpe_tokens, sample_key).

    Each stage is individually oracle-verified; this row pins their
    composition ORDER (gates before pair generation, decontamination
    before sampling — reordering changes values, not just counts).
    Unlike q50 it keeps all languages (the lang gate is replaced by the
    mixture sampler — the production shape: rebalance, don't drop)."""
    docs = neardup_docs(load(spark, sf_dir, "documents"))
    qf = textops.quality_features(F.col("text"))
    kept = docs.select(
        "doc_id",
        "text",
        "lang",
        qf["quality_score"].alias("quality_score"),
        textops.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    ).filter(F.col("quality_score") >= 0.35)
    pairs = dedup.minhash_lsh_pairs(kept, threshold=0.5).select("id_a", "id_b")
    clusters = dedup.dedup_clusters(kept.select("doc_id"), pairs)
    surv = kept.join(
        clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id"),
        "doc_id",
    )
    bench = docs.where(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    cand = surv.where(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    # ratio threshold, not any-overlap: the benchmark split shares corpus
    # template phrases with everything, so the production rule here is
    # "drop docs that substantially overlap", keeping incidental phrase
    # collisions (the standalone q55 surfaces both signals per doc)
    clean = cand.join(
        dedup.benchmark_contamination(cand, bench)
        .where(F.col("contamination_ratio") < CONTAM_RATIO_MAX)
        .select("doc_id"),
        "doc_id",
    )
    return textops.stratified_sample(clean, MIXTURE_RATES, "lang", "doc_id").select(
        "doc_id", "lang", "n_bpe_tokens", "sample_key"
    )


def q59_hits(spark, sf_dir):
    """HITS hubs & authorities (linkgraph.hits): 3 fixed iterations,
    L1-normalized half-steps, over the same deterministic doc_id link
    graph as q51 — every node links to (i+1)%N, (31i+7)%N, (17i+3)%N.
    Authorities rank frontier URLs worth fetching soonest; hubs rank
    pages whose out-links are worth expanding first (the two roles a
    crawl scheduler splits the north-rule link score into). Oracle:
    chained-CTE replay of the identical join→sum→normalize arithmetic."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    # one scan + generate (not a 3-branch union = 3 scans of the table):
    # identical edge multiset, and hits() collapses duplicates anyway
    edges = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(
                (F.col("doc_id") + 1) % n,
                (F.col("doc_id") * 31 + 7) % n,
                (F.col("doc_id") * 17 + 3) % n,
            )
        ).alias("dst"),
    )
    hs = linkgraph.hits(edges)
    return hs.select(
        F.col("id").alias("doc_id"),
        F.round("hub", 8).alias("hub"),
        F.round("auth", 8).alias("auth"),
    )


def q60_anchor_profile(spark, sf_dir):
    """Per-target anchor-text profile (linkgraph.anchor_profile) over a
    derived links table with reference `links`-schema columns: the q51
    edge formulas plus anchor_text = the first three tokens of the
    SOURCE document's text (what the linking page "calls" the target).
    Output per target: in-degree, distinct sources, most frequent anchor
    token (lexicographic tie-break) and its count — the off-page
    relevance signal the reference's links.anchor_text column
    (models.py:108-158) exists to support. Oracle replays tokenization,
    the (target, term) counts, and the windowed argmax."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    anchor = F.concat_ws(" ", F.slice(textops.tokens(F.col("text")), 1, 3))
    # one scan + generate — same edge multiset as a 3-branch union (the
    # oracle's UNION ALL), one pass over the text column for the anchor
    links = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(
                (F.col("doc_id") + 1) % n,
                (F.col("doc_id") * 31 + 7) % n,
                (F.col("doc_id") * 17 + 3) % n,
            )
        ).alias("dst"),
        anchor.alias("anchor_text"),
    )
    prof = linkgraph.anchor_profile(links)
    return prof.select(
        F.col("url").alias("doc_id"),
        "in_degree",
        "n_sources",
        "top_term",
        "top_term_count",
    )


INGEST_THRESHOLD = 0.5  # q61 near-dup agreement cut — shared with the oracle


def q61_incremental_ingest(spark, sf_dir):
    """Incremental ingestion dedup (dedup.incremental_ingest): the
    steady-state production shape — admit a new batch against the
    existing corpus via its hash + banded-signature indexes, corpus text
    untouched. Corpus = documents with doc_id % 3 != 0; the batch is the
    other third, split by doc_id % 9: %9==0 → byte-exact copy of doc
    (id+1)%N (planted exact_dup), %9==3 → that text with its last 3
    tokens dropped (planted near_dup, the q15 convention), %9==6 → the
    doc's own text (absent from the corpus; unique unless it naturally
    crosses the LSH threshold, which the oracle replays identically).
    Output per batch doc: verdict, matched corpus id, estimated Jaccard.
    """
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    nxt = docs.select(
        F.col("doc_id").alias("src_id"), F.col("text").alias("src_text")
    )
    toks = textops.tokens(F.col("src_text"))
    trunc = F.concat_ws(
        " ", F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1)))
    )
    batch = (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text", ((F.col("doc_id") + 1) % n).alias("src_id"))
        .join(nxt, "src_id")
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 9 == 0, F.col("src_text"))
            .when(F.col("doc_id") % 9 == 3, trunc)
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return dedup.incremental_ingest(corpus, batch, threshold=INGEST_THRESHOLD)


def q62_cocitation(spark, sf_dir):
    """Co-citation "related pages" pairs (linkgraph.cocitation): targets
    co-cited by ≥2 distinct sources, over a dense derived graph — every
    doc links to doc_id%97, (31·doc_id+7)%97, (17·doc_id+3)%97, so ~500
    sources fan into 97 targets and genuine co-citation counts emerge.
    The inverted-index self-join on the source key (with the hub-source
    cap) is the zero-text-access topical-similarity twin of the MinHash
    pair generators. Oracle: identical derivation + self-join + HAVING."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    edges = docs.select(
        d.alias("src"),
        F.explode(
            F.array(d % 97, (d * 31 + 7) % 97, (d * 17 + 3) % 97)
        ).alias("dst"),
    )
    return linkgraph.cocitation(edges, min_cocite=2)


def _pii_suffixes() -> tuple:
    """The q63/q73 PII suffix columns (email when doc_id % 5 == 0, phone
    when % 7 == 0, IPv4 when % 3 == 0) — shared so both fixtures and
    their oracles derive identical spans."""
    d = F.col("doc_id")
    email = F.when(
        d % 5 == 0,
        F.concat(F.lit(" contact user"), d, F.lit("@example.com")),
    ).otherwise(F.lit(""))
    phone = F.when(
        d % 7 == 0,
        F.concat(
            F.lit(" call 555-"),
            F.lpad((d % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((d % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        d % 3 == 0,
        F.concat(
            F.lit(" from 10."),
            (d % 256).cast("string"),
            F.lit("."),
            ((d * 7) % 256).cast("string"),
            F.lit("."),
            ((d * 13) % 256).cast("string"),
        ),
    ).otherwise(F.lit(""))
    return email, phone, ip


def pii_inject(docs) -> "DataFrame":
    """Deterministic PII injection fixture shared by q63 and its oracle:
    the synthetic corpus text is PII-free word soup, so documents gain
    derived spans — an email when doc_id % 5 == 0, a phone when
    doc_id % 7 == 0, an IPv4 when doc_id % 3 == 0 — making every
    count/mask assertion exact. The derivation is replayed verbatim in
    the DuckDB oracle (same arithmetic, same concat)."""
    email, phone, ip = _pii_suffixes()
    return docs.select(
        "doc_id", F.concat(F.col("text"), email, phone, ip).alias("text")
    )


REP_BOILER = "all rights reserved terms of service variant"


def rep_inject(docs) -> "DataFrame":
    """Reputation fixture shared by q73 and its oracle: every tenth doc's
    text is replaced wholesale by one of three shared boilerplate
    strings (pure boilerplate pages → exact dup clusters, concentrated
    in the sources whose residues hit doc_id % 10 == 0); every other doc
    gets the q63 PII suffixes — so dup_rate, pii_rate and mean quality
    all genuinely vary per source, and sources get dropped for different
    reasons (dup-heavy vs PII-heavy)."""
    d = F.col("doc_id")
    email, phone, ip = _pii_suffixes()
    injected = F.when(
        d % 10 == 0,
        F.concat(F.lit(REP_BOILER + " "), (d % 3).cast("string")),
    ).otherwise(F.concat(F.col("text"), email, phone, ip))
    return docs.select("doc_id", "source", injected.alias("text"))


def q63_pii_scrub(spark, sf_dir):
    """PII detection + redaction (textops.pii_features) over documents
    with deterministically injected emails/phones/IPv4s: per-doc match
    counts per class and the sha256 of the masked text (each span
    replaced by its typed token). Pure regexp Column expressions —
    codegen'd, scan-parallel, no shuffle. Oracle: identical injection +
    regexp_extract_all counts + chained regexp_replace."""
    docs = pii_inject(load(spark, sf_dir, "documents"))
    feats = textops.pii_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_emails"].cast("long").alias("n_emails"),
        feats["n_phones"].cast("long").alias("n_phones"),
        feats["n_ipv4s"].cast("long").alias("n_ipv4s"),
        F.sha2(feats["masked"], 256).alias("masked_sha"),
    )


def q64_tfidf_terms(spark, sf_dir):
    """Per-document top-5 keywords by tf·idf (textops.tfidf_terms):
    idf = ln(N/df), deterministic term tie-break, counters-only shuffles
    after the token explode. Oracle: same tf/df CTEs, same ln() double
    arithmetic, same row_number cut."""
    docs = spread(load(spark, sf_dir, "documents"))
    return textops.tfidf_terms(docs, k=textops.TFIDF_TOP_K)


def q65_chunk_pack(spark, sf_dir):
    """Context-window chunking (textops.chunk_documents): each document's
    token stream split into non-overlapping 64-token training windows —
    (doc_id, chunk_idx, n_tokens, sha256 of the window). Shuffle-free
    projection+explode. Oracle: generate_series over ceil(len/k) with
    1-based list slicing."""
    docs = spread(load(spark, sf_dir, "documents"))
    return textops.chunk_documents(docs, k=textops.CHUNK_TOKENS)


def q66_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (similarity.semantic_dedup): IVF
    coarse-quantize with the q28 learned codebook (2 deterministic
    k-means iterations), then inside each inverted list drop vectors
    with a lower-id cosine-0.95 neighbor. Returns every vector's
    (vec_id, centroid_id, kept). Pair generation equi-joins on
    centroid_id — never all-pairs. Oracle: same k-means CTE chain +
    within-list self-join + NOT EXISTS keep rule."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    cents = sim.kmeans_centroids(emb, k=8, iters=2)
    return sim.semantic_dedup(emb, cents, threshold=sim.SEMDEDUP_THRESHOLD)


def q67_unigram_logprob(spark, sf_dir):
    """Unigram-LM quality score (textops.unigram_logprob): mean token
    log-probability under the corpus's own unigram distribution — the
    CCNet-perplexity stand-in. Per-term ln P quantized to 1e-6 longs
    before the per-doc sum, so both engines aggregate exactly. Oracle:
    same tf/cf/total CTEs, same quantized arithmetic."""
    docs = spread(load(spark, sf_dir, "documents"))
    return textops.unigram_logprob(docs)


def q68_pack_sequences(spark, sf_dir):
    """Sequence packing (textops.pack_sequences): q65's 64-token chunks
    assembled into 256-token training sequences — doc_id % 64 bucket
    shards, (doc_id, chunk_idx) order, sequence = floor(exclusive prefix
    tokens / budget) (the window-function relaxation of next-fit). One
    counters-only shuffle; text never enters the operator. Oracle: same
    chunk CTE + window prefix sum + ordered string_agg sha."""
    docs = spread(load(spark, sf_dir, "documents"))
    chunks = textops.chunk_documents(docs, k=textops.CHUNK_TOKENS)
    return textops.pack_sequences(
        chunks, budget=textops.SEQ_BUDGET, buckets=textops.PACK_BUCKETS
    )


def q69_token_budget_sample(spark, sf_dir):
    """Token-budget quota sampling (textops.token_budget_sample): fill
    each language's token budget (en 6000 / de,fr,es 2000 / default
    1000, split over 4 hash shards) in deterministic md5-key order,
    keeping docs that fit entirely. The token-budgeted twin of q57's
    rate-based mixture. Oracle: same md5 key, shard, prefix window and
    strict-fit predicate."""
    docs = spread(load(spark, sf_dir, "documents"))
    return textops.token_budget_sample(docs)


def q70_bm25_topk(spark, sf_dir):
    """Top-k BM25 retrieval (textops.bm25_topk) for the fixed standing
    query set BM25_QUERIES over the documents corpus — seed-expansion /
    eval-set-mining retrieval with Lucene's non-negative idf. Per-term
    contributions are quantized to 1e-6 longs before the per-(query,doc)
    sum, so scores are exact integers the DuckDB oracle replays; top-k
    is the two-phase (local shard, then global) ranking."""
    docs = spread(load(spark, sf_dir, "documents"))
    return textops.bm25_topk(docs)


def q71_bigram_logprob(spark, sf_dir):
    """Stupid-backoff bigram LM score (textops.bigram_logprob): train
    bigram/unigram counts on the even-doc_id half, score every document
    by mean bigram log-probability (unseen bigram → 0.4·Laplace
    unigram) — the KenLM-perplexity-filter stand-in one tier above
    q67's unigram LM. Oracle: identical CTE chain with the same
    quantized-long arithmetic."""
    docs = spread(load(spark, sf_dir, "documents"))
    return textops.bigram_logprob(docs)


def q73_source_reputation(spark, sf_dir):
    """Per-source reputation rollup (textops.source_reputation) over the
    rep_inject fixture (boilerplate dup clusters + PII suffixes): doc
    count, quantized-exact mean quality, dup rate, PII rate, and the
    keep/drop verdict per source — the RefinedWeb-style domain gate.
    Oracle: identical injection + quality/PII CTEs + window dup count +
    rounded-rate thresholds."""
    docs = rep_inject(spread(load(spark, sf_dir, "documents")))
    return textops.source_reputation(docs)


def q81_freshness(spark, sf_dir):
    """Corpus capture-freshness rollup (frontier.freshness_profile): per
    lang, doc count, capture span, mean age vs the newest capture, and
    the stale fraction (age > 250 s at this scale), over the input-hint
    warc_ts derivation (epoch + doc_id seconds — the same rule
    synth/corpus use). Exact integer-micros arithmetic throughout.
    Oracle: identical ts derivation + epoch_us ages + rounded rollup."""
    docs = load(spark, sf_dir, "documents")
    pages = docs.select(
        "lang",
        F.timestamp_add(
            "SECOND",
            F.col("doc_id").cast("int"),
            F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
        ).alias("warc_ts"),
    )
    return frontier.freshness_profile(pages)


def q80_budget_plan(spark, sf_dir):
    """Per-host crawl-budget plan (politeness.budget_plan): rounds to
    drain each host's pending queue under the per-host politeness cap
    (25/round) and the critical host bounding the whole crawl — over a
    skewed derived frontier (half of all URLs on one host, the
    reference's en.wikipedia shape). Oracle: same host derivation +
    ceil arithmetic + max-bound broadcast."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"),
        F.when(d % 4 < 2, F.lit(0)).otherwise(d % 13).cast("string"),
        F.lit(".example.org/p/"),
        d.cast("string"),
    )
    pending = docs.select(url.alias("url"))
    return politeness.budget_plan(pending)


def q79_langid_confusion(spark, sf_dir):
    """Language-ID confusion matrix (textops.langid_confusion): the
    (stored lang × predicted lang) eval rollup with per-true-language
    recall — the classifier-QA twin of q76's ANN recall, guarding the
    lang-stratified samplers (q57/q69). Oracle: same marker-argmax CASE
    + counters-only rollup."""
    docs = spread(load(spark, sf_dir, "documents"))
    return textops.langid_confusion(docs)


def q78_canonical_selection(spark, sf_dir):
    """Quality-weighted canonical selection (dedup.canonical_selection)
    over q47's near-dup clusters: per cluster keep the member with the
    highest quantized quality score (ties → lowest id) — the
    keep-the-BEST-duplicate policy production dedup runs instead of
    q47's keep-min-id. Oracle: q47's recursive-CTE closure + the same
    quality quantization + window argmax."""
    docs = neardup_docs(load(spark, sf_dir, "documents"))
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).select("id_a", "id_b")
    clusters = dedup.dedup_clusters(docs, pairs)
    feats = textops.quality_features(F.col("text"))
    quality = docs.select(
        "doc_id",
        F.round(feats["quality_score"] * F.lit(1000000.0))
        .cast("long")
        .alias("ql"),
    )
    return dedup.canonical_selection(clusters, quality)


def q77_inverted_index(spark, sf_dir):
    """Inverted-index construction (textops.build_inverted_index): per
    term, df / cf / highest-tf doc / the full postings list serialized
    "doc:tf,…" in ascending doc order — the artifact q70's BM25 probes.
    Oracle: same tf fold + string_agg postings with identical ordering
    and argmax tie-breaks."""
    docs = spread(load(spark, sf_dir, "documents"))
    return textops.build_inverted_index(docs)


def q76_ann_recall(spark, sf_dir):
    """ANN index QA (similarity.ann_recall): per-query recall@10 of the
    IVF path (q28's learned 8-centroid codebook, single probe) against
    the brute-force ground truth (q19) — the evaluation an embedding
    deployment runs before trusting an index. Both legs ARE the
    production operators. Oracle: both CTE chains composed + the same
    overlap join."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    return sim.ann_recall(emb, emb.filter(F.col("vec_id") < 5), k=10)


SUBSTR_LICENSE = (
    "this work is licensed under the creative commons attribution "
    "share alike license and may be copied distributed transmitted and "
    "adapted with attribution required for any reuse"
)


def substring_inject(docs) -> "DataFrame":
    """q75 fixture: every fourth doc gets a shared 26-token license block
    appended, so cross-document duplicated rolling windows exist at
    arbitrary offsets (the word-soup corpus has none naturally)."""
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.when(
            d % 4 == 0, F.concat(F.col("text"), F.lit(" " + SUBSTR_LICENSE))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def q75_substring_dup(spark, sf_dir):
    """Exact-substring duplication profile (dedup.substring_dup_profile,
    Lee et al. 2022): per doc, how many 20-token rolling windows also
    occur in another document, over the license-block fixture. Catches
    UNALIGNED cross-doc substring reuse that the segment (q52) and
    whole-doc (q13) passes miss. Oracle: identical injection + window
    hashing + >1-doc ban set + left-join rollup."""
    docs = spread(load(spark, sf_dir, "documents"))
    return dedup.substring_dup_profile(substring_inject(docs))


def q74_sessionize_events(spark, sf_dir):
    """Gaps-and-islands sessionization (streaming.sessionize_events) of
    the user event log: a 6 h inactivity gap closes a session; one row
    per (user, session) with counts, first/last event, duration, and
    the exact-decimal value total. Oracle: same lag/prefix-sum windows
    over (epoch micros, event_id) order."""
    from wikifrontier import streaming

    events = load(spark, sf_dir, "events")
    return streaming.sessionize_events(events)


def q72_triangle_count(spark, sf_dir):
    """Per-node triangle counts (linkgraph.triangle_count) over the q62
    derived dense graph — the degree-oriented Chiba–Nishizeki wedge
    join, the link-farm / community-density signal. The triangle set is
    orientation-independent, so the oracle replays it with the simple
    id-ordered (a<b<c) 3-way self-join."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    edges = docs.select(
        d.alias("src"),
        F.explode(
            F.array(d % 97, (d * 31 + 7) % 97, (d * 17 + 3) % 97)
        ).alias("dst"),
    )
    return linkgraph.triangle_count(edges)


def _cdx_captures(docs: DataFrame) -> DataFrame:
    """3 deterministic captures per doc for the archive-index operators:
    capture j∈{0,1,2} at epoch-offset (doc_id*3+j) s; the content version
    bumps on a doc_id-parity schedule so some recaptures are byte-identical
    (revisit records) and some changed — v(0)=0, v(1)=doc_id%2,
    v(2)=v(1)+(doc_id%3==0 ? 0 : 1). Replayed verbatim in the oracle."""
    d = F.col("doc_id")
    v1 = (d % 2).cast("int")
    caps = docs.select(
        "doc_id",
        "text",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
    )
    j = F.col("j")
    v = F.when(j == 0, F.lit(0)).when(j == 1, v1).otherwise(
        v1 + F.when(d % 3 == 0, F.lit(0)).otherwise(F.lit(1))
    )
    return caps.select(
        F.concat(F.lit("https://en.wikipedia.org/wiki/Doc_"), d).alias("url"),
        (d * 3 + j).cast("bigint").alias("warc_ts"),
        F.sha2(F.concat(F.col("text"), F.lit("#v"), v.cast("string")), 256).alias(
            "digest"
        ),
        (F.length("text") + v).cast("bigint").alias("length"),
    )


def q82_cdx_index(spark, sf_dir):
    """CDX-style capture index (cdx.cdx_index) over 3 deterministic
    captures per doc: SURT sort key, per-url capture ordinal, and WARC
    revisit flags (digest unchanged since the previous capture — the
    condition under which an archive stores a pointer instead of a second
    copy). One hash shuffle on url. Oracle: identical capture derivation
    + the same lag window in DuckDB."""
    from wikifrontier import cdx

    docs = load(spark, sf_dir, "documents")
    return cdx.cdx_index(_cdx_captures(docs))


def q83_redirect_chains(spark, sf_dir):
    """Redirect-chain resolution (linkgraph.resolve_redirects) by pointer
    doubling — ceil(log2(max_hops)) keyed self-joins instead of one join
    per hop. Fixture: within each doc_id block of 8, Doc_i redirects to
    Doc_(i-1) (chains of length 1..7 ending at the block's %8==0
    terminal) plus a planted 2-cycle that must come back
    resolved=false. Oracle: DuckDB recursive CTE walking one hop per
    level with the same max_hops cutoff and cycle rule."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://en.wikipedia.org/wiki/Doc_"), d)
    prev = F.concat(F.lit("https://en.wikipedia.org/wiki/Doc_"), d - 1)
    chain = docs.where(d % 8 != 0).select(url.alias("src"), prev.alias("dst"))
    cyc = spark.createDataFrame(
        [
            ("https://en.wikipedia.org/wiki/Cycle_A", "https://en.wikipedia.org/wiki/Cycle_B"),
            ("https://en.wikipedia.org/wiki/Cycle_B", "https://en.wikipedia.org/wiki/Cycle_A"),
        ],
        "src string, dst string",
    )
    return linkgraph.resolve_redirects(chain.unionByName(cyc), max_hops=16)


def q84_mirror_hosts(spark, sf_dir):
    """Cross-host content-mirror detection (dedup.mirror_hosts): digests
    served from >=2 distinct hosts, with url/host counts and the sorted
    host list. Fixture plants an alt-host mirror for every doc_id%4==0
    page over a 5-host base layout; organic text collisions (short docs
    sharing a body) surface identically in both engines. One shuffle on
    digest; counters only. Oracle: same groupBy in DuckDB with
    list_sort(list(DISTINCT host))."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("m"), (d % 5).cast("string"), F.lit(".example.org"))
    base = docs.select(
        F.concat(F.lit("https://"), host, F.lit("/p/"), d).alias("url"),
        host.alias("host"),
        F.sha2(F.col("text"), 256).alias("digest"),
    )
    alt = docs.where(d % 4 == 0).select(
        F.concat(F.lit("https://alt.example.org/p/"), d).alias("url"),
        F.lit("alt.example.org").alias("host"),
        F.sha2(F.col("text"), 256).alias("digest"),
    )
    return dedup.mirror_hosts(base.unionByName(alt))


def q85_snapshot_diff(spark, sf_dir):
    """Two-snapshot crawl diff (cdx.snapshot_diff): every url classified
    added / removed / changed / unchanged by digest comparison across an
    old snapshot (doc_id%10!=9) and a new one (doc_id%10!=0) whose
    content changed for doc_id%3==0. One full-outer equi-join on url —
    the incremental-crawl planning primitive (changed ∪ added is the
    next round's priority set). Oracle: the same FULL OUTER JOIN +
    null-pattern CASE in DuckDB."""
    from wikifrontier import cdx

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://en.wikipedia.org/wiki/Doc_"), d)
    old = docs.where(d % 10 != 9).select(
        url.alias("url"), F.sha2(F.col("text"), 256).alias("digest")
    )
    new = docs.where(d % 10 != 0).select(
        url.alias("url"),
        F.sha2(
            F.concat(
                F.col("text"),
                F.when(d % 3 == 0, F.lit("!")).otherwise(F.lit("")),
            ),
            256,
        ).alias("digest"),
    )
    return cdx.snapshot_diff(old, new)


def q86_dsir_weights(spark, sf_dir):
    """DSIR importance weights (textops.dsir_weights) with the English
    slice as the target distribution: per doc, the quantized-exact mean
    token ln(p_target/p_raw) with add-1 smoothing, and the keep flag for
    the resampling pool (importance > 0 = more target-like than
    corpus-average). Oracle: identical tf/cf/smoothing/quantization CTE
    chain."""
    docs = spread(load(spark, sf_dir, "documents"))
    return textops.dsir_weights(docs, F.col("lang") == "en")


def q87_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail terciles (textops.perplexity_buckets) over
    the q67 unigram-LM scores — exact ntile(3) semantics computed WITHOUT
    a single-task global window (distinct-score histogram + cumulative
    counts + within-score row_number). Oracle: q67's score chain + a
    plain ntile(3) OVER (ORDER BY logprob DESC, doc_id)."""
    docs = spread(load(spark, sf_dir, "documents"))
    scores = textops.unigram_logprob(docs)
    return textops.perplexity_buckets(scores)


def q88_sitemap_seeds(spark, sf_dir):
    """Sitemap ingestion (sitemaps.sitemap_entries + seed_candidates):
    docs fold into 7 deterministic <urlset> XML blobs (lastmod present
    only for doc_id%4!=0), the entries are regexp-exploded back out, and
    the already-crawled set (doc_id%3==0) is anti-joined away — the
    second discovery channel a real crawl runs beside link extraction.
    Oracle: identical string_agg XML build + the same RE2∩Java-regex
    extraction + NOT-IN anti-join in DuckDB."""
    from wikifrontier import sitemaps

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://en.wikipedia.org/wiki/Doc_"), d)
    lastmod = F.when(
        d % 4 != 0,
        F.concat(
            F.lit("<lastmod>2024-01-"),
            F.lpad((d % 27 + 1).cast("string"), 2, "0"),
            F.lit("</lastmod>"),
        ),
    ).otherwise(F.lit(""))
    entry = F.concat(F.lit("<url><loc>"), url, F.lit("</loc>"), lastmod, F.lit("</url>"))
    blobs = (
        docs.select((d % 7).cast("int").alias("sitemap_id"), "doc_id", entry.alias("e"))
        .groupBy("sitemap_id")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "e"))),
                        lambda x: x.e,
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    entries = sitemaps.sitemap_entries(blobs)
    seen = docs.where(d % 3 == 0).select(url.alias("url"))
    return sitemaps.seed_candidates(entries, seen)


def q89_circuit_breaker(spark, sf_dir):
    """Per-host fetch circuit breaker (politeness.host_circuit_breaker):
    attempts derived from the event log (host = event_id%20, failure when
    floor(event_id/20) % (host+2) == 0, so per-host failure rates span
    the closed / half-open / open ladder), rolled up to breaker verdicts
    with the rounded-rate threshold rule. Oracle: same derivation +
    counters + CASE in DuckDB."""
    events = load(spark, sf_dir, "events")
    e = F.col("event_id")
    h = (e % 20).cast("int")
    attempts = events.select(
        F.concat(F.lit("h"), h.cast("string")).alias("host"),
        (F.floor(e / 20) % (h + 2) != 0).alias("ok"),
    )
    return politeness.host_circuit_breaker(attempts)


def q90_warc_layout(spark, sf_dir):
    """WARC archive write plan (cdx.warc_layout) over the q82 capture
    fixture: shard captures across 16 files by md5-hex-digit (the
    engine-portable hash), lay records out in (surt, ts) order within
    each file, and compute every record's byte offset as an exclusive
    prefix sum — the (file, offset, length) triple a CDXJ index points
    at, planned before any byte is written. Oracle: same md5 digit +
    window frame in DuckDB."""
    from wikifrontier import cdx

    docs = load(spark, sf_dir, "documents")
    return cdx.warc_layout(_cdx_captures(docs))


def q91_length_outliers(spark, sf_dir):
    """Per-language robust length screen (textops.robust_outliers):
    lower-median/MAD over n_chars computed exactly from value histograms
    (no corpus sort, no interpolating median), |x−med| > 3·MAD flags.
    Oracle: identical histogram/cumulative CTE chain — NOT the engine
    median(), whose even-n interpolation differs."""
    docs = load(spark, sf_dir, "documents")
    return textops.robust_outliers(docs)


def q92_archive_pipeline(spark, sf_dir):
    """The composed archive write plan — what a crawl's storage pass
    actually executes: capture index (q82) → WARC revisit suppression
    (unchanged recaptures become index pointers, their bytes are never
    written) → file/offset layout over the STORED records only (q90) →
    per-file rollup of records written, bytes written (cross-checked as
    the max end-offset of the laid-out file, proving the prefix sums are
    gapless), revisits skipped, and bytes saved. Oracle: the composed
    q82+q90 SQL with the same revisit filter and rollup."""
    from wikifrontier import cdx

    docs = load(spark, sf_dir, "documents")
    idx = cdx.cdx_index(_cdx_captures(docs))
    stored = idx.where(~F.col("is_revisit")).select(
        "url", "warc_ts", "digest", "length"
    )
    layout = cdx.warc_layout(stored)
    written = layout.groupBy("warc_file").agg(
        F.count("*").alias("n_stored"),
        F.max(F.col("offset") + F.col("length")).alias("bytes_written"),
    )
    skipped = (
        idx.where(F.col("is_revisit"))
        .groupBy(F.substring(F.md5(F.col("url")), 1, 1).alias("warc_file"))
        .agg(
            F.count("*").alias("n_revisits"),
            F.sum("length").alias("bytes_saved"),
        )
    )
    return written.join(skipped, "warc_file", "left").select(
        "warc_file",
        "n_stored",
        "bytes_written",
        F.coalesce("n_revisits", F.lit(0)).alias("n_revisits"),
        F.coalesce("bytes_saved", F.lit(0)).alias("bytes_saved"),
    )


def q93_robots_distributed(spark, sf_dir):
    """Distributed robots.txt (filters.robots_rules_table +
    robots_gate_distributed): per-host robots blobs — with a decoy
    non-* User-agent group, comments, and an Allow carve-out inside a
    Disallow subtree — parsed relationally, then every candidate url
    gets its longest-match verdict. The driver-side parse_robots stays
    for the single-host parity crawl; THIS is the 10^8-hosts shape.
    Oracle: same (?s) star-group extraction, line split, and
    length/allow argmax in DuckDB."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    h = F.concat(F.lit("h"), (d % 10).cast("string"))
    robots = (
        docs.select(h.alias("host"), (d % 10).cast("int").alias("hn"))
        .distinct()
        .select(
            "host",
            F.concat(
                F.lit("User-agent: bot-x\nDisallow: /\n"),
                F.lit("User-agent: *\n"),
                F.lit("Disallow: /private"), F.col("hn"), F.lit("/\n"),
                F.lit("Allow: /private"), F.col("hn"), F.lit("/ok\n"),
                F.lit("Disallow: /tmp # infinite calendar\n"),
                F.lit("Crawl-delay: 1\n"),
            ).alias("robots_txt"),
        )
    )
    path = (
        F.when(d % 4 == 0, F.concat(F.lit("/private"), (d % 10), F.lit("/x"), d))
        .when(d % 4 == 1, F.concat(F.lit("/private"), (d % 10), F.lit("/ok/"), d))
        .when(d % 4 == 2, F.concat(F.lit("/tmp/cal"), d))
        .otherwise(F.concat(F.lit("/public/"), d))
    )
    cands = docs.select(
        F.concat(F.lit("https://"), h, path).alias("url"),
        h.alias("host"),
        path.alias("path"),
    )
    rules = filters.robots_rules_table(robots)
    return filters.robots_gate_distributed(cands, rules)


def q94_frontier_aging(spark, sf_dir):
    """Queue-aging report (frontier.frontier_age_profile) over the
    event-derived pending frontier at now_round=5: per depth, counts,
    oldest/mean wait in rounds, and the starving tail (waited >= 3
    rounds) — the un-crawled twin of q81's stored-corpus freshness.
    Oracle: same integer age arithmetic + rounded mean."""
    events = load(spark, sf_dir, "events")
    pending = event_frontier(events)
    return frontier.frontier_age_profile(pending, now_round=5)


def q95_url_templates(spark, sf_dir):
    """Top-5 URL path templates per host (filters.url_templates): digit
    runs collapse to 'N' so generated families (calendars, pagination,
    session ids) surface as one row with a count — the diagnosis behind
    q56's trap verdicts. Fixture spreads q42's skewed urls over template
    families. Oracle: same regexp_replace + per-host row_number."""
    events = load(spark, sf_dir, "events")
    e = F.col("event_id")
    path = (
        F.when(e % 3 == 0, F.concat(F.lit("/cal/2024/"), e % 12, F.lit("/"), e))
        .when(e % 3 == 1, F.concat(F.lit("/page/"), e))
        .otherwise(F.concat(F.lit("/article/item-"), e % 50))
    )
    urls = events.select(
        F.concat(
            F.lit("https://h"), (F.col("user_id") % 10), F.lit(".com"), path
        ).alias("url")
    )
    return filters.url_templates(urls, top_k=5)


def q96_crawl_delays(spark, sf_dir):
    """Per-host Crawl-delay extraction (filters.robots_crawl_delays) from
    the q93 robots fixture plus a host with a non-numeric delay (dropped)
    and one with two delay lines (min wins) — the politeness feed beside
    the allow/deny rules. Oracle: same star-group parse + min fold."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    hn = (d % 10).cast("int")
    robots = (
        docs.select(
            F.concat(F.lit("h"), hn.cast("string")).alias("host"), hn.alias("hn")
        )
        .distinct()
        .select(
            "host",
            F.concat(
                F.lit("User-agent: bot-x\nCrawl-delay: 99\n"),
                F.lit("User-agent: *\nDisallow: /private\n"),
                F.when(F.col("hn") == 0, F.lit("Crawl-delay: oops\n"))
                .when(F.col("hn") == 1, F.lit("Crawl-delay: 7\nCrawl-delay: 2\n"))
                .otherwise(
                    F.concat(
                        F.lit("Crawl-delay: "),
                        F.col("hn").cast("string"),
                        F.lit(".5\n"),
                    )
                ),
            ).alias("robots_txt"),
        )
    )
    return filters.robots_crawl_delays(robots)


def q97_crawl_velocity(spark, sf_dir):
    """Crawl-velocity forecast (frontier.crawl_velocity): exact
    least-squares throughput trend over a derived 10-round metrics
    series (round = event_id%10, pages = per-round event count with a
    deterministic ramp), one row with slope/intercept and the
    next-round forecast. All sums fold as exact integers; the two
    divisions round once on the scalars. Oracle: identical closed-form
    arithmetic."""
    events = load(spark, sf_dir, "events")
    metrics = (
        events.groupBy((F.col("event_id") % 10).cast("long").alias("round"))
        .agg(F.count("*").alias("raw"))
        .select(
            "round",
            (F.col("raw") + F.col("round") * 7).alias("pages_parsed"),
        )
    )
    return frontier.crawl_velocity(metrics)


def q98_adaptive_recrawl(spark, sf_dir):
    """Adaptive recrawl intervals (cdx.adaptive_recrawl) from the q82
    capture history: per url, the fraction of recaptures whose content
    changed, mapped to the 2d/4d/8d ladder (the reference recrawls
    EVERYTHING at fixed 8 days — this spends the same budget where
    pages change). Oracle: q82's lag window + the same rounded-rate
    CASE."""
    from wikifrontier import cdx

    docs = load(spark, sf_dir, "documents")
    return cdx.adaptive_recrawl(_cdx_captures(docs))


def q99_degree_distribution(spark, sf_dir):
    """In-degree distribution (linkgraph.degree_distribution) over the
    q62/q72 derived graph — power-of-two buckets via an exact integer
    CASE ladder (floor(log2) on doubles differs across engines in the
    last ulp at exact powers). The first sanity plot on any webgraph,
    and the data behind the q62 hub cap and salting thresholds.
    Oracle: same descending CASE + rollup."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    edges = docs.select(
        d.alias("src"),
        F.explode(
            F.array(d % 97, (d * 31 + 7) % 97, (d * 17 + 3) % 97)
        ).alias("dst"),
    )
    return linkgraph.degree_distribution(edges)


def q100_incremental_plan(spark, sf_dir):
    """The composed incremental-crawl planner: q85's snapshot diff
    (changed ∪ added = the work set) joined with q98's adaptive recrawl
    intervals (changed urls inherit their change-frequency rung; added
    urls get the fast rung — never seen, highest value), then a per-host
    politeness cap of 5 via (priority, url)-ordered row_number. The
    next round's fetch batch, planned from archive state alone. Oracle:
    the composed q85+q98 SQL + the same window."""
    from pyspark.sql import Window

    from wikifrontier import cdx

    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://en.wikipedia.org/wiki/Doc_"), d)
    old = docs.where(d % 10 != 9).select(
        url.alias("url"), F.sha2(F.col("text"), 256).alias("digest")
    )
    new = docs.where(d % 10 != 0).select(
        url.alias("url"),
        F.sha2(
            F.concat(
                F.col("text"),
                F.when(d % 3 == 0, F.lit("!")).otherwise(F.lit("")),
            ),
            256,
        ).alias("digest"),
    )
    work = cdx.snapshot_diff(old, new).where(
        F.col("change").isin("added", "changed")
    )
    intervals = cdx.adaptive_recrawl(_cdx_captures(docs)).select(
        "url", "recrawl_secs"
    )
    planned = work.join(intervals, "url", "left").select(
        "url",
        "change",
        F.coalesce(
            F.when(F.col("change") == "added", F.lit(cdx.RECRAWL_FAST_SEC)),
            F.col("recrawl_secs"),
        ).alias("recrawl_secs"),
        # host sharding key: the fixture is single-host, so shard by the
        # engine-portable md5 digit (the q90 idiom) to exercise the cap
        F.substring(F.md5(F.col("url")), 1, 1).alias("host_shard"),
        F.when(F.col("change") == "added", F.lit(0)).otherwise(F.lit(1)).alias(
            "priority"
        ),
    )
    w = Window.partitionBy("host_shard").orderBy("priority", "url")
    return planned.select(
        "*", F.row_number().over(w).cast("int").alias("rank")
    ).where(F.col("rank") <= 5)


def q101_host_graph(spark, sf_dir):
    """Host-level web graph rollup (linkgraph.host_graph) — the
    Common-Crawl-style host graph: page edges collapsed to (src_host,
    dst_host) with edge counts, distinct source pages, internal-edge
    flag, and reciprocity. Fixture: 5-host layout m0..m4 with three
    deterministic outlinks per page (two cross-host by doc_id
    arithmetic, one intra-host) plus a deliberately duplicated first
    mention that must collapse. Host extraction is the filter chain's
    substring_index idiom; oracle mirrors it with split_part. One
    distinct + one keyed groupBy + a host-level (tiny) reciprocity
    self-join."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def page(host_mod, page_mod):
        return F.concat(
            F.lit("https://m"),
            (host_mod % 5).cast("string"),
            F.lit(".example.org/p/"),
            (page_mod % 200).cast("string"),
        )

    src = page(d, d)
    t1 = page(d * 31 + 7, d * 31 + 7)
    t2 = page(d * 17 + 3, d * 17 + 3)
    t3 = page(d, d + 1)  # intra-host
    edges = docs.select(
        src.alias("src"),
        F.explode(F.array(t1, t2, t3, t1)).alias("dst"),  # t1 twice: dup mention
    )
    return linkgraph.host_graph(edges)


def q102_soft404(spark, sf_dir):
    """Soft-404 detection (textops.soft404_signals): pages served as 200
    whose body is an error template — phrase hit AND (absolutely short
    OR far below the host's mean token count). Fixture: 7-host layout;
    doc_id%13==0 pages get a planted error body + '404 Not Found'
    title; doc_id%13==5 pages get an error-phrase TITLE over organic
    text (the decoy an article about error pages presents — must NOT be
    condemned unless its body also trips). Host calibration is an
    integer-sum mean (deterministic across partitionings). Oracle: same
    CASE derivation + grouped mean + join in DuckDB."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 7).cast("string"), F.lit(".example.org"))
    err_body = F.lit(
        "Error 404 - page not found. The requested page does not exist."
    )
    text = F.when(d % 13 == 0, err_body).otherwise(F.col("text"))
    title = (
        F.when(d % 13 == 0, F.lit("404 Not Found"))
        .when(d % 13 == 5, F.lit("Why 'page not found' happens"))
        .otherwise(F.concat(F.lit("Doc "), d.cast("string")))
    )
    pages = docs.select(
        F.concat(F.lit("https://"), host, F.lit("/p/"), d).alias("url"),
        host.alias("host"),
        text.alias("text"),
        title.alias("title"),
    )
    return textops.soft404_signals(pages)


def q103_host_boilerplate(spark, sf_dir):
    """Host-scoped boilerplate profiling (dedup.host_boilerplate): segments
    on >= 60% of a host's pages (host >= 3 pages) are template text — the
    per-SITE noise that corpus-global segment dedup (q52) misses on small
    hosts. Fixture: 5-host layout with a planted 20-token nav prefix
    (exactly 2 segments: one global 'nav'x10, one host-branded) on every
    page, organic text after it. Oracle: same segmentation (the q52
    splitter), per-(host, hash) distinct-page counts, same thresholds."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".example.org"))
    text = F.concat(
        F.lit("nav " * 19),
        F.lit("host"),
        (d % 5).cast("string"),
        F.lit(" "),
        F.col("text"),
    )
    pages = docs.select(d.alias("doc_id"), host.alias("host"), text.alias("text"))
    return dedup.host_boilerplate(pages)


def q104_skew_plan(spark, sf_dir):
    """Partition-skew planner (politeness.skew_plan) — the auditable twin
    of salted_repartition: per-host salt factors (ceil(n/cap), md5-bucket
    portable hashing) turn the before-shard load profile (a dominant
    host collapses onto ONE shard) into the after profile (~cap-sized
    cells). Fixture: 70% of pending URLs on en.wikipedia.org (the north
    rule's skew scenario), the rest across 3 small hosts. Oracle: same
    md5-digit arithmetic in DuckDB."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.when(d % 10 < 7, F.lit("en.wikipedia.org")).otherwise(
        F.concat(F.lit("h"), (d % 10).cast("string"), F.lit(".example.org"))
    )
    pending = docs.select(
        F.concat(F.lit("https://"), host, F.lit("/wiki/Doc_"), d).alias("url"),
        host.alias("host"),
    )
    return politeness.skew_plan(pending)


def q105_canonical_clusters(spark, sf_dir):
    """rel=canonical clustering (extract.canonical_clusters): URLs grouped
    by the canonical target their OWN page declares — the publisher's
    dedup signal the reference's parser ignores. Extraction is a JVM-side
    regexp (never Python); fixture plants both attribute orders
    (rel-then-href %3==0, href-then-rel %3==1) pointing at c.org/d{d%50},
    and leaves %3==2 pages canonical-less (their own target). Oracle:
    same alternation regexps + rollup in DuckDB."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://en.wikipedia.org/wiki/Doc_"), d)
    target = F.concat(F.lit("https://c.org/d"), (d % 50).cast("string"))
    html = (
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit('<html><head><link rel="canonical" href="'),
                target,
                F.lit('"/></head><body>x</body></html>'),
            ),
        )
        .when(
            d % 3 == 1,
            F.concat(
                F.lit('<html><head><link href="'),
                target,
                F.lit('" rel="canonical"/></head><body>x</body></html>'),
            ),
        )
        .otherwise(F.lit("<html><head></head><body>x</body></html>"))
    )
    pages = docs.select(url.alias("url"), html.alias("html"))
    from wikifrontier import extract

    return extract.canonical_clusters(pages)


def q106_politeness_audit(spark, sf_dir):
    """Per-host politeness compliance audit (politeness.politeness_audit):
    min inter-fetch gap, violation count, and compliance rate per host
    over a recorded fetch log — the post-hoc proof the politeness
    contract held. Fixture: 5-host interleave with 15 s nominal gaps and
    planted 1 s violations (doc_id%10>=8). Integer-second timestamps so
    gap arithmetic is exact in both engines. Oracle: same lag window +
    rollup."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".example.org"))
    ts = (
        F.lit(1700000000).cast("long")
        + d * 3
        - F.when(d % 10 >= 8, F.lit(14)).otherwise(F.lit(0))
    )
    log = docs.select(
        host.alias("host"),
        ts.alias("ts"),
        F.concat(F.lit("https://"), host, F.lit("/p/"), d).alias("url"),
    )
    return politeness.politeness_audit(log)


def q107_delay_aware_audit(spark, sf_dir):
    """The q106 audit with per-host requirements from robots Crawl-delay
    (q96's parse) instead of a flat default — the composed politeness
    verdict a real operator needs: host h3 declares Crawl-delay 20 so
    its 15 s gaps VIOLATE; h1 declares 2 so its planted 1 s gaps still
    violate but 15 s gaps comply; hosts without a numeric delay keep the
    10 s default. Oracle: q96's star-group parse + the q106 lag window
    with coalesce(delay, 10)."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".example.org"))
    ts = (
        F.lit(1700000000).cast("long")
        + d * 3
        - F.when(d % 10 >= 8, F.lit(14)).otherwise(F.lit(0))
    )
    log = docs.select(
        host.alias("host"),
        ts.alias("ts"),
        F.concat(F.lit("https://"), host, F.lit("/p/"), d).alias("url"),
    )
    hn = (d % 5).cast("int")
    robots = (
        docs.select(
            F.concat(F.lit("h"), hn.cast("string"), F.lit(".example.org")).alias(
                "host"
            ),
            hn.alias("hn"),
        )
        .distinct()
        .select(
            "host",
            F.concat(
                F.lit("User-agent: *\nDisallow: /private\n"),
                F.when(F.col("hn") == 1, F.lit("Crawl-delay: 2\n"))
                .when(F.col("hn") == 3, F.lit("Crawl-delay: 20\n"))
                .otherwise(F.lit("")),
            ).alias("robots_txt"),
        )
    )
    delays = filters.robots_crawl_delays(robots)
    return politeness.politeness_audit(log, required_gaps=delays)


def q108_quality_budget(spark, sf_dir):
    """Quality-weighted crawl budget: q80's per-host drain plan with the
    next-round allocation scaled down by the host's soft-404 rate
    (q102's signals) — polluted hosts yield fewer fetch slots, the
    governance loop a production crawl closes between its quality and
    scheduling tiers. effective_alloc = floor(alloc × (1 − rate)).
    Oracle: the composed q80 + q102 SQL."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 7).cast("string"), F.lit(".example.org"))
    err_body = F.lit(
        "Error 404 - page not found. The requested page does not exist."
    )
    text = F.when(d % 13 == 0, err_body).otherwise(F.col("text"))
    title = (
        F.when(d % 13 == 0, F.lit("404 Not Found"))
        .when(d % 13 == 5, F.lit("Why 'page not found' happens"))
        .otherwise(F.concat(F.lit("Doc "), d.cast("string")))
    )
    pages = docs.select(
        F.concat(F.lit("https://"), host, F.lit("/p/"), d).alias("url"),
        host.alias("host"),
        text.alias("text"),
        title.alias("title"),
    )
    rates = (
        textops.soft404_signals(pages)
        .groupBy("host")
        .agg(
            F.round(
                F.sum(F.col("is_soft404").cast("int"))
                / F.count("*").cast("double"),
                6,
            ).alias("soft404_rate")
        )
    )
    plan = politeness.budget_plan(pages.select("url"))
    return plan.join(rates, "host", "left").select(
        "host",
        "n_pending",
        "next_round_alloc",
        F.coalesce(F.col("soft404_rate"), F.lit(0.0)).alias("soft404_rate"),
        F.floor(
            F.col("next_round_alloc")
            * (F.lit(1.0) - F.coalesce(F.col("soft404_rate"), F.lit(0.0)))
        ).cast("long").alias("effective_alloc"),
    )


def _q101_host_edges(spark, sf_dir):
    """Shared fixture: the q101 host-graph rollup as a weighted edge list."""
    hg = q101_host_graph(spark, sf_dir)
    return hg.select("src_host", "dst_host", "n_edges", "is_internal", "reciprocal")


def q109_host_pagerank(spark, sf_dir):
    """Weighted PageRank over the host graph (linkgraph.pagerank_weighted):
    rank flows in proportion to page-edge counts (pr × w / Σw_out), so
    host authority reflects how STRONGLY hosts link — the host-level
    twin of q51's page PageRank, feeding budget allocation the way q51
    feeds the scored frontier. Integer weights keep the normalizer an
    exact integer sum. Oracle: chained-CTE replay over the q101 rollup
    with the same weighted redistribution."""
    edges = _q101_host_edges(spark, sf_dir)
    pr = linkgraph.pagerank_weighted(
        edges, src="src_host", dst="dst_host", weight="n_edges"
    )
    return pr.select(
        F.col("id").alias("host"), F.round("pr", 8).alias("host_rank")
    )


def q110_webgraph_stats(spark, sf_dir):
    """One-row webgraph snapshot summary (linkgraph.webgraph_stats) over
    the q101 host rollup — node/pair/page-edge counts, self-loop and
    reciprocal pair counts, reciprocity rate, max out-degree: the
    first-glance numbers beside a published host graph. Oracle: same
    folds in DuckDB."""
    return linkgraph.webgraph_stats(q101_host_graph(spark, sf_dir))


def q111_image_dhash(spark, sf_dir):
    """Perceptual image hashing (multimodal.image_dhash): 64-bit dHash
    (9x8 grid, horizontal neighbor comparisons, two 32-bit halves) over
    REAL BMP payloads decoded by the stdlib parser in an Arrow-batched
    mapInPandas. Fixture: attach_images_formula — genuine containers
    whose pixels are closed-form in the group id, so the oracle replays
    the exact grid/gray/bit arithmetic without decoding a byte."""
    docs = load(spark, sf_dir, "documents")
    imgs = multimodal.attach_images_formula(docs)
    return multimodal.image_dhash(imgs)


def q112_image_neardup(spark, sf_dir):
    """Near-duplicate image pairs (multimodal.dhash_near_dups): the
    SimHash pigeonhole play on pixels — four 16-bit bands bucket the
    candidates, exact Hamming via JVM bit_count(xor) on both halves.
    The fixture's groups of 5 (4 exact + 1 perturbed member) must all
    surface within Hamming 10. Oracle: same band join + xor arithmetic
    over the replayed hashes."""
    return multimodal.dhash_near_dups(q111_image_dhash(spark, sf_dir))


def q113_audio_afp(spark, sf_dir):
    """Perceptual audio fingerprinting (multimodal.audio_afp): 63-bit
    energy-envelope hash (64 windows by w=(i·64)//n, integer-mean
    |amplitude|, neighbor comparisons) over REAL mono PCM-16 WAV
    payloads decoded by the stdlib RIFF parser in an Arrow-batched
    mapInPandas. Fixture: attach_audio_formula — genuine containers,
    closed-form samples with group-dependent quadratic coefficients.
    Oracle: replays the signed-16-LE / window / mean / bit arithmetic."""
    docs = load(spark, sf_dir, "documents")
    clips = multimodal.attach_audio_formula(docs)
    return multimodal.audio_afp(clips)


def q114_audio_neardup(spark, sf_dir):
    """Near-duplicate audio pairs (multimodal.afp_near_dups): the shared
    banded-Hamming machinery (four 16-bit bands, bit_count(xor) verify)
    over the q113 fingerprints. Groups of 5 (4 exact + 1 perturbed,
    measured Hamming ≤4) surface within threshold 10; cross-group
    false positives measured at 0 for ≤100 groups, 2 at 1000. Oracle:
    same band join + xor arithmetic over the replayed fingerprints."""
    return multimodal.afp_near_dups(q113_audio_afp(spark, sf_dir))


def q115_video_framehash(spark, sf_dir):
    """Frame-sampled video fingerprinting (multimodal.video_frame_dhash):
    every 3rd frame of REAL Y4M (YUV4MPEG2, Cmono) payloads — a genuine
    public container parsed by a stdlib reader, like BMP/WAV before it —
    gets the 9x8 luma dHash, so a video contributes O(n_frames/3) rows
    of 4 scalars. Fixture: attach_videos_formula — closed-form luma with
    a frame-shifted quadratic phase (group-dependent coefficients), so
    the oracle replays grid/compare/bit arithmetic without a container.
    Reference scope: the crawler stores opaque page payloads
    (components/crawler/core/downloader.py:8-44); this extends the same
    bytes-in-a-column design to the video modality."""
    docs = load(spark, sf_dir, "documents")
    vids = multimodal.attach_videos_formula(docs)
    return multimodal.video_frame_dhash(vids)


def q116_video_neardup(spark, sf_dir):
    """Near-duplicate video pairs (multimodal.video_near_dups): shot-level
    matching — videos sharing >= 2 distinct sampled-frame hashes pair up
    via an equi-join on the exact 64-bit frame hash (candidates only meet
    inside identical-frame buckets; one hash shuffle + one pair groupBy,
    never n² over videos). The fixture's groups of 5 (4 exact + 1
    perturbed member) must pair on their shared frames."""
    return multimodal.video_near_dups(q115_video_framehash(spark, sf_dir))


def _q117_host_edges(spark, sf_dir):
    """Shared fixture for q117/q118: a 40-host graph with 8 planted
    communities — clusters of 5 hosts c{q}h0..c{q}h4 wired as K5 (ring +
    distance-2 chord, symmetrized) plus sparse cross-cluster bridges
    (doc_id % 23 == 0 → next cluster, same position). Dense intra-cluster
    votes dominate the <= 2 bridge votes per node, so LPA must recover
    exactly the planted clusters."""
    docs = load(spark, sf_dir, "documents")
    hs = F.col("doc_id") % 40

    def host(idx):
        return F.concat(
            F.lit("c"), (idx / 5).cast("long").cast("string"),
            F.lit("h"), (idx % 5).cast("string"),
            F.lit(".example.org"),
        )

    ring = (hs - hs % 5) + (hs % 5 + 1) % 5
    chord = (hs - hs % 5) + (hs % 5 + 2) % 5
    bridge = (hs + 5) % 40
    e12 = docs.select(
        host(hs).alias("src"),
        F.explode(F.array(host(ring), host(chord))).alias("dst"),
    )
    e3 = docs.filter(F.col("doc_id") % 23 == 0).select(
        host(hs).alias("src"), host(bridge).alias("dst")
    )
    return e12.union(e3)


def q117_lpa_communities(spark, sf_dir):
    """Community detection over the host graph
    (linkgraph.label_propagation): deterministic synchronous LPA —
    most-frequent neighbor label with a min-label tie-break, 4 fixed
    rounds, symmetrized edges. Per round: one edge⋈label equi-join plus
    two keyed folds (vote count, then argmin-by-struct winner pick — a
    partial-aggregatable fold, NOT a window), zero in-loop actions.
    Fixture: 8 planted K5 clusters + sparse bridges; the oracle replays
    every round as chained CTEs, so the 2-cycle-prone sync dynamics are
    pinned exactly, not just the converged fixed point."""
    edges = _q117_host_edges(spark, sf_dir)
    return linkgraph.label_propagation(edges).select(
        F.col("id").alias("host"), "community"
    )


def q118_community_quality(spark, sf_dir):
    """Community cut quality (linkgraph.community_stats) over the q117
    assignment: member counts, internal/boundary undirected pair counts,
    and conductance = boundary / (2·internal + boundary) per community —
    the acceptance check a pipeline runs before using communities for
    crawl sharding or domain-mixture buckets. Pairs canonicalize to
    (least, greatest) + distinct, labels attach via two O(nodes)
    equi-joins, and the rollup is one keyed fold — no window, no n²."""
    edges = _q117_host_edges(spark, sf_dir)
    labels = linkgraph.label_propagation(edges).select(
        F.col("id"), "community"
    )
    return linkgraph.community_stats(edges, labels)


def q119_url_normalize(spark, sf_dir):
    """Mercator-style URL normalization + variant collapse
    (extract.url_normalize / url_dedup_rollup): lowercase scheme+host,
    default ports stripped, fragments dropped, tracking params removed,
    surviving query params SORTED — then one keyed rollup counting raw
    spellings per normalized form with the min() representative. The
    reference's normalize_url (wiki_link_extractor.py:110-120) strips
    the whole query string — right for Wikipedia, destructive for the
    general web; this is the frontier-grade canonicalization beside it.
    Fixture: 4 deterministic variant families per doc_id — two spellings
    of the same logical URL (case/port/tracking/param-order noise) that
    MUST collapse to one form, a :443 https URL with a fragment, and a
    scheme-less string that must be dropped."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    g = (d / 4).cast("long").cast("string")
    url = (
        F.when(d % 4 == 0, F.concat(
            F.lit("HTTP://WWW.Example.com:80/a/"), g,
            F.lit("?utm_source=x&b=2&a=1")))
        .when(d % 4 == 1, F.concat(
            F.lit("http://www.example.com/a/"), g,
            F.lit("?b=2&a=1&fbclid=zz")))
        .when(d % 4 == 2, F.concat(
            F.lit("https://Site.org:443/p"), d.cast("string"),
            F.lit("#frag")))
        .otherwise(F.concat(F.lit("not-a-url-"), d.cast("string")))
    )
    return extract.url_dedup_rollup(docs.select(url.alias("url")))


def q120_hll_distinct_hosts(spark, sf_dir):
    """Mergeable distinct-host cardinality (sketch.hll_report): a
    cross-engine-exact HyperLogLog — sha256 hash, 64 registers, exact
    integer register sum — giving per-crawl-segment distinct-host
    estimates plus an ALL row computed by MERGING the per-segment
    registers (register-wise max), never re-scanning the data. The
    exact countDistinct rides along as the acceptance column. Fixture:
    hosts from a multiplicative hash of doc_id over 8 segments, so
    per-segment cardinalities are small enough to exercise the
    small-range correction branch while ALL takes the raw-estimate
    branch."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    data = docs.select(
        F.concat(F.lit("s"), (d % 8).cast("string")).alias("segment"),
        F.concat(
            F.lit("h"), ((d * 48271) % 350).cast("string"),
            F.lit(".example.org"),
        ).alias("host"),
    )
    return sketch.hll_report(data, value="host", group="segment").select(
        F.col("grp").alias("segment"),
        "n_exact", "n_registers", "hll_estimate", "rel_err",
    )


def q121_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN (similarity.pq_codebooks / pq_encode /
    pq_adc_topk): 64-dim embeddings → 4 subspaces × 8-code codebooks
    (per-subspace distributed k-means, the q28 recipe sliced), vectors
    stored as 4 small codes, and asymmetric-distance top-10 for the
    q19 query set via per-query distance tables — m integer-quantized
    lookups per (query, vector), raw vectors untouched at query time.
    The compressed-domain complement to q19 (exact), q20 (LSH buckets)
    and q28 (IVF lists); at 10^10 vectors PQ codes ride inside the IVF
    lists. Oracle replays the per-subspace k-means, the encode argmin,
    and the exact-integer ADC sum."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    books = sim.pq_codebooks(emb)
    return sim.pq_adc_topk(emb, emb.filter(F.col("vec_id") < 5), books)


def q122_cms_heavy_hitters(spark, sf_dir):
    """Heavy-hitter hosts by count-min sketch (sketch.cms_heavy_hitters):
    a 4×64 counter matrix over sha256 hash slices — 256 counters total
    regardless of host cardinality, cell-wise-additive merge — with the
    min-over-rows estimate and the CM overestimate-only guarantee as the
    machine-checked invariant (overcount >= 0). Top-10 is orderBy+limit
    (TakeOrderedAndProject). Fixture: a skewed host mix — 60% of docs on
    5 heavy hosts, the rest spread over a 40-host tail — so the heavy 5
    must surface on top despite hash collisions in the 64-wide rows."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.concat(
        F.lit("h"),
        F.when(d % 100 < 60, (d % 5).cast("string")).otherwise(
            (5 + d % 40).cast("string")
        ),
        F.lit(".example.org"),
    )
    return sketch.cms_heavy_hitters(docs.select(host.alias("host")), "host")


def q123_jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss projection audit (similarity.jl_project /
    jl_distortion): 64-dim embeddings → 16 dims through a deterministic
    ±1 Achlioptas matrix (pure integer arithmetic, no RNG), components
    1e-6-quantized so the (vector, j) fold is an exact integer sum; the
    result rows are squared distances before/after projection over a
    bounded probe set with their distortion ratio — the spot-check a
    pipeline runs before pointing ANN (q19/q20/q28/q121) at the reduced
    vectors. Oracle replays the sign arithmetic, integer sums, and
    distance folds exactly."""
    emb = spread(load(spark, sf_dir, "embeddings"))
    return sim.jl_distortion(emb)


def q124_latency_quantiles(spark, sf_dir):
    """Per-host fetch-latency percentile profile
    (sketch.histogram_quantiles): p50/p95/p99 from a fixed 64-bin
    histogram — the only event-scale exchange is a (host, bin) counter
    fold; histograms merge by cell-wise addition so per-segment sketches
    roll up to fleet percentiles; the quantile scan is a window over the
    ≤64-bin histogram per host, never over raw events. Binning is exact
    integer arithmetic (50 ms bins over value×100 ms latencies), so the
    result is deterministic and the oracle replays it exactly. Fixture:
    events.value as latency with the host from user_id."""
    ev = load(spark, sf_dir, "events")
    data = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 12).cast("string"),
                 F.lit(".com")).alias("host"),
        "value",
    )
    return sketch.histogram_quantiles(data, "value", "host").select(
        F.col("grp").alias("host"), "n_events", "p50_ms", "p95_ms", "p99_ms"
    )


LINE_TOKENS = 8  # tokens per derived line in lined_docs


def lined_docs(docs: DataFrame) -> DataFrame:
    """documents re-shaped into newline-delimited lines of LINE_TOKENS
    tokens, deterministically decorated so the line-level quality rules
    (q125/q126) see every rule outcome: bullet prefixes ((doc_id+li)%7),
    a planted boilerplate word ((3·doc_id+li)%11), ellipsis suffixes
    ((doc_id+li)%5). Pure arithmetic — the oracle rebuilds the exact
    same lines."""
    toks = textops.tokens(F.col("text"))
    nlines = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(LINE_TOKENS))).cast("int"), F.lit(1)
    )
    did = F.col("doc_id")
    lines = F.transform(
        F.sequence(F.lit(0), nlines - 1),
        lambda li: F.concat(
            F.when((did + li) % 7 == 0, F.lit("- ")).otherwise(F.lit("")),
            F.concat_ws(" ", F.slice(toks, li * LINE_TOKENS + 1, LINE_TOKENS)),
            F.when((did * 3 + li) % 11 == 0, F.lit(" javascript required")).otherwise(
                F.lit("")
            ),
            F.when((did + li) % 5 == 0, F.lit(" ...")).otherwise(F.lit("")),
        ),
    )
    return docs.select("doc_id", F.array_join(lines, "\n").alias("text"))


def q125_gopher_rules(spark, sf_dir):
    """Gopher document-quality rule suite (Rae et al. 2021 A1.1;
    textops.gopher_rules): word-count / mean-word-length / symbol-ratio
    / bullet- and ellipsis-line / alpha-word / stop-word rules over
    line-structured docs, one boolean per rule plus the composite keep.
    Pure projection — no shuffle, no UDF; the oracle replays the lined
    fixture and every double in the same operation order."""
    docs = lined_docs(spread(load(spark, sf_dir, "documents")))
    return textops.gopher_rules(docs)


def q126_c4_lines(spark, sf_dir):
    """C4 line-level cleaning + corpus-wide exact line dedup (Raffel et
    al. 2020; textops.c4_line_filter) over lined documents ∪ lined
    near-dup copies (the copies share undecorated lines with their
    originals — the planted cross-document duplicates). Reasons are
    precedence-assigned; dedup keeps the (doc_id, line_idx)-first
    occurrence via one keyed window on the line text — the single
    corpus-scale shuffle. Output: per-doc drop-reason counts + md5 of
    the reassembled clean text."""
    base = load(spark, sf_dir, "documents")
    docs = lined_docs(neardup_docs(base).drop("lang"))
    return textops.c4_line_filter(docs)


TRUST_SEED_MOD = 17  # doc_id % MOD == 0 → trusted seed (q127)


def q127_trustrank(spark, sf_dir):
    """TrustRank (Gyöngyi et al. 2004; linkgraph.trustrank): PageRank
    with teleport AND dangling mass personalized onto the trusted seed
    set (doc_id % 17 == 0) over the q51 derived link graph — the classic
    spam-demotion companion score to q51/q59. 3 iterations, damping
    0.85; oracle is a chained-CTE replay with the same trust vector."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    src = F.col("doc_id").alias("src")
    edges = (
        docs.select(src, ((F.col("doc_id") + 1) % n).alias("dst"))
        .unionByName(docs.select(src, ((F.col("doc_id") * 31 + 7) % n).alias("dst")))
        .unionByName(docs.select(src, ((F.col("doc_id") * 17 + 3) % n).alias("dst")))
    )
    seeds = docs.filter(F.col("doc_id") % TRUST_SEED_MOD == 0).select("doc_id")
    tr = linkgraph.trustrank(edges, seeds)
    return tr.select(F.col("id").alias("doc_id"), F.round("tr", 8).alias("trustrank"))


KMV_SHIFT_DEN = 3  # B = A shifted by N//3 → |A∩B| = N - N//3 (q128)


def q128_theta_sketch(spark, sf_dir):
    """KMV/theta bottom-k sketch set algebra (sketch.kmv_sketch/
    kmv_set_ops): distinct-URL estimates for two overlapping crawl
    snapshots A (doc ids [0,N)) and B (ids shifted by N//3) and their
    union/intersection — the snapshot-reconciliation arithmetic a crawl
    planner runs without re-scanning either snapshot. Sketches are
    bottom-256 md5 hashes (TakeOrderedAndProject — per-partition
    bottom-k, O(k) driver state); every estimate is a fixed scalar
    formula the oracle replays exactly."""
    docs = spread(load(spark, sf_dir, "documents"))
    n = docs.count()
    shift = n // KMV_SHIFT_DEN
    url_of = lambda c: F.concat(F.lit("https://en.wikipedia.org/wiki/Doc_"), c)
    a = docs.select(url_of(F.col("doc_id").cast("string")).alias("url"))
    b = docs.select(
        url_of((F.col("doc_id") + shift).cast("string")).alias("url")
    )
    ska = sketch.kmv_sketch(a, "url")
    skb = sketch.kmv_sketch(b, "url")
    return sketch.kmv_set_ops(ska, skb)


WALK_SEED_MOD = 29  # doc_id % MOD == 0 → walk seed (q129)


def q129_random_walks(spark, sf_dir):
    """Deterministic random walks (linkgraph.random_walks) — the
    DeepWalk/Monte-Carlo-PageRank sampling primitive — over the q51
    derived graph from seeds doc_id % 29 == 0: 4 hops, each hop chosen
    by md5(node#step) mod out-degree against the rank-numbered
    adjacency list; one O(walks) equi-join per step, never O(edges).
    Oracle unrolls the same four joins with the same hash arithmetic."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    src = F.col("doc_id").alias("src")
    edges = (
        docs.select(src, ((F.col("doc_id") + 1) % n).alias("dst"))
        .unionByName(docs.select(src, ((F.col("doc_id") * 31 + 7) % n).alias("dst")))
        .unionByName(docs.select(src, ((F.col("doc_id") * 17 + 3) % n).alias("dst")))
    )
    seeds = docs.filter(F.col("doc_id") % WALK_SEED_MOD == 0).select("doc_id")
    return linkgraph.random_walks(edges, seeds)


def q130_host_ewma(spark, sf_dir):
    """Recency-weighted host health (politeness.host_ewma): EWMA latency
    and failure rate over each host's last 16 fetch events (decay 1/2 —
    dyadic weights, left-fold summation → bit-exact at any parallelism)
    plus the healthy/slow/failing verdict an adaptive politeness
    scheduler keys on. Fixture: events as the fetch log — host from
    user_id, latency from value, failure when event_type='error'."""
    ev = load(spark, sf_dir, "events")
    fetches = ev.select(
        F.concat(F.lit("h"), (F.col("user_id") % 12).cast("string"), F.lit(".com")).alias(
            "host"
        ),
        "ts",
        F.col("event_id").alias("seq"),
        F.col("value").alias("latency_ms"),
        (F.col("event_type") == "error").alias("failed"),
    )
    return politeness.host_ewma(fetches)


def urlq_urls(docs: DataFrame) -> DataFrame:
    """Deterministic URL-quality fixture: deep-subdomain hosts (%4),
    digit-stuffed paths (%5), parameter explosions (%3), and a planted
    blocklist word (%7) — every q131 rule sees both outcomes."""
    d = F.col("doc_id")
    host = F.when(d % 4 == 0, F.lit("a.b.c.en.wikipedia.org")).otherwise(
        F.lit("en.wikipedia.org")
    )
    path = F.concat(
        F.when(d % 7 == 0, F.lit("/casino")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("/wiki/12345/67890/Doc_")).otherwise(
            F.lit("/wiki/Doc_")
        ),
        d.cast("string"),
    )
    query = (
        F.when(d % 3 == 0, F.lit("?utm_source=x&sess=1&ref=2&id=3&p=4"))
        .when(d % 3 == 1, F.lit("?q=1"))
        .otherwise(F.lit(""))
    )
    return docs.select(
        F.concat(F.lit("https://"), host, path, query).alias("url")
    )


def q131_url_quality(spark, sf_dir):
    """FineWeb/RefinedWeb-style URL quality gate (filters.url_quality):
    length, subdomain depth, path digit fraction, parameter count, and
    blocklist-word rules — filtering BEFORE the fetch, which is the step
    that matters at 10^10 URLs. Pure codegen projection; oracle replays
    the three split regexes and every count."""
    return filters.url_quality(urlq_urls(load(spark, sf_dir, "documents")))


def q132_focused_frontier(spark, sf_dir):
    """Focused-crawl pop (Chakrabarti et al. 1999; politeness.
    focused_pop): anchor-text topic relevance desc, depth asc, url asc;
    per-host cap 10 then global budget 100 as a TakeOrdered top-k —
    the third pop strategy beside FIFO (q06) and link-score (q37/q54).
    Fixture: anchor text = the target doc's first 6 tokens, host/depth
    from doc_id arithmetic."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    toks = textops.tokens(F.col("text"))
    cands = docs.select(
        F.concat(F.lit("https://en.wikipedia.org/wiki/Doc_"), d).alias("url"),
        F.concat(F.lit("h"), (d % 5).cast("string"), F.lit(".org")).alias("host"),
        (d % 6).cast("int").alias("depth"),
        F.concat_ws(" ", F.slice(toks, 1, 6)).alias("anchor_text"),
    )
    return politeness.focused_pop(cands)


def q133_rendezvous_shards(spark, sf_dir):
    """Rendezvous/HRW host→fetcher-shard assignment (Thaler &
    Ravishankar 1998; politeness.rendezvous_plan): shard = argmax_s
    md5(host#s) — adding/removing a shard moves only that shard's
    hosts, so per-host politeness state stays put (hash-mod sharding
    reshuffles everything). Fixture: 97 derived hosts with per-host URL
    counts; output is the per-shard load rollup."""
    docs = load(spark, sf_dir, "documents")
    hosts = (
        docs.select(
            F.concat(
                F.lit("h"), (F.col("doc_id") % 97).cast("string"), F.lit(".example.org")
            ).alias("host")
        )
        .groupBy("host")
        .agg(F.count("*").alias("n_urls"))
    )
    return politeness.rendezvous_plan(hosts)


def q134_opic(spark, sf_dir):
    """OPIC crawl-time importance (Abiteboul et al. 2003; linkgraph.
    opic) over the q51 derived graph: cash diffuses along out-links
    each round, history banks it, importance = (hist+cash)/(rounds+1)
    — the importance estimator whose per-round work IS the crawl
    round's own link traversal. Oracle: chained-CTE replay of all
    three rounds."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    src = F.col("doc_id").alias("src")
    edges = (
        docs.select(src, ((F.col("doc_id") + 1) % n).alias("dst"))
        .unionByName(docs.select(src, ((F.col("doc_id") * 31 + 7) % n).alias("dst")))
        .unionByName(docs.select(src, ((F.col("doc_id") * 17 + 3) % n).alias("dst")))
    )
    res = linkgraph.opic(edges)
    return res.select(
        F.col("id").alias("doc_id"), F.round("importance", 8).alias("importance")
    )


def q135_pagerank_warm(spark, sf_dir):
    """Incremental PageRank refresh (linkgraph.pagerank warm start): a
    crawl re-scoring its growing link graph every K rounds restarts
    from the previous ranks instead of the uniform prior — same fixed
    point, far fewer iterations per refresh. Here: 3 cold iterations →
    1 warm iteration from that result, which must equal the 4th cold
    iteration exactly; the oracle replays the 4-iteration chain. Nodes
    absent from the init (born since the last refresh) take the 1/n
    prior."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    src = F.col("doc_id").alias("src")
    edges = (
        docs.select(src, ((F.col("doc_id") + 1) % n).alias("dst"))
        .unionByName(docs.select(src, ((F.col("doc_id") * 31 + 7) % n).alias("dst")))
        .unionByName(docs.select(src, ((F.col("doc_id") * 17 + 3) % n).alias("dst")))
    )
    cold = linkgraph.pagerank(edges)
    warm = linkgraph.pagerank(edges, iterations=1, init=cold)
    return warm.select(
        F.col("id").alias("doc_id"), F.round("pr", 8).alias("warm_pagerank")
    )


def _q51_edges(docs: DataFrame, n: int) -> DataFrame:
    """The shared derived link graph (q51/q127/q129/q134/q135…)."""
    src = F.col("doc_id").alias("src")
    return (
        docs.select(src, ((F.col("doc_id") + 1) % n).alias("dst"))
        .unionByName(docs.select(src, ((F.col("doc_id") * 31 + 7) % n).alias("dst")))
        .unionByName(docs.select(src, ((F.col("doc_id") * 17 + 3) % n).alias("dst")))
    )


def q136_seed_distance(spark, sf_dir):
    """Multi-source BFS seed-distance layers (linkgraph.bfs_layers):
    hop distance from the nearest q129 seed for every node, capped at
    4, -1 for unreached — the scheduler's "what WOULD depth-K reach"
    answered from the link graph alone (q10 runs the crawl; this plans
    it). One edge⋈dist join + keyed min-fold per hop; oracle unrolls
    the same four min-folds."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    edges = _q51_edges(docs, n)
    seeds = docs.filter(F.col("doc_id") % WALK_SEED_MOD == 0).select("doc_id")
    return linkgraph.bfs_layers(edges, seeds).select(
        F.col("id").alias("doc_id"), "dist"
    )


def q137_reciprocity(spark, sf_dir):
    """Link-farm reciprocity audit (linkgraph.reciprocity): per node,
    the fraction of out-links that link straight back — the structural
    spam signature TrustRank's reachability signal can't see. One
    reversed-key self-join of the edge list (the shuffle class of a
    PageRank iteration) + two keyed degree folds."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    return linkgraph.reciprocity(_q51_edges(docs, n)).select(
        F.col("id").alias("doc_id"),
        "out_deg",
        "in_deg",
        "recip_out",
        "recip_frac",
        "farm_flag",
    )


def q138_spam_composite(spark, sf_dir):
    """Spam triage composition — the three independent signals joined
    per page: URL-quality fail (q131), low TrustRank (q127: below half
    the uniform prior — spam islands and barely-reached pages), high
    reciprocity (q137: ≥50% mutual out-links). spam_score = signal sum;
    is_spam at ≥2 — no single signal convicts, which is the whole
    design (each has benign false positives; their conjunction doesn't).
    Three keyed joins on doc_id, nothing quadratic."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    edges = _q51_edges(docs, n)
    seeds = docs.filter(F.col("doc_id") % TRUST_SEED_MOD == 0).select("doc_id")
    tr = linkgraph.trustrank(edges, seeds).select(
        F.col("id").alias("doc_id"), "tr"
    )
    uq = filters.url_quality(urlq_urls(docs)).select(
        F.regexp_extract(F.col("url"), "Doc_([0-9]+)", 1).cast("long").alias("doc_id"),
        (~F.col("keep")).cast("int").alias("url_bad"),
    )
    rc = linkgraph.reciprocity(edges).select(
        F.col("id").alias("doc_id"),
        (F.col("recip_frac") >= 0.5).cast("int").alias("high_recip"),
    )
    low_trust = (F.col("tr") < F.lit(0.5 / n)).cast("int")
    j = tr.join(uq, "doc_id").join(rc, "doc_id")
    score = F.col("url_bad") + low_trust + F.col("high_recip")
    return j.select(
        "doc_id",
        "url_bad",
        low_trust.alias("low_trust"),
        "high_recip",
        score.alias("spam_score"),
        (score >= 2).alias("is_spam"),
    )


TRUST_HOST_MOD = 23  # doc_id % MOD → host id (q139)


def q139_host_trust(spark, sf_dir):
    """Host-level trust rollup (linkgraph.trust_rollup): q127's page
    TrustRank lifted to the granularity a crawler acts at — per host,
    page count, deterministic ordered-fold mean trust, sub-uniform page
    count, and the blocklist verdict (mean below half the uniform
    prior). The mean is a left fold over an id-ordered array, never
    SUM over a shuffled partition — bit-exact at any parallelism."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    edges = _q51_edges(docs, n)
    seeds = docs.filter(F.col("doc_id") % TRUST_SEED_MOD == 0).select("doc_id")
    tr = linkgraph.trustrank(edges, seeds)
    hosts = docs.select(
        F.col("doc_id").alias("id"),
        F.concat(
            F.lit("h"), (F.col("doc_id") % TRUST_HOST_MOD).cast("string"), F.lit(".org")
        ).alias("host"),
    )
    return linkgraph.trust_rollup(tr, hosts, n)


ALL_QUERIES = {
    name: fn
    for name, fn in sorted(globals().items())
    if name.startswith("q") and name[1:3].isdigit() and callable(fn)
}
