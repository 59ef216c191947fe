"""The BFS-frontier round loop — SURVEY.md §3 end-to-end.

One reference RabbitMQ hop ≙ one DataFrame-to-DataFrame stage; one round of
this loop is the whole 3.1→3.3 cycle (pop → fetch-join → parse → filter →
dedup → claim → merge state), executed as one Spark job chain and
checkpointed at round end.

Scale design decisions (SURVEY.md §4.2):
* fetch is an equi-join frontier⋈web_pages on url — shuffle hash join; the
  corpus is bucketed by url hash in a real deployment so the frontier side
  is the only shuffle.
* the seen-set anti-join shuffles on url; runtime Bloom filter pre-prunes.
* the global pop is a distributed top-k, never a global sort.
* **state is append-only deltas, folded lazily.** Each round materializes
  only the O(delta) outputs its own later steps read (the fetch+parse
  outcome, the claimed links); the accumulated pages/page_content tables
  are *views* — an aggregation over the event log — evaluated when read
  or durably checkpointed, and the discovered link graph is an edge log
  materialized once, by its first reader. The alternative
  (full-outer-merge rewrite of every state table per round, as the first
  cut did) is O(total-crawled) per round — quadratic over a crawl and
  unusable at a 10^10-URL frontier.
* metrics are DataFrame aggregates (accumulators are unreliable): one
  read-only grouped count per round over the round's checkpointed leaves,
  attributed in the reference's D1 → F → D2 order — reference A6.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikifrontier import filters as flt
from wikifrontier import schemas
from wikifrontier import state as state_io
from wikifrontier.politeness import cap_per_host, pop_frontier
from wikifrontier.seen import PartitionedBloomSeen, claim_first_wins, drop_seen
from wikifrontier.udfs import parse_page_udf

RECRAWL_INTERVAL_SECONDS = 691_200  # 8 days — crawler_prod.yml:26

# popped rows up to which fetch_strategy="auto" broadcasts the batch
# (divided by the executor count in run_round)
BROADCAST_ROW_LIMIT = 4_000_000

# the reference's 6-way fetch-exception taxonomy, in declaration order
# (components/crawler/types/crawler_types.py:8-40)
ERROR_TYPES = (
    "HTTPError", "Timeout", "ConnectionError",
    "TooManyRedirects", "SSLError", "RequestException",
)
SKIPPED_ERROR_MESSAGE = "SKIPPED: robots.txt disallowed url at fetch time"

_FAILISH = ("FAILED", "SKIPPED")


def classify_fetch_error(url_col) -> F.Column:
    """Deterministic stand-in for the reference's exception classes: the
    failure class of a miss is a stable function of the url (first sha256
    nibble mod 6), so the corpus model exercises every error_type value
    the reference can emit (crawler_types.py:8-40) — and the derivation is
    portable to the DuckDB oracle verbatim."""
    nibble = (
        F.instr(F.lit("0123456789abcdef"), F.substring(F.sha2(url_col, 256), 1, 1))
        - 1
    )
    idx = (nibble % 6).cast("int")
    return F.element_at(F.array(*[F.lit(t) for t in ERROR_TYPES]), idx + 1)


@dataclass(frozen=True)
class CrawlConfig:
    max_depth: int = flt.MAX_DEPTH
    budget_per_round: int | None = None     # dispatch budget (T3); None = unbounded
    per_host_cap: int | None = None         # politeness cap (§2.9); None = unbounded
    max_rounds: int = 32
    robots_txt: str = ""
    allowed_domains: tuple[str, ...] = flt.ALLOWED_DOMAINS
    excluded_prefixes: tuple[str, ...] = flt.EXCLUDED_PREFIXES
    crawl_epoch: datetime = None  # type: ignore[assignment]
    # Durable round snapshots. REQUIRED on multi-executor clusters: without
    # it per-round state rests on localCheckpoint blocks whose lineage is
    # truncated — an executor loss makes them unrecoverable and the
    # accumulated tables grow as O(rounds) union chains. Every commit
    # hands the next round exactly the state load_checkpoint would return
    # — parquet only, no in-memory leaf survives it — so it bounds both;
    # a long crawl whose event log grows too deep should set it.
    checkpoint_dir: str | None = None
    # write the durable snapshot every K rounds (1 = every round). Larger
    # K amortizes the per-round fixed cost; recovery replays at most K-1
    # rounds. The final round always checkpoints.
    checkpoint_every: int = 1
    # keep the newest K committed round snapshots; older ones are pruned
    # after each commit so an unbounded crawl's checkpoint dir stays
    # O(K × state size), not O(rounds). 0 = never prune.
    checkpoint_keep_last: int = 2
    # every Nth durable snapshot is FULL (rewrites every state table —
    # also the on-disk compaction of the pages/page_content event log);
    # the ones between are INCREMENTAL — append-only tables (seen, links,
    # link_graph, link_scores, metrics, invalid_rows) write only rows born
    # since the previous snapshot (a filter on their monotone round
    # column), and pages/page_content write only the event log since the
    # previous snapshot (merge-on-read: the state folds base ⊕ events,
    # exactly Iceberg's MERGE-on-read delete/data-file split). After a
    # delta commit the crawl reads each table from its chain's parquet
    # segments, so N also bounds the segments every round scans. At a
    # 10^10 frontier this is THE durability knob: a full snapshot
    # rewrites the whole seen set every K rounds — O(crawl so far)
    # parquet I/O per checkpoint — while a delta writes O(round) rows.
    # 1 = always full (the pre-v3 layout).
    checkpoint_full_every: int = 8
    collect_metrics: bool = True
    # Bloom pre-filter over the seen set (north_rule). None disables; the
    # default 2^22 bits ≈ 512 KiB holds ~400k URLs at <1% fp — size it to
    # ~10 bits/URL for the target frontier (10^10 URLs → ~12 GiB total).
    bloom_bits: int | None = 1 << 22
    # shard count of the partitioned filter (seen.PartitionedBloomSeen;
    # a power of two >= 1). Bitmap bytes never reach the driver. The
    # round's claim + probe + add pass shuffles on the bucket key, so the
    # count bounds that pass's parallelism: size it >= the executor-core
    # count.
    bloom_buckets: int = 64
    # shard-file directory of the partitioned filter. REQUIRED on a
    # multi-node cluster (a DFS/NFS/object-store mount visible to every
    # executor — the same contract as any Spark checkpoint location);
    # None falls back to a driver-local tempdir, correct only in
    # local[*] mode (ADVICE r2 #1).
    bloom_storage_dir: str | None = None
    # explicit skew spread of the popped batch across executors
    # (politeness.salted_repartition) — worthwhile when one registered
    # domain dominates the frontier (the wiki-crawl case); None leaves
    # partitioning to AQE.
    salt_partitions: int | None = None
    # rescheduler (S7/A5): re-enqueue pages past next_crawl_at at round
    # start. Off for parity runs — the reference's recrawl horizon is 8
    # days and the test corpus is static. With recrawl on, the loop runs
    # exactly max_rounds rounds (a crawled page always becomes due again
    # after recrawl_interval_s, so "frontier drained" is never terminal —
    # the reference rescheduler likewise loops forever,
    # rescheduler_service.py:36-71).
    enable_recrawl: bool = False
    # recrawl horizon (reference crawler_prod.yml:26 — 8 days). One round
    # advances the crawl clock by 1 s, so a page crawled in round r is
    # due again in round r + recrawl_interval_s + 1.
    recrawl_interval_s: int = RECRAWL_INTERVAL_SECONDS
    # bounded retry of FAILED fetches (reference download_retry, 2 attempts
    # + grace, crawler_service.py:157-190): a miss is re-enqueued for the
    # next round until it has failed 1 + fetch_retries times. 0 = off
    # (reference parity: its retry lives inside the HTTP call, invisible
    # to a deterministic corpus).
    fetch_retries: int = 0
    # fetch-join strategy (SURVEY §4.2):
    #   "broadcast" — always broadcast the popped url batch (fastest while
    #       the batch fits; the round-1 behavior);
    #   "bucketed"  — never broadcast: shuffle-hash join against a corpus
    #       pre-partitioned on url (spark.sql.shuffle.partitions buckets),
    #       so only the frontier side moves and html is neither broadcast,
    #       shuffled, nor sorted;
    #   "auto"      — broadcast below BROADCAST_ROW_LIMIT / executors
    #       popped rows, bucketed above it. This is the size-gated fallback
    #       a 10^10-URL frontier needs: a BFS layer of tens of millions of
    #       URLs would blow the 8 GB broadcast cap (and driver heap first).
    fetch_strategy: str = "auto"
    # frontier pop order (north_star: "priority queue (depth + link-score
    # ordering)"):
    #   "fifo"     — insertion order (scheduled_round, depth, source, url);
    #       the parity default — reproduces the reference's autoincrement
    #       FIFO visit order exactly (db_reader.py:53-77).
    #   "scored"   — politeness.scored_pop: (depth asc, in-degree desc,
    #       url), in-degree over the FULL discovered link graph
    #       (state.link_graph — every distinct (source, url) pair, not the
    #       claim tree), maintained incrementally as per-round deltas so
    #       the pop never re-aggregates the whole edge table. Same
    #       distributed top-k plan shape (TakeOrderedAndProject); changes
    #       visit ORDER within a layer, never the crawled SET of an
    #       exhaustive crawl. Other scores (e.g. `cli linkrank`'s
    #       PageRank) feed politeness.scored_pop directly.
    # "scored" REQUIRES budget_per_round: an unbounded pop takes every
    # pending row, so priority ordering would silently be a no-op
    # (validated in run_round — ADVICE r4 #3).
    pop_strategy: str = "fifo"

    def __post_init__(self):
        if self.bloom_buckets is None or self.bloom_buckets < 1:
            raise ValueError(
                f"CrawlConfig.bloom_buckets must be >= 1, got {self.bloom_buckets!r}"
                " (bloom_bits=None turns the Bloom filter off)"
            )
        if self.crawl_epoch is None:
            object.__setattr__(
                self,
                "crawl_epoch",
                datetime(2025, 8, 15, 12, 0, 0, tzinfo=ZoneInfo("America/New_York")),
            )


@dataclass
class CrawlState:
    """Crawl state. `pages` / `page_content` are *views*: the base table
    from the last full checkpoint (or empty) combined with the append-only
    event log accumulated since (`page_events` / `content_events`: empty
    in a fresh state and right after a full commit or load, the chain's
    event segments after a delta one). An empty table is
    ``schemas.empty_df``, which the optimizer proves empty: a fold against
    it reduces to its non-empty side, so one code path serves a fresh
    crawl and a resumed one."""

    round: int
    pending: DataFrame
    seen: DataFrame
    links: DataFrame
    metrics: DataFrame
    pages_base: DataFrame
    content_base: DataFrame
    invalid_rows: DataFrame = None  # type: ignore[assignment] — set by init/load
    retries: DataFrame = None  # type: ignore[assignment] — set by init/load
    # full discovered link graph (`link_graph`): distinct (source_page_url,
    # url) over the validity+filter-passed candidates of every round —
    # INCLUDING edges whose target was already seen, so in-degree is a
    # real signal (ADVICE r4 #1; the claim-tree `links` above has
    # in-degree ≤ 1 by construction). `graph_base` holds the materialized
    # part, `scores_base` its (url, in_degree) delta rows, one batch per
    # materialization; `in_degrees` folds them. Compaction/checkpoint
    # collapse the scores to one row per url.
    graph_base: DataFrame = None  # type: ignore[assignment] — set by init/load
    scores_base: DataFrame = None  # type: ignore[assignment] — set by init/load
    page_events: DataFrame = None  # type: ignore[assignment] — set by init/load
    content_events: DataFrame = None  # type: ignore[assignment] — set by init/load
    # the rounds' filter-passed edges not yet in graph_base: a lazy union
    # over the rounds' fetch leaves, first-parse guard not yet applied. A
    # crawl that never reads the graph (in-memory FIFO) never runs a job
    # for it; the first read of link_graph / link_scores / in_degrees
    # materializes the whole log at once (_materialize_edges).
    edge_events: DataFrame | None = None
    bloom: PartitionedBloomSeen | None = None
    # exact |pending| carried from the previous round when the loop can
    # prove it (unbounded, no recrawl/retry): saves the auto fetch-gate's
    # per-round count() job
    pending_rows_hint: int | None = None

    @property
    def pages(self) -> DataFrame:
        return combine_pages(self.pages_base, self.page_events)

    @property
    def page_content(self) -> DataFrame:
        return combine_content(self.content_base, self.content_events)

    @property
    def link_graph(self) -> DataFrame:
        self._materialize_edges()
        return self.graph_base

    @property
    def link_scores(self) -> DataFrame:
        self._materialize_edges()
        return self.scores_base

    @property
    def in_degrees(self) -> DataFrame:
        """(url, in_degree) over the discovered link graph — the scored
        pop's priority key, folded from the per-round delta log (never a
        re-aggregation of the full edge table)."""
        return self.link_scores.groupBy("url").agg(
            F.sum("in_degree").cast("long").alias("in_degree")
        )

    def pending_edges(self) -> DataFrame | None:
        """The edges of `edge_events` that belong in the graph, unmaterialized
        (None when nothing is pending).

        A re-parsed page re-emits its whole edge set (a re-claimed seed
        parses twice even without recrawl; recrawl re-parses everything),
        so only FIRST-parse sources count and the accumulated graph stays
        distinct (matches the reference, whose seen-set drops every
        re-discovered link — schedule_service.py:66-84). An edge is kept
        iff its source has no earlier parse: none in the checkpointed
        `content_base`, none in `content_events` before the edge's round.

        That is an anti join, written as a LEFT join that keeps the
        unmatched rows: the optimizer pushes a semi or anti join into each
        branch of a union, which would re-read every earlier content leaf
        once per pending round. The outer join reads each pending round's
        edges and each content leaf once, so the plan stays O(rounds)
        however many rounds are pending."""
        if self.edge_events is None:
            return None
        # edge_events always holds the newest round (only materializing
        # clears it), and no parse of that round precedes an edge: the
        # filter prunes its content branch, so a single pending round
        # reads no in-memory content leaf at all
        parses = (
            self.content_events.filter(F.col("_round") < self.round - 1)
            .select("source_page_url", "_round")
            # a source parsed before the last full checkpoint precedes any round
            .unionByName(
                self.content_base.select("source_page_url", F.lit(-1).alias("_round"))
            )
        )
        earlier = (F.col("e.source_page_url") == F.col("p.source_page_url")) & (
            F.col("p._round") < F.col("e.discovered_round")
        )
        return (
            self.edge_events.alias("e")
            .join(parses.alias("p"), earlier, "left")
            .filter(F.col("p._round").isNull())
            .select("e.*")
            .dropDuplicates(["source_page_url", "url"])
        )

    def _materialize_edges(self) -> None:
        """Fold every pending round into the graph in one step: one edge
        leaf, plus one score leaf of per-(url, round) in-degree deltas that
        the scored pop sums instead of re-aggregating the edge table.
        Both are local checkpoints, so no later read recomputes the guard.
        They are lazy ones: with AQE on, building one runs the shuffle
        stages of its plan here, and the reader's own action (the pop, or
        a checkpoint's table writes) computes and keeps the rest. An eager
        checkpoint would add one count job per leaf."""
        edges = self.pending_edges()
        if edges is None:
            return
        edges = edges.localCheckpoint(eager=False)
        scores = (
            edges.groupBy("url", "discovered_round")
            .agg(F.count("*").cast("long").alias("in_degree"))
            .select("url", "in_degree", F.col("discovered_round").alias("scored_round"))
            .localCheckpoint(eager=False)
        )
        self.graph_base = self.graph_base.unionByName(edges)
        self.scores_base = self.scores_base.unionByName(scores)
        self.edge_events = None

    def tables(self) -> dict[str, DataFrame]:
        return {
            "pending": self.pending,
            "seen": self.seen,
            "pages": self.pages,
            "page_content": self.page_content,
            "links": self.links,
            "link_graph": self.link_graph,
            # the score log FOLDED to one row per url, stamped with the last
            # completed round: rows folded at round R carry R-1 and every
            # later per-round delta its own rnd ≥ R, so a delta snapshot's
            # `scored_round >= R` filter never re-writes folded history
            "link_scores": self.in_degrees.withColumn(
                "scored_round", F.lit(max(self.round - 1, 0)).cast("int")
            ),
            "metrics": self.metrics,
            "invalid_rows": self.invalid_rows,
            "retries": self.retries,
        }


def init_state(spark: SparkSession, seeds: list[str]) -> CrawlState:
    """S8/S9 — seed the frontier when state is empty
    (dispatcher/services/dispatching_service.py:82-97, depth=0)."""
    pending = spark.createDataFrame(
        [(u, 0, 0, "") for u in seeds],
        schemas.ddl_to_schema(schemas.FRONTIER_DDL),
    )
    return CrawlState(
        round=0,
        pending=pending,
        seen=schemas.empty_df(spark, schemas.SEEN_DDL),
        links=schemas.empty_df(spark, schemas.LINKS_DDL),
        metrics=schemas.empty_df(spark, schemas.METRICS_DDL),
        pages_base=schemas.empty_df(spark, schemas.PAGES_DDL),
        content_base=schemas.empty_df(spark, schemas.PAGE_CONTENT_DDL),
        invalid_rows=schemas.empty_df(spark, schemas.INVALID_DDL),
        retries=schemas.empty_df(spark, schemas.RETRIES_DDL),
        graph_base=schemas.empty_df(spark, schemas.LINK_GRAPH_DDL),
        scores_base=schemas.empty_df(spark, schemas.LINK_SCORES_DDL),
        page_events=schemas.empty_df(spark, schemas.PAGE_EVENTS_DDL),
        content_events=schemas.empty_df(spark, schemas.CONTENT_EVENTS_DDL),
    )


# --------------------------------------------------------------------------
# A1 — page-metadata upsert (db_writer.py:42-102) over the event log.
#
# Exact quirks reproduced: INSERT sets total=1, failed=0 regardless of
# status (the first event never counts as failed); conflict UPDATE
# overwrites status/http/html_hash/timestamps/error (including with NULLs)
# but NOT url_hash / compressed_filepath; failed_attempts += 1 only when
# the update's status ∈ {FAILED, SKIPPED}; depth keeps the minimum.
# --------------------------------------------------------------------------
def _fold_page_events(events: DataFrame) -> DataFrame:
    """Aggregate the per-round event log to one row per url, plus the
    associativity helpers needed to combine with an older base table."""
    failed_cond = F.col("last_crawl_status").isin(*_FAILISH).cast("int")
    return events.groupBy("url").agg(
        F.max_by("last_crawl_status", "_round").alias("last_crawl_status"),
        F.max_by("http_status_code", "_round").alias("http_status_code"),
        F.min_by("url_hash", "_round").alias("url_hash"),
        F.max_by("html_content_hash", "_round").alias("html_content_hash"),
        F.min_by("compressed_filepath", "_round").alias("compressed_filepath"),
        F.max_by("last_crawled_at", "_round").alias("last_crawled_at"),
        F.max_by("next_crawl_at", "_round").alias("next_crawl_at"),
        F.count("*").cast("int").alias("_n_events"),
        F.sum(failed_cond).cast("int").alias("_n_failed_total"),
        F.min_by(failed_cond, "_round").cast("int").alias("_first_failed"),
        F.max_by("last_error_seen", "_round").alias("last_error_seen"),
        F.min("depth").alias("depth"),
        F.min("_round").cast("int").alias("_first_round"),
    )


def _latest_content(events: DataFrame) -> DataFrame:
    """A3 last-write-wins fold of the content event log."""
    return events.groupBy("source_page_url").agg(
        F.max_by("title", "_round").alias("title"),
        F.max_by("categories", "_round").alias("categories"),
        F.max_by("text_content", "_round").alias("text_content"),
        F.max_by("text_content_hash", "_round").alias("text_content_hash"),
        F.max_by("parsed_at", "_round").alias("parsed_at"),
    )


def combine_pages(base: DataFrame, events: DataFrame) -> DataFrame:
    """base pages table ⊕ event log → current pages table (lazy). Against
    an empty base (``schemas.empty_df``) the optimizer drops the join: an
    INSERT-only fold, where the first event never counts as failed."""
    agg = _fold_page_events(events)
    o, n = base.alias("o"), agg.alias("n")
    o_present = F.col("o.last_crawl_status").isNotNull()
    n_present = F.col("n.last_crawl_status").isNotNull()

    def upd(col):  # last event wins (NULLs overwrite — reference parity)
        return F.when(n_present, F.col(f"n.{col}")).otherwise(F.col(f"o.{col}"))

    def ins_only(col):  # set at first sight, never overwritten
        return F.when(o_present, F.col(f"o.{col}")).otherwise(F.col(f"n.{col}"))

    return o.join(n, F.col("o.url") == F.col("n.url"), "full_outer").select(
        F.coalesce(F.col("o.url"), F.col("n.url")).alias("url"),
        upd("last_crawl_status").alias("last_crawl_status"),
        upd("http_status_code").alias("http_status_code"),
        ins_only("url_hash").alias("url_hash"),
        upd("html_content_hash").alias("html_content_hash"),
        ins_only("compressed_filepath").alias("compressed_filepath"),
        upd("last_crawled_at").alias("last_crawled_at"),
        upd("next_crawl_at").alias("next_crawl_at"),
        (
            F.coalesce(F.col("o.total_crawl_attempts"), F.lit(0))
            + F.coalesce(F.col("n._n_events"), F.lit(0))
        ).cast("int").alias("total_crawl_attempts"),
        (
            F.coalesce(F.col("o.failed_crawl_attempts"), F.lit(0))
            # events merging into an existing row are all "updates";
            # otherwise the first event is the INSERT and never counts
            + F.when(
                o_present, F.coalesce(F.col("n._n_failed_total"), F.lit(0))
            ).otherwise(
                F.coalesce(F.col("n._n_failed_total"), F.lit(0))
                - F.coalesce(F.col("n._first_failed"), F.lit(0))
            )
        ).cast("int").alias("failed_crawl_attempts"),
        upd("last_error_seen").alias("last_error_seen"),
        F.least(F.col("o.depth"), F.col("n.depth")).alias("depth"),
        F.coalesce(F.col("o.first_crawled_round"), F.col("n._first_round")).alias(
            "first_crawled_round"
        ),
    )


def combine_content(base: DataFrame, events: DataFrame) -> DataFrame:
    """A3 — db_writer.py:164-217: last-write-wins upsert on
    source_page_url, over the parsed-content event log."""
    latest = _latest_content(events)
    kept = base.join(latest.select("source_page_url"), "source_page_url", "left_anti")
    return kept.unionByName(latest)


def recrawl_due(state: CrawlState, now: datetime) -> DataFrame:
    """S7/A5 — the rescheduler scan (db_reader.py:109-151, rescheduler
    loop rescheduler_service.py:36-71): pages whose next_crawl_at has
    passed, with depth recovered from the link graph (min per url;
    coalesce 0 for seeds). Replicates the reference's *effective*
    predicate — its `is not None` identity check (db_reader.py:138) is
    always true, so only `next_crawl_at < now` filters.

    Returns rows in frontier schema, ready to union into pending when
    `CrawlConfig.enable_recrawl` is set (off for parity runs — the corpus
    is static)."""
    due = state.pages.filter(F.col("next_crawl_at") < F.lit(now)).select("url")
    depths = state.links.groupBy("url").agg(F.min("depth").alias("link_depth"))
    return (
        due.join(depths, "url", "left")
        .select(
            "url",
            F.coalesce(F.col("link_depth"), F.lit(0)).cast("int").alias("depth"),
            F.lit(state.round).cast("int").alias("scheduled_round"),
            F.lit("").alias("source_page_url"),
        )
    )


def bucket_corpus(corpus: DataFrame, buckets: int) -> DataFrame:
    """The bucketed corpus layout (SURVEY §4.2): hash-partitioned on url.

    Persist the result before a multi-round crawl so the html payload is
    laid out once; every later fetch join then reuses the partitioning —
    EnsureRequirements sees hashpartitioning(url, buckets) on the corpus
    scan and inserts an exchange only on the (url,depth) frontier side.
    On a real deployment this is the Iceberg table's bucket(url) layout;
    localCheckpoint-free `repartition` is its in-session equivalent."""
    return corpus.select("url", "html").repartition(buckets, "url")


def _executor_count(spark: SparkSession) -> int:
    """Executor count for the broadcast-cost gate: the configured
    `spark.executor.instances`, or 1 when unset (local mode, where
    broadcast is correct). It is the configured count, not the live one —
    PySpark's public StatusTracker reports jobs and stages only."""
    try:
        configured = int(spark.conf.get("spark.executor.instances", "0") or 0)
    except ValueError:
        configured = 0
    return max(configured, 1)


def _fetch_join(batch: DataFrame, corpus: DataFrame, use_broadcast: bool):
    """S2 fetch: frontier batch ⋈ corpus on url. Both shapes keep html in
    place — the broadcast shape ships only urls to the corpus, the
    bucketed shape shuffle-hash-joins with the batch as build side (a
    sort-merge join here would SORT the html payload: observed 11×
    blowup at 500k pages)."""
    if use_broadcast:
        return F.broadcast(batch).join(corpus.select("url", "html"), "url", "inner")
    return batch.hint("SHUFFLE_HASH").join(corpus.select("url", "html"), "url", "inner")


def run_round(
    spark: SparkSession,
    state: CrawlState,
    corpus: DataFrame,
    cfg: CrawlConfig,
    corpus_bucketed: DataFrame | None = None,
) -> tuple[CrawlState, dict]:
    """Execute one BFS round; returns (new_state, round_counters).

    Only O(round-delta) data is materialized (localCheckpoint): the popped
    batch, the fetch+parse outcome and the claimed links. With the Bloom
    filter on, the claimed leaf is one bucket-keyed pass that claims,
    probes the filter and adds the round's unseen winners to it
    (``PartitionedBloomSeen.claim_unseen``); it is the round's last
    seen-set action. The accumulated tables, the event logs and the
    link-graph edge log grow as lazy unions over those checkpointed leaves.
    """
    rnd = state.round
    round_ts = cfg.crawl_epoch + timedelta(seconds=rnd)
    next_crawl_ts = round_ts + timedelta(seconds=cfg.recrawl_interval_s)
    robots_rules = flt.parse_robots(cfg.robots_txt)
    unbounded = cfg.budget_per_round is None and cfg.per_host_cap is None

    # --- S7 rescheduler (optional) ----------------------------------------
    pending = state.pending
    if cfg.enable_recrawl:
        due = recrawl_due(state, round_ts).join(
            pending.select("url"), "url", "left_anti"
        )
        pending = pending.unionByName(due)

    # --- T1/T3 pop + §2.9 politeness -------------------------------------
    if cfg.pop_strategy not in ("fifo", "scored"):
        raise ValueError(
            f"unknown pop_strategy {cfg.pop_strategy!r} — expected "
            "'fifo' or 'scored'"
        )
    if cfg.pop_strategy == "scored":
        if cfg.budget_per_round is None:
            raise ValueError(
                "pop_strategy='scored' requires budget_per_round: an "
                "unbounded pop takes every pending row, so priority "
                "ordering would be a silent no-op"
            )
        from wikifrontier.politeness import scored_pop

        # incremental in-degree state: the fold below reads the per-round
        # (url, d) delta log, never the edge table itself. Reading it
        # materializes the rounds' pending edges first (one step for all)
        batch = scored_pop(pending, state.in_degrees, cfg.budget_per_round)
    else:
        batch = pop_frontier(pending, cfg.budget_per_round)
    popped = cap_per_host(batch, cfg.per_host_cap)
    if cfg.salt_partitions is not None:
        from wikifrontier.politeness import salted_repartition

        popped = salted_repartition(popped, cfg.salt_partitions)
    if (
        cfg.budget_per_round is not None
        or cfg.per_host_cap is not None
        or cfg.salt_partitions is not None
        or cfg.enable_recrawl
    ):
        # the pop/cap windows (and the recrawl fold over the whole event
        # log) feed both the fetch join and the miss anti-join below —
        # materialize once instead of re-running them per consumer
        popped = popped.localCheckpoint(eager=True)
    batch = popped.select("url", "depth")

    # --- fetch-time robots check → SKIPPED (crawl_status.py:4-7) ----------
    # The scheduler filters robots-denied *links* before they are ever
    # queued, but seeds and recrawls reach the fetcher unfiltered — the
    # reference declines those at fetch time and records SKIPPED. Same
    # here: denied rows bypass the fetch join entirely.
    skipped = None
    if robots_rules:
        _, _, bpath = flt.split_url(F.col("url"))
        denied = flt.robots_denied_expr(bpath, robots_rules)
        skipped = batch.filter(denied).select(
            "url", "depth", F.lit("SKIPPED").alias("_status")
        )
        batch = batch.filter(~denied)

    # --- S2 fetch + X1–X7 parse: ONE pass, html never moves ---------------
    # Strategy gate (ADVICE r1 #1): a plain LEFT JOIN would sort-merge the
    # html payload, and an *unconditional* broadcast of the batch dies at
    # 100 TB scale when a BFS layer outgrows the 8 GB broadcast cap. So:
    # broadcast the url-only batch while it is provably small, otherwise
    # shuffle-hash join against the bucketed corpus layout — either way
    # the corpus html is never broadcast, shuffled, or sorted.
    if cfg.fetch_strategy == "broadcast":
        use_broadcast = True
    elif cfg.fetch_strategy == "bucketed":
        use_broadcast = False
    else:
        # auto: broadcast cost is rows × executors (every executor JVM
        # deserializes its own copy of the batch), so the row limit is
        # scaled down by the executor count — measured on local-cluster
        # 4×8 the broadcast fetch is 26% slower than the bucketed join at
        # 1M popped rows, while single-JVM local[*] prefers broadcast to
        # 4M+ (BASELINE.md round-3 attribution). local[*] → divisor 1.
        limit = BROADCAST_ROW_LIMIT // _executor_count(spark)
        if cfg.budget_per_round is not None and cfg.budget_per_round <= limit:
            # auto, budgeted: the pop caps the batch below the limit a priori
            use_broadcast = True
        elif state.pending_rows_hint is not None:
            # auto, unbounded: last round's claim count IS |pending| (the
            # claimed leaf's Observation — no count() job)
            use_broadcast = state.pending_rows_hint <= limit
        else:  # auto: count the popped batch (cheap — popped/pending are
            # materialized leaves) and gate on the configured row limit
            use_broadcast = popped.count() <= limit
    if use_broadcast:
        fetch_corpus = corpus
    elif corpus_bucketed is not None:
        fetch_corpus = corpus_bucketed
    else:
        # caller didn't pre-bucket: correct but re-shuffles html this
        # round — run_crawl always passes a persisted bucketed layout
        fetch_corpus = bucket_corpus(
            corpus, int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
    hits = (
        _fetch_join(batch, fetch_corpus, use_broadcast)
        .select(
            "url",
            "depth",
            F.lit("SUCCESS").alias("_status"),
            F.sha2(F.col("html"), 256).alias("_html_hash"),
            parse_page_udf(F.col("url"), F.col("html"), F.col("depth")).alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    miss_probe = (
        F.broadcast(hits.select("url")) if use_broadcast else hits.select("url")
    )
    missed = batch.join(miss_probe, "url", "left_anti").select(
        "url", "depth", F.lit("FAILED").alias("_status")
    )
    if skipped is not None:
        missed = missed.unionByName(skipped)
    p_type = hits.schema["p"].dataType
    round_result = hits.unionByName(
        missed.select(
            "url",
            "depth",
            "_status",
            F.lit(None).cast("string").alias("_html_hash"),
            F.lit(None).cast(p_type).alias("p"),
        )
    )

    # --- A1 page events (delta only; fold happens lazily in .pages) -------
    ok = F.col("_status") == "SUCCESS"
    page_events_delta = round_result.select(
        "url",
        F.col("_status").alias("last_crawl_status"),
        F.when(ok, F.lit(200)).cast("int").alias("http_status_code"),
        F.sha2(F.col("url"), 256).alias("url_hash"),
        F.col("_html_hash").alias("html_content_hash"),
        F.when(
            ok,
            F.concat(F.lit("/data/html/"), F.sha2(F.col("url"), 256), F.lit(".html.gz")),
        ).alias("compressed_filepath"),
        F.lit(round_ts).alias("last_crawled_at"),
        F.when(ok, F.lit(next_crawl_ts)).alias("next_crawl_at"),
        F.when(
            F.col("_status") == "FAILED",
            F.concat(classify_fetch_error(F.col("url")), F.lit(": request failed")),
        )
        .when(F.col("_status") == "SKIPPED", F.lit(SKIPPED_ERROR_MESSAGE))
        .alias("last_error_seen"),
        F.col("depth"),
        F.lit(rnd).cast("int").alias("_round"),
    )

    parsed = round_result.filter(ok)
    content_events_delta = parsed.select(
        F.col("url").alias("source_page_url"),
        F.col("p.title").alias("title"),
        F.col("p.categories").alias("categories"),
        F.col("p.text_content").alias("text_content"),
        F.col("p.text_content_hash").alias("text_content_hash"),
        F.lit(round_ts).alias("parsed_at"),
        F.lit(rnd).cast("int").alias("_round"),
    )

    # --- §3.3 schedule: explode → S1/P7 gate → F1-F5 → D2 claim → D1 ------
    candidates = parsed.select(F.explode("p.links").alias("l")).select("l.*")

    # S1/P7 — message validity gate ahead of dedup/filtering (the
    # reference rejects malformed messages at queue consume, before any
    # scheduler logic). Rejects accumulate in the invalid_rows DLQ table
    # as a *lazy* delta over the checkpointed fetch leaf — zero cost per
    # round until the DLQ is read or durably checkpointed.
    vreason = flt.validity_reason(F.col("url"), F.col("depth"))
    invalid_delta = candidates.filter(vreason.isNotNull()).select(
        "url",
        "depth",
        "source_page_url",
        vreason.alias("reject_reason"),
        F.lit(rnd).cast("int").alias("rejected_round"),
    )
    new_invalid = state.invalid_rows.unionByName(invalid_delta)
    candidates = candidates.filter(vreason.isNull())
    reason_col = flt.filter_reason(
        F.col("url"),
        F.col("depth"),
        max_depth=cfg.max_depth,
        allowed_domains=cfg.allowed_domains,
        excluded_prefixes=cfg.excluded_prefixes,
        robots_rules=robots_rules,
    )

    # F → D2 → D1: filter, claim, then the seen check. The state equals the
    # reference's D1 → F → D2 order (seen-dedup removes whole urls; the
    # claim picks within-url winners — the two commute), but the seen check
    # reads only ~|winners| rows instead of every candidate. The A6
    # counters below still attribute in the reference order.
    passed = candidates.filter(reason_col.isNull())
    if state.bloom is None:
        claimed = drop_seen(claim_first_wins(passed), state.seen).localCheckpoint(
            eager=True
        )
        n_claimed_hint = None
    else:
        # one pass shuffled on the Bloom bucket key claims, probes the
        # pre-round filter and writes the unseen winners' bits (one Python
        # stage for all three); only maybe-seen winners meet the exact
        # anti-join. The claim count comes with the leaf, at no job
        claimed, n_claimed_hint = state.bloom.claim_unseen(spark, passed, state.seen)

    # --- full link-graph delta (ADVICE r4 #1) ------------------------------
    # Every (source, url) pair among the validity+filter-passed candidates
    # — PRE-seen and PRE-claim, so edges into already-crawled pages are
    # kept and in-degree is a real priority signal (the claim-tree `links`
    # table keeps reference parity; this is the edge relation its
    # composite PK was built for, models.py:108-155). The delta only joins
    # the state's lazy edge log: the first-parse guard, the dedup and the
    # in-degree fold run when a reader (the scored pop, the checkpoint,
    # linkrank) first asks for the graph — never inside a FIFO round.
    edge_delta = candidates.filter(reason_col.isNull()).select(
        "source_page_url",
        "url",
        "depth",
        F.lit(rnd).cast("int").alias("discovered_round"),
    )
    new_edge_events = (
        edge_delta
        if state.edge_events is None
        else state.edge_events.unionByName(edge_delta)
    )

    new_seen = state.seen.unionByName(
        claimed.select("url", "depth", F.lit(rnd).alias("claimed_round"), "source_page_url")
    )
    new_links = state.links.unionByName(
        claimed.select(
            "source_page_url",
            "url",
            "depth",
            "is_internal",
            "anchor_text",
            "title_attribute",
            "rel_attribute",
            "id_attribute",
            "link_type",
            F.lit(rnd).alias("discovered_round"),
            F.lit(round_ts).alias("discovered_at"),
        )
    )
    schedule_delta = claimed.select(
        "url", "depth", F.lit(rnd + 1).alias("scheduled_round"), "source_page_url"
    )

    # --- bounded fetch retry (download_retry analogue) --------------------
    new_retries = state.retries
    retry_delta = None
    if cfg.fetch_retries > 0:
        failed_now = (
            round_result.filter(F.col("_status") == "FAILED")
            .select("url", "depth")
            .join(state.retries.select("url", "attempts"), "url", "left")
            .select(
                "url",
                "depth",
                (F.coalesce(F.col("attempts"), F.lit(0)) + 1)
                .cast("int")
                .alias("attempts"),
            )
            .localCheckpoint(eager=True)  # misses only — tiny
        )
        retry_delta = failed_now.filter(
            F.col("attempts") <= cfg.fetch_retries
        ).select(
            "url",
            "depth",
            F.lit(rnd + 1).cast("int").alias("scheduled_round"),
            F.lit("").alias("source_page_url"),
        )
        new_retries = state.retries.join(
            failed_now.select("url"), "url", "left_anti"
        ).unionByName(failed_now)

    if unbounded:
        # everything pending was popped — the next frontier is exactly the
        # newly claimed layer; no anti-join over the old pending needed
        new_pending = schedule_delta
    else:
        new_pending = pending.join(
            popped.select("url"), "url", "left_anti"
        ).unionByName(schedule_delta)
    if retry_delta is not None:
        new_pending = new_pending.unionByName(retry_delta)
    if not unbounded:
        new_pending = new_pending.localCheckpoint(eager=True)

    # --- A6 metrics -------------------------------------------------------
    counters: dict = {"round": rnd}
    if cfg.collect_metrics:
        # ONE read-only driver action for all round counters: tag each
        # frame with (src, k) and count in a single grouped aggregate. The
        # reference order (D1 → F → D2, schedule_service.py:66-112) drops
        # seen urls before filtering, so each candidate is tagged seen or
        # unseen and a filter counts only the unseen rows it rejects. The
        # tag is an exact existence join against the pre-round seen table,
        # never the Bloom filter the round's pass has grown. It reads the
        # candidates once; a second, semi-joined copy of them doubled the
        # tally's time.
        tag = lambda df, src, k: df.select(  # noqa: E731
            src.alias("src"), k.alias("k")
        )
        in_seen = (
            state.seen.alias("seen")
            .where(F.col("seen.url") == F.col("cand.url").outer())
            .exists()
        )
        tallies = (
            tag(round_result, F.lit("fetch"), F.col("_status"))
            .unionByName(
                tag(
                    candidates.alias("cand"),
                    F.when(in_seen, "seen").otherwise("unseen"),
                    reason_col,
                )
            )
            .unionByName(tag(claimed, F.lit("claim"), F.lit(None).cast("string")))
            .groupBy("src", "k")
            .count()
            .collect()
        )
        by_src: dict = {}
        for r in tallies:
            by_src.setdefault(r["src"], {})[r["k"]] = r["count"]
        fetch_counts = by_src.get("fetch", {})
        n_popped = sum(fetch_counts.values())
        n_ok = fetch_counts.get("SUCCESS", 0)
        n_seen = sum(by_src.get("seen", {}).values())
        unseen_by_reason = by_src.get("unseen", {})
        counters.update(
            urls_popped=n_popped,
            fetch_success=n_ok,
            fetch_failed=n_popped - n_ok,
            pages_parsed=n_ok,
            links_extracted=n_seen + sum(unseen_by_reason.values()),
            links_dedup_dropped=n_seen,
            filtered_depth=unseen_by_reason.get("depth", 0),
            filtered_domain=unseen_by_reason.get("domain", 0),
            filtered_prefix=unseen_by_reason.get("prefix", 0),
            filtered_home_page=unseen_by_reason.get("home_page", 0),
            filtered_robots=unseen_by_reason.get("robots_txt", 0),
            links_claimed=sum(by_src.get("claim", {}).values()),
        )
        # a one-partition row of literals: createDataFrame would spread it
        # over defaultParallelism partitions, and every later read and
        # commit of `metrics` would run a task for each empty one
        metrics_row = spark.range(1, numPartitions=1).select(*[
            F.lit(counters.get(f.name)).cast(f.dataType).alias(f.name)
            for f in schemas.ddl_to_schema(schemas.METRICS_DDL)
        ])
        new_metrics = state.metrics.unionByName(metrics_row)
    else:
        new_metrics = state.metrics

    new_state = CrawlState(
        round=rnd + 1,
        pending=new_pending,
        seen=new_seen,
        links=new_links,
        metrics=new_metrics,
        pages_base=state.pages_base,
        content_base=state.content_base,
        invalid_rows=new_invalid,
        retries=new_retries,
        graph_base=state.graph_base,
        scores_base=state.scores_base,
        page_events=state.page_events.unionByName(page_events_delta),
        content_events=state.content_events.unionByName(content_events_delta),
        edge_events=new_edge_events,
        bloom=state.bloom,
        # hint is only sound when next round's pending is exactly this
        # round's claims (nothing unpopped, no recrawl/retry re-enqueues)
        pending_rows_hint=(
            n_claimed_hint
            if (unbounded and retry_delta is None and not cfg.enable_recrawl)
            else None
        ),
    )

    # --- durable checkpoint (optional; part of the round) ------------------
    if (
        cfg.checkpoint_dir is not None
        and (rnd + 1) % max(cfg.checkpoint_every, 1) == 0
    ):
        new_state = _commit(spark, new_state, cfg)
    return new_state, counters


def _commit(spark: SparkSession, state: CrawlState, cfg: CrawlConfig) -> CrawlState:
    """Commit ``state``; return the state a resume would load from it."""
    return state_io.write_checkpoint(
        spark, state, cfg.checkpoint_dir,
        keep_last=cfg.checkpoint_keep_last, full_every=cfg.checkpoint_full_every,
    )


def _bloom_nbits_per_bucket(cfg: CrawlConfig) -> int:
    return max(cfg.bloom_bits // cfg.bloom_buckets, 1 << 12)


def _new_bloom(cfg: CrawlConfig) -> PartitionedBloomSeen:
    return PartitionedBloomSeen(
        storage_dir=cfg.bloom_storage_dir,
        buckets=cfg.bloom_buckets,
        nbits_per_bucket=_bloom_nbits_per_bucket(cfg),
    )


def _bloom_mismatch(bloom: PartitionedBloomSeen, cfg: CrawlConfig) -> bool:
    """True when a checkpoint-loaded filter disagrees with the configured
    sizing (it would silently cap the false-positive budget)."""
    return (
        bloom.buckets != cfg.bloom_buckets
        or bloom.nbits != _bloom_nbits_per_bucket(cfg)
    )


def run_crawl(
    spark: SparkSession,
    corpus: DataFrame,
    seeds: list[str],
    cfg: CrawlConfig,
    resume: bool = False,
) -> CrawlState:
    """Run rounds until the frontier drains or max_rounds is hit.

    With ``resume=True`` and a checkpoint_dir, restarts from the latest
    complete round manifest with no URL re-fetches (north_rule).
    """
    state = None
    if resume and cfg.checkpoint_dir is not None:
        state = state_io.load_checkpoint(
            spark, cfg.checkpoint_dir, bloom_storage_dir=cfg.bloom_storage_dir
        )
    if state is None:
        state = init_state(spark, seeds)

    if cfg.bloom_bits is None:
        # explicit opt-out wins even over a checkpoint's persisted bitmap
        # (the escape hatch must work precisely when the bloom path is the
        # thing being worked around)
        state.bloom = None
    else:
        if state.bloom is not None and _bloom_mismatch(state.bloom, cfg):
            # ADVICE r1: a resumed bitmap sized differently from the
            # config (e.g. the frontier outgrew the old filter) must not
            # silently override the requested sizing — rebuild from seen
            state.bloom = None
        if state.bloom is None:
            state.bloom = _new_bloom(cfg)
            if not state.seen.isEmpty():
                # resume path without a usable bitmap: rebuild from seen
                state.bloom.add_df(spark, state.seen.select("url"))

    # prepare the bucketed corpus layout once if any round may need it;
    # persist is lazy, so a crawl whose batches all stay under the
    # broadcast limit never materializes (or pays for) this copy
    corpus_bucketed = None
    if cfg.fetch_strategy != "broadcast":
        corpus_bucketed = bucket_corpus(
            corpus, int(spark.conf.get("spark.sql.shuffle.partitions"))
        ).persist()

    try:
        while state.round < cfg.max_rounds:
            # the carried claim count doubles as the drain check — only
            # rounds without a hint pay the isEmpty probe job. With
            # recrawl on there is no drain: crawled pages keep becoming
            # due, so the loop runs to max_rounds (perpetual-crawl model)
            if not cfg.enable_recrawl:
                if state.pending_rows_hint == 0:
                    break
                if state.pending_rows_hint is None and state.pending.isEmpty():
                    break
            state, _ = run_round(spark, state, corpus, cfg, corpus_bucketed)

        # the final round always checkpoints, whatever checkpoint_every —
        # a resumed job must never replay completed work past the end
        if (
            cfg.checkpoint_dir is not None
            and state_io.latest_round(cfg.checkpoint_dir) != state.round
        ):
            state = _commit(spark, state, cfg)
    finally:
        if corpus_bucketed is not None:
            # every returned table, the pending edge log included, reads
            # only localCheckpoint'd round leaves — nothing in the returned
            # state depends on the corpus lineage
            corpus_bucketed.unpersist(blocking=False)
        # ADVICE r3 #5: every bloom in this function was materialized
        # here (fresh via _new_bloom or re-opened by load_checkpoint);
        # when it fell back to a driver-local tempdir (no
        # bloom_storage_dir configured), remove it — the checkpoint copy
        # of the shards (written above) is the durable one, and no
        # returned table (nor the edge log its first link-graph read
        # materializes) re-reads the working shards. A caller-provided
        # storage dir stays, and the returned state keeps its filter.
        if state.bloom is not None and state.bloom._owns_dir:
            state.bloom.cleanup()
            state.bloom = None
    return state


# --- corpus freshness profile ------------------------------------------------
STALE_AFTER_SEC = 250  # capture age beyond which a page counts as stale


def freshness_profile(
    pages: DataFrame,
    ts_col: str = "warc_ts",
    stratum: str = "lang",
    stale_after_sec: int = STALE_AFTER_SEC,
) -> DataFrame:
    """Capture-freshness rollup over the web_pages corpus — the recency
    report a crawl operator reads next to the recrawl queue (S7/q09
    decides WHICH urls to refetch; this reports HOW stale each slice of
    the stored corpus is, per stratum): doc count, capture-time span,
    mean age relative to the newest capture in the corpus, and the
    stale fraction (age > ``stale_after_sec``). The reference stores
    the equivalent `last_crawled_at` per page but never aggregates it.

    Exactness: timestamps reduce to wall-clock integer MICROS scan-side
    (the NTZ diff trick from ``streaming.sessionize_events`` — no
    session-TZ/DST dependence); ages are integer micros, so sums are
    exact and the mean is one rounded division — bit-replayable.

    Scale shape: the corpus-max capture time is a 1-row broadcast; the
    rollup is ONE counters-only groupBy on the stratum with map-side
    partial agg. Timestamps never shuffle as values, only as counters.
    """
    us = F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col(ts_col).cast("timestamp_ntz"),
    )
    base = pages.select(F.col(stratum).alias("stratum"), us.alias("us"))
    newest = base.agg(F.max("us").alias("ref_us"))
    aged = base.crossJoin(F.broadcast(newest)).select(
        "stratum", "us", (F.col("ref_us") - F.col("us")).alias("age_us")
    )
    return aged.groupBy("stratum").agg(
        F.count("*").alias("n_docs"),
        F.round(
            (F.max("us") - F.min("us")) / F.lit(1000000.0), 6
        ).alias("span_sec"),
        F.round(
            F.sum("age_us").cast("double")
            / (F.lit(1000000.0) * F.count("*")),
            6,
        ).alias("mean_age_sec"),
        F.sum(
            (F.col("age_us") > F.lit(int(stale_after_sec) * 1_000_000))
            .cast("int")
        ).cast("long").alias("n_stale"),
        F.round(
            F.sum(
                (F.col("age_us") > F.lit(int(stale_after_sec) * 1_000_000))
                .cast("int")
            ).cast("double")
            / F.count("*"),
            6,
        ).alias("stale_frac"),
    )


def frontier_age_profile(
    pending: DataFrame,
    now_round: int,
    starve_after: int = 3,
    depth_col: str = "depth",
    round_col: str = "scheduled_round",
) -> DataFrame:
    """Queue-aging report over the pending frontier: per depth, how many
    urls wait, how long the oldest has waited (in rounds), the exact mean
    wait, and how many are STARVING (waited >= starve_after rounds).
    freshness_profile reports staleness of the STORED corpus; this is the
    twin for the un-crawled side — under a politeness-capped pop, deep or
    unlucky hosts can sit in `pending` for many rounds, and a scheduler
    that never looks loses them silently (the reference has no such
    view; its queue depth is a single RabbitMQ gauge).

    Exactness: ages are integer round counts and the mean is one rounded
    division over exact integer sums — bit-replayable.

    Scale shape: ONE counters-only fold on the (tiny) depth key; url
    strings never shuffle. O(max_depth) output rows.
    """
    age = F.lit(int(now_round)) - F.col(round_col)
    return (
        pending.select(F.col(depth_col).alias("depth"), age.alias("age"))
        .groupBy("depth")
        .agg(
            F.count("*").alias("n_pending"),
            F.max("age").cast("int").alias("oldest_age"),
            F.round(
                F.sum("age").cast("double") / F.count("*"), 6
            ).alias("mean_age"),
            F.sum(
                F.when(F.col("age") >= starve_after, 1).otherwise(0)
            ).alias("n_starving"),
        )
    )


def crawl_velocity(
    metrics: DataFrame,
    x_col: str = "round",
    y_col: str = "pages_parsed",
) -> DataFrame:
    """Closed-form least-squares fit of per-round throughput → ONE row
    ``(n_rounds, slope, intercept, next_round_forecast)`` — the crawl
    operator's "are we speeding up or saturating, and what does the next
    round cost" answer, read next to the q80 drain plan. The reference
    graphs this by eye in Grafana (monitoring/dashboards); here it is a
    query with an exact algebraic answer.

    Exactness: Σx, Σy, Σxy, Σx² fold as exact integer sums (rounds and
    page counts are longs); the two divisions happen once, on the folded
    scalars, rounded to 6 places — bit-replayable at any parallelism.
    Degenerate single-round input (zero variance in x) yields NULL
    slope/forecast rather than a division error.

    Scale shape: ONE single-row aggregate over the metrics relation
    (O(rounds) input — tiny by construction); everything else is scalar
    arithmetic on that row.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    sums = metrics.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.max(x).alias("xmax"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        denom != 0,
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / denom.cast("double"),
            6,
        ),
    )
    intercept = F.when(
        denom != 0,
        F.round(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast(
                "double"
            )
            / denom.cast("double"),
            6,
        ),
    )
    return sums.select(
        F.col("n").alias("n_rounds"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        F.round(slope * (F.col("xmax") + 1) + intercept, 6).alias(
            "next_round_forecast"
        ),
    )
