"""spark-submit entrypoint (north_rule: "runs via spark-submit --py-files
on multi-executor clusters").

    spark-submit --py-files wikifrontier.zip wikifrontier/cli.py crawl \\
        --pages 100000 --rounds 12 --budget 75000 --checkpoint /ckpt

(spark-submit takes a primary .py file; `python -m wikifrontier.cli` works
for local runs.)

Subcommands:
  crawl     run a BFS crawl over the deterministic synthetic corpus (or a
            parquet web_pages table via --corpus), with optional resume
  report    print state-table summaries from a checkpoint dir
  linkrank  PageRank (or --algo hits) over a checkpoint's link graph
            (priority-queue feed)
  plan      per-host budget/capacity plan over a checkpoint's pending
            frontier (rounds-to-drain, critical host)
  diff      classify urls across two checkpoints' crawled page sets as
            added/removed/changed/unchanged by content hash
  health    per-host circuit-breaker verdicts + pending-frontier aging
            over a checkpoint (the between-rounds governance read)
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="wikifrontier")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run a BFS crawl")
    c.add_argument("--pages", type=int, default=10_000,
                   help="synthetic corpus size (ignored with --corpus)")
    c.add_argument("--corpus", type=str, default=None,
                   help="parquet path of a web_pages table")
    c.add_argument("--seed", action="append", default=None,
                   help="seed url (repeatable; default Page_0000000)")
    c.add_argument("--rounds", type=int, default=12)
    c.add_argument("--budget", type=int, default=None)
    c.add_argument("--per-host-cap", type=int, default=None)
    c.add_argument("--max-depth", type=int, default=4)
    c.add_argument("--checkpoint", type=str, default=None)
    c.add_argument("--checkpoint-every", type=int, default=1,
                   help="durable snapshot every K rounds (final always)")
    c.add_argument("--checkpoint-keep-last", type=int, default=2,
                   help="retain newest K round snapshots (0 = keep all)")
    c.add_argument("--resume", action="store_true")
    c.add_argument("--salt-partitions", type=int, default=None)
    c.add_argument("--no-bloom", action="store_true")
    c.add_argument("--bloom-storage-dir", type=str, default=None,
                   help="shard dir of the partitioned seen-filter; must be "
                        "shared storage on multi-node clusters (tempdir "
                        "fallback is local-mode-only)")
    c.add_argument("--fetch-retries", type=int, default=0,
                   help="bounded re-fetch of FAILED urls (download_retry)")
    c.add_argument("--fetch-strategy", choices=("auto", "broadcast", "bucketed"),
                   default="auto")
    c.add_argument("--master", type=str, default=None)

    lr = sub.add_parser(
        "linkrank",
        help="PageRank link scores over a checkpoint's link graph "
             "(the periodic full-graph feed for priority scheduling)",
    )
    lr.add_argument("--checkpoint", type=str, required=True)
    lr.add_argument("--algo",
                    choices=("pagerank", "hits", "opic", "trustrank"),
                    default="pagerank",
                    help="pagerank: one score per page; hits: hub (whose "
                         "out-links to expand) + authority (what to fetch "
                         "soonest) per page; opic: crawl-native cash-"
                         "diffusion importance; trustrank: personalized "
                         "PageRank seeded by the crawl's depth-0 seed "
                         "pages (spam islands score 0)")
    lr.add_argument("--iterations", type=int, default=3)
    lr.add_argument("--damping", type=float, default=0.85,
                    help="pagerank only")
    lr.add_argument("--top", type=int, default=20,
                    help="print the top-K pages by score")
    lr.add_argument("--out", type=str, default=None,
                    help="also write the full (url, pr) table as parquet")
    lr.add_argument("--master", type=str, default=None)

    pl = sub.add_parser(
        "plan",
        help="per-host crawl-budget plan over a checkpoint's pending "
             "frontier (rounds-to-drain, next-round allocation, "
             "critical host)",
    )
    pl.add_argument("--checkpoint", type=str, required=True)
    pl.add_argument("--per-host-cap", type=int, default=None,
                    help="politeness cap per host per round "
                         "(default: politeness.DEFAULT_PLAN_CAP)")
    pl.add_argument("--top", type=int, default=20,
                    help="print the N most-loaded hosts")
    pl.add_argument("--master", type=str, default=None)

    d = sub.add_parser(
        "diff",
        help="classify every url across two checkpoints' crawled page "
             "sets as added/removed/changed/unchanged by content hash "
             "(the incremental-crawl planning view)",
    )
    d.add_argument("--old", type=str, required=True,
                   help="checkpoint dir of the earlier crawl")
    d.add_argument("--new", type=str, required=True,
                   help="checkpoint dir of the later crawl")
    d.add_argument("--sample", type=int, default=0,
                   help="also print up to N changed/added urls")
    d.add_argument("--master", type=str, default=None)

    h = sub.add_parser(
        "health",
        help="crawl-health view over a checkpoint: per-host fetch "
             "circuit-breaker verdicts (from crawled page statuses) and "
             "the pending frontier's per-depth aging/starvation profile",
    )
    h.add_argument("--checkpoint", type=str, required=True)
    h.add_argument("--starve-after", type=int, default=3,
                   help="rounds waited before a pending url counts as "
                        "starving")
    h.add_argument("--master", type=str, default=None)

    g = sub.add_parser(
        "graph",
        help="host-graph view over a checkpoint's discovered link "
             "edges: one webgraph-stats summary line plus the top "
             "hosts by weighted PageRank (authority over page-edge "
             "counts)",
    )
    g.add_argument("--checkpoint", type=str, required=True)
    g.add_argument("--top", type=int, default=10)
    g.add_argument("--master", type=str, default=None)

    sk = sub.add_parser(
        "sketches",
        help="bounded-memory telemetry over a checkpoint: HLL "
             "distinct-host estimate for crawled pages and pending "
             "frontier (vs exact), plus count-min heavy-hitter hosts "
             "of the pending queue",
    )
    sk.add_argument("--checkpoint", type=str, required=True)
    sk.add_argument("--top", type=int, default=10)
    sk.add_argument("--master", type=str, default=None)

    qa = sub.add_parser(
        "qa",
        help="corpus-quality audit over a checkpoint's parsed text: "
             "Gopher rule-suite rollup (per-rule fail counts, keep "
             "rate) and C4 line-cleaning rollup (drop reasons incl. "
             "corpus-wide duplicate lines)",
    )
    qa.add_argument("--checkpoint", type=str, required=True)
    qa.add_argument("--master", type=str, default=None)

    r = sub.add_parser("report", help="summarize a checkpoint")
    r.add_argument("--checkpoint", type=str, required=True)
    r.add_argument("--master", type=str, default=None)
    r.add_argument("--prometheus", action="store_true",
                   help="emit Prometheus exposition text (reference-"
                        "parity counter names) instead of JSON")
    r.add_argument("--textfile", type=str, default=None,
                   help="with --prometheus: also write the exposition "
                        "text to this path (node-exporter textfile "
                        "collector pattern)")
    return p


def cmd_crawl(args) -> int:
    from pyspark.sql import functions as F

    from wikifrontier import synth
    from wikifrontier.frontier import CrawlConfig, run_crawl
    from wikifrontier.session import get_spark

    spark = get_spark(master=args.master)
    if args.corpus:
        corpus = spark.read.parquet(args.corpus)
        if args.seed:
            seeds = args.seed
        else:
            # deterministic default seed: the lexicographically first url
            first = corpus.select(F.min("url").alias("url")).first()
            if first is None or first["url"] is None:
                print(json.dumps({"error": f"corpus at {args.corpus} is empty"}))
                return 1
            seeds = [first["url"]]
    else:
        corpus = synth.corpus_df(spark, args.pages).cache()
        corpus.count()
        seeds = args.seed or [synth.page_url(0)]

    cfg = CrawlConfig(
        max_depth=args.max_depth,
        budget_per_round=args.budget,
        per_host_cap=args.per_host_cap,
        max_rounds=args.rounds,
        robots_txt=synth.ROBOTS_TXT if not args.corpus else "",
        checkpoint_dir=args.checkpoint,
        checkpoint_every=args.checkpoint_every,
        checkpoint_keep_last=args.checkpoint_keep_last,
        salt_partitions=args.salt_partitions,
        bloom_bits=None if args.no_bloom else 1 << 22,
        bloom_storage_dir=args.bloom_storage_dir,
        fetch_retries=args.fetch_retries,
        fetch_strategy=args.fetch_strategy,
    )
    state = run_crawl(spark, corpus, seeds, cfg, resume=args.resume)
    summary = {
        "rounds": state.round,
        "pages": state.pages.count(),
        "parsed": state.page_content.count(),
        "links": state.links.count(),
        "link_graph": state.link_graph.count(),
        "pending": state.pending.count(),
        "seen": state.seen.count(),
        "invalid_rows": state.invalid_rows.count(),
        "retried": state.retries.count(),
    }
    print(json.dumps(summary))
    return 0


def cmd_linkrank(args) -> int:
    """Score the crawled link graph with linkgraph.pagerank; a production
    crawl feeds the result back into politeness.scored_pop as the priority
    key (the crawl loop's own scored pop uses in-degree).

    Uses the checkpoint's `link_graph` table — the FULL discovered edge
    set (every distinct source→url pair, ADVICE r4 #1). The claim-tree
    `links` relation is a spanning tree (in-degree ≤ 1 by construction),
    so it is only a fallback for pre-round-5 checkpoints, with a warning
    in the output."""
    from pyspark.sql import functions as F

    from wikifrontier import state as state_io
    from wikifrontier.linkgraph import pagerank
    from wikifrontier.session import get_spark

    spark = get_spark(master=args.master)
    st = state_io.load_checkpoint(spark, args.checkpoint)
    if st is None:
        print(json.dumps({"error": "no complete checkpoint found"}))
        return 1
    note = None
    edge_src = st.link_graph
    if edge_src.isEmpty():
        if st.links.isEmpty():
            print(json.dumps({
                "error": "checkpoint has no link edges (crawl made no "
                         "successful fetches?) — nothing to rank"
            }))
            return 1
        note = ("link_graph table empty (pre-round-5 checkpoint); falling "
                "back to the claim-tree links relation — in-degrees there "
                "are <=1, scores will be near-uniform")
        edge_src = st.links
    edges = edge_src.select(
        F.col("source_page_url").alias("src"), F.col("url").alias("dst")
    )
    if args.algo == "hits":
        from wikifrontier.linkgraph import hits

        hs = hits(edges, iterations=args.iterations)
        if args.out:
            hs.select(F.col("id").alias("url"), "hub", "auth").write.mode(
                "overwrite"
            ).parquet(args.out)
        top = hs.orderBy(F.col("auth").desc(), F.col("id")).limit(args.top).collect()
        out = {
            "nodes": hs.count(),
            "top": [
                {
                    "url": r["id"],
                    "auth": round(r["auth"], 8),
                    "hub": round(r["hub"], 8),
                }
                for r in top
            ],
        }
        if note:
            out["warning"] = note
        print(json.dumps(out))
        return 0
    if args.algo == "opic":
        from wikifrontier.linkgraph import opic

        sc = opic(edges, iterations=args.iterations)
        score_col = "importance"
    elif args.algo == "trustrank":
        from wikifrontier.linkgraph import trustrank

        # the crawl's own depth-0 seed pages ARE the trusted set: trust
        # flows outward along discovered links; anything the seeds can't
        # reach (link-farm islands that only point inward) scores 0
        seeds = st.pages.where(F.col("depth") == 0).select(
            F.col("url").alias("id")
        )
        sc = trustrank(edges, seeds, iterations=args.iterations,
                       damping=args.damping)
        score_col = "tr"
    else:
        sc = pagerank(edges, iterations=args.iterations, damping=args.damping)
        score_col = "pr"
    if args.out:
        sc.select(F.col("id").alias("url"), F.col(score_col)).write.mode(
            "overwrite"
        ).parquet(args.out)
    top = (
        sc.orderBy(F.col(score_col).desc(), F.col("id")).limit(args.top).collect()
    )
    out = {
        "algo": args.algo,
        "nodes": sc.count(),
        "top": [
            {"url": r["id"], score_col: round(r[score_col], 8)} for r in top
        ],
    }
    if note:
        out["warning"] = note
    print(json.dumps(out))
    return 0


def cmd_report(args) -> int:
    from wikifrontier import state as state_io
    from wikifrontier.session import get_spark

    spark = get_spark(master=args.master)
    st = state_io.load_checkpoint(spark, args.checkpoint)
    if st is None:
        print(json.dumps({"error": "no complete checkpoint found"}))
        return 1
    if args.prometheus:
        from wikifrontier import metrics_export

        text = metrics_export.prometheus_text(st.metrics)
        if args.textfile:
            metrics_export.write_textfile(st.metrics, args.textfile)
        print(text, end="")
        return 0
    print(json.dumps({
        "round": st.round,
        **{name: df.count() for name, df in st.tables().items()},
    }))
    return 0


def cmd_plan(args) -> int:
    """Budget/capacity plan over the pending frontier: the q80 operator
    (politeness.budget_plan) against a real checkpoint — how many rounds
    until each host drains under the politeness cap, and which host
    bounds the crawl (the reference's en.wikipedia skew, README:204-207,
    as an operational question)."""
    from pyspark.sql import functions as F

    from wikifrontier import politeness
    from wikifrontier import state as state_io
    from wikifrontier.session import get_spark

    spark = get_spark(master=args.master)
    st = state_io.load_checkpoint(spark, args.checkpoint)
    if st is None:
        print(json.dumps({"error": "no complete checkpoint found"}))
        return 1
    cap = args.per_host_cap or politeness.DEFAULT_PLAN_CAP
    plan = politeness.budget_plan(st.pending, per_host_cap=cap)
    rows = (
        plan.orderBy(F.col("n_pending").desc(), "host").limit(args.top).collect()
    )
    for r in rows:
        print(json.dumps({
            "host": r["host"],
            "n_pending": r["n_pending"],
            "next_round_alloc": r["next_round_alloc"],
            "rounds_to_drain": r["rounds_to_drain"],
            "is_critical": r["is_critical"],
        }))
    print(json.dumps({
        "round": st.round,
        "per_host_cap": cap,
        "n_hosts": plan.count(),
        "drain_bound_rounds": rows[0]["drain_bound"] if rows else 0,
    }))
    return 0


def cmd_diff(args) -> int:
    """Two-checkpoint crawl diff: the q85 operator (cdx.snapshot_diff)
    over the crawled page sets of two checkpoints, keyed on url and
    compared by html_content_hash. `changed ∪ added` is the next
    incremental round's priority set; the counts print as one JSON
    line, optionally followed by sampled urls."""
    from pyspark.sql import functions as F

    from wikifrontier import cdx
    from wikifrontier import state as state_io
    from wikifrontier.session import get_spark

    spark = get_spark(master=args.master)
    snaps = {}
    for label, path in (("old", args.old), ("new", args.new)):
        st = state_io.load_checkpoint(spark, path)
        if st is None:
            print(json.dumps({"error": f"no complete checkpoint at --{label}"}))
            return 1
        snaps[label] = st.pages.where(
            F.col("html_content_hash").isNotNull()
        ).select("url", F.col("html_content_hash").alias("digest"))
    diff = cdx.snapshot_diff(snaps["old"], snaps["new"])
    counts = {
        r["change"]: r["n"]
        for r in diff.groupBy("change").agg(F.count("*").alias("n")).collect()
    }
    print(json.dumps({
        "old": args.old,
        "new": args.new,
        **{k: counts.get(k, 0)
           for k in ("added", "removed", "changed", "unchanged")},
    }))
    if args.sample > 0:
        rows = (
            diff.where(F.col("change").isin("added", "changed"))
            .orderBy("url")
            .limit(args.sample)
            .collect()
        )
        for r in rows:
            print(json.dumps({"url": r["url"], "change": r["change"]}))
    return 0


def cmd_health(args) -> int:
    """Crawl-health view: the q89 circuit breaker over the checkpoint's
    crawled page statuses (host from url, ok = SUCCESS) and the q94
    aging profile over its pending frontier — the two between-rounds
    governance reads, as one command. Prints one JSON line per
    non-closed host, one per depth, then a summary line."""
    from pyspark.sql import functions as F

    from wikifrontier import frontier as frontier_mod
    from wikifrontier import politeness
    from wikifrontier import state as state_io
    from wikifrontier.filters import split_url
    from wikifrontier.session import get_spark

    spark = get_spark(master=args.master)
    st = state_io.load_checkpoint(spark, args.checkpoint)
    if st is None:
        print(json.dumps({"error": "no complete checkpoint found"}))
        return 1
    _, host, _ = split_url(F.col("url"))
    attempts = st.pages.where(F.col("last_crawl_status").isNotNull()).select(
        host.alias("host"),
        (F.col("last_crawl_status") == "SUCCESS").alias("ok"),
    )
    breaker = politeness.host_circuit_breaker(attempts)
    tripped = breaker.where(F.col("state") != "closed").orderBy("host").collect()
    for r in tripped:
        print(json.dumps({
            "host": r["host"], "state": r["state"],
            "n_attempts": r["n_attempts"], "failure_rate": r["failure_rate"],
        }))
    ages = frontier_mod.frontier_age_profile(
        st.pending, st.round, starve_after=args.starve_after
    )
    age_rows = ages.orderBy("depth").collect()
    for r in age_rows:
        print(json.dumps({
            "depth": r["depth"], "n_pending": r["n_pending"],
            "oldest_age": r["oldest_age"], "n_starving": r["n_starving"],
        }))
    print(json.dumps({
        "round": st.round,
        "hosts_total": breaker.count(),
        "hosts_tripped": len(tripped),
        "pending_total": int(sum(r["n_pending"] for r in age_rows)),
        "starving_total": int(sum(r["n_starving"] for r in age_rows)),
    }))
    return 0


def cmd_graph(args) -> int:
    """Host-graph view (q101/q109/q110 over real crawl state): roll the
    checkpoint's discovered link graph up to host level, print ONE
    webgraph-stats summary line, then the top hosts by weighted
    PageRank. The between-crawls read for budget allocation and seed
    review."""
    from pyspark.sql import functions as F

    from wikifrontier import state as state_io
    from wikifrontier.linkgraph import host_graph, pagerank_weighted, webgraph_stats
    from wikifrontier.session import get_spark

    spark = get_spark(master=args.master)
    st = state_io.load_checkpoint(spark, args.checkpoint)
    if st is None:
        print(json.dumps({"error": "no complete checkpoint found"}))
        return 1
    edge_src = st.link_graph if not st.link_graph.isEmpty() else st.links
    if edge_src.isEmpty():
        print(json.dumps({"error": "checkpoint has no link edges"}))
        return 1
    hg = host_graph(
        edge_src.select("source_page_url", "url"),
        src="source_page_url",
        dst="url",
    ).localCheckpoint(eager=False)
    stats = webgraph_stats(hg).collect()[0]
    print(json.dumps({"round": st.round, **{k: stats[k] for k in stats.asDict()}}))
    ranks = pagerank_weighted(
        hg, src="src_host", dst="dst_host", weight="n_edges"
    )
    for r in ranks.orderBy(F.col("pr").desc(), "id").limit(args.top).collect():
        print(json.dumps({"host": r["id"], "host_rank": round(r["pr"], 8)}))
    return 0


def cmd_sketches(args) -> int:
    """Sketch-tier telemetry (q120/q122 over real crawl state): one HLL
    line per state table (crawled pages, pending frontier) — estimated
    vs exact distinct hosts — then the pending queue's heavy-hitter
    hosts by count-min estimate. These are the bounded-memory numbers a
    fleet ships per segment and merges centrally; the exact columns
    ride along here because a checkpoint is small enough to afford the
    acceptance check."""
    from pyspark.sql import functions as F

    from wikifrontier import sketch
    from wikifrontier import state as state_io
    from wikifrontier.filters import split_url
    from wikifrontier.session import get_spark

    spark = get_spark(master=args.master)
    st = state_io.load_checkpoint(spark, args.checkpoint)
    if st is None:
        print(json.dumps({"error": "no complete checkpoint found"}))
        return 1
    for label, df in (("pages", st.pages), ("pending", st.pending)):
        if df.isEmpty():
            print(json.dumps({"table": label, "empty": True}))
            continue
        _, host, _ = split_url(F.col("url"))
        hosts = df.select(host.alias("host"), F.lit(label).alias("t"))
        row = sketch.hll_report(hosts, "host", "t").where(
            F.col("grp") == label
        ).collect()[0]
        print(json.dumps({
            "table": label,
            "distinct_hosts_exact": row["n_exact"],
            "hll_estimate": row["hll_estimate"],
            "rel_err": row["rel_err"],
        }))
    if not st.pending.isEmpty():
        _, host, _ = split_url(F.col("url"))
        pend_hosts = st.pending.select(host.alias("host"))
        for r in sketch.cms_heavy_hitters(
            pend_hosts, "host", k=args.top
        ).collect():
            print(json.dumps({
                "host": r["value"], "pending_exact": r["n_exact"],
                "cms_estimate": r["cms_est"], "overcount": r["overcount"],
            }))
    return 0


def cmd_qa(args) -> int:
    """Corpus-quality audit (q125/q126 over real crawl output): the
    Gopher rule suite and C4 line cleaning run against the checkpoint's
    parsed text — one rollup JSON line per report. This is the
    acceptance gate a training-data pipeline runs on a crawl segment
    before shipping it: keep rate, which rules bite, and how much
    cross-document boilerplate the line dedup would strip."""
    from pyspark.sql import functions as F

    from wikifrontier import state as state_io
    from wikifrontier.session import get_spark
    from wikifrontier.textops import c4_line_filter, gopher_rules

    spark = get_spark(master=args.master)
    st = state_io.load_checkpoint(spark, args.checkpoint)
    if st is None:
        print(json.dumps({"error": "no complete checkpoint found"}))
        return 1
    docs = st.page_content.select(
        F.col("source_page_url").alias("doc_id"),
        F.col("text_content").alias("text"),
    ).where(F.col("text").isNotNull() & (F.length("text") > 0))
    g = gopher_rules(docs)
    rules = [
        "r_wordcount", "r_mean_len", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stop",
    ]
    grow = g.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        *[F.sum((~F.col(r)).cast("long")).alias(f"fail_{r[2:]}") for r in rules],
    ).collect()[0]
    out = {"report": "gopher", **grow.asDict()}
    out["keep_rate"] = (
        round(out["n_keep"] / out["n_docs"], 4) if out["n_docs"] else None
    )
    print(json.dumps(out))
    c = c4_line_filter(docs)
    crow = c.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum(col).alias(col)
            for col in ("n_lines", "n_kept", "n_short", "n_nopunct",
                        "n_banned", "n_dupline")
        ],
    ).collect()[0]
    cout = {"report": "c4_lines", **crow.asDict()}
    cout["kept_rate"] = (
        round(cout["n_kept"] / cout["n_lines"], 4) if cout["n_lines"] else None
    )
    print(json.dumps(cout))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return {
        "crawl": cmd_crawl,
        "report": cmd_report,
        "linkrank": cmd_linkrank,
        "plan": cmd_plan,
        "diff": cmd_diff,
        "health": cmd_health,
        "graph": cmd_graph,
        "sketches": cmd_sketches,
        "qa": cmd_qa,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
