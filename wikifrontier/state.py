"""Durable round checkpoint / resume (north_rule; SURVEY.md §4.2 item 3).

Plain-parquet stand-in for Iceberg snapshots: state tables live under
``{dir}/round={N}/{table}/`` and a round commits by writing
``_MANIFEST.json`` last — manifest presence is the commit marker, and the
manifest write goes through the ``fsio`` shim (staged tmp+rename on POSIX,
single-object atomic PUT on object stores), so the protocol needs no
rename anywhere. Resume loads the highest round with a manifest — a killed
job restarts mid-crawl with zero URL re-fetches because pending/seen are
part of the snapshot.

Snapshot kinds (manifest v3 — VERDICT r5 scale item):

- **full** — every folded state table is rewritten, the pre-v3 layout.
  O(crawl-so-far) parquet I/O: at a 10^10-URL frontier this rewrites the
  whole seen set / link graph every commit, which is THE durability
  bottleneck at scale.
- **delta** — only O(round) rows hit disk. Append-only tables (seen,
  links, link_graph, link_scores, metrics, invalid_rows) write just the
  rows born since the previous snapshot — a filter on their monotone
  round column, which parquet row-group min/max stats answer without
  scanning old segments. The merge-tables pages/page_content are not
  written: their event logs (``page_events`` / ``content_events``) are
  append-only tables like the others, and the state folds the chain
  base's pages/page_content ⊕ the chain's event segments on read
  (Iceberg merge-on-read: data files + delta files, compacted by the
  next full snapshot, which writes the folds and no event log). The live
  tables (pending, retries — O(frontier), not O(crawl)) and the bloom
  shards are always written in full at the head.

``CrawlConfig.checkpoint_full_every`` bounds a delta chain: every Nth
commit is full, so resume reads at most N-1 delta segments per table and
retention can eventually drop old history. A delta manifest carries the
``chain`` of snapshot rounds it builds on (oldest-first, starting at the
full base); the loader unions each table's segments across the chain in
ONE parquet scan (same schema, multi-path read).

A commit returns exactly the state ``load_checkpoint`` would load from
it (both build it in ``_state_at``): a delta head is re-backed from its
chain's parquet segments, with nothing re-materialized and no in-memory
leaf of an earlier round kept. Every table of ``TABLE_DDLS`` is read
with its schema, and a table no segment holds (the event logs of a
chain with no delta round, a table newer than the snapshot) reads as
``schemas.empty_df``, which the folds and unions over it optimize away.

The manifest carries a format version (``manifest_version`` — bumped when
the snapshot layout changes so an old engine never misreads a new layout).

Retention (VERDICT r3 "What's missing" #2): after each committed round,
``prune_checkpoints`` keeps the newest ``keep_last`` committed rounds PLUS
every chain member they reference — the manifest is removed FIRST
(un-committing the round) and the directory after, so a concurrent resume
can never pick a half-deleted round. Chain members that are no longer
heads are trimmed down to their delta segments (bloom shards and the live
pending/retries copies are only readable from a head), so a long delta
chain costs O(delta) disk per round, not O(state).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from wikifrontier import fsio, schemas

TABLE_DDLS = {
    "pending": schemas.FRONTIER_DDL,
    "seen": schemas.SEEN_DDL,
    "pages": schemas.PAGES_DDL,
    "page_content": schemas.PAGE_CONTENT_DDL,
    "links": schemas.LINKS_DDL,
    "link_graph": schemas.LINK_GRAPH_DDL,
    "link_scores": schemas.LINK_SCORES_DDL,
    "metrics": schemas.METRICS_DDL,
    "invalid_rows": schemas.INVALID_DDL,
    "retries": schemas.RETRIES_DDL,
    "page_events": schemas.PAGE_EVENTS_DDL,
    "content_events": schemas.CONTENT_EVENTS_DDL,
}

# append-only state tables → the monotone round column a delta snapshot
# filters on (rows with col >= previous snapshot's round are new)
DELTA_ROUND_COLS = {
    "seen": "claimed_round",
    "links": "discovered_round",
    "link_graph": "discovered_round",
    "link_scores": "scored_round",
    "metrics": "round",
    "invalid_rows": "rejected_round",
    "page_events": "_round",
    "content_events": "_round",
}
# live tables a snapshot always writes in full (current frontier + merged
# retry counters — both O(frontier))
LIVE_TABLES = ("pending", "retries")
# merge-on-read event logs: only delta rounds hold them, since a full
# snapshot writes their folds, pages and page_content, instead
EVENT_TABLES = ("page_events", "content_events")

# v1: unversioned round-3 layout (no manifest_version key).
# v2: adds manifest_version + retention; shard bases may be
#     generation-numbered (bucket_{b}.g{gen}.npy) — readers of v1
#     snapshots still work because gen-less bases parse as gen 0.
# v3: adds kind=full|delta + chain; delta rounds hold only per-table
#     delta segments / event logs. v1/v2 manifests (no chain) load as
#     single-round full snapshots.
MANIFEST_VERSION = 3


def _read_manifest(io_, path: str) -> dict | None:
    if not io_.exists(path):
        return None
    try:
        return json.loads(io_.read_bytes(path))
    except (ValueError, OSError):
        return None


def _latest_manifest(ckpt_dir: str) -> tuple[int, dict] | None:
    io_ = fsio.get_io(ckpt_dir)
    best = None
    for n, entry in _round_entries(ckpt_dir):
        if best is not None and n <= best[0]:
            continue
        m = _read_manifest(io_, io_.join(ckpt_dir, entry, "_MANIFEST.json"))
        if m is not None:
            best = (n, m)
    return best


def write_checkpoint(
    spark: SparkSession, state, ckpt_dir: str, keep_last: int = 2,
    full_every: int = 8,
):
    """Write the round snapshot for state.round and return the state a
    resume would load from it (``_state_at``; a delta head is re-backed
    from its chain's parquet segments). The snapshot is FULL when no
    previous v3 snapshot exists or the delta chain has reached
    ``full_every`` members, else DELTA (see module docstring). After the
    manifest commit, prune history down to the newest ``keep_last``
    committed rounds plus their chains (``keep_last=0`` disables
    pruning)."""
    io_ = fsio.get_io(ckpt_dir)
    round_dir = io_.join(ckpt_dir, f"round={state.round}")
    # Spark's own parquet reader/writer handles real URIs (s3a:// etc)
    # natively; only our test-only writeonce+file:// wrapper is stripped
    spark_round_dir = fsio.strip_scheme(round_dir)
    io_.makedirs(round_dir)

    prev = _latest_manifest(ckpt_dir)
    delta = (
        full_every > 1
        and prev is not None
        and prev[0] < state.round
        and prev[1].get("manifest_version", 1) >= 3
        and len(prev[1].get("chain", [prev[0]])) < full_every
    )

    if delta:
        prev_round, prev_manifest = prev
        chain = list(prev_manifest.get("chain", [prev_round])) + [state.round]
        written = {"pending": state.pending, "retries": state.retries}
        for name, rcol in DELTA_ROUND_COLS.items():
            # rows born in rounds [prev_round, state.round): everything a
            # previous snapshot already holds carries col <= prev_round-1
            written[name] = getattr(state, name).filter(F.col(rcol) >= F.lit(prev_round))
    else:
        chain = [state.round]
        written = state.tables()

    for name, df in written.items():
        df.write.mode("overwrite").parquet(f"{spark_round_dir}/{name}")

    manifest = {
        "manifest_version": MANIFEST_VERSION,
        "round": state.round,
        "kind": "delta" if delta else "full",
        "chain": chain,
        "tables": sorted(written),
    }
    if state.bloom is not None:
        # one distributed job compacts the shard deltas and writes the
        # snapshot's bases
        state.bloom.save(io_.join(round_dir, "bloom_shards"), spark=spark)

    # commit point: manifest presence marks the round complete
    io_.write_bytes(
        io_.join(round_dir, "_MANIFEST.json"), json.dumps(manifest).encode()
    )
    if keep_last > 0:
        prune_checkpoints(ckpt_dir, keep_last=keep_last, newest=state.round)
    return _state_at(spark, ckpt_dir, state.round, manifest, bloom=state.bloom)


def _round_entries(ckpt_dir: str) -> list[tuple[int, str]]:
    io_ = fsio.get_io(ckpt_dir)
    out = []
    for entry in io_.listdir(ckpt_dir):
        if entry.startswith("round="):
            try:
                out.append((int(entry.split("=", 1)[1]), entry))
            except ValueError:
                continue
    return out


def _trim_chain_member(io_, round_dir: str) -> None:
    """Shrink a chain member that is no longer a resume head down to its
    delta segments: the bloom shard copy and the full pending/retries
    tables are only ever read from the newest rounds, so an old chain
    member costs O(its delta), not O(frontier + filter bits)."""
    for entry in ("bloom_shards", "pending", "retries"):
        p = io_.join(round_dir, entry)
        if io_.exists(p):
            io_.rmtree(p)


def prune_checkpoints(ckpt_dir: str, keep_last: int, newest: int) -> list[int]:
    """Keep the newest ``keep_last`` COMMITTED snapshots (counted over
    committed rounds, not round numbers — with checkpoint_every=K the
    committed rounds are sparse) plus every chain member they reference,
    and delete everything older, including abandoned manifest-less dirs.
    Rounds newer than the oldest kept round are left alone (a concurrent
    writer may be mid-commit there). Manifest first, directory second —
    deletion order is the inverse of the commit order, so a concurrent
    ``latest_round`` either sees a round as committed-and-whole or not
    committed at all. Kept chain members that stopped being heads are
    trimmed to their delta segments. Returns the pruned round numbers."""
    io_ = fsio.get_io(ckpt_dir)
    entries = _round_entries(ckpt_dir)
    manifests = {}
    for n, entry in entries:
        m = _read_manifest(io_, io_.join(ckpt_dir, entry, "_MANIFEST.json"))
        if m is not None:
            manifests[n] = m
    committed = sorted(manifests)
    heads = set(committed[-keep_last:]) if keep_last > 0 else set(committed)
    keep = set(heads)
    for h in heads:
        keep |= set(manifests[h].get("chain", [h]))
    cutoff = min(keep, default=newest)
    pruned = []
    for n, entry in entries:
        round_dir = io_.join(ckpt_dir, entry)
        if n in keep:
            if n not in heads:
                _trim_chain_member(io_, round_dir)
            continue
        if n >= cutoff:
            continue
        manifest_path = io_.join(round_dir, "_MANIFEST.json")
        if io_.exists(manifest_path):
            io_.remove(manifest_path)  # un-commit
        io_.rmtree(round_dir)
        pruned.append(n)
    return sorted(pruned)


def latest_round(ckpt_dir: str) -> int | None:
    io_ = fsio.get_io(ckpt_dir)
    best = None
    for n, entry in _round_entries(ckpt_dir):
        if io_.exists(io_.join(ckpt_dir, entry, "_MANIFEST.json")):
            best = n if best is None else max(best, n)
    return best


def load_checkpoint(
    spark: SparkSession, ckpt_dir: str, bloom_storage_dir: str | None = None
):
    """Load the newest complete round snapshot, or None: check the head's
    manifest version, re-open its seen-filter, and build the state with
    ``_state_at`` — the same function ``write_checkpoint`` returns
    through, so a resumed crawl and an uninterrupted one go on from the
    same state.

    ``bloom_storage_dir`` — working dir for the re-opened partitioned
    seen-filter (shared storage on clusters; tempdir fallback is
    local-mode-only)."""
    n = latest_round(ckpt_dir)
    if n is None:
        return None
    io_ = fsio.get_io(ckpt_dir)
    head_dir = io_.join(ckpt_dir, f"round={n}")
    manifest = json.loads(io_.read_bytes(io_.join(head_dir, "_MANIFEST.json")))
    found = manifest.get("manifest_version", 1)
    if found > MANIFEST_VERSION:
        raise ValueError(
            f"checkpoint {head_dir} has manifest_version={found}; this "
            f"engine reads ≤ {MANIFEST_VERSION} — upgrade before resuming"
        )
    # a head without bloom_shards/ (no filter, or a legacy single-bitmap
    # bloom.npz) loads with bloom=None; run_crawl rebuilds it from seen
    shards_dir = io_.join(head_dir, "bloom_shards")
    bloom = None
    if io_.exists(shards_dir):
        from wikifrontier.seen import PartitionedBloomSeen

        bloom = PartitionedBloomSeen.load(shards_dir, storage_dir=bloom_storage_dir)
    return _state_at(spark, ckpt_dir, n, manifest, bloom)


def _state_at(spark: SparkSession, ckpt_dir: str, n: int, manifest: dict, bloom):
    """The crawl state committed at round ``n`` (manifest ``manifest``),
    backed by parquet only — the one place a post-checkpoint state is
    built.

    Every table is read the same way: ONE multi-path parquet scan over the
    segments its rounds hold (identical schema per segment), or an empty
    table when none does. The live tables read the head's segment, the
    append-only tables every chain member's, the event logs the delta
    members', and pages/page_content the chain base's; the state's views
    fold base ⊕ events on read."""
    from wikifrontier.frontier import CrawlState

    io_ = fsio.get_io(ckpt_dir)
    chain = manifest.get("chain", [n])
    dirs = {r: io_.join(ckpt_dir, f"round={r}") for r in chain}

    def read(name: str, rounds) -> "object":
        # tables absent on disk (e.g. a checkpoint written before a state
        # table existed) load as empty — ADVICE r2: resume must not break
        # on pre-existing snapshots when the schema set grows
        paths = [
            f"{fsio.strip_scheme(dirs[r])}/{name}"
            for r in rounds
            if io_.exists(io_.join(dirs[r], name))
        ]
        if not paths:
            return schemas.empty_df(spark, TABLE_DDLS[name])
        schema = schemas.ddl_to_schema(TABLE_DDLS[name])
        return spark.read.schema(schema).parquet(*paths)

    tables = {name: read(name, [n]) for name in LIVE_TABLES}
    tables.update({
        # a full round's event-log dir can only be a leftover of an
        # uncommitted delta attempt at that round: never replay it
        name: read(name, chain[1:] if name in EVENT_TABLES else chain)
        for name in DELTA_ROUND_COLS
    })
    return CrawlState(
        round=n,
        pages_base=read("pages", chain[:1]),
        content_base=read("page_content", chain[:1]),
        graph_base=tables.pop("link_graph"), scores_base=tables.pop("link_scores"),
        bloom=bloom, **tables,
    )
