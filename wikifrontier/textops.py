"""Text-analysis operators for the training-data pipeline tier.

Beyond the reference's crawl dataflow (SURVEY.md §2), a 100 TB corpus
engine needs corpus-hygiene operators over the extracted text: language
identification, quality scoring, token counting, and document
fingerprinting. All four are pure Column-expression builders — JVM-side,
whole-stage-codegen'd, no Python in the hot path (the reference's closest
analogue is the per-message parser worker, components/parser/ — here the
work is columnar from the start).

Every constant in this module is shared with the DuckDB oracle SQL in
``__spark_entry__.py`` so the two dialects cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tokenizer: lowercase word/number runs. Identical regex semantics in Spark
# (Java regex) and DuckDB (RE2) for this class.
TOKEN_RE = "[a-z0-9]+"

# BPE-ish sub-token regex: word runs, digit runs, single non-space symbols —
# a cheap stand-in for a byte-pair tokenizer's pre-tokenization pass.
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

SHINGLE_K = 3  # word-shingle width shared by fingerprint/minhash/jaccard

# deterministic marker-word profiles for the n-gram/stopword language-ID
# heuristic. Scores are marker-hit counts (with multiplicity); argmax wins,
# ties break alphabetically. Profiles are over the synthetic corpus
# vocabulary — the operator contract is determinism, not linguistics.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("vector", "hash", "und", "der", "nicht"),
    "en": ("the", "a", "key", "value", "of"),
    "es": ("stream", "data", "los", "que", "una"),
    "fr": ("window", "query", "les", "des", "une"),
    "zh": ("merge", "join", "shi", "de2", "bu"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that")

FINGERPRINT_HEX_PREFIX = "0"  # keep shingles whose sha256 starts with this


def tokens(text: Column) -> Column:
    """Whitespace/punctuation tokenization → array<string> (lowercased)."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), F.lit(0))


def shingles(toks: Column, k: int = SHINGLE_K) -> Column:
    """Positional k-word shingles joined by single spaces.

    ``sequence(a, b)`` generates a *descending* range when a > b, so the
    size guard is mandatory (an empty doc must yield [], not garbage).
    """
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
        ),
    )
    return F.when(F.size(toks) >= k, gram).otherwise(
        F.array().cast("array<string>")
    )


def marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    """Count of tokens (with multiplicity) that appear in `markers`."""
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_scores(toks: Column) -> dict[str, Column]:
    return {lang: marker_hits(toks, m) for lang, m in sorted(LANG_PROFILES.items())}


def predicted_lang(toks: Column) -> Column:
    """Argmax over language profiles, alphabetical tie-break.

    Implemented as greatest-of-structs: max over (score, neg-ordinal) pairs
    so the comparison stays a single codegen'd expression.
    """
    scores = lang_scores(toks)
    # alphabetical order ⇒ later langs must LOSE ties ⇒ compare (score, rank)
    # where rank is higher for alphabetically-earlier langs.
    structs = [
        F.struct(
            score.alias("s"),
            F.lit(len(scores) - i).alias("r"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, score) in enumerate(sorted(scores.items()))
    ]
    return F.greatest(*structs).getField("lang")


def quality_features(text: Column) -> dict[str, Column]:
    """Length / stopword / punctuation / word-shape features + a composite
    quality score in [0,1]. All double arithmetic, same operation order as
    the oracle SQL (float-compare safety)."""
    toks = tokens(text)
    n = F.size(toks)
    nd = n.cast("double")
    char_len = F.length(text).cast("double")
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
    )
    mean_tok_len = F.when(n > 0, tok_chars / nd).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n > 0, marker_hits(toks, STOPWORDS).cast("double") / nd
    ).otherwise(F.lit(0.0))
    digit_tokens = F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$")))
    digit_ratio = F.when(n > 0, digit_tokens.cast("double") / nd).otherwise(
        F.lit(0.0)
    )
    score = (
        F.least(nd / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + stop_ratio * F.lit(0.3)
        + F.least(mean_tok_len / F.lit(8.0), F.lit(1.0)) * F.lit(0.3)
    )
    return {
        "n_tokens": n,
        "char_len": char_len,
        "mean_tok_len": F.round(mean_tok_len, 6),
        "stop_ratio": F.round(stop_ratio, 6),
        "digit_ratio": F.round(digit_ratio, 6),
        "quality_score": F.round(score, 6),
    }


def repetition_features(text: Column) -> dict[str, Column]:
    """Gopher-style intra-document repetition signals (word level; the
    synthetic corpus has no line structure, so the line-based variants are
    re-expressed over the token stream):

    * ``dup_word_frac``  — fraction of token occurrences beyond the first
      occurrence of each distinct token.
    * ``dup_3gram_frac`` — same over 3-word shingles: repeated phrasing.

    Both are pure array expressions (size vs array_distinct size) —
    codegen'd, no explode, no shuffle; the companion per-gram top-2-gram
    fraction needs per-gram counts and lives in the query layer as an
    explode → two-level aggregate (map-side combine keyed on doc id).
    Division/rounding order matches the oracle SQL exactly.
    """
    toks = tokens(text)
    n = F.size(toks).cast("double")
    dup_word = F.when(
        F.size(toks) > 0,
        (n - F.size(F.array_distinct(toks)).cast("double")) / n,
    ).otherwise(F.lit(0.0))
    g3 = shingles(toks, 3)
    n3 = F.size(g3).cast("double")
    dup_g3 = F.when(
        F.size(g3) > 0,
        (n3 - F.size(F.array_distinct(g3)).cast("double")) / n3,
    ).otherwise(F.lit(0.0))
    return {
        "dup_word_frac": F.round(dup_word, 6),
        "dup_3gram_frac": F.round(dup_g3, 6),
    }


def bpe_token_count(text: Column) -> Column:
    """Sub-token count under the BPE-ish pre-tokenization regex."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_RE), F.lit(0)))


def fingerprints(text: Column, k: int = SHINGLE_K) -> Column:
    """Winnowing-style document fingerprints: the sha256 of each k-shingle,
    sampled by hash prefix (≈1/16 of shingles), deduplicated.

    The "mod p == 0" sampling is what makes the fingerprint set robust to
    local edits (same property the rolling-hash winnowing papers use);
    sha256 keeps it bit-identical across engines.
    """
    sh = shingles(tokens(text), k)
    hashed = F.transform(sh, lambda s: F.sha2(s, 256))
    sampled = F.filter(
        hashed, lambda h: h.startswith(FINGERPRINT_HEX_PREFIX)
    )
    return F.array_distinct(F.transform(sampled, lambda h: h.substr(1, 16)))


def top_ngrams(df, text: str = "text", id_col: str = "doc_id", n: int = SHINGLE_K, k: int = 50):
    """Corpus-wide top-k n-gram mining — the boilerplate-phrase detection
    pass that feeds segment/paragraph dedup (a phrase with huge corpus
    frequency but low per-doc counts is template text: nav bars, license
    blocks, cookie banners). Returns (gram, occurrences, doc_freq), top-k
    by total occurrences, ties broken lexicographically.

    Scale shape: explode → one groupBy keyed on the gram (map-side
    partial counts collapse the per-partition duplicates before the
    shuffle), then `orderBy(...).limit(k)` — TakeOrderedAndProject, a
    per-partition top-k heap plus a single driver merge of k·P rows,
    never a global sort of the gram vocabulary.
    """
    g = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(tokens(F.col(text)), n)).alias("gram"),
    )
    counts = g.groupBy("gram").agg(
        F.count("*").alias("occurrences"),
        F.count_distinct(F.col("id")).alias("doc_freq"),
    )
    return counts.orderBy(
        F.col("occurrences").desc(), F.col("gram")
    ).limit(k)


# --- deterministic stratified mixture sampling -------------------------------
SAMPLE_HEX_DIGITS = 8  # md5 hex prefix width used as the sampling key


def sample_threshold_hex(rate: float) -> str:
    """Map a keep-rate in [0,1] to the md5-hex-prefix threshold string.

    A row is kept iff ``substr(md5(key), 1, 8) < threshold``. md5 hex is
    uniform over the 16^8 prefix space, so the string comparison keeps
    ~rate of rows; rate >= 1.0 maps to "g", lexicographically above every
    hex digit, i.e. keep-all. The comparison is a plain ASCII string
    compare — bit-identical in Spark and DuckDB, reproducible across
    runs and engines with zero RNG state.
    """
    if rate >= 1.0:
        return "g"
    ticks = max(int(rate * 16**SAMPLE_HEX_DIGITS), 0)
    return format(ticks, f"0{SAMPLE_HEX_DIGITS}x")


def stratified_sample(
    df,
    rates: dict[str, float],
    stratum_col: str,
    key_col: str,
    default_rate: float = 0.0,
):
    """Deterministic hash-stratified sampling — the dataset-mixture
    construction pass (rebalance languages / quality buckets / sources to
    target proportions before training). Each stratum gets an independent
    keep-rate; membership is decided by comparing an md5-prefix of the
    row key against the stratum's threshold, so the sample is stable
    under reruns, engine changes, and corpus repartitioning (properties a
    `rand()`-based sample lacks). Returns the kept rows plus the
    ``sample_key`` column for audit.

    Scale shape: a pure filter — no shuffle, no RNG broadcast, predicate
    fully codegen'd (md5 + substr + CASE over stratum literals). At
    100 TB the filter runs scan-side and composes with column pruning;
    downstream mixture accounting is whatever aggregate the caller adds.
    """
    thr = F.lit(sample_threshold_hex(default_rate))
    for name, rate in sorted(rates.items()):
        thr = F.when(
            F.col(stratum_col) == name, F.lit(sample_threshold_hex(rate))
        ).otherwise(thr)
    key = F.substring(F.md5(F.col(key_col).cast("string")), 1, SAMPLE_HEX_DIGITS)
    return df.withColumn("sample_key", key).where(F.col("sample_key") < thr)


# --- PII detection / redaction -----------------------------------------------
# Patterns are deliberately the intersection of Java-regex (Spark) and RE2
# (DuckDB) syntax — character classes, bounded repetition, non-capturing
# groups, ASCII \b — so the oracle replays them verbatim. Order of
# redaction is EMAIL → PHONE → IP (emails can embed digits; redacting them
# first keeps the later passes from double-counting inside a local part).
PII_EMAIL_RE = r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b"
PII_PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"
PII_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"

PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("emails", PII_EMAIL_RE, "<EMAIL>"),
    ("phones", PII_PHONE_RE, "<PHONE>"),
    ("ipv4s", PII_IPV4_RE, "<IP>"),
)


def pii_features(text: Column) -> dict[str, Column]:
    """PII scrub — the privacy pass every public-webtext pipeline runs
    before training (C4 strips lines by pattern; Dolma/RefinedWeb count
    and mask emails / phone numbers / IP addresses). Returns per-document
    match counts per PII class plus the masked text with each span
    replaced by its typed token.

    Pure Column expressions (regexp_count / chained regexp_replace) —
    JVM-side, codegen'd, scan-parallel; no Python in the hot path, no
    shuffle. At 100 TB this composes with the quality/dedup filters as
    one projection over the corpus scan.
    """
    out: dict[str, Column] = {}
    masked = text
    for name, pat, token in PII_RULES:
        out[f"n_{name}"] = F.regexp_count(masked, F.lit(pat))
        masked = F.regexp_replace(masked, pat, token)
    out["masked"] = masked
    return out


# --- TF-IDF keyword extraction ------------------------------------------------
TFIDF_TOP_K = 5  # per-document keyword count


def tfidf_terms(df, text: str = "text", id_col: str = "doc_id", k: int = TFIDF_TOP_K):
    """Per-document top-k keywords by tf·idf — the keyword/topic-tagging
    pass of a webtext pipeline (and the classic relevance score feeding
    BM25-style retrieval over the crawled corpus). idf = ln(N / df) over
    document frequency; ties break lexicographically on the term so the
    result is a deterministic relation.

    Scale shape: token explode → (doc, term) count with map-side partial
    agg (one shuffle), document frequency folded from that same relation
    keyed on the term (second shuffle, counters only — text never moves
    past the explode), corpus size N attached as a 1-row broadcast (no
    driver action), and the per-doc top-k as a row_number window
    partitioned on the doc key. Every post-explode row is (id, term,
    counters) — width stays constant no matter the corpus size.
    """
    from pyspark.sql import Window

    tf = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text))).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    docfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = df.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            F.col("id"),
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col), "term", "tf", "df", "tfidf", "rank"
        )
    )


# --- context-window chunking ---------------------------------------------------
CHUNK_TOKENS = 64  # tokens per training context window


def chunk_documents(
    df, text: str = "text", id_col: str = "doc_id", k: int = CHUNK_TOKENS
):
    """Context-window chunking — split each document's token stream into
    non-overlapping k-token training windows (the pre-packing step of a
    pretraining data pipeline). Emits (id, chunk_idx, n_tokens,
    chunk_sha) per window; the last window per document may be short;
    empty documents emit no rows.

    Pure projection + explode: the chunk list is built per-row with
    transform over sequence (guarded — Spark's sequence(a, b) runs
    DESCENDING when a > b, so an empty doc must hit the otherwise branch,
    not sequence(0, -1)) and posexplode'd. No shuffle at any corpus size
    — chunking rides the corpus scan. sha256 over the space-joined
    window makes the output a stable relation without carrying text.
    """
    base = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text)).alias("toks")
    ).withColumn("n_toks", F.size("toks"))
    n_chunks = F.ceil(F.col("n_toks") / F.lit(k)).cast("int")
    windows = F.when(
        F.col("n_toks") > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(F.col("toks"), i * k + 1, k),
        ),
    ).otherwise(F.array().cast("array<array<string>>"))
    return (
        base.select("id", F.posexplode(windows).alias("chunk_idx", "ck"))
        .select(
            F.col("id").alias(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.size("ck").alias("n_tokens"),
            F.sha2(F.array_join("ck", " "), 256).alias("chunk_sha"),
        )
    )


# --- unigram LM quality score ---------------------------------------------------
LOGPROB_SCALE = 1_000_000  # 1e-6 quantization for order-independent sums


def unigram_logprob(df, text: str = "text", id_col: str = "doc_id"):
    """Corpus-trained unigram LM score — the cheap stand-in for CCNet's
    LM-perplexity quality filter: train P(term) = cf/total on the corpus
    itself, score each document by its mean token log-probability (high
    = boilerplate-ish common language, very low = gibberish; both tails
    get filtered in a curation pass). Empty documents emit no row.

    Exactness: per-term ln P is quantized to 1e-6 (long) BEFORE the
    per-document sum, so the aggregate is an exact integer sum — order-
    independent, hence bit-replayable by the DuckDB oracle (a raw double
    sum would drift with aggregation order). Same trick as
    similarity.kmeans_centroids.

    Scale shape: tf/cf are counters-only shuffles (text dies at the
    explode); the corpus total is a 1-row broadcast; the per-term ql
    table joins back on term (at 100 TB both sides are already
    term-keyed from the cf fold — AQE co-locates them). No driver
    actions, no collect.
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text))).alias("term")
    )
    tf = tok.groupBy("id", "term").agg(F.count("*").alias("tf"))
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    tot = cf.agg(F.sum("cf").alias("tot"))
    ql = cf.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(
            F.log(F.col("cf").cast("double") / F.col("tot").cast("double"))
            * LOGPROB_SCALE
        )
        .cast("long")
        .alias("ql"),
    )
    return (
        tf.join(ql, "term")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.col("ql")).cast("double")
                / (F.lit(float(LOGPROB_SCALE)) * F.sum("tf")),
                6,
            ).alias("logprob"),
        )
        .select(F.col("id").alias(id_col), "n_tokens", "logprob")
    )


# --- sequence packing -----------------------------------------------------------
SEQ_BUDGET = 256  # tokens per packed training sequence
PACK_BUCKETS = 64  # deterministic packing shards (scale knob, see docstring)


def pack_sequences(
    chunks,
    budget: int = SEQ_BUDGET,
    buckets: int = PACK_BUCKETS,
    id_col: str = "doc_id",
):
    """Sequence packing — assemble ``chunk_documents`` windows into
    fixed-budget training sequences (the step after chunking in a
    pretraining pipeline: pack ~k-token chunks into B-token model
    contexts so padding is bounded). Deterministic and shuffle-light by
    construction:

    - chunks shard into ``buckets`` by ``doc_id % buckets`` (a document's
      chunks stay together, in order — context continuity);
    - within a bucket, chunks are ordered (doc_id, chunk_idx) and each
      chunk lands in sequence ``floor(exclusive_prefix_tokens / budget)``
      — the prefix-sum relaxation of next-fit packing. A chunk straddling
      a boundary joins the earlier sequence, so a sequence's token count
      lies in (budget - k, budget + k); exact next-fit needs a stateful
      scan and buys < k/budget fill — the prefix rule is what keeps
      packing a window function instead of a sequential pass.

    Returns one row per packed sequence: (bucket, seq_id, n_chunks,
    seq_tokens, fill, seq_sha) where seq_sha is the sha256 of the
    ordered chunk_sha chain — a stable manifest of the sequence's
    contents without carrying text.

    Scale shape: ONE shuffle (hashpartition on bucket) and a per-bucket
    sort of (id, idx, sha, n) counter rows — text never enters the
    operator. ``buckets`` is the parallelism knob: size it so a bucket's
    counter rows fit a task (at 100 TB ~ total_chunks / 10^7); packing
    quality is bucket-local so the knob trades nothing away.
    """
    from pyspark.sql import Window

    b = chunks.withColumn(
        "bucket", F.pmod(F.col(id_col), F.lit(buckets)).cast("int")
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col, "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = b.withColumn(
        "pre", F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    ).withColumn("seq_id", F.floor(F.col("pre") / F.lit(budget)).cast("long"))
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col(id_col), F.col("chunk_idx"), F.col("chunk_sha")))
    )
    return (
        p.groupBy("bucket", "seq_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
            F.sha2(
                F.array_join(
                    F.transform(ordered, lambda s: s["chunk_sha"]), " "
                ),
                256,
            ).alias("seq_sha"),
        )
        .withColumn(
            "fill", F.round(F.col("seq_tokens") / F.lit(float(budget)), 6)
        )
        .select("bucket", "seq_id", "n_chunks", "seq_tokens", "fill", "seq_sha")
    )


# --- token-budget quota sampling -------------------------------------------------
# per-stratum TOKEN budgets for the quota sampler (q69) — the
# token-budgeted twin of the rate-based mixture sampler (q57): real
# training mixtures are specified in tokens per source, not doc counts.
TOKEN_BUDGETS = {"en": 6000, "de": 2000, "fr": 2000, "es": 2000}
TOKEN_BUDGET_DEFAULT = 1000  # strata not named in TOKEN_BUDGETS
BUDGET_SHARDS = 4  # quota shards per stratum (scale knob, see docstring)


def token_budget_sample(
    df,
    budgets: dict[str, int] | None = None,
    default_budget: int = TOKEN_BUDGET_DEFAULT,
    shards: int = BUDGET_SHARDS,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    text: str = "text",
):
    """Token-budget quota sampling — fill each stratum's token budget
    with documents in deterministic md5-key order (the same audit key as
    ``stratified_sample``), keeping the maximal ordered PREFIX that fits
    (exclusive prefix + own tokens ≤ quota; the first doc that would
    overflow ends the shard's fill — since the prefix only grows, kept
    docs are provably a strict prefix, so ``cum_tokens`` is the running
    kept total). Where ``stratified_sample`` answers "keep X% of docs",
    this answers the question training mixtures actually ask: "give me
    N tokens of each source".

    Determinism: the fill order is the md5 hex prefix of the row key —
    stable under reruns, repartitioning, and engine changes — so the
    selected set is a pure function of (corpus, budgets, shards) and the
    DuckDB oracle replays it exactly.

    Scale shape: a stratum is a handful of values, so a naive
    per-stratum window would be one task per language — a skew wall at
    100 TB. The quota is therefore split across ``shards`` hash shards
    (budget // shards each; the remainder is forfeited, bounded by
    shards · max_doc_tokens): each (stratum, shard) fills independently,
    giving stratum-parallelism × shard-parallelism with ONE counters-only
    shuffle (text dies at the token count). ``shards`` sizes tasks the
    same way PACK_BUCKETS does for packing.
    """
    from pyspark.sql import Window

    budgets = TOKEN_BUDGETS if budgets is None else budgets
    quota = F.lit(default_budget // shards).cast("long")
    for name, b in sorted(budgets.items()):
        quota = F.when(
            F.col(stratum_col) == name, F.lit(b // shards).cast("long")
        ).otherwise(quota)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(stratum_col).alias("stratum"),
        quota.alias("quota"),
        F.substring(
            F.md5(F.col(id_col).cast("string")), 1, SAMPLE_HEX_DIGITS
        ).alias("sample_key"),
        F.size(tokens(F.col(text))).cast("long").alias("n_tokens"),
        F.pmod(F.col(id_col), F.lit(shards)).cast("int").alias("shard"),
    )
    w = (
        Window.partitionBy("stratum", "shard")
        .orderBy("sample_key", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.withColumn(
            "pre", F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
        )
        .where(F.col("pre") + F.col("n_tokens") <= F.col("quota"))
        .select(
            F.col("id").alias(id_col),
            F.col("stratum").alias(stratum_col),
            "shard",
            "sample_key",
            "n_tokens",
            (F.col("pre") + F.col("n_tokens")).alias("cum_tokens"),
        )
    )


# --- BM25 retrieval --------------------------------------------------------------
# Okapi BM25 with the Lucene non-negative idf, ln(1 + (N-df+0.5)/(df+0.5)).
# The query workload is a fixed dictionary (retrieval over a crawled corpus
# is "given these standing queries, which pages rank?" — e.g. seed-list
# expansion or eval-set mining); terms are drawn from the synthetic
# corpus vocabulary so every query matches real documents.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
BM25_SHARDS = 16  # local-top-k shards per query (scale knob, see docstring)
BM25_SCALE = 1_000_000  # 1e-6 contribution quantization for exact sums
BM25_QUERIES: dict[str, tuple[str, ...]] = {
    "fast_scan": ("fast", "scan"),
    "hash_join": ("hash", "join"),
    "merge_sort": ("merge", "sort", "order"),
    "stream_agg": ("stream", "window", "agg"),
}


def bm25_topk(
    df,
    queries: dict[str, tuple[str, ...]] | None = None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    k: int = BM25_TOP_K,
    shards: int = BM25_SHARDS,
    text: str = "text",
    id_col: str = "doc_id",
):
    """Top-k BM25 retrieval for a fixed query set over the corpus — the
    inverted-index scoring pass a crawl pipeline runs for seed expansion
    / eval-set mining (the ranked twin of ``tfidf_terms``). Returns one
    row per (query_id, doc, rank ≤ k).

    Exactness: each term's contribution idf·tf-norm is quantized to 1e-6
    longs BEFORE the per-(query, doc) sum (``unigram_logprob``'s trick),
    so scores are exact integer sums — order-independent and
    bit-replayable by the DuckDB oracle; ranking then orders by
    (score_q DESC, doc_id), a deterministic total order.

    Scale shape: the postings explode is filtered to query terms by a
    broadcast semi-join BEFORE the tf fold, so the only corpus-sized
    shuffles carry (doc, term, count) rows for matched terms only; N and
    avgdl ride a 1-row broadcast. Top-k is two-phase to dodge the
    one-task-per-query window wall: a local row_number per (query,
    doc_id%shards) keeps ≤ shards·k candidates per query, then the
    global rank runs over that bounded set.
    """
    from pyspark.sql import Window

    queries = BM25_QUERIES if queries is None else queries
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        sorted((qid, t) for qid, ts in queries.items() for t in ts),
        "query_id string, term string",
    )
    terms = qdf.select("term").distinct()

    lens = df.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text))).cast("long").alias("dl"),
    )
    stats = lens.agg(
        F.count("*").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count("*").cast("double")
        ).alias("avgdl"),
    )
    tf = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text))).alias("term"),
        )
        .join(F.broadcast(terms), "term")
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + (F.lit(b) * F.col("dl").cast("double")) / F.col("avgdl")
        )
    )
    contrib = (
        tf.join(dfreq, "term")
        .join(lens, "id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qdf), "term")
        .select(
            "query_id",
            "id",
            F.round((idf * norm) * F.lit(float(BM25_SCALE)))
            .cast("long")
            .alias("c"),
        )
    )
    scored = contrib.groupBy("query_id", "id").agg(
        F.sum("c").alias("score_q"), F.count("*").alias("n_terms")
    )
    order = [F.col("score_q").desc(), F.col("id")]
    w_local = Window.partitionBy(
        "query_id", F.pmod(F.col("id"), F.lit(shards))
    ).orderBy(*order)
    w_global = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= k)
        .withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias(id_col),
            "rank",
            "n_terms",
            "score_q",
            F.round(F.col("score_q") / F.lit(float(BM25_SCALE)), 6).alias(
                "score"
            ),
        )
    )


# --- bigram LM quality score -----------------------------------------------------
# Stupid-backoff bigram LM (Brants et al. 2007): P(w2|w1) = c(w1 w2)/c(w1)
# when the bigram was seen in training, else ALPHA · P_laplace(w2). The LM
# trains on the even-doc_id half of the corpus and scores ALL docs, so the
# odd half genuinely exercises the backoff path.
BIGRAM_ALPHA = 0.4
BIGRAM_TRAIN_MOD = 2  # train on doc_id % MOD == 0


def bigram_logprob(df, text: str = "text", id_col: str = "doc_id"):
    """Bigram-LM document quality score — the sharper sibling of
    ``unigram_logprob`` and the closest cheap stand-in for CCNet's
    KenLM-perplexity filter: train bigram/unigram counts on half the
    corpus (doc_id % 2 == 0), score every document by its mean bigram
    log-probability under stupid backoff (unseen bigram → α · Laplace
    unigram). Documents with < 2 tokens emit no row.

    Exactness: ln P is quantized to 1e-6 longs per DISTINCT bigram
    BEFORE the per-document fold (``unigram_logprob``'s trick), so the
    aggregate is an exact integer sum the DuckDB oracle replays
    bit-for-bit.

    Scale shape: bigrams are built scan-side (``shingles(k=2)`` — text
    dies at the explode); every shuffle afterwards carries (term |
    bigram, counter) rows; corpus totals (tot, vocab) ride a 1-row
    broadcast; the per-pair ql table joins back on the bigram key. No
    driver actions.
    """
    tokt = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text)).alias("t")
    )
    train = tokt.filter(F.col("id") % BIGRAM_TRAIN_MOD == 0)
    c1 = (
        train.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c1"))
    )
    tots = c1.agg(
        F.sum("c1").alias("tot"), F.count("*").alias("vocab")
    )
    bc = (
        train.select(F.explode(shingles(F.col("t"), 2)).alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("bc"))
    )
    spn = (
        tokt.select("id", F.explode(shingles(F.col("t"), 2)).alias("s"))
        .groupBy("id", "s")
        .agg(F.count("*").alias("n"))
    )
    pairs = spn.select(
        "s",
        F.split(F.col("s"), " ")[0].alias("w1"),
        F.split(F.col("s"), " ")[1].alias("w2"),
    ).distinct()
    p_seen = F.col("bc").cast("double") / F.col("c1")
    p_backoff = F.lit(BIGRAM_ALPHA) * (
        (F.coalesce(F.col("cf"), F.lit(0)) + F.lit(1)).cast("double")
        / (F.col("tot") + F.col("vocab")).cast("double")
    )
    ql = (
        pairs.join(bc, "s", "left")
        .join(c1, pairs["w1"] == c1["term"], "left")
        .drop("term")
        .join(
            c1.select(F.col("term").alias("w2t"), F.col("c1").alias("cf")),
            pairs["w2"] == F.col("w2t"),
            "left",
        )
        .crossJoin(F.broadcast(tots))
        .select(
            "s",
            F.round(
                F.log(F.when(F.col("bc").isNotNull(), p_seen).otherwise(p_backoff))
                * F.lit(float(LOGPROB_SCALE))
            )
            .cast("long")
            .alias("ql"),
        )
    )
    return (
        spn.join(ql, "s")
        .groupBy("id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.round(
                F.sum(F.col("n") * F.col("ql")).cast("double")
                / (F.lit(float(LOGPROB_SCALE)) * F.sum("n")),
                6,
            ).alias("logprob"),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "logprob")
    )


# --- per-source reputation rollup -------------------------------------------------
# Keep/drop thresholds for the source governance gate (RefinedWeb-style
# domain filtering: a source whose pages are low-quality, duplicated
# boilerplate, or PII-heavy is dropped wholesale).
REP_QUALITY_MIN = 0.30
REP_DUP_MAX = 0.20
REP_PII_MAX = 0.60


def source_reputation(
    df,
    quality_min: float = REP_QUALITY_MIN,
    dup_max: float = REP_DUP_MAX,
    pii_max: float = REP_PII_MAX,
    text: str = "text",
    id_col: str = "doc_id",
    source: str = "source",
):
    """Per-source reputation rollup — the domain-governance gate of a
    webtext pipeline (RefinedWeb/C4 drop whole domains, not documents):
    per source, the doc count, mean composite quality, exact-dup rate
    (sha256 of the text appearing in >1 doc corpus-wide), PII incidence
    rate, and the keep/drop verdict against the thresholds.

    Exactness: the per-doc quality score (already 1e-6-rounded) is
    re-quantized to longs before the per-source sum — exact integer
    aggregation, order-independent (``unigram_logprob``'s trick); the
    three rates are single integer-over-integer divisions rounded to
    1e-6, and ``keep`` compares those ROUNDED values, so the verdict is
    bit-stable across engines.

    Scale shape: quality/PII/sha256 are all scan-side projections (text
    dies there); the dup flag is ONE window count over the sha key
    (partition = dup-cluster size, bounded); the rollup is one
    counters-only groupBy on the source. Source count is small but the
    groupBy input is (source, 3 counters) — partial aggregation
    collapses it map-side, so the small key space is not a skew wall.
    """
    from pyspark.sql import Window

    feats = quality_features(F.col(text))
    pii = pii_features(F.col(text))
    per_doc = df.select(
        F.col(source).alias("source"),
        F.round(feats["quality_score"] * F.lit(1000000.0))
        .cast("long")
        .alias("ql"),
        (
            (pii["n_emails"] + pii["n_phones"] + pii["n_ipv4s"]) > 0
        ).cast("int").alias("has_pii"),
        F.sha2(F.col(text), 256).alias("h"),
    )
    flagged = per_doc.withColumn(
        "c", F.count("*").over(Window.partitionBy("h"))
    )
    roll = flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("ql").alias("sq"),
        F.sum("has_pii").alias("np"),
        F.sum((F.col("c") > 1).cast("int")).alias("nd"),
    )
    mean_q = F.round(
        F.col("sq").cast("double")
        / (F.lit(1000000.0) * F.col("n_docs")),
        6,
    )
    pii_rate = F.round(F.col("np").cast("double") / F.col("n_docs"), 6)
    dup_rate = F.round(F.col("nd").cast("double") / F.col("n_docs"), 6)
    return roll.select(
        "source",
        "n_docs",
        mean_q.alias("mean_quality"),
        pii_rate.alias("pii_rate"),
        dup_rate.alias("dup_rate"),
        (
            (mean_q >= F.lit(quality_min))
            & (dup_rate <= F.lit(dup_max))
            & (pii_rate <= F.lit(pii_max))
        ).alias("keep"),
    )


def build_inverted_index(df, text: str = "text", id_col: str = "doc_id"):
    """Materialize the inverted index the retrieval pass (``bm25_topk``)
    probes — one row per term: document frequency, collection frequency,
    the highest-tf document (tf desc, id tie-break), and the full
    postings list serialized as a deterministic "doc:tf,…" string
    (ascending doc order — engine-independent, hashable, and the format
    a downstream index sink would write).

    Scale shape: one counters-only (doc, term) tf fold off the scan-side
    explode (text dies there), then one term-keyed fold that computes
    df/cf/argmax/postings together — two shuffles total, both carrying
    (term | doc, counter) rows. Per-term postings strings are bounded by
    document frequency; for web-scale stopword rows the same fold would
    shard by (term, doc_id % B) first — the q69/q68 quota-shard pattern —
    but the operator's contract (one row per term) is the index shape
    retrieval needs.
    """
    tf = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text))).alias("term"),
        )
        .groupBy("term", "id")
        .agg(F.count("*").alias("tf"))
    )
    return tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").alias("cf"),
        F.min_by("id", F.struct((-F.col("tf")).alias("ntf"), F.col("id"))).alias(
            "top_doc"
        ),
        F.max("tf").alias("top_tf"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("id", "tf"))),
                lambda s: F.concat_ws(":", s["id"], s["tf"]),
            ),
        ).alias("postings"),
    )


def langid_confusion(df, text: str = "text", true_col: str = "lang", id_col: str = "doc_id"):
    """Classifier-eval rollup for the language-ID heuristic: the
    (true, predicted) confusion matrix with per-true-language recall —
    the QA loop a pipeline runs when a stored `lang` column (upstream
    metadata) disagrees with the content-based classifier, before
    trusting either for mixture sampling (q57/q69 stratify on lang, so
    misclassification directly skews training mixtures).

    Scale shape: prediction is a pure column expression (codegen'd,
    scan-parallel); ONE counters-only groupBy on (true, pred) with
    map-side partial agg; the per-true totals join is on the tiny
    language key space (broadcast at any corpus size).
    """
    toks = tokens(F.col(text))
    cm = (
        df.select(
            F.col(true_col).alias("true_lang"),
            predicted_lang(toks).alias("pred_lang"),
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )
    totals = cm.groupBy("true_lang").agg(F.sum("n").alias("n_true"))
    return cm.join(F.broadcast(totals), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        "n_true",
        F.round(F.col("n").cast("double") / F.col("n_true"), 6).alias("frac"),
        (F.col("true_lang") == F.col("pred_lang")).alias("correct"),
    )


# --- DSIR importance resampling -------------------------------------------------
def dsir_weights(df, is_target, text: str = "text", id_col: str = "doc_id"):
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by how much more likely its tokens are under the TARGET distribution
    (the in-domain slice you want more of) than under the raw-corpus
    distribution — per-token mean of ln(p_target(w)/p_raw(w)) with add-1
    smoothing over the raw vocabulary. ``keep = importance > 0`` marks
    documents that look more target-like than corpus-average: the
    resampling pool.

    ``is_target`` is a boolean Column over ``df``'s rows (e.g.
    ``F.col("lang") == "en"``), so the target LM trains on a slice of the
    same scan — no second corpus pass.

    Exactness: the per-term log-ratio is quantized to 1e-6 longs BEFORE
    the per-document sum (unigram_logprob's trick), so the aggregate is
    an exact integer sum — order-independent at any parallelism, hence
    bit-replayable by the DuckDB oracle.

    Scale shape: text dies at the explode; the (doc, term) tf fold and
    the term-level cf fold (target counts ride the SAME fold as
    conditional sums — one pass, not two) are counters-only shuffles; the
    vocab size + both totals are ONE 1-row broadcast; the log-ratio table
    joins back on term. No driver actions.
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        is_target.alias("is_t"),
        F.explode(tokens(F.col(text))).alias("term"),
    )
    tf = tok.groupBy("id", "is_t", "term").agg(F.count("*").alias("tf"))
    cf = tf.groupBy("term").agg(
        F.sum("tf").alias("cf_r"),
        F.sum(F.when(F.col("is_t"), F.col("tf")).otherwise(F.lit(0))).alias(
            "cf_t"
        ),
    )
    tot = cf.agg(
        F.count("*").alias("vocab"),
        F.sum("cf_r").alias("tot_r"),
        F.sum("cf_t").alias("tot_t"),
    )
    lr = cf.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(
            F.log(
                (
                    (F.col("cf_t") + 1).cast("double")
                    / (F.col("tot_t") + F.col("vocab")).cast("double")
                )
                / (
                    (F.col("cf_r") + 1).cast("double")
                    / (F.col("tot_r") + F.col("vocab")).cast("double")
                )
            )
            * LOGPROB_SCALE
        )
        .cast("long")
        .alias("lr_q"),
    )
    out = (
        tf.join(lr, "term")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.col("lr_q")).cast("double")
                / (F.lit(float(LOGPROB_SCALE)) * F.sum("tf")),
                6,
            ).alias("importance"),
        )
    )
    return out.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "importance",
        (F.col("importance") > 0).alias("keep"),
    )


# --- CCNet perplexity buckets ----------------------------------------------------
def perplexity_buckets(scores, lp_col: str = "logprob", id_col: str = "doc_id"):
    """CCNet's head/middle/tail split (Wenzek et al. 2020): rank documents
    by LM score (``unigram_logprob`` output here; KenLM perplexity in
    CCNet) and cut the corpus into exact terciles — `head` trains the
    cleanest models, `tail` gets dropped or down-weighted.

    Scale shape — exact ntile WITHOUT the single-task global window: the
    quantized score column collapses to a (score, count) histogram first
    (counters only), the cumulative count runs over the DISTINCT-score
    histogram (orders of magnitude smaller than the corpus; the only
    serial step), and each document's exact global position is
    cum_before + its row_number within its own score partition (a keyed
    shuffle on the score value). The tercile thresholds ceil(n/3) /
    ceil(2n/3) reproduce SQL ntile(3) semantics exactly (remainder rows
    land in the earlier buckets), so the oracle is a plain
    ``ntile(3) OVER (ORDER BY logprob DESC, doc_id)``.
    """
    from pyspark.sql import Window

    s = scores.select(F.col(id_col).alias("id"), F.col(lp_col).alias("lp"))
    hist = s.groupBy("lp").agg(F.count("*").alias("cnt"))
    # serial step is over distinct score VALUES only (head/tail of the
    # histogram, not the corpus)
    w_hist = Window.orderBy(F.col("lp").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "lp", (F.sum("cnt").over(w_hist) - F.col("cnt")).alias("cum_before")
    )
    n_tot = hist.agg(F.sum("cnt").alias("n"))
    w_tie = Window.partitionBy("lp").orderBy("id")
    pos = (
        s.join(cum, "lp")
        .select(
            "id",
            "lp",
            (F.col("cum_before") + F.row_number().over(w_tie)).alias("pos"),
        )
        .crossJoin(F.broadcast(n_tot))
    )
    return pos.select(
        F.col("id").alias(id_col),
        F.col("lp").alias(lp_col),
        F.when(F.col("pos") <= F.ceil(F.col("n") / 3), F.lit("head"))
        .when(F.col("pos") <= F.ceil(F.col("n") * 2 / 3), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# --- robust outlier detection ----------------------------------------------------
def robust_outliers(
    df,
    val_col: str = "n_chars",
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    k: float = 3.0,
):
    """Median/MAD outlier flags per stratum — the robust length screen a
    curation pass runs before the quality gates (C4 drops too-short docs
    by fiat; MAD adapts the cutoff per language, where 'normal' lengths
    differ by script). ``is_outlier`` = |x − median| > k·MAD, with the
    MAD=0 degenerate stratum flagging nothing (a constant column has no
    outliers under this statistic).

    Exactness: medians are LOWER medians (the ceil(n/2)-th order
    statistic) computed from a value histogram — integer select, no
    interpolation — so both engines agree bit-for-bit and the oracle is
    the same CTE chain, not an engine ``median()`` whose even-n
    interpolation differs.

    Scale shape — exact order statistics WITHOUT sorting the corpus
    (perplexity_buckets' histogram trick, twice): values collapse to a
    (stratum, value, count) histogram — counters only; the cumulative
    walk runs over DISTINCT values per stratum; the median joins back as
    a per-stratum scalar (broadcastable: one row per stratum). The MAD
    repeats the same shape over |x − median|. Six counter-sized
    exchanges total, document text never enters any of them.
    """
    from pyspark.sql import Window

    s = df.select(
        F.col(id_col).alias("id"),
        F.col(stratum_col).alias("st"),
        F.col(val_col).cast("long").alias("x"),
    )

    def lower_median(rows, col):
        hist = rows.groupBy("st", col).agg(F.count("*").alias("cnt"))
        w_cum = (
            Window.partitionBy("st")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_tot = Window.partitionBy("st")
        cum = hist.select(
            "st",
            F.col(col),
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_tot).alias("tot"),
        )
        return (
            cum.where(F.col("cum") >= F.ceil(F.col("tot") / 2))
            .groupBy("st")
            .agg(F.min(col).alias("med"))
        )
    med = lower_median(s, "x")
    dev = s.join(med, "st").select(
        "id", "st", "x", "med", F.abs(F.col("x") - F.col("med")).alias("d")
    )
    mad = lower_median(dev.select("st", F.col("d").alias("x")), "x").select(
        "st", F.col("med").alias("mad")
    )
    return dev.join(mad, "st").select(
        F.col("id").alias(id_col),
        F.col("st").alias(stratum_col),
        F.col("x").alias(val_col),
        F.col("med").alias("median"),
        "mad",
        ((F.col("mad") > 0) & (F.col("d") > F.lit(k) * F.col("mad"))).alias(
            "is_outlier"
        ),
    )


# --- soft-404 detection ------------------------------------------------------
# A soft 404 is a page served with HTTP 200 whose content is actually an
# error page ("page not found", "no longer available", ...). The reference
# trusts status codes alone (components/crawler/core/page_fetcher.py success
# path), so soft 404s enter its corpus as real pages — a well-known crawl
# pollution source. Detection is per-page phrase + length signals calibrated
# against the HOST's average page length: error templates are near-constant
# and far shorter than the host's organic pages.
SOFT404_PHRASES = (
    "page not found",
    "404 not found",
    "error 404",
    "does not exist",
    "no longer available",
    "page cannot be found",
)
SOFT404_SHORT_TOKENS = 20       # absolute floor: error templates are tiny
SOFT404_HOST_LEN_FRAC = 0.25    # … or far below the host's mean length


def soft404_signals(
    df,
    url: str = "url",
    host: str = "host",
    text: str = "text",
    title: str = "title",
):
    """Per-page soft-404 classification → ``(url, host, n_tokens,
    has_error_phrase, title_hit, is_short, short_vs_host, is_soft404)``.

    is_soft404 = error phrase in body AND (absolutely short OR shorter
    than SOFT404_HOST_LEN_FRAC × the host's mean token count). Title
    hits alone never condemn a page (an article ABOUT error pages
    mentions 404 in its title); body phrase + brevity must co-occur.

    Scale shape: phrase/length signals are pure column expressions
    (one pass, codegen); the host calibration is one keyed groupBy on
    host producing an integer-sum mean (exact arithmetic — no
    distributed-float ordering hazard) joined back broadcast-or-keyed by
    AQE. At 10^10 pages the host-mean table is O(hosts) ≈ 10^8 rows,
    comfortably shuffle-joinable; nothing all-pairs, no windows.
    """
    toks = tokens(F.col(text))
    n = F.size(toks)
    phrase_hit = F.lit(False)
    for p in SOFT404_PHRASES:
        phrase_hit = phrase_hit | F.lower(F.col(text)).contains(p)
    title_hit = F.lit(False)
    for p in SOFT404_PHRASES:
        title_hit = title_hit | F.lower(F.col(title)).contains(p)
    page = df.select(
        F.col(url).alias("url"),
        F.col(host).alias("host"),
        n.alias("n_tokens"),
        phrase_hit.alias("has_error_phrase"),
        title_hit.alias("title_hit"),
    )
    host_mean = page.groupBy("host").agg(
        # integer sum / integer count: deterministic across partitionings
        (F.sum("n_tokens").cast("double") / F.count("*")).alias("host_mean_tokens")
    )
    out = page.join(host_mean, "host")
    is_short = F.col("n_tokens") < F.lit(SOFT404_SHORT_TOKENS)
    short_vs_host = (
        F.col("n_tokens").cast("double")
        < F.lit(SOFT404_HOST_LEN_FRAC) * F.col("host_mean_tokens")
    )
    return out.select(
        "url",
        "host",
        "n_tokens",
        "has_error_phrase",
        "title_hit",
        is_short.alias("is_short"),
        short_vs_host.alias("short_vs_host"),
        (
            F.col("has_error_phrase") & (is_short | short_vs_host)
        ).alias("is_soft404"),
    )


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models: ...
# Gopher", appendix A1.1) — the published document-level heuristic filter
# suite most 100 TB-class web-text pipelines start from. The reference
# parses pages one message at a time (components/parser/services/
# parser_service.py) and never quality-gates them; at training-data scale
# the gate is the first corpus pass after extraction. All rules are pure
# Column expressions (whole-stage codegen, no Python), so the filter runs
# at scan speed and pushes nothing to the driver.
# --------------------------------------------------------------------------
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_FRAC = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOP_HITS = 2


def gopher_rules(df, id_col: str = "doc_id", text: str = "text"):
    """Gopher quality-rule audit over line-structured documents →
    one row per doc: the measured features, one boolean per rule, and
    the composite ``keep``.

    ``text`` is newline-joined lines (the shape html→text extraction
    emits). Words are whitespace-delimited runs — bullets and ellipsis
    markers count as words, exactly as in the published rules (they are
    what the symbol/alpha ratios exist to catch). Double arithmetic is
    explicit and ordered so the DuckDB oracle replays it bit-for-bit.

    Scale: one narrow projection — no shuffle, no UDF, no explode; the
    per-doc word/line arrays live only inside the projection.
    """
    t = F.col(text)
    words = F.filter(F.split(t, "[ \n]"), lambda w: w != "")
    lines = F.split(t, "\n")
    n_words = F.size(words)
    nd = n_words.cast("double")
    n_lines = F.size(lines)
    word_chars = F.aggregate(
        words, F.lit(0).cast("double"), lambda acc, w: acc + F.length(w)
    )
    mean_len = F.when(n_words > 0, word_chars / nd).otherwise(F.lit(0.0))
    hash_count = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    ellipsis_count = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = F.when(
        n_words > 0, (hash_count + ellipsis_count).cast("double") / nd
    ).otherwise(F.lit(0.0))
    bullet_lines = F.size(F.filter(lines, lambda l: l.startswith("- ")))
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.endswith("...")))
    nld = n_lines.cast("double")
    bullet_frac = F.when(n_lines > 0, bullet_lines.cast("double") / nld).otherwise(
        F.lit(0.0)
    )
    ellipsis_frac = F.when(
        n_lines > 0, ellipsis_lines.cast("double") / nld
    ).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    alpha_frac = F.when(n_words > 0, alpha_words.cast("double") / nd).otherwise(
        F.lit(0.0)
    )
    stop_hits = F.size(F.filter(words, lambda w: w.isin(*GOPHER_STOPWORDS)))
    r_wordcount = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r_mean_len = (mean_len >= GOPHER_MIN_MEAN_LEN) & (
        mean_len <= GOPHER_MAX_MEAN_LEN
    )
    r_symbol = symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO
    r_bullet = bullet_frac <= GOPHER_MAX_BULLET_FRAC
    r_ellipsis = ellipsis_frac <= GOPHER_MAX_ELLIPSIS_FRAC
    r_alpha = alpha_frac >= GOPHER_MIN_ALPHA_FRAC
    r_stop = stop_hits >= GOPHER_MIN_STOP_HITS
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_frac"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        r_wordcount.alias("r_wordcount"),
        r_mean_len.alias("r_mean_len"),
        r_symbol.alias("r_symbol"),
        r_bullet.alias("r_bullet"),
        r_ellipsis.alias("r_ellipsis"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stop"),
        (
            r_wordcount
            & r_mean_len
            & r_symbol
            & r_bullet
            & r_ellipsis
            & r_alpha
            & r_stop
        ).alias("keep"),
    )


# --------------------------------------------------------------------------
# C4-style line cleaning (Raffel et al. 2020, the C4 pipeline): per-line
# keep rules (≥3 words, terminal punctuation, no policy/boilerplate
# words) plus the corpus-wide pass C4 is known for — any line that occurs
# more than once in the WHOLE corpus is kept only at its first occurrence.
# That global pass is the genuinely distributed part: one shuffle keyed by
# the line text (Spark hash-partitions the key; at 10^10 pages this is a
# plain keyed window over ~10^11 short rows, no driver state).
# --------------------------------------------------------------------------
C4_MIN_LINE_WORDS = 3
C4_BANNED_WORDS = ("javascript", "cookie", "lorem")
C4_TERMINAL_RE = '[.!?"]$'


def c4_line_filter(df, id_col: str = "doc_id", text: str = "text"):
    """C4 line-level cleaning + corpus-level exact line dedup → one row
    per doc: line counts by drop reason and the md5 of the cleaned,
    reassembled text.

    Drop reasons are assigned in fixed precedence (short → no_punct →
    banned → dup_line) so each line counts exactly once. The dedup
    window orders occurrences by (doc_id, line_idx) — deterministic
    first-writer-wins, the same tie rule as the engine's claim operator
    (frontier.claim_first_wins).
    """
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text), "\n")).alias("line_idx", "line"),
    )
    n_line_words = F.size(F.filter(F.split(F.col("line"), " "), lambda w: w != ""))
    banned = F.lit(False)
    for w in C4_BANNED_WORDS:
        banned = banned | F.col("line").contains(w)
    flagged = lines.select(
        id_col,
        "line_idx",
        "line",
        (n_line_words < C4_MIN_LINE_WORDS).alias("is_short"),
        (~F.col("line").rlike(C4_TERMINAL_RE)).alias("is_nopunct"),
        banned.alias("is_banned"),
    )
    ok = ~(F.col("is_short") | F.col("is_nopunct") | F.col("is_banned"))
    # corpus-wide first occurrence among line-rule survivors (C4 dedups
    # the text that would otherwise ship) — losers keep occ > 1. The
    # window ranks EVERY occurrence, not just survivors; that is exact
    # only because the three line rules are pure functions of the line
    # text, so all rows of one `line` partition pass or fail together
    w_line = Window.partitionBy("line").orderBy(id_col, "line_idx")
    flagged = flagged.withColumn(
        "occ",
        F.when(ok, F.row_number().over(w_line)).otherwise(F.lit(1)),
    )
    reason = (
        F.when(F.col("is_short"), "short")
        .when(F.col("is_nopunct"), "no_punct")
        .when(F.col("is_banned"), "banned")
        .when(F.col("occ") > 1, "dup_line")
        .otherwise("kept")
    )
    tagged = flagged.select(id_col, "line_idx", "line", reason.alias("reason"))
    kept_struct = F.when(
        F.col("reason") == "kept",
        F.struct(F.col("line_idx"), F.col("line")),
    )
    return tagged.groupBy(id_col).agg(
        F.count("*").alias("n_lines"),
        F.sum((F.col("reason") == "kept").cast("int")).alias("n_kept"),
        F.sum((F.col("reason") == "short").cast("int")).alias("n_short"),
        F.sum((F.col("reason") == "no_punct").cast("int")).alias("n_nopunct"),
        F.sum((F.col("reason") == "banned").cast("int")).alias("n_banned"),
        F.sum((F.col("reason") == "dup_line").cast("int")).alias("n_dupline"),
        F.md5(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.getField("line"),
                ),
            )
        ).alias("clean_hash"),
    )
