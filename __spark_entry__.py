"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship end-to-end BFS crawl (frontier round loop) on
the sf0.001 documents-derived corpus. ``queries`` exposes one entry per
operator family from SURVEY.md §2 plus the training-data-pipeline tier
(dedup / similarity / text analysis / multimodal); ``oracle_sql`` gives
the DuckDB-dialect ground truth for each. Implementations live in
``wikifrontier/queries.py`` — this module is the thin adapter.

Oracle-SQL parity rules observed throughout:
* identical column aliases and value-affecting operation order as the
  Spark side (the driver hashes values after sorting columns by name);
* only engine-portable primitives: sha256 hex, string min/instr, double
  left-folds with round(…, 6), exact decimal sums — never engine-native
  64-bit hashes or order-sensitive double aggregation.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from wikifrontier import queries as Q
from wikifrontier.corpus import (
    EDGE_PARAMS,
    URL_PREFIX,
    bfs_layers_oracle_sql,
    page_content_oracle_sql,
    recrawl_oracle_sql,
    retry_crawl_oracle_sql,
    retry_recrawl_oracle_sql,
)
from wikifrontier.dedup import (
    CONTAINMENT_MAX_DF, CONTAM_MIN_OVERLAP, LSH_BANDS, MINHASH_PERMS,
    MINHASH_SLICE, SEGMENT_LEN, SIMHASH_BANDS, SIMHASH_BITS,
    SUBSTR_DUP_FRAC, SUBSTR_WINDOW,
)
from wikifrontier.filters import TRAP_AMPLIFICATION, TRAP_AVG_DEPTH, TRAP_PARAM_FRAC
from wikifrontier.frontier import ERROR_TYPES
from wikifrontier.linkgraph import (
    COCITE_MAX_OUT,
    PAGERANK_DAMPING,
    PAGERANK_ITERATIONS,
)
from wikifrontier.similarity import SEMDEDUP_THRESHOLD, jl_sign_matrix
from wikifrontier.streaming import SESSION_GAP_SEC
from wikifrontier.textops import (
    BM25_B, BM25_K1, BM25_QUERIES, BM25_SHARDS, BM25_TOP_K,
    BPE_RE, BUDGET_SHARDS, CHUNK_TOKENS, LANG_PROFILES, PACK_BUCKETS,
    PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE, REP_DUP_MAX, REP_PII_MAX,
    REP_QUALITY_MIN, SAMPLE_HEX_DIGITS, SEQ_BUDGET,
    STOPWORDS, TFIDF_TOP_K, TOKEN_BUDGETS, TOKEN_BUDGET_DEFAULT, TOKEN_RE,
    sample_threshold_hex,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full BFS crawl of the sf0.001 corpus; returns the BFS
    layer table (url, depth, status, first_crawled_round)."""
    _ensure_shipped(spark)
    return Q.q10_bfs_crawl(spark, "/root/testdata/sf0.001")


def _ensure_shipped(spark: SparkSession) -> None:
    """The pandas UDFs reference wikifrontier modules by name, so executor
    Python workers must be able to import the package. The driver may hand
    us a bare SparkSession (no --py-files) — ship the package via
    addPyFile defensively (idempotent)."""
    from wikifrontier.session import _ship_package

    _ship_package(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_shipped(spark)
            return fn(spark, sf_dir)

        run.__doc__ = fn.__doc__
        return run

    return {name: wrap(fn) for name, fn in Q.ALL_QUERIES.items()}


# --------------------------------------------------------------------------
# Shared SQL fragments (DuckDB dialect)
# --------------------------------------------------------------------------
TOKS = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"

CAND = """
cand AS (
  SELECT doc_id,
    'https://'
      || (CASE WHEN doc_id % 20 = 0 THEN 'example.com' ELSE 'en.wikipedia.org' END)
      || (CASE WHEN doc_id % 7 = 0 THEN '/wiki/Special:Doc_'
               WHEN doc_id % 11 = 0 THEN '/wiki/Help:Doc_'
               ELSE '/wiki/Doc_' END)
      || doc_id
      || (CASE WHEN doc_id % 3 = 0 THEN '#frag'
               WHEN doc_id % 3 = 1 THEN '?q=1'
               ELSE '' END) AS url,
    CAST(doc_id % 6 AS INT) AS depth
  FROM documents
)"""

CANON = """
canon AS (
  SELECT doc_id, url, regexp_replace(url, '[#?].*$', '') AS canonical_url, depth
  FROM cand
)"""

PARSED = """
parsed AS (
  SELECT *,
    regexp_extract(canonical_url, '^https://([^/]+)', 1) AS host,
    regexp_extract(canonical_url, '^https://[^/]+(/.*)$', 1) AS path
  FROM canon
)"""

_PREFIXES = (
    "/wiki/Special:", "/wiki/Help:", "/wiki/Portal:", "/wiki/File:",
    "/wiki/Template:", "/wiki/Template_talk:", "/wiki/Wikipedia:",
    "/wiki/Talk:", "/wiki/Category:", "/wiki/Book:", "/wiki/User:",
    "/wiki/Module:", "/wiki/Project:", "/wiki/Main_Page",
)
PREFIX_HIT = " OR ".join(f"starts_with(path, '{p}')" for p in _PREFIXES)

FILTER_REASON = f"""
  CASE WHEN depth > 4 THEN 'depth'
       WHEN host NOT IN ('en.wikipedia.org') THEN 'domain'
       WHEN {PREFIX_HIT} THEN 'prefix'
       WHEN regexp_replace(path, '^/+|/+$', '', 'g') = ''
            AND host IN ('', 'en.wikipedia.org') THEN 'home_page'
       ELSE NULL END
"""

# q32 ruleset (queries.ROBOTS_Q32) with precedence pre-resolved: denied iff
# some Disallow prefix matches and no longer Allow prefix does
FILTER_REASON_ROBOTS = f"""
  CASE WHEN depth > 4 THEN 'depth'
       WHEN host NOT IN ('en.wikipedia.org') THEN 'domain'
       WHEN {PREFIX_HIT} THEN 'prefix'
       WHEN regexp_replace(path, '^/+|/+$', '', 'g') = ''
            AND host IN ('', 'en.wikipedia.org') THEN 'home_page'
       WHEN NOT starts_with(path, '/wiki/Doc_77')
            AND (starts_with(path, '/wiki/Doc_7')
                 OR starts_with(path, '/wiki/Doc_3')) THEN 'robots_txt'
       ELSE NULL END
"""

_ERR_LIST = ", ".join(f"'{t}'" for t in ERROR_TYPES)
ERROR_CLASS = (
    f"([{_ERR_LIST}])"
    "[((instr('0123456789abcdef', substr(sha256(url), 1, 1)) - 1) % 6) + 1]"
)

EVENT_FRONTIER = """
pending AS (
  SELECT 'https://en.wikipedia.org/wiki/E' || event_id AS url,
         CAST(user_id % 5 AS INT) AS depth,
         CAST(event_id % 3 AS INT) AS scheduled_round,
         event_type AS source_page_url
  FROM events
)"""

# documents ∪ derived near-duplicates (queries.neardup_docs)
NEARDUP = f"""
toks0 AS (SELECT doc_id, text, lang, {TOKS} AS t FROM documents),
docs AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(t[1:greatest(len(t)-3, 1)], ' '),
         lang
  FROM toks0
)"""

SHINGLE3 = (
    "CASE WHEN len(t) >= 3 THEN "
    "list_transform(generate_series(1, CAST(len(t)-2 AS INT)), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) "
    "ELSE [] END"
)


def _minhash_sig_sql(source: str) -> str:
    """Signature CTE over `source` (needs doc_id, text) — one sha256 per
    shingle, disjoint 5-hex-char slices as permutations (dedup.
    minhash_component)."""
    mins = ",\n    ".join(
        f"min(substr(h, {1 + p * MINHASH_SLICE}, {MINHASH_SLICE})) AS h{p}"
        for p in range(MINHASH_PERMS)
    )
    return f"""
tok AS (SELECT doc_id, {TOKS} AS t FROM {source}),
sh AS (SELECT doc_id, unnest({SHINGLE3}) AS shingle FROM tok),
shh AS (SELECT doc_id, sha256(shingle) AS h FROM sh),
sig AS (
  SELECT doc_id, {mins}
  FROM shh GROUP BY doc_id
)"""


def _band_exprs() -> list[str]:
    rows = MINHASH_PERMS // LSH_BANDS
    out = []
    for b in range(LSH_BANDS):
        parts = " || '|' || ".join(f"h{b * rows + r}" for r in range(rows))
        out.append(f"sha256('{b}' || '|' || {parts})")
    return out


def _simhash_sql(source: str) -> str:
    votes = ",\n    ".join(
        f"sum(((instr('0123456789abcdef', substr(h, {j + 1}, 1)) - 1) % 2) * 2 - 1) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
tok AS (SELECT doc_id, unnest(list_distinct({TOKS})) AS tk FROM {source}),
th AS (SELECT doc_id, sha256(tk) AS h FROM tok),
votes AS (SELECT doc_id, {votes} FROM th GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes"""


def _simhash_cte(source: str) -> str:
    """Same computation as _simhash_sql but packaged as a `sim` CTE."""
    body = _simhash_sql(source)
    ctes, final = body.rsplit("SELECT", 1)
    return f"{ctes.rstrip()},\nsim AS (SELECT{final})"


def _kmeans_sql(iters: int = 2, k: int = 8) -> str:
    """CTE chain replaying similarity.kmeans_centroids: c0 = seed codebook,
    then per iteration argmax-assign → quantized-exact per-dim means →
    codebook rebuild with empty-cluster fallback. Final codebook CTE is
    c{iters} (centroid_id, cvec)."""
    cos = COSINE.format(a="v.embedding", b="c.cvec")
    parts = [
        f"""c0 AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings WHERE vec_id < {k}
)"""
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        parts.append(f"""a{i} AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {cos} DESC, c.centroid_id) AS rn
    FROM embeddings v CROSS JOIN {prev} c
  ) WHERE rn = 1
),
ex{i} AS (
  SELECT a.centroid_id,
         unnest(generate_series(1, len(v.embedding))) AS pos,
         unnest(v.embedding) AS x
  FROM embeddings v JOIN a{i} a USING (vec_id)
),
m{i} AS (
  SELECT centroid_id, pos,
         CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
           / count(*) / 1000000 AS m
  FROM ex{i} GROUP BY centroid_id, pos
),
cn{i} AS (
  SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM m{i} GROUP BY centroid_id
),
c{i} AS (
  SELECT * FROM cn{i}
  UNION ALL
  SELECT p.centroid_id, p.cvec FROM {prev} p
  WHERE p.centroid_id NOT IN (SELECT centroid_id FROM cn{i})
)""")
    return ",\n".join(parts)


COSINE = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)

SIGN_BUCKET = " + ".join(
    f"(CASE WHEN CAST({{v}}[{i + 1}] AS DOUBLE) > 0 THEN {1 << i} ELSE 0 END)"
    for i in range(6)
)

_MARKER_LIST = {
    lang: ", ".join(f"'{m}'" for m in markers)
    for lang, markers in LANG_PROFILES.items()
}
_STOP_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)


# shared q101 fixture body: page edges (dup mention planted) → distinct →
# host extraction → (src_host, dst_host, n_edges, n_src_pages) rollup
_HOST_HG = """
pg AS (
  SELECT
    'https://m' || (doc_id % 5) || '.example.org/p/' || (doc_id % 200) AS src,
    t AS dst
  FROM documents, UNNEST([
    'https://m' || ((doc_id * 31 + 7) % 5) || '.example.org/p/'
        || ((doc_id * 31 + 7) % 200),
    'https://m' || ((doc_id * 17 + 3) % 5) || '.example.org/p/'
        || ((doc_id * 17 + 3) % 200),
    'https://m' || (doc_id % 5) || '.example.org/p/' || ((doc_id + 1) % 200),
    'https://m' || ((doc_id * 31 + 7) % 5) || '.example.org/p/'
        || ((doc_id * 31 + 7) % 200)
  ]) AS u(t)
),
e0 AS (SELECT DISTINCT src, dst FROM pg),
he AS (
  SELECT split_part(split_part(src, '://', 2), '/', 1) AS src_host,
         split_part(split_part(dst, '://', 2), '/', 1) AS dst_host,
         src AS src_page
  FROM e0
),
hg AS (
  SELECT src_host, dst_host,
         count(*) AS n_edges,
         count(DISTINCT src_page) AS n_src_pages
  FROM he GROUP BY 1, 2
)"""


def _host_pagerank_sql() -> str:
    """q109 oracle: chained-CTE replay of linkgraph.pagerank_weighted over
    the q101 host rollup — contributions are pr × w / Σw_out with integer
    weights (exact normalizer); the dangling term is structurally present
    but zero here (every host links out)."""
    d = f"CAST({PAGERANK_DAMPING} AS DOUBLE)"
    iters = []
    prev = "it0"
    for k in range(1, PAGERANK_ITERATIONS + 1):
        iters.append(f"""
it{k} AS (
  SELECT nodes.id,
         (CAST(1 AS DOUBLE) - {d}) / nn.n
         + {d} * (coalesce(inf.w, CAST(0 AS DOUBLE))
                  + (SELECT coalesce(sum(pr), CAST(0 AS DOUBLE)) FROM {prev}
                     WHERE id NOT IN (SELECT src FROM edges)) / nn.n) AS pr
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT dst AS id, sum(pr * w / ow) AS w
    FROM edges JOIN {prev} pv ON pv.id = edges.src
               JOIN outw USING (src)
    GROUP BY dst
  ) inf ON inf.id = nodes.id
)""")
        prev = f"it{k}"
    its = ",".join(iters)
    return f"""
WITH {_HOST_HG},
edges AS (
  SELECT src_host AS src, dst_host AS dst, n_edges AS w FROM hg
),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
outw AS (SELECT src, CAST(sum(w) AS DOUBLE) AS ow FROM edges GROUP BY src),
it0 AS (SELECT nodes.id, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),{its}
SELECT id AS host, round(pr, 8) AS host_rank FROM {prev}
"""


# q111 oracle body: replay attach_images_formula's closed-form pixels +
# dhash_from_bmp's grid/gray/bit arithmetic — all exact integer math.
# pix(off) = (base*7 + off²*11 + off) % 256, +64 (mod 256) on every 97th
# byte of the perturbed member; gray = (b+g+r)//3 at storage offset
# stride*sy + 3*sx; the cells CTE materializes the offset once per
# sampled pixel so the formula appears once per channel.
def _dhash_pix(off_expr: str) -> str:
    body = f"(base*7 + ({off_expr})*({off_expr})*11 + ({off_expr})) % 256"
    return (
        f"(CASE WHEN perturb AND ({off_expr}) % 97 = 0 "
        f"THEN ({body} + 64) % 256 ELSE {body} END)"
    )


_DHASH_HASHES = f"""
imgs AS (
  SELECT doc_id AS media_id,
         (doc_id - doc_id % 5) AS base,
         CAST(((doc_id - doc_id % 5) % 13) + 9 AS INT) AS w,
         CAST(((doc_id - doc_id % 5) % 7) + 8 AS INT) AS h,
         (doc_id % 5 = 1) AS perturb
  FROM documents
),
cells AS (
  SELECT media_id, w, h, base, perturb, r, c,
         (((3*w+3)//4)*4) * ((r*h)//8) + 3*((c*w)//9) AS o
  FROM imgs, unnest(range(8)) AS gr(r), unnest(range(9)) AS gc(c)
),
gray AS (
  SELECT media_id, w, h, r, c,
    ({_dhash_pix("o")} + {_dhash_pix("o + 1")} + {_dhash_pix("o + 2")}) // 3
      AS g
  FROM cells
),
bits AS (
  SELECT a.media_id, a.r, a.c,
         CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
  FROM gray a JOIN gray b
    ON b.media_id = a.media_id AND b.r = a.r AND b.c = a.c + 1
  WHERE a.c < 8
),
hashes AS (
  SELECT b.media_id, i.w AS width, i.h AS height,
    CAST(sum(CASE WHEN r*8+c >= 32 THEN bit * (1::BIGINT << (r*8+c-32))
                  ELSE 0 END) AS BIGINT) AS dhash_hi,
    CAST(sum(CASE WHEN r*8+c < 32 THEN bit * (1::BIGINT << (r*8+c))
                  ELSE 0 END) AS BIGINT) AS dhash_lo
  FROM bits b JOIN imgs i USING (media_id)
  GROUP BY 1, 2, 3
)"""


# q113 oracle body: replay attach_audio_formula's closed-form samples +
# wav_fingerprint's window/mean/bit arithmetic — exact integer math.
# byte(j) = (base*11 + j²·qa + j·qb) % 256 (+32 mod 256 on every 53rd
# byte of the perturbed member); sample i = signed16le(byte(2i),
# byte(2i+1)); window w = (i·64)//n; e_w = Σ|amp| // count.
def _afp_pix(off_expr: str) -> str:
    body = (
        f"(base*11 + ({off_expr})*({off_expr})*qa + ({off_expr})*qb) % 256"
    )
    return (
        f"(CASE WHEN perturb AND ({off_expr}) % 53 = 0 "
        f"THEN ({body} + 32) % 256 ELSE {body} END)"
    )


_AFP_HASHES = f"""
clips AS (
  SELECT doc_id AS media_id,
         (doc_id - doc_id % 5) AS base,
         CAST(((doc_id - doc_id % 5) % 97) + 64 AS INT) AS n,
         ((doc_id - doc_id % 5) % 7) + 3 AS qa,
         ((doc_id - doc_id % 5) % 11) + 1 AS qb,
         (doc_id % 5 = 1) AS perturb
  FROM documents
),
samples AS (
  SELECT media_id, n, i,
         {_afp_pix("2*i")} + 256 * {_afp_pix("2*i + 1")} AS s
  FROM clips, unnest(range(n)) AS gi(i)
),
amps AS (
  SELECT media_id, (i*64)//n AS w,
         abs(s - CASE WHEN s >= 32768 THEN 65536 ELSE 0 END) AS amp
  FROM samples
),
es AS (
  SELECT media_id, w, CAST(sum(amp) // count(*) AS BIGINT) AS e
  FROM amps GROUP BY 1, 2
),
abits AS (
  SELECT a.media_id, a.w, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
  FROM es a JOIN es b ON b.media_id = a.media_id AND b.w = a.w + 1
  WHERE a.w < 63
),
fps AS (
  SELECT c.media_id, c.n AS n_samples,
    CAST(sum(CASE WHEN w >= 32 THEN bit * (1::BIGINT << (w-32))
                  ELSE 0 END) AS BIGINT) AS afp_hi,
    CAST(sum(CASE WHEN w < 32 THEN bit * (1::BIGINT << w)
                  ELSE 0 END) AS BIGINT) AS afp_lo
  FROM abits JOIN clips c USING (media_id)
  GROUP BY 1, 2
)"""


# q115 oracle body: replay attach_videos_formula's closed-form luma +
# dhash_from_luma's grid/compare/bit arithmetic over the SAMPLED frames
# (every 3rd). luma(f, o) = ((o+f)²·qa + o·qb + base·13) % 256, +48
# (mod 256) where the CONCATENATED-stream index f·w·h+o hits every 89th
# byte of the perturbed member; grid gray is the luma byte at
# o = w·((r·h)//8) + (c·w)//9 directly (no channel mean).
def _vid_pix(off_expr: str) -> str:
    body = (
        f"((({off_expr})+f)*(({off_expr})+f)*qa + ({off_expr})*qb"
        f" + base*13) % 256"
    )
    return (
        f"(CASE WHEN perturb AND (f*w*h + ({off_expr})) % 89 = 0 "
        f"THEN ({body} + 48) % 256 ELSE {body} END)"
    )


_VFRAME_HASHES = f"""
vids AS (
  SELECT doc_id AS media_id,
         (doc_id - doc_id % 5) AS base,
         CAST(((doc_id - doc_id % 5) % 11) + 8 AS INT) AS w,
         CAST(((doc_id - doc_id % 5) % 5) + 8 AS INT) AS h,
         ((doc_id - doc_id % 5) % 13) + 10 AS nf,
         ((doc_id - doc_id % 5) % 7) + 5 AS qa,
         ((doc_id - doc_id % 5) % 11) + 3 AS qb,
         (doc_id % 5 = 1) AS perturb
  FROM documents
),
sframes AS (
  SELECT media_id, base, w, h, qa, qb, perturb, f
  FROM vids, unnest(range(0, nf, 3)) AS gf(f)
),
vcells AS (
  SELECT media_id, w, h, base, qa, qb, perturb, f, r, c,
         w * ((r*h)//8) + (c*w)//9 AS o
  FROM sframes, unnest(range(8)) AS gr(r), unnest(range(9)) AS gc(c)
),
vgray AS (
  SELECT media_id, f, r, c, {_vid_pix("o")} AS g FROM vcells
),
vbits AS (
  SELECT a.media_id, a.f, a.r, a.c,
         CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
  FROM vgray a JOIN vgray b
    ON b.media_id = a.media_id AND b.f = a.f
   AND b.r = a.r AND b.c = a.c + 1
  WHERE a.c < 8
),
vhashes AS (
  SELECT media_id, CAST(f AS INT) AS frame_idx,
    CAST(sum(CASE WHEN r*8+c >= 32 THEN bit * (1::BIGINT << (r*8+c-32))
                  ELSE 0 END) AS BIGINT) AS dhash_hi,
    CAST(sum(CASE WHEN r*8+c < 32 THEN bit * (1::BIGINT << (r*8+c))
                  ELSE 0 END) AS BIGINT) AS dhash_lo
  FROM vbits
  GROUP BY 1, 2
)"""


# q117/q118 oracle scaffold: the 40-host planted-community fixture +
# chained-CTE replay of label_propagation's synchronous rounds. Winner
# pick replays min(struct(-c, label)) as row_number ORDER BY c DESC,
# label ASC; symmetrization is the UNION (deduping) of both directions.
def _lpa_rounds_sql(iterations: int = 4) -> str:
    parts = ["""
hostidx AS (SELECT doc_id, doc_id % 40 AS hs FROM documents),
rawe AS (
  SELECT hs AS si, ((hs - hs % 5) + (hs % 5 + 1) % 5) AS di FROM hostidx
  UNION ALL
  SELECT hs, ((hs - hs % 5) + (hs % 5 + 2) % 5) FROM hostidx
  UNION ALL
  SELECT hs, (hs + 5) % 40 FROM hostidx WHERE doc_id % 23 = 0
),
ledges AS (
  SELECT DISTINCT
    'c' || (si // 5) || 'h' || (si % 5) || '.example.org' AS a,
    'c' || (di // 5) || 'h' || (di % 5) || '.example.org' AS b
  FROM rawe WHERE si <> di
),
und AS (SELECT a, b FROM ledges UNION SELECT b, a FROM ledges),
lnodes AS (SELECT DISTINCT a AS id FROM und),
l0 AS (SELECT id, id AS label FROM lnodes)"""]
    prev = "l0"
    for k in range(1, iterations + 1):
        parts.append(f"""
v{k} AS (
  SELECT u.a AS v, l.label, count(*) AS c
  FROM und u JOIN {prev} l ON l.id = u.b GROUP BY 1, 2
),
l{k} AS (
  SELECT v AS id, label FROM (
    SELECT v, label,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, label ASC)
             AS rn
    FROM v{k}
  ) WHERE rn = 1
)""")
        prev = f"l{k}"
    return ",".join(parts)


# q121 oracle scaffold: per-subspace replay of pq_codebooks (the q28
# k-means recipe sliced to 16-dim subvectors), the encode argmin, and the
# per-query ADC distance tables with 1e-6-quantized integer sums.
_PQ_L2 = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
    "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
)


def _pq_sql(m: int = 4, k: int = 8, dsub: int = 16) -> str:
    parts = ["""pqv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)"""]
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        av = _PQ_L2.format(a="v.svec", b="c.cvec")
        aq = _PQ_L2.format(a="q.svec", b="c.cvec")
        parts.append(f"""sv{s} AS (SELECT vec_id, v[{lo}:{hi}] AS svec FROM pqv),
cb{s}0 AS (
  SELECT vec_id AS centroid_id, svec AS cvec FROM sv{s} WHERE vec_id < {k}
),
as{s}1 AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
      row_number() OVER (PARTITION BY v.vec_id
        ORDER BY {av} ASC, c.centroid_id) AS rn
    FROM sv{s} v CROSS JOIN cb{s}0 c
  ) WHERE rn = 1
),
ex{s}1 AS (
  SELECT a.centroid_id,
         unnest(generate_series(1, len(v.svec))) AS pos,
         unnest(v.svec) AS x
  FROM sv{s} v JOIN as{s}1 a USING (vec_id)
),
mn{s}1 AS (
  SELECT centroid_id, pos,
         CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE)
           / count(*) / 1000000 AS mv
  FROM ex{s}1 GROUP BY 1, 2
),
nc{s}1 AS (
  SELECT centroid_id, list(mv ORDER BY pos) AS cvec FROM mn{s}1 GROUP BY 1
),
cb{s}1 AS (
  SELECT * FROM nc{s}1
  UNION ALL
  SELECT p.centroid_id, p.cvec FROM cb{s}0 p
  WHERE p.centroid_id NOT IN (SELECT centroid_id FROM nc{s}1)
),
en{s} AS (
  SELECT vec_id, centroid_id AS code FROM (
    SELECT v.vec_id, c.centroid_id,
      row_number() OVER (PARTITION BY v.vec_id
        ORDER BY {av} ASC, c.centroid_id) AS rn
    FROM sv{s} v CROSS JOIN cb{s}1 c
  ) WHERE rn = 1
),
dt{s} AS (
  SELECT q.vec_id AS query_id, c.centroid_id AS code,
    CAST(round({aq} * 1000000) AS BIGINT) AS d2_q
  FROM sv{s} q CROSS JOIN cb{s}1 c WHERE q.vec_id < 5
)""")
    codes = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS sub, code FROM en{s}" for s in range(m)
    )
    dts = " UNION ALL ".join(
        f"SELECT query_id, {s} AS sub, code, d2_q FROM dt{s}"
        for s in range(m)
    )
    parts.append(f"pqcodes AS ({codes}),\npqdt AS ({dts})")
    return ",\n".join(parts)


def _pagerank_sql() -> str:
    """q51 oracle: chained-CTE replay of linkgraph.pagerank over the
    derived doc_id graph. Every float op mirrors the Spark side's IEEE
    double arithmetic (explicit DOUBLE casts — DuckDB numeric literals
    are DECIMAL); the dangling term is present but provably zero on this
    graph (every node carries the (i+1)%N cycle edge)."""
    d = f"CAST({PAGERANK_DAMPING} AS DOUBLE)"
    iters = []
    prev = "it0"
    for k in range(1, PAGERANK_ITERATIONS + 1):
        iters.append(f"""
it{k} AS (
  SELECT nodes.id,
         (CAST(1 AS DOUBLE) - {d}) / nn.n
         + {d} * (coalesce(inf.w, CAST(0 AS DOUBLE))
                  + (SELECT coalesce(sum(pr), CAST(0 AS DOUBLE)) FROM {prev}
                     WHERE id NOT IN (SELECT src FROM edges)) / nn.n) AS pr
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT dst AS id, sum(pr / od) AS w
    FROM edges JOIN {prev} pv ON pv.id = edges.src
               JOIN outdeg USING (src)
    GROUP BY dst
  ) inf ON inf.id = nodes.id
)""")
        prev = f"it{k}"
    its = ",".join(iters)
    return f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 31 + 7) % nn.n FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn
),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
it0 AS (SELECT nodes.id, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),{its}
SELECT id AS doc_id, round(pr, 8) AS pagerank FROM {prev}
"""


def _hits_sql() -> str:
    """q59 oracle: chained-CTE replay of linkgraph.hits over the q51
    edge fixture. Each half-step is the same join→keyed-sum→coalesce→
    L1-normalize arithmetic as the Spark loop (explicit DOUBLE casts;
    the normalizing total is summed over the node-joined, zero-filled
    frame exactly as _l1_normalize does)."""
    from wikifrontier.linkgraph import HITS_ITERATIONS

    steps = []
    prev_h = "h0"
    prev_a = "a0"
    for k in range(1, HITS_ITERATIONS + 1):
        steps.append(f"""
a{k}p AS (
  SELECT nodes.id, coalesce(r.v, CAST(0 AS DOUBLE)) AS v
  FROM nodes LEFT JOIN (
    SELECT dst AS id, sum(hub) AS v
    FROM edges JOIN {prev_h} ph ON ph.id = edges.src GROUP BY dst
  ) r USING (id)
),
a{k} AS (
  SELECT id, CASE WHEN t.t > 0 THEN v / t.t ELSE CAST(0 AS DOUBLE) END AS auth
  FROM a{k}p CROSS JOIN (SELECT sum(v) AS t FROM a{k}p) t
),
h{k}p AS (
  SELECT nodes.id, coalesce(r.v, CAST(0 AS DOUBLE)) AS v
  FROM nodes LEFT JOIN (
    SELECT src AS id, sum(auth) AS v
    FROM edges JOIN a{k} pa ON pa.id = edges.dst GROUP BY src
  ) r USING (id)
),
h{k} AS (
  SELECT id, CASE WHEN t.t > 0 THEN v / t.t ELSE CAST(0 AS DOUBLE) END AS hub
  FROM h{k}p CROSS JOIN (SELECT sum(v) AS t FROM h{k}p) t
)""")
        prev_h, prev_a = f"h{k}", f"a{k}"
    its = ",".join(steps)
    return f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 31 + 7) % nn.n FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn
),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
h0 AS (SELECT nodes.id, CAST(1 AS DOUBLE) / nn.n AS hub FROM nodes CROSS JOIN nn),{its}
SELECT {prev_h}.id AS doc_id, round(hub, 8) AS hub, round(auth, 8) AS auth
FROM {prev_h} JOIN {prev_a} USING (id)
"""


def _sig_cte(source: str, suffix: str) -> str:
    """MinHash signature CTE chain over `source` with suffixed CTE names
    (so two instances — corpus + batch — coexist in one statement)."""
    mins = ",\n    ".join(
        f"min(substr(h, {1 + p * MINHASH_SLICE}, {MINHASH_SLICE})) AS h{p}"
        for p in range(MINHASH_PERMS)
    )
    return f"""
tok{suffix} AS (SELECT doc_id, {TOKS} AS t FROM {source}),
sh{suffix} AS (SELECT doc_id, unnest({SHINGLE3}) AS shingle FROM tok{suffix}),
shh{suffix} AS (SELECT doc_id, sha256(shingle) AS h FROM sh{suffix}),
sig{suffix} AS (SELECT doc_id, {mins} FROM shh{suffix} GROUP BY doc_id)"""


def _incremental_ingest_sql() -> str:
    """q61 oracle: full replay of dedup.incremental_ingest — identical
    corpus/batch split, sha256 exact probe, MinHash band join with
    signature-agreement scoring, min-id/max-est folds, verdict
    precedence exact > near > unique."""
    bands = ", ".join(_band_exprs())
    hcols = ", ".join(f"h{p}" for p in range(MINHASH_PERMS))
    agree = " + ".join(
        f"(CASE WHEN b.h{p} = c.h{p} THEN 1 ELSE 0 END)"
        for p in range(MINHASH_PERMS)
    )
    return f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
toksall AS (SELECT doc_id, text, {TOKS} AS t FROM documents),
corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
batch AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 9 = 0 THEN s.text
              WHEN d.doc_id % 9 = 3
                THEN array_to_string(s.t[1:greatest(len(s.t) - 3, 1)], ' ')
              ELSE d.text END AS text
  FROM toksall d
  CROSS JOIN nn
  JOIN toksall s ON s.doc_id = (d.doc_id + 1) % nn.n
  WHERE d.doc_id % 3 = 0
),
{_sig_cte("corpus", "c").lstrip()},
{_sig_cte("batch", "b").lstrip()},
cband AS (SELECT doc_id AS cid, {hcols}, unnest([{bands}]) AS band_key FROM sigc),
bband AS (SELECT doc_id AS bid, {hcols}, unnest([{bands}]) AS band_key FROM sigb),
nearp AS (
  SELECT b.bid, c.cid,
         round(({agree}) / CAST({MINHASH_PERMS} AS DOUBLE), 6) AS est
  FROM bband b JOIN cband c USING (band_key)
),
near AS (
  SELECT bid, min(cid) AS near_match_id, max(est) AS near_est
  FROM nearp WHERE est >= {Q.INGEST_THRESHOLD} GROUP BY bid
),
exact AS (
  SELECT b.doc_id AS bid, min(c.doc_id) AS exact_match_id
  FROM batch b JOIN corpus c ON sha256(c.text) = sha256(b.text)
  GROUP BY b.doc_id
)
SELECT b.doc_id,
  CASE WHEN e.exact_match_id IS NOT NULL THEN 'exact_dup'
       WHEN n.near_match_id IS NOT NULL THEN 'near_dup'
       ELSE 'unique' END AS verdict,
  coalesce(e.exact_match_id, n.near_match_id) AS match_id,
  CASE WHEN e.exact_match_id IS NOT NULL THEN CAST(1 AS DOUBLE)
       ELSE n.near_est END AS est_jaccard
FROM batch b
LEFT JOIN exact e ON e.bid = b.doc_id
LEFT JOIN near n ON n.bid = b.doc_id
"""


def _scored_frontier_sql(rounds: int = Q.SCORED_ROUNDS) -> str:
    """q54 oracle: round-by-round replay of the incremental scored
    frontier. One CTE block per round r: s{r} = in-degrees over edges
    whose source was popped in rounds < r (exactly the engine's folded
    per-round score deltas at pop time), p{r} = top-budget of the
    remaining urls by (in_degree desc, url). Round 0 has no scores yet →
    lexicographic. The final in_degree column is the full-graph fold
    (every source parses within the run)."""
    edge_list = ", ".join(f"(({m} * doc_id + {c}) % nn.n)" for m, c in EDGE_PARAMS)
    parts = [f"""nn AS (SELECT count(*) AS n FROM documents),
b AS (SELECT CAST(ceil(n / {rounds}.0) AS BIGINT) AS b FROM nn),
urls AS (SELECT doc_id, '{URL_PREFIX}' || doc_id AS url FROM documents),
edges AS (
  SELECT DISTINCT doc_id AS src, dst FROM (
    SELECT doc_id, unnest([{edge_list}]) AS dst FROM documents, nn)
),
p0 AS (
  SELECT doc_id, url FROM (
    SELECT doc_id, url, row_number() OVER (ORDER BY url) AS rn FROM urls
  ), b WHERE rn <= b.b
)"""]
    for r in range(1, rounds):
        parsed = " UNION ALL ".join(f"SELECT doc_id FROM p{i}" for i in range(r))
        parts.append(f"""s{r} AS (
  SELECT e.dst, count(*) AS sc
  FROM edges e JOIN ({parsed}) pp ON pp.doc_id = e.src
  GROUP BY e.dst
),
p{r} AS (
  SELECT doc_id, url FROM (
    SELECT u.doc_id, u.url,
           row_number() OVER (ORDER BY coalesce(s.sc, 0) DESC, u.url) AS rn
    FROM urls u LEFT JOIN s{r} s ON s.dst = u.doc_id
    WHERE u.doc_id NOT IN ({parsed})
  ), b WHERE rn <= b.b
)""")
    finals = " UNION ALL ".join(
        f"SELECT doc_id, url, {r} AS fcr FROM p{r}" for r in range(rounds)
    )
    with_body = ",\n".join(parts)
    return f"""
WITH {with_body},
final AS ({finals}),
ind AS (SELECT dst, count(*) AS c FROM edges GROUP BY dst)
SELECT f.url,
       CAST(f.fcr AS INT) AS first_crawled_round,
       CAST(coalesce(ind.c, 0) AS BIGINT) AS in_degree
FROM final f LEFT JOIN ind ON ind.dst = f.doc_id
"""


def oracle_sql() -> dict[str, str]:
    # q99's power-of-two bucket ladder — generated so it is structurally
    # identical to linkgraph.degree_distribution's CASE
    deg_case = (
        "CASE "
        + " ".join(f"WHEN deg < {1 << (b + 1)} THEN {b}" for b in range(20))
        + " ELSE 20 END"
    )
    qual = """
f AS (
  SELECT doc_id,
    len(toks) AS n,
    CAST(length(text) AS DOUBLE) AS char_len,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS tok_chars,
    CAST(len(list_filter(toks, x -> x IN (%s))) AS DOUBLE) AS stops,
    CAST(len(list_filter(toks, x -> regexp_full_match(x, '[0-9]+'))) AS DOUBLE) AS digits
  FROM (SELECT doc_id, text, %s AS toks FROM documents)
)""" % (_STOP_LIST, TOKS)

    lang_scores = ",\n    ".join(
        f"CAST(len(list_filter(toks, x -> x IN ({_MARKER_LIST[lang]}))) AS INT) AS s_{lang}"
        for lang in sorted(LANG_PROFILES)
    )
    # alphabetical priority: earlier lang wins ties
    langs = sorted(LANG_PROFILES)
    whens = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"s_{lang} >= s_{other}" for other in langs[i + 1 :])
        whens.append(f"WHEN {conds} THEN '{lang}'")
    lang_case = "CASE " + " ".join(whens) + f" ELSE '{langs[-1]}' END"

    agree = " + ".join(
        f"(CASE WHEN sa.h{p} = sb.h{p} THEN 1 ELSE 0 END)" for p in range(MINHASH_PERMS)
    )
    sig_cols_a = ", ".join(f"sa.h{p}" for p in range(MINHASH_PERMS))
    bands = ",\n      ".join(_band_exprs())

    # q57 per-stratum thresholds (textops.sample_threshold_hex — shared code,
    # so the Spark filter and this CASE compare against identical strings)
    _mixture_case = (
        "CASE lang "
        + " ".join(
            f"WHEN '{lang}' THEN '{sample_threshold_hex(rate)}'"
            for lang, rate in sorted(Q.MIXTURE_RATES.items())
        )
        + f" ELSE '{sample_threshold_hex(0.0)}' END"
    )
    # q69: per-shard token quotas — the same budget // shards floor the
    # Spark operator applies.
    _budget_case = (
        "CASE lang "
        + " ".join(
            f"WHEN '{lang}' THEN {b // BUDGET_SHARDS}"
            for lang, b in sorted(TOKEN_BUDGETS.items())
        )
        + f" ELSE {TOKEN_BUDGET_DEFAULT // BUDGET_SHARDS} END"
    )
    # q71: 2-shingles (adjacent bigrams) — the k=2 twin of SHINGLE3.
    _SHINGLE2 = (
        "CASE WHEN len(t) >= 2 THEN "
        "list_transform(generate_series(1, CAST(len(t)-1 AS INT)), "
        "i -> t[i] || ' ' || t[i+1]) "
        "ELSE [] END"
    )
    # q70: the standing BM25 query set as a VALUES relation.
    _bm25_values = ", ".join(
        f"('{qid}', '{t}')"
        for qid, ts in sorted(BM25_QUERIES.items())
        for t in ts
    )

    return {
        "q01_canonicalize": f"""
WITH {CAND}, {CANON}, {PARSED}
SELECT doc_id, url, canonical_url, host, path FROM parsed
""",
        "q02_filter_chain": f"""
WITH {CAND}, {CANON}, {PARSED}
SELECT doc_id, canonical_url, depth, {FILTER_REASON} AS filter_reason FROM parsed
""",
        "q03_filter_metrics": f"""
WITH {CAND}, {CANON}, {PARSED}
SELECT coalesce({FILTER_REASON}, 'passed') AS outcome, count(*) AS n
FROM parsed GROUP BY 1
""",
        "q04_seen_antijoin": f"""
WITH {CAND}
SELECT doc_id, url, depth FROM cand c
WHERE NOT EXISTS (
  SELECT 1 FROM cand s WHERE s.doc_id % 2 = 0 AND s.url = c.url
)
""",
        "q05_claim_first_wins": """
WITH cands AS (
  SELECT 'https://en.wikipedia.org/wiki/U' || user_id AS url,
         'https://en.wikipedia.org/wiki/E' || event_type AS source_page_url,
         CAST(event_id AS INT) AS in_page_seq,
         CAST(user_id % 5 AS INT) AS depth
  FROM events
)
SELECT url, source_page_url, in_page_seq, depth FROM cands
QUALIFY row_number() OVER (
  PARTITION BY url ORDER BY source_page_url, in_page_seq) = 1
""",
        "q06_frontier_pop": f"""
WITH {EVENT_FRONTIER}
SELECT url, depth, scheduled_round, source_page_url FROM pending
ORDER BY scheduled_round, depth, source_page_url, url LIMIT 100
""",
        "q07_politeness_cap": """
WITH batch AS (
  SELECT 'https://h' || (user_id % 10) || '.com/e/' || event_id AS url,
         CAST(user_id % 5 AS INT) AS depth,
         CAST(0 AS INT) AS scheduled_round,
         event_type AS source_page_url
  FROM events
)
SELECT url, depth, scheduled_round, source_page_url FROM batch
QUALIFY row_number() OVER (
  PARTITION BY regexp_extract(url, '^https://([^/]+)', 1)
  ORDER BY scheduled_round, depth, source_page_url, url) <= 5
""",
        "q08_pages_merge": """
WITH old AS (
  SELECT 'https://en.wikipedia.org/wiki/O' || o_orderkey AS url,
         CASE WHEN o_orderstatus = 'F' THEN 'SUCCESS' ELSE 'FAILED' END AS last_crawl_status,
         CAST(200 AS INT) AS http_status_code,
         sha256(CAST(o_orderkey AS VARCHAR)) AS url_hash,
         CASE WHEN o_orderkey % 5 <> 0 THEN sha256('h' || o_orderkey) END AS html_content_hash,
         CAST(1 AS INT) AS total_crawl_attempts,
         CAST(0 AS INT) AS failed_crawl_attempts,
         CAST(o_orderkey % 4 AS INT) AS depth,
         CAST(0 AS INT) AS first_crawled_round
  FROM orders WHERE o_orderkey % 3 <> 0
), new AS (
  SELECT 'https://en.wikipedia.org/wiki/O' || o_orderkey AS url,
         CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2') THEN 'SUCCESS'
              WHEN substr(o_orderpriority, 1, 1) IN ('3', '4') THEN 'FAILED'
              ELSE 'SKIPPED' END AS last_crawl_status,
         CAST(404 AS INT) AS http_status_code,
         sha256(CAST(o_orderkey AS VARCHAR)) AS url_hash,
         CASE WHEN o_orderkey % 5 <> 0 THEN sha256('h' || o_orderkey) END AS html_content_hash,
         CAST(1 AS INT) AS total_crawl_attempts,
         CAST(0 AS INT) AS failed_crawl_attempts,
         CAST(o_orderkey % 4 AS INT) AS depth,
         CAST(0 AS INT) AS first_crawled_round
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT
  coalesce(o.url, n.url) AS url,
  CASE WHEN n.last_crawl_status IS NOT NULL THEN n.last_crawl_status
       ELSE o.last_crawl_status END AS last_crawl_status,
  CASE WHEN n.last_crawl_status IS NOT NULL THEN n.http_status_code
       ELSE o.http_status_code END AS http_status_code,
  CASE WHEN o.last_crawl_status IS NOT NULL THEN o.url_hash
       ELSE n.url_hash END AS url_hash,
  CASE WHEN n.last_crawl_status IS NOT NULL THEN n.html_content_hash
       ELSE o.html_content_hash END AS html_content_hash,
  CAST(coalesce(o.total_crawl_attempts, 0)
       + (CASE WHEN n.last_crawl_status IS NOT NULL THEN 1 ELSE 0 END) AS INT)
    AS total_crawl_attempts,
  CAST(coalesce(o.failed_crawl_attempts, 0)
       + (CASE WHEN n.last_crawl_status IS NOT NULL
                AND o.last_crawl_status IS NOT NULL
                AND n.last_crawl_status IN ('FAILED', 'SKIPPED')
           THEN 1 ELSE 0 END) AS INT) AS failed_crawl_attempts,
  least(o.depth, n.depth) AS depth
FROM old o FULL OUTER JOIN new n ON o.url = n.url
""",
        "q09_recrawl_due": """
WITH pages AS (
  SELECT 'https://en.wikipedia.org/wiki/O' || o_orderkey AS url,
         o_orderkey AS okey
  FROM orders WHERE o_orderdate < TIMESTAMP '1993-01-01'
)
SELECT p.url AS url,
       CAST(coalesce(min(l.l_linenumber), 0) AS INT) AS depth
FROM pages p LEFT JOIN lineitem l ON l.l_orderkey = p.okey
GROUP BY p.url
""",
        "q10_bfs_crawl": bfs_layers_oracle_sql(max_depth=4),
        "q30_bfs_crawl_bucketed": bfs_layers_oracle_sql(max_depth=4),
        "q38_page_content_values": page_content_oracle_sql(max_depth=4),
        # q45 crawls the MALFORMED corpus (8 adversarial markup families,
        # corpus.render_html_adversarial) — extraction-invariant by
        # contract, so the clean-template reconstruction is its oracle too
        "q45_adversarial_html_crawl": page_content_oracle_sql(max_depth=4),
        "q39_crawl_retry": retry_crawl_oracle_sql(max_depth=4, fetch_retries=2),
        "q46_crawl_retry_recrawl": retry_recrawl_oracle_sql(
            max_depth=4, fetch_retries=2, max_rounds=10, recrawl_interval_s=3
        ),
        "q40_crawl_recrawl": recrawl_oracle_sql(
            max_depth=4, max_rounds=10, recrawl_interval_s=3
        ),
        "q36_seen_partitioned_bloom": f"""
WITH {CAND}
SELECT doc_id, url, depth FROM cand c
WHERE NOT EXISTS (
  SELECT 1 FROM cand s WHERE s.doc_id % 2 = 0 AND s.url = c.url
)
""",
        "q31_validity_dlq": """
WITH c AS (
  SELECT doc_id,
    CASE WHEN doc_id % 13 = 0 THEN 'nota url ' || doc_id
         WHEN doc_id % 13 = 1 THEN 'ftp://files.example.com/d' || doc_id
         WHEN doc_id % 13 = 2 THEN 'https:///Doc_' || doc_id
         ELSE 'https://en.wikipedia.org/wiki/Doc_' || doc_id END AS url,
    CAST(CASE WHEN doc_id % 13 = 3 THEN -1 ELSE doc_id % 6 END AS INT) AS depth
  FROM documents
)
SELECT doc_id, url, depth,
  CASE WHEN url NOT LIKE '%://%'
            OR lower(regexp_extract(url, '^(.*?)://', 1)) NOT IN ('http', 'https')
       THEN 'invalid_scheme'
       WHEN regexp_extract(url, '://([^/]*)', 1) = '' THEN 'missing_host'
       WHEN depth IS NULL OR depth < 0 THEN 'invalid_depth'
       END AS reject_reason
FROM c
""",
        "q32_robots_filter": f"""
WITH {CAND}, {CANON}, {PARSED}
SELECT doc_id, canonical_url, depth, {FILTER_REASON_ROBOTS} AS filter_reason
FROM parsed
""",
        "q33_error_taxonomy": f"""
WITH o AS (
  SELECT 'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
         CASE WHEN doc_id % 10 = 7 THEN 'SKIPPED'
              WHEN doc_id % 4 = 1 THEN 'FAILED'
              ELSE 'SUCCESS' END AS status
  FROM documents
)
SELECT status,
  CASE WHEN status = 'FAILED' THEN {ERROR_CLASS}
       WHEN status = 'SKIPPED' THEN 'RobotsDisallowed' END AS error_type,
  count(*) AS n
FROM o GROUP BY status, error_type
""",
        "q37_priority_pop": f"""
WITH {EVENT_FRONTIER},
links AS (
  SELECT 'https://en.wikipedia.org/wiki/E' || (event_id % 200) AS url FROM events
),
scores AS (SELECT url, count(*) AS in_degree FROM links GROUP BY url)
SELECT p.url, p.depth, p.scheduled_round, p.source_page_url
FROM pending p LEFT JOIN scores s USING (url)
ORDER BY p.depth, coalesce(s.in_degree, 0) DESC, p.url
LIMIT 100
""",
        "q35_page_categories": """
SELECT 'https://en.wikipedia.org/wiki/Doc_' || doc_id AS source_page_url,
       'Lang_' || lang AS category
FROM documents
""",
        "q11_events_rollup": """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM events GROUP BY event_type
""",
        "q12_events_json": """
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS k_sum, CAST(max(k) AS BIGINT) AS k_max
FROM (
  SELECT event_type,
         CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS BIGINT) AS k
  FROM events
) GROUP BY event_type
""",
        "q13_dedup_exact": f"""
WITH norm AS (
  SELECT doc_id, array_to_string(({TOKS})[1:5], ' ') AS text FROM documents
)
SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
FROM norm GROUP BY sha256(text)
""",
        "q14_dedup_minhash": f"""
WITH {NEARDUP}, {_minhash_sig_sql('docs')}
SELECT * FROM sig
""",
        "q15_dedup_minhash_lsh": f"""
WITH {NEARDUP}, {_minhash_sig_sql('docs')},
banded AS (
  SELECT doc_id AS id, unnest([
      {bands}]) AS band_key
  FROM sig
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b USING (band_key)
  WHERE a.id < b.id
)
SELECT id_a, id_b, round(({agree}) / 12.0, 6) AS est_jaccard
FROM pairs JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
WHERE round(({agree}) / 12.0, 6) >= 0.5
""",
        "q34_simhash_pairs": f"""
WITH {NEARDUP}, {_simhash_cte('docs')},
banded AS (
  SELECT doc_id AS id, simhash,
         unnest([{", ".join(str(b) for b in range(SIMHASH_BANDS))}]) AS band
  FROM sim
),
keyed AS (
  SELECT id, simhash, band,
         (simhash >> (band * {SIMHASH_BITS // SIMHASH_BANDS}))
           & {(1 << (SIMHASH_BITS // SIMHASH_BANDS)) - 1} AS key
  FROM banded
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM keyed a JOIN keyed b
    ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
""",
        "q16_dedup_simhash": f"""
WITH {_simhash_sql('documents').strip().rstrip()}
""",
        "q17_dedup_ngram_jaccard": f"""
WITH {NEARDUP}, {_minhash_sig_sql('docs')},
banded AS (
  SELECT doc_id AS id, unnest([
      {bands}]) AS band_key
  FROM sig
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b USING (band_key)
  WHERE a.id < b.id
),
sets AS (
  SELECT doc_id, list_distinct({SHINGLE3}) AS grams
  FROM (SELECT doc_id, {TOKS} AS t FROM docs)
),
joined AS (
  SELECT c.id_a, c.id_b,
    CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) AS i,
    CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE) AS u
  FROM cand c JOIN sets a ON a.doc_id = c.id_a JOIN sets b ON b.doc_id = c.id_b
)
SELECT id_a, id_b,
       round(CASE WHEN u > 0 THEN i / u ELSE 0.0 END, 6) AS jaccard
FROM joined
WHERE round(CASE WHEN u > 0 THEN i / u ELSE 0.0 END, 6) >= 0.5
""",
        "q18_dedup_embedding": f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({COSINE.format(a='a.embedding', b='b.embedding')}, 6) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({COSINE.format(a='a.embedding', b='b.embedding')}, 6) >= 0.35
""",
        "q19_ann_bruteforce": f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         round({COSINE.format(a='q.qvec', b='v.embedding')}, 6) AS cos_sim
  FROM q CROSS JOIN embeddings v
  WHERE v.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 10
""",
        "q20_ann_bucketed": f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec,
         {SIGN_BUCKET.format(v='embedding')} AS bucket
  FROM embeddings WHERE vec_id < 5
),
v AS (
  SELECT vec_id AS neighbor_id, embedding AS vec,
         {SIGN_BUCKET.format(v='embedding')} AS bucket
  FROM embeddings
),
scored AS (
  SELECT q.query_id, v.neighbor_id,
         round({COSINE.format(a='q.qvec', b='v.vec')}, 6) AS cos_sim
  FROM q JOIN v USING (bucket)
  WHERE v.neighbor_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 10
""",
        "q21_lang_id": f"""
WITH s AS (
  SELECT doc_id, lang,
    {lang_scores}
  FROM (SELECT doc_id, lang, {TOKS} AS toks FROM documents)
)
SELECT doc_id, lang, {lang_case} AS pred_lang FROM s
""",
        "q22_quality": f"""
WITH {qual}
SELECT doc_id,
  CAST(n AS INT) AS n_tokens,
  char_len,
  round(CASE WHEN n > 0 THEN tok_chars / n ELSE 0.0 END, 6) AS mean_tok_len,
  round(CASE WHEN n > 0 THEN stops / n ELSE 0.0 END, 6) AS stop_ratio,
  round(CASE WHEN n > 0 THEN digits / n ELSE 0.0 END, 6) AS digit_ratio,
  round(least(n / 100.0, 1.0) * 0.4
        + (CASE WHEN n > 0 THEN stops / n ELSE 0.0 END) * 0.3
        + least((CASE WHEN n > 0 THEN tok_chars / n ELSE 0.0 END) / 8.0, 1.0) * 0.3,
        6) AS quality_score
FROM f
""",
        "q23_token_counts": f"""
SELECT doc_id,
  CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(lower(text), '{BPE_RE}')) AS INT) AS n_bpe_tokens
FROM documents
""",
        "q24_fingerprints": f"""
WITH tok AS (SELECT doc_id, {TOKS} AS t FROM documents),
sh AS (SELECT doc_id, unnest({SHINGLE3}) AS s FROM tok),
h AS (SELECT doc_id, sha256(s) AS hh FROM sh)
SELECT DISTINCT doc_id, substr(hh, 1, 16) AS fingerprint
FROM h WHERE starts_with(hh, '0')
""",
        # q47: same candidate pipeline as q15 (sig → bands → scored pairs
        # at est ≥ 0.5), then min-label transitive closure — the recursive
        # CTE is the declarative ground truth for the engine's iterative
        # hash-min propagation (both converge to min member id per
        # component, exactly).
        "q47_dedup_clusters": f"""
WITH RECURSIVE {NEARDUP}, {_minhash_sig_sql('docs')},
banded AS (
  SELECT doc_id AS id, unnest([
      {bands}]) AS band_key
  FROM sig
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b USING (band_key)
  WHERE a.id < b.id
),
scored AS (
  SELECT id_a, id_b
  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
  WHERE round(({agree}) / 12.0, 6) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM scored
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM scored
),
walk(id, lab) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id
)
SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id
""",
        "q48_repetition": f"""
WITH tok AS (SELECT doc_id, {TOKS} AS t FROM documents),
feats AS (
  SELECT doc_id,
    round(CASE WHEN len(t) > 0
      THEN (CAST(len(t) AS DOUBLE) - CAST(len(list_distinct(t)) AS DOUBLE))
           / CAST(len(t) AS DOUBLE) ELSE 0.0 END, 6) AS dup_word_frac,
    round(CASE WHEN len(g3) > 0
      THEN (CAST(len(g3) AS DOUBLE) - CAST(len(list_distinct(g3)) AS DOUBLE))
           / CAST(len(g3) AS DOUBLE) ELSE 0.0 END, 6) AS dup_3gram_frac
  FROM (SELECT doc_id, t, {SHINGLE3} AS g3 FROM tok)
),
g2 AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) >= 2 THEN
      list_transform(generate_series(1, CAST(len(t)-1 AS INT)),
                     i -> t[i] || ' ' || t[i+1])
    ELSE [] END) AS g
  FROM tok
),
cnt AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
top2 AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS t2
  FROM cnt GROUP BY doc_id
)
SELECT f.doc_id, dup_word_frac, dup_3gram_frac,
       round(coalesce(t2, 0.0), 6) AS top_2gram_frac
FROM feats f LEFT JOIN top2 USING (doc_id)
""",
        "q49_containment": f"""
WITH {NEARDUP},
tok AS (SELECT doc_id, {TOKS} AS t FROM docs),
sh AS (SELECT doc_id, unnest({SHINGLE3}) AS s FROM tok),
h AS (SELECT doc_id, sha256(s) AS hh FROM sh),
fp AS (SELECT DISTINCT doc_id, substr(hh, 1, 16) AS fp
       FROM h WHERE starts_with(hh, '0')),
keepfp AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {CONTAINMENT_MAX_DF}),
kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN keepfp USING (fp)),
sizes AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id),
m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM kept a JOIN kept b USING (fp)
  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       round(CAST(n_common AS DOUBLE) / CAST(n_fp AS DOUBLE), 6) AS containment
FROM m JOIN sizes s ON s.doc_id = m.id_a
WHERE round(CAST(n_common AS DOUBLE) / CAST(n_fp AS DOUBLE), 6) >= 0.6
""",
        # q50: the full curation composition — quality + lang gates run
        # BEFORE pair generation (so they change the signature inputs),
        # then the q47 closure picks min-id survivors. Verifies stage
        # ORDER, not just each stage.
        "q50_curation_pipeline": f"""
WITH RECURSIVE {NEARDUP},
feat AS (
  SELECT doc_id, text, toks,
    len(toks) AS n,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS tok_chars,
    CAST(len(list_filter(toks, x -> x IN ({_STOP_LIST}))) AS DOUBLE) AS stops,
    {lang_scores}
  FROM (SELECT doc_id, text, {TOKS} AS toks FROM docs)
),
scored_docs AS (
  SELECT doc_id, text,
    round(least(n / 100.0, 1.0) * 0.4
          + (CASE WHEN n > 0 THEN stops / n ELSE 0.0 END) * 0.3
          + least((CASE WHEN n > 0 THEN tok_chars / n ELSE 0.0 END) / 8.0, 1.0)
            * 0.3, 6) AS quality_score,
    {lang_case} AS pred_lang,
    CAST(len(regexp_extract_all(lower(text), '{BPE_RE}')) AS INT) AS n_bpe_tokens
  FROM feat
),
kept AS (
  SELECT doc_id, text, quality_score, n_bpe_tokens FROM scored_docs
  WHERE quality_score >= 0.35 AND pred_lang = 'en'
),
{_minhash_sig_sql('kept')},
banded AS (
  SELECT doc_id AS id, unnest([
      {bands}]) AS band_key
  FROM sig
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b USING (band_key)
  WHERE a.id < b.id
),
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
  WHERE round(({agree}) / 12.0, 6) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(id, lab) AS (
  SELECT doc_id, doc_id FROM kept
  UNION
  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id
),
labels AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id)
SELECT k.doc_id, k.quality_score, k.n_bpe_tokens
FROM kept k JOIN labels l ON l.doc_id = k.doc_id AND l.cluster_id = k.doc_id
""",
        "q25_multimodal_meta": """
SELECT doc_id AS media_id,
  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       ELSE 'video' END AS kind,
  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
  sha256(text) AS content_sha,
  (['riff', 'png', 'jpeg', 'mp4'])[(ascii(substr(text, 1, 1)) % 4) + 1] AS format
FROM documents
""",
        "q27_host_state": """
WITH pages AS (
  SELECT 'https://h' || (user_id % 10) || '.com/e/' || event_id AS url, ts
  FROM events
)
SELECT regexp_extract(url, '^https://([^/]+)', 1) AS host,
       count(*) AS n_fetched,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_fetch,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_fetch
FROM pages GROUP BY 1
""",
        "q28_ann_ivf": f"""
WITH {_kmeans_sql(iters=2, k=8)},
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {COSINE.format(a='v.embedding', b='c.cvec')} DESC,
                      c.centroid_id) AS rn
    FROM embeddings v CROSS JOIN c2 c
  ) WHERE rn = 1
),
v AS (
  SELECT e.vec_id AS neighbor_id, e.embedding AS vec, a.centroid_id
  FROM embeddings e JOIN assign a USING (vec_id)
),
q AS (
  SELECT e.vec_id AS query_id, e.embedding AS qvec, a.centroid_id
  FROM embeddings e JOIN assign a USING (vec_id)
  WHERE e.vec_id < 5
),
scored AS (
  SELECT q.query_id, v.neighbor_id,
         round({COSINE.format(a='q.qvec', b='v.vec')}, 6) AS cos_sim
  FROM q JOIN v USING (centroid_id)
  WHERE v.neighbor_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 10
""",
        "q29_metrics_rollup": """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""",
        "q41_multimodal_decode": """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(doc_id % 3 AS INT) AS sel,
         octet_length(encode(text)) AS n
  FROM documents
)
SELECT media_id,
  CASE sel WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
  CAST(CASE sel WHEN 0 THEN 1 ELSE (n % 240) + 1 END AS INT) AS n_frames,
  CAST(CASE sel WHEN 0 THEN (n % 31) + 1
           WHEN 1 THEN 8000
           ELSE 16 * ((n % 64) + 1) END AS INT) AS width,
  CAST(CASE sel WHEN 0 THEN (n % 17) + 1
           WHEN 1 THEN (media_id % 2) + 1
           ELSE 9 * ((n % 64) + 1) END AS INT) AS height,
  CASE sel WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'fake' END AS codec
FROM m
""",
        "q42_salted_repartition": """
WITH batch AS (
  SELECT 'https://h' || (user_id % 10) || '.com/e/' || event_id AS url
  FROM events
),
salted AS (
  SELECT url,
    CAST(((instr('0123456789abcdef', substr(sha256(url), 1, 1)) - 1) * 16
          + (instr('0123456789abcdef', substr(sha256(url), 2, 1)) - 1)) % 64
      AS INT) AS salt,
    regexp_extract(url, '^https://([^/]+)', 1) AS host
  FROM batch
)
SELECT salt, count(*) AS n, count(DISTINCT host) AS n_hosts,
       min(url) AS first_url
FROM salted GROUP BY salt
""",
        "q43_host_rate_clock": """
WITH t AS (
  SELECT 'h' || (user_id % 10) || '.com' AS host,
         TIMESTAMP '2025-01-15 00:00:00'
           + (event_id % 3600) * INTERVAL 1 SECOND AS ts
  FROM events
)
SELECT host,
  count(*) AS batch_n,
  count(*) AS n_total,
  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_fetch,
  (count(*) > 1 AND count(*) * 1000000
     > 1.0 * (epoch_us(max(ts)) - epoch_us(min(ts)))) AS over_limit
FROM t GROUP BY host
""",
        "q44_gzip_store_roundtrip": """
SELECT 'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
       TRUE AS ok
FROM documents
""",
        "q26_multimodal_features": """
WITH m AS (
  SELECT doc_id AS media_id,
    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         ELSE 'video' END AS kind,
    octet_length(encode(text)) AS n,
    text
  FROM documents
)
SELECT media_id, kind,
  CAST(CASE WHEN kind = 'image' THEN 1 ELSE (n % 240) + 1 END AS INT) AS n_frames,
  CAST(16 * ((n % 64) + 1) AS INT) AS width,
  CAST(9 * ((n % 64) + 1) AS INT) AS height,
  substr(sha256(substr(text, 1, 64)), 1, 16) AS feat_checksum
FROM m
""",
        "q51_pagerank": _pagerank_sql(),
        "q109_host_pagerank": _host_pagerank_sql(),
        "q113_audio_afp": f"""
WITH {_AFP_HASHES}
SELECT media_id, n_samples, afp_hi, afp_lo FROM fps
""",
        # q114: banded Hamming pairing over the replayed fingerprints —
        # same machinery as q112.
        "q114_audio_neardup": f"""
WITH {_AFP_HASHES},
bands AS (
  SELECT media_id AS id, afp_hi, afp_lo,
         0 AS b, afp_hi // 65536 AS v FROM fps
  UNION ALL SELECT media_id, afp_hi, afp_lo, 1, afp_hi % 65536 FROM fps
  UNION ALL SELECT media_id, afp_hi, afp_lo, 2, afp_lo // 65536 FROM fps
  UNION ALL SELECT media_id, afp_hi, afp_lo, 3, afp_lo % 65536 FROM fps
)
SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
  CAST(bit_count(xor(a.afp_hi, b2.afp_hi))
       + bit_count(xor(a.afp_lo, b2.afp_lo)) AS INT) AS hamming
FROM bands a JOIN bands b2 ON a.b = b2.b AND a.v = b2.v AND a.id < b2.id
WHERE bit_count(xor(a.afp_hi, b2.afp_hi))
      + bit_count(xor(a.afp_lo, b2.afp_lo)) <= 10
""",
        "q115_video_framehash": f"""
WITH {_VFRAME_HASHES}
SELECT media_id, frame_idx, dhash_hi, dhash_lo FROM vhashes
""",
        # q116: shot-level pairing — videos sharing >= 2 DISTINCT sampled
        # frame hashes meet via an equi-join on the exact 64-bit hash.
        "q116_video_neardup": f"""
WITH {_VFRAME_HASHES},
fh AS (SELECT DISTINCT media_id, dhash_hi, dhash_lo FROM vhashes)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(count(*) AS BIGINT) AS shared_frames
FROM fh a JOIN fh b
  ON a.dhash_hi = b.dhash_hi AND a.dhash_lo = b.dhash_lo
 AND a.media_id < b.media_id
GROUP BY 1, 2
HAVING count(*) >= 2
""",
        "q117_lpa_communities": f"""
WITH {_lpa_rounds_sql(4)}
SELECT id AS host, label AS community FROM l4
""",
        # q118: cut quality over the SAME replayed assignment — pairs
        # canonicalize to (least, greatest); internal counts once, a
        # crossing pair counts as boundary for both communities.
        "q118_community_quality": f"""
WITH {_lpa_rounds_sql(4)},
lpairs AS (
  SELECT DISTINCT least(a, b) AS x, greatest(a, b) AS y FROM ledges
),
tagged AS (
  SELECT lx.label AS cx, ly.label AS cy
  FROM lpairs p JOIN l4 lx ON lx.id = p.x JOIN l4 ly ON ly.id = p.y
),
per_side AS (
  SELECT cx AS community, (cx = cy) AS internal FROM tagged
  UNION ALL
  SELECT cy, FALSE FROM tagged WHERE cx <> cy
),
ccounts AS (
  SELECT community,
         CAST(sum(CASE WHEN internal THEN 1 ELSE 0 END) AS BIGINT)
           AS internal_pairs,
         CAST(sum(CASE WHEN internal THEN 0 ELSE 1 END) AS BIGINT)
           AS boundary_pairs
  FROM per_side GROUP BY 1
),
members AS (
  SELECT label AS community, count(*) AS n_members FROM l4 GROUP BY 1
)
SELECT m.community, m.n_members,
       coalesce(c.internal_pairs, 0) AS internal_pairs,
       coalesce(c.boundary_pairs, 0) AS boundary_pairs,
       round(coalesce(c.boundary_pairs, 0) / greatest(
         CAST(2 * coalesce(c.internal_pairs, 0)
              + coalesce(c.boundary_pairs, 0) AS DOUBLE), 1.0), 8)
         AS conductance
FROM members m LEFT JOIN ccounts c USING (community)
""",
        # q119: Mercator URL canonicalization — identical regexps (the
        # Java∩RE2 dialect intersection), list ops mirror array ops.
        "q121_pq_adc_topk": f"""
WITH {_pq_sql()}
SELECT query_id, neighbor_id, adc_d2, rank FROM (
  SELECT query_id, neighbor_id, adc_d2,
    CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY adc_d2 ASC, neighbor_id) AS INT) AS rank
  FROM (
    SELECT d.query_id, c.vec_id AS neighbor_id,
           round(CAST(sum(d.d2_q) AS DOUBLE) / 1000000, 6) AS adc_d2,
           count(*) AS nsub
    FROM pqcodes c JOIN pqdt d ON d.sub = c.sub AND d.code = c.code
    WHERE d.query_id <> c.vec_id
    GROUP BY 1, 2
  ) WHERE nsub = 4
) WHERE rank <= 10
""",
        # q124: histogram-quantile replay — exact integer binning
        # (floor(value·2) = 50 ms bins), same cumulative scan over the
        # <=64-bin histogram, same ceil(p·n) threshold doubles.
        "q124_latency_quantiles": """
WITH qdata AS (
  SELECT 'h' || (user_id % 12) || '.com' AS grp, value FROM events
),
qhist AS (
  SELECT grp,
         CAST(least(63, floor(CAST(value AS DOUBLE) * 2)) AS INT) AS bin,
         count(*) AS c
  FROM qdata GROUP BY 1, 2
),
qcum AS (
  SELECT grp, bin, c,
    sum(c) OVER (PARTITION BY grp ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(c) OVER (PARTITION BY grp) AS n_events
  FROM qhist
)
SELECT grp AS host, CAST(max(n_events) AS BIGINT) AS n_events,
  round((CAST(min(CASE WHEN cum >= ceil(0.5 * n_events) THEN bin END)
              AS DOUBLE) + 0.5) * 50, 1) AS p50_ms,
  round((CAST(min(CASE WHEN cum >= ceil(0.95 * n_events) THEN bin END)
              AS DOUBLE) + 0.5) * 50, 1) AS p95_ms,
  round((CAST(min(CASE WHEN cum >= ceil(0.99 * n_events) THEN bin END)
              AS DOUBLE) + 0.5) * 50, 1) AS p99_ms
FROM qcum GROUP BY 1
""",
        # q123: JL replay — same ±1 sign arithmetic, exact integer
        # component sums (/1e6/4 — √16 is exact), same distance folds.
        "q123_jl_projection": f"""
WITH jv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
jsigns AS (SELECT {jl_sign_matrix(64, 16)!r}::BIGINT[] AS sm),
jcomps AS (
  SELECT vec_id, j.j,
    sum(CAST(round(v[i.i + 1] * 1000000) AS BIGINT)
        * sm[i.i * 16 + j.j + 1]) AS s
  FROM jv, jsigns,
       (SELECT unnest(range(64)) AS i) i,
       (SELECT unnest(range(16)) AS j) j
  GROUP BY 1, 2
),
jproj AS (
  SELECT vec_id, list(CAST(s AS DOUBLE) / 1000000 / 4 ORDER BY j) AS p
  FROM jcomps GROUP BY 1
),
ja AS (
  SELECT jv.vec_id AS id_a, v AS va, p AS pa
  FROM jv JOIN jproj USING (vec_id) WHERE vec_id < 5
),
jb AS (
  SELECT jv.vec_id AS id_b, v AS vb, p AS pb
  FROM jv JOIN jproj USING (vec_id) WHERE vec_id % 25 = 0
),
jd AS (
  SELECT id_a, id_b,
    round({_PQ_L2.format(a="va", b="vb")}, 6) AS d2_orig,
    round({_PQ_L2.format(a="pa", b="pb")}, 6) AS d2_proj
  FROM ja JOIN jb ON id_a < id_b
)
SELECT id_a, id_b, d2_orig, d2_proj,
       round(d2_proj / d2_orig, 6) AS distortion
FROM jd WHERE d2_orig <> 0
""",
        # q122: count-min replay — same sha256 16-bit row slices, same
        # counter fold, min-over-rows estimate, TakeOrdered top-10.
        "q122_cms_heavy_hitters": """
WITH cdata AS (
  SELECT 'h' || (CASE WHEN doc_id % 100 < 60 THEN doc_id % 5
                      ELSE 5 + doc_id % 40 END) || '.example.org' AS host
  FROM documents
),
cells AS (
  SELECT r.row,
         (('0x' || substr(sha256(host), r.row * 4 + 1, 4))::BIGINT) % 64
           AS col
  FROM cdata, (SELECT unnest(range(4)) AS row) r
),
counters AS (SELECT row, col, count(*) AS c FROM cells GROUP BY 1, 2),
cand AS (SELECT host AS v, count(*) AS n_exact FROM cdata GROUP BY 1),
probes AS (
  SELECT v, n_exact, r.row,
         (('0x' || substr(sha256(v), r.row * 4 + 1, 4))::BIGINT) % 64 AS col
  FROM cand, (SELECT unnest(range(4)) AS row) r
),
cest AS (
  SELECT v, n_exact, min(c) AS cms_est
  FROM probes JOIN counters USING (row, col)
  GROUP BY 1, 2
)
SELECT v AS value, n_exact, cms_est, cms_est - n_exact AS overcount
FROM cest ORDER BY cms_est DESC, v LIMIT 10
""",
        "q119_url_normalize": """
WITH uraw AS (
  SELECT CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 'HTTP://WWW.Example.com:80/a/' || (doc_id // 4)
                || '?utm_source=x&b=2&a=1'
    WHEN 1 THEN 'http://www.example.com/a/' || (doc_id // 4)
                || '?b=2&a=1&fbclid=zz'
    WHEN 2 THEN 'https://Site.org:443/p' || doc_id || '#frag'
    ELSE 'not-a-url-' || doc_id END AS u
  FROM documents
),
uparts AS (
  SELECT u,
    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1))
      AS host0,
    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
      AS path0,
    regexp_extract(u, '\\?([^#]*)', 1) AS q
  FROM uraw
),
unormed AS (
  SELECT u,
    scheme || '://'
    || (CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
             WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
             ELSE host0 END)
    || (CASE WHEN path0 = '' THEN '/' ELSE path0 END)
    || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END) AS normalized_url
  FROM (
    SELECT u, scheme, host0, path0,
      coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
        x -> x <> '' AND NOT regexp_matches(x,
          '(?i)^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|mc_eid|ref)='))), '&'),
        '') AS qs
    FROM uparts
  )
  WHERE scheme <> '' AND host0 <> ''
)
SELECT normalized_url, count(DISTINCT u) AS n_variants, min(u) AS first_url
FROM unormed GROUP BY 1
""",
        # q120: HLL replay — same sha256 bytes, same integer register
        # sum, same scalar estimator; hex→int via the 0x-cast.
        "q120_hll_distinct_hosts": """
WITH hdata AS (
  SELECT 's' || (doc_id % 8) AS segment,
         'h' || ((doc_id * 48271) % 350) || '.example.org' AS host
  FROM documents
),
rhos AS (
  SELECT segment,
    (('0x' || substr(sha256(host), 1, 2))::BIGINT) % 64 AS bucket,
    CASE WHEN ('0x' || substr(sha256(host), 3, 10))::BIGINT = 0 THEN 41
         ELSE 41 - length(bin(('0x' || substr(sha256(host), 3, 10))::BIGINT))
    END AS rho
  FROM hdata
),
regs AS (SELECT segment AS grp, bucket, max(rho) AS r FROM rhos GROUP BY 1, 2),
allregs AS (SELECT 'ALL' AS grp, bucket, max(r) AS r FROM regs GROUP BY 2),
folds AS (
  SELECT grp, count(*) AS n_registers,
         sum(CAST(power(2, 41 - r) AS BIGINT)) AS sum_present
  FROM (SELECT * FROM regs UNION ALL SELECT * FROM allregs) GROUP BY 1
),
scalars AS (
  SELECT grp, n_registers,
    CAST(0.709 AS DOUBLE) * 64 * 64
      / (CAST(sum_present + (64 - n_registers) * 2199023255552 AS DOUBLE)
         / 2199023255552.0) AS raw,
    64 - n_registers AS v
  FROM folds
),
ests AS (
  SELECT grp, n_registers,
    CASE WHEN raw <= 160.0 AND v > 0
         THEN round(64.0 * ln(64.0 / v), 4)
         ELSE round(raw, 4) END AS hll_estimate
  FROM scalars
),
hexact AS (
  SELECT segment AS grp, count(DISTINCT host) AS n_exact FROM hdata GROUP BY 1
  UNION ALL
  SELECT 'ALL', count(DISTINCT host) FROM hdata
)
SELECT e.grp AS segment, x.n_exact, e.n_registers, e.hll_estimate,
       round(abs(e.hll_estimate - x.n_exact) / CAST(x.n_exact AS DOUBLE), 4)
         AS rel_err
FROM ests e JOIN hexact x USING (grp)
""",
        "q111_image_dhash": f"""
WITH {_DHASH_HASHES}
SELECT media_id, width, height, dhash_hi, dhash_lo FROM hashes
""",
        # q112: banded Hamming pairing over the replayed hashes — four
        # 16-bit bands (//65536 and %65536 halves), xor + bit_count.
        "q112_image_neardup": f"""
WITH {_DHASH_HASHES},
bands AS (
  SELECT media_id AS id, dhash_hi, dhash_lo,
         0 AS b, dhash_hi // 65536 AS v FROM hashes
  UNION ALL SELECT media_id, dhash_hi, dhash_lo, 1, dhash_hi % 65536 FROM hashes
  UNION ALL SELECT media_id, dhash_hi, dhash_lo, 2, dhash_lo // 65536 FROM hashes
  UNION ALL SELECT media_id, dhash_hi, dhash_lo, 3, dhash_lo % 65536 FROM hashes
)
SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
  CAST(bit_count(xor(a.dhash_hi, b2.dhash_hi))
       + bit_count(xor(a.dhash_lo, b2.dhash_lo)) AS INT) AS hamming
FROM bands a JOIN bands b2 ON a.b = b2.b AND a.v = b2.v AND a.id < b2.id
WHERE bit_count(xor(a.dhash_hi, b2.dhash_hi))
      + bit_count(xor(a.dhash_lo, b2.dhash_lo)) <= 10
""",
        # q110: one-row webgraph summary over the q101 rollup (the full
        # reciprocity select replayed, then single-row folds).
        "q110_webgraph_stats": f"""
WITH {_HOST_HG},
hgr AS (
  SELECT a.src_host, a.dst_host, a.n_edges,
         (a.src_host = a.dst_host) AS is_internal,
         (b.src_host IS NOT NULL) AS reciprocal
  FROM hg a
  LEFT JOIN (SELECT DISTINCT src_host, dst_host FROM hg) b
    ON a.src_host = b.dst_host AND a.dst_host = b.src_host
),
nodes AS (
  SELECT count(*) AS n_hosts FROM (
    SELECT src_host AS h FROM hgr UNION SELECT dst_host FROM hgr
  )
),
od AS (
  SELECT max(np) AS max_out_pairs FROM (
    SELECT src_host, count(*) AS np FROM hgr GROUP BY 1
  )
)
SELECT n.n_hosts,
       count(*) AS n_host_pairs,
       CAST(sum(n_edges) AS BIGINT) AS n_page_edges,
       CAST(sum(CASE WHEN is_internal THEN 1 ELSE 0 END) AS BIGINT)
         AS n_self_pairs,
       CAST(sum(CASE WHEN reciprocal THEN 1 ELSE 0 END) AS BIGINT)
         AS n_reciprocal_pairs,
       round(sum(CASE WHEN reciprocal THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS reciprocity_rate,
       o.max_out_pairs
FROM hgr CROSS JOIN nodes n CROSS JOIN od o
GROUP BY n.n_hosts, o.max_out_pairs
""",
        "q54_scored_frontier": _scored_frontier_sql(),
        "q59_hits": _hits_sql(),
        # q60: per-target anchor-text profile — identical edge fixture
        # (UNION ALL: anchor_profile counts every edge mention), anchor =
        # first 3 tokens of the SOURCE text, windowed argmax with the
        # same (count desc, term asc) tie-break.
        "q60_anchor_profile": f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
anch AS (
  SELECT doc_id, array_to_string(({TOKS})[1:3], ' ') AS anchor_text
  FROM documents
),
edges AS (
  SELECT d.doc_id AS src, (d.doc_id + 1) % nn.n AS dst, a.anchor_text
  FROM documents d JOIN anch a USING (doc_id) CROSS JOIN nn
  UNION ALL
  SELECT d.doc_id, (d.doc_id * 31 + 7) % nn.n, a.anchor_text
  FROM documents d JOIN anch a USING (doc_id) CROSS JOIN nn
  UNION ALL
  SELECT d.doc_id, (d.doc_id * 17 + 3) % nn.n, a.anchor_text
  FROM documents d JOIN anch a USING (doc_id) CROSS JOIN nn
),
deg AS (
  SELECT dst AS doc_id, count(*) AS in_degree, count(DISTINCT src) AS n_sources
  FROM edges GROUP BY dst
),
terms AS (
  SELECT dst, unnest(regexp_extract_all(lower(anchor_text), '{TOKEN_RE}')) AS term
  FROM edges
),
tc AS (SELECT dst, term, count(*) AS term_count FROM terms GROUP BY dst, term),
top AS (
  SELECT dst, term, term_count FROM (
    SELECT *, row_number() OVER (
      PARTITION BY dst ORDER BY term_count DESC, term
    ) AS rn FROM tc
  ) WHERE rn = 1
)
SELECT deg.doc_id, in_degree, n_sources,
       coalesce(top.term, '') AS top_term,
       CAST(coalesce(top.term_count, 0) AS BIGINT) AS top_term_count
FROM deg LEFT JOIN top ON top.dst = deg.doc_id
""",
        "q61_incremental_ingest": _incremental_ingest_sql(),
        # q62: co-citation pairs — identical dense edge derivation,
        # hub-source cap replicated (vacuous on this graph: out_deg ≤ 3),
        # self-join on source, HAVING at the min_cocite cut.
        "q62_cocitation": f"""
WITH edges AS (
  SELECT DISTINCT doc_id AS src, u AS dst FROM (
    SELECT doc_id,
           unnest([doc_id % 97, (doc_id * 31 + 7) % 97,
                   (doc_id * 17 + 3) % 97]) AS u
    FROM documents)
),
ok AS (
  SELECT src FROM (SELECT src, count(*) AS c FROM edges GROUP BY src)
  WHERE c <= {COCITE_MAX_OUT}
),
e AS (SELECT edges.* FROM edges JOIN ok USING (src))
SELECT a.dst AS page_a, b.dst AS page_b, count(*) AS cocitations
FROM e a JOIN e b USING (src)
WHERE a.dst < b.dst
GROUP BY 1, 2
HAVING count(*) >= 2
""",
        # q63: PII scrub — identical deterministic injection, counts and
        # masks applied in the SAME chained order as pii_features (count
        # each class on the text already masked by the previous classes).
        "q63_pii_scrub": f"""
WITH inj AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 5 = 0
         THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
              || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
    || CASE WHEN doc_id % 3 = 0
         THEN ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
              || '.' || ((doc_id * 13) % 256) ELSE '' END
    AS t
  FROM documents
),
m1 AS (
  SELECT doc_id, len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS n_emails,
         regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1
  FROM inj
),
m2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t1, '{PII_PHONE_RE}')) AS n_phones,
         regexp_replace(t1, '{PII_PHONE_RE}', '<PHONE>', 'g') AS t2
  FROM m1
),
m3 AS (
  SELECT doc_id, n_emails, n_phones,
         len(regexp_extract_all(t2, '{PII_IPV4_RE}')) AS n_ipv4s,
         regexp_replace(t2, '{PII_IPV4_RE}', '<IP>', 'g') AS t3
  FROM m2
)
SELECT doc_id, n_emails, n_phones, n_ipv4s, sha256(t3) AS masked_sha FROM m3
""",
        # q64: tf-idf keywords — same tf/df folds over the shared token
        # regex, same ln() double arithmetic, same row_number cut.
        "q64_tfidf_terms": f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         round(tf.tf * ln(nd.n_docs::DOUBLE / dfq.df), 6) AS tfidf
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term
  ) AS "rank"
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, "rank" FROM ranked
WHERE "rank" <= {TFIDF_TOP_K}
""",
        # q67: unigram-LM quality score — same quantize-then-sum
        # arithmetic (round(ln P * 1e6) AS BIGINT before the per-doc
        # fold) so both engines aggregate exact integers.
        "q67_unigram_logprob": f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY 1),
tot AS (SELECT sum(cf) AS tot FROM cf),
ql AS (
  SELECT term,
         CAST(round(ln(cf::DOUBLE / tot.tot::DOUBLE) * 1000000) AS BIGINT) AS ql
  FROM cf CROSS JOIN tot
)
SELECT tf.doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       round(sum(tf * ql)::DOUBLE / (1000000.0 * sum(tf)), 6) AS logprob
FROM tf JOIN ql USING (term)
GROUP BY 1
""",
        # q68: sequence packing — q65's chunk CTE, bucket = doc_id % B,
        # exclusive-prefix window sum, seq = floor(pre/budget), ordered
        # string_agg sha chain. floor on a non-negative double equals
        # Spark's F.floor of the same division.
        "q68_pack_sequences": f"""
WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents),
idx AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks)::DOUBLE / {CHUNK_TOKENS})
                              AS BIGINT))) AS i
  FROM tok
),
c AS (
  SELECT doc_id, i AS chunk_idx,
         toks[i*{CHUNK_TOKENS}+1 : i*{CHUNK_TOKENS}+{CHUNK_TOKENS}] AS ck
  FROM idx
),
ck AS (
  SELECT doc_id, chunk_idx, CAST(len(ck) AS INT) AS n_tokens,
         sha256(array_to_string(ck, ' ')) AS chunk_sha
  FROM c
),
p AS (
  SELECT *,
         CAST(doc_id % {PACK_BUCKETS} AS INT) AS bucket,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY doc_id % {PACK_BUCKETS}
           ORDER BY doc_id, chunk_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
  FROM ck
)
SELECT bucket,
       CAST(floor(pre::DOUBLE / {SEQ_BUDGET}) AS BIGINT) AS seq_id,
       count(*) AS n_chunks,
       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
       round(sum(n_tokens)::DOUBLE / {SEQ_BUDGET}, 6) AS fill,
       sha256(string_agg(chunk_sha, ' ' ORDER BY doc_id, chunk_idx)) AS seq_sha
FROM p
GROUP BY 1, 2
""",
        # q65: context-window chunking — generate_series over
        # ceil(len/k) chunks, 1-based inclusive list slicing (the last
        # window truncates), empty docs produce no series rows.
        "q65_chunk_pack": f"""
WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents),
idx AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(len(toks)::DOUBLE / {CHUNK_TOKENS})
                              AS BIGINT))) AS i
  FROM tok
),
c AS (
  SELECT doc_id, i AS chunk_idx,
         toks[i*{CHUNK_TOKENS}+1 : i*{CHUNK_TOKENS}+{CHUNK_TOKENS}] AS ck
  FROM idx
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(len(ck) AS INT) AS n_tokens,
       sha256(array_to_string(ck, ' ')) AS chunk_sha
FROM c
""",
        # q66: SemDeDup — same learned codebook as q28 (2 k-means
        # iterations), argmax assignment, then the within-list
        # lower-id-neighbor drop rule replayed as a self-join + LEFT JOIN
        # null test. Cosine is the same double left-fold, rounded to 6dp
        # BEFORE the threshold compare on both engines.
        "q66_semantic_dedup": f"""
WITH {_kmeans_sql(iters=2, k=8)},
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {COSINE.format(a='v.embedding', b='c.cvec')} DESC,
                      c.centroid_id) AS rn
    FROM embeddings v CROSS JOIN c2 c
  ) WHERE rn = 1
),
v AS (
  SELECT e.vec_id AS id, e.embedding AS vec, a.centroid_id
  FROM embeddings e JOIN assign a USING (vec_id)
),
dup AS (
  SELECT DISTINCT hi.id
  FROM v lo JOIN v hi
    ON lo.centroid_id = hi.centroid_id AND lo.id < hi.id
  WHERE round({COSINE.format(a='lo.vec', b='hi.vec')}, 6)
        >= {SEMDEDUP_THRESHOLD}
)
SELECT v.id AS vec_id, v.centroid_id, (d.id IS NULL) AS kept
FROM v LEFT JOIN dup d ON d.id = v.id
""",
        "q52_segment_dedup": f"""
WITH {NEARDUP},
tok AS (SELECT doc_id, {TOKS} AS t FROM docs),
segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(t[(i*{SEGMENT_LEN}+1):(i*{SEGMENT_LEN}+{SEGMENT_LEN})], ' ') AS seg
  FROM tok, unnest(CASE WHEN len(t) > 0
                        THEN range(CAST(ceil(len(t) / {SEGMENT_LEN}.0) AS BIGINT))
                        ELSE [] END) AS u(i)
),
freq AS (
  SELECT sha256(seg) AS h, count(DISTINCT doc_id) AS ndocs
  FROM segs GROUP BY 1
),
kept AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY pos) AS kept_text
  FROM segs JOIN freq ON freq.h = sha256(segs.seg)
  WHERE ndocs <= 1
  GROUP BY doc_id
),
nsg AS (SELECT doc_id, CAST(ceil(len(t) / {SEGMENT_LEN}.0) AS INT) AS n_segs FROM tok)
SELECT nsg.doc_id, n_segs,
       CAST(coalesce(n_kept, 0) AS INT) AS n_kept,
       round(coalesce(n_kept, 0) / CAST(greatest(n_segs, 1) AS DOUBLE), 6) AS kept_frac,
       coalesce(kept_text, '') AS kept_text
FROM nsg LEFT JOIN kept USING (doc_id)
""",
        "q53_top_ngrams": f"""
WITH tok AS (SELECT doc_id, {TOKS} AS t FROM documents),
g AS (SELECT doc_id, unnest({SHINGLE3}) AS gram FROM tok),
c AS (
  SELECT gram, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
  FROM g GROUP BY gram
)
SELECT gram, occurrences, doc_freq FROM c
ORDER BY occurrences DESC, gram LIMIT 50
""",
        # q55: benchmark decontamination — identical bench/candidate split,
        # distinct-3-gram LEFT JOIN overlap, zero-gram docs restored via the
        # outer doc-list join (Spark side keeps them via explode_outer).
        "q55_contamination": f"""
WITH {NEARDUP},
bench AS (
  SELECT DISTINCT unnest(list_distinct({SHINGLE3})) AS gram
  FROM (SELECT {TOKS} AS t FROM docs WHERE doc_id % {Q.CONTAM_BENCH_MOD} = 0)
),
cand AS (
  SELECT doc_id, unnest(list_distinct({SHINGLE3})) AS gram
  FROM (SELECT doc_id, {TOKS} AS t FROM docs
        WHERE doc_id % {Q.CONTAM_BENCH_MOD} <> 0)
),
per AS (
  SELECT c.doc_id,
         count(*) AS total_grams,
         sum(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END) AS contaminated
  FROM cand c LEFT JOIN bench b USING (gram)
  GROUP BY c.doc_id
)
SELECT d.doc_id,
  CAST(coalesce(p.total_grams, 0) AS INT) AS total_grams,
  CAST(coalesce(p.contaminated, 0) AS INT) AS contaminated_grams,
  round(CASE WHEN coalesce(p.total_grams, 0) > 0
             THEN coalesce(p.contaminated, 0) / CAST(p.total_grams AS DOUBLE)
             ELSE 0.0 END, 6) AS contamination_ratio,
  coalesce(p.contaminated, 0) >= {CONTAM_MIN_OVERLAP} AS is_contaminated
FROM (SELECT doc_id FROM docs WHERE doc_id % {Q.CONTAM_BENCH_MOD} <> 0) d
LEFT JOIN per p USING (doc_id)
""",
        # q56: crawl-trap signals — identical URL derivation, exact-integer
        # sums divided post-aggregate (never a float avg), same thresholds.
        "q56_trap_detection": f"""
WITH u AS (
  SELECT CASE
    WHEN doc_id % 4 = 0 THEN 'https://en.wikipedia.org/wiki/Doc_' || doc_id
    WHEN doc_id % 4 = 1 THEN 'https://docs.example.org/docs/v' || (doc_id % 10)
                             || '/page_' || doc_id
    WHEN doc_id % 4 = 2 THEN 'https://calendar.example.com/2026/' || (doc_id % 12 + 1)
                             || '/' || (doc_id % 28 + 1) || '/event_' || doc_id
    ELSE 'https://forum.example.net/thread?id=' || doc_id || '&sort=' || (doc_id % 3)
  END AS url
  FROM documents
),
s AS (
  SELECT
    regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
    len(list_filter(string_split(regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1), '/'),
                    x -> x <> '')) AS depth,
    array_to_string(list_filter(string_split(regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1), '/'),
                    x -> x <> '')[1:2], '/') AS prefix2,
    CASE WHEN instr(url, '?') > 0 THEN 1 ELSE 0 END AS has_param
  FROM u
),
g AS (
  SELECT host, count(*) AS n_urls, sum(depth) AS depth_sum,
         sum(has_param) AS param_sum, count(DISTINCT prefix2) AS n_prefix2
  FROM s GROUP BY host
),
r AS (
  SELECT host, n_urls,
    round(depth_sum / CAST(n_urls AS DOUBLE), 6) AS avg_depth,
    round(param_sum / CAST(n_urls AS DOUBLE), 6) AS param_frac,
    round(n_urls / CAST(greatest(n_prefix2, 1) AS DOUBLE), 6) AS amplification
  FROM g
)
SELECT host, n_urls, avg_depth, param_frac, amplification,
  (amplification >= {TRAP_AMPLIFICATION}
   AND (avg_depth >= {TRAP_AVG_DEPTH} OR param_frac >= {TRAP_PARAM_FRAC})) AS is_trap
FROM r
""",
        # q57: deterministic stratified mixture sampling — same md5-prefix
        # threshold compare (string order), same per-lang rates.
        "q57_mixture_sample": f"""
WITH s AS (
  SELECT doc_id, lang,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, {SAMPLE_HEX_DIGITS}) AS sample_key,
    CAST(len({TOKS}) AS INT) AS n_tokens
  FROM documents
)
SELECT doc_id, lang, sample_key, n_tokens FROM s
WHERE sample_key < {_mixture_case}
""",
        # q69: token-budget quota sampling — same md5 fill order and
        # strict-fit predicate as the Spark operator; quotas are the
        # identical budget // shards floors via _budget_case.
        "q69_token_budget_sample": f"""
WITH base AS (
  SELECT doc_id, lang,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, {SAMPLE_HEX_DIGITS}) AS sample_key,
    CAST(len({TOKS}) AS BIGINT) AS n_tokens,
    CAST(doc_id % {BUDGET_SHARDS} AS INT) AS shard
  FROM documents
),
p AS (
  SELECT *, COALESCE(SUM(n_tokens) OVER (
    PARTITION BY lang, shard ORDER BY sample_key, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
  FROM base
)
SELECT doc_id, lang, shard, sample_key, n_tokens,
       CAST(pre + n_tokens AS BIGINT) AS cum_tokens
FROM p
WHERE pre + n_tokens <= {_budget_case}
""",
        # q70: BM25 top-k — identical idf/tf-norm association and the
        # same Python-computed double constants as textops.bm25_topk;
        # per-term contributions quantized to 1e-6 longs before the sum.
        "q70_bm25_topk": f"""
WITH q(query_id, term) AS (VALUES {_bm25_values}),
dl AS (SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS dl FROM documents),
stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 sum(dl)::DOUBLE / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tfq AS (SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
contrib AS (
  SELECT q.query_id, t.doc_id,
    CAST(round((ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
      * ((t.tf * {BM25_K1 + 1.0!r})
         / (t.tf + {BM25_K1!r} * ({1.0 - BM25_B!r}
              + ({BM25_B!r} * l.dl) / s.avgdl))))
      * 1000000.0) AS BIGINT) AS c
  FROM tfq t JOIN dfq d USING (term) JOIN dl l USING (doc_id)
  JOIN q USING (term) CROSS JOIN stats s
),
scored AS (SELECT query_id, doc_id, sum(c) AS score_q,
                  count(*) AS n_terms
           FROM contrib GROUP BY 1, 2),
loc AS (SELECT *, row_number() OVER (
    PARTITION BY query_id, doc_id % {BM25_SHARDS}
    ORDER BY score_q DESC, doc_id) AS rn
  FROM scored),
gtop AS (SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score_q DESC, doc_id) AS "rank"
  FROM loc WHERE rn <= {BM25_TOP_K})
SELECT query_id, doc_id, "rank", n_terms, CAST(score_q AS BIGINT) AS score_q,
       round(score_q / 1000000.0, 6) AS score
FROM gtop WHERE "rank" <= {BM25_TOP_K}
""",
        # q71: stupid-backoff bigram LM — trains on doc_id % 2 = 0,
        # scores all docs; identical quantized-long arithmetic as the
        # Spark operator (textops.bigram_logprob).
        "q71_bigram_logprob": f"""
WITH tokt AS (SELECT doc_id, {TOKS} AS t FROM documents),
train AS (SELECT * FROM tokt WHERE doc_id % 2 = 0),
c1 AS (SELECT term, count(*) AS c1
       FROM (SELECT unnest(t) AS term FROM train) GROUP BY 1),
tots AS (SELECT sum(c1) AS tot, count(*) AS vocab FROM c1),
bc AS (SELECT s, count(*) AS bc
       FROM (SELECT unnest({_SHINGLE2}) AS s FROM train) GROUP BY 1),
spn AS (SELECT doc_id, s, count(*) AS n
        FROM (SELECT doc_id, unnest({_SHINGLE2}) AS s FROM tokt)
        GROUP BY 1, 2),
pairs AS (SELECT DISTINCT s,
                 string_split(s, ' ')[1] AS w1,
                 string_split(s, ' ')[2] AS w2 FROM spn),
ql AS (
  SELECT p.s,
    CAST(round(ln(CASE WHEN bc.bc IS NOT NULL
        THEN CAST(bc.bc AS DOUBLE) / cu.c1
        ELSE 0.4 * (CAST(COALESCE(cw.c1, 0) + 1 AS DOUBLE)
                    / CAST(t.tot + t.vocab AS DOUBLE)) END)
      * 1000000.0) AS BIGINT) AS ql
  FROM pairs p LEFT JOIN bc ON bc.s = p.s
  LEFT JOIN c1 cu ON cu.term = p.w1
  LEFT JOIN c1 cw ON cw.term = p.w2
  CROSS JOIN tots t
)
SELECT spn.doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
       round(sum(n * ql)::DOUBLE / (1000000.0 * sum(n)), 6) AS logprob
FROM spn JOIN ql USING (s) GROUP BY 1
""",
        # q72: per-node triangle counts — the Spark side runs the
        # degree-oriented wedge join; the triangle SET is orientation-
        # independent, so the id-ordered (a<b<c) 3-way join replays it.
        "q72_triangle_count": """
WITH e0 AS (
  SELECT doc_id AS src,
         unnest([doc_id % 97, (doc_id * 31 + 7) % 97,
                 (doc_id * 17 + 3) % 97]) AS dst
  FROM documents
),
e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM e0 WHERE src <> dst),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
n AS (SELECT unnest([x, y, z]) AS id FROM tri)
SELECT id, count(*) AS n_triangles FROM n GROUP BY 1
""",
        # q73: per-source reputation rollup — identical injection +
        # quality/PII derivations as textops.source_reputation over
        # queries.rep_inject; the keep verdict compares ROUNDED rates.
        "q73_source_reputation": f"""
WITH inj AS (
  SELECT doc_id, source,
    CASE WHEN doc_id % 10 = 0
         THEN '{Q.REP_BOILER} ' || (doc_id % 3)
         ELSE text
    || CASE WHEN doc_id % 5 = 0
         THEN ' contact user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0')
              || '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END
    || CASE WHEN doc_id % 3 = 0
         THEN ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
              || '.' || ((doc_id * 13) % 256) ELSE '' END
    END AS t
  FROM documents
),
fq AS (
  SELECT doc_id, source, t,
    len(toks) AS n,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS tok_chars,
    CAST(len(list_filter(toks, x -> x IN ({_STOP_LIST}))) AS DOUBLE) AS stops
  FROM (SELECT doc_id, source, t,
               regexp_extract_all(lower(t), '{TOKEN_RE}') AS toks FROM inj)
),
m1 AS (
  SELECT doc_id, len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS n_emails,
         regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1
  FROM inj
),
m2 AS (
  SELECT doc_id, n_emails,
         len(regexp_extract_all(t1, '{PII_PHONE_RE}')) AS n_phones,
         regexp_replace(t1, '{PII_PHONE_RE}', '<PHONE>', 'g') AS t2
  FROM m1
),
m3 AS (
  SELECT doc_id, n_emails, n_phones,
         len(regexp_extract_all(t2, '{PII_IPV4_RE}')) AS n_ipv4s
  FROM m2
),
pd AS (
  SELECT fq.doc_id, fq.source,
    CAST(round(round(
      least(n / 100.0, 1.0) * 0.4
      + (CASE WHEN n > 0 THEN stops / n ELSE 0.0 END) * 0.3
      + least((CASE WHEN n > 0 THEN tok_chars / n ELSE 0.0 END) / 8.0, 1.0)
        * 0.3, 6) * 1000000.0) AS BIGINT) AS ql,
    CASE WHEN (m.n_emails + m.n_phones + m.n_ipv4s) > 0
         THEN 1 ELSE 0 END AS has_pii,
    sha256(fq.t) AS h
  FROM fq JOIN m3 m USING (doc_id)
),
dup AS (SELECT *, count(*) OVER (PARTITION BY h) AS c FROM pd),
roll AS (
  SELECT source, count(*) AS n_docs, sum(ql) AS sq, sum(has_pii) AS np,
         sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS nd
  FROM dup GROUP BY 1
),
rates AS (
  SELECT source, n_docs,
    round(sq::DOUBLE / (1000000.0 * n_docs), 6) AS mean_quality,
    round(CAST(np AS DOUBLE) / n_docs, 6) AS pii_rate,
    round(CAST(nd AS DOUBLE) / n_docs, 6) AS dup_rate
  FROM roll
)
SELECT source, n_docs, mean_quality, pii_rate, dup_rate,
       (mean_quality >= {REP_QUALITY_MIN} AND dup_rate <= {REP_DUP_MAX}
        AND pii_rate <= {REP_PII_MAX}) AS keep
FROM rates
""",
        # q74: gaps-and-islands sessionization — same (epoch micros,
        # event_id) total order and 6 h cut rule as
        # streaming.sessionize_events; DECIMAL(18,2) value sums.
        "q74_sessionize_events": f"""
WITH b AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
),
m AS (
  SELECT *, CASE WHEN us - lag(us) OVER w IS NULL
                  OR us - lag(us) OVER w > {SESSION_GAP_SEC * 1_000_000}
             THEN 1 ELSE 0 END AS ns
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
s AS (
  SELECT *, sum(ns) OVER (
    PARTITION BY user_id ORDER BY us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM m
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       count(*) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event,
       round((max(us) - min(us)) / 1000000.0, 6) AS duration_sec,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s GROUP BY 1, 2
""",
        # q75: exact-substring duplication profile — same license-block
        # injection, rolling-window hashing, and >1-doc ban set as
        # dedup.substring_dup_profile over queries.substring_inject.
        "q75_substring_dup": f"""
WITH inj AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0 THEN text || ' {Q.SUBSTR_LICENSE}'
         ELSE text END AS text
  FROM documents
),
tok AS (SELECT doc_id, {TOKS} AS t FROM inj),
base AS (
  SELECT doc_id,
    greatest(len(t) - {SUBSTR_WINDOW} + 1, 0) AS n_windows,
    CASE WHEN len(t) >= {SUBSTR_WINDOW} THEN
      list_transform(
        generate_series(1, CAST(len(t) - {SUBSTR_WINDOW} + 1 AS INT)),
        i -> sha256(array_to_string(t[i:i + {SUBSTR_WINDOW - 1}], ' ')))
    ELSE [] END AS hs
  FROM tok
),
wr AS (SELECT doc_id, unnest(hs) AS h FROM base),
banned AS (
  SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS ndocs FROM wr GROUP BY 1)
  WHERE ndocs > 1
),
dups AS (SELECT doc_id, count(*) AS n_dup FROM wr JOIN banned USING (h)
         GROUP BY 1),
prof AS (
  SELECT b.doc_id, CAST(b.n_windows AS BIGINT) AS n_windows,
    CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_windows,
    round(CASE WHEN b.n_windows > 0
               THEN CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / b.n_windows
               ELSE 0.0 END, 6) AS dup_frac
  FROM base b LEFT JOIN dups d USING (doc_id)
)
SELECT doc_id, n_windows, n_dup_windows, dup_frac,
       (dup_frac >= {SUBSTR_DUP_FRAC}) AS flagged
FROM prof
""",
        # q76: IVF recall@10 vs brute force — both legs are the q19/q28
        # CTE chains verbatim (renamed to avoid collisions), then the
        # same (query, neighbor) overlap join as similarity.ann_recall.
        "q76_ann_recall": f"""
WITH {_kmeans_sql(iters=2, k=8)},
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY {COSINE.format(a='v.embedding', b='c.cvec')} DESC,
                      c.centroid_id) AS rn
    FROM embeddings v CROSS JOIN c2 c
  ) WHERE rn = 1
),
iv AS (
  SELECT e.vec_id AS neighbor_id, e.embedding AS vec, a.centroid_id
  FROM embeddings e JOIN assign a USING (vec_id)
),
iq AS (
  SELECT e.vec_id AS query_id, e.embedding AS qvec, a.centroid_id
  FROM embeddings e JOIN assign a USING (vec_id)
  WHERE e.vec_id < 5
),
iranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM (
    SELECT iq.query_id, iv.neighbor_id,
           round({COSINE.format(a='iq.qvec', b='iv.vec')}, 6) AS cos_sim
    FROM iq JOIN iv USING (centroid_id)
    WHERE iv.neighbor_id <> iq.query_id
  )
),
ivf AS (SELECT query_id, neighbor_id FROM iranked WHERE rnk <= 10),
bq AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
       WHERE vec_id < 5),
branked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM (
    SELECT bq.query_id, v.vec_id AS neighbor_id,
           round({COSINE.format(a='bq.qvec', b='v.embedding')}, 6) AS cos_sim
    FROM bq CROSS JOIN embeddings v
    WHERE v.vec_id <> bq.query_id
  )
),
bf AS (SELECT query_id, neighbor_id FROM branked WHERE rnk <= 10),
hits AS (
  SELECT b.query_id, count(*) AS n_hits
  FROM bf b JOIN ivf i
    ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
  GROUP BY 1
),
tr AS (SELECT query_id, count(*) AS n_truth FROM bf GROUP BY 1)
SELECT t.query_id, CAST(t.n_truth AS BIGINT) AS n_truth,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_truth, 6) AS recall
FROM tr t LEFT JOIN hits h USING (query_id)
""",
        # q77: inverted-index construction — same tf fold, argmax
        # tie-break, and "doc:tf,…" postings serialization as
        # textops.build_inverted_index.
        "q77_inverted_index": f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
top AS (
  SELECT term, doc_id AS top_doc, tf AS top_tf FROM (
    SELECT *, row_number() OVER (
      PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
    FROM tf
  ) WHERE rn = 1
),
agg AS (
  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
         string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
  FROM tf GROUP BY 1
)
SELECT a.term, a.df, a.cf, t.top_doc, t.top_tf, a.postings
FROM agg a JOIN top t USING (term)
""",
        # q78: q47's recursive closure + the q73 quality quantization +
        # the same (ql desc, id) argmax as dedup.canonical_selection.
        "q78_canonical_selection": f"""
WITH RECURSIVE {NEARDUP}, {_minhash_sig_sql('docs')},
banded AS (
  SELECT doc_id AS id, unnest([
      {bands}]) AS band_key
  FROM sig
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b USING (band_key)
  WHERE a.id < b.id
),
scored AS (
  SELECT id_a, id_b
  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
  WHERE round(({agree}) / 12.0, 6) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM scored
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM scored
),
walk(id, lab) AS (
  SELECT doc_id, doc_id FROM docs
  UNION
  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id
),
clusters AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id),
qf AS (
  SELECT doc_id,
    len(toks) AS n,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS tok_chars,
    CAST(len(list_filter(toks, x -> x IN ({_STOP_LIST}))) AS DOUBLE) AS stops
  FROM (SELECT doc_id,
               regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks
        FROM docs)
),
qlt AS (
  SELECT doc_id,
    CAST(round(round(
      least(n / 100.0, 1.0) * 0.4
      + (CASE WHEN n > 0 THEN stops / n ELSE 0.0 END) * 0.3
      + least((CASE WHEN n > 0 THEN tok_chars / n ELSE 0.0 END) / 8.0, 1.0)
        * 0.3, 6) * 1000000.0) AS BIGINT) AS ql
  FROM qf
),
jj AS (SELECT c.doc_id, c.cluster_id, q.ql
       FROM clusters c JOIN qlt q USING (doc_id)),
canon AS (
  SELECT cluster_id, doc_id AS canonical_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY cluster_id ORDER BY ql DESC, doc_id) AS rn
    FROM jj
  ) WHERE rn = 1
)
SELECT jj.doc_id, jj.cluster_id, jj.ql, canon.canonical_id,
       (jj.doc_id = canon.canonical_id) AS is_canonical
FROM jj JOIN canon USING (cluster_id)
""",
        # q79: lang-ID confusion matrix — the q21 marker-argmax CASE +
        # the same counters-only rollup as textops.langid_confusion.
        "q79_langid_confusion": f"""
WITH s AS (
  SELECT doc_id, lang,
    {lang_scores}
  FROM (SELECT doc_id, lang, {TOKS} AS toks FROM documents)
),
p AS (SELECT lang AS true_lang, {lang_case} AS pred_lang FROM s),
cm AS (SELECT true_lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2),
tot AS (SELECT true_lang, CAST(sum(n) AS BIGINT) AS n_true FROM cm GROUP BY 1)
SELECT cm.true_lang, cm.pred_lang, cm.n, tot.n_true,
       round(CAST(cm.n AS DOUBLE) / tot.n_true, 6) AS frac,
       (cm.true_lang = cm.pred_lang) AS correct
FROM cm JOIN tot USING (true_lang)
""",
        # q80: per-host budget plan — same skewed URL derivation, cap
        # arithmetic, and drain bound as politeness.budget_plan.
        "q80_budget_plan": """
WITH pending AS (
  SELECT 'h' || (CASE WHEN doc_id % 4 < 2 THEN 0 ELSE doc_id % 13 END)
         || '.example.org' AS host
  FROM documents
),
plan AS (
  SELECT host, count(*) AS n_pending,
         CAST(least(count(*), 25) AS BIGINT) AS next_round_alloc,
         CAST(ceil(count(*) / 25.0) AS BIGINT) AS rounds_to_drain
  FROM pending GROUP BY 1
),
bound AS (SELECT max(rounds_to_drain) AS drain_bound FROM plan)
SELECT p.host, p.n_pending, p.next_round_alloc, p.rounds_to_drain,
       b.drain_bound, (p.rounds_to_drain = b.drain_bound) AS is_critical
FROM plan p CROSS JOIN bound b
""",
        # q81: corpus freshness — same warc_ts derivation and integer-
        # micros age arithmetic as frontier.freshness_profile.
        "q81_freshness": """
WITH pages AS (
  SELECT lang,
    epoch_us(TIMESTAMP '2024-01-01 00:00:00'
             + doc_id * INTERVAL 1 SECOND) AS us
  FROM documents
),
ref AS (SELECT max(us) AS ref_us FROM pages),
aged AS (SELECT lang AS stratum, us, (r.ref_us - us) AS age_us
         FROM pages CROSS JOIN ref r)
SELECT stratum, count(*) AS n_docs,
  round((max(us) - min(us)) / 1000000.0, 6) AS span_sec,
  round(sum(age_us)::DOUBLE / (1000000.0 * count(*)), 6) AS mean_age_sec,
  CAST(sum(CASE WHEN age_us > 250000000 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_stale,
  round(CAST(sum(CASE WHEN age_us > 250000000 THEN 1 ELSE 0 END) AS DOUBLE)
        / count(*), 6) AS stale_frac
FROM aged GROUP BY 1
""",
        # q82: CDX capture index — identical 3-captures-per-doc derivation
        # (version schedule v(0)=0, v(1)=id%2, v(2)=v(1)+(id%3==0?0:1)),
        # SURT key from string ops, same lag window for revisit flags.
        "q82_cdx_index": """
WITH caps AS (
  SELECT doc_id, text, j,
    CASE WHEN j = 0 THEN 0
         WHEN j = 1 THEN doc_id % 2
         ELSE (doc_id % 2) + (CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END)
    END AS v
  FROM documents CROSS JOIN (VALUES (0), (1), (2)) AS JJ(j)
),
rows_ AS (
  SELECT
    'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
    CAST(doc_id * 3 + j AS BIGINT) AS warc_ts,
    sha256(text || '#v' || v) AS digest,
    CAST(length(text) + v AS BIGINT) AS length
  FROM caps
),
surted AS (
  SELECT
    array_to_string(
      list_reverse(string_split(
        split_part(lower(split_part(split_part(url, '://', 2), '/', 1)),
                   ':', 1), '.')), ',')
    || ')'
    || (CASE WHEN substr(split_part(url, '://', 2),
              length(split_part(split_part(url, '://', 2), '/', 1)) + 1) = ''
         THEN '/'
         ELSE lower(substr(split_part(url, '://', 2),
              length(split_part(split_part(url, '://', 2), '/', 1)) + 1))
        END) AS surt,
    url, warc_ts, digest, length
  FROM rows_
)
SELECT surt, url, warc_ts, digest, length,
  CAST(row_number() OVER w AS BIGINT) AS capture_no,
  coalesce(lag(digest) OVER w = digest, false) AS is_revisit
FROM surted
WINDOW w AS (PARTITION BY url ORDER BY warc_ts, digest)
""",
        # q83: redirect resolution — recursive one-hop walk with the same
        # max_hops=16 cutoff; unresolved = longest walk still ends at a
        # redirect source (cycle / over-long chain).
        "q83_redirect_chains": """
WITH RECURSIVE r AS (
  SELECT 'https://en.wikipedia.org/wiki/Doc_' || doc_id AS src,
         'https://en.wikipedia.org/wiki/Doc_' || (doc_id - 1) AS dst
  FROM documents WHERE doc_id % 8 <> 0
  UNION ALL
  SELECT 'https://en.wikipedia.org/wiki/Cycle_A',
         'https://en.wikipedia.org/wiki/Cycle_B'
  UNION ALL
  SELECT 'https://en.wikipedia.org/wiki/Cycle_B',
         'https://en.wikipedia.org/wiki/Cycle_A'
),
walk AS (
  SELECT src AS src_url, dst AS cur, 1 AS hops FROM r
  UNION ALL
  SELECT w.src_url, r.dst, w.hops + 1
  FROM walk w JOIN r ON w.cur = r.src
  WHERE w.hops < 16
),
last AS (
  SELECT src_url, cur, hops FROM (
    SELECT src_url, cur, hops,
      row_number() OVER (PARTITION BY src_url ORDER BY hops DESC) AS rn
    FROM walk
  ) WHERE rn = 1
)
SELECT l.src_url,
  CASE WHEN s.src IS NULL AND l.hops <= 16 THEN l.cur END AS final_url,
  CAST(CASE WHEN s.src IS NULL AND l.hops <= 16 THEN l.hops END AS INT)
    AS n_hops,
  (s.src IS NULL AND l.hops <= 16) AS resolved
FROM last l LEFT JOIN (SELECT DISTINCT src FROM r) s ON l.cur = s.src
""",
        # q84: mirror detection — same 5-host layout + alt-host plant,
        # digest rollup with a sorted distinct host list.
        "q84_mirror_hosts": """
WITH pages AS (
  SELECT 'https://m' || (doc_id % 5) || '.example.org/p/' || doc_id AS url,
         'm' || (doc_id % 5) || '.example.org' AS host,
         sha256(text) AS digest
  FROM documents
  UNION ALL
  SELECT 'https://alt.example.org/p/' || doc_id,
         'alt.example.org',
         sha256(text)
  FROM documents WHERE doc_id % 4 = 0
)
SELECT digest,
  count(*) AS n_urls,
  count(DISTINCT host) AS n_hosts,
  array_to_string(list_sort(list(DISTINCT host)), ',') AS hosts
FROM pages
GROUP BY digest
HAVING count(DISTINCT host) >= 2
""",
        # q85: snapshot diff — same old/new membership + digest-change
        # rules, FULL OUTER JOIN + null-pattern CASE.
        "q85_snapshot_diff": """
WITH old AS (
  SELECT 'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
         sha256(text) AS old_digest
  FROM documents WHERE doc_id % 10 <> 9
),
new_ AS (
  SELECT 'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
         sha256(text || (CASE WHEN doc_id % 3 = 0 THEN '!' ELSE '' END))
           AS new_digest
  FROM documents WHERE doc_id % 10 <> 0
)
SELECT coalesce(o.url, n.url) AS url,
  CASE WHEN o.url IS NULL THEN 'added'
       WHEN n.url IS NULL THEN 'removed'
       WHEN o.old_digest = n.new_digest THEN 'unchanged'
       ELSE 'changed' END AS change,
  o.old_digest, n.new_digest
FROM old o FULL OUTER JOIN new_ n ON o.url = n.url
""",
        # q86: DSIR importance weights — same tf/cf fold (target counts as
        # conditional sums), add-1 smoothing over the raw vocab, 1e-6-long
        # quantization before the per-doc sum.
        "q86_dsir_weights": f"""
WITH tok AS (
  SELECT doc_id, (lang = 'en') AS is_t, unnest({TOKS}) AS term
  FROM documents
),
tf AS (SELECT doc_id, is_t, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
cf AS (
  SELECT term, sum(tf) AS cf_r,
         sum(CASE WHEN is_t THEN tf ELSE 0 END) AS cf_t
  FROM tf GROUP BY 1
),
tot AS (
  SELECT count(*) AS vocab, sum(cf_r) AS tot_r, sum(cf_t) AS tot_t FROM cf
),
lr AS (
  SELECT term,
    CAST(round(ln(
      ((cf_t + 1)::DOUBLE / (tot_t + vocab)::DOUBLE)
      / ((cf_r + 1)::DOUBLE / (tot_r + vocab)::DOUBLE)
    ) * 1000000) AS BIGINT) AS lr_q
  FROM cf CROSS JOIN tot
),
agg AS (
  SELECT tf.doc_id,
    CAST(sum(tf) AS BIGINT) AS n_tokens,
    round(sum(tf * lr_q)::DOUBLE / (1000000.0 * sum(tf)), 6) AS importance
  FROM tf JOIN lr USING (term)
  GROUP BY 1
)
SELECT doc_id, n_tokens, importance, (importance > 0) AS keep FROM agg
""",
        # q87: CCNet terciles — q67's score chain + plain ntile(3); the
        # Spark side reproduces ntile semantics with a histogram +
        # cumulative counts (no single-task global window).
        "q87_perplexity_buckets": f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY 1),
tot AS (SELECT sum(cf) AS tot FROM cf),
ql AS (
  SELECT term,
         CAST(round(ln(cf::DOUBLE / tot.tot::DOUBLE) * 1000000) AS BIGINT) AS ql
  FROM cf CROSS JOIN tot
),
scores AS (
  SELECT tf.doc_id,
         round(sum(tf * ql)::DOUBLE / (1000000.0 * sum(tf)), 6) AS logprob
  FROM tf JOIN ql USING (term)
  GROUP BY 1
)
SELECT doc_id, logprob,
  CASE ntile(3) OVER (ORDER BY logprob DESC, doc_id)
    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM scores
""",
        # q88: sitemap ingestion — identical XML build (string_agg ORDER BY
        # doc_id), same lazy-quantifier extraction (RE2 ∩ Java regex), same
        # seen anti-join.
        "q88_sitemap_seeds": """
WITH entry AS (
  SELECT CAST(doc_id % 7 AS INT) AS sitemap_id, doc_id,
    '<url><loc>https://en.wikipedia.org/wiki/Doc_' || doc_id || '</loc>'
    || (CASE WHEN doc_id % 4 <> 0
        THEN '<lastmod>2024-01-'
             || lpad(CAST(doc_id % 27 + 1 AS VARCHAR), 2, '0')
             || '</lastmod>'
        ELSE '' END)
    || '</url>' AS e
  FROM documents
),
blobs AS (
  SELECT sitemap_id,
    '<urlset>' || string_agg(e, '' ORDER BY doc_id) || '</urlset>' AS xml
  FROM entry GROUP BY 1
),
parsed AS (
  SELECT sitemap_id, unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) AS u
  FROM blobs
),
locs AS (
  SELECT sitemap_id,
    regexp_extract(u, '<loc>(.*?)</loc>', 1) AS loc,
    nullif(regexp_extract(u, '<lastmod>(.*?)</lastmod>', 1), '') AS lastmod
  FROM parsed
  WHERE regexp_extract(u, '<loc>(.*?)</loc>', 1) <> ''
),
seen AS (
  SELECT 'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url
  FROM documents WHERE doc_id % 3 = 0
)
SELECT l.sitemap_id, l.loc, l.lastmod
FROM locs l LEFT JOIN seen s ON l.loc = s.url
WHERE s.url IS NULL
""",
        # q89: per-host circuit breaker — same attempt derivation, counters
        # fold, rounded-rate threshold CASE.
        "q89_circuit_breaker": """
WITH attempts AS (
  SELECT 'h' || (event_id % 20) AS host,
         ((event_id // 20) % ((event_id % 20) + 2) <> 0) AS ok
  FROM events
),
agg AS (
  SELECT host, count(*) AS n_attempts,
         CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_failures
  FROM attempts GROUP BY 1
)
SELECT host, n_attempts, n_failures,
  round(n_failures::DOUBLE / n_attempts, 6) AS failure_rate,
  CASE
    WHEN n_attempts >= 10
         AND round(n_failures::DOUBLE / n_attempts, 6) >= 0.5 THEN 'open'
    WHEN n_attempts >= 10
         AND round(n_failures::DOUBLE / n_attempts, 6) >= 0.25 THEN 'half_open'
    ELSE 'closed' END AS state
FROM agg
""",
        # q90: WARC layout — q82's capture derivation + the same md5-digit
        # file shard + exclusive prefix-sum frame.
        "q90_warc_layout": """
WITH caps AS (
  SELECT doc_id, text, j,
    CASE WHEN j = 0 THEN 0
         WHEN j = 1 THEN doc_id % 2
         ELSE (doc_id % 2) + (CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END)
    END AS v
  FROM documents CROSS JOIN (VALUES (0), (1), (2)) AS JJ(j)
),
rows_ AS (
  SELECT
    'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
    CAST(doc_id * 3 + j AS BIGINT) AS warc_ts,
    sha256(text || '#v' || v) AS digest,
    CAST(length(text) + v AS BIGINT) AS length
  FROM caps
),
keyed AS (
  SELECT
    substr(md5(url), 1, 1) AS warc_file,
    array_to_string(
      list_reverse(string_split(
        split_part(lower(split_part(split_part(url, '://', 2), '/', 1)),
                   ':', 1), '.')), ',')
    || ')'
    || (CASE WHEN substr(split_part(url, '://', 2),
              length(split_part(split_part(url, '://', 2), '/', 1)) + 1) = ''
         THEN '/'
         ELSE lower(substr(split_part(url, '://', 2),
              length(split_part(split_part(url, '://', 2), '/', 1)) + 1))
        END) AS surt,
    url, warc_ts, digest, length
  FROM rows_
)
SELECT warc_file, surt, url, warc_ts, digest, length,
  CAST(coalesce(sum(length) OVER (
    PARTITION BY warc_file ORDER BY surt, warc_ts, digest
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    AS offset
FROM keyed
""",
        # q91: robust length outliers — lower-median/MAD via the same
        # histogram + cumulative CTE chain (no engine median()).
        "q91_length_outliers": """
WITH s AS (
  SELECT doc_id AS id, lang AS st, CAST(n_chars AS BIGINT) AS x
  FROM documents
),
hist AS (SELECT st, x, count(*) AS cnt FROM s GROUP BY 1, 2),
cum AS (
  SELECT st, x,
    sum(cnt) OVER (PARTITION BY st ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(cnt) OVER (PARTITION BY st) AS tot
  FROM hist
),
med AS (
  SELECT st, min(x) AS med FROM cum WHERE cum >= ceil(tot / 2.0) GROUP BY 1
),
dev AS (
  SELECT s.id, s.st, s.x, med.med, abs(s.x - med.med) AS d
  FROM s JOIN med USING (st)
),
dhist AS (SELECT st, d, count(*) AS cnt FROM dev GROUP BY 1, 2),
dcum AS (
  SELECT st, d,
    sum(cnt) OVER (PARTITION BY st ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(cnt) OVER (PARTITION BY st) AS tot
  FROM dhist
),
mad AS (
  SELECT st, min(d) AS mad FROM dcum WHERE cum >= ceil(tot / 2.0) GROUP BY 1
)
SELECT dev.id AS doc_id, dev.st AS lang, dev.x AS n_chars,
  dev.med AS median, mad.mad,
  (mad.mad > 0 AND dev.d > 3.0 * mad.mad) AS is_outlier
FROM dev JOIN mad USING (st)
""",
        # q92: composed archive write plan — q82's index + revisit filter
        # + q90's layout over stored records + per-file savings rollup.
        "q92_archive_pipeline": """
WITH caps AS (
  SELECT doc_id, text, j,
    CASE WHEN j = 0 THEN 0
         WHEN j = 1 THEN doc_id % 2
         ELSE (doc_id % 2) + (CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END)
    END AS v
  FROM documents CROSS JOIN (VALUES (0), (1), (2)) AS JJ(j)
),
rows_ AS (
  SELECT
    'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
    CAST(doc_id * 3 + j AS BIGINT) AS warc_ts,
    sha256(text || '#v' || v) AS digest,
    CAST(length(text) + v AS BIGINT) AS length
  FROM caps
),
idx AS (
  SELECT url, warc_ts, digest, length,
    coalesce(lag(digest) OVER (PARTITION BY url ORDER BY warc_ts, digest)
             = digest, false) AS is_revisit
  FROM rows_
),
stored AS (
  SELECT substr(md5(url), 1, 1) AS warc_file, length
  FROM idx WHERE NOT is_revisit
),
written AS (
  SELECT warc_file, count(*) AS n_stored,
         CAST(sum(length) AS BIGINT) AS bytes_written
  FROM stored GROUP BY 1
),
skipped AS (
  SELECT substr(md5(url), 1, 1) AS warc_file,
         count(*) AS n_revisits,
         CAST(sum(length) AS BIGINT) AS bytes_saved
  FROM idx WHERE is_revisit GROUP BY 1
)
SELECT w.warc_file, w.n_stored, w.bytes_written,
  coalesce(s.n_revisits, 0) AS n_revisits,
  coalesce(s.bytes_saved, 0) AS bytes_saved
FROM written w LEFT JOIN skipped s USING (warc_file)
""",
        # q93: distributed robots — same star-group regex, line parse, and
        # longest-prefix/allow-first argmax.
        "q93_robots_distributed": """
WITH hosts AS (
  SELECT DISTINCT 'h' || (doc_id % 10) AS host,
         CAST(doc_id % 10 AS INT) AS hn
  FROM documents
),
robots AS (
  SELECT host,
    'User-agent: bot-x' || chr(10) || 'Disallow: /' || chr(10)
    || 'User-agent: *' || chr(10)
    || 'Disallow: /private' || hn || '/' || chr(10)
    || 'Allow: /private' || hn || '/ok' || chr(10)
    || 'Disallow: /tmp # infinite calendar' || chr(10)
    || 'Crawl-delay: 1' || chr(10) AS txt
  FROM hosts
),
star AS (
  SELECT host,
    regexp_extract(txt,
      '(?s)[Uu]ser-[Aa]gent:[ \t]*\\*[ \t]*\n(.*?)(?:[Uu]ser-[Aa]gent:|$)',
      1) AS chunk
  FROM robots
),
lines_ AS (
  SELECT host, unnest(string_split(chunk, chr(10))) AS raw FROM star
),
parsed AS (
  SELECT host,
    lower(trim(split_part(nc, ':', 1))) AS key,
    trim(substr(nc, strpos(nc, ':') + 1)) AS prefix,
    strpos(nc, ':') AS hc
  FROM (SELECT host, trim(split_part(raw, '#', 1)) AS nc FROM lines_)
),
rules AS (
  SELECT DISTINCT host, prefix, (key = 'allow') AS is_allow
  FROM parsed
  WHERE hc > 0 AND key IN ('allow', 'disallow') AND prefix <> ''
),
cands AS (
  SELECT 'https://' || host || path AS url, host, path FROM (
    SELECT 'h' || (doc_id % 10) AS host,
      CASE WHEN doc_id % 4 = 0 THEN '/private' || (doc_id % 10) || '/x' || doc_id
           WHEN doc_id % 4 = 1 THEN '/private' || (doc_id % 10) || '/ok/' || doc_id
           WHEN doc_id % 4 = 2 THEN '/tmp/cal' || doc_id
           ELSE '/public/' || doc_id END AS path
    FROM documents
  )
),
m AS (
  SELECT c.url, r.prefix, r.is_allow,
    row_number() OVER (PARTITION BY c.url
                       ORDER BY length(r.prefix) DESC, r.is_allow DESC) AS rn
  FROM cands c
  JOIN rules r ON c.host = r.host AND starts_with(c.path, r.prefix)
)
SELECT c.url, c.host, m.prefix AS matched_prefix,
       coalesce(m.is_allow, true) AS allowed
FROM cands c
LEFT JOIN (SELECT url, prefix, is_allow FROM m WHERE rn = 1) m
  ON c.url = m.url
""",
        # q94: frontier queue aging — same integer round ages + rounded mean.
        "q94_frontier_aging": """
WITH pending AS (
  SELECT CAST(user_id % 5 AS INT) AS depth,
         CAST(event_id % 3 AS INT) AS scheduled_round
  FROM events
)
SELECT depth, count(*) AS n_pending,
  CAST(max(5 - scheduled_round) AS INT) AS oldest_age,
  round(sum(5 - scheduled_round)::DOUBLE / count(*), 6) AS mean_age,
  CAST(sum(CASE WHEN 5 - scheduled_round >= 3 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_starving
FROM pending GROUP BY 1
""",
        # q95: URL template mining — same digit-collapse + per-host
        # row_number top-k.
        "q95_url_templates": """
WITH parts AS (
  SELECT 'h' || (user_id % 10) || '.com' AS host,
    CASE WHEN event_id % 3 = 0
           THEN '/cal/2024/' || (event_id % 12) || '/' || event_id
         WHEN event_id % 3 = 1 THEN '/page/' || event_id
         ELSE '/article/item-' || (event_id % 50) END AS path
  FROM events
),
counts AS (
  SELECT host, lower(regexp_replace(path, '[0-9]+', 'N', 'g')) AS template,
         count(*) AS n_urls
  FROM parts GROUP BY 1, 2
)
SELECT host, template, n_urls,
  CAST(row_number() OVER (PARTITION BY host
                          ORDER BY n_urls DESC, template) AS INT) AS rank
FROM counts
QUALIFY rank <= 5
""",
        # q96: crawl-delay extraction — same star-group parse, TRY_CAST
        # numeric gate, min fold.
        "q96_crawl_delays": """
WITH hosts AS (
  SELECT DISTINCT 'h' || (doc_id % 10) AS host,
         CAST(doc_id % 10 AS INT) AS hn
  FROM documents
),
robots AS (
  SELECT host,
    'User-agent: bot-x' || chr(10) || 'Crawl-delay: 99' || chr(10)
    || 'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10)
    || (CASE WHEN hn = 0 THEN 'Crawl-delay: oops' || chr(10)
             WHEN hn = 1 THEN 'Crawl-delay: 7' || chr(10)
                              || 'Crawl-delay: 2' || chr(10)
             ELSE 'Crawl-delay: ' || hn || '.5' || chr(10) END) AS txt
  FROM hosts
),
star AS (
  SELECT host,
    regexp_extract(txt,
      '(?s)[Uu]ser-[Aa]gent:[ \t]*\\*[ \t]*\n(.*?)(?:[Uu]ser-[Aa]gent:|$)',
      1) AS chunk
  FROM robots
),
lines_ AS (
  SELECT host, unnest(string_split(chunk, chr(10))) AS raw FROM star
),
parsed AS (
  SELECT host,
    lower(trim(split_part(nc, ':', 1))) AS key,
    TRY_CAST(trim(substr(nc, strpos(nc, ':') + 1)) AS DOUBLE) AS delay
  FROM (SELECT host, trim(split_part(raw, '#', 1)) AS nc FROM lines_)
)
SELECT host, min(delay) AS crawl_delay
FROM parsed WHERE key = 'crawl-delay' AND delay IS NOT NULL
GROUP BY 1
""",
        # q97: crawl velocity — same derived series + closed-form
        # least-squares on exact integer sums.
        "q97_crawl_velocity": """
WITH metrics AS (
  SELECT x, count(*) + x * 7 AS y
  FROM (SELECT CAST(event_id % 10 AS BIGINT) AS x FROM events)
  GROUP BY x
),
sums AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, max(x) AS xmax
  FROM metrics
)
SELECT n AS n_rounds,
  CASE WHEN n * sxx - sx * sx <> 0 THEN
    round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx), 6) END AS slope,
  CASE WHEN n * sxx - sx * sx <> 0 THEN
    round((sy * sxx - sx * sxy)::DOUBLE / (n * sxx - sx * sx), 6)
  END AS intercept,
  round(
    (CASE WHEN n * sxx - sx * sx <> 0 THEN
       round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx), 6) END)
    * (xmax + 1)
    + (CASE WHEN n * sxx - sx * sx <> 0 THEN
         round((sy * sxx - sx * sxy)::DOUBLE / (n * sxx - sx * sx), 6) END),
    6) AS next_round_forecast
FROM sums
""",
        # q98: adaptive recrawl — q82's capture chain + rounded change
        # rate + the 2d/4d/8d ladder.
        "q98_adaptive_recrawl": """
WITH caps AS (
  SELECT doc_id, text, j,
    CASE WHEN j = 0 THEN 0
         WHEN j = 1 THEN doc_id % 2
         ELSE (doc_id % 2) + (CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END)
    END AS v
  FROM documents CROSS JOIN (VALUES (0), (1), (2)) AS JJ(j)
),
rows_ AS (
  SELECT
    'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
    CAST(doc_id * 3 + j AS BIGINT) AS warc_ts,
    sha256(text || '#v' || v) AS digest
  FROM caps
),
idx AS (
  SELECT url,
    row_number() OVER w AS capture_no,
    coalesce(lag(digest) OVER w = digest, false) AS is_revisit
  FROM rows_
  WINDOW w AS (PARTITION BY url ORDER BY warc_ts, digest)
),
per_url AS (
  SELECT url, count(*) AS n_captures,
    CAST(sum(CASE WHEN capture_no > 1 AND NOT is_revisit THEN 1 ELSE 0 END)
         AS BIGINT) AS n_changed
  FROM idx GROUP BY 1
)
SELECT url, n_captures, n_changed,
  CASE WHEN n_captures > 1
       THEN round(n_changed::DOUBLE / (n_captures - 1), 6)
       ELSE 0.0 END AS change_rate,
  CAST(CASE
    WHEN (CASE WHEN n_captures > 1
               THEN round(n_changed::DOUBLE / (n_captures - 1), 6)
               ELSE 0.0 END) >= 0.5 THEN 172800
    WHEN (CASE WHEN n_captures > 1
               THEN round(n_changed::DOUBLE / (n_captures - 1), 6)
               ELSE 0.0 END) > 0 THEN 345600
    ELSE 691200 END AS BIGINT) AS recrawl_secs
FROM per_url
""",
        # q99: degree distribution — same integer CASE ladder (generated
        # above so the rungs match the Spark expression exactly).
        "q99_degree_distribution": f"""
WITH edges AS (
  SELECT doc_id AS src,
    unnest([doc_id % 97, (doc_id * 31 + 7) % 97, (doc_id * 17 + 3) % 97])
      AS dst
  FROM documents
),
e AS (SELECT DISTINCT src, dst FROM edges),
deg AS (SELECT dst, count(*) AS deg FROM e GROUP BY 1),
b AS (SELECT CAST({deg_case} AS INT) AS bucket, deg FROM deg)
SELECT bucket, CAST(1 << bucket AS BIGINT) AS lo,
  count(*) AS n_nodes, min(deg) AS min_deg, max(deg) AS max_deg
FROM b GROUP BY 1
""",
        # q101: Common-Crawl-style host graph — page edges (with a planted
        # duplicate mention) collapsed to distinct, host-extracted with
        # split_part (the substring_index twin), rolled up per host pair,
        # reciprocity via self-join of the host-level rollup.
        "q101_host_graph": """
WITH pg AS (
  SELECT
    'https://m' || (doc_id % 5) || '.example.org/p/' || (doc_id % 200) AS src,
    t AS dst
  FROM documents, UNNEST([
    'https://m' || ((doc_id * 31 + 7) % 5) || '.example.org/p/'
        || ((doc_id * 31 + 7) % 200),
    'https://m' || ((doc_id * 17 + 3) % 5) || '.example.org/p/'
        || ((doc_id * 17 + 3) % 200),
    'https://m' || (doc_id % 5) || '.example.org/p/' || ((doc_id + 1) % 200),
    'https://m' || ((doc_id * 31 + 7) % 5) || '.example.org/p/'
        || ((doc_id * 31 + 7) % 200)
  ]) AS u(t)
),
e AS (
  SELECT DISTINCT src, dst FROM pg
),
he AS (
  SELECT split_part(split_part(src, '://', 2), '/', 1) AS src_host,
         split_part(split_part(dst, '://', 2), '/', 1) AS dst_host,
         src AS src_page
  FROM e
),
hg AS (
  SELECT src_host, dst_host,
         count(*) AS n_edges,
         count(DISTINCT src_page) AS n_src_pages
  FROM he GROUP BY 1, 2
)
SELECT a.src_host, a.dst_host, a.n_edges, a.n_src_pages,
       (a.src_host = a.dst_host) AS is_internal,
       (b.src_host IS NOT NULL) AS reciprocal
FROM hg a
LEFT JOIN (SELECT DISTINCT src_host, dst_host FROM hg) b
  ON a.src_host = b.dst_host AND a.dst_host = b.src_host
""",
        # q102: soft-404 detection — planted error bodies (%13==0), a
        # title-only decoy (%13==5), host-mean token calibration as an
        # exact integer-sum mean, verdict = body phrase AND brevity.
        "q102_soft404": f"""
WITH pages AS (
  SELECT
    'https://h' || (doc_id % 7) || '.example.org/p/' || doc_id AS url,
    'h' || (doc_id % 7) || '.example.org' AS host,
    CASE WHEN doc_id % 13 = 0
         THEN 'Error 404 - page not found. The requested page does not exist.'
         ELSE text END AS text,
    CASE WHEN doc_id % 13 = 0 THEN '404 Not Found'
         WHEN doc_id % 13 = 5 THEN 'Why ''page not found'' happens'
         ELSE 'Doc ' || doc_id END AS title
  FROM documents
),
sig AS (
  SELECT url, host,
    CAST(len({TOKS}) AS INT) AS n_tokens,
    (lower(text) LIKE '%page not found%'
     OR lower(text) LIKE '%404 not found%'
     OR lower(text) LIKE '%error 404%'
     OR lower(text) LIKE '%does not exist%'
     OR lower(text) LIKE '%no longer available%'
     OR lower(text) LIKE '%page cannot be found%') AS has_error_phrase,
    (lower(title) LIKE '%page not found%'
     OR lower(title) LIKE '%404 not found%'
     OR lower(title) LIKE '%error 404%'
     OR lower(title) LIKE '%does not exist%'
     OR lower(title) LIKE '%no longer available%'
     OR lower(title) LIKE '%page cannot be found%') AS title_hit
  FROM pages
),
hm AS (
  SELECT host,
         CAST(sum(n_tokens) AS DOUBLE) / count(*) AS host_mean_tokens
  FROM sig GROUP BY 1
)
SELECT s.url, s.host, s.n_tokens, s.has_error_phrase, s.title_hit,
  (s.n_tokens < 20) AS is_short,
  (CAST(s.n_tokens AS DOUBLE) < 0.25 * h.host_mean_tokens) AS short_vs_host,
  (s.has_error_phrase
   AND (s.n_tokens < 20
        OR CAST(s.n_tokens AS DOUBLE) < 0.25 * h.host_mean_tokens))
    AS is_soft404
FROM sig s JOIN hm h USING (host)
""",
        # q103: host-scoped boilerplate — q52's segmentation idiom, counts
        # per (host, segment hash) against the host's page count.
        "q103_host_boilerplate": f"""
WITH pages AS (
  SELECT doc_id,
    'h' || (doc_id % 5) || '.example.org' AS host,
    repeat('nav ', 19) || 'host' || (doc_id % 5) || ' ' || text AS text
  FROM documents
),
tok AS (SELECT doc_id, host, {TOKS} AS t FROM pages),
segs AS (
  SELECT doc_id, host,
         array_to_string(t[(i*{SEGMENT_LEN}+1):(i*{SEGMENT_LEN}+{SEGMENT_LEN})], ' ') AS seg
  FROM tok, unnest(CASE WHEN len(t) > 0
                        THEN range(CAST(ceil(len(t) / {SEGMENT_LEN}.0) AS BIGINT))
                        ELSE [] END) AS u(i)
),
host_pages AS (SELECT host, count(DISTINCT doc_id) AS n_pages FROM pages GROUP BY 1),
freq AS (
  SELECT host, sha256(seg) AS h, count(DISTINCT doc_id) AS nh
  FROM segs GROUP BY 1, 2
),
boiler AS (
  SELECT f.host, f.h
  FROM freq f JOIN host_pages p USING (host)
  WHERE p.n_pages >= 3 AND CAST(f.nh AS DOUBLE) >= 0.6 * p.n_pages
),
per_page AS (
  SELECT s.doc_id, count(*) AS n_boiler
  FROM segs s JOIN boiler b ON b.host = s.host AND b.h = sha256(s.seg)
  GROUP BY 1
),
nsg AS (
  SELECT doc_id, host, CAST(ceil(len(t) / {SEGMENT_LEN}.0) AS INT) AS n_segs
  FROM tok
)
SELECT nsg.doc_id AS id, nsg.host, n_segs,
       CAST(coalesce(n_boiler, 0) AS INT) AS n_boiler,
       round(coalesce(n_boiler, 0)
             / CAST(greatest(n_segs, 1) AS DOUBLE), 6) AS boiler_frac
FROM nsg LEFT JOIN per_page USING (doc_id)
""",
        # q104: skew planner — md5-digit portable bucketing, salt factor
        # ceil(n/50) capped at 16, before/after shard loads full-outer.
        "q104_skew_plan": """
WITH urls AS (
  SELECT
    'https://' || h || '/wiki/Doc_' || doc_id AS url, h AS host
  FROM (
    SELECT doc_id,
      CASE WHEN doc_id % 10 < 7 THEN 'en.wikipedia.org'
           ELSE 'h' || (doc_id % 10) || '.example.org' END AS h
    FROM documents
  )
),
plan AS (
  SELECT host, count(*) AS n_pending,
    CAST(least(greatest(ceil(count(*) / 50.0), 1), 16) AS INT) AS salt_factor
  FROM urls GROUP BY 1
),
assigned AS (
  SELECT
    substr(md5(u.host), 1, 1) AS shard_before,
    substr(md5(u.host || '#' || CAST(
      (instr('0123456789abcdef', substr(md5(u.url), 1, 1)) - 1)
        % p.salt_factor AS VARCHAR)), 1, 1) AS shard_after
  FROM urls u JOIN plan p USING (host)
),
b AS (SELECT shard_before AS shard, count(*) AS n_before FROM assigned GROUP BY 1),
a AS (SELECT shard_after AS shard, count(*) AS n_after FROM assigned GROUP BY 1)
SELECT coalesce(b.shard, a.shard) AS shard,
       coalesce(n_before, 0) AS n_before,
       coalesce(n_after, 0) AS n_after
FROM b FULL OUTER JOIN a ON a.shard = b.shard
""",
        # q105: rel=canonical clustering — same two attribute-order
        # regexps, coalesce to own url, one rollup on the target.
        "q105_canonical_clusters": """
WITH pages AS (
  SELECT
    'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
    CASE WHEN doc_id % 3 = 0 THEN
      '<html><head><link rel="canonical" href="https://c.org/d'
        || (doc_id % 50) || '"/></head><body>x</body></html>'
    WHEN doc_id % 3 = 1 THEN
      '<html><head><link href="https://c.org/d' || (doc_id % 50)
        || '" rel="canonical"/></head><body>x</body></html>'
    ELSE '<html><head></head><body>x</body></html>' END AS html
  FROM documents
),
ext AS (
  SELECT url,
    coalesce(
      nullif(regexp_extract(html,
        '<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1), ''),
      nullif(regexp_extract(html,
        '<link[^>]*href="([^"]*)"[^>]*rel="canonical"', 1), ''),
      url) AS canonical_url
  FROM pages
)
SELECT canonical_url, count(*) AS n_variants,
       CAST(sum(CASE WHEN url = canonical_url THEN 1 ELSE 0 END) AS BIGINT)
         AS n_self,
       min(url) AS keep_url
FROM ext GROUP BY 1
""",
        # q106: politeness audit — lag window per host on integer-second
        # timestamps, violation fold; single-fetch hosts rate 1.0.
        "q106_politeness_audit": """
WITH log AS (
  SELECT
    'h' || (doc_id % 5) || '.example.org' AS host,
    CAST(1700000000 + doc_id * 3
         - CASE WHEN doc_id % 10 >= 8 THEN 14 ELSE 0 END AS BIGINT) AS ts,
    'https://h' || (doc_id % 5) || '.example.org/p/' || doc_id AS url
  FROM documents
),
gaps AS (
  SELECT host,
         ts - lag(ts) OVER (PARTITION BY host ORDER BY ts, url) AS gap_s
  FROM log
)
SELECT host, count(*) AS n_fetches,
       min(gap_s) AS min_gap_s,
       CAST(sum(CASE WHEN gap_s < 10 THEN 1 ELSE 0 END) AS INT)
         AS n_violations,
       round(1.0 - sum(CASE WHEN gap_s < 10 THEN 1 ELSE 0 END)
             / CAST(greatest(count(gap_s), 1) AS DOUBLE), 6)
         AS compliance_rate
FROM gaps GROUP BY 1
""",
        # q107: q106's lag-window audit with per-host requirements from
        # q96's robots Crawl-delay parse, coalesced to the 10 s default.
        "q107_delay_aware_audit": """
WITH log AS (
  SELECT
    'h' || (doc_id % 5) || '.example.org' AS host,
    CAST(1700000000 + doc_id * 3
         - CASE WHEN doc_id % 10 >= 8 THEN 14 ELSE 0 END AS BIGINT) AS ts,
    'https://h' || (doc_id % 5) || '.example.org/p/' || doc_id AS url
  FROM documents
),
hosts AS (
  SELECT DISTINCT 'h' || (doc_id % 5) || '.example.org' AS host,
         CAST(doc_id % 5 AS INT) AS hn
  FROM documents
),
robots AS (
  SELECT host,
    'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10)
    || (CASE WHEN hn = 1 THEN 'Crawl-delay: 2' || chr(10)
             WHEN hn = 3 THEN 'Crawl-delay: 20' || chr(10)
             ELSE '' END) AS txt
  FROM hosts
),
star AS (
  SELECT host,
    regexp_extract(txt,
      '(?s)[Uu]ser-[Aa]gent:[ \t]*\\*[ \t]*\n(.*?)(?:[Uu]ser-[Aa]gent:|$)',
      1) AS chunk
  FROM robots
),
lines_ AS (
  SELECT host, unnest(string_split(chunk, chr(10))) AS raw FROM star
),
delays AS (
  SELECT host, min(delay) AS crawl_delay
  FROM (
    SELECT host,
      lower(trim(split_part(nc, ':', 1))) AS key,
      TRY_CAST(trim(substr(nc, strpos(nc, ':') + 1)) AS DOUBLE) AS delay
    FROM (SELECT host, trim(split_part(raw, '#', 1)) AS nc FROM lines_)
  )
  WHERE key = 'crawl-delay' AND delay IS NOT NULL
  GROUP BY 1
),
gaps AS (
  SELECT host,
         ts - lag(ts) OVER (PARTITION BY host ORDER BY ts, url) AS gap_s
  FROM log
),
req AS (
  SELECT g.host, g.gap_s, coalesce(d.crawl_delay, 10.0) AS required
  FROM gaps g LEFT JOIN delays d USING (host)
)
SELECT host, count(*) AS n_fetches,
       min(gap_s) AS min_gap_s,
       CAST(sum(CASE WHEN gap_s < required THEN 1 ELSE 0 END) AS INT)
         AS n_violations,
       round(1.0 - sum(CASE WHEN gap_s < required THEN 1 ELSE 0 END)
             / CAST(greatest(count(gap_s), 1) AS DOUBLE), 6)
         AS compliance_rate
FROM req GROUP BY 1
""",
        # q108: quality-weighted budget — q80's drain plan × (1 − q102's
        # per-host soft-404 rate).
        "q108_quality_budget": f"""
WITH pages AS (
  SELECT
    'https://h' || (doc_id % 7) || '.example.org/p/' || doc_id AS url,
    'h' || (doc_id % 7) || '.example.org' AS host,
    CASE WHEN doc_id % 13 = 0
         THEN 'Error 404 - page not found. The requested page does not exist.'
         ELSE text END AS text
  FROM documents
),
sig AS (
  SELECT url, host,
    CAST(len({TOKS}) AS INT) AS n_tokens,
    (lower(text) LIKE '%page not found%'
     OR lower(text) LIKE '%404 not found%'
     OR lower(text) LIKE '%error 404%'
     OR lower(text) LIKE '%does not exist%'
     OR lower(text) LIKE '%no longer available%'
     OR lower(text) LIKE '%page cannot be found%') AS has_error_phrase
  FROM pages
),
hm AS (
  SELECT host,
         CAST(sum(n_tokens) AS DOUBLE) / count(*) AS host_mean_tokens
  FROM sig GROUP BY 1
),
verdicts AS (
  SELECT s.host,
    (s.has_error_phrase
     AND (s.n_tokens < 20
          OR CAST(s.n_tokens AS DOUBLE) < 0.25 * h.host_mean_tokens))
      AS is_soft404
  FROM sig s JOIN hm h USING (host)
),
rates AS (
  SELECT host,
         round(sum(CASE WHEN is_soft404 THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 6) AS soft404_rate
  FROM verdicts GROUP BY 1
),
plan AS (
  SELECT split_part(split_part(url, '://', 2), '/', 1) AS host,
         count(*) AS n_pending,
         CAST(least(count(*), 25) AS BIGINT) AS next_round_alloc
  FROM pages GROUP BY 1
)
SELECT p.host, p.n_pending, p.next_round_alloc,
       coalesce(r.soft404_rate, 0.0) AS soft404_rate,
       CAST(floor(p.next_round_alloc
                  * (1.0 - coalesce(r.soft404_rate, 0.0))) AS BIGINT)
         AS effective_alloc
FROM plan p LEFT JOIN rates r USING (host)
""",
        # q100: incremental-crawl planner — q85's diff + q98's intervals +
        # the per-shard capped window.
        "q100_incremental_plan": """
WITH old AS (
  SELECT 'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
         sha256(text) AS old_digest
  FROM documents WHERE doc_id % 10 <> 9
),
new_ AS (
  SELECT 'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
         sha256(text || (CASE WHEN doc_id % 3 = 0 THEN '!' ELSE '' END))
           AS new_digest
  FROM documents WHERE doc_id % 10 <> 0
),
diff AS (
  SELECT coalesce(o.url, n.url) AS url,
    CASE WHEN o.url IS NULL THEN 'added'
         WHEN n.url IS NULL THEN 'removed'
         WHEN o.old_digest = n.new_digest THEN 'unchanged'
         ELSE 'changed' END AS change
  FROM old o FULL OUTER JOIN new_ n ON o.url = n.url
),
work AS (SELECT url, change FROM diff WHERE change IN ('added', 'changed')),
caps AS (
  SELECT doc_id, text, j,
    CASE WHEN j = 0 THEN 0
         WHEN j = 1 THEN doc_id % 2
         ELSE (doc_id % 2) + (CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END)
    END AS v
  FROM documents CROSS JOIN (VALUES (0), (1), (2)) AS JJ(j)
),
rows_ AS (
  SELECT
    'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
    CAST(doc_id * 3 + j AS BIGINT) AS warc_ts,
    sha256(text || '#v' || v) AS digest
  FROM caps
),
idx AS (
  SELECT url,
    row_number() OVER w AS capture_no,
    coalesce(lag(digest) OVER w = digest, false) AS is_revisit
  FROM rows_
  WINDOW w AS (PARTITION BY url ORDER BY warc_ts, digest)
),
intervals AS (
  SELECT url,
    CAST(CASE
      WHEN round(sum(CASE WHEN capture_no > 1 AND NOT is_revisit
                          THEN 1 ELSE 0 END)::DOUBLE
                 / (count(*) - 1), 6) >= 0.5 THEN 172800
      WHEN round(sum(CASE WHEN capture_no > 1 AND NOT is_revisit
                          THEN 1 ELSE 0 END)::DOUBLE
                 / (count(*) - 1), 6) > 0 THEN 345600
      ELSE 691200 END AS BIGINT) AS recrawl_secs
  FROM idx GROUP BY 1
),
planned AS (
  SELECT w.url, w.change,
    coalesce(CASE WHEN w.change = 'added' THEN 172800 END,
             i.recrawl_secs) AS recrawl_secs,
    substr(md5(w.url), 1, 1) AS host_shard,
    CASE WHEN w.change = 'added' THEN 0 ELSE 1 END AS priority
  FROM work w LEFT JOIN intervals i USING (url)
)
SELECT url, change, recrawl_secs, host_shard, priority,
  CAST(row_number() OVER (PARTITION BY host_shard
                          ORDER BY priority, url) AS INT) AS rank
FROM planned
QUALIFY rank <= 5
""",
        # q58: the composed "ship the dataset" pipeline — quality gate →
        # LSH pair gen → hash-min closure survivors → benchmark
        # decontamination → per-lang mixture sampling, each fragment
        # identical to its standalone oracle (q22/q15/q47/q55/q57).
        "q58_training_export": f"""
WITH RECURSIVE {NEARDUP},
feat AS (
  SELECT doc_id, text, lang,
    len(toks) AS n,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS tok_chars,
    CAST(len(list_filter(toks, x -> x IN ({_STOP_LIST}))) AS DOUBLE) AS stops
  FROM (SELECT doc_id, text, lang, {TOKS} AS toks FROM docs)
),
kept AS (
  SELECT doc_id, text, lang,
    CAST(len(regexp_extract_all(lower(text), '{BPE_RE}')) AS INT) AS n_bpe_tokens
  FROM feat
  WHERE round(least(n / 100.0, 1.0) * 0.4
        + (CASE WHEN n > 0 THEN stops / n ELSE 0.0 END) * 0.3
        + least((CASE WHEN n > 0 THEN tok_chars / n ELSE 0.0 END) / 8.0, 1.0)
          * 0.3, 6) >= 0.35
),
{_minhash_sig_sql('kept')},
banded AS (
  SELECT doc_id AS id, unnest([
      {bands}]) AS band_key
  FROM sig
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b USING (band_key)
  WHERE a.id < b.id
),
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
  WHERE round(({agree}) / 12.0, 6) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(id, lab) AS (
  SELECT doc_id, doc_id FROM kept
  UNION
  SELECT e.dst, w.lab FROM walk w JOIN edges e ON e.src = w.id
),
labels AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM walk GROUP BY id),
surv AS (
  SELECT k.doc_id, k.text, k.lang, k.n_bpe_tokens
  FROM kept k JOIN labels l ON l.doc_id = k.doc_id AND l.cluster_id = k.doc_id
  WHERE k.doc_id % {Q.CONTAM_BENCH_MOD} <> 0
),
bench AS (
  SELECT DISTINCT unnest(list_distinct({SHINGLE3})) AS gram
  FROM (SELECT {TOKS} AS t FROM docs WHERE doc_id % {Q.CONTAM_BENCH_MOD} = 0)
),
contam AS (
  SELECT s.doc_id,
         count(*) AS total_grams,
         sum(CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END) AS hits
  FROM (SELECT doc_id, unnest(list_distinct({SHINGLE3})) AS gram
        FROM (SELECT doc_id, {TOKS} AS t FROM surv)) s
  LEFT JOIN bench b USING (gram)
  GROUP BY s.doc_id
)
SELECT v.doc_id, v.lang, v.n_bpe_tokens,
       substr(md5(CAST(v.doc_id AS VARCHAR)), 1, {SAMPLE_HEX_DIGITS}) AS sample_key
FROM surv v LEFT JOIN contam c USING (doc_id)
WHERE round(CASE WHEN coalesce(c.total_grams, 0) > 0
                 THEN coalesce(c.hits, 0) / CAST(c.total_grams AS DOUBLE)
                 ELSE 0.0 END, 6) < {Q.CONTAM_RATIO_MAX}
  AND substr(md5(CAST(v.doc_id AS VARCHAR)), 1, {SAMPLE_HEX_DIGITS}) < {_mixture_case}
""",
        "q125_gopher_rules": _gopher_sql(),
        "q126_c4_lines": _c4_sql(),
        "q127_trustrank": _trustrank_sql(),
        "q128_theta_sketch": _kmv_sql(),
        "q129_random_walks": _walks_sql(),
        "q130_host_ewma": _ewma_sql(),
        "q131_url_quality": _urlq_sql(),
        "q132_focused_frontier": _focused_sql(),
        "q133_rendezvous_shards": _rendezvous_sql(),
        "q134_opic": _opic_sql(),
        "q135_pagerank_warm": _pagerank_warm_sql(),
        "q136_seed_distance": _seed_distance_sql(),
        "q137_reciprocity": _reciprocity_sql(),
        "q138_spam_composite": _spam_composite_sql(),
        "q139_host_trust": _host_trust_sql(),
    }


# --------------------------------------------------------------------------
# q125–q130 oracle generators
# --------------------------------------------------------------------------
def _lined_cte(src: str) -> str:
    """queries.lined_docs replay over `src` (doc_id, text): lines of
    LINE_TOKENS tokens with the deterministic bullet / boilerplate /
    ellipsis decorations."""
    LT = Q.LINE_TOKENS
    return f"""
ltoks AS (SELECT doc_id, {TOKS} AS t FROM {src}),
lined AS (
  SELECT doc_id,
    array_to_string(
      list_transform(
        range(0, greatest(CAST(ceil(len(t) / {LT}.0) AS INT), 1)),
        li ->
          (CASE WHEN (doc_id + li) % 7 = 0 THEN '- ' ELSE '' END)
          || array_to_string(t[li*{LT}+1 : li*{LT}+{LT}], ' ')
          || (CASE WHEN (doc_id*3 + li) % 11 = 0
              THEN ' javascript required' ELSE '' END)
          || (CASE WHEN (doc_id + li) % 5 = 0 THEN ' ...' ELSE '' END)
      ), chr(10)) AS text
  FROM ltoks
)"""


def _gopher_sql() -> str:
    from wikifrontier import textops as T

    stops = "[" + ", ".join(f"'{w}'" for w in T.GOPHER_STOPWORDS) + "]"
    return f"""
WITH {_lined_cte('documents')},
g AS (
  SELECT doc_id,
    list_filter(string_split_regex(text, '[ \n]'), w -> w <> '') AS words,
    string_split(text, chr(10)) AS lines,
    length(text) - length(replace(text, '#', '')) AS hash_cnt,
    (length(text) - length(replace(text, '...', ''))) / 3 AS ell_cnt
  FROM lined
),
f AS (
  SELECT doc_id,
    len(words) AS n_words,
    len(lines) AS n_lines,
    CASE WHEN len(words) > 0
         THEN CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
              / CAST(len(words) AS DOUBLE)
         ELSE CAST(0 AS DOUBLE) END AS mean_word_len,
    CASE WHEN len(words) > 0
         THEN (hash_cnt + ell_cnt) / CAST(len(words) AS DOUBLE)
         ELSE CAST(0 AS DOUBLE) END AS symbol_ratio,
    CASE WHEN len(lines) > 0
         THEN CAST(len(list_filter(lines, l -> l LIKE '- %')) AS DOUBLE)
              / CAST(len(lines) AS DOUBLE)
         ELSE CAST(0 AS DOUBLE) END AS bullet_frac,
    CASE WHEN len(lines) > 0
         THEN CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE)
              / CAST(len(lines) AS DOUBLE)
         ELSE CAST(0 AS DOUBLE) END AS ellipsis_frac,
    CASE WHEN len(words) > 0
         THEN CAST(len(list_filter(words, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
              / CAST(len(words) AS DOUBLE)
         ELSE CAST(0 AS DOUBLE) END AS alpha_frac,
    len(list_filter(words, w -> list_contains({stops}, w))) AS stop_hits
  FROM g
)
SELECT doc_id, n_words, n_lines,
  round(mean_word_len, 6) AS mean_word_len,
  round(symbol_ratio, 6) AS symbol_ratio,
  round(bullet_frac, 6) AS bullet_frac,
  round(ellipsis_frac, 6) AS ellipsis_frac,
  round(alpha_frac, 6) AS alpha_frac,
  stop_hits,
  (n_words >= {T.GOPHER_MIN_WORDS} AND n_words <= {T.GOPHER_MAX_WORDS}) AS r_wordcount,
  (mean_word_len >= {T.GOPHER_MIN_MEAN_LEN} AND mean_word_len <= {T.GOPHER_MAX_MEAN_LEN}) AS r_mean_len,
  symbol_ratio <= {T.GOPHER_MAX_SYMBOL_RATIO} AS r_symbol,
  bullet_frac <= {T.GOPHER_MAX_BULLET_FRAC} AS r_bullet,
  ellipsis_frac <= {T.GOPHER_MAX_ELLIPSIS_FRAC} AS r_ellipsis,
  alpha_frac >= {T.GOPHER_MIN_ALPHA_FRAC} AS r_alpha,
  stop_hits >= {T.GOPHER_MIN_STOP_HITS} AS r_stop,
  (n_words >= {T.GOPHER_MIN_WORDS} AND n_words <= {T.GOPHER_MAX_WORDS}
   AND mean_word_len >= {T.GOPHER_MIN_MEAN_LEN} AND mean_word_len <= {T.GOPHER_MAX_MEAN_LEN}
   AND symbol_ratio <= {T.GOPHER_MAX_SYMBOL_RATIO}
   AND bullet_frac <= {T.GOPHER_MAX_BULLET_FRAC}
   AND ellipsis_frac <= {T.GOPHER_MAX_ELLIPSIS_FRAC}
   AND alpha_frac >= {T.GOPHER_MIN_ALPHA_FRAC}
   AND stop_hits >= {T.GOPHER_MIN_STOP_HITS}) AS keep
FROM f
"""


def _c4_sql() -> str:
    from wikifrontier import textops as T

    banned = " OR ".join(f"line LIKE '%{w}%'" for w in T.C4_BANNED_WORDS)
    return f"""
WITH {NEARDUP}, {_lined_cte('docs')},
lns AS (
  SELECT doc_id, unnest(ls) AS line, unnest(range(0, len(ls))) AS line_idx
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined)
),
flagged AS (
  SELECT doc_id, line_idx, line,
    len(list_filter(string_split(line, ' '), w -> w <> '')) < {T.C4_MIN_LINE_WORDS} AS is_short,
    NOT regexp_matches(line, '{T.C4_TERMINAL_RE}') AS is_nopunct,
    ({banned}) AS is_banned
  FROM lns
),
occd AS (
  SELECT doc_id, line_idx, line,
    CASE WHEN is_short THEN 'short'
         WHEN is_nopunct THEN 'no_punct'
         WHEN is_banned THEN 'banned'
         WHEN row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) > 1
           THEN 'dup_line'
         ELSE 'kept' END AS reason
  FROM flagged
)
SELECT doc_id,
  count(*) AS n_lines,
  CAST(sum(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(sum(CASE WHEN reason = 'short' THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
  CAST(sum(CASE WHEN reason = 'no_punct' THEN 1 ELSE 0 END) AS BIGINT) AS n_nopunct,
  CAST(sum(CASE WHEN reason = 'banned' THEN 1 ELSE 0 END) AS BIGINT) AS n_banned,
  CAST(sum(CASE WHEN reason = 'dup_line' THEN 1 ELSE 0 END) AS BIGINT) AS n_dupline,
  md5(coalesce(string_agg(CASE WHEN reason = 'kept' THEN line END,
                          chr(10) ORDER BY line_idx), '')) AS clean_hash
FROM occd
GROUP BY doc_id
"""


def _trustrank_with() -> tuple[str, str]:
    """The trustrank chain shared by the q127, q138 and q139 oracles: its
    WITH body (no final SELECT) and the name of its last iteration CTE."""
    from wikifrontier.linkgraph import PAGERANK_DAMPING, TRUSTRANK_ITERATIONS

    d = f"CAST({PAGERANK_DAMPING} AS DOUBLE)"
    iters = []
    prev = "it0"
    for k in range(1, TRUSTRANK_ITERATIONS + 1):
        iters.append(f"""
it{k} AS (
  SELECT trust.id,
         (CAST(1 AS DOUBLE) - {d}) * trust.t
         + {d} * (coalesce(inf.w, CAST(0 AS DOUBLE))
                  + (SELECT coalesce(sum(tr), CAST(0 AS DOUBLE)) FROM {prev}
                     WHERE id NOT IN (SELECT src FROM edges)) * trust.t) AS tr
  FROM trust
  LEFT JOIN (
    SELECT dst AS id, sum(tr / od) AS w
    FROM edges JOIN {prev} pv ON pv.id = edges.src
               JOIN outdeg USING (src)
    GROUP BY dst
  ) inf ON inf.id = trust.id
)""")
        prev = f"it{k}"
    its = ",".join(iters)
    body = f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 31 + 7) % nn.n FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn
),
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
sn AS (SELECT count(*) AS ns FROM documents WHERE doc_id % {Q.TRUST_SEED_MOD} = 0),
trust AS (
  SELECT nodes.id,
         CASE WHEN nodes.id % {Q.TRUST_SEED_MOD} = 0
              THEN CAST(1 AS DOUBLE) / sn.ns ELSE CAST(0 AS DOUBLE) END AS t
  FROM nodes CROSS JOIN sn
),
it0 AS (SELECT id, t AS tr FROM trust),{its}
"""
    return body, f"it{TRUSTRANK_ITERATIONS}"


def _trustrank_sql() -> str:
    tr_body, tr_last = _trustrank_with()
    return f"""{tr_body}
SELECT id AS doc_id, round(tr, 8) AS trustrank FROM {tr_last}
"""


def _kmv_sql() -> str:
    from wikifrontier.sketch import KMV_K

    k = KMV_K
    space = f"CAST({16 ** 13} AS DOUBLE)"

    def frac(h):
        return f"(CAST(('0x' || substr({h}, 1, 13))::UBIGINT AS BIGINT) / {space})"

    est = lambda sk: (
        f"CASE WHEN len({sk}) < {k} THEN CAST(len({sk}) AS DOUBLE) "
        f"ELSE CAST({k - 1} AS DOUBLE) / {frac(f'{sk}[{k}]')} END"
    )
    return f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
ha AS (SELECT DISTINCT md5('https://en.wikipedia.org/wiki/Doc_' || CAST(doc_id AS VARCHAR)) AS h
       FROM documents),
hb AS (SELECT DISTINCT md5('https://en.wikipedia.org/wiki/Doc_'
                           || CAST(doc_id + (nn.n // {Q.KMV_SHIFT_DEN}) AS VARCHAR)) AS h
       FROM documents CROSS JOIN nn),
ska AS (SELECT list(h ORDER BY h) AS sk FROM (SELECT h FROM ha ORDER BY h LIMIT {k})),
skb AS (SELECT list(h ORDER BY h) AS sk FROM (SELECT h FROM hb ORDER BY h LIMIT {k})),
m AS (
  SELECT ska.sk AS ska, skb.sk AS skb,
         (list_sort(list_distinct(list_cat(ska.sk, skb.sk))))[1:{k}] AS sku
  FROM ska, skb
),
m2 AS (
  SELECT ska, skb, sku,
    len(sku) >= {k} AS is_full,
    len(list_filter(
      CASE WHEN len(sku) >= {k} THEN sku[1:{k - 1}] ELSE sku END,
      h -> list_contains(ska, h) AND list_contains(skb, h))) AS n_both
  FROM m
)
SELECT 'A' AS set_label, round({est('ska')}, 4) AS est_distinct FROM m2
UNION ALL
SELECT 'B', round({est('skb')}, 4) FROM m2
UNION ALL
SELECT 'union',
  round(CASE WHEN is_full THEN CAST({k - 1} AS DOUBLE) / {frac(f'sku[{k}]')}
             ELSE CAST(len(sku) AS DOUBLE) END, 4) FROM m2
UNION ALL
SELECT 'intersection',
  round(CASE WHEN is_full THEN CAST(n_both AS DOUBLE) / {frac(f'sku[{k}]')}
             ELSE CAST(n_both AS DOUBLE) END, 4) FROM m2
"""


def _walks_sql() -> str:
    from wikifrontier.linkgraph import WALK_STEPS

    steps = []
    prev = "s0"
    for s in range(1, WALK_STEPS + 1):
        steps.append(f"""
s{s} AS (
  SELECT w.walk_id,
         coalesce(n.dst, w.pos) AS pos,
         w.path || '->' || CAST(coalesce(n.dst, w.pos) AS VARCHAR) AS path
  FROM {prev} w LEFT JOIN nbrs n
    ON n.src = w.pos
   AND n.rn = CAST(('0x' || substr(md5(CAST(w.pos AS VARCHAR) || '#{s}'), 1, 13))::UBIGINT AS BIGINT) % n.od
)""")
        prev = f"s{s}"
    its = ",".join(steps)
    return f"""
WITH nn AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 31 + 7) % nn.n FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn
),
nbrs AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn,
         count(*) OVER (PARTITION BY src) AS od
  FROM edges
),
s0 AS (
  SELECT doc_id AS walk_id, doc_id AS pos, CAST(doc_id AS VARCHAR) AS path
  FROM documents WHERE doc_id % {Q.WALK_SEED_MOD} = 0
),{its}
SELECT walk_id, pos AS end_node, path FROM {prev}
"""


def _ewma_sql() -> str:
    from wikifrontier.politeness import (
        EWMA_FAIL_OPEN,
        EWMA_SLOW_MS,
        EWMA_WINDOW,
    )

    return f"""
WITH f AS (
  SELECT 'h' || CAST(user_id % 12 AS VARCHAR) || '.com' AS host,
         ts, event_id AS seq,
         CAST(value AS DOUBLE) AS lat,
         CAST(event_type = 'error' AS DOUBLE) AS fail
  FROM events
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host ORDER BY ts DESC, seq DESC) AS rn
  FROM f
),
per AS (
  SELECT host,
    count(*) AS n_events,
    least(count(*), {EWMA_WINDOW}) AS n_window,
    list(lat * power(0.5, rn - 1) ORDER BY rn) FILTER (WHERE rn <= {EWMA_WINDOW}) AS wl,
    list(fail * power(0.5, rn - 1) ORDER BY rn) FILTER (WHERE rn <= {EWMA_WINDOW}) AS wf
  FROM ranked GROUP BY host
),
e AS (
  SELECT host, n_events, n_window,
    list_reduce(wl, (a, b) -> a + b)
      / (CAST(2 AS DOUBLE) - power(0.5, n_window - 1)) AS ewma_lat,
    list_reduce(wf, (a, b) -> a + b)
      / (CAST(2 AS DOUBLE) - power(0.5, n_window - 1)) AS ewma_fail
  FROM per
)
SELECT host, n_events, CAST(n_window AS INT) AS n_window,
  round(ewma_lat, 6) AS ewma_latency_ms,
  round(ewma_fail, 6) AS ewma_fail_rate,
  CASE WHEN ewma_fail > {EWMA_FAIL_OPEN} THEN 'failing'
       WHEN ewma_lat > {EWMA_SLOW_MS} THEN 'slow'
       ELSE 'healthy' END AS verdict
FROM e
"""


# --------------------------------------------------------------------------
# q131–q134 oracle generators
# --------------------------------------------------------------------------
_Q51_EDGES = """
edges AS (
  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 31 + 7) % nn.n FROM documents, nn
  UNION
  SELECT doc_id, (doc_id * 17 + 3) % nn.n FROM documents, nn
)"""


def _urlq_sql() -> str:
    from wikifrontier import filters as FL

    banned = " OR ".join(f"url LIKE '%{w}%'" for w in FL.URLQ_BANNED_WORDS)
    return f"""
WITH u AS (
  SELECT 'https://'
    || (CASE WHEN doc_id % 4 = 0 THEN 'a.b.c.en.wikipedia.org'
             ELSE 'en.wikipedia.org' END)
    || (CASE WHEN doc_id % 7 = 0 THEN '/casino' ELSE '' END)
    || (CASE WHEN doc_id % 5 = 0 THEN '/wiki/12345/67890/Doc_'
             ELSE '/wiki/Doc_' END)
    || doc_id
    || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&sess=1&ref=2&id=3&p=4'
             WHEN doc_id % 3 = 1 THEN '?q=1' ELSE '' END) AS url
  FROM documents
),
f AS (
  SELECT url,
    regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
    regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query,
    length(url) AS url_len
  FROM u
),
g AS (
  SELECT url, host, url_len,
    length(host) - length(replace(host, '.', '')) AS subdomain_depth,
    CAST(length(path) - length(regexp_replace(path, '[0-9]', '', 'g')) AS DOUBLE)
      / CAST(greatest(length(path), 1) AS DOUBLE) AS digit_frac,
    CASE WHEN query = '' THEN 0
         ELSE length(query) - length(replace(query, '&', '')) + 1 END AS n_params,
    ({banned}) AS banned
  FROM f
)
SELECT url, host, url_len, subdomain_depth,
  round(digit_frac, 6) AS digit_frac, n_params,
  url_len <= {FL.URLQ_MAX_LEN} AS r_len,
  subdomain_depth <= {FL.URLQ_MAX_SUBDOMAIN_DEPTH} AS r_subdomain,
  digit_frac <= {FL.URLQ_MAX_DIGIT_FRAC} AS r_digits,
  n_params <= {FL.URLQ_MAX_PARAMS} AS r_params,
  NOT banned AS r_banned,
  (url_len <= {FL.URLQ_MAX_LEN}
   AND subdomain_depth <= {FL.URLQ_MAX_SUBDOMAIN_DEPTH}
   AND digit_frac <= {FL.URLQ_MAX_DIGIT_FRAC}
   AND n_params <= {FL.URLQ_MAX_PARAMS}
   AND NOT banned) AS keep
FROM g
"""


def _focused_sql() -> str:
    from wikifrontier.politeness import FOCUS_BUDGET, FOCUS_HOST_CAP, FOCUS_TOPIC

    topic = "[" + ", ".join(f"'{w}'" for w in FOCUS_TOPIC) + "]"
    return f"""
WITH c AS (
  SELECT 'https://en.wikipedia.org/wiki/Doc_' || doc_id AS url,
         'h' || CAST(doc_id % 5 AS VARCHAR) || '.org' AS host,
         CAST(doc_id % 6 AS INT) AS depth,
         array_to_string(({TOKS})[1:6], ' ') AS anchor_text
  FROM documents
),
s AS (
  SELECT url, host, depth,
    len(list_filter(regexp_extract_all(lower(anchor_text), '[a-z0-9]+'),
                    t -> list_contains({topic}, t))) AS relevance
  FROM c
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY host ORDER BY relevance DESC, depth ASC, url ASC) AS host_rank
  FROM s
)
SELECT url, host, depth, relevance FROM r WHERE host_rank <= {FOCUS_HOST_CAP}
ORDER BY relevance DESC, depth ASC, url ASC LIMIT {FOCUS_BUDGET}
"""


def _rendezvous_sql() -> str:
    from wikifrontier.politeness import RENDEZVOUS_K

    return f"""
WITH hosts AS (
  SELECT 'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.org' AS host,
         count(*) AS n_urls
  FROM documents GROUP BY 1
),
sh AS (
  SELECT host, n_urls,
    list_max(list_transform(range(0, {RENDEZVOUS_K}),
                            s -> {{'h': md5(host || '#' || s), 's': s}}))['s'] AS shard
  FROM hosts
)
SELECT CAST(shard AS INT) AS shard, count(*) AS n_hosts,
       CAST(sum(n_urls) AS BIGINT) AS n_urls
FROM sh GROUP BY shard
"""


def _opic_sql() -> str:
    from wikifrontier.linkgraph import OPIC_ITERATIONS

    iters = []
    prev = "st0"
    for k in range(1, OPIC_ITERATIONS + 1):
        iters.append(f"""
st{k} AS (
  SELECT nodes.id,
    coalesce(inf.w, CAST(0 AS DOUBLE))
      + (SELECT coalesce(sum(cash), CAST(0 AS DOUBLE)) FROM {prev}
         WHERE id NOT IN (SELECT src FROM edges)) / nn.n AS cash,
    pv2.hist + pv2.cash AS hist
  FROM nodes CROSS JOIN nn
  JOIN {prev} pv2 ON pv2.id = nodes.id
  LEFT JOIN (
    SELECT dst AS id, sum(cash / od) AS w
    FROM edges JOIN {prev} pv ON pv.id = edges.src
               JOIN outdeg USING (src)
    GROUP BY dst
  ) inf ON inf.id = nodes.id
)""")
        prev = f"st{k}"
    its = ",".join(iters)
    return f"""
WITH nn AS (SELECT count(*) AS n FROM documents),{_Q51_EDGES},
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
st0 AS (SELECT nodes.id, CAST(1 AS DOUBLE) / nn.n AS cash,
               CAST(0 AS DOUBLE) AS hist
        FROM nodes CROSS JOIN nn),{its}
SELECT id AS doc_id,
       round((hist + cash) / CAST({OPIC_ITERATIONS + 1} AS DOUBLE), 8) AS importance
FROM {prev}
"""


def _pagerank_warm_sql() -> str:
    """q135 oracle: the q51 chain extended one more iteration — warm
    start from the 3-iteration result is BY CONSTRUCTION the 4th cold
    iteration, so the oracle just unrolls 4."""
    from wikifrontier.linkgraph import PAGERANK_DAMPING, PAGERANK_ITERATIONS

    d = f"CAST({PAGERANK_DAMPING} AS DOUBLE)"
    total = PAGERANK_ITERATIONS + 1
    iters = []
    prev = "it0"
    for k in range(1, total + 1):
        iters.append(f"""
it{k} AS (
  SELECT nodes.id,
         (CAST(1 AS DOUBLE) - {d}) / nn.n
         + {d} * (coalesce(inf.w, CAST(0 AS DOUBLE))
                  + (SELECT coalesce(sum(pr), CAST(0 AS DOUBLE)) FROM {prev}
                     WHERE id NOT IN (SELECT src FROM edges)) / nn.n) AS pr
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT dst AS id, sum(pr / od) AS w
    FROM edges JOIN {prev} pv ON pv.id = edges.src
               JOIN outdeg USING (src)
    GROUP BY dst
  ) inf ON inf.id = nodes.id
)""")
        prev = f"it{k}"
    its = ",".join(iters)
    return f"""
WITH nn AS (SELECT count(*) AS n FROM documents),{_Q51_EDGES},
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
it0 AS (SELECT nodes.id, CAST(1 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),{its}
SELECT id AS doc_id, round(pr, 8) AS warm_pagerank FROM {prev}
"""


def _seed_distance_sql() -> str:
    from wikifrontier.linkgraph import BFS_MAX_DEPTH

    steps = []
    prev = "d0"
    for k in range(1, BFS_MAX_DEPTH + 1):
        steps.append(f"""
d{k} AS (
  SELECT id, min(dist) AS dist FROM (
    SELECT id, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS id, d.dist + 1 AS dist
    FROM edges e JOIN {prev} d ON d.id = e.src
  ) GROUP BY id
)""")
        prev = f"d{k}"
    its = ",".join(steps)
    return f"""
WITH nn AS (SELECT count(*) AS n FROM documents),{_Q51_EDGES},
nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
d0 AS (SELECT doc_id AS id, 0 AS dist FROM documents
       WHERE doc_id % {Q.WALK_SEED_MOD} = 0),{its}
SELECT nodes.id AS doc_id, CAST(coalesce({prev}.dist, -1) AS INT) AS dist
FROM nodes LEFT JOIN {prev} ON {prev}.id = nodes.id
"""


def _reciprocity_sql() -> str:
    from wikifrontier.linkgraph import FARM_MIN_OUT, FARM_RECIP_FRAC

    return f"""
WITH nn AS (SELECT count(*) AS n FROM documents),{_Q51_EDGES},
rc AS (
  SELECT e.src, count(*) AS recip_out
  FROM edges e JOIN edges r ON r.src = e.dst AND r.dst = e.src
  GROUP BY e.src
),
od AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
idg AS (SELECT dst, count(*) AS in_deg FROM edges GROUP BY dst)
SELECT od.src AS doc_id,
  od.out_deg,
  coalesce(idg.in_deg, 0) AS in_deg,
  coalesce(rc.recip_out, 0) AS recip_out,
  round(CAST(coalesce(rc.recip_out, 0) AS DOUBLE)
        / CAST(od.out_deg AS DOUBLE), 6) AS recip_frac,
  (CAST(coalesce(rc.recip_out, 0) AS DOUBLE) / CAST(od.out_deg AS DOUBLE)
     >= {FARM_RECIP_FRAC}
   AND od.out_deg >= {FARM_MIN_OUT}) AS farm_flag
FROM od LEFT JOIN rc ON rc.src = od.src
        LEFT JOIN idg ON idg.dst = od.src
"""


def _spam_composite_sql() -> str:
    from wikifrontier import filters as FL
    from wikifrontier.linkgraph import FARM_RECIP_FRAC

    banned = " OR ".join(f"u.url LIKE '%{w}%'" for w in FL.URLQ_BANNED_WORDS)
    # trustrank chain reused verbatim (same constants as q127), plus the
    # url-quality keep rule and the reciprocity fraction, joined on doc_id
    tr_body, tr_last = _trustrank_with()
    return f"""{tr_body}
, uq AS (
  SELECT CAST(regexp_extract(u.url, 'Doc_([0-9]+)', 1) AS BIGINT) AS doc_id,
    CASE WHEN NOT (
      length(u.url) <= {FL.URLQ_MAX_LEN}
      AND length(regexp_extract(u.url, '^[a-z]+://([^/?#]+)', 1))
          - length(replace(regexp_extract(u.url, '^[a-z]+://([^/?#]+)', 1), '.', ''))
          <= {FL.URLQ_MAX_SUBDOMAIN_DEPTH}
      AND CAST(length(regexp_extract(u.url, '^[a-z]+://[^/?#]+([^?#]*)', 1))
               - length(regexp_replace(regexp_extract(u.url, '^[a-z]+://[^/?#]+([^?#]*)', 1),
                                       '[0-9]', '', 'g')) AS DOUBLE)
          / CAST(greatest(length(regexp_extract(u.url, '^[a-z]+://[^/?#]+([^?#]*)', 1)), 1) AS DOUBLE)
          <= {FL.URLQ_MAX_DIGIT_FRAC}
      AND (CASE WHEN regexp_extract(u.url, '\\?([^#]*)', 1) = '' THEN 0
                ELSE length(regexp_extract(u.url, '\\?([^#]*)', 1))
                     - length(replace(regexp_extract(u.url, '\\?([^#]*)', 1), '&', '')) + 1 END)
          <= {FL.URLQ_MAX_PARAMS}
      AND NOT ({banned})
    ) THEN 1 ELSE 0 END AS url_bad
  FROM (
    SELECT 'https://'
      || (CASE WHEN doc_id % 4 = 0 THEN 'a.b.c.en.wikipedia.org'
               ELSE 'en.wikipedia.org' END)
      || (CASE WHEN doc_id % 7 = 0 THEN '/casino' ELSE '' END)
      || (CASE WHEN doc_id % 5 = 0 THEN '/wiki/12345/67890/Doc_'
               ELSE '/wiki/Doc_' END)
      || doc_id
      || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&sess=1&ref=2&id=3&p=4'
               WHEN doc_id % 3 = 1 THEN '?q=1' ELSE '' END) AS url
    FROM documents
  ) u
),
rc2 AS (
  SELECT e.src, count(*) AS recip_out
  FROM edges e JOIN edges r ON r.src = e.dst AND r.dst = e.src
  GROUP BY e.src
),
od2 AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
recipf AS (
  SELECT od2.src AS doc_id,
    CASE WHEN round(CAST(coalesce(rc2.recip_out, 0) AS DOUBLE)
                    / CAST(od2.out_deg AS DOUBLE), 6) >= {FARM_RECIP_FRAC}
         THEN 1 ELSE 0 END AS high_recip
  FROM od2 LEFT JOIN rc2 ON rc2.src = od2.src
),
trf AS (
  SELECT {tr_last}.id AS doc_id,
    CASE WHEN tr < CAST(0.5 AS DOUBLE) / nn.n THEN 1 ELSE 0 END AS low_trust
  FROM {tr_last} CROSS JOIN nn
)
SELECT trf.doc_id, uq.url_bad, trf.low_trust, recipf.high_recip,
  uq.url_bad + trf.low_trust + recipf.high_recip AS spam_score,
  (uq.url_bad + trf.low_trust + recipf.high_recip) >= 2 AS is_spam
FROM trf JOIN uq ON uq.doc_id = trf.doc_id
         JOIN recipf ON recipf.doc_id = trf.doc_id
"""


def _host_trust_sql() -> str:
    """q139 oracle: the q127 trustrank chain + host assignment + an
    id-ordered list_reduce fold (the same left-fold arithmetic as the
    Spark side — never SUM over an unordered set)."""
    tr_body, tr_last = _trustrank_with()
    return f"""{tr_body}
, ha AS (
  SELECT {tr_last}.id, {tr_last}.tr,
         'h' || CAST({tr_last}.id % {Q.TRUST_HOST_MOD} AS VARCHAR) || '.org' AS host
  FROM {tr_last}
),
per AS (
  SELECT host,
    count(*) AS n_pages,
    list(tr ORDER BY id) AS ls,
    CAST(sum(CASE WHEN tr < CAST(0.5 AS DOUBLE) / nn.n THEN 1 ELSE 0 END) AS BIGINT)
      AS n_low_trust
  FROM ha CROSS JOIN nn GROUP BY host, nn.n
)
SELECT host, n_pages,
  round(list_reduce(ls, (a, b) -> a + b) / CAST(n_pages AS DOUBLE), 8) AS mean_trust,
  n_low_trust,
  (list_reduce(ls, (a, b) -> a + b) / CAST(n_pages AS DOUBLE)
     < (SELECT CAST(0.5 AS DOUBLE) / n FROM nn)) AS spam_host
FROM per
"""
