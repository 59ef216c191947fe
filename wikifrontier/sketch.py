"""Mergeable cardinality sketches: a cross-engine-exact HyperLogLog.

Crawl telemetry constantly needs "how many distinct hosts / URLs did
segment X see" where the exact countDistinct is a full shuffle of the
key. HyperLogLog (Flajolet et al. 2007) answers it from a 64-register
sketch that MERGES by register-wise max — per-segment sketches roll up
to fleet totals without ever re-touching the data. Spark ships HLL++ as
``approx_count_distinct`` (production callers should normally use it);
this implementation exists because the engine's correctness story is
oracle replay, and ``approx_count_distinct``'s binary sketch is not
reproducible in DuckDB. Here every step IS: the hash is sha256 (same
bytes in both engines), the register sum is computed in exact integer
arithmetic, and the estimator is a fixed scalar formula — so the oracle
replays the sketch bit-for-bit, and the plan shape (one keyed fold to
registers, one fold to the estimate) is the one a 100 TB run wants.

Design constants: m = 64 registers addressed by the hash's first byte
(low 6 bits); rank bits are the NEXT 10 hex chars (40 bits, disjoint
from the bucket byte), so rho ∈ [1, 41]. The register sum
Σ 2^-rho is computed as the integer Σ 2^(41-rho) (≤ 64·2^41 < 2^48,
exactly representable) and divided once — float addition order can
never perturb it at any parallelism.

No reference counterpart: the reference counts distincts in Postgres
(SELECT count(*) over the pages table); this is the engine-native
replacement for the same observability need.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HLL_M = 64                      # registers (b = 6 bucket bits)
HLL_ALPHA = 0.709               # alpha_64, Flajolet et al. Fig. 3
HLL_RHO_MAX = 41                # 40 rank bits → rho in [1, 41]
_POW2_41 = 1 << 41


def hll_registers(
    df: DataFrame, value: str, group: str = "grp"
) -> DataFrame:
    """Per-group HLL registers → ``(grp, bucket, r)``.

    bucket = low 6 bits of the sha256 first byte; r = max over the
    group's values of rho(next 40 hash bits). One keyed fold — the only
    shuffle, carrying (group, bucket) counters, never the values.
    """
    h = F.sha2(F.col(value).cast("string"), 256)
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % HLL_M
    w = F.conv(F.substring(h, 3, 10), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(HLL_RHO_MAX)).otherwise(
        F.lit(HLL_RHO_MAX) - F.length(F.bin(w))
    )
    return (
        df.select(
            F.col(group).alias("grp"),
            bucket.alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_merge(regs: DataFrame, label: str = "ALL") -> DataFrame:
    """Merge per-group sketches into one — register-wise max, the HLL
    union property. O(groups · m) rows in, m rows out."""
    return regs.groupBy("bucket").agg(F.max("r").alias("r")).select(
        F.lit(label).alias("grp"), "bucket", "r"
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """Registers → ``(grp, n_registers, hll_estimate)``.

    E = alpha·m²/Σ2^-rho with the small-range correction
    E ≤ 2.5m ∧ V>0 → m·ln(m/V) (V = empty registers). The sum is the
    exact integer Σ 2^(41-r) plus 2^41 per empty register, divided once
    — deterministic at any parallelism, replayed exactly by the oracle.
    """
    term = F.pow(F.lit(2.0), F.lit(HLL_RHO_MAX) - F.col("r")).cast("long")
    per = regs.groupBy("grp").agg(
        F.count("*").alias("n_registers"),
        F.sum(term).alias("sum_present"),
    )
    sum_i = F.col("sum_present") + (
        (F.lit(HLL_M) - F.col("n_registers")).cast("long") * F.lit(_POW2_41)
    )
    raw = (
        F.lit(HLL_ALPHA * HLL_M * HLL_M)
        / (sum_i.cast("double") / F.lit(float(_POW2_41)))
    )
    v = F.lit(HLL_M) - F.col("n_registers")
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(raw)
    return per.select(
        "grp", "n_registers", F.round(est, 4).alias("hll_estimate")
    )


def hll_report(
    df: DataFrame, value: str, group: str
) -> DataFrame:
    """Per-group + merged-ALL cardinality report → ``(grp, n_exact,
    n_registers, hll_estimate, rel_err)``.

    The exact countDistinct rides along as the acceptance column (this
    is the correctness artifact; a 100 TB run keeps only the sketch
    side). The ALL row is computed by MERGING the per-group registers —
    the union property under test — not by re-scanning the data.
    """
    regs = hll_registers(df, value, group)
    all_regs = hll_merge(regs)
    ests = hll_estimate(regs.unionByName(all_regs))
    exact = (
        df.select(F.col(group).alias("grp"), F.col(value).alias("v"))
        .groupBy("grp")
        .agg(F.countDistinct("v").alias("n_exact"))
    )
    exact_all = (
        df.select(F.col(value).alias("v"))
        .agg(F.countDistinct("v").alias("n_exact"))
        .select(F.lit("ALL").alias("grp"), "n_exact")
    )
    return (
        ests.join(exact.unionByName(exact_all), "grp")
        .select(
            "grp",
            "n_exact",
            "n_registers",
            "hll_estimate",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("n_exact"))
                / F.col("n_exact").cast("double"),
                4,
            ).alias("rel_err"),
        )
    )


# --- count-min sketch ---------------------------------------------------------
CMS_D = 4      # hash rows
CMS_W = 64     # counters per row


def cms_counters(df: DataFrame, value: str) -> DataFrame:
    """Count-min counter matrix → ``(row, col, c)`` (Cormode/Muthukrishnan
    2005). Row j's hash is an independent 16-bit slice of the value's
    sha256 (chars 4j+1..4j+4) mod w — same bytes in both engines, so the
    sketch replays exactly. d·w = 256 counters regardless of cardinality;
    sketches MERGE by cell-wise addition. One (row, col) counter fold is
    the only shuffle — the frequency telemetry a 1000-executor crawl
    keeps per segment without a per-host groupBy."""
    h = F.sha2(F.col(value).cast("string"), 256)
    rows = df.select(
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("row"),
        h.alias("h"),
    ).select(
        "row",
        (
            F.conv(
                F.substring("h", F.col("row") * 4 + 1, 4), 16, 10
            ).cast("long") % CMS_W
        ).alias("col"),
    )
    return rows.groupBy("row", "col").agg(F.count("*").alias("c"))


def cms_heavy_hitters(df: DataFrame, value: str, k: int = 10) -> DataFrame:
    """Top-k by count-min estimate → ``(value, n_exact, cms_est,
    overcount)``.

    The estimate is min over the d rows of the value's counter — never
    below the true count (the CM guarantee; ``overcount = cms_est −
    n_exact ≥ 0`` is the machine-checked invariant). Candidates here are
    the distinct values themselves (the exact column is the acceptance
    artifact); a production stream draws candidates from the arriving
    keys and keeps only the sketch. Top-k is orderBy+limit —
    TakeOrderedAndProject, no global sort.
    """
    sketch_df = cms_counters(df, value)
    cand = df.groupBy(F.col(value).alias("v")).agg(
        F.count("*").alias("n_exact")
    )
    h = F.sha2(F.col("v").cast("string"), 256)
    probes = cand.select(
        "v",
        "n_exact",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("row"),
        h.alias("h"),
    ).select(
        "v",
        "n_exact",
        "row",
        (
            F.conv(
                F.substring("h", F.col("row") * 4 + 1, 4), 16, 10
            ).cast("long") % CMS_W
        ).alias("col"),
    )
    est = (
        probes.join(F.broadcast(sketch_df), ["row", "col"])
        .groupBy("v", "n_exact")
        .agg(F.min("c").alias("cms_est"))
    )
    return (
        est.select(
            F.col("v").alias("value"),
            "n_exact",
            "cms_est",
            (F.col("cms_est") - F.col("n_exact")).alias("overcount"),
        )
        .orderBy(F.col("cms_est").desc(), "value")
        .limit(k)
    )


# --- fixed-bin histogram quantiles --------------------------------------------
HIST_BINS = 64
HIST_BIN_WIDTH_MS = 50.0


def histogram_quantiles(
    df: DataFrame,
    value: str,
    group: str,
    probs: tuple = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Per-group quantile estimates from a fixed 64-bin histogram →
    ``(grp, n_events, q_cols...)`` with one column per prob (``p50_ms``,
    ``p95_ms``, …), each the MIDPOINT of the bin where the cumulative
    count first reaches ceil(p·n).

    The latency-percentile telemetry of a crawl fleet without a global
    sort: the only event-scale exchange is the (group, bin) counter
    fold; histograms MERGE by cell-wise addition (same algebra as the
    count-min rows), so per-segment sketches roll up to fleet
    percentiles. The quantile scan is a window over the ≤64-bin
    histogram per group — O(groups·64), never over raw events. Binning
    is exact integer arithmetic (floor of value·2 — 50 ms bins over
    value·100 ms latencies), so the result is deterministic and
    oracle-replayable; estimate error is bounded by the bin width.
    """
    from pyspark.sql import Window

    bin_col = F.least(
        F.lit(HIST_BINS - 1),
        F.floor(F.col(value).cast("double") * (100.0 / HIST_BIN_WIDTH_MS)),
    ).cast("int")
    hist = (
        df.select(F.col(group).alias("grp"), bin_col.alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("grp").orderBy("bin")
    cum = hist.select(
        "grp", "bin", "c",
        F.sum("c").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.sum("c").over(
            Window.partitionBy("grp")
        ).alias("n_events"),
    )
    aggs = [F.max("n_events").alias("n_events")]
    for p in probs:
        name = f"p{int(p * 100)}_ms"
        aggs.append(
            F.round(
                (
                    F.min(
                        F.when(
                            F.col("cum")
                            >= F.ceil(F.lit(p) * F.col("n_events")),
                            F.col("bin"),
                        )
                    ).cast("double")
                    + 0.5
                )
                * HIST_BIN_WIDTH_MS,
                1,
            ).alias(name)
        )
    return cum.groupBy("grp").agg(*aggs)


# --------------------------------------------------------------------------
# KMV / theta sketch (Bar-Yossef et al. 2002; Dasgupta et al.'s theta
# formalization): keep the k minimum hash values of a set. Where HLL only
# unions, KMV supports the SET ALGEBRA crawl planning needs — union,
# intersection, difference between two crawl snapshots' URL sets ("how
# many URLs does tomorrow's seed list share with what we already have?")
# — each estimated from two k-element sketches, no re-scan of either
# snapshot. Cross-engine-exact like the HLL above: md5 hashes (identical
# bytes both engines), the estimator reads the hash's first 13 hex chars
# as a 52-bit integer (exact in a double), and every arithmetic step is
# a fixed scalar formula the DuckDB oracle replays bit-for-bit.
# --------------------------------------------------------------------------
KMV_K = 256
_KMV_SPACE = float(16 ** 13)  # 52-bit hash-prefix space


def kmv_sketch(df: DataFrame, value: str, k: int = KMV_K) -> DataFrame:
    """Bottom-k distinct md5 hashes of ``value`` → one row holding the
    sorted hash array. distinct → sort-limit is Spark's
    TakeOrderedAndProject: per-partition bottom-k, merged at the driver
    — O(k) per partition, never a global sort. The ``sk`` column's
    metadata records the build ``k`` (``kmv_k``) for ``kmv_set_ops``'s
    check."""
    h = df.select(F.md5(F.col(value).cast("string")).alias("h")).distinct()
    bottom = h.orderBy("h").limit(k)
    return bottom.agg(
        F.array_sort(F.collect_list("h")).alias("sk", metadata={"kmv_k": k})
    )


def _frac(h):
    """Hash → position in [0,1): first 13 hex chars / 16^13 (exact)."""
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("long") / F.lit(_KMV_SPACE)


def kmv_estimate(sk, k: int = KMV_K):
    """Distinct-count estimate from a sorted bottom-k array column: exact
    size when the sketch is not full, else (k-1)/frac(kth). ``k`` must not
    exceed the sketch's build k: a full sketch holds only that many
    hashes, so a larger k reads it as a not-full one and returns its
    size."""
    return F.when(F.size(sk) < k, F.size(sk).cast("double")).otherwise(
        F.lit(float(k - 1)) / _frac(F.element_at(sk, k))
    )


def kmv_set_ops(a: DataFrame, b: DataFrame, k: int = KMV_K) -> DataFrame:
    """Two 1-row sketch frames → (set_label, est_distinct) rows for
    A, B, union, intersection.

    Union sketch = bottom-k of the merged hash arrays. Intersection uses
    the standard KMV combination: among the union sketch's k-1 smallest
    (all below theta), count those present in BOTH input sketches; that
    count / (k-1) × est(union) — equivalently count/theta_frac. When the
    union sketch is not full every member is known exactly and the
    estimates collapse to exact counts. All array ops are over ≤k
    elements on a single row — driver-free, broadcast-size state.

    Raises ValueError when ``k`` exceeds the build k a ``kmv_sketch``
    frame records (a smaller k is a valid bottom-k of the same set).
    """
    for name, sketch_df in (("a", a), ("b", b)):
        built = sketch_df.schema["sk"].metadata.get("kmv_k")
        if built is not None and k > built:
            raise ValueError(
                f"kmv_set_ops k={k} exceeds sketch {name}'s build k={built}"
            )
    j = (
        a.select(F.col("sk").alias("ska"))
        .crossJoin(b.select(F.col("sk").alias("skb")))
        .select(
            "ska",
            "skb",
            F.slice(
                F.array_sort(F.array_union(F.col("ska"), F.col("skb"))), 1, k
            ).alias("sku"),
        )
    )
    full = F.size(F.col("sku")) >= k
    theta_frac = _frac(F.element_at(F.col("sku"), k))
    head = F.when(full, F.slice(F.col("sku"), 1, k - 1)).otherwise(F.col("sku"))
    n_both = F.size(
        F.filter(
            head,
            lambda h: F.array_contains(F.col("ska"), h)
            & F.array_contains(F.col("skb"), h),
        )
    )
    est_union = F.when(full, F.lit(float(k - 1)) / theta_frac).otherwise(
        F.size(F.col("sku")).cast("double")
    )
    est_inter = F.when(full, n_both.cast("double") / theta_frac).otherwise(
        n_both.cast("double")
    )
    return j.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("A").alias("set_label"),
                    F.round(kmv_estimate(F.col("ska"), k), 4).alias("est_distinct"),
                ),
                F.struct(
                    F.lit("B").alias("set_label"),
                    F.round(kmv_estimate(F.col("skb"), k), 4).alias("est_distinct"),
                ),
                F.struct(
                    F.lit("union").alias("set_label"),
                    F.round(est_union, 4).alias("est_distinct"),
                ),
                F.struct(
                    F.lit("intersection").alias("set_label"),
                    F.round(est_inter, 4).alias("est_distinct"),
                ),
            )
        ).alias("s")
    ).select("s.set_label", "s.est_distinct")
