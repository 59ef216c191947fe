"""Tests for the training-data-pipeline tier: dedup, similarity, text
analysis, multimodal plumbing. Complements tests/test_extract.py (parser
parity) and tests/test_spark_pipeline.py (BFS engine)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wikifrontier import dedup, multimodal, similarity, textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
        (2, "the quick brown fox jumps over the lazy cat", "en"),  # near dup
        (3, "completely different text about spark engines here", "en"),
        (4, "vector hash join merge sort stream window", "de"),
        (5, "12 34 numbers only 56", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([("A b, c1 d!",)], "text string")
    out = df.select(
        textops.tokens(F.col("text")).alias("t"),
        textops.shingles(textops.tokens(F.col("text")), 3).alias("s"),
    ).first()
    assert out["t"] == ["a", "b", "c1", "d"]
    assert out["s"] == ["a b c1", "b c1 d"]
    # below shingle width → empty, never a descending-sequence artifact
    short = spark.createDataFrame([("one two",)], "text string")
    assert short.select(
        textops.shingles(textops.tokens(F.col("text")), 3).alias("s")
    ).first()["s"] == []


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).collect()
    by_keep = {r["keep_id"]: r["dup_count"] for r in out}
    assert by_keep[0] == 2  # docs 0 and 1 identical
    assert len(out) == 5  # 6 docs, one collision


def test_minhash_lsh_finds_near_dups(docs):
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found  # identical docs always collide in every band
    for r in pairs:
        if (r["id_a"], r["id_b"]) == (0, 1):
            assert r["est_jaccard"] == 1.0


def test_simhash_identical_and_distance(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh[0] == sh[1]  # identical text → identical sketch
    assert 0 <= sh[0] < (1 << dedup.SIMHASH_BITS)
    pairs = dedup.simhash_pairs(docs, max_hamming=3).collect()
    assert any((r["id_a"], r["id_b"]) == (0, 1) and r["hamming"] == 0 for r in pairs)
    # nibble-band pigeonhole: every reported pair is within the radius,
    # and no pair appears twice despite colliding in multiple bands
    assert all(r["hamming"] <= 3 for r in pairs)
    keys = [(r["id_a"], r["id_b"]) for r in pairs]
    assert len(keys) == len(set(keys))


def test_jaccard_lsh_verified(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_lsh_verified(docs, threshold=0.5).collect()
    }
    # identical docs collide in every band and verify at jaccard 1.0
    assert pairs[(0, 1)] == 1.0
    # verified scores are exact (not the banding estimate)
    assert all(0.5 <= v <= 1.0 for v in pairs.values())


def test_ngram_jaccard(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs  # one-word change keeps most shingles
    assert (0, 3) not in pairs


def test_dedup_clusters(spark, docs):
    # pairs: {0,1,2} chained via (0,1),(1,2); {4,5} direct; 3 singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(docs, pairs).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}


def test_dedup_clusters_chain_converges(spark):
    # a pure path graph 0-1-2-...-9 needs multiple hash-min rounds
    nodes = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    out = dedup.dedup_clusters(nodes, pairs).collect()
    assert all(r["cluster_id"] == 0 for r in out) and len(out) == 10


def test_repetition_features(spark):
    rows = [
        (0, "a b c a b c a b c"),   # heavy 3x repetition
        (1, "one two three four"),  # no repetition
        (2, ""),                    # empty → all zeros
        (3, "x y"),                 # below 3-gram width
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feats = textops.repetition_features(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[c.alias(n) for n, c in feats.items()]
        ).collect()
    }
    # doc 0: 9 tokens, 3 distinct → 6/9; 7 3-grams, 3 distinct → 4/7
    assert out[0]["dup_word_frac"] == round(6 / 9, 6)
    assert out[0]["dup_3gram_frac"] == round(4 / 7, 6)
    assert out[1]["dup_word_frac"] == 0.0
    assert out[2]["dup_word_frac"] == 0.0 and out[2]["dup_3gram_frac"] == 0.0
    assert out[3]["dup_3gram_frac"] == 0.0


def test_fingerprint_containment(spark):
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega "
        "one two three four five six seven eight nine ten eleven twelve"
    )
    toks = base.split()
    rows = [
        (0, base),
        (1, " ".join(toks[:-4])),  # truncated copy → contained in 0
        (2, "unrelated words entirely different content matter here today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.fingerprint_containment(df, threshold=0.5).collect()
    }
    assert (1, 0) in out and out[(1, 0)] == 1.0  # fp(1) ⊆ fp(0)
    assert all(a != 2 and b != 2 for a, b in out)


def test_fingerprint_containment_max_df_cap(spark):
    # a fingerprint shared by every doc is a stop fingerprint: with the
    # cap below the corpus size it contributes nothing
    shared = "common shingle words repeated across docs "
    rows = [(i, shared + f"unique tail {i} {i} {i}") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.fingerprint_containment(df, threshold=0.9, max_df=1).collect()
    assert capped == []  # every fp shared by ≥2 docs → all dropped


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 0),
        (3, [-1.0, 0.0, 0.0, 0.0], 1),
        (4, [1.0, 0.01, 0.0, 0.0], 1),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_embedding_dedup(vectors):
    pairs = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in dedup.embedding_dup_pairs(vectors, threshold=0.9).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs


def test_brute_force_topk(vectors):
    out = similarity.brute_force_topk(
        vectors, vectors.filter(F.col("vec_id") == 0), k=2
    ).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in ranked] == [4, 1]
    assert all(r["query_id"] == 0 for r in out)


def test_bucketed_topk_subset_of_bucket(spark):
    rows = [
        (0, [1.0, 1.0, 0.0, 0.0], 0),   # bucket 3
        (1, [0.9, 0.1, 0.0, 0.0], 0),   # bucket 3
        (2, [0.0, 1.0, 0.0, 0.0], 0),   # bucket 2 — excluded
        (3, [-1.0, -1.0, 0.0, 0.0], 1),  # bucket 0 — excluded
        (4, [1.0, 0.01, 0.0, 0.0], 1),  # bucket 3
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.bucketed_topk(
        vecs, vecs.filter(F.col("vec_id") == 0), k=4, bits=2
    ).collect()
    # the probe only sees the query's own sign-bucket
    assert {r["neighbor_id"] for r in out} == {1, 4}


def test_ivf_topk_probes_own_list(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),    # centroid A
        (1, [0.0, 1.0, 0.0, 0.0], 0),    # centroid B
        (2, [0.95, 0.05, 0.0, 0.0], 0),  # near A
        (3, [0.05, 0.95, 0.0, 0.0], 0),  # near B
        (4, [0.9, 0.1, 0.0, 0.0], 0),    # near A (query)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    centroids = vecs.filter(F.col("vec_id") < 2)
    assign = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.ivf_assign(vecs, centroids).collect()
    }
    assert assign == {0: 0, 1: 1, 2: 0, 3: 1, 4: 0}
    out = similarity.ivf_topk(vecs, vecs.filter(F.col("vec_id") == 4), centroids, k=5)
    # probes only list A — vector 3 (list B) is invisible to the query
    assert {r["neighbor_id"] for r in out.collect()} == {0, 2}


def test_lang_id_deterministic(docs):
    out = {
        r["doc_id"]: r["pred"]
        for r in docs.select(
            "doc_id", textops.predicted_lang(textops.tokens(F.col("text"))).alias("pred")
        ).collect()
    }
    assert out[0] == "en"  # 'the' ×2, 'a'-profile hits
    assert out[4] == "de"  # 'vector', 'hash' markers
    assert set(out.values()) <= set(textops.LANG_PROFILES)


def test_quality_features(docs):
    feats = textops.quality_features(F.col("text"))
    row = (
        docs.filter(F.col("doc_id") == 5)
        .select(*[c.alias(n) for n, c in feats.items()])
        .first()
    )
    assert row["n_tokens"] == 5
    assert row["digit_ratio"] == 0.6
    assert 0.0 <= row["quality_score"] <= 1.0


def test_fingerprints_stable_under_edit(spark):
    a = "w%d" % 1
    base = " ".join(f"tok{i}" for i in range(200))
    edited = base.replace("tok100", "changed")
    df = spark.createDataFrame([(0, base), (1, edited)], "doc_id long, text string")
    fps = {
        r["doc_id"]: set(r["f"])
        for r in df.select(
            "doc_id", textops.fingerprints(F.col("text")).alias("f")
        ).collect()
    }
    overlap = len(fps[0] & fps[1]) / max(len(fps[0] | fps[1]), 1)
    assert overlap > 0.7  # local edit perturbs only nearby shingles


def test_multimodal_plumbing(docs):
    media = multimodal.attach_media(docs)
    meta = {r["media_id"]: r for r in multimodal.media_metadata(media).collect()}
    assert meta[0]["kind"] == "image" and meta[1]["kind"] == "audio"
    assert meta[0]["byte_len"] == len("the quick brown fox jumps over the lazy dog")
    feats = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    assert feats[0]["n_frames"] == 1  # images are single-frame
    assert feats[0]["width"] % 16 == 0 and feats[0]["height"] % 9 == 0
    assert len(feats[0]["feat_checksum"]) == 16


def test_decode_media_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"bytes", "image")


def test_real_codec_roundtrip():
    """BMP/WAV stdlib codecs: make → decode inverts exactly, and
    decode_media routes by container magic without the fake flag."""
    bmp = multimodal.make_bmp(13, 7, b"pixelbytes")
    assert multimodal.decode_bmp(bmp) == {"n_frames": 1, "width": 13, "height": 7}
    assert multimodal.decode_media(bmp, "image") == {
        "n_frames": 1, "width": 13, "height": 7,
    }
    wav = multimodal.make_wav(240, sample_rate=8000, channels=2, sample_bytes=b"pcm")
    assert multimodal.decode_wav(wav) == {
        "n_frames": 240, "width": 8000, "height": 2,
    }
    assert multimodal.sniff_codec(bmp) == "bmp"
    assert multimodal.sniff_codec(wav) == "wav"
    assert multimodal.sniff_codec(b"plain text") is None


def test_gzip_store_roundtrip(spark, tmp_path):
    """S3/S4: executor-side gz-per-page write, binaryFile re-scan, byte
    identity; a corrupted/missing file flags ok=False, not a crash."""
    import os

    from pyspark.sql import functions as F

    from wikifrontier import htmlstore

    pages = spark.range(20).select(
        F.concat(F.lit("https://en.wikipedia.org/wiki/G"), F.col("id")).alias("url"),
        F.encode(F.concat(F.lit("<html>page "), F.col("id"), F.lit("</html>")), "utf-8").alias("html"),
    )
    store = str(tmp_path / "gzstore")
    written = htmlstore.write_gzip_store(pages, store)
    assert written.count() == 20
    back = htmlstore.read_gzip_store(spark, store)
    ok = htmlstore.roundtrip_check(pages, back)
    assert ok.filter(~F.col("ok")).count() == 0

    # drop one file: its url must flag ok=False
    victim = sorted(os.listdir(store))[0]
    os.remove(os.path.join(store, victim))
    ok2 = htmlstore.roundtrip_check(pages, htmlstore.read_gzip_store(spark, store))
    assert ok2.filter(~F.col("ok")).count() == 1


def test_attach_media_encoded_real_decode(docs):
    """attach_media_encoded payloads decode through the REAL parsers for
    image/audio; video stays on the fake path."""
    feats = {
        r["media_id"]: r
        for r in multimodal.extract_features(
            multimodal.attach_media_encoded(docs), include_codec=True
        ).collect()
    }
    by_kind = {r["kind"]: r["codec"] for r in feats.values()}
    assert by_kind.get("image") == "bmp"
    assert by_kind.get("audio") == "wav"
    assert by_kind.get("video") == "fake"


def test_pagerank_matches_closed_form(spark):
    """Tiny graph with a dangling node, checked against the hand-iterated
    power method (numpy-free closed replay of the same 3 iterations)."""
    from wikifrontier.linkgraph import pagerank

    # 0->1, 0->2, 1->2, 2->0, 3 dangling (in-edge only: 0->3)
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 0), (0, 3), (0, 3)],  # dup edge collapses
        "src long, dst long",
    )
    got = {
        r["id"]: r["pr"]
        for r in pagerank(edges, iterations=3, damping=0.85).collect()
    }

    out = {0: [1, 2, 3], 1: [2], 2: [0], 3: []}
    pr = {v: 1.0 / 4 for v in out}
    for _ in range(3):
        dang = sum(p for v, p in pr.items() if not out[v])
        nxt = {}
        for v in out:
            inflow = sum(pr[u] / len(out[u]) for u in out if v in out[u])
            nxt[v] = (1.0 - 0.85) / 4 + 0.85 * (inflow + dang / 4)
        pr = nxt

    assert set(got) == set(pr)
    for v in pr:
        assert abs(got[v] - pr[v]) < 1e-12
    # mass is conserved (dangling redistribution, not leakage)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_segment_dedup(spark):
    """Cross-doc duplicated segments drop; unique tails survive in order;
    a fully-duplicated doc survives as an empty row, not a missing one."""
    seg = "a b c d e f g h i j"  # exactly one 10-token segment
    rows = [
        (0, seg + " unique tail zero"),
        (1, seg + " other tail one"),
        (2, seg),  # nothing unique → kept_text ''
        (3, "entirely fresh words nobody else uses"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.segment_dedup(df).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[0]["kept_text"] == "unique tail zero"
    assert out[0]["n_segs"] == 2 and out[0]["n_kept"] == 1
    assert out[1]["kept_text"] == "other tail one"
    assert out[2]["kept_text"] == "" and out[2]["kept_frac"] == 0.0
    assert out[3]["kept_text"] == "entirely fresh words nobody else uses"
    assert out[3]["kept_frac"] == 1.0


def test_segment_dedup_preserves_order(spark):
    """Survivor reassembly is original order even when surviving segments
    straddle a removed middle segment."""
    shared = " ".join(f"s{i}" for i in range(10))
    a = "alpha one two three four five six seven eight nine"
    b = "omega ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen"
    df = spark.createDataFrame(
        [(0, f"{a} {shared} {b}"), (1, shared)], "doc_id long, text string"
    )
    row = {r["doc_id"]: r for r in dedup.segment_dedup(df).collect()}[0]
    assert row["kept_text"] == f"{a} {b}"
    assert row["n_segs"] == 3 and row["n_kept"] == 2


def test_top_ngrams(spark):
    """Counts, doc frequency, and the deterministic lexicographic cut at
    the top-k boundary."""
    df = spark.createDataFrame(
        [(0, "a b c a b c"), (1, "a b c x y z")], "doc_id long, text string"
    )
    rows = textops.top_ngrams(df, n=3, k=3).collect()
    assert [(r["gram"], r["occurrences"], r["doc_freq"]) for r in rows] == [
        ("a b c", 3, 2),
        ("b c a", 1, 1),
        ("b c x", 1, 1),
    ]


def test_benchmark_contamination(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta"),  # near-copy
            (1, "alpha beta gamma unrelated tail here now"),  # 1 shared gram
            (2, "totally different words in this document"),  # clean
            (3, "xy"),  # < n tokens → zero grams, trivially clean
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.benchmark_contamination(cand, bench).collect()}
    assert len(out) == 4
    assert out[0]["is_contaminated"] and out[0]["contaminated_grams"] == 4
    assert out[1]["is_contaminated"] and out[1]["contaminated_grams"] == 1
    assert not out[2]["is_contaminated"] and out[2]["contamination_ratio"] == 0.0
    # zero-gram doc survives explode_outer with total 0 and stays clean
    assert out[3]["total_grams"] == 0 and not out[3]["is_contaminated"]
    # ratio = overlap / distinct grams of the candidate
    assert out[0]["contamination_ratio"] == round(4 / out[0]["total_grams"], 6)


def test_trap_signals(spark):
    from wikifrontier import filters

    rows = (
        # flat wiki: one URL per distinct prefix2 → amplification 1, clean
        [(f"https://wiki.example.org/wiki/Page_{i}",) for i in range(20)]
        # calendar trap: deep paths, single 2-segment prefix
        + [(f"https://cal.example.com/2026/01/{i}/event_{i}",) for i in range(20)]
        # forum trap: one path, query-id URLs
        + [(f"https://forum.example.net/thread?id={i}",) for i in range(20)]
        # versioned docs: high amplification but shallow + query-free → clean
        + [(f"https://docs.example.org/docs/v1/page_{i}",) for i in range(20)]
    )
    df = spark.createDataFrame(rows, "url string")
    out = {r["host"]: r for r in filters.trap_signals(df).collect()}
    assert not out["wiki.example.org"]["is_trap"]
    assert out["wiki.example.org"]["amplification"] == 1.0
    assert out["cal.example.com"]["is_trap"]
    assert out["cal.example.com"]["avg_depth"] == 4.0
    assert out["forum.example.net"]["is_trap"]
    assert out["forum.example.net"]["param_frac"] == 1.0
    assert out["forum.example.net"]["avg_depth"] == 1.0
    assert not out["docs.example.org"]["is_trap"]  # amplification alone ≠ trap
    assert out["docs.example.org"]["amplification"] == 20.0


def test_stratified_sample_deterministic(spark):
    import hashlib

    rows = [(i, "en" if i % 2 == 0 else "zz") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = textops.stratified_sample(
        df, {"en": 0.5, "zz": 1.0}, "lang", "doc_id"
    ).collect()
    kept = {r["doc_id"] for r in out}
    # rate-1.0 stratum keeps every row; default-0.0 would drop unknown strata
    assert all(i in kept for i in range(400) if i % 2 == 1)
    # membership is exactly the md5-prefix rule — reproducible off-engine
    for i in range(0, 400, 2):
        expect = hashlib.md5(str(i).encode()).hexdigest()[:8] < "80000000"
        assert (i in kept) == expect, i
    # unknown stratum under default rate 0.0 → dropped
    extra = spark.createDataFrame([(9999, "xx")], "doc_id long, lang string")
    assert textops.stratified_sample(extra, {"en": 0.5}, "lang", "doc_id").count() == 0


def test_hits_matches_closed_form(spark):
    """Tiny graph checked against a hand-iterated L1-normalized HITS
    replay; a pure hub (no in-edges) holds auth 0, a pure authority
    (no out-edges) holds hub 0, and both score vectors sum to 1."""
    from wikifrontier.linkgraph import hits

    # 0 is a hub pointing at 1,2,3; 1 also points at 2; 3 dangles.
    edge_list = [(0, 1), (0, 2), (0, 3), (1, 2), (2, 1), (0, 2)]  # dup collapses
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["id"]: (r["hub"], r["auth"]) for r in hits(edges, iterations=3).collect()}

    e = sorted(set(edge_list))
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    hub = {v: 1.0 / len(nodes) for v in nodes}
    auth = dict.fromkeys(nodes, 0.0)
    for _ in range(3):
        auth = {v: sum(hub[u] for u, w in e if w == v) for v in nodes}
        t = sum(auth.values())
        auth = {v: (x / t if t > 0 else 0.0) for v, x in auth.items()}
        hub = {u: sum(auth[w] for x, w in e if x == u) for u in nodes}
        t = sum(hub.values())
        hub = {u: (x / t if t > 0 else 0.0) for u, x in hub.items()}

    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v][0] - hub[v]) < 1e-12, v
        assert abs(got[v][1] - auth[v]) < 1e-12, v
    assert got[0][1] == 0.0  # nothing links TO node 0
    assert got[3][0] == 0.0  # node 3 links to nothing
    assert abs(sum(h for h, _ in got.values()) - 1.0) < 1e-9
    assert abs(sum(a for _, a in got.values()) - 1.0) < 1e-9


def test_hits_empty_graph(spark):
    from wikifrontier.linkgraph import hits

    empty = spark.createDataFrame([], "src long, dst long")
    assert hits(empty).count() == 0


def test_anchor_profile(spark):
    """Degrees count edge mentions, sources are distinct, the top term is
    the most frequent token with a lexicographic tie-break, and a target
    whose anchors have no tokens reports ''/0."""
    from wikifrontier.linkgraph import anchor_profile

    rows = [
        ("a", "t1", "Best Guide"),
        ("b", "t1", "best reference"),
        ("b", "t1", "guide"),          # b links t1 twice → n_sources 2
        ("c", "t2", ""),               # token-free anchor
        ("a", "t3", "alpha beta"),
        ("b", "t3", "beta alpha"),     # tie alpha/beta at 2 → 'alpha' wins
    ]
    links = spark.createDataFrame(rows, "src string, dst string, anchor_text string")
    out = {r["url"]: r for r in anchor_profile(links).collect()}
    assert out["t1"]["in_degree"] == 3 and out["t1"]["n_sources"] == 2
    # tokens lowercase: best×2, guide×2, reference×1 → tie best/guide → 'best'
    assert out["t1"]["top_term"] == "best" and out["t1"]["top_term_count"] == 2
    assert out["t2"]["in_degree"] == 1
    assert out["t2"]["top_term"] == "" and out["t2"]["top_term_count"] == 0
    assert out["t3"]["top_term"] == "alpha" and out["t3"]["top_term_count"] == 2


def test_pii_features_counts_and_mask(spark):
    """Known spans → exact counts and masked text; redaction chaining
    means digits inside an email never double-count as phone/IP, and a
    3-part version string is not an IPv4."""
    from pyspark.sql import functions as F
    from wikifrontier.textops import pii_features

    rows = [
        (1, "reach Bob.Smith+x@site.org or 123-456-7890 from 192.168.0.1"),
        (2, "release v1.2.3 has no pii and 12-34 is not a phone"),
        (3, "two mails a@b.io c@d.co and ips 10.0.0.1 10.0.0.2"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    feats = pii_features(F.col("text"))
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            *[feats[k].alias(k) for k in ("n_emails", "n_phones", "n_ipv4s")],
            feats["masked"].alias("masked"),
        ).collect()
    }
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ipv4s"]) == (1, 1, 1)
    assert out[1]["masked"] == "reach <EMAIL> or <PHONE> from <IP>"
    assert (out[2]["n_emails"], out[2]["n_phones"], out[2]["n_ipv4s"]) == (0, 0, 0)
    assert out[2]["masked"] == rows[1][1]
    assert (out[3]["n_emails"], out[3]["n_ipv4s"]) == (2, 2)
    assert out[3]["masked"] == "two mails <EMAIL> <EMAIL> and ips <IP> <IP>"


def test_tfidf_terms_math_and_ranks(spark):
    """3-doc corpus with hand-computed idf: 'cat' appears in all docs
    (idf=ln(1)=0 → never a top term over positive-idf rivals), 'dog'
    in 1 (idf=ln(3)), 'ant'/'bee' tie on tfidf → lexicographic rank."""
    import math

    from wikifrontier.textops import tfidf_terms

    rows = [
        (1, "cat cat dog ant bee"),
        (2, "cat ant bee"),
        (3, "cat cat cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in tfidf_terms(df, k=2).collect():
        out.setdefault(r["doc_id"], []).append(r)
    d1 = {r["term"]: r for r in out[1]}
    # doc 1: dog tf=1 df=1 → ln(3); ant/bee tf=1 df=2 → ln(1.5); cat idf 0
    assert set(d1) == {"dog", "ant"}  # dog wins, then ant beats bee on term
    assert abs(d1["dog"]["tfidf"] - round(math.log(3.0), 6)) < 1e-9
    assert d1["dog"]["rank"] == 1 and d1["ant"]["rank"] == 2
    assert abs(d1["ant"]["tfidf"] - round(math.log(1.5), 6)) < 1e-9
    # doc 3: only 'cat', tfidf = 3·ln(1) = 0 — still emitted (rank 1)
    assert [(r["term"], r["tfidf"]) for r in out[3]] == [("cat", 0.0)]


def test_cocitation_pairs_and_hub_cap(spark):
    """Hand-checkable graph: s1→{a,b,c}, s2→{a,b}, s3→{a,b} (duplicate
    mention collapses), hub→{a,b,x1..x9} dropped by max_out=4. Expect
    (a,b) co-cited by 3 distinct sources, (a,c)/(b,c) by 1 each (cut by
    min_cocite=2), hub contributing nothing, pairs ordered page_a<page_b."""
    from wikifrontier.linkgraph import cocitation

    rows = (
        [("s1", t) for t in ("a", "b", "c")]
        + [("s2", "a"), ("s2", "b"), ("s2", "b")]  # dup mention: counts once
        + [("s3", "a"), ("s3", "b")]
        + [("hub", t) for t in ("a", "b")]
        + [("hub", f"x{i}") for i in range(9)]
    )
    edges = spark.createDataFrame(rows, "src string, dst string")
    out = {(r["page_a"], r["page_b"]): r["cocitations"] for r in
           cocitation(edges, min_cocite=2, max_out=4).collect()}
    assert out == {("a", "b"): 3}
    # lowering the cut admits the singleton pairs from s1
    out1 = {(r["page_a"], r["page_b"]): r["cocitations"] for r in
            cocitation(edges, min_cocite=1, max_out=4).collect()}
    assert out1 == {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 1}
    # with the cap lifted the hub's 11 targets flood in
    assert cocitation(edges, min_cocite=1, max_out=1000).count() > 3


def test_incremental_ingest_verdicts(spark):
    """Exact copy → exact_dup (precedence over its inevitable band
    match), truncated copy → near_dup with the right corpus match id,
    fresh text → unique with NULL match columns."""
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green turtles watch quietly from the river bank nearby today"
    )
    other = (
        "completely different subject matter entirely about quantum "
        "chromodynamics lattice simulations running on distributed clusters"
    )
    corpus = spark.createDataFrame(
        [(10, base), (11, other)], "doc_id long, text string"
    )
    trunc = " ".join(base.split()[:-3])
    batch = spark.createDataFrame(
        [(100, base), (101, trunc), (102, "zebras paint abstract murals underwater")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.incremental_ingest(corpus, batch).collect()}
    assert out[100]["verdict"] == "exact_dup"
    assert out[100]["match_id"] == 10 and out[100]["est_jaccard"] == 1.0
    assert out[101]["verdict"] == "near_dup"
    assert out[101]["match_id"] == 10 and out[101]["est_jaccard"] >= 0.5
    assert out[102]["verdict"] == "unique"
    assert out[102]["match_id"] is None and out[102]["est_jaccard"] is None


def test_chunk_documents_windows(spark):
    """5-token doc at k=2 → windows [t1 t2][t3 t4][t5]; empty and
    punctuation-only docs emit no rows; shas match hashlib on the
    space-joined lowercase window."""
    import hashlib

    from wikifrontier.textops import chunk_documents

    rows = [(1, "Alpha beta GAMMA delta epsilon"), (2, ""), (3, "?!... ---")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        chunk_documents(df, k=2).collect(), key=lambda r: (r["doc_id"], r["chunk_idx"])
    )
    assert [(r["doc_id"], r["chunk_idx"], r["n_tokens"]) for r in out] == [
        (1, 0, 2), (1, 1, 2), (1, 2, 1)
    ]
    want = ["alpha beta", "gamma delta", "epsilon"]
    assert [r["chunk_sha"] for r in out] == [
        hashlib.sha256(w.encode()).hexdigest() for w in want
    ]


def test_semantic_dedup_keep_rule(spark):
    """Two near-parallel vectors share list c0 → higher id dropped;
    orthogonal-ish pair in list c1 (cos 0.8 < 0.95) both kept."""
    from wikifrontier.similarity import semantic_dedup

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.01]),   # c0, representative (lowest id)
            (1, [0.99, 0.0]),   # c0, cos(v0,v1) ≈ 0.99995 → dropped
            (2, [0.0, 1.0]),    # c1
            (3, [0.6, 0.8]),    # c1, cos(v2,v3) = 0.8 < 0.95 → kept
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in semantic_dedup(vecs, cents).collect()}
    assert {k: v["centroid_id"] for k, v in out.items()} == {0: 0, 1: 0, 2: 1, 3: 1}
    assert {k: v["kept"] for k, v in out.items()} == {0: True, 1: False, 2: True, 3: True}


def test_unigram_logprob_hand_math(spark):
    """cf: a=2 b=2 c=1, total 5 → ql(a)=ql(b)=round(ln(.4)·1e6)=-916291,
    ql(c)=round(ln(.2)·1e6)=-1609438; per-doc means follow exactly from
    the integer sums. Empty doc emits no row."""
    from wikifrontier.textops import unigram_logprob

    rows = [(1, "a a b"), (2, "b c"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert abs(out[1]["logprob"] - (3 * -916291) / 3e6) <= 1.1e-6
    assert abs(out[2]["logprob"] - (-916291 - 1609438) / 2e6) <= 1.1e-6


def test_pack_sequences_hand_math(spark):
    """budget=8, buckets=2: doc 0 (bucket 0) chunks 5+5+5 tokens →
    exclusive prefixes 0/5/10 → seqs 0/0/1 (first seq overflows to 10,
    the documented straddle); doc 1 (bucket 1) single 3-token chunk →
    its own seq 0. seq_sha is the sha256 of the ordered sha chain."""
    import hashlib

    from wikifrontier.textops import pack_sequences

    rows = [
        (0, 0, 5, "sha_a"),
        (0, 1, 5, "sha_b"),
        (0, 2, 5, "sha_c"),
        (1, 0, 3, "sha_d"),
    ]
    chunks = spark.createDataFrame(
        rows, "doc_id long, chunk_idx int, n_tokens int, chunk_sha string"
    )
    out = {
        (r["bucket"], r["seq_id"]): r
        for r in pack_sequences(chunks, budget=8, buckets=2).collect()
    }
    assert set(out) == {(0, 0), (0, 1), (1, 0)}
    s00, s01, s10 = out[(0, 0)], out[(0, 1)], out[(1, 0)]
    assert (s00["n_chunks"], s00["seq_tokens"]) == (2, 10)
    assert (s01["n_chunks"], s01["seq_tokens"]) == (1, 5)
    assert (s10["n_chunks"], s10["seq_tokens"]) == (1, 3)
    assert abs(s00["fill"] - 1.25) < 1e-9
    assert s00["seq_sha"] == hashlib.sha256(b"sha_a sha_b").hexdigest()
    assert s10["seq_sha"] == hashlib.sha256(b"sha_d").hexdigest()


def test_token_budget_sample_fill_order(spark):
    """Single shard, budget 10 for 'en': docs fill in md5(doc_id)-prefix
    order and the kept set is the maximal ORDERED PREFIX that fits the
    quota — a doc that would overflow ends the shard's fill (its tokens
    still advance the prefix, so nothing after it is kept). Expected set
    computed by replaying the same prefix rule in Python."""
    import hashlib

    from wikifrontier.textops import SAMPLE_HEX_DIGITS, token_budget_sample

    rows = [
        (0, "en", "a b c d"),        # 4 tokens
        (1, "en", "a b c"),          # 3
        (2, "en", "a b c d e"),      # 5
        (3, "en", "a b"),            # 2
        (4, "de", "a b c d e f"),    # 6 -> de budget 4: dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    def key(i):
        return hashlib.md5(str(i).encode()).hexdigest()[:SAMPLE_HEX_DIGITS]

    toks = {0: 4, 1: 3, 2: 5, 3: 2}
    expect, pre = {}, 0
    for i in sorted(toks, key=lambda i: (key(i), i)):
        if pre + toks[i] <= 10:
            expect[i] = pre + toks[i]
        pre += toks[i]
    out = {
        r["doc_id"]: r
        for r in token_budget_sample(
            df, budgets={"en": 10, "de": 4}, shards=1
        ).collect()
    }
    assert set(out) == set(expect)
    assert {i: r["cum_tokens"] for i, r in out.items()} == expect
    assert all(r["sample_key"] == key(i) for i, r in out.items())


def test_bm25_topk_hand_math(spark):
    """3-doc corpus, one 2-term query: per-term contributions replayed in
    Python with the identical constant association and 1e-6 quantization;
    two-phase ranking (shards=4) must equal the single-window result."""
    import math

    from wikifrontier.textops import BM25_B, BM25_K1, bm25_topk

    rows = [(0, "hash join hash"), (1, "join scan"), (2, "scan scan scan")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    q = {"hj": ("hash", "join")}

    n, avgdl = 3, 8.0 / 3.0

    def c(tf, dfreq, dl):
        idf = math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        norm = (tf * (BM25_K1 + 1.0)) / (
            tf + BM25_K1 * ((1.0 - BM25_B) + (BM25_B * dl) / avgdl)
        )
        return math.floor((idf * norm) * 1000000.0 + 0.5)

    expect = {
        0: c(2, 1, 3) + c(1, 2, 3),  # hash tf=2 df=1; join tf=1 df=2
        1: c(1, 2, 2),               # join only
    }
    out = {r["doc_id"]: r for r in bm25_topk(df, queries=q).collect()}
    assert set(out) == {0, 1}
    assert {i: r["score_q"] for i, r in out.items()} == expect
    ranks = sorted(out.values(), key=lambda r: r["rank"])
    assert [r["doc_id"] for r in ranks] == sorted(
        expect, key=lambda i: (-expect[i], i)
    )
    single = sorted(
        map(tuple, bm25_topk(df, queries=q, shards=1).collect())
    )
    assert sorted(map(tuple, out.values())) == single


def test_bigram_logprob_hand_math(spark):
    """Train half = docs 0,2; doc 1 contains the train-unseen bigram
    'c d', so the stupid-backoff branch (0.4 · Laplace unigram) must
    fire. Quantized longs replayed by hand."""
    import math

    from wikifrontier.textops import bigram_logprob

    rows = [(0, "a b a"), (1, "a b c d"), (2, "b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def q(x):  # HALF_UP quantization to 1e-6 longs
        y = x * 1000000.0
        return math.floor(y + 0.5) if y >= 0 else math.ceil(y - 0.5)

    ql_half = q(math.log(0.5))            # seen bigrams: bc=1 / c1=2
    ql_back = q(math.log(0.4 * (1.0 / 8.0)))  # cf(d)=0, tot=5, vocab=3
    expect = {
        0: (2, round(2 * ql_half / 2e6, 6)),
        1: (3, round((2 * ql_half + ql_back) / 3e6, 6)),
        2: (1, round(ql_half / 1e6, 6)),
    }
    out = {
        r["doc_id"]: (r["n_bigrams"], r["logprob"])
        for r in bigram_logprob(df).collect()
    }
    assert out == expect


def test_triangle_count_hand_graph(spark):
    """K4 on nodes 0-3 (4 triangles, each node on 3) plus a pendant
    edge 3-4, with reversed duplicates and a self-loop that must all
    dedup away. Node 4 (no triangle) emits no row."""
    from wikifrontier.linkgraph import triangle_count

    raw = [
        (0, 1), (1, 2), (0, 2), (2, 3), (1, 3), (0, 3),  # K4
        (3, 4),          # pendant
        (1, 0), (2, 1),  # reversed duplicates
        (4, 4),          # self-loop
    ]
    edges = spark.createDataFrame(raw, "src long, dst long")
    out = {
        r["id"]: r["n_triangles"] for r in triangle_count(edges).collect()
    }
    assert out == {0: 3, 1: 3, 2: 3, 3: 3}


def test_source_reputation_hand_math(spark):
    """Three sources: 'a' = an exact-dup pair (dropped: dup_rate 1.0 and
    low quality), 'b' = one PII doc + one clean doc whose mean quality
    sits just under the gate (dropped), 'c' = one clean high-quality doc
    (kept). Quality longs replayed by hand."""
    from wikifrontier.textops import source_reputation

    rows = [
        ("a", 0, "x"),
        ("a", 1, "x"),
        ("b", 2, "call 555-123-4567"),
        ("b", 3, "the of and to in is that the of and"),
        ("c", 4, "the of and to in is that the of a"),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    # hand quality scores: min(n/100,1)*.4 + stop_ratio*.3 + min(mtl/8,1)*.3
    # doc0/1: n=1, mtl=1        -> 0.0415
    # doc2:   n=4, mtl=3.5      -> 0.14725
    # doc3:   n=10, stop=1, mtl=2.6 -> 0.4375
    # doc4:   n=10, stop=1, mtl=2.4 -> 0.43
    out = {r["source"]: r for r in source_reputation(df).collect()}
    a, b, c = out["a"], out["b"], out["c"]
    assert (a["n_docs"], a["mean_quality"], a["pii_rate"], a["dup_rate"], a["keep"]) == (2, 0.0415, 0.0, 1.0, False)
    assert (b["n_docs"], b["mean_quality"], b["pii_rate"], b["dup_rate"], b["keep"]) == (2, 0.292375, 0.5, 0.0, False)
    assert (c["n_docs"], c["mean_quality"], c["pii_rate"], c["dup_rate"], c["keep"]) == (1, 0.43, 0.0, 0.0, True)


def test_sessionize_events_hand_math(spark):
    """Two users: user 1 has a 600 s pair (one session) then a next-day
    event (new session); user 2 has a lone event. Durations and
    exact-decimal value totals checked by hand."""
    from datetime import datetime

    from wikifrontier.streaming import sessionize_events

    rows = [
        (1, 0, datetime(2024, 1, 1, 0, 0, 0), 1.5),
        (1, 1, datetime(2024, 1, 1, 0, 10, 0), 2.25),
        (1, 2, datetime(2024, 1, 2, 0, 0, 0), 3.0),
        (2, 3, datetime(2024, 1, 1, 0, 0, 1), 0.1),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz, value double"
    )
    out = {
        (r["user_id"], r["session_idx"]): r
        for r in sessionize_events(df).collect()
    }
    assert set(out) == {(1, 1), (1, 2), (2, 1)}
    s11, s12, s21 = out[(1, 1)], out[(1, 2)], out[(2, 1)]
    assert (s11["n_events"], s11["first_event"], s11["last_event"]) == (2, 0, 1)
    assert (s11["duration_sec"], s11["total_value"]) == (600.0, 3.75)
    assert (s12["n_events"], s12["duration_sec"], s12["total_value"]) == (1, 0.0, 3.0)
    assert (s21["n_events"], s21["total_value"]) == (1, 0.1)


def test_substring_dup_profile_hand_math(spark):
    """Two docs share a 21-token run at DIFFERENT offsets (unaligned —
    the case segment dedup misses); a third doc is unrelated and a
    fourth is shorter than the window. Expected window counts replayed
    by hand: a 21-token shared run yields 2 shared 20-windows per doc."""
    from wikifrontier.dedup import substring_dup_profile

    shared = " ".join(f"w{i}" for i in range(21))          # 21 tokens
    rows = [
        (0, "alpha " + shared),                            # 22 toks, 3 windows
        (1, "beta gamma " + shared + " delta"),            # 24 toks, 5 windows
        (2, " ".join(f"u{i}" for i in range(30))),         # 30 toks, 11 windows
        (3, "tiny doc"),                                   # < window -> 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in substring_dup_profile(df).collect()}
    # doc0 windows: [alpha w0..w18], [w0..w19], [w1..w20] -> last 2 shared
    # doc1 windows at offsets 1..5; [w0..w19], [w1..w20] shared
    assert (out[0]["n_windows"], out[0]["n_dup_windows"]) == (3, 2)
    assert (out[1]["n_windows"], out[1]["n_dup_windows"]) == (5, 2)
    assert (out[2]["n_windows"], out[2]["n_dup_windows"]) == (11, 0)
    assert (out[3]["n_windows"], out[3]["n_dup_windows"]) == (0, 0)
    assert out[0]["dup_frac"] == round(2 / 3, 6) and out[0]["flagged"]
    assert out[3]["dup_frac"] == 0.0 and not out[3]["flagged"]


def test_ann_recall_single_list_is_exact(spark):
    """With a 1-centroid codebook the IVF probe scans everything, so
    recall@k must be exactly 1.0 for every query; with a split codebook
    recall stays a valid fraction of the per-query truth size."""
    from wikifrontier.similarity import ann_recall

    rows = [
        (0, [1.0, 0.0, 0.1]), (1, [0.9, 0.1, 0.0]), (2, [0.8, 0.2, 0.1]),
        (3, [0.0, 1.0, 0.1]), (4, [0.1, 0.9, 0.0]), (5, [0.2, 0.8, 0.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 2")

    exact = ann_recall(emb, q, k=3, codebook_k=1, codebook_iters=1).collect()
    assert len(exact) == 2
    assert all(r["n_truth"] == 3 and r["recall"] == 1.0 for r in exact)

    split = ann_recall(emb, q, k=3, codebook_k=2, codebook_iters=2).collect()
    assert all(
        0.0 <= r["recall"] <= 1.0
        and r["n_hits"] <= r["n_truth"] == 3
        and r["recall"] == round(r["n_hits"] / 3, 6)
        for r in split
    )


def test_inverted_index_hand_math(spark):
    """3 tiny docs: postings order, df/cf, and the (tf desc, id asc)
    argmax tie-break replayed by hand — 'b' ties on tf=1 between docs 0
    and 2, so top_doc must be 0."""
    from wikifrontier.textops import build_inverted_index

    rows = [(0, "a a b"), (1, "a c"), (2, "b c c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["term"]: r for r in build_inverted_index(df).collect()}
    a, b, c = out["a"], out["b"], out["c"]
    assert (a["df"], a["cf"], a["top_doc"], a["top_tf"], a["postings"]) == (2, 3, 0, 2, "0:2,1:1")
    assert (b["df"], b["cf"], b["top_doc"], b["top_tf"], b["postings"]) == (2, 2, 0, 1, "0:1,2:1")
    assert (c["df"], c["cf"], c["top_doc"], c["top_tf"], c["postings"]) == (2, 3, 2, 2, "1:1,2:2")


def test_canonical_selection_quality_argmax(spark):
    """Cluster of 3 with a quality TIE between docs 1 and 2 (id
    tie-break must pick 1) plus a singleton; every member annotated."""
    from wikifrontier.dedup import canonical_selection

    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3)], "doc_id long, cluster_id long"
    )
    quality = spark.createDataFrame(
        [(0, 100), (1, 300), (2, 300), (3, 50)], "doc_id long, ql long"
    )
    out = {
        r["doc_id"]: (r["canonical_id"], r["is_canonical"])
        for r in canonical_selection(clusters, quality).collect()
    }
    assert out == {0: (1, False), 1: (1, True), 2: (1, False), 3: (3, True)}


def test_langid_confusion_hand_counts(spark):
    """Texts built from the marker profiles so predictions are known:
    two true-'en' docs predicted en, one true-'en' doc predicted de, one
    true-'de' doc predicted de. Recall fractions replayed by hand."""
    from wikifrontier.textops import langid_confusion

    rows = [
        (0, "en", "the a key value of"),
        (1, "en", "the key of it all"),
        (2, "en", "vector hash und der nicht"),
        (3, "de", "und der nicht vector hash"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {
        (r["true_lang"], r["pred_lang"]): (r["n"], r["n_true"], r["frac"], r["correct"])
        for r in langid_confusion(df).collect()
    }
    assert out == {
        ("en", "en"): (2, 3, 0.666667, True),
        ("en", "de"): (1, 3, 0.333333, False),
        ("de", "de"): (1, 1, 1.0, True),
    }


def test_budget_plan_hand_math(spark):
    """Host A has 26 pending URLs (cap 10 → alloc 10, 3 rounds), host B
    has 7 (alloc 7, 1 round): A is the critical path."""
    from wikifrontier.politeness import budget_plan

    rows = [(f"https://a.org/p{i}",) for i in range(26)] + [
        (f"https://b.org/p{i}",) for i in range(7)
    ]
    df = spark.createDataFrame(rows, "url string")
    out = {r["host"]: r for r in budget_plan(df, per_host_cap=10).collect()}
    a, b = out["a.org"], out["b.org"]
    assert (a["n_pending"], a["next_round_alloc"], a["rounds_to_drain"]) == (26, 10, 3)
    assert (b["n_pending"], b["next_round_alloc"], b["rounds_to_drain"]) == (7, 7, 1)
    assert a["drain_bound"] == b["drain_bound"] == 3
    assert a["is_critical"] and not b["is_critical"]


def test_freshness_profile_hand_math(spark):
    """Captures at t=0/100/400 s for lang a, t=400 s for lang b; newest
    is 400 so ages are 400/300/0/0. stale_after=250 → one stale doc."""
    from datetime import datetime, timedelta

    from wikifrontier.frontier import freshness_profile

    t0 = datetime(2024, 1, 1)
    rows = [
        ("a", t0), ("a", t0 + timedelta(seconds=100)),
        ("a", t0 + timedelta(seconds=400)), ("b", t0 + timedelta(seconds=400)),
    ]
    df = spark.createDataFrame(rows, "lang string, warc_ts timestamp_ntz")
    out = {r["stratum"]: r for r in freshness_profile(df).collect()}
    a, b = out["a"], out["b"]
    assert (a["n_docs"], a["span_sec"], a["mean_age_sec"]) == (3, 400.0, round(700 / 3, 6))
    assert (a["n_stale"], a["stale_frac"]) == (2, 0.666667)
    assert (b["n_docs"], b["span_sec"], b["mean_age_sec"], b["n_stale"]) == (1, 0.0, 0.0, 0)


def test_dsir_weights_hand_math(spark):
    """Target = doc 1 only. cf: a(r2,t2) b(r2,t1) c(r1,t0); V=3, tot_r=5,
    tot_t=3. lr_q(a)=round(ln((3/6)/(3/8))·1e6)=287682, lr_q(b)=
    round(ln((2/6)/(3/8))·1e6)=-117783, lr_q(c)=round(ln((1/6)/(2/8))·1e6)
    =-405465. doc1 importance = (2·287682-117783)/3e6 = 0.152527 (keep);
    doc2 = (-117783-405465)/2e6 = -0.261624 (drop)."""
    from pyspark.sql import functions as F

    from wikifrontier.textops import dsir_weights

    rows = [(1, "a a b", "en"), (2, "b c", "fr")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["doc_id"]: r
        for r in dsir_weights(df, F.col("lang") == "en").collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert abs(out[1]["importance"] - 0.152527) <= 1.1e-6
    assert abs(out[2]["importance"] - (-0.261624)) <= 1.1e-6
    assert out[1]["keep"] is True and out[2]["keep"] is False


def test_perplexity_buckets_ntile_semantics(spark):
    """n=7 → ntile sizes 3/2/2 with remainder in the head; the -2.0 score
    tie breaks by doc_id; every bucket boundary checked by hand."""
    from wikifrontier.textops import perplexity_buckets

    rows = [(1, -1.0), (2, -2.0), (3, -2.0), (4, -3.0), (5, -4.0),
            (6, -5.0), (7, -6.0)]
    scores = spark.createDataFrame(rows, "doc_id long, logprob double")
    out = {r["doc_id"]: r["bucket"] for r in perplexity_buckets(scores).collect()}
    assert out == {1: "head", 2: "head", 3: "head",
                   4: "middle", 5: "middle", 6: "tail", 7: "tail"}


def test_sitemap_entries_and_seeds(spark):
    """Hand-built urlset: loc-less blocks drop, missing lastmod → NULL,
    seen urls anti-join away, newest lastmod first with loc tie-break."""
    from wikifrontier.sitemaps import seed_candidates, sitemap_entries

    xml = (
        "<urlset>"
        "<url><loc>https://a.org/1</loc><lastmod>2024-02-01</lastmod></url>"
        "<url><loc>https://a.org/2</loc></url>"
        "<url><lastmod>2024-03-01</lastmod></url>"  # loc-less → dropped
        "<url><loc>https://a.org/3</loc><lastmod>2024-03-01</lastmod></url>"
        "<url><loc>https://a.org/4</loc><lastmod>2024-03-01</lastmod></url>"
        "</urlset>"
    )
    blobs = spark.createDataFrame([(0, xml)], "sitemap_id int, xml string")
    entries = sitemap_entries(blobs)
    got = {(r["loc"], r["lastmod"]) for r in entries.collect()}
    assert got == {
        ("https://a.org/1", "2024-02-01"),
        ("https://a.org/2", None),
        ("https://a.org/3", "2024-03-01"),
        ("https://a.org/4", "2024-03-01"),
    }
    seen = spark.createDataFrame([("https://a.org/3",)], "url string")
    seeds = seed_candidates(entries, seen).collect()
    assert [r["loc"] for r in seeds] == [
        "https://a.org/4",  # newest, tie broken by loc (3 is seen)
        "https://a.org/1",
        "https://a.org/2",  # NULL lastmod sorts last
    ]


def test_circuit_breaker_thresholds(spark):
    """Threshold ladder by hand: 50% with evidence → open, exactly 25% →
    half_open, 10% → closed, 100% failure but only 9 attempts → closed
    (below BREAKER_MIN_ATTEMPTS)."""
    from wikifrontier.politeness import host_circuit_breaker

    rows = (
        [("a", i % 2 == 0) for i in range(20)]        # 50% fail → open
        + [("b", i % 4 != 0) for i in range(20)]      # 25% fail → half_open
        + [("c", i % 10 != 0) for i in range(20)]     # 10% fail → closed
        + [("d", False) for _ in range(9)]            # n<10 → closed
    )
    df = spark.createDataFrame(rows, "host string, ok boolean")
    out = {r["host"]: r for r in host_circuit_breaker(df).collect()}
    assert out["a"]["state"] == "open" and out["a"]["n_failures"] == 10
    assert out["b"]["state"] == "half_open"
    assert out["c"]["state"] == "closed"
    assert out["d"]["state"] == "closed" and out["d"]["failure_rate"] == 1.0


def test_warc_layout_offsets(spark):
    """Offsets are exclusive prefix sums in (surt, ts) order within each
    md5-sharded file; the first record of every file sits at offset 0 and
    each file's offsets are gapless sums of the preceding lengths."""
    from collections import defaultdict

    from wikifrontier.cdx import warc_layout

    rows = [
        (f"https://h{i % 3}.org/p/{i}", i, f"d{i}", 100 + i) for i in range(24)
    ]
    caps = spark.createDataFrame(
        rows, "url string, warc_ts long, digest string, length long"
    )
    out = warc_layout(caps).collect()
    assert len(out) == 24
    by_file = defaultdict(list)
    for r in out:
        by_file[r["warc_file"]].append(r)
    for recs in by_file.values():
        recs.sort(key=lambda r: (r["surt"], r["warc_ts"], r["digest"]))
        expect = 0
        for r in recs:
            assert r["offset"] == expect
            expect += r["length"]


def test_robust_outliers_hand_math(spark):
    """Stratum a: values 10,10,10,10,100 → lower median 10, deviations
    0,0,0,0,90 → MAD 0 → nothing flagged (constant-column rule). Stratum
    b: 1..7 with a 1000 → med 4 (ceil(8/2)=4th of the sorted 8), MAD of
    |x−4| = {3,2,1,0,1,2,3,996} → sorted 0,1,1,2,2,3,3,996 → 4th = 2 →
    only the 1000 exceeds 4+3·2."""
    from wikifrontier.textops import robust_outliers

    rows = [(i, "a", 10) for i in range(4)] + [(4, "a", 100)]
    rows += [(10 + i, "b", i + 1) for i in range(7)] + [(17, "b", 1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = {r["doc_id"]: r for r in robust_outliers(df).collect()}
    assert out[4]["median"] == 10 and out[4]["mad"] == 0
    assert not any(out[i]["is_outlier"] for i in range(5))  # MAD=0 stratum
    assert out[17]["median"] == 4 and out[17]["mad"] == 2
    assert out[17]["is_outlier"] is True
    assert not any(out[10 + i]["is_outlier"] for i in range(7))


def test_frontier_age_profile_hand_math(spark):
    """now=5, rounds 1/1/4 at depth 0 → ages 4,4,1: oldest 4, mean 3.0,
    2 starving; single depth-1 row at round 5 → age 0, none starving."""
    from wikifrontier.frontier import frontier_age_profile

    rows = [(0, 1), (0, 1), (0, 4), (1, 5)]
    pending = spark.createDataFrame(rows, "depth int, scheduled_round int")
    out = {r["depth"]: r for r in frontier_age_profile(pending, 5).collect()}
    assert out[0]["n_pending"] == 3 and out[0]["oldest_age"] == 4
    assert abs(out[0]["mean_age"] - 3.0) < 1e-9
    assert out[0]["n_starving"] == 2
    assert out[1]["oldest_age"] == 0 and out[1]["n_starving"] == 0


def test_url_templates_collapse_and_rank(spark):
    """/cal/2024/5 and /cal/2024/11 collapse to one template with n=2,
    outranking the singleton /page/7; rank ties break on template."""
    from wikifrontier.filters import url_templates

    rows = [
        ("https://a.com/cal/2024/5",),
        ("https://a.com/cal/2024/11",),
        ("https://a.com/page/7",),
        ("https://b.com/x/1",),
    ]
    df = spark.createDataFrame(rows, "url string")
    out = {(r["host"], r["rank"]): r for r in url_templates(df, top_k=2).collect()}
    assert out[("a.com", 1)]["template"] == "/cal/n/n"
    assert out[("a.com", 1)]["n_urls"] == 2
    assert out[("a.com", 2)]["template"] == "/page/n"
    assert out[("b.com", 1)]["template"] == "/x/n"


def test_robots_crawl_delays_parse(spark):
    """Star group only (the bot-x 99 is ignored), non-numeric dropped,
    min of multiple lines, comment stripped from the value."""
    from wikifrontier.filters import robots_crawl_delays

    rows = [
        ("a", "User-agent: bot-x\nCrawl-delay: 99\nUser-agent: *\nCrawl-delay: 4 # slow\n"),
        ("b", "User-agent: *\nCrawl-delay: 7\nCrawl-delay: 2\n"),
        ("c", "User-agent: *\nCrawl-delay: oops\n"),
        ("d", "User-agent: *\nDisallow: /x\n"),
    ]
    df = spark.createDataFrame(rows, "host string, robots_txt string")
    out = {r["host"]: r["crawl_delay"] for r in robots_crawl_delays(df).collect()}
    assert out == {"a": 4.0, "b": 2.0}


def test_crawl_velocity_hand_math(spark):
    """y = 10 + 5x over x=0..3 fits exactly: slope 5, intercept 10,
    forecast at x=4 is 30. A single-round series yields NULL slope
    (degenerate variance), not a division error."""
    from wikifrontier.frontier import crawl_velocity

    rows = [(x, 10 + 5 * x) for x in range(4)]
    m = spark.createDataFrame(rows, "round long, pages_parsed long")
    r = crawl_velocity(m).collect()[0]
    assert r["n_rounds"] == 4
    assert abs(r["slope"] - 5.0) < 1e-9 and abs(r["intercept"] - 10.0) < 1e-9
    assert abs(r["next_round_forecast"] - 30.0) < 1e-9
    one = spark.createDataFrame([(0, 7)], "round long, pages_parsed long")
    r1 = crawl_velocity(one).collect()[0]
    assert r1["slope"] is None and r1["next_round_forecast"] is None


def test_adaptive_recrawl_ladder(spark):
    """Every recapture changed → 2d rung (rate 1.0; a ½ rate also lands
    here — the rung is ≥½); 1 change in 3 recaptures (rate ⅓) → 4d;
    never changed → 8d; a single capture has no evidence and keeps the
    8d base."""
    from wikifrontier.cdx import adaptive_recrawl

    rows = []
    rows += [("u_fast", t, f"d{t}", 1) for t in range(3)]       # changes twice
    rows += [("u_half", 0, "s", 1), ("u_half", 1, "s", 1), ("u_half", 2, "t", 1)]
    rows += [("u_med", 0, "a", 1), ("u_med", 1, "a", 1),
             ("u_med", 2, "b", 1), ("u_med", 3, "b", 1)]        # 1 of 3
    rows += [("u_slow", t, "same", 1) for t in range(3)]        # never changes
    rows += [("u_once", 0, "x", 1)]
    caps = spark.createDataFrame(
        rows, "url string, warc_ts long, digest string, length long"
    )
    out = {r["url"]: r for r in adaptive_recrawl(caps).collect()}
    assert out["u_fast"]["recrawl_secs"] == 172800
    assert out["u_half"]["recrawl_secs"] == 172800  # 0.5 is the fast rung
    assert out["u_med"]["recrawl_secs"] == 345600
    assert abs(out["u_med"]["change_rate"] - 0.333333) < 1e-9
    assert out["u_slow"]["recrawl_secs"] == 691200
    assert out["u_once"]["recrawl_secs"] == 691200
    assert out["u_once"]["change_rate"] == 0.0


def test_degree_distribution_buckets(spark):
    """Hand graph: node t1 has in-degree 1 (bucket 0, lo 1), t2 degree 3
    (bucket 1, lo 2), t3 degree 5 (bucket 2, lo 4); reversed-duplicate
    edges collapse before counting."""
    from wikifrontier.linkgraph import degree_distribution

    rows = []
    rows += [("s0", "t1")] * 2                      # dup edge → collapses
    rows += [(f"s{i}", "t2") for i in range(3)]
    rows += [(f"s{i}", "t3") for i in range(5)]
    df = spark.createDataFrame(rows, "src string, dst string")
    out = {r["bucket"]: r for r in degree_distribution(df).collect()}
    assert out[0]["n_nodes"] == 1 and out[0]["lo"] == 1
    assert out[1]["min_deg"] == 3 and out[1]["max_deg"] == 3 and out[1]["lo"] == 2
    assert out[2]["min_deg"] == 5 and out[2]["lo"] == 4


def test_host_graph_rollup(spark):
    """Hand graph over 3 hosts: duplicate page-edge mentions collapse,
    n_src_pages counts distinct source pages per host pair, internal
    edges flag, and reciprocity holds exactly for the a<->b pair."""
    from wikifrontier.linkgraph import host_graph

    rows = [
        ("https://a.org/p/1", "https://b.org/p/1"),
        ("https://a.org/p/1", "https://b.org/p/1"),  # dup mention
        ("https://a.org/p/2", "https://b.org/p/9"),
        ("https://b.org/p/1", "https://a.org/p/1"),  # reciprocal
        ("https://a.org/p/1", "https://a.org/p/2"),  # internal
        ("https://a.org/p/3", "https://c.org/p/1"),  # one-way
    ]
    df = spark.createDataFrame(rows, "src string, dst string")
    out = {(r["src_host"], r["dst_host"]): r for r in host_graph(df).collect()}
    ab = out[("a.org", "b.org")]
    assert ab["n_edges"] == 2 and ab["n_src_pages"] == 2
    assert ab["reciprocal"] is True and ab["is_internal"] is False
    assert out[("b.org", "a.org")]["reciprocal"] is True
    aa = out[("a.org", "a.org")]
    assert aa["is_internal"] is True and aa["reciprocal"] is True
    ac = out[("a.org", "c.org")]
    assert ac["reciprocal"] is False and ac["n_edges"] == 1


def test_soft404_signals_verdicts(spark):
    """Hand corpus on one host: the planted error page (phrase + short)
    is condemned; a title-only decoy over a long organic body is not; a
    long page that merely QUOTES an error phrase survives via the length
    calibration; organic pages are clean."""
    from wikifrontier.textops import soft404_signals

    long_body = " ".join(f"word{i}" for i in range(120))
    rows = [
        ("https://h.org/err", "h.org",
         "Error 404 - page not found. The requested page does not exist.",
         "404 Not Found"),
        ("https://h.org/decoy", "h.org", long_body,
         "Why page not found happens"),
        ("https://h.org/quote", "h.org",
         long_body + " the phrase page not found appears in many articles "
         + " ".join(f"more{i}" for i in range(60)),
         "Doc quote"),
        ("https://h.org/plain", "h.org", long_body, "Doc plain"),
    ]
    df = spark.createDataFrame(rows, "url string, host string, text string, title string")
    out = {r["url"]: r for r in soft404_signals(df).collect()}
    err = out["https://h.org/err"]
    assert err["is_soft404"] is True and err["has_error_phrase"] is True
    assert err["is_short"] is True and err["title_hit"] is True
    decoy = out["https://h.org/decoy"]
    assert decoy["title_hit"] is True and decoy["is_soft404"] is False
    quote = out["https://h.org/quote"]
    assert quote["has_error_phrase"] is True and quote["is_soft404"] is False
    assert out["https://h.org/plain"]["is_soft404"] is False


def test_host_boilerplate_thresholds(spark):
    """Hand corpus: a 10-token nav segment planted on 3 of 4 pages of
    host A (75% >= 60% → boilerplate) is counted; the same segment on 1
    of 4 pages is not; a 2-page host stays below min_pages and nothing
    is condemned there even at 100% frequency."""
    from wikifrontier.dedup import host_boilerplate

    nav = " ".join(f"nav{i}" for i in range(10))
    body = lambda j: " ".join(f"w{j}x{i}" for i in range(10))  # noqa: E731
    rows = [
        (1, "a.org", nav + " " + body(1)),
        (2, "a.org", nav + " " + body(2)),
        (3, "a.org", nav + " " + body(3)),
        (4, "a.org", body(4)),          # no nav on this one
        (5, "b.org", nav + " " + body(5)),
        (6, "b.org", nav + " " + body(6)),  # 2-page host: no evidence
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    out = {r["id"]: r for r in host_boilerplate(df).collect()}
    for i in (1, 2, 3):
        assert out[i]["n_segs"] == 2 and out[i]["n_boiler"] == 1
        assert abs(out[i]["boiler_frac"] - 0.5) < 1e-9
    assert out[4]["n_boiler"] == 0
    assert out[5]["n_boiler"] == 0 and out[6]["n_boiler"] == 0


def test_skew_plan_flattens_dominant_host(spark):
    """A 200-URL single-host frontier plus two 10-URL hosts: before
    salting the dominant host's URLs all land on one shard; after, its
    salt factor ceil(200/50)=4 spreads them so no shard exceeds the
    dominant host's before-load; totals are conserved."""
    from wikifrontier.politeness import skew_plan

    rows = [(f"https://big.org/p/{i}", "big.org") for i in range(200)]
    rows += [(f"https://s1.org/p/{i}", "s1.org") for i in range(10)]
    rows += [(f"https://s2.org/p/{i}", "s2.org") for i in range(10)]
    df = spark.createDataFrame(rows, "url string, host string")
    out = skew_plan(df, cap=50).collect()
    assert sum(r["n_before"] for r in out) == 220
    assert sum(r["n_after"] for r in out) == 220
    assert max(r["n_before"] for r in out) >= 200   # collapsed dominant host
    assert max(r["n_after"] for r in out) < 200     # spread by salting


def test_rel_canonical_extraction_and_clusters(spark):
    """Both attribute orders extract; canonical-less pages are their own
    target; the cluster keeps the min-url representative and counts the
    self-declared row."""
    from wikifrontier.extract import canonical_clusters

    rows = [
        ("https://a.org/p1",
         '<html><head><link rel="canonical" href="https://a.org/c"/></head></html>'),
        ("https://a.org/p2",
         '<html><head><link href="https://a.org/c" rel="canonical"/></head></html>'),
        ("https://a.org/c",
         '<html><head><link rel="canonical" href="https://a.org/c"/></head></html>'),
        ("https://a.org/solo", "<html><head></head></html>"),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    out = {r["canonical_url"]: r for r in canonical_clusters(df).collect()}
    c = out["https://a.org/c"]
    assert c["n_variants"] == 3 and c["n_self"] == 1
    assert c["keep_url"] == "https://a.org/c"
    solo = out["https://a.org/solo"]
    assert solo["n_variants"] == 1 and solo["n_self"] == 1


def test_politeness_audit_gaps(spark):
    """Hand log: host A fetches at 0/15/16/40 → gaps 15,1,24 → one
    violation at required_gap 10, min gap 1, rate 1-1/3; single-fetch
    host B has no gaps and rate 1.0."""
    from wikifrontier.politeness import politeness_audit

    rows = [
        ("a.org", 1000, "u1"), ("a.org", 1015, "u2"),
        ("a.org", 1016, "u3"), ("a.org", 1040, "u4"),
        ("b.org", 1000, "u5"),
    ]
    df = spark.createDataFrame(rows, "host string, ts long, url string")
    out = {r["host"]: r for r in politeness_audit(df).collect()}
    a = out["a.org"]
    assert a["n_fetches"] == 4 and a["min_gap_s"] == 1
    assert a["n_violations"] == 1
    assert abs(a["compliance_rate"] - (1 - 1 / 3)) < 1e-6
    b = out["b.org"]
    assert b["n_fetches"] == 1 and b["n_violations"] == 0
    assert b["compliance_rate"] == 1.0


def test_politeness_audit_per_host_requirements(spark):
    """Per-host required gaps override the flat default: host A's 15 s
    gaps violate its 20 s declared delay; host B's identical gaps comply
    with its 2 s delay; host C (absent from the delay table) uses the
    10 s default."""
    from wikifrontier.politeness import politeness_audit

    rows = []
    for h in ("a.org", "b.org", "c.org"):
        rows += [(h, 1000, f"{h}/1"), (h, 1015, f"{h}/2"), (h, 1030, f"{h}/3")]
    log = spark.createDataFrame(rows, "host string, ts long, url string")
    delays = spark.createDataFrame(
        [("a.org", 20.0), ("b.org", 2.0)], "host string, crawl_delay double"
    )
    out = {
        r["host"]: r
        for r in politeness_audit(log, required_gaps=delays).collect()
    }
    assert out["a.org"]["n_violations"] == 2      # 15 < 20 twice
    assert out["b.org"]["n_violations"] == 0      # 15 >= 2
    assert out["c.org"]["n_violations"] == 0      # 15 >= 10 default
    assert out["a.org"]["compliance_rate"] == 0.0
    assert out["b.org"]["compliance_rate"] == 1.0


def test_pagerank_weighted_hand_math(spark):
    """2-node hand graph: a splits 3:1 between b and c; with damping d
    and n=3, after one iteration pr(b) = (1-d)/3 + d*( (1/3)*(3/4) ) and
    pr(c) = (1-d)/3 + d*( (1/3)*(1/4) ) + dangling shares from b,c
    (which have no out-edges, so their mass redistributes uniformly)."""
    from wikifrontier.linkgraph import pagerank_weighted

    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1)], "src string, dst string, weight long"
    )
    out = {
        r["id"]: r["pr"]
        for r in pagerank_weighted(edges, iterations=1, damping=0.85).collect()
    }
    n, d = 3, 0.85
    dangling = 2 / 3  # b and c hold 1/3 each, no out-edges
    base = (1 - d) / n + d * (dangling / n)
    assert abs(out["b"] - (base + d * (1 / 3) * (3 / 4))) < 1e-12
    assert abs(out["c"] - (base + d * (1 / 3) * (1 / 4))) < 1e-12
    assert abs(out["a"] - base) < 1e-12
    assert abs(sum(out.values()) - 1.0) < 1e-9


def test_pagerank_weighted_duplicate_edges_sum(spark):
    """Duplicate (src, dst) rows fold by SUMMING weights — two (a,b,1)
    rows behave exactly like one (a,b,2) row."""
    from wikifrontier.linkgraph import pagerank_weighted

    dup = spark.createDataFrame(
        [("a", "b", 1), ("a", "b", 1), ("a", "c", 2)],
        "src string, dst string, weight long",
    )
    merged = spark.createDataFrame(
        [("a", "b", 2), ("a", "c", 2)], "src string, dst string, weight long"
    )
    r1 = {r["id"]: r["pr"] for r in pagerank_weighted(dup, iterations=2).collect()}
    r2 = {r["id"]: r["pr"] for r in pagerank_weighted(merged, iterations=2).collect()}
    assert r1 == r2


def test_webgraph_stats_hand_counts(spark):
    """Hand host graph: 3 hosts, 4 pairs (one self, one reciprocal
    two-way), page edges summed, max out-degree per src."""
    from wikifrontier.linkgraph import webgraph_stats

    rows = [
        ("a.org", "b.org", 5, False, True),
        ("b.org", "a.org", 2, False, True),
        ("a.org", "a.org", 1, True, True),
        ("a.org", "c.org", 3, False, False),
    ]
    df = spark.createDataFrame(
        rows,
        "src_host string, dst_host string, n_edges long, "
        "is_internal boolean, reciprocal boolean",
    )
    r = webgraph_stats(df).collect()[0]
    assert r["n_hosts"] == 3 and r["n_host_pairs"] == 4
    assert r["n_page_edges"] == 11 and r["n_self_pairs"] == 1
    assert r["n_reciprocal_pairs"] == 3
    assert r["max_out_pairs"] == 3  # a.org has 3 outgoing pairs


def test_dhash_from_bmp_properties():
    """Pure-Python dHash: a flat image has zero bits; a horizontal
    gradient sets every comparison bit (all 64); identical pixels →
    identical hash; the halves stay within 32 bits."""
    from wikifrontier.multimodal import dhash_from_bmp, make_bmp

    w, h = 9, 8
    stride = (3 * w + 3) & ~3
    flat = make_bmp(w, h, bytes(stride * h))
    assert dhash_from_bmp(flat)[2:] == (0, 0)
    grad = bytearray(stride * h)
    for y in range(h):
        for x in range(w):
            for ch in range(3):
                grad[stride * y + 3 * x + ch] = x * 20
    gw, gh, hi, lo = dhash_from_bmp(make_bmp(w, h, bytes(grad)))
    assert (gw, gh) == (9, 8)
    assert hi == lo == 0xFFFFFFFF  # strictly increasing rows: all bits set
    assert 0 <= hi < (1 << 32) and 0 <= lo < (1 << 32)


def test_image_dhash_and_neardups(spark):
    """attach_images_formula groups of 5 (4 exact + 1 perturbed) all
    surface as near-dups within Hamming 10, with no cross-group pairs;
    undecodable payloads are dropped."""
    from wikifrontier.multimodal import (
        attach_images_formula, dhash_near_dups, image_dhash,
    )

    base = spark.range(0, 20).selectExpr("id AS doc_id")
    imgs = attach_images_formula(base)
    junk = spark.createDataFrame(
        [(999, bytearray(b"not a bmp at all"))], "media_id long, payload binary"
    )
    hashes = image_dhash(imgs.unionByName(junk))
    rows = hashes.collect()
    assert len(rows) == 20  # junk dropped, every real BMP decoded
    pairs = dhash_near_dups(hashes).collect()
    assert len(pairs) == 4 * 10  # 4 groups x C(5,2)
    for p in pairs:
        assert p["id_a"] // 5 == p["id_b"] // 5  # never cross-group
        assert p["hamming"] <= 10
    exact = [p for p in pairs if p["hamming"] == 0]
    assert len(exact) >= 4 * 6  # the 4 unperturbed members pair exactly


def test_wav_fingerprint_properties():
    """Pure-Python afp: constant samples → zero bits; a rising-amplitude
    ramp sets every comparison bit; stereo and too-short clips are
    rejected."""
    import struct

    import pytest

    from wikifrontier.multimodal import make_wav, wav_fingerprint

    n = 64
    flat = make_wav(n, channels=1, sample_bytes=struct.pack("<64h", *([100] * n)))
    nn, hi, lo = wav_fingerprint(flat)
    assert (nn, hi, lo) == (64, 0, 0)
    ramp = make_wav(n, channels=1,
                    sample_bytes=struct.pack("<64h", *[i * 100 for i in range(n)]))
    _, hi, lo = wav_fingerprint(ramp)
    assert lo == 0xFFFFFFFF and hi == 0x7FFFFFFF  # 63 bits set
    with pytest.raises(ValueError):
        wav_fingerprint(make_wav(64, channels=2, sample_bytes=bytes(256)))
    with pytest.raises(ValueError):
        wav_fingerprint(make_wav(10, channels=1, sample_bytes=bytes(20)))


def test_audio_afp_and_neardups(spark):
    """attach_audio_formula groups of 5 surface as near-dups within
    Hamming 10, no cross-group pairs at this scale; junk payloads
    dropped."""
    from wikifrontier.multimodal import (
        afp_near_dups, attach_audio_formula, audio_afp,
    )

    base = spark.range(0, 20).selectExpr("id AS doc_id")
    clips = attach_audio_formula(base)
    junk = spark.createDataFrame(
        [(999, bytearray(b"RIFFnope"))], "media_id long, payload binary"
    )
    hashes = audio_afp(clips.unionByName(junk))
    assert hashes.count() == 20
    pairs = afp_near_dups(hashes).collect()
    assert len(pairs) == 4 * 10
    for p in pairs:
        assert p["id_a"] // 5 == p["id_b"] // 5
        assert p["hamming"] <= 10


def test_y4m_codec_roundtrip_and_dhash():
    """Pure-Python Y4M: make/decode round-trips frames; flat luma →
    zero-bit hash; a horizontal gradient sets all 64 bits; malformed
    headers and non-mono color spaces are rejected."""
    import pytest

    from wikifrontier.multimodal import decode_y4m, dhash_from_luma, make_y4m

    w, h = 9, 8
    frames = [bytes(w * h), bytes(range(w)) * h]
    meta = decode_y4m(make_y4m(w, h, frames))
    assert (meta["width"], meta["height"]) == (w, h)
    assert meta["frames"] == frames
    assert dhash_from_luma(frames[0], w, h) == (0, 0)
    grad = bytes(x * 20 % 256 for _ in range(h) for x in range(w))
    assert dhash_from_luma(grad, w, h) == (0xFFFFFFFF, 0xFFFFFFFF)
    with pytest.raises(ValueError):
        decode_y4m(b"not a video")
    with pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C420\n" + b"FRAME\n" + bytes(24))


def test_video_framehash_and_neardups(spark):
    """attach_videos_formula groups of 5 (4 exact + 1 perturbed member)
    pair up via >= 2 shared sampled-frame hashes; no cross-group pairs;
    undecodable payloads dropped; frame sampling keeps every 3rd index."""
    from wikifrontier.multimodal import (
        attach_videos_formula, video_frame_dhash, video_near_dups,
    )

    base = spark.range(0, 20).selectExpr("id AS doc_id")
    vids = attach_videos_formula(base)
    junk = spark.createDataFrame(
        [(999, bytearray(b"RIFF not video"))], "media_id long, payload binary"
    )
    hashes = video_frame_dhash(vids.unionByName(junk))
    rows = hashes.collect()
    assert {r["media_id"] for r in rows} == set(range(20))  # junk dropped
    assert all(r["frame_idx"] % 3 == 0 for r in rows)
    pairs = video_near_dups(hashes).collect()
    got = {(p["id_a"], p["id_b"]) for p in pairs}
    # the 4 unperturbed members of each group share every frame hash
    for g in range(4):
        ids = [g * 5 + k for k in range(5) if k != 1]
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                assert (a, b) in got
    for p in pairs:
        assert p["id_a"] // 5 == p["id_b"] // 5  # never cross-group
        assert p["shared_frames"] >= 2


def test_label_propagation_hand_math(spark):
    """Two K4 cliques joined by one bridge: sync LPA with the min-label
    tie-break converges to one community per clique by round 3 (hand
    trace: r1 all-distinct ties pick min neighbor; r2 the clique minimum
    dominates by count; the single bridge vote never beats the 3 intra
    votes). The directed/dup input must symmetrize + dedup first."""
    from wikifrontier.linkgraph import label_propagation

    k4 = lambda v: [(v[i], v[j]) for i in range(4) for j in range(i + 1, 4)]
    edges = spark.createDataFrame(
        # clique 1 + clique 2 + bridge, one duplicate reversed edge and
        # a self-loop that must drop
        k4("abcd") + k4("wxyz") + [("d", "w"), ("b", "a"), ("a", "a")],
        "src string, dst string",
    )
    got = {r["id"]: r["community"] for r in label_propagation(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a",
                   "w": "w", "x": "w", "y": "w", "z": "w"}


def test_community_stats_hand_counts(spark):
    """Hand-counted cut quality: triangle {a,b,c} + bridge c-x to pair
    {x,y}: community A has 3 internal + 1 boundary pair → conductance
    1/7; singleton-edge community X has 1 internal + 1 boundary → 1/3."""
    from wikifrontier.linkgraph import community_stats

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "x"), ("x", "y")],
        "src string, dst string",
    )
    labels = spark.createDataFrame(
        [("a", "A"), ("b", "A"), ("c", "A"), ("x", "X"), ("y", "X")],
        "id string, community string",
    )
    rows = {r["community"]: r for r in community_stats(edges, labels).collect()}
    assert rows["A"]["n_members"] == 3
    assert rows["A"]["internal_pairs"] == 3
    assert rows["A"]["boundary_pairs"] == 1
    assert rows["A"]["conductance"] == round(1 / 7, 8)
    assert rows["X"]["internal_pairs"] == 1
    assert rows["X"]["boundary_pairs"] == 1
    assert rows["X"]["conductance"] == round(1 / 3, 8)


def test_url_normalize_matrix(spark):
    """Hand matrix for the Mercator normalizer: case, default ports,
    tracking params, param sorting, fragments, empty path, and the
    reject path for scheme-less strings."""
    from wikifrontier.extract import url_normalize

    cases = [
        ("HTTP://WWW.Ex.com:80/a?utm_source=x&b=2&a=1",
         "http://www.ex.com/a?a=1&b=2"),
        ("https://Site.org:443/p#frag", "https://site.org/p"),
        ("https://site.org:8443/p", "https://site.org:8443/p"),  # non-default
        ("http://h.io", "http://h.io/"),                          # empty path
        ("http://h.io/?fbclid=z&REF=x", "http://h.io/"),          # (?i) match
        ("ftp://files.org/f", "ftp://files.org/f"),               # other scheme
        ("not-a-url", None),
        ("/relative/path", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = {
        r["url"]: r["norm"]
        for r in df.select(
            "url", url_normalize(F.col("url")).alias("norm")
        ).collect()
    }
    for u, want in cases:
        assert got[u] == want, (u, got[u], want)


def test_url_dedup_rollup_collapses_variants(spark):
    from wikifrontier.extract import url_dedup_rollup

    df = spark.createDataFrame(
        [("HTTP://A.com:80/x?b=1&a=2",), ("http://a.com/x?a=2&b=1&utm_z=9",),
         ("http://a.com/x?a=2&b=1",), ("junk",)],
        "url string",
    )
    rows = url_dedup_rollup(df).collect()
    assert len(rows) == 1
    assert rows[0]["normalized_url"] == "http://a.com/x?a=2&b=1"
    assert rows[0]["n_variants"] == 3
    assert rows[0]["first_url"] == "HTTP://A.com:80/x?b=1&a=2"


def test_hll_sketch_properties(spark):
    """HLL invariants: the merged-ALL estimate comes from register-wise
    max (union property — disjoint segments' ALL >= each segment), the
    small-range branch is exact-formula m*ln(m/V), and rel_err stays
    inside HLL's expected band (~1.04/sqrt(64) = 13%; assert a loose
    3-sigma 40%)."""
    import math

    from wikifrontier.sketch import HLL_M, hll_report

    df = spark.range(0, 2000).select(
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("g"),
        F.concat(F.lit("v"), ((F.col("id") * 7919) % 900).cast("string")).alias("v"),
    )
    rows = {r["grp"]: r for r in hll_report(df, "v", "g").collect()}
    assert set(rows) == {"s0", "s1", "s2", "s3", "ALL"}
    a = rows["ALL"]
    assert a["n_exact"] == 900
    for g in ("s0", "s1", "s2", "s3"):
        assert rows[g]["n_registers"] <= a["n_registers"]
        assert rows[g]["rel_err"] <= 0.4
    assert a["rel_err"] <= 0.4
    # small-range branch: tiny cardinality must hit m*ln(m/V) exactly
    tiny = spark.createDataFrame(
        [("t", f"x{i}") for i in range(5)], "g string, v string"
    )
    t = hll_report(tiny, "v", "g").collect()
    seg = [r for r in t if r["grp"] == "t"][0]
    v_empty = HLL_M - seg["n_registers"]
    assert seg["hll_estimate"] == round(HLL_M * math.log(HLL_M / v_empty), 4)


def test_pq_encode_and_adc_separation(spark):
    """PQ on two well-separated clusters (8-dim, m=2 subspaces, k=2
    codes): every vector gets exactly m codes in [0, k); ADC ranks every
    same-cluster neighbor above every cross-cluster one for cluster-A
    queries; adc_d2 is nonnegative."""
    from wikifrontier.similarity import pq_adc_topk, pq_codebooks, pq_encode

    rows = []
    for i in range(20):
        sign = 1.0 if i % 2 == 0 else -1.0          # even ids cluster A
        jit = (i % 5) * 0.01
        rows.append((i, [sign * (1.0 + jit)] * 8))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_codebooks(emb, m=2, k=2, iters=1)
    codes = pq_encode(emb, books, m=2).collect()
    assert len(codes) == 40                          # 20 vectors x 2 subs
    assert all(0 <= r["code"] < 2 for r in codes)
    per_vec = {}
    for r in codes:
        per_vec.setdefault(r["vec_id"], set()).add(r["sub"])
    assert all(subs == {0, 1} for subs in per_vec.values())

    q = emb.filter(F.col("vec_id").isin(0, 2))
    top = pq_adc_topk(emb, q, books, k=19, m=2).collect()
    for r in top:
        assert r["adc_d2"] >= 0
    for qid in (0, 2):
        ranked = sorted(
            (r for r in top if r["query_id"] == qid), key=lambda r: r["rank"]
        )
        same = [r for r in ranked if r["neighbor_id"] % 2 == 0]
        other = [r for r in ranked if r["neighbor_id"] % 2 == 1]
        assert max(r["rank"] for r in same) < min(r["rank"] for r in other)


def test_cms_overestimate_guarantee(spark):
    """Count-min invariants: every estimate >= the exact count (the CM
    guarantee), point queries for never-seen values still return the
    collision mass (>= 0), and a 10x-heavy key tops the ranking."""
    from wikifrontier.sketch import cms_heavy_hitters

    rows = [("big",)] * 200 + [(f"t{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, "host string")
    got = cms_heavy_hitters(df, "host", k=20).collect()
    assert got[0]["value"] == "big" and got[0]["n_exact"] == 200
    for r in got:
        assert r["overcount"] >= 0
        assert r["cms_est"] >= r["n_exact"]


def test_jl_projection_properties(spark):
    """JL invariants: output dim is 16; projection is linear (scaling a
    vector scales every component); the distortion ratio over the probe
    pairs stays in a loose JL band for k=16."""
    from wikifrontier.similarity import jl_distortion, jl_project

    emb = spark.range(0, 60).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                (F.col("id") * 2654435761 + i.cast("long") * 40503) % 1009
            ).cast("double") / 1009.0 - 0.5,
        ).alias("embedding"),
    )
    proj = {r["vec_id"]: r["proj"] for r in jl_project(emb).collect()}
    assert all(len(p) == 16 for p in proj.values())
    doubled = emb.select(
        "vec_id", F.transform("embedding", lambda x: x * 2).alias("embedding")
    )
    proj2 = {r["vec_id"]: r["proj"] for r in jl_project(doubled).collect()}
    for vid, p in proj.items():
        for a, b in zip(p, proj2[vid]):
            assert abs(b - 2 * a) < 1e-4
    rows = jl_distortion(emb, n_queries=5, cand_mod=10).collect()
    assert rows, "probe set must be non-empty"
    # this lattice fixture is adversarial for a FIXED sign matrix, so
    # individual pairs can land outside the probabilistic JL band —
    # assert a loose per-pair envelope plus a near-1 median
    ds = sorted(r["distortion"] for r in rows)
    for d in ds:
        assert 0.05 <= d <= 5.0
    assert 0.5 <= ds[len(ds) // 2] <= 1.6


def test_histogram_quantiles_accuracy(spark):
    """Histogram-quantile invariants: estimates are within one bin width
    (50 ms) of the exact percentile; monotone p50 <= p95 <= p99; the
    overflow bin clamps out-of-range values instead of dropping them."""
    from wikifrontier.sketch import histogram_quantiles

    df = spark.range(0, 1000).select(
        F.lit("h").alias("g"),
        ((F.col("id") % 200).cast("double") / 10.0).alias("v"),  # 0..19.9
    )
    row = histogram_quantiles(df, "v", "g").collect()[0]
    assert row["n_events"] == 1000
    exact = sorted(((i % 200) / 10.0) * 100 for i in range(1000))
    for p, col in ((0.5, "p50_ms"), (0.95, "p95_ms"), (0.99, "p99_ms")):
        want = exact[max(0, -(-int(p * 1000)) - 1)]
        assert abs(row[col] - want) <= 50.0, (col, row[col], want)
    assert row["p50_ms"] <= row["p95_ms"] <= row["p99_ms"]
    big = spark.createDataFrame(
        [("g", 9999.0)] * 3 + [("g", 1.0)], "g string, v double"
    )
    r2 = histogram_quantiles(big, "v", "g").collect()[0]
    assert r2["n_events"] == 4
    assert r2["p99_ms"] == (63 + 0.5) * 50  # clamped into the last bin


# --------------------------------------------------------------------------
# q125–q130 operators: Gopher rules, C4 line cleaning, TrustRank, KMV
# sketch set ops, deterministic random walks, EWMA host health
# --------------------------------------------------------------------------
def test_gopher_rules_hand_doc(spark):
    from wikifrontier.textops import gopher_rules

    good = " ".join(["the desk and chair that have area with wood"] * 6)
    df = spark.createDataFrame(
        [
            (1, good),                       # 54 words, stopword-rich
            (2, "tiny doc"),                 # fails word count + stop rule
            (3, "\n".join(["- bullet line"] * 10)),  # all-bullet doc
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in gopher_rules(df).collect()}
    assert out[1]["keep"] is True and out[1]["n_words"] == 54
    assert out[2]["keep"] is False and not out[2]["r_wordcount"]
    assert not out[3]["r_bullet"] and out[3]["bullet_frac"] == 1.0
    # symbol rule: a doc drowned in '#' marks fails symbol ratio
    hashy = spark.createDataFrame(
        [(4, " ".join(["w#"] * 60))], "doc_id long, text string"
    )
    row = gopher_rules(hashy).collect()[0]
    assert row["symbol_ratio"] == 1.0 and not row["r_symbol"]


def test_c4_line_filter_reasons_and_dedup(spark):
    from wikifrontier.textops import c4_line_filter

    df = spark.createDataFrame(
        [
            (1, 'good line one ok.\nshared dup line here.\nno punct line\nhi.'),
            (2, 'shared dup line here.\nenable javascript to view this.\nanother good line kept.'),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in c4_line_filter(df).collect()}
    # doc 1: kept(good, dup-first), short('hi.' = 1 word), no_punct
    assert out[1]["n_kept"] == 2 and out[1]["n_short"] == 1
    assert out[1]["n_nopunct"] == 1 and out[1]["n_dupline"] == 0
    # doc 2: dup loses to doc 1 (first-writer-wins), banned javascript
    assert out[2]["n_dupline"] == 1 and out[2]["n_banned"] == 1
    assert out[2]["n_kept"] == 1
    # clean hash is md5 of the reassembled kept lines, in line order
    import hashlib

    expect = hashlib.md5(
        "good line one ok.\nshared dup line here.".encode()
    ).hexdigest()
    assert out[1]["clean_hash"] == expect


def test_trustrank_flows_from_seeds_only(spark):
    from wikifrontier.linkgraph import trustrank

    # two disconnected 2-cycles; only component {1,2} holds a seed
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (10, 11), (11, 10)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    tr = {r["id"]: r["tr"] for r in trustrank(edges, seeds).collect()}
    assert tr[10] == 0.0 and tr[11] == 0.0  # spam island gets nothing
    assert tr[1] > 0 and tr[2] > 0
    assert abs(sum(tr.values()) - 1.0) < 1e-9  # mass conserved
    # empty seed set → all zeros, no crash
    none = trustrank(edges, spark.createDataFrame([(99,)], "id long"))
    assert all(r["tr"] == 0.0 for r in none.collect())


def test_kmv_estimates_within_error_and_exact_when_small(spark):
    from pyspark.sql import functions as F
    from wikifrontier.sketch import kmv_set_ops, kmv_sketch

    # small sets (< k): every estimate is exact
    a = spark.range(0, 100).select(F.col("id").cast("string").alias("v"))
    b = spark.range(50, 150).select(F.col("id").cast("string").alias("v"))
    got = {
        r["set_label"]: r["est_distinct"]
        for r in kmv_set_ops(kmv_sketch(a, "v"), kmv_sketch(b, "v")).collect()
    }
    assert got == {"A": 100.0, "B": 100.0, "union": 150.0, "intersection": 50.0}
    # large sets (> k): estimates land within ~3/sqrt(k) relative error
    a = spark.range(0, 20000).select(F.col("id").cast("string").alias("v"))
    b = spark.range(10000, 30000).select(F.col("id").cast("string").alias("v"))
    got = {
        r["set_label"]: r["est_distinct"]
        for r in kmv_set_ops(kmv_sketch(a, "v"), kmv_sketch(b, "v")).collect()
    }
    for label, truth in [("A", 20000), ("B", 20000), ("union", 30000),
                         ("intersection", 10000)]:
        assert abs(got[label] - truth) / truth < 0.25, (label, got[label])
    # a k above the sketches' build k is rejected (a full 64-hash sketch
    # would read as not full); a smaller k is a bottom-k of the same sets
    ska, skb = kmv_sketch(a, "v", k=64), kmv_sketch(b, "v", k=64)
    with pytest.raises(ValueError, match="build k=64"):
        kmv_set_ops(ska, skb)
    got = {r["set_label"]: r["est_distinct"]
           for r in kmv_set_ops(ska, skb, k=32).collect()}
    assert abs(got["union"] - 30000) / 30000 < 0.6, got


def test_random_walks_deterministic_and_dead_end_holds(spark):
    from wikifrontier.linkgraph import random_walks

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3)], "src long, dst long"
    )  # node 3 is a dead end
    seeds = spark.createDataFrame([(0,)], "id long")
    r1 = random_walks(edges, seeds, steps=3).collect()[0]
    r2 = random_walks(edges, seeds, steps=3).collect()[0]
    assert r1["path"] == r2["path"]  # pure function of the graph
    assert r1["path"].count("->") == 3  # exactly `steps` hops recorded
    assert r1["end_node"] == 3  # every 2-hop route ends at 3; then holds


def test_host_ewma_recency_weighting(spark):
    import datetime

    from wikifrontier.politeness import host_ewma

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # hostA: 15 old fast fetches, newest is one huge outlier
        *[("a.com", t0, i, 10.0, False) for i in range(15)],
        ("a.com", t0, 99, 1000.0, False),
        # hostB: all failures, newest first
        *[("b.com", t0, i, 10.0, True) for i in range(4)],
    ]
    df = spark.createDataFrame(
        rows, "host string, ts timestamp, seq long, latency_ms double, failed boolean"
    )
    out = {r["host"]: r.asDict() for r in host_ewma(df).collect()}
    # newest outlier carries weight 1/2 of the total ≈2 → ewma ≈ 505
    assert 400 < out["a.com"]["ewma_latency_ms"] < 600
    assert out["a.com"]["verdict"] == "slow"
    assert out["b.com"]["ewma_fail_rate"] == 1.0
    assert out["b.com"]["verdict"] == "failing"
    assert out["a.com"]["n_window"] == 16 and out["a.com"]["n_events"] == 16


def test_url_quality_rule_matrix(spark):
    from wikifrontier.filters import url_quality

    df = spark.createDataFrame(
        [
            ("https://en.wikipedia.org/wiki/Fine",),
            ("https://a.b.c.d.site.org/x",),              # subdomain depth 5
            ("https://site.org/1234567890/12345",),       # digit-stuffed
            ("https://site.org/p?a=1&b=2&c=3&d=4&e=5",),  # 5 params
            ("https://site.org/casino/page",),            # blocklist
            ("https://site.org/" + "x" * 300,),           # over-long
        ],
        "url string",
    )
    out = {r["url"][:30]: r.asDict() for r in url_quality(df).collect()}
    assert out["https://en.wikipedia.org/wiki/"]["keep"] is True
    assert not out["https://a.b.c.d.site.org/x"]["r_subdomain"]
    assert not out["https://site.org/1234567890/12"]["r_digits"]
    assert not out["https://site.org/p?a=1&b=2&c=3"]["r_params"]
    assert not out["https://site.org/casino/page"]["r_banned"]
    assert not out["https://site.org/xxxxxxxxxxxxx"]["r_len"]
    assert sum(1 for v in out.values() if v["keep"]) == 1


def test_focused_pop_orders_and_caps(spark):
    from wikifrontier.politeness import focused_pop

    rows = [
        ("u%02d" % i, "h1", 3, "spark data join")  # relevance 3
        for i in range(12)
    ] + [
        ("v1", "h2", 0, "nothing relevant here"),  # relevance 0, shallow
        ("v2", "h2", 5, "spark spark spark spark"),  # relevance 4, deep
    ]
    df = spark.createDataFrame(rows, "url string, host string, depth int, anchor_text string")
    got = focused_pop(df, budget=8, per_host_cap=5).collect()
    assert len(got) == 7  # h1 capped at 5, h2 contributes 2
    assert got and got[0]["url"] == "v2"  # highest relevance first, despite depth
    assert sum(1 for r in got if r["host"] == "h1") == 5
    # determinism: equal relevance/depth breaks on url
    h1 = [r["url"] for r in got if r["host"] == "h1"]
    assert h1 == sorted(h1)


def test_rendezvous_stability_on_shard_add(spark):
    from pyspark.sql import functions as F
    from wikifrontier.politeness import rendezvous_shard

    hosts = spark.createDataFrame(
        [("host%d.org" % i,) for i in range(200)], "host string"
    )
    k8 = hosts.select("host", rendezvous_shard(F.col("host"), 8).alias("s8"))
    k9 = hosts.select("host", rendezvous_shard(F.col("host"), 9).alias("s9"))
    j = k8.join(k9, "host")
    moved = j.filter(F.col("s8") != F.col("s9")).count()
    # HRW property: going 8→9 shards moves ONLY hosts won by the new
    # shard — expectation 1/9 of hosts; hash-mod would move ~8/9
    assert moved < 200 * 0.25, moved
    # every moved host moved TO the new shard 8
    bad = j.filter((F.col("s8") != F.col("s9")) & (F.col("s9") != 8)).count()
    assert bad == 0


def test_opic_conserves_cash_and_ranks_sinks(spark):
    from wikifrontier.linkgraph import opic

    # star: 0→1, 0→2, 1→0, 2→0  (0 is the hub, gets half the cash back
    # every round; 1 and 2 split the rest)
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 0), (2, 0)], "src long, dst long"
    )
    got = {r["id"]: r["importance"] for r in opic(edges).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9  # importance sums to 1
    assert got[0] > got[1] and abs(got[1] - got[2]) < 1e-12


def test_pagerank_warm_start_equals_cold_continuation(spark):
    from pyspark.sql import functions as F
    from wikifrontier.linkgraph import pagerank

    edges = spark.range(120).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 120).alias("dst")
    )
    cold4 = {r["id"]: r["pr"] for r in pagerank(edges, iterations=4).collect()}
    cold3 = pagerank(edges, iterations=3)
    warm = {r["id"]: r["pr"]
            for r in pagerank(edges, iterations=1, init=cold3).collect()}
    assert warm == cold4  # bit-identical continuation
    # nodes missing from init fall back to the uniform prior
    partial = cold3.filter(F.col("id") < 60)
    warm_partial = pagerank(edges, iterations=1, init=partial)
    assert warm_partial.count() == 120  # every node still scored


def test_bfs_layers_hand_graph(spark):
    from wikifrontier.linkgraph import bfs_layers

    # path 0→1→2→3→4→5 plus island 9→10; seed = 0
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (9, 10)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {r["id"]: r["dist"] for r in bfs_layers(edges, seeds, max_depth=4).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: -1, 9: -1, 10: -1}


def test_reciprocity_flags_farm(spark):
    from wikifrontier.linkgraph import reciprocity

    # {1,2,3} is a full mutual clique (farm); 4 links organically into it
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2), (4, 1)],
        "src long, dst long",
    )
    got = {r["id"]: r.asDict() for r in reciprocity(edges).collect()}
    for n in (1, 2, 3):
        assert got[n]["recip_frac"] == 1.0 and got[n]["farm_flag"] is True
    assert got[4]["recip_frac"] == 0.0 and got[4]["farm_flag"] is False
    assert got[1]["out_deg"] == 2 and got[1]["in_deg"] == 3  # 2,3,4 → 1


def test_spam_composite_requires_two_signals(spark):
    docs_q = __import__("wikifrontier.queries", fromlist=["queries"])
    df = docs_q.ALL_QUERIES["q138_spam_composite"](
        spark.builder.getOrCreate() if False else spark, "/root/testdata/sf0.001"
    )
    rows = df.collect()
    assert len(rows) == 500
    for r in rows:
        assert r["spam_score"] == r["url_bad"] + r["low_trust"] + r["high_recip"]
        assert r["is_spam"] == (r["spam_score"] >= 2)
    # at least one page trips each signal, and conjunction is rarer than
    # any single signal
    import collections
    c = collections.Counter()
    for r in rows:
        c["url_bad"] += r["url_bad"]; c["low_trust"] += r["low_trust"]
        c["high_recip"] += r["high_recip"]; c["spam"] += int(r["is_spam"])
    assert c["url_bad"] > 0 and c["low_trust"] > 0
    assert c["spam"] <= min(c["url_bad"] + c["low_trust"] + c["high_recip"], 500)


def test_trust_rollup_deterministic_fold_and_blocklist(spark):
    from pyspark.sql import functions as F
    from wikifrontier.linkgraph import trust_rollup

    tr = spark.createDataFrame(
        [(1, 0.4), (2, 0.1), (10, 0.0), (11, 0.0)], "id long, tr double"
    )
    hosts = spark.createDataFrame(
        [(1, "good.org"), (2, "good.org"), (10, "farm.biz"), (11, "farm.biz")],
        "id long, host string",
    )
    out = {r["host"]: r.asDict() for r in trust_rollup(tr, hosts, 4).collect()}
    assert out["good.org"]["mean_trust"] == 0.25
    assert out["good.org"]["spam_host"] is False
    assert out["farm.biz"]["mean_trust"] == 0.0
    assert out["farm.biz"]["spam_host"] is True  # below 0.5/4
    assert out["farm.biz"]["n_low_trust"] == 2
    # repartition noise must not change the fold result (ordered fold)
    tr32 = tr.repartition(32)
    again = {r["host"]: r["mean_trust"]
             for r in trust_rollup(tr32, hosts, 4).collect()}
    assert again == {h: v["mean_trust"] for h, v in out.items()}
