"""Structural checks for rows-only LLM-pipeline operators — the parts
the DuckDB oracle can't see (xxhash64-based sketches, ANN recall)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from file_scraper_spark import registry

registry._ensure_loaded()
R = registry.REGISTRY


def test_minhash_finds_planted_pairs(spark, sf_dir):
    """Every perturbed copy (doc_id+100000) should pair with its
    original via MinHash-LSH, and estimates should track exact Jaccard."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in R["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    }
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in R["dedup_minhash"].fn(spark, sf_dir).collect()
    }
    # perturbed copies carry the negative-mirror id -(d+1)
    planted = {(a, b) for (a, b) in exact if a == -(b + 1)}
    assert planted, "fixture derivation produced no planted pairs"
    recall = len(planted & set(est)) / len(planted)
    assert recall >= 0.9, f"minhash recall {recall} on planted pairs"
    for pair in planted & set(est):
        assert abs(est[pair] - exact[pair]) < 0.35


def test_minhash_fast_path_equivalent_recall(spark, sf_dir):
    """The xxhash64 fast path (portable_hash=False) must find the
    same planted near-dup pairs as the oracle-portable md5 family —
    the hash family changes, the LSH recall contract doesn't. Band
    collisions of UNRELATED docs are hash-family luck either way, so
    the assertion is on planted pairs plus estimate agreement on the
    shared detections, not on exact set equality."""
    from file_scraper_spark.operators.dedup import minhash_pairs
    from file_scraper_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    slow = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_pairs(docs, portable_hash=True).collect()
    }
    fast = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_pairs(docs, portable_hash=False).collect()
    }
    planted_slow = {p for p in slow if p[0] == -(p[1] + 1)}
    planted_fast = {p for p in fast if p[0] == -(p[1] + 1)}
    assert planted_slow, "no planted pairs found on the portable path"
    assert len(planted_fast & planted_slow) / len(planted_slow) >= 0.9
    for p in planted_fast & planted_slow:
        # independent 32-sample estimates of the same Jaccard
        assert abs(fast[p] - slow[p]) <= 0.35, (p, fast[p], slow[p])


def test_jaccard_sampled_fast_path_equivalent_recall(spark, sf_dir):
    """The xxhash64-selection sampled path (sample_fast=True — selects
    on the join key, no md5; the 100x-probe production variant at
    ~half the exact path's wall) must find ~the same planted pairs as
    the md5-portable sampled path the gate checks. Different hash
    families sample different ~25% shingle subsets, so the pin is on
    planted-pair recall overlap, not set equality; on shared pairs
    both compute an exact Jaccard over their own sampled sets."""
    from file_scraper_spark.operators.dedup import (
        SHINGLE_SAMPLE_MOD,
        jaccard_pairs,
    )

    slow = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(
            spark, sf_dir, sample_mod=SHINGLE_SAMPLE_MOD
        ).collect()
    }
    fast = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(
            spark, sf_dir, sample_mod=SHINGLE_SAMPLE_MOD, sample_fast=True
        ).collect()
    }
    planted_slow = {p for p in slow if p[0] == -(p[1] + 1)}
    planted_fast = {p for p in fast if p[0] == -(p[1] + 1)}
    assert planted_slow, "no planted pairs on the portable sampled path"
    assert len(planted_fast & planted_slow) / len(planted_slow) >= 0.85


def test_jaccard_pairs_memoized_per_session(spark, sf_dir):
    """dedup_ngram_jaccard / dedup_clusters / dedup_cluster_cap share
    the edge pipeline; the session memo must hand every consumer the
    SAME lazily-checkpointed frame (edge pipeline paid once per
    session — VERDICT r7 task #3), memo='never' must bypass it, and
    both must compute identical edges."""
    from file_scraper_spark.operators.dedup import jaccard_pairs

    a = jaccard_pairs(spark, sf_dir)
    b = jaccard_pairs(spark, sf_dir)
    assert a is b, "memo must return the same checkpointed frame"
    raw = jaccard_pairs(spark, sf_dir, memo="never")
    assert raw is not a
    key = lambda r: (r.doc_a, r.doc_b)  # noqa: E731
    assert sorted(map(key, a.collect())) == sorted(map(key, raw.collect()))
    # sampling params key separately — a sampled call must never reuse
    # the exact path's edges
    from file_scraper_spark.operators.dedup import SHINGLE_SAMPLE_MOD

    s = jaccard_pairs(spark, sf_dir, sample_mod=SHINGLE_SAMPLE_MOD)
    assert s is not a


def test_data_key_invalidates_on_rewrite(tmp_path, smoke_dir):
    """Memo keys fingerprint the parquet files (size+mtime), so data
    rewritten at the same path yields a different key — the round-7
    advisory's stale-verdict scenario cannot occur."""
    import os
    import shutil

    from file_scraper_spark.tables import data_key, table_path

    src = table_path(smoke_dir, "documents")
    dst_dir = str(tmp_path)
    shutil.copy(src, table_path(dst_dir, "documents"))
    k1 = data_key(dst_dir, "documents")
    os.utime(table_path(dst_dir, "documents"))  # simulate a rewrite
    k2 = data_key(dst_dir, "documents")
    assert k1 != k2


def test_simhash_finds_planted_pairs(spark, sf_dir):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in R["dedup_simhash"].fn(spark, sf_dir).collect()
    }
    planted = [h for (a, b), h in pairs.items() if a == -(b + 1)]
    assert len(planted) > 0
    assert all(h <= 4 for h in planted)


def test_ann_lsh_recall(spark, sf_dir):
    exact = [r.vec_id for r in R["similarity_topk"].fn(spark, sf_dir).collect()]
    ann = [r.vec_id for r in R["similarity_ann_lsh"].fn(spark, sf_dir).collect()]
    # the query vector itself must always be found (cosine 1.0)
    assert exact[0] == 0 and ann[0] == 0
    # sign-LSH with 1-bit probing: expect partial but nonzero overlap
    assert len(set(exact) & set(ann)) >= 2


def test_ann_ivf_recall(spark, sf_dir):
    exact = [r.vec_id for r in R["similarity_topk"].fn(spark, sf_dir).collect()]
    ivf = [r.vec_id for r in R["similarity_ann_ivf"].fn(spark, sf_dir).collect()]
    assert ivf[0] == 0  # query vector always found in its own cell
    # probing 3/10 cells: expect meaningful overlap with the exact top-10
    assert len(set(exact) & set(ivf)) >= 3


def test_decode_stub_raises_without_fake():
    from file_scraper_spark.operators.multimodal import decode_media

    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG")
    feats = decode_media(b"abcd1234", fake=True)
    assert feats["n_bytes"] == 8
    assert feats["header_hex"] == "61626364"


def test_embedding_dedup_finds_planted_pairs(spark, sf_dir):
    """Planted near-identical vectors (negative-mirror ids, last 4
    dims zeroed) should surface as bucket-colliding cosine>=0.9 pairs;
    8 sign bits can split some planted pairs (a projection near zero
    flips), so require recall >= 0.7 and verify every emitted pair is
    actually above threshold."""
    rows = R["dedup_embedding"].fn(spark, sf_dir).collect()
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in rows}
    assert all(c >= 0.9 for c in pairs.values())
    planted_found = [1 for (a, b) in pairs if a == -(b + 1)]
    n_vecs = R["dedup_exact"]  # noqa: F841  (registry warm)
    assert sum(planted_found) >= 1
    # planted population: vec_id % 20 == 0 in the base corpus
    from file_scraper_spark.tables import load

    n_planted = load(spark, sf_dir, "embeddings").filter(
        "vec_id % 20 = 0"
    ).count()
    assert sum(planted_found) / n_planted >= 0.7


def test_dedup_band_bits_autoscale():
    """Band bits hold at 8 through every driver fixture size, then
    grow one bit per corpus doubling — bounded expected occupancy."""
    from file_scraper_spark.operators.similarity import (
        DEDUP_BASE_N,
        dedup_band_bits,
    )

    assert dedup_band_bits(210) == 8  # sf0.001
    assert dedup_band_bits(2100) == 8  # sf0.01
    assert dedup_band_bits(22050) == 8  # sf0.1
    assert dedup_band_bits(DEDUP_BASE_N) == 8
    assert dedup_band_bits(DEDUP_BASE_N + 1) == 9
    assert dedup_band_bits(4 * DEDUP_BASE_N) == 10
    assert dedup_band_bits(10**10) == 8 + 19  # the 100 TB regime


def test_dedup_band_bucket_occupancy_bounded():
    """10x-probe shape (VERDICT r2 #6): on a corpus ABOVE the 8-bit
    regime, auto-scaled banding must keep max bucket occupancy near
    the n/2^bits expectation — the quadratic bucket-local verify
    stays bounded — while fixed 8-bit banding degrades ~2x per
    doubling. Runs the real banding kernel directly (no Spark round
    trip) on seeded random unit vectors."""
    import numpy as np
    import pandas as pd

    from file_scraper_spark.operators.similarity import (
        DIM,
        _band_rows_fn,
        dedup_band_bits,
    )

    n = 80_000  # > 2*DEDUP_BASE_N -> 10 bits
    bits = dedup_band_bits(n)
    assert bits == 10
    rng = np.random.default_rng(7)
    V = rng.standard_normal((n, DIM))
    pdf = pd.DataFrame({"vec_id": np.arange(n), "v": list(V)})
    out = pd.concat(list(_band_rows_fn(bits)([pdf])))
    occ = out.groupby(["band", "band_val"]).size()
    # expectation n/2^bits = 78; signs of random projections are not
    # perfectly uniform, so allow a generous constant factor
    assert occ.max() <= 40 * (n // 2**bits), occ.max()
    # and the scaled key space is actually being used
    assert occ.index.get_level_values("band_val").max() >= 2**(bits - 1)


def test_hll_sketch_merge_accuracy(spark, sf_dir):
    """The merged-sketch estimate must be within HLL error (<5% at
    lgK=12) of the exact distinct count — the query itself now emits
    that bound as est_ok (driver-checkable); here we verify the bound
    holds and the exact twin column is actually exact."""
    from file_scraper_spark import registry
    from pyspark.sql import functions as F

    registry._ensure_loaded()
    rows = registry.REGISTRY["hll_sketch_merge"].fn(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        assert r.exact_users == exact[r.event_type]
        assert r.est_ok is True, (r.event_type, r.exact_users)


def test_approx_distinct_within_rsd(spark, sf_dir):
    """agg_approx_distinct must agree with the exact per-group distinct
    count within a few times the requested rsd=0.01 — the query now
    ships that bound as the est_ok column (driver-checkable); verify
    the bound holds and the twin columns are exact."""
    from pyspark.sql import functions as F

    rows = R["agg_approx_distinct"].fn(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert {r.event_type for r in rows} == set(exact)
    for r in rows:
        # est_ok encodes |est - exact| <= max(2, 4*rsd*exact) in-plan
        assert r.exact_users == exact[r.event_type]
        assert r.est_ok is True, (r.event_type, r.exact_users)
    # and the exact companion column is exact
    n_events = {r.event_type: r.n_events for r in rows}
    exact_n = {
        r.event_type: r.c
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert n_events == exact_n


def test_approx_quantile_within_rank_error(spark, sf_dir):
    """approx_percentile(accuracy=1000) guarantees the returned value
    sits within n/1000 RANK positions of the target rank (the
    Greenwald-Khanna bound — the estimate is an actual data value, so
    the check is on ranks, not interpolated values): per group, the
    estimate's rank interval in the sorted values must overlap
    [p*n - n/1000 - 1, p*n + n/1000 + 1]. The registered query now
    projects the estimate to the est_ok envelope (driver-checkable);
    this test keeps the direct rank-error assertion on the raw sketch
    and additionally requires est_ok to hold."""
    import numpy as np

    for r in R["approx_quantile"].fn(spark, sf_dir).collect():
        assert r.est_ok is True, (r.event_type, r.p50, r.p90, r.p99)

    sk = F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)")
    est = {
        r.event_type: (r.sk[0], r.sk[1], r.sk[2])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(sk.alias("sk"))
        .collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    groups: dict[str, list[float]] = {}
    for r in ev.select("event_type", "value").collect():
        groups.setdefault(r.event_type, []).append(r.value)
    assert set(est) == set(groups)
    for t, vals in groups.items():
        arr = np.sort(np.array(vals))
        n = len(arr)
        slack = n / 1000 + 1
        for p, v in zip((0.5, 0.9, 0.99), est[t]):
            lo_rank = np.searchsorted(arr, v, side="left")
            hi_rank = np.searchsorted(arr, v, side="right")
            target = p * (n - 1)
            assert lo_rank - slack <= target <= hi_rank + slack, (
                t, p, v, lo_rank, hi_rank, target, n
            )
            # and the estimate is an actual observed value
            assert v in arr


def test_heavy_hitters_tracks_exact_counts(spark, sf_dir):
    """approx_top_k with maxItemsTracked=4096: on this corpus the
    tracked space covers the whole vocabulary, so the sketch must
    surface every exact top-20 token with its exact count — the query
    now emits that check per row as sk_ok (driver-checkable), with
    the exact count and rank as the hashed twin columns."""
    rows = R["text_heavy_hitters"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    assert all(r.sk_ok for r in rows), [
        (r.tok, r.cnt) for r in rows if not r.sk_ok
    ]
    # twin columns really are the exact counts
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        r.tok: r["count"]
        for r in docs.select(
            F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("tok")
        .count()
        .collect()
    }
    for r in rows:
        assert exact[r.tok] == r.cnt
    # counts are sorted: rank order == exact frequency order
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)


def test_wav_bmp_real_parsers():
    """parse_wav/parse_bmp are genuine binary parsers: round-trip a
    constructed PCM WAV (with an extra chunk before fmt, odd-length
    word-aligned), a BMP header, and reject malformed input."""
    import struct

    from file_scraper_spark.operators.multimodal import (
        decode_media,
        parse_bmp,
        parse_wav,
    )

    data = b"\x01\x02" * 501  # 1002 bytes -> 501 16-bit mono samples
    junk = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # odd len, padded
    wav = (
        b"RIFF"
        + struct.pack("<I", 0)
        + b"WAVE"
        + junk
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    feats = parse_wav(wav)
    assert feats == {
        "kind": "wav",
        "channels": 1,
        "sample_rate": 16000,
        "bits": 16,
        "n_samples": 501,
        "duration_ms": 501 * 1000 // 16000,
    }
    # dispatcher routes by magic bytes without fake
    assert decode_media(wav)["kind"] == "wav"

    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480) + b"\x00" * 8
    assert parse_bmp(bmp) == {"kind": "bmp", "width": 640, "height": 480}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_wav(b"RIFF\x00\x00\x00\x00WAVE")  # no fmt/data chunks
    with _pytest.raises(ValueError):
        parse_bmp(b"BMx")


def test_text_diversity_known_values(spark, tmp_path):
    """Hand-computed Simpson concentration / top-share on a crafted
    doc: 'a a a a b' -> counts (4,1), n=5, sum(c^2)=17,
    simpson = 17/25 = 0.68, top share = 4/5 = 0.8."""
    d = str(tmp_path)
    spark.createDataFrame(
        [(1, "a a a a b"), (2, "x y z w")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r.doc_id: r for r in R["text_diversity"].fn(spark, d).collect()}
    r1 = rows[1]
    assert (r1.n_tokens, r1.n_types) == (5, 2)
    assert r1.simpson_q == 680000
    assert r1.top_share_q == 800000
    r2 = rows[2]  # uniform doc: simpson = 4*(1/16) = 0.25, share 1/4
    assert (r2.n_tokens, r2.n_types) == (4, 4)
    assert r2.simpson_q == 250000
    assert r2.top_share_q == 250000


def test_canonical_url_rules(spark):
    """Each canonicalization rule on crafted URLs: case, default
    port, fragment, param order, trailing slash (non-root stripped,
    root kept), query-free passthrough."""
    from file_scraper_spark.operators.dedup import _canonical_url

    cases = [
        ("HTTPS://WWW.Site.Example:443/docs/item5/?b=3&a=5#x",
         "https://www.site.example/docs/item5?a=5&b=3"),
        ("https://a.example/", "https://a.example/"),
        ("https://a.example/p", "https://a.example/p"),
        ("https://A.example/p?z=1&y=2&x=3", "https://a.example/p?x=3&y=2&z=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(_canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_pca_project_matches_numpy(spark):
    """pca_project (distributed Gram -> driver eigh -> codegen
    projection) must match a single-box numpy PCA of the same
    vectors: same top-k eigenvalues, same projected coordinates up to
    the inherent per-component sign. Pins both the Gram assembly
    (quantization error bounded by 1e-6 per addend) and the
    literal-array projection expressions."""
    import numpy as np

    from file_scraper_spark.operators.similarity import (
        pca_components,
        pca_project,
    )
    from file_scraper_spark.tables import load

    sf = "/root/testdata/sf0.001"
    x = np.array(
        [
            r["embedding"]
            for r in load(spark, sf, "embeddings").collect()
        ],
        dtype=np.float64,
    )
    # k=2: the top eigengaps are O(1) here, so the quantization
    # perturbation of the Gram (floor bias < n_rows*1e-6 per cell,
    # eigenvalue shift bounded by d * that ~ 3e-3) cannot rotate the
    # compared components into a neighboring one
    k = 2
    comps, eig = pca_components(spark, sf, k)
    w_ref, v_ref = np.linalg.eigh(x.T @ x)
    order = np.argsort(w_ref)[::-1][:k]
    assert np.allclose(eig, w_ref[order], atol=2e-2)
    ref = x @ v_ref[:, order]
    got_rows = {
        r["vec_id"]: r["proj"]
        for r in pca_project(spark, sf, k).collect()
    }
    ids = sorted(got_rows)
    got = np.array([got_rows[i] for i in ids])
    # align the inherent per-column sign before comparing
    for j in range(k):
        if np.dot(got[:, j], ref[:, j]) < 0:
            ref[:, j] = -ref[:, j]
    assert got.shape == ref.shape == (len(x), k)
    assert np.allclose(got, ref, atol=2e-2)


def test_triangle_striping_covers_every_pair_once():
    """similarity_pairs' triangle partitioning must be a PARTITION of
    the pair set: the union of per-task outputs over the K(K+1)/2
    strip tasks equals the un-striped full-block Gram pairs, with no
    pair produced twice. Pure-pandas replica of the executor-side
    math (the Spark plan only routes rows; _gram_pairs_striped does
    the pairing), seeded across several block shapes including empty
    strips and singleton strips."""
    import numpy as np
    import pandas as pd

    from file_scraper_spark.operators.similarity import (
        _gram_pairs,
        _gram_pairs_striped,
    )

    K = 4
    for seed, n in [(0, 1), (1, 7), (2, 64), (3, 257)]:
        rng = np.random.default_rng(seed)
        ids = rng.choice(10_000, size=n, replace=False).astype(np.int64)
        qe = rng.integers(-100, 100, size=(n, 8)).astype(np.int64)
        # at least one non-zero element per row (norm > 0)
        qe[:, 0] = np.maximum(np.abs(qe[:, 0]), 1)
        strips = (ids % K).astype(np.int64)  # any deterministic rule
        pdf = pd.DataFrame(
            {"vec_id": ids, "qe": list(qe), "s": strips}
        )
        thr = -2.0  # below any cosine: keep EVERY pair, coverage is total
        full = _gram_pairs(pdf, thr)
        want = {
            (int(a), int(b)): c
            for a, b, c in zip(full.vec_a, full.vec_b, full.cosine)
        }
        got: dict = {}
        for p in range(K):
            for q in range(p, K):
                task = pdf[pdf["s"].isin([p, q])]
                if task.empty:
                    continue
                part = _gram_pairs_striped(task, thr, p, q)
                for a, b, c in zip(part.vec_a, part.vec_b, part.cosine):
                    key = (int(a), int(b))
                    assert key not in got, f"pair {key} produced twice"
                    got[key] = c
        assert got.keys() == want.keys()
        for key, c in got.items():
            assert c == want[key], f"cosine mismatch at {key}"


def test_keep_best_selects_longest_then_min_id(spark, sf_dir):
    """dedup_keep_best's selection rule cross-checked against a plain-
    Python recomputation from the cluster labels: the kept member has
    the cluster-max word count, min doc_id among ties, and the
    per-cluster accounting (n_members / best_words / total_words)
    matches exactly."""
    from collections import defaultdict

    labels = {
        r.doc_id: r.cluster
        for r in R["dedup_clusters"].fn(spark, sf_dir).collect()
    }
    from file_scraper_spark.operators import dedup

    words = {
        r.doc_id: r.n_words
        for r in dedup.near_dup_corpus(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
        .select(
            "doc_id",
            F.coalesce(F.size("words"), F.lit(-1)).alias("n_words"),
        )
        .collect()
    }
    out = {r.cluster: r for r in R["dedup_keep_best"].fn(spark, sf_dir).collect()}
    members = defaultdict(list)
    for d, c in labels.items():
        members[c].append(d)
    assert set(out) == set(members)
    multi = sum(1 for docs in members.values() if len(docs) > 1)
    assert multi, "fixture produced no multi-member clusters"
    for c, docs in members.items():
        best_w = max(words[d] for d in docs)
        r = out[c]
        assert r.n_members == len(docs)
        assert r.best_words == best_w
        assert r.kept_doc == min(d for d in docs if words[d] == best_w)
        assert r.total_words == sum(words[d] for d in docs)


def test_ccnet_buckets_are_exact_per_lang_terciles(spark, sf_dir):
    """text_ccnet_buckets: per language, bucket sizes are the exact
    rank terciles (head = ceil(n/3), middle = ceil(2n/3) - head) and
    the score ordering is monotone across buckets — every head doc
    scores >= every middle doc scores >= every tail doc (ties may
    straddle a cut, which is exactly what the rank rule permits)."""
    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in R["text_ccnet_buckets"].fn(spark, sf_dir).collect():
        by_lang[r.lang].append(r)
    assert by_lang, "fixture produced no scored docs"
    for lang, rs in by_lang.items():
        n = len(rs)
        h_n, m_n = (n + 2) // 3, (2 * n + 2) // 3
        head = [r.score_q for r in rs if r.bucket == "head"]
        mid = [r.score_q for r in rs if r.bucket == "middle"]
        tail = [r.score_q for r in rs if r.bucket == "tail"]
        assert (len(head), len(mid), len(tail)) == (
            h_n,
            m_n - h_n,
            n - m_n,
        ), f"{lang}: tercile sizes off"
        if head and mid:
            assert min(head) >= max(mid), f"{lang}: head below middle"
        if mid and tail:
            assert min(mid) >= max(tail), f"{lang}: middle below tail"


def test_unigram_trainer_adopts_multichar_pieces(spark, tmp_path):
    """unigram_train_steps on a crafted corpus where a multi-char
    piece must dominate: words of repeated 'ab'. A chars-only
    segmentation costs 6 tokens per 'ababab'; the trained model must
    adopt 'ab' (or a longer repeat) and land strictly below the char
    baseline. Also pins the EM direction: the piece inventory never
    grows between rounds (unused multis are dropped, chars persist)."""
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, "ababab ababab cd") for i in range(20)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = sorted(
        R["unigram_train_steps"].fn(spark, d).collect(),
        key=lambda r: r.step,
    )
    assert [r.step for r in rows] == [1, 2]
    # char baseline: vocab words 'ababab' (6 chars) and 'cd' (2),
    # weighted by occurrences 40 and 20 -> 40*6 + 20*2 = 280 chars
    char_baseline = 40 * 6 + 20 * 2
    for r in rows:
        assert r.n_pieces > 0
        assert 0 < r.corpus_tokens < char_baseline
        assert r.score_sum < 0  # normalized log-probs are negative
    assert rows[1].n_pieces <= rows[0].n_pieces


def test_unigram_trainer_fixture_curve(spark, sf_dir):
    """Fixture sanity: two rounds, positive inventory/token mass, and
    round 2's inventory prunes (or holds) round 1's seed set."""
    rows = sorted(
        R["unigram_train_steps"].fn(spark, sf_dir).collect(),
        key=lambda r: r.step,
    )
    assert [r.step for r in rows] == [1, 2]
    assert rows[0].n_pieces > 0 and rows[0].corpus_tokens > 0
    assert rows[1].n_pieces <= rows[0].n_pieces


def test_unigram_cost_ties_out_to_trainer_curve(spark, sf_dir):
    """Cross-operator invariant: unigram_tokenize_cost charges every
    word occurrence its final-model Viterbi piece count, so the
    per-doc costs must sum EXACTLY to the trainer's final-round
    corpus_tokens (both count each vocab word occurrence once, under
    the same model). Also pins per-doc sanity: a word costs at least
    one token, at most its char length."""
    curve = {
        r.step: r
        for r in R["unigram_train_steps"].fn(spark, sf_dir).collect()
    }
    last = curve[max(curve)]
    costs = R["unigram_tokenize_cost"].fn(spark, sf_dir).collect()
    assert sum(r.n_tokens for r in costs) == last.corpus_tokens
    for r in costs:
        assert 0 < r.n_words <= r.n_tokens
        assert r.max_word_tokens >= 1


def test_pq_rotation_transform_is_a_scaled_isometry(spark, sf_dir):
    """The signed-Hadamard rotation behind embedding_pq_rotated must
    be an exact scaled isometry — (HD)(HD)^T = d * I over the
    integers — which is what makes the 'plain x d' scaling in the
    report an apples-to-apples comparison. Also sanity-runs the
    report: both variants present, all 8 subspaces, equal vector
    counts, positive distortion."""
    import numpy as np

    from file_scraper_spark.operators.clustering import (
        ROT_D,
        _rot_dsign,
    )

    ds = np.array(_rot_dsign(), dtype=np.int64)
    H = np.array(
        [
            [-1 if bin(i & j).count("1") % 2 else 1 for j in range(ROT_D)]
            for i in range(ROT_D)
        ],
        dtype=np.int64,
    )
    assert set(ds.tolist()) <= {-1, 1}
    M = (H * ds) @ (H * ds).T
    assert (M == ROT_D * np.eye(ROT_D, dtype=np.int64)).all()

    rows = R["embedding_pq_rotated"].fn(spark, sf_dir).collect()
    by_v = {}
    for r in rows:
        by_v.setdefault(r.variant, []).append(r)
    assert set(by_v) == {"plain", "rotated"}
    for v, rs in by_v.items():
        assert sorted(r.m for r in rs) == list(range(8))
        assert len({r.n_vectors for r in rs}) == 1
        assert all(r.distortion_q > 0 for r in rs)


def test_quality_ensemble_ties_out_to_component_signals(spark, sf_dir):
    """Cross-operator invariant: every ensemble vote must equal the
    standalone signal it claims to summarize — ok_gopher ==
    gopher_quality_gate.keep, ok_fluency == (ccnet bucket != tail),
    ok_diversity == (simpson_q <= ceiling) — with missing evidence
    scored 0, and keep == (votes >= 2) exactly."""
    from file_scraper_spark.operators.text import ENSEMBLE_SIMPSON_MAX_Q

    gopher = {
        r.doc_id: r.keep
        for r in R["gopher_quality_gate"].fn(spark, sf_dir).collect()
    }
    buckets = {
        r.doc_id: r.bucket
        for r in R["text_ccnet_buckets"].fn(spark, sf_dir).collect()
    }
    div = {
        r.doc_id: r.simpson_q
        for r in R["text_diversity"].fn(spark, sf_dir).collect()
    }
    rows = R["quality_ensemble"].fn(spark, sf_dir).collect()
    assert {r.doc_id for r in rows} == set(gopher)
    assert any(r.keep for r in rows) and not all(r.keep for r in rows)
    for r in rows:
        assert r.ok_gopher == (gopher[r.doc_id] or 0)
        assert r.ok_fluency == int(buckets.get(r.doc_id, "tail") != "tail")
        want_div = int(
            r.doc_id in div and div[r.doc_id] <= ENSEMBLE_SIMPSON_MAX_Q
        )
        assert r.ok_diversity == want_div
        assert r.votes == r.ok_gopher + r.ok_fluency + r.ok_diversity
        assert r.keep == int(r.votes >= 2)


def test_curriculum_rank_is_a_permutation_in_band_order(spark, sf_dir):
    """corpus_curriculum: the no-global-sort rank must be EXACTLY the
    permutation the oracle's single ROW_NUMBER defines — ranks are
    1..n with no gaps, bands are non-increasing along the rank, and
    within a band the order is (md5(doc_id), doc_id)."""
    import hashlib

    rows = sorted(
        R["corpus_curriculum"].fn(spark, sf_dir).collect(),
        key=lambda r: r.curriculum_rank,
    )
    n = len(rows)
    assert n > 0
    assert [r.curriculum_rank for r in rows] == list(range(1, n + 1))
    bands = [r.band for r in rows]
    assert bands == sorted(bands, reverse=True)
    assert len({r.band for r in rows}) > 1, "fixture bands degenerate"
    for a, b in zip(rows, rows[1:]):
        if a.band == b.band:
            ka = hashlib.md5(str(a.doc_id).encode()).hexdigest()
            kb = hashlib.md5(str(b.doc_id).encode()).hexdigest()
            assert (ka, a.doc_id) < (kb, b.doc_id)
