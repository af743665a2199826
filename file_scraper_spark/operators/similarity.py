"""Embedding similarity search ([EXT], SURVEY §2.B).

The embedding column is ``array<float>`` (dim 64). All dot products
run as JVM higher-order functions (``zip_with`` + ``aggregate``) —
per-row, no shuffle, whole-stage codegen — with addends cast to
DECIMAL(38,12) so the fold is exact and order-independent, which makes
exact-cosine results bit-identical to the DuckDB oracle (see
registry.py determinism rules).

Scale paths:
- ``similarity_topk``: brute-force scan vs one query vector — the
  correct baseline at any scale (embarrassingly parallel scan +
  TakeOrderedAndProject top-k; no shuffle of the corpus).
- ``similarity_pairs``: blocked pair generation (here: the label
  column as the block key) + exact verify — the all-pairs analog.
- ``similarity_ann_lsh``: random-hyperplane sign-LSH bucketing — the
  sublinear candidate-generation path for 100 TB corpora; buckets
  shuffle on a 16-bit key, candidates verified with exact cosine.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from file_scraper_spark.registry import query
from file_scraper_spark.tables import load, scoped_cache

DIM = 64
N_PLANES = 8  # sign bits for ann_lsh: 256 buckets, Hamming<=1 probes 9/256
QUERY_VEC_ID = 0
PAIR_THRESHOLD = 0.25  # ~p99 of within-label cosine in the fixture
DEDUP_BANDS = 4  # LSH bands for dedup_embedding
DEDUP_BAND_BITS = 8  # sign bits per band at/below DEDUP_BASE_N vectors
DEDUP_PLANES = DEDUP_BANDS * DEDUP_BAND_BITS
DEDUP_COS = 0.9  # near-dup cosine threshold
#: corpus size up to which 8-bit bands hold (expected bucket occupancy
#: n / 2^bits <= 128); every driver fixture (sf0.001..sf0.1, corpus <=
#: ~22k vectors) is below it, so the static 8-bit oracle stays valid
#: wherever the driver checks correctness.
DEDUP_BASE_N = 32768


def dedup_band_bits(n_corpus: int) -> int:
    """Auto-scaled sign bits per band: 8 up to DEDUP_BASE_N vectors,
    then + ceil(log2(n / DEDUP_BASE_N)) — i.e. band-bucket count grows
    at least linearly with the corpus, keeping expected bucket
    occupancy (n / 2^bits) bounded by ~128 at ANY scale instead of
    degrading quadratically in the bucket-local verify. At 100 TB
    (say 10^10 docs) this yields 8 + 19 = 27-bit bands — still a tiny
    bigint key. The growth is a step function of a driver-side count,
    so the plan stays deterministic for a given corpus size; above
    DEDUP_BASE_N the pinned 8-bit oracle no longer describes the plan
    (the driver's correctness fixtures never are), and recall per
    band shrinks as bits grow — ``dedup_bands`` below compensates with
    more bands to hold the recall floor, and the empirical recall test
    (tests/test_dedup_scale.py) keeps that model honest."""
    import math  # noqa: PLC0415

    if n_corpus <= DEDUP_BASE_N:
        return DEDUP_BAND_BITS
    return DEDUP_BAND_BITS + math.ceil(math.log2(n_corpus / DEDUP_BASE_N))


#: the pair strength the recall compensator is pinned at: the planted
#: near-dups (last 4 of 64 dims zeroed -> cosine ~0.97) that every
#: recall test in the suite measures against. Clearly above the 0.9
#: emit threshold, so recall at 0.97 bounds recall for everything the
#: detector is *meant* to catch comfortably.
DEDUP_REF_COS = 0.97
#: analytic recall floor at DEDUP_REF_COS; 0.94 is exactly what the
#: pinned (4 bands x 8 bits) family delivers at the base scale, so
#: the compensator is the identity wherever the static oracle applies
DEDUP_RECALL_TARGET = 0.94


def sign_lsh_recall(cos: float, band_bits: int, n_bands: int) -> float:
    """Analytic banded sign-LSH recall for a pair at cosine ``cos``:
    P(plane agrees) = 1 - theta/pi (Goemans-Williamson / Charikar),
    a band collides iff all its bits agree, a pair is a candidate iff
    ANY band collides."""
    import math  # noqa: PLC0415

    p_plane = 1.0 - math.acos(cos) / math.pi
    return 1.0 - (1.0 - p_plane**band_bits) ** n_bands


def dedup_bands(band_bits: int) -> int:
    """Auto-scaled band COUNT compensating the per-band recall lost
    when ``dedup_band_bits`` grows bits with the corpus (more bits =
    smaller buckets = fewer collisions — including the wanted ones).
    Solves 1-(1-p^bits)^B >= DEDUP_RECALL_TARGET for B at the
    DEDUP_REF_COS reference pair; returns exactly DEDUP_BANDS at the
    8-bit base, so every driver fixture keeps the pinned 4x8 family
    and the static oracle. At the 100 TB regime (27-bit bands) this
    yields ~24 bands — banding cost grows ~log n per vector, which is
    the honest price of flat bucket occupancy AND flat recall; the
    10x empirical recall test (tests/test_dedup_scale.py) keeps the
    analytic model honest."""
    import math  # noqa: PLC0415

    p_band = (1.0 - math.acos(DEDUP_REF_COS) / math.pi) ** band_bits
    need = math.ceil(math.log(1.0 - DEDUP_RECALL_TARGET) / math.log(1.0 - p_band))
    return max(DEDUP_BANDS, need)


QUANT = 1_000_000_000  # 1e-9 quantization for exact integer vector math


def _dec_fold(products: Column) -> Column:
    """Exact sum of an array<double>, bit-identical across engines.

    Each addend is quantized with ``floor(x * 1e9)`` — floor of a
    double is exact (no rounding-mode ties, unlike double->decimal
    casts where a float32 that happens to be an odd multiple of 2^-s
    rounds HALF_UP in Spark but half-even in DuckDB) — and summed as
    BIGINT (exact, associative, so Spark's partial-aggregation order
    cannot perturb it). |addend| <= ~1e9 and arrays are short, so the
    sum is far from overflow. The 1e-9 quantization defines the
    operator's semantics; both engines compute the identical value.
    """
    return (
        F.aggregate(
            products,
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.floor(x * F.lit(float(QUANT))),
        ).cast("double")
        / QUANT
    )


def dot(a: Column, b: Column) -> Column:
    """Exact dot product of two float-array columns (double result)."""
    return _dec_fold(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        _dec_fold(F.transform(a, lambda x: x.cast("double") * x.cast("double")))
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine with the zero-vector contract: NULL, not a crash.
    ``try_divide`` returns NULL on a zero divisor — which is exactly
    what DuckDB's double division yields natively, so the oracles
    need no CASE. Under ANSI mode the plain ``/`` made ONE zero-norm
    embedding kill the whole job (found by the embeddings corpus
    fuzzer, round 9); NULL rows instead sort last under every
    ORDER BY ... DESC in the family (both engines default NULLS LAST
    on DESC) and drop out of MAX/SUM aggregation identically."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


# DuckDB twin of the quantized fold over unnested vector elements.
def _oracle_dec_sum(expr: str) -> str:
    return (
        f"CAST(SUM(CAST(floor(({expr}) * {QUANT}) AS BIGINT)) AS DOUBLE)"
        f" / {QUANT}"
    )


@query(
    "similarity_topk",
    oracle=f"""
    WITH q AS (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    ), qn AS (
      SELECT sqrt({_oracle_dec_sum('CAST(x AS DOUBLE) * CAST(x AS DOUBLE)')}) AS qnorm
      FROM (SELECT unnest(qe) AS x FROM q)
    ), flat AS (
      SELECT vec_id, unnest(embedding) AS ev, unnest(qe) AS qv
      FROM embeddings, q
    ), dots AS (
      SELECT vec_id,
             {_oracle_dec_sum('CAST(ev AS DOUBLE) * CAST(qv AS DOUBLE)')} AS dp,
             sqrt({_oracle_dec_sum('CAST(ev AS DOUBLE) * CAST(ev AS DOUBLE)')}) AS nrm
      FROM flat GROUP BY vec_id
    )
    SELECT vec_id, dp / (nrm * qn.qnorm) AS cosine
    FROM dots, qn
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the vec_id=0 query vector.
    Plan: one scan, one batch-vectorized cosine kernel
    (``_scan_probe_cos_fn`` — r13: replaces the per-row interpreted
    JVM fold, 3 x 64 lambda calls per corpus row, bit-exactly; the
    query vector is a driver-side scan parameter as before),
    TakeOrderedAndProject(10) — no shuffle of the corpus at any
    scale."""
    emb = load(spark, sf_dir, "embeddings")
    q_row = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .head()
    )
    qvec = [float(v) for v in q_row[0]]
    return (
        emb.select("vec_id", "embedding")
        .mapInPandas(
            _scan_probe_cos_fn([(QUERY_VEC_ID, qvec, None)], False),
            "vec_id long, cosine double",
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


#: per-element quantization for the all-pairs Gram-matrix path; with
#: |x| <= ~10 the dot of two 64-dim quantized vectors is < 2^53, so
#: float64 matmul over the quantized integers is EXACT (see below)
PAIR_QUANT = 10_000

#: strip count for the triangle partitioning of each label block —
#: every block splits into PAIR_STRIPS strips and pairs compute in
#: K(K+1)/2 independent tasks per label. K=4 turns the 10-label
#: corpus into 100 tasks (fills 32 cores; the un-stripped form left
#: 22 idle at 100x where blocks reach ~20k rows) at a 4x row
#: replication in ONE shuffle of the vectors. Raise for fatter blocks:
#: per-task memory is O((b/K)^2) and replication stays linear.
PAIR_STRIPS = 4


@query(
    "similarity_pairs",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {PAIR_QUANT})
                         AS BIGINT)) AS qe
      FROM embeddings
    ), norms AS (
      SELECT vec_id,
             sqrt(CAST(SUM(qv * qv) AS DOUBLE)) AS nq
      FROM (SELECT vec_id, unnest(qe) AS qv FROM q)
      GROUP BY vec_id
    ), dots AS (
      SELECT vec_a, vec_b, CAST(SUM(av * bv) AS DOUBLE) AS dp
      FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               unnest(a.qe) AS av, unnest(b.qe) AS bv
        FROM q a JOIN q b
          ON a.label = b.label AND a.vec_id < b.vec_id
      )
      GROUP BY vec_a, vec_b
    )
    SELECT d.vec_a, d.vec_b, d.dp / (na.nq * nb.nq) AS cosine
    FROM dots d
    JOIN norms na ON na.vec_id = d.vec_a
    JOIN norms nb ON nb.vec_id = d.vec_b
    WHERE d.dp / (na.nq * nb.nq) >= {PAIR_THRESHOLD}
    """,
)
def similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: blocked candidate generation (label as
    block key — an equi-join, never a cross join) + exact cosine over
    1e-4-quantized vectors, computed block-locally as a Gram matrix.

    Why this shape: the naive per-pair expression fold is interpreted
    (no codegen for higher-order lambdas) and quadratic in block size
    — measured 468s on the 10x probe. Each strip-pair task arrives
    once via applyInPandas and its dot products are ONE matrix
    multiply per row-strip. Exactness is preserved because the
    quantized elements are integers with |dot| < 2^53: every float64
    product and partial sum is an exactly-representable integer, so
    BLAS summation order cannot perturb the result and the value
    hash-matches DuckDB's integer arithmetic bit-for-bit.

    Scale shape (round 11): TRIANGLE PARTITIONING. A label block is
    a pair-parallelism wall — 10 labels = 10 tasks no matter how many
    cores — and O(b^2 d) per block at 1000x. Each row deterministically
    lands in strip s = xxhash64(vec_id) % K and is shipped to the K
    tasks {(min(s,t), max(s,t)) : t < K}; task (p, q) computes exactly
    the pairs whose strips are {p, q} (cross Gram for p != q, intra
    for p == q), so every pair is produced exactly once and the task
    grid is K(K+1)/2 per label regardless of block size. Shuffle is
    K copies of the vectors (never pairs); per-task memory is bounded
    by (b/K)^2. K is the scale knob now — sub-blocking no longer
    changes the plan shape, only the constant."""
    K = PAIR_STRIPS
    emb = load(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * PAIR_QUANT).cast("long"),
        ).alias("qe"),
        F.pmod(F.xxhash64("vec_id"), F.lit(K)).cast("int").alias("s"),
    )
    tasks = q.select(
        "vec_id",
        "label",
        "qe",
        "s",
        F.explode(
            F.expr(
                f"transform(sequence(0, {K - 1}), "
                "t -> struct(least(s, t) AS sa, greatest(s, t) AS sb))"
            )
        ).alias("task"),
    )

    def strip_pairs(key, pdf):
        _, sa, sb = key
        return _gram_pairs_striped(pdf, PAIR_THRESHOLD, sa, sb)

    return tasks.groupBy("label", "task.sa", "task.sb").applyInPandas(
        strip_pairs, "vec_a long, vec_b long, cosine double"
    )


def _gram_pairs_striped(pdf, threshold: float, sa: int, sb: int):
    """Pairs for one triangle task: intra-strip (sa == sb, classic
    upper-triangle Gram) or cross-strip (sa != sb, rectangular Gram
    between the two strips, ids ordered per pair). Same exact-integer
    float64 argument as _gram_pairs."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    if sa == sb:
        return _gram_pairs(pdf, threshold)
    a = pdf[pdf["s"] == sa]
    b = pdf[pdf["s"] == sb]
    if a.empty or b.empty:
        return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
    ida = a["vec_id"].to_numpy()
    idb = b["vec_id"].to_numpy()
    A = np.array(a["qe"].tolist(), dtype=np.float64)
    B = np.array(b["qe"].tolist(), dtype=np.float64)
    na = np.sqrt((A * A).sum(axis=1))
    nb = np.sqrt((B * B).sum(axis=1))
    out_a: list = []
    out_b: list = []
    out_c: list = []
    strip = 1024
    for s in range(0, len(ida), strip):
        G = A[s : s + strip] @ B.T
        C = G / np.outer(na[s : s + strip], nb)
        ia, ib = np.nonzero(C >= threshold)
        va = ida[s + ia]
        vb = idb[ib]
        out_a.append(np.minimum(va, vb))
        out_b.append(np.maximum(va, vb))
        out_c.append(C[ia, ib])
    if not out_a:
        return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
    return pd.DataFrame(
        {
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "cosine": np.concatenate(out_c),
        }
    )


def _gram_pairs(pdf, threshold: float):
    """All pairs (vec_a < vec_b, cosine >= threshold) within one block
    of quantized vectors, via strip-chunked float64 Gram matrices.
    Exact: the quantized elements are integers and every product /
    partial sum stays below 2^53, so each float64 intermediate is an
    exactly-representable integer — BLAS summation order cannot
    perturb it, and the final division matches DuckDB's integer
    arithmetic bit-for-bit."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    Q = np.array(pdf["qe"].tolist(), dtype=np.float64)[order]
    nq = np.sqrt((Q * Q).sum(axis=1))
    n = len(ids)
    out_a: list = []
    out_b: list = []
    out_c: list = []
    strip = 1024
    for s in range(0, n, strip):
        G = Q[s : s + strip] @ Q.T
        C = G / np.outer(nq[s : s + strip], nq)
        ia, ib = np.nonzero(C >= threshold)
        keep = (s + ia) < ib  # ids sorted => index order = id order
        out_a.append(ids[s + ia[keep]])
        out_b.append(ids[ib[keep]])
        out_c.append(C[ia[keep], ib[keep]])
    if not out_a:
        return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
    return pd.DataFrame(
        {
            "vec_a": np.concatenate(out_a),
            "vec_b": np.concatenate(out_b),
            "cosine": np.concatenate(out_c),
        }
    )


@query(
    "embedding_centroids",
    oracle=f"""
    SELECT label, pos,
           {_oracle_dec_sum('v')} / COUNT(*) AS centroid
    FROM (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension) — the
    aggregation shape used for IVF coarse quantizers. posexplode +
    groupBy: partial aggregation makes the shuffle labels x dims."""
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    return flat.groupBy("label", "pos").agg(
        (
            (F.sum(F.floor(F.col("v") * float(QUANT))).cast("double") / QUANT)
            / F.count("v")
        ).alias("centroid")
    )


@query(
    "embedding_quantize",
    oracle="""
    WITH flat AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), stats AS (
      SELECT vec_id, MIN(v) AS lo, MAX(v) AS hi FROM flat GROUP BY vec_id
    ), codes AS (
      SELECT f.vec_id,
             CASE WHEN s.hi = s.lo THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor((f.v - s.lo) / (s.hi - s.lo) * 255)
                            AS BIGINT) END AS code
      FROM flat f JOIN stats s ON f.vec_id = s.vec_id
    )
    SELECT vec_id,
           CAST(SUM(code) AS BIGINT) AS code_sum,
           CAST(MIN(code) AS BIGINT) AS code_min,
           CAST(MAX(code) AS BIGINT) AS code_max
    FROM codes GROUP BY vec_id
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (per-vector min/max) uint8 quantization — the 4x storage
    compression step before ANN indexing at corpus scale. Codes are
    floor((v-lo)/(hi-lo)*255): pure per-row double arithmetic + floor,
    so engine-identical; summarized per vector for a compact oracle
    result. All higher-order functions, no explode, no shuffle.

    STAGED projections, deliberately: composing lo = array_min(v) and
    codes = transform(v, x -> ... lo ...) as one expression tree
    inlines the full array_min subtree into the ELEMENT lambda, so
    min/max re-run per element — O(d^2) per row, and the 100x probe
    measured it at 160s (the engine's slowest op). With lo/hi and then
    codes each materialized in their own select, every array pass is
    O(d): each alias is referenced 3x downstream and non-cheap, which
    is exactly the condition under which CollapseProject keeps the
    projection boundary instead of re-inlining. 99.4s -> 1.5s at 100x
    (same-JVM interleaved A/B, min of 2; bit-identical rows)."""
    emb = load(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    staged = emb.select("vec_id", v.alias("v")).select(
        "vec_id",
        "v",
        F.array_min("v").alias("lo"),
        F.array_max("v").alias("hi"),
    )
    # Constant-vector guard (found by the embeddings corpus fuzzer,
    # round 9): hi == lo made the divisor 0 — under ANSI mode ONE
    # degenerate vector killed the whole job (the exact one-bad-row
    # -in-a-trillion failure a 100 TB pipeline must absorb). Defined
    # semantics: a constant vector quantizes to all-zero codes, in
    # both engines. CASE branches evaluate lazily per row, so the
    # divide never runs on the degenerate rows.
    rng = F.col("hi") - F.col("lo")
    codes = staged.select(
        "vec_id",
        F.transform(
            "v",
            lambda x: F.when(rng == 0, F.lit(0).cast("long")).otherwise(
                F.floor((x - F.col("lo")) / rng * 255)
            ),
        ).alias("codes"),
    )
    return codes.select(
        "vec_id",
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda a, c: a + c
        ).alias("code_sum"),
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
    )


def _dedup_plane(p: int) -> list[float]:
    """Hyperplane for the dedup LSH bands: component d is 40 bits of
    md5(f"{p}:{d}") mapped into [-1, 1). Unlike ``_plane`` (crc32),
    this derivation exists because DuckDB computes the identical md5 —
    the oracle re-derives the very same planes in SQL instead of
    receiving thousands of inlined literals."""
    out = []
    for d in range(DIM):
        h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:10], 16)
        out.append(h / 2.0**39 - 1.0)
    return out


def _band_rows_fn(band_bits: int, n_bands: int = DEDUP_BANDS):
    """mapInPandas generator computing (vec_id, band, band_val) rows,
    numpy-vectorized, for ``n_bands`` bands of ``band_bits`` sign bits
    (planes indexed 0..bands*bits-1, so growing either dimension
    extends the same md5 plane family).

    Semantics are IDENTICAL to the expression form the oracle
    re-derives: per plane p, sign of sum_d floor((v_d * w_pd) * 1e9)
    — numpy's elementwise double multiply and floor are the same IEEE
    ops Catalyst would run, and the integer partial sums stay below
    2^53, so float64 accumulation is exact. Replaces 32 interpreted
    Catalyst folds per vector (6.5s of the 10x probe's 16s) with two
    matmul-shaped elementwise passes."""
    n_planes = n_bands * band_bits

    def band_rows(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        P = np.array(
            [_dedup_plane(p) for p in range(n_planes)]
        )  # (planes, dim)
        weights = 1 << (np.arange(n_planes, dtype=np.int64) % band_bits)
        for pdf in batches:
            n = len(pdf)
            ids = pdf["vec_id"].to_numpy()
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            for s in range(0, n, 2048):
                chunk = V[s : s + 2048]
                prod = chunk[:, None, :] * P[None, :, :]
                sums = np.floor(prod * float(QUANT)).sum(axis=2)
                bits = (sums > 0) * weights
                bands = bits.reshape(
                    len(chunk), n_bands, band_bits
                ).sum(axis=2)
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(ids[s : s + 2048], n_bands),
                        "band": np.tile(
                            np.arange(n_bands), len(chunk)
                        ),
                        "band_val": bands.reshape(-1),
                    }
                )

    return band_rows


@query(
    "dedup_embedding",
    oracle=f"""
    WITH planes AS (
      SELECT CAST(p AS INT) AS p, CAST(d AS INT) AS pos,
             CAST(('0x' || substring(
                 md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)),
                 1, 10)) AS BIGINT) / {float(2.0**39)!r} - 1.0 AS w
      FROM range(0, {DEDUP_PLANES}) t(p), range(0, {DIM}) u(d)
    ), base AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), corpus AS (
      SELECT vec_id, pos, v FROM base
      UNION ALL
      SELECT -(vec_id + 1), pos,
             CASE WHEN pos < {DIM - 4} THEN v ELSE 0.0 END
      FROM base WHERE vec_id % 20 = 0
    ), proj AS (
      SELECT c.vec_id, pl.p,
             {_oracle_dec_sum('c.v * pl.w')} AS s
      FROM corpus c JOIN planes pl ON pl.pos = c.pos
      GROUP BY c.vec_id, pl.p
    ), buckets AS (
      SELECT vec_id, p // {DEDUP_BAND_BITS} AS band,
             CAST(SUM(CASE WHEN s > 0
                      THEN (1 << (p % {DEDUP_BAND_BITS}))
                      ELSE 0 END) AS BIGINT) AS band_val
      FROM proj GROUP BY vec_id, p // {DEDUP_BAND_BITS}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id
    ), corpusq AS (
      SELECT vec_id, pos,
             CAST(floor(v * {PAIR_QUANT}) AS BIGINT) AS qv
      FROM corpus
    ), normsq AS (
      SELECT vec_id, sqrt(CAST(SUM(qv * qv) AS DOUBLE)) AS nq
      FROM corpusq GROUP BY vec_id
    ), dots AS (
      SELECT c.vec_a, c.vec_b,
             CAST(SUM(ca.qv * cb.qv) AS DOUBLE) AS dp
      FROM cand c
      JOIN corpusq ca ON ca.vec_id = c.vec_a
      JOIN corpusq cb ON cb.vec_id = c.vec_b AND cb.pos = ca.pos
      GROUP BY c.vec_a, c.vec_b
    )
    SELECT d.vec_a, d.vec_b, d.dp / (na.nq * nb.nq) AS cosine
    FROM dots d
    JOIN normsq na ON na.vec_id = d.vec_a
    JOIN normsq nb ON nb.vec_id = d.vec_b
    WHERE d.dp / (na.nq * nb.nq) >= {DEDUP_COS}
    """,
    tags=("near-dup", "embedding"),
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection — the vector-space member
    of the dedup family. Blocking key is an 8-bit sign-LSH bucket
    (md5-derived hyperplanes, quantized projections), NOT the
    ground-truth label: candidates are bucket collisions only, then
    exact cosine >= 0.9 verifies. The fixture has no near-identical
    vectors, so the corpus plants deterministic near-dups (every 20th
    vector re-appears as the negative-mirror id with its last 4 dims
    zeroed — direction almost preserved, cosine ~0.97).

    Scale shape: banded LSH — 4 bands of 8 sign bits; a pair is a
    candidate if ANY band fully agrees, which lifts planted-pair
    recall from ~0.5 (one 8-bit block: each ~14-degree pair has a
    ~8% chance per plane of splitting) to ~0.95. Bucketing is one
    scan (32 JVM folds per row); the candidate join shuffles on
    (band, band_val); pairs are DISTINCT'ed as bare ids before
    verification, which re-joins vectors and norms and spends ONE dot
    fold per pair (norms precomputed per vector). Per-band bucket
    space must still grow with the corpus — size DEDUP_BAND_BITS ~
    log2(n) + c at production scale. Fully oracle-checked —
    projections, band buckets and cosines are all quantized integer
    arithmetic, and even the hyperplanes are re-derived inside DuckDB
    from the same md5."""
    emb = load(spark, sf_dir, "embeddings")
    vals = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select("vec_id", vals.alias("v"))
    pert = base.filter(F.col("vec_id") % 20 == 0).select(
        (-(F.col("vec_id") + 1)).alias("vec_id"),
        F.transform(
            "v",
            lambda x, i: F.when(i < DIM - 4, x).otherwise(F.lit(0.0)),
        ).alias("v"),
    )
    corpus = base.unionAll(pert)

    # auto-scale bucket space from the corpus size (a parquet metadata
    # count — no scan; the +5% planted copies are approximated, which
    # is all a log2 step function needs) so bucket occupancy stays
    # bounded at 100x; 8 bits for every driver fixture.
    band_bits = dedup_band_bits(emb.count() * 21 // 20)
    n_bands = dedup_bands(band_bits)

    # scoped cache (tables.scoped_cache — at most one live intermediate
    # per process): banding is the expensive per-vector step and the
    # banded frame is tiny (n_bands rows of 3 ints per vector).
    banded = scoped_cache(
        corpus.mapInPandas(
            _band_rows_fn(band_bits, n_bands),
            "vec_id long, band int, band_val long",
        )
    )
    # Verification is per-BUCKET, not per-pair: each (band, band_val)
    # bucket's quantized vectors arrive as one pandas group and the
    # bucket-local all-pairs cosines come out of strip-chunked float64
    # Gram matrices (_gram_pairs — exact, see its docstring). The old
    # per-pair expression-fold verify was interpreted and took 31s at
    # the 10x probe; this is the same plan shape as similarity_pairs.
    # A pair colliding in several bands is computed identically in
    # each, so dropDuplicates on the ids is deterministic.
    corpus_q = corpus.select(
        "vec_id",
        F.transform(
            "v", lambda x: F.floor(x * PAIR_QUANT).cast("long")
        ).alias("qe"),
    )
    grouped = banded.join(corpus_q, "vec_id")

    def bucket_pairs(pdf):
        return _gram_pairs(pdf, DEDUP_COS)

    return (
        grouped.groupBy("band", "band_val")
        .applyInPandas(bucket_pairs, "vec_a long, vec_b long, cosine double")
        .dropDuplicates(["vec_a", "vec_b"])
    )


# Exact-cosine rerank of a candidate set, shared by both ANN oracles:
# identical to the similarity_topk oracle restricted to `cand`.
_ORACLE_RERANK = f"""
    q AS (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    ), qn AS (
      SELECT sqrt({{qsum}}) AS qnorm
      FROM (SELECT CAST(unnest(qe) AS DOUBLE) AS x FROM q)
    ), cflat AS (
      SELECT e.vec_id, unnest(e.embedding) AS ev, unnest(q.qe) AS qv
      FROM embeddings e, q
      WHERE e.vec_id IN (SELECT vec_id FROM cand)
    ), cdots AS (
      SELECT vec_id,
             {{dsum}} AS dp,
             sqrt({{nsum}}) AS nrm
      FROM cflat GROUP BY vec_id
    )
    SELECT vec_id, dp / (nrm * qn.qnorm) AS cosine
    FROM cdots, qn
    ORDER BY cosine DESC, vec_id
    LIMIT 10
"""


def _oracle_rerank() -> str:
    return _ORACLE_RERANK.format(
        qsum=_oracle_dec_sum("x * x"),
        dsum=_oracle_dec_sum("CAST(ev AS DOUBLE) * CAST(qv AS DOUBLE)"),
        nsum=_oracle_dec_sum("CAST(ev AS DOUBLE) * CAST(ev AS DOUBLE)"),
    )


@query(
    "similarity_ann_ivf",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, label,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), cent AS (
      SELECT label, pos,
             (CAST(SUM(CAST(floor(v * {QUANT}) AS BIGINT)) AS DOUBLE)
              / {QUANT}) / COUNT(*) AS c
      FROM flat GROUP BY label, pos
    ), dots AS (
      SELECT f.vec_id, c.label,
             SUM(CAST(floor((f.v * c.c) * {QUANT}) AS BIGINT)) AS dp
      FROM flat f JOIN cent c ON c.pos = f.pos
      GROUP BY f.vec_id, c.label
    ), assigned AS (
      SELECT vec_id, label AS cell FROM (
        SELECT vec_id, label,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id ORDER BY dp DESC, label ASC) AS rn
        FROM dots
      ) WHERE rn = 1
    ), probe AS (
      SELECT label FROM dots WHERE vec_id = {QUERY_VEC_ID}
      ORDER BY dp DESC, label ASC LIMIT 3
    ), cand AS (
      SELECT vec_id FROM assigned
      WHERE cell IN (SELECT label FROM probe)
    ), {_oracle_rerank()}
    """,
    tags=("ann", "ivf"),
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF (inverted-file) coarse quantization: the per-label
    centroids act as the coarse codebook; every vector is assigned to
    its nearest centroid cell; the query probes its 3 nearest cells and
    re-ranks candidates with exact cosine.

    Driver-checkable: every arithmetic step (centroid means, cell
    argmax, probe choice, rerank) uses the exact quantized fold
    (``_dec_fold``), so the oracle REPLAYS the whole algorithm in SQL
    — cell assignment ties break to the lowest label on both engines.

    Scale shape: centroid table is tiny (cells x dims) and broadcast;
    assignment is one scan; a probe touches nprobe/ncells of the
    corpus — the standard sublinear trade."""
    emb = load(spark, sf_dir, "embeddings")
    cents = embedding_centroids(spark, sf_dir).collect()  # tiny codebook
    by_label: dict[int, list[float]] = {}
    for r in cents:
        by_label.setdefault(r["label"], [0.0] * DIM)[r["pos"]] = r["centroid"]
    labels = sorted(by_label)

    # one driver-side fetch serves both the query vector and the
    # codebook probe selection
    qrow = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").head()
    )
    qv = [float(x) for x in qrow[0]]

    def pydot(a, b):
        # the exact quantized fold (_dec_fold) in driver-side Python:
        # integer sums, so probe choice is bit-identical to the
        # oracle's ORDER BY dp DESC (Python sort is stable -> ties
        # keep ascending-label order, matching `label ASC`)
        import math  # noqa: PLC0415

        return sum(int(math.floor(x * y * QUANT)) for x, y in zip(a, b))

    probe = set(
        sorted(labels, key=lambda lab: -pydot(qv, by_label[lab]))[:3]
    )

    # Cell assignment + candidate rerank in ONE numpy mapInPandas pass.
    # Bit-identical to the expression form (the _band_rows_fn
    # argument): v*c and (v*c)*1e9 are the same IEEE float64 ops
    # Catalyst runs, np.floor == F.floor, and every accumulated value
    # is an integer-valued float64 below 2^53, so summation order
    # cannot perturb it; argmax takes the FIRST maximum, which with
    # ascending labels is the same lowest-label tie rule as the
    # oracle's ROW_NUMBER ... ORDER BY dp DESC, label ASC. Replaces
    # per-row interpreted higher-order folds (aggregate/zip_with are
    # not whole-stage-codegen'd) with two matmul-shaped passes.
    labels_arr = list(labels)
    cent_rows = [by_label[lab] for lab in labels_arr]

    def assign_and_rerank(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        C = np.array(cent_rows, dtype=np.float64)  # (L, D)
        L = np.array(labels_arr, dtype=np.int64)
        probe_mask_labels = np.array(
            [lab in probe for lab in labels_arr]
        )
        Q = np.array(qv, dtype=np.float64)  # (D,)
        qn = np.sqrt(np.floor((Q * Q) * float(QUANT)).sum() / QUANT)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            for s in range(0, len(V), 2048):
                chunk = V[s : s + 2048]
                prod = chunk[:, None, :] * C[None, :, :]  # (n, L, D)
                dots = np.floor(prod * float(QUANT)).sum(axis=2)
                cell_idx = np.argmax(dots, axis=1)
                keep = probe_mask_labels[cell_idx]
                if not keep.any():
                    continue
                kv = chunk[keep]
                dp = np.floor((kv * Q[None, :]) * float(QUANT)).sum(
                    axis=1
                ) / QUANT
                nrm = np.sqrt(
                    np.floor((kv * kv) * float(QUANT)).sum(axis=1) / QUANT
                )
                yield pd.DataFrame(
                    {
                        "vec_id": ids[s : s + 2048][keep],
                        "cosine": dp / (nrm * qn),
                    }
                )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        assign_and_rerank, "vec_id long, cosine double"
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(10)


def _py_sign_bucket(qvec: list) -> int:
    """8-bit sign-LSH bucket id of ONE vector under the md5-derived
    hyperplane family (``_dedup_plane``), computed on the driver: bit
    p is set iff the exact quantized projection onto plane p is
    positive. Bit-exact against the oracle's fold: the addends
    floor((v_d * w_pd) * 1e9) are the same IEEE double ops in
    CPython, summed as exact ints, and a (sum/1e9) > 0 test is
    equivalent to the integer sum > 0."""
    quant = float(QUANT)
    bucket = 0
    for p in range(N_PLANES):
        plane = _dedup_plane(p)
        s = sum(
            math.floor((v * w) * quant) for v, w in zip(qvec, plane)
        )
        if s > 0:
            bucket += 1 << p
    return bucket


def _scan_probe_cos_fn(qspecs: list, emit_qid: bool):
    """Fused linear-scan cosine kernel shared by similarity_topk and
    the two sign-LSH ANN forms (r13 optimization): one mapInPandas
    pass over (vec_id, embedding) computes — batch-vectorized — the
    8 sign-LSH bucket bits (only when a probe filter is present) and
    the exact quantized-fold cosine against each driver-side query
    vector, emitting (query_id?, vec_id, cosine) rows only for probe
    hits. Replaces per-row interpreted ``_dec_fold`` HOF lambdas
    (N_PLANES x 64 for bucketing plus 3 x 64 per cosine).

    ``qspecs`` is a list of (query_id, qvec, probe_buckets_or_None);
    a None probe set means "score every corpus row" (the brute-force
    top-k form). Bit-exactness mirrors ``_maxsim_cos_fn``: float64
    products of exactly-widened float32 inputs, floor(x*1e9) addends
    summed exactly (integers < 2^53), one IEEE sqrt per norm, NULL on
    a zero divisor exactly like ``try_divide``; bucket bits test the
    exact integer projection sum > 0, identical to ``_py_sign_bucket``.
    """

    def gen(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        if not qspecs:
            return
        quant = float(QUANT)
        Q = np.array([s[1] for s in qspecs], dtype=np.float64)
        qn = np.sqrt(np.floor((Q * Q) * quant).sum(axis=1) / quant)
        probes = [
            None if s[2] is None else np.array(sorted(s[2]), dtype=np.int64)
            for s in qspecs
        ]
        need_buckets = any(p is not None for p in probes)
        if need_buckets:
            P = np.array([_dedup_plane(p) for p in range(N_PLANES)])
            weights = 1 << np.arange(N_PLANES, dtype=np.int64)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            ids = pdf["vec_id"].to_numpy()
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            nv = np.sqrt(np.floor((V * V) * quant).sum(axis=1) / quant)
            if need_buckets:
                proj = np.floor(
                    (V[:, None, :] * P[None, :, :]) * quant
                ).sum(axis=2)
                buckets = ((proj > 0) * weights).sum(axis=1)
            for j, (qid, _, _probe) in enumerate(qspecs):
                if probes[j] is None:
                    Vs, ids_s, nv_s = V, ids, nv
                else:
                    sel = np.isin(buckets, probes[j])
                    if not sel.any():
                        continue
                    Vs, ids_s, nv_s = V[sel], ids[sel], nv[sel]
                dp = (
                    np.floor((Vs * Q[j][None, :]) * quant).sum(axis=1)
                    / quant
                )
                denom = nv_s * qn[j]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dp / denom
                cols = {"vec_id": ids_s, "cosine": cos}
                if emit_qid:
                    cols = {
                        "query_id": np.full(
                            len(ids_s), qid, dtype=np.int64
                        ),
                        **cols,
                    }
                out = pd.DataFrame(cols)
                zero = denom == 0.0
                if zero.any():
                    out.loc[zero, "cosine"] = None
                yield out

    return gen


@query(
    "similarity_ann_lsh",
    oracle=f"""
    WITH planes AS (
      SELECT CAST(p AS INT) AS p, CAST(d AS INT) AS pos,
             CAST(('0x' || substring(
                 md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)),
                 1, 10)) AS BIGINT) / {float(2.0**39)!r} - 1.0 AS w
      FROM range(0, {N_PLANES}) t(p), range(0, {DIM}) u(d)
    ), flat AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), proj AS (
      SELECT f.vec_id, pl.p,
             {_oracle_dec_sum('f.v * pl.w')} AS s
      FROM flat f JOIN planes pl ON pl.pos = f.pos
      GROUP BY f.vec_id, pl.p
    ), buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN s > 0
                      THEN (CAST(1 AS BIGINT) << p)
                      ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id
    ), qb AS (
      SELECT bucket AS b FROM buckets WHERE vec_id = {QUERY_VEC_ID}
    ), probe AS (
      SELECT b AS pb FROM qb
      UNION ALL
      SELECT xor(b, CAST(1 AS BIGINT) << p)
      FROM qb, range(0, {N_PLANES}) t(p)
    ), cand AS (
      SELECT vec_id FROM buckets
      WHERE bucket IN (SELECT pb FROM probe)
    ), {_oracle_rerank()}
    """,
    tags=("ann", "lsh"),
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane sign-LSH (the scale path). 8 sign
    bits -> 256 buckets; query probes its own bucket and all
    Hamming<=1 neighbors (9/256 of the corpus in expectation);
    candidates re-ranked by exact cosine. At larger corpora, scale
    bits like ``dedup_band_bits`` does to keep bucket occupancy flat.

    Driver-checkable: planes come from the md5 family
    (``_dedup_plane`` — derivable inside DuckDB, unlike a crc32 seed)
    and every sign projection uses the exact quantized fold, so the
    oracle REPLAYS bucketing, probing, and rerank in SQL. Recall vs
    the exact top-10 is additionally asserted in tests."""
    emb = load(spark, sf_dir, "embeddings")
    # single-probe form: the query vector is fetched with one driver
    # .head() (a tiny pruned job — the vec_id filter reaches the
    # scan) and its bucket + 9-bucket probe set computed driver-side
    # (bit-exact ``_py_sign_bucket``); corpus bucketing, the probe
    # membership filter AND the exact-cosine rerank then run fused in
    # ONE batch-vectorized kernel pass (r13: previously the corpus
    # paid N_PLANES interpreted 64-element folds per row to bucket,
    # plus 3 more per candidate to rerank).
    q_row = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .head()
    )
    qvec = [float(v) for v in q_row[0]]
    q_bucket = _py_sign_bucket(qvec)
    probe = {q_bucket} | {q_bucket ^ (1 << p) for p in range(N_PLANES)}
    return (
        emb.select("vec_id", "embedding")
        .mapInPandas(
            _scan_probe_cos_fn([(QUERY_VEC_ID, qvec, probe)], False),
            "vec_id long, cosine double",
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


#: query-set size for the batched ANN probe: vec_id < 4
N_QUERY_BATCH = 4


@query(
    "similarity_ann_lsh_batch",
    oracle=f"""
    WITH planes AS (
      SELECT CAST(p AS INT) AS p, CAST(d AS INT) AS pos,
             CAST(('0x' || substring(
                 md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)),
                 1, 10)) AS BIGINT) / {float(2.0**39)!r} - 1.0 AS w
      FROM range(0, {N_PLANES}) t(p), range(0, {DIM}) u(d)
    ), flat AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), proj AS (
      SELECT f.vec_id, pl.p,
             {_oracle_dec_sum('f.v * pl.w')} AS s
      FROM flat f JOIN planes pl ON pl.pos = f.pos
      GROUP BY f.vec_id, pl.p
    ), buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN s > 0
                      THEN (CAST(1 AS BIGINT) << p)
                      ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id
    ), qs AS (
      SELECT vec_id AS query_id, bucket AS qb FROM buckets
      WHERE vec_id < {N_QUERY_BATCH}
    ), probe AS (
      SELECT query_id, qb AS pb FROM qs
      UNION ALL
      SELECT query_id, xor(qb, CAST(1 AS BIGINT) << p)
      FROM qs, range(0, {N_PLANES}) t(p)
    ), cand AS (
      SELECT p.query_id, b.vec_id
      FROM probe p JOIN buckets b ON b.bucket = p.pb
    ), vnorm AS (
      SELECT vec_id, sqrt({_oracle_dec_sum('v * v')}) AS nrm
      FROM flat GROUP BY vec_id
    ), dots AS (
      SELECT c.query_id, c.vec_id,
             {_oracle_dec_sum('f.v * q.v')} AS dp
      FROM cand c
      JOIN flat f ON f.vec_id = c.vec_id
      JOIN flat q ON q.vec_id = c.query_id AND q.pos = f.pos
      GROUP BY c.query_id, c.vec_id
    ), scored AS (
      SELECT d.query_id, d.vec_id,
             d.dp / (vn.nrm * qn.nrm) AS cosine,
             row_number() OVER (
               PARTITION BY d.query_id
               ORDER BY d.dp / (vn.nrm * qn.nrm) DESC, d.vec_id ASC
             ) AS rnk
      FROM dots d
      JOIN vnorm vn ON vn.vec_id = d.vec_id
      JOIN vnorm qn ON qn.vec_id = d.query_id
    )
    SELECT query_id, vec_id, cosine FROM scored
    WHERE rnk <= 10
    ORDER BY query_id, vec_id
    """,
    tags=("ann", "lsh", "batch"),
)
def similarity_ann_lsh_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched sign-LSH ANN: top-10 neighbors for a SET of query
    vectors in one job — the serving shape for "embed a batch,
    retrieve for each" workloads, vs similarity_ann_lsh's one-vector
    probe.

    Dataflow (r13): the N_QUERY_BATCH query rows are fetched once
    driver-side (the ``vec_id < N_QUERY_BATCH`` filter is pushed to
    a tiny pruned parquet read — the scan-parameter pattern) and
    their 9-bucket probe sets (self + all Hamming-1 flips) computed
    with the bit-exact ``_py_sign_bucket``; corpus bucketing, probe
    membership and the exact-cosine rerank for ALL queries then run
    fused in ONE batch-vectorized kernel pass over the corpus.
    Per-query row_number keeps the 10 best; only the candidate
    subset (~9/256 of the corpus per query) reaches that shuffle.
    (The pre-r13 form kept probe selection in-plan as a broadcast
    join onto a JVM-bucketed corpus — but the bucketing paid
    N_PLANES interpreted 64-element folds per corpus row and the
    rerank 3 more per candidate; same-JVM A/B in
    OPTIMIZATION_r13.md.)

    100 TB shape: corpus side stays a single scan + one kernel; the
    rerank shuffle carries |queries| * expected bucket occupancy * 9
    rows. N more query vectors cost N more rows in the kernel
    closure. Scale sign bits with corpus size (see
    ``dedup_band_bits``) to hold occupancy — and with them the probe
    fan-out — flat."""
    emb = load(spark, sf_dir, "embeddings")
    q_rows = (
        emb.filter(F.col("vec_id") < N_QUERY_BATCH)
        .select("vec_id", "embedding")
        .collect()
    )
    qspecs = []
    for r in sorted(q_rows, key=lambda r: r["vec_id"]):
        qvec = [float(v) for v in r["embedding"]]
        qb = _py_sign_bucket(qvec)
        probe = {qb} | {qb ^ (1 << p) for p in range(N_PLANES)}
        qspecs.append((int(r["vec_id"]), qvec, probe))
    scored = emb.select("vec_id", "embedding").mapInPandas(
        _scan_probe_cos_fn(qspecs, True),
        "query_id long, vec_id long, cosine double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("query_id", "vec_id", "cosine")
        .orderBy("query_id", "vec_id")
    )


@query(
    "knn_join",
    oracle=f"""
    WITH planes AS (
      SELECT CAST(p AS INT) AS p, CAST(d AS INT) AS pos,
             CAST(('0x' || substring(
                 md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)),
                 1, 10)) AS BIGINT) / {float(2.0**39)!r} - 1.0 AS w
      FROM range(0, {DEDUP_PLANES}) t(p), range(0, {DIM}) u(d)
    ), base AS (
      SELECT vec_id,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), proj AS (
      SELECT c.vec_id, pl.p,
             {_oracle_dec_sum('c.v * pl.w')} AS s
      FROM base c JOIN planes pl ON pl.pos = c.pos
      GROUP BY c.vec_id, pl.p
    ), buckets AS (
      SELECT vec_id, p // {DEDUP_BAND_BITS} AS band,
             CAST(SUM(CASE WHEN s > 0
                      THEN (1 << (p % {DEDUP_BAND_BITS}))
                      ELSE 0 END) AS BIGINT) AS band_val
      FROM proj GROUP BY vec_id, p // {DEDUP_BAND_BITS}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nbr
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.band_val = b.band_val
       AND a.vec_id <> b.vec_id
    ), baseq AS (
      SELECT vec_id, pos,
             CAST(floor(v * {PAIR_QUANT}) AS BIGINT) AS qv
      FROM base
    ), normsq AS (
      SELECT vec_id, sqrt(CAST(SUM(qv * qv) AS DOUBLE)) AS nq
      FROM baseq GROUP BY vec_id
    ), scored AS (
      SELECT c.vec_id, c.nbr,
             CAST(SUM(qa.qv * qb.qv) AS DOUBLE) / (na.nq * nb.nq)
               AS cosine
      FROM cand c
      JOIN baseq qa ON qa.vec_id = c.vec_id
      JOIN baseq qb ON qb.vec_id = c.nbr AND qb.pos = qa.pos
      JOIN normsq na ON na.vec_id = c.vec_id
      JOIN normsq nb ON nb.vec_id = c.nbr
      GROUP BY c.vec_id, c.nbr, na.nq, nb.nq
    )
    SELECT vec_id, nbr, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT vec_id, nbr, cosine,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cosine DESC, nbr) AS rank
      FROM scored
    )
    WHERE rank <= 3
    """,
    tags=("ann", "knn"),
)
def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed k-NN join: for EVERY vector, its top-3 approximate
    neighbors — candidates from the same md5-derived sign-LSH bands as
    dedup_embedding (any-band collision), re-ranked by exact quantized
    cosine with a vec_id tiebreaker. The batch-ANN building block for
    embedding-cluster labeling / semantic dedup review queues, as
    opposed to similarity_topk's single-query probe.

    Scale shape: verification is per-BUCKET top-k, never per-pair —
    each (band, band_val) bucket's quantized vectors arrive as one
    pandas group; a strip-chunked exact integer Gram matrix (same
    arithmetic as _gram_pairs) scores the bucket and only each
    member's bucket-local top-3 leaves it, so rows out of the Python
    stage are members x 3, not occupancy^2. The reduction is LOSSLESS
    for the global top-3 under the shared (cosine DESC, nbr ASC)
    order: if x is dropped from some bucket's local top-3, that
    bucket holds >= 3 candidates ranked strictly ahead of x by the
    SAME total order, and they are global candidates too, so x cannot
    be in the global top-3 either. The old formulation materialized
    the distinct directed collision set (vectors x occupancy x bands
    rows) and shipped DIM-wide arrays into four joins against it —
    measured 189.7s at the 100x probe (2.2M vectors) vs 7.7s for
    this form (same-day min-of-2 reps, identical 600000-row output). A pair colliding in several buckets gets the identical
    exact cosine in each, so dropDuplicates on the ids is
    deterministic; fixtures stay in the 8-bit regime, so the pinned
    oracle (which reranks the FULL collision set) is exact. Fully
    oracle-checked including the rank column."""
    emb = load(spark, sf_dir, "embeddings")
    vals = F.transform("embedding", lambda x: x.cast("double"))
    base = emb.select("vec_id", vals.alias("v"))
    band_bits = dedup_band_bits(emb.count())
    banded = scoped_cache(
        base.mapInPandas(
            _band_rows_fn(band_bits), "vec_id long, band int, band_val long"
        )
    )
    qv = base.select(
        "vec_id",
        F.transform(
            "v", lambda x: F.floor(x * PAIR_QUANT).cast("long")
        ).alias("qe"),
    )
    grouped = banded.join(qv, "vec_id")

    def bucket_topk(pdf):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id": [], "nbr": [], "cosine": []})
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        Q = np.array(pdf["qe"].tolist(), dtype=np.float64)[order]
        nq = np.sqrt((Q * Q).sum(axis=1))
        k = min(3, n - 1)
        out_v: list = []
        out_n: list = []
        out_c: list = []
        strip = 1024
        for s in range(0, n, strip):
            G = Q[s : s + strip] @ Q.T
            C = G / np.outer(nq[s : s + strip], nq)
            m = len(C)
            C[np.arange(m), s + np.arange(m)] = -np.inf  # mask self
            # stable argsort on -cosine: ids are ascending, so ties
            # keep the lower nbr — the oracle's (cosine DESC, nbr ASC)
            top = np.argsort(-C, axis=1, kind="stable")[:, :k]
            rows = np.arange(m)[:, None]
            out_v.append(np.repeat(ids[s : s + m], k))
            out_n.append(ids[top].reshape(-1))
            out_c.append(C[rows, top].reshape(-1))
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_v),
                "nbr": np.concatenate(out_n),
                "cosine": np.concatenate(out_c),
            }
        )

    local = grouped.groupBy("band", "band_val").applyInPandas(
        bucket_topk, "vec_id long, nbr long, cosine double"
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr"))
    return (
        local.dropDuplicates(["vec_id", "nbr"])
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("vec_id", "nbr", "cosine", "rank")
    )


# --- late-interaction (MaxSim) retrieval --------------------------------

#: the query's "token" vectors (ColBERT-style multi-vector query)
MAXSIM_QN = 4
MAXSIM_TOPK = 5


def _maxsim_cos_fn(qids: list, qvecs: list):
    """Per-corpus-row cosine grid against the (<= MAXSIM_QN)-vector
    query set, one mapInPandas pass: emits (label, qid, cos) rows —
    the exact rows the old BroadcastNestedLoopJoin + per-row JVM
    folds produced, computed batch-vectorized (r13 optimization; the
    interpreted ``_dec_fold`` paid 3 x 64 lambda calls per cross
    row — dot, norm(v), and a re-derived norm(q) every row).

    Bit-exact twin of ``cosine()``: products are float64 (the float32
    inputs widen exactly), each addend is ``floor(product * 1e9)``
    summed in int64 (< 2^53, so the float64 intermediates are exact
    integers and summation order cannot perturb them), norms take the
    same quantized fold before one IEEE sqrt, and a zero divisor
    yields NULL exactly like ``try_divide``."""

    def gen(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        if not qids:
            return
        Q = np.array(qvecs, dtype=np.float64)  # (m, d)
        quant = float(QUANT)
        qn = np.sqrt(
            np.floor((Q * Q) * quant).sum(axis=1) / quant
        )  # (m,)
        m = len(qids)
        qid_arr = np.array(qids, dtype=np.int64)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            labels = pdf["label"].to_numpy()
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            P = V[:, :, None] * Q.T[None, :, :]  # (n, d, m)
            dp = np.floor(P * quant).sum(axis=1) / quant  # (n, m)
            nv = np.sqrt(np.floor((V * V) * quant).sum(axis=1) / quant)
            denom = nv[:, None] * qn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dp / denom
            out = pd.DataFrame(
                {
                    "label": np.repeat(labels, m),
                    "qid": np.tile(qid_arr, n),
                    "cos": cos.reshape(-1),
                }
            )
            zero = (denom == 0.0).reshape(-1)
            if zero.any():
                out.loc[zero, "cos"] = None
            yield out

    return gen


@query(
    "similarity_maxsim",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe
      FROM embeddings WHERE vec_id < {MAXSIM_QN}
    ), flat AS (
      SELECT e.vec_id, e.label, q.qid,
             unnest(e.embedding) AS ev, unnest(q.qe) AS qv
      FROM embeddings e, q
    ), dots AS (
      SELECT vec_id, label, qid,
             {_oracle_dec_sum('CAST(ev AS DOUBLE) * CAST(qv AS DOUBLE)')} AS dp,
             sqrt({_oracle_dec_sum('CAST(ev AS DOUBLE) * CAST(ev AS DOUBLE)')}) AS nv,
             sqrt({_oracle_dec_sum('CAST(qv AS DOUBLE) * CAST(qv AS DOUBLE)')}) AS nq
      FROM flat GROUP BY vec_id, label, qid
    ), per AS (
      SELECT label, qid, MAX(dp / (nv * nq)) AS mc
      FROM dots GROUP BY label, qid
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_qterms,
           CAST(SUM(CAST(floor(mc * {QUANT}) AS BIGINT)) AS BIGINT)
             AS maxsim_q
    FROM per GROUP BY label
    ORDER BY maxsim_q DESC, label
    LIMIT {MAXSIM_TOPK}
    """,
)
def similarity_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (MaxSim) retrieval, ColBERT-style: the query
    is a SET of MAXSIM_QN vectors (multi-vector queries are how
    late-interaction retrievers represent query tokens); each
    label-group of corpus vectors acts as a multi-vector document;
    score(doc) = sum over query vectors of the best cosine any doc
    vector achieves against it. Top-MAXSIM_TOPK labels. The retrieval
    shape embedding pipelines increasingly serve alongside single
    -vector ANN — worth its own operator because NO single-vector
    reduction (centroid, max-pool) computes the same score.

    Determinism: cosines use the quantized _dec_fold (bit-identical
    folds in both engines); the per-(label, qid) MAX compares
    identical doubles; the final sum quantizes each max floor(1e9*x)
    into exact BIGINT addition, so the 4-addend sum cannot reorder.

    Scale shape: the query set is a SCAN PARAMETER — MAXSIM_QN rows
    fetched once driver-side (like a CLI argument, not a join) and
    closed over by one batch-vectorized cosine kernel
    (``_maxsim_cos_fn``), so the per-(vector, query) cosines are one
    linear corpus scan with no joins at all; both aggregations carry
    label-sized frames (map-side max, then a label-count frame), and
    the top-k is a TakeOrderedAndProject. At 1000 executors the only
    data movement is the label-keyed partial-max combine. (r13: the
    previous BroadcastNestedLoopJoin + interpreted per-row JVM folds
    paid 3 x 64 lambda calls per cross row; the kernel computes the
    same quantized-fold cosines batch-vectorized, bit-exactly —
    same-JVM A/B in OPTIMIZATION_r13.md.)"""
    emb = load(spark, sf_dir, "embeddings")
    q_rows = (
        emb.filter(F.col("vec_id") < MAXSIM_QN)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = [int(r["vec_id"]) for r in q_rows]
    qvecs = [[float(x) for x in r["embedding"]] for r in q_rows]
    per = (
        emb.select("label", "embedding")
        .mapInPandas(_maxsim_cos_fn(qids, qvecs), "label int, qid long, cos double")
        .groupBy("label", "qid")
        .agg(F.max("cos").alias("mc"))
    )
    return (
        per.select(
            "label",
            "qid",
            F.floor(F.col("mc") * F.lit(float(QUANT))).alias("mq"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_qterms"),
            F.sum("mq").alias("maxsim_q"),
        )
        .orderBy(F.col("maxsim_q").desc(), "label")
        .limit(MAXSIM_TOPK)
    )


# --- SemDeDup (semantic dedup) ------------------------------------------

#: within-cluster cosine above which the higher-id vector is a
#: semantic duplicate (fixture-calibrated like PAIR_THRESHOLD; the
#: paper uses ~0.95+ on real embedding spaces)
SEMDEDUP_TAU = 0.25
#: cells above this size are md5-sub-blocked before the Gram pass —
#: the bounded-cost lever: a skewed cell otherwise becomes ONE
#: quadratic single-worker task (the 100x probe's 78k-vector cell =
#: 390 GFLOP in one applyInPandas group). Sub-blocking bounds each
#: task at ~CAP^2 dots and restores parallelism; recall loss is
#: confined to oversized cells (the same trade dedup_embedding's
#: bands make). The rule is a pure function of the per-cell COUNT,
#: so the oracle replays it exactly at any scale; every driver
#: fixture is far below the cap (largest gate-scale cell ~2k).
SEMDEDUP_CELL_CAP = 4096


@query(
    "dedup_semdedup",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, label,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), cent AS (
      SELECT label, pos,
             (CAST(SUM(CAST(floor(v * {QUANT}) AS BIGINT)) AS DOUBLE)
              / {QUANT}) / COUNT(*) AS c
      FROM flat GROUP BY label, pos
    ), dots AS (
      SELECT f.vec_id, c.label,
             SUM(CAST(floor((f.v * c.c) * {QUANT}) AS BIGINT)) AS dp
      FROM flat f JOIN cent c ON c.pos = f.pos
      GROUP BY f.vec_id, c.label
    ), assigned AS (
      SELECT vec_id, label AS cell FROM (
        SELECT vec_id, label,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id ORDER BY dp DESC, label ASC) AS rn
        FROM dots
      ) WHERE rn = 1
    ), q0 AS (
      SELECT e.vec_id, a.cell,
             list_transform(e.embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {PAIR_QUANT})
                         AS BIGINT)) AS qe
      FROM embeddings e JOIN assigned a ON a.vec_id = e.vec_id
    ), cellsz AS (
      SELECT cell, (COUNT(*) + {SEMDEDUP_CELL_CAP - 1})
                   // {SEMDEDUP_CELL_CAP} AS nsub
      FROM q0 GROUP BY cell
    ), q AS (
      SELECT q0.vec_id, q0.cell, q0.qe,
             CAST(('0x' || substring(md5(CAST(q0.vec_id AS VARCHAR)),
                                     1, 10)) AS BIGINT) % s.nsub AS sub
      FROM q0 JOIN cellsz s ON s.cell = q0.cell
    ), norms AS (
      SELECT vec_id, sqrt(CAST(SUM(qv * qv) AS DOUBLE)) AS nq
      FROM (SELECT vec_id, unnest(qe) AS qv FROM q)
      GROUP BY vec_id
    ), pdots AS (
      SELECT cell, vec_a, vec_b, CAST(SUM(av * bv) AS DOUBLE) AS dp
      FROM (
        SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
               unnest(a.qe) AS av, unnest(b.qe) AS bv
        FROM q a JOIN q b
          ON a.cell = b.cell AND a.sub = b.sub
         AND a.vec_id < b.vec_id
      )
      GROUP BY cell, vec_a, vec_b
    ), dups AS (
      SELECT d.cell, d.vec_a, d.vec_b,
             d.dp / (na.nq * nb.nq) AS cosine
      FROM pdots d
      JOIN norms na ON na.vec_id = d.vec_a
      JOIN norms nb ON nb.vec_id = d.vec_b
      WHERE d.dp / (na.nq * nb.nq) >= {SEMDEDUP_TAU}
    )
    SELECT vec_b AS vec_id, cell,
           CAST(MIN(vec_a) AS BIGINT) AS keeper,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           MAX(cosine) AS max_cos
    FROM dups GROUP BY vec_b, cell
    """,
    tags=("dedup", "similarity"),
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering the embedding space and dropping, within each cluster,
    every vector that has an above-threshold cosine to a
    higher-priority member. Catches paraphrases and re-encodings that
    share no n-grams — the semantic complement to the lexical dedup
    family. This engine's deterministic instantiation: the coarse
    codebook is the per-label centroid table (the same deterministic
    k-means-step stand-in similarity_ann_ivf uses — one Lloyd
    iteration from a fixed seeding), assignment is quantized-argmax
    (ties to the lowest label), and the keep-priority is min vec_id
    (the paper ranks by distance-to-centroid; id-priority is the
    engine-wide deterministic keeper rule, cf. dedup_exact). Emits
    one row per DROPPED vector: its cell, its keeper (the smallest
    above-threshold lower-id neighbor), how many such neighbors, and
    the strongest cosine.

    Scale shape: centroids are a tiny aggregate collected as the
    broadcast codebook (the similarity_ann_ivf control-plane-fetch
    pattern); assignment + PAIR_QUANT quantization run in ONE numpy
    mapInPandas pass emitting (vec_id, cell, qe) — no joins at all.
    (The JVM pos-join dots formulation the ORACLE replays was
    measured first: its 128M-row (N*D*L) pre-aggregation frame blew
    past the 100x probe budget, while the kernel pass is
    bit-identical by the ivf argument — floor((v*c)*1e9) per product,
    integer sums below 2^53, argmax-first == lowest-label ties — and
    linear.) Within-cell pairs run as ONE integer Gram matmul per
    (cell, sub-block) via the shared _gram_pairs strip kernel (exact
    — products stay below 2^53), so the shuffle carries vectors
    once, never pairs. Cells above SEMDEDUP_CELL_CAP are
    md5-sub-blocked first (see the constant's note: the 100x probe's
    skewed 78k-vector cell was one 390-GFLOP single-worker task
    without it); the rule replays in the oracle from the per-cell
    COUNT, and no driver fixture reaches the cap, so gate results
    are bit-identical to the uncapped form."""
    import pandas as pd  # noqa: PLC0415

    emb = load(spark, sf_dir, "embeddings")
    cents = embedding_centroids(spark, sf_dir).collect()  # tiny codebook
    by_label: dict[int, dict[int, float]] = {}
    for r in cents:
        by_label.setdefault(r["label"], {})[r["pos"]] = r["centroid"]
    labels_arr = sorted(by_label)
    dim = max(max(d) for d in by_label.values()) + 1
    cent_rows = [
        [by_label[lab].get(p, 0.0) for p in range(dim)]
        for lab in labels_arr
    ]

    def assign_quantize(batches):
        import numpy as np  # noqa: PLC0415

        C = np.array(cent_rows, dtype=np.float64)  # (L, D)
        L = np.array(labels_arr, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            for s in range(0, len(V), 2048):
                chunk = V[s : s + 2048]
                prod = chunk[:, None, :] * C[None, :, :]  # (n, L, D)
                dots = np.floor(prod * float(QUANT)).sum(axis=2)
                cell = L[np.argmax(dots, axis=1)]
                qe = np.floor(chunk * float(PAIR_QUANT)).astype(np.int64)
                yield pd.DataFrame(
                    {
                        "vec_id": ids[s : s + 2048],
                        "cell": cell.astype(np.int32),
                        "qe": list(qe),
                    }
                )

    q0 = emb.select("vec_id", "embedding").mapInPandas(
        assign_quantize, "vec_id long, cell int, qe array<long>"
    )
    # md5 sub-blocking of oversized cells (SEMDEDUP_CELL_CAP): the
    # per-cell counts are a cells-cardinality frame, broadcast back.
    cellsz = q0.groupBy("cell").agg(
        (
            (F.count(F.lit(1)) + (SEMDEDUP_CELL_CAP - 1))
            / SEMDEDUP_CELL_CAP
        )
        .cast("long")
        .alias("nsub")
    )
    h40 = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    q = q0.join(F.broadcast(cellsz), "cell").select(
        "vec_id", "cell", "qe", (h40 % F.col("nsub")).alias("sub")
    )

    def cell_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        out = _gram_pairs(pdf, SEMDEDUP_TAU)
        out["cell"] = pdf["cell"].iloc[0]
        return out

    dups = q.groupBy("cell", "sub").applyInPandas(
        cell_pairs, "vec_a long, vec_b long, cosine double, cell int"
    )
    return (
        dups.groupBy(F.col("vec_b").alias("vec_id"), "cell")
        .agg(
            F.min("vec_a").alias("keeper"),
            F.count(F.lit(1)).alias("n_dups"),
            F.max("cosine").alias("max_cos"),
        )
    )


@query(
    "embedding_gram",
    oracle="""
    WITH e AS (
      SELECT row_number() OVER () AS rid, embedding AS v
      FROM embeddings WHERE embedding IS NOT NULL
    ), ij AS (
      SELECT rid, v, unnest(range(len(v))) AS i FROM e
    ), pij AS (
      SELECT a.rid, a.v, a.i, b.i AS j
      FROM ij a JOIN ij b ON a.rid = b.rid AND a.i <= b.i
    )
    SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           CAST(SUM(CAST(floor(
                 CAST(v[CAST(i + 1 AS INT)] AS DOUBLE)
                 * CAST(v[CAST(j + 1 AS INT)] AS DOUBLE)
                 * 1000000.0) AS BIGINT)) AS BIGINT) AS gram_q6
    FROM pij GROUP BY i, j
    """,
    tags=("embedding",),
)
def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact Gramian X'X over the embedding column — THE
    building block for PCA / whitening / linear-probe covariance at
    scale (Spark MLlib's RowMatrix.computeGramian shape, re-expressed
    exact-quantized so it is oracle-checkable bit-for-bit).

    Scale design: each partition folds its vectors into ONE local
    d x d int64 accumulator inside Arrow-batched mapInPandas (BLAS
    -vectorized outer products, chunked so the (rows, d, d) temp stays
    ~32 MB); the shuffle then carries only n_partitions x d(d+1)/2
    tiny rows into a final groupBy sum. Corpus size never appears in
    shuffle volume — 100 TB of embeddings reduces through the same
    2080-cell (d=64) frame. A naive explode-pairs spelling would
    shuffle n x d^2 rows (2 x 10^9 at the 100x probe); this is the
    canonical partial-aggregate rewrite.

    Exactness contract (same policy as functions/exact.py): each
    addend x_i*x_j is one correctly-rounded double product (float32
    inputs widen exactly), quantized floor(p * 1e6) BEFORE summation,
    so the sum is order-independent BIGINT arithmetic and numpy's
    accumulation order cannot diverge from DuckDB's. Ragged corpora
    (fuzz domain) define a cell (i, j) wherever some row has both
    dims; rows shorter than a cell simply don't contribute."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )

    def partial(batches):
        acc = None  # (seen_d, seen_d) int64, grows to the max dim seen
        seen_d = 0
        for pdf in batches:
            byd: dict[int, list] = {}
            for v in pdf["embedding"]:
                if v is None or len(v) == 0:
                    continue
                byd.setdefault(len(v), []).append(v)
            for dlen, lst in byd.items():
                x = np.asarray(lst, dtype=np.float64)
                if dlen > seen_d:
                    g = np.zeros((dlen, dlen), dtype=np.int64)
                    if acc is not None:
                        g[:seen_d, :seen_d] = acc
                    acc, seen_d = g, dlen
                # bound the (rows, d, d) outer-product temp to ~32 MB
                step = max(1, 4_000_000 // (dlen * dlen))
                for s in range(0, len(x), step):
                    c = x[s : s + step]
                    p = np.floor(c[:, :, None] * c[:, None, :] * 1e6)
                    acc[:dlen, :dlen] += p.astype(np.int64).sum(axis=0)
        if acc is None:
            return
        iu = np.triu_indices(seen_d)
        yield pd.DataFrame(
            {
                "i": iu[0].astype("int64"),
                "j": iu[1].astype("int64"),
                "gram_q6": acc[iu],
            }
        )

    partials = emb.select("embedding").mapInPandas(
        partial, "i long, j long, gram_q6 long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum("gram_q6").alias("gram_q6")
    )


def pca_components(spark: SparkSession, sf_dir: str, k: int = 8):
    """Top-k principal directions of the embedding corpus from the
    distributed Gramian: run embedding_gram (corpus-sized work, d^2
    -sized result), collect the TINY d x d matrix to the driver —
    control-plane, same legitimacy class as the IVF codebook collect
    (similarity.py ann_ivf) — and eigendecompose it there. Uncentered
    PCA (second moment, not covariance): the standard choice for
    whitening embedding spaces whose mean is ~0, and it keeps the
    pipeline one-pass; subtract embedding_centroids first if a
    centered transform is needed.

    Returns (components, eigenvalues): numpy (d, k) with columns in
    DESCENDING eigenvalue order, and the matching (k,) eigenvalues.
    Deterministic up to per-column sign (inherent to eigenvectors —
    callers compare subspaces, not signs)."""
    import numpy as np  # noqa: PLC0415

    rows = embedding_gram(spark, sf_dir).collect()
    if not rows:
        raise ValueError(
            "pca_components: embeddings table at "
            f"{sf_dir!r} has no non-null embedding rows "
            "(embedding_gram returned an empty Gramian)"
        )
    d = max(r["j"] for r in rows) + 1
    g = np.zeros((d, d))
    for r in rows:
        g[r["i"], r["j"]] = g[r["j"], r["i"]] = r["gram_q6"] / 1e6
    w, v = np.linalg.eigh(g)  # ascending
    order = np.argsort(w)[::-1][:k]
    return v[:, order], w[order]


def pca_project(spark: SparkSession, sf_dir: str, k: int = 8) -> DataFrame:
    """Project every embedding onto the corpus' top-k principal
    directions — JVM-side: the (d, k) component matrix is inlined as
    literal arrays and each coordinate is one zip_with/aggregate dot
    product, so the projection is whole-stage-codegen over the scan
    with NO Python in the per-row path (the only Python was the d x d
    eigh above). (vec_id, proj: array<double>) out."""
    comps, _ = pca_components(spark, sf_dir, k)
    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    cols = []
    for j in range(comps.shape[1]):
        cvec = F.array(*[F.lit(float(x)) for x in comps[:, j]])
        cols.append(
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    cvec,
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return emb.select("vec_id", F.array(*cols).alias("proj"))


# --- kNN majority-vote labeling (round 12) ------------------------------

#: labeled seed set rule: every 5th vector UNDER the cap. The cap is
#: the scale contract — a deployment's labeled set is its hand- or
#: model-labeled training data, FIXED in size, while the corpus being
#: classified grows without bound. The first (uncapped) form made
#: seeds corpus-proportional and the 100x probe hung inside a
#: |queries| x |seeds| nested loop — the exact failure the cap
#: prevents. At every gate fixture all vec_ids are < KNN_SEED_CAP, so
#: the cap is invisible to the oracle fixtures and binding at 100x+.
KNN_SEED_MOD = 5
KNN_SEED_CAP = 2000
KNN_CLASSIFY_K = 5


@query(
    "knn_classify",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {PAIR_QUANT})
                         AS BIGINT)) AS qe
      FROM embeddings
    ), norms AS (
      SELECT vec_id, sqrt(CAST(SUM(qv * qv) AS DOUBLE)) AS nq
      FROM (SELECT vec_id, unnest(qe) AS qv FROM q)
      GROUP BY vec_id
    ), seeds AS (
      SELECT q.vec_id AS sid, q.label AS slabel, q.qe, n.nq
      FROM q JOIN norms n ON n.vec_id = q.vec_id
      WHERE q.vec_id % {KNN_SEED_MOD} = 0 AND q.vec_id < {KNN_SEED_CAP}
        AND n.nq > 0
    ), queries AS (
      SELECT q.vec_id, q.label, q.qe, n.nq
      FROM q JOIN norms n ON n.vec_id = q.vec_id
      WHERE (q.vec_id % {KNN_SEED_MOD} <> 0 OR q.vec_id >= {KNN_SEED_CAP})
        AND n.nq > 0
    ), dots AS (
      SELECT vec_id, label, sid, slabel,
             CAST(SUM(av * bv) AS DOUBLE) / (nq_a * nq_b) AS cosine
      FROM (
        SELECT a.vec_id, a.label, b.sid, b.slabel,
               a.nq AS nq_a, b.nq AS nq_b,
               unnest(a.qe) AS av, unnest(b.qe) AS bv
        FROM queries a CROSS JOIN seeds b
      )
      GROUP BY vec_id, label, sid, slabel, nq_a, nq_b
    ), ranked AS (
      SELECT vec_id, label, slabel,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY cosine DESC, sid
             ) AS rn
      FROM dots
    ), votes AS (
      SELECT vec_id, label, slabel, COUNT(*) AS c
      FROM ranked WHERE rn <= {KNN_CLASSIFY_K}
      GROUP BY vec_id, label, slabel
    ), pick AS (
      SELECT vec_id, label, slabel, c,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY c DESC, slabel
             ) AS pr
      FROM votes
    )
    SELECT vec_id,
           CAST(slabel AS BIGINT) AS pred_label,
           CAST(c AS BIGINT) AS votes,
           CAST(CASE WHEN slabel = label THEN 1 ELSE 0 END AS BIGINT)
             AS is_correct
    FROM pick WHERE pr = 1
    """,
    tags=("similarity", "embeddings"),
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote labeling: classify every unlabeled vector by
    the majority label among its 5 nearest labeled seeds (exact
    quantized cosine, seed-id tiebreak; vote ties go to the smaller
    label). The fastText-classifier stand-in of a curation pipeline —
    propagate a small hand-labeled quality/domain set over the whole
    corpus, then feed the labels to corpus_mixture /
    sample_quality_weighted. Emits (vec_id, pred_label, votes,
    is_correct): the fixture knows every true label, so the output
    doubles as the classifier's holdout accuracy table.

    Scale shape — ZERO exchanges: the seed set is FIXED-SIZE
    (KNN_SEED_CAP — labeled data does not grow with the crawl) and
    ships in the kernel closure; one Arrow-batched numpy pass scores
    each query batch against all seeds with one exact int64 matmul,
    ranks, votes, and emits the final rows. The previous form
    (broadcast nested loop + per-pair interpreted zip_with dots, then
    a collect_list exchange) hung the 100x probe: seeds were
    corpus-proportional and HOF dots are CodegenFallback — the same
    two lessons as clustering.py, applied here (NOTES.md r12-cont).

    All ranking keys replay bit-exactly in DuckDB: integer dots under
    PAIR_QUANT (per-element products <= 1e8, 64-dim sums <= 6.4e9 <
    2^53, so even the oracle\'s double fold is exact), IEEE
    sqrt/divide on identical operands (the similarity_pairs
    determinism argument); np.lexsort and the vote loop apply the
    same (cosine DESC, sid) / (count DESC, label) orders."""
    emb = load(spark, sf_dir, "embeddings")

    seed_rows = (
        emb.where(
            (F.col("vec_id") % KNN_SEED_MOD == 0)
            & (F.col("vec_id") < KNN_SEED_CAP)
        )
        .select("vec_id", "label", "embedding")
        .collect()
    )
    import numpy as np  # noqa: PLC0415

    out_schema = "vec_id long, pred_label long, votes long, is_correct long"
    # Degenerate corpus (no vec_id under KNN_SEED_CAP on the seed
    # residue, or every seed zero-norm): the oracle's top-k per query
    # is empty, so no query gets a row — return the empty relation
    # instead of letting shape-(0,) numpy arrays crash driver-side
    # (ADVICE r12).
    if not seed_rows:
        return spark.createDataFrame([], out_schema)
    seed_rows.sort(key=lambda r: r["vec_id"])
    S = np.floor(
        np.array([list(r["embedding"]) for r in seed_rows], dtype=np.float64)
        * PAIR_QUANT
    ).astype(np.int64)
    sn = np.sqrt((S * S).sum(axis=1).astype(np.float64))
    ok = sn > 0
    S, sn = S[ok], sn[ok]
    sids = np.array([r["vec_id"] for r in seed_rows], dtype=np.int64)[ok]
    slabels = np.array([r["label"] for r in seed_rows], dtype=np.int64)[ok]
    if not len(S):
        return spark.createDataFrame([], out_schema)

    def score_vote(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.floor(
                np.array(pdf["embedding"].tolist(), dtype=np.float64)
                * PAIR_QUANT
            ).astype(np.int64)
            nq = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
            keep = nq > 0
            Q, nq = Q[keep], nq[keep]
            ids = pdf["vec_id"].to_numpy()[keep]
            labels = pdf["label"].to_numpy()[keep]
            if not len(Q):
                continue
            D = Q @ S.T  # exact int64 dots
            cos = D.astype(np.float64) / (nq[:, None] * sn[None, :])
            preds = np.empty(len(Q), dtype=np.int64)
            votes = np.empty(len(Q), dtype=np.int64)
            for i in range(len(Q)):
                order = np.lexsort((sids, -cos[i]))[:KNN_CLASSIFY_K]
                top_labels = slabels[order]
                uniq, cnt = np.unique(top_labels, return_counts=True)
                # np.unique sorts labels ascending -> argmax takes the
                # FIRST maximal count = smallest label, the oracle\'s
                # (c DESC, slabel ASC) rule
                j = int(np.argmax(cnt))
                preds[i] = uniq[j]
                votes[i] = cnt[j]
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "pred_label": preds,
                    "votes": votes,
                    "is_correct": (preds == labels).astype(np.int64),
                }
            )

    queries = emb.where(
        (F.col("vec_id") % KNN_SEED_MOD != 0)
        | (F.col("vec_id") >= KNN_SEED_CAP)
    ).select("vec_id", "label", "embedding")
    return queries.mapInPandas(score_vote, out_schema)


#: Matryoshka-eval query set: every 25th vector UNDER the cap — same
#: scale contract as KNN_SEED_CAP (an eval query set is fixed-size;
#: the corpus being searched grows without bound). Budgets are prefix
#: dimension counts; 64 is the full width, so its row doubles as the
#: report's built-in sanity row (recall_pct = 100 by construction).
MRL_QUERY_MOD = 25
MRL_QUERY_CAP = 2000
MRL_BUDGETS = (8, 16, 32, 64)
MRL_K = 10


def _mrl_oracle() -> str:
    pq = PAIR_QUANT
    sums = ", ".join(
        f"SUM(CASE WHEN i <= {d} THEN qv * cv ELSE 0 END) AS dp_{d}, "
        f"SUM(CASE WHEN i <= {d} THEN qv * qv ELSE 0 END) AS qn_{d}, "
        f"SUM(CASE WHEN i <= {d} THEN cv * cv ELSE 0 END) AS cn_{d}"
        for d in MRL_BUDGETS
    )
    cos_case = " ".join(
        f"WHEN {d} THEN CAST(dp_{d} AS DOUBLE) / "
        f"(sqrt(CAST(qn_{d} AS DOUBLE)) * sqrt(CAST(cn_{d} AS DOUBLE)))"
        for d in MRL_BUDGETS
    )
    budgets = ", ".join(str(d) for d in MRL_BUDGETS)
    return f"""
    WITH qset AS (
      SELECT vec_id AS qid,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {pq}) AS BIGINT)) AS qe
      FROM embeddings
      WHERE vec_id % {MRL_QUERY_MOD} = 0 AND vec_id < {MRL_QUERY_CAP}
    ), corp AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {pq}) AS BIGINT)) AS ce
      FROM embeddings
    ), flat AS (
      SELECT q.qid, c.vec_id,
             unnest(q.qe) AS qv, unnest(c.ce) AS cv,
             generate_subscripts(q.qe, 1) AS i
      FROM qset q JOIN corp c ON c.vec_id <> q.qid
    ), sums AS (
      SELECT qid, vec_id, {sums}
      FROM flat GROUP BY qid, vec_id
    ), cos AS (
      SELECT qid, vec_id, b.budget,
             CASE b.budget {cos_case} END AS cosine
      FROM sums CROSS JOIN (SELECT unnest([{budgets}]) AS budget) b
    ), ranked AS (
      SELECT qid, budget, vec_id
      FROM cos
      WHERE cosine IS NOT NULL
      QUALIFY row_number() OVER (
        PARTITION BY qid, budget ORDER BY cosine DESC, vec_id
      ) <= {MRL_K}
    ), truth AS (
      SELECT qid, vec_id FROM ranked WHERE budget = 64
    )
    SELECT CAST(r.budget AS BIGINT) AS budget,
           CAST(COUNT(DISTINCT r.qid) AS BIGINT) AS n_queries,
           CAST(COUNT(t.vec_id) AS BIGINT) AS hits,
           CAST(COUNT(t.vec_id) * 100
                // (COUNT(DISTINCT r.qid) * {MRL_K}) AS BIGINT)
             AS recall_pct
    FROM ranked r
    LEFT JOIN truth t ON t.qid = r.qid AND t.vec_id = r.vec_id
    GROUP BY r.budget
    """


@query(
    "embedding_matryoshka_recall",
    oracle=_mrl_oracle(),
    tags=("similarity", "eval"),
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-budget evaluation: for each prefix
    budget d in MRL_BUDGETS, rank the corpus against a fixed query
    set by TRUNCATED-prefix cosine and report recall@K vs the
    full-width ranking — the ablation report a pipeline runs before
    serving truncated embeddings (MRL / Kusupati et al.'s accuracy-
    vs-dimension trade, measured on this corpus instead of assumed).
    Emits one row per budget: (budget, n_queries, hits, recall_pct);
    the budget=64 row is recall 100 by construction (sanity anchor).

    Scale shape — the knn_classify pattern: the query set is
    FIXED-SIZE (MRL_QUERY_MOD/_CAP) and ships quantized in the kernel
    closure; ONE Arrow-batched numpy pass scores each corpus batch
    against all queries at every budget with exact int64 matmuls over
    PAIR_QUANT-quantized prefixes and emits only per-batch TOP-K
    candidates — emission is batches x |Q| x budgets x K, never
    corpus-sized. The global merge is a window over (qid, budget)
    partitions bounded by batches x K rows, and everything after the
    kernel is control-plane-small. Determinism: int dots are exact
    (<= 2^53), sqrt/divide are IEEE on identical operands, ties break
    on vec_id — the similarity_pairs argument; the DuckDB oracle
    replays the identical arithmetic and (cosine DESC, vec_id) order.
    Zero-norm prefixes are unrankable on both sides (NULL cosine /
    kernel exclusion)."""
    import numpy as np  # noqa: PLC0415

    emb = load(spark, sf_dir, "embeddings")
    out_schema = "budget long, n_queries long, hits long, recall_pct long"
    q_rows = (
        emb.where(
            (F.col("vec_id") % MRL_QUERY_MOD == 0)
            & (F.col("vec_id") < MRL_QUERY_CAP)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    if not q_rows:
        return spark.createDataFrame([], out_schema)
    q_rows.sort(key=lambda r: r["vec_id"])
    Q = np.floor(
        np.array([list(r["embedding"]) for r in q_rows], dtype=np.float64)
        * PAIR_QUANT
    ).astype(np.int64)  # (nq, 64)
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)

    def topk_kernel(batches):
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.floor(
                np.array(pdf["embedding"].tolist(), dtype=np.float64)
                * PAIR_QUANT
            ).astype(np.int64)
            vids = pdf["vec_id"].to_numpy()
            out_q, out_d, out_v, out_c = [], [], [], []
            for d in MRL_BUDGETS:
                Vd, Qd = V[:, :d], Q[:, :d]
                cn = np.sqrt((Vd * Vd).sum(axis=1).astype(np.float64))
                qn = np.sqrt((Qd * Qd).sum(axis=1).astype(np.float64))
                D = Vd @ Qd.T  # (n, nq) exact int64 dots
                for j in range(len(qids)):
                    if qn[j] == 0.0:
                        continue  # unrankable query at this budget
                    keep = (cn > 0.0) & (vids != qids[j])
                    if not keep.any():
                        continue
                    cos = D[keep, j].astype(np.float64) / (
                        qn[j] * cn[keep]
                    )
                    kv = vids[keep]
                    order = np.lexsort((kv, -cos))[:MRL_K]
                    out_q.extend([int(qids[j])] * len(order))
                    out_d.extend([d] * len(order))
                    out_v.extend(kv[order].tolist())
                    out_c.extend(cos[order].tolist())
            if out_q:
                yield pd.DataFrame(
                    {
                        "qid": np.array(out_q, dtype=np.int64),
                        "budget": np.array(out_d, dtype=np.int64),
                        "vec_id": np.array(out_v, dtype=np.int64),
                        "cosine": np.array(out_c, dtype=np.float64),
                    }
                )

    cand = emb.select("vec_id", "embedding").mapInPandas(
        topk_kernel, "qid long, budget long, vec_id long, cosine double"
    )
    w = Window.partitionBy("qid", "budget").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    # ranked feeds two consumers (the per-budget lists and the
    # budget=64 truth); localCheckpoint so the corpus kernel pass
    # runs once, not per consumer (the winnowing fps lesson)
    ranked = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MRL_K)
        .select("qid", "budget", "vec_id")
        .localCheckpoint(eager=False)
    )
    truth = ranked.filter(F.col("budget") == 64).select(
        F.col("qid").alias("tq"), F.col("vec_id").alias("tv")
    )
    return (
        ranked.join(
            truth,
            (F.col("qid") == F.col("tq"))
            & (F.col("vec_id") == F.col("tv")),
            "left",
        )
        .groupBy("budget")
        .agg(
            F.countDistinct("qid").alias("n_queries"),
            F.count("tv").alias("hits"),
        )
        .select(
            F.col("budget").cast("long"),
            F.col("n_queries").cast("long"),
            F.col("hits").cast("long"),
            F.expr(f"hits * 100 div (n_queries * {MRL_K})")
            .cast("long")
            .alias("recall_pct"),
        )
    )
