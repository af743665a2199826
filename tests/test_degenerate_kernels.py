"""Degenerate-input hardening for the Arrow kernels (ADVICE r12).

Two failure shapes the fixture gate can never produce:

- an EMPTY Arrow batch reaching a mapInPandas kernel (real executors
  emit them on empty scan splits / after selective filters) — the
  Lloyd update/stats kernels indexed `Q[:, None, :]` on the 1-D
  shape-(0,) array `_quantize_np` returns for an empty list;
- a corpus whose seed predicate selects NOTHING (every vec_id >=
  KNN_SEED_CAP, or every seed zero-norm) — knn_classify built numpy
  arrays from an empty collect and crashed driver-side where the
  oracle returns an empty relation.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from file_scraper_spark.operators.clustering import (
    _stats_kernel,
    _update_kernel,
)
from file_scraper_spark.operators.similarity import KNN_SEED_CAP


def _empty_batch() -> pd.DataFrame:
    return pd.DataFrame({"embedding": pd.Series([], dtype=object)})


def test_lloyd_update_kernel_skips_empty_batch():
    fn = _update_kernel([[0] * 4, [100] * 4])
    assert list(fn(iter([_empty_batch()]))) == []
    # and still emits partials for a real batch after an empty one
    real = pd.DataFrame({"embedding": [[0.1, 0.1, 0.1, 0.1]]})
    out = list(fn(iter([_empty_batch(), real])))
    assert len(out) == 1 and len(out[0]) == 4  # d rows for one cluster


def test_lloyd_stats_kernel_skips_empty_batch():
    fn = _stats_kernel([[0] * 4])
    assert list(fn(iter([_empty_batch()]))) == []
    real = pd.DataFrame({"embedding": [[0.2, 0.0, 0.0, 0.0]]})
    out = list(fn(iter([_empty_batch(), real])))
    assert len(out) == 1 and out[0]["n"].tolist() == [1]


def test_knn_classify_empty_seed_set_returns_empty(spark, tmp_path):
    """Every vec_id sits at/above KNN_SEED_CAP -> the seed collect is
    empty -> empty result with the registered schema (the oracle's
    top-k per query is empty on the same corpus), not an AxisError."""
    from file_scraper_spark.operators.similarity import knn_classify

    tbl = pa.table(
        {
            "vec_id": pa.array(
                [KNN_SEED_CAP + i for i in range(6)], pa.int64()
            ),
            "embedding": pa.array(
                [[0.1, 0.2, 0.3, 0.4]] * 6, pa.list_(pa.float32())
            ),
            "label": pa.array([i % 3 for i in range(6)], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    out = knn_classify(spark, str(tmp_path))
    assert out.columns == ["vec_id", "pred_label", "votes", "is_correct"]
    assert out.count() == 0


def _write_embeddings(tmp_path, n: int) -> str:
    import random

    rng = random.Random(7)
    tbl = pa.table(
        {
            "vec_id": pa.array(list(range(n)), pa.int64()),
            "label": pa.array([i % 3 for i in range(n)], pa.int64()),
            "embedding": pa.array(
                [
                    [rng.uniform(-0.5, 0.5) for _ in range(64)]
                    for _ in range(n)
                ],
                pa.list_(pa.float32()),
            ),
        }
    )
    d = str(tmp_path / f"emb{n}")
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, os.path.join(d, "embeddings.parquet"))
    return d


def test_pq_family_matches_oracle_on_subseed_corpora(spark, tmp_path):
    """Sub-seed corpora (fewer vectors than PQ_K=16 / KM_K=8 seeds,
    or empty) crash naive fixed-shape codebook code — the round-13
    hardening made every PQ/Lloyd-family query reshape to the ACTUAL
    seed count and early-return the oracle's empty semantics. Pin the
    engine-vs-oracle match at the shapes that used to crash: 0 (no
    seeds at all), 1 and 4 (partial codebooks), 16 (exact seed
    boundary)."""
    from file_scraper_spark import registry
    from tools.check_correctness import duckdb_run, value_hash

    registry._ensure_loaded()
    queries = (
        "embedding_pq",
        "embedding_pq_rotated",
        "embedding_pq_adc_recall",
        "embedding_pq_residual",
        "similarity_ann_ivfpq",
        "similarity_ann_ivfpq_indexed",
        "ivf_nprobe_recall",
        "kmeans_lloyd",
        "similarity_ann_ivf_trained",
    )
    for n in (0, 1, 4, 16):
        d = _write_embeddings(tmp_path, n)
        for q in queries:
            spec = registry.REGISTRY[q]
            sdf = spec.fn(spark, d)
            s_rows = [tuple(r) for r in sdf.collect()]
            o_cols, o_rows = duckdb_run(d, spec.oracle)
            assert sorted(sdf.columns) == sorted(o_cols), (q, n)
            assert len(s_rows) == len(o_rows), (q, n)
            assert value_hash(sdf.columns, s_rows) == value_hash(
                o_cols, o_rows
            ), (q, n)


def test_redact_kernel_null_and_int64_min_doc_ids():
    """The text_redact kernel's id%10 digit is truncated (sign-keeping)
    modulo: a NULL doc_id yields a NULL redaction instead of a crash,
    and INT64_MIN neither overflows nor loses its sign."""
    import re

    from file_scraper_spark.operators.text import _redact_batches

    ids = [None, -(2**63), -17, 0, 42, 2**63 - 1]
    texts = ["call 555-123-4567", "mail a.b@c.org", "héllo", None, "x", ""]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(texts, pa.string())],
        ["doc_id", "text"],
    )
    (out,) = list(_redact_batches([batch]))

    def expect(d, t):
        if d is None or t is None:
            return None
        digit = -(-d % 10) if d < 0 else d % 10
        s = f"contact user{d}@example.com or +1-555-010{digit} re: {t}"
        s = re.sub(r"[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>", s)
        return re.sub(r"\+?[0-9][0-9()\-]{6,}", "<PHONE>", s)

    assert out.column(0).to_pylist() == ids
    assert out.column(1).to_pylist() == [expect(d, t) for d, t in zip(ids, texts)]
    assert out.column(2).to_pylist() == [
        None if t is None else len(t) for t in texts
    ]
