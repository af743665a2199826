"""100x scale probe: run a representative heavy subset of the headline
queries against a 100x-replicated sf0.1 fixture (build with
`python tools/build_scale_probe.py /root/testdata/sf0.1 /tmp/sf100X
100`) and print one JSON line of per-query seconds.

Subset rationale: the queries whose scaling behavior is nontrivial —
shuffling aggregations/joins, the sweep-count range join, and the
whole dedup family (capped inverted index, banded LSH with
auto-scaled bits, composite-blocked Levenshtein). Scan-dominated
queries scale trivially and are skipped to keep the probe under ten
minutes.

Usage: python tools/probe100x.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The 100x fixture runs the dedup family's cached indexes and
# checkpoint blocks near the default 16g heap ceiling (observed: heap
# OOM mid-probe with 100+ GB of machine RAM idle). A scale probe
# should be memory-configured like a scale run: default to 48g here,
# overridable via the same env var the session honors.
os.environ.setdefault("SPARK_DRIVER_MEM", "48g")

from file_scraper_spark import registry
from file_scraper_spark.session import get_spark

SUBSET = [
    "agg_groupby",
    "join_family",
    "window_rank",
    "window_lag_frame",
    "topk_sort_limit",
    "sessionize",
    "range_join",
    "microbatch_window",
    "tpch_q3_shape",
    "tpch_q5_shape",
    "timeseries_rollup",
    "dedup_exact",
    "dedup_minhash",
    "dedup_minhash_fast",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "corpus_index_build",
    "dedup_incremental",
    "dedup_incremental_indexed",
    "bloom_index_build",
    "dedup_bloom_gate_indexed",
    "phrase_index_build",
    "text_phrase_search_indexed",
    "ivfpq_index_build",
    "cdc_index_build",
    "dedup_cdc_chunks_indexed",
    "similarity_ann_ivfpq_indexed",
    "dedup_jaccard_sampled",
    "dedup_jaccard_sampled_fast",
    "contamination_check",
    "dedup_embedding",
    "similarity_topk",
    "similarity_ann_ivf",
    "similarity_ann_lsh",
    "corpus_shuffle",
    "quality_funnel",
    "merge_upsert",
    "hll_sketch_only",
    "approx_quantile_sketch_only",
]


def _dedup_minhash_fast(spark, sf_dir):
    """dedup_minhash on the xxhash64 fast path (portable_hash=False) —
    the production variant; not oracle-checkable, probed here so the
    md5-vs-xxhash64 cost gap stays measured."""
    from file_scraper_spark.operators.dedup import minhash_pairs
    from file_scraper_spark.tables import load

    return minhash_pairs(load(spark, sf_dir, "documents"), portable_hash=False)


def _hll_sketch_only(spark, sf_dir):
    """hll_sketch_merge WITHOUT the exact countDistinct twin — the
    actual 100 TB rollup path (the registered query carries the twin
    for the correctness gate, which changes its cost profile; this
    variant keeps the sketch-only cost measured)."""
    from pyspark.sql import functions as F
    from file_scraper_spark.tables import load

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long")
        .alias("approx_users")
    )


def _approx_quantile_sketch_only(spark, sf_dir):
    """approx_percentile without the exact-percentile twin — the
    single-pass bounded-state path whose cost the registered
    est_ok-gated query no longer reflects."""
    from pyspark.sql import functions as F
    from file_scraper_spark.tables import load

    ev = load(spark, sf_dir, "events")
    sk = F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)")
    return ev.groupBy("event_type").agg(
        sk[0].alias("p50"), sk[1].alias("p90"), sk[2].alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


def _corpus_index_build(spark, sf_dir):
    """Maintenance-time build of the bucketed corpus shingle index
    (round 12) — measured on its own row, so
    dedup_incremental_indexed's cold row shows what a DAILY run costs
    once the index is maintained. Drops the memo so every cold rep is
    a genuine rebuild."""
    from file_scraper_spark.operators import dedup

    dedup._SIDX_MEMO.clear()
    idx_t, cnt_t, hot_t = dedup.corpus_shingle_index(spark, sf_dir)
    return spark.table(cnt_t)


def _bloom_index_build(spark, sf_dir):
    """Maintenance-time build of the parked bloom bitmap (round 13) —
    measured on its own row like corpus_index_build, so
    dedup_bloom_gate_indexed's cold row shows what a DAILY gate costs
    once the bitmap is maintained (the done-bar: daily cost
    independent of corpus size — no corpus scan in the daily plan).
    Drops the memo so every cold rep is a genuine rebuild."""
    from file_scraper_spark.operators import dedup

    dedup._BLOOM_IDX_MEMO.clear()
    words_t, meta_t = dedup.corpus_bloom_index(spark, sf_dir)
    return spark.table(words_t)


def _dedup_jaccard_sampled_fast(spark, sf_dir):
    """Sampled-shingle Jaccard selecting on the xxhash64 JOIN KEY the
    index already computes — the production variant (the registered
    md5-portable selection exists for the DuckDB gate; its hash cost
    eats most of the sampling win, measured here)."""
    from file_scraper_spark.operators.dedup import (
        SHINGLE_SAMPLE_MOD,
        jaccard_pairs,
    )

    return jaccard_pairs(
        spark, sf_dir, sample_mod=SHINGLE_SAMPLE_MOD, sample_fast=True
    )


def _phrase_index_build(spark, sf_dir):
    """Maintenance-time build of the partitioned positional posting
    index (round 13) — own row like corpus_index_build, so
    text_phrase_search_indexed's cold row shows what a SERVED query
    costs once the index is maintained. Drops the memo so every cold
    rep is a genuine rebuild."""
    from file_scraper_spark.operators import text

    text._PIDX_MEMO.clear()
    name = text._phrase_index(spark, sf_dir)
    return spark.table(name).limit(1)


def _ivfpq_index_build(spark, sf_dir):
    """Maintenance-time build of the parked IVFPQ code table (round
    13) — own row, so similarity_ann_ivfpq_indexed's cold row shows
    pure serving cost. Drops the memo so every cold rep rebuilds."""
    from file_scraper_spark.operators import clustering

    clustering._IVFPQ_IDX_MEMO.clear()
    name = clustering._ivfpq_index(spark, sf_dir)
    return spark.table(name).limit(1)


def _cdc_index_build(spark, sf_dir):
    """Maintenance-time build of the parked CDC chunk store (round
    13) — own row, so dedup_cdc_chunks_indexed's cold row shows the
    daily shard-probe cost alone. Drops the memo so every cold rep
    rebuilds."""
    from file_scraper_spark.operators import dedup

    dedup._CDCX_MEMO.clear()
    name = dedup.corpus_cdc_index(spark, sf_dir)
    return spark.table(name).limit(1)


EXTRA = {
    "phrase_index_build": _phrase_index_build,
    "ivfpq_index_build": _ivfpq_index_build,
    "cdc_index_build": _cdc_index_build,
    "corpus_index_build": _corpus_index_build,
    "bloom_index_build": _bloom_index_build,
    "dedup_minhash_fast": _dedup_minhash_fast,
    "dedup_jaccard_sampled_fast": _dedup_jaccard_sampled_fast,
    "hll_sketch_only": _hll_sketch_only,
    "approx_quantile_sketch_only": _approx_quantile_sketch_only,
}


def _run_once(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf100X"
    only = sys.argv[2:] or SUBSET
    spark = get_spark("probe100x")
    queries = registry.all_queries()
    # UNIFIED COLD PROTOCOL (round 10; VERDICT r9 next-#1): PROBE_r9
    # mixed warm rows (queries riding a memoized edge-pipeline
    # checkpoint from an earlier query in the sweep) with cold ones,
    # which inverted at least one sampled-vs-exact comparison. Every
    # row now records BOTH temperatures, measured in a fixed order:
    #   cold = min over `reps` runs, each preceded by
    #          tables.reset_session_state (memos, SQL cache, every
    #          persisted/localCheckpoint block dropped);
    #   warm = one further run with NO reset, riding whatever state
    #          the last cold run left (memos, caches, checkpoints) —
    #          the number a multi-query session actually sees.
    # MIN over reps for cold: timing noise on this box is strictly
    # additive (page-cache misses, IO stalls, neighboring load).
    reps = int(os.environ.get("SPARK_GRAFT_PROBE_REPS", "1"))
    from file_scraper_spark.tables import reset_session_state

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in only:
        fn = EXTRA.get(name) or queries[name]
        samples = []
        try:
            for _ in range(reps):
                reset_session_state(spark)
                samples.append(_run_once(fn, spark, sf_dir))
        except Exception as e:  # record and continue: one bad query
            # must not lose the rest of a long sweep (the r8 sweep
            # died 46 queries in on a recursion cap)
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"  {name}: ERROR {errors[name]}", file=sys.stderr)
            continue
        cold[name] = round(min(samples), 2)
        # warm failure must not discard the valid cold samples (a
        # cold regression row would vanish — and the ratchet would
        # then skip the query — over a warm-only fault)
        try:
            warm[name] = round(_run_once(fn, spark, sf_dir), 2)
        except Exception as e:
            errors[name] = f"warm: {type(e).__name__}: {e}"[:300]
            print(f"  {name}: WARM ERROR {errors[name]}", file=sys.stderr)
        print(
            f"  {name}: cold {cold[name]:.2f}s"
            + (f" warm {warm[name]:.2f}s" if name in warm else ""),
            file=sys.stderr,
        )
    out = {
        "metric": "probe100x_sec",
        "sf_dir": sf_dir,
        "protocol": {
            "cold_reps": reps,
            "note": (
                "cold: min over reps, reset_session_state before each "
                "run (all memos + SQL cache + persisted RDDs dropped); "
                "warm: one run immediately after, no reset. 'queries' "
                "IS the cold map (comparable across rounds). Warm rows "
                "are SINGLE-SHOT and carry this box's full ambient "
                "swing (~2x run-to-run, NOTES.md) — a warm > cold row "
                "is noise unless it reproduces standalone; use warm "
                "only for memo/cache signatures."
            ),
        },
        "queries": cold,
        "warm": warm,
        "total": round(sum(cold.values()), 2),
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
