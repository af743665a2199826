"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <headline total sec>, "unit": "sec",
   "queries": {name: sec, ...},            # 27 headline, median of reps
   "families": {fam: {"n": i, "sec": s}},  # ALL registered queries,
                                           # single smoke pass each
   "all_total_sec": <sec>,                 # sum over the full sweep
   "vs_prev": {...},                       # delta vs newest BENCH_r*.json
   "sf": <sf>}

Each query is materialized through the noop sink (full JVM execution,
no driver collect, no Python serialization in the measurement path).

Headline per-query times are the MEDIAN of $SPARK_GRAFT_BENCH_REPS
passes (default 5), interleaved round-robin so a transient JVM hiccup
(GC, JIT recompile) lands in one pass, not one query: single-pass
timings on this box swing +/-25% run-to-run (NOTES.md), which the
median kills. `value` is the sum of medians — the cross-round
comparable number.

The family sweep runs EVERY registered query once (smoke cadence:
regressions anywhere in the registered query surface become visible
in BENCH_r{N}.json instead of resting on judge-side reruns). Set
SPARK_GRAFT_BENCH_FULL=0 to skip it when iterating locally.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from file_scraper_spark import registry
from file_scraper_spark.session import get_spark

# Representative operator families (SURVEY §2): scan+agg, joins,
# windows, sessionization, range join, text, dedup sketches, vector
# search, scrape-merge semantics.
HEADLINE = [
    "agg_groupby",
    "filter_predicate",
    "join_family",
    "rollup_cube",
    "window_rank",
    "window_lag_frame",
    "topk_sort_limit",
    "microbatch_window",
    "sessionize",
    "range_join",
    "scalar_datetime_math_json",
    "agg_distinct",
    "text_wordcount",
    "text_quality",
    "doc_fingerprint",
    "dedup_exact",
    "dedup_minhash",
    "dedup_embedding",
    "similarity_topk",
    "timeseries_rollup",
    "merge_upsert",
    "union_seen",
    "tpch_q3_shape",
    "tpch_q5_shape",
    "asof_join",
    "pivot_agg",
    "conditional_agg",
]

# name -> benchmark family for the full-surface sweep. First match
# wins; literal names before prefixes where a prefix would mislabel.
_FAMILY_RULES: list[tuple[str, str]] = [
    ("tpch_", "tpch"),
    ("text_", "text"),
    ("doc_fingerprint", "text"),
    ("dedup_", "dedup"),
    ("contamination_check", "dedup"),
    ("similarity_", "similarity"),
    ("knn_join", "similarity"),
    ("embedding_", "similarity"),
    ("multimodal_", "multimodal"),
    ("stream_", "streaming"),
    ("pylisting_stream", "streaming"),
    ("udf_", "udf"),
    ("udtf_", "udf"),
    ("timeseries_", "timeseries"),
    ("funnel_analysis", "analytics"),
    ("retention_cohort", "analytics"),
    ("window_", "window"),
    ("agg_", "agg"),
    ("hll_sketch_merge", "agg"),
    ("bitmap_distinct", "agg"),
    ("approx_quantile", "agg"),
    ("percentile_quantile", "agg"),
    ("stddev_var", "agg"),
    ("corr_covar", "agg"),
    ("histogram_bucket", "agg"),
    ("salted_agg", "agg"),
    ("conditional_agg", "agg"),
    ("pivot_agg", "agg"),
    ("rollup_cube", "agg"),
    ("grouping_sets", "agg"),
    ("csv_roundtrip", "formats"),
    ("json_roundtrip", "formats"),
    ("orc_roundtrip", "formats"),
    ("xml_roundtrip", "formats"),
    ("partitioned_write_read", "formats"),
    ("zorder_layout", "formats"),
    ("variant_shred", "formats"),
    ("file_metadata_cols", "formats"),
    ("sample_", "pipeline"),
    ("train_test_split", "pipeline"),
    ("corpus_", "pipeline"),
    ("sequence_packing", "pipeline"),
    ("context_windows", "pipeline"),
    ("pipeline_end2end", "pipeline"),
    ("quality_funnel", "text"),
    ("scan_project", "scrape"),
    ("filter_predicate", "scrape"),
    ("path_split", "scrape"),
    ("mime_lookup", "scrape"),
    ("scrape_", "scrape"),
    ("merge_upsert", "scrape"),
    ("antijoin_deleted", "scrape"),
    ("union_seen", "scrape"),
    ("microbatch_window", "scrape"),
    ("python_datasource", "scrape"),
]


def family_of(name: str) -> str:
    for pat, fam in _FAMILY_RULES:
        if name == pat or name.startswith(pat):
            return fam
    return "relational"


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _streaming_overhead_sec(spark, reps: int = 3) -> float:
    """Fixed per-query cost of the streaming harness — stream start,
    micro-batch planning, memory-sink registration, stop — measured on
    a 1-row file stream (median of ``reps``). Every streaming-family
    query pays this constant regardless of data volume, so the family's
    wall seconds overstate its DATA cost; the bench reports both (the
    r5 verdict's streaming-fidelity ask)."""
    import shutil
    import tempfile
    import uuid

    d = tempfile.mkdtemp(prefix="fss_bench_null_")
    try:
        spark.range(1).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/null.parquet"
        )
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            q = (
                spark.readStream.format("parquet")
                .schema("id long")
                .load(f"{d}/null.parquet")
                .writeStream.outputMode("append")
                .format("memory")
                .queryName(f"bench_null_{uuid.uuid4().hex[:12]}")
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _reconstruct_from_tail(tail: str) -> dict:
    """Best-effort recovery of a bench payload from a TRUNCATED driver
    tail (the r8 failure mode: the driver keeps only the last 2000
    stdout chars, and when the JSON line exceeded that, ``parsed`` is
    null and the head of the JSON — including ``value`` — is gone).

    The tail *end* of the r8-era output reliably contains ``sf``,
    ``reps``-adjacent fields, ``headline`` and ``vs_prev``; the
    headline total is recomputed from vs_prev as
    ``prev_headline_total_sec * headline_ratio`` (both printed at full
    precision, so the product matches the lost ``value`` to ~1ms).
    Returns {} when nothing usable is found."""
    out: dict = {}
    m = re.search(
        r'"vs_prev":\s*\{"round":\s*(\d+),\s*'
        r'"prev_headline_total_sec":\s*([\d.]+),\s*'
        r'"headline_ratio":\s*([\d.]+),\s*"comparable":\s*(true|false)',
        tail,
    )
    if m and m.group(4) == "true":
        out["value"] = round(float(m.group(2)) * float(m.group(3)), 3)
        out["reconstructed_from_tail"] = True
    h = re.search(r'"headline":\s*(\[[^\]]*\])', tail)
    if h:
        try:
            out["headline"] = json.loads(h.group(1))
        except json.JSONDecodeError:
            pass
    s = re.search(r'"sf":\s*([\d.]+)', tail)
    if s:
        out["sf"] = float(s.group(1))
    r = re.search(r'"reps":\s*(\d+)', tail)
    if r:
        out["reps"] = int(r.group(1))
    return out


def _prev_bench(repo_dir: str) -> tuple[int, dict] | None:
    """Newest round with a usable bench payload, for the round delta.

    Prefers the driver-recorded BENCH_r{N}.json; when that round's
    payload was truncated (parsed null, no ``value``), falls back to
    the locally-persisted full artifact BENCH_LOCAL_r{N}.json and then
    to tail reconstruction — so one truncated driver capture cannot
    break cross-round comparability for every later round."""
    by_round: dict[int, dict] = {}
    local_by_round: dict[int, dict] = {}
    for path in glob.glob(os.path.join(repo_dir, "BENCH_*r*.json")):
        m = re.search(r"BENCH_(LOCAL_)?r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                data = json.loads(f.read().strip() or "{}")
        except (OSError, json.JSONDecodeError):
            continue
        rnd = int(m.group(2))
        if m.group(1):
            local_by_round[rnd] = data
            continue
        # the driver records {"n":..,"rc":..,"tail":..,"parsed": <our
        # JSON line>}; unwrap to the bench payload
        if isinstance(data.get("parsed"), dict):
            data = data["parsed"]
        elif isinstance(data.get("tail"), str):
            data = _reconstruct_from_tail(data["tail"])
        by_round[rnd] = data
    # Only DRIVER-recorded rounds define the round clock; a local twin
    # with no driver counterpart is THIS round's own in-progress run
    # (re-running bench.py within a round must not bump the round
    # number or compare against itself), so it is payload-fallback
    # only, never a round of its own.
    best: tuple[int, dict] | None = None
    for rnd in sorted(by_round):
        data = by_round[rnd]
        if not data.get("value"):
            data = local_by_round.get(rnd, data)
        elif rnd in local_by_round:
            # heal PARTIAL truncation: tail reconstruction recovers
            # `value` but the bulky head sections (headline list,
            # reps) are exactly what the 2000-char tail loses — so a
            # truncated driver capture with a surviving local twin
            # used to flunk the comparability check forever after
            # (r10: vs_prev.comparable false against r9 despite an
            # identical headline set). Missing keys only; the driver
            # capture stays authoritative where it has data.
            loc = local_by_round[rnd]
            fill = {
                k: loc[k]
                for k in ("headline", "reps", "sf", "queries")
                if data.get(k) in (None, [], {}) and loc.get(k) is not None
            }
            if fill:
                data = {**data, **fill}
        if data.get("value") and (best is None or rnd > best[0]):
            best = (rnd, data)
    return best


def _ab_pairs(spark, sf_dir, fn_a, fn_b, reps: int) -> dict:
    """Same-JVM interleaved A/B: alternate A and B ``reps`` times and
    report min-of-reps for each (plus the raw pairs). Min, not median:
    the two forms share every ambient condition inside one JVM, and
    min-of-interleaved-reps is the noise-robust statistic NOTES.md's
    methodology section prescribes for optimization claims on this
    box (~2x ambient swing run-to-run)."""
    from file_scraper_spark.tables import reset_session_state

    ta, tb = [], []
    for _ in range(reps):
        # reset BOTH arms to cold: without it a memoizing query (the
        # jaccard edge memo) measures the memo hit against the other
        # arm's full pipeline — the r11 first capture recorded 0.015s
        # vs 1.7s that way, a cache artifact, not a comparison
        reset_session_state(spark)
        t0 = time.perf_counter()
        materialize(fn_a(spark, sf_dir))
        ta.append(round(time.perf_counter() - t0, 3))
        reset_session_state(spark)
        t0 = time.perf_counter()
        materialize(fn_b(spark, sf_dir))
        tb.append(round(time.perf_counter() - t0, 3))
    return {
        "a_min_sec": min(ta),
        "b_min_sec": min(tb),
        "ratio": round(min(tb) / max(min(ta), 1e-9), 3),
        "pairs": list(zip(ta, tb)),
    }


AMBIENT_NOTE = (
    "single-window absolutes on this box swing ~2x with ambient load; "
    "only same-JVM interleaved pairs (the 'ab' section / --ab mode) "
    "support old-vs-new claims"
)


def run_ab_cli(spec: str) -> None:
    """``bench.py --ab nameA,nameB``: interleaved A/B of two REGISTERED
    queries in one JVM; prints one JSON line and exits."""
    name_a, name_b = (s.strip() for s in spec.split(","))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench-ab")
    queries = registry.all_queries()
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # warm both once so JIT/codegen/worker-pool startup lands outside
    # the measured pairs
    materialize(queries[name_a](spark, sf_dir))
    materialize(queries[name_b](spark, sf_dir))
    res = _ab_pairs(spark, sf_dir, queries[name_a], queries[name_b], reps)
    print(json.dumps({
        "metric": "ab_interleaved",
        "a": name_a,
        "b": name_b,
        **res,
        "note": AMBIENT_NOTE,
    }))
    spark.stop()


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--ab":
        run_ab_cli(sys.argv[2])
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    queries = registry.all_queries()

    # warm the JVM, codegen and parquet footers: one cheap metadata pass
    # per table so per-query timings reflect steady state
    from file_scraper_spark.tables import TABLE_NAMES, load

    for t in TABLE_NAMES:
        load(spark, sf_dir, t).count()
    materialize(queries["topk_sort_limit"](spark, sf_dir))
    # spawn + warm the Python/Arrow worker pool once (pandas+numpy
    # imports cost several seconds across 32 workers) so mapInPandas
    # queries measure steady state, not interpreter startup
    spark.range(0, 64, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(reps):
        for name in HEADLINE:
            t0 = time.perf_counter()
            materialize(queries[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
    timings = {
        name: round(statistics.median(ts), 3) for name, ts in samples.items()
    }
    total = round(sum(timings.values()), 3)

    # full-surface smoke sweep, grouped by family (headline queries
    # reuse their median instead of running a fourth pass)
    families: dict[str, dict[str, float]] = {}
    all_total = 0.0
    if os.environ.get("SPARK_GRAFT_BENCH_FULL", "1") != "0":
        for name in sorted(queries):
            if name in timings:
                sec = timings[name]
            else:
                t0 = time.perf_counter()
                materialize(queries[name](spark, sf_dir))
                sec = time.perf_counter() - t0
            fam = families.setdefault(
                family_of(name), {"n": 0, "sec": 0.0}
            )
            fam["n"] += 1
            fam["sec"] += sec
            all_total += sec
        for fam in families.values():
            fam["sec"] = round(fam["sec"], 3)
        # streaming fidelity: split the family's wall seconds into the
        # fixed harness constant (start/plan/sink/stop x n queries)
        # and the residual data cost
        if "streaming" in families:
            ovh = _streaming_overhead_sec(spark)
            fam = families["streaming"]
            fam["harness_overhead_sec"] = round(ovh * fam["n"], 3)
            fam["data_sec"] = round(
                max(0.0, fam["sec"] - ovh * fam["n"]), 3
            )

    # same-JVM old-vs-new pairs for queries REWRITTEN this round
    # (ab_variants.AB_BASELINES — superseded forms kept one round):
    # the artifact carries the interleaved pairs so round-over-round
    # readers never compare this round's absolutes against last
    # round's window (the round-6 false-regression mechanism)
    ab: dict[str, dict] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_AB", "1") != "0":
        from file_scraper_spark.ab_variants import AB_BASELINES

        ab_reps = int(os.environ.get("SPARK_GRAFT_BENCH_AB_REPS", "3"))
        for name, old_fn in AB_BASELINES.items():
            if name not in queries:
                continue
            res = _ab_pairs(spark, sf_dir, old_fn, queries[name], ab_reps)
            ab[name] = {
                "old_min_sec": res["a_min_sec"],
                "new_min_sec": res["b_min_sec"],
                "new_over_old": res["ratio"],
                "pairs": res["pairs"],
            }

    # Key ORDER is load-bearing: the driver keeps only the last 2000
    # stdout chars (the r8 truncation lost the per-query map). Bulky,
    # reconstructable sections (families, ab pairs, headline list) go
    # FIRST; the per-query medians, headline total and vs_prev go LAST
    # so the tail always retains the evidence every regression argument
    # needs. The FULL payload is additionally persisted to
    # BENCH_LOCAL_r{N}.json below, so nothing depends on the tail alone.
    out = {
        "metric": "headline_queries_total_sec",
        "unit": "sec",
        "reps": reps,
        "headline": sorted(HEADLINE),
        "families": families,
        "all_total_sec": round(all_total, 3),
    }
    if ab:
        out["ab"] = ab
        out["ab_note"] = AMBIENT_NOTE
    out["sf"] = float(sf) if sf.replace(".", "").isdigit() else sf
    out["queries"] = timings
    out["value"] = total

    repo_dir = os.path.dirname(os.path.abspath(__file__))
    prev = _prev_bench(repo_dir)
    if prev and prev[1].get("value"):
        prev_total = float(prev[1]["value"])
        # the ratio is only cross-round comparable when the headline
        # set, reps and sf match the prior round (a membership change
        # would silently skew the delta). Older rounds didn't record
        # headline/reps — fall back to the measured query keys.
        prev_set = sorted(
            prev[1].get("headline") or prev[1].get("queries", {})
        )
        # reps may INCREASE round-over-round without breaking
        # comparability: each query's number is the median of its
        # reps, and a median over more interleaved reps estimates the
        # same steady-state statistic, only with less ambient noise
        # (the r6 verdict's explicit ask). A DECREASE still flags.
        comparable = (
            prev_set == sorted(HEADLINE)
            and reps >= int(prev[1].get("reps", reps))
            and prev[1].get("sf") == out["sf"]
        )
        out["vs_prev"] = {
            "round": prev[0],
            "prev_headline_total_sec": prev_total,
            "headline_ratio": round(total / prev_total, 3),
            "comparable": comparable,
        }
        if not comparable:
            out["vs_prev"]["note"] = (
                "headline set/reps/sf differ from prior round; "
                "ratio not cross-round comparable"
            )

    # Persist the FULL artifact in-repo (VERDICT r8 task 1): the round
    # number is the driver's newest BENCH_r{N} plus one (the driver
    # writes its capture after this process exits), so this file is the
    # local twin of the BENCH_r{N+1}.json it will record. Skipped for
    # partial sweeps (SPARK_GRAFT_BENCH_FULL=0 local iteration runs)
    # so a quick headline-only pass never overwrites round evidence.
    if os.environ.get("SPARK_GRAFT_BENCH_FULL", "1") != "0":
        driver_rounds = [
            int(m.group(1))
            for p in glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r(\d+)\.json$", p))
        ]
        this_round = max(driver_rounds, default=0) + 1
        local_path = os.path.join(repo_dir, f"BENCH_LOCAL_r{this_round}.json")
        try:
            with open(local_path, "w") as f:
                json.dump(out, f, indent=1)
                f.write("\n")
        except OSError as e:
            print(f"bench: could not persist {local_path}: {e}", file=sys.stderr)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
