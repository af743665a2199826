"""Regenerate PLANS.md: formatted physical plans of headline queries.

Evidence artifact for the scale review — shows pushdown, pruning,
broadcast choices and codegen spans without running anything.
Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# plan-only tooling: skip the eager build-time probes (exact_collapse
# duplicate check, gapfill cardinality probe) so the dumps show the
# full pipelines. NOTE: the dumped dedup plans are the NO-COLLAPSE
# branch by construction; on a fixture whose derived near-dup corpus
# contains exact duplicates, auto-mode execution takes the collapse
# branch, so a dumped plan can differ from the executed one (the plan
# tests in tests/test_plans.py pin the executed shapes).
os.environ.setdefault("FSS_EXACT_COLLAPSE", "never")
os.environ.setdefault("FSS_GAPFILL_PROBE", "never")

from file_scraper_spark import registry
from file_scraper_spark.session import get_spark

SHOW = [
    "agg_groupby",
    "filter_predicate",
    "mime_lookup",
    "tpch_q3_shape",
    "tpch_q5_shape",
    "range_join",
    "topk_sort_limit",
    "sessionize",
    "similarity_topk",
    "dedup_minhash",
    "dedup_embedding",
    "timeseries_rollup",
    "tpch_q13_shape",
    "merge_upsert",
    "dedup_ngram_jaccard",
    "dedup_editdistance",
    "tpch_q2_shape",
    "tpch_q15_shape",
    "tpch_q19_shape",
    "similarity_ann_ivf",
    "similarity_ann_lsh",
    "timeseries_locf",
    "dedup_minhash_fast",
    "corpus_shuffle",
    "quality_funnel",
    # round-12 continuation block
    "embedding_pq",
    "similarity_ann_ivfpq",
    "dedup_winnowing",
    "knn_classify",
    "dsir_weights",
    "gopher_quality_gate",
    "compaction_plan",
    "tokenizer_vocab_apply",
    # round-13 continuation (curation pair + ensemble/curriculum)
    "dedup_keep_best",
    "text_ccnet_buckets",
    "quality_ensemble",
    "corpus_curriculum",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(
        "plans", extra_conf={"spark.sql.maxMetadataStringLength": "200"}
    )
    qs = registry.all_queries()
    out = [
        "# PLANS — physical plans of headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. What to look",
        "for: `PushedFilters`/`ReadSchema` on scans (pushdown + pruning),",
        "`BroadcastHashJoin` on dim joins, `TakeOrderedAndProject` for",
        "top-k, equi `SortMergeJoin`/`ShuffledHashJoin` (never nested-loop)",
        "for the bucketed range join, and codegen `*(n)` spans.",
        "",
    ]
    for name in SHOW:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n```\n{buf.getvalue().strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(SHOW)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
