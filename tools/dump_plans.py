"""Dump formatted physical plans of registry queries.

The scale argument in SCALE.md is enforced by plan-shape asserts in
tests/test_plans.py; this artifact makes the actual plans reviewable without
running Spark.

Usage: python tools/dump_plans.py [name ...] [--plans DIR] [--sf DIR]

With no names the flagship queries below are dumped; without ``--plans``
the plans go to PLANS.md (regenerate it after any operator change), with
``--plans DIR`` to one ``DIR/<name>.txt`` per query (the optimization-round
before/after artifact, e.g. ``plans/r14/``).  ``--sf`` defaults to the
sf0.001 test data: plan shapes are data-size independent except for the
driver-side decisions that look at input size.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ssis_to_dbt_spark import catalog  # noqa: E402
from ssis_to_dbt_spark.run import session  # noqa: E402

SF = "/root/testdata/sf0.001"

# query -> the property the plan demonstrates
SHOWCASE = {
    "stg_sales_transactions": "filter pushed to scan; single codegen stage",
    "fct_sales_star": "3 broadcast joins; fact side never shuffles",
    "agg_daily_sales": "map-side partial aggregation; one exchange",
    "dim_customer_scd2": "all SCD2 windows share one exchange",
    "topk_embeddings": "TakeOrderedAndProject, no global sort",
    "knn_join_embeddings": "two-phase top-k; WindowGroupLimit caps map output",
    "asof_attribution": "as-of join with no join node: union + one window",
    "range_join_sessions": "interval join as hash equi-join (no BNLJ)",
    "ivf_topk_embeddings": "map-only cell assignment; probe then TakeOrdered",
    "minhash_pairs_docs": "explode + min-aggs; banded equi-join on ids",
    "chunk_docs": "map-only chunk explosion: sequence/slice/posexplode, no shuffle",
    "surprisal_docs": "token-keyed count aggs + joins; decimal-exact per-doc sums",
    "bloom_orders": "1-row broadcast bit-set prefilter; fact side never hash-shuffles",
    "pack_docs": "packing cumsum windows keyed by 16-way bucket; no single-partition sort",
    "semdedup_embeddings": "Arrow engine: map-only assignment, one cell-keyed exchange into the grouped pair kernel",
    "cdc_apply_orders": "changelog window (WindowGroupLimit-capped) + key anti-join; snapshot never shuffles",
    "weighted_sample_docs": "map-only ticket transform; TakeOrderedAndProject selection",
    "dup_spans_docs": "window fingerprints exploded once; inverted-index count join, doc-keyed fold",
    "zorder_events": "1-row bounds broadcast; codegen'd Morton key; one bucket hash agg",
    "resize_bmp_stats": "map-only mapInPandas chain (encode -> resize -> decode); no shuffle",
    "source_cap_docs": "per-domain cap: one window exchange on source, row-counter state",
    "minhash_pairs_md5": "band-bucket cap: row_number window on the band keys bounds pair generation",
    "dtsx_sales_fact_etl": "parsed SalesFactETL.dtsx: source filters pushed to scan, 3 broadcast lookups, codegen'd derived decimals",
    "gopher_quality_docs": "Arrow Gopher kernel: one MapInPandas stage, no exchange, pruned scan",
    "winnow_docs": "winnowing: Arrow fingerprint kernel (map-only), inverted-index pair join",
    "funnel_events": "funnel: one shuffle (sorted per-user sequence fold); oracle uses k-pass joins",
    "hll_users_events": "HLL registers: map-side partial max, one bounded exchange",
    "bpe_encode_docs": "BPE encode: codegen replace chain over vocab, broadcast join back",
    "text_analysis_docs": "Arrow signal battery: one MapInPandas, (doc_id, text) pruned scan",
    "label_prototypes": "Arrow prototype assignment; centroid agg lazily checkpointed (one compute)",
    "split_leakage_docs": "pair side PINNED broadcast at both joins; corpus split table never shuffles",
    "dtsx_order_routing": "branched <paths> package: one conversion scan fanned out to four destinations",
    "dsir_docs": "DSIR: B-row bucket model broadcast back; corpus shuffles exactly twice; explode_outer markers avoid a resurrection join",
    "curation_pipeline_docs": "composed curation chain (lazy form): broadcast anti-join drops at the dedup/decontam seams, k-row DSIR winner + mixture thresholds broadcast, bucket-keyed packing window — no SMJ, no cartesian",
    "pack_nosplit_docs": "no-split NFD packing: auto-sized bucket count from one scalar agg; one bucket-key exchange into the applyInPandas fold",
    "crawl_ingest_docs": "continuous-crawl two-batch loop: batch bands broadcast against the index, size-aware drop seams, merged-DSIR map-only scoring, bucket-keyed packing; r11 adds the within-batch self-join components (capped band buckets, size-aware regime)",
    "ci_collation_customers": "CI collation: lower() fold is a codegen projection BEFORE the exchange — broadcast lookup strategy identical to the case-sensitive plan",
    "jpeg_decode_stats": "real JPEG entropy decode: one map-only mapInPandas chain (encode -> decode), pruned (doc_id) scan, no shuffle",
    "bm25_search_docs": "BM25: literal query-term broadcast prunes the token explode map-side; 1-row scalar crossJoin; WindowGroupLimit per-query top-k",
    "nb_classifier_docs": "NB fit+apply: (label,term) hash agg with map-side combine; model grid broadcast back; per-doc argmax window; no cartesian",
    "ivf_index_probe": "persisted IVF probe: in-plan query routing, partition-pruned assignment scan (PartitionFilters on cell), routed queries broadcast, per-query WindowGroupLimit",
    "bm25_index_probe": "persisted BM25 probe: term IN-filter bucket-prunes the postings scan (SelectedBucketsCount), 1-row stats broadcast, shared ranking tail with bm25_search_docs",
    "semantic_decontam_ivf": "corpus-scale decontam through the IVF index: map-only routing, PartitionFilters on the eval assign scan, cell-keyed shuffle join — NO broadcast of either side, per-item WindowGroupLimit argmax",
    "ci_group_customers": "CI GROUP BY/DISTINCT/dup/sort: the lower() fold is a map-side projection riding the same hash agg (partial combine intact); MIN-case representative rides the combine",
    "hybrid_rrf_docs": "RRF hybrid retrieval: both input rankings are per-query WindowGroupLimit top-k relations; the fuse is a model-sized union + (query, doc) hash agg — the corpus is only touched inside the two retrievers",
    "ci_filter_customers": "CI predicate folds (r13): LOWER() stays a per-row codegen expression inside the scan-side Filter — no exchange added by the fold; the expression-compiler arms share the plan shape with the rewrite_tsql arms",
    "ivf_recall_audit": "recall@k audit (r13): each nprobe arm is a partition-pruned probe; hit counts join per-query top-k relations (request-scale); the exact arm is the unpruned probe, not a separate brute operator",
    "image_phash_neardup": "perceptual near-dup (r13): map-only mapInPandas hash, banded self-join on (band_idx, band_val) with capped buckets, bit_count XOR hamming in codegen — never all-pairs",
}

# some entries need non-default kwargs for a REVIEWABLE plan (the
# production pipeline checkpoints eagerly, which truncates the lineage
# out of the explain)
OVERRIDES = {
    "curation_pipeline_docs": lambda spark, sf: catalog.q_curation_pipeline_docs(
        spark, sf, checkpoint=False
    ),
}


def _option(args: list[str], flag: str, default: str | None) -> str | None:
    if flag not in args:
        return default
    i = args.index(flag)
    value = args[i + 1]
    del args[i : i + 2]
    return value


def main() -> int:
    args = sys.argv[1:]
    plans_dir = _option(args, "--plans", None)
    sf_dir = _option(args, "--sf", SF)
    unknown = sorted(set(args) - set(catalog.ALL_QUERIES))
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    names = args or list(SHOWCASE)

    spark = session("dump_plans", shuffle_partitions=8)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    out = [
        "# PLANS — formatted physical plans of the flagship queries",
        "",
        f"Generated by `python tools/dump_plans.py` at {os.path.basename(sf_dir)}"
        " (plan shapes are",
        "data-size independent; AQE leaves these static shapes intact).",
        "Shape regressions fail `tests/test_plans.py`.",
        "",
    ]
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
    for name in names:
        fn = OVERRIDES.get(name, catalog.ALL_QUERIES[name])
        plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(mode)
        if plans_dir:
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
            continue
        why = [f"*{SHOWCASE[name]}*", ""] if name in SHOWCASE else []
        out += [f"## {name}", "", *why, "```", plan.rstrip(), "```", ""]
    if not plans_dir:
        with open("PLANS.md", "w") as f:
            f.write("\n".join(out))
    print(f"{len(names)} plans written to {plans_dir or 'PLANS.md'}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
