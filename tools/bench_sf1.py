"""Standing sf1 bench gate (round-7 verdict ask #6): time the most
data-bound headline entries at sf1 (~10x sf0.1, built deterministically
by tools/make_sf1.py) with bench.py's timing protocol and comparison
rule, writing BENCH_SF1.json at the repo root.

Purpose: catch SUPERLINEAR DRIFT as a per-round gate instead of a probe
doc — the sf0.1 headline bench cannot see a query whose constant is
fine but whose exponent crept up (docs/SCALING.md flagged
sessionize_batch_30m b_hi +0.83, paragraph_dedup_reassembly +0.74,
column_profile_all +0.77; all three are in this gate's list).
`regressions_vs_prev: []` is the green state. A run that measured
itself as contended writes BENCH_SF1.quarantine.json instead and leaves
BENCH_SF1.json unchanged.

Usage: python tools/bench_sf1.py          # builds localdata/sf1 if absent
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from bench import env_passes, publish, time_entries  # noqa: E402
from lottery_end_to_end_etl_data_pipeline_spark import get_session  # noqa: E402
from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import (  # noqa: E402
    QUERIES,
)

# The 30 most data-bound headline queries (top of BENCH_DETAIL.json by
# sf0.1 cost, minus fixed-overhead streaming/tablefmt round-trips whose
# cost is checkpoint machinery, measured flat in docs/SCALING.md) plus
# the SCALING watch items. Fixed list so regression keys are stable
# across rounds.
SF1_QUERIES = [
    "column_profile_all",
    "column_profile_approx",
    "sessionize_batch_30m",
    "paragraph_dedup_reassembly",
    "semdedup_stats",
    "dedup_prefix_filter_join",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard_capped",
    "dedup_embedding_cosine",
    "frequent_item_pairs",
    "hits_authority_knn",
    "kcore_mutual_knn",
    "personalized_pagerank_knn",
    "label_propagation_knn",
    "dup_cluster_size_dist",
    "bucketed_join_no_shuffle",
    "bloom_semi_join_audit",
    "cdc_apply_tombstones",
    "blocking_quality_metrics",
    "iqr_filter",
    "facility_location_coreset",
    "weighted_median_by_status",
    "repeated_span_incremental",
    "repeated_span_stats",
    "cdc_chunk_stats",
    "hard_negative_mining",
    "knn_label_agreement",
    "star_join_revenue",
    "bm25_topk",
    "knn_brute_cosine",
    # r08 additions: track the rewritten plans at scale — the 3-level
    # range-sharded gap audit (replaced a corpus-wide global window)
    # and the Arrow multimodal decode path
    "sequence_gap_audit",
    "multimodal_decode_roundtrip",
    # r09 continuation additions: the data-bound new surfaces — the
    # ORC roundtrip (full events write+pruned read), the NFC Arrow
    # kernel over 2x documents, the shard-packed layout write, and
    # the PPM encode/resize/re-decode kernel chain
    "orc_roundtrip_audit",
    "unicode_nfc_dedup",
    "token_shard_write_audit",
    "multimodal_feature_pipeline",
    # r10: the Bronze parser round-trip is data-bound (doc synthesis +
    # parse windows over the mod-17 orders subset) — track it at sf1
    "bronze_parser_roundtrip",
    # r10 continuation: the scrape HTML extraction is data-bound (the
    # Python HTMLParser kernel runs per page over the mod-13 orders
    # subset) — the one new source/sink round-trip worth an sf1 point
    "scrape_extract_roundtrip",
]


def main() -> None:
    sf1 = _REPO / "localdata" / "sf1"
    if not sf1.is_dir():
        print("building localdata/sf1 via tools/make_sf1.py ...", file=sys.stderr)
        subprocess.run(
            [sys.executable, str(_REPO / "tools" / "make_sf1.py")], check=True
        )
    spark = get_session("bench_sf1")
    spark.sparkContext.setLogLevel("ERROR")
    entries = {name: QUERIES[name] for name in SF1_QUERIES}
    pass_times = time_entries(spark, entries, [str(sf1)], env_passes())[str(sf1)]
    compact = publish(pass_times, _REPO / "BENCH_SF1.json", "sf1_gate_total", str(sf1))
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
