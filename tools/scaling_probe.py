"""Empirical scaling probe: run representative catalog queries at
sf0.001 / sf0.01 / sf0.1 / sf1 and fit the log-log scaling exponent
of wall time vs input scale, writing docs/SCALING.md.

The sf1 point (~158 MB, 6M lineitem rows) is generated locally by
`tools/make_sf1.py` — deterministic 10x replication of the driver's
sf0.1 with disjoint keys per replica — extending the fitted range to
1000x. That fourth decade is what separates fixed overhead from the
linear term: at 17 MB most queries read b <= 0.17 because job-launch
overhead floors the measurement; at 158 MB the scan/shuffle term
finally dominates and honest linear queries move toward b ~ 1 on the
upper decade while bounded ones stay flat.

Interpretation: exponent b in t ~ sf^b over the FULL fitted range.
b <= ~0.3: fixed per-query overhead still dominates. b ~ 1: linear
scan behavior — the best possible for full-scan analytics. b > 1
flags superlinear growth worth a plan review. Entries whose
algorithms are bounded by construction (vec_id<300 graphs, fixed
query sets) are expected near b=0 and labeled "bounded".

Usage: python tools/scaling_probe.py            # all 4 decades
       python tools/scaling_probe.py --no-sf1   # driver decades only
       python tools/scaling_probe.py --decade-check   # top-decade gate

--decade-check (r11, VERDICT r10 #5) is the per-round superlinear
gate: it takes the TOP-10 most expensive entries from BENCH_SF1.json,
measures each once (warmed) at sf1 and sf10, recomputes the top-decade
exponent b = log10(t10/t1), appends the table to docs/SCALING.md, and
EXITS 1 if any b > 1.05 without an entry in _DECADE_ALLOW (superlinear
shapes that are documented cost-for-correctness, with the reason
recorded here and in SCALING.md). This is the only gate that catches
superlinear onset and at-scale overflows (the r10 probes found a real
int32 draw-id overflow at sf10).
"""

from __future__ import annotations

import argparse
import math
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import noop, time_entries  # noqa: E402
from lottery_end_to_end_etl_data_pipeline_spark import get_session  # noqa: E402
from lottery_end_to_end_etl_data_pipeline_spark.plans.testdata_queries import (  # noqa: E402
    QUERIES,
    _column_profile_approx_frame,
)

# probe-only surfaces that are not standalone catalog entries: the
# Expand-free approx profiler WITHOUT its audit-only exact join (the
# catalog entry `column_profile_approx` also pays an exact side on a
# 1/16 md5 sample, to oracle the estimates — production runs the frame)
EXTRA = {"column_profile_approx_frame": _column_profile_approx_frame}

_REPO = Path(__file__).resolve().parent.parent
SFS = [
    ("0.001", 0.001, "/root/testdata/sf0.001"),
    ("0.01", 0.01, "/root/testdata/sf0.01"),
    ("0.1", 0.1, "/root/testdata/sf0.1"),
    ("1", 1.0, str(_REPO / "localdata" / "sf1")),
]

# one per operator family; (name, expected-shape note)
PROBES = [
    ("star_join_revenue", "scan+broadcast join+agg"),
    ("gold_draw_summary_shape", "hash aggregate"),
    ("sessionize_batch_30m", "window over user partitions"),
    ("dedup_exact", "hash groupBy on md5"),
    ("dedup_minhash_lsh", "banded LSH self-join"),
    ("dedup_ngram_jaccard_capped", "inverted-index postings join"),
    ("knn_brute_cosine", "one corpus scan, fixed queries"),
    ("bm25_topk", "inverted index + topk"),
    ("asof_event_to_prior_purchase", "union + forward-fill window"),
    ("sequence_packing_stats", "prefix-sum packing"),
    ("streaming_windowed_counts", "AvailableNow drain"),
    ("mahalanobis_outliers", "co-moment agg + broadcast"),
    ("paragraph_dedup_reassembly", "explode+agg+rebuild"),
    ("top_tfidf_terms", "tf/df aggregates + window"),
    ("hypertable_rollup", "mergeable continuous agg"),
    # the 5 slowest BENCH_r04 entries (round-4 verdict ask #4): the
    # iterative bounded-graph loops should fit b ~ 0 (bounded), the
    # profilers/try surface b <= ~1
    ("kcore_mutual_knn", "bounded: 8-round peel, vec_id<300"),
    ("hits_authority_knn", "bounded: 4-round HITS, vec_id<200"),
    ("personalized_pagerank_knn", "bounded: 8-round PPR, vec_id<200"),
    ("try_functions_surface", "guarded try_* scan+agg"),
    ("column_profile_all", "multi-distinct Expand agg"),
    ("column_profile_approx", "approx profile + exact AUDIT join"),
    ("column_profile_approx_frame", "Expand-free HLL profile alone"),
    # round-6 lakehouse additions: table builds are linear in input;
    # the MOR delete commits themselves are metadata-cost
    ("tablefmt_mor_delete_audit", "4-file build + 2 MOR deletes + append"),
    ("tablefmt_bloom_skipping", "4-file build + distributed bloom index"),
    ("streaming_mor_cdc_sink", "3-batch CDC drain x2 (replay)"),
    # round-6 partitioning + streaming-source additions: the build is
    # one partitioned write (linear in input, ~30 day-files); pruning
    # itself is driver-side metadata so the read side scales with the
    # PROBED slice, not the table
    ("tablefmt_partition_pruning", "day-partitioned build + 3-day pruned read"),
    ("tablefmt_readstream_audit", "2 checkpointed readStream drains"),
    # r09 continuation: the data-bound new surfaces
    ("unicode_nfc_dedup", "ASCII sanitize + NFC Arrow kernel over 2x docs"),
    ("orc_roundtrip_audit", "partitioned ORC write + pruned read"),
    ("token_shard_write_audit", "shard pack + partitioned write + manifest"),
    ("multimodal_feature_pipeline", "PPM encode/resize/re-decode kernel chain"),
]


# Entries allowed to exceed the 1.05 top-decade threshold, each with
# the documented reason (must match a "## Decade check" adjudication
# note in docs/SCALING.md). Keep this list SHORT and justified.
_DECADE_ALLOW: dict[str, str] = {
    # sf1/sf10 replicas carry an ' r{i}' text suffix, so cross-replica
    # document pairs are GENUINE J>=0.8 near-dups (not exact dups the
    # r11 collapse removes): the true >=0.8 pair space grows
    # quadratically with replication BY DATA CONSTRUCTION. These two
    # entries compute exact ground truth over that space — their cost
    # is bounded below by its size, and PPJoin already makes candidate
    # work proportional to it (no lossless sub-linear exact count
    # exists). Measured r11: blocking 23.7s/617s (b=+1.42), cluster
    # histogram 24.5s/819s (b=+1.53) — ~25M true pairs at sf10.
    "blocking_quality_metrics": (
        "exact ground-truth >=0.8 pair space is quadratic in replica "
        "multiplicity by data construction; verify work ~ truth size"
    ),
    "dup_cluster_size_dist": (
        "exact >=0.8 pair graph (and its 3-round label propagation) is "
        "quadratic in replica multiplicity by data construction"
    ),
}

# Output-work extractors for allow-listed entries (r11 verdict #6):
# the allow-list must be CHECKABLE, not trusted prose. Each maps the
# entry's own output frame to the size of the answer it is bounded
# below by (the exact >=0.8 pair space both entries compute over).
# The gate then requires the OUTPUT-NORMALIZED exponent
# b_norm = log10((t10/w10) / (t1/w1)) <= 0.1 — time per unit of
# answer must stay flat across the decade even when raw time does not.
_ALLOW_WORK = {
    # single audit row carries the exact truth-pair count
    "blocking_quality_metrics": lambda df: float(df.first()["n_truth"]),
    # histogram of cluster sizes -> within-cluster pair count
    # sum_c n_clusters(c) * C(c, 2), the edge volume the propagation
    # and histogram are bounded by
    "dup_cluster_size_dist": lambda df: float(
        df.selectExpr(
            "sum(n_clusters * cluster_size * (cluster_size - 1) / 2) AS w"
        ).first()["w"]
    ),
}


def decade_check() -> int:
    """Top-decade (sf1→sf10) exponent gate over the 10 most expensive
    BENCH_SF1.json entries. Returns a process exit code."""
    import json

    bench_path = _REPO / "BENCH_SF1.json"
    sf10 = _REPO / "localdata" / "sf10"
    sf1 = _REPO / "localdata" / "sf1"
    if not bench_path.exists():
        print("BENCH_SF1.json missing — run tools/bench_sf1.py first", file=sys.stderr)
        return 1
    for d in (sf1, sf10):
        if not d.is_dir():
            print(f"{d} missing — build it with tools/make_sf1.py", file=sys.stderr)
            return 1
    recorded = json.loads(bench_path.read_text())["queries"]
    top = [k for k, _ in sorted(recorded.items(), key=lambda kv: -kv[1])[:10]]

    spark = get_session("decade-check")
    spark.sparkContext.setLogLevel("ERROR")

    rows, flagged = [], []
    dirs = [str(sf1), str(sf10)]
    for name in top:
        try:
            # one warmed pass per scale, on the noop sink: at sf10 some
            # entries legitimately emit tens of millions of rows
            timed = time_entries(spark, {name: QUERIES[name]}, dirs, 1, sink=noop)
            ts = [timed[d][name][0] for d in dirs]
            # outside the timed window: size of the answer the
            # allow-listed entry is bounded below by (r11 verdict #6 —
            # the allow-list must be checkable, not trusted)
            works = [
                _ALLOW_WORK[name](QUERIES[name](spark, d))
                for d in dirs
                if name in _ALLOW_WORK
            ]
        except Exception as e:  # an entry that cannot RUN at scale
            # failing at sf10 is the worst possible scaling result —
            # record it, flag it, keep sweeping the other entries
            err = f"{type(e).__name__}: {str(e).splitlines()[0][:120]}"
            rows.append((name, float("nan"), float("nan"), float("inf"), None))
            flagged.append(name)
            print(f"{name:32s} ERROR at scale: {err}", flush=True)
            continue
        b = math.log10(ts[1] / ts[0])  # decade spacing: log10(sf10/sf1)=1
        b_norm = None
        if len(works) == 2 and min(works) > 0:
            # time-per-unit-of-answer exponent: must stay ~flat for an
            # output-bound adjudication to hold
            b_norm = math.log10((ts[1] / works[1]) / (ts[0] / works[0]))
        rows.append((name, ts[0], ts[1], b, b_norm))
        note = ""
        if b > 1.05:
            if name in _DECADE_ALLOW and b_norm is not None and b_norm <= 0.1:
                note = f"ALLOWED (b_norm={b_norm:+.2f}): {_DECADE_ALLOW[name]}"
            elif name in _DECADE_ALLOW:
                flagged.append(name)
                note = (
                    f"FLAGGED (allow-listed but b_norm="
                    f"{'n/a' if b_norm is None else format(b_norm, '+.2f')} "
                    "> 0.1 — output-bound claim not supported)"
                )
            else:
                flagged.append(name)
                note = "FLAGGED"
        print(
            f"{name:32s} sf1={ts[0]:7.2f} sf10={ts[1]:8.2f} b={b:+.2f} {note}",
            flush=True,
        )

    out = _REPO / "docs" / "SCALING.md"
    lines = [
        "\n## Decade check (sf1 -> sf10, top-10 sf1 costs)\n",
        "\nPer-round superlinear gate (`tools/scaling_probe.py",
        "--decade-check`): one warmed pass per entry at each scale,",
        "`b = log10(t_sf10 / t_sf1)`; `b > 1.05` fails the gate unless",
        "allow-listed in `_DECADE_ALLOW` AND output-normalized flat",
        "(r11 verdict #6): `b_norm = log10((t10/w10)/(t1/w1)) <= 0.1`,",
        "where w is the entry's own answer size (`_ALLOW_WORK`) — time",
        "per unit of answer must not grow across the decade.\n",
        "\n| query | sf1 s | sf10 s | b | b_norm | status |",
        "|---|---|---|---|---|---|",
    ]
    for name, t1, t10, b, b_norm in rows:
        bn = "—" if b_norm is None else f"{b_norm:+.2f}"
        if math.isinf(b):
            lines.append(f"| `{name}` | — | ERROR | — | — | FLAGGED |")
            continue
        status = (
            "allowed"
            if name in _DECADE_ALLOW and b > 1.05
            and b_norm is not None and b_norm <= 0.1
            else ("FLAGGED" if b > 1.05 else "ok")
        )
        lines.append(
            f"| `{name}` | {t1:.2f} | {t10:.2f} | {b:+.2f} | {bn} | {status} |"
        )
    lines.append("")
    old = out.read_text() if out.exists() else ""
    idx = old.find("\n## Decade check")
    if idx != -1:
        # replace the previous decade section (it runs every round);
        # keep anything AFTER the table's trailing blank (subsequent
        # sections start with "## ")
        rest = old[idx + 1 :]
        nxt = rest.find("\n## ")
        tail = rest[nxt + 1 :] if nxt != -1 else ""
        old = old[:idx] + ("\n" + tail if tail else "")
    out.write_text(old.rstrip() + "\n" + "\n".join(lines))
    print(f"updated {out}")
    if flagged:
        print(f"DECADE GATE FAILED: b > 1.05 for {flagged}", file=sys.stderr)
        return 1
    print("decade gate OK")
    return 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--no-sf1", action="store_true")
    ap.add_argument("--decade-check", action="store_true")
    args = ap.parse_args()
    if args.decade_check:
        sys.exit(decade_check())
    sfs = list(SFS)
    if args.no_sf1 or not os.path.isdir(SFS[-1][2]):
        if not args.no_sf1:
            print("localdata/sf1 missing — run tools/make_sf1.py first", file=sys.stderr)
        sfs = sfs[:-1]

    spark = get_session("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")

    entries = {name: QUERIES.get(name) or EXTRA[name] for name, _ in PROBES}
    dirs = [sdir for _, _, sdir in sfs]
    timed = time_entries(spark, entries, dirs, 2)  # best-of-2 damps scheduler noise
    rows = []
    for name, note in PROBES:
        times = [min(timed[d][name]) for d in dirs]
        xs = [math.log10(v) for _, v, _ in sfs]
        ys = [math.log10(t) for t in times]
        n = len(xs)
        mx, my = sum(xs) / n, sum(ys) / n
        b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
            (x - mx) ** 2 for x in xs
        )
        # the upper-decade exponent: where the linear term lives
        b_hi = (ys[-1] - ys[-2]) / (xs[-1] - xs[-2]) if len(xs) >= 2 else b
        rows.append((name, note, times, b, b_hi))
        tstr = " ".join(f"{t:6.2f}" for t in times)
        print(f"{name:32s} {tstr}  b={b:+.2f} b_hi={b_hi:+.2f}")

    out = _REPO / "docs" / "SCALING.md"
    span = "1000x" if len(sfs) == 4 else "100x"
    hdr_sf = " | ".join(f"sf{tag} s" for tag, _, _ in sfs)
    lines = [
        f"# Empirical scaling ({spark.sparkContext.master}, "
        f"{spark.sparkContext.defaultParallelism} cores, best-of-2, warmed)\n",
        f"\nWall time per query across a {span} input range and the fitted",
        "log-log exponent `b` in `t ~ sf^b` (full range) plus `b_hi`,",
        "the top-decade slope — the one the linear term dominates once",
        "input outgrows fixed job overhead. `b <= ~0.3`: fixed overhead",
        "dominates (headroom for much larger inputs). `b ~ 1`: linear",
        "scan behavior. Superlinear `b_hi` flags a plan review. The sf1",
        "point is deterministic 10x replication of sf0.1 with disjoint",
        "keys (`tools/make_sf1.py`). Generated by",
        "`tools/scaling_probe.py`; timed by `bench.py::time_entries`",
        "(warmed once at sf0.001, `collect()`, min of 2 passes).\n",
        f"\n| query | shape | {hdr_sf} | b | b_hi |",
        "|---|---|" + "---|" * (len(sfs) + 2),
    ]
    for name, note, times, b, b_hi in rows:
        tcells = " | ".join(f"{t:.2f}" for t in times)
        lines.append(f"| `{name}` | {note} | {tcells} | {b:+.2f} | {b_hi:+.2f} |")
    lines.append("")
    # preserve hand-written plan-review sections across regenerations
    if out.exists():
        old = out.read_text()
        idx = old.find("\n## Plan review")
        if idx != -1:
            lines.append(old[idx + 1 :].rstrip())
            lines.append("")
    out.write_text("\n".join(lines))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
