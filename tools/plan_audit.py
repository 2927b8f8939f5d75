"""Physical-plan audit: verify every headline query compiles to the
plan shape we designed for 100 TB, not just one that happens to pass.

For each query: count Exchanges / Sorts / Window nodes, check broadcast
joins where a small side exists, and confirm column pruning reached the
parquet scan (ReadSchema carries only needed columns). Exits non-zero
if any assertion fails — run it after touching any operator.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# query -> (max exchanges, max sorts, expect broadcast, max scan columns)
# window ops: ONE hash exchange + ONE sort is the contract; tier rollups
# add partial-agg exchanges; join queries get a looser bound but must
# broadcast their small side.
EXPECT = {
    "roll_mean_w10": dict(max_exchange=1, max_sort=1),
    "roll_var_w10": dict(max_exchange=1, max_sort=1),
    "roll_median_w5": dict(max_exchange=1, max_sort=1),
    # fused multi-p quantiles: 5 outputs (p=0/p=1 included) off ONE
    # Arrow pass, behind ONE sort/exchange
    "roll_quantiles_multi_w5": dict(max_exchange=1, max_sort=1, max_window=1),
    "roll_idxmax_w10": dict(max_exchange=1, max_sort=1),
    "roll_cov_w10": dict(max_exchange=1, max_sort=1),
    "roll_lm_w20": dict(max_exchange=1, max_sort=1, max_window=2),
    # width > NATIVE_MAX_WIDTH -> Arrow path (O(n) conv_mean): one exchange
    "expanding_mean": dict(max_exchange=1, max_sort=1),
    "roll_mean_exp_w10": dict(max_exchange=1),       # Arrow path: one exchange
    "roll_median_w400": dict(max_exchange=1),        # Arrow path at any width
    "roll_cov_matrix_w10": dict(max_exchange=3),     # window(lag) + Arrow pass + join-back
    "roll_cov_xy_w10": dict(max_exchange=3),         # window(lag/lead) + Arrow pass + join-back
    "roll_lm_multiy_w20": dict(max_exchange=3),      # one Arrow pass for BOTH fits
    "tier_1m_stats": dict(max_exchange=1, max_sort=0),
    "tier_1h_cascade": dict(max_exchange=2, max_sort=0),  # raw->1m, 1m->1h
    "tier_1d_cascade": dict(max_exchange=3, max_sort=0),
    "ann_brute_top5": dict(expect_broadcast=True),
    "lsh_ann_top5": dict(expect_broadcast=True),
    "ivf_ann_top5": dict(expect_broadcast=True),
    # inverted-index self-join: doc-window + shingle self-join + pair agg;
    # NEVER a cartesian (no BroadcastNestedLoopJoin over the corpus)
    "ngram_jaccard_pairs": dict(max_exchange=8, forbid_cartesian=True),
    # frac form: same inverted-index shape + a 1-row SinglePartition N
    # aggregate whose broadcast rejoin is a deliberate 1-row BNLJ-Cross
    # (not a data cartesian; the forbid matches CartesianProduct/Inner)
    "ngram_jaccard_frac": dict(max_exchange=8, forbid_cartesian=True),
    "emb_neardup_lsh": dict(max_exchange=8, forbid_cartesian=True),
    # round-3 additions
    "roll_mean_completeobs_w10": dict(max_exchange=1, max_sort=1),
    # per-pair masked cubes: window(lag) + groupBy + join-back, same
    # budget as the complete-obs cube (pairwise masks are kernel-side)
    "roll_cov_matrix_pairwise_w10": dict(max_exchange=3),
    "roll_cov_xy_pairwise_w10": dict(max_exchange=3),
    # trigram lang-ID must stay a map-only scan: zero shuffles, zero
    # sorts, no join (the profiles are literals, not a lookup table)
    "doc_lang_trigram": dict(max_exchange=0, max_sort=0),
    # winnowing fingerprints: higher-order-function chain, map-only
    "doc_fingerprint_winnow": dict(max_exchange=0, max_sort=0),
    # fp inverted-index self-join, same budget/shape as ngram_jaccard
    "winnow_overlap_pairs": dict(max_exchange=8, forbid_cartesian=True),
    # as-of join: marks groupBy + ONE union-window exchange, ONE sort,
    # ONE Window — never a range/nested-loop join over the event stream
    "asof_join_events": dict(
        max_exchange=2, max_sort=1, max_window=1, forbid_cartesian=True
    ),
    "asof_join_fwd_tol": dict(
        max_exchange=2, max_sort=1, max_window=1, forbid_cartesian=True
    ),
    # time-range window: same shape as the row-count ops (RANGE frame)
    "roll_mean_range_1h": dict(max_exchange=1, max_sort=1, max_window=1),
    # five aggregates fused onto ONE shared RANGE frame
    "roll_range_multi_1h": dict(max_exchange=1, max_sort=1, max_window=1),
    # sessionize: lag + prefix-sum share ONE exchange + ONE sort
    # (two frame kinds -> up to two WindowExec nodes, zero extra shuffles)
    "sessionize_1h": dict(max_exchange=1, max_sort=1, max_window=2),
    # + one partial-agg exchange for the per-session groupBy
    "session_stats_1h": dict(max_exchange=2, max_sort=1, max_window=2),
    # fused skew/kurt: Arrow path (two-pass conv_skew_kurt), one exchange
    "roll_skew_kurt_w20": dict(max_exchange=1, max_sort=1, max_window=2),
    "roll_mad_w10": dict(max_exchange=1),            # Arrow path: one exchange
    # sorted-window stats: Arrow path (rank counts / sorted blocks)
    "roll_nunique_w10": dict(max_exchange=1, max_sort=1, max_window=1),
    # OHLC bars: ONE partial-agg groupBy, zero sorts, zero windows
    "tier_1h_ohlc": dict(max_exchange=1, max_sort=0, max_window=0),
    # heavy hitters: partial-agg counts + rank window over the count
    # table (2nd exchange re-keys (series,bucket,cat)->(series,bucket)).
    # 2 sorts because Spark pushes a PARTIAL WindowGroupLimit (map-side
    # top-k with its own local sort) below the exchange — rank pushdown,
    # strictly better than one post-shuffle sort at scale
    "tier_1h_top_event": dict(max_exchange=2, max_sort=2, max_window=1),
    # fused multi-lag ACF: ONE offset WindowExec (all lags) + ONE frame
    # WindowExec (all lags' moments) — 2k nodes for k sequential calls
    "roll_acf_w20": dict(max_exchange=1, max_sort=1, max_window=2),
    "roll_percentrank_w20": dict(max_exchange=1, max_sort=1, max_window=1),
    "roll_trimmean_w10": dict(max_exchange=1, max_sort=1, max_window=1),
    # entropy: factorize + Arrow kernel behind one exchange;
    # the events scan legitimately reads event_type here
    "roll_entropy_w20": dict(max_exchange=1, max_sort=1, max_window=1),
    # Spearman: the lag's offset WindowExec and the Arrow kernel's
    # groupBy share one exchange/sort; the ranks run in the kernel
    "roll_spearman_w10": dict(max_exchange=1, max_sort=1, max_window=2),
    # CC fixpoint: iterative star contraction — per-round groupBys;
    # lineage is truncated by localCheckpoint so the audited plan has no
    # FileScan (the pair-generation scan is audited via
    # winnow_overlap_pairs); never a cartesian join
    "winnow_cc_clusters": dict(max_exchange=12, forbid_cartesian=True,
                               scan_free=True),
    # realtime continuous aggregate: two partial-agg groupBys (the
    # materialized side + the raw tail), zero sorts/windows; the seam
    # filter pushes down to both scans
    "tier_1h_realtime": dict(max_exchange=2, max_sort=0, max_window=0),
    # transitions: ONE lag window (exchange+sort) + ONE partial-agg groupBy
    "event_transitions": dict(max_exchange=2, max_sort=1, max_window=1),
    # corpus top-k: map-side partial agg + TakeOrderedAndProject heap
    # merge — zero sorts, zero windows, one exchange
    "corpus_top_ngrams": dict(max_exchange=1, max_sort=0, max_window=0),
    # df/idf: token groupBy + SinglePartition 1-row N agg; the N joins
    # back via a 1-row BroadcastNestedLoopJoin (deliberate, not a data
    # cartesian — so no forbid_cartesian here)
    "corpus_doc_freq": dict(max_exchange=2, max_sort=0, max_window=0),
    # tf-idf top-k: tf groupBy + df groupBy + N agg + rank window; the
    # vocab join broadcasts, the rank window gets a partial
    # WindowGroupLimit (its own map-side sort) below the exchange
    "doc_tfidf_top5": dict(max_exchange=4, max_sort=2, max_window=1),
    # IQR: both quartiles off ONE fused Arrow pass
    "roll_iqr_w10": dict(max_exchange=1, max_sort=1, max_window=1),
    # histograms: one partial-agg groupBy, sort-free
    "tier_1h_histogram": dict(max_exchange=1, max_sort=0, max_window=0),
    # percentile-from-histogram: raw->1m hist groupBy + bin-merge +
    # per-bucket pack (everything after the first agg is sketch-sized);
    # the quantile extraction is pure HOF projections — no sort/window
    "tier_1h_p90_hist": dict(max_exchange=3, max_sort=0, max_window=0),
    # exact distincts: two-phase expand (partial dedup + count)
    "tier_1h_nunique": dict(max_exchange=2, max_sort=0, max_window=0),
    # prediction/residual = projections over the bare roll_lm fit
    "roll_lm_predict_w20": dict(max_exchange=1, max_sort=1, max_window=2),
    # text-analysis family: pure JVM string expressions, MAP-ONLY —
    # zero exchanges/sorts/windows is the whole 100 TB story
    "doc_quality": dict(max_exchange=0, max_sort=0, max_window=0),
    "doc_lang_id": dict(max_exchange=0, max_sort=0, max_window=0),
    "doc_token_stats": dict(max_exchange=0, max_sort=0, max_window=0),
    "doc_bpe_tokens": dict(max_exchange=0, max_sort=0, max_window=0),
    # gap-fill: tier agg + grid generate + LOCF/linear window
    "gapfill_locf_1h": dict(max_exchange=2, max_sort=1, max_window=1),
    "gapfill_linear_1h": dict(max_exchange=2, max_sort=1, max_window=1),
    # exact per-bucket median: one hash agg (percentile is declarative)
    "tier_1m_p50": dict(max_exchange=1, max_sort=0, max_window=0),
    # expanding time-decay kernels: one Arrow pass (the sort is the
    # mapInArrow in-partition (series, order) ordering, not a shuffle)
    "ewma_halflife_7d": dict(max_exchange=1, max_sort=1, max_window=0),
    "decayed_count_1d": dict(max_exchange=1, max_sort=1, max_window=0),
    "dedup_exact": dict(max_exchange=1, max_sort=0, max_window=0),
    # round-5 retention triad additions
    # compression policy: ONE encode groupBy (its sort is the in-group
    # ordering), decode is mapInPandas (no shuffle), hot side is a bare
    # filtered scan, the seam is a union — never a join
    "raw_compress_policy": dict(max_exchange=1, max_sort=1, max_window=0,
                                forbid_cartesian=True),
    # retention expiry returns a plain read of the surviving store
    # partitions + finalize projections: NOTHING moves — the expiry
    # itself is directory metadata, invisible to the plan by design
    "tier_retention_expire": dict(max_exchange=0, max_sort=0, max_window=0),
}


def audit(name: str, df, rules: dict) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = len(re.findall(r"Exchange (?:hash|range|SinglePartition)", plan))
    n_sort = len(re.findall(r"\bSort \[", plan))
    n_win = len(re.findall(r"\bWindow ", plan))
    has_bcast = "BroadcastExchange" in plan or "BroadcastHashJoin" in plan or \
        "BroadcastNestedLoopJoin" in plan
    errs = []
    if "max_exchange" in rules and n_ex > rules["max_exchange"]:
        errs.append(f"{n_ex} shuffle exchanges (budget {rules['max_exchange']})")
    if "max_sort" in rules and n_sort > rules["max_sort"]:
        errs.append(f"{n_sort} sorts (budget {rules['max_sort']})")
    if "max_window" in rules and n_win > rules["max_window"]:
        errs.append(f"{n_win} Window nodes (budget {rules['max_window']})")
    if rules.get("expect_broadcast") and not has_bcast:
        errs.append("no broadcast join found (small side should broadcast)")
    if rules.get("forbid_cartesian") and (
        "CartesianProduct" in plan
        or re.search(r"BroadcastNestedLoopJoin .*Inner", plan)
    ):
        errs.append("plan contains a cartesian/nested-loop product")
    # column pruning: EVENTS scans must not read props/event_type unless
    # used — match the table path inside each FileScan entry so scans of
    # other tables in the same plan are never mis-audited
    scan_count = 0
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\][^\n]*", plan):
        scan_count += 1
        line = m.group(0)
        cols = m.group(1)
        if "events" not in line:
            continue
        if "props" in cols and "props" not in name:
            errs.append(f"events scan reads pruned-out column props: [{cols}]")
    if scan_count == 0 and not rules.get("scan_free"):
        errs.append("no FileScan matched — pruning audit saw nothing")
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry
    from roll_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    print(f"cpus={cpus}", flush=True)
    spark = get_spark(cpus=cpus, app_name="plan_audit")
    qs = entry.queries()
    failures = 0
    for name, rules in EXPECT.items():
        df = qs[name](spark, sf_dir)
        errs = audit(name, df, rules)
        if errs:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(errs))
        else:
            print(f"OK    {name}")
    print(f"\n{failures} plan violations")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
