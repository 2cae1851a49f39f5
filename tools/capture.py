"""Plan evidence capture for the registered queries.

    python tools/capture.py plans <dir> [NAME ...]   # <dir>/<q>.txt per query
    python tools/capture.py audit                    # one line per query
    python tools/capture.py md                       # regenerate PLANS.md

`plans` writes the formatted pre-execution plan of each NAMEd query (default:
bench.HEADLINE); `plans/headline/` is the canonical headline set, so
`tools/capture.py plans plans/headline` + `git diff` shows any plan a change
moved. `audit` prints #Exchange, scans, scans with pushed filters, join and
Python/Arrow node types per query. `md` writes the SHOWN plans plus the
interior exchange recorded by the ops that execute eagerly. Every mode plans
at --sf DIR (default $SPARK_GRAFT_SF_DIR) in one session; `plans` and `audit`
build it with bench.BENCH_CONF, so a captured plan is the benched plan.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# Ops whose _record_interior call must have produced a plan by the time the
# md mode reaches them — their absence is evidence loss, not "no plan"
# (ADVICE r9; keep in sync with the _record_interior call sites in
# finegourmet_spark/operators/graph.py). The jaccard pair records only on
# single-pass runs, which sf0.1 always is.
EXPECTED_INTERIOR = {"q_graph_pagerank", "q_graph_triangles",
                     "q_graph_jaccard_neighbors", "q_graph_jaccard_capped"}

SHOWN = [
    "q_star_join", "q_agg_basic", "q_topk", "q_filter_pred",
    "q_dedup_minhash", "q_similarity_topk", "q_stream_session", "q_pivot",
    "q_join_asof", "q_join_range", "q_surrogate_keys_scalable",
    "q_pack_sequences", "q_tfidf_topterms", "q_winnow_fingerprints",
    "q_lm_bigram_score", "q_dedup_incremental", "q_funnel", "q_attribution",
    "q_graph_pagerank", "q_graph_triangles", "q_timeseries_interpolate",
    "q_markov_transitions", "q_concurrency_peak", "q_ewma_revenue",
    "q_knn_classify", "q_vocab_growth", "q_lateral_topk", "q_skyline_pareto",
    "q_histogram_equidepth", "q_rfm_segmentation", "q_inverted_index",
    "q_bm25_topk", "q_sample_weighted", "q_abc_analysis", "q_assoc_rules",
    "q_heavy_hitters", "q_rolling_median", "q_session_paths",
    "q_graph_bfs_hops", "q_item_item_cf", "q_bitmap_distinct_rollup",
    "q_geo_nearest_grid", "q_incremental_agg_maintenance",
    "q_weighted_median", "q_rrf_fusion", "q_udtf_installments",
    "q_snapshot_diff_cdc", "q_pipe_syntax", "q_pit_features",
    "q_bitmap_audience_overlap", "q_attribution_linear", "q_topn_others",
    "q_lambda_funcs", "q_event_pattern_match", "q_table_checksum",
    "q_rank_wilson", "q_interval_coverage", "q_percentile_cont_exact",
    # round-4 waves
    "q_similarity_topk_np", "q_multimodal_features", "q_url_canonicalize",
    "q_token_count_pretokenizer", "q_merge_upsert", "q_gdpr_erasure",
    "q_skew_diagnose", "q_compaction_plan", "q_ks_drift",
    "q_mann_whitney_ab", "q_gini_revenue", "q_join_null_safe",
    "q_date_spine_fill", "q_timezone_normalize", "q_join_asof_tolerance",
    "q_histogram_log_bins", "q_winsorize", "q_graph_label_propagation",
    "q_stream_join", "q_geo_dbscan", "q_graph_jaccard_neighbors",
    "q_graph_jaccard_capped", "q_graph_lpa_users", "q_stream_scd2_cdc",
    "q_except_all", "q_bootstrap_poisson", "q_diff_in_diff",
    "q_funnel_unordered", "q_embedding_quality_audit", "q_scd2_apply_cdc",
]


def _plan(df) -> str:
    with contextlib.redirect_stdout(io.StringIO()) as buf:
        df.explain("formatted")
    return buf.getvalue()


def _audit_line(plan: str) -> str:
    # operator-list lines only (the numbered summary at the top)
    ops = re.findall(r"^\s*[:+\-| ]*\(\d+\) ([A-Za-z]+)", plan, re.M)
    joins = sorted({o for o in ops if "Join" in o or o == "CartesianProduct"})
    py = sorted({o for o in ops if "Python" in o or "Arrow" in o or "InPandas" in o})
    n_ex = sum(1 for o in ops if o == "Exchange")
    n_scan = sum(1 for o in ops if o.startswith("Scan"))
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    return (f"ex={n_ex} scans={n_scan} pushed={pushed} "
            f"joins={','.join(joins) or '-'} py={','.join(py) or '-'}")


def _markdown(queries, spark, sf_dir: str) -> str:
    from finegourmet_spark.operators.graph import INTERIOR_PLANS

    out = ["# PLANS — physical plans of the headline queries", "",
           f"Generated by `tools/capture.py md` at `{sf_dir}` "
           "(pre-execution formatted plans; AQE re-optimizes at runtime — "
           "see tests/test_plan_shapes.py for executed-plan assertions).", ""]
    for name in SHOWN:
        out.append(f"## {name}\n\n```\n{_plan(queries[name](spark, sf_dir)).strip()}\n```\n")
        if name in INTERIOR_PLANS:
            out.append(
                f"### {name} — interior exchange (executed eagerly so the "
                "pinned DISK_ONLY frames release before returning; this is "
                "the plan that did the work)\n\n"
                f"```\n{INTERIOR_PLANS[name].strip()}\n```\n"
            )
        elif name in EXPECTED_INTERIOR:
            # ADVICE r9: _record_interior is best-effort (a broken py4j probe
            # must never fail the query), so make a missing plan loud
            out.append(f"### {name} — interior exchange MISSING\n\nNo interior "
                       f"plan was recorded: this file is incomplete for {name}.\n")
            print(f"WARNING: no interior plan recorded for {name}", file=sys.stderr)
    return "\n".join(out)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Capture formatted query plans.")
    ap.add_argument("mode", choices=("plans", "audit", "md"))
    ap.add_argument("args", nargs="*", help="plans: <dir> [NAME ...]")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    required="SPARK_GRAFT_SF_DIR" not in os.environ,
                    help="test-data dir (default $SPARK_GRAFT_SF_DIR)")
    a = ap.parse_args(argv)
    if a.mode == "plans" and not a.args:
        ap.error("plans needs an output <dir>")
    if a.mode == "md":
        # graph ops that execute eagerly (pin-release design, r9) record
        # their interior exchange plan under this flag
        os.environ["SPARK_GRAFT_RECORD_PLANS"] = "1"

    import __spark_entry__ as contract
    from bench import BENCH_CONF, HEADLINE
    from finegourmet_spark.session import get_spark

    # PLANS.md has always shown the default session's plans
    spark = get_spark(app_name="capture",
                      extra_conf=None if a.mode == "md" else BENCH_CONF)
    queries = contract.queries()
    try:
        if a.mode == "plans":
            outdir = Path(a.args[0])
            outdir.mkdir(parents=True, exist_ok=True)
            for name in a.args[1:] or HEADLINE:
                plan = _plan(queries[name](spark, a.sf))
                (outdir / f"{name}.txt").write_text(plan)
                print(f"wrote {outdir / name}.txt ({plan.count('Exchange')} Exchange refs)")
        elif a.mode == "audit":
            for name in sorted(queries):
                try:
                    desc = _audit_line(_plan(queries[name](spark, a.sf)))
                except Exception as exc:  # audit: never die mid-sweep
                    desc = f"PLAN-ERROR {type(exc).__name__}: {exc}"
                print(f"{name:40s} {desc}")
        else:
            (REPO / "PLANS.md").write_text(_markdown(queries, spark, a.sf))
            print(f"wrote PLANS.md ({len(SHOWN)} plans)")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
