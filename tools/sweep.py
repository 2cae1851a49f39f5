"""Registry sweep at one test-data scale: oracle compare where the scale
allows it, a Spark-side row count ("rows-only") where it does not.

    python tools/sweep.py --sf DIR [NAME ... | --names-file F]

Default: every registered query, in name order; `--names-file` takes one name
per line, swept in file order (duplicates once) — to resume or split a sweep.
Each query runs in a fresh session, so pinned/checkpointed blocks cannot
accumulate into a later OOM and a dead context cannot cascade into later rows.
Prints one line per query (status, wall, shuffle-scratch bytes) and a DONE
line; exits 1 if any query FAILed or ERRORed, 2 on unknown names.

Scale policy, read from the DIR name `sf<N>` or `sf<N>-mut`:
  * every scale: SPARK_SIDE_ONLY runs rows-only;
  * sf >= 10: SPARK_SIDE_ONLY_SF10 and results over ROW_CAP rows run
    rows-only, SF10_FIXTURE_QUADRATIC is skipped — except on `-mut` fixtures
    (`make_sf_scale.py --mutate`, linear near-dup pairs), where it runs
    rows-only: the content-pair scale rows.
From sf1 SPARK_DRIVER_MEMORY defaults to 16g (24g from sf10, which also sets
SPARK_GRAFT_CLOSURE_SCRATCH_GB=12); values already in the environment win.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# Rows-only at every scale: DuckDB-infeasible from sf1 up (pair/wedge-bound
# oracles; documented r3+r4). tests/test_oracle_parity.py pins their oracle
# parity at sf0.001.
SPARK_SIDE_ONLY = {
    "q_graph_jaccard_neighbors", "q_setsim_join_prefix",
    "q_containment_dedup", "q_item_item_cf", "q_dedup_clusters",
    "q_dedup_semantic_clusters", "q_fuzzy_join_levenshtein",
    "q_graph_triangles", "q_golden_record", "q_dedup_chunks",
    "q_dedup_ngram_jaccard", "q_dedup_embedding",
}

# Oracle compare feasible but its wall is mostly DuckDB's (r11 at sf1: Spark
# 99.6 s vs compare() 1160.9 s; VERDICT r10 item 6) — annotated in the log
# line so the row is never read as a Spark regression.
ORACLE_DOMINATED = {"q_graph_jaccard_capped"}

SPARK_SIDE_ONLY_SF10 = SPARK_SIDE_ONLY | {
    # r7: oracles on the part-graph _EDGE_SQL CTE materialize ~1e9 pair rows
    # in DuckDB temp at sf10 (q_graph_bfs_hops filled 44 GB and died). Not
    # q_graph_lpa_users: its edges come from an events-scale lag window.
    "q_graph_bfs_hops", "q_graph_pagerank", "q_graph_label_propagation",
    "q_graph_jaccard_capped",
    # r7: the skyline oracle's NOT EXISTS dominance anti-join is quadratic
    # over 2M parts in DuckDB (>15 min); the Spark side returns in seconds.
    "q_skyline_pareto",
}

# From sf10 a data-scale-wide RESULT is multi-GB of Python lists in the
# harness (q_null_repair: the query runs in 4.9 s, its 60M-row compare does
# not); metadata-scale results still get the full cross-engine compare.
ROW_CAP = 300_000

# Skipped at sf10+ on a plain replicated fixture: ops that pair documents /
# names on CONTENT. The replicator gives every document 100 exact copies
# (same text, new ids), so per-cluster candidate pairs grow C(100,2)=4950 —
# a fixture-quadratic stress (the q_dedup_minhash decade-curve note), not a
# scale signal. On a real corpus near-dup rates stay ~constant and these are
# bucketed/bounded; the `-mut` fixtures measure them.
SF10_FIXTURE_QUADRATIC = {
    "q_containment_dedup", "q_setsim_join_prefix", "q_dedup_ngram_jaccard",
    "q_dedup_chunks", "q_dedup_clusters", "q_dedup_semantic_clusters",
    "q_golden_record", "q_fuzzy_join_levenshtein", "q_dedup_embedding",
    # ML twin of q_dedup_minhash: its sparse-vector pair rows trip the
    # result-size cap; the custom q_dedup_minhash completes at sf10 (65.8 s).
    "q_dedup_minhash_ml",
    # r7, same class for embeddings: 100 byte-identical copies put >=100
    # equal vectors in every LSH bucket (~250M candidate pairs); the
    # probe-based q_similarity_topk / ivf / pq ANN routes complete at sf10.
    "q_similarity_lsh",
}


def _check(name: str, df, oracle: str | None, sf_dir: str, sf: float) -> str:
    from tests.oracle_harness import compare

    big = sf >= 10
    if oracle is None or name in (SPARK_SIDE_ONLY_SF10 if big else SPARK_SIDE_ONLY):
        why = "no oracle" if oracle is None else "carve-out"
        return f"rows-only {df.count()} [{why}]"
    if big:
        n = df.count()
        if n > ROW_CAP:
            return f"rows-only {n} [wide ({n} rows > cap)]"
    problems = compare(df, oracle, sf_dir)
    if problems:
        return f"FAIL {problems[0][:200]}"
    return "OK" + (" (oracle-compare-dominated wall time)"
                   if name in ORACLE_DOMINATED else "")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Sweep registered queries at one scale.")
    ap.add_argument("names", nargs="*", help="queries to sweep (default: all)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    required="SPARK_GRAFT_SF_DIR" not in os.environ,
                    help="test-data dir named sf<N>[-mut] (default $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--names-file", help="one query name per line")
    a = ap.parse_args(argv)
    if a.names and a.names_file:
        ap.error("pass NAMEs or --names-file, not both")
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)(-mut)?", Path(a.sf).name)
    if not m:
        ap.error("name the --sf dir sf<N> or sf<N>-mut")
    sf, mutated = float(m.group(1)), bool(m.group(2))
    if sf >= 1:
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g" if sf >= 10 else "16g")
    if sf >= 10:
        # grace-partitioned triangle closure budget (r8: its one-pass wedge
        # shuffle is ~78 GB at sf10 and filled a single host's disk)
        os.environ.setdefault("SPARK_GRAFT_CLOSURE_SCRATCH_GB", "12")
    skip = SF10_FIXTURE_QUADRATIC if sf >= 10 and not mutated else set()

    import __spark_entry__ as contract
    from finegourmet_spark.operators.scratch import shuffle_scratch_bytes
    from finegourmet_spark.session import get_spark

    q, o = contract.queries(), contract.oracle_sql()
    if a.names_file:
        a.names = Path(a.names_file).read_text().split()
    names = list(dict.fromkeys(a.names)) or sorted(q)
    unknown = sorted(set(names) - set(q))
    if unknown:
        print(f"unknown query names: {unknown}")
        return 2

    t_start = time.time()
    fails, skips = [], []
    for i, name in enumerate(names):
        tag = f"[{i + 1}/{len(names)}] {name}"
        if name in skip:
            print(f"{tag}: skipped [fixture-quadratic content pairs]", flush=True)
            skips.append(name)
            continue
        spark = get_spark(app_name="sweep")
        t0 = time.time()
        scratch = None
        try:
            status = _check(name, q[name](spark, a.sf), o.get(name), a.sf, sf)
            scratch = shuffle_scratch_bytes(spark)
        except Exception as ex:  # noqa: BLE001 — report, not die
            status = f"ERROR {type(ex).__name__}: {str(ex)[:200]}"
        finally:
            spark.stop()
        if status.startswith(("FAIL", "ERROR")):
            fails.append(name)
        gb = "?" if scratch is None else f"{scratch / 2**30:.2f}"
        print(f"{tag}: {status} ({time.time() - t0:.1f}s, scratch {gb} GB)",
              flush=True)
    n_ok = len(names) - len(fails) - len(skips)
    print(f"DONE {n_ok}/{len(names)} ok, {len(skips)} skipped {skips}, "
          f"{len(fails)} failed {fails} in {(time.time() - t_start) / 60:.1f} min",
          flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
