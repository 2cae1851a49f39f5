"""Tests of the benchmark's own code: generator determinism, generator
truths against an independent DuckDB recount, the metric declaration, and —
on a small local Spark session over tiny inputs — the traced star pipeline
against ``run_pipeline`` and the per-layer metrics a traced run emits.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time
from decimal import Decimal
from pathlib import Path

import duckdb
import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(BENCH), str(BENCH.parent), str(BENCH.parent / "tests")]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _write_all(seed: int, root: Path) -> dict:
    star = gen.star_inputs(seed, str(root / "star"), n_lines=3000)
    tables = gen.engine_tables(seed, str(root / "tables"), scale=0.002, n_docs=600, n_vectors=200)
    return {"star": star["truths"], "tables": tables}


def _digests(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    roots = {k: tmp_path_factory.mktemp(k) for k in ("a", "b", "c")}
    truths = {"a": _write_all(7, roots["a"]), "b": _write_all(7, roots["b"]),
              "c": _write_all(8, roots["c"])}
    return roots, truths


def test_same_seed_is_byte_identical(inputs):
    roots, truths = inputs
    assert _digests(roots["a"]) == _digests(roots["b"])
    assert truths["a"] == truths["b"]


def test_other_seed_differs_with_same_row_counts(inputs):
    roots, truths = inputs
    a, c = _digests(roots["a"]), _digests(roots["c"])
    assert a.keys() == c.keys()
    changed = [f for f in a if a[f] != c[f]]
    # every file but the fixed dimension tables changes
    assert set(a) - set(changed) <= {
        "tables/region.parquet", "tables/nation.parquet", "star/boutiques/2025_boutiques.csv",
    }
    assert truths["a"]["tables"]["rows"] == truths["c"]["tables"]["rows"]
    for key in ("fact_rows", "quarantine_rows", "dim_product", "dim_store"):
        assert truths["a"]["star"][key] == truths["c"]["star"][key]


def test_table_truths_match_duckdb_recount(inputs):
    roots, truths = inputs
    t = truths["a"]["tables"]
    d = roots["a"] / "tables"
    con = duckdb.connect()
    for table, n in t["rows"].items():
        got = con.execute(f"SELECT count(*) FROM read_parquet('{d}/{table}.parquet')").fetchone()[0]
        assert got == n, table
    # orphan-free foreign keys
    assert con.execute(f"""
        SELECT count(*) FROM read_parquet('{d}/lineitem.parquet') l
        ANTI JOIN read_parquet('{d}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
    """).fetchone()[0] == 0
    # the exact-duplicate groups are exactly the planted ones
    groups = con.execute(f"""
        SELECT list(doc_id ORDER BY doc_id) FROM read_parquet('{d}/documents.parquet')
        GROUP BY lower(trim(text)) HAVING count(*) > 1
    """).fetchall()
    assert sorted(g[0] for g in groups) == t["exact_groups"]
    # each planted near pair: same token count, a few tokens rewritten
    pairs = con.execute(f"""
        WITH p AS (SELECT unnest(?) AS a, unnest(?) AS b),
             d AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM read_parquet('{d}/documents.parquet'))
        SELECT len(x.toks), len(y.toks),
               len(list_filter(range(1, len(x.toks) + 1), i -> x.toks[i] <> y.toks[i]))
        FROM p JOIN d x ON x.doc_id = p.a JOIN d y ON y.doc_id = p.b
    """, [[p[0] for p in t["near_pairs"]], [p[1] for p in t["near_pairs"]]]).fetchall()
    assert len(pairs) == len(t["near_pairs"]) > 0
    for n_a, n_b, n_diff in pairs:
        assert n_a == n_b and n_diff == max(1, round(n_a * gen.NEAR_EDIT_FRAC))


def test_star_truths_match_duckdb_recount(inputs):
    roots, truths = inputs
    t = truths["a"]["star"]
    d = roots["a"] / "star"
    con = duckdb.connect()
    con.execute(f"""
        CREATE VIEW sfcc AS
        SELECT line, line LIKE '%, "%' AS quarantined,
               split_part(line, ',', 3) AS pid, split_part(line, ',', 7) AS email
        FROM read_csv('{d}/salesforces/*.csv', columns={{'line': 'VARCHAR'}},
                      delim=E'\\x01', quote='', header=true)
    """)
    con.execute(f"""
        CREATE VIEW cegid AS SELECT * FROM read_json('{d}/cegid/*.json',
            columns={{'sale_id': 'VARCHAR', 'email': 'VARCHAR', 'transaction_date': 'VARCHAR',
                      'product_name': 'VARCHAR', 'quantity': 'VARCHAR', 'price': 'VARCHAR'}})
    """)
    con.execute(f"""
        CREATE VIEW product AS
        SELECT product_id, product_name, CAST(price AS DECIMAL(12, 2)) AS price
        FROM read_csv('{d}/product/*.csv', header=true, all_varchar=true, filename=true)
        QUALIFY row_number() OVER (PARTITION BY product_id ORDER BY filename DESC) = 1
    """)
    norm = "lower(trim(regexp_replace(trim(regexp_replace({c}, '[\\t\\r\\n]+', ' ', 'g')), " \
           "'[^a-zA-Z0-9._%+\\-@]+', '', 'g')))"
    got = con.execute(f"""
        SELECT
          (SELECT count(*) FROM sfcc WHERE NOT quarantined) + (SELECT count(*) FROM cegid),
          (SELECT count(*) FROM sfcc WHERE quarantined),
          (SELECT count(*) FROM product),
          (SELECT count(*) FROM read_csv('{d}/boutiques/*.csv', columns={{'line': 'VARCHAR'}},
                                         delim=E'\\x01', quote='', header=true)),
          (SELECT count(DISTINCT e) FROM (
              SELECT {norm.format(c='email')} AS e FROM sfcc WHERE NOT quarantined
              UNION ALL SELECT {norm.format(c='email')} FROM cegid WHERE email IS NOT NULL)
           WHERE e <> ''),
          (SELECT sum(p.price) FROM sfcc s JOIN product p ON s.pid = p.product_id
           WHERE NOT s.quarantined),
          (SELECT sum(coalesce(TRY_CAST(c.price AS DECIMAL(12, 2)), p.price))
           FROM cegid c LEFT JOIN product p ON c.product_name = p.product_name)
    """).fetchone()
    want = (t["fact_rows"], t["quarantine_rows"], t["dim_product"], t["dim_store"],
            t["dim_client"], Decimal(t["revenue_online"]), Decimal(t["revenue_store"]))
    assert got == want
    assert t["quarantine_rows"] > 0
    assert Decimal(t["revenue_total"]) == want[-2] + want[-1]


def test_benchmark_declaration_is_valid():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    from workloads import WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert NAME.fullmatch(m["name"]) and UNIT.fullmatch(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for w in SPEC["workloads"]:
        assert NAME.fullmatch(w["name"]) and len(w["why"]) <= 200 and "\n" not in w["why"]
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


TINY = {
    "star_etl": lambda: workloads.StarEtl(n_lines=2000),
    "engine_queries": lambda: workloads.QueryWorkload(
        workloads.RELATIONAL_QUERIES + workloads.LLM_QUERIES,
        scale=0.002, n_docs=600, n_vectors=200),
}


def test_every_declared_layer_metric_is_covered_by_a_workload():
    assert TINY.keys() == workloads.WORKLOADS.keys()
    covered = set().union(*(w().layer_metrics() for w in workloads.WORKLOADS.values()))
    assert covered == {m["name"] for m in SPEC["per_layer"]}


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    from finegourmet_spark.session import get_spark

    work = tmp_path_factory.mktemp("work")
    spark = get_spark(app_name="perfbench-test", master="local[2]", extra_conf=run.prepare(work))
    yield spark, work
    spark.stop()


def _analyzed(df) -> str:
    """The analyzed plan with expression ids and the observed DataFrame's
    id (CollectMetrics' last field) blanked out."""
    plan = df._jdf.queryExecution().analyzed().toString()
    plan = re.sub(r"^(CollectMetrics .*), \d+$", r"\1, #", plan, flags=re.M)
    return re.sub(r"#\d+", "#", plan)


def test_traced_star_frames_plan_like_run_pipeline(session, tmp_path):
    from finegourmet_spark.star.pipeline import run_pipeline

    spark, _ = session
    paths = gen.star_inputs(3, str(tmp_path), n_lines=500)["paths"]
    want = run_pipeline(spark, **paths).star
    got, _ = workloads.star_frames(spark, paths, lambda name, df: None)
    assert got.keys() == want.keys()
    for name, df in want.items():
        assert _analyzed(got[name]) == _analyzed(df), name
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", list(TINY))
def test_traced_run_emits_exactly_the_declared_metrics(session, name):
    from probe import SparkProbe, Tracer

    spark, work = session
    workload = TINY[name]()
    data = work / f"data-{name}"
    truths = workload.generate(5, str(data))
    ctx = workloads.Ctx(spark, SparkProbe(spark), Tracer("test"), str(data), str(work), truths)
    passes = run.run_passes(workload, ctx, True, 0.0, time.perf_counter())
    assert [tr for tr, _ in passes] == list(run.TRACE_SCHEDULE)
    assert [err for _, r in passes for _, err in r.ops if err] == []
    out = run._layer_metrics(SPEC, passes, [0.2, 0.3, 0.25], workload.layer_metrics())
    assert list(out) == [m["name"] for m in SPEC["per_layer"]]
    assert out["session.start_s"] == pytest.approx(0.25)
    assert all(isinstance(v, (int, float)) for v in out.values())
    assert out["jvm.peak_rss_mb"] > 0 and out["exec.jobs"] > 0
    # a metric the pass did not measure, or one nobody declared, fails the run
    first = passes[0][1].metrics
    first["operators.unknown.build_s"] = 1.0
    with pytest.raises(ValueError, match="undeclared"):
        run._layer_metrics(SPEC, passes, [0.2], workload.layer_metrics())
    del first["operators.unknown.build_s"]
    del first["catalyst.planning_ms"]
    with pytest.raises(ValueError, match="missing"):
        run._layer_metrics(SPEC, passes, [0.2], workload.layer_metrics())


def test_command_and_paths_stay_inside_the_benchmark():
    assert SPEC["command"][0] == "python3"
    for arg in SPEC["command"][1:] + SPEC["paths"]:
        assert not arg.startswith("/") and ".." not in arg.split("/")
    assert os.path.isfile(BENCH.parent / SPEC["command"][1])
