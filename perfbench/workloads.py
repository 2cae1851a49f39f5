"""The benchmark's workloads.

A pass runs every operation of a workload once and checks each output right
after timing it, so the first pass of a run — the one a nightly job in a
fresh JVM pays for, JIT and code generation included — is both measured and
verified. Before every timed operation all cached tables and persisted RDDs
are dropped, so no operation reads state an earlier one left.

A traced pass calls the same public functions inside spans and job groups
and also reads Catalyst, status-store and executed-plan metrics.
"""

from __future__ import annotations

import contextlib
import hashlib
import inspect
import os
import shutil
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field
from decimal import Decimal

import gen
from probe import SparkProbe, Tracer

# recall the MinHash candidate join must reach on the planted near pairs
MIN_NEAR_RECALL = 0.95

RELATIONAL_QUERIES = [
    "q_star_join", "q_agg_basic", "q_topk", "q_window_rank",
    "q_join_inner", "q_pivot", "q_stream_tumbling", "q_stream_session",
]
LLM_QUERIES = [
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_similarity_topk",
    "q_similarity_topk_np", "q_text_stats", "q_explode_wordcount",
]
QUERY_LAYERS = [
    "operators.relational", "streaming.windows", "operators.dedup",
    "operators.similarity", "operators.textops",
]
STAR_TABLES = {
    "fact": "Fact_Sales", "dim_product": "Dim_Product",
    "dim_store": "Dim_Store", "dim_client": "Dim_Client",
}
# per-layer metrics every traced run reports: the Catalyst phases read by the
# workloads, the rest added by the runner around each pass
COMMON_LAYER_METRICS = (
    "session.start_s", "trace.overhead_frac", "jvm.peak_rss_mb", "scratch.peak_bytes",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.jobs", "exec.tasks", "exec.input_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.peak_memory_bytes",
)


@dataclass
class Ctx:
    spark: object
    probe: SparkProbe
    tracer: Tracer
    data_dir: str
    work_dir: str
    truths: dict


@dataclass
class PassResult:
    wall_s: float = 0.0
    ops: list = field(default_factory=list)  # (operation, problem or None)
    hashes: dict = field(default_factory=dict)  # operation -> result digest
    times: dict = field(default_factory=dict)  # operation -> seconds
    metrics: dict = field(default_factory=lambda: defaultdict(float))
    info: dict = field(default_factory=dict)  # recorded numbers that are not metrics

    def check(self, op: str, problems: list[str]) -> None:
        self.ops.append((op, "; ".join(problems)[:500] or None))

    def failed(self, op: str, ex: Exception) -> None:
        self.ops.append((op, f"{type(ex).__name__}: {ex}"[:500]))


def warm_up(spark) -> None:
    """The setup's warm-up: one small shuffle job through a fresh context."""
    spark.range(4096).selectExpr("id % 7 AS k").groupBy("k").count().collect()


def rows_hash(rows) -> str:
    """Order-independent digest of collected rows."""
    canon = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha1("\n".join(canon).encode()).hexdigest()


def _layer(fn) -> str:
    return fn.__module__.removeprefix("finegourmet_spark.")


@contextlib.contextmanager
def _traced(ctx: Ctx, traced: bool, name: str, **attrs):
    """Span + job group around one call when tracing, nothing otherwise."""
    if not traced:
        yield None
        return
    with ctx.tracer.span(name, **attrs) as rec, ctx.probe.job_group(name) as gid:
        yield gid
    rec["jobs"] = len(ctx.probe.jobs(gid))


class Collected:
    """Already-collected rows with the DataFrame surface the oracle
    harness's ``compare`` reads (schema, columns, collect), so the rows of
    the timed execution are the rows checked."""

    def __init__(self, df, rows):
        self.schema, self.columns, self._rows = df.schema, df.columns, rows

    def collect(self):
        return self._rows


class QueryWorkload:
    """Registered engine queries over the engine's test-table layout, each
    collected to the client as a result set."""

    def __init__(self, queries: list[str], scale: float, n_docs: int, n_vectors: int):
        self.queries = queries
        self.scale, self.n_docs, self.n_vectors = scale, n_docs, n_vectors

    def generate(self, seed: int, data_dir: str) -> dict:
        truths = gen.engine_tables(seed, data_dir, self.scale, self.n_docs, self.n_vectors)
        truths["in_bytes"] = sum(
            os.path.getsize(os.path.join(data_dir, f)) for f in os.listdir(data_dir)
        )
        return truths

    def layer_metrics(self) -> set[str]:
        """The per-layer metrics a traced pass of this workload must emit."""
        import __spark_entry__ as contract

        queries = contract.queries()
        names = set(COMMON_LAYER_METRICS) | {
            "sources.testdata.load_table_s", "sources.testdata.load_table_jobs",
            "arrow.python_bytes_sent", "arrow.python_bytes_received", "arrow.python_rows",
        }
        for layer in {_layer(queries[q]) for q in self.queries}:
            names |= {f"{layer}.{k}" for k in ("build_s", "build_jobs", "exec_s", "leaked_pins")}
        if "q_dedup_minhash" in self.queries:
            names.add("operators.dedup.pair_yield")
        return names

    def run_pass(self, ctx: Ctx, traced: bool) -> PassResult:
        import __spark_entry__ as contract

        queries, oracles = contract.queries(), contract.oracle_sql()
        res = PassResult()
        with _timed_load_table(ctx, res.metrics) if traced else contextlib.nullcontext():
            for q in self.queries:
                self._run_query(ctx, q, queries[q], oracles.get(q), traced, res)
        ctx.probe.reset_state()
        return res

    def _run_query(self, ctx: Ctx, q: str, fn, oracle: str | None, traced: bool,
                   res: PassResult) -> None:
        from oracle_harness import compare

        m, layer = res.metrics, _layer(fn)
        ctx.probe.reset_state()
        try:
            t0 = time.perf_counter()
            with _traced(ctx, traced, f"{layer}.{q}.build") as g_build:
                df = fn(ctx.spark, ctx.data_dir)
            t1 = time.perf_counter()
            with _traced(ctx, traced, f"{layer}.{q}.exec"):
                rows = df.collect()
            t2 = time.perf_counter()
            m[f"{layer}.leaked_pins"] += ctx.probe.pins()
            if oracle is not None:
                problems = compare(Collected(df, rows), oracle, ctx.data_dir)
            else:
                problems = self._rows_only_problems(q, rows, ctx.truths)
        except Exception as ex:  # a raising query is a failed operation
            res.failed(q, ex)
            return
        res.wall_s += t2 - t0
        res.times[q] = t2 - t0
        res.hashes[q] = rows_hash(rows)
        res.check(q, problems)
        if not traced:
            return
        m[f"{layer}.build_s"] += t1 - t0
        m[f"{layer}.exec_s"] += t2 - t1
        m[f"{layer}.build_jobs"] += len(ctx.probe.jobs(g_build))
        for k, v in SparkProbe.phases_ms(df).items():
            m[k] += v
        plan = SparkProbe.plan_metrics(df)
        for k, v in plan.items():
            if k.startswith("arrow."):
                m[k] += v
        if q == "q_dedup_minhash" and plan["join_output_rows"]:
            m["operators.dedup.pair_yield"] += len(rows) / plan["join_output_rows"]

    @staticmethod
    def _rows_only_problems(q: str, rows, truths: dict) -> list[str]:
        """Checks for the queries without an oracle: the planted duplicates
        must be found."""
        problems = []
        groups = truths["exact_groups"]
        if q == "q_dedup_minhash":
            pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
            near = [tuple(p) for p in truths["near_pairs"]]
            recall = sum(p in pairs for p in near) / max(1, len(near))
            if recall < MIN_NEAR_RECALL:
                problems.append(f"near-pair recall {recall:.4f} < {MIN_NEAR_RECALL}")
            missed = [
                (a, b) for g in groups for i, a in enumerate(g) for b in g[i + 1:]
                if (a, b) not in pairs
            ]
            if missed:
                problems.append(f"exact duplicates not paired: {missed[:5]}")
        elif q == "q_dedup_simhash":
            sims = {r["doc_id"]: r["simhash"] for r in rows}
            if len(sims) != truths["rows"]["documents"]:
                problems.append(f"{len(sims)} signatures for {truths['rows']['documents']} docs")
            split = [g for g in groups if len({sims.get(d) for d in g}) != 1]
            if split:
                problems.append(f"exact duplicates with different simhash: {split[:3]}")
        else:
            problems.append(f"no rows-only check defined for {q}")
        return problems


@contextlib.contextmanager
def _timed_load_table(ctx: Ctx, m: dict):
    """Wrap ``sources.testdata.load_table`` wherever an engine module bound
    it, so each call gets a span, a job group and its time and job count;
    the original binding is restored afterwards. Jobs a load launches are
    counted here and not again in the caller's build jobs."""
    from finegourmet_spark.sources import testdata

    orig = testdata.load_table
    m["sources.testdata.load_table_s"] = m["sources.testdata.load_table_jobs"] = 0

    def timed(spark, sf_dir, name):
        t = time.perf_counter()
        with _traced(ctx, True, "sources.testdata.load_table", table=name) as gid:
            df = orig(spark, sf_dir, name)
        m["sources.testdata.load_table_s"] += time.perf_counter() - t
        m["sources.testdata.load_table_jobs"] += len(ctx.probe.jobs(gid))
        return df

    bound = [
        (mod, attr) for mod in list(sys.modules.values())
        if getattr(mod, "__name__", "").startswith("finegourmet_spark")
        for attr, val in list(vars(mod).items()) if val is orig
    ]
    for mod, attr in bound:
        setattr(mod, attr, timed)
    try:
        yield
    finally:
        for mod, attr in bound:
            setattr(mod, attr, orig)


# the layer boundaries of the star pipeline, each with the uncached
# boundaries its materialisation recomputes
STAR_BOUNDARIES = {
    "star.sources.read_sfcc": (),
    "star.sources.read_cegid": (),
    "star.sources.read_products": (),
    "star.sources.read_boutiques": (),
    "star.dims.dim_product": ("star.sources.read_products",),
    "star.dims.dim_store": ("star.sources.read_boutiques",),
    "star.conform.conform_sfcc": (),
    "star.conform.conform_cegid": ("star.sources.read_cegid",),
    "star.dims.dim_client": (),
    "star.fact.build_fact_sales": (),
}


def star_frames(spark, p: dict, boundary) -> tuple[dict, object]:
    """The calls ``star.pipeline.run_pipeline`` makes up to its star frames,
    one by one, with ``boundary(name, df)`` after each layer. Returns the star
    frames and the quarantined SFCC rows. The benchmark's tests check that
    the star frames' plans equal ``run_pipeline``'s."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from finegourmet_spark.star import conform, dims, fact, sources

    clean, quarantined = sources.split_quarantine(sources.read_sfcc(spark, p["sfcc_glob"]))
    boundary("star.sources.read_sfcc", quarantined)  # fills split_quarantine's cache
    raw_cegid = sources.read_cegid(spark, p["cegid_path"])
    boundary("star.sources.read_cegid", raw_cegid)
    raw_products = sources.read_products(spark, p["products_glob"])
    boundary("star.sources.read_products", raw_products)
    boutiques = sources.read_boutiques(spark, p["boutiques_path"])
    boundary("star.sources.read_boutiques", boutiques)
    dim_product = dims.build_dim_product(raw_products).cache()
    boundary("star.dims.dim_product", dim_product)
    dim_store = dims.build_dim_store(boutiques)
    boundary("star.dims.dim_store", dim_store)
    c_sfcc = conform.conform_sfcc(clean, dim_product).cache()
    boundary("star.conform.conform_sfcc", c_sfcc)
    c_cegid = conform.conform_cegid(raw_cegid, dim_product).cache()
    boundary("star.conform.conform_cegid", c_cegid)
    dim_client = dims.build_dim_client(c_sfcc, c_cegid).cache()
    boundary("star.dims.dim_client", dim_client)
    fact_sales = fact.build_fact_sales(c_sfcc, c_cegid, dim_client, dim_product).observe(
        Observation("fact_quality"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("FK_Product_ID").isNull().cast("long")).alias("n_orphan_product_fk"),
        F.sum(F.col("FK_Client_ID").isNull().cast("long")).alias("n_anonymous_sales"),
        F.sum(F.col("Price").isNull().cast("long")).alias("n_null_prices"),
    )
    boundary("star.fact.build_fact_sales", fact_sales)
    star = {"Dim_Client": dim_client, "Dim_Product": dim_product,
            "Dim_Store": dim_store, "Fact_Sales": fact_sales}
    return star, quarantined


class StarEtl:
    """The paper's job: raw SFCC/CEGID/product/boutique files → star schema
    on parquet → the eight dashboard queries over the written star."""

    def __init__(self, n_lines: int):
        self.n_lines = n_lines
        self.paths: dict = {}

    def generate(self, seed: int, data_dir: str) -> dict:
        out = gen.star_inputs(seed, data_dir, self.n_lines)
        self.paths = out["paths"]
        return out["truths"]

    def layer_metrics(self) -> set[str]:
        """The per-layer metrics a traced pass of this workload must emit."""
        from finegourmet_spark.star import analytics

        return set(COMMON_LAYER_METRICS) | {f"{b}_s" for b in STAR_BOUNDARIES} | {
            f"star.analytics.{q}_s" for q in analytics.ALL
        } | {
            "star.pipeline.leaked_pins", "star.load.write_star_s", "star.load.bytes_written",
            "star.load.files_written", "star.etl_s", "star.dashboard_s",
            "star.out_bytes_per_in_byte",
        }

    def run_pass(self, ctx: Ctx, traced: bool) -> PassResult:
        from finegourmet_spark.star.pipeline import run_pipeline

        res = PassResult()
        m = res.metrics
        out = os.path.join(ctx.work_dir, "star_out")
        shutil.rmtree(out, ignore_errors=True)  # a fresh star per pass
        ctx.probe.reset_state()
        try:
            t0 = time.perf_counter()
            if traced:
                quarantined = self._etl_traced(ctx, out, m)
            else:
                result = run_pipeline(ctx.spark, **self.paths, out_dir=out)
                quarantined = result.audits["sfcc_quarantine"]
            etl_s = time.perf_counter() - t0
            if not traced:
                m["star.pipeline.leaked_pins"] = ctx.probe.pins()
            res.info["quarantine_rows"] = quarantined.count()
            ctx.probe.reset_state()
            res.check("etl", self._star_problems(ctx, out, res.info["quarantine_rows"]))
        except Exception as ex:
            res.failed("etl", ex)
            return res
        files = [
            os.path.join(root, f) for root, _d, fs in os.walk(out) for f in fs
            if f.startswith("part-")
        ]
        m["star.etl_s"] = res.times["etl"] = etl_s
        m["star.load.files_written"] = len(files)
        m["star.load.bytes_written"] = sum(os.path.getsize(f) for f in files)
        m["star.out_bytes_per_in_byte"] = m["star.load.bytes_written"] / ctx.truths["in_bytes"]
        m["star.dashboard_s"] = self._dashboard(ctx, res, out, traced)
        res.wall_s = etl_s + m["star.dashboard_s"]
        return res

    def _etl_traced(self, ctx: Ctx, out: str, m: dict):
        """``star_frames`` with every layer's output materialised (noop sink)
        at its boundary, then ``write_star``. A boundary's self time is its
        materialisation time minus that of the boundaries it recomputes
        because they are not cached. Returns the quarantined rows."""
        from finegourmet_spark.star import load

        cum: dict[str, float] = {}

        def boundary(name: str, df):
            with _traced(ctx, True, name):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                cum[name] = time.perf_counter() - t
            m[f"{name}_s"] = cum[name] - sum(cum[r] for r in STAR_BOUNDARIES[name])

        star, quarantined = star_frames(ctx.spark, self.paths, boundary)
        with _traced(ctx, True, "star.load.write_star"):
            t = time.perf_counter()
            load.write_star(star, out)
            cum["write"] = time.perf_counter() - t
        m["star.load.write_star_s"] = (
            cum["write"] - cum["star.fact.build_fact_sales"] - cum["star.dims.dim_store"]
        )
        return quarantined

    def _star_problems(self, ctx: Ctx, out: str, n_quarantine: int) -> list[str]:
        from finegourmet_spark.star.load import read_star

        star = read_star(ctx.spark, out)
        got = {
            "fact_rows": star["Fact_Sales"].count(),
            "quarantine_rows": n_quarantine,
            "dim_product": star["Dim_Product"].count(),
            "dim_store": star["Dim_Store"].count(),
            "dim_client": star["Dim_Client"].count(),
        }
        want = {k: ctx.truths[k] for k in got}
        return [] if got == want else [f"star counts {got} != truths {want}"]

    def _dashboard(self, ctx: Ctx, res: PassResult, out: str, traced: bool) -> float:
        """The eight dashboard queries over one ``read_star`` of the written
        star, each collected as the dashboard would."""
        from finegourmet_spark.star import analytics
        from finegourmet_spark.star.load import read_star

        m = res.metrics
        t0 = time.perf_counter()
        with _traced(ctx, traced, "star.load.read_star"):
            star = read_star(ctx.spark, out)
        total = time.perf_counter() - t0
        for q, fn in analytics.ALL.items():
            ctx.probe.reset_state()
            args = [
                star[STAR_TABLES[a]]
                for a, prm in inspect.signature(fn).parameters.items()
                if prm.default is inspect.Parameter.empty
            ]
            try:
                t0 = time.perf_counter()
                with _traced(ctx, traced, f"star.analytics.{q}"):
                    df = fn(*args)
                    rows = df.collect()
                dt = time.perf_counter() - t0
            except Exception as ex:
                res.failed(q, ex)
                continue
            total += dt
            res.times[q] = dt
            res.hashes[q] = rows_hash(rows)
            res.check(q, self._revenue_problems(q, rows, ctx.truths))
            if traced:
                m[f"star.analytics.{q}_s"] = dt
                for k, v in SparkProbe.phases_ms(df).items():
                    m[k] += v
        ctx.probe.reset_state()
        return total

    @staticmethod
    def _revenue_problems(q: str, rows, truths: dict) -> list[str]:
        """Revenue cards must equal the generator's exact decimal totals."""
        if q == "total_revenue":
            got = {"total": rows[0]["revenue"]}
            want = {"total": float(Decimal(truths["revenue_total"]))}
        elif q == "revenue_by_type":
            got = {r["Type"]: r["revenue"] for r in rows}
            want = {"Online": float(Decimal(truths["revenue_online"])),
                    "Store": float(Decimal(truths["revenue_store"]))}
        else:
            return []
        return [] if got == want else [f"{q} {got} != truths {want}"]


WORKLOADS = {
    "star_etl": lambda: StarEtl(n_lines=20_000),
    "engine_queries": lambda: QueryWorkload(
        RELATIONAL_QUERIES + LLM_QUERIES, scale=0.02, n_docs=5_000, n_vectors=2_000),
}
