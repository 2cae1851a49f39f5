"""Interleaved A/B of session-conf variants behind an exact-result gate.

    python tools/ab.py <experiment> --sf DIR [--runs N] [NAME ...]

1. Gate: each variant computes the experiment's result digest (row count +
   order-independent sum of xxhash64 over every column) in a fresh session.
   If they differ the tool exits 1 without timing anything.
2. Runs: N interleaved rounds (A, B, A, B, ...). Each run records the host
   canaries (bench._host_canary), then times the workload in a fresh session
   built with bench.BENCH_CONF plus the variant's conf (checked applied).
3. One JSON ledger line on stdout: per variant its conf, walls, bytes and
   canaries. Progress goes to stderr.

Experiments (results booked in OPTIMIZATION_r13.md / OPTIMIZATION_r14.md):
  shuffle_codec  spark.io.compression.codec lz4 vs zstd on the NAMEd queries
                 (noop sink); bytes = shuffle-scratch high-water.
  parquet_codec  star sink codec snappy vs zstd: a full run_pipeline build of
                 the raw star inputs at --sf (`make_star_scale.py` layout)
                 into <DIR>_ab_out; bytes = star output size.
  runtime_bloom  q_star_join at stock runtime-Bloom-filter thresholds, a 512m
                 creation side, and also a 64m application-side scan; records
                 whether the plan injected the filter.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import sys
import threading
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


class GateError(RuntimeError):
    """The variants disagree on the result (args[0]: their digests)."""


@dataclass(frozen=True)
class Experiment:
    variants: dict[str, dict[str, str]]
    result: Callable[..., str]  # (spark, sf_dir, names) -> digest; the gate
    work: Callable[..., dict]  # (spark, sf_dir, names) -> measures; timed
    names: tuple[str, ...] = ()


def digest(df) -> str:
    from pyspark.sql import functions as F

    cols = [df[c] for c in sorted(df.columns)]
    n, h = df.select(
        F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
    ).first()
    return f"{n}:{h}"


@contextlib.contextmanager
def _scratch_peak(spark):
    """Yields [peak shuffle-scratch bytes], sampled every 0.5 s and at exit."""
    from finegourmet_spark.operators.scratch import shuffle_scratch_bytes

    peak, done = [0], threading.Event()

    def poll():
        stop = False
        while not stop:
            stop = done.wait(0.5)
            peak[0] = max(peak[0], shuffle_scratch_bytes(spark) or 0)

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        yield peak
    finally:
        done.set()
        poller.join()


def _frames(spark, sf_dir, names):
    import __spark_entry__ as contract

    return [contract.queries()[n](spark, sf_dir) for n in names]


def _queries_result(spark, sf_dir, names) -> str:
    return ";".join(map(digest, _frames(spark, sf_dir, names)))


def _queries_work(spark, sf_dir, names) -> dict:
    with _scratch_peak(spark) as peak:
        for df in _frames(spark, sf_dir, names):
            df.write.format("noop").mode("overwrite").save()
    return {"scratch_peak_bytes": peak[0]}


def _bloom_work(spark, sf_dir, names) -> dict:
    measures = _queries_work(spark, sf_dir, names)
    # runtime bloom injection is a static optimizer rule: visible pre-execution
    with contextlib.redirect_stdout(io.StringIO()) as plan:
        _frames(spark, sf_dir, names)[0].explain("formatted")
    plan = plan.getvalue()
    measures["bloom_injected"] = "bloom_filter" in plan or "might_contain" in plan
    return measures


def _star_work(spark, sf_dir, names) -> dict:
    from finegourmet_spark.star.pipeline import run_pipeline

    out = sf_dir.rstrip("/") + "_ab_out"
    shutil.rmtree(out, ignore_errors=True)
    run_pipeline(
        spark,
        sfcc_glob=f"{sf_dir}/salesforces/*_sfcc_sales.csv",
        cegid_path=f"{sf_dir}/cegid/*.json",
        products_glob=f"{sf_dir}/product/*_product_reference.csv",
        boutiques_path=f"{sf_dir}/boutiques/2025_boutiques.csv",
        out_dir=out,
    )
    size = sum(p.stat().st_size for p in Path(out).rglob("*") if p.is_file())
    return {"out_bytes": size}


def _star_result(spark, sf_dir, names) -> str:
    from finegourmet_spark.star.load import read_star

    _star_work(spark, sf_dir, names)
    star = read_star(spark, sf_dir.rstrip("/") + "_ab_out")
    return ";".join(f"{t}={digest(df)}" for t, df in sorted(star.items()))


_BLOOM_CREATION = {
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": str(512 * 2**20),
}

EXPERIMENTS = {
    "shuffle_codec": Experiment(
        variants={"lz4": {"spark.io.compression.codec": "lz4"},
                  "zstd": {"spark.io.compression.codec": "zstd"}},
        result=_queries_result, work=_queries_work,
        names=("q_setsim_join_prefix", "q_dedup_minhash"),
    ),
    "parquet_codec": Experiment(
        variants={c: {"spark.sql.parquet.compression.codec": c}
                  for c in ("snappy", "zstd")},
        result=_star_result, work=_star_work,
    ),
    "runtime_bloom": Experiment(
        variants={
            "base": {},
            "creation": _BLOOM_CREATION,
            "forced": {
                **_BLOOM_CREATION,
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
                    str(64 * 2**20),
            },
        },
        result=_queries_result, work=_bloom_work, names=("q_star_join",),
    ),
}


def fresh_session(variant: str, conf: dict[str, str]):
    from bench import BENCH_CONF
    from finegourmet_spark.session import get_spark

    spark = get_spark(app_name=f"ab_{variant}", extra_conf={**BENCH_CONF, **conf})
    for k, v in conf.items():
        if spark.conf.get(k) != v:
            spark.stop()
            raise RuntimeError(f"{k}={v} did not apply to the {variant} session")
    return spark


def run_ab(exp: Experiment, sf_dir: str, runs: int, names: list[str],
           session=fresh_session, canary=None) -> dict:
    """Gate, then time `runs` interleaved rounds; returns the ledger."""
    if canary is None:
        from bench import _host_canary as canary

    def in_session(variant, fn):
        spark = session(variant, exp.variants[variant])
        try:
            return fn(spark, sf_dir, names)
        finally:
            spark.stop()

    def timed(spark, *args):
        t0 = time.perf_counter()
        measures = exp.work(spark, *args)
        return {"wall_s": round(time.perf_counter() - t0, 3), **measures}

    digests = {v: in_session(v, exp.result) for v in exp.variants}
    if len(set(digests.values())) != 1:
        raise GateError(digests)
    ledger = {v: {"conf": c} for v, c in exp.variants.items()}
    for r in range(runs):
        for variant, row in ledger.items():
            # canaries first: they sample the host, not the session
            measures = {"canaries": list(canary()), **in_session(variant, timed)}
            for k, x in measures.items():
                row.setdefault(k, []).append(x)
            print(f"run {r + 1}/{runs} [{variant}]: {measures}",
                  file=sys.stderr, flush=True)
    return {"gate": {"passed": True, "digest": digests.popitem()[1]},
            "variants": ledger}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Interleaved A/B of conf variants.")
    ap.add_argument("experiment", choices=sorted(EXPERIMENTS))
    ap.add_argument("names", nargs="*", help="queries (query experiments only)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    required="SPARK_GRAFT_SF_DIR" not in os.environ,
                    help="input dir (default $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--runs", type=int, default=2, help="interleaved rounds")
    a = ap.parse_args(argv)
    exp = EXPERIMENTS[a.experiment]
    if a.names and not exp.names:
        ap.error(f"{a.experiment} takes no query names")
    names = a.names or list(exp.names)
    head = {"experiment": a.experiment, "sf": a.sf, "names": names, "runs": a.runs}
    try:
        ledger = run_ab(exp, a.sf, a.runs, names)
    except GateError as err:
        print(json.dumps({**head, "gate": {"passed": False, "digests": err.args[0]}}))
        return 1
    print(json.dumps({**head, **ledger}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
