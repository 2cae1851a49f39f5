"""Benchmark command: seeded inputs → one workload → checked outputs → metrics.

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 1 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/<run id>/`` and removed at exit. Each run leaves a record,
``.perfbench_work/records/<run id>.json`` (host evidence, per-pass numbers,
result digests and, when tracing, the spans), and the result digests of a
seed are kept in ``.perfbench_work/digests/`` so a later run of the same
seed on the same engine and benchmark code must reproduce them.

A run: generate inputs; launch the JVM; start the session and warm it up
SETUP_CYCLES times (``setup_s`` is their median); then run passes until
``--seconds`` have elapsed, at least one. The first pass runs cold, as a
nightly job in a fresh JVM does; every pass checks its own outputs.
``run_s`` is the median pass time.

With ``--trace 1`` the run makes TRACE_SCHEDULE whatever ``--seconds`` says:
the first pass is traced and gives the per-layer numbers; three warm passes
follow (untraced, traced, untraced) and ``trace.overhead_frac`` compares the
traced one with the mean of the others. A traced pass must emit every
per-layer metric its workload covers and no undeclared one, or the run fails.

The last stdout line is the result object; the line before it summarises the
run (input generation time, failure fraction, star end-to-end split, host).
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUP_CYCLES = 5
# Half of a 4-vCPU host: the cold pass is driver- and JIT-bound, so two task
# slots are as fast as four and leave cores to the JIT compiler and the
# garbage collector. Under hypervisor steal, star_etl's run-to-run spread
# fell from 0.23-0.27 on four slots to 0.12-0.13 on two.
CPUS = 2
MAX_RUN_S = 120  # no new untraced pass starts after this much of the process's life
TRACE_SCHEDULE = (True, False, True, False)  # traced cold pass, then the overhead A/B
# per-layer counts only an untraced pass can see (run_pipeline's own pins)
UNTRACED_LAYER_METRICS = {"star.pipeline.leaked_pins"}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare(work: Path) -> dict[str, str]:
    """Make the work directory and point the process environment at it;
    returns the session conf that keeps every file Spark writes inside it."""
    for sub in ("data", "spark-local", "warehouse", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the engine too, whatever their working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    return {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}"
            " -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def host_evidence(spark) -> dict:
    """Machine state beside every run (not metrics): loadavg, the bench.py
    CPU and memory-bandwidth canaries, core count, Spark and Java versions."""
    from bench import _host_canary

    load = [round(x, 2) for x in os.getloadavg()]
    cpu_s, membw_s = _host_canary()
    return {
        "loadavg": load, "cpu_canary_s": cpu_s, "membw_canary_s": membw_s,
        "nproc": os.cpu_count(), "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def code_id() -> str:
    """Hash of the code that decides a result: the engine, its query
    registry and the benchmark (generator included)."""
    files = sorted((ROOT / "finegourmet_spark").rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", *sorted(Path(__file__).parent.glob("*.py"))]
    h = hashlib.sha1()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()[:12]


def digest_problems(path: Path, passes: list) -> dict[tuple[int, str], str]:
    """Result digests that differ from the run's first pass or, for the
    first pass, from earlier runs of the same seed and code (kept at
    ``path``, written by the first run whose checks all pass); keyed
    (pass, op)."""
    first = passes[0][1].hashes
    stored = json.loads(path.read_text()) if path.exists() else {}
    bad = {}
    for i, (_, res) in enumerate(passes):
        for op, digest in res.hashes.items():
            want = stored.get(op, first[op]) if i == 0 else first.get(op)
            if digest != want:
                bad[(i, op)] = f"result digest {digest} != {want}"
    return bad


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.perf_counter()
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)  # engine's host-size knob
    try:
        import __spark_entry__  # noqa: F401  (populates the query registry)
        import bench  # noqa: F401
        import oracle_harness  # noqa: F401
        from finegourmet_spark.session import get_spark
    except ImportError as ex:
        print(f"perfbench: engine sources not found next to the benchmark: {ex}",
              file=sys.stderr)
        return 2
    from probe import SparkProbe, Tracer
    from workloads import WORKLOADS, Ctx, warm_up

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    base = ROOT / ".perfbench_work"
    work = base / run_id
    for sub in ("records", "digests"):
        (base / sub).mkdir(parents=True, exist_ok=True)
    conf = prepare(work)
    tracer = Tracer(run_id)

    try:
        with tracer.span("generate"):
            t = time.perf_counter()
            truths = workload.generate(args.seed, str(work / "data"))
            gen_s = time.perf_counter() - t

        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]", extra_conf=conf)
        warm_up(spark)
        jvm_launch_s = time.perf_counter() - t
        starts, setups = [], []
        for i in range(SETUP_CYCLES):
            spark.stop()
            with tracer.span("setup", cycle=i):
                t = time.perf_counter()
                with tracer.span("session.start"):
                    spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]",
                                      extra_conf=conf)
                starts.append(time.perf_counter() - t)
                warm_up(spark)
                setups.append(time.perf_counter() - t)
        host = host_evidence(spark)

        ctx = Ctx(spark, SparkProbe(spark), tracer, str(work / "data"), str(work), truths)
        deadline = t_start + MAX_RUN_S
        passes = run_passes(workload, ctx, bool(args.trace), args.seconds, deadline)

        digests = base / "digests" / f"{args.workload}-s{args.seed}-{code_id()}.json"
        bad = digest_problems(digests, passes)
        ops = [(op, err or bad.get((i, op)))
               for i, (_, r) in enumerate(passes) for op, err in r.ops]
        failures = [f"{name}: {err}" for name, err in ops if err]
        if not failures and not digests.exists():
            digests.write_text(json.dumps(passes[0][1].hashes, indent=1, sort_keys=True))
        plain = [r for tr, r in passes if not tr]
        if args.trace:
            metrics = _layer_metrics(spec, passes, starts, workload.layer_metrics())
        else:
            e2e = {"setup_s": statistics.median(setups),
                   "run_s": statistics.median([r.wall_s for r in plain])}
            metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        first = passes[0][1].metrics
        star = ("star.etl_s", "star.dashboard_s", "star.out_bytes_per_in_byte")
        summary = {
            "run_id": run_id, "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "passes": len(passes), "gen_s": gen_s,
            "jvm_launch_s": jvm_launch_s, "in_bytes": truths["in_bytes"],
            "failed_frac": len(failures) / len(ops),
            "star": {**{k: first[k] for k in star if k in first}, **passes[0][1].info},
            "peak_rss_mb": first["jvm.peak_rss_mb"],
            "host": host, "failures": failures[:5],
        }
        record = {
            **summary, "setups_s": setups, "session_starts_s": starts,
            "truths": {k: v for k, v in truths.items() if not isinstance(v, list)},
            "passes": [{"traced": tr, "wall_s": r.wall_s, "op_s": r.times,
                        "metrics": dict(r.metrics), "info": r.info,
                        "digests": r.hashes}
                       for tr, r in passes],
            "spans": tracer.spans,
        }
        (base / "records" / f"{run_id}.json").write_text(json.dumps(record, indent=1))
        spark.stop()
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"perfbench": summary}))
    print(json.dumps({
        "correct": not failures, "attempted": len(ops), "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def run_passes(workload, ctx, trace: bool, seconds: float, deadline: float) -> list:
    """(traced, PassResult) for each pass. Untraced: passes until ``seconds``
    have elapsed or ``deadline`` (a ``perf_counter`` time) has passed, at
    least one. Traced: exactly TRACE_SCHEDULE."""
    from probe import RssPeak, ScratchSampler, jvm_pid

    rss = RssPeak(jvm_pid(ctx.spark))
    passes = []
    t_end = time.perf_counter() + seconds
    while True:
        traced = trace and TRACE_SCHEDULE[len(passes)]
        gc.collect()  # drop the previous pass's py4j handles
        ctx.probe.groups.clear()
        rss.start()
        sampler = ScratchSampler(os.path.join(ctx.work_dir, "spark-local")) if traced else None
        with ctx.tracer.span("pass", index=len(passes), traced=traced), \
                (sampler or contextlib.nullcontext()):
            res = workload.run_pass(ctx, traced)
        res.metrics["jvm.peak_rss_mb"] = rss.peak_mb()
        if traced:
            res.metrics.update(ctx.probe.stage_totals(ctx.probe.groups))
            res.metrics["scratch.peak_bytes"] = sampler.peak
        passes.append((traced, res))
        if trace:
            if len(passes) == len(TRACE_SCHEDULE):
                return passes
        elif time.perf_counter() >= min(t_end, deadline):
            return passes


def _layer_metrics(spec: dict, passes: list, starts: list, covers: set[str]) -> dict:
    """Per-layer numbers of a traced run: the metrics of the first (cold,
    traced) pass, the median session start and the tracing overhead measured
    on the warm passes. Every metric in ``covers`` must have been measured
    and every measured one declared; a declared metric of a layer the
    workload never calls reads 0."""
    plain = [r for tr, r in passes if not tr]
    warm_traced = [r.wall_s for tr, r in passes[1:] if tr]
    measured = dict(passes[0][1].metrics)
    for name in UNTRACED_LAYER_METRICS & covers:
        measured[name] = statistics.median([r.metrics[name] for r in plain])
    measured["session.start_s"] = statistics.median(starts)
    measured["trace.overhead_frac"] = (
        statistics.median(warm_traced) / statistics.mean([r.wall_s for r in plain]) - 1
    )
    declared = [m["name"] for m in spec["per_layer"]]
    undeclared = sorted(set(measured) - set(declared))
    missing = sorted(covers - set(measured))
    if undeclared or missing:
        raise ValueError(f"traced pass: undeclared metrics {undeclared}, missing {missing}")
    return {name: measured.get(name, 0.0) for name in declared}


if __name__ == "__main__":
    sys.exit(main())
