"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Untraced (``--trace 0``) it reports the
end-to-end metrics; traced (``--trace 1``) it runs the same untraced
passes, then traced passes, and reports the per-layer metrics. Other
stdout lines come first; the last line is the result object. See
perfbench/README.md.
"""
import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

_HERE = os.path.dirname(os.path.abspath(__file__))
if sys.path and os.path.abspath(sys.path[0]) == _HERE:
    sys.path.pop(0)
sys.path.insert(0, os.path.dirname(_HERE))

from perfbench import harness as hz  # noqa: E402

SETUPS = 3
DRIVER_MEMORY = "3g"  # session.py's 24g default does not fit a 15 GB host


def fixed_warm_up(spark, warehouses: str) -> None:
    """The warm-up every set-up ends with: a one-row write and read
    through a fresh engine."""
    from patterns_devkit_spark import Table

    eng = hz.new_engine(spark, warehouses)
    with eng.node_context("warmup", outputs={"t": "warmup"}):
        Table("t", "w").append([{"k": 1, "v": "x"}])
    with eng.node_context("warmup", inputs={"t": "warmup"}):
        Table("t", "r").read()


def run_passes(workload, spark, n: int, label: str, tracer=None) -> list:
    from perfbench.passes import Pass

    passes = []
    for i in range(n):
        rec = Pass(spark, f"{label}{i}", tracer)
        workload.run_pass(rec)
        if tracer is None:
            # read now: the status store keeps a bounded number of stages
            rec.storage_amp = workload.storage_amp(rec)
        passes.append(rec)
    return passes


def end_to_end(workload, untraced: list, setup_s: float) -> dict:
    walls = [p.wall for p in untraced]
    lat = [op.latency for p in untraced for op in p.ops]
    fresh = [x for p in untraced for x in p.freshness]
    rows = workload.ingest_rows()
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (hz.median(walls), "s"),
        "op_p50_s": (hz.p50(lat), "s"),
        "op_tail_s": (hz.tail(lat)[0], "s"),
        "ingest_rows_per_s": (hz.median([rows / w for w in walls]), "rows/s"),
        "freshness_p50_s": (hz.p50(fresh), "s"),
        "freshness_tail_s": (hz.tail(fresh)[0], "s"),
        "storage_amp": (hz.median([p.storage_amp for p in untraced]), "ratio"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["query_mix", "lakehouse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="fixture scale factor (default 0.1)")
    args = ap.parse_args(argv)

    try:
        hz.check_checkout()
    except hz.MissingProgram as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(hz.WORK, f"run-{os.getpid()}-{time.monotonic_ns()}")
    os.makedirs(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        os.chdir(hz.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    env = hz.prepare_environment(run_dir, DRIVER_MEMORY)
    load_before = os.getloadavg()
    steal_before = hz.steal_s()
    warehouses = os.path.join(run_dir, "warehouses")

    from perfbench import workloads as wl
    from perfbench.tracing import Tracer

    spark = hz.start_session()
    try:
        t_gen = time.perf_counter()
        fixtures = hz.ensure_fixtures(spark, args.sf)
        gen_s = time.perf_counter() - t_gen
        fixed_warm_up(spark, warehouses)
        cold_start_s = time.perf_counter() - T_PROCESS - gen_s

        setups, session_starts = [], []
        for _ in range(SETUPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = hz.start_session()
            session_starts.append(time.perf_counter() - t0)
            fixed_warm_up(spark, warehouses)
            setups.append(time.perf_counter() - t0)

        phases = {}
        t0 = time.perf_counter()
        workload = wl.WORKLOADS[args.workload](args.seed, fixtures, run_dir)
        workload.warm_up(spark)
        phases["warm_up"] = time.perf_counter() - t0
        # a traced run reports the layers of one pass and its overhead
        # over one untraced pass
        n = 1 if args.trace else workload.passes(args.seconds)
        untraced = run_passes(workload, spark, n, "pass")
        traced = []
        tracer = None
        if args.trace:
            tracer = Tracer()
            tracer.install()
            try:
                traced = run_passes(workload, spark, 1, "traced", tracer)
            finally:
                tracer.uninstall()

        t0 = time.perf_counter()
        problems = []
        for rec in untraced + traced:
            try:
                problems += workload.check(rec)
            except Exception as e:  # a check that cannot run is a wrong result
                problems.append(f"check raised {type(e).__name__}: {e}")
        phases["check"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        rss_mb = {"driver": hz.vm_hwm_kb(os.getpid()) / 1024.0, "jvm": hz.vm_hwm_kb(hz.jvm_pid(spark)) / 1024.0}
        if args.trace:
            from perfbench.layers import per_layer

            metrics = per_layer(traced[0], tracer, hz.median(session_starts), hz.median([p.wall for p in untraced]))
            metrics.update({f"{k}.peak_rss_mb": (v, "MB") for k, v in rss_mb.items()})
            trace_file = os.path.join(hz.WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            hz.write_json(trace_file, {"spans": tracer.dump()})
        else:
            metrics = end_to_end(workload, untraced, hz.median(setups))
            trace_file = None
        phases["report"] = time.perf_counter() - t0
        driver_memory = spark.sparkContext.getConf().get("spark.driver.memory")
    finally:
        hz.shutdown(spark)

    ops = [op for p in untraced + traced for op in p.ops]
    failed = sum(op.failed for op in ops)
    lat = [op.latency for p in untraced for op in p.ops]
    fresh = [x for p in untraced for x in p.freshness]
    import pyspark

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "nproc": os.cpu_count(),
        "cpus_available": hz.cpu_count(),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "driver_memory": driver_memory,
        "pyspark": pyspark.__version__,
        "git_commit": hz.git_commit(),
        "source_sha": hz.source_sha(),
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "steal_s": hz.steal_s() - steal_before,
        "cold_start_s": cold_start_s,
        "fixture_gen_s": gen_s,
        "setups_s": setups,
        "phases_s": phases,
        "peak_rss_mb": rss_mb,
        "passes_untraced": [p.wall for p in untraced],
        "op_latencies": [[(op.kind, round(op.latency, 4)) for op in p.ops] for p in untraced],
        "passes_traced": [p.wall for p in traced],
        "ops_per_pass": len(untraced[0].ops),
        "op_samples": len(lat),
        "op_tail_percentile": hz.tail(lat)[1],
        "freshness_samples": len(fresh),
        "freshness_tail_percentile": hz.tail(fresh)[1],
        "error_rate": failed / len(ops),
        "wrong_results": len(problems),
        "problems": problems,
        "trace_file": trace_file,
    }
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
