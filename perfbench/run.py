"""Spatial-pipeline benchmark: one workload per invocation.

    python3 perfbench/run.py --workload {pages_pip,tracts_dist,osm_pipeline}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  Inputs come from ``--seed`` (cached under
``.bench_cache/perfbench/``).  The workload runs as a closed loop in one
``local[nproc]`` Spark application: a cold pass, the workload's untimed
warm-up passes, then timed warm passes until ``--seconds`` have elapsed
(at least the workload's ``min_warm``).  Outputs are checked on every
invocation.  The last stdout line is one JSON object with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, which also writes the span/stage JSON).  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.getcwd())


def metric_units(kind: str) -> dict:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, in
    BENCHMARK.json order."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _engine_present() -> bool:
    try:
        import osm_chordify_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine ({e}); run from the repository root",
              file=sys.stderr)
        return False
    return True


def shutdown(spark):
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run(args) -> dict:
    import gen
    import harness as H
    from workloads import WORKLOADS

    t_import = H.since_process_start()
    nproc = H.host_fit_env()
    t_gen = time.perf_counter()
    d = gen.cached(args.workload, args.seed)  # generation is not timed
    meta = gen.load_meta(d)
    phases = {"gen": time.perf_counter() - t_gen}

    t0 = time.perf_counter()
    spark = H.start_session(nproc)
    session_s = time.perf_counter() - t0
    phases["session"] = session_s

    try:
        tracer = H.Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, d, meta, tracer)
        attempted = failed = 0

        def one_pass(i):
            nonlocal attempted, failed
            attempted += 1
            c0, t, v0 = H.tree_cpu_s(), time.perf_counter(), H.vcpu_times()
            try:
                with tracer.span("pass", pass_id=i, layer=False) as sp:
                    out = wl.run_pass()
            except Exception:  # noqa: BLE001 — a failed call is counted, the loop goes on
                import traceback

                traceback.print_exc()
                failed += 1
                return None, None
            sp["wall"] = time.perf_counter() - t
            sp["cpu_s"] = H.tree_cpu_s() - c0
            sp["steal_share"] = H.steal_share(v0, H.vcpu_times())
            sp["net_wall"] = H.net_wall(sp["wall"], sp["steal_share"])
            sp["traced"] = tracer.enabled
            tracer.collect()
            return out, sp

        def count(results):
            nonlocal attempted, failed
            for name, ok in results:
                attempted += 1
                if not ok:
                    failed += 1
                    H.log(f"check failed: {name}")

        cold_out, cold = one_pass(0)
        if cold is None:
            raise RuntimeError("cold pass failed")
        phases["cold"] = cold["net_wall"]
        t0 = time.perf_counter()
        count(wl.check(cold_out))
        ref = wl.digest(cold_out)
        phases["check"] = time.perf_counter() - t0

        # warm-up passes finish JIT compilation; they are checked, not timed
        t0 = time.perf_counter()
        for i in range(1, wl.warmup + 1):
            out, sp = one_pass(i)
            if sp is not None:
                count([("warm.same_output", wl.digest(out) == ref)])
                wl.release(out)
        phases["warmup"] = time.perf_counter() - t0

        warm = []
        t_start = time.perf_counter()
        i = wl.warmup + 1
        # a traced run needs one traced and one untraced warm pass
        min_warm = max(wl.min_warm, 2 * args.trace)
        while ((len(warm) < min_warm or time.perf_counter() - t_start < args.seconds)
               and i <= wl.warmup + 40):
            if args.trace:
                tracer.enabled = i % 2 == 1  # traced and untraced passes interleave
            out, sp = one_pass(i)
            i += 1
            if sp is None:
                continue
            count([("warm.same_output", wl.digest(out) == ref)])
            wl.release(out)
            warm.append(sp)
        phases["warm"] = time.perf_counter() - t_start
        peak_rss = H.tree_hwm_mb()
        tracer.enabled = bool(args.trace)
        tracer.resolve()

        walls = [p["net_wall"] for p in warm]
        if not args.trace:
            metrics = {
                "rows_per_s": wl.rows / H.median(walls),
                "cold_s": cold["net_wall"],
                "setup_s": t_import + session_s,
                "cpu_s": H.median([p["cpu_s"] for p in warm]),
                "shuffle_write_mb": H.median(
                    [p["total"]["shuffle_write_bytes"] / (1 << 20) for p in warm]),
            }
            units = metric_units("end_to_end")
            H.log(f"{args.workload}: cold wall {cold['wall']:.3f} stolen share "
                  f"{cold['steal_share']:.3f}; {len(warm)} warm passes, walls "
                  + " ".join(f"{p['wall']:.3f}" for p in warm) + ", stolen share "
                  + " ".join(f"{p['steal_share']:.3f}" for p in warm))
        else:
            traced = [p for p in warm if p["traced"]]
            plain = [p for p in warm if not p["traced"]]
            tot = lambda key: H.median([p["total"][key] for p in traced])  # noqa: E731
            units = metric_units("per_layer")
            metrics = {k: 0.0 for k in units}
            metrics.update({
                "session.start_s": session_s,
                "proc.peak_rss_mb": peak_rss,
                "spark.jobs": tot("jobs"), "spark.stages": tot("stages"),
                "spark.tasks": tot("tasks"), "spark.task_s": tot("task_s"),
                "spark.gc_s": tot("gc_s"), "spark.spill_mb": tot("spill_bytes") / (1 << 20),
                "spark.shuffle_read_mb": tot("shuffle_read_bytes") / (1 << 20),
                "spark.driver_idle_s": H.median([p["driver_idle_s"] for p in traced]),
                "spark.core_util": H.median([p["cpu_s"] / (p["wall"] * nproc) for p in traced]),
                "host.steal_share": H.median([p["steal_share"] for p in warm]),
                "trace.overhead_s": H.median([p["net_wall"] for p in traced])
                - H.median([p["net_wall"] for p in plain]),
                "trace.child_cover": H.median([p["child_cover"] for p in traced]),
            })
            metrics.update(wl.layer_metrics(traced, cold_out))
            if set(metrics) != set(units):
                raise RuntimeError(f"metrics not in BENCHMARK.json: {set(metrics) - set(units)}")
            path = os.path.join(H.WORK, f"trace-{args.workload}-s{args.seed}.json")
            tracer.write(path)
            H.log(f"spans written to {path}")
            for k, unit in units.items():
                H.log(f"  {k:44s} {metrics[k]:14.6g} {unit}")
        wl.release(cold_out)
    finally:
        t0 = time.perf_counter()
        shutdown(spark)
        phases["shutdown"] = time.perf_counter() - t0
    H.log("phases " + " ".join(f"{k} {v:.1f}s" for k, v in phases.items()))

    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["pages_pip", "tracts_dist", "osm_pipeline"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not _engine_present():
        sys.exit(2)
    if args.workload is None:
        ap.error("--workload is required")
    print(json.dumps(run(args)))


if __name__ == "__main__":
    main()
