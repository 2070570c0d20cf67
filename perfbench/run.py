"""Seeded spatial-join + tiling benchmark for spark_geo.

    python3 perfbench/run.py --workload pages_pip --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process, one ``local[N]`` session
(N <= the CPUs this process may use, at most 4), a closed loop: each op is
forced to completion and checked before the next one starts.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Lines before it starting with
``#`` describe the inputs and the run.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

CORES = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "1g"
# Catalyst never broadcasts a join side: the cell plans run as they do on
# large x large inputs, with both sides of every equi-join shuffled.
BROADCAST_THRESHOLD = -1
WARM_PASSES = 1  # untimed pass over the ops before the loop, part of setup_s
MIN_ITERS = 3
MAX_LOOP_S = 120  # stop early rather than overrun the run's time limit
KERNEL_ROWS = 65_536  # one Arrow batch (spark.sql.execution.arrow.maxRecordsPerBatch)

# Every workload runs three ops; opK is the workload's K-th op (see
# BENCHMARK.json "why" and README.md for the mapping).
SLOTS = ("op1", "op2", "op3")
BUILD_SPANS = ("pipeline.flagship", "join.broadcast_lonlat_join")

# metric name -> unit, exactly as listed in BENCHMARK.json
END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "iter_s.p50": "s",
              **{f"{s}.p50": "s" for s in SLOTS}}
LAYER_UNITS = {
    "session.start_s": "s",
    "kernel.wkb.decode_points_s": "s", "kernel.wkb.encode_points_s": "s",
    "kernel.strtree.query_bulk_s": "s", "kernel.predicates.points_in_polygon_s": "s",
    "kernel.cell.cell_of_s": "s", "kernel.cell.cover_s": "s",
    "kernel.construct.clip_by_rect_s": "s",
    "pipeline.geocode_s": "s", "pipeline.checkpoint_bytes_per_row": "B/row",
    "join.broadcast_build_s": "s", "join.pairs": "count", "join.hit_ratio": "ratio",
    "join.cell_candidates": "count", "join.cell_hit_ratio": "ratio",
    "knn.pairs": "count", "knn.cell_jobs": "count", "knn.cached_rdds_after": "count",
    "tiles.cells_out": "count", "tiles.rasterize_rows": "count",
    "iter_s.tail": "s", "peak_rss_mb": "MB",
}
STAGE_UNITS = {"executor_run_s": "s", "executor_cpu_s": "s", "python_run_s": "s",
               "python_bytes_out": "B", "python_bytes_in": "B", "shuffle_write_bytes": "B",
               "fetch_wait_s": "s", "gc_s": "s", "spill_bytes": "B", "jobs": "count"}
PER_LAYER = {**LAYER_UNITS,
             **{f"spark.{s}.{f}": u for s in SLOTS for f, u in STAGE_UNITS.items()}}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("pages_pip", "point_cell"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def note(label, obj):
    print(f"# {label}: {json.dumps(obj, sort_keys=True)}", flush=True)


def start_session(run_root: str, trace: bool):
    from spark_geo.session import get_spark
    local = os.path.join(run_root, "local")
    os.makedirs(local, exist_ok=True)
    extra = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')} -XX:-UsePerfData",
        "spark.sql.autoBroadcastJoinThreshold": str(BROADCAST_THRESHOLD),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_root, "events")
        os.makedirs(events)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + events,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    return get_spark(cores=CORES, shuffle_partitions=CORES, app="perfbench", extra=extra)


def stop_session(spark):
    """Stop Spark, then the JVM gateway, and wait for both to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def reap_children(timeout: float = 30.0):
    """Wait for every process this run started (Python workers) to end."""
    from spans import descendants
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def kernel_timings(seed: int) -> dict:
    """Driver-side kernel timings on one seeded batch: KERNEL_ROWS points
    (8,192 of them as Geom probes for the tree) and 64 star polygons;
    median of three repetitions each."""
    import numpy as np
    from spark_geo.kernel import cell as K_cell
    from spark_geo.kernel import construct as K_con
    from spark_geo.kernel import predicates as K_p
    from spark_geo.kernel import wkb as K_wkb
    from spark_geo.kernel.geom import Geom
    from spark_geo.kernel.strtree import STRtree
    import inputs

    rng = np.random.default_rng([seed, 9])
    x, y = rng.uniform(-20, 20, KERNEL_ROWS), rng.uniform(-10, 10, KERNEL_ROWS)
    wkb = np.array(inputs.pack_points(x, y), dtype=object)
    centers = np.column_stack([rng.uniform(-18, 18, 64), rng.uniform(-8, 8, 64)])
    stars = inputs._star_layer(rng, centers, rng.uniform(0.5, 2.0, 64),
                               rng.choice([32, 64, 128, 256, 512], 64))
    polys = [K_wkb.loads(b) for b in stars.wkb()]
    tree = STRtree(polys)
    probe = [Geom.point(a, b) for a, b in zip(x[:8192].tolist(), y[:8192].tolist())]
    big = polys[int(np.argmax(stars.n))]
    boxes = [(g, K_cell.cell_bounds(K_cell.cover(g, 8))) for g in polys]

    def clip_all():
        for g, (x0, y0, x1, y1) in boxes:
            for i in range(len(x0)):
                K_con.clip_by_rect(g, x0[i], y0[i], x1[i], y1[i])

    work = {
        "kernel.wkb.decode_points_s": lambda: K_wkb.decode_points(wkb),
        "kernel.wkb.encode_points_s": lambda: K_wkb.encode_points(x, y),
        "kernel.strtree.query_bulk_s": lambda: tree.query_bulk(probe, predicate="intersects"),
        "kernel.predicates.points_in_polygon_s": lambda: K_p.points_in_polygon(x, y, big),
        "kernel.cell.cell_of_s": lambda: K_cell.cell_of(x, y, 10),
        "kernel.cell.cover_s": lambda: [K_cell.cover(g, 8) for g in polys],
        "kernel.construct.clip_by_rect_s": clip_all,
    }
    return {name: time_it(fn) for name, fn in work.items()}


def time_it(fn, reps: int = 3) -> float:
    """Median wall seconds of ``reps`` calls."""
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return median(ts)


def run(args) -> int:
    run_root = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, ROOT)
    try:
        import spark_geo
    except ImportError as e:
        print(f"perfbench: cannot import spark_geo from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(run_root, ignore_errors=True)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(spark_geo.__file__))) != ROOT:
        print("perfbench: spark_geo was not imported from this checkout", file=sys.stderr)
        shutil.rmtree(run_root, ignore_errors=True)
        return 2

    import inputs
    import ops as O
    from spans import RssSampler, Tracer

    trace = bool(args.trace)
    tracer = Tracer(trace)
    rss = RssSampler().start()
    spark = None
    attempted = failed = 0
    try:
        t = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_session(run_root, trace)
        session_start_s = time.perf_counter() - t

        maker = inputs.MAKERS[args.workload]
        t = time.perf_counter()
        with tracer.span("setup.inputs", it=-1):
            data = maker(args.seed)
            paths = inputs.write_tables(data["tables"], os.path.join(run_root, "inputs"))
        inputs_s = time.perf_counter() - t
        wl = O.WORKLOADS[args.workload](spark, data, paths, os.path.join(run_root, "out"), tracer)
        t = time.perf_counter()
        wl.reference()
        ref_s = time.perf_counter() - t
        ops = wl.ops()
        warm_s = 0.0
        for p in range(WARM_PASSES):
            for op in ops:
                t = time.perf_counter()
                ok, res = run_op(spark, op, -1 - p, tracer, trace)
                warm_s += time.perf_counter() - t
                attempted += 1
                failed += not (ok and check_op(op, res))
        setup_s = session_start_s + inputs_s + warm_s

        note("workload", {"name": args.workload, "seed": args.seed, "cores": CORES,
                          "driver_memory": DRIVER_MEM, "props": data["props"]})
        note("reference", wl.ref["props"])
        note("input_bytes", {k: v[1] for k, v in paths.items()})
        note("setup", {"session_start_s": session_start_s, "inputs_s": inputs_s,
                       "warm_up_s": warm_s, "reference_s": ref_s})

        op_times = {op.name: [] for op in ops}
        iter_times, rows_per_s, cached_after, cell_jobs = [], [], [], []
        loop_t0 = time.perf_counter()
        it = 0
        while (it < MIN_ITERS or time.perf_counter() - loop_t0 < args.seconds) \
                and time.perf_counter() - loop_t0 < MAX_LOOP_S:
            wall = 0.0
            for op in ops:
                t = time.perf_counter()
                ok, res = run_op(spark, op, it, tracer, trace)
                dt = time.perf_counter() - t
                attempted += 1
                failed += not (ok and check_op(op, res))
                op_times[op.name].append(dt)
                wall += dt
                if trace and op.name == "cell_knn":
                    cell_jobs.append(len(spark.sparkContext.statusTracker()
                                         .getJobIdsForGroup(f"{op.name}#{it}")))
            iter_times.append(wall)
            rows_per_s.append(wl.rows / wall)
            if trace:
                cached_after.append(len(spark.sparkContext._jsc.getPersistentRDDs()))
            it += 1
        peak_rss = rss.stop()

        n = len(iter_times)
        # highest percentile with >= 10 samples beyond it; with fewer
        # than 11 iterations no such percentile exists and the maximum is
        # reported as the 100th
        tail_pct, tail = ((100.0 * (n - 10) / n, sorted(iter_times)[n - 11]) if n >= 11
                          else (100.0, max(iter_times)))
        note("samples", {"iterations": n, "per_op": op_times, "iter_s": iter_times,
                         "iter_s.tail_percentile": round(tail_pct, 2),
                         "ops": {s: op.name for s, op in zip(SLOTS, ops)}})
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (median(rows_per_s), "rows/s"),
            "iter_s.p50": (median(iter_times), "s"),
        }
        for slot, op in zip(SLOTS, ops):
            end_to_end[f"{slot}.p50"] = (median(op_times[op.name]), "s")
        note("end_to_end", {k: v[0] for k, v in end_to_end.items()})
        note("peak_rss_mb", peak_rss)
        note("failed_frac", failed / max(1, attempted))
        last = os.path.join(RUN_DIR, f"last-untraced-{args.workload}.json")
        if not trace:
            with open(last, "w") as f:
                json.dump({k: v[0] for k, v in end_to_end.items()}, f)
            metrics = end_to_end
        else:
            spark.sparkContext.setJobGroup("layer_probe", "layer_probe")
            wl.layer_probe(time_it)
            kernels = kernel_timings(args.seed)
            stop_session(spark)
            spark = None
            metrics = traced_metrics(args, wl, ops, tracer, kernels, cell_jobs, cached_after,
                                     session_start_s, run_root, last, end_to_end)
            metrics["iter_s.tail"] = (tail, "s")
            metrics["peak_rss_mb"] = (peak_rss, "MB")
    finally:
        rss.stop()
        if spark is not None:
            stop_session(spark)
        reap_children()
        shutil.rmtree(run_root, ignore_errors=True)

    want = PER_LAYER if trace else END_TO_END
    got = {k: u for k, (_, u) in metrics.items()}
    if got != want:
        print(f"perfbench: metric set differs from BENCHMARK.json: {sorted(set(got) ^ set(want))}",
              file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def run_op(spark, op, it, tracer, trace):
    """Run one op under its job group; -> (ok, result)."""
    if trace:
        spark.sparkContext.setJobGroup(f"{op.name}#{it}", op.name)
    try:
        with tracer.span(op.name, it=it):
            return True, op.run(it)
    except Exception:  # noqa: BLE001 -- a failing op is counted, the run goes on
        print(f"perfbench: op {op.name} (iteration {it}) raised:", file=sys.stderr)
        traceback.print_exc()
        return False, None


def check_op(op, res) -> bool:
    import reference as R
    try:
        op.check(res)
        return True
    except R.Mismatch as e:
        print(f"perfbench: op {op.name} output check failed: {e}", file=sys.stderr)
        return False


def traced_metrics(args, wl, ops, tracer, kernels, cell_jobs, cached_after,
                   session_start_s, run_root, last, end_to_end):
    """Per-layer metrics of a traced run, from its spans, the probes'
    counts and the event log of the stopped session."""
    from spans import read_event_log, union_seconds

    events = os.path.join(run_root, "events")
    log = read_event_log(os.path.join(events, os.listdir(events)[0]))
    stage_spans = log.pop("_stage_spans")

    builds, coverage = {}, {}
    for s in tracer.spans:
        if s["name"] in BUILD_SPANS and s["iter"] is not None and s["iter"] >= 0:
            builds[s["iter"]] = builds.get(s["iter"], 0.0) + s["end"] - s["start"]
    for op in ops:
        # shares of the op's wall time: covered by child spans, by the
        # union of its stage intervals, and busy in executor tasks and
        # Python workers (task seconds / (cores x wall))
        shares = {"span_share": [], "stage_share": [], "executor_share": [], "python_share": []}
        for i, s in enumerate(tracer.spans):
            if s["name"] == op.name and s["iter"] >= 0:
                dur = s["end"] - s["start"]
                group = f"{op.name}#{s['iter']}"
                shares["span_share"].append(tracer.child_cover(i) / dur)
                shares["stage_share"].append(union_seconds(stage_spans.get(group, ())) / dur)
                task = log.get(group, {})
                shares["executor_share"].append(task.get("executor_run_s", 0.0) / (CORES * dur))
                shares["python_share"].append(task.get("python_run_s", 0.0) / (CORES * dur))
        coverage[op.name] = {k: median(v) for k, v in shares.items()}

    # a layer this workload does not call did no work and reads 0
    values = {**{k: wl.stats.get(k, 0.0) for k in LAYER_UNITS}, **kernels,
              "session.start_s": session_start_s,
              "join.broadcast_build_s": median(list(builds.values())),
              "knn.cell_jobs": median(cell_jobs),
              "knn.cached_rdds_after": cached_after[-1] if cached_after else 0}
    metrics = {k: (values[k], u) for k, u in LAYER_UNITS.items()
               if k not in ("iter_s.tail", "peak_rss_mb")}

    per_op = {}
    for slot, op in zip(SLOTS, ops):
        its = [v for g, v in log.items() if g.split("#")[0] == op.name
               and int(g.split("#")[1]) >= 0]
        per_op[op.name] = {f: median([v[f] for v in its]) for f in STAGE_UNITS}
        for f, u in STAGE_UNITS.items():
            metrics[f"spark.{slot}.{f}"] = (per_op[op.name][f], u)

    note("per_op_spark", per_op)
    note("per_op_coverage", coverage)
    note("cached_rdds_after_iteration", cached_after)
    if os.path.exists(last):
        with open(last) as f:
            base = json.load(f)
        note("tracing_overhead_vs_last_untraced_run",
             {k: end_to_end[k][0] / base[k] - 1.0 for k in end_to_end if base.get(k)})
    else:
        note("tracing_overhead_vs_last_untraced_run", "no untraced run of this workload yet")
    out = os.path.join(RUN_DIR, f"trace-{args.workload}-{args.seed}.json")
    with open(out, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": tracer.spans,
                   "per_op_spark": per_op, "coverage": coverage,
                   "layer": {k: v[0] for k, v in metrics.items()}}, f)
    note("trace_file", os.path.relpath(out, ROOT))
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
