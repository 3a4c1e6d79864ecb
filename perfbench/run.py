"""Engine benchmark: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 5 --trace 0

A run generates the fixtures, starts a ``session.get_spark`` session with a
fixed number of task slots (at most ``nproc``), runs one checking pass
whose outputs are compared with computations made apart from the engine
(plus the workload's further warm-up passes, whose figures are dropped),
then times whole passes over the workload's operations until ``--seconds``
have gone by. Every check that fails, and every operation that raises,
counts as failed.

The last line of stdout is one JSON object. With ``--trace 0`` it carries
the end-to-end metrics; with ``--trace 1`` passes alternate untraced and
traced, and it carries the per-layer metrics of the traced passes, plus the
tracing overhead (traced minus untraced median pass time). A ``context``
line before it records nproc, task slots, warm-up passes, seed, fixture
fingerprint, the host's CPU-steal share over the run and the median wall
time of a timed pass.

Everything a run writes goes under ``perfbench/.run/`` (git-ignored); the
warehouse, fixtures and Spark scratch space are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_BASE = os.path.join(HERE, ".run")
SCALE = 0.01  # fixture scale factor (lineitem ~60k rows)
MAX_SLOTS = 4
MIN_PASSES = 3  # timed passes per run, whatever --seconds says
TRACE_PAIRS = 2  # untraced and traced passes of a trace run

E2E = ("setup_s", "cpu_s", "peak_rss_mb")
E2E_UNITS = {"peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s",
    "registry.build_s": "s", "registry.build_sql_execs": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
    "exec.failed_tasks": "count",
    "pyworker.start_s": "s", "pyworker.run_s": "s",
    "pyworker.bytes_sent": "B", "pyworker.bytes_returned": "B",
    "catalog.create_table_s": "s", "catalog.insert_s": "s",
    "catalog.list_partitions_s": "s", "catalog.load_table_s": "s",
    "catalog.create_partition_s": "s", "catalog.drop_partition_s": "s",
    "catalog.drop_table_s": "s", "catalog.engine_sql_self_s": "s",
    "catalog.load_table_jobs": "count", "catalog.load_table_tasks": "count",
    "catalog.files_written": "count",
    "catalog.bytes_stored_per_source_byte": "ratio",
    "datasource.read_s": "s", "datasource.write_s": "s",
    "datasource.splits_planned": "count", "datasource.splits_needed": "count",
    "datasource.split_yield": "ratio",
    "trace.overhead_s": "s",
}
# span name -> per-layer metric summing the spans' durations
SPAN_TIMES = {
    "registry.build": "registry.build_s",
    "exec.action": "exec.action_s",
    "datasource.read": "datasource.read_s",
    "datasource.write": "datasource.write_s",
    **{f"catalog.{m}": f"catalog.{m}_s" for m in (
        "create_table", "insert", "list_partitions", "load_table",
        "create_partition", "drop_partition", "drop_table")},
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=SCALE)
    p.add_argument("--min-passes", type=int, default=MIN_PASSES)
    p.add_argument("--ops", type=int, default=None,
                   help="keep only the first N operations of each pass")
    p.add_argument("--negative-control", action="store_true",
                   help="alter the expected value of the first checked operation")
    return p.parse_args(argv)


def median(values) -> float:
    xs = list(values)
    return statistics.median(xs) if xs else 0.0


def stop_session(spark, tree, self_pid: int) -> None:
    """Stop Spark, end the JVM and wait until every descendant has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc  # the spark-submit JVM that PySpark launched
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while True:
        left = [p for p in tree.pids() if p != self_pid]
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        time.sleep(0.1)
        try:  # reap direct children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    import fixtures
    import layers
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    t_proc = layers.process_start_epoch()
    steal0 = layers.host_cpu()
    tree = layers.ProcTree()

    # the engine package is imported from the checkout; Python workers
    # started by the JVM need the same root on their path
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        from spark_sql_dsv2_extension_spark.session import get_spark
    except ImportError as exc:
        print(f"engine package not found under {ROOT}: {exc}", file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    slots = min(MAX_SLOTS, nproc)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    run_dir = os.path.join(RUN_BASE, run_id)
    out_dir = os.path.join(RUN_BASE, "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = os.path.join(run_dir, "fixtures")
    fingerprint = fixtures.write(sf_dir, args.sf)
    # keep Spark's, the JVM's and the Python workers' scratch files in the run dir
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    os.environ["TMPDIR"] = tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")

    t0 = time.time()
    spark = get_spark("perfbench", cpus=slots, extra_conf={
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}",
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
    })
    session_s = time.time() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = layers.Tracer(spark)
        if args.trace:
            tracer.wrap_catalog()
        ctx = workloads.Ctx(spark=spark, sf_dir=sf_dir, run_dir=run_dir, tracer=tracer)
        wl = workloads.make(args.workload, ctx)
        wl.prepare()
        rng = random.Random(args.seed)

        attempted = failed = checked = 0
        correct = True
        errors: list[str] = []
        op_seq = 0

        def run_pass(ops, traced: bool, layer_totals: dict | None):
            nonlocal attempted, failed, checked, correct, op_seq
            if args.ops is not None:
                ops = ops[:args.ops]
            walls, cpus = [], []
            tracer.enabled = traced
            for op in ops:
                op_seq += 1
                op_id = f"op{op_seq}"
                attempted += 1
                c0, w0 = tree.cpu_s(), time.perf_counter()
                try:
                    with tracer.operation(op_id, op.name):
                        result = op.run()
                    ok = True
                except Exception:  # noqa: BLE001 - an op that raises counts as failed
                    ok = False
                    errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
                walls.append(time.perf_counter() - w0)
                cpus.append(tree.cpu_s() - c0)
                tracer.enabled = False
                if ok and op.check is not None:
                    try:
                        actual, expected = op.check(result)
                        if args.negative_control and not checked:
                            expected = ("negative control", expected)
                        checked += 1
                        if actual != expected:
                            ok = False
                            correct = False
                            errors.append(f"{op.name}: output differs from the expected value")
                    except Exception:  # noqa: BLE001
                        ok = False
                        errors.append(f"{op.name}: check raised {traceback.format_exc(limit=3)}")
                failed += not ok
                if traced and layer_totals is not None:
                    add_layers(op, op_id, layer_totals)
                tracer.enabled = traced
                wl.after_op()
            tracer.enabled = False
            print(f"pass wall={sum(walls):.2f} cpu={sum(cpus):.2f} "
                  + " ".join(f"{op.name}={w:.2f}" for op, w in zip(ops, walls)),
                  file=sys.stderr, flush=True)
            return walls, cpus

        def add_layers(op, op_id, totals):
            for k, v in tracer.collect(op_id).items():
                totals[k] += v
            spans = [s for s in tracer.spans if s["op"] == op_id]
            for s in spans:
                if s["name"] in SPAN_TIMES:
                    totals[SPAN_TIMES[s["name"]]] += s["end"] - s["start"]
                if s["name"] == "registry.build":
                    totals["registry.build_sql_execs"] += s["sql_execs"]
                elif s["name"] == "catalog.load_table":
                    totals["catalog.load_table_jobs"] += s["jobs"]
                    totals["catalog.load_table_tasks"] += s["tasks"]
                elif s["name"] == "catalog.engine_sql":
                    totals["catalog.engine_sql_self_s"] += layers.self_time(spans, s)
            if op.after_trace is not None:
                op.after_trace(spans, totals)

        # warm-up: the checking pass, then timed passes whose figures are dropped
        run_pass(wl.check_pass(rng), False, None)
        for _ in range(wl.warmup_passes - 1):
            run_pass(wl.timed_pass(rng), False, None)
        setup_s = time.time() - t_proc

        plain, traced_passes = [], []
        t_timed = time.time()

        def done() -> bool:
            if time.time() - t_timed < args.seconds:
                return False
            if args.trace:
                return min(len(plain), len(traced_passes)) >= TRACE_PAIRS
            return len(plain) >= args.min_passes

        while not done():
            # a trace run orders its passes untraced, traced, traced, untraced,
            # ... so that warm-up drift does not bias the tracing overhead
            traced = bool(args.trace) and (len(plain) + len(traced_passes)) % 4 in (1, 2)
            totals = {k: 0.0 for k in LAYER_UNITS} if traced else None
            walls, cpus = run_pass(wl.timed_pass(rng), traced, totals)
            record = {"pass_s": sum(walls), "cpu_s": sum(cpus), "ops": len(walls),
                      "layers": totals}
            (traced_passes if traced else plain).append(record)
        timed_s = time.time() - t_timed
        peak = tree.peak_rss_bytes()
    finally:
        stop_session(spark, tree, os.getpid())

    steal1 = layers.host_cpu()
    steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    shutil.rmtree(run_dir, ignore_errors=True)

    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "task_slots": slots, "warmup_passes": wl.warmup_passes,
        "timed_passes": len(plain), "traced_passes": len(traced_passes),
        "timed_s": round(timed_s, 3), "scale_factor": args.sf,
        "fixture_fingerprint": fingerprint,
        "host_steal_share": round(steal_share, 4),
        "ops_per_pass": plain[-1]["ops"] if plain else 0,
        "pass_wall_s": round(median(p["pass_s"] for p in plain), 3),
    }
    if args.trace:
        layer = {k: median(p["layers"][k] for p in traced_passes) for k in LAYER_UNITS}
        layer["session.start_s"] = session_s
        layer["datasource.split_yield"] = (
            layer["datasource.splits_needed"] / layer["datasource.splits_planned"]
            if layer["datasource.splits_planned"] else 0.0)
        layer["trace.overhead_s"] = (
            median(p["pass_s"] for p in traced_passes) - median(p["pass_s"] for p in plain))
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layer.items()}
        with open(os.path.join(out_dir, f"spans-{run_id}.json"), "w") as f:
            json.dump(tracer.spans, f)
    else:
        values = {
            "setup_s": setup_s,
            # a fixed set of passes, so that a faster commit's extra,
            # warmer passes cannot lower the median
            "cpu_s": median(p["cpu_s"] for p in plain[:MIN_PASSES]),
            "peak_rss_mb": peak / 2**20,
        }
        metrics = {k: {"value": values[k], "unit": E2E_UNITS.get(k, "s")} for k in E2E}
    for e in errors:
        print(f"failed: {e}", file=sys.stderr)
    print("context " + json.dumps(context), flush=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
