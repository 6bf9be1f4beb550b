"""Seeded end-to-end benchmark of the hilbert-curve-spark engine.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Run from the repository root.  One process drives the engine's public
operator functions on ``local[<cpus>]``; the driver heap comes from
``SPARK_DRIVER_MEMORY`` (default 2g).  A run:

1. writes (once) the fixed flat corpus and loads a DuckDB copy of the
   derived corpus for the checks (untimed);
2. sets the workload up ``SETUP_REPS`` times and reports the median as
   ``setup_s``;
3. runs one warm-up round, then rounds of seeded ops until ``--seconds``
   are up (closed loop, one client); the rate is that of a round made of
   each op kind's median latency;
4. checks every op's output against a reference outside the timed region;
5. prints a report, and as its last stdout line one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

``--trace 1`` records spans around every engine call, counts each op's
Spark jobs, stages and tasks through a job group, times the driver-side
kernels on the run's own boxes, polygons and points, and writes
``.perfbench/traces/<workload>-seed<n>.json``.  Its tracing overhead is
its end-to-end values minus those of the last untraced run of the same
workload and seed, when there is one.

Exit status: 0 when every output is correct, 1 when any op failed or was
wrong, 2 when the engine cannot be imported or set up.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import tempfile
import time
import traceback
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import trace  # noqa: E402  (standard library only)

SETUP_REPS = 3

# The gated end-to-end metrics.  The rate is per CPU second (user + system
# time of this process and every process it starts), not per wall second:
# on a shared host the hypervisor's steal time moves wall-clock rates by
# more than any bound a regression check can use, and it is not charged as
# CPU time.  The wall-clock rate, p50 and tail latencies are in each run's
# report.
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "docs_per_cpu_s": "docs/cpu-s",
    "stored_bytes_per_doc": "B",
}

# Per-layer metrics: (name, unit, better, the end-to-end metric it should
# move on the workload where the layer does most of its work).  A metric a
# workload does not exercise reads 0.  The graph analytics run only in the
# join workload's traced runs, so no end-to-end metric gates them.
PER_LAYER = [
    ("setup.interleave.build_documents_s", "s", "lower", "setup_s on both"),
    ("setup.layout.write_sorted_s", "s", "lower", "setup_s on both (native encode + range sort + write)"),
    ("encode.encode_documents_native_s", "s", "lower", "setup_s on both"),
    ("setup.range_query.prefix_index_s", "s", "lower", "setup_s on search; none on join"),
    ("setup.brq.keyword_index_s", "s", "lower", "setup_s on search; none on join"),
    ("layout.bytes_per_doc", "B", "lower", "stored_bytes_per_doc on both"),
    ("range_query.postings_per_doc", "count", "lower", "stored_bytes_per_doc on search"),
    ("range_query.index_bytes_per_doc", "B", "lower", "stored_bytes_per_doc on search"),
    ("hilbert.encode2d_ns_per_point", "ns", "lower", "docs_per_cpu_s on search (cover compile)"),
    ("hilbert_native.ns_per_point", "ns", "lower", "setup_s on both"),
    ("hilbert_wide.ns_per_point", "ns", "lower", "none: no workload encodes past 31 bits"),
    ("cover.cover_box_ms", "ms", "lower", "docs_per_cpu_s on search (under 1%)"),
    ("cover.ranges_per_box", "count", "lower", "docs_per_cpu_s on search"),
    ("bpc.bpc_cover_ms", "ms", "lower", "docs_per_cpu_s on search (under 1%)"),
    ("bpc.prefixes_per_box", "count", "lower", "docs_per_cpu_s on search"),
    ("cover.cover_polygon_ms", "ms", "lower", "docs_per_cpu_s on join"),
    ("range_query.grq_range_mode_ms", "ms", "lower", "docs_per_cpu_s on search; none on join"),
    ("range_query.grq_prefix_mode_ms", "ms", "lower", "docs_per_cpu_s on search; none on join"),
    ("range_query.cover_precision", "ratio", "higher", "docs_per_cpu_s on search"),
    ("brq.brq_any_ms", "ms", "lower", "docs_per_cpu_s on search"),
    ("brq.brq_all_ms", "ms", "lower", "docs_per_cpu_s on search"),
    ("brq.radius_search_ms", "ms", "lower", "docs_per_cpu_s on search"),
    ("knn.knn_ms", "ms", "lower", "docs_per_cpu_s on search"),
    ("knn.knn_tail_ms", "ms", "lower", "docs_per_cpu_s on search"),
    ("knn.jobs_per_op", "count", "lower", "docs_per_cpu_s on search (growth rounds)"),
    ("updates.merge_on_read_ms", "ms", "lower", "docs_per_cpu_s on search"),
    ("updates.log_rows", "count", "lower", "docs_per_cpu_s on search"),
    ("updates.compact_log_s", "s", "lower", "none: runs after the loop on search"),
    ("tiles.tile_assignment_s", "s", "lower", "docs_per_cpu_s on join; none on search"),
    ("tiles.tile_assignment_rows_out", "count", "higher", "docs_per_cpu_s on join"),
    ("pip.pip_join_s", "s", "lower", "docs_per_cpu_s on join; none on search"),
    ("pip.pip_join_rows_out", "count", "higher", "docs_per_cpu_s on join"),
    ("spatial_join.distance_self_join_s", "s", "lower", "docs_per_cpu_s on join; none on search"),
    ("spatial_join.distance_self_join_rows_out", "count", "higher", "docs_per_cpu_s on join"),
    ("spatial_join.knn_join_s", "s", "lower", "docs_per_cpu_s on join; none on search"),
    ("spatial_join.knn_join_rows_out", "count", "higher", "docs_per_cpu_s on join"),
    ("graph.dbscan_s", "s", "lower", "none: traced join runs only"),
    ("graph.dbscan_jobs", "count", "lower", "none: traced join runs only (CC rounds)"),
    ("spatial_join.knn_graph_s", "s", "lower", "none: traced join runs only"),
    ("graph.pagerank_s", "s", "lower", "none: traced join runs only"),
    ("trajectory.covisit_pairs_s", "s", "lower", "none: traced join runs only"),
    ("trajectory.covisit_rows_out", "count", "higher", "none: traced join runs only"),
    ("dedup.jaccard_pairs_s", "s", "lower", "none: traced join runs only"),
    ("graph.dedup_clusters_s", "s", "lower", "none: traced join runs only"),
    ("driver.call_ms", "ms", "lower", "docs_per_cpu_s on both (driver-side share of an op)"),
    ("spark.action_ms", "ms", "lower", "docs_per_cpu_s on both (execution share of an op)"),
    ("spark.jobs_per_op", "count", "lower", "docs_per_cpu_s on both"),
    ("spark.stages_per_op", "count", "lower", "docs_per_cpu_s on both"),
    ("spark.tasks_per_op", "count", "lower", "docs_per_cpu_s on both"),
    ("spark.storage_mb_after_op", "MB", "lower", "peak_rss_mb on join (pins never released)"),
]


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(state: str):
    """local[<cpus>] session with every scratch file inside ``state``."""
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # spark-submit's launcher JVM, which builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    from hilbert_curve_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cpus()}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(state, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(state, "warehouse"),
            # a fixed-size heap: the JVM's resident set then tracks what the
            # engine touches, not when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def run_op(ctx, op, op_id: str) -> dict:
    rec = {"op": op_id, "kind": op.kind}
    cpu0 = trace.tree_cpu_s()
    t0 = time.perf_counter()
    try:
        with ctx.tracer.op(op_id, op.kind):
            rec["out"] = op.run(ctx.tracer)
        rec["latency_s"] = time.perf_counter() - t0
    except Exception:
        rec["latency_s"] = time.perf_counter() - t0
        rec["error"] = traceback.format_exc(limit=3)
    rec["cpu_s"] = trace.tree_cpu_s() - cpu0
    ctx.tracer.after_op(op_id, op.kind)
    return rec


def check(op, rec) -> None:
    if "error" in rec:
        rec["ok"] = False
        return
    t0 = time.perf_counter()
    try:
        got = op.actual(rec.pop("out"))
        want = op.expected()
        if not op.ordered:
            got, want = sorted(got), sorted(want)
        rec["rows_out"] = len(got)
        rec["ok"] = got == want
        if not rec["ok"]:
            rec["error"] = f"mismatch: {len(got)} rows vs {len(want)} expected"
    except Exception:
        rec["ok"] = False
        rec["error"] = traceback.format_exc(limit=3)
    rec["check_s"] = time.perf_counter() - t0


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cpus(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "machine": platform.machine(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import numpy as np

        from perfbench import checks, inputs, kernels, workloads
    except ImportError as e:
        log(f"cannot import the engine or its dependencies: {e}")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2

    ctx = types.SimpleNamespace()
    ctx.corpus_dir, ctx.corpus_fp = inputs.corpus_dir()
    ctx.ref = checks.Reference(ctx.corpus_dir, ctx.corpus_fp, inputs.CORPUS["amp"])
    ctx.work_dir = os.path.join(
        inputs.STATE, "work", f"{args.workload}-{inputs.digest([ctx.corpus_fp, inputs.CORPUS])[:16]}"
    )
    anchors = np.stack([ctx.ref.x, ctx.ref.y], axis=1)

    log("reference corpus loaded")
    spark = start_spark(inputs.STATE)
    ctx.spark = spark
    log("spark session up")
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    ctx.tracer = trace.Tracer(bool(args.trace), spark.sparkContext)
    try:
        wl = workloads.WORKLOADS[args.workload](ctx)
        setup_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            with ctx.tracer.span("setup"):
                wl.setup(ctx.tracer)
            setup_s.append(time.perf_counter() - t0)
        log(f"setup {['%.2f' % s for s in setup_s]}")

        warm, warm_recs = [], []
        for op in wl.round(inputs.Draw(args.seed + 1_000_003, anchors)):
            warm.append(op)
            warm_recs.append(run_op(ctx, op, f"warm-{len(warm_recs)}"))
        log("warm-up round done")

        # rounds of every kind until --seconds are up; the op running when
        # they are up completes, and the next op is drawn only when it is
        # about to run
        ops, recs = [], []
        stream = wl.ops(inputs.Draw(args.seed, anchors))
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < args.seconds:
            ops.append(next(stream))
            recs.append(run_op(ctx, ops[-1], f"op-{len(recs)}"))
        wall = time.perf_counter() - t_start
        rss = trace.peak_rss_mb(jvm_pid)
        log(f"{len(recs)} ops in {wall:.2f} s")

        tail_ops = wl.finish()
        tail_recs = [run_op(ctx, op, f"finish-{i}") for i, op in enumerate(tail_ops)]

        # traced runs of a workload with a side family (the join workload's
        # graph analytics) run one round of it; its first executions are
        # cold, which a warm-up round would fix at the cost of the 180 s a
        # run may take
        side_ops, side_recs = [], []
        if args.trace and hasattr(wl, "analytics_round"):
            wl.analytics_setup(ctx.tracer)
            side_draw = inputs.Draw(args.seed + 2_000_003, anchors)
            for op in wl.analytics_round(side_draw):
                side_ops.append(op)
                side_recs.append(run_op(ctx, op, f"side-{len(side_recs)}"))
            log("side round done")

        all_ops = warm + ops + tail_ops + side_ops
        all_recs = warm_recs + recs + tail_recs + side_recs
        for op, rec in zip(all_ops, all_recs):
            check(op, rec)
        failed = [r for r in all_recs if not r["ok"]]
        log("checks done")
        for r in failed:
            log(f"FAILED {r['op']} {r['kind']}: {r.get('error', '')}")

        lat = [r["latency_s"] * 1000 for r in recs]
        kinds = sorted({r["kind"] for r in recs})
        by_kind = {k: trace.median([r["latency_s"] for r in recs if r["kind"] == k]) for k in kinds}
        cpu_by_kind = {k: trace.median([r["cpu_s"] for r in recs if r["kind"] == k]) for k in kinds}
        tail_ms, tail_pct, n = trace.tail(lat)
        e2e = {
            "setup_s": trace.median(setup_s),
            "peak_rss_mb": rss,
            # each kind's median op, so an op slowed by something outside
            # the run (another tenant of the machine) does not set the rate
            "docs_per_s": wl.n_docs * len(by_kind) / sum(by_kind.values()),
            "docs_per_cpu_s": wl.n_docs * len(kinds) / sum(cpu_by_kind.values()),
            "stored_bytes_per_doc": wl.stored_bytes_per_doc(),
        }
        report = {
            "workload": args.workload,
            "why": wl.why,
            "seed": args.seed,
            "trace": args.trace,
            "environment": environment(spark),
            "corpus": {**inputs.CORPUS, "docs": wl.n_docs, "fingerprint": ctx.corpus_fp},
            "inputs_digest": inputs.digest([op.params for op in ops]),
            "first_round_digest": inputs.digest([op.params for op in ops[: len(wl.KINDS)]]),
            "docs_per_s_over_all_ops": wl.n_docs * len(recs) / wall,
            "ops": len(recs),
            "wall_s": wall,
            "setup_reps_s": setup_s,
            "op_latency": {
                "p50_ms": trace.median(lat),
                "tail_ms": tail_ms, "tail_percentile": tail_pct, "samples": n,
                "p50_ms_by_kind": {k: v * 1000 for k, v in by_kind.items()},
                "p50_cpu_ms_by_kind": {k: v * 1000 for k, v in cpu_by_kind.items()},
            },
            "fail_ratio": len(failed) / len(all_recs),
            "op_records": [
                {k: r[k] for k in ("op", "kind", "latency_s", "cpu_s", "check_s", "rows_out", "ok") if k in r}
                for r in all_recs
            ],
            "end_to_end": e2e,
        }
        results = os.path.join(inputs.STATE, "results")
        os.makedirs(results, exist_ok=True)
        key = f"{args.workload}-seed{args.seed}"
        if args.trace:
            ctx.tracer.count_jobs()
            layers = kernels.layer_metrics(
                ctx, wl, ops + side_ops, recs,
                tail_recs + side_recs,
            )
            untraced = os.path.join(results, f"{key}-trace0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)["end_to_end"]
                report["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e}
            ctx.tracer.write(
                os.path.join(inputs.STATE, "traces", f"{key}.json"),
                {"report": report, "per_layer": layers},
            )
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u, _, _ in PER_LAYER}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        with open(os.path.join(results, f"{key}-trace{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1)
        print(json.dumps(report, indent=1, sort_keys=True))
    except Exception:
        log("run aborted:\n" + traceback.format_exc())
        return 2
    finally:
        ctx.ref.close()
        stop_spark(spark)

    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(all_recs),
                "failed": len(failed),
                "metrics": metrics,
            }
        )
    )
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
