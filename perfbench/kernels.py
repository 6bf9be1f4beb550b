"""Per-layer metrics of a traced run.

Op-level numbers come from the spans and job counts the tracer recorded;
kernel numbers come from timing the driver-side kernels on this run's own
inputs: ``cover_box`` and ``bpc_cover_of_ranges`` on its boxes,
``cover_polygon`` on its polygons, and the three Hilbert encoders on the
corpus points.
"""

from __future__ import annotations

import os
import time

import numpy as np

from hilbert_curve_spark.config import DEFAULT
from hilbert_curve_spark.curve import hilbert, hilbert_native, hilbert_wide
from hilbert_curve_spark.curve.bpc import bpc_cover_of_ranges
from hilbert_curve_spark.curve.cover import cover_box, cover_polygon
from hilbert_curve_spark.operators.encode import encode_documents_native

from .trace import median, tail
from .workloads import dir_bytes, dir_rows

NATIVE_POINTS = 1 << 18  # rows the JVM encoder is timed on


def _timed_median(fn, reps: int = 5) -> float:
    """Median wall time of ``reps`` calls (kernels are too fast for one)."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def _boxes(ops) -> list:
    out = []
    for rec in ops:
        p = rec.params
        if "box" in p:
            out.append(tuple(p["box"]))
        for t in p.get("tiles", []):
            out.append((t["x_start"], t["x_start"] + t["width"] - 1,
                        t["y_start"], t["y_start"] + t["height"] - 1))
    return out


def kernel_metrics(ctx, wl, ops) -> dict:
    m = {}
    boxes = _boxes(ops)
    if boxes:
        covers = []
        t = _timed_median(lambda: covers.extend(
            cover_box(*b, DEFAULT.order, DEFAULT.max_ranges) for b in boxes), 3)
        m["cover.cover_box_ms"] = 1000 * t / len(boxes)
        m["cover.ranges_per_box"] = float(np.mean([len(c.ranges) for c in covers[: len(boxes)]]))
        exact = [cover_box(*b, DEFAULT.order, 0).ranges for b in boxes]
        prefixes = []
        t = _timed_median(lambda: prefixes.extend(bpc_cover_of_ranges(r, DEFAULT.bits) for r in exact), 3)
        m["bpc.bpc_cover_ms"] = 1000 * t / len(boxes)
        m["bpc.prefixes_per_box"] = float(np.mean([len(p) for p in prefixes[: len(boxes)]]))
    polys = [p["vertices"] for op in ops for p in op.params.get("polygons", [])]
    if polys:
        t = _timed_median(lambda: [cover_polygon(v, DEFAULT.order, DEFAULT.max_ranges) for v in polys], 3)
        m["cover.cover_polygon_ms"] = 1000 * t / len(polys)

    x, y = ctx.ref.x, ctx.ref.y
    t = _timed_median(lambda: hilbert.encode2d(x, y, DEFAULT.order))
    m["hilbert.encode2d_ns_per_point"] = 1e9 * t / len(x)
    few = list(zip(x[:5000].tolist(), y[:5000].tolist()))
    t = _timed_median(lambda: [hilbert_wide.encode_point_wide(p, DEFAULT.order) for p in few], 3)
    m["hilbert_wide.ns_per_point"] = 1e9 * t / len(few)

    # JVM encoder: the corpus points tiled to NATIVE_POINTS rows and cached;
    # the encode's cost is the noop write with it minus the write without
    spark = ctx.spark
    pts = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(x, y)], "x long, y long"
    )
    reps = NATIVE_POINTS // len(x) + 1
    tiled = pts.crossJoin(spark.range(reps).withColumnRenamed("id", "rep")).drop("rep").cache()
    n = len(x) * reps

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    noop(tiled)  # fills the cache

    # the set-up fuses encode into the sorted write; time it on its own here
    corpus = spark.read.parquet(wl.path("documents"))
    noop(corpus.select("doc_id"))
    m["encode.encode_documents_native_s"] = _timed_median(
        lambda: noop(encode_documents_native(corpus, DEFAULT)), 3
    )

    noop(hilbert_native.with_hilbert_native(tiled, DEFAULT.order))  # compile once
    base = _timed_median(lambda: noop(tiled.selectExpr("x + y AS h")), 3)
    enc = _timed_median(lambda: noop(hilbert_native.with_hilbert_native(tiled, DEFAULT.order).select("hilbert")), 3)
    m["hilbert_native.ns_per_point"] = max(1e9 * (enc - base) / n, 0.0)
    tiled.unpersist()
    return m


def layer_metrics(ctx, wl, ops, recs, side_recs) -> dict:
    """``recs`` are the measured ops of the workload; ``side_recs`` ops
    measured outside its loop (compaction, the traced side family), which
    get their own per-kind metrics but stay out of the per-op averages."""
    tr = ctx.tracer
    m: dict[str, float] = {}
    for name in ("interleave.build_documents", "layout.write_sorted",
                 "range_query.prefix_index", "brq.keyword_index"):
        d = tr.durations(name)
        if d:
            m[f"setup.{name}_s"] = median(d)
    n = wl.n_docs
    m["layout.bytes_per_doc"] = dir_bytes(wl.path("doc_geo")) / n
    if os.path.isdir(wl.path("prefix_index")):
        m["range_query.postings_per_doc"] = dir_rows(wl.path("prefix_index")) / n
        m["range_query.index_bytes_per_doc"] = dir_bytes(wl.path("prefix_index")) / n
    if os.path.isdir(wl.path("update_log")):
        m["updates.log_rows"] = float(dir_rows(wl.path("update_log")))

    by_kind: dict[str, list] = {}
    for r in recs + side_recs:
        by_kind.setdefault(r["kind"], []).append(r)
    ms_kinds = {
        "range_query.grq_range_mode": "range_query.grq_range_mode_ms",
        "range_query.grq_prefix_mode": "range_query.grq_prefix_mode_ms",
        "brq.brq_any": "brq.brq_any_ms",
        "brq.brq_all": "brq.brq_all_ms",
        "brq.radius_search": "brq.radius_search_ms",
        "knn.knn": "knn.knn_ms",
        "updates.merge_on_read": "updates.merge_on_read_ms",
    }
    for kind, rs in by_kind.items():
        lat = [r["latency_s"] for r in rs]
        if kind in ms_kinds:
            m[ms_kinds[kind]] = 1000 * median(lat)
        else:
            m[f"{kind}_s"] = median(lat)
    if "knn.knn" in by_kind:
        m["knn.knn_tail_ms"] = 1000 * tail([r["latency_s"] for r in by_kind["knn.knn"]])[0]
    for kind, metric in (
        ("tiles.tile_assignment", "tiles.tile_assignment_rows_out"),
        ("pip.pip_join", "pip.pip_join_rows_out"),
        ("spatial_join.distance_self_join", "spatial_join.distance_self_join_rows_out"),
        ("spatial_join.knn_join", "spatial_join.knn_join_rows_out"),
        ("trajectory.covisit_pairs", "trajectory.covisit_rows_out"),
    ):
        rows = [r["rows_out"] for r in by_kind.get(kind, []) if "rows_out" in r]
        if rows:
            m[metric] = median(rows)

    measured = {r["op"] for r in recs}
    counted = [o for o in tr.ops if o["op"] in measured]
    for key in ("jobs", "stages", "tasks"):
        m[f"spark.{key}_per_op"] = float(np.mean([o[key] for o in counted]))
    side = {r["op"] for r in side_recs}
    for kind, metric in (("knn.knn", "knn.jobs_per_op"), ("graph.dbscan", "graph.dbscan_jobs")):
        jobs = [o["jobs"] for o in tr.ops if o["kind"] == kind and (o["op"] in measured or o["op"] in side)]
        if jobs:
            m[metric] = float(np.mean(jobs))
    m["spark.storage_mb_after_op"] = tr.ops[-1]["storage_mb"]

    per_op: dict[str, dict[str, float]] = {}
    for s in tr.spans:
        if s["op"] in measured and s["name"] in ("driver.call", "spark.action"):
            d = per_op.setdefault(s["op"], {"driver.call": 0.0, "spark.action": 0.0})
            d[s["name"]] += s["end"] - s["start"]
    m["driver.call_ms"] = 1000 * median([d["driver.call"] for d in per_op.values()])
    m["spark.action_ms"] = 1000 * median([d["spark.action"] for d in per_op.values()])

    grq = [op for op in ops if op.kind == "range_query.grq_range_mode"]
    if grq:
        h = hilbert.encode2d(ctx.ref.x, ctx.ref.y, DEFAULT.order)
        hit = cand = 0
        for op in grq:
            cov = cover_box(*op.params["box"], DEFAULT.order, DEFAULT.max_ranges)
            in_cover = np.zeros(len(h), dtype=bool)
            for lo, hi in cov.ranges:
                in_cover |= (h >= lo) & (h <= hi)
            cand += int(in_cover.sum())
            hit += int(ctx.ref.in_box(op.params["box"]).sum())
        m["range_query.cover_precision"] = hit / cand if cand else 1.0

    m.update(kernel_metrics(ctx, wl, ops))
    return m
