"""The benchmark's workloads: their set-up, their seeded ops and checks.

Each workload is a closed loop with one client: an op is sent only after
the previous one returned.  Ops are issued in rounds; every round holds
each op kind of the workload once, in a seeded order, with seeded
parameters, so every run executes the same mix (the last round stops
where the run's time is up).

An op times what the user waits for: its clock starts before the engine
call (iterative operators do their driver rounds while building the
DataFrame) and stops when the full output is forced — ``collect`` for a
search, a parquet write for a batch job, which is then read back for its
check outside the timed region.  Nothing is forced with ``count()``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hilbert_curve_spark import workload as W
from hilbert_curve_spark.config import DEFAULT
from hilbert_curve_spark.operators import brq as brq_ops
from hilbert_curve_spark.operators import dedup as dedup_ops
from hilbert_curve_spark.operators import graph as graph_ops
from hilbert_curve_spark.operators import knn as knn_ops
from hilbert_curve_spark.operators import pip as pip_ops
from hilbert_curve_spark.operators import range_query as rq
from hilbert_curve_spark.operators import spatial_join as sj_ops
from hilbert_curve_spark.operators import tiles as tiles_ops
from hilbert_curve_spark.operators import trajectory as traj_ops
from hilbert_curve_spark.operators import updates as upd_ops
from hilbert_curve_spark.operators.encode import encode_documents_native
from hilbert_curve_spark.sources.interleave import build_documents
from hilbert_curve_spark.sources.layout import write_sorted

from .checks import canonical
from .inputs import CORPUS, Draw

PARTITIONS = 8  # files per written table: two per core on a 4-CPU machine


@dataclass
class Op:
    kind: str
    params: dict
    run: Callable[[Any], Any]  # (tracer) -> output handle
    expected: Callable[[], list]  # canonical reference rows
    actual: Callable[[Any], list] = field(default=lambda out: canonical(out))
    ordered: bool = False  # compare in output order (kNN ranks)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def read_columns(path: str, cols: list[str]) -> list[list]:
    """A written output read back without Spark: one list per column."""
    table = pq.read_table(path, columns=cols)
    return [table.column(c).to_pylist() for c in cols]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet")
    )


def dir_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


class Workload:
    """Shared set-up: the bulk build of the Hilbert-sorted ``doc_geo`` table
    (build_documents -> encode_documents_native -> write_sorted)."""

    name = ""
    why = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.ref = ctx.ref
        self.work = ctx.work_dir
        self.n_docs = len(ctx.ref.doc_id)
        self.outputs = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def output_path(self, name: str) -> str:
        """A fresh directory per producing op, so its output is still
        there when the op is checked after the timed region."""
        self.outputs += 1
        return self.path(f"out/{name}-{self.outputs}")

    def build_sorted_table(self, tr) -> None:
        """The corpus materialized, then encoded straight into the sorted
        table (the stage shape ``jobs/pipeline.py`` deploys)."""
        spark = self.spark
        with tr.span("interleave.build_documents"):
            build_documents(
                spark, self.ctx.corpus_dir, amp=CORPUS["amp"], partitions=PARTITIONS
            ).write.mode("overwrite").parquet(self.path("documents"))
        with tr.span("layout.write_sorted"):
            write_sorted(
                encode_documents_native(spark.read.parquet(self.path("documents")), DEFAULT),
                self.path("doc_geo"),
                partitions=PARTITIONS,
            )

    def stored_paths(self) -> list[str]:
        return [self.path("doc_geo")]

    def stored_bytes_per_doc(self) -> float:
        return sum(dir_bytes(p) for p in self.stored_paths()) / self.n_docs

    def round(self, draw: Draw) -> Iterator[Op]:
        """Each op kind once, in a seeded order.  An op's inputs are drawn
        (and an update applied to the maintained state) only when the op is
        about to run, so a run may stop between any two ops."""
        draw.next_round()
        kinds = list(self.KINDS)
        draw.rng.shuffle(kinds)
        for k in kinds:
            yield getattr(self, "_" + k.split(".")[1])(draw)

    def ops(self, draw: Draw) -> Iterator[Op]:
        while True:
            yield from self.round(draw)

    def finish(self) -> list[Op]:
        return []


# ---------------------------------------------------------------------------
# search: interactive reads and merge-on-read updates
# ---------------------------------------------------------------------------


class Search(Workload):
    name = "search"
    why = (
        "interactive GRQ, BRQ, radius and kNN searches plus merge-on-read updates "
        "with small results: driver planning and per-query jobs dominate, shuffles are bypassed"
    )
    KINDS = [
        "range_query.grq_range_mode",
        "range_query.grq_prefix_mode",
        "brq.brq_any",
        "brq.brq_all",
        "brq.radius_search",
        "knn.knn",
        "updates.merge_on_read",
    ]
    DELETES, ADDS = 200, 100  # docs per update batch

    def setup(self, tr) -> None:
        """The ingest path the searches read: sorted table, prefix index
        (range-partitioned and sorted by its probe key, as deployed),
        keyword index, and version 1 of the delta log."""
        spark = self.spark
        self.build_sorted_table(tr)
        geo = spark.read.parquet(self.path("doc_geo"))
        with tr.span("range_query.prefix_index"):
            (
                rq.prefix_index(geo, DEFAULT)
                .repartitionByRange(PARTITIONS, "pbits", "plen")
                .sortWithinPartitions("pbits", "plen")
                .write.mode("overwrite")
                .parquet(self.path("prefix_index"))
            )
        with tr.span("brq.keyword_index"):
            brq_ops.keyword_index(geo).write.mode("overwrite").parquet(self.path("keyword_index"))
        with tr.span("updates.write_log"):
            geo.select(
                "doc_id", F.lit(1).alias("version"), F.lit("add").alias("op")
            ).write.mode("overwrite").parquet(self.path("update_log"))
        self.geo = spark.read.parquet(self.path("doc_geo"))
        self.pidx = spark.read.parquet(self.path("prefix_index"))
        self.live = set(str(d) for d in self.ref.doc_id)
        self.deleted: list[str] = []
        self.version = 1

    def stored_paths(self) -> list[str]:
        return [self.path(p) for p in ("doc_geo", "prefix_index", "keyword_index")]

    def _collect(self, tr, call):
        with tr.span("driver.call"):
            df = call()
        with tr.span("spark.action"):
            return df.collect()

    def _grq_range_mode(self, draw):
        box = draw.box()
        return Op(
            "range_query.grq_range_mode", {"box": box},
            lambda tr: self._collect(tr, lambda: rq.grq_range_mode(self.geo, *box).select("doc_id")),
            lambda: self.ref.ids(self.ref.in_box(box)),
        )

    def _grq_prefix_mode(self, draw):
        box = draw.box()
        return Op(
            "range_query.grq_prefix_mode", {"box": box},
            lambda tr: self._collect(tr, lambda: rq.grq_prefix_mode(self.pidx, *box)),
            lambda: self.ref.ids(self.ref.in_box(box)),
        )

    def _brq_any(self, draw):
        box, kws = draw.box(), draw.keywords(2, 2)
        return Op(
            "brq.brq_any", {"box": box, "keywords": kws},
            lambda tr: self._collect(
                tr, lambda: brq_ops.brq(self.geo, *box, kws, "any").select("doc_id")
            ),
            lambda: self.ref.ids(self.ref.in_box(box) & self.ref.kw_any(kws)),
        )

    def _brq_all(self, draw):
        box, kws = draw.box(0.08, 0.12), draw.keywords(2, 0)
        return Op(
            "brq.brq_all", {"box": box, "keywords": kws},
            lambda tr: self._collect(
                tr, lambda: brq_ops.brq(self.geo, *box, kws, "all").select("doc_id")
            ),
            lambda: self.ref.ids(self.ref.in_box(box) & self.ref.kw_all(kws)),
        )

    def _radius_search(self, draw):
        (qx, qy), r = draw.point(), int(draw.stratified(80, 250))
        kws = draw.keywords(3, 1)

        def expected():
            d2 = self.ref.dist2(qx, qy)
            m = (d2 <= r * r) & self.ref.kw_any(kws)
            return canonical(zip(self.ref.doc_id[m], self.ref.x[m], self.ref.y[m], d2[m]))

        return Op(
            "brq.radius_search", {"q": (qx, qy), "radius": r, "keywords": kws},
            lambda tr: self._collect(
                tr, lambda: brq_ops.radius_search(self.geo, qx, qy, r, kws, "any")
            ),
            expected,
        )

    def _knn(self, draw):
        (qx, qy), k = draw.point(), [10, 25, 50][int(draw.stratified(0, 3))]
        return Op(
            "knn.knn", {"q": (qx, qy), "k": k},
            lambda tr: self._collect(tr, lambda: knn_ops.knn(self.geo, qx, qy, k, DEFAULT)),
            lambda: self.ref.knn(qx, qy, k),
            actual=lambda out: [(str(r.doc_id), int(r.dist2)) for r in out],
            ordered=True,
        )

    def _merge_on_read(self, draw):
        """Append one versioned batch of deletes and re-adds to the delta
        log, then make it visible with a merge-on-read BRQ."""
        self.version += 1
        v = self.version
        live_sorted = sorted(self.live)
        dels = [live_sorted[i] for i in draw.rng.choice(len(live_sorted), self.DELETES, replace=False)]
        adds = [self.deleted[i] for i in draw.rng.choice(len(self.deleted), min(self.ADDS, len(self.deleted)), replace=False)] if self.deleted else []
        self.live.difference_update(dels)
        self.live.update(adds)
        self.deleted = sorted((set(self.deleted) - set(adds)) | set(dels))
        live_mask = self.ref.live_mask(self.live)
        box, kws = draw.box(0.06, 0.12), draw.keywords(3, 1)
        rows = [(d, v, "del") for d in dels] + [(d, v, "add") for d in adds]
        log = self.path("update_log")

        def run(tr):
            with tr.span("driver.call"):
                batch = self.spark.createDataFrame(rows, "doc_id string, version int, op string")
            with tr.span("spark.action"):
                batch.write.mode("append").parquet(log)
            return self._collect(
                tr,
                lambda: brq_ops.brq(
                    self.geo.join(upd_ops.merge_on_read(self.spark.read.parquet(log)), "doc_id", "left_semi"),
                    *box, kws, "any",
                ).select("doc_id"),
            )

        return Op(
            "updates.merge_on_read",
            {"version": v, "deletes": dels, "adds": adds, "box": box, "keywords": kws},
            run,
            lambda: self.ref.ids(live_mask & self.ref.in_box(box) & self.ref.kw_any(kws)),
        )

    def finish(self) -> list[Op]:
        """One compaction of the delta log, checked two ways: row for row
        against the oracle's compaction of the same log, and by folding the
        compacted log back to the live set the updates maintained."""
        log = self.path("update_log")
        upto = self.version
        stream = f"SELECT doc_id, version, op FROM read_parquet('{log}/*.parquet')"
        live = sorted((d,) for d in self.live)

        def run(tr):
            with tr.span("driver.call"):
                df = upd_ops.compact_log(self.spark.read.parquet(log), upto)
            with tr.span("spark.action"):
                _noop(df)
            return df

        return [
            Op(
                "updates.compact_log", {"upto": upto}, run,
                lambda: [self.ref.oracle(upd_ops.compact_log_sql(stream, upto), extra=live), live],
                actual=lambda df: [
                    canonical(df.select("doc_id", "version", "op").collect()),
                    canonical(upd_ops.merge_on_read(df).collect()),
                ],
                ordered=True,
            )
        ]


# ---------------------------------------------------------------------------
# join: batch spatial joins (and, in traced runs, the graph analytics)
# ---------------------------------------------------------------------------


class Join(Workload):
    name = "join"
    why = (
        "batch tile, point-in-polygon, distance and kNN joins over the whole corpus: "
        "scans, broadcast cover probes and shuffles dominate, the prefix index is bypassed"
    )
    KINDS = [
        "tiles.tile_assignment",
        "pip.pip_join",
        "spatial_join.distance_self_join",
        "spatial_join.knn_join",
    ]

    def setup(self, tr) -> None:
        self.build_sorted_table(tr)
        self.geo = self.spark.read.parquet(self.path("doc_geo"))

    def _sink_op(self, kind, params, call, oracle_sql, cols, extra=None, prepare=None):
        """A batch job: its full output is written as parquet (a fresh
        directory per op) and read back for the check."""
        out = self.output_path(kind)

        def run(tr):
            with tr.span("driver.call"):
                df = call()
            with tr.span("spark.action"):
                df.write.mode("overwrite").parquet(out)
            return out

        return Op(
            kind, params, run,
            lambda: self.ref.oracle(oracle_sql(), extra=extra, prepare=prepare),
            actual=lambda path: canonical(zip(*read_columns(path, cols))),
        )

    def _tile_assignment(self, draw):
        tiles = []
        for i in range(16):
            x, y = draw.point()
            w, h = draw.integer(8, 48), draw.integer(8, 48)
            tiles.append(dict(tile_id=f"t{i:03d}", x_start=min(x, 4095 - w), y_start=min(y, 4095 - h), width=w, height=h))

        def oracle():
            vals = ", ".join(
                f"('{t['tile_id']}', {t['x_start']}, {t['y_start']}, {t['width']}, {t['height']})" for t in tiles
            )
            return (
                f"WITH tiles(tile_id, x0, y0, w, h) AS (VALUES {vals}) "
                "SELECT DISTINCT t.tile_id, d.doc_key AS doc_id FROM doc_geo d JOIN tiles t "
                "ON d.x BETWEEN t.x0 AND t.x0 + t.w - 1 AND d.y BETWEEN t.y0 AND t.y0 + t.h - 1"
            )

        return self._sink_op(
            "tiles.tile_assignment", {"tiles": tiles},
            lambda: tiles_ops.tile_assignment(self.geo, tiles, DEFAULT),
            oracle, ["tile_id", "doc_id"],
        )

    def _pip_join(self, draw):
        polys = [
            dict(poly_id=f"p{i:02d}", vertices=draw.convex_polygon(draw.integer(40, 90), draw.integer(4, 8)))
            for i in range(8)
        ]
        return self._sink_op(
            "pip.pip_join", {"polygons": polys},
            lambda: pip_ops.pip_join(self.geo, polys, DEFAULT),
            lambda: (
                f"WITH {pip_ops.pip_oracle_sql(polys)} "
                "SELECT poly_id, doc_key AS doc_id, x, y FROM pip WHERE crossings % 2 = 1"
            ),
            ["poly_id", "doc_id", "x", "y"],
        )

    def _distance_self_join(self, draw):
        r = W.DIST_RADIUS  # the corpus is the only input of a self-join
        return self._sink_op(
            "spatial_join.distance_self_join", {"radius": r},
            lambda: sj_ops.distance_self_join(self.geo, r, DEFAULT),
            lambda: f"WITH {sj_ops.distance_self_join_oracle(r)}",
            ["doc_a", "doc_b", "dist2"],
        )

    def _knn_join(self, draw):
        qs = [(f"q{i:02d}", *draw.point()) for i in range(4)]
        k = W.KNN_JOIN_K
        return self._sink_op(
            "spatial_join.knn_join", {"queries": qs, "k": k},
            lambda: sj_ops.knn_join(self.geo, qs, k, DEFAULT),
            lambda: f"WITH {sj_ops.knn_join_oracle(qs, k)}",
            ["qid", "doc_id", "dist2", "rank"],
        )

    # -- graph / trajectory / dedup analytics (traced runs only) -----------

    def analytics_setup(self, tr) -> None:
        """The flat documents and events tables re-laid as several files,
        so scans over them split across cores."""
        with tr.span("sources.relay_flat_tables"):
            for name in ("documents", "events"):
                self.spark.read.parquet(f"{self.ctx.corpus_dir}/{name}.parquet").repartition(
                    PARTITIONS
                ).write.mode("overwrite").parquet(self.path(f"flat_{name}"))
        self.docs = self.spark.read.parquet(self.path("flat_documents"))
        self.events = self.spark.read.parquet(self.path("flat_events"))

    def analytics_round(self, draw: Draw) -> list[Op]:
        """DBSCAN, kNN graph -> PageRank, covisit pairs and Jaccard pairs ->
        dedup clusters.  Producers write parquet that their consumer reads;
        the graph operators run on a seeded region so the quadratic DuckDB
        oracles stay cheap."""
        return (
            [self._dbscan(draw)]
            + self._knn_graph_pagerank(draw)
            + [self._covisit_pairs(draw)]
            + self._jaccard_dedup(draw)
        )

    def _region(self, draw, side: int):
        cx, cy = draw.point()
        x0 = min(max(0, cx - side // 2), 4095 - side)
        y0 = min(max(0, cy - side // 2), 4095 - side)
        return (x0, x0 + side, y0, y0 + side)

    def _region_geo(self, box):
        x_lo, x_hi, y_lo, y_hi = box
        return self.geo.filter(F.col("x").between(x_lo, x_hi) & F.col("y").between(y_lo, y_hi))

    def _region_op(self, kind, params, box, call, oracle_sql, cols):
        """An op over a region of the corpus, checked against an oracle
        over the same region (``doc_geo_r``)."""
        return self._sink_op(
            kind, {"region": box, **params}, call, oracle_sql, cols, extra=box,
            prepare=lambda: self.ref.region_table("doc_geo_r", box),
        )

    def _dbscan(self, draw):
        # eps / min_pts inside the band where the corpus's gaussian hot
        # spots form tens to hundreds of small clusters instead of
        # percolating into one or leaving no core point
        box = self._region(draw, 1024)
        eps, min_pts = draw.integer(8, 10), draw.integer(3, 4)
        return self._region_op(
            "graph.dbscan", {"eps": eps, "min_pts": min_pts}, box,
            lambda: graph_ops.dbscan(self._region_geo(box), eps, min_pts),
            lambda: f"WITH RECURSIVE {graph_ops.dbscan_oracle(eps, min_pts, 1, 'doc_geo_r')}",
            ["doc_id", "cluster", "is_core"],
        )

    def _knn_graph_pagerank(self, draw):
        box = self._region(draw, 512)
        k, r, iters = draw.integer(3, 6), draw.integer(8, 16), draw.integer(2, 4)
        graph = self._region_op(
            "spatial_join.knn_graph", {"k": k, "radius": r}, box,
            lambda: sj_ops.knn_graph(self._region_geo(box), k, r, DEFAULT),
            lambda: f"WITH {sj_ops.knn_graph_oracle(k, r, 'doc_geo_r')}",
            ["doc_id", "rank", "nbr_id", "dist2"],
        )
        edges = self.path(f"out/spatial_join.knn_graph-{self.outputs}")
        pagerank = self._region_op(
            "graph.pagerank", {"k": k, "radius": r, "iters": iters}, box,
            lambda: graph_ops.pagerank(
                self.spark.read.parquet(edges).select(
                    F.col("doc_id").alias("src"), F.col("nbr_id").alias("dst")
                ),
                iters,
            ),
            lambda: f"WITH {graph_ops.pagerank_oracle(k, r, iters, doc_geo_table='doc_geo_r')}",
            ["doc_id", "rank_e6"],
        )
        return [graph, pagerank]

    def _covisit_pairs(self, draw):
        shift, min_shared = draw.integer(6, 7), draw.integer(2, 3)
        return self._sink_op(
            "trajectory.covisit_pairs", {"cell_shift": shift, "min_shared": min_shared},
            lambda: traj_ops.covisit_pairs(self.events, cell_shift=shift, min_shared=min_shared),
            lambda: traj_ops.covisit_pairs_oracle(shift, min_shared),
            ["user_a", "user_b", "shared_cells", "cells_a", "cells_b", "jac_pct"],
        )

    def _jaccard_dedup(self, draw):
        t = draw.integer(40, 80)
        pairs_op = self._sink_op(
            "dedup.jaccard_pairs", {"threshold_pct": t},
            lambda: dedup_ops.jaccard_pairs(self.docs, threshold_pct=t),
            lambda: dedup_ops.jaccard_pairs_oracle(threshold_pct=t),
            ["doc_a", "doc_b", "jac_pct"],
        )
        pairs = self.path(f"out/dedup.jaccard_pairs-{self.outputs}")

        # the pair oracle materialized once: the recursive closure would
        # otherwise re-evaluate it on every step
        clusters = self._sink_op(
            "graph.dedup_clusters", {"threshold_pct": t},
            lambda: graph_ops.dedup_clusters(self.spark.read.parquet(pairs)),
            lambda: graph_ops.dedup_clusters_oracle("SELECT doc_a, doc_b FROM jac_pairs"),
            ["doc_id", "rep_id"], extra=t,
            prepare=lambda: self.ref.con.execute(
                f"CREATE OR REPLACE TABLE jac_pairs AS {dedup_ops.jaccard_pairs_oracle(threshold_pct=t)}"
            ),
        )
        return [pairs_op, clusters]


WORKLOADS = {w.name: w for w in (Search, Join)}
