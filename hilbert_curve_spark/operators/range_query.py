"""GRQ — geometric range query (reference S8,
`Scheme/RSKQ/RSKQ_Biginteger.GRQSearch:875-995`; plaintext ground truth
`hilbert/HilbertApp/HilbertRangeSearchApp.java:86-106`).

Two physical strategies, both returning the exact same result set:

* **range mode** — compile the rectangle to a budgeted Hilbert range cover
  (driver-side, perimeter algorithm + min-gap coalescing) and emit an
  OR-of-BETWEEN predicate on the ``hilbert`` column plus the exact box
  residual.  On a Hilbert-sorted table this is pure partition/row-group
  pruning: Catalyst pushes the BETWEENs to the parquet scan, so at 100 TB
  only row groups whose hilbert min/max intersect the cover are read.
  No shuffle, no join.

* **prefix mode** — compile the rectangle to its BPC prefix set and probe a
  prebuilt prefix-posting index (reference PDB semantics) with a broadcast
  hash join.  The prefix list for a query rectangle is tiny (<= a few
  hundred strings), so the build side always broadcasts; the probe side is
  the index bucketed by prefix.

Budgeted covers over-approximate (SmallHilbertCurve.java:156-162), so the
residual ``x/y BETWEEN`` filter is always re-applied — result sets therefore
match the reference exactly for any budget.

Literal predicates are built as ONE SQL string (``F.expr``), not folded from
Column calls.  PySpark 4.1 wraps every Column call (``between``, ``|``,
``lit``, each ``isin`` element) in ``_with_origin``, which walks the Python
stack and makes ``getActiveSession`` / ``conf.get`` py4j round trips.  On a
4-CPU VM a cover folded per range cost about 4 ms per range: 140-150 ms of
driver wall time for 32 ranges, against 0.3-0.6 ms for the same cover as
one string, and in the batched joins the fold was about half of all driver
time.  Catalyst receives the same filter either way (the SQL
parser builds a balanced OR tree where ``reduce(or_)`` built a left-deep
one) and pushes the same parquet filter, so do not "tidy" these strings
back into Column folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..curve.bpc import bpc_cover_of_ranges
from ..curve.cover import Cover, cover_box


def compile_box(
    x_lo: int, x_hi: int, y_lo: int, y_hi: int, config: EngineConfig = DEFAULT
) -> Cover:
    return cover_box(x_lo, x_hi, y_lo, y_hi, config.order, config.max_ranges)


def intervals_predicate(col: str, ranges) -> F.Column:
    """``col BETWEEN lo AND hi OR ...`` over literal closed intervals, built
    with one py4j call (see the module docstring).  An empty list selects
    nothing.  Bounds go through ``int`` so numpy integers render as plain
    SQL literals."""
    terms = [f"{col} BETWEEN {int(lo)} AND {int(hi)}" for lo, hi in ranges]
    return F.expr(" OR ".join(terms)) if terms else F.lit(False)


def range_predicate(cover: "Cover | list[tuple[int, int]]") -> F.Column:
    """OR-of-BETWEEN on hilbert — a literal predicate Catalyst pushes to the
    scan (min/max row-group pruning on Hilbert-sorted data)."""
    ranges = cover.ranges if isinstance(cover, Cover) else cover
    return intervals_predicate("hilbert", ranges)


def cover_cells_probe(
    doc_geo: "DataFrame",
    per_shape: list[tuple[tuple, list[tuple[int, int]]]],
    payload_schema: str,
    cell_budget: int = 1024,
) -> "DataFrame":
    """Shared plumbing for the cover-driven broadcast HASH joins (tile
    assignment, PIP — previously two hand-copies that had to evolve in
    lockstep): expand each shape's cover to aligned ``hilbert>>s`` cells,
    broadcast them, and probe with an equi-key join plus the BETWEEN
    residual, after a literal union-of-covers prefilter that pushes to the
    scan.  ``per_shape`` pairs each shape's payload tuple (described by
    ``payload_schema``, e.g. ``"tile_id string, bx_lo long, ..."``) with
    its cover ranges; the result carries the payload columns on every
    candidate row and callers conjoin their exact residuals (box window,
    ray-cast) as post-join filters — Catalyst pushes them into the join.

    Why a hash join: a column-vs-column BETWEEN alone is a
    BroadcastNestedLoopJoin — O(rows x ranges); the aligned-cell key makes
    it O(1) per probe row regardless of range count (round-1 measured the
    difference as 61.9 s -> ~1 s on pip_join)."""
    from ..curve.cover import (
        cell_shift_for_budget,
        coalesce_ranges,
        expand_ranges_to_cells,
        merge_overlapping,
    )

    spark = doc_geo.sparkSession
    all_ranges = [r for _, ranges in per_shape for r in ranges]
    shift = cell_shift_for_budget(all_ranges, cell_budget)
    rows = [
        payload + (cell, lo, hi)
        for payload, ranges in per_shape
        for cell, lo, hi in expand_ranges_to_cells(ranges, shift)
    ]
    ranges_df = spark.createDataFrame(
        rows, f"{payload_schema}, ck long, lo long, hi long"
    )
    union_cover = coalesce_ranges(merge_overlapping(all_ranges), 64)
    return (
        doc_geo.filter(range_predicate(union_cover))
        .withColumn("_ck", F.shiftright(F.col("hilbert"), shift))
        .join(
            F.broadcast(ranges_df),
            (F.col("_ck") == F.col("ck"))
            & F.col("hilbert").between(F.col("lo"), F.col("hi")),
        )
    )


def _box_sql(x_lo: int, x_hi: int, y_lo: int, y_hi: int) -> str:
    return (
        f"x BETWEEN {int(x_lo)} AND {int(x_hi)} "
        f"AND y BETWEEN {int(y_lo)} AND {int(y_hi)}"
    )


def box_residual(cover: Cover) -> F.Column:
    return F.expr(_box_sql(cover.x_lo, cover.x_hi, cover.y_lo, cover.y_hi))


def grq_range_mode(
    doc_geo: DataFrame,
    x_lo: int, x_hi: int, y_lo: int, y_hi: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """Docs inside the rectangle via Hilbert cover + exact residual."""
    cover = compile_box(x_lo, x_hi, y_lo, y_hi, config)
    out = doc_geo.filter(range_predicate(cover))
    if not cover.exact:
        out = out.filter(box_residual(cover))
    return out


# ---------------------------------------------------------------------------
# prefix mode (reference PDB: prefix -> posting list)
# ---------------------------------------------------------------------------

def prefix_index(doc_geo: DataFrame, config: EngineConfig = DEFAULT) -> DataFrame:
    """Spatial inverted index build (reference E10,
    `DataSetAccess.preProcessIndex:254-324`): each doc explodes to its
    ``2*order + 1`` wildcard prefixes (RSKQ ``preCode``,
    RSKQ_Biginteger.java:139-163) -> ``(pbits, plen, doc_id)`` postings.

    The wildcard string ``"0111**"`` is stored numerically as
    ``(pbits = hilbert >> stars, plen = bits - stars)`` — two int64 shifts
    per level instead of per-row string building (the strings are
    representation only; the reference's map keys are PRF hashes of them
    anyway).  ~16x cheaper to build and join than the string form.
    Fully native SQL; at scale this table is written bucketed by
    ``(pbits, plen)`` so prefix probes are shuffle-free.
    """
    bits = config.bits
    pieces = (
        f"transform(sequence(0, {bits}), "
        f"s -> named_struct('pbits', shiftright(hilbert, s), 'plen', {bits} - s))"
    )
    return doc_geo.select(F.explode(F.expr(pieces)).alias("e"), "doc_id").select(
        F.col("e.pbits").alias("pbits"), F.col("e.plen").alias("plen"), "doc_id"
    )


def prefix_to_key(prefix: str) -> tuple[int, int]:
    """Wildcard string -> numeric index key (pbits, plen)."""
    stem = prefix.rstrip("*")
    return (int(stem, 2) if stem else 0, len(stem))


def grq_prefix_mode(
    index: DataFrame,
    x_lo: int, x_hi: int, y_lo: int, y_hi: int,
    config: EngineConfig = DEFAULT,
) -> DataFrame:
    """doc_ids in the rectangle via BPC prefix probes.

    The BPC cover of an *exact* range cover expands exactly the box's cells
    (tested in tests/test_bpc.py), and its prefixes are pairwise disjoint —
    each doc matches at most one, so the probe join needs neither residual
    filter nor distinct: it is a single broadcast hash join.
    """
    cover = cover_box(x_lo, x_hi, y_lo, y_hi, config.order, max_ranges=0)
    prefixes = bpc_cover_of_ranges(cover.ranges, config.bits)
    spark = index.sparkSession
    keys = [prefix_to_key(p) for p in prefixes]
    plist = spark.createDataFrame(keys, "pbits long, plen int")
    # literal IN prefilter ahead of the join: join keys cannot prune a
    # scan, but this literal list can — on an index stored sorted by
    # (pbits, plen) it becomes parquet row-group pruning, so the probe
    # reads a sliver of the posting table instead of all of it.  One IN
    # string, not Column.isin, which makes a py4j call per element
    pbits = ", ".join(str(k[0]) for k in keys)
    probe = index.filter(F.expr(f"pbits IN ({pbits})"))
    return probe.join(F.broadcast(plist), ["pbits", "plen"]).select("doc_id")


def merge_ranges(ranges: list) -> list:
    """Union of Hilbert index intervals: sort + merge overlapping/adjacent.
    Driver-side, O(total ranges log total ranges)."""
    out = []
    for lo, hi in sorted(ranges):
        if out and lo <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def grq_batch(
    doc_geo: DataFrame, boxes: list, config: EngineConfig = DEFAULT
) -> DataFrame:
    """BATCHED geometric range query — N rectangles answered in ONE corpus
    pass: ``(box_id, doc_id, x, y)``, one row per (box, matching doc).
    The reference answers each rectangle with its own index walk
    (`Scheme/RSKQ/RSKQ_Biginteger.java:875-995, reference`); a 100 TB
    engine amortizes the scan across a query batch instead — the
    multi-query optimization every tile server and dashboard needs.

    Physical plan: compile every box's Hilbert cover, take the interval
    UNION of all covers (driver-side merge), and push ONE merged range
    predicate into the scan — on the Hilbert-sorted stored layout this is
    the same row-group pruning a single query gets, now shared.  Each
    surviving row is then tagged with every box containing it by a
    codegen ``filter(array(CASE...))`` explode over the EXACT box
    predicates (4 comparisons per box — the cover is for pruning, the
    residual test is per-box, so over-approximate covers stay correct).
    No join, no shuffle; output fan-out equals true matches."""
    covers = [compile_box(*b, config) for b in boxes]
    merged = merge_ranges([r for c in covers for r in c.ranges])
    tags = ", ".join(
        f"CASE WHEN {_box_sql(*box)} THEN {i} END" for i, box in enumerate(boxes)
    ) or "CAST(NULL AS INT)"
    return (
        doc_geo.filter(range_predicate(merged))
        .select(
            F.expr(f"explode(filter(array({tags}), c -> c IS NOT NULL))").alias("box_id"),
            "doc_id",
            "x",
            "y",
        )
    )


def grq_batch_oracle(boxes: list) -> str:
    """Appends nothing — a full SELECT over a pre-defined ``doc_geo``:
    the straightforward one-query-per-box UNION ALL."""
    arms = []
    for i, (xl, xh, yl, yh) in enumerate(boxes):
        arms.append(
            f"SELECT CAST({i} AS INTEGER) AS box_id, doc_key AS doc_id, x, y "
            f"FROM doc_geo WHERE x BETWEEN {xl} AND {xh} "
            f"AND y BETWEEN {yl} AND {yh}"
        )
    return " UNION ALL ".join(arms)
