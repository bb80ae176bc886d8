"""Distributed geometry × geometry spatial join.

The reference relies on Spark's BroadcastNestedLoopJoin for an
``st_intersects`` theta-join (`core/.../extensions/RasterJoin.scala:57-62`
builds the predicate; Catalyst has no equi-key to hash on). That is
O(n·m) work split only by broadcast — unusable when both sides are big.

``st_join`` turns the theta-join into a SHUFFLED HASH EQUI-JOIN:

1. one pandas-UDF pass per side computes envelopes;
2. each row explodes to the fixed-grid cells its bbox covers
   (pure Catalyst ``sequence`` × ``explode``);
3. equi-join on (cell_x, cell_y) — AQE-skew-splittable, no cartesian;
4. the classic REFERENCE-POINT trick deduplicates pairs with no
   ``distinct`` shuffle: a candidate survives only in the single cell
   that contains the top-left corner of the two bboxes' intersection;
5. the exact predicate (DE-9IM engine) filters candidates.

At 100 TB both sides stay partitioned; the only wide exchange is the
bucket join, and grid_size tunes cells-per-row (bigger cells = fewer
duplicates joined, more candidates filtered exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rasterframes_spark.geom import functions as GF
from rasterframes_spark.pipeline.skew import salted_join, stamp_content_id

__all__ = ["st_join", "st_knn_join"]

_PREDICATES = {
    "intersects": GF.st_intersects,
    "contains": GF.st_contains,
    "within": GF.st_within,
    "dwithin": None,  # distance join — handled specially (expanded bboxes)
}


def _sample_envelopes(df: DataFrame, geom_col: str,
                      per_partition: int = 64, cap: int = 4096):
    """Bounded cross-partition envelope sample: the head of each
    partition's first Arrow batch (reads ~one row-group per partition,
    never a full scan), capped at ``cap`` rows driver-side.  More
    representative than ``limit(n)`` (which drains whole partitions in
    order) at the same cost class."""
    env = (df.select(GF.st_envelope(geom_col).alias("e"))
           .where(F.col("e.xmin").isNotNull())
           .select(F.col("e.xmin").alias("x"), F.col("e.ymin").alias("y"),
                   (F.col("e.xmax") - F.col("e.xmin")).alias("w"),
                   (F.col("e.ymax") - F.col("e.ymin")).alias("h")))

    def head(batches):
        for b in batches:
            yield b.head(per_partition)
            break

    return env.mapInPandas(
        head, schema="x double, y double, w double, h double"
    ).limit(cap).collect()


def _estimate_grid(right: DataFrame, geom_right: str,
                   left: DataFrame, geom_left: str) -> float:
    """Grid size ≈ 2× the median bbox side of a bounded sample of the
    right side (one tiny job; pass grid_size explicitly to skip — and DO
    pass it in production: a sampled estimate is reproducible only for a
    fixed input layout).

    Degenerate guards (point / zero-extent geometries have bbox side 0,
    which would otherwise explode every left row into ~(extent/1e-9)^2
    cover cells): a ~zero right median falls back to the LEFT side's
    median; if both are degenerate, to 1/256 of the sampled extent's
    larger span; if even that is zero (all-coincident points), to 1.0.
    """
    EPS = 1e-12
    rows = _sample_envelopes(right, geom_right)
    lrows = None

    def span_floor():
        # lower bound the grid at 1/4096 of the sampled extent's larger
        # span: an absolute epsilon alone lets an FP-noise-sized median
        # (e.g. 1e-10 from reprojection jitter) through, and a ~1-unit
        # left bbox over a 2e-10 grid explodes to ~(extent/grid)^2 cover
        # cells — the sequence() blow-up the guard exists to prevent.
        allr = rows + (lrows or [])
        if not allr:
            return 0.0
        xs = [r["x"] for r in allr]
        ys = [r["y"] for r in allr]
        return max(max(xs) - min(xs), max(ys) - min(ys)) / 4096.0

    sides = sorted(max(r["w"], r["h"]) for r in rows)
    med = sides[len(sides) // 2] if sides else 0.0
    if med > EPS:
        return max(2.0 * med, span_floor())
    lrows = _sample_envelopes(left, geom_left)
    lsides = sorted(max(r["w"], r["h"]) for r in lrows)
    lmed = lsides[len(lsides) // 2] if lsides else 0.0
    if lmed > EPS:
        return max(2.0 * lmed, span_floor())
    floor = span_floor()
    if floor > EPS:
        return floor * 16.0  # = span/256: all-degenerate inputs, coarse grid
    return 1.0


def _cells(df: DataFrame, geom_col: str, g: float, side: str,
           pad: float = 0.0) -> DataFrame:
    # .once: the isNotNull filter below would be pushed under this projection
    e = GF._envelope_udf.once(F.col(geom_col))
    if pad:
        e = F.struct((e["xmin"] - pad).alias("xmin"),
                     (e["ymin"] - pad).alias("ymin"),
                     (e["xmax"] + pad).alias("xmax"),
                     (e["ymax"] + pad).alias("ymax"))
    out = df.withColumn(f"__env_{side}", e)
    env = F.col(f"__env_{side}")
    cx = F.explode(F.sequence(
        F.floor(env["xmin"] / g).cast("long"),
        F.floor(env["xmax"] / g).cast("long"))).alias("__cx")
    out = out.where(env["xmin"].isNotNull()).select("*", cx)
    cy = F.explode(F.sequence(
        F.floor(env["ymin"] / g).cast("long"),
        F.floor(env["ymax"] / g).cast("long"))).alias("__cy")
    return out.select("*", cy)


def st_join(left: DataFrame, right: DataFrame,
            geom_left: str = "geometry", geom_right: str = "geometry",
            predicate: str = "intersects", grid_size: float | None = None,
            how: str = "inner", rsuffix: str = "_right",
            distance: float | None = None, salt: int = 0,
            hot_cell_threshold: int = 100_000, *,
            _distance_col: str | None = None) -> DataFrame:
    """Spatial join: rows of ``left`` paired with rows of ``right`` whose
    geometries satisfy ``predicate`` (intersects | contains | within |
    dwithin, evaluated as predicate(left_geom, right_geom)).

    ``predicate='dwithin'`` (requires ``distance``) pairs geometries
    whose exact distance is <= ``distance`` — the left bboxes expand by
    the distance before cover-cell bucketing, so the plan stays the same
    shuffled equi-join; only the exact kernel changes to ``st_distance``.

    ``how``: 'inner' or 'left' (unmatched left rows keep nulls on the
    right side). Right columns clashing with left names get ``rsuffix``.

    ``salt`` > 1 enables HOT-CELL SALTING (``pipeline/skew.py:salted_join``,
    shared with the dedup LSH joins): grid cells holding more than
    ``hot_cell_threshold`` left rows (the urban-cluster skew pattern —
    one dense cell funnels into one straggler task) are split ``salt``
    ways — left rows get a content-hash salt, right rows in hot cells
    explode to every salt tag, and the equi-join keys on
    (cell, salt).  Pair output is identical to the unsalted join (each
    pair meets on exactly one key); cold cells pay nothing (tag 0).
    AQE's skew-split also mitigates this class at runtime, but only
    below one-partition granularity — salting bounds the per-task input
    by construction.
    """
    if predicate not in _PREDICATES:
        raise ValueError(f"st_join: unknown predicate {predicate!r} "
                         f"(use one of {sorted(_PREDICATES)})")
    if how not in ("inner", "left"):
        raise ValueError("st_join: how must be 'inner' or 'left'")
    if _distance_col and (predicate != "dwithin" or how != "inner"):
        raise ValueError("st_join: _distance_col is internal to the "
                         "inner dwithin path (st_knn_join)")
    d = 0.0
    if predicate == "dwithin":
        if distance is None or float(distance) < 0:
            raise ValueError("st_join: predicate='dwithin' needs distance >= 0")
        d = float(distance)
    # (r14: measured spreading a narrow left side here — st_join solo
    # read NOISE-to-slightly-better, but st_knn_join regressed ~4x
    # through the extra exchange interacting with its copies-join +
    # rank-window pipeline.  Reverted; the vectorized point kernels
    # (geom/functions.py r14) already removed most of the serial
    # map-side cost on narrow inputs.)
    g = (float(grid_size) if grid_size
         else _estimate_grid(right, geom_right, left, geom_left))
    g = max(g, d / 4) if d else g

    # left outer needs matched/unmatched bookkeeping: stamp a
    # deterministic content id ONCE, so the anti-join keys on 16 bytes
    # instead of the full payload (and is null-safe — an all-columns
    # anti-join uses null-unsafe equality, so a matched left row with a
    # NULL field would re-emit null-extended).
    id_cols = ("__ljid", "__ljid2")
    if how == "left":
        for c in id_cols:
            if c in left.columns or c in right.columns:
                raise ValueError(f"st_join: reserved column {c!r} in input")
        left = stamp_content_id(left, *id_cols)

    # avoid column collisions before the join
    rmap = {c: (c + rsuffix if c in left.columns else c)
            for c in right.columns}
    r = right.select([F.col(c).alias(n) for c, n in rmap.items()])
    gr = rmap[geom_right]

    lc = _cells(left, geom_left, g, "l", pad=d)
    rc = _cells(r, gr, g, "r")
    # salt by the content hash of the left row (its user columns)
    lkey = F.struct(*[F.col(c) for c in lc.columns if not c.startswith("__")])
    cand = salted_join(lc, rc, ["__cx", "__cy"], F.xxhash64(lkey),
                       salt or 0, hot_cell_threshold)

    # reference point: keep the pair only in the cell holding the
    # top-left corner of the bbox intersection -> exact dedup, no shuffle
    le, re_ = F.col("__env_l"), F.col("__env_r")
    ref_x = F.greatest(le["xmin"], re_["xmin"])
    ref_y = F.greatest(le["ymin"], re_["ymin"])
    cand = cand.where(
        (F.floor(ref_x / g).cast("long") == F.col("__cx"))
        & (F.floor(ref_y / g).cast("long") == F.col("__cy")))
    # cheap bbox prefilter before the exact kernel
    cand = cand.where(
        (le["xmin"] <= re_["xmax"]) & (re_["xmin"] <= le["xmax"])
        & (le["ymin"] <= re_["ymax"]) & (re_["ymin"] <= le["ymax"]))

    if predicate == "dwithin" and _distance_col:
        # carried-distance shape (st_knn_join): project the exact
        # distance ONCE and filter on the column, so the caller's rank
        # window / output column reuse the value instead of paying a
        # second ArrowEvalPython crossing of both geometry payloads per
        # surviving candidate.  .once: the `<= d` filter below would be
        # pushed under this projection.
        cand = cand.withColumn(
            _distance_col, GF._distance_udf.once(F.col(geom_left), F.col(gr)))
        exact = F.col(_distance_col) <= F.lit(d)
    elif predicate == "dwithin":
        exact = GF.st_distance(F.col(geom_left), F.col(gr)) <= F.lit(d)
    else:
        exact = _PREDICATES[predicate](F.col(geom_left), F.col(gr))
    matched = cand.where(exact).drop("__cx", "__cy", "__env_l", "__env_r")

    if how == "inner":
        return matched
    # left outer: append unmatched left rows with null right columns.
    # The anti-join shuffles only the 16-byte id pair from the matched
    # side (not geometry payloads), and content ids make it null-safe
    # and duplicate-correct (identical left rows share one id AND one
    # match set, so they are excluded/emitted together — the semantics a
    # left join requires).
    out_cols = [c for c in matched.columns if c not in id_cols]
    unmatched = left.join(
        matched.select(*id_cols).distinct(), on=list(id_cols),
        how="left_anti")
    for c in out_cols:
        if c not in left.columns:
            unmatched = unmatched.withColumn(
                c, F.lit(None).cast(matched.schema[c].dataType))
    return matched.select(out_cols).unionByName(unmatched.select(out_cols))


def st_knn_join(left: DataFrame, right: DataFrame, k: int,
                max_distance: float,
                geom_left: str = "geometry", geom_right: str = "geometry",
                grid_size: float | None = None,
                rsuffix: str = "_right") -> DataFrame:
    """Bounded-radius k-nearest-neighbors join: for each left row, the up
    to ``k`` nearest right rows within ``max_distance`` (exact
    ``st_distance`` ordering; equidistant candidates are tie-broken
    DETERMINISTICALLY by a 128-bit content hash of the right row, so the
    result is independent of partition layout / AQE re-planning).

    Composes the ``dwithin`` bucket join with a per-left-row rank window
    — still no cartesian. The radius bound is what keeps this scalable
    (a true unbounded KNN needs an expanding search; bound the radius to
    what the use case considers 'near'). Left rows with no neighbor in
    range are absent from the output (left-anti them to find orphans).
    Output adds a ``distance`` and ``knn_rank`` column.

    Duplicate left rows: copies are indistinguishable by content, so
    they share one rank window — the cutoff is scaled by the copy count
    (each of ``m`` identical left rows yields its own top-``k`` set:
    ``m*k`` output rows, ``knn_rank`` 1..k repeated ``m`` times)."""
    from pyspark.sql import Window

    for reserved in ("distance", "knn_rank", "__kid", "__kid2",
                     "__kcp", "__krn", "__krh1", "__krh2", "__kdist"):
        if reserved in left.columns or reserved in right.columns:
            raise ValueError(
                f"st_knn_join: input already has a {reserved!r} column — "
                "rename it (the join appends distance/knn_rank)")
    # Rank-window partitions on a 16-byte deterministic content id, not
    # on every left column — partitioning by the full row would hash the
    # geometry WKB payload per candidate row.  Identical left rows share
    # an id and therefore one candidate set; each copy contributes one
    # copy of every candidate pair, so with the orderBy below (distance,
    # then right-row content hash) the m copies of a neighbor sort
    # adjacently and `row_number <= m*k` keeps exactly the top-k distinct
    # neighbors × m copies.  The copy count arrives as a map-side-partial
    # groupBy (24 bytes/distinct-row shuffled, no payload) joined on the
    # same key the window partitions on, so the Exchange is shared.
    stamped = stamp_content_id(left, "__kid", "__kid2")
    copies = (stamped.groupBy("__kid", "__kid2")
              .agg(F.count(F.lit(1)).alias("__kcp")))
    # Tie-break hashes are computed ONCE PER RIGHT ROW here, before the
    # bucket join, instead of per candidate inside the window sort: the
    # dwithin bucket join multiplies each right row into many candidate
    # pairs, and hashing the full right struct (geometry WKB included)
    # twice per candidate was measurable window-stage work.  xxhash64
    # hashes field VALUES (names don't enter), so these columns order
    # candidates exactly as the old per-candidate struct hashes did.
    tagged = stamp_content_id(right, "__krh1", "__krh2")
    # carried distance (r15, §4.4/§2.4): the dwithin filter inside
    # st_join already evaluates the exact distance for every bbox-
    # surviving candidate — carry that value out (``__kdist``) instead
    # of paying a SECOND ArrowEvalPython crossing (both geometry
    # payloads shipped again) for the window key + output column.
    cand = st_join(stamped, tagged, geom_left=geom_left,
                   geom_right=geom_right,
                   predicate="dwithin", distance=float(max_distance),
                   grid_size=grid_size, rsuffix=rsuffix,
                   _distance_col="__kdist")
    # Deterministic tie-breaker (same AQE-nondeterminism class as the
    # raster_join fix, SURVEY §2.14): row_number over distance alone is
    # partition-layout-dependent when candidates straddle the k cutoff
    # at exactly equal distance.  A 128-bit content hash of the right
    # row makes the order a pure function of the data.
    w = (Window.partitionBy("__kid", "__kid2")
         .orderBy(F.col("__kdist").asc(), F.col("__krh1").asc(),
                  F.col("__krh2").asc()))
    return (cand.join(copies, ["__kid", "__kid2"])
            .withColumn("distance", F.col("__kdist"))
            .withColumn("__krn", F.row_number().over(w))
            .where(F.col("__krn") <= F.col("__kcp") * int(k))
            .withColumn("knn_rank",
                        F.ceil(F.col("__krn") / F.col("__kcp"))
                        .cast("int"))
            .drop("__kid", "__kid2", "__kcp", "__krn",
                  "__krh1", "__krh2", "__kdist"))
