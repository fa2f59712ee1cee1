"""Mann-Kendall trend per cell — the time axis of emerging-hotspot analysis.

The standard "emerging hot spot" workflow (ArcGIS Space Time Pattern
Mining; Mann 1945; Kendall 1975; Hamed 2008 review) pairs a *local
spatial* statistic (Getis-Ord Gi*, `spatial/hotspot.py`) with a *local
temporal* one: for each location, the Mann-Kendall trend test over its
per-time-step values decides whether activity is increasing, decreasing,
or flat — "new / intensifying / diminishing" hotspots fall out of the
(Gi*, trend) cross.  This module provides the temporal half over the
engine's cell grid:

    S     = sum over time pairs i<j of sign(x_j - x_i)
    Var*18= n(n-1)(2n+5) - sum over tie groups t(t-1)(2t+5)
    z     = (S - sign(S)) / sqrt(Var)        (0 when S = 0)

Reference scope note: tibetty/osm2geojson-lite has no analytics layer;
this extends the engine per the build brief's custom-operator list, next
to `gi_hotspots` / `moran_i` which it is designed to compose with.

Semantics: the caller provides a per-``(cell, bucket)`` integer value
table (e.g. daily event counts per tile).  Every cell's series is
*densified to the global bucket frame* ``[min(b), max(b)]`` with zeros —
the fixed analysis span shared by all locations, the standard choice for
count series (a tile with no events on a day has value 0, not "missing").
``n`` is therefore identical for every cell and the z-scores are
comparable across cells.

Scale shape: ONE groupBy(cell) shuffle builds each cell's (bucket ->
value) map; the global frame is one tiny agg row crossJoin-broadcast
back; densify + S + tie terms are per-row array expressions (nested
higher-order functions, whole-stage codegen, no Python).  Per-cell work
is O(T^2) with T = the global bucket count — a *caller-bounded* constant
(pick ``bucket`` width so T is tens, e.g. daily buckets over a month;
``max_buckets`` refuses accidental second-resolution frames at plan
build).  Total work ∝ occupied cells x T^2, never raw-point count; the
raw→(cell,bucket) reduction is an ordinary map-side-combinable count.

Determinism: S, Var*18, n, and every tie term are exact integers; z is
computed from them in ONE fixed IEEE sequence — ``dfloat(S - sgn) /
sqrt(dfloat(var18) / 18.0)`` then ``round(, 9)`` — one divide, one sqrt,
one divide, one round: bit-reproducible at any partitioning and
replayable verbatim in ANSI SQL (the DuckDB oracle does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["mann_kendall_trend"]

#: two-sided 5% normal critical value, the conventional trend cutoff
Z_CRIT_95 = 1.959963984540054


def mann_kendall_trend(series: DataFrame, *, cell_col_name: str = "cell",
                       bucket_col: str = "b", value_col: str = "x",
                       z_crit: float = Z_CRIT_95,
                       max_buckets: int = 4096) -> DataFrame:
    """-> ``(cell, n_buckets, n_nonzero, s_stat, var18, z, trend)``.

    ``series``: one row per (cell, time-bucket) with an integer value;
    missing buckets inside the global frame are treated as 0.  Output has
    one row per distinct cell: ``s_stat`` the Mann-Kendall S, ``var18``
    the tie-corrected variance times 18 (exact integer), ``z`` the
    continuity-corrected z-score — always non-NULL (0.0 whenever S = 0,
    which includes the single-bucket frame), ``trend`` one of
    ``increasing`` / ``decreasing`` / ``none`` at ``z_crit``.

    ``max_buckets`` fences the O(T^2) per-cell expression against an
    accidentally fine bucket axis (e.g. epoch-second buckets over a
    month): the job fails fast at that size rather than quietly running
    T^2 = 10^13 steps per cell.  It is enforced inside the plan via an
    ANSI assertion on the frame row, so no extra action is spent.
    """
    if max_buckets <= 1:
        raise ValueError("max_buckets must be > 1")
    # A NULL bucket has no place on the time axis (and would be a NULL map
    # key below): refuse it by name wherever the row is first read.
    vals = series.select(
        F.col(cell_col_name).alias("cell"),
        F.coalesce(F.col(bucket_col).cast("long"), F.raise_error(F.lit(
            f"mann_kendall_trend: NULL in bucket column {bucket_col!r} — "
            "drop or fill those rows first")).cast("long")).alias("b"),
        F.col(value_col).cast("long").alias("x"),
    )

    # Global analysis frame: one tiny row.  raise_error is ANSI-safe and
    # keeps the fence inside the lazy plan (evaluated once, broadcast).
    # The isNull disjunct covers EMPTY input (NULL buckets never get this
    # far): min/max over zero rows are NULL, which would otherwise fall
    # through to raise_error with a misleading "exceeds max_buckets"
    # message — an empty frame must pass through (per_cell is empty too,
    # so the output is simply empty).
    frame = vals.agg(F.min("b").alias("b0"), F.max("b").alias("b1")).select(
        F.when(
            F.col("b0").isNull()
            | (F.col("b1") - F.col("b0") < F.lit(int(max_buckets))),
            F.col("b0"),
        ).otherwise(
            F.raise_error(F.format_string(
                "mann_kendall_trend: %s buckets in the global frame exceeds "
                "max_buckets=%s — widen the bucket size",
                (F.col("b1") - F.col("b0") + 1).cast("string"),
                F.lit(str(int(max_buckets))),
            )).cast("long"),
        ).alias("b0"),
        F.col("b1"),
    )

    per_cell = vals.groupBy("cell").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "x"))).alias("m"),
        F.count(F.when(F.col("x") != 0, 1)).alias("n_nonzero"),
    )

    dense = per_cell.crossJoin(F.broadcast(frame)).select(
        "cell", "n_nonzero",
        F.transform(
            F.sequence(F.col("b0"), F.col("b1")),
            lambda bb: F.coalesce(F.try_element_at("m", bb), F.lit(0).cast("long")),
        ).alias("xs"),
    )

    xs = F.col("xs")
    # S via earlier-smaller minus earlier-larger per position (transform
    # index i is 0-based, so slice(xs, 1, i) is exactly the prefix before
    # position i) — equivalent to the textbook pairwise double sum but a
    # single non-nested-aggregate expression tree.
    contrib = F.transform(xs, lambda v, i: (
        F.size(F.filter(F.slice(xs, F.lit(1), i), lambda w: w < v))
        - F.size(F.filter(F.slice(xs, F.lit(1), i), lambda w: w > v))
    ).cast("long"))
    s_stat = F.aggregate(contrib, F.lit(0).cast("long"), lambda a, c: a + c)
    # sum over positions of (t-1)(2t+5) where t = that position's tie-group
    # size == sum over groups of t(t-1)(2t+5)
    teq = F.transform(
        xs, lambda v: F.size(F.filter(xs, lambda w: w == v)).cast("long"))
    tie = F.aggregate(teq, F.lit(0).cast("long"),
                      lambda a, t: a + (t - 1) * (2 * t + 5))
    nn = F.size(xs).cast("long")
    var18 = (nn * (nn - 1) * (2 * nn + 5) - tie)

    stats = dense.select(
        "cell",
        nn.alias("n_buckets"),
        F.col("n_nonzero").cast("long").alias("n_nonzero"),
        s_stat.alias("s_stat"),
        var18.alias("var18"),
    )

    sgn = F.when(F.col("s_stat") > 0, 1).when(F.col("s_stat") < 0, -1) \
        .otherwise(0).cast("long")
    zraw = (F.col("s_stat") - sgn).cast("double") / F.sqrt(
        F.col("var18").cast("double") / F.lit(18.0))
    z = (
        F.when(F.col("s_stat") == 0, F.lit(0.0))
        .when(F.col("var18") > 0, F.round(zraw, 9))
    )  # var18 == 0 forces S == 0, so the otherwise-NULL leg is unreachable
    trend = (
        F.when(z > F.lit(float(z_crit)), F.lit("increasing"))
        .when(z < F.lit(-float(z_crit)), F.lit("decreasing"))
        .otherwise(F.lit("none"))
    )
    return stats.select("*", z.alias("z"), trend.alias("trend"))
