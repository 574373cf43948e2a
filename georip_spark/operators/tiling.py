"""Tile-grid generation (SURVEY.md R4) as pure column math.

The reference cuts each raster with nested Python loops
(georip/raster/tools.py:255-262):

    for row in range(0, height, row_stride):
        for col in range(0, width, col_stride):
            window = (col, row,
                      min(tile_w, width - col), min(tile_h, height - row))

i.e. edge tiles are CLAMPED, and every stride step yields a tile even
when the remainder is smaller than the tile size. Tile ids are
``{stem}_tile_{row}_{col}`` with row/col = pixel offsets
(georip/raster/tools.py:274); footprints come from the affine applied
to the window's 4 corners (create_tile_polygon,
georip/geometry/polygons.py:217-249).

Here the double loop is ``explode(sequence(...)) × explode(sequence(...))``
— fully JVM-side, whole-stage codegen, no Python. One input raster row
fans out to its tiles inside the scan stage: no shuffle at all. At
100 TB (billions of tiles) the fan-out is embarrassingly parallel and
partition-local; downstream ops decide their own partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from georip_spark import functions as GF
from georip_spark.geo import affine


def tile_grid(
    rasters: DataFrame, with_footprint: bool = True,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """rasters(doc_id,width,height,tile_size,stride,transform,…) →
    one row per tile with pixel window, ordinal, media_ref and
    (optionally) CRS-space footprint bbox.

    Output columns: doc_id, tile_row, tile_col, tile_w, tile_h,
    ordinal, media_ref [, minx, miny, maxx, maxy] [, *keep].

    ``keep``: extra input columns carried through the fan-out —
    build_dataset passes its pre-parsed (region, start_year, end_year)
    join keys so build_labels never re-derives them per TILE row
    (guide §1.2 per-task work: the doc_id regex+split ran ~100× per
    raster in the fan-out stage, round-6 profile)."""
    # Fan out under-parallel inputs BEFORE the ×100 tile explode: a
    # single-file parquet scan is ONE partition, and the entire
    # fan-out (plus everything downstream until the next shuffle)
    # would run in one task (measured 6-39s single-threaded for 2M
    # tiles vs <2s fanned out). Shuffling the compact raster rows
    # costs ~nothing; at real scale the scan already has thousands of
    # splits and this is a no-op.
    # 4·par slices, not par: everything from here to the next shuffle
    # (fan-out, footprint math, join probe, clip UDF) runs in these
    # tasks — at par slices that is ONE wave of fat tasks where a
    # single straggler holds the whole stage; 4 waves pack ~95%
    # (measured round 2, re-measured round 3 when the stored-input
    # bench resurrected the 1-wave shape through a tiny parquet scan).
    par = rasters.sparkSession.sparkContext.defaultParallelism
    if rasters.rdd.getNumPartitions() < 2 * par:
        rasters = rasters.repartition(4 * par)
    df = rasters.withColumn(
        "tile_row", F.explode(F.sequence(F.lit(0), F.col("height") - 1, F.col("stride")))
    ).withColumn(
        "tile_col", F.explode(F.sequence(F.lit(0), F.col("width") - 1, F.col("stride")))
    )
    df = df.select(
        "doc_id",
        "tile_row",
        "tile_col",
        *tile_window(F.col("tile_row"), F.col("tile_col")),
        GF.tile_media_ref(F.col("doc_id"), F.col("tile_row"), F.col("tile_col")).alias("media_ref"),
        "transform",
        "tile_size",
        *keep,
    )
    if with_footprint:
        df = with_footprint_bbox(df)
    return df.drop("transform")


def tile_window(tile_row: Column, tile_col: Column) -> list[Column]:
    """The window law of the tile at pixel offset (tile_row, tile_col),
    as the columns ``tile_w``, ``tile_h``, ``ordinal``: edge windows
    clamp to the raster (``min(tile_size, width - col)``), and the
    ordinal is row-major in the reference's loop order (row index ×
    ncols + col index). Reads the raster's width, height, tile_size
    and stride columns."""
    ncols = F.ceil(F.col("width") / F.col("stride")).cast("int")
    return [
        F.least(F.col("tile_size"), F.col("width") - tile_col).alias("tile_w"),
        F.least(F.col("tile_size"), F.col("height") - tile_row).alias("tile_h"),
        ((tile_row / F.col("stride")).cast("int") * ncols
         + (tile_col / F.col("stride")).cast("int")).alias("ordinal"),
    ]


def with_footprint_bbox(tiles: DataFrame) -> DataFrame:
    """Attach the CRS-space bbox of each tile footprint.

    The footprint is the affine image of the window's 4 corners; its
    bbox (min/max over corners) equals the footprint itself for
    axis-aligned transforms (b=d=0, the fixture case) and is a sound
    over-approximation for rotated ones (exact refinement happens in
    the pandas-UDF clip kernel).
    """
    t = F.col("transform")
    r0, c0 = F.col("tile_row"), F.col("tile_col")
    r1, c1 = r0 + F.col("tile_h"), c0 + F.col("tile_w")
    xs = [affine.px_to_x(t, c, r) for c, r in ((c0, r0), (c1, r0), (c1, r1), (c0, r1))]
    ys = [affine.px_to_y(t, c, r) for c, r in ((c0, r0), (c1, r0), (c1, r1), (c0, r1))]
    return (
        tiles.withColumn("minx", F.least(*xs))
        .withColumn("miny", F.least(*ys))
        .withColumn("maxx", F.greatest(*xs))
        .withColumn("maxy", F.greatest(*ys))
    )
