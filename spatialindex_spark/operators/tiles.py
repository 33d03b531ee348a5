"""Raster <-> vector tile mapping (SURVEY.md J5).

A raster tile is a lat-lon box footprint (the reference's box constructor,
geometry.c:429-484: N/E rotations of the center). Mapping = footprint
polygon -> cell covering -> broadcast range-join against the point/vector
table -> exact point-in-polygon -> (tile_id, cell_id, row) assignments.

Tiles-to-tiles matching reuses the cell_equijoin sort-merge path (J2).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..functions.geometry import RAD_PER_DEG
from .joins import region_join


def box_vertices(center_ra: float, center_dec: float,
                 width_deg: float, height_deg: float) -> tuple[list, list]:
    """Lat-lon box corners (CCW). Clamped near the poles; width is measured
    along the parallel (geometry.c box semantics)."""
    hw = width_deg / 2.0
    hh = height_deg / 2.0
    lo_dec = max(center_dec - hh, -89.9999999)
    hi_dec = min(center_dec + hh, 89.9999999)
    ras = [center_ra - hw, center_ra + hw, center_ra + hw, center_ra - hw]
    decs = [lo_dec, lo_dec, hi_dec, hi_dec]
    return [r % 360.0 for r in ras], decs


def tile_regions(tiles: list[dict]) -> list[dict]:
    """tiles: [{'tile_id', 'center_ra', 'center_dec', 'width_deg',
    'height_deg'}] -> region dicts for region_join."""
    regions = []
    for t in tiles:
        ra, dec = box_vertices(t["center_ra"], t["center_dec"],
                               t["width_deg"], t["height_deg"])
        regions.append({"region_id": t["tile_id"], "kind": "poly",
                        "ra": ra, "dec": dec})
    return regions


def map_tiles_to_points(points: DataFrame, tiles: list[dict], level: int = 7,
                        cell_col: str = "spt_ind") -> DataFrame:
    """(tile_id, <point columns>) assignment rows for every point falling in
    each tile footprint. Broadcast covering join + exact point-in-polygon."""
    out = region_join(points, tile_regions(tiles), level=level, cell_col=cell_col)
    return out.withColumnRenamed("region_id", "tile_id")


def tile_cell_assignments(points: DataFrame, tiles: list[dict], level: int = 7,
                          cell_col: str = "spt_ind") -> DataFrame:
    """(tile_id, cell_id, n_rows) rollup — the tiling manifest used by
    checkpoint-resume (each (tile, cell) unit is an idempotent work item)."""
    m = map_tiles_to_points(points, tiles, level, cell_col)
    return (m.groupBy("tile_id", F.col(cell_col).alias("cell_id"))
             .agg(F.count(F.lit(1)).alias("n_rows")))


def resumable_tile_assignment(points: DataFrame, tiles: list[dict], path: str,
                              level: int = 7, cell_col: str = "spt_ind",
                              system: str = "htm") -> dict:
    """North-rule checkpoint-resume: materialize the full tile-assignment
    output through the Iceberg-lite layout in one staged pass, then a
    per-bucket claim. Cell-range buckets are the work units; each claimed
    bucket is recorded in the lineage log with row counts + checksums, so
    a killed job resumes with the unmarked buckets only and re-running
    after completion is a no-op. Returns the snapshot dict."""
    from ..sources.iceberg_lite import IcebergLiteTable

    out = map_tiles_to_points(points, tiles, level, cell_col)
    t = IcebergLiteTable(path, cell_col=cell_col, system=system, level=level,
                         num_buckets=32)
    return t.write(out)
