"""Grid DBSCAN — density-based spatial clustering over the hex-cell
rollup (the operator behind "find the contiguous high-activity regions",
the cluster-level generalization of geo/smooth.py's per-cell hotspot
flag; reference renders per-region activity tables from the same rollups:
insights/README.md "mapping activity", galaxy-api project aggregation).

Classic DBSCAN is O(n²) neighbor queries over raw points; the
grid-quantized formulation (public: Gunawan's grid DBSCAN, and the
standard cell-trick in every distributed DBSCAN paper) runs over the
OCCUPIED-CELL rollup instead:

- **core** cell: holds ≥ ``minpts`` points — density above threshold.
- two core cells are connected when they are ring-1 axial neighbors;
  clusters = connected components of the core-cell adjacency graph.
- **border** cell: below threshold but adjacent to ≥ 1 core cell; it
  joins the minimum cluster id among its core neighbors (canonical
  DBSCAN leaves border assignment ambiguous — tie-breaking by MIN makes
  the output deterministic and oracle-reproducible).
- noise cells (neither) are simply absent from the output.

Neighbor ids are pure BIGINT arithmetic on the packed axial cell id
(``cell`` plus each ``cells.hex_ring(1)`` delta), so the whole pass —
adjacency, components, border attachment — is replicated verbatim by the
ANSI-SQL oracle (recursive-CTE reachability). No UDF, no geometry
library.

Scale posture (100 TB): the point→cell rollup is the only pass over the
event table; everything after runs on the occupied-cell table, which is
bounded by the grid (≲ a few million cells at res ≤ 6 globally) — orders
of magnitude smaller than the input. Adjacency is one 6× explode + one
cell-keyed equi-join (never an all-pairs distance join), and components
use the shared ``star_cc_labels`` contraction: O(log² n) rounds, state =
the shrinking edge list, same shuffle-key layout as every other cell op
so AQE skew handling applies unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin
from . import cells
from .vectorize import star_cc_labels


def cell_dbscan(cell_counts: DataFrame, minpts: int) -> DataFrame:
    """DBSCAN over a per-cell count table → (cell, n, role, cluster_id).

    Input: one row per occupied cell — (cell: BIGINT packed axial id,
    n: count). Output: one row per core or border cell; noise cells
    are dropped. ``cluster_id`` is the MINIMUM core-cell id of the
    component (stable across partitioning and engine), ``role`` is
    'core' | 'border'. An isolated core cell is its own singleton cluster;
    a border cell adjacent to several clusters joins the one with the
    smallest id.
    """
    # persist the rollup, not just the core slice: the border branch
    # re-reads it, and without the pin the full point→cell pass runs twice
    cnts = pin(cell_counts.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n").cast("long").alias("n"),
    ))
    core = cnts.filter(F.col("n") >= F.lit(minpts))
    nbrs = cells.hex_fan(F.col("cell"), cells.hex_ring(1))
    fan = core.select(
        F.col("cell").alias("id"), F.explode(nbrs).alias("nbr_id")
    )
    core_ids = core.select(F.col("cell").alias("nbr_id"))
    edges = fan.join(core_ids, "nbr_id")  # both endpoints must be core
    labels = star_cc_labels(edges)
    core_lab = pin(
        core.join(labels, core["cell"] == labels["id"], "left")
        .select(
            core["cell"],
            core["n"],
            F.lit("core").alias("role"),
            # isolated core cell (no core neighbor) → singleton cluster
            F.coalesce(F.col("label"), core["cell"]).alias("cluster_id"),
        )
        # evaluated twice (core output rows + the border attach join);
        # its lineage carries the whole CC read-off — pin it
    )
    border = (
        cnts.filter(F.col("n") < F.lit(minpts))
        .select("cell", "n", F.explode(nbrs).alias("_nb"))
        .join(
            core_lab.select(
                F.col("cell").alias("_nb"), F.col("cluster_id").alias("_cl")
            ),
            "_nb",
        )
        .groupBy("cell", "n")
        .agg(F.min("_cl").alias("cluster_id"))
        .select("cell", "n", F.lit("border").alias("role"), "cluster_id")
    )
    return core_lab.unionByName(border)


def region_shape(cell_counts: DataFrame) -> DataFrame:
    """Per-region shape metrics over the occupied-cell rollup — the
    measurement stage of the raster→vector family (``tile_regions`` /
    ``cell_dbscan`` find regions; this one characterizes them):

        (region_id, area_cells, perimeter_edges, total_n)

    Regions are ring-1 axial connected components of ALL occupied cells
    (no density threshold — the contour of the data itself). Per region:
    ``area_cells`` = member-cell count, ``perimeter_edges`` = Σ over
    members of (6 − occupied-neighbor count) — the boundary edge count of
    the hex polygon, since every occupied neighbor belongs to the same
    component by definition — and ``total_n`` = Σ member counts. The
    isoperimetric compactness P²/A the consumer divides; the engine stays
    integer-exact (same discipline as moran_i_exact).

    Scale posture: one 6× explode of the bounded occupied-cell table, ONE
    cell-keyed equi-join for adjacency (never all-pairs), star-contraction
    CC (O(log² n) rounds), one region-keyed rollup. Everything after the
    point→cell rollup is bounded by OCCUPIED CELLS, not points.
    """
    cnts = pin(cell_counts.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("n").cast("long").alias("n"),
    ))
    nbrs = cells.hex_fan(F.col("cell"), cells.hex_ring(1))
    fan = cnts.select(F.col("cell").alias("id"), F.explode(nbrs).alias("nbr_id"))
    edges = pin(fan.join(cnts.select(F.col("cell").alias("nbr_id")), "nbr_id"))
    # occupied-neighbor degree per cell (0 for isolated cells, via left join)
    deg = edges.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    labels = star_cc_labels(edges)
    return (
        cnts.join(labels, cnts["cell"] == labels["id"], "left")
        .select(
            "cell",
            "n",
            F.coalesce(F.col("label"), cnts["cell"]).alias("region_id"),
        )
        .join(deg.withColumnRenamed("id", "cell"), "cell", "left")
        .groupBy("region_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("area_cells"),
            F.sum(F.lit(6) - F.coalesce(F.col("deg"), F.lit(0)))
            .cast("long")
            .alias("perimeter_edges"),
            F.sum("n").cast("long").alias("total_n"),
        )
    )
