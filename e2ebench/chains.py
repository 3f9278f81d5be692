"""The batch chains the benchmark drives, and their planted-truth checks.

Each chain function takes a :class:`spans.Chain` and the generated inputs,
builds fresh DataFrames from the input files, calls the engine's public
functions in reference order, and returns the materialized stage results.
The matching ``check_*`` function reads those results after the timer has
stopped and returns ``{check name: passed}``.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from egp_crn_spark.functions import cells as C
from egp_crn_spark.functions import geomexpr as GX
from egp_crn_spark.functions.georef import phash_x, phash_y
from egp_crn_spark.operators import meshblock as MB
from egp_crn_spark.operators.conflate import classify_conflation, conflate_pairs_rect
from egp_crn_spark.operators.deltas import ngd_deletions
from egp_crn_spark.operators.images import phash_near_dup
from egp_crn_spark.operators.pyramid import base_tiles, rollup_level
from egp_crn_spark.operators.snap import snap_nodes
from egp_crn_spark.operators.spatial_join import point_in_polygon_join
from egp_crn_spark.operators.standardize import standardize
from egp_crn_spark.operators.validate import validate_topology

from gen import CELL_M, DELETE_MULT, ORIGIN, PYRAMID_RES, TILE_RES

# pipeline_demo's settings for the crn chain, bench.py's for the image chain
POLYGONIZE_TILE_RES = 6
CONFLATE_RES = 8
CELL_RES = 10
PIP_RES = 6
NEAR_DUP_HAMMING = 2
NEAR_DUP_MAX_BUCKET = 200
TILE_PX = 8


# ---------------------------------------------------------------- crn region
def crn_chain(ch, inp: dict) -> dict:
    spark = ch.spark
    n, seed = inp["truth"]["grid"], inp["truth"]["seed"]
    raw = spark.read.parquet(os.path.join(inp["dir"], "world"))
    std = ch.commit("standardize", lambda: standardize(raw))
    snapped = ch.commit("snap", lambda: snap_nodes(std))
    topo = ch.commit("validate", lambda: validate_topology(snapped))
    faces = ch.commit("meshblock.polygonize", lambda: MB.polygonize_meshblock(
        snapped, tile_res=POLYGONIZE_TILE_RES))
    v201 = ch.commit("meshblock.v201", lambda: MB.mb_v201_deadend_within(snapped, faces))

    def conflate():
        # faces against the aligned 2 x 2-cell blocks: every pair is valid
        bb = faces.select(F.monotonically_increasing_id().alias("crn_id"),
                          GX.bbox(F.col("vertices")).alias("b"))
        crn = bb.select("crn_id", "b.xmin", "b.ymin", "b.xmax", "b.ymax")
        m = n // 2
        bi, bj = F.col("id") % m, F.expr(f"id div {m}")
        blocks = spark.range(m * m).select(
            F.col("id").alias("ngd_id"),
            (bi * 2 * CELL_M + ORIGIN).alias("xmin"),
            (bj * 2 * CELL_M + ORIGIN).alias("ymin"),
            ((bi + 1) * 2 * CELL_M + ORIGIN).alias("xmax"),
            ((bj + 1) * 2 * CELL_M + ORIGIN).alias("ymax"))
        pairs = conflate_pairs_rect(crn, blocks, res=CONFLATE_RES, broadcast_ngd=True)
        return classify_conflation(pairs, crn.select("crn_id"), blocks.select("ngd_id"))[2]

    conflation = ch.commit("conflate", conflate)
    deleted = (F.pmod(F.col("ngd_uid").cast("long") * DELETE_MULT + seed, F.lit(7)) == 3) \
        & (F.col("segment_type") == 2)
    deltas = ch.commit("deltas", lambda: ngd_deletions(snapped.filter(~deleted), snapped))
    return {"std": std, "snapped": snapped, "topo": topo, "faces": faces,
            "v201": v201, "conflation": conflation, "deltas": deltas}


def check_crn(out: dict, truth: dict) -> dict[str, bool]:
    start = F.element_at(F.col("vertices"), 1)
    on_node = out["snapped"].filter(
        (F.col("segment_type") == 2)
        & (F.element_at(start, 1) % CELL_M == 0.0)
        & (F.element_at(start, 2) % CELL_M == 0.0)).count()
    return {
        "arcs": out["std"].count() == truth["rows"],
        "snaps": on_node == truth["snap_stubs"],
        "v303": out["topo"].agg(F.sum("v303")).first()[0] == 2 * truth["cross_stubs"],
        "faces": out["faces"].count() == truth["faces"],
        "v201": out["v201"].count() == truth["cross_stubs"],
        "conflation_invalid": out["conflation"].first()["invalid_total"] == 0,
        "deleted_bos": out["deltas"].count() == truth["deleted_bos"],
    }


def validate_codes(ch, snapped, codes) -> dict[int, int]:
    """Each validation alone over the committed snap layer, as flag sums
    (traced run only)."""
    out = {}
    for code in codes:
        sums = ch.collect(f"validate.v{code}", lambda code=code: validate_topology(
            snapped, codes=[code]).agg(F.sum(f"v{code}")))
        out[code] = sums[0][0]
    return out


# ---------------------------------------------------------------- image tiling
def image_chain(ch, inp: dict) -> dict:
    spark = ch.spark
    images = spark.read.parquet(os.path.join(inp["dir"], "images"))
    polys = spark.read.parquet(os.path.join(inp["dir"], "boundaries.parquet")) \
        .select(F.col("bb_uid").alias("poly_id"), "vertices")

    def points():
        return images.select("image_id", phash_x(F.col("phash")).alias("x"),
                             phash_y(F.col("phash")).alias("y"))

    def assign():
        cell = C.cell_of_xy(F.col("x"), F.col("y"), CELL_RES)
        return points().select("image_id", "x", "y", cell.alias("cell"),
                               C.parent_cell(cell, CELL_RES, TILE_RES).alias("tile"))

    tiles = ch.collect("cells", lambda: assign().groupBy("tile").agg(
        F.count(F.lit(1)).alias("n"), F.approx_count_distinct("cell").alias("cells")))
    pip = ch.collect("spatial_join", lambda: point_in_polygon_join(
        points().withColumnRenamed("image_id", "p_id"), polys, res=PIP_RES)
        .groupBy("poly_id").count())
    pairs = ch.cached("images", lambda: phash_near_dup(
        images, max_hamming=NEAR_DUP_HAMMING, max_bucket=NEAR_DUP_MAX_BUCKET))
    levels = [ch.cached("pyramid", lambda: base_tiles(
        images, PYRAMID_RES[0], tile_px=TILE_PX))]
    for _ in PYRAMID_RES[1:]:
        levels.append(ch.cached("pyramid", lambda: rollup_level(levels[-1], TILE_PX)))
    written = ch.commit("tables", assign, range_partition_col="tile")
    return {"tiles": tiles, "pip": pip, "pairs": pairs, "levels": levels,
            "written": written}


def check_images(out: dict, truth: dict, inp_dir: str, spark) -> dict[str, bool]:
    n = truth["rows"]
    pairs = out["pairs"]
    planted = spark.read.parquet(os.path.join(inp_dir, "dup_pairs.parquet"))
    missing = planted.join(pairs, ["a_id", "b_id"], "left_anti").count()
    exact = pairs.filter(F.col("hamming") == 0).count()
    level_rows = [lvl.agg(F.count(F.lit(1)), F.sum("n_src")).first() for lvl in out["levels"]]
    return {
        "tile_rows": sum(r["n"] for r in out["tiles"]) == n,
        "tiles": len(out["tiles"]) == truth["tiles"],
        "pip": {str(r["poly_id"]): r["count"] for r in out["pip"]} == truth["pip_counts"],
        "near_dup_planted": missing == 0 and exact == truth["dup_pairs"],
        "pyramid_tiles": [r[0] for r in level_rows] == truth["pyramid_levels"],
        "pyramid_sources": all(r[1] == n for r in level_rows),
        "write_back": out["written"].count() == n,
    }


def release(out: dict) -> None:
    """Drop every block this chain cached (outside the timed region)."""
    for lvl in out.get("levels", []):
        lvl.unpersist()
    if "pairs" in out:
        out["pairs"].unpersist()
