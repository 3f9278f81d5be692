"""Cell-backend conformance contract (functions/cells.py docstring).

Every spatial operator's correctness proof relies on these axioms, not
on square-cell geometry specifically. They run against the Morton
backend in functions/cells.py; the point-API axioms also run against the
native S2 backend in functions/cells_s2.py, and are the contract any
replacement backend such as H3 would have to pass.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from egp_crn_spark.config import EXTENT
from egp_crn_spark.functions import cells as morton_cells
from egp_crn_spark.functions import cells_s2


_BACKENDS = {"morton": morton_cells, "s2": cells_s2}


@pytest.fixture(scope="module", params=["morton"])
def C(request):
    """Square-grid backend: these tests exercise the ix/iy internals
    (cell_encode, idx_of, domain clamping, the three renderers) that a
    spherical backend deliberately does not have."""
    return _BACKENDS[request.param]


@pytest.fixture(scope="module", params=["morton", "s2"])
def CB(request):
    """All backends, including the native S2 geodesic backend (pure
    numpy): the backend-agnostic axioms below reach cells only through
    the point API — cell_of_xy, parent_cell, kring_of_xy,
    res_for_radius, cell_size — which is the exact surface the
    operators use through the cells.py seam."""
    return _BACKENDS[request.param]


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "x": rng.uniform(0, EXTENT, 500),
        "y": rng.uniform(0, EXTENT, 500),
    })
    # include domain corners and edges (clamping paths)
    edge = pd.DataFrame({
        "x": [0.0, EXTENT - 1e-9, 0.0, EXTENT - 1e-9, EXTENT / 2, -5.0, EXTENT + 5.0],
        "y": [0.0, EXTENT - 1e-9, EXTENT - 1e-9, 0.0, EXTENT / 2, -5.0, EXTENT + 5.0],
    })
    return spark.createDataFrame(pd.concat([pdf, edge], ignore_index=True))


def test_parent_containment(pts, CB):
    """cell_of_xy at a coarse res == parent of cell_of_xy at a fine res —
    the hierarchy axiom behind compact/uncompact and tile rollups."""
    for fine, coarse in [(10, 4), (12, 10), (8, 0)]:
        bad = pts.filter(
            CB.parent_cell(CB.cell_of_xy(F.col("x"), F.col("y"), fine), fine, coarse)
            != CB.cell_of_xy(F.col("x"), F.col("y"), coarse)
        ).count()
        assert bad == 0, (fine, coarse)


def test_res_encoded_and_disjoint(pts, CB):
    """Cell ids at different resolutions never collide (res is part of
    the id) — multi-resolution cell sets can share one column."""
    a = {r["c"] for r in pts.select(CB.cell_of_xy(F.col("x"), F.col("y"), 7).alias("c")).collect()}
    b = {r["c"] for r in pts.select(CB.cell_of_xy(F.col("x"), F.col("y"), 8).alias("c")).collect()}
    assert not (a & b)


def test_kring_of_xy_contains_own_cell(spark, CB):
    """Backend-agnostic ring axiom via the POINT API: the k-ring(1) of an
    interior point contains the point's own cell and all immediate
    neighbours (>= 7 distinct cells — 7 for hexagons, 9 for squares)."""
    df = spark.createDataFrame(
        pd.DataFrame({"x": [EXTENT / 2], "y": [EXTENT / 2]}))
    res = 6
    out = df.select(
        CB.cell_of_xy(F.col("x"), F.col("y"), res).alias("own"),
        CB.kring_of_xy(F.col("x"), F.col("y"), res, 1).alias("ring"),
    ).collect()[0]
    assert out["own"] in out["ring"]
    assert len(set(out["ring"])) >= 7


def test_kring_contains_own_cell_and_neighbours(spark, C):
    """k-ring(1) of an interior cell = its 3x3 neighbourhood, includes
    itself; domain corners clamp to the 2x2 quadrant."""
    df = spark.createDataFrame(
        pd.DataFrame({"x": [EXTENT / 2, 1e-6], "y": [EXTENT / 2, 1e-6]}))
    res = 6
    ix, iy = C.xy_to_ixy(F.col("x"), F.col("y"), res)
    out = df.select(
        C.cell_of_xy(F.col("x"), F.col("y"), res).alias("own"),
        C.kring_cells(ix, iy, res, 1).alias("ring"),
    ).collect()
    interior, corner = out
    assert interior["own"] in interior["ring"] and len(interior["ring"]) == 9
    assert corner["own"] in corner["ring"] and len(corner["ring"]) == 4
    assert len(set(interior["ring"])) == 9  # all distinct


def test_res_for_radius_covers(spark, CB):
    """THE coverage invariant: two points within `radius` of each other
    share >= 1 cell between one side's k-ring(1) and the other side's
    own cell, at res_for_radius(radius). Backend-agnostic via the point
    API — for hexagons the guarantee comes from min-width >= radius, for
    squares from cell_size >= radius; both surface as cell_size."""
    rng = np.random.default_rng(11)
    radius = 300.0
    res = CB.res_for_radius(radius)
    assert CB.cell_size(res) >= radius
    if res < CB.MAX_RES:
        assert CB.cell_size(res + 1) < radius
    ax = rng.uniform(0, EXTENT, 400)
    ay = rng.uniform(0, EXTENT, 400)
    theta = rng.uniform(0, 2 * np.pi, 400)
    r = rng.uniform(0, radius, 400)
    bx = np.clip(ax + r * np.cos(theta), 0, EXTENT - 1e-9)
    by = np.clip(ay + r * np.sin(theta), 0, EXTENT - 1e-9)
    keep = np.hypot(ax - bx, ay - by) <= radius  # clipping may shorten; fine
    df = spark.createDataFrame(pd.DataFrame(
        {"ax": ax[keep], "ay": ay[keep], "bx": bx[keep], "by": by[keep]}))
    missed = df.filter(
        ~F.arrays_overlap(
            CB.kring_of_xy(F.col("ax"), F.col("ay"), res, 1),
            F.array(CB.cell_of_xy(F.col("bx"), F.col("by"), res)),
        )
    ).count()
    assert missed == 0


def test_three_renderers_agree(pts, C):
    """Column, numpy, and SQL emitters are ONE algorithm: identical ids
    for identical inputs at several resolutions."""
    pdf = pts.toPandas()
    con = duckdb.connect()
    for res in (0, 4, 10, 16):
        got_col = pts.select(
            C.cell_of_xy(F.col("x"), F.col("y"), res).alias("c")).toPandas()["c"].to_numpy()
        got_np = C.cell_of_xy_np(pdf["x"].to_numpy(), pdf["y"].to_numpy(), res)
        got_sql = con.execute(
            f"select {C.cell_of_xy_sql('x', 'y', res)} as c from pdf"
        ).df()["c"].to_numpy()
        np.testing.assert_array_equal(got_col, got_np)
        np.testing.assert_array_equal(got_col, got_sql.astype(np.int64))


def test_idx_of_matches_cell_of_xy(pts, C):
    """idx_of is the axis projection of cell_of_xy — cover-cell explosion
    built from it lands geometry in the same cells points land in."""
    res = 9
    ix = C.idx_of(F.col("x"), res)
    iy = C.idx_of(F.col("y"), res)
    bad = pts.filter(
        C.cell_encode(ix, iy, res) != C.cell_of_xy(F.col("x"), F.col("y"), res)
    ).count()
    assert bad == 0


def test_compact_uncompact_roundtrip(spark):
    """compact → uncompact reproduces exactly the original fine cell set
    (H3 compact_cells/uncompact_cells semantics). Morton-backend only:
    cellsets' parent expression is bit arithmetic on Z-order ids."""
    C = morton_cells
    from egp_crn_spark.operators.cellsets import compact_cells, uncompact_cells

    rng = np.random.default_rng(3)
    res = 6
    # a full quadrant (compactable) + scattered cells (not compactable)
    n = 1 << res
    quad = [(ix, iy) for ix in range(n // 4) for iy in range(n // 4)]
    scatter = {(int(rng.integers(n // 2, n)), int(rng.integers(n // 2, n)))
               for _ in range(40)}
    pdf = pd.DataFrame(sorted(set(quad) | scatter), columns=["ix", "iy"])
    cells = spark.createDataFrame(pdf).select(
        C.cell_encode(F.col("ix"), F.col("iy"), res).alias("cell"))
    compacted = compact_cells(cells)
    assert compacted.count() < cells.count()  # the quadrant collapsed
    back = uncompact_cells(compacted, res)
    orig = {r["cell"] for r in cells.collect()}
    rt = {r["cell"] for r in back.collect()}
    assert rt == orig
