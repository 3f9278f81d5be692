"""Hierarchical Z-order (Morton) cell index — pure Column bit arithmetic.

This is the engine's replacement for the reference's per-query STRtree
(/root/reference/src/topology/validate_topology.py:194,285,384 — the sole
join-acceleration structure there) AND for its manual ~140-region tiling
(/root/reference/src/config.yaml:23-160): a quadtree over the planar domain
[0, EXTENT)^2 with resolutions 0..16 (2**r cells per axis, H3/S2-style
parent/child/compact/k-ring semantics).

Everything here is JVM-side Catalyst expression — cell encode costs ~10
bit ops per row inside whole-stage codegen, joins are on plain BIGINTs.
That is deliberately cheaper at 100 TB than string-typed library cell ids
computed in Python UDFs.

Cell id layout (bigint): ``(res << 36) | morton`` where
``morton = interleave(ix, iy)``, ix/iy in [0, 2**res).

Twin ``*_sql`` emitters produce the same arithmetic as DuckDB-compatible
SQL for the driver's oracle harness; ``*_np`` twins are vectorized numpy
for use inside pandas-UDF refinement kernels. One algorithm, three
renderers — keep them in sync.

H3/S2 BACKEND SEAM — every operator reaches cell geometry ONLY through
this module's API. tests/test_cells_conformance.py tests this Morton
backend; its point-API axioms, which the native S2 backend in
cells_s2.py also passes, are the contract a replacement backend would
have to pass. To swap in real H3 on a cluster with the lib:

  cell_of_xy(x, y, res)   → h3.latlng_to_cell (inside a pandas UDF batch)
  parent_cell(c, r, pr)   → h3.cell_to_parent
  kring_cells(ix, iy, r)  → h3.grid_disk of cell_of_xy (ix/iy collapse
                            into the cell id; k picked via res_for_radius)
  idx_of / cell_encode    → internal to the Morton backend; H3 callers
                            use cell_of_xy directly
  cell_size(res)          → min edge length of a res-``res`` hex
                            (hex edge ≥ incircle radius: k-ring coverage
                            proofs carry over with k bumped by 1)
  res_for_radius(radius)  → finest res whose cell incircle ≥ radius
  compact/uncompact       → h3.compact_cells / h3.uncompact_cells
                            (operators/cellsets.py)

The coverage invariant every operator relies on (and the conformance
test asserts): a point within ``radius`` of another point/segment shares
at least one cell between its k-ring(1) at res_for_radius(radius) and
the other geometry's cover cells at the same res.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import EXTENT, MAX_RES

RES_SHIFT = 36

_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


# ---------------------------------------------------------------- Column builders
def _spread_bits(c: Column) -> Column:
    """Spread the low 16 bits of c so bit i moves to bit 2i."""
    c = c.bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _MASKS:
        c = (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask))
    return c


def cell_encode(ix: Column, iy: Column, res: int) -> Column:
    """Cell id from integer cell coordinates at resolution ``res``."""
    morton = _spread_bits(ix).bitwiseOR(F.shiftleft(_spread_bits(iy), 1))
    return F.lit(res << RES_SHIFT).bitwiseOR(morton).cast("long")


def xy_to_ixy(x: Column, y: Column, res: int) -> tuple[Column, Column]:
    """Integer cell coordinates at resolution ``res`` (clamped to domain)."""
    n = 1 << res
    scale = n / EXTENT
    ix = F.least(F.greatest(F.floor(x * F.lit(scale)), F.lit(0)), F.lit(n - 1)).cast("long")
    iy = F.least(F.greatest(F.floor(y * F.lit(scale)), F.lit(0)), F.lit(n - 1)).cast("long")
    return ix, iy


def cell_of_xy(x: Column, y: Column, res: int) -> Column:
    ix, iy = xy_to_ixy(x, y, res)
    return cell_encode(ix, iy, res)


def idx_of(coord: Column, res: int) -> Column:
    """Clamped integer cell coordinate of ONE axis coordinate — the
    building block for bbox cover-cell explosion (explode
    sequence(idx_of(lo), idx_of(hi)) per axis)."""
    n = 1 << res
    return (
        F.least(F.greatest(F.floor(coord * F.lit(n / EXTENT)), F.lit(0)), F.lit(n - 1))
        .cast("long")
    )


def parent_cell(cell: Column, res: int, parent_res: int) -> Column:
    """Parent cell at a coarser resolution (compact direction)."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    morton = cell.bitwiseAND(F.lit((1 << RES_SHIFT) - 1))
    return (
        F.lit(parent_res << RES_SHIFT)
        .bitwiseOR(F.shiftright(morton, 2 * (res - parent_res)))
        .cast("long")
    )


def kring_cells(ix: Column, iy: Column, res: int, k: int = 1) -> Column:
    """Array of cell ids of the (2k+1)^2 ring around (ix, iy), domain-clamped.

    The distributed distance-join prefilter: explode this array and
    equi-join on cell id (SURVEY.md §2.3 J2/J7 mapping).
    """
    n = 1 << res
    cols = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            nx, ny = ix + F.lit(dx), iy + F.lit(dy)
            valid = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
            cols.append(F.when(valid, cell_encode(nx.cast("long"), ny.cast("long"), res)))
    return F.array_compact(F.array(*cols))


def kring_of_xy(x: Column, y: Column, res: int, k: int = 1) -> Column:
    """k-ring of the cell containing (x, y) — the backend-agnostic POINT
    form of kring_cells (the h3 twin is grid_disk(latlng_to_cell(...));
    ix/iy are square-backend internals that h3 has no analogue of)."""
    ix, iy = xy_to_ixy(x, y, res)
    return kring_cells(ix, iy, res, k)


# ---------------------------------------------------------------- SQL emitters
def _spread_bits_sql(e: str) -> str:
    e = f"({e} & 65535)"
    for shift, mask in _MASKS:
        e = f"((({e} | ({e} << {shift})) & {mask}))"
    return e


def cell_encode_sql(ix: str, iy: str, res: int) -> str:
    return f"({res << RES_SHIFT} | ({_spread_bits_sql(ix)} | ({_spread_bits_sql(iy)} << 1)))"


def xy_to_ix_sql(x: str, res: int) -> str:
    n = 1 << res
    return f"least(greatest(cast(floor({x} * {n / EXTENT!r}) as bigint), 0), {n - 1})"


def cell_of_xy_sql(x: str, y: str, res: int) -> str:
    return cell_encode_sql(xy_to_ix_sql(x, res), xy_to_ix_sql(y, res), res)


# ---------------------------------------------------------------- numpy twins
def spread_bits_np(a: np.ndarray) -> np.ndarray:
    a = a.astype(np.int64) & 0xFFFF
    for shift, mask in _MASKS:
        a = (a | (a << shift)) & mask
    return a


def cell_encode_np(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    return (res << RES_SHIFT) | spread_bits_np(ix) | (spread_bits_np(iy) << 1)


def cell_of_xy_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    n = 1 << res
    ix = np.clip(np.floor(x * (n / EXTENT)).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor(y * (n / EXTENT)).astype(np.int64), 0, n - 1)
    return cell_encode_np(ix, iy, res)


def cell_size(res: int) -> float:
    """Edge length of one cell at resolution ``res``."""
    return EXTENT / (1 << res)


def res_for_radius(radius: float, max_res: int = MAX_RES) -> int:
    """Finest resolution whose cell edge is >= radius.

    At this resolution a 3x3 k-ring (k=1) is guaranteed to cover every
    point within ``radius`` — makes cell-prefiltered distance joins exact.
    """
    res = 0
    while res + 1 <= max_res and cell_size(res + 1) >= radius:
        res += 1
    return res


def cells_covering_bbox(
    xmin: float, ymin: float, xmax: float, ymax: float, res: int
) -> np.ndarray:
    """All cell ids at ``res`` whose square intersects the bbox (numpy,
    used by polygon polyfill inside pandas UDFs)."""
    n = 1 << res
    scale = n / EXTENT
    ix0 = int(np.clip(np.floor(xmin * scale), 0, n - 1))
    ix1 = int(np.clip(np.floor(xmax * scale), 0, n - 1))
    iy0 = int(np.clip(np.floor(ymin * scale), 0, n - 1))
    iy1 = int(np.clip(np.floor(ymax * scale), 0, n - 1))
    ixs, iys = np.meshgrid(
        np.arange(ix0, ix1 + 1, dtype=np.int64),
        np.arange(iy0, iy1 + 1, dtype=np.int64),
        indexing="ij",
    )
    return cell_encode_np(ixs.ravel(), iys.ravel(), res)


def compress_bits_np(a: np.ndarray) -> np.ndarray:
    """Inverse of spread_bits_np: gather every second bit back into the
    low 16 — the Morton decode half (classic pair-merge chain)."""
    a = a.astype(np.int64) & 0x55555555
    a = (a | (a >> 1)) & 0x33333333
    a = (a | (a >> 2)) & 0x0F0F0F0F
    a = (a | (a >> 4)) & 0x00FF00FF
    a = (a | (a >> 8)) & 0x0000FFFF
    return a


def cell_to_ixy_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Morton decode: cell ids → integer cell coordinates (ix, iy)."""
    morton = cell.astype(np.int64) & ((1 << RES_SHIFT) - 1)
    return compress_bits_np(morton), compress_bits_np(morton >> 1)
