"""Seeded input generators for the end-to-end benchmark, with planted truth.

Run as its own process (``python3 e2ebench/gen.py --workload W --size N
--seed S --out DIR``) so that generating inputs never raises the benchmark
driver's peak RSS. Everything is derived from the seed with numpy and
written with pyarrow: the engine only ever sees the parquet tables, and the
checks only ever see ``truth.json`` plus the truth tables written here.

crn world (``--workload crn``): an N x N grid of 50 m road cells (2N(N+1)
road arcs) plus boundary-only (BO) stubs planted in seeded cells:
  * snap stubs start 0.03-0.07 m off a grid node, inside snap radius
    0.1, and run shallow into the cell, so snapping must move the start
    onto the node and nothing else touches them;
  * crossing stubs straddle the cell's right wall at a seeded height, so
    each one gives two v303 flags (stub and wall) and one meshblock v201
    flag (a dead end within no face);
  * a seeded hash of ``ngd_uid`` picks the BOs the deltas stage deletes.

image world (``--workload images``): ``synth.make_images`` (20 % of rows in
five hot cells, 5 % exact phash duplicates), every row carrying one of 16
8x8 stand-in images so the pyramid has bytes to decode, plus the 256
jittered convex boundary quads of ``synth.make_boundaries``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CELL_M = 50.0
ORIGIN = 1000.0
SNAP_CLASS, CROSS_CLASS, N_CLASSES = 0, 5, 18
DELETE_MULT = 2654435761
PYRAMID_RES = (7, 6, 5, 4)
TILE_RES = 4
AXIS_BITS = 32


def _write_sharded(table: pa.Table, path: str, shards: int) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // shards)
    for s in range(shards):
        pq.write_table(table.slice(s * step, step),
                       os.path.join(path, f"part-{s:03d}.parquet"))


def deleted_mask(ngd_uid: np.ndarray, seed: int) -> np.ndarray:
    """BOs the deltas stage removes from the current layer; the chain
    applies the same rule as a Column expression."""
    return (ngd_uid.astype(np.int64) * DELETE_MULT + seed) % 7 == 3


def crn_world(n: int, seed: int, out: str) -> dict:
    if n < 2 or n % 2:
        raise ValueError("crn world needs an even grid size >= 2")
    rng = np.random.default_rng(seed)
    k = np.arange((n + 1) * n)
    i, j = (k % (n + 1)).astype(float), (k // (n + 1)).astype(float)
    lo_x, lo_y = ORIGIN + i * CELL_M, ORIGIN + j * CELL_M
    vert = np.stack([lo_x, lo_y, lo_x, lo_y + CELL_M], axis=1)
    horiz = np.stack([ORIGIN + j * CELL_M, ORIGIN + i * CELL_M,
                      ORIGIN + (j + 1) * CELL_M, ORIGIN + i * CELL_M], axis=1)

    c = np.arange(n * n)
    ci, cj = c % n, c // n
    cls = rng.integers(0, N_CLASSES, n * n)
    snap = np.flatnonzero(cls == SNAP_CLASS)
    cross = np.flatnonzero((cls == CROSS_CLASS) & (ci < n - 1))
    cx, cy = ORIGIN + ci * CELL_M, ORIGIN + cj * CELL_M

    r = rng.uniform(0.03, 0.07, len(snap))
    ang = rng.uniform(0.2, 1.3, len(snap))
    # shallow run into the cell (y <= 0.15 cell at x <= 0.8 cell) keeps the
    # stub clear of any crossing stub entering from the left neighbour,
    # which runs at a height of 0.25-0.75 cell
    a, b = rng.uniform(0.55, 0.8, len(snap)), rng.uniform(0.05, 0.15, len(snap))
    snap_v = np.stack([cx[snap] + r * np.cos(ang), cy[snap] + r * np.sin(ang),
                       cx[snap] + a * CELL_M, cy[snap] + b * CELL_M], axis=1)
    h = rng.uniform(0.25, 0.75, len(cross))
    s0, s1 = rng.uniform(0.55, 0.75, len(cross)), rng.uniform(1.25, 1.45, len(cross))
    cross_v = np.stack([cx[cross] + s0 * CELL_M, cy[cross] + h * CELL_M,
                        cx[cross] + s1 * CELL_M, cy[cross] + h * CELL_M], axis=1)

    ids = ([f"v{x}" for x in k] + [f"h{x}" for x in k]
           + [f"sn{x}" for x in snap] + [f"cx{x}" for x in cross])
    n_road, n_bo = 2 * len(k), len(snap) + len(cross)
    orig = ([f"{x:032x}" for x in k] + [f"{x + 10_000_000:032x}" for x in k]
            + ["-1"] * n_bo)
    bo_uid = np.concatenate([snap, cross]) + 1
    verts = np.concatenate([vert, horiz, snap_v, cross_v]).reshape(-1, 2, 2)
    table = pa.table({
        "segment_id": ids,
        "segment_id_orig": orig,
        "segment_type": ["1"] * n_road + ["2"] * n_bo,
        "bo_new": ["0"] * (n_road + n_bo),
        "boundary": ["0"] * (n_road + n_bo),
        "ngd_uid": pa.array([None] * n_road + bo_uid.tolist(), pa.int32()),
        "structure_type": pa.array([None] * n_road + ["Unknown"] * n_bo, pa.string()),
        "vertices": pa.array(verts.tolist(), pa.list_(pa.list_(pa.float64()))),
    })
    # shuffle rows so no scan partition holds only one arc kind
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    _write_sharded(table, os.path.join(out, "world"), 8)
    return {
        "grid": n,
        "rows": table.num_rows,
        "snap_stubs": int(len(snap)),
        "cross_stubs": int(len(cross)),
        "faces": n * n,
        "deleted_bos": int(deleted_mask(bo_uid, seed).sum()),
    }


def _pip_counts(x: np.ndarray, y: np.ndarray, quads: np.ndarray,
                res: int, extent: float) -> np.ndarray:
    """Boundary-inclusive point-in-quad hits per quad. Jitter keeps every
    quad within one grid cell of its own, so each point is tested against
    the 3 x 3 quads around its grid cell only."""
    g = 1 << res
    cell = extent / g
    gi = np.clip((x // cell).astype(np.int64), 0, g - 1)
    gj = np.clip((y // cell).astype(np.int64), 0, g - 1)
    counts = np.zeros(g * g, dtype=np.int64)
    for di in (-1, 0, 1):
        for dj in (-1, 0, 1):
            qi, qj = gi + di, gj + dj
            ok = (qi >= 0) & (qi < g) & (qj >= 0) & (qj < g)
            q = (qi * g + qj)[ok]
            px, py = x[ok], y[ok]
            v = quads[q]  # (m, 4, 2), counter-clockwise
            inside = np.ones(len(q), dtype=bool)
            for e in range(4):
                ax, ay = v[:, e, 0], v[:, e, 1]
                bx, by = v[:, (e + 1) % 4, 0], v[:, (e + 1) % 4, 1]
                inside &= (bx - ax) * (py - ay) - (by - ay) * (px - ax) >= 0
            np.add.at(counts, q[inside], 1)
    return counts


def image_world(n: int, seed: int, out: str) -> dict:
    from egp_crn_spark.config import EXTENT
    from egp_crn_spark.functions.imagecodec import encode_image
    from egp_crn_spark.synth import make_boundaries, make_images

    pdf = make_images(n, seed=seed, with_bytes=False, fast_ids=True)
    rng = np.random.default_rng(seed + 1)
    payloads = [encode_image(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8), "png")
                for _ in range(16)]
    pdf["bytes"] = [payloads[p] for p in rng.integers(0, 16, n)]
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    _write_sharded(table, os.path.join(out, "images"), 8)

    bnd = make_boundaries(res=TILE_RES, seed=seed)
    pq.write_table(pa.Table.from_pandas(bnd, preserve_index=False),
                   os.path.join(out, "boundaries.parquet"))

    phash = pdf["phash"].to_numpy(np.int64)
    ix = (phash >> AXIS_BITS) & ((1 << AXIS_BITS) - 1)
    iy = phash & ((1 << AXIS_BITS) - 1)
    scale = EXTENT / (1 << AXIS_BITS)
    x, y = (ix + 0.5) * scale, (iy + 0.5) * scale
    quads = np.asarray(bnd["vertices"].tolist(), dtype=np.float64)
    pip = _pip_counts(x, y, quads, TILE_RES, EXTENT)

    # planted truth for near-dup: every pair of rows with identical phash
    ids = pdf["image_id"].to_numpy()
    order = np.argsort(phash, kind="stable")
    ph_sorted = phash[order]
    starts = np.flatnonzero(np.r_[True, ph_sorted[1:] != ph_sorted[:-1]])
    ends = np.r_[starts[1:], len(order)]
    a_ids, b_ids = [], []
    for s, e in zip(starts[ends - starts > 1], ends[ends - starts > 1]):
        grp = sorted(ids[order[s:e]])
        for p in range(len(grp)):
            for q in range(p + 1, len(grp)):
                a_ids.append(grp[p])
                b_ids.append(grp[q])
    pq.write_table(pa.table({"a_id": a_ids, "b_id": b_ids}),
                   os.path.join(out, "dup_pairs.parquet"))

    def distinct_cells(res: int) -> int:
        sh = AXIS_BITS - res
        return int(len(np.unique((ix >> sh) << res | (iy >> sh))))

    return {
        "rows": n,
        "tiles": distinct_cells(TILE_RES),
        "pip_counts": {str(uid): int(cnt) for uid, cnt
                       in zip(bnd["bb_uid"], pip) if cnt},
        "dup_pairs": len(a_ids),
        "pyramid_levels": [distinct_cells(r) for r in PYRAMID_RES],
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["crn", "images"], required=True)
    ap.add_argument("--size", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    tmp = args.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make = crn_world if args.workload == "crn" else image_world
    truth = make(args.size, args.seed, tmp)
    truth["seed"] = args.seed
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    os.replace(tmp, args.out)


if __name__ == "__main__":
    main()
