"""Inverse-mapped NN regrid (operators/warp.py): brute-force numpy mirror
from the closed-form catalog, pull-totality over finer-than-source target
grids, and composite order independence."""

import numpy as np


def _brute_warp(keys):
    """{(tx, ty): max val} + per-image covered-cell counts, straight from
    the closed-form catalog (derive_params + the synthetic pixel formula),
    iterating target cells per footprint — no Spark, no TIFF decode."""
    from aira_spark.operators.warp import DEFAULT_TSX, DEFAULT_TSY, X0, Y0
    from aira_spark.sources.images import derive_params

    tsx, tsy = DEFAULT_TSX, DEFAULT_TSY
    grid: dict[tuple[int, int], int] = {}
    per_image: dict[int, int] = {}
    for k in keys:
        p = derive_params(k)
        w, h = p["w"], p["h"]
        cx, cy = p["corner_x"], p["corner_y"]
        sx, sy = p["scale_x"], p["scale_y"]
        top = cy + h * sy
        n_cov = 0
        for tx in range(
            int(np.floor((cx - X0) / tsx)) - 1,
            int(np.floor((cx + w * sx - X0) / tsx)) + 2,
        ):
            c = int(np.floor(((X0 + (tx + 0.5) * tsx) - cx) / sx))
            if not 0 <= c < w:
                continue
            for ty in range(
                int(np.floor((cy - Y0) / tsy)) - 1,
                int(np.floor((cy + h * sy - Y0) / tsy)) + 2,
            ):
                r = int(np.floor((top - (Y0 + (ty + 0.5) * tsy)) / sy))
                if not 0 <= r < h:
                    continue
                val = (r * 7 + c * 13 + k) % 256
                n_cov += 1
                key = (tx, ty)
                if grid.get(key, -1) < val:
                    grid[key] = val
        per_image[k] = n_cov
    return grid, per_image


def _census(grid):
    from aira_spark.operators.warp import WARP_PATCH_BITS

    pb = 1 << WARP_PATCH_BITS
    out: dict[tuple[int, int], list] = {}
    for (tx, ty), v in grid.items():
        key = (tx // pb, ty // pb)
        st = out.setdefault(key, [0, 0, 256, -1])
        st[0] += 1
        st[1] += v
        st[2] = min(st[2], v)
        st[3] = max(st[3], v)
    return {k: tuple(v) for k, v in out.items()}


def _keys(spark, sf_dir, modulo=8):
    rows = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .selectExpr("p_partkey AS k")
        .filter(f"p_partkey % {modulo} = 0")
        .collect()
    )
    return sorted(r["k"] for r in rows)


def test_warp_census_matches_brute_force(spark, sf_dir):
    import __spark_entry__ as em

    got = {
        (r["wx"], r["wy"]): (r["n_cells"], r["sum_val"], r["min_val"], r["max_val"])
        for r in em.q_warp(spark, sf_dir).collect()
    }
    grid, _ = _brute_warp(_keys(spark, sf_dir))
    assert got == _census(grid)


def test_warp_pulls_total_over_finer_target(spark, sf_dir):
    """At least one catalog scene is coarser than the target grid (sx spans
    0.002..0.018 vs tsx = 1/128); the inverse map must cover MORE target
    cells than the scene has pixels — the hole-free pull a forward scatter
    (<= one cell per pixel center) cannot produce."""
    from aira_spark.sources.images import derive_params

    keys = _keys(spark, sf_dir)
    _, per_image = _brute_warp(keys)
    upsampled = [
        k for k in keys if per_image[k] > derive_params(k)["w"] * derive_params(k)["h"]
    ]
    assert upsampled, "catalog should contain at least one coarse scene"


def test_warp_composite_is_order_independent(spark, sf_dir):
    """MAX compositing is idempotent/commutative: the doubled catalog
    (every scene twice) warps to the identical census."""
    import __spark_entry__ as em
    from aira_spark.operators.warp import warp_census

    imgs = em._images(spark, sf_dir, modulo=8)
    single = {
        tuple(r) for r in warp_census(imgs).collect()
    }
    doubled = {
        tuple(r)
        for r in warp_census(imgs.unionByName(imgs)).collect()
    }
    assert single == doubled
