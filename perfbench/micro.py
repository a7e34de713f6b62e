"""Single-process timings of the functions.* kernels on fixed seeded numpy
arrays: rows (or pixels) per second, median of several calls."""

from __future__ import annotations

import statistics
import time

import numpy as np

from etf_topox_spark.functions import cells, coords, geom, image_codec


def _rate(fn, n: int, reps: int = 3) -> float:
    fn()  # first call faults in the arrays
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n / statistics.median(times)


def gridded_edges(n: int, rng: np.random.Generator):
    """Unit-grid edges in 2×2 cells: the shape the topology kernel sees."""
    cell = np.repeat(np.arange(n // 24 + 1, dtype=np.int64), 24)[:n]
    cx, cy = (cell % 400) * 2.0, (cell // 400) * 2.0
    x1 = cx + rng.integers(0, 2, n)
    y1 = cy + rng.integers(0, 2, n)
    horiz = rng.integers(0, 2, n).astype(bool)
    x2 = np.where(horiz, x1 + 1.0, x1)
    y2 = np.where(horiz, y1, y1 + 1.0)
    return x1, y1, x2, y2, rng.integers(0, 1 << 20, n), np.zeros(n, np.int64), cell


def kernel_rates(seed: int) -> dict[str, float]:
    rng = np.random.default_rng([seed, 0xF00])
    n = 500_000
    x = rng.integers(-2_000_000, 2_000_000, n) / 1000.0
    y = rng.integers(-900_000, 900_000, n) / 10000.0
    nb = 5_000
    bx, by = x[:nb] % 170, y[:nb]
    bw, bh = rng.uniform(0, 3, nb), rng.uniform(0, 3, nb)
    edges = gridded_edges(100_000, rng)
    imgs = [
        image_codec.png_encode(
            rng.integers(0, 256, (128, 128, 3), dtype=np.uint8) // 16 * 16
        )
        for _ in range(8)
    ]
    px = len(imgs) * 128 * 128
    return {
        "functions.pack_point_rows_per_s": _rate(lambda: coords.pack_point(x, y), n),
        "functions.latlng_to_cell_rows_per_s": _rate(
            lambda: cells.latlng_to_cell(x, y, 8), n
        ),
        "functions.bbox_cover_rows_per_s": _rate(
            lambda: cells.bbox_cover(bx, by, bx + bw, by + bh, 8), nb
        ),
        "functions.segment_intersections_rows_per_s": _rate(
            lambda: geom.segment_intersections_grouped(*edges), len(edges[0])
        ),
        "functions.decode_px_per_s": _rate(
            lambda: [image_codec.decode(b, "png") for b in imgs], px
        ),
    }
