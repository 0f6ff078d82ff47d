"""Microbenchmarks of the pure-Python ``functions`` kernels, run without
Spark on seeded arrays.

Each kernel is timed in repeated blocks of calls; the reported figure is
the median block's time per unit (value, sketch or image), so one slow
block (a GC pause, a noisy neighbour) does not move it.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from spark_alchemy_spark.functions import agkn, pyxxh, sketch_codec, strm

#: lg_k of the sketches the kernels see: the benchmark's sketch precision
LG_K = 14
BLOCKS = 5
BLOCK_SECONDS = 0.04


def _per_unit(fn, units: int) -> float:
    """Median seconds per unit over ``BLOCKS`` blocks of repeated calls."""
    fn()  # first call pays imports and allocations
    reps = 1
    t0 = time.perf_counter()
    fn()
    one = time.perf_counter() - t0
    if one > 0:
        reps = max(1, int(BLOCK_SECONDS / one))
    times = []
    for _ in range(BLOCKS):
        t0 = time.perf_counter()
        for _ in range(reps):
            fn()
        times.append((time.perf_counter() - t0) / (reps * units))
    return statistics.median(times)


def run(seed: int) -> dict:
    rng = np.random.default_rng([seed, 99])
    longs = rng.integers(-(1 << 62), 1 << 62, 100_000, dtype=np.int64)
    coupons = sketch_codec.coupons_for_longs(longs)
    # a realistic per-group sketch: a few hundred distinct coupons
    small = [int(c) for c in np.unique(coupons[:300])]
    images = [
        sketch_codec.serialize_coupons(
            [int(c) for c in np.unique(coupons[i * 40 : i * 40 + 40])], LG_K
        )
        for i in range(64)
    ]
    dense = sketch_codec.sketch_bytes_from_hashes_vec(longs[:20_000], LG_K)
    agkn_image = agkn.ds_to_agkn(dense)
    return {
        "functions.pyxxh.xxh64_longs.ns_per_value": 1e9
        * _per_unit(lambda: pyxxh.xxh64_longs(longs), len(longs)),
        "functions.sketch_codec.coupons_for_longs.ns_per_value": 1e9
        * _per_unit(lambda: sketch_codec.coupons_for_longs(longs), len(longs)),
        "functions.sketch_codec.serialize_coupons.us_per_sketch": 1e6
        * _per_unit(lambda: sketch_codec.serialize_coupons(small, LG_K), 1),
        "functions.sketch_codec.union_images.us_per_image": 1e6
        * _per_unit(lambda: sketch_codec.union_images(images), len(images)),
        "functions.agkn.ds_to_agkn.ms_per_sketch": 1e3
        * _per_unit(lambda: agkn.ds_to_agkn(dense), 1),
        "functions.agkn.agkn_cardinality.us_per_sketch": 1e6
        * _per_unit(lambda: agkn.agkn_cardinality(agkn_image), 1),
        "functions.strm.ds_to_strm.ms_per_sketch": 1e3
        * _per_unit(lambda: strm.ds_to_strm(dense), 1),
    }
