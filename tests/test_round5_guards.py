"""Round-5 guard hardening (ADVICE r4 items): the encoded-argmax /
fixed-point operators must REFUSE inputs that would silently overflow or
mis-index, instead of producing wrong rows.

- hough_lines: votes*2^32 argmax encode — compile-time raise when the fine
  grid admits >= 2^31 votes per bin (votes <= n_on_pixels <= nf^2).
- lacunarity_census: the int64 budget 1e6 * nf^2 * occupied is now DERIVED
  from nf, so coarse defaults stay permissive while a res bump
  tightens the occupied-cell cap automatically.
- bilateral: the 256-entry Gaussian range table can only index u8 diffs —
  a band value outside [0,255] raises in-row (raise_error, zero extra
  jobs) instead of returning NULL through element_at.
"""

import numpy as np
import pytest


def _img(spark, arr, byteorder="<"):
    from aira_spark.tiff.encode import write_tiff

    return spark.createDataFrame(
        [
            (
                "img000",
                bytearray(
                    write_tiff(
                        arr[:, :, None],
                        byteorder=byteorder,
                        layout=("strips", 8),
                        geo=(
                            (360.0 / arr.shape[1], 180.0 / arr.shape[0], 0.0),
                            (0.0, 0.0, 0.0, -180.0, 90.0, 0.0),
                        ),
                    )
                ),
            )
        ],
        "image_id string, bytes binary",
    )


def test_hough_encode_guard_raises_at_plan_build(spark):
    from aira_spark.operators.hough import hough_lines

    # res + PATCH_BITS = 16 -> nf^2 = 2^32 possible votes >= 2^31: refuse
    # before any job runs (the guard is compile-time, input untouched)
    with pytest.raises(ValueError, match="overflow int64"):
        hough_lines(spark.range(0), res=12)
    # the default geometry (res=7 -> nf^2 = 2^22) is fine
    # and still plans without error
    hough_lines(_img(spark, np.zeros((4, 4), dtype=np.uint8)))


def test_lacunarity_cap_derived_from_nf(spark):
    from aira_spark.operators.lacunarity import lacunarity_census

    full = np.full((32, 32), 7, dtype=np.uint8)  # 1024 occupied fine cells
    # default geometry: budget 2^63/(1e6 * 32^2) >> 1024 -> runs fine
    assert lacunarity_census(_img(spark, full), res=1).count() == 4
    # res+PATCH_BITS = 17 -> derived cap = 2^63 // (1e6 * 2^34) = 536 < 1024:
    # the same image now exceeds the nf-derived budget even though
    # max_occupied (1e6) would have waved it through
    with pytest.raises(RuntimeError, match="derived int64 budget"):
        lacunarity_census(_img(spark, full), res=13)


def test_bilateral_rejects_non_u8_band(spark):
    from aira_spark.operators.bilateral import bilateral
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    # res=1: the 32 x 32 fine grid holds exactly one pixel per fine cell
    over = np.full((32, 32), 300, dtype=np.uint16)  # > 255: cannot index rt
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match=r"outside \[0,255\]"
    ):
        bilateral(_img(spark, over), res=1).collect()
    # u8 input unaffected
    ok = np.full((32, 32), 200, dtype=np.uint8)
    rows = bilateral(_img(spark, ok), res=1).collect()
    assert rows and all(r["smoothed"] == 200 for r in rows)
