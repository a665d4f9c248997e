"""aira_spark: PySpark-native raster spatial-join + tiling engine.

A from-scratch engine over tables of (image_id, bytes, w, h, fmt, caption,
phash) rows. TIFF decode semantics follow the reference reader at
/root/reference (mattiapenati/aira); all query execution is idiomatic Spark
DataFrame + vectorized pandas/Arrow UDFs.
"""

__version__ = "0.1.0"

import sys

# Every UDF of this package unpickles through this module, so this runs in
# each Python worker before its next task calls importlib.invalidate_caches().
if sys.version_info < (3, 12):
    from ._zipguard import install

    install()
