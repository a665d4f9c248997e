"""IFD-structure dump sinks — the engine's `aira tiffdump` equivalent.

Reference parity (SURVEY.md §2.1 K1/K2, S11):
  K1 terminal dump  crates/aira-cli/src/cmd/tiffdump.rs:263-344
  K2 JSON dump      crates/aira-cli/src/cmd/tiffdump.rs:134-261
  S11 custom lookup crates/aira-tiff/src/metadata.rs:147-154,285-312

Spark-first shape: the walk happens once inside an Arrow-batched UDF and
materializes a flat entries DataFrame — one row per (image_id, page, entry) —
which then feeds stock sinks (`write.json`, `toJSON`, `show`) instead of a
hand-rolled streaming JSON writer; the terminal and JSON forms over local
files are `python -m aira_spark tiffdump [--json]` (__main__.py).  Like the CLI, Rationals are kept exact as
num/den and only divided at *print* time (tiffdump.rs:93-110), and value
lists are truncated to `max_items` with a trailing ellipsis marker
(tiffdump.rs:274-281).
"""

from __future__ import annotations

from collections.abc import Iterator
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as Ty

from ..tiff import tags as T
from ..tiff.meta import TiffError, entry_value, walk_directories

# tag -> canonical name, introspected from the tag catalog (tag.rs:12-308)
TAG_NAMES: dict[int, str] = {
    v: n.title().replace("_", "")
    for n, v in vars(T).items()
    if n.isupper()
    and isinstance(v, int)
    and not n.startswith(("DTYPE_", "COMPRESSION_", "PREDICTOR_", "SAMPLE_FORMAT_"))
}

DTYPE_NAMES = {
    1: "Byte", 2: "Ascii", 3: "Short", 4: "Long", 5: "Rational", 6: "SignedByte",
    7: "Undefined", 8: "SignedShort", 9: "SignedLong", 10: "SignedRational",
    11: "Float", 12: "Double", 13: "Ifd", 16: "BigLong", 17: "BigSignedLong",
    18: "BigIfd",
}

ENTRY_SCHEMA = Ty.StructType(
    [
        Ty.StructField("image_id", Ty.StringType()),
        Ty.StructField("page", Ty.IntegerType()),
        Ty.StructField("tag", Ty.IntegerType()),
        Ty.StructField("tag_name", Ty.StringType()),
        Ty.StructField("dtype", Ty.IntegerType()),
        Ty.StructField("dtype_name", Ty.StringType()),
        Ty.StructField("count", Ty.LongType()),
        Ty.StructField("value", Ty.StringType()),
        Ty.StructField("error", Ty.StringType()),
    ]
)


def _fmt_value(v, max_items: int) -> str:
    """CLI-style value rendering: Ratio as float at print time only, lists
    truncated to max_items with '...'."""
    if isinstance(v, tuple) and len(v) == 2 and all(isinstance(x, int) for x in v):
        return str(v[0] / v[1]) if v[1] else f"{v[0]}/0"
    if isinstance(v, (bytes, bytearray)):
        shown = v[:max_items]
        body = ", ".join(str(b) for b in shown)
        return f"[{body}{', ...' if len(v) > max_items else ''}]"
    if isinstance(v, list):
        shown = [_fmt_value(x, max_items) for x in v[:max_items]]
        return f"[{', '.join(shown)}{', ...' if len(v) > max_items else ''}]"
    return str(v)


def _dump_rows(image_id: str, buf: bytes, max_items: int) -> list[dict]:
    try:
        bo, _version, dirs = walk_directories(bytes(buf))
    except TiffError as exc:
        return [dict(image_id=image_id, page=None, tag=None, tag_name=None,
                     dtype=None, dtype_name=None, count=None, value=None,
                     error=str(exc))]
    rows = []
    for d in dirs:
        for e in d.entries:
            try:
                v = entry_value(e.dtype, e.count, e.raw, bo)
                if isinstance(v, list) and e.count == 1 and e.dtype != T.DTYPE_BYTE:
                    v = v[0]  # scalar entries print unbracketed, like the CLI
                val = _fmt_value(v, max_items)
                err = None
            except TiffError as exc:  # undecodable entry: keep the row, mark it
                val, err = None, str(exc)
            rows.append(
                dict(
                    image_id=image_id,
                    page=d.index,
                    tag=e.tag,
                    tag_name=TAG_NAMES.get(e.tag, f"Unknown({e.tag})"),
                    dtype=e.dtype,
                    dtype_name=DTYPE_NAMES.get(e.dtype, f"Unknown({e.dtype})"),
                    count=e.count,
                    value=val,
                    error=err,
                )
            )
    return rows


def ifd_entries(images: DataFrame, max_items: int = 10) -> DataFrame:
    """One row per (image_id, page, entry) across every page of every image."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ENTRY_SCHEMA.fieldNames()
        for pdf in batches:
            out = []
            for img_id, buf in zip(pdf["image_id"], pdf["bytes"]):
                out.extend(_dump_rows(img_id, buf, max_items))
            yield pd.DataFrame(out, columns=cols)

    return images.select("image_id", "bytes").mapInPandas(fn, schema=ENTRY_SCHEMA)

