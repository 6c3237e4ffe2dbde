"""The one parquet writer for table data: per-type column encodings.

Every engine write of hypertable, chunk and plain-table data goes
through :func:`writer`, so the file encoding is decided here and nowhere
else. The reference picks a compression algorithm per column type
(``tsl/src/compression/compression.h``): GORILLA for floats, DELTADELTA
for integers and timestamps, DICTIONARY for low-cardinality values. The
parquet analog:

- ``FloatType``/``DoubleType`` top-level columns are written PLAIN, no
  dictionary, and zstd does the rest — the GORILLA slot. Spark's default
  RLE_DICTIONARY gave every small file its own dictionary of nearly
  unique measurements (17.1 of 39.7 B/row on the tsbs_read store).
- every other column keeps parquet's default RLE_DICTIONARY (which
  falls back to PLAIN once the dictionary stops paying): segmentby
  strings, tags and timestamps repeat within a file.
- one zstd level for every file, :data:`ZSTD_LEVEL`.

The per-column switch is a parquet-mr option keyed by the column's dot
path, so a float column whose own name contains a dot cannot be
addressed and keeps its dictionary (still lossless; only larger).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql.types import DoubleType, FloatType

# tsbs_read store (seed 1, table bytes): 31.45 B/row at zstd 9 against
# 33.80 at parquet's default level 3; level 12 saved 0.5 B/row more but
# nearly doubled the preload + compress time
ZSTD_LEVEL = 9


def writer(
    df: DataFrame,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
    bloom: Sequence[str] = (),
) -> DataFrameWriter:
    """``df.write`` with the engine's parquet encoding: zstd at
    :data:`ZSTD_LEVEL`, no dictionary on float columns, and a bloom
    filter on each ``bloom`` column (compression's segmentby keys)."""
    w = (
        df.write.mode(mode)
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", str(ZSTD_LEVEL))
    )
    for f in df.schema.fields:
        if isinstance(f.dataType, (FloatType, DoubleType)):
            w = w.option(f"parquet.enable.dictionary#{f.name}", "false")
    for col in bloom:
        w = w.option(f"parquet.bloom.filter.enabled#{col}", "true")
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w
