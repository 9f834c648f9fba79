"""Image decode as a Spark operator — the multimodal slot, with a REAL
codec.

No image library is available, so `gooselite.png` is a from-scratch
8-bit-grayscale codec (chunk CRCs, zlib inflate, full
None/Sub/Up/Average/Paeth unfiltering), and the probe encodes and
DECODES real images inside Arrow batches.

Oracle design (same round-trip idea as q_pdf_extract): pixels are a
deterministic function of doc_id that SQL can also compute.  Row 0 of
each image is the 16 md5(doc_id) digest bytes; row r is that pattern
left-rotated by r bytes; the encoder cycles filter types 0–4 across
rows.  The probe emits the decoded first and last rows as hex.  Because
unfiltering is a running chain over all previous rows (Up/Average/Paeth
reference row r-1), the LAST row is only correct if every row decoded
correctly — and a byte rotation of a hex string is expressible in SQL
(substr concat).  So the DuckDB hash gate checks the full decode chain.

Scale shape: one linear mapInPandas pass, no shuffle, no collect; the
real-corpus variant reads the binary column from the source table and
drops the encode half.
"""
from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from goose_spark.queries import load

_W = 16  # md5 digest width — row 0 IS the digest


def _height(doc_id: int) -> int:
    return 4 + (doc_id % 13)


def _rows_for(doc_id: int) -> list[bytes]:
    pat = hashlib.md5(str(doc_id).encode()).digest()
    return [pat[r % _W:] + pat[: r % _W] for r in range(_height(doc_id))]


def _codec_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from gooselite.png import read_png_safe, write_png_gray

    for batch in it:
        out = {"doc_id": [], "width": [], "height": [],
               "first_row_hex": [], "last_row_hex": []}
        for doc_id in batch["doc_id"]:
            doc_id = int(doc_id)
            png = write_png_gray(_rows_for(doc_id))
            decoded = read_png_safe(png)
            if decoded is None:  # pipeline contract: degrade, don't die
                w = h = -1
                first = last = ""
            else:
                w, h, rows = decoded
                first, last = rows[0].hex(), rows[-1].hex()
            out["doc_id"].append(doc_id)
            out["width"].append(w)
            out["height"].append(h)
            out["first_row_hex"].append(first)
            out["last_row_hex"].append(last)
        df = pd.DataFrame(out)
        df["width"] = df["width"].astype("int64")
        df["height"] = df["height"].astype("int64")
        yield df


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG encode→decode per document, one shuffle-free mapInPandas
    pass; decoded pixel rows gated against the SQL-computable pattern."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _codec_batches,
        schema=("doc_id long, width long, height long, "
                "first_row_hex string, last_row_hex string"))


# last row = digest rotated by (height-1) mod 16 bytes; one hex char = half
# a byte, so a k-byte rotation is a 2k-char rotation of the hex string.
ORACLE_IMAGE_DECODE = """
WITH base AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR)) AS hex,
           4 + (doc_id % 13) AS h
    FROM documents
)
SELECT doc_id,
       CAST(16 AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       hex AS first_row_hex,
       substr(hex, 2 * ((h - 1) % 16) + 1)
         || substr(hex, 1, 2 * ((h - 1) % 16)) AS last_row_hex
FROM base
"""
