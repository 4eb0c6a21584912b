"""Seeded benchmark inputs, written as parquet under the run's work directory.

Every table is a pure function of (size, seed): the same seed gives the same
rows. The planted violations are fixed arithmetic, so the output checks know
the expected counts without a second engine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# lineitem-shaped table: files written, so a scan runs on every core
LINEITEM_FILES = 8
# planted-violation rates for the lineitem-shaped table (1 in N rows)
NULL_ORDERKEY_EVERY = 1000
BAD_QUANTITY_EVERY = 500
BAD_RETURNFLAG_EVERY = 700


def write_lineitem(path: str, n_rows: int, seed: int) -> str:
    """TPC-H lineitem-shaped rows written with pyarrow as LINEITEM_FILES
    parquet files: l_orderkey repeats (about 4 lines per order),
    l_linenumber takes 7 values, l_returnflag 3 values plus a planted 'X';
    l_orderkey is sometimes NULL and l_quantity sometimes outside 1..50."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    quantity = rng.integers(1, 51, n_rows).astype(np.float64)
    bad_q = rng.integers(0, BAD_QUANTITY_EVERY, n_rows) == 0
    quantity[bad_q] = np.where(rng.integers(0, 2, int(bad_q.sum())) == 0, 0.0, 51.0)
    price = 900.0 + rng.integers(0, 100_000, n_rows) / 100.0
    orderkey = pa.array(
        rng.integers(1, max(2, n_rows // 4 + 1), n_rows),
        mask=rng.integers(0, NULL_ORDERKEY_EVERY, n_rows) == 0,
    )
    returnflag = np.array(["A", "N", "R"])[rng.integers(0, 3, n_rows)]
    returnflag[rng.integers(0, BAD_RETURNFLAG_EVERY, n_rows) == 0] = "X"
    table = pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(1, 20_001, n_rows),
            "l_quantity": quantity,
            "l_discount": rng.integers(0, 11, n_rows) / 100.0,
            "l_extendedprice": np.round(quantity * price, 2),
            "l_returnflag": returnflag,
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_rows)],
            "l_linenumber": rng.integers(1, 8, n_rows).astype(np.int32),
        }
    )
    os.makedirs(path, exist_ok=True)
    step = -(-n_rows // LINEITEM_FILES)
    for i in range(LINEITEM_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))
    return path


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> str:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path


def warm_page_cache(path: str) -> int:
    """Read every file under ``path`` once so timed scans hit the page cache;
    returns the bytes read."""
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            with open(os.path.join(root, name), "rb") as fh:
                while chunk := fh.read(1 << 24):
                    total += len(chunk)
    return total


def planted_image_violations(n_images: int) -> dict[str, int]:
    """Unexpected counts the image suite must report over ids 0..n-1 of
    ``testing.images.distributed_images_df``: every 97th image is truncated
    (undecodable, so every decode-based check also fails it), every 89th has
    wrong dims, every 83rd a wrong fmt, every 79th a flipped phash bit, and
    every 73rd a NULL caption."""
    ids = range(n_images)

    def count(every: int, or_corrupt: bool) -> int:
        return sum(1 for i in ids if i % every == 0 or (or_corrupt and i % 97 == 0))

    return {
        "expect_image_bytes_to_be_decodable": count(97, False),
        "expect_image_dims_to_match_metadata": count(89, True),
        "expect_image_fmt_to_match_metadata": count(83, True),
        "expect_image_phash_to_match": count(79, True),
        "expect_column_values_to_not_be_null": count(73, False),
        "expect_column_values_to_be_in_set": 0,
    }
