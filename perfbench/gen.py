"""Seeded generator for the grid workloads.

Writes one long-format array in the shape flox reduces: a value array
plus its `by` arrays, one row per element.

    t      int64    position (0 .. n-1), the scan order
    doy    int32    366 groups, the ERA5DayOfYear shape
    cell   int64    n/16 groups of about 16 rows, the RandomBigArray shape
    v      float64  standard normal x 1000, rounded to whole numbers, 5% NaN
    cents  int64    exact integer amounts in [-10^6, 10^6)
    w      float64  hundredths in (0, 1]

v holds whole numbers so that its sums are exact in any order, and w
holds hundredths so that its decimal(18,2) cast never rounds: the
reference results (check.py) can then be compared with the library's
bit for bit on exact columns and within 1e-9 relative on the rest.

The same (seed, n) always gives byte-identical parquet: numpy's PCG64
stream is fixed by the seed and pyarrow writes no timestamps.
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NDOY = 366
ROWS_PER_CELL = 16
NAN_SHARE = 0.05
ROW_GROUPS = 16


def table(seed, n):
    rng = np.random.default_rng(seed)
    ncell = n // ROWS_PER_CELL
    v = np.rint(rng.standard_normal(n) * 1000.0)
    v[rng.random(n) < NAN_SHARE] = np.nan
    return pa.table({
        "t": np.arange(n, dtype=np.int64),
        "doy": rng.integers(0, NDOY, n, dtype=np.int32),
        "cell": rng.integers(0, ncell, n, dtype=np.int64),
        "v": v,
        "cents": rng.integers(-10**6, 10**6, n, dtype=np.int64),
        "w": rng.integers(1, 101, n) / 100.0,
    })


def write(path, seed, n):
    """Write the grid parquet to `path`; return its stats record."""
    tbl = table(seed, n)
    # row groups of n/16 rows let Spark split the file evenly over cores
    pq.write_table(tbl, path, row_group_size=n // ROW_GROUPS,
                   compression="snappy")
    v = tbl.column("v").to_numpy()
    return {
        "seed": seed,
        "n": n,
        "groups_doy": NDOY,
        "groups_cell": n // ROWS_PER_CELL,
        "nan_share": float(np.isnan(v).mean()),
        "bytes_in_memory": tbl.nbytes,
    }


if __name__ == "__main__":
    # usage: python3 gen.py <out.parquet> <seed> <n>
    print(write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])))
