"""Output checks, run outside every timed closure.

- Registry ops with an oracle: the op's rows must equal the rows of its
  DuckDB ``oracle`` SQL over the same parquet tables, compared as
  order-insensitive multisets of canonicalised cells (floats to 12
  significant digits), with the same column names; the canonicalisation
  is the test suite's (``tests/oracle_utils.py``).
- Rows-only registry ops: the row count must equal the count recorded in
  ``expected_rows.json`` for the generated tables.
- Raster ops: Spark's output must equal the same numpy model applied
  driver-side to the generated grid, and masked pixels must carry the
  op's NoData value.
"""

from __future__ import annotations

import numpy as np
from tests.oracle_utils import rows_to_multiset


def check_against_oracle(df, con, oracle_sql: str) -> str | None:
    """None when ``df`` equals the oracle's result, else why not."""
    cols = df.columns
    rows = [tuple(r) for r in df.collect()]
    res = con.execute(oracle_sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if sorted(cols) != sorted(duck_cols):
        return f"columns {sorted(cols)} != oracle {sorted(duck_cols)}"
    if len(rows) != len(duck_rows):
        return f"{len(rows)} rows != oracle {len(duck_rows)}"
    if rows_to_multiset(rows, cols) != rows_to_multiset(duck_rows, duck_cols):
        return "values differ from oracle"
    return None


def check_row_count(df, expected: int | None) -> str | None:
    if expected is None:
        return "no recorded row count"
    n = df.count()
    return None if n == expected else f"{n} rows != recorded {expected}"


def check_grid(got: np.ndarray, want: np.ndarray, masked: np.ndarray, nodata, rtol: float) -> str | None:
    """Compare a (pixels, outputs) result with the driver-side numpy
    reference; ``masked`` rows must hold ``nodata`` instead."""
    if got.shape != want.shape:
        return f"shape {got.shape} != {want.shape}"
    nd = np.asarray(nodata, dtype=np.float64)
    g_masked = got[masked]
    if np.isnan(nd):
        bad_mask = ~np.isnan(g_masked)
    else:
        bad_mask = g_masked != nd
    if bad_mask.any():
        return f"{int(bad_mask.any(axis=1).sum())} masked pixels lack nodata {nodata}"
    g, w = got[~masked], want[~masked]
    if not np.allclose(g, w, rtol=rtol, atol=rtol):
        worst = float(np.nanmax(np.abs(g - w)))
        return f"valid pixels differ from numpy reference (max abs diff {worst:.3g})"
    return None
