"""Engine-neutral, order-independent output checksums.

Both engines hand their result over as an Arrow table (Spark through
``DataFrame.toArrow``, DuckDB through ``fetch_arrow_table``). The table is
put into one canonical form — columns sorted by name, integers widened to
int64, floats to float64 with ``-0.0`` folded into ``0.0`` and every NaN made
the same NaN, booleans as int64 — and every row is hashed with
``pandas.util.hash_pandas_object``. The checksum is the row count plus the
sum of the row hashes modulo 2**64, so it ignores row order but counts
duplicate rows, and one dropped, added or changed row changes it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa


def canonical_frame(table: pa.Table) -> pd.DataFrame:
    names = sorted(table.column_names)
    out = {}
    for name in names:
        col = table.column(name)
        t = col.type
        if pa.types.is_boolean(t) and col.null_count == 0:
            out[name] = col.to_numpy().astype(np.int64)
        elif pa.types.is_integer(t) and col.null_count == 0:
            out[name] = col.to_numpy().astype(np.int64)
        elif pa.types.is_integer(t) or pa.types.is_floating(t) \
                or pa.types.is_boolean(t):
            v = col.cast(pa.float64()).to_numpy(zero_copy_only=False)
            v = v + 0.0
            v[np.isnan(v)] = np.nan
            out[name] = v
        else:
            out[name] = pd.Series(col.to_pylist(), dtype=object)
    return pd.DataFrame(out, columns=names)


def checksum(table: pa.Table) -> dict:
    """``{"rows", "sum", "columns"}`` of a result table; see module doc."""
    frame = canonical_frame(table)
    if len(frame):
        h = pd.util.hash_pandas_object(frame, index=False).to_numpy()
        total = int(np.add.reduce(h, dtype=np.uint64))
    else:
        total = 0
    return {"rows": int(len(frame)), "sum": f"{total:016x}",
            "columns": list(frame.columns)}
