"""Order-insensitive digests of query outputs.

A Spark output and its DuckDB oracle answer get the same digest when
`tools/check_oracle.py` would call them equal: columns are sorted by name,
rows are sorted, numbers compare by value whatever their type (integer,
decimal or float), and floats are compared at 9 significant digits.
"""

import datetime
import decimal
import glob
import hashlib
import json
import math

import pyarrow as pa
import pyarrow.parquet as pq


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f.is_integer() and abs(f) < 2**53:
            return int(f)
        return float(f"{f:.9g}")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return int(v.timestamp() * 10**6)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return [[k, _norm(v[k])] for k in sorted(v)]
    return str(v)


def of_table(table):
    """(row count, sorted column names, digest) of a pyarrow table."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted(json.dumps([_norm(col[i]) for col in data], separators=(",", ":"))
                  for i in range(table.num_rows))
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return table.num_rows, cols, h.hexdigest()


def of_parquet_dir(path):
    """Digest of a Spark parquet output directory."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return of_table(pa.concat_tables([pq.read_table(f) for f in files]))
