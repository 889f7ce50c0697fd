"""Order-independent digests of query results, shared by the benchmark's
output check (run.py) and the golden-digest generator (make_golden.py).

A result is canonicalized the way the engine's oracle gate compares it:
columns sorted by name, rows sorted, values compared exactly. Each value is
rendered to a string that does not depend on which engine produced it
(decimal scale, timestamp time zone and unit are normalized), so a Spark
result and a DuckDB result with the same values get the same digest."""
import datetime
import decimal
import hashlib
import json
import math


def canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        # A day-truncated timestamp equals the DATE the oracle returns for
        # it, as the engine's oracle gate compares them.
        if v.time() == datetime.time(0):
            return v.date().isoformat()
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def digest(table):
    """(sha256 hex, row count) of a pyarrow Table."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted("\x1f".join(canon(col[i]) for col in data) for i in range(table.num_rows))
    h = hashlib.sha256()
    h.update(",".join(cols).encode())
    for r in rows:
        h.update(b"\n")
        h.update(r.encode())
    return h.hexdigest(), table.num_rows


def digest_parquet_dir(path):
    import pyarrow.parquet as pq
    return digest(pq.read_table(path))
