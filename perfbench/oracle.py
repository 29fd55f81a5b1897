"""Expected results from the DuckDB oracle, as digests the JVM side
recomputes from the rows the engine collects (see Digest.scala): columns
sorted by name, values rendered canonically, rows sorted, SHA-256.
"""
import datetime as dt
import decimal
import hashlib
import os
import struct

import duckdb
import pyarrow as pa

from gen import BASE_TABLES

EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _bits(x):
    if x != x:
        return "NaN"
    return str(struct.unpack("<q", struct.pack("<d", x))[0])


def _escape(s):
    return s.replace("\\", "\\\\").replace("\u0001", "\\1").replace("\n", "\\n")


def canon(v, t):
    if v is None:
        return "\\N"
    if pa.types.is_floating(t):
        return _bits(float(v))
    if pa.types.is_boolean(t):
        return "true" if v else "false"
    if pa.types.is_integer(t):
        return str(v)
    if pa.types.is_decimal(t):
        return format(v.normalize() if v != 0 else decimal.Decimal(0), "f")
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return _escape(v)
    if pa.types.is_timestamp(t):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if pa.types.is_date(t):
        return v.isoformat()
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return v.hex()
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return "[" + ",".join(canon(x, t.value_type) for x in v) + "]"
    if pa.types.is_struct(t):
        return "{" + ",".join(canon(v[t.field(i).name], t.field(i).type)
                              for i in range(t.num_fields)) + "}"
    if pa.types.is_map(t):
        return "<" + ",".join(sorted(canon(k, t.key_type) + ":" + canon(x, t.item_type)
                                     for k, x in v)) + ">"
    return str(v)


def digest(table):
    names = sorted(table.column_names)
    cols = [(table.column(n).to_pylist(), table.schema.field(n).type) for n in names]
    rows = sorted("\u0001".join(canon(vals[i], t) for vals, t in cols)
                  for i in range(table.num_rows))
    return {"digest": hashlib.sha256("\n".join(rows).encode("utf-8")).hexdigest(),
            "rows": table.num_rows}


def expected(data_dir, queries):
    """{name: {digest, rows}} for each oracle SQL over the tables in data_dir."""
    con = duckdb.connect()
    con.sql("SET threads TO %d" % (os.cpu_count() or 1))
    for t in BASE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return {name: digest(con.sql(sql).arrow()) for name, sql in queries.items()}
