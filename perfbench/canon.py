"""Correctness references.

Canonical result hashes, shared by the reference builder and the run
check of the batch workloads. A result is canonicalized the way graft's DuckDB parity check
(tools/check.py) compares it: columns sorted by name, pandas dtypes kept,
rows sorted by every column, NaN read as NULL. Two results hash equal
exactly when that check would pass them.

`cdc_mismatches` checks the cdc_tail sink against an independent
latest-cell-wins computation over the mutation log."""
import datetime
import decimal
import glob
import hashlib
import json
import math

import duckdb


def connect():
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql("SET threads = 2")
    return con


def _value(x):
    if x is None:
        return None
    if hasattr(x, "tolist") and not isinstance(x, (str, bytes)):
        x = x.tolist()
    if isinstance(x, float):
        return None if math.isnan(x) else repr(x)
    if isinstance(x, (list, tuple)):
        return [_value(v) for v in x]
    if isinstance(x, dict):
        return {str(k): _value(v) for k, v in sorted(x.items(), key=lambda kv: str(kv[0]))}
    if isinstance(x, (bytes, bytearray)):
        return x.hex()
    if isinstance(x, (datetime.datetime, datetime.date, datetime.time)):
        return x.isoformat()
    if isinstance(x, decimal.Decimal):
        return str(x)
    if isinstance(x, (bool, int, str)):
        return x
    if str(x) in ("NaT", "nan", "<NA>"):
        return None
    return str(x)


def result_hash(rel):
    """(sha256, row count) of a DuckDB relation's canonical form."""
    df = rel.df()
    cols = sorted(df.columns)
    df = df[cols]
    dtypes = [str(t) for t in df.dtypes]
    rows = df.values.tolist()
    rows.sort(key=lambda r: [(x is None, str(type(x)), str(x)) for x in r])
    canon = [cols, dtypes, [[_value(x) for x in r] for r in rows]]
    blob = json.dumps(canon, separators=(",", ":"), sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest(), len(rows)


def parquet_hash(con, result_dir):
    files = sorted(glob.glob(f"{result_dir}/*.parquet"))
    if not files:
        return None, 0
    return result_hash(con.sql(f"SELECT * FROM read_parquet({files!r})"))


# Latest-cell-wins state per (table, rowkey) straight from the WAL: the
# cells put after the row's last tombstone, newest (ts, seq) first; the
# row is deleted when a tombstone has no put after it. (ts, seq) is
# ordered as one HUGEINT key ts * 2^32 + seq.
_REFERENCE_SQL = """
WITH c AS (SELECT "table" AS tbl, rowkey, seq, ts, unnest(cells) AS x FROM wal),
k AS (SELECT *, ts::HUGEINT * 4294967296 + seq AS mk,
             x.ts::HUGEINT * 4294967296 + seq AS ck FROM c),
tomb AS (SELECT tbl, rowkey, max(mk) AS t FROM k WHERE x.kind = 'delete_row' GROUP BY ALL),
live AS (
  SELECT k.tbl, k.rowkey, x.family || ':' || x.qualifier AS q, arg_max(x.value, ck) AS v
  FROM k LEFT JOIN tomb t USING (tbl, rowkey)
  WHERE x.kind = 'put' AND (t.t IS NULL OR k.mk > t.t)
  GROUP BY ALL),
cl AS (SELECT tbl, rowkey, array_to_string(list_sort(list(q || '=' || v)), ';') AS cells
       FROM live GROUP BY ALL),
rws AS (SELECT "table" AS tbl, rowkey, max(ts) AS version FROM wal GROUP BY ALL)
SELECT r.tbl, r.rowkey, r.version, (t.t IS NOT NULL AND l.cells IS NULL) AS deleted,
       coalesce(l.cells, '') AS cells
FROM rws r LEFT JOIN tomb t USING (tbl, rowkey) LEFT JOIN cl l USING (tbl, rowkey)
"""

# The sink appends every updated row state per micro-batch; the final
# state of a key is the one from its last batch.
_SINK_SQL = """
SELECT "table" AS tbl, rowkey, version, deleted,
       coalesce(array_to_string(list_sort(list_transform(map_entries(cells),
                e -> e.key || '=' || e.value)), ';'), '') AS cells
FROM read_parquet(?)
QUALIFY row_number() OVER (PARTITION BY "table", rowkey ORDER BY batch DESC) = 1
"""


def cdc_mismatches(con, wal_dir, out_dir):
    """Rows on which the sink's final state and the reference differ."""
    con.sql(f"""CREATE OR REPLACE VIEW wal AS SELECT * FROM read_json(
        '{wal_dir}/*.jsonl', format = 'newline_delimited',
        columns = {{seq: 'BIGINT', ts: 'BIGINT', "table": 'VARCHAR', rowkey: 'VARCHAR',
                   cells: 'STRUCT(family VARCHAR, qualifier VARCHAR, value VARCHAR,
                                  ts BIGINT, kind VARCHAR)[]'}})""")
    want = set(con.sql(_REFERENCE_SQL).fetchall())
    files = sorted(glob.glob(f"{out_dir}/*.parquet"))
    have = set(con.execute(_SINK_SQL, [files]).fetchall()) if files else set()
    return len(want ^ have)
