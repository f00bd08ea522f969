"""Expected outputs, computed with DuckDB, and the comparison.

Query steps use the package's own oracle twins (``workload.ORACLE_SQL``)
over the unshuffled base fixture; row order is the only thing a seed
changes there, so one computation serves every seed.  The ETL steps have
a DuckDB twin of their whole extract → transform → load → stream-append
→ read-back path (``ETL_SQL``), computed per seed because the seed
decides where the dirty rows go and which rows the stream appends.

Results are compared in canonical form, the same canon as the oracle
tests (columns sorted by name, rows sorted, floats rounded to 6 dp),
extended so that Arrow-fetched values and DuckDB values meet: every
number becomes a rounded float, timestamps become naive UTC ISO
strings, nested values are canonicalized recursively.  What is stored
and compared is the row count and a SHA-256 of the canonical rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
from pathlib import Path


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, (bool, int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return round(f, 6) + 0.0
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return [[k, _canon_value(x)] for k, x in sorted(v.items())]
    if isinstance(v, (list, tuple)):
        return [_canon_value(x) for x in v]
    return v


def digest(columns: list[str], rows) -> dict:
    """Row count and digest of the canonical form of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[_canon_value(r[i]) for i in order] for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    blob = json.dumps([[columns[i] for i in order], out], separators=(",", ":"))
    return {"rows": len(out), "sha256": hashlib.sha256(blob.encode()).hexdigest()}


def digest_arrow(tbl) -> dict:
    cols = tbl.column_names
    data = [tbl.column(c).to_pylist() for c in cols]
    return digest(cols, list(zip(*data)) if data else [])


def _duck(fixture: Path):
    import duckdb

    from etlbigdata_spark.benchutil import register_duck_views

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    register_duck_views(con, str(fixture))
    return con


def query_expected(fixture: Path, steps: list[str], out: Path) -> dict:
    """Expected digest of every step that has an oracle twin, cached in
    ``out`` (a JSON file)."""
    from etlbigdata_spark import workload

    if out.exists():
        cached = json.loads(out.read_text())
        if all(s in cached for s in steps if s in workload.ORACLE_SQL):
            return cached
    con = _duck(fixture)
    expected = {}
    for name in steps:
        sql = workload.ORACLE_SQL.get(name)
        if sql is None:
            continue
        rel = con.sql(sql)
        expected[name] = digest(list(rel.columns), rel.fetchall())
    con.close()
    tmp = out.with_suffix(".tmp")
    tmp.write_text(json.dumps(expected, indent=1))
    tmp.replace(out)
    return expected


# The DuckDB twin of the ETL steps (perfbench/workloads.py,
# EtlPass): dedup, null-on-error casts, null fill, positive-price
# filter, year, joins to customer and to per-order line totals; the
# stream batch goes through the same cleaning and the customer join
# with zero line totals; the read-back aggregates both sinks.
ETL_SQL = """
WITH raw AS (
  SELECT DISTINCT * FROM read_csv('{csv}', header = true, all_varchar = true)
), typed AS (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         CAST(o_custkey AS BIGINT) AS o_custkey,
         COALESCE(o_orderstatus, 'UNKNOWN') AS o_orderstatus,
         COALESCE(TRY_CAST(o_totalprice AS DOUBLE), 0) AS o_totalprice,
         TRY_CAST(o_orderdate AS DATE) AS o_orderdate,
         COALESCE(o_orderpriority, 'UNKNOWN') AS o_orderpriority
  FROM raw
), lines AS (
  SELECT l_orderkey, COUNT(*) AS n_lines,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS gross
  FROM read_parquet('{lineitem}') GROUP BY l_orderkey
), loaded AS (
  SELECT t.o_orderkey, t.o_totalprice, year(t.o_orderdate) AS o_year,
         c.c_mktsegment, l.n_lines, l.gross
  FROM typed t
  JOIN read_parquet('{customer}') c ON t.o_custkey = c.c_custkey
  JOIN lines l ON t.o_orderkey = l.l_orderkey
  WHERE t.o_totalprice > 0
), streamed AS (
  SELECT s.o_orderkey, COALESCE(s.o_totalprice, 0) AS o_totalprice,
         year(CAST(s.o_orderdate AS DATE)) AS o_year, c.c_mktsegment,
         0 AS n_lines, CAST(0 AS DECIMAL(18,4)) AS gross
  FROM (SELECT DISTINCT * FROM read_parquet('{stream}/*.parquet')) s
  JOIN read_parquet('{customer}') c ON s.o_custkey = c.c_custkey
  WHERE COALESCE(s.o_totalprice, 0) > 0
), u AS (SELECT * FROM loaded UNION ALL SELECT * FROM streamed)
SELECT o_year, c_mktsegment, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(gross) AS DOUBLE) AS gross
FROM u GROUP BY o_year, c_mktsegment
"""


def etl_expected(fixture: Path) -> dict:
    """Expected digest of the ETL read-back over a seeded fixture."""
    import duckdb

    def lit(p: Path) -> str:
        return str(p).replace("'", "''")

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    rel = con.sql(ETL_SQL.format(
        csv=lit(fixture / "extract" / "orders.csv"),
        stream=lit(fixture / "extract" / "orders_stream"),
        lineitem=lit(fixture / "lineitem.parquet"),
        customer=lit(fixture / "customer.parquet"),
    ))
    expected = {"read_back": digest(list(rel.columns), rel.fetchall())}
    con.close()
    return expected
