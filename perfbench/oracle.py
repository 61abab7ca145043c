"""Oracle comparison of dumped query results against DuckDB.

The rules and their helpers are the repository's own, from
``dev/compare.py``: columns sorted by name, result types compared with
integer widths unified, rows sorted, floats equal exactly or within 1e-9
relative.
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "dev"))

from compare import TABLES, cmp_val, rows_of  # noqa: E402


def connect(sf_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t)}.parquet'")
    return con


def compare(con, sql, dump_dir):
    """``None`` when the dump equals the oracle's answer, else a one-line
    reason."""
    files = glob.glob(os.path.join(dump_dir, "*.parquet"))
    if not files:
        return "no result files"
    scols, stypes, srows = rows_of(con.sql(
        f"SELECT * FROM read_parquet({files!r})"))
    try:
        ocols, otypes, orows = rows_of(con.sql(sql))
    except duckdb.Error as e:
        return f"oracle SQL error: {str(e)[:200]}"
    if scols != ocols:
        return f"columns differ: {scols} vs oracle {ocols}"
    if stypes != otypes:
        return f"types differ: {stypes} vs oracle {otypes}"
    if len(srows) != len(orows):
        return f"{len(srows)} rows vs oracle {len(orows)}"
    srows.sort(key=repr)
    orows.sort(key=repr)
    for sr, orow in zip(srows, orows):
        for c, sv, ov in zip(scols, sr, orow):
            if not cmp_val(sv, ov)[0]:
                return f"column {c}: {sv!r} vs oracle {ov!r}"
    return None
