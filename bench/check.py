"""Output checks of the benchmark, run after the timed loop.

Each check the harness wrote is a result compared with DuckDB running the
check's SQL over views of the run's input tables (plus the check's own
views). Normalisation and the int64 check are the project's oracle
compare, imported from tools/check_oracle.py: columns sorted by name,
floats rounded to 6 places, rows sorted. Driver-query checks also compare
column types and the int64 range, as that script does; fuzz and probe
checks compare values only, as tools/check_fuzz.py does.

A result is a parquet directory, or for statements sent over pgwire the
text rows the client received, which are read back into the type of
DuckDB's value in the same column before the compare.
"""
import datetime
import glob
import json
import os
import sys
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from check_oracle import TABLES, int64_violation, norm  # noqa: E402

INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER"}


def _normtype(t):
    return "INT64" if t in INT_TYPES else t


def _from_text(s, like):
    """A pgwire text value as the Python type of DuckDB's `like`."""
    if s is None or like is None:
        return s
    if isinstance(like, bool):
        return s == "t"
    if isinstance(like, int):
        try:
            return int(s)
        except ValueError:
            d = Decimal(s)
            return int(d) if d == d.to_integral_value() else d
    if isinstance(like, float):
        return float(s)
    if isinstance(like, Decimal):
        return Decimal(s)
    if isinstance(like, datetime.datetime):
        return datetime.datetime.fromisoformat(s)
    if isinstance(like, datetime.date):
        return datetime.date.fromisoformat(s)
    return s


def _wire(path, exp, exp_cols):
    """The wire text rows of `path`, typed like DuckDB's rows `exp`."""
    with open(path) as fh:
        rows = json.load(fh)
    likes = [next((r[i] for r in exp if r[i] is not None), None)
             for i in range(len(exp_cols))]
    for r in rows:
        if len(r) != len(exp_cols):
            raise ValueError(f"{len(r)} columns over the wire, "
                             f"{len(exp_cols)} expected")
    return [tuple(_from_text(v, like) for v, like in zip(r, likes))
            for r in rows]


def _compare(con, check):
    for name, sql in check["views"].items():
        con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS {sql}")
    exp_rel = con.sql(check["sql"])
    exp, exp_cols = exp_rel.fetchall(), list(exp_rel.columns)
    if check["wire"]:
        got, got_cols = _wire(check["path"], exp, exp_cols), exp_cols
    else:
        files = glob.glob(os.path.join(check["path"], "*.parquet"))
        if not files:
            return False, "no output written"
        got_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        got, got_cols = got_rel.fetchall(), list(got_rel.columns)
        if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in exp_cols):
            return False, f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
        if check["typed"]:
            huge = int64_violation(got)
            if huge is None:
                huge = int64_violation(exp)
            if huge is not None:
                return False, f"value outside int64: {huge}"
            got_types = dict(zip(got_cols, map(str, got_rel.types)))
            lower = {c.lower(): str(t) for c, t in zip(exp_cols, exp_rel.types)}
            tdiff = {c: (t, lower[c.lower()]) for c, t in got_types.items()
                     if _normtype(t) != _normtype(lower[c.lower()])}
            if tdiff:
                return False, f"type mismatch {tdiff}"
    g, e = norm(got, got_cols), norm(exp, exp_cols)
    if g == e:
        return True, f"{len(g)} rows"
    diff = next((p for p in zip(g, e) if p[0] != p[1]), None)
    return False, f"{len(g)} vs {len(e)} rows, first diff {diff}"


def run_checks(checks, data_dir):
    """Return [(name, ok, detail)] for every check."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    results = []
    for c in checks:
        try:
            ok, detail = _compare(con, c)
        except Exception as e:  # a check that cannot run is a failure
            ok, detail = False, f"{type(e).__name__}: {e}"
        results.append((c["name"], ok, detail))
    con.close()
    return results
