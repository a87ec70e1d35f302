"""Result checking against DuckDB on the same parquet fixture, with the
normalization of tools/check.py (imported, not copied: columns sorted by
name, floats to 12 significant digits, timestamps to ISO-8601)."""
import datetime
import decimal
import hashlib
import importlib.util
import json
import os
from pathlib import Path

import duckdb

from agent import ROOT

_spec = importlib.util.spec_from_file_location("graft_check", ROOT / "tools" / "check.py")
check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check)


def connect(fixture, spill_dir, extra_views=()):
    """DuckDB over the fixture tables, as tools/check.py sets it up, kept
    small: two threads and 2 GB, spilling inside the checkout."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    for t in check.TABLES:
        p = f"{fixture}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    for name, sql in extra_views:
        con.execute(f"CREATE VIEW {name} AS {sql}")
    return con


def _value(v, typ):
    """A protocol JSON value as the Python value DuckDB would return for
    the same column type."""
    if v is None:
        return None
    t = typ.lower()
    if t in ("double", "real"):
        return float(v)
    if t in ("bigint", "integer", "smallint", "tinyint"):
        return int(v)
    if t.startswith("decimal"):
        return decimal.Decimal(v)
    if t.startswith("timestamp"):
        return datetime.datetime.fromisoformat(str(v).replace(" ", "T"))
    if t == "date":
        return datetime.date.fromisoformat(str(v))
    return v


def normalize_protocol(columns, rows):
    names = [c for c, _ in columns]
    typed = [tuple(_value(v, typ) for v, (_, typ) in zip(r, columns)) for r in rows]
    return check.normalize(names, typed)


def normalize_duckdb(con, sql):
    res = con.execute(sql)
    cols = [c[0] for c in res.description]
    return check.normalize(cols, res.fetchall())


def same(got, want):
    """tools/check.py's verdict: same column names (case-insensitive)
    and the same sorted normalized rows."""
    (gc, gr), (wc, wr) = got, want
    return [c.lower() for c in gc] == [c.lower() for c in wc] and gr == wr


def fixture_key(fixture):
    """Identity of a fixture directory's contents, for the answer cache."""
    h = hashlib.sha256(str(fixture).encode())
    for p in sorted(Path(fixture).glob("*.parquet")):
        st = p.stat()
        h.update(f"{p.name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


class Oracle:
    """One DuckDB answer per statement text. With a cache directory,
    answers to fixture-only statements (the TPC-H texts) are kept on disk,
    so later runs on the same fixture skip recomputing them."""

    def __init__(self, con, cache_dir=None):
        self.con, self.cache_dir = con, cache_dir
        self.cache = {}

    def expected(self, oracle_sql, persist=False):
        if oracle_sql not in self.cache:
            f = None
            if persist and self.cache_dir is not None:
                f = self.cache_dir / (hashlib.sha256(oracle_sql.encode()).hexdigest() + ".json")
            if f is not None and f.exists():
                self.cache[oracle_sql] = tuple(json.loads(f.read_text()))
            else:
                self.cache[oracle_sql] = normalize_duckdb(self.con, oracle_sql)
                if f is not None:
                    f.parent.mkdir(parents=True, exist_ok=True)
                    f.write_text(json.dumps(self.cache[oracle_sql]))
        return self.cache[oracle_sql]

    def check(self, result, oracle_sql, persist=False):
        """True when a protocol result matches the oracle."""
        if result.error is not None:
            return False
        try:
            return same(normalize_protocol(result.columns, result.rows),
                        self.expected(oracle_sql, persist))
        except (ValueError, TypeError, decimal.InvalidOperation):
            return False
