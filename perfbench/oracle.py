"""DuckDB shadow copy of each workload's tables, the benchmark's oracle.

The shadow receives the same generated inputs as the engine and the same
row-level changes, expressed as SQL. Reads are compared row by row with the
same query run on the shadow; tables are compared in full at the end of a run.
None of this is timed.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb


def _norm(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return _norm(a) == _norm(b)


def _sort_key(row):
    return tuple((v is None, str(type(v)), _norm(v) if v is not None else 0)
                 for v in row)


def rows_match(got, want, ordered: bool = False) -> bool:
    got = [tuple(r) for r in got]
    want = [tuple(r) for r in want]
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    return all(len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


class Shadow:
    def __init__(self):
        self.db = duckdb.connect()
        self.db.execute("SET TimeZone = 'UTC'")

    def load(self, name: str, arrow_table):
        self.db.register("__in", arrow_table)
        self.db.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM __in")
        self.db.unregister("__in")

    def insert(self, name: str, arrow_table):
        self.db.register("__in", arrow_table)
        self.db.execute(f"INSERT INTO {name} SELECT * FROM __in")
        self.db.unregister("__in")

    def replace_by_key(self, name: str, arrow_table, keys: list):
        """Delete the rows whose key is in the batch, then insert the batch:
        MERGE (update every column when matched, insert when not) and
        equality upsert, as plain SQL."""
        self.db.register("__in", arrow_table)
        cond = " AND ".join(f"{name}.{k} = b.{k}" for k in keys)
        self.db.execute(f"DELETE FROM {name} USING __in b WHERE {cond}")
        self.db.execute(f"INSERT INTO {name} SELECT * FROM __in")
        self.db.unregister("__in")

    def execute(self, sql: str):
        self.db.execute(sql)

    def query(self, sql: str) -> list:
        return self.db.execute(sql).fetchall()

    def arrow(self, sql: str):
        return self.db.execute(sql).fetch_arrow_table()

    def table_matches(self, name: str, engine_arrow) -> bool:
        """Same row count and same multiset of rows."""
        self.db.register("__eng", engine_arrow)
        try:
            n_eng = self.db.execute("SELECT count(*) FROM __eng").fetchone()[0]
            n_sh = self.db.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
            if n_eng != n_sh:
                return False
            diff = self.db.execute(
                f"SELECT count(*) FROM (SELECT * FROM __eng EXCEPT ALL "
                f"SELECT * FROM {name})").fetchone()[0]
            return diff == 0
        finally:
            self.db.unregister("__eng")

    def close(self):
        self.db.close()
