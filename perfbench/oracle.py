"""Compare an operation's output with its DuckDB oracle.

The checks are those of ``tools/check_correctness.py``: row count, column-name
set, and order-insensitive values.  Both sides are compared inside DuckDB
(the Spark side from the parquet it wrote or the Arrow table it returned),
so no output is turned into Python rows.  Each
column is first cast to a canonical type of its kind: integers of any width
compare as integers, decimals of any scale by value, timestamps as naive
UTC timestamps; columns of different kinds compare as text, so a decimal
never equals a double.
"""

from __future__ import annotations

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_INT = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
        "USMALLINT", "UINTEGER", "UBIGINT"}


def _kind(dtype: str) -> str:
    t = dtype.upper()
    if t in _INT:
        return "int"
    if t.startswith("DECIMAL"):
        return "dec"
    if t in ("FLOAT", "DOUBLE"):
        return "float"
    if t.startswith("TIMESTAMP"):
        return "ts"
    return t


_CAST = {"int": "HUGEINT", "dec": "DECIMAL(38,10)", "float": "DOUBLE",
         "ts": "TIMESTAMP"}


class Oracle:
    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute("SET threads=2")
        for t in TABLES:
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    def compare(self, output, oracle_sql: str) -> str | None:
        """None when equal, else the first problem found.  ``output`` is the
        Spark result as a parquet directory or an Arrow table."""
        if isinstance(output, str):
            self.con.execute(
                f"CREATE OR REPLACE TEMP VIEW _s AS SELECT * FROM "
                f"read_parquet('{output}/**/*.parquet')")
        else:
            self.con.register("_s", output)
        self.con.execute(f"CREATE OR REPLACE TEMP VIEW _o AS {oracle_sql}")
        s_cols = dict(self.con.execute("SELECT column_name, column_type FROM "
                                       "(DESCRIBE _s)").fetchall())
        o_cols = dict(self.con.execute("SELECT column_name, column_type FROM "
                                       "(DESCRIBE _o)").fetchall())
        if sorted(s_cols) != sorted(o_cols):
            return f"cols {sorted(s_cols)} vs {sorted(o_cols)}"
        n_s = self.con.execute("SELECT count(*) FROM _s").fetchone()[0]
        n_o = self.con.execute("SELECT count(*) FROM _o").fetchone()[0]
        if n_s != n_o:
            return f"rowcount {n_s} vs {n_o}"
        cols = []
        for c in sorted(s_cols):
            ks, ko = _kind(s_cols[c]), _kind(o_cols[c])
            cast = _CAST.get(ks, "VARCHAR") if ks == ko else "VARCHAR"
            cols.append(f'CAST("{c}" AS {cast})')
        sel = ", ".join(cols)
        extra = f"SELECT {sel} FROM _s EXCEPT ALL SELECT {sel} FROM _o"
        diff = self.con.execute(f"SELECT count(*) FROM ({extra})").fetchone()[0]
        if diff:
            row = self.con.execute(f"{extra} LIMIT 1").fetchone()
            return f"{diff} spark rows not in oracle, e.g. {row}"
        return None

    def close(self) -> None:
        self.con.close()
