"""Output checks.  Every check result counts toward ``attempted`` and a
mismatch toward ``failed``; failures are listed by check name and seed
on stderr, never masked.

Registry leaves are compared with their DuckDB oracle
(``bern2_spark.queries.ORACLES``) over the same generated parquet
files, value by value with the normalization the repository's own
oracle test uses (floats rounded to 6 places, decimals as floats,
order-insensitive).  The flagship is checked by reading its committed
triples back: the fixture documents' triples must equal the pinned
golden triples, the manifest's row count must match, and resuming on
the committed sink must find no document left to process.
"""

from __future__ import annotations

import decimal
import math
import os
import sys

ORACLE_TABLES = ["documents", "embeddings", "events", "lineitem", "part"]


def norm_cell(v):
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    return v


def normalize(rows, cols) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


class Checks:
    def __init__(self, seed: int):
        self.seed = seed
        self.attempted = 0
        self.failures: list = []

    def record(self, name: str, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failures.append(f"{name}: {problem}")
            print(f"perfbench: check FAILED seed={self.seed} {name}: "
                  f"{problem}", file=sys.stderr)

    @property
    def failed(self) -> int:
        return len(self.failures)


class Oracles:
    """DuckDB views over the generated tables, one per oracle table.
    Each oracle query runs once; later passes compare with its rows."""

    def __init__(self, data_dir: str):
        import duckdb
        self.con = duckdb.connect()
        self.results: dict = {}
        for t in ORACLE_TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def mismatch(self, sql: str | None, cols, rows) -> str | None:
        """None when the Spark rows equal the oracle's; else why not."""
        if sql is None:
            return "the leaf has no oracle"
        if sql not in self.results:
            res = self.con.sql(sql)
            self.results[sql] = (list(res.columns), res.fetchall())
        dcols, drows = self.results[sql]
        if sorted(c.lower() for c in cols) != sorted(
                c.lower() for c in dcols):
            return f"columns {sorted(cols)} vs oracle {sorted(dcols)}"
        if len(rows) != len(drows):
            return f"{len(rows)} rows vs oracle {len(drows)}"
        if normalize(rows, list(cols)) != normalize(drows, dcols):
            return "values differ from oracle"
        return None


def golden_mismatch(rows, golden_path: str) -> str | None:
    """The committed (subj, pred, obj) rows of the golden documents must
    equal the golden triples exactly, duplicates included."""
    import pyarrow.parquet as pq
    want = sorted(tuple(r.values()) for r in
                  pq.read_table(golden_path,
                                columns=["subj", "pred", "obj"]).to_pylist())
    docs = {t[0] for t in want}
    got = sorted(t for t in rows if t[0] in docs)
    if got == want:
        return None
    return (f"{len(got)} triples of the golden documents vs "
            f"{len(want)} golden ({len(set(got) ^ set(want))} differ)")
