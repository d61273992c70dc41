"""DuckDB oracle for the benchmark: every op's result is compared, outside
the timed window, with DuckDB running the op's SQL on the same parquet files.

A result is reduced to a digest: column names sorted, each row rendered as
canonical text in that column order, rows sorted, then hashed. Both engines'
rows go through the same renderer, so equal digests mean equal multisets of
rows with identical value text (a DECIMAL-vs-DOUBLE split shows, like it does
in the repo's oracle tests). Expected digests are cached on disk keyed by the
SQL text and a fingerprint of the data, so later runs skip DuckDB.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import glob
import hashlib
import json
import math
import os

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, (int, decimal.Decimal, str)):
        return str(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (_dt.date, _dt.time, _dt.timedelta)):
        return str(v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        # DuckDB structs arrive as dicts, Spark structs as Rows (tuples):
        # compare field values in declared order, names aside
        v = list(v.values())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows) -> dict:
    """Order-insensitive digest of a result: {"rows", "cols", "sha"}."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return {"rows": len(lines), "cols": sorted(columns), "sha": h.hexdigest()}


def spark_digest(df) -> dict:
    """Digest of a DataFrame that has already run: ``collect`` reuses the
    executed plan of the same Dataset, so finished shuffle stages are skipped."""
    return digest(list(df.columns), df.collect())


def file_fingerprint(sf_dir: str) -> str:
    """Content hash of every file in a warehouse directory."""
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(sf_dir, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, sf_dir).encode())
            with open(f, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()[:24]


class Oracle:
    """DuckDB over one warehouse directory, with an on-disk expected-digest
    cache. ``fingerprint`` names the data the views read."""

    def __init__(self, cache_dir: str, tmp_dir: str):
        self.cache_dir = cache_dir
        self.tmp_dir = tmp_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.con = None
        self.fingerprint = ""

    def attach(self, sf_dir: str, fingerprint: str) -> None:
        import duckdb

        if self.con is None:
            self.con = duckdb.connect(config={
                "threads": 2, "memory_limit": "2GB", "temp_directory": self.tmp_dir,
            })
        for t in TABLES:
            src = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        self.fingerprint = fingerprint

    def expected(self, sql: str) -> dict:
        key = hashlib.sha256(f"{self.fingerprint}\0{sql}".encode()).hexdigest()[:32]
        path = os.path.join(self.cache_dir, key + ".json")
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, ValueError):
            pass
        cur = self.con.execute(sql)
        out = digest([d[0] for d in cur.description], cur.fetchall())
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out

    def query(self, sql: str) -> list[tuple]:
        """Run SQL uncached (checks on freshly written files)."""
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
            self.con = None
