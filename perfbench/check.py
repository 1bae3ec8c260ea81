"""Output checks, run outside the timed region.

- ``tree_digest``: content digest of a warehouse output tree. Parquet
  marts count as order-insensitive row sets per directory; flat, XML
  and JSON files as their decompressed bytes. Part-file names carry a
  per-write UUID, so files are keyed by directory plus part number.
- ``Oracle``: DuckDB views over the generated tables, the spec's
  oracle SQL run once per table set, compared with the parquet rows
  the timed force wrote (columns sorted by name, rows sorted).
"""

from __future__ import annotations

import gzip
import hashlib
import math
import os
import re

_UUID = re.compile(r"-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")
_SKIP_FILE = re.compile(r"(^[._])|(\.crc$)")  # _SUCCESS, checksums
_SKIP_DIR = re.compile(r"^(\.|_done$|_temporary$)")  # resume markers


def cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def rows_key(cols: list[str], rows) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def _parquet_rows(paths: list[str]) -> tuple[list[str], list[tuple]]:
    import pyarrow.parquet as pq

    cols: list[str] = []
    rows: list[tuple] = []
    for p in paths:
        t = pq.read_table(p)
        cols = t.column_names
        rows.extend(zip(*(c.to_pylist() for c in t.columns)))
    return cols, rows


def tree_digest(root: str) -> dict[str, str]:
    """{relative key: sha256} over every data file under ``root``."""
    parquet: dict[str, list[str]] = {}
    blobs: dict[str, list[str]] = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if not _SKIP_DIR.search(x))
        rel = os.path.relpath(d, root)
        for f in sorted(files):
            if _SKIP_FILE.search(f):
                continue
            path = os.path.join(d, f)
            if f.endswith(".parquet"):
                parquet.setdefault(rel, []).append(path)
            else:
                blobs.setdefault(os.path.join(rel, _UUID.sub("", f)), []).append(path)
    out: dict[str, str] = {}
    for rel, paths in parquet.items():
        cols, rows = _parquet_rows(paths)
        h = hashlib.sha256(repr(sorted(cols)).encode())
        for r in rows_key(cols, rows):
            h.update(repr(r).encode())
        out[rel + "/*.parquet"] = h.hexdigest()
    for key, paths in blobs.items():
        h = hashlib.sha256()
        for p in paths:
            with open(p, "rb") as fh:
                data = fh.read()
            h.update(gzip.decompress(data) if data[:2] == b"\x1f\x8b" else data)
        out[key] = h.hexdigest()
    return dict(sorted(out.items()))


def du_bytes(root: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Oracle:
    """Expected rows of catalog specs over one directory of tables."""

    def __init__(self, sf_dir: str, tables, threads: int) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        for name in tables:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
            )
        self._expected: dict[str, tuple[list[str], list]] = {}

    def expected(self, name: str, sql: str):
        if name not in self._expected:
            cur = self.con.execute(sql)
            cols = [d[0] for d in cur.description]
            self._expected[name] = (sorted(cols), rows_key(cols, cur.fetchall()))
        return self._expected[name]

    def compare(self, name: str, sql: str | None, result_dir: str) -> list[str]:
        """Problems found comparing the written result with the oracle
        (empty = match). A spec without oracle SQL only has to run."""
        if sql is None:
            return []
        ocols, orows = self.expected(name, sql)
        files = sorted(
            os.path.join(result_dir, f) for f in os.listdir(result_dir)
            if f.endswith(".parquet")
        )
        cols, rows = _parquet_rows(files)
        problems = []
        if sorted(cols) != ocols:
            problems.append(f"columns {sorted(cols)} != oracle {ocols}")
        elif len(rows) != len(orows):
            problems.append(f"rows {len(rows)} != oracle {len(orows)}")
        else:
            got = rows_key(cols, rows)
            diff = [(a, b) for a, b in zip(got, orows) if a != b]
            if diff:
                problems.append(f"{len(diff)} rows differ, first {diff[0]}")
        return problems
