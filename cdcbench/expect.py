"""Expectations computed without the engine: DuckDB + hashlib only.

- ``ingest_state``: LWW restatement of a feed directory in DuckDB (winner per
  ``(repo, path)`` by ``(emitted_at, seq)``, winner deletes dropped, content
  normalized by the same three regexes the engine documents), returned as
  user rows.
- ``table_digest``: the engine's row-hash digest restated in hashlib (sha256
  over ``repo|path|commit|lang|content`` per row, then sha256 of the sorted
  row hashes, or the commutative ``count:sum:xor`` form).
- ``bucket_of``: the engine's hidden bucket ``pmod(xxhash64(repo, path), n)``
  restated with a pure-Python XXH64, so per-bucket slices can be checked.
- ``canon``: the query-result canonicalisation of ``scripts/check_oracles.py``.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os

import duckdb

USER_COLS = ["repo", "path", "commit", "lang", "content"]


def connect() -> duckdb.DuckDBPyConnection:
    """A DuckDB connection that prints nothing (no progress bar)."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def normalize_sql(col: str) -> str:
    r"""CRLF/CR -> LF, strip blanks before each LF, strip blanks at the end.
    Patterns use RE2 escapes; replacements carry a literal LF (RE2 rewrite
    strings have no ``\n`` escape)."""
    lf = "\n"
    return (
        "regexp_replace(regexp_replace(regexp_replace("
        f"{col}, '\\r\\n?', '{lf}', 'g'), '[ \\t]+\\n', '{lf}', 'g'), '[ \\t]+$', '')"
    )


def ingest_state(feed_dir: str, con: duckdb.DuckDBPyConnection | None = None) -> list[tuple]:
    """Expected final table rows (USER_COLS order) after replaying every
    ``*.json`` file under ``feed_dir`` into an empty table."""
    con = con or connect()
    files = sorted(
        os.path.join(feed_dir, f) for f in os.listdir(feed_dir) if f.endswith(".json")
    )
    sql = f"""
    WITH raw AS (
      SELECT column0 AS j FROM read_csv({files!r}, header=false, delim='{chr(1)}',
             quote='', escape='', columns={{'column0': 'VARCHAR'}})
      WHERE column0 IS NOT NULL AND length(column0) > 0
    ), rec AS (
      SELECT json_extract_string(j, '$.record.data.repo') AS repo,
             json_extract_string(j, '$.record.data.path') AS path,
             json_extract_string(j, '$.record.data.commit') AS "commit",
             json_extract_string(j, '$.record.data.lang') AS lang,
             json_extract_string(j, '$.record.data.content') AS content,
             json_extract_string(j, '$.record.data.op') AS op,
             CAST(json_extract(j, '$.record.emitted_at') AS BIGINT) AS emitted_at,
             CAST(json_extract(j, '$.record.data.seq') AS BIGINT) AS seq
      FROM raw
      WHERE json_extract_string(j, '$.type') = 'RECORD'
        AND json_extract_string(j, '$.record.stream') = 'repo_files'
    ), win AS (
      SELECT *, row_number() OVER (
        PARTITION BY repo, path ORDER BY emitted_at DESC, seq DESC) AS rn
      FROM rec WHERE op IS NOT NULL
    )
    SELECT repo, path, "commit", lang, {normalize_sql('content')} AS content
    FROM win WHERE rn = 1 AND op <> 'd'
    """
    return con.execute(sql).fetchall()


def normalize_rows(rows: list[tuple], con: duckdb.DuckDBPyConnection | None = None) -> list[tuple]:
    """Apply the content normalization to USER_COLS rows (DuckDB regexes)."""
    import pyarrow as pa

    con = con or connect()
    t = pa.table({c: [r[i] for r in rows] for i, c in enumerate(USER_COLS)})  # noqa: F841
    return con.execute(
        f'SELECT repo, path, "commit", lang, {normalize_sql("content")} FROM t'
    ).fetchall()


# ------------------------------------------------------------------ digests
def row_hash(row) -> str:
    return hashlib.sha256(
        "|".join("" if v is None else str(v) for v in row).encode()
    ).hexdigest()


def table_digest(rows) -> str:
    """sha256 over the sorted per-row sha256 hashes (LakeTable.digest)."""
    return hashlib.sha256("\n".join(sorted(row_hash(r) for r in rows)).encode()).hexdigest()


class Commutative:
    """Order-independent multiset digest ``count:sum(24-bit):xor(60-bit)``
    over row hashes, folded incrementally (``table_digest(commutative=True)``
    of the engine's oracle). ``add``/``merged`` make per-version digests
    cheap to keep while a writer appends rows."""

    __slots__ = ("n", "s", "x")

    def __init__(self, n: int = 0, s: int = 0, x: int = 0):
        self.n, self.s, self.x = n, s, x

    def add_hash(self, h: str) -> None:
        self.n += 1
        self.s += int(h[:6], 16)
        self.x ^= int(h[:15], 16)

    def add(self, row) -> None:
        self.add_hash(row_hash(row))

    def merged(self, other: "Commutative") -> "Commutative":
        return Commutative(self.n + other.n, self.s + other.s, self.x ^ other.x)

    def hexdigest(self) -> str:
        return hashlib.sha256(f"{self.n}:{self.s}:{self.x}".encode()).hexdigest()

    @classmethod
    def of(cls, rows) -> "Commutative":
        c = cls()
        for r in rows:
            c.add(r)
        return c


# ------------------------------------------------------------------ buckets
_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int) -> int:
    """Reference XXH64 (unsigned result)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def bucket_of(repo: str, path: str, n_buckets: int) -> int:
    """``pmod(xxhash64(repo, path), n_buckets)`` with Spark's seed 42 and
    column chaining (each column's hash seeds the next)."""
    h = xxh64(path.encode(), xxh64(repo.encode(), 42))
    signed = h - (1 << 64) if h >= 1 << 63 else h
    return signed % n_buckets


# ------------------------------------------------------------------ queries
def _norm_cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "as_py"):
        v = v.as_py()
    if isinstance(v, decimal.Decimal):
        return repr(float(v)) if v % 1 else str(int(v))
    return str(v)


def canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Columns sorted by name, cells stringified at full precision, rows
    sorted — the canonical form ``scripts/check_oracles.py`` compares."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
