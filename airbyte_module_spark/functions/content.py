"""Content normalization + sha256 fingerprinting as Catalyst expressions.

The reference's only per-row compute is the write-path ``iterrows`` loop
(``/root/reference/abm/server.py:206-210``) — the structural bottleneck
BASELINE.md calls out. Here both transforms are built-in Catalyst
expressions: codegen'd, JVM-side, no Python boundary at all.
:func:`normalize_py` is the plain-Python reference the oracle and the tests
compare against.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_content_expr(col: Column | str) -> Column:
    r"""``\r\n``/``\r`` → ``\n``; strip trailing whitespace per line.

    Pure Catalyst: three regexp_replace nodes, fused into the scan's codegen
    stage. This is the form used by the ingest pipeline and every query.
    """
    c = F.col(col) if isinstance(col, str) else col
    unified = F.regexp_replace(c, "\r\n?", "\n")
    # two-step (no lookahead) so the same regexes run under RE2-based
    # oracles: strip ws before any newline, then ws at end of text. The end
    # anchor is \z, not $: Java's $ also matches before a final line
    # terminator (U+2028, U+2029, U+0085), RE2's $ (and Python's \Z) do not
    stripped = F.regexp_replace(unified, "[ \t]+\n", "\n")
    return F.regexp_replace(stripped, "[ \t]+\\z", "")


def sha256_expr(col: Column | str) -> Column:
    """Built-in ``sha2(col, 256)`` — lowercase hex, codegen'd."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def normalize_py(text: str | None) -> str | None:
    """Plain-Python reference implementation (oracle/tests only)."""
    if text is None:
        return None
    t = text.replace("\r\n", "\n").replace("\r", "\n")
    return re.sub(r"[ \t]+\Z", "", re.sub(r"[ \t]+\n", "\n", t))
