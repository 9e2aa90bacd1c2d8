"""Seeded Airbyte-style change-feed generator owned by the benchmark.

It deliberately shares no code with ``airbyte_module_spark.sources``: an
engine change can never change the benchmark's inputs. The same ``FeedSpec``
(seed included) always yields byte-identical files.

Traffic shape (the ``SHAPE`` constants; every share is of RECORD events
unless noted):

- ~``events_per_key`` events per identity key ``(repo, path)``; ``hot_share``
  of the events land on ``hot_key_share`` of the keys (hot-key skew);
- ``late_share`` events carry a cursor older than events already emitted for
  the key (late arrivals); ``tie_share`` reuse the previous ``emitted_at`` of
  their key, so only ``seq`` breaks the tie; ``dup_share`` of the lines are
  byte-identical copies of an earlier line (at-least-once redelivery);
- ``delete_share`` events are deletes (``op='d'``, null content);
- content is printable ASCII plus tab/CR/LF: ``crlf_share`` of the documents
  use CRLF line ends and ``blank_share`` carry trailing blanks, so normalize
  has work to do;
- ``noise_share`` of all lines are LOG/STATE messages the engine must skip.

Lines are shuffled across the shards, so file order says nothing about
cursor order.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

STREAM = "repo_files"
BASE_MS = 1_760_000_000_000
_WORDS_ALPHABET = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
_PUNCT = "(){}[]<>=+-*/%!?.,:;'\"#@$&|^~`\\"


SHAPE = dict(
    events_per_key=20.0,
    hot_key_share=0.01,
    hot_share=0.30,
    late_share=0.10,
    tie_share=0.05,
    dup_share=0.03,
    delete_share=0.05,
    crlf_share=0.25,
    blank_share=0.30,
    noise_share=0.02,
    content_lines=4,
    n_files=8,
)


@dataclass(frozen=True)
class FeedSpec:
    seed: int
    n_events: int


def _line_pool(rng: random.Random, n: int) -> list[tuple[str, int]]:
    """Printable-ASCII source lines (tabs allowed inside a line), each kept
    as (JSON-escaped body, raw length) so documents are assembled without a
    per-event ``json.dumps``."""
    pool = []
    for _ in range(n):
        words = []
        for _ in range(rng.randint(2, 9)):
            w = "".join(rng.choice(_WORDS_ALPHABET) for _ in range(rng.randint(1, 8)))
            if rng.random() < 0.2:
                w += rng.choice(_PUNCT)
            words.append(w)
        sep = "\t" if rng.random() < 0.1 else " "
        raw = ("    " if rng.random() < 0.3 else "") + sep.join(words)
        pool.append((json.dumps(raw)[1:-1], len(raw)))
    return pool


_BLANKS = [" ", "\t", "  ", " \t "]
_TAILS = [" ", "\t ", "   ", None]  # None: one extra line end


def _content(rng: random.Random, pool) -> tuple[str, int, bool, bool]:
    """Return (JSON string literal, raw length, uses CRLF, has trailing blanks)."""
    picked = [rng.choice(pool) for _ in range(rng.randint(1, 2 * SHAPE["content_lines"] - 1))]
    parts = [p[0] for p in picked]
    size = sum(p[1] for p in picked)
    blank = rng.random() < SHAPE["blank_share"]
    if blank:
        i = rng.randrange(len(parts))
        b = rng.choice(_BLANKS)
        parts[i] += json.dumps(b)[1:-1]
        size += len(b)
    crlf = rng.random() < SHAPE["crlf_share"]
    eol, eol_len = ("\\r\\n", 2) if crlf else ("\\n", 1)
    text = eol.join(parts)
    size += eol_len * (len(parts) - 1)
    if blank and rng.random() < 0.5:
        t = rng.choice(_TAILS)
        text += eol if t is None else json.dumps(t)[1:-1]
        size += eol_len if t is None else len(t)
    return '"' + text + '"', size, crlf, blank


_RECORD = (
    '{"type": "RECORD", "record": {"stream": "%s", "namespace": "public", '
    '"emitted_at": %d, "data": {"op": "%s", "seq": %d, "repo": "%s", '
    '"path": "%s", "commit": "%040x", "lang": "%s", "content": %s}}}'
)


def generate(spec: FeedSpec, out_dir: str) -> dict:
    """Write the feed as ``n_files`` NDJSON shards under ``out_dir`` and
    return its traffic dimensions (measured on what was written)."""
    rng = random.Random(spec.seed)
    pool = _line_pool(rng, 2048)
    n_keys = max(int(spec.n_events / SHAPE["events_per_key"]), 4)
    n_hot = max(int(n_keys * SHAPE["hot_key_share"]), 1)
    keys = [
        (f"org{k % 97}/repo{k % 1013}", f"src/m{k}/f{k * 7919 % 100003}.py")
        for k in range(n_keys)
    ]
    langs = ["python", "java", "go", "rust", "c"]
    last_ms: dict[int, int] = {}
    lines: list[str] = []
    counts = dict(late=0, tie=0, dup=0, delete=0, hot=0, crlf=0, blank=0, noise=0)
    content_bytes = 0
    n_content = 0
    seq = 0
    clock = BASE_MS
    while seq < spec.n_events:
        r = rng.random()
        if lines and r < SHAPE["dup_share"]:
            lines.append(lines[rng.randrange(len(lines))])
            counts["dup"] += 1
            continue
        if r < SHAPE["dup_share"] + SHAPE["noise_share"]:
            if rng.random() < 0.5:
                lines.append(json.dumps({"type": "LOG", "log": {"level": "INFO", "message": f"sync {seq}"}}))
            else:
                lines.append(json.dumps({"type": "STATE", "state": {"data": {"cursor": clock}}}))
            counts["noise"] += 1
            continue
        seq += 1
        clock += rng.randint(0, 3)
        if rng.random() < SHAPE["hot_share"]:
            k = rng.randrange(n_hot)
            counts["hot"] += 1
        else:
            k = n_hot + rng.randrange(n_keys - n_hot)
        emitted = clock
        prev = last_ms.get(k)
        u = rng.random()
        if prev is not None and u < SHAPE["tie_share"]:
            emitted = prev
            counts["tie"] += 1
        elif prev is not None and u < SHAPE["tie_share"] + SHAPE["late_share"]:
            emitted = prev - rng.randint(1, 5000)
            counts["late"] += 1
        last_ms[k] = max(emitted, prev or emitted)
        repo, path = keys[k]
        if rng.random() < SHAPE["delete_share"]:
            op, content = "d", "null"
            counts["delete"] += 1
        else:
            op = "u" if prev is not None else "i"
            content, size, crlf, blank = _content(rng, pool)
            content_bytes += size
            n_content += 1
            counts["crlf"] += crlf
            counts["blank"] += blank
        lines.append(
            _RECORD
            % (STREAM, emitted, op, seq, repo, path, rng.getrandbits(160), langs[k % len(langs)], content)
        )
    rng.shuffle(lines)
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(lines) // SHAPE["n_files"])
    for i in range(SHAPE["n_files"]):
        with open(os.path.join(out_dir, f"part-{i:05d}.json"), "w") as f:
            f.write("\n".join(lines[i * per : (i + 1) * per]) + "\n")
    n_records = spec.n_events
    return {
        "seed": spec.seed,
        "shape": SHAPE,
        "lines": len(lines),
        "records": n_records,
        "keys": len(last_ms),
        "events_per_key": round(n_records / max(len(last_ms), 1), 3),
        "hot_key_share": round(n_hot / n_keys, 4),
        "hot_share": round(counts["hot"] / n_records, 4),
        "late_share": round(counts["late"] / n_records, 4),
        "tie_share": round(counts["tie"] / n_records, 4),
        "dup_share": round(counts["dup"] / len(lines), 4),
        "delete_share": round(counts["delete"] / n_records, 4),
        "content_mean_bytes": round(content_bytes / max(n_content, 1), 1),
        "crlf_share": round(counts["crlf"] / max(n_content, 1), 4),
        "trailing_blank_share": round(counts["blank"] / max(n_content, 1), 4),
        "noise_share": round(counts["noise"] / len(lines), 4),
    }

