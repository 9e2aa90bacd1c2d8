"""The benchmark's expectations agree with the engine package's own pandas
oracle (``airbyte_module_spark.oracle``) on small adversarial feeds."""

from __future__ import annotations

import glob
import json
import os

import pytest

from airbyte_module_spark.oracle import apply_events
from airbyte_module_spark.oracle import table_digest as oracle_digest
from cdcbench import expect
from cdcbench.feedgen import FeedSpec, generate

COLS = expect.USER_COLS


def _events(feed_dir: str) -> list[dict]:
    out = []
    for f in sorted(glob.glob(os.path.join(feed_dir, "*.json"))):
        with open(f) as fh:
            out += [json.loads(line) for line in fh if line.strip()]
    return out


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
def test_duckdb_restatement_matches_engine_oracle(tmp_path, seed):
    dims = generate(FeedSpec(seed=seed, n_events=3000), str(tmp_path / "feed"))
    for share in ("tie_share", "late_share", "dup_share", "delete_share", "noise_share",
                  "crlf_share", "trailing_blank_share"):
        assert dims[share] > 0, share
    rows = expect.ingest_state(str(tmp_path / "feed"))
    want = apply_events(_events(str(tmp_path / "feed")))
    assert len(rows) == len(want)
    assert expect.table_digest(rows) == oracle_digest(want, COLS)
    assert expect.Commutative.of(rows).hexdigest() == oracle_digest(want, COLS, commutative=True)


def test_crlf_and_trailing_blanks_normalized(tmp_path):
    lines = [
        {"type": "LOG", "log": {"message": "x"}},
        {"type": "RECORD", "record": {"stream": "repo_files", "emitted_at": 5, "data": {
            "op": "i", "seq": 1, "repo": "r", "path": "a", "commit": "c", "lang": "go",
            "content": "x \t\r\ny\r\rz\t \n"}}},
        {"type": "RECORD", "record": {"stream": "repo_files", "emitted_at": 5, "data": {
            "op": "u", "seq": 2, "repo": "r", "path": "b", "commit": "c", "lang": "go",
            "content": "keep"}}},
        {"type": "RECORD", "record": {"stream": "repo_files", "emitted_at": 5, "data": {
            "op": "d", "seq": 3, "repo": "r", "path": "b", "commit": None, "lang": None,
            "content": None}}},
        {"type": "STATE", "state": {"data": {}}},
    ]
    d = tmp_path / "feed"
    d.mkdir()
    (d / "p.json").write_text("\n".join(json.dumps(x) for x in lines) + "\n\n")
    rows = expect.ingest_state(str(d))
    assert rows == [("r", "a", "c", "go", "x\ny\n\nz\n")]
    assert expect.table_digest(rows) == oracle_digest(apply_events(lines), COLS)


def test_commutative_merge_equals_bulk():
    rows = [("r", str(i), "c", "go", "t" * i) for i in range(50)]
    a, b = expect.Commutative.of(rows[:20]), expect.Commutative.of(rows[20:])
    assert a.merged(b).hexdigest() == expect.Commutative.of(rows).hexdigest()


def test_xxh64_known_vectors():
    # reference values of the XXH64 specification
    assert expect.xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert expect.xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert expect.xxh64(b"abc", 0) == 0x44BC2CF5AD770999
    assert expect.xxh64(b"Nobody inspects the spammish repetition", 0) == 0xFBCEA83C8A378BF1
