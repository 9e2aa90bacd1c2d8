"""Shared helpers: engine-vs-oracle comparison (golden-diff discipline,
mirroring /root/reference/tests/test_fybrik.sh:144-162)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_module_spark import model, oracle
from airbyte_module_spark.lake.table import LakeTable

BASE_COLS = ["repo", "path", "commit", "lang", "content"]

#: Envelope schema with ``data`` left as a JSON string — the naive two-parse
#: shape, kept as an independent reference for the engine's one-pass parser.
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField(
            "record",
            T.StructType(
                [
                    T.StructField("stream", T.StringType()),
                    T.StructField("namespace", T.StringType()),
                    T.StructField("emitted_at", T.LongType()),
                    T.StructField("data", T.StringType()),
                ]
            ),
        ),
    ]
)


def parse_envelopes(raw: DataFrame) -> DataFrame:
    """Reference envelope parse: envelope first, then the ``data`` string —
    two ``from_json`` per line. Same output columns and filters as
    ``sources.feed.parse_envelopes_once`` with the base data schema."""
    data_schema = model.base_data_schema()
    records = raw.select(
        F.from_json(F.col("value"), ENVELOPE_SCHEMA).alias("m")
    ).select("m.type", "m.record.*").filter(
        (F.col("type") == "RECORD") & (F.col("stream") == model.STREAM_NAME)
    )
    parsed = records.select(
        F.col("emitted_at").alias(model.META_EMITTED),
        F.from_json(F.col("data"), data_schema).alias("d"),
    )
    return parsed.select(
        *[F.col(f"d.{c}").alias(c) for c in model.user_columns(data_schema)],
        F.col(model.META_EMITTED),
        F.col("d.seq").alias(model.META_SEQ),
        F.col("d.op").alias(model.META_OP),
    ).filter(F.col(model.META_OP).isNotNull())


def engine_state(table: LakeTable, cols: list[str] | None = None) -> pd.DataFrame:
    """Final user-facing state + per-row sha, sorted, as pandas."""
    cols = cols or BASE_COLS
    df = (
        table.read_internal()
        .filter(F.col(model.META_OP) != "d")
        .select(*cols, F.col(model.META_SHA).alias("content_sha"))
        .orderBy("repo", "path")
    )
    return df.toPandas().reset_index(drop=True)


def assert_matches_oracle(table: LakeTable, events: list[dict], cols: list[str] | None = None):
    cols = cols or BASE_COLS
    expected = oracle.apply_events(events)
    for c in cols:
        if c not in expected.columns:
            expected[c] = None
    expected = expected[cols + ["content_sha"]].sort_values(["repo", "path"]).reset_index(drop=True)
    actual = engine_state(table, cols)
    assert len(actual) == len(expected), f"row count {len(actual)} != {len(expected)}"
    pd.testing.assert_frame_equal(
        actual.fillna(""), expected.fillna(""), check_dtype=False
    )
    # per-row content sha256 equality is implied by the frame equality on
    # content_sha; also check the whole-table digest invariant
    assert table.digest() == oracle.table_digest(expected, cols)
