"""Change-feed source: NDJSON envelope shards → typed change DataFrames.

Replaces the reference's connector read path — dockerized ``read`` subprocess,
stdout line filtering and 100-line batching (``/root/reference/abm/
connector.py:138-161,212-243``) — with Spark's text source and ONE envelope
parser, :func:`parse_envelopes_once`. Message-type filtering (drop LOG/STATE,
keep RECORD — reference ``abm/connector.py:143-157``), stream filtering
(``abm/connector.py:216-221``) and record projection
(``abm/connector.py:130-131``) become one Catalyst projection + filter over a
single ``from_json`` per line; non-JSON noise lines parse to nulls and are
filtered, mirroring the reference's try/continue skip. The keyed ingest path
calls it with a data schema that types only the identity keys + op + seq
(plus the raw line); the keyless path and the ``envelope_parse`` query call
it with the full table schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_module_spark import model


def read_feed(spark: SparkSession, feed_path: str) -> DataFrame:
    """Batch-read raw envelope lines (column ``value``)."""
    return spark.read.text(feed_path)


def read_feed_stream(
    spark: SparkSession, feed_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming tail of a feed directory (SURVEY.md §2.8 T1).

    ``maxFilesPerTrigger`` bounds micro-batch size — the Spark-native
    replacement for the reference's hardcoded 100-message batches
    (``abm/connector.py:138``).
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(feed_path)


def parse_envelopes_once(
    raw: DataFrame,
    data_schema: T.StructType | None = None,
    stream: str = model.STREAM_NAME,
    with_keys: bool = False,
    keep_value: bool = False,
) -> DataFrame:
    """One-pass envelope parse: raw lines → typed change rows.

    Output: the user columns of ``data_schema`` + ``_ab_emitted_at, _ab_seq,
    _ab_op``; ``with_keys`` adds the observed payload field names
    (``_ab_keys``, the keyless path's schema-evolution probe, read with
    ``json_object_keys`` on the raw line in the same scan); ``keep_value``
    adds the raw ``value`` line untouched (the keyed path's LWW winner
    payload, fully decoded later on winners only).

    ONE ``from_json`` per line decodes the envelope with the data payload
    typed as a struct of ``data_schema`` — the fast parse shape (see
    ``model.envelope_schema`` for the measured map-vs-struct pitfall).
    Jackson tokenizes the whole line but materializes only the typed
    fields, so a schema of just keys + op + seq is the cheap identity/
    cursor parse of the keyed hot path.

    The naive ``select(from_json(...).alias("m")).filter(m.type == ...)``
    costs 2-3 JSON parses per line: Catalyst pushes the type/stream/op
    predicates below the projection (substituting the from_json expression
    into each) and rewrites every ``GetStructField(from_json(...))`` into
    its own schema-pruned ``from_json`` — measured 7.5s vs 3.0s for a
    single parse on the 10M-event feed at local[32]. This shape keeps
    one parse per line with public APIs:

    - ALL field extractions + the RECORD/stream/op keep-predicate are
      aliases of ONE projection, so per-operator subexpression elimination
      evaluates the shared ``from_json`` once;
    - a ``rand()`` guard column rides the projection and the filter
      references it (``_nd > -1`` — always true, but NOT foldable: the
      optimizer has no value-range analysis for rand(), whereas
      ``IsNotNull(rand())`` would constant-fold away since rand() is
      non-nullable, un-referencing the guard and re-enabling pushdown): a
      projection with a non-deterministic alias is a predicate-pushdown
      barrier (PushPredicateThroughNonJoin requires every project field be
      deterministic), so the keep-filter stays ABOVE the projection and
      tests the computed boolean instead of re-deriving it from the line;
    - ``enableJsonExpressionOptimization=false`` (set in session.py) stops
      the per-field schema-pruned from_json rewrite that would defeat CSE
      by making the copies textually different.
    """
    data_schema = data_schema or model.base_data_schema()
    m = F.from_json(F.col("value"), model.envelope_schema(data_schema))
    data = m["record"]["data"]
    cols = [data[c].alias(c) for c in model.user_columns(data_schema)] + [
        m["record"]["emitted_at"].alias(model.META_EMITTED),
        data["seq"].cast("long").alias(model.META_SEQ),
        data["op"].alias(model.META_OP),
    ]
    if with_keys:
        cols.append(
            F.json_object_keys(
                F.get_json_object(F.col("value"), "$.record.data")
            ).alias(model.META_KEYS)
        )
    if keep_value:
        cols.append(F.col("value"))
    keep = (
        (m["type"] == "RECORD")
        & (m["record"]["stream"] == stream)
        & data["op"].isNotNull()
    )
    proj = raw.select(*cols, keep.alias("_keep"), F.rand().alias("_nd"))
    return proj.filter(F.col("_keep") & (F.col("_nd") > -1.0)).drop(
        "_keep", "_nd"
    )
