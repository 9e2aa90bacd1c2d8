"""M2: content transforms — Catalyst expressions vs the plain-Python
reference; the plans stay JVM-side (no Python eval node at all)."""

import hashlib

import pytest

from airbyte_module_spark.functions import content as cf

CASES = [
    "plain text",
    "crlf\r\nline\r\n",
    "cr\ronly",
    "trailing   \nspaces\t\t\nend  ",
    "mixed \r\n\ttabs\t \r\nand  \n",
    "",
    "unicode: λ→∀ \r\n ωmega  ",
    "no newline trailing  ",
    # Java's $ also matches before a final line terminator; only \z (the
    # end of text, like Python's \Z) keeps the blank before these
    "a \u2028",
    "a \u2029",
    "a \u0085",
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame([(c,) for c in CASES] + [(None,)], ["content"])


def test_normalize_expr_matches_python(spark, df):
    rows = df.select(cf.normalize_content_expr("content").alias("n")).collect()
    expected = [cf.normalize_py(c) for c in CASES] + [None]
    assert [r["n"] for r in rows] == expected


def test_sha256_matches_hashlib(spark, df):
    rows = df.select("content", cf.sha256_expr("content").alias("e")).collect()
    for r in rows:
        want = (
            hashlib.sha256(r["content"].encode()).hexdigest()
            if r["content"] is not None
            else None
        )
        assert r["e"] == want


def test_expr_form_stays_in_codegen(spark, df):
    """normalize+sha stay fully JVM-side: no Python eval node of any kind
    in the plan."""
    plan = (
        df.select(cf.sha256_expr(cf.normalize_content_expr("content")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan
    # "*(1)" prefixes mark whole-stage-codegen stages in the plan string
    assert "*(" in plan or "WholeStageCodegen" in plan
