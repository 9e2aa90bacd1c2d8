"""Session-factory behavior: the Python-worker warmup (guide §4.3 — pay
heavyweight init once, at session creation, outside any measured query)."""

from airbyte_module_spark.session import _warm_python_workers, get_spark


def test_python_workers_warmed_once_per_session(spark):
    sc = spark.sparkContext
    # the conftest session came through get_spark -> warmup already ran
    assert getattr(sc, "_ams_py_warm", False) is True
    # re-entering the factory (getOrCreate reuse) must not re-run the job
    s2 = get_spark(app_name="tests")
    assert s2 is spark or s2.sparkContext is sc
    assert sc._ams_py_warm is True


def test_warmup_env_gate(spark, monkeypatch):
    sc = spark.sparkContext
    monkeypatch.setenv("SPARK_GRAFT_NO_PY_WARMUP", "1")
    monkeypatch.setattr(sc, "_ams_py_warm", False, raising=False)
    try:
        _warm_python_workers(spark)
        # gated out: the helper returned before marking the session warm
        assert sc._ams_py_warm is False
    finally:
        sc._ams_py_warm = True


def _jobs_started(spark) -> int:
    """Spark jobs started so far in this context, across all job groups."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_warmup_runs_no_job_when_already_warm(spark, monkeypatch):
    """A warm session must not schedule another warmup job (the flag is the
    only thing consulted), even with the env gate open."""
    monkeypatch.delenv("SPARK_GRAFT_NO_PY_WARMUP", raising=False)
    assert spark.sparkContext._ams_py_warm is True
    before = _jobs_started(spark)
    _warm_python_workers(spark)
    assert _jobs_started(spark) == before


def test_warmup_failure_logs_and_leaves_session_usable(spark, monkeypatch, caplog):
    """A failing warmup job is logged, not raised; the session is not
    marked warm (a later get_spark retries) and still runs jobs."""
    sc = spark.sparkContext
    monkeypatch.delenv("SPARK_GRAFT_NO_PY_WARMUP", raising=False)
    monkeypatch.setattr(sc, "_ams_py_warm", False, raising=False)

    def broken_range(*a, **kw):
        raise RuntimeError("worker fork failed")

    monkeypatch.setattr(spark, "range", broken_range)
    try:
        with caplog.at_level("WARNING", logger="airbyte_module_spark.session"):
            _warm_python_workers(spark)
        assert sc._ams_py_warm is False
        assert "worker fork failed" in caplog.text
        monkeypatch.undo()
        assert spark.range(3).count() == 3
    finally:
        sc._ams_py_warm = True
