"""The session factory: a reused session gets the engine's defaults back,
and a generated-code cache it cannot change is reported, not ignored."""

import logging

from pyspark.errors import utils

from llm_pretraining_data_pipeline_spark import session as S


def _other_value(value: str) -> str:
    return {"true": "false", "false": "true", "UTC": "America/New_York"}.get(
        value, str(1024 * 1024)
    )


def test_reused_session_gets_every_runtime_default(spark):
    try:
        for k, v in S.RUNTIME_DEFAULTS.items():
            spark.conf.set(k, _other_value(v))
        assert S.get_spark() is spark
        assert {k: spark.conf.get(k) for k in S.RUNTIME_DEFAULTS} == S.RUNTIME_DEFAULTS
    finally:
        for k, v in S.RUNTIME_DEFAULTS.items():
            spark.conf.set(k, v)


def test_built_session_has_static_defaults(spark):
    assert int(spark.conf.get(S.CODEGEN_CACHE_KEY)) == S.CODEGEN_CACHE_ENTRIES
    assert spark.conf.get(S.CALL_SITE_KEY) == "false"


def test_reused_session_stops_call_site_capture(spark, monkeypatch):
    # the flag PySpark caches at the first Column call of a process whose
    # session was built with capture on
    monkeypatch.setattr(utils, "_enable_debugging_cache", True)
    S.get_spark()
    assert utils.is_debugging_enabled() is False


class _Session:
    """Just what the codegen-cache check reads of a session."""

    def __init__(self, app: str, entries: str):
        self.conf = {S.CODEGEN_CACHE_KEY: entries}
        self.sparkContext = type("SC", (), {"applicationId": app})


def test_small_codegen_cache_warns_once_per_app(caplog):
    caplog.set_level(logging.WARNING, logger=S.__name__)
    small = _Session("app-small-cache", "100")
    S._check_codegen_cache(small)
    S._check_codegen_cache(small)
    warnings = [r.getMessage() for r in caplog.records]
    assert len(warnings) == 1
    assert S.CODEGEN_CACHE_KEY in warnings[0] and "100" in warnings[0]

    caplog.clear()
    S._check_codegen_cache(_Session("app-big-cache", "1000"))
    assert caplog.records == []
