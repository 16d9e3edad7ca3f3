"""The session memo (session.session_key / session_memo): one key
function and one get-or-build store for every session artifact."""

import os

from flink_project_userbehavioranalysis_spark import session
from flink_project_userbehavioranalysis_spark.operators import similarity as S


def test_get_or_build_calls_build_once(spark):
    key = session.session_key(spark, "/tmp/memo-test", "probe", 1)
    calls = []
    try:
        assert session.session_memo(key) is None  # plain lookup misses
        first = session.session_memo(key, lambda: calls.append(1) or object())
        assert session.session_memo(key, lambda: calls.append(1) or object()) is first
        assert session.session_memo(key) is first
        assert calls == [1]
    finally:
        assert session.session_forget(key) is first
    assert session.session_memo(key) is None


def test_relative_and_absolute_sf_dir_share_one_entry(spark, sf_dir):
    rel = os.path.relpath(sf_dir)
    assert rel != os.path.abspath(sf_dir)
    assert session.session_key(spark, rel, "x") == session.session_key(spark, sf_dir, "x")
    assert S._corpus_broadcast(spark, rel) is S._corpus_broadcast(spark, sf_dir)
