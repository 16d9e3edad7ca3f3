"""SPARK_GRAFT_RUNSLOW parsing: only explicit on-values enable the
slow tests."""

import pytest

from tests.conftest import runslow_from_env


@pytest.mark.parametrize("value", ["1", "true", "TRUE", "yes", "on", " On "])
def test_on_values_enable_slow_tests(value):
    assert runslow_from_env(value)


@pytest.mark.parametrize("value", [None, "", "0", "false", "False", "no", "off", "2"])
def test_other_values_keep_slow_tests_skipped(value):
    assert not runslow_from_env(value)
