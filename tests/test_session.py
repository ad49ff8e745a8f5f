"""Session construction helpers."""

from __future__ import annotations

import pytest

from python_dtl_spark.session import conf_bool


@pytest.mark.parametrize("value", ["1", "true", "TRUE", "Yes", "on", " On "])
def test_conf_bool_truthy_values(value):
    assert conf_bool(value) == "true"


@pytest.mark.parametrize("value", [None, "", "0", "false", "no", "off", "2", "enabled"])
def test_conf_bool_everything_else_is_false(value):
    assert conf_bool(value) == "false"
