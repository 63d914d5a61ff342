"""Session conf scope (chess_ratings_spark/session.py::conf_scope)."""

from __future__ import annotations

from contextlib import nullcontext

import pytest

from chess_ratings_spark.session import conf_scope

SET_KEY = "spark.sql.shuffle.partitions"
UNSET_KEY = "spark.sql.cbo.starSchemaDetection"


@pytest.mark.parametrize("raises", [False, True])
def test_conf_scope_restores_set_and_unset_keys(spark, raises):
    before = spark.conf.get(SET_KEY)
    assert spark.conf.get(UNSET_KEY, None) is None
    with pytest.raises(RuntimeError) if raises else nullcontext():
        with conf_scope(spark, {SET_KEY: "3", UNSET_KEY: "true"}):
            assert spark.conf.get(SET_KEY) == "3"
            assert spark.conf.get(UNSET_KEY) == "true"
            if raises:
                raise RuntimeError("body failed")
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None
    assert UNSET_KEY not in spark.conf.getAll

