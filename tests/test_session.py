from contextlib import nullcontext

import pytest

from real_estate_etl_dev_spark.session import conf_span

SET_KEY = "spark.sql.shuffle.partitions"
UNSET_KEY = "spark.sql.files.maxRecordsPerFile"


@pytest.mark.parametrize("raises", [False, True], ids=["exit", "raise"])
def test_conf_span_restores_set_and_unset_keys(spark, raises):
    """Keys set before the span get their value back, keys unset before
    it are unset again — on a normal exit and when the body raises."""
    spark.conf.unset(UNSET_KEY)
    before = spark.conf.get(SET_KEY, None)
    assert before is not None and before != "3"

    with pytest.raises(RuntimeError) if raises else nullcontext():
        with conf_span(spark, {SET_KEY: "3", UNSET_KEY: "7"}):
            assert spark.conf.get(SET_KEY) == "3"
            assert spark.conf.get(UNSET_KEY, None) == "7"
            if raises:
                raise RuntimeError("body failed")

    assert spark.conf.get(SET_KEY, None) == before
    assert spark.conf.get(UNSET_KEY, None) is None
