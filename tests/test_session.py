"""Session helpers: ``conf_scope`` puts every key back as it found it."""

import pytest

from orca_spark.session import conf_scope

_UNSET = "spark.orca.test.scopedKey"  # never set anywhere else
_SET = "spark.sql.shuffle.partitions"


@pytest.mark.parametrize("raises", [False, True])
def test_conf_scope_restores_set_and_unset_keys(spark, raises):
    old = spark.conf.get(_SET)
    assert spark.conf.get(_UNSET, None) is None

    def body():
        with conf_scope(spark, {_UNSET: "on", _SET: "3"}):
            assert spark.conf.get(_UNSET) == "on"
            assert spark.conf.get(_SET) == "3"
            if raises:
                raise ValueError("body failed")

    if raises:
        with pytest.raises(ValueError, match="body failed"):
            body()
    else:
        body()
    assert spark.conf.get(_UNSET, None) is None  # unset before, unset after
    assert spark.conf.get(_SET) == old  # set before, old value back
