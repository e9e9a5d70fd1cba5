"""get_spark builds its session with every conf the engine requires."""

from __future__ import annotations

from apache_beam_challange_spark.session import RUNTIME_CONFS


def test_built_session_carries_runtime_confs(spark):
    conf = spark.sparkContext._conf
    for key, value in RUNTIME_CONFS.items():
        assert conf.get(key) == value, key
