from __future__ import annotations

import sys

import pytest

import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from automated_datastore_discovery_with_aws_glue_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("warehouse")
    spark = get_spark(
        "engine-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(warehouse),
            # TEST-session posture only (the engine session keeps its
            # scale defaults): the suite runs ~1000 tests x many tiny
            # actions, each compiling fresh whole-stage Janino classes
            # for KB-scale data — interpreted execution is faster than
            # the compile at this size
            "spark.sql.codegen.wholeStage": "false",
            "spark.sql.codegen.factoryMode": "NO_CODEGEN",
            "spark.sql.constraintPropagation.enabled": "false",
        },
    )
    yield spark


@pytest.fixture
def codegen(spark):
    """The production execution path for one test: whole-stage codegen
    on and the default expression factory mode (compile, interpreted
    fallback), set at runtime on the shared session and restored
    afterwards. The session above runs interpreted, so without this no
    test compiles the engine's generated expressions (literal matrices,
    higher-order folds) through Janino."""
    keys = ("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    saved = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.unset("spark.sql.codegen.factoryMode")
    try:
        yield spark
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
