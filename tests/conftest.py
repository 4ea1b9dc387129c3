from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from graphzeppelin_spark.session import get_spark

STREAM_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("type", T.IntegerType(), False),
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
    ]
)


@pytest.fixture(scope="session")
def spark():
    # cores from the host (SPARK_GRAFT_CPUS, else local[*]); 8 shuffle
    # partitions keep the plan tests' shapes on any host
    s = get_spark(app_name="graphzeppelin_tests", shuffle_partitions=8)
    yield s


def stream_df(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf, schema=STREAM_SCHEMA)


def edges_df(spark, arr: np.ndarray):
    pdf = pd.DataFrame({"src": arr[:, 0].astype("int64"), "dst": arr[:, 1].astype("int64")})
    return spark.createDataFrame(pdf, schema=EDGE_SCHEMA)
