"""Vectorized Python surface: pandas_udf / applyInPandas showcases.

UDFs are the slow path — everything else in this engine is JVM-side —
but when Python is unavoidable this is the shape it must take:
Arrow-batched, group- or batch-at-a-time, narrow outputs. These two
queries pin the plumbing (and its determinism) with oracles.
"""

import pandas as pd  # noqa: F401 (pandas_udf resolves type hints at def time)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf

from ..queries.registry import register_query
from ..sources import load_table


@register_query(
    "pandas_udf_price_bands",
    oracle="""
    SELECT p_partkey,
           CAST(FLOOR(SQRT(p_retailprice)) AS BIGINT) AS price_band
    FROM part
    """,
    description="scalar pandas_udf (Arrow-vectorized numpy math on the JVM<->Python boundary)",
)
def pandas_udf_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    @pandas_udf("bigint")
    def band(price: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(np.floor(np.sqrt(price.to_numpy())).astype("int64"))

    part = load_table(spark, sf_dir, "part")
    return part.select("p_partkey", band("p_retailprice").alias("price_band"))


@register_query(
    "pandas_group_zscore",
    oracle="""
    SELECT c_custkey, c_nationkey,
           ROUND((c_acctbal - AVG(c_acctbal) OVER (PARTITION BY c_nationkey))
                 / STDDEV_SAMP(c_acctbal) OVER (PARTITION BY c_nationkey), 4) AS zscore
    FROM customer
    """,
    description="applyInPandas group-wise normalization (UDAF-ish: whole group visits one worker)",
)
def pandas_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    def zscore(pdf):
        import pandas as pd

        bal = pdf["c_acctbal"]
        z = (bal - bal.mean()) / bal.std(ddof=1)
        return pd.DataFrame(
            {
                "c_custkey": pdf["c_custkey"],
                "c_nationkey": pdf["c_nationkey"],
                "zscore": z.round(4),
            }
        )

    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").applyInPandas(
        zscore, schema="c_custkey bigint, c_nationkey int, zscore double"
    )
