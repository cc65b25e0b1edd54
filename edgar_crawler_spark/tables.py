"""Test-table loaders.

The driver provides TPC-H-ish parquet tables (region nation customer
supplier part orders lineitem events documents embeddings) at
/root/testdata/sf{0.001,0.01,0.1}. At 100 TB these would be
Iceberg/parquet tables partitioned on their natural keys; here we read
single parquet files — the queries are written so Catalyst still gets
full pushdown/pruning (filters before wide ops, explicit column
selects).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
