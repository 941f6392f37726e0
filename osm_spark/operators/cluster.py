"""Space-filling-curve clustering — the storage-side analog of the
reference's Hilbert-packed R-tree bulk load (SURVEY.md §2.2 G15/G10:
rtree.ml:90-134, ordering surfaces.ml:404-409).

``cluster_by_hilbert`` range-partitions and sorts rows by their Hilbert
key before writing; parquet/Iceberg min-max column statistics on
(lat, lon) then prune row groups for any spatial range predicate — the
job the R-tree interior nodes do in the reference.  Verified by
tests/test_cluster_multimodal.py, which reads the written row-group stats and
checks the lat/lon extents are tight.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from osm_spark.geo import kernels as K


def with_hilbert_key(df: DataFrame) -> DataFrame:
    """Add the ``hkey`` Hilbert key column of ``lat``/``lon``
    (vectorized kernel, G10)."""

    @pandas_udf("long")
    def hk(la: pd.Series, lo: pd.Series) -> pd.Series:
        return pd.Series(K.hilbert_key(la.to_numpy(np.int64),
                                       lo.to_numpy(np.int64)))

    return df.withColumn("hkey", hk(F.col("lat"), F.col("lon")))


def cluster_by_hilbert(df: DataFrame, n_partitions: int = 32) -> DataFrame:
    """Hilbert-order the rows: range-partition on the key, sort within
    partitions.  Write the result with ``df.write.parquet`` (or the
    Iceberg writer) to get spatially-pruned scans."""
    keyed = with_hilbert_key(df)
    return keyed.repartitionByRange(n_partitions, "hkey") \
        .sortWithinPartitions("hkey").drop("hkey")
