"""O1 — vertical concatenation of input tables.

reference: splink/vertically_concatenate.py::vertically_concatenate_sql.

Spark-first: ``unionByName`` over the inputs with a ``source_dataset``
literal per table. The reference also injects a ``__splink_salt`` random()
column; salting here happens inside the blocking join instead
(``BlockingRule.salting_partitions``, see operators/blocking.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def vertically_concatenate(
    dfs: dict[str, DataFrame],
    source_dataset_column: str = "source_dataset",
) -> DataFrame:
    """UNION ALL the inputs, tagging each row with its source dataset name.

    With a single input and no explicit source column, the tag column is
    still added (constant) so downstream link/dedupe code is uniform.
    """
    tagged = []
    for name, df in dfs.items():
        if source_dataset_column not in df.columns:
            df = df.withColumn(source_dataset_column, F.lit(name))
        tagged.append(df)
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged)
