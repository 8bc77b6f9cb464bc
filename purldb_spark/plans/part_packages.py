"""The synthetic package rows behind the miner/collector fixture queries.

Every x_* miner, collector and API-intake fixture derives one synthetic
package from each `part` row: key ``k``, ``name`` (``<brand>-<k>``) and
``ver`` (``<k%9>.<k%5>.0``), plus the ``ver2`` / ``size`` / ``cs`` /
``cs2`` columns that two or more query modules read. This module is the
one place that derivation is written, on both sides of the oracle check:
``part_packages`` for Spark and ``PART_PACKAGES_SQL`` for DuckDB, with the
same columns and the same expressions (pinned by tests/test_oracle.py).

The base is deliberately a superset: Catalyst's column pruning drops every
column a query never reads before planning, so a query pays only for what
it uses. A column that only one module reads is projected at its call
site, on top of this base. Builders that need the name/version inline on
`part` (not through the base projection) use the ``NAME``/``VER``
expressions; their oracles still read ``PART_PACKAGES_SQL``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.catalog.tables import load
from purldb_spark.plans import sqltext as S

_K = S.col("p_partkey")
_CS = S.md5(S.col("p_name"))

NAME = S.concat(
    S.lower(S.replace(S.col("p_brand"), "#", "-")), "-", _K.cast("string")
)
VER = S.concat((_K % 9).cast("string"), ".", (_K % 5).cast("string"), ".0")

_NAME_SQL = "lower(replace(p_brand, '#', '-')) || '-' || CAST(p_partkey AS VARCHAR)"
_VER_SQL = (
    "CAST(p_partkey % 9 AS VARCHAR) || '.' || CAST(p_partkey % 5 AS VARCHAR) || '.0'"
)

PART_PACKAGES_SQL = f"""
  SELECT p_partkey AS k, {_NAME_SQL} AS name, {_VER_SQL} AS ver,
         {_VER_SQL} || '.9' AS ver2,
         CAST(p_size AS BIGINT) AS size, md5(p_name) AS cs,
         'ff' || substring(md5(p_name), 3) AS cs2
  FROM part
"""


def part_packages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synthetic package row per `part` row (see module docstring)."""
    return S.sel(
        load(spark, sf_dir, "part"),
        _K.alias("k"),
        NAME.alias("name"),
        VER.alias("ver"),
        S.concat(VER, ".9").alias("ver2"),
        S.col("p_size").cast("long").alias("size"),
        _CS.alias("cs"),
        S.concat("ff", S.substring(_CS, 3, 32)).alias("cs2"),
    )
