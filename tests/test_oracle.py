"""The correctness gate, run locally: every registered query with an oracle is
executed on Spark and DuckDB at sf0.01 and compared exactly — the same check
the driver performs for CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import pytest

from purldb_spark.plans.part_packages import PART_PACKAGES_SQL, part_packages
from purldb_spark.plans.registry import ORACLES, QUERIES, load_inventory
from tests.conftest import SF_CORRECT, assert_same_result

load_inventory()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, oracle):
    df = QUERIES[name](spark, SF_CORRECT)
    if name in ORACLES:
        assert_same_result(df, oracle, ORACLES[name])
    else:
        # weaker rows-only check for non-SQL-expressible ops
        assert df.count() >= 0


def test_part_packages_matches_oracle_twin(spark, oracle):
    # the one derivation both sides of every miner/collector oracle share:
    # drift on either side fails here, before it fails 41 query oracles
    assert_same_result(part_packages(spark, SF_CORRECT), oracle, PART_PACKAGES_SQL)


def test_every_query_has_oracle_or_reason():
    missing = [n for n in QUERIES if n not in ORACLES]
    # the no-oracle list is exact, not a prefix allowance:
    # f5_seqmatch_rank: SequenceMatcher.ratio is not SQL-expressible;
    # exact parity is proven by tests/test_seqmatch.py instead
    assert set(missing) == {"f5_seqmatch_rank"}, (
        f"queries without oracle: {missing}"
    )
