"""nb_train_wide — the NB student at a REALISTIC width: B = 4096 hashed
buckets, the same order as fastText's default hashing table and the
width the frozen quality teacher itself uses.

The B = 8 registry demo (plans/q_nb.py) proves the trainer's algebra at
a size a human can eyeball; this query proves the "fastText-style gate
at 100 TB" framing END-TO-END at the width a production curation
pipeline would deploy (r14 verdict #4): training cost is IDENTICAL in
shape — still one tokenize pass and one (class, bucket) counting
aggregation — because B only widens the combine's key space, never the
corpus scan. The artifact grows from 2 x 8 to 2 x 4096 integer rows
(C x (B + 2) ints — still centroid-sized driver traffic), and the dense
grid is generated by a single executor-side range decode
(operators/nb.py), not a driver list.

The oracle is nb_train's own DuckDB replay (q_nb.nb_train_oracle) at
this width; its grid is range()-generated and every count stays BIGINT,
so the hash match is bit-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from purldb_spark.functions.text import TEACHER_BUCKETS
from purldb_spark.operators.nb import nb_train
from purldb_spark.plans.q_nb import nb_train_oracle, teacher_labeled_docs
from purldb_spark.plans.registry import query


@query("nb_train_wide", oracle=nb_train_oracle(TEACHER_BUCKETS))
def nb_train_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the NB student at the teacher's own width (module
    docstring); emit the dense 2 x 4096 sufficient-statistics table."""
    return nb_train(
        spark, teacher_labeled_docs(spark, sf_dir), "y", "text", TEACHER_BUCKETS
    )
