"""The benchmark's workloads: which ops each one runs, and why.

An op is a registered query (``plans.registry.QUERIES`` builder, then
``.count()``), a catalog write (``catalog.writers.write_catalog_table``) or
a streaming drain (``streaming.queue.stream_queue`` into
``streaming.purl_sink``). Each workload is a closed loop with one client:
the next op starts when the previous one has finished.
"""

from __future__ import annotations

from dataclasses import dataclass

WRITE_OP = "write_catalog"
DRAIN_OP = "stream_drain"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple[str, ...]
    scale: str  # base data under perfbench/data/sf<scale>

    @property
    def queries(self) -> list[str]:
        return [op for op in self.ops if op not in (WRITE_OP, DRAIN_OP)]

    @property
    def writes(self) -> bool:
        """Whether the workload writes: a catalog table or a streaming sink."""
        return WRITE_OP in self.ops or DRAIN_OP in self.ops


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "catalog_api",
            "PURL catalog API path: filters, pagination, point lookup, joins, "
            "aggregates, windows, set ops; per-query fixed cost dominates and "
            "the fixture, Python and write layers stay idle",
            (
                "p2_ci_equality", "s1_paginate_keyset", "s2_point_lookup",
                "j1_fk_join", "j4_hash_semijoin", "j10_anti_join",
                "a7_latest_version",
                "v2_version_range_filter", "w4_topk_per_group",
                "c_scalar_bundle", "q3_shipping_priority",
            ),
            "0.1",
        ),
        Workload(
            "mine_match_write",
            "indexing side: a registry mapper, a Python-UDF ranking "
            "(seqmatch), a lookup over a fingerprint index built in set-up, "
            "and the only writes (catalog table, streaming purl sink)",
            (
                "x_pypi_map_json", "f5_seqmatch_rank", "x_bah128_dir_content",
                WRITE_OP, DRAIN_OP,
            ),
            "0.01",
        ),
    )
}

# Which end-to-end metric each layer's metrics should move, on which
# workload -- written down before measuring, so a change claimed on one
# layer can be checked against it.
PREDICTIONS = [
    {"layer": "session", "metrics": ["session.start_s"],
     "moves": ["setup_s"], "on": ["catalog_api", "mine_match_write"], "not_on": []},
    {"layer": "plans (registry builders)",
     "metrics": ["plans.build_s", "plans.build_jobs"],
     "moves": ["op_p50_s", "ops_per_s"], "on": ["catalog_api"],
     "not_on": ["mine_match_write (small share)"]},
    {"layer": "plans.fixture_*",
     "metrics": ["plans.fixture_build_s", "plans.fixtures_built",
                 "plans.fixture_lazy_build_s (0 in timed passes)"],
     "moves": ["setup_s", "peak_rss_mb"], "on": ["mine_match_write"],
     "not_on": ["catalog_api"]},
    {"layer": "catalog",
     "metrics": ["catalog.load_calls", "catalog.load_s", "catalog.write_s",
                 "catalog.write_bytes", "catalog.write_files"],
     "moves": ["write_p50_s", "stored_bytes_per_user_byte"],
     "on": ["mine_match_write"], "not_on": ["catalog_api (reads only)"]},
    {"layer": "Spark engine (operators, functions)",
     "metrics": ["spark.action_s", "spark.jobs_per_op", "spark.stages_per_op",
                 "spark.tasks_per_op", "spark.failed_tasks",
                 "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
                 "spark.scheduler_delay_s", "spark.fetch_wait_s",
                 "spark.shuffle_read_mb", "spark.shuffle_write_mb",
                 "spark.spill_mb", "spark.input_mb", "spark.core_busy_frac"],
     "moves": ["op_p50_s (jobs, stages: catalog_api)",
               "op_p90_s (shuffle, run, fetch wait)"],
     "on": ["catalog_api", "mine_match_write"], "not_on": []},
    {"layer": "Python boundary (functions UDFs)",
     "metrics": ["python.boot_s", "python.init_s", "python.run_s",
                 "python.sent_mb", "python.returned_mb"],
     "moves": ["ops_per_s"], "on": ["mine_match_write"],
     "not_on": ["catalog_api (reads 0)"]},
    {"layer": "streaming",
     "metrics": ["streaming.batches", "streaming.rows", "streaming.trigger_s",
                 "streaming.add_batch_s"],
     "moves": ["write_p50_s"], "on": ["mine_match_write"],
     "not_on": ["catalog_api"]},
]
