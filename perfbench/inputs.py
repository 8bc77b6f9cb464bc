"""Seeded benchmark inputs.

The base tables under ``perfbench/data/sf<scale>/`` are copies of the
project's synthetic star schema (one parquet file per table, one row group
per file). A seed draws one row-order permutation per table and writes the
permuted table with the same schema, file and row-group layout. Registered
queries must not depend on row order (the registry's determinism
contract), so every seed has the same expected results; the
``--self-check`` mode of ``run.py`` verifies that with two seeds.

The write and drain ops read mined package rows derived from the permuted
``part`` table (``package_rows``): two releases per part, each mined twice
at different mining levels, so the catalog writer's dedup on ``purl`` has
work to do; the ecosystem ``type`` cycles over ``PACKAGE_TYPES``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
PACKAGE_TYPES = ("npm", "pypi", "maven", "gem")


def base_dir(scale: str) -> str:
    return os.path.join(DATA_DIR, f"sf{scale}")


def table_names(scale: str) -> list[str]:
    return sorted(
        f[: -len(".parquet")]
        for f in os.listdir(base_dir(scale))
        if f.endswith(".parquet")
    )


def make_inputs(scale: str, seed: int, out_dir: str) -> tuple[dict[str, dict], pa.Table]:
    """Write every base table, rows permuted by ``seed``, into ``out_dir``.
    Returns per-table ``{"rows": n, "bytes": size on disk}`` and the
    streaming queue's rows."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    sizes = {}
    for name in table_names(scale):
        src = os.path.join(base_dir(scale), f"{name}.parquet")
        table = pq.read_table(src)
        n = table.num_rows
        permuted = table.take(rng.permutation(n))
        dst = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(
            permuted,
            dst,
            row_group_size=max(n, 1),
            compression="snappy",
        )
        sizes[name] = {"rows": n, "bytes": os.path.getsize(dst)}
        if name == "part":
            packages = package_rows(permuted)
    return sizes, packages


def package_rows(part: pa.Table) -> pa.Table:
    """Mined package rows for a (permuted) ``part`` table."""
    cols = {k: [] for k in ("purl", "type", "name", "version", "download_url",
                            "mining_level")}
    for key, name, size in zip(part["p_partkey"].to_pylist(),
                               part["p_name"].to_pylist(),
                               part["p_size"].to_pylist()):
        t = PACKAGE_TYPES[key % len(PACKAGE_TYPES)]
        pkg = f"{name.replace(' ', '-')}-{key}"
        for minor in (0, 1):
            version = f"{size}.{minor}.0"
            for level in (1, 2):
                cols["purl"].append(f"pkg:{t}/{pkg}@{version}")
                cols["type"].append(t)
                cols["name"].append(pkg)
                cols["version"].append(version)
                cols["download_url"].append(
                    f"https://registry.example/{t}/{pkg}/{version}/l{level}")
                cols["mining_level"].append(level)
    return pa.table(cols)
