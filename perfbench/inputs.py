"""Seeded input generation for the benchmark workloads.

Every table comes from the package's public generators
(``datagen.gen_tokens`` / ``datagen.gen_pods``) driven by
``np.random.PCG64`` streams keyed by the benchmark seed, so the same seed
gives byte-identical inputs.  Nothing here reads the repo's ``data/``
directory or calls ``ensure_sf``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from opentelemetry_collector_contrib_spark import datagen

# stream ids under one seed: each table draws from its own PCG64 stream
_POD_STREAM, _BASE_STREAM, _INC_STREAM = 1, 2, 3

# doc ids of increment i start at ID_SPAN * (i + 1): disjoint from the base
# table and from each other for any row count below the span
ID_SPAN = 10_000_000


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.PCG64([seed, *stream]))


def write_pods(seed: int, path: str) -> str:
    pq.write_table(datagen.gen_pods(_rng(seed, _POD_STREAM)), path)
    return path


def write_tokens(seed: int, path: str, n_rows: int) -> str:
    """One tokens parquet file of ``n_rows`` rows.  Small row groups let
    Spark split the single file across task slots."""
    table = datagen.gen_tokens(_rng(seed, _BASE_STREAM), n_rows)
    pq.write_table(table, path, row_group_size=2_000)
    return path


def write_increments(seed: int, out_dir: str, n_files: int,
                     n_rows: int) -> list[str]:
    """``n_files`` increment files, each ``n_rows`` rows with doc ids
    disjoint from the base table and from each other."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        table = datagen.gen_tokens(_rng(seed, _INC_STREAM, i), n_rows,
                                   id_offset=ID_SPAN * (i + 1))
        p = os.path.join(out_dir, f"inc-{i:04d}.parquet")
        pq.write_table(table, p)
        paths.append(p)
    return paths
