"""Operator query pack.

Each submodule exports:

- ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]`` —
  DataFrame-API implementations (Catalyst plans the physical strategy).
- ``ORACLE: dict[str, str]`` — per-query ANSI SQL the DuckDB oracle runs
  on the same parquet tables; keys without an oracle get a rows-only
  check by the driver.

``all_queries()`` / ``all_oracles()`` merge the submodules, in
``_modules()`` order, for the entry point ``__spark_entry__.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _modules():
    from parquet_stream_writer_spark.operators import (
        dedup,
        multimodal,
        pipeline,
        relational,
        similarity,
        staged,
        staged2,
        staged3,
        staged4,
        staged5,
        streaming_batch,
        text,
    )

    return (
        relational,
        dedup,
        similarity,
        text,
        streaming_batch,
        multimodal,
        pipeline,
        staged,
        staged2,
        staged3,
        staged4,
        staged5,
    )


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _modules():
        merged.update(mod.QUERIES)
    return merged


def all_oracles() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _modules():
        merged.update(mod.ORACLE)
    return merged
