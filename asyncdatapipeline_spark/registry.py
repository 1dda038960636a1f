"""Central query registry backing the driver contract.

Every operator from SURVEY.md §2B registers here with a ``queries()``
callable and (where SQL-expressible) a DuckDB ``oracle_sql()`` twin.
``__spark_entry__.py`` is a thin re-export of this module.

Contract notes (README of /root/repo/__spark_entry__.py):
- column names must match between the Spark result and the oracle SQL —
  the driver sorts columns by name before hashing values;
- oracles run on DuckDB views named after the fixture tables.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from asyncdatapipeline_spark.sources.tables import SCAN_REPAIR

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QueryDef"] = {}


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str
    scan_repair: bool


def query(
    name: str, oracle: str | None = None, scan_repair: bool = True
) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with an optional DuckDB oracle.

    ``scan_repair`` decides whether ``load_table`` may round-robin the
    query's single-row-group fixture scans (``sources/tables.py``). The
    decorator returns a wrapper that holds the setting in
    ``tables.SCAN_REPAIR`` while the body runs, so registry lookups,
    direct module calls and nested calls (one query building another)
    each run under their own query's setting. A query sets it False for
    one of three reasons, stated beside its decorator:

    - measured slower with the repair: its scans feed a keyed exchange
      or light map work, where the round-robin is a pure extra barrier
      (the r12 whole-suite A/B and the r13 interleaved A/B,
      AB_REPAIR_r13.json);
    - a plan-shape contract the repair's exchange would break (the
      runtime bloom filter of q_join_bloom, the map-only Expand of
      q_unpivot);
    - row identity: ``input_file_name()`` / ``_metadata`` evaluate above
      the exchange and would come back empty (q_scan_files).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")

        @functools.wraps(fn)
        def build(*args, **kwargs) -> DataFrame:
            token = SCAN_REPAIR.set(scan_repair)
            try:
                return fn(*args, **kwargs)
            finally:
                SCAN_REPAIR.reset(token)

        _REGISTRY[name] = QueryDef(
            name, build, oracle, (fn.__doc__ or "").strip(), scan_repair
        )
        return build

    return deco


def _load_all() -> None:
    """Import every operator module so registrations run."""
    import asyncdatapipeline_spark.operators.scans  # noqa: F401
    import asyncdatapipeline_spark.operators.projection  # noqa: F401
    import asyncdatapipeline_spark.operators.joins  # noqa: F401
    import asyncdatapipeline_spark.operators.aggregates  # noqa: F401
    import asyncdatapipeline_spark.operators.windows  # noqa: F401
    import asyncdatapipeline_spark.operators.sort  # noqa: F401
    import asyncdatapipeline_spark.operators.setops  # noqa: F401
    import asyncdatapipeline_spark.operators.layout  # noqa: F401
    import asyncdatapipeline_spark.operators.timeseries  # noqa: F401
    import asyncdatapipeline_spark.operators.profile  # noqa: F401
    import asyncdatapipeline_spark.operators.cdc  # noqa: F401
    import asyncdatapipeline_spark.sources.sinks  # noqa: F401
    import asyncdatapipeline_spark.operators.graph  # noqa: F401
    import asyncdatapipeline_spark.operators.evalmetrics  # noqa: F401
    import asyncdatapipeline_spark.operators.tpch  # noqa: F401
    import asyncdatapipeline_spark.functions.scalar  # noqa: F401
    import asyncdatapipeline_spark.functions.udfs  # noqa: F401
    import asyncdatapipeline_spark.llm.dedup  # noqa: F401
    import asyncdatapipeline_spark.llm.similarity  # noqa: F401
    import asyncdatapipeline_spark.llm.text  # noqa: F401
    import asyncdatapipeline_spark.llm.filtering  # noqa: F401
    import asyncdatapipeline_spark.llm.packing  # noqa: F401
    import asyncdatapipeline_spark.llm.multimodal  # noqa: F401
    import asyncdatapipeline_spark.streaming.batch_windows  # noqa: F401
    import asyncdatapipeline_spark.operators.subqueries  # noqa: F401
    import asyncdatapipeline_spark.operators.orderstats  # noqa: F401


def all_queries() -> dict[str, QueryFn]:
    _load_all()
    return {name: qd.fn for name, qd in sorted(_REGISTRY.items())}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {
        name: qd.oracle for name, qd in sorted(_REGISTRY.items()) if qd.oracle
    }


def get(name: str) -> QueryDef:
    _load_all()
    return _REGISTRY[name]
