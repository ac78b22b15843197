"""Named query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 registers a named query
(spark builder over the driver's star schema) and, where the
semantics are ANSI-SQL-expressible, a DuckDB oracle string. The
driver executes both at sf=0.01 and compares row-count + schema +
order-insensitive value hash.

Cross-engine determinism rules used throughout (see
operators/aggregations.py): money sums go through DECIMAL (exact,
order-independent); averages/ratios round at a precision far above
float noise; ranking ties always break on a unique id; derived ints
cast to bigint to match DuckDB's default integer width.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from utils_infra_spark.operators.joins import FOLD_TAG
from utils_infra_spark.session import is_tiny_input, session_slot
from utils_infra_spark.sources.tables import input_mode as tables_input_mode


# Prepared plans live in the session's "plans" slot
# (utils_infra_spark.session): (sf_dir, input mode, tiny-input
# measurement, query name) -> DataFrame. A DataFrame whose build ran
# no Spark job is an immutable logical plan, so re-serving the same
# object for the same key is semantically a no-op — it skips only the
# driver-side plan RE-construction (Python → JVM expression building,
# ~0.05-0.5 s per query under Py4J latency; see docs/SCALE.md). The
# same idea as load_table's table cache, one level up: any engine that
# fields repeated named queries keeps a prepared-plan cache keyed by
# query identity. The input mode and tiny measurement are part of the key
# because they bind the same query name to different scans / physical
# hints (sources/tables.py, session.py).


@dataclass
class Query:
    """One named query: its builder, DuckDB oracle and doc.

    ``plan`` re-serves a built DataFrame only if the build ran no Spark
    job; otherwise the job's work would be frozen into the cached plan
    and a timing loop over ``plan()`` would stop paying it after the
    first run. The one exception is the literal micro-dim fold: jobs
    tagged FOLD_TAG by operators/joins.py::literal_lookup_maps do not
    count.
    """

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    doc: str = ""

    def plan(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """Build (or re-serve) this query's DataFrame via the plan cache."""
        per = session_slot(spark, "plans")
        # the tiny-input measurement is part of the key: builders bake
        # size-gated physical choices into the plan (e.g. whether
        # spread() adds its round-robin exchange over the input cache),
        # so a plan built before tune_for_input ran must not be
        # re-served after the measurement changes
        key = (os.path.abspath(sf_dir), tables_input_mode(), is_tiny_input(spark), self.name)
        cached = per.get(key)
        if cached is not None:
            return cached
        sc = spark.sparkContext
        tag = f"plan-build-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            df = self.fn(spark, sf_dir)
        finally:
            sc.removeJobTag(tag)
        # the listener bus fills the status store: drain it so a job
        # that just ended is listed
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        job_ids = jsc.statusTracker().getJobIdsForTag
        if not set(job_ids(tag)) - set(job_ids(FOLD_TAG)):
            per[key] = df
        return df


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load()
    return {name: q.plan for name, q in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _load()
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


_loaded = False


def _load() -> None:
    global _loaded
    if _loaded:
        return
    from . import (  # noqa: F401
        advanced_queries,
        analytics_queries,
        dsl_queries,
        geo_queries,
        graph_queries,
        pipeline_queries,
        ranking_queries,
        relational,
        sampling_queries,
        scalar_queries,
        window_queries,
    )

    _loaded = True
