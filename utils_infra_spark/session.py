"""SparkSession factory with scale-appropriate defaults, and the one
owner of session-scoped state.

Local testing runs ``local[N]``; the same config block is what we'd
ship on a 1000-executor cluster — AQE on (runtime re-plan, skew-join
splitting, partition coalescing), broadcast threshold sized for dim
tables, Arrow enabled for the pandas-UDF surface.

Every cache the library keeps per session (prepared plans, table
plans, the block-manager input copies, spread() decisions, the text
pipelines' persisted fragments) is a named slot of ONE table,
reached through :func:`session_slot`:

- The key is the session OBJECT, not its applicationId: sibling
  sessions from ``spark.newSession()`` share an appId but not confs or
  temp views, so an appId key would serve one session's plan to
  another.
- Weak keys alone cannot collect an entry: a cached DataFrame holds a
  strong reference back to its session, so the entry keeps its own
  key alive. :func:`session_slot` therefore evicts every session whose
  SparkContext is stopped on each access, bounding the table to live
  sessions.
- Data under an ``sf_dir`` is assumed immutable for the session's
  lifetime (documented, not checked): a cached plan pins the file
  listing captured at its first build.
"""

from __future__ import annotations

import os
import weakref
from pathlib import Path

from pyspark.sql import SparkSession

# Below this many input bytes the workload is latency-bound, not
# throughput-bound: per-task scheduling + AQE's sequential stage
# materialization dominate actual work (measured floor table in
# docs/SCALE.md). 256 MB ≈ a couple of parquet row groups per core
# on local[32] — far below anything a real cluster run would see.
TINY_INPUT_BYTES = 256 * 1024 * 1024


def tune_for_input(spark: SparkSession, data_dir: str, *, tiny_bytes: int = TINY_INPUT_BYTES) -> int:
    """Adapt runtime-settable session knobs to the measured input size.

    Gates on actual bytes on disk (not the scale-factor name) so the
    same call is a no-op on production-sized inputs:

    - tiny input (< ``tiny_bytes``): 8 shuffle partitions instead of
      32 (shuffles carry KBs; 32 tasks = 32 schedulings of ~nothing.
      Under the r4 single-partition-scan regime p4 ≈ p2 won; with the
      r5 block-manager input cache feeding parallel map sides, the
      cached-mode A/B measured p8 ~15% under p4 and ~10% under p16)
      and AQE off (each AQE stage materializes as its own job — a
      sequential driver round-trip per shuffle that exists to re-plan
      statistics a 15 MB input doesn't need). Measured at sf0.1:
      2.4x faster warm headline total (docs/SCALE.md).
    - otherwise: leave the cluster-oriented defaults from
      :func:`get_spark` untouched (AQE on, partitions sized to cores).

    Returns the measured input bytes so callers can log the decision.
    """
    total = sum(f.stat().st_size for f in Path(data_dir).glob("**/*.parquet"))
    tiny = bool(total and total < tiny_bytes)
    if tiny:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    # record the measurement so plan builders can make the same
    # size-based choices AQE would have made (AQE is off in the tiny
    # regime precisely because its per-stage jobs cost more than they
    # save there) — see is_tiny_input
    spark.conf.set(TINY_INPUT_CONF, str(tiny).lower())
    return total


# session-conf key recording tune_for_input's measurement
TINY_INPUT_CONF = "spark.utils_infra.tiny_input"


def is_tiny_input(spark: SparkSession) -> bool:
    """True iff tune_for_input measured this session's input as tiny.

    Plan builders use this for the size choices AQE would otherwise
    make at run time: whether spread() adds its exchange over the
    input cache, and whether the cosine top-k pre-ranks per partition.
    Defaults to False — an untuned session always gets the spill-safe
    at-scale plans.
    """
    try:
        return spark.conf.get(TINY_INPUT_CONF, "false") == "true"
    except Exception:
        return False


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: half of physical memory (read
    when ``phys_bytes`` is None), at least 1 GiB and at most 24 GiB.

    In local mode the driver is the executor, so its heap holds every
    task and broadcast; the other half of the machine is headroom for
    what the JVM keeps outside its heap (metaspace, code cache, direct
    buffers) and for the Python driver and workers. A fixed 24g heap
    on a 16 GB host grew until the kernel killed the JVM.
    """
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    half_mb = phys_bytes // (1024 * 1024) // 2
    return f"{max(1024, min(24 * 1024, half_mb))}m"


def get_spark(app_name: str = "utils-infra-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) and
    only affects local mode; on a real cluster the master URL comes
    from the environment and these configs carry over unchanged.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        # --- adaptive execution: runtime re-plan, skew splitting ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing: start at cpus; AQE coalesces down ---
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        # --- dim joins broadcast (largest dim here is ~MBs) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for the pandas-UDF surface ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: 128 MB splits, the parquet sweet spot ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # --- deterministic session TZ so date math is reproducible ---
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver IS the executor (see
        # default_driver_memory for the sizing rule)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()),
        )
        # UI off: it costs ~50 MB + a jetty thread per session
        .config("spark.ui.enabled", "false")
        # call-site capture off: with it on, every pyspark.sql.functions
        # call and Column operator walks the Python stack and makes ~5
        # extra Py4J round trips (and the first one imports IPython,
        # ~0.3 s of CPU). Runtime errors keep their error class and
        # message; only the Python file:line "DataFrame query context"
        # goes.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


# session -> {slot name -> slot dict}; see the module docstring
_SESSION_STATE: weakref.WeakKeyDictionary[SparkSession, dict[str, dict]] = weakref.WeakKeyDictionary()


def session_slot(spark: SparkSession, name: str) -> dict:
    """The named per-session cache dict, created empty on first use.

    Each call first drops every other session whose SparkContext is
    stopped (it can never serve again) with all of its slots.
    """
    for sess in list(_SESSION_STATE.keys()):
        if sess is not spark and sess._sc._jsc is None:
            _SESSION_STATE.pop(sess, None)
    return _SESSION_STATE.setdefault(spark, {}).setdefault(name, {})
