"""Tests for sf-aware session tuning (utils_infra_spark/session.py).

tune_for_input gates latency-oriented knobs on measured input bytes so
the same code path is a no-op on production-sized inputs: tiny input →
8 shuffle partitions + AQE off (the per-query constant at sf<=0.1 is
scheduling + AQE stage materialization, docs/SCALE.md); large input →
cluster defaults untouched.
"""

from __future__ import annotations

import os

import pytest

from utils_infra_spark.session import TINY_INPUT_BYTES, tune_for_input


def _reset(spark):
    # the cluster-default state these tests probe tune_for_input from
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def _restore(spark):
    # back to the conftest test-session defaults (8 partitions, AQE
    # on) so later test files aren't silently run at 32 partitions —
    # pre-r14 the trailing _reset(32) here leaked into every
    # alphabetically-later file, including the streaming e2e suite
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_tiny_input_gets_latency_knobs(spark, sf_dir):
    _reset(spark)
    measured = tune_for_input(spark, sf_dir)
    assert 0 < measured < TINY_INPUT_BYTES  # sf0.001 is ~450 KB
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    _restore(spark)


def test_large_input_keeps_cluster_defaults(spark, sf_dir):
    _reset(spark)
    measured = tune_for_input(spark, sf_dir, tiny_bytes=1)
    assert measured > 1
    # threshold of 1 byte means "never tiny": confs untouched
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    _restore(spark)


def test_empty_dir_is_noop(spark, tmp_path):
    _reset(spark)
    assert tune_for_input(spark, str(tmp_path)) == 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    _restore(spark)


def test_registry_index_is_current():
    """REGISTRY.json is the committed operator index: it must equal
    what tools/gen_registry_index.py builds from the live registry, so
    a new, renamed or untagged query fails here instead of leaving the
    file stale (build_index raises on a query with no operator tag)."""
    import json
    import os

    from tools import gen_registry_index

    path = os.path.join(gen_registry_index.REPO, "REGISTRY.json")
    with open(path) as f:
        committed = json.load(f)
    assert gen_registry_index.build_index() == committed


def test_checkpoint_with_ids_attributes_exactly_its_own_rdd(spark, persistent_rdd_ids):
    """The returned id set must be exactly the persistent RDD the
    checkpoint registered (read off the LogicalRDD plan — no global
    diff), for both lazy and eager forms, and unpersist_rdd_ids must
    actually free those blocks (Dataset.unpersist would be a no-op)."""
    from utils_infra_spark.sources.tables import checkpoint_with_ids, unpersist_rdd_ids

    before = persistent_rdd_ids()
    df = spark.range(1000).selectExpr("id", "id % 7 AS k").groupBy("k").count()
    lazy, lazy_ids = checkpoint_with_ids(df, eager=False)
    eager, eager_ids = checkpoint_with_ids(spark.range(50), eager=True)
    assert len(lazy_ids) == 1 and len(eager_ids) == 1 and lazy_ids != eager_ids
    # both registrations are visible in the JVM persistent map and are NEW
    now = persistent_rdd_ids()
    assert lazy_ids | eager_ids <= now - before
    assert lazy.count() == 7  # materializing the lazy one changes nothing
    unpersist_rdd_ids(spark, lazy_ids | eager_ids)
    assert (lazy_ids | eager_ids) & persistent_rdd_ids() == set()


def test_spread_memo_records_and_reuses_decision(spark):
    """spread()'s layout probe (inputFiles + a Py4J RDD
    materialization, ~40-50 ms per fresh Dataset) memoizes per
    (semanticHash, partitions, min_bytes, tiny-input measurement).
    Two semantically identical FRESH DataFrames must share one memo
    entry and get the same decision; a different partitions target is
    a separate entry."""
    from utils_infra_spark.session import session_slot
    from utils_infra_spark.sources.tables import spread

    def mk():
        return spark.range(100).selectExpr("id", "id * 2 AS v")

    out1 = spread(mk(), partitions=4, min_bytes=0)
    per = session_slot(spark, "spread")
    assert per is not None and len(per) >= 1
    n_before = len(per)
    out2 = spread(mk(), partitions=4, min_bytes=0)
    assert len(per) == n_before  # same plan -> reused entry, no new probe
    assert out1.rdd.getNumPartitions() == out2.rdd.getNumPartitions()
    spread(mk(), partitions=2, min_bytes=0)
    assert len(per) == n_before + 1  # different target -> its own entry


def test_session_slot_prunes_stopped_sessions(spark):
    """session_slot drops every slot of a session whose SparkContext
    is stopped on the next access, and leaves live sessions alone."""
    from types import SimpleNamespace

    from utils_infra_spark import session

    class StoppedSession:
        _sc = SimpleNamespace(_jsc=None)

    def snapshot(sess):
        return {name: dict(slot) for name, slot in session._SESSION_STATE[sess].items()}

    session.session_slot(spark, "prune_probe")["k"] = "live"
    live_before = snapshot(spark)
    fake = StoppedSession()
    for name in ("plans", "tables", "input", "spread"):
        session.session_slot(fake, name)["k"] = name
    assert set(snapshot(fake)) == {"plans", "tables", "input", "spread"}

    assert session.session_slot(spark, "prune_probe") == {"k": "live"}
    assert fake not in session._SESSION_STATE
    assert snapshot(spark) == live_before
    session._SESSION_STATE[spark].pop("prune_probe")


def test_one_owner_for_session_state():
    """Session-scoped state has one owner: only session.py declares a
    module-level WeakKeyDictionary, and the only module globals the
    library rebinds are the input mode and the registry's load flag."""
    import ast
    from pathlib import Path

    import utils_infra_spark

    root = Path(utils_infra_spark.__file__).parent
    weak_tables, rebound = set(), set()
    for path in root.rglob("*.py"):
        mod = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if isinstance(node, (ast.Assign, ast.AnnAssign)) and node.value is not None:
                if "WeakKeyDictionary" in ast.unparse(node.value):
                    weak_tables.add(mod)
        for node in ast.walk(tree):
            if isinstance(node, ast.Global):
                rebound.update((mod, name) for name in node.names)
    assert weak_tables == {"session.py"}
    assert rebound == {("sources/tables.py", "_input_mode"), ("queries/__init__.py", "_loaded")}


def test_fold_tag_only_in_literal_lookup_maps():
    """The registry re-serves a plan despite jobs tagged FOLD_TAG, so
    the tag may only wrap literal_lookup_maps' <=100-row collect; the
    registry's plan() is its one reader."""
    import ast
    from pathlib import Path

    import utils_infra_spark
    from utils_infra_spark.operators.joins import FOLD_TAG

    root = Path(utils_infra_spark.__file__).parent
    users = set()
    for path in root.rglob("*.py"):
        mod = path.relative_to(root).as_posix()
        for fn in ast.walk(ast.parse(path.read_text())):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    if (isinstance(node, ast.Name) and node.id == "FOLD_TAG") or (
                        isinstance(node, ast.Constant) and node.value == FOLD_TAG
                    ):
                        users.add((mod, fn.name))
    assert users == {("operators/joins.py", "literal_lookup_maps"), ("queries/__init__.py", "plan")}


def test_library_env_vars_are_deployment_only():
    """The library reads only the three deployment env vars (core
    count, master URL, driver heap). Any other behaviour is an
    argument or a Spark conf, not a hidden process-wide knob."""
    import ast
    from pathlib import Path

    import utils_infra_spark

    def is_environ(node):
        return (
            isinstance(node, ast.Attribute)
            and node.attr == "environ"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        )

    def key(node):
        return node.value if isinstance(node, ast.Constant) else ast.unparse(node)

    keys = set()
    for path in Path(utils_infra_spark.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Subscript) and is_environ(node.value):
                keys.add(key(node.slice))
            elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.args:
                f = node.func
                if (f.attr == "get" and is_environ(f.value)) or (
                    f.attr == "getenv" and isinstance(f.value, ast.Name) and f.value.id == "os"
                ):
                    keys.add(key(node.args[0]))
    assert keys == {"SPARK_GRAFT_CPUS", "SPARK_MASTER", "SPARK_DRIVER_MEMORY"}


def test_default_driver_memory_is_half_of_physical_within_bounds():
    """The library's default heap leaves half the machine as headroom,
    never drops below 1 GiB and never exceeds 24 GiB; no JVM starts."""
    from utils_infra_spark.session import default_driver_memory

    gib = 1024**3
    assert default_driver_memory(15 * gib) == "7680m"
    assert default_driver_memory(64 * gib) == "24576m"
    assert default_driver_memory(1 * gib) == "1024m"
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == default_driver_memory(host)


def test_get_spark_turns_off_python_call_site_capture(spark):
    """get_spark sessions skip PySpark's call-site capture on every
    Column call. An ANSI runtime error still raises with its error
    class; only the Python file:line of its DataFrame query context
    goes."""
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.lit(1) / F.col("id")).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    sites = [c.callSite() for c in err.value.getQueryContext()]
    assert not any(os.path.basename(__file__) in (s or "") for s in sites), sites
