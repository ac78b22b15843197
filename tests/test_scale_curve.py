"""tools/scale_curve.py: each curve's generator, Spark builder, DuckDB SQL
and check run once at a tiny n, and the generated-input cache keeps
shapes apart and never reads a partial write."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from tools import scale_curve as sc

N = 320
# smallest sizes at which these curves produce rows: the |Q| curves take
# the query count as n, and baskets first share item pairs past n=4000
SIZES = {"topk_q_codegen": 16, "topk_q_arrow": 16, "pairs": 4000}


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    return str(tmp_path_factory.mktemp("scale_curve"))


@pytest.mark.parametrize("name", list(sc.CURVES))
def test_curve_runs_and_checks(spark, cache, monkeypatch, name):
    monkeypatch.setattr(sc, "CACHE", cache)
    out = sc.run(spark, name, SIZES.get(name, N), runs=1)
    assert out["rows"] > 0
    assert len(out["spark_runs"]) == 1
    assert len(out["duck_runs"]) == (0 if sc.CURVES[name].duck is None else 1)


def test_generators_get_distinct_dirs(cache, monkeypatch):
    monkeypatch.setattr(sc, "CACHE", cache)
    assert len({sc.data_dir(g, N) for g in sc.GENERATORS}) == len(sc.GENERATORS)


def test_leftover_tmp_dir_is_regenerated(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(sc, "CACHE", str(tmp_path))
    d = sc.data_dir("events", 64)
    partial = f"{d}.tmp/events.parquet"
    os.makedirs(partial)
    with open(f"{partial}/part-999.parquet", "wb") as f:
        f.write(b"interrupted")
    assert sc.generate(spark, "events", 64) == d
    assert not os.path.exists(f"{d}.tmp")
    assert "part-999.parquet" not in os.listdir(f"{d}/events.parquet")
    assert pq.read_table(f"{d}/events.parquet").num_rows == 64


@pytest.mark.parametrize("argv", [["hll"], ["hll", "10", "extra"], ["nope", "10"], ["hll", "1e3"]])
def test_cli_takes_exactly_curve_and_n(argv):
    with pytest.raises(SystemExit):
        sc.main(["scale_curve.py", *argv])
