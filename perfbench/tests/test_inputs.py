"""The seeded input generator: same rows and layout, seeded order, and
oracle results that do not depend on the seed."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pytest

import inputs
from project_orbit_spark import registry
from project_orbit_spark.catalog import DEFAULT_SF_DIR, TABLES
from workloads import WORKLOADS

SRC = Path(DEFAULT_SF_DIR)
pytestmark = pytest.mark.skipif(
    not (SRC / "lineitem.parquet").is_file(), reason=f"fixture {SRC} not present"
)


def _check_module():
    root = Path(__file__).resolve().parents[2]
    spec = importlib.util.spec_from_file_location("orbit_check", root / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def two_seeds(tmp_path_factory):
    cache = tmp_path_factory.mktemp("inputs")
    return inputs.generate(SRC, cache, 1), inputs.generate(SRC, cache, 2)


def test_layout_and_rows_are_kept_and_order_is_seeded(two_seeds):
    a, b = two_seeds
    for t in TABLES:
        src = pq.ParquetFile(SRC / f"{t}.parquet")
        fa, fb = pq.ParquetFile(a / f"{t}.parquet"), pq.ParquetFile(b / f"{t}.parquet")
        assert fa.schema_arrow == src.schema_arrow
        assert fa.metadata.num_row_groups == 1
        assert fa.metadata.num_rows == src.metadata.num_rows
        ta, tb, ts = fa.read(), fb.read(), src.read()
        key = ts.column_names[0]
        assert sorted(ta.column(key).to_pylist()) == sorted(ts.column(key).to_pylist())
        if ts.num_rows > 100:
            assert ta.column(key) != tb.column(key)
    assert inputs.input_rows(a) == inputs.input_rows(SRC)


def test_generation_is_cached_per_seed(two_seeds):
    a, _ = two_seeds
    before = (a / "lineitem.parquet").stat().st_mtime_ns
    assert inputs.generate(SRC, a.parent, 1) == a
    assert (a / "lineitem.parquet").stat().st_mtime_ns == before


def test_cache_is_keyed_by_the_source(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for t in TABLES:
        (src / f"{t}.parquet").write_bytes(b"x")
    key = inputs.source_key(src)
    assert inputs.source_key(src) == key
    (src / "events.parquet").write_bytes(b"xy")
    assert inputs.source_key(src) != key
    assert inputs.source_key(SRC) != key


def test_oracle_results_do_not_depend_on_the_seed(two_seeds):
    check = _check_module()
    results = []
    for d in two_seeds:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d / (t + '.parquet')}')")
        out = {}
        for w in WORKLOADS.values():
            for name in w.ops:
                oracle = registry.get_query(name).oracle
                if oracle is not None:
                    out[name] = con.execute(oracle).fetchdf()
        con.close()
        results.append(out)
    assert results[0].keys() == results[1].keys()
    for name in results[0]:
        assert check.compare(name, results[0][name], results[1][name]) == [], name
