"""Spark-free checks of the benchmark's own helpers:

    python3 -m pytest perfbench/test_perfbench.py -q

The plan guard (operators that must survive in each workload's optimized
plan) needs a session and runs inside every benchmark run instead.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkstats import _parse  # noqa: E402
from tracing import Tracer  # noqa: E402


def test_parse_formatted_sql_metrics():
    assert _parse("1,000,000") == 1_000_000
    assert _parse("0.0 B") == 0
    assert _parse("1024.8 KiB") == pytest.approx(1024.8 * 1024)
    assert _parse("total (min, med, max (stageId: taskId))\n7.0 s (1.6 s, 1.8 s, 1.9 s (stage 1.0: task 7))") == 7000
    assert _parse("total (min, med, max (stageId: taskId))\n19 ms (1 ms, 7 ms, 9 ms (stage 1.0: task 4))") == 19


def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer = tr.total("outer")
    assert tr.self_total("outer") == pytest.approx(outer - tr.total("inner"))
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_osm_digest_ignores_order_and_key_order():
    from workloads import osm_digest

    a = [{"id": 1, "type": "node", "tags": {"a": "1", "b": "2"}}, {"id": 2, "type": "way"}]
    b = [{"type": "way", "id": 2}, {"tags": {"b": "2", "a": "1"}, "type": "node", "id": 1}]
    assert osm_digest(a) == osm_digest(b)
    assert osm_digest(a) != osm_digest(a[:1])


def test_fixture_is_a_function_of_the_seed():
    from workloads import osm_entities

    assert osm_entities(3, 200, 20, 2) == osm_entities(3, 200, 20, 2)
    assert osm_entities(3, 200, 20, 2) != osm_entities(4, 200, 20, 2)


def test_duckdb_mirror_counts_points_per_tile(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    from workloads import TILE_RES, city_rects, duckdb_tiles

    _, lat0, _, lon0, _ = city_rects()[0]
    rows = [
        # inside rectangle 0 twice at the same spot, once outside everything
        f"Location: lat={lat0 + 0.01:.6f}; lon={lon0 + 0.01:.6f}. x",
        f"Location: lat={lat0 + 0.01:.6f}; lon={lon0 + 0.01:.6f}. x",
        "Location: lat=0.500000; lon=0.500000. x",
        "No location is mentioned here.",
    ]
    d = tmp_path / "pages"
    d.mkdir()
    con = duckdb.connect()
    con.execute("CREATE TABLE p AS SELECT unnest(?) AS text", [rows])
    con.execute(f"COPY p TO '{d}/part-0.parquet' (FORMAT parquet)")
    con.close()
    tiles = duckdb_tiles(str(d), TILE_RES)
    assert list(tiles.values()) == [2]
    assert next(iter(tiles)) >> 52 == TILE_RES
