"""The DuckDB expectations against an independent numpy computation, and
the op checks against corrupted counters."""

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import measure  # noqa: E402
import prepare  # noqa: E402
from diagonal_b6_spark import fixtures  # noqa: E402
from diagonal_b6_spark.kernels import geom  # noqa: E402


@pytest.fixture(scope="module")
def small_inputs(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    rows, hot = 20_000, 0.2
    inputs = os.path.join(work, "in")
    os.makedirs(inputs)
    table = prepare.images_table(7, rows, hot)
    import pyarrow.parquet as pq

    pq.write_table(table, os.path.join(inputs, "images.parquet"))
    expect = prepare.expectations("flagship", inputs, rows, work, threads=1)
    return table, expect


def _numpy_pairs(lat, lng):
    n = 0
    for f in fixtures.feature_rows():
        if f["feature_type"] == "area":
            n += int(
                geom.points_in_polygon(
                    lng, lat, np.asarray(f["xs"]), np.asarray(f["ys"]), np.asarray(f["ring_offsets"])
                ).sum()
            )
    return n


def _numpy_tiles(lat, lng, zoom):
    n = float(1 << zoom)
    latr = np.radians(np.clip(lat, -85.05112878, 85.05112878))
    x = np.floor((lng + 180.0) / 360.0 * n)
    y = np.floor((1.0 - np.log(np.tan(latr) + 1.0 / np.cos(latr)) / np.pi) / 2.0 * n)
    hi = (1 << zoom) - 1
    return np.clip(x, 0, hi).astype(np.int64), np.clip(y, 0, hi).astype(np.int64)


def test_inputs_are_a_function_of_the_seed():
    a = prepare.images_table(3, 1000, 0.3)
    assert a.equals(prepare.images_table(3, 1000, 0.3))
    assert not a.equals(prepare.images_table(4, 1000, 0.3))


def test_hot_share_lands_in_area_one():
    t = prepare.images_table(5, 10_000, 0.5)
    lat, lng = t.column("lat").to_numpy(), t.column("lng").to_numpy()
    lat0, lat1, lng0, lng1 = prepare._area_one()
    inside = (lat >= lat0) & (lat <= lat1) & (lng >= lng0) & (lng <= lng1)
    assert 0.45 < inside.mean() < 0.55


def test_duckdb_expectations_match_numpy(small_inputs):
    table, expect = small_inputs
    lat, lng = table.column("lat").to_numpy(), table.column("lng").to_numpy()
    assert expect["containment_pairs"] == _numpy_pairs(lat, lng)
    ck = sum(int((x + y).sum()) for x, y in (_numpy_tiles(lat, lng, z) for z in prepare.TILE_ZOOMS))
    assert expect["tile_checksum"] == ck
    d = np.full(len(lat), np.inf)
    for _, plat, plng in measure.pipeline.poi_list(None):
        d = np.minimum(d, geom.haversine_m(plat, plng, lat, lng))
    assert expect["knn_checksum"] == pytest.approx(np.round(d, 3).sum(), abs=prepare.KNN_ABS_TOL)


def _counters(expect):
    return {
        "containment_pairs": expect["containment_pairs"],
        "tile_rows": expect["images"] * len(prepare.TILE_ZOOMS),
        "tile_checksum": expect["tile_checksum"],
        "knn_checksum": round(expect["knn_checksum"], 1),
    }


def test_check_accepts_the_expected_counters(small_inputs):
    _, expect = small_inputs
    measure.check_flagship(_counters(expect), expect)


@pytest.mark.parametrize(
    "key, delta",
    [("containment_pairs", 1), ("tile_rows", -1), ("tile_checksum", 1), ("knn_checksum", 2.0)],
)
def test_check_fails_on_a_corrupted_counter(small_inputs, key, delta):
    _, expect = small_inputs
    c = _counters(expect)
    c[key] += delta
    with pytest.raises(measure.OpFailed, match=key):
        measure.check_flagship(c, expect)


def test_check_fails_on_a_missing_knn_checksum(small_inputs):
    _, expect = small_inputs
    c = dict(_counters(expect), knn_checksum=None)
    with pytest.raises(measure.OpFailed):
        measure.check_flagship(c, expect)
