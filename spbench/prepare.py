"""Seeded benchmark inputs and their DuckDB expectations.

Every input is a pure function of ``(workload, seed, rows, hot share)``,
generated with numpy and written with pyarrow: no Spark job runs here, so
preparing inputs never competes with the measured engine.  Next to the
parquet files the prepare step stores ``expect.json``: the answers DuckDB
computes over the same files, which every timed op is checked against.

Prepared sets are cached under ``<work>/inputs``; a set is reused when the
same parameters come back and the oldest sets are evicted beyond
``KEEP_SETS``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from diagonal_b6_spark import catalog, fixtures

# Input sizes, chosen so one op takes a few seconds at local[4] and a run
# holds several ops (README.md: "Workloads").
SIZES = {
    "flagship": {"rows": 250_000, "hot": 0.3},
    "headline": {"rows": 100_000, "hot": 0.0},  # rows = events, sf0.1 shape
}
TILE_ZOOMS = (12, 16)
ROLLUP_MIN_ZOOM = 12
# Absolute slack (metres) on the kNN checksum: Spark's round(x, 3) rounds the
# shortest decimal form, DuckDB the binary value, so a few of the summed
# distances may differ by 0.001 m.
KNN_ABS_TOL = 1.0
KEEP_SETS = 8

# Fixture bounding box and dense disk (diagonal_b6_spark/fixtures.py).
LAT0, LAT_SPAN, LNG0, LNG_SPAN = 51.50, 0.08, -0.16, 0.10
HEADLINE_TABLES = ("events", "lineitem", "orders", "customer", "documents", "embeddings")


def _area_one() -> tuple[float, float, float, float]:
    """Bounding box (lat_lo, lat_hi, lng_lo, lng_hi) of fixture area 1."""
    f = next(r for r in fixtures.feature_rows() if r["feature_id"] == "area/test/1")
    return min(f["ys"]), max(f["ys"]), min(f["xs"]), max(f["xs"])


def image_points(rng: np.random.Generator, n: int, hot: float) -> tuple[np.ndarray, np.ndarray]:
    """Uniform points over the fixture box, 1% in the fixture's 250 m
    dense disk (as ``fixtures.image_latlng``), and a ``hot`` share drawn
    uniformly inside fixture area 1 (the skewed join's hot spot)."""
    lat = LAT0 + LAT_SPAN * rng.random(n)
    lng = LNG0 + LNG_SPAN * rng.random(n)
    kind = rng.random(n)
    dense = kind < 0.01
    t = rng.random(dense.sum()) * 2 * np.pi
    r = np.sqrt(rng.random(dense.sum())) * fixtures.DENSE_R_M
    lat[dense] = fixtures.DENSE_LAT + (r / 111195.0) * np.sin(t)
    lng[dense] = fixtures.DENSE_LNG + (
        r / (111195.0 * np.cos(np.radians(fixtures.DENSE_LAT)))
    ) * np.cos(t)
    if hot > 0:
        a_lat0, a_lat1, a_lng0, a_lng1 = _area_one()
        h = (kind >= 0.01) & (kind < 0.01 + hot)
        lat[h] = a_lat0 + (a_lat1 - a_lat0) * rng.random(h.sum())
        lng[h] = a_lng0 + (a_lng1 - a_lng0) * rng.random(h.sum())
    return lat, lng


def images_table(seed: int, n: int, hot: float) -> pa.Table:
    """The flagship image table without the pixel blob (the pipeline
    reads only ids and coordinates; the blob would only fill the disk)."""
    rng = np.random.default_rng(seed)
    lat, lng = image_points(rng, n, hot)
    ids = np.arange(n)
    return pa.table(
        {
            "image_id": pa.array([f"img{i:012d}" for i in ids]),
            "w": pa.array(np.array(fixtures.WIDTHS, dtype=np.int32)[ids % 4]),
            "h": pa.array(np.array(fixtures.HEIGHTS, dtype=np.int32)[(ids // 4) % 4]),
            "caption": pa.array(
                [f"{fixtures.ADJ[i % 7]} {fixtures.NOUN[i % 11]}" for i in ids]
            ),
            "lat": pa.array(lat),
            "lng": pa.array(lng),
        }
    )


_WORDS = (
    "a the batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join customer tile cell point area index shuffle"
).split()
_DAY_US = 86_400_000_000


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n)


def headline_tables(seed: int, n_events: int) -> dict[str, pa.Table]:
    """sf0.1-shaped tables for the 12 headline queries (TESTDATA.md row
    counts, scaled by ``n_events / 100_000``)."""
    rng = np.random.default_rng(seed)
    k = n_events / 100_000
    n_cust, n_ord, n_li = int(15_000 * k), int(150_000 * k), int(600_000 * k)
    n_docs, n_emb = int(5_000 * k), int(2_000 * k)
    ev_ids = np.sort(rng.choice(10 * n_events, n_events, replace=False))
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    events = pa.table(
        {
            "event_id": pa.array(ev_ids, pa.int64()),
            "ts": pa.array(ts0 + rng.integers(0, 30 * _DAY_US, n_events), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
            "event_type": pa.array(
                np.array(["signup", "purchase", "view", "click", "error"])[rng.integers(0, 5, n_events)]
            ),
            "value": pa.array(np.round(rng.random(n_events) * 100, 2)),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n_events)]),
        }
    )
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.random(n_cust) * 10_000 - 1_000, 2)),
            "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)]),
        }
    )
    odate = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(np.round(rng.random(n_ord) * 400_000 + 900, 2)),
            "o_orderdate": pa.array(odate * _DAY_US, pa.timestamp("us")),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, n_ord)
                ]
            ),
        }
    )
    lok = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * (900 + rng.random(n_li) * 1_200), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(
                (odate[lok] + rng.integers(1, 122, n_li)) * _DAY_US, pa.timestamp("us")
            ),
        }
    )
    words = np.array(_WORDS)
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), m)]) for m in lens]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(["en", "zh", "es", "fr", "de"])[rng.integers(0, 5, n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return {
        "events": events,
        "lineitem": lineitem,
        "orders": orders,
        "customer": customer,
        "documents": documents,
        "embeddings": embeddings,
    }


# --- DuckDB expectations -----------------------------------------------------

_HAV = (
    "2 * 6371010.0 * asin(sqrt(pow(sin((radians(lat) - radians({plat})) / 2), 2) "
    "+ cos(radians({plat})) * cos(radians(lat)) "
    "* pow(sin((radians(lng) - radians({plng})) / 2), 2)))"
)


def _edges_values() -> str:
    rows = []
    for f in fixtures.feature_rows():
        if f["feature_type"] != "area":
            continue
        offs = list(f["ring_offsets"]) + [len(f["xs"])]
        for r in range(len(offs) - 1):
            xs, ys = f["xs"][offs[r] : offs[r + 1]], f["ys"][offs[r] : offs[r + 1]]
            for i in range(len(xs)):
                j = (i + 1) % len(xs)
                rows.append(f"('{f['feature_id']}', {xs[i]!r}, {ys[i]!r}, {xs[j]!r}, {ys[j]!r})")
    return ",\n".join(rows)


def sql_containment_pairs() -> str:
    """Even-odd ray crossing over every fixture ring (catalog's geo_pip
    oracle, over the image table)."""
    return f"""
WITH edges(pid, x1, y1, x2, y2) AS (VALUES {_edges_values()}),
crossings AS (
  SELECT p.image_id, e.pid FROM images p JOIN edges e
    ON ((e.y1 > p.lat) != (e.y2 > p.lat))
   AND p.lng < e.x1 + (p.lat - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1)
)
SELECT count(*) FROM (
  SELECT image_id, pid FROM crossings GROUP BY 1, 2 HAVING count(*) % 2 = 1)
"""


def _tile_cols(zoom: int) -> tuple[str, str]:
    """Web-mercator tile (x, y) exactly as ``cover.tile_xy_cols``."""
    n = float(1 << zoom)
    hi = (1 << zoom) - 1
    latr = "radians(greatest(-85.05112878, least(lat, 85.05112878)))"
    x = f"CAST(floor((lng + 180.0) / 360.0 * {n!r}) AS BIGINT)"
    y = (
        f"CAST(floor((1.0 - ln(tan({latr}) + 1.0 / cos({latr})) / {float(np.pi)!r}) "
        f"/ 2.0 * {n!r}) AS BIGINT)"
    )
    return f"greatest(0, least({x}, {hi}))", f"greatest(0, least({y}, {hi}))"


def sql_tile_checksum() -> str:
    terms = " + ".join(f"{x} + {y}" for x, y in map(_tile_cols, TILE_ZOOMS))
    return f"SELECT sum({terms}) FROM images"


def sql_knn_checksum() -> str:
    from diagonal_b6_spark.pipeline import poi_list

    havs = ", ".join(_HAV.format(plat=repr(la), plng=repr(ln)) for _, la, ln in poi_list(None))
    return f"SELECT sum(round(least({havs}), 3)) FROM images"


def sql_rollup_tiles() -> str:
    """Rows of ``tile_pyramid_rollup`` over the base zoom: distinct tiles
    at every level from the base down to ROLLUP_MIN_ZOOM."""
    base = max(TILE_ZOOMS)
    x, y = _tile_cols(base)
    levels = " UNION ALL ".join(
        f"SELECT count(DISTINCT (x // {1 << k}, y // {1 << k})) AS n FROM t"
        for k in range(base - ROLLUP_MIN_ZOOM + 1)
    )
    return f"WITH t AS (SELECT {x} AS x, {y} AS y FROM images) SELECT sum(n) FROM ({levels})"


def _duck(work: str, threads: int):
    import duckdb

    tmp = os.path.join(work, "tmp", "duckdb")
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect(config={"threads": threads, "temp_directory": tmp})
    con.execute("SET enable_progress_bar = false")
    return con


def expectations(workload: str, inputs: str, rows: int, work: str, threads: int) -> dict:
    con = _duck(work, threads)
    try:
        if workload == "headline":
            for t in HEADLINE_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')"
                )
            counts = {
                k: con.execute(f"SELECT count(*) FROM ({catalog.ORACLES[k]})").fetchone()[0]
                for k in HEADLINE
            }
            return {"rows": {k: int(v) for k, v in counts.items()}}
        con.execute(
            f"CREATE VIEW images AS SELECT * FROM read_parquet('{inputs}/images.parquet')"
        )
        pairs = con.execute(sql_containment_pairs()).fetchone()[0]
        return {
            "images": rows,
            "containment_pairs": int(pairs),
            "tile_checksum": int(con.execute(sql_tile_checksum()).fetchone()[0]),
            "knn_checksum": float(con.execute(sql_knn_checksum()).fetchone()[0]),
            "snapshot_rows": rows * len(TILE_ZOOMS),
            "rollup_rows": int(con.execute(sql_rollup_tiles()).fetchone()[0]),
            "rollup_points": rows * (max(TILE_ZOOMS) - ROLLUP_MIN_ZOOM + 1),
        }
    finally:
        con.close()


# bench.py's 12 HEADLINE keys, in its order; fixed here so that the
# catalog.<key> metric names stay those BENCHMARK.json lists.
HEADLINE = [
    "geo_pip",
    "geo_pip_salted",
    "geo_tiles",
    "geo_knn_grid",
    "geo_cap",
    "geo_nearest_poi",
    "tpch_q1",
    "tpch_q3",
    "dedup_exact",
    "dedup_minhash_lsh",
    "token_count",
    "embedding_knn_arrow",
]


def prepare(workload: str, seed: int, work: str, threads: int) -> tuple[str, dict]:
    """Inputs directory and expectations for one (workload, seed); reuses
    a cached set with the same parameters."""
    size = SIZES[workload]
    rows, hot = size["rows"], size["hot"]
    root = os.path.join(work, "inputs")
    name = f"{workload}-s{seed}-n{rows}-h{hot}"
    final = os.path.join(root, name)
    exp_path = os.path.join(final, "expect.json")
    if os.path.exists(exp_path):
        os.utime(final)
        with open(exp_path) as f:
            return final, json.load(f)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    if workload == "headline":
        for t, table in headline_tables(seed, rows).items():
            pq.write_table(table, os.path.join(tmp, f"{t}.parquet"))
    else:
        pq.write_table(images_table(seed, rows, hot), os.path.join(tmp, "images.parquet"))
    expect = expectations(workload, tmp, rows, work, threads)
    expect["prepare_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "expect.json"), "w") as f:
        json.dump(expect, f)
    if os.path.exists(final):  # prepared meanwhile by another run
        shutil.rmtree(tmp)
    else:
        os.replace(tmp, final)
    _evict(root)
    with open(exp_path) as f:
        return final, json.load(f)


def _evict(root: str) -> None:
    sets = sorted(
        (os.path.getmtime(os.path.join(root, d)), d)
        for d in os.listdir(root)
        if ".tmp" not in d
    )
    for _, d in sets[:-KEEP_SETS]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
