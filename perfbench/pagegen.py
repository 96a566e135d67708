"""Seeded Common-Crawl-style page generator for the benchmark.

Pages are generated on the Spark side from ``spark.range`` with integer
mixing expressions whose constants come from the seed, so a run never
ships rows from the driver. ``coords`` evaluates the same expressions in
numpy, which gives the correctness twins the exact micro-degree
coordinates of any page without reading the program's output.

Each page's ``text`` carries a ``geo: <lat_u>,<lon_u>`` mention, the
form ``osm_spark.spatial.geoparse`` extracts. The placement mix follows
``osm_spark.data.pages`` over the ``osm_spark.data.worldgen`` layout
(country ``c`` spans lon ``-177 + 10*(c % 16)`` .. ``+8`` and lat
``-84 + 10*(c // 16)`` .. ``+8`` degrees). With ``k`` a per-page bucket
in 0..19:

    k 0-5   hot cluster: one 0.6-degree box in country 0 (30% of pages)
    k 6     exactly on the country's west border
    k 7     exactly on the lon = base + 4 line (a departement border
            when dept_grid is even)
    k 8     in the lake hole
    k 18    on the island inside the lake
    k 9,19  ocean strip east of the country
    else    uniform over the country rectangle
"""

from __future__ import annotations

import numpy as np

P = 2_147_483_647  # 2^31 - 1: every product below stays inside int64


def constants(seed: int) -> list[int]:
    """Eight mixing constants drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    return [int(v) for v in rng.integers(1, P, size=8)]


def _mix_sql(i: str, a: int, b: int) -> str:
    r = f"((({i} * {a}) + {b}) % {P})"
    r = f"({r} ^ shiftright({r}, 13))"
    return f"((({r} * 48271) + {a}) % {P})"


def _mix_np(i: np.ndarray, a: int, b: int) -> np.ndarray:
    r = (i * a + b) % P
    r = r ^ (r >> 13)
    return (r * 48271 + a) % P


def _exprs(i: str, n_countries: int, k: list[int]) -> dict[str, str]:
    c = f"({_mix_sql(i, k[0], k[1])} % {n_countries})"
    b = f"({_mix_sql(i, k[2], k[3])} % 20)"
    h1 = f"({_mix_sql(i, k[4], k[5])} % 1000000)"
    h2 = f"({_mix_sql(i, k[6], k[7])} % 1000000)"
    base_lon = f"((-177 + ({c} % 16) * 10) * 1000000)"
    base_lat = f"((-84 + ({c} div 16) * 10) * 1000000)"
    lon = (
        f"CASE WHEN {b} <= 5 THEN -177000000 + 200000 + ({h1} * 6) div 10 "
        f"WHEN {b} = 6 THEN {base_lon} "
        f"WHEN {b} = 7 THEN {base_lon} + 4000000 "
        f"WHEN {b} = 8 THEN {base_lon} + 1050000 + ({h1} * 4) div 10 "
        f"WHEN {b} = 18 THEN {base_lon} + 1600000 + ({h1} * 3) div 10 "
        f"WHEN {b} = 9 OR {b} = 19 THEN {base_lon} + 8200000 + ({h1} * 7) div 10 "
        f"ELSE {base_lon} + {h1} * 8 END"
    )
    lat = (
        f"CASE WHEN {b} <= 5 THEN -84000000 + 200000 + ({h2} * 6) div 10 "
        f"WHEN {b} = 6 OR {b} = 7 THEN {base_lat} + 100000 + ({h2} * 78) div 10 "
        f"WHEN {b} = 8 THEN {base_lat} + 1050000 + ({h2} * 4) div 10 "
        f"WHEN {b} = 18 THEN {base_lat} + 1600000 + ({h2} * 3) div 10 "
        f"WHEN {b} = 9 OR {b} = 19 THEN {base_lat} + 1000000 + ({h2} * 6) div 10 "
        f"ELSE {base_lat} + {h2} * 8 END"
    )
    return {"lon_u": lon, "lat_u": lat}


def coords(ids: np.ndarray, n_countries: int, seed: int):
    """Micro-degree (lon_u, lat_u) of pages ``ids``: the numpy twin of
    the Spark expressions in ``pages_df``."""
    k = constants(seed)
    i = np.asarray(ids, dtype=np.int64)
    c = _mix_np(i, k[0], k[1]) % n_countries
    b = _mix_np(i, k[2], k[3]) % 20
    h1 = _mix_np(i, k[4], k[5]) % 1_000_000
    h2 = _mix_np(i, k[6], k[7]) % 1_000_000
    base_lon = (-177 + (c % 16) * 10) * 1_000_000
    base_lat = (-84 + (c // 16) * 10) * 1_000_000
    hot, west, line = b <= 5, b == 6, b == 7
    lake, island, ocean = b == 8, b == 18, (b == 9) | (b == 19)
    lon = np.select(
        [hot, west, line, lake, island, ocean],
        [
            -177_000_000 + 200_000 + (h1 * 6) // 10,
            base_lon,
            base_lon + 4_000_000,
            base_lon + 1_050_000 + (h1 * 4) // 10,
            base_lon + 1_600_000 + (h1 * 3) // 10,
            base_lon + 8_200_000 + (h1 * 7) // 10,
        ],
        base_lon + h1 * 8,
    )
    lat = np.select(
        [hot, west | line, lake, island, ocean],
        [
            -84_000_000 + 200_000 + (h2 * 6) // 10,
            base_lat + 100_000 + (h2 * 78) // 10,
            base_lat + 1_050_000 + (h2 * 4) // 10,
            base_lat + 1_600_000 + (h2 * 3) // 10,
            base_lat + 1_000_000 + (h2 * 6) // 10,
        ],
        base_lat + h2 * 8,
    )
    return lon.astype(np.int64), lat.astype(np.int64)


def url_prefix(tag: str) -> str:
    return f"https://bench.example/{tag}/"


def pages_df(spark, start: int, n: int, n_countries: int, seed: int, tag: str):
    """Pages ``start`` .. ``start + n - 1`` as (url, text, lang)."""
    e = _exprs("id", n_countries, constants(seed))
    text = (
        f"'Page ' || CAST(id AS STRING) || ' geo: ' || CAST({e['lat_u']} AS STRING)"
        f" || ',' || CAST({e['lon_u']} AS STRING)"
        " || ' Lorem ipsum dolor sit amet, consectetur adipiscing elit.'"
    )
    return spark.range(start, start + n).selectExpr(
        f"'{url_prefix(tag)}' || CAST(id AS STRING) AS url",
        f"{text} AS text",
        "CASE id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'fr' ELSE 'de' END AS lang",
    )
