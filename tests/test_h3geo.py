"""H3 geo-projection family validation (functions/h3geo.py).

Three independent layers:
1. published anchor vectors (the spec's canonical indexes and the
   reference docs' printed coordinates) — pin the NUMBERING/orientation
   convention;
2. exhaustive structural invariants (round-trips over every cell at
   res 0..3, neighbor symmetry, sphere tiling to 1e-13) — pin the
   derived tables;
3. Spark-side UDF smoke (Column API through a real session).
"""

from __future__ import annotations

import itertools
import math

import pytest

from clickhouse_25_5_3_75_stable_spark.functions import h3geo as G

DEG = math.pi / 180.0


def _all_cells(res):
    cells = [G.h3_init(0, bc) for bc in range(122)]
    for r in range(res):
        nxt = []
        for h in cells:
            child_res = r + 1
            base = (h & ~(0xF << 52)) | (child_res << 52)
            pent = G._is_pentagon_cell(h)
            for d in range(7):
                if pent and d == 1:
                    continue
                nxt.append(G.h3_set_digit(base, child_res, d))
        cells = nxt
    return cells


# ---------------------------------------------------------------------------
# 1. published anchors
# ---------------------------------------------------------------------------


def test_geo_to_h3_published_anchors():
    # the H3 spec's canonical res-5 example cell
    assert G.geo_to_h3_py(37.3615593, -122.0553238, 5) == 0x85283473FFFFFFF
    # the reference docs' res-15 example (geoToH3 lat/lon default order)
    assert G.geo_to_h3_py(55.71290588, 37.79506683, 15) == 644325524701193974
    # the canonical SF res-9 cell
    assert G.geo_to_h3_py(37.7752702151959, -122.418307270836, 9) == 0x8928308280FFFFF


def test_h3_to_geo_published_anchors():
    # reference docs print h3ToGeo(644325524701193974) as this pair
    lat, lon = G.h3_to_geo_py(644325524701193974)
    assert abs(lat - 55.71290243145668) < 1e-12
    assert abs(lon - 37.79506616830252) < 1e-12
    # the published center of the canonical SF res-9 cell (last-ULP)
    lat, lon = G.h3_to_geo_py(0x8928308280FFFFF)
    assert abs(lat - 37.77670234943567) < 1e-12
    assert abs(lon - (-122.41845932318311)) < 1e-10


def test_geometry_self_checks():
    # icosahedron regularity: 3 equidistant neighbors per face center
    dists = {}
    for a, b in itertools.combinations(range(20), 2):
        d = G._point_sq_dist(G.FACE_CENTER_POINT[a], G.FACE_CENTER_POINT[b])
        dists[(a, b)] = d
    mind = min(dists.values())
    adj = {f: 0 for f in range(20)}
    for (a, b), d in dists.items():
        if abs(d - mind) < 1e-9:
            adj[a] += 1
            adj[b] += 1
    assert all(n == 3 for n in adj.values())
    # antipodal closure of the face-center set
    for f in range(20):
        p = G.FACE_CENTER_POINT[f]
        anti = (-p[0], -p[1], -p[2])
        assert any(
            G._point_sq_dist(G.FACE_CENTER_POINT[g], anti) < 1e-18 for g in range(20)
        )


def test_base_cell_layout():
    # 122 distinct centers, pentagons exactly on icosahedron vertices
    vecs = G._bc_center_vecs()
    for a, b in itertools.combinations(range(122), 2):
        assert G._point_sq_dist(vecs[a], vecs[b]) > 0.01
    tbl = G.face_ijk_base_cells()
    assert len(tbl) == 540
    assert {bc for bc, _ in tbl.values()} == set(range(122))


# ---------------------------------------------------------------------------
# 2. exhaustive structural invariants
# ---------------------------------------------------------------------------


def test_round_trip_exhaustive_res0_to_3():
    for res in range(4):
        for h in _all_cells(res):
            lat, lng = G.h3_to_geo_rads(h)
            assert G.geo_to_h3_rads(lat, lng, res) == h, hex(h)


def test_neighbor_symmetry_and_counts():
    for res in (1, 2):
        cells = _all_cells(res)
        nmap = {h: G.h3_neighbors_py(h) for h in cells}
        for h, ns in nmap.items():
            want = 5 if G._is_pentagon_cell(h) else 6
            assert len(ns) == want, hex(h)
            for n in ns:
                assert h in nmap[n], (hex(h), hex(n))


def test_k_ring_anchor_and_size_law():
    got = G.k_ring_py(0x8928308280FFFFF, 1)
    assert got == {
        0x8928308280FFFFF, 0x8928308280BFFFF, 0x89283082807FFFF,
        0x89283082877FFFF, 0x89283082803FFFF, 0x89283082873FFFF,
        0x8928308283BFFFF,
    }
    # size law away from pentagons: |disk(k)| = 1 + 3k(k+1)
    h = G.geo_to_h3_py(31.0, 52.0, 6)
    assert len(G.k_ring_py(h, 3)) == 1 + 3 * 3 * 4
    assert len(G.hex_ring_py(h, 3)) == 18


def test_grid_distance():
    h = G.geo_to_h3_py(28.6, 77.2, 7)
    for n in G.h3_neighbors_py(h):
        assert G.grid_distance_py(h, n) == 1
    assert G.grid_distance_py(h, h) == 0
    # ring membership == BFS distance
    for k in (2, 3):
        for cell in G.hex_ring_py(h, k):
            assert G.grid_distance_py(h, cell) == k


def test_sphere_tiling_both_parities():
    for res in (1, 2):
        total = sum(G.cell_area_rads2_py(h) for h in _all_cells(res))
        assert abs(total - 4 * math.pi) < 1e-9


def test_hex_area_avg_matches_published_res0():
    # published getHexagonAreaAvgKm2(0) = 4,357,449.416078381
    assert abs(G.hexagon_area_avg_km2_py(0) - 4357449.416078381) < 1e-6


def test_get_faces():
    # pentagon spans its 5 surrounding faces at any res
    h = G.h3_init(2, 4)
    h = G.h3_set_digit(h, 1, 0)
    h = G.h3_set_digit(h, 2, 0)
    assert len(G.get_faces_py(h)) == 5
    # a cell well inside one face spans exactly 1
    assert G.get_faces_py(0x8928308280FFFFF) == [7]


def test_boundary_shapes():
    # class II hexagon: 6 verts; class III cells pick up distortion
    # vertices when crossing icosa edges (7..10); pentagons 5..10
    hist = {}
    for h in _all_cells(1):
        n = len(G.cell_boundary_rads(h))
        hist[n] = hist.get(n, 0) + 1
    assert set(hist) <= {5, 6, 7, 8, 9, 10}
    assert hist.get(6, 0) > 500  # most res-1 hexagons get no distortion


def test_point_dist():
    # pole-to-pole half circumference
    assert abs(G.point_dist_rads_py(90.0, 0.0, -90.0, 0.0) - math.pi) < 1e-12
    km = G.point_dist_rads_py(90.0, 0.0, -90.0, 0.0) * G.EARTH_RADIUS_KM
    assert abs(km - math.pi * G.EARTH_RADIUS_KM) < 1e-9


def test_resolution_bounds():
    with pytest.raises(ValueError):
        G.geo_to_h3_py(0.0, 0.0, 16)
    with pytest.raises(ValueError):
        G.geo_to_h3_py(0.0, 0.0, -1)


# ---------------------------------------------------------------------------
# 3. Spark Column API
# ---------------------------------------------------------------------------


def test_spark_column_api(spark):
    from pyspark.sql import functions as F

    from clickhouse_25_5_3_75_stable_spark.functions.dialect import ch

    df = spark.createDataFrame(
        [(37.7752702151959, -122.418307270836, 9),
         (55.71290588, 37.79506683, 15)],
        "lat double, lon double, res int",
    )
    out = df.select(
        ch("geoToH3", F.col("lat"), F.col("lon"), F.col("res")).alias("h"),
    ).collect()
    assert out[0].h == 0x8928308280FFFFF
    assert out[1].h == 644325524701193974

    row = (
        df.limit(1)
        .select(
            ch("h3ToGeo", F.lit(0x8928308280FFFFF)).alias("g"),
            ch("h3kRing", F.lit(0x8928308280FFFFF), F.lit(1)).alias("ring"),
            ch("h3Distance", 
                F.lit(0x8928308280FFFFF), F.lit(0x8928308280BFFFF)
            ).alias("d"),
            ch("h3CellAreaM2", F.lit(0x8928308280FFFFF)).alias("area"),
            ch("h3IndexesAreNeighbors", 
                F.lit(0x8928308280FFFFF), F.lit(0x8928308280BFFFF)
            ).alias("nb"),
        )
        .collect()[0]
    )
    assert abs(row.g.lat - 37.77670234943567) < 1e-9
    assert len(row.ring) == 7
    assert row.d == 1
    assert 1e5 < row.area < 1.2e5
    assert row.nb is True
