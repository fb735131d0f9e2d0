"""H3 unidirectional-edge family + h3Line (functions/h3edge.py).

Ground truth available in-sandbox: the reference docs'
cellsToDirectedEdge anchor (599686042433355775 -> 599686043507097599 =
1248204388774707199), the published h3lib baseCellNeighbors rows for
base cells 0 and 4, and h3lib's structural invariants (direction maps
are bijections onto the neighbor set, edges decode to their inputs,
pentagon deleted-K slots, boundary geometry shared with both cells).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from clickhouse_25_5_3_75_stable_spark.functions import h3edge as E
from clickhouse_25_5_3_75_stable_spark.functions import h3geo as G


def _all_cells(res):
    cells = [G.h3_init(0, bc) for bc in range(122)]
    for r in range(res):
        nxt = []
        for h in cells:
            rr = r + 1
            base = (h & ~(0xF << 52)) | (rr << 52)
            pent = G._is_pentagon_cell(h)
            for d in range(7):
                if pent and d == 1:
                    continue
                nxt.append(G.h3_set_digit(base, rr, d))
        cells = nxt
    return cells


def test_doc_anchor_bit_exact():
    e = E.get_unidirectional_edge_py(599686042433355775, 599686043507097599)
    assert e == 1248204388774707199
    assert E.edge_origin_py(e) == 599686042433355775
    assert E.edge_destination_py(e) == 599686043507097599
    assert E.edge_is_valid_py(e)
    assert E.edge_direction(e) == 1


def test_base_cell_neighbors_published_rows():
    rows = E._base_cell_directions()
    # h3lib baseCells.c: row 0 = {0, 1, 5, 2, 4, 3, 8}, row 4 (pentagon)
    # = {4, INVALID, 15, 8, 3, 0, 12} — directions K,J,JK,I,IK,IJ
    assert rows[0] == {1: 1, 2: 5, 3: 2, 4: 4, 5: 3, 6: 8}
    assert rows[4] == {2: 15, 3: 8, 4: 3, 5: 0, 6: 12}
    for bc, m in rows.items():
        expected = 5 if bc in G.PENTAGONS else 6
        assert len(m) == expected and len(set(m.values())) == expected
        for n in m.values():
            assert bc in rows[n].values()  # symmetric


def test_direction_maps_res1_exhaustive():
    for h in _all_cells(1):
        m = E.directions_map_py(h)
        nbrs = E.neighbors_py(h)
        assert set(m.values()) == nbrs
        assert len(m) == (5 if G._is_pentagon_cell(h) else 6)
        if G._is_pentagon_cell(h):
            assert 1 not in m


def test_direction_symmetry_res2_sample():
    import random

    rng = random.Random(11)
    cells = rng.sample(_all_cells(2), 400)
    for h in cells:
        for n in E.directions_map_py(h).values():
            assert h in E.directions_map_py(n).values()


def test_res0_pentagon_neighbors_fixed():
    # the raw face step used to return 3 of 5 — must be 5 now
    for bc in sorted(G.PENTAGONS):
        assert len(G.h3_neighbors_py(G.h3_init(0, bc))) == 5


def test_edges_from_hexagon_and_pentagon():
    h = 599686042433355775
    es = E.edges_from_hexagon_py(h)
    assert len(es) == 6 and all(es)
    assert [E.edge_direction(e) for e in es] == [1, 2, 3, 4, 5, 6]
    assert {E.edge_destination_py(e) for e in es} == E.neighbors_py(h)
    pent1 = G.h3_set_digit((G.h3_init(0, 4) & ~(0xF << 52)) | (1 << 52), 1, 0)
    es = E.edges_from_hexagon_py(pent1)
    assert es[0] == 0 and all(es[1:])  # deleted-K slot is H3_NULL


def test_non_neighbor_yields_null_edge():
    a = 599686042433355775
    far = a
    for _ in range(3):
        far = E.directions_map_py(far)[4]
    assert E.get_unidirectional_edge_py(a, far) == 0


def test_edge_validity_rejections():
    h = 599686042433355775  # a cell (mode 1) is not a valid edge
    assert not E.edge_is_valid_py(h)
    e = E.edges_from_hexagon_py(h)[0]
    assert not E.edge_is_valid_py(e & ~(0x7 << 56))  # direction 0
    pent1 = G.h3_set_digit((G.h3_init(0, 4) & ~(0xF << 52)) | (1 << 52), 1, 0)
    assert not E.edge_is_valid_py(E._make_edge(pent1, 1))  # pentagon K


def test_edge_boundary_shared_and_floats():
    """The float checks dropped from the driver gate live here with
    tolerances: boundary vertices sit on BOTH cells' boundaries, and
    the res-5 first-edge first vertex is pinned to 1e-9 degrees."""
    e = 1248204388774707199
    b = E.edge_boundary_py(e)
    assert len(b) == 2
    assert abs(b[0][0] - 37.42012867767778) < 1e-9
    assert abs(b[0][1] - (-122.03773496427027)) < 1e-9
    ob = [(math.degrees(a), math.degrees(o))
          for a, o in G.cell_boundary_rads(E.edge_origin_py(e))]
    for v in b:
        assert any(abs(v[0] - w[0]) < 1e-7 and abs(v[1] - w[1]) < 1e-7
                   for w in ob)


def test_pentagon_edge_boundary_distortion_vertex():
    pent1 = G.h3_set_digit((G.h3_init(0, 4) & ~(0xF << 52)) | (1 << 52), 1, 0)
    e = E.edges_from_hexagon_py(pent1)[1]
    assert len(E.edge_boundary_py(e)) == 3  # class-III distortion vertex


def test_exact_edge_lengths():
    e = 1248204388774707199
    rads = E.exact_edge_length_rads_py(e)
    km = E.exact_edge_length_km_py(e)
    assert abs(km - rads * G.EARTH_RADIUS_KM) < 1e-12
    assert abs(E.exact_edge_length_m_py(e) - km * 1000.0) < 1e-9
    # res-5 edges are ~8-12 km; pinned from this engine
    assert abs(km - 10.2947) < 1e-3
    # all six edges of a cell: total = perimeter of the hexagon
    h = 599686042433355775
    total = sum(E.exact_edge_length_rads_py(x)
                for x in E.edges_from_hexagon_py(h))
    verts = G.cell_boundary_rads(h)
    per = sum(G.great_circle_rads(*verts[i], *verts[(i + 1) % len(verts)])
              for i in range(len(verts)))
    assert abs(total - per) < 1e-12


def test_line_properties():
    a = 599686042433355775
    far = a
    for _ in range(5):
        far = E.directions_map_py(far)[4]
    line = E.h3_line_py(a, far)
    assert line[0] == a and line[-1] == far
    assert len(line) == G.grid_distance_py(a, far) + 1
    for x, y in zip(line, line[1:]):
        assert y in E.neighbors_py(x)
    assert E.h3_line_py(a, a) == [a]
    with pytest.raises(ValueError):
        E.h3_line_py(a, G.h3_init(0, 0))  # resolution mismatch


def test_column_surface(spark):
    from clickhouse_25_5_3_75_stable_spark.functions.dialect import ch

    df = spark.createDataFrame(
        [(599686042433355775, 599686043507097599)], "o long, d long"
    )
    row = df.select(
        ch("h3GetUnidirectionalEdge", F.col("o"), F.col("d")).alias("e"),
        ch("h3Line", F.col("o"), F.col("d")).alias("line"),
    ).collect()[0]
    assert row.e == 1248204388774707199
    assert row.line == [599686042433355775, 599686043507097599]
    row2 = df.select(
        ch("h3UnidirectionalEdgeIsValid", F.lit(row.e)).alias("v"),
        ch("h3GetOriginIndexFromUnidirectionalEdge", F.lit(row.e))
        .alias("o2"),
        ch("h3GetDestinationIndexFromUnidirectionalEdge", F.lit(row.e))
        .alias("d2"),
        ch("h3GetIndexesFromUnidirectionalEdge", F.lit(row.e)).alias("od"),
        ch("h3GetUnidirectionalEdgesFromHexagon", F.col("o")).alias("es"),
        ch("h3GetUnidirectionalEdgeBoundary", F.lit(row.e)).alias("b"),
        ch("h3ExactEdgeLengthKm", F.lit(row.e)).alias("km"),
    ).collect()[0]
    assert row2.v is True
    assert row2.o2 == 599686042433355775 and row2.d2 == 599686043507097599
    assert row2.od.origin == row2.o2 and row2.od.destination == row2.d2
    assert len(row2.es) == 6 and row2.es[0] == row.e
    assert len(row2.b) == 2
    assert abs(row2.km - 10.2947) < 1e-3


def test_sql_dialect_names(spark):
    """The reference names reach the expression registry
    (dialect_extras round-7 registrations)."""
    from clickhouse_25_5_3_75_stable_spark.functions.dialect import (
        CH_FUNCTIONS,
    )

    for name in (
        "h3GetUnidirectionalEdge", "h3UnidirectionalEdgeIsValid",
        "h3GetOriginIndexFromUnidirectionalEdge",
        "h3GetDestinationIndexFromUnidirectionalEdge",
        "h3GetIndexesFromUnidirectionalEdge",
        "h3GetUnidirectionalEdgesFromHexagon",
        "h3GetUnidirectionalEdgeBoundary", "h3Line",
        "h3ExactEdgeLengthRads", "h3ExactEdgeLengthKm",
        "h3ExactEdgeLengthM",
    ):
        assert name.lower() in CH_FUNCTIONS, name  # registry keys lowercase
