"""H3 unidirectional-edge family + h3Line (round-7).

Reference surface: src/Functions/h3GetUnidirectionalEdge.cpp,
h3GetUnidirectionalEdgeBoundary.cpp,
h3GetUnidirectionalEdgesFromHexagon.cpp, h3UnidirectionalEdgeIsValid.cpp,
h3GetOriginIndexFromUnidirectionalEdge.cpp,
h3GetDestinationIndexFromUnidirectionalEdge.cpp,
h3GetIndexesFromUnidirectionalEdge.cpp, h3Line.cpp,
h3ExactEdgeLengthRads.cpp / Km.cpp / M.cpp — thin wrappers over h3lib
cellsToDirectedEdge / directedEdgeToCells / originToDirectedEdges /
gridPathCells / exactEdgeLength*.

Round-6 excluded this family because a per-direction geometric probe
reproduced the direction labeling on only 818/842 res-1 cells. Round-7
closes the gap with two derivations instead of transcribing h3lib's
combinatorial tables:

1. DIRECTION CALIBRATION: the neighbor in index direction d of cell h
   is one lattice step from h's faceijk in FACE-frame direction
   rot(d), where rot is the accumulated 60-degree rotation between the
   cell's index digit frame and its unfolded face frame.  rot is
   recovered from the cell's own digits: the digit-2 child's center
   minus the center child's center is a unit lattice vector whose
   face digit, compared against 2, IS the rotation (h3 rotations act
   uniformly on every digit position, so the res+1 measurement applies
   at res).  This resolves every direction except steps INTO a
   pentagon's deleted subsequence, where the face-frame candidate is
   not a true neighbor; since h3lib's direction->neighbor map is a
   bijection onto the (independently validated) neighbor set, the one
   unresolved direction takes the one unassigned neighbor — exact by
   elimination.  Verified exhaustively: bijective + symmetric over
   every cell at res 1..3, and the ClickHouse docs anchor
   cellsToDirectedEdge(599686042433355775, 599686043507097599) =
   1248204388774707199 reproduces bit-exactly (direction 1).

2. RES-0 (base-cell) steps use the home-frame lattice step with
   substrate overage unfolding — the same construction h3lib's
   generateBaseCellNeighbors app used to emit its baseCellNeighbors
   table — with the pentagon deleted-K collapse: the IK direction of a
   pentagon takes the K-wedge step (the naive IK step lands on the I
   neighbor).  The derived table is bijective and symmetric over all
   122 base cells and reproduces the published h3lib rows spot-checked
   from baseCells.c (row 0 = {1,5,2,4,3,8}, row 4 =
   {-,15,8,3,0,12}).

h3Line follows gridPathCells: cube-coordinate lerp between the local
lattice coords of the endpoints with h3lib's largest-delta cube
rounding.  Local coords here come from the origin's face unfolding;
lerp+round commutes with the lattice isometries relating that frame to
h3lib's origin-anchored local-ijk frame, so paths agree wherever
h3lib's own gridPathCells succeeds (it errors on pentagon distortion;
this raises ValueError there too).

Edge ids use the published bit layout: mode field (bits 59-62) = 2,
direction in the reserved bits 56-58, cell digits unchanged.

NOT here (still excluded, with reasons): h3EdgeAngle and
h3EdgeLengthKm/M read h3lib's static AVERAGE-edge-length table, whose
values are empirical constants with no in-sandbox ground truth; the
EXACT edge lengths (h3ExactEdgeLength*) are fully derivable and live
below.
"""

from __future__ import annotations

import math
from functools import lru_cache

from clickhouse_25_5_3_75_stable_spark.functions import h3geo as G

DIRECTED_EDGE_MODE = 2
_MODE_MASK = 0xF << 59
_DIR_MASK = 0x7 << 56


# ---------------------------------------------------------------------------
# res-0: base-cell neighbor steps (home-frame + overage unfolding)
# ---------------------------------------------------------------------------


def _base_step(bc: int, d: int):
    face, coord, _, _ = G.BASE_CELL_DATA[bc]
    c = G.ijk_normalize(G.ijk_neighbor(coord, d))
    f2, c2 = face, c
    ov = G.NO_OVERAGE
    for _ in range(6):
        ov, f2, c2 = G.adjust_overage_class_ii(f2, c2, 0, False, False)
        if ov == G.NO_OVERAGE:
            break
    if ov != G.NO_OVERAGE:
        return None
    i, j, k = c2
    if max(i, j, k) > 2:
        return None
    ent = G.face_ijk_base_cells().get((f2, i, j, k))
    return None if ent is None else ent[0]


@lru_cache(maxsize=1)
def _base_cell_directions() -> dict[int, dict[int, int]]:
    """bc -> {direction: neighbor bc}; bijective + symmetric over all
    122 base cells (asserted), reproducing h3lib baseCellNeighbors."""
    rows: dict[int, dict[int, int]] = {}
    for bc in range(122):
        pent = bc in G.PENTAGONS
        m: dict[int, int] = {}
        for d in range(1, 7):
            if pent and d == 1:
                continue
            if pent and d == 5:
                n = _base_step(bc, 1)  # deleted-K wedge collapse
            else:
                n = _base_step(bc, d)
            assert n is not None and n != bc, (bc, d)
            m[d] = n
        assert len(set(m.values())) == len(m), (bc, m)
        rows[bc] = m
    for bc, m in rows.items():
        for n in m.values():
            assert bc in rows[n].values(), (bc, n)
    return rows


# ---------------------------------------------------------------------------
# res >= 1: rotation-calibrated face-frame steps + pentagon elimination
# ---------------------------------------------------------------------------


def _index_rotation(h: int) -> int:
    """ccw 60-degree rotations from the cell's index digit frame to its
    unfolded face frame, measured from the digit-2 child geometry."""
    res = G.h3_resolution(h)
    rr = res + 1
    c0 = G.h3_set_digit((h & ~(0xF << 52)) | (rr << 52), rr, 0)
    c2 = G.h3_set_digit(c0, rr, 2)
    f, _ = G.h3_to_faceijk(h)
    la0, lo0 = G.h3_to_geo_rads(c0)
    la2, lo2 = G.h3_to_geo_rads(c2)
    _, v0 = G.geo_to_hex2d(la0, lo0, rr, face=f)
    _, v2 = G.geo_to_hex2d(la2, lo2, rr, face=f)
    fd = G.unit_ijk_to_digit(G.hex2d_to_ijk((v2[0] - v0[0], v2[1] - v0[1])))
    d = 2
    for k in range(6):
        if d == fd:
            return k
        d = G.rotate_digit_60ccw(d)
    raise AssertionError((hex(h), fd))


@lru_cache(maxsize=65536)
def directions_map_py(h: int) -> dict[int, int]:
    """direction (1..6; 2..6 for pentagons) -> neighbor cell, h3lib
    h3NeighborRotations semantics. Bijective onto the neighbor set."""
    res = G.h3_resolution(h)
    pent = G._is_pentagon_cell(h)
    if res == 0:
        return dict(_base_cell_directions()[G.h3_base_cell(h)])
    dirs = [d for d in range(1, 7) if not (pent and d == 1)]
    face, coord = G.h3_to_faceijk(h)
    rots = _index_rotation(h)
    nbrs = neighbors_py(h)
    out: dict[int, int] = {}
    missing: list[int] = []
    for d in dirs:
        fd = d
        for _ in range(rots):
            fd = G.rotate_digit_60ccw(fd)
        n = G.face_ijk_to_h3(face, G.ijk_neighbor(coord, fd), res)
        if n and n != h and n in nbrs:
            out[d] = n
        else:
            missing.append(d)
    assigned = set(out.values())
    if len(assigned) != len(out):
        raise ValueError(f"h3 direction map degenerate for {h:#x}")
    un = nbrs - assigned
    if len(missing) == 1 and len(un) == 1:
        out[missing[0]] = un.pop()  # exact by bijection elimination
    elif missing:
        raise ValueError(f"h3 direction map unresolved for {h:#x}: {missing}")
    if set(out.values()) != nbrs:
        raise ValueError(f"h3 direction map not bijective for {h:#x}")
    return out


def neighbors_py(h: int) -> set[int]:
    """Neighbor set; res-0 goes through the derived base-cell table
    (the raw face step misses 2 of a res-0 pentagon's 5 neighbors —
    the single-face lattice cannot see around the icosa vertex)."""
    if G.h3_resolution(h) == 0:
        return {
            G.h3_init(0, n)
            for n in _base_cell_directions()[G.h3_base_cell(h)].values()
        }
    return G.h3_neighbors_py(h)


# ---------------------------------------------------------------------------
# edge id encode / decode (published H3 bit layout, mode 2)
# ---------------------------------------------------------------------------


def _make_edge(origin: int, direction: int) -> int:
    return (origin & ~(_MODE_MASK | _DIR_MASK)) | (DIRECTED_EDGE_MODE << 59) | (
        direction << 56
    )


def edge_origin_py(edge: int) -> int:
    return (edge & ~(_MODE_MASK | _DIR_MASK)) | (1 << 59)


def edge_cells_py(edge: int) -> tuple[int, int]:
    """(origin, destination) of an edge — directedEdgeToCells."""
    return edge_origin_py(edge), edge_destination_py(edge)


def edge_direction(edge: int) -> int:
    return (edge >> 56) & 0x7


def edge_is_valid_py(edge: int) -> bool:
    if (edge >> 63) & 1 or ((edge >> 59) & 0xF) != DIRECTED_EDGE_MODE:
        return False
    d = edge_direction(edge)
    if not 1 <= d <= 6:
        return False
    origin = edge_origin_py(edge)
    from clickhouse_25_5_3_75_stable_spark.functions.h3 import h3_is_valid_py

    if not h3_is_valid_py(origin):
        return False
    return not (G._is_pentagon_cell(origin) and d == 1)


def get_unidirectional_edge_py(origin: int, dest: int) -> int:
    """cellsToDirectedEdge: 0 when the cells are not neighbors (h3lib
    returns an error code; the reference surfaces H3_NULL=0)."""
    m = directions_map_py(origin)
    for d, n in m.items():
        if n == dest:
            return _make_edge(origin, d)
    return 0


def edge_destination_py(edge: int) -> int:
    if not edge_is_valid_py(edge):
        return 0
    return directions_map_py(edge_origin_py(edge))[edge_direction(edge)]


def edges_from_hexagon_py(edge_or_cell: int) -> list[int]:
    """originToDirectedEdges: 6 slots; a pentagon's deleted direction
    slot is H3_NULL (0), matching the reference's fixed-size array."""
    h = edge_or_cell
    out = []
    m = directions_map_py(h)
    for d in range(1, 7):
        out.append(_make_edge(h, d) if d in m else 0)
    return out


def edge_boundary_py(edge: int) -> list[tuple[float, float]]:
    """directedEdgeToBoundary: the shared contiguous arc of the origin
    boundary (2 vertices, or 3 with a class-III distortion vertex), in
    origin ccw order, degrees (lat, lng)."""
    if not edge_is_valid_py(edge):
        raise ValueError(f"invalid directed edge {edge:#x}")
    origin = edge_origin_py(edge)
    dest = edge_destination_py(edge)
    ob = G.cell_boundary_rads(origin)
    db = G.cell_boundary_rads(dest)

    def close(a, b):
        return abs(a[0] - b[0]) < 1e-9 and (
            abs(a[1] - b[1]) < 1e-9
            or abs(abs(a[1] - b[1]) - 2 * math.pi) < 1e-9
        )

    shared = [any(close(v, w) for w in db) for v in ob]
    n = len(ob)
    idxs = [i for i, s in enumerate(shared) if s]
    if len(idxs) < 2:
        raise ValueError(f"edge {edge:#x}: no shared boundary found")
    # rotate to the start of the contiguous run (cyclic)
    start = None
    for i in idxs:
        if not shared[(i - 1) % n]:
            start = i
            break
    if start is None:  # fully shared (cannot happen for distinct cells)
        start = idxs[0]
    run = []
    i = start
    while shared[i]:
        run.append(ob[i])
        i = (i + 1) % n
        if i == start:
            break
    return [(math.degrees(la), math.degrees(lo)) for la, lo in run]


def exact_edge_length_rads_py(edge: int) -> float:
    b = edge_boundary_py(edge)
    tot = 0.0
    for (la1, lo1), (la2, lo2) in zip(b, b[1:]):
        tot += G.great_circle_rads(
            math.radians(la1), math.radians(lo1),
            math.radians(la2), math.radians(lo2),
        )
    return tot


def exact_edge_length_km_py(edge: int) -> float:
    return exact_edge_length_rads_py(edge) * G.EARTH_RADIUS_KM


def exact_edge_length_m_py(edge: int) -> float:
    return exact_edge_length_km_py(edge) * 1000.0


# ---------------------------------------------------------------------------
# h3Line (gridPathCells: cube lerp + largest-delta rounding)
# ---------------------------------------------------------------------------


def _lround(x: float) -> int:
    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def _cube_round(x: float, y: float, z: float) -> tuple[int, int, int]:
    rx, ry, rz = _lround(x), _lround(y), _lround(z)
    dx, dy, dz = abs(rx - x), abs(ry - y), abs(rz - z)
    if dx > dy and dx > dz:
        rx = -ry - rz
    elif dy > dz:
        ry = -rx - rz
    else:
        rz = -rx - ry
    return rx, ry, rz


def _ijk_to_cube(c) -> tuple[int, int, int]:
    i, j, k = c
    ci = -i + k
    cj = j - k
    return ci, cj, -ci - cj


def _cube_to_ijk(c) -> tuple[int, int, int]:
    ci, cj, _ = c
    return G.ijk_normalize((-ci, cj, 0))


def h3_line_py(a: int, b: int) -> list[int]:
    """gridPathCells: raises ValueError where h3lib errors (resolution
    mismatch, unreachable pairs, pentagon distortion on the path)."""
    res = G.h3_resolution(a)
    if res != G.h3_resolution(b):
        raise ValueError("h3Line: start and end resolutions differ")
    n = G.grid_distance_py(a, b)
    if n < 0:
        raise ValueError(
            f"Line cannot be computed between start H3 index {a} and end "
            f"H3 index {b}"
        )
    if n == 0:
        return [a]
    fa, ca = G.h3_to_faceijk(a)
    la, lo = G.h3_to_geo_rads(b)
    _, vb = G.geo_to_hex2d(la, lo, res, face=fa)
    cb = G.hex2d_to_ijk(vb)
    if G.face_ijk_to_h3(fa, cb, res) != b:
        raise ValueError(
            f"Line cannot be computed between start H3 index {a} and end "
            f"H3 index {b}"
        )
    ax, ay, az = _ijk_to_cube(ca)
    bx, by, bz = _ijk_to_cube(cb)
    out = []
    for step in range(n + 1):
        t = step / n
        cc = _cube_round(
            ax + (bx - ax) * t, ay + (by - ay) * t, az + (bz - az) * t
        )
        cell = G.face_ijk_to_h3(fa, _cube_to_ijk(cc), res)
        if not cell:
            raise ValueError(
                f"Line cannot be computed between start H3 index {a} and "
                f"end H3 index {b}"
            )
        out.append(cell)
    if out[0] != a or out[-1] != b:
        raise ValueError(
            f"Line cannot be computed between start H3 index {a} and end "
            f"H3 index {b}"
        )
    for x, y in zip(out, out[1:]):
        if x != y and y not in neighbors_py(x):
            raise ValueError(
                f"Line cannot be computed between start H3 index {a} and "
                f"end H3 index {b}"
            )
    return out
