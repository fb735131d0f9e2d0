"""H3 index-math subset — exact, from the published H3 index bit
layout (SURVEY §2.8 geo; reference /root/reference/src/Functions/
h3GetResolution.cpp, h3GetBaseCell.cpp, h3IsValid.cpp, h3IsPentagon.cpp,
h3IsResClassIII.cpp, h3ToParent.cpp, h3ToChildren.cpp,
h3ToCenterChild.cpp, h3GetRes0Indexes.cpp, h3GetPentagonIndexes.cpp,
h3NumHexagons.cpp, h3ToString.cpp + stringToH3).

Scope: every function here operates ONLY on the published H3 cell
index encoding (h3geo.org "H3 Index Representations" — Apache-2.0
spec): bit 63 reserved=0, bits 59-62 mode (1=cell), 56-58 reserved,
52-55 resolution, 45-51 base cell (0..121), then fifteen 3-bit digits
for res 1..15 (0..6 used; 7 = unused beyond the cell's resolution).
Pentagon base cells are the twelve published in the spec. These are
bit-exact against libh3 by construction — no geo tables involved.

Anchors (tests/test_h3.py): the canonical SF res-9 cell
8928308280fffff decodes to (mode 1, res 9, base cell 20, digits all
0..6); res-0 indexes take the documented 80XXfffffffffff shape
(8001… = base cell 0, 8029… = base cell 20, 801d… = pentagon base
cell 14); parent/child round-trips; children counts 7 (hexagon) vs 6
(pentagon); Σ children over res-0 = 842 = h3NumHexagons(1).

Deliberately NOT here (still CH_FUNCTIONS_EXCLUDED, with reason):
geoToH3 / h3ToGeo / h3kRing / h3Distance and the edge/boundary/area
families — they need the icosahedron face projection tables and
neighbor-rotation tables of the C library, which this sandbox cannot
obtain or verify. No approximations are shipped for them.

Execution shape: the scalar getters/predicates and h3ToParent /
h3ToCenterChild are pure JVM bit expressions (whole-stage codegen —
the 100 TB path for sharding/rollup keys); h3ToChildren (variable
fan-out) is an Arrow-batched UDF over h3_to_children_py (a row of
functions/udfs.py); the generator functions return literal arrays.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the twelve pentagon base cells (published H3 spec table)
PENTAGON_BASE_CELLS = (4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)

_MODE_CELL = 1
_NUM_BASE_CELLS = 122


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


# ---------------------------------------------------------------------------
# Python reference implementations (tests + generator functions)
# ---------------------------------------------------------------------------

def h3_get_resolution_py(h: int) -> int:
    return (h >> 52) & 0xF


def h3_get_base_cell_py(h: int) -> int:
    return (h >> 45) & 0x7F


def _digit(h: int, i: int) -> int:
    """3-bit digit for resolution i (1..15)."""
    return (h >> (3 * (15 - i))) & 0x7


def _leading_nonzero_digit(h: int) -> int:
    for i in range(1, h3_get_resolution_py(h) + 1):
        d = _digit(h, i)
        if d:
            return d
    return 0


def h3_is_valid_py(h: int) -> bool:
    if h >> 63:
        return False
    if (h >> 59) & 0xF != _MODE_CELL:
        return False
    if (h >> 56) & 0x7:
        return False
    bc = h3_get_base_cell_py(h)
    if bc >= _NUM_BASE_CELLS:
        return False
    res = h3_get_resolution_py(h)
    for i in range(1, res + 1):
        if _digit(h, i) == 7:
            return False
    for i in range(res + 1, 16):
        if _digit(h, i) != 7:
            return False
    # a pentagon's deleted K-axis subsequence: leading digit 1 invalid
    if bc in PENTAGON_BASE_CELLS and _leading_nonzero_digit(h) == 1:
        return False
    return True


def h3_is_pentagon_py(h: int) -> bool:
    return (h3_get_base_cell_py(h) in PENTAGON_BASE_CELLS
            and _leading_nonzero_digit(h) == 0)


def h3_to_parent_py(h: int, parent_res: int) -> int:
    res = h3_get_resolution_py(h)
    if parent_res > res or parent_res < 0:
        raise ValueError("parent resolution must be 0..res")
    out = (h & ~(0xF << 52)) | (parent_res << 52)
    out |= (1 << (3 * (15 - parent_res))) - 1  # digits beyond parent → 7s
    return out


def h3_to_center_child_py(h: int, child_res: int) -> int:
    res = h3_get_resolution_py(h)
    if child_res < res or child_res > 15:
        raise ValueError("child resolution must be res..15")
    out = (h & ~(0xF << 52)) | (child_res << 52)
    # digits res+1..child_res → 0, beyond child_res stay 7
    hi = 3 * (15 - res)
    lo = 3 * (15 - child_res)
    out &= ~(((1 << (hi - lo)) - 1) << lo) if hi > lo else ~0
    return out


def h3_to_children_py(h: int, child_res: int) -> list[int]:
    res = h3_get_resolution_py(h)
    if child_res < res or child_res > 15:
        raise ValueError("child resolution must be res..15")
    if child_res == res:
        return [h]
    out = []
    for d in range(7):
        if d == 1 and h3_is_pentagon_py(h):
            continue  # pentagons have no K-axis (digit 1) child
        i = res + 1
        child = (h & ~(0xF << 52)) | (i << 52)
        child &= ~(0x7 << (3 * (15 - i)))
        child |= d << (3 * (15 - i))
        out.extend(h3_to_children_py(child, child_res))
    return out


def h3_num_hexagons_py(res: int) -> int:
    # published closed form: 122 base cells, each finer res multiplies
    # hexagon children by 7 while the 12 pentagons contribute 6
    return 2 + 120 * 7**res


def h3_get_res0_indexes_py() -> list[int]:
    return [(1 << 59) | (bc << 45) | ((1 << 45) - 1)
            for bc in range(_NUM_BASE_CELLS)]


def h3_get_pentagon_indexes_py(res: int) -> list[int]:
    out = []
    for bc in PENTAGON_BASE_CELLS:
        h = (1 << 59) | (res << 52) | (bc << 45) | ((1 << (3 * (15 - res))) - 1)
        out.append(h)
    return out


# ---------------------------------------------------------------------------
# Column API — JVM expressions for the hot-path scalar ops
# ---------------------------------------------------------------------------

def h3_get_resolution(h) -> Column:
    return F.shiftright(_c(h), 52).bitwiseAND(F.lit(0xF)).cast("int")


def h3_get_base_cell(h) -> Column:
    return F.shiftright(_c(h), 45).bitwiseAND(F.lit(0x7F)).cast("int")


def h3_is_res_class_iii(res) -> Column:
    return (_c(res).cast("int") % 2 == 1)


def _leading_nonzero_digit_col(h: Column, res: Column) -> Column:
    # max over digits 1..res of "digit if it is the first nonzero" —
    # expressed as: the digit at the smallest i with digit!=0
    digits = F.array(*[
        F.when(
            (F.lit(i) <= res),
            F.shiftright(h, 3 * (15 - i)).bitwiseAND(F.lit(0x7)),
        ).otherwise(F.lit(0)).cast("int")
        for i in range(1, 16)
    ])
    nonzero = F.filter(digits, lambda d: d != 0)
    return F.coalesce(F.try_element_at(nonzero, F.lit(1)), F.lit(0))


def h3_is_valid(h) -> Column:
    hc = _c(h).cast("bigint")
    res = h3_get_resolution(hc)
    bc = h3_get_base_cell(hc)
    ok = (
        (hc >= 0)
        & (F.shiftright(hc, 59).bitwiseAND(F.lit(0xF)) == _MODE_CELL)
        & (F.shiftright(hc, 56).bitwiseAND(F.lit(0x7)) == 0)
        & (bc < _NUM_BASE_CELLS)
    )
    for i in range(1, 16):
        d = F.shiftright(hc, 3 * (15 - i)).bitwiseAND(F.lit(0x7))
        ok = ok & F.when(F.lit(i) <= res, d != 7).otherwise(d == 7)
    pent = bc.isin(*PENTAGON_BASE_CELLS)
    ok = ok & ~(pent & (_leading_nonzero_digit_col(hc, res) == 1))
    return ok


def h3_is_pentagon(h) -> Column:
    hc = _c(h).cast("bigint")
    res = h3_get_resolution(hc)
    return (h3_get_base_cell(hc).isin(*PENTAGON_BASE_CELLS)
            & (_leading_nonzero_digit_col(hc, res) == 0))


def _ones_below_res(r: Column) -> Column:
    """(1 << (45 - 3*r)) - 1 as a bigint — the all-7s digit tail mask
    for resolution r. Spark's Python shiftleft wants a literal shift,
    so the 16 possible resolutions branch to literal masks (codegen
    folds this to a lookup)."""
    out = F.lit(0).cast("bigint")
    for p in range(16):
        out = F.when(r == p, F.lit((1 << (45 - 3 * p)) - 1).cast("bigint")).otherwise(out)
    return out


def h3_to_parent(h, parent_res) -> Column:
    """Set the resolution bits to parent_res and the digits beyond it
    to 7s — pure bigint bit math; parent_res may be literal or column."""
    hc = _c(h).cast("bigint")
    pr = _c(parent_res).cast("int")
    cleared = hc.bitwiseAND(F.lit(~(0xF << 52)))
    with_res = cleared.bitwiseOR(F.shiftleft(pr.cast("bigint"), 52))
    return with_res.bitwiseOR(_ones_below_res(pr))


def h3_to_center_child(h, child_res) -> Column:
    """Set resolution to child_res and zero the digits res+1..child_res
    (digits beyond child_res stay 7s)."""
    hc = _c(h).cast("bigint")
    cr = _c(child_res).cast("int")
    res = h3_get_resolution(hc)
    cleared = hc.bitwiseAND(F.lit(~(0xF << 52)))
    with_res = cleared.bitwiseOR(F.shiftleft(cr.cast("bigint"), 52))
    # clear bits lo..hi-1: (2^hi - 1) - (2^lo - 1)
    seg = (_ones_below_res(res) - _ones_below_res(cr)).cast("bigint")
    return with_res.bitwiseAND(seg.bitwiseXOR(F.lit(-1).cast("bigint")))


def h3_num_hexagons(res) -> Column:
    """2 + 120 * 7^res — a 16-entry literal array lookup (a when-chain
    that reuses its accumulator doubles the expression tree per level:
    2^15 nodes — review finding from profiling)."""
    r = _c(res).cast("int")
    table = F.array(*[F.lit(h3_num_hexagons_py(i)).cast("bigint")
                      for i in range(16)])
    return F.try_element_at(table, r + 1)


def h3_to_string(h) -> Column:
    return F.lower(F.hex(_c(h).cast("bigint")))


def string_to_h3(s) -> Column:
    return F.conv(_c(s), 16, 10).cast("bigint")
