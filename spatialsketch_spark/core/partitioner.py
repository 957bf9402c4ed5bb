"""Rectilinear polygon -> disjoint rectangle decomposition.

Reference: repository/src/spatialsketch/Partitioner.cpp (min-chord
corner-matching algorithm, <= 2x optimal rectangle count) and
repository/src/utils/Utils.cpp:10-17 (RectToRange), :64-179 (shape-file
parser), :182-211 (RangeBoundsCheck).

We deliberately use a different, simpler algorithm — a slab sweep with
vertical run-merging — because the decomposition only runs driver-side
per query (V is tiny) and its output feeds a dyadic cover whose size is
O(|rects| * log^2 N) either way. Correctness (exact disjoint cover of the
polygon interior, holes included via the even-odd rule) is what matters
and is verified against brute-force point-in-polygon in
tests/test_partitioner.py.

Coordinate convention matches the reference: vertices lie on half-integer
coordinates (cell centers are integers), and ``rect_to_range`` keeps the
cells whose centers fall inside, as inclusive integer ranges
(Utils.cpp:10-17, README.md:55). A center on an edge belongs to the rect
on its upper side, the rule ``point_in_shape`` uses, so rects sharing an
integer edge never share a cell.
"""

from __future__ import annotations

from dataclasses import dataclass, field
import math


@dataclass
class Shape:
    """A rectilinear polygon: outer ring(s) + optional hole rings.

    Mirrors ``shape_info`` (Utils.h:24-33). Rings are lists of (x, y)
    vertices; edges are axis-parallel; interior decided by the even-odd
    rule (so holes are just additional rings).
    """

    rings: list  # list[list[tuple[float, float]]]
    name: str = "shape"
    grid_size: int = 4096
    max_x_offset: int = 0
    max_y_offset: int = 0

    def all_vertical_edges(self):
        edges = []
        for ring in self.rings:
            m = len(ring)
            for i in range(m):
                x0, y0 = ring[i]
                x1, y1 = ring[(i + 1) % m]
                if x0 == x1 and y0 != y1:
                    edges.append((x0, min(y0, y1), max(y0, y1)))
                elif y0 != y1 and x0 != x1:
                    raise ValueError(f"non-rectilinear edge {ring[i]}->{ring[(i+1)%m]}")
        return edges


def decompose(shape: Shape) -> list[tuple[float, float, float, float]]:
    """Partition the polygon interior into disjoint rectangles
    (x1, y1, x2, y2), continuous coordinates.

    Slab sweep: cut at every distinct vertex y; inside a slab the
    interior is a set of x-intervals obtained by even-odd pairing of the
    vertical edges spanning the slab. Vertically adjacent slabs with an
    identical interval are merged to shrink the output.
    """
    edges = shape.all_vertical_edges()
    if not edges:
        return []
    ys = sorted({y for _, ylo, yhi in edges for y in (ylo, yhi)})
    open_rects: dict[tuple[float, float], float] = {}  # (x1, x2) -> y_start
    out: list[tuple[float, float, float, float]] = []
    for i in range(len(ys) - 1):
        ylo, yhi = ys[i], ys[i + 1]
        xs = sorted(x for x, elo, ehi in edges if elo <= ylo and ehi >= yhi)
        intervals = {(xs[j], xs[j + 1]) for j in range(0, len(xs) - 1, 2)}
        # close rects whose interval ended
        for iv in list(open_rects):
            if iv not in intervals:
                out.append((iv[0], open_rects.pop(iv), iv[1], ylo))
        for iv in intervals:
            if iv not in open_rects:
                open_rects[iv] = ylo
        # mark continuing rects by extending implicitly (y recorded at open)
    ymax = ys[-1]
    for iv, ystart in open_rects.items():
        out.append((iv[0], ystart, iv[1], ymax))
    return out


def rect_to_range(x1: float, y1: float, x2: float, y2: float
                  ) -> tuple[int, int, int, int]:
    """Continuous rect -> inclusive integer cell range (Utils.cpp:10-17):
    the cells whose centers lie in the half-open ``[x1, x2) x [y1, y2)``.
    For half-integer corners that is ceil/floor, as in the reference."""
    return (math.ceil(x1), math.ceil(y1), math.ceil(x2) - 1,
            math.ceil(y2) - 1)


def clamp_range(r: tuple[int, int, int, int], n: int
                ) -> tuple[int, int, int, int] | None:
    """RangeBoundsCheck (Utils.cpp:182-211): clamp to [0, n-1]; None if
    the range leaves the grid entirely."""
    x1, y1, x2, y2 = r
    x1, y1 = max(0, x1), max(0, y1)
    x2, y2 = min(n - 1, x2), min(n - 1, y2)
    if x1 > x2 or y1 > y2:
        return None
    return (x1, y1, x2, y2)


def shape_to_ranges(shape: Shape, x_off: int = 0, y_off: int = 0
                    ) -> list[tuple[int, int, int, int]]:
    """Full query-side geometry path: decompose -> offset -> cell ranges
    -> clamp (experiments.cpp:521-530, 598-609)."""
    out = []
    for x1, y1, x2, y2 in decompose(shape):
        r = rect_to_range(x1 + x_off, y1 + y_off, x2 + x_off, y2 + y_off)
        r = clamp_range(r, shape.grid_size)
        if r is not None:
            out.append(r)
    return out


def point_in_shape(x: float, y: float, shape: Shape) -> bool:
    """Even-odd ray cast (brute-force oracle for tests and for exact
    boundary checks in the PIP join)."""
    crossings = 0
    for ring in shape.rings:
        m = len(ring)
        for i in range(m):
            x0, y0 = ring[i]
            x1, y1 = ring[(i + 1) % m]
            if y0 == y1:
                continue
            lo, hi = (y0, y1) if y0 < y1 else (y1, y0)
            if lo <= y < hi and x0 > x:  # vertical edge at x0 spanning y
                crossings += 1
    return crossings % 2 == 1


# ---------------------------------------------------------------------------
# Shape-file text format (reference fixture compatibility, Utils.cpp:64-179)
# ---------------------------------------------------------------------------

def parse_shape_file(text: str) -> Shape:
    """Parse the reference's shape-file text format:

        grid size:<N>
        shape:<name>
        max_x_offset:<int>
        max_y_offset:<int>
        vertices
        <x>,<y>
        ...
        hole start
        <x>,<y>...
        hole end
    """
    lines = [ln.strip() for ln in text.splitlines() if ln.strip()]
    meta: dict[str, str] = {}
    rings: list[list[tuple[float, float]]] = []
    cur: list[tuple[float, float]] | None = None
    mode = "meta"
    for ln in lines:
        low = ln.lower()
        if low == "vertices":
            cur = []
            rings.append(cur)
            mode = "verts"
            continue
        if low in ("hole start", "line start"):
            cur = []
            rings.append(cur)
            continue
        if low in ("hole end", "line end"):
            cur = rings[0]
            continue
        if mode == "meta" and ":" in ln:
            k, v = ln.split(":", 1)
            meta[k.strip().lower()] = v.strip()
            continue
        if mode == "verts" and "," in ln:
            xs, ys = ln.split(",", 1)
            cur.append((float(xs), float(ys)))
            continue
        if ":" in ln:  # trailing metadata after vertices (e.g. coordinates)
            k, v = ln.split(":", 1)
            meta[k.strip().lower()] = v.strip()
    return Shape(
        rings=rings,
        name=meta.get("shape", "shape"),
        grid_size=int(meta.get("grid size", 4096)),
        max_x_offset=int(meta.get("max_x_offset", 0)),
        max_y_offset=int(meta.get("max_y_offset", 0)),
    )


def rect_shape(x1: float, y1: float, x2: float, y2: float, n: int = 4096,
               name: str = "rect") -> Shape:
    return Shape(rings=[[(x1, y1), (x2, y1), (x2, y2), (x1, y2)]],
                 name=name, grid_size=n)
