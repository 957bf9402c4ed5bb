"""Partitioner correctness vs brute-force point-in-polygon
(reference invariants: Partitioner.cpp:509-519; our algorithm differs —
slab sweep — so we verify the *output contract*: disjoint rects covering
exactly the polygon interior, holes included)."""

import pytest

from spatialsketch_spark.core.partitioner import (
    Shape, decompose, rect_to_range, clamp_range, shape_to_ranges,
    point_in_shape, parse_shape_file, rect_shape,
)


def cells_of_ranges(ranges):
    cells = set()
    for x1, y1, x2, y2 in ranges:
        for x in range(x1, x2 + 1):
            for y in range(y1, y2 + 1):
                assert (x, y) not in cells, "ranges must be disjoint"
                cells.add((x, y))
    return cells


def brute_cells(shape, n):
    return {(x, y) for x in range(n) for y in range(n)
            if point_in_shape(x, y, shape)}


# fixtures on an N=16 grid; vertices at half-integers (reference convention)
L_SHAPE = Shape(rings=[[(-0.5, -0.5), (9.5, -0.5), (9.5, 4.5), (4.5, 4.5),
                        (4.5, 9.5), (-0.5, 9.5)]], grid_size=16, name="L")
U_SHAPE = Shape(rings=[[(-0.5, -0.5), (11.5, -0.5), (11.5, 9.5), (8.5, 9.5),
                        (8.5, 2.5), (2.5, 2.5), (2.5, 9.5), (-0.5, 9.5)]],
                grid_size=16, name="U")
COMB = Shape(rings=[[(-0.5, -0.5), (13.5, -0.5), (13.5, 3.5), (11.5, 3.5),
                     (11.5, 1.5), (9.5, 1.5), (9.5, 3.5), (7.5, 3.5),
                     (7.5, 1.5), (5.5, 1.5), (5.5, 3.5), (3.5, 3.5),
                     (3.5, 1.5), (1.5, 1.5), (1.5, 3.5), (-0.5, 3.5)]],
             grid_size=16, name="comb")
HOLED = Shape(rings=[[(-0.5, -0.5), (9.5, -0.5), (9.5, 9.5), (-0.5, 9.5)],
                     [(2.5, 2.5), (6.5, 2.5), (6.5, 6.5), (2.5, 6.5)]],
              grid_size=16, name="holed")
SINGLE = Shape(rings=[[(2.5, 2.5), (3.5, 2.5), (3.5, 3.5), (2.5, 3.5)]],
               grid_size=16, name="single_cell")
FULL = rect_shape(-0.5, -0.5, 15.5, 15.5, n=16, name="full")


@pytest.mark.parametrize("shape", [L_SHAPE, U_SHAPE, COMB, HOLED, SINGLE, FULL],
                         ids=lambda s: s.name)
def test_decomposition_matches_bruteforce(shape):
    ranges = shape_to_ranges(shape)
    assert cells_of_ranges(ranges) == brute_cells(shape, shape.grid_size)


def test_offset_and_clamp():
    ranges = shape_to_ranges(SINGLE, x_off=12, y_off=12)
    assert ranges == [(15, 15, 15, 15)]
    assert shape_to_ranges(SINGLE, x_off=12, y_off=13) == []  # clamped off-grid
    assert shape_to_ranges(SINGLE, x_off=100, y_off=0) == []


def test_rect_to_range_halfinteger():
    assert rect_to_range(-0.5, -0.5, 3.5, 2.5) == (0, 0, 3, 2)
    assert clamp_range((-3, 5, 20, 9), 16) == (0, 5, 15, 9)
    assert clamp_range((17, 0, 20, 3), 16) is None


def test_integer_corner_rects_share_no_cell():
    """An L with integer corners: the rects meeting on its integer edge
    must not both take that edge's row; the cells are exactly the
    brute-force point_in_shape set."""
    shape = Shape(rings=[[(3, 3), (12, 3), (12, 7), (7, 7), (7, 13),
                          (3, 13)]], grid_size=16, name="int_L")
    ranges = shape_to_ranges(shape)
    assert len(ranges) == 2
    assert cells_of_ranges(ranges) == brute_cells(shape, 16)


def test_shape_file_roundtrip():
    txt = """grid size:16
selection size:25
shape:testL
max_x_offset:6
max_y_offset:6
vertices
-0.5,-0.5
9.5,-0.5
9.5,4.5
4.5,4.5
4.5,9.5
-0.5,9.5
"""
    s = parse_shape_file(txt)
    assert s.grid_size == 16 and s.name == "testL"
    assert s.max_x_offset == 6
    assert cells_of_ranges(shape_to_ranges(s)) == brute_cells(L_SHAPE, 16)


def test_shape_file_with_hole():
    txt = """grid size:16
shape:holed
max_x_offset:0
max_y_offset:0
vertices
-0.5,-0.5
9.5,-0.5
9.5,9.5
-0.5,9.5
hole start
2.5,2.5
6.5,2.5
6.5,6.5
2.5,6.5
hole end
"""
    s = parse_shape_file(txt)
    assert cells_of_ranges(shape_to_ranges(s)) == brute_cells(HOLED, 16)
