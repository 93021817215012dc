"""gridblock: cell / neighbours / cover against a brute-force Python model."""

from __future__ import annotations

import itertools
import math
import random

from core_spark.operators import gridblock as gb


def cell_model(v: float, size: float) -> int:
    return math.floor(v / size)


# on multiples of the size, negatives (FLOOR != truncation), and between
VALUES = [0.0, 0.25, -0.25, 0.5, -0.5, 1.0, -1.0, 1.75, -1.75, 2.0, -2.0,
          -0.1, 0.1, 7.5, -7.5, 123.0, -123.25]


def test_cell_sql_text():
    # the exact text every operator's plan relies on
    assert gb.cell("x", 3) == "CAST(FLOOR((x) / 3.0) AS BIGINT)"
    assert gb.cell("a - 1", 0.1) == "CAST(FLOOR((a - 1) / 0.1) AS BIGINT)"
    assert gb.cover("lo", "hi", 2) == (
        "explode(sequence(CAST(FLOOR((lo) / 2.0) AS BIGINT),"
        " CAST(FLOOR((hi) / 2.0) AS BIGINT)))")


def test_cell_matches_floor_model(spark):
    df = spark.createDataFrame([(v,) for v in VALUES], "v double")
    for size in (0.25, 0.5, 1.0, 2.0, 0.1):
        got = {r.v: r.c for r in df.selectExpr(
            "v", f"{gb.cell('v', size)} AS c").collect()}
        want = {v: cell_model(v, size) for v in VALUES}
        assert got == want, size


def test_cell_on_integer_columns(spark):
    # BIGINT / size: exact decimal division in Spark, same floor
    xs = list(range(-13, 14))
    df = spark.createDataFrame([(x,) for x in xs], "x bigint")
    got = {r.x: r.c for r in df.selectExpr(
        "x", f"{gb.cell('x', 4)} AS c").collect()}
    assert got == {x: x // 4 for x in xs}


def _cover_rows(spark, boxes, size, hi_expr="hi"):
    df = spark.createDataFrame(boxes, "k int, lo double, hi double")
    rows = df.selectExpr("k", f"{gb.cover('lo', hi_expr, size)} AS c")
    out: dict[int, list[int]] = {}
    for r in rows.collect():
        out.setdefault(r.k, []).append(r.c)
    return {k: sorted(v) for k, v in out.items()}


def test_cover_matches_model(spark):
    boxes = [
        (0, 0.0, 0.0),      # zero width at a cell corner
        (1, -0.5, -0.5),    # zero width, negative
        (2, -3.0, 7.25),    # covers many cells, starts on a multiple
        (3, 0.5, 0.75),     # inside one cell
        (4, -1.0, 1.0),     # both ends on multiples
        (5, -9.75, -2.1),   # all negative
    ]
    size = 1.0
    got = _cover_rows(spark, boxes, size)
    want = {k: list(range(cell_model(lo, size), cell_model(hi, size) + 1))
            for k, lo, hi in boxes}
    assert got == want
    assert len(got[2]) == 11 and got[0] == [0] and got[1] == [-1]


def test_cover_closed_open(spark):
    # areal's closed-open extent [lo, hi): pass hi - 1 on integer coords
    boxes = [(0, 0.0, 4.0), (1, -4.0, 0.0), (2, -3.0, 5.0)]
    got = _cover_rows(spark, boxes, 2, "hi - 1")
    assert got == {0: [0, 1], 1: [-2, -1], 2: [-2, -1, 0, 1, 2]}


def _neighbour_rows(spark, rows, names, offsets=None):
    schema = "k int, " + ", ".join(f"{n} bigint" for n in names)
    df = spark.createDataFrame(rows, schema)
    out = gb.neighbours(df, ["k AS key"], {n: n for n in names}, offsets)
    assert out.columns == ["key", *names]
    return sorted(tuple(r) for r in out.collect())


def test_neighbours_2d_and_3d_offsets(spark):
    for d in (2, 3):
        names = ["cx", "cy", "ct"][:d]
        home = [(0, *([0] * d)), (1, *range(-2, -2 + d))]
        got = _neighbour_rows(spark, home, names)
        want = sorted(
            (k, *(h + o for h, o in zip(cells, off)))
            for k, *cells in home
            for off in itertools.product((-1, 0, 1), repeat=d)
        )
        assert got == want
        assert len(got) == 2 * 3 ** d


def test_neighbours_explicit_offsets(spark):
    rook = ((1, 0), (-1, 0), (0, 1), (0, -1))
    got = _neighbour_rows(spark, [(7, 5, -5)], ["cx", "cy"], rook)
    assert got == sorted([(7, 6, -5), (7, 4, -5), (7, 5, -4), (7, 5, -6)])


def test_neighbour_probe_finds_every_pair_once(spark):
    # epsilon-grid completeness on 3 axes: |delta| <= eps on every axis
    rng = random.Random(7)
    eps = 3
    pts = [(i, rng.randint(-12, 12), rng.randint(-12, 12), rng.randint(-6, 6))
           for i in range(60)]
    pts += [(60, -3, 3, 0), (61, 0, 0, -3), (62, 3, -3, 3)]  # on multiples
    df = spark.createDataFrame(pts, "k int, x bigint, y bigint, t bigint")
    home = {"gx": gb.cell("x", eps), "gy": gb.cell("y", eps),
            "gt": gb.cell("t", eps)}
    probe = gb.neighbours(df, ["k AS a", "x AS ax", "y AS ay", "t AS at"],
                          home)
    rest = df.selectExpr("k AS b", "x AS bx", "y AS by", "t AS bt",
                         *[f"{e} AS {c}" for c, e in home.items()])
    got = [
        (r.a, r.b) for r in probe.join(rest, list(home))
        .where(f"a < b AND abs(ax - bx) <= {eps} AND abs(ay - by) <= {eps}"
               f" AND abs(at - bt) <= {eps}").select("a", "b").collect()
    ]
    want = {
        (p[0], q[0]) for p, q in itertools.combinations(pts, 2)
        if all(abs(u - v) <= eps for u, v in zip(p[1:], q[1:]))
    }
    assert len(got) == len(set(got))  # each pair exactly once
    assert set(got) == want and want


def test_pbsm_cover_and_reference_point_find_every_pair_once(spark):
    # boxes (closed) with negatives, zero-width ones and many-cell spans
    rng = random.Random(11)
    boxes = []
    for i in range(50):
        x0, y0 = rng.randint(-20, 20), rng.randint(-20, 20)
        boxes.append((i, x0, y0, x0 + rng.choice((0, 0, 1, 3, 9)),
                      y0 + rng.choice((0, 2, 5, 14))))
    g = 4
    df = spark.createDataFrame(
        boxes, "k int, x0 bigint, y0 bigint, x1 bigint, y1 bigint")
    grid = df.selectExpr("*", f"{gb.cover('x0', 'x1', g)} AS cx") \
        .selectExpr("*", f"{gb.cover('y0', 'y1', g)} AS cy")
    a = grid.selectExpr("k AS a", "x0 AS ax0", "y0 AS ay0", "x1 AS ax1",
                        "y1 AS ay1", "cx", "cy")
    b = grid.selectExpr("k AS b", "x0 AS bx0", "y0 AS by0", "x1 AS bx1",
                        "y1 AS by1", "cx", "cy")
    got = [
        (r.a, r.b) for r in a.join(b, ["cx", "cy"]).where(
            "a < b AND ax0 <= bx1 AND bx0 <= ax1"
            " AND ay0 <= by1 AND by0 <= ay1"
            f" AND cx = {gb.cell('greatest(ax0, bx0)', g)}"
            f" AND cy = {gb.cell('greatest(ay0, by0)', g)}"
        ).select("a", "b").collect()
    ]
    want = {
        (p[0], q[0]) for p, q in itertools.combinations(boxes, 2)
        if p[1] <= q[3] and q[1] <= p[3] and p[2] <= q[4] and q[2] <= p[4]
    }
    assert len(got) == len(set(got))
    assert set(got) == want and want
