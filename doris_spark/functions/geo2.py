"""Geo function family over a WKT-string geometry representation.

Reference: be/src/exprs/function/geo/ (geo.cpp, geo_types) — Doris keeps
geometries as an opaque binary type; we keep them as normalized WKT
STRINGs so they stay printable, hashable and oracle-comparable, with a
pure-python computational-geometry kernel behind Arrow-batched pandas
UDFs (no geo libraries in this container; Sedona would be the cluster
deployment choice and slots in behind the same names).

Kernel scope (documented honest limits):
- Geometry types: POINT, LINESTRING, POLYGON (with holes), MULTIPOINT,
  MULTILINESTRING, MULTIPOLYGON, GEOMETRYCOLLECTION, CIRCLE (Doris
  extension: "CIRCLE (x y, r_meters)").
- st_contains / st_intersects / st_disjoint: exact planar predicates via
  ray casting + segment intersection (polygon/linestring/point, any
  pair).
- st_touches: boundary contact without interior overlap (exact for
  point-vs-any and linestring/polygon boundary contact at shared
  vertices/edge crossings at endpoints).
- st_area_square_meters/_km: spherical excess on the 6371 km sphere
  (matches st_distance_sphere's sphere in functions/registry.py).
- st_length: spherical length of a linestring; st_distance: planar
  euclidean in degrees (the reference's planar variant).

The simple point accessors (st_point/st_x/st_y/st_astext over a struct)
predate this module in functions/registry.py and remain; st_aswkt and
the WKT constructors here accept both tiers (a struct point is rendered
to WKT by registry's st_astext).
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

# S2Earth's radius (S2Earth::ToMeters) — the gis-suite goldens
# calibrate length/area/distance to this value exactly
R_EARTH = 6371010.0

_NUM = r"[-+]?[0-9]*\.?[0-9]+(?:[eE][-+]?[0-9]+)?"


class Geom:
    """typ: POINT|LINESTRING|POLYGON|MULTI*|GEOMETRYCOLLECTION|CIRCLE.
    parts: POINT -> [(x, y)]; LINESTRING -> [pts]; POLYGON -> [rings];
    MULTI*/COLLECTION -> [Geom]; CIRCLE -> [(x, y)], radius set."""

    __slots__ = ("typ", "parts", "radius")

    def __init__(self, typ, parts, radius=None):
        self.typ = typ
        self.parts = parts
        self.radius = radius


def _fmt_num(v: float) -> str:
    # BE WKT rendering uses 15 significant digits
    # (geo_types.cpp:73 std::setprecision(15))
    return repr(int(v)) if float(v).is_integer() else f"{float(v):.15g}"


def _fmt_pts(pts) -> str:
    return ", ".join(f"{_fmt_num(x)} {_fmt_num(y)}" for x, y in pts)


def to_wkt(g: Geom) -> str:
    if g.typ == "POINT":
        return f"POINT ({_fmt_pts(g.parts)})"
    if g.typ == "LINESTRING":
        return f"LINESTRING ({_fmt_pts(g.parts)})"
    if g.typ == "POLYGON":
        rings = ", ".join(f"({_fmt_pts(r)})" for r in g.parts)
        return f"POLYGON ({rings})"
    if g.typ == "CIRCLE":
        # reference render: CIRCLE ((x y), r) (geo_types.cpp as_wkt)
        (x, y) = g.parts[0]
        return f"CIRCLE (({_fmt_num(x)} {_fmt_num(y)}), {_fmt_num(g.radius)})"
    if g.typ in ("MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON", "GEOMETRYCOLLECTION"):
        if g.typ == "GEOMETRYCOLLECTION":
            inner = ", ".join(to_wkt(sub) for sub in g.parts)
        else:
            inner = ", ".join(to_wkt(sub)[to_wkt(sub).index("(") :] for sub in g.parts)
        return f"{g.typ} ({inner})"
    raise ValueError(g.typ)


def _parse_pts(body: str):
    pts = []
    for pair in body.split(","):
        nums = re.findall(_NUM, pair)
        if len(nums) != 2:
            raise ValueError(pair)
        pts.append((float(nums[0]), float(nums[1])))
    return pts


def _split_top(body: str):
    """Split on commas at paren depth 0."""
    out, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _wkb_encode(g: Geom) -> bytes | None:
    """Little-endian WKB for POINT / LINESTRING / POLYGON
    (geo_tobinary.cpp analog)."""
    import struct

    if g.typ == "POINT":
        return b"\x01" + struct.pack("<I", 1) + struct.pack("<dd", *g.parts[0])
    if g.typ == "LINESTRING":
        out = b"\x01" + struct.pack("<II", 2, len(g.parts))
        for x, y in g.parts:
            out += struct.pack("<dd", x, y)
        return out
    if g.typ == "POLYGON":
        out = b"\x01" + struct.pack("<II", 3, len(g.parts))
        for ring in g.parts:
            out += struct.pack("<I", len(ring))
            for x, y in ring:
                out += struct.pack("<dd", x, y)
        return out
    return None


def _wkb_decode(raw: bytes) -> Geom | None:
    """WKB / EWKB (0x20000000 SRID flag) decode of POINT / LINESTRING /
    POLYGON (wkb_parse.cpp analog)."""
    import struct

    def rd(buf, pos):
        bo = "<" if buf[pos] == 1 else ">"
        (t,) = struct.unpack_from(bo + "I", buf, pos + 1)
        pos += 5
        if t & 0x20000000:  # EWKB SRID present
            t &= ~0xE0000000
            pos += 4
        if t == 1:
            x, y = struct.unpack_from(bo + "dd", buf, pos)
            return Geom("POINT", [(x, y)]), pos + 16
        if t == 2:
            (n,) = struct.unpack_from(bo + "I", buf, pos)
            pos += 4
            pts = []
            for _ in range(n):
                x, y = struct.unpack_from(bo + "dd", buf, pos)
                pts.append((x, y))
                pos += 16
            return Geom("LINESTRING", pts), pos
        if t == 3:
            (nr,) = struct.unpack_from(bo + "I", buf, pos)
            pos += 4
            rings = []
            for _ in range(nr):
                (n,) = struct.unpack_from(bo + "I", buf, pos)
                pos += 4
                ring = []
                for _ in range(n):
                    x, y = struct.unpack_from(bo + "dd", buf, pos)
                    ring.append((x, y))
                    pos += 16
                rings.append(ring)
            return Geom("POLYGON", rings), pos
        return None, pos

    try:
        g, _ = rd(raw, 0)
        return g
    except (struct.error, IndexError):
        return None


def _ring_ccw(ring):
    """Reverse a clockwise ring to CCW (S2Loop::Normalize analog —
    MULTIPOLYGON goldens render every ring counter-clockwise, starting
    from the original last distinct vertex)."""
    area2 = sum(
        x1 * y2 - x2 * y1 for (x1, y1), (x2, y2) in zip(ring, ring[1:])
    )
    if area2 < 0:
        r = ring[:-1][::-1]
        return r + [r[0]]
    return ring


def _seg_overlap(a1, a2, b1, b2) -> bool:
    """Collinear segments sharing more than a point."""
    d1 = (a2[0] - a1[0], a2[1] - a1[1])
    d2 = (b2[0] - b1[0], b2[1] - b1[1])
    if abs(d1[0] * d2[1] - d1[1] * d2[0]) > 1e-12:
        return False
    # b1 must be collinear with a1-a2
    if abs((b1[0] - a1[0]) * d1[1] - (b1[1] - a1[1]) * d1[0]) > 1e-12:
        return False
    # project onto the dominant axis and check interval overlap length
    ax = 0 if abs(d1[0]) >= abs(d1[1]) else 1
    lo1, hi1 = sorted((a1[ax], a2[ax]))
    lo2, hi2 = sorted((b1[ax], b2[ax]))
    return min(hi1, hi2) - max(lo1, lo2) > 1e-12


def _multipoly_invalid(subs) -> bool:
    """S2-style validity: polygons of a MULTIPOLYGON may touch at points
    but must not overlap interiors or share edge segments (reference
    returns NULL for such input — test_gis_function goldens)."""
    for i in range(len(subs)):
        for j in range(i + 1, len(subs)):
            a, b = subs[i], subs[j]
            for p in _points_of(b):
                if _point_in_polygon(p, a.parts) == 2:
                    return True
            for p in _points_of(a):
                if _point_in_polygon(p, b.parts) == 2:
                    return True
            for e1 in _edges(a):
                mid = ((e1[0][0] + e1[1][0]) / 2, (e1[0][1] + e1[1][1]) / 2)
                if _point_in_polygon(mid, b.parts) == 2:
                    return True
                for e2 in _edges(b):
                    if _seg_overlap(e1[0], e1[1], e2[0], e2[1]):
                        return True
            for e2 in _edges(b):
                mid = ((e2[0][0] + e2[1][0]) / 2, (e2[0][1] + e2[1][1]) / 2)
                if _point_in_polygon(mid, a.parts) == 2:
                    return True
    return False


def parse_wkt(s) -> Geom | None:
    if s is None:
        return None
    if isinstance(s, dict):
        # st_point() emits STRUCT<x, y> — accept it anywhere a geometry
        # argument is expected (the suites mix st_point with WKT-string
        # geometries freely)
        x, y = s.get("x"), s.get("y")
        if x is None or y is None:
            return None
        return Geom("POINT", [(float(x), float(y))])
    s = s.strip()
    m = re.match(r"^([A-Za-z]+)\s*\((.*)\)\s*$", s, re.S)
    if not m:
        return None
    typ = m.group(1).upper()
    body = m.group(2).strip()
    try:
        if typ == "POINT":
            return Geom("POINT", _parse_pts(body))
        if typ == "LINESTRING":
            pts = _parse_pts(body)
            return Geom("LINESTRING", pts) if len(pts) >= 2 else None
        if typ == "POLYGON":
            rings = [_parse_pts(r.strip()[1:-1]) for r in _split_top(body)]
            for r in rings:
                if len(r) < 4 or r[0] != r[-1]:
                    return None
            # S2Loop::Normalize (geo_types.cpp:346) — every ring CCW
            return Geom("POLYGON", [_ring_ccw(r) for r in rings])
        if typ == "CIRCLE":
            nums = re.findall(_NUM, body)
            if len(nums) != 3:
                return None
            return Geom("CIRCLE", [(float(nums[0]), float(nums[1]))], float(nums[2]))
        if typ == "MULTIPOINT":
            pts = _parse_pts(body.replace("(", "").replace(")", ""))
            return Geom("MULTIPOINT", [Geom("POINT", [p]) for p in pts])
        if typ == "MULTILINESTRING":
            return Geom(
                "MULTILINESTRING",
                [Geom("LINESTRING", _parse_pts(p.strip()[1:-1])) for p in _split_top(body)],
            )
        if typ == "MULTIPOLYGON":
            subs = []
            for p in _split_top(body):
                p = p.strip()[1:-1]
                rings = [
                    _ring_ccw(_parse_pts(r.strip()[1:-1]))
                    for r in _split_top(p)
                ]
                subs.append(Geom("POLYGON", rings))
            if _multipoly_invalid(subs):
                return None
            return Geom("MULTIPOLYGON", subs)
        if typ == "GEOMETRYCOLLECTION":
            return Geom("GEOMETRYCOLLECTION", [parse_wkt(p.strip()) for p in _split_top(body)])
    except (ValueError, IndexError):
        return None
    return None


# ---------------- planar predicates ----------------


def _on_segment(p, a, b, eps=1e-12) -> bool:
    cross = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
    if abs(cross) > eps * max(1.0, abs(b[0] - a[0]), abs(b[1] - a[1])):
        return False
    return (
        min(a[0], b[0]) - eps <= p[0] <= max(a[0], b[0]) + eps
        and min(a[1], b[1]) - eps <= p[1] <= max(a[1], b[1]) + eps
    )


def _seg_intersect(p1, p2, p3, p4) -> bool:
    def d(a, b, c):
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])

    d1, d2 = d(p3, p4, p1), d(p3, p4, p2)
    d3, d4 = d(p1, p2, p3), d(p1, p2, p4)
    if ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and (
        (d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)
    ):
        return True
    return (
        (d1 == 0 and _on_segment(p1, p3, p4))
        or (d2 == 0 and _on_segment(p2, p3, p4))
        or (d3 == 0 and _on_segment(p3, p1, p2))
        or (d4 == 0 and _on_segment(p4, p1, p2))
    )


def _point_in_ring(p, ring) -> int:
    """2 = interior, 1 = boundary, 0 = exterior (ray casting)."""
    inside = False
    n = len(ring) - 1
    for i in range(n):
        a, b = ring[i], ring[i + 1]
        if _on_segment(p, a, b):
            return 1
        if (a[1] > p[1]) != (b[1] > p[1]):
            xin = (b[0] - a[0]) * (p[1] - a[1]) / (b[1] - a[1]) + a[0]
            if p[0] < xin:
                inside = not inside
    return 2 if inside else 0


def _point_in_polygon(p, rings) -> int:
    loc = _point_in_ring(p, rings[0])
    if loc != 2:
        return loc
    for hole in rings[1:]:
        hl = _point_in_ring(p, hole)
        if hl == 1:
            return 1
        if hl == 2:
            return 0
    return 2


def _edges(g: Geom):
    if g.typ == "LINESTRING":
        pts = g.parts
        for i in range(len(pts) - 1):
            yield pts[i], pts[i + 1]
    elif g.typ == "POLYGON":
        for ring in g.parts:
            for i in range(len(ring) - 1):
                yield ring[i], ring[i + 1]
    elif g.typ in ("MULTILINESTRING", "MULTIPOLYGON", "GEOMETRYCOLLECTION"):
        for sub in g.parts:
            yield from _edges(sub)


def _points_of(g: Geom):
    if g.typ == "POINT":
        return g.parts
    if g.typ == "LINESTRING":
        return g.parts
    if g.typ == "POLYGON":
        return [p for r in g.parts for p in r]
    return [p for sub in g.parts for p in _points_of(sub)]


def _loc_in(p, a: Geom) -> int:
    """0 outside / 1 boundary / 2 interior of a polygonal region (single
    or MULTI)."""
    if a.typ == "POLYGON":
        return _point_in_polygon(p, a.parts)
    best = 0
    for sub in a.parts:
        if sub.typ != "POLYGON":
            continue
        best = max(best, _point_in_polygon(p, sub.parts))
    return best


def contains(a: Geom, b: Geom) -> bool | None:
    """a contains b — S2Polygon::Contains semantics (geo_types.cpp):
    POINT probes exclude the boundary; polylines may touch the boundary
    at points but not run ALONG it; polygons may share boundary."""
    if a is None or b is None:
        return None
    if a.typ == "CIRCLE":
        (cx, cy), r = a.parts[0], a.radius
        return all(
            _sphere_dist(cx, cy, x, y) <= r for x, y in _points_of(b)
        )
    if a.typ not in ("POLYGON", "MULTIPOLYGON", "GEOMETRYCOLLECTION"):
        if a.typ == "POINT":
            return b.typ == "POINT" and a.parts[0] == b.parts[0]
        return None
    if b.typ == "POINT":
        # boundary is OPEN for point probes (test_gis_function goldens)
        return _loc_in(b.parts[0], a) == 2
    if b.typ in ("MULTIPOINT",):
        return all(_loc_in(p, a) == 2 for p in _points_of(b))
    # vertices and edge midpoints of b must be inside-or-boundary
    probes = list(_points_of(b))
    for e1 in _edges(b):
        probes.append(((e1[0][0] + e1[1][0]) / 2, (e1[0][1] + e1[1][1]) / 2))
    if any(_loc_in(p, a) == 0 for p in probes):
        return False
    if b.typ in ("LINESTRING", "MULTILINESTRING"):
        # a polyline may TOUCH the boundary but not run along it
        for e1 in _edges(b):
            for e2 in _edges(a):
                if _seg_overlap(e1[0], e1[1], e2[0], e2[1]):
                    return False
        return True
    # polygonal b: shared boundary is fine, but no hole of a may sit
    # strictly inside b (b would cover the hole)
    holes = []
    subs = [a] if a.typ == "POLYGON" else [s for s in a.parts if s.typ == "POLYGON"]
    for sub in subs:
        for ring in sub.parts[1:]:
            holes.extend(ring)
    if any(_loc_in(p, b) == 2 for p in holes):
        return False
    # interior sample of b must land in a's interior (catches b exactly
    # filling one of a's holes — every boundary probe sits ON the ring)
    bsubs = [b] if b.typ == "POLYGON" else [s for s in b.parts if s.typ == "POLYGON"]
    for sub in bsubs:
        ring = sub.parts[0]
        cx = sum(p[0] for p in ring[:-1]) / (len(ring) - 1)
        cy = sum(p[1] for p in ring[:-1]) / (len(ring) - 1)
        if _loc_in((cx, cy), sub) == 2 and _loc_in((cx, cy), a) == 0:
            return False
    return True


def _planar_dist(p, q) -> float:
    return math.hypot(p[0] - q[0], p[1] - q[1])


def _planar_pt_seg(p, a, b) -> float:
    vx, vy = b[0] - a[0], b[1] - a[1]
    m2 = vx * vx + vy * vy
    if m2 == 0:
        return _planar_dist(p, a)
    t = max(0.0, min(1.0, ((p[0] - a[0]) * vx + (p[1] - a[1]) * vy) / m2))
    return _planar_dist(p, (a[0] + t * vx, a[1] + t * vy))


def _circle_planar_gap(c: Geom, g: Geom) -> float | None:
    """Planar-degree distance from circle boundary to g minus 0 when
    overlapping — mirrors the reference's GeoCircle::intersects, which
    compares the meters-labelled radius against PLANAR DEGREE distances
    (geo_types.cpp compute_distance_to_point: sqrt on lat/lon deltas)."""
    (cx, cy), r = c.parts[0], c.radius
    if g.typ == "CIRCLE":
        return _planar_dist((cx, cy), g.parts[0]) - r - g.radius
    if g.typ == "POINT":
        return _planar_dist((cx, cy), g.parts[0]) - r
    edges = list(_edges(g))
    if not edges:
        ds = [_planar_dist((cx, cy), p) for p in _points_of(g)]
        return (min(ds) - r) if ds else None
    if g.typ in ("POLYGON", "MULTIPOLYGON") and _pt_in_any_poly((cx, cy), g):
        return -r
    return min(_planar_pt_seg((cx, cy), s, t) for s, t in edges) - r


def _pt_in_any_poly(p, g: Geom) -> bool:
    if g.typ == "POLYGON":
        return _point_in_polygon(p, g.parts) > 0
    return any(_pt_in_any_poly(p, sub) for sub in g.parts if sub.typ == "POLYGON")


def intersects(a: Geom, b: Geom) -> bool | None:
    if a is None or b is None:
        return None
    if a.typ == "CIRCLE" or b.typ == "CIRCLE":
        c, g = (a, b) if a.typ == "CIRCLE" else (b, a)
        gap = _circle_planar_gap(c, g)
        return None if gap is None else gap <= 1e-6
    for g1, g2 in ((a, b), (b, a)):
        if g1.typ in ("MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON", "GEOMETRYCOLLECTION"):
            return any(intersects(sub, g2) for sub in g1.parts)
    if a.typ == "POINT":
        return _point_touches(a.parts[0], b) is not False
    if b.typ == "POINT":
        return _point_touches(b.parts[0], a) is not False
    for e1 in _edges(a):
        for e2 in _edges(b):
            if _seg_intersect(e1[0], e1[1], e2[0], e2[1]):
                return True
    if a.typ == "POLYGON" and _point_in_polygon(_points_of(b)[0], a.parts) > 0:
        return True
    if b.typ == "POLYGON" and _point_in_polygon(_points_of(a)[0], b.parts) > 0:
        return True
    return False


def _point_touches(p, g: Geom):
    """True-ish classification of point vs geometry: 'interior',
    'boundary', or False."""
    if g.typ == "POINT":
        return "boundary" if p == g.parts[0] else False
    if g.typ == "LINESTRING":
        if p == g.parts[0] or p == g.parts[-1]:
            return "boundary"  # linestring endpoints ARE its boundary
        return "interior" if any(_on_segment(p, a, b) for a, b in _edges(g)) else False
    if g.typ == "POLYGON":
        loc = _point_in_polygon(p, g.parts)
        return "interior" if loc == 2 else ("boundary" if loc == 1 else False)
    if g.typ == "CIRCLE":
        (cx, cy), r = g.parts[0], g.radius
        d = _sphere_dist(cx, cy, p[0], p[1])
        return "interior" if d < r else ("boundary" if abs(d - r) < 1e-6 else False)
    # MULTI*/GEOMETRYCOLLECTION: strongest classification across parts
    subs = [_point_touches(p, sub) for sub in g.parts]
    if "interior" in subs:
        return "interior"
    if "boundary" in subs:
        return "boundary"
    return False


def touches(a: Geom, b: Geom) -> bool | None:
    """Boundary contact without interior-interior intersection."""
    if a is None or b is None:
        return None
    if a.typ == "CIRCLE" or b.typ == "CIRCLE":
        # planar-degree boundary contact (same unit mix as the
        # reference's circle intersects — see _circle_planar_gap)
        c, g = (a, b) if a.typ == "CIRCLE" else (b, a)
        gap = _circle_planar_gap(c, g)
        return None if gap is None else abs(gap) <= 1e-6
    if a.typ == "POINT" and b.typ == "POINT":
        return False
    if a.typ == "POINT":
        return _point_touches(a.parts[0], b) == "boundary"
    if b.typ == "POINT":
        return _point_touches(b.parts[0], a) == "boundary"
    for g1, g2 in ((a, b), (b, a)):
        if g1.typ in ("MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON",
                      "GEOMETRYCOLLECTION"):
            # touches iff some part touches and NO part's interior meets
            hit = False
            for sub in g1.parts:
                if not intersects(sub, g2):
                    continue
                t = touches(sub, g2)
                if not t:
                    return False
                hit = True
            return hit
    if not intersects(a, b):
        return False
    if a.typ == "POLYGON" and b.typ == "POLYGON":
        # interiors disjoint <=> no vertex strictly inside the other and
        # no proper edge crossing (shared edges allowed)
        if any(_point_in_polygon(p, b.parts) == 2 for p in _points_of(a)):
            return False
        if any(_point_in_polygon(p, a.parts) == 2 for p in _points_of(b)):
            return False
        for e1 in _edges(a):
            mid = ((e1[0][0] + e1[1][0]) / 2, (e1[0][1] + e1[1][1]) / 2)
            if _point_in_polygon(mid, b.parts) == 2:
                return False
        return True
    if a.typ == "LINESTRING" and b.typ == "LINESTRING":
        # interiors must not overlap: collinear shared segments kill it
        for e1 in _edges(a):
            for e2 in _edges(b):
                if _seg_overlap(e1[0], e1[1], e2[0], e2[1]):
                    return False
        return True
    # polygon x polyline: the line may touch the boundary but its
    # interior must never enter the polygon interior
    poly, line = (a, b) if a.typ == "POLYGON" else (b, a)
    if poly.typ == "POLYGON" and line.typ == "LINESTRING":
        probes = list(line.parts)
        for e1 in _edges(line):
            probes.append(
                ((e1[0][0] + e1[1][0]) / 2, (e1[0][1] + e1[1][1]) / 2)
            )
        if any(_point_in_polygon(p, poly.parts) == 2 for p in probes):
            return False
        return True
    return True


# ---------------- spherical measures ----------------


def _xyz(lon, lat):
    lo, la = math.radians(lon), math.radians(lat)
    return (
        math.cos(la) * math.cos(lo),
        math.cos(la) * math.sin(lo),
        math.sin(la),
    )


def _ang(u, v) -> float:
    # atan2 form — acos loses ~8 digits near 0/pi, which the tiny-angle
    # circle-distance goldens (1e-7 rad) can't afford
    cx = u[1] * v[2] - u[2] * v[1]
    cy = u[2] * v[0] - u[0] * v[2]
    cz = u[0] * v[1] - u[1] * v[0]
    s = math.sqrt(cx * cx + cy * cy + cz * cz)
    d = u[0] * v[0] + u[1] * v[1] + u[2] * v[2]
    return math.atan2(s, d)


def _pt_seg_dist_m(p, a, b) -> float:
    """Great-circle distance (m) from point p to arc a-b (all lon/lat)."""
    P, A, B = _xyz(*p), _xyz(*a), _xyz(*b)
    n = (
        A[1] * B[2] - A[2] * B[1],
        A[2] * B[0] - A[0] * B[2],
        A[0] * B[1] - A[1] * B[0],
    )
    nn = math.sqrt(n[0] ** 2 + n[1] ** 2 + n[2] ** 2)
    if nn < 1e-15:
        return _ang(P, A) * R_EARTH
    # closest point on the great circle through A, B
    t = (
        n[1] * (P[0] * n[1] - P[1] * n[0]) - n[2] * (P[2] * n[0] - P[0] * n[2]),
        n[2] * (P[1] * n[2] - P[2] * n[1]) - n[0] * (P[0] * n[1] - P[1] * n[0]),
        n[0] * (P[2] * n[0] - P[0] * n[2]) - n[1] * (P[1] * n[2] - P[2] * n[1]),
    )
    tn = math.sqrt(t[0] ** 2 + t[1] ** 2 + t[2] ** 2)
    if tn < 1e-15:
        return min(_ang(P, A), _ang(P, B)) * R_EARTH
    T = (t[0] / tn, t[1] / tn, t[2] / tn)
    if _ang(A, T) + _ang(T, B) <= _ang(A, B) + 1e-12:
        return _ang(P, T) * R_EARTH
    return min(_ang(P, A), _ang(P, B)) * R_EARTH


def distance_m(a: Geom, b: Geom) -> float | None:
    """Min spherical distance in meters (S2 semantics: 0 when the
    geometries intersect — functions_geo.cpp st_distance)."""
    if a is None or b is None:
        return None
    if a.typ == "CIRCLE" or b.typ == "CIRCLE":
        c, g = (a, b) if a.typ == "CIRCLE" else (b, a)
        inner = distance_m(Geom("POINT", [c.parts[0]]), g)
        return None if inner is None else max(0.0, inner - c.radius)
    try:
        if intersects(a, b):
            return 0.0
    except (TypeError, ValueError):
        pass
    pa, pb = _points_of(a), _points_of(b)
    ea, eb = list(_edges(a)), list(_edges(b))
    best = math.inf
    for p in pa:
        if eb:
            best = min(best, min(_pt_seg_dist_m(p, s, t) for s, t in eb))
        else:
            best = min(
                best, min(_sphere_dist(p[0], p[1], q[0], q[1]) for q in pb)
            )
    for q in pb:
        if ea:
            best = min(best, min(_pt_seg_dist_m(q, s, t) for s, t in ea))
    return best if math.isfinite(best) else None


def _sphere_dist(lon1, lat1, lon2, lat2) -> float:
    la1, la2 = math.radians(lat1), math.radians(lat2)
    dla = la2 - la1
    dlo = math.radians(lon2 - lon1)
    h = math.sin(dla / 2) ** 2 + math.cos(la1) * math.cos(la2) * math.sin(dlo / 2) ** 2
    return 2 * R_EARTH * math.asin(math.sqrt(h))


def _ring_area_sphere(ring) -> float:
    """EXACT spherical excess via interior angles (Girard) — matches
    S2Loop::GetArea to the goldens' full precision (test_gis_function
    ST_Area_Square_Meters)."""
    pts = [_xyz(lon, lat) for lon, lat in ring[:-1]]
    n = len(pts)
    if n < 3:
        return 0.0

    def _tan(b, x):
        d = x[0] * b[0] + x[1] * b[1] + x[2] * b[2]
        t = (x[0] - d * b[0], x[1] - d * b[1], x[2] - d * b[2])
        tn = math.sqrt(t[0] ** 2 + t[1] ** 2 + t[2] ** 2)
        return (t[0] / tn, t[1] / tn, t[2] / tn)

    total = 0.0
    for i in range(n):
        a, b, c = pts[i - 1], pts[i], pts[(i + 1) % n]
        t1, t2 = _tan(b, a), _tan(b, c)
        total += math.acos(
            max(-1.0, min(1.0, t1[0] * t2[0] + t1[1] * t2[1] + t1[2] * t2[2]))
        )
    return abs(total - (n - 2) * math.pi) * R_EARTH * R_EARTH


def area_m2(g: Geom) -> float | None:
    if g is None:
        return None
    if g.typ == "POLYGON":
        a = _ring_area_sphere(g.parts[0])
        for hole in g.parts[1:]:
            a -= _ring_area_sphere(hole)
        return a
    if g.typ == "CIRCLE":
        return math.pi * g.radius * g.radius
    if g.typ == "MULTIPOLYGON":
        return sum(area_m2(sub) for sub in g.parts)
    return 0.0


def length_m(g: Geom) -> float | None:
    if g is None:
        return None
    if g.typ in ("LINESTRING", "POLYGON"):
        # polygons report their spherical perimeter (reference
        # st_length goldens)
        return sum(_sphere_dist(a[0], a[1], b[0], b[1]) for a, b in _edges(g))
    if g.typ == "CIRCLE":
        # circle length = 2*pi*r in the radius's own unit
        return 2 * math.pi * g.radius
    if g.typ in ("MULTILINESTRING", "MULTIPOLYGON", "GEOMETRYCOLLECTION"):
        return sum(length_m(sub) or 0.0 for sub in g.parts)
    return 0.0


def npoints(g: Geom) -> int | None:
    if g is None:
        return None
    if g.typ == "CIRCLE":
        return None  # reference: \N (no vertex representation)
    if g.typ == "POLYGON":
        # the CLOSING vertex counts (st_npoints goldens: square = 5)
        return sum(len(r) for r in g.parts)
    if g.typ in ("MULTIPOLYGON", "MULTILINESTRING", "GEOMETRYCOLLECTION"):
        subs = [npoints(sub) for sub in g.parts]
        return None if any(s is None for s in subs) else sum(subs)
    return len(_points_of(g))


def _bearing_rad(p, q) -> float:
    """Initial great-circle bearing p->q, (lat, lng) DEGREES in, radians
    [0, 2pi) out."""
    f1, f2 = math.radians(p[0]), math.radians(q[0])
    dl = math.radians(q[1] - p[1])
    y = math.sin(dl) * math.cos(f2)
    x = math.cos(f1) * math.sin(f2) - math.sin(f1) * math.cos(f2) * math.cos(dl)
    return math.atan2(y, x) % (2 * math.pi)


def _compute_angle(p1, p2, p3) -> float | None:
    """Reference GeoPoint::ComputeAngle (geo_types.cpp:652): angle at p2
    from the p3-bearing to the p1-bearing, [0, 2pi). QUIRK mirrored
    exactly: the reference passes x (longitude) as the LATITUDE argument
    of S2LatLng::FromDegrees, so |x| > 90 is invalid (NULL), and the
    bearings run over the swapped coordinates. Identical or antipodal
    point pairs -> NULL."""
    s1, s2, s3 = (p1[0], p1[1]), (p2[0], p2[1]), (p3[0], p3[1])
    if any(abs(s[0]) > 90 for s in (s1, s2, s3)):
        return None
    if s2 == s1 or s2 == s3:
        return None

    def central(u, v):
        f1, f2 = math.radians(u[0]), math.radians(v[0])
        dl = math.radians(v[1] - u[1])
        h = (
            math.sin((f2 - f1) / 2) ** 2
            + math.cos(f1) * math.cos(f2) * math.sin(dl / 2) ** 2
        )
        return 2 * math.asin(min(1.0, math.sqrt(h)))

    if abs(central(s1, s2) - math.pi) < 1e-12 or abs(central(s3, s2) - math.pi) < 1e-12:
        return None
    a = _bearing_rad(s2, s3)
    b = _bearing_rad(s2, s1)
    return (b - a) % (2 * math.pi)


# ---------------- registration ----------------


def register(spark: SparkSession) -> int:
    n = 0

    def _conv(c):
        # a struct argument (st_point's STRUCT<x, y>) arrives at the
        # pandas UDF as a DataFrame — fold it to a Series of dicts so
        # parse_wkt's dict branch sees it
        if isinstance(c, pd.DataFrame):
            return pd.Series(c.to_dict("records"))
        return c

    def reg(name, fn, ret):
        nonlocal n
        import inspect

        k = len(inspect.signature(fn).parameters)
        if k == 1:
            w = lambda a: fn(_conv(a))  # noqa: E731
        elif k == 2:
            w = lambda a, b: fn(_conv(a), _conv(b))  # noqa: E731
        elif k == 3:
            w = lambda a, b, c: fn(_conv(a), _conv(b), _conv(c))  # noqa: E731
        else:
            w = fn
        spark.udf.register(name, pandas_udf(w, ret))
        n += 1

    def _norm(s: pd.Series) -> pd.Series:
        return s.map(lambda v: to_wkt(parse_wkt(v)) if parse_wkt(v) else None)

    for nm in (
        "st_geometryfromtext",
        "st_geomfromtext",
        "st_linefromtext",
        "st_linestringfromtext",
        "st_polygonfromtext",
        "st_polyfromtext",
        "st_polygon",
        "st_aswkt_text",
    ):
        reg(nm, _norm, "string")

    def st_geometrytype(s: pd.Series) -> pd.Series:
        def f(v):
            g = parse_wkt(v)
            # reference renders ALL-CAPS type names (geo_types.h:120
            # "ST_POINT" .. "ST_CIRCLE")
            return "ST_" + g.typ.upper() if g else None

        return s.map(f)

    reg("st_geometrytype", st_geometrytype, "string")

    def st_npoints(s: pd.Series) -> pd.Series:
        return s.map(lambda v: npoints(parse_wkt(v)))

    reg("st_numpoints", st_npoints, "int")
    reg("st_npoints", st_npoints, "int")

    def st_numgeometries(s: pd.Series) -> pd.Series:
        def f(v):
            g = parse_wkt(v)
            if g is None:
                return None
            return len(g.parts) if g.typ.startswith(("MULTI", "GEOMETRY")) else 1

        return s.map(f)

    reg("st_numgeometries", st_numgeometries, "int")

    def st_geometries(s: pd.Series) -> pd.Series:
        def f(v):
            g = parse_wkt(v)
            if g is None:
                return None
            if g.typ.startswith(("MULTI", "GEOMETRY")):
                return [to_wkt(sub) for sub in g.parts]
            return [to_wkt(g)]

        return s.map(f)

    reg("st_geometries", st_geometries, "array<string>")

    def st_astext(s: pd.Series) -> pd.Series:
        # dict (st_point struct) or WKT text in -> normalized WKT out;
        # overrides the struct-only SQL UDF spelling (registered later
        # in register_all, so this pandas form wins)
        return s.map(
            lambda v: to_wkt(parse_wkt(v)) if parse_wkt(v) else None
        )

    reg("st_astext", st_astext, "string")
    reg("st_aswkt", st_astext, "string")

    def st_x(s: pd.Series) -> pd.Series:
        def f(v):
            g = parse_wkt(v)
            return g.parts[0][0] if g and g.typ == "POINT" else None

        return s.map(f)

    def st_y(s: pd.Series) -> pd.Series:
        def f(v):
            g = parse_wkt(v)
            return g.parts[0][1] if g and g.typ == "POINT" else None

        return s.map(f)

    reg("st_x", st_x, "double")
    reg("st_y", st_y, "double")

    def st_contains(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([contains(parse_wkt(x), parse_wkt(y)) for x, y in zip(a, b)])

    reg("st_contains", st_contains, "boolean")

    def st_intersects(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([intersects(parse_wkt(x), parse_wkt(y)) for x, y in zip(a, b)])

    reg("st_intersects", st_intersects, "boolean")

    def st_disjoint(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            i = intersects(parse_wkt(x), parse_wkt(y))
            out.append(None if i is None else not i)
        return pd.Series(out)

    reg("st_disjoint", st_disjoint, "boolean")

    def st_touches(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series([touches(parse_wkt(x), parse_wkt(y)) for x, y in zip(a, b)])

    reg("st_touches", st_touches, "boolean")

    def st_area_m2(s: pd.Series) -> pd.Series:
        return s.map(lambda v: area_m2(parse_wkt(v)))

    reg("st_area_square_meters", st_area_m2, "double")

    def st_area_km2(s: pd.Series) -> pd.Series:
        def f(v):
            a = area_m2(parse_wkt(v))
            return None if a is None else a / 1e6

        return s.map(f)

    reg("st_area_square_km", st_area_km2, "double")

    def st_length(s: pd.Series) -> pd.Series:
        return s.map(lambda v: length_m(parse_wkt(v)))

    reg("st_length", st_length, "double")

    def st_distance(a: pd.Series, b: pd.Series) -> pd.Series:
        # S2 semantics: spherical min distance in meters, 0 on overlap
        # (functions_geo.cpp st_distance)
        return pd.Series(
            [distance_m(parse_wkt(x), parse_wkt(y)) for x, y in zip(a, b)]
        )

    reg("st_distance", st_distance, "double")

    def st_angle(a: pd.Series, b: pd.Series, c: pd.Series) -> pd.Series:
        def f(x, y, z):
            g1, g2, g3 = parse_wkt(x), parse_wkt(y), parse_wkt(z)
            if any(g is None or g.typ != "POINT" for g in (g1, g2, g3)):
                return None
            return _compute_angle(g1.parts[0], g2.parts[0], g3.parts[0])

        return pd.Series([f(x, y, z) for x, y, z in zip(a, b, c)])

    reg("st_angle", st_angle, "double")

    def st_azimuth(a: pd.Series, b: pd.Series) -> pd.Series:
        # reference ComputeAzimuth = ComputeAngle(north(0, 90), p1, p2)
        def f(x, y):
            g1, g2 = parse_wkt(x), parse_wkt(y)
            if g1 is None or g2 is None or g1.typ != "POINT" or g2.typ != "POINT":
                return None
            return _compute_angle((0.0, 90.0), g1.parts[0], g2.parts[0])

        return pd.Series([f(x, y) for x, y in zip(a, b)])

    reg("st_azimuth", st_azimuth, "double")

    def st_circle(x: pd.Series, y: pd.Series, r: pd.Series) -> pd.Series:
        return pd.Series(
            [
                to_wkt(Geom("CIRCLE", [(float(a), float(b))], float(c)))
                if a is not None and b is not None and c is not None
                else None
                for a, b, c in zip(x, y, r)
            ]
        )

    reg("st_circle", st_circle, "string")

    def st_geometryfromwkb(s: pd.Series) -> pd.Series:
        def f(v):
            try:
                raw = bytes.fromhex(v) if isinstance(v, str) else bytes(v)
                g = _wkb_decode(raw)
                return to_wkt(g) if g else None
            except (ValueError, TypeError):
                return None

        return s.map(f)

    reg("st_geometryfromwkb", st_geometryfromwkb, "string")
    reg("st_geomfromwkb", st_geometryfromwkb, "string")

    def st_asbinary(s: pd.Series) -> pd.Series:
        def f(v):
            g = parse_wkt(v)
            return _wkb_encode(g) if g else None

        return s.map(f)

    reg("st_asbinary", st_asbinary, "binary")

    # st_aswkt is the pandas st_astext alias registered above (handles
    # both the struct-point tier and WKT strings)
    return n


def register_helpers(spark: SparkSession) -> int:
    """Helpers the registry's SQL-UDF bodies reference at CREATE time."""

    def _wkt_num(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if v is None else _fmt_num(v))

    spark.udf.register("__wkt_num", pandas_udf(_wkt_num, "string"))
    return 1
