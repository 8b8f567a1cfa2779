"""Geofabrik `.poly` boundary file parser (SURVEY §2.1 S6).

Reference: osmh.py:61-110 — reads a .poly file, builds POLYGON/MULTIPOLYGON
WKT, country name = filename minus '.poly', `str.capitalize()`d, upserted on
name_en. The reference's line parser is quirky: it detects coordinate lines
as "splits into exactly 7 fields on single spaces" (geofabrik files indent
with 3 spaces) and section headers as bare increasing integers; hole
sections ('!N' headers) are NOT recognized, so hole coordinates silently
merge into the preceding outer ring — a bug we do not reproduce. This
parser accepts the same files, handles holes correctly (even-odd rings in
the PIP kernel), and keeps the reference's naming + upsert semantics.

Small data → parsed driver-side, then broadcast via geo.pip.PolygonIndex.
"""

from __future__ import annotations

import os


def parse_poly(text: str) -> list[list[list[list[float]]]]:
    """.poly text → list of polygons; polygon = [outer_ring, hole_ring...];
    ring = [[lon, lat], ...] (closed implicitly)."""
    lines = [l.strip() for l in text.splitlines()]
    polygons: list[list[list[list[float]]]] = []
    ring: list[list[float]] | None = None
    is_hole = False
    # first line is the region name; sections until a final 'END'
    for line in lines[1:]:
        if not line:
            continue
        if line == "END":
            # empty sections (header immediately followed by END) are
            # silently dropped — real geofabrik files never carry them but
            # hand-edited ones do, and an empty ring would poison the index
            if ring:
                if ring[0] != ring[-1]:
                    ring.append(list(ring[0]))
                if is_hole and polygons:
                    polygons[-1].append(ring)
                else:
                    polygons.append([ring])
            ring = None
            continue
        parts = line.split()
        if len(parts) == 2:
            if ring is None:  # tolerate header-less sections
                ring, is_hole = [], False
            ring.append([float(parts[0]), float(parts[1])])
        else:
            # section header: 'N' = outer ring of a new polygon, '!N' = hole
            is_hole = line.startswith("!")
            ring = []
    return polygons


def country_name_from_path(path: str) -> str:
    """reference osmh.py:97: filename minus '.poly', str.capitalize()."""
    base = os.path.basename(path)
    if base.endswith(".poly"):
        base = base[: -len(".poly")]
    return base.capitalize()


def boundary_row_from_poly(path: str, text: str, priority: bool = False) -> dict:
    """One boundaries-table row (schemas.BOUNDARIES shape) from a .poly file."""
    return {
        "name_en": country_name_from_path(path),
        "admin_level": 2,
        "tags": {},
        "polygons": parse_poly(text),
        "priority": priority,
    }
