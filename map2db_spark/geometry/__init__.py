"""Geometry kernel for the engine.

The reference delegates all geometry to shapely/GEOS (map2db.py:70-87).
This container has no GEOS, so the kernel is implemented directly:
WKB codec, box clipping (Liang-Barsky for lines, Sutherland-Hodgman
for rings), canonical normalization, validity repair, fragment union,
and line merge, all on the microdegree grid whose exact predicates
live in exact.py.  The semantics replicated are exactly the ones the
reference relies on (clip-to-tile-box with microdegree grid snap,
covers short-circuit, union of tile-clipped fragments, endpoint-stitch
line merge) — not general computational geometry.
"""
