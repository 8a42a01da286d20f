"""Feature consolidation (A1-A3, reference map2db.py:747-812 +
1485-1510) as an order-insensitive keyed aggregate.

The reference streams tiles in reverse level order and upserts into
SQLite so that "the least simplified geometry wins" falls out of
ordering.  Here the same semantics are one keyed aggregate over
(ftype, fid) — a repartition on the key and a ``mapInPandas`` kernel
(see ``consolidate``) — which is what unlocks parallel execution:

- attributes + maxz come from the *highest* level sighting (argmax);
- geometry is the union of the fragments at that highest level;
- minz is the sighting minz at the *lowest* level;
- the reference's mid-stream ValueErrors become validation columns:
  ``violation`` is non-null where attribute equality across sightings
  (map2db.py:766-775, 786-791) or zoom-range continuity
  (map2db.py:792-802) fails, so bad input surfaces as data instead of
  killing the job.

One shuffle on (ftype, fid); the union kernel is commutative and
associative, so partial ordering of fragments is irrelevant
(normalize guarantees identical bytes for any combine order).
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd

from map2db_spark.geometry import wkb as gwkb
from map2db_spark.geometry.union import (
    FragmentOverlapError,
    union_lines,
    union_points,
    union_polygons,
)
from map2db_spark.sources.header import MapHeader

CONSOLIDATED_SCHEMA = (
    "ftype STRING, fid LONG, level INT, minz INT, maxz INT, layer INT, "
    "tags ARRAY<STRING>, vtags MAP<STRING,STRING>, geom BINARY, violation STRING"
)


def _vt_key(vtags) -> str:
    if vtags is None:
        return "{}"
    return json.dumps(dict(sorted(vtags.items())), ensure_ascii=False)


def _union_geoms(ftype: str, wkbs) -> tuple[bytes, str | None]:
    """Union fragment WKBs; returns (geom, violation).  Overlapping
    polygon fragments (outside the G5 disjoint-interior contract) are
    surfaced as a violation with the fragments kept un-dissolved —
    never a silently wrong union."""
    frags = [gwkb.decode(b)[1] for b in wkbs]
    if ftype == "point":
        return gwkb.encode_multipoint(union_points(frags)), None
    if ftype == "line":
        return gwkb.encode_multilinestring(union_lines(frags)), None
    try:
        # strict contract: tile-clipped fragments must have disjoint
        # interiors, so overlap here is corrupt data to SURFACE, not
        # silently dissolve (the operator API's default "overlay" mode
        # computes the general union for user-facing calls)
        return gwkb.encode_multipolygon(union_polygons(frags, on_overlap="raise")), None
    except FragmentOverlapError as exc:
        from map2db_spark.geometry.normalize import normalize_multipolygon

        kept = normalize_multipolygon([p for f in frags for p in f])
        return gwkb.encode_multipolygon(kept), f"union-overlap:{exc}"


def make_consolidate_kernel(header: MapHeader):
    """Returns consolidate_rows(rows) -> dict, closed over the subfile
    directory (level -> (subfile_idx, minzoom, maxzoom)).

    rows: list of row namedtuples/dicts for ONE (ftype, fid).  Built
    tuple-at-a-time (no per-group pandas frames): single-sighting
    features — the overwhelming majority of a real map — take the
    O(1) fast path."""
    subfile_by_level = {
        sf.level: (i, sf.minzoom, sf.maxzoom) for i, sf in enumerate(header.subfiles)
    }

    def consolidate_rows(rows) -> dict:
        first_row = rows[0]
        ftype = first_row.ftype
        fid = first_row.fid
        if len(rows) == 1:
            # fast path: nothing to union or validate against
            return {
                "ftype": ftype,
                "fid": fid,
                "level": int(first_row.level),
                "minz": int(first_row.minz),
                "maxz": int(first_row.maxz),
                "layer": int(first_row.layer),
                "tags": list(first_row.tags),
                "vtags": dict(first_row.vtags) if first_row.vtags is not None else {},
                "geom": first_row.geom,
                "violation": None,
            }

        violations: list[str] = []
        max_level = max(int(r.level) for r in rows)
        top = [r for r in rows if int(r.level) == max_level]

        # per-level attribute equality (reference map2db.py:766-775):
        # everything except geometry must match across tiles of a level;
        # across levels everything except geometry AND minz must match
        # (map2db.py:786-791; level/maxz differ per subfile by design).
        by_level: dict[int, list] = {}
        for r in rows:
            by_level.setdefault(int(r.level), []).append(r)
        for level, grp in by_level.items():
            keys = {
                (int(r.minz), int(r.layer), tuple(r.tags), _vt_key(r.vtags))
                for r in grp
            }
            if len(keys) > 1:
                violations.append(f"attr-mismatch@level={level}")
        cross = {(int(r.layer), tuple(r.tags), _vt_key(r.vtags)) for r in rows}
        if len(cross) > 1:
            violations.append("attr-mismatch-across-levels")

        # zoom continuity (map2db.py:792-802): the subfiles containing
        # this feature must be adjacent, and each higher subfile's minz
        # must be exactly lower.maxzoom + 1.
        levels = sorted(by_level)
        idxs = [subfile_by_level[lv][0] for lv in levels]
        if idxs != list(range(idxs[0], idxs[0] + len(idxs))):
            violations.append("zoom-gap:nonadjacent-subfiles")
        minz_by_level = {lv: min(int(r.minz) for r in grp)
                         for lv, grp in by_level.items()}
        for lo, hi in zip(levels, levels[1:]):
            lo_maxzoom = subfile_by_level[lo][2]
            if minz_by_level[hi] != lo_maxzoom + 1:
                violations.append(
                    f"zoom-discontinuity:{minz_by_level[hi]}!={lo_maxzoom + 1}"
                )

        if len(top) > 1:
            geom, union_violation = _union_geoms(ftype, [r.geom for r in top])
            if union_violation is not None:
                violations.append(union_violation)
        else:
            geom = top[0].geom
        first = top[0]
        return {
            "ftype": ftype,
            "fid": fid,
            "level": max_level,
            "minz": minz_by_level[levels[0]],
            "maxz": int(first.maxz),
            "layer": int(first.layer),
            "tags": list(first.tags),
            "vtags": dict(first.vtags) if first.vtags is not None else {},
            "geom": geom,
            "violation": "; ".join(violations) if violations else None,
        }

    return consolidate_rows


def consolidate_kernel(header: MapHeader, finish=None):
    """The ``mapInPandas`` kernel behind ``consolidate``: a task's
    sightings -> one row per (ftype, fid), with a pandas groupby inside
    the kernel.  ``finish`` (frame -> frame), when given, runs on the
    task's consolidated rows before they leave the task; the pipeline
    merges its lines there (operators/linemerge.merge_line_geoms).

    Memory: a task materializes its partition's sightings in pandas."""
    kernel_one = make_consolidate_kernel(header)

    out_cols = [
        "ftype", "fid", "level", "minz", "maxz", "layer", "tags", "vtags",
        "geom", "violation",
    ]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        # vectorized singleton fast path: on a real map the
        # overwhelming majority of features appear in exactly one
        # tile, and building a Python dict per row dominated the
        # kernel (measured ~6.5 s of a 7.9 s consolidate at 5.2M
        # features).  Detect group sizes vectorized and pass
        # singletons through as pandas column ops; only multi-
        # sighting groups take the per-row merge/validate loop.
        sizes = pdf.groupby(["ftype", "fid"], sort=False)["fid"].transform(
            "size"
        )
        single_mask = sizes.eq(1)
        singles = pdf.loc[single_mask, out_cols[:-1]].copy()
        if len(singles):
            vt = singles["vtags"]
            # Arrow map cells may arrive as dicts or as (k, v) tuple
            # lists depending on the conversion path; normalize to dict
            singles["vtags"] = vt.map(
                lambda m: m if isinstance(m, dict) else dict(m or [])
            )
            singles["tags"] = singles["tags"].map(
                lambda t: list(t) if t is not None else []
            )
            singles["violation"] = None
        multi = pdf.loc[~single_mask]
        out: list[dict] = []
        if len(multi):
            multi = multi.sort_values(["ftype", "fid"], kind="mergesort")
            run: list = []
            key = None
            for r in multi.itertuples(index=False):
                k = (r.ftype, r.fid)
                if k != key and run:
                    out.append(kernel_one(run))
                    run = []
                key = k
                run.append(r)
            if run:
                out.append(kernel_one(run))
        multi_out = pd.DataFrame(out, columns=out_cols)
        if len(singles) and len(multi_out):
            result = pd.concat([singles[out_cols], multi_out], ignore_index=True)
        elif len(singles):
            result = singles[out_cols]
        else:
            result = multi_out
        yield result if finish is None else finish(result)

    return kernel


def by_feature(features):
    """The one (ftype, fid) exchange consolidation runs above.

    The shuffle has an explicit count, spark.sql.shuffle.partitions
    capped at the cluster's default parallelism: an explicit count is
    a REPARTITION_BY_NUM shuffle, which AQE does not coalesce.  Without
    a count AQE folds a small shuffle (a few MB of multi-tile
    fragments) into ONE task, and the union is the CPU-heavy kernel:
    on the stitch-zoom benchmark that put 2.0 s of unions on one core
    of four.  The count is never above the one AQE starts from, and
    the cap keeps a session left at Spark's default of 200 at one
    task per core instead of 200 short Python tasks."""
    spark = features.sparkSession
    n = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )
    return features.where("fid IS NOT NULL").repartition(n, "ftype", "fid")


def consolidate(features, header: MapHeader):
    """dbl-map consolidation: features DF -> one row per (ftype, fid).

    Execution shape: hash-repartition on the key (``by_feature``), then
    ONE ``mapInPandas`` per partition (``consolidate_kernel``).  This is
    deliberately NOT ``groupBy().applyInPandas`` — that API pays
    per-group plan overhead (~ms), which at millions of small feature
    groups dwarfs the actual work; batching the groups through one
    Arrow stream makes the per-group cost microseconds.  Still exactly
    one shuffle on (ftype, fid).

    Returns the consolidated DataFrame with a ``violation`` column;
    callers filter ``violation IS NULL`` for good rows and surface the
    rest (the reference would have raised mid-run)."""
    return by_feature(features).mapInPandas(
        consolidate_kernel(header), schema=CONSOLIDATED_SCHEMA
    )


def assign_ids(features, spark=None):
    """Non-dbl path (A5, map2db.py:842-843, 1454): deterministic
    sequential ids per feature table in reference traversal order
    (subfile level desc, then row-major tile sweep, then intra-tile
    sequence).

    The reference's ids can have gaps where a feature was clipped away
    *after* its counter ticked; this renumbering is compact — a
    documented, permissible divergence (SURVEY §7 hard part 4).

    Scale note: row_number over a per-ftype window is a single
    reducer per ftype; for planet-scale non-dbl maps switch to the
    two-pass partition-offset assigner (same ordering, no global
    sort): see operators/ids.py.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("ftype").orderBy(
        F.desc("level"), "tile_y", "tile_x", "seq"
    )
    return features.where("fid IS NULL").withColumn(
        "fid", (F.row_number().over(w) - 1).cast("long")
    )

