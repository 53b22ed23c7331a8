"""Per-tile linestring merge — PostGIS ST_LineMerge / tippecanoe
``--coalesce`` semantics as a tile-group operator.

Cartographic tiles arrive with roads chopped into many short
linestring features (one per source segment); merging collinear-chain
segments that share endpoints into maximal polylines cuts feature
count and encoded bytes (every merged join deletes one MoveTo + one
feature header + one duplicated vertex) before the encode pass.

Semantics (the ST_LineMerge contract):
- parts join ONLY at nodes of endpoint-degree exactly 2 — junctions
  (degree >= 3) and dangles (degree 1) terminate chains;
- orientation flips as needed so chains read continuously;
- a set of parts forming a closed degree-2 cycle merges into one
  closed linestring;
- already-closed parts (first point == last point) never merge;
- merging never crosses the group key: callers put the tile key plus
  any property columns in ``keys``, so features with different
  attributes keep their identity (tippecanoe's rule that coalesce
  requires identical properties).

Spark shape: ONE groupBy shuffle on the caller's keys (for the
pre-encode features table that is the SAME (z,x,y,layer_name)
partitioning the encode consumes, so under an explicit repartition the
merge rides the encode's exchange). Per-task state is one tile group's
segment graph — bounded by exactly the feature count merging shrinks.
The chain walk is per-part Python over dictionary-sized endpoint
tables (parts per tile-group, not vertices; vertex arrays move only
through O(1) numpy concatenations per chain).

Determinism: chains emit ordered by the smallest input part ordinal
they contain; open chains start from the terminal end of that lowest
part, cycles start at that part's stored orientation. Output rows
carry min(feature_ordinal) / min non-null feature_id of the merged
features, so re-running the job reproduces identical tiles.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..mvt.geometry import (
    GEOM_LINESTRING, GEOM_POINT, GEOM_POLYGON, GeometryError)

__all__ = ["merge_group_parts", "merge_lines_cmds"]


def _pack(pts: np.ndarray) -> int:
    """Endpoint coordinate -> hashable node key (exact integers)."""
    return (int(pts[0]), int(pts[1]))


def merge_group_parts(parts: list[np.ndarray]) -> list[list[int]]:
    """Core chain walk over one group's line parts.

    ``parts``: list of (n_i, 2) integer arrays (each a polyline).
    Returns the merged chains as lists of SIGNED 1-based part slots:
    +k = part k-1 forward, -k = part k-1 reversed — the caller
    materializes coordinates. Degenerate (<2 point) and closed parts
    each come back as their own singleton chain.
    """
    n = len(parts)
    open_idx: list[int] = []
    singleton: list[int] = []
    for i, p in enumerate(parts):
        if len(p) < 2 or _pack(p[0]) == _pack(p[-1]):
            singleton.append(i)
        else:
            open_idx.append(i)

    # node -> incident (part, end) list; degree counts part-ENDS
    incident: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for i in open_idx:
        p = parts[i]
        for end, pt in ((0, p[0]), (1, p[-1])):
            incident.setdefault(_pack(pt), []).append((i, end))

    used = np.zeros(n, dtype=bool)
    chains: list[list[int]] = []

    def walk(start_part: int, start_end: int) -> list[int]:
        """Extend from start_part, LEAVING via the end opposite
        start_end, through degree-2 nodes until a junction/dangle."""
        chain = [start_part + 1 if start_end == 0 else -(start_part + 1)]
        used[start_part] = True
        cur_part, cur_out = start_part, 1 - start_end
        while True:
            p = parts[cur_part]
            node = _pack(p[-1] if cur_out == 1 else p[0])
            inc = incident[node]
            if len(inc) != 2:
                return chain  # junction or dangle terminates
            (a_part, a_end), (b_part, b_end) = inc
            nxt_part, nxt_end = (b_part, b_end) \
                if a_part == cur_part and a_end == cur_out else (a_part, a_end)
            if used[nxt_part]:
                return chain  # closed the loop (cycle case)
            used[nxt_part] = True
            chain.append(nxt_part + 1 if nxt_end == 0 else -(nxt_part + 1))
            cur_part, cur_out = nxt_part, 1 - nxt_end

    # pass 1: open chains — start at every terminal (non-degree-2) end,
    # ascending part order for determinism
    for i in open_idx:
        if used[i]:
            continue
        p = parts[i]
        start_end = None
        for end, pt in ((0, p[0]), (1, p[-1])):
            if len(incident[_pack(pt)]) != 2:
                start_end = end
                break
        if start_end is not None:
            chains.append(walk(i, start_end))

    # pass 2: remaining parts sit on pure degree-2 cycles
    for i in open_idx:
        if not used[i]:
            chains.append(walk(i, 0))

    for i in singleton:
        chains.append([i + 1])

    # deterministic emission order: by smallest part index in the chain
    chains.sort(key=lambda ch: min(abs(s) for s in ch))
    return chains


def _materialize(parts: list[np.ndarray],
                 chains: list[list[int]]) -> list[np.ndarray]:
    out = []
    for ch in chains:
        segs = []
        for k, slot in enumerate(ch):
            p = parts[abs(slot) - 1]
            if slot < 0:
                p = p[::-1]
            segs.append(p if k == 0 else p[1:])  # drop shared vertex
        out.append(np.concatenate(segs) if len(segs) > 1 else segs[0])
    return out


def _check_accumulate(accumulate, cols, keys) -> dict:
    """Validate an --accumulate-attribute spec driver-side."""
    acc = dict(accumulate or {})
    core = {"feature_ordinal", "feature_id", "geom_type", "parts"}
    for col, how in acc.items():
        if how not in ("sum", "min", "max", "count"):
            raise ValueError(f"accumulate op must be sum/min/max/count,"
                             f" got {how!r} for {col!r}")
        if col not in cols:
            raise ValueError(f"accumulate column {col!r} not in input")
        if col in keys or col in core:
            raise ValueError(f"cannot accumulate key/core column {col!r}")
    return acc


def _accumulated(pdf, acc: dict) -> dict:
    out = {}
    for col, how in acc.items():
        s = pdf[col]
        out[col] = len(pdf) if how == "count" else \
            s.sum() if how == "sum" else \
            s.min() if how == "min" else s.max()
    return out


def _merge_group_rows(pdf: "pd.DataFrame", keys: Sequence[str],
                      passthrough: Sequence[str], acc: dict) -> list[dict]:
    """Shared group kernel body: one tile-group's exploded part rows
    -> output row dicts carrying _cx/_cy (lists of int64 coordinate
    arrays; None mirrors a null input parts cell).  Linestring parts
    merge into one MultiLineString row; other geometries pass through
    per feature.  A null part or coordinate raises the GeometryError
    the cmds pass raises for it."""
    if pdf["_bad"].any():
        raise GeometryError("null part or coordinate in parts")
    pdf = pdf.sort_values(["feature_ordinal", "_pos"], kind="stable")
    gt = pdf["geom_type"].to_numpy()
    out_rows: list[dict] = []
    lp = pdf[(gt == GEOM_LINESTRING) & pdf["_pos"].notna().to_numpy()]
    if len(lp):
        parts: list[np.ndarray] = [
            np.stack((np.asarray(xs_, np.int64),
                      np.asarray(ys_, np.int64)), axis=1)
            for xs_, ys_ in zip(lp["_xs"], lp["_ys"])]
        chains = merge_group_parts(parts)
        merged_arr = _materialize(parts, chains)
        per_feat = lp.drop_duplicates(subset=["feature_ordinal"])
        ids = per_feat["feature_id"]
        fid = int(ids.dropna().min()) if ids.notna().any() else None
        row = {k: lp.iloc[0][k] for k in keys}
        row["feature_ordinal"] = lp["feature_ordinal"].min()
        row["feature_id"] = fid
        row["geom_type"] = GEOM_LINESTRING
        row["_cx"] = [ch[:, 0] for ch in merged_arr]
        row["_cy"] = [ch[:, 1] for ch in merged_arr]
        row.update(_accumulated(per_feat, acc))
        for c in passthrough:
            if c not in row:
                row[c] = lp.iloc[0][c]
        out_rows.append(row)
    others = pdf[gt != GEOM_LINESTRING]
    for _ordn, gg in others.groupby("feature_ordinal", sort=True):
        row = {c: gg.iloc[0][c] for c in passthrough}
        if bool(gg["_pnull"].iloc[0]):
            row["_cx"] = None
            row["_cy"] = None
        elif gg["_pos"].isna().all():
            row["_cx"] = []
            row["_cy"] = []
        else:
            row["_cx"] = [np.asarray(a, np.int64) for a in gg["_xs"]]
            row["_cy"] = [np.asarray(a, np.int64) for a in gg["_ys"]]
        out_rows.append(row)
    return out_rows


def _explode_parts(features: DataFrame, passthrough: Sequence[str]
                   ) -> DataFrame:
    """Shared pre-kernel shape: one part per row as two flat long
    arrays (_xs, _ys) + _pos/_pnull, and _bad
    flagging a null part or a null point/coordinate inside one."""
    return (features
            .where(F.col("geom_type").isNotNull())
            .select(*passthrough,
                    F.col("parts").isNull().alias("_pnull"),
                    F.posexplode_outer("parts").alias("_pos", "_part"))
            .withColumn("_xs", F.transform("_part", lambda p: p["x"]))
            .withColumn("_ys", F.transform("_part", lambda p: p["y"]))
            .withColumn("_bad", F.col("_pos").isNotNull() & F.coalesce(
                F.exists("_part", lambda p: p.isNull() | p["x"].isNull()
                         | p["y"].isNull()), F.col("_part").isNull()))
            .drop("_part"))


def merge_lines_cmds(features: DataFrame,
                     keys: Sequence[str] = ("z", "x", "y", "layer_name"),
                     accumulate: dict | None = None) -> DataFrame:
    """``cmds_from_parts(merge_lines(features))`` (the unfused form,
    tests/scalar_reference.py) fused into the ONE
    merge kernel: each output row's chains feed the shared
    ``geomops._cmds_group`` encoder in-process, so the merged parts
    never re-cross the Arrow boundary through a second Python stage
    (and the JVM zip_with parts rebuild disappears).  Output schema =
    input minus ``parts`` plus ``geometry array<bigint>`` — exactly
    the cmds_from_parts contract; byte-identity with the unfused
    composition is pinned in tests/test_linemerge.py.  Error
    semantics match: a no-parts feature raises the same
    GeometryError the downstream cmds pass would have raised, and a
    geom_type outside POINT/LINESTRING/POLYGON gets the same empty
    geometry."""
    from .geomops import _cmds_group

    keys = list(keys)
    cols = [c for c in features.columns]
    acc = _check_accumulate(accumulate, cols, keys)
    passthrough = [c for c in cols if c != "parts"]
    ex = _explode_parts(features, passthrough)
    kernel_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in features.schema if f.name != "parts"]
        + ["geometry array<bigint>"])
    out_cols = passthrough + ["geometry"]

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out_rows = _merge_group_rows(pdf, keys, passthrough, acc)
        for row in out_rows:
            cx = row.pop("_cx")
            cy = row.pop("_cy")
            gtype = int(row["geom_type"])
            if gtype not in (GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON):
                row["geometry"] = np.zeros(0, np.int64)
                continue
            if not cx:  # None or empty: cmds_from_parts raises too
                raise GeometryError("feature with no parts")
            xf = np.concatenate(cx)
            yf = np.concatenate(cy)
            o2 = np.zeros(len(cx) + 1, np.int64)
            np.cumsum([len(a) for a in cx], out=o2[1:])
            o1 = np.array([0, len(cx)], np.int64)
            flat, _ = _cmds_group(xf, yf, o1, o2,
                                  np.zeros(1, np.int64), gtype)
            row["geometry"] = flat
        return pd.DataFrame(out_rows, columns=out_cols)

    return ex.groupBy(*keys).applyInPandas(fn, schema=kernel_schema)
