"""Row ⇄ kernel-feature serialization.

A vt-feature is stored as one DataFrame row in SoA form — all rings
concatenated into one flat stride-3 ``coords`` array plus per-ring
length/metric arrays — the same columnar layout the reference uses
in-memory (flat JS arrays, /root/reference/src/convert.js:100) and the
layout Arrow transfers zero-copy into numpy inside pandas UDFs.

Ordering: ``ord_path`` is a lexicographic sort key
``[world, input_ordinal, convert_ordinal, slice indices…]`` that
reproduces the reference's insertion order (wrap concat order + clip
slice explosion, SURVEY.md §2.5/§2.6) without relying on any Spark
row order.
"""

from __future__ import annotations

import json

from .kernel.fastjson import dumps as _jdumps, loads as _jloads
import math

import numpy as np
from pyspark.sql import types as T

from .kernel.feature import Ring, VTFeature

FEATURE_FIELDS = [
    T.StructField("ord_path", T.ArrayType(T.LongType()), False),
    T.StructField("fid_json", T.StringType(), True),
    T.StructField("tags_json", T.StringType(), True),
    T.StructField("gtype", T.StringType(), False),
    T.StructField("coords", T.ArrayType(T.DoubleType()), False),
    T.StructField("ring_lens", T.ArrayType(T.IntegerType()), False),
    T.StructField("poly_lens", T.ArrayType(T.IntegerType()), True),
    T.StructField("ring_size", T.ArrayType(T.DoubleType()), False),
    T.StructField("ring_start", T.ArrayType(T.DoubleType()), False),
    T.StructField("ring_end", T.ArrayType(T.DoubleType()), False),
    T.StructField("minx", T.DoubleType(), False),
    T.StructField("miny", T.DoubleType(), False),
    T.StructField("maxx", T.DoubleType(), False),
    T.StructField("maxy", T.DoubleType(), False),
]

FEATURE_SCHEMA = T.StructType(FEATURE_FIELDS)

FEATURE_COLUMNS = [f.name for f in FEATURE_FIELDS]
TILED_COLUMNS = ["z", "x", "y", *FEATURE_COLUMNS]

_NAN = float("nan")


def _metric(v):
    return _NAN if v is None else float(v)


def _unmetric(v):
    return None if (v is None or math.isnan(v)) else float(v)


def feature_to_record(ord_path, f: VTFeature) -> dict:
    """Flatten a kernel feature into a column dict."""
    rings = list(f.rings())
    coords = (np.concatenate([r.xyz for r in rings])
              if rings else np.empty(0))
    rec = {
        "ord_path": [int(v) for v in ord_path],
        "fid_json": None if f.id is None else _jdumps(f.id),
        "tags_json": None if f.tags is None else _jdumps(f.tags),
        "gtype": f.type,
        "coords": coords,
        "ring_lens": np.asarray([len(r.xyz) for r in rings], dtype=np.int32),
        "poly_lens": (np.asarray([len(p) for p in f.geometry], dtype=np.int32)
                      if f.type == "MultiPolygon" else None),
        "ring_size": np.asarray([_metric(r.size) for r in rings]),
        "ring_start": np.asarray([_metric(r.start) for r in rings]),
        "ring_end": np.asarray([_metric(r.end) for r in rings]),
        "minx": f.minx, "miny": f.miny, "maxx": f.maxx, "maxy": f.maxy,
    }
    return rec


def record_to_feature(rec) -> tuple[tuple, VTFeature]:
    """Rebuild a kernel feature from a row/record mapping."""
    coords = np.asarray(rec["coords"], dtype=np.float64)
    ring_lens = np.asarray(rec["ring_lens"], dtype=np.int64)
    offs = np.concatenate(([0], np.cumsum(ring_lens)))
    sizes = np.asarray(rec["ring_size"], dtype=np.float64)
    starts = np.asarray(rec["ring_start"], dtype=np.float64)
    ends = np.asarray(rec["ring_end"], dtype=np.float64)
    rings = [
        Ring(coords[offs[i]:offs[i + 1]],
             size=_unmetric(sizes[i]),
             start=_unmetric(starts[i]),
             end=_unmetric(ends[i]))
        for i in range(len(ring_lens))
    ]
    gtype = rec["gtype"]
    if gtype in ("Point", "MultiPoint", "LineString"):
        geometry = rings[0] if rings else Ring(np.empty(0))
    elif gtype in ("MultiLineString", "Polygon"):
        geometry = rings
    else:  # MultiPolygon
        poly_lens = rec["poly_lens"]
        geometry = []
        at = 0
        for n in poly_lens:
            geometry.append(rings[at:at + int(n)])
            at += int(n)

    fid_json = rec["fid_json"]
    tags_json = rec["tags_json"]
    f = VTFeature(
        id=None if fid_json is None else _jloads(fid_json),
        type=gtype,
        geometry=geometry,
        tags=None if tags_json is None else _jloads(tags_json),
        minx=float(rec["minx"]), miny=float(rec["miny"]),
        maxx=float(rec["maxx"]), maxy=float(rec["maxy"]),
    )
    return tuple(rec["ord_path"]), f
