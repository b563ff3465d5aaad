"""Entity→geometry decode: the reference's 37 converters as ONE
Arrow-batched mapInArrow stage.

Reference dispatch table: postgis_entity_converter.py:29-70 (`to_db`
driver :72-110). Each `_cv_*` below reproduces the corresponding
`_convert_*` bit-exactly (same defaults, same missing-value behaviour,
same tessellation) but emits WKB instead of shapely WKT, plus the bbox
used by the area-selection predicate (area_selector.py:64-74 operates on
entity bounding boxes, not exact geometry).

Spark shape:  documents(doc_id, spans)
  → explode(spans)                      [JVM]
  → filter kind='media'                 [JVM]
  → mapInArrow(_decode_arrow_batches)   [one Arrow-batched Python stage]
  → entities(doc_id, span_offset, handle, layer, entity_type, name,
             geometry_wkb, geom_type, xmin, ymin, xmax, ymax,
             data_json, media_ref)

`data_json` is the canonical-JSON round-trip payload
{entity_type, name, handle, layer, attributes, geometries, extra_data} —
the analogue of the reference's JSONB `data` column
(postgis_entity_repository.py:238-243).
"""

from __future__ import annotations

import json
import math

import numpy as np
# the byte format of data_json is NOT contractual (only the reconstructed
# media_ref must byte-match the corpus canonical form — see
# operators/reconstruct.py), so orjson's float notation is harmless here
import orjson as _orjson
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..geometry import tessellate as tess
from ..geometry.wkb import (
    wkb_linestring,
    wkb_multipolygon,
    wkb_point,
    wkb_polygon,
)
from .arrow_batch import arrow_schema, bytes_string_array, from_rows, owned

# ---------------------------------------------------------------------------
# scalar converters (payload geometry dict -> (kind, coords, extra_updates))
# kind in {'point','line','poly','mpoly',None}
# ---------------------------------------------------------------------------


def _extract_point(p):
    """postgis_entity_converter.py:119-135 verbatim: list/tuple pad z=0,
    dict x/y/z keys, anything else → (0,0,0)."""
    if isinstance(p, (list, tuple)):
        if len(p) >= 3:
            return (float(p[0]), float(p[1]), float(p[2]))
        if len(p) == 2:
            return (float(p[0]), float(p[1]), 0.0)
    elif isinstance(p, dict):
        return (float(p.get("x", 0)), float(p.get("y", 0)), float(p.get("z", 0)))
    return (0.0, 0.0, 0.0)


class _Fail(Exception):
    pass


def _cv_point(g):
    loc = g.get("location")
    if not loc:
        raise _Fail("POINT: missing location")
    return "point", _extract_point(loc), {}


def _cv_line(g):
    s, e = g.get("start"), g.get("end")
    if not s or not e:
        raise _Fail("LINE: missing start or end point")
    return "line", [_extract_point(s), _extract_point(e)], {}


def _cv_ray(g, scale=10):
    s, u = g.get("start"), g.get("unit_vector")
    if s and u:
        sp = _extract_point(s)
        up = _extract_point(u)
        ep = (sp[0] + scale * up[0], sp[1] + scale * up[1], sp[2] + scale * up[2])
        return "line", [sp, ep], {"start": list(sp), "unit_vector": u}
    return None, None, {}


def _cv_xline(g):
    return _cv_ray(g, scale=1000)


def _cv_polyline(g):
    pts_data = g.get("points")
    if not pts_data:
        raise _Fail("POLYLINE: missing points")
    pts = [_extract_point(p) for p in pts_data]
    is_closed = g.get("is_closed", False)
    extra = {"points": [list(p) for p in pts], "is_closed": is_closed}
    if is_closed and len(pts) >= 3:
        return "poly", pts, extra
    return "line", pts, extra


def _cv_lwpolyline(g):
    # NB the reference quirk: xyseb 5-tuples go through _extract_point,
    # so the stored "z" is start_width (postgis_entity_converter.py:244).
    pts_data = g.get("points")
    if not pts_data:
        raise _Fail("LWPOLYLINE: missing points")
    pts = [_extract_point(p) for p in pts_data]
    is_closed = g.get("is_closed", False)
    elevation = g.get("elevation", 0)
    extra = {"points": [list(p) for p in pts], "is_closed": is_closed, "elevation": elevation}
    if is_closed and len(pts) >= 3:
        return "poly", pts, extra
    return "line", pts, extra


def _cv_circle(g):
    c, r = g.get("center"), g.get("radius")
    if not c or r is None:
        raise _Fail("CIRCLE: missing center or radius")
    cp = _extract_point(c)
    return "poly", tess.circle_points(cp[0], cp[1], cp[2], r), {"radius": r}


def _cv_arc(g):
    c, r = g.get("center"), g.get("radius")
    sa, ea = g.get("start_angle"), g.get("end_angle")
    if not c or r is None or sa is None or ea is None:
        raise _Fail("ARC: missing required parameters")
    cp = _extract_point(c)
    pts = tess.arc_points(cp[0], cp[1], cp[2], r, sa, ea)
    return "line", pts, {"radius": r, "start_angle": sa, "end_angle": ea}


def _cv_ellipse(g):
    c, ma = g.get("center"), g.get("major_axis")
    ratio = g.get("ratio", 1.0)
    sp = g.get("start_param", 0)
    ep = g.get("end_param", 2 * math.pi)
    if not c or not ma:
        raise _Fail("ELLIPSE: missing center or major_axis")
    cp = _extract_point(c)
    mv = _extract_point(ma)
    pts = tess.ellipse_points(cp[0], cp[1], cp[2], mv[0], mv[1], ratio, sp, ep)
    return "line", pts, {"ratio": ratio, "start_param": sp, "end_param": ep}


def _cv_spline(g):
    pts_data = g.get("points")
    if not pts_data or len(pts_data) < 2:
        raise _Fail("SPLINE: missing or insufficient points")
    pts = [_extract_point(p) for p in pts_data]
    return "line", pts, {"points": [list(p) for p in pts]}


def _cv_text(g):
    ins = g.get("insert")
    if not ins:
        raise _Fail("TEXT: missing insert point")
    return "point", _extract_point(ins), {
        "text": g.get("text", ""), "height": g.get("height", 0), "rotation": g.get("rotation", 0)}


def _cv_mtext(g):
    ins = g.get("insert")
    extra = {"text": g.get("text", ""), "height": g.get("height", 0), "rotation": g.get("rotation", 0)}
    if ins:
        return "point", _extract_point(ins), extra
    return None, None, extra


def _cv_attrib(g):
    ins = g.get("insert")
    extra = {"tag": g.get("tag", ""), "text": g.get("text", "")}
    if ins:
        return "point", _extract_point(ins), extra
    return None, None, extra


def _cv_3dface(g):
    v = [g.get(k) for k in ("vtx0", "vtx1", "vtx2", "vtx3")]
    if not all(v):
        raise _Fail("3DFACE: missing vertices")
    pts = [_extract_point(p) for p in v]
    if pts[0] == pts[3]:
        pts.pop()
    extra = {"vertices": [list(p) for p in pts]}
    if len(pts) >= 3:
        return "poly", pts, extra
    return None, None, extra


def _cv_hatch(g):
    boundaries = g.get("boundaries", [])
    pattern_name = g.get("pattern_name", "")
    solid_fill = g.get("solid_fill", False)
    if not boundaries:
        return None, None, {"pattern_name": pattern_name, "solid_fill": solid_fill}
    polys = []
    for b in boundaries:
        if isinstance(b, list) and len(b) >= 3:
            pts = [_extract_point(p) for p in b]
            if len(pts) >= 3:
                polys.append(pts)
    extra = {"pattern_name": pattern_name, "solid_fill": solid_fill, "boundary_count": len(boundaries)}
    if len(polys) == 0:
        return None, None, extra
    if len(polys) == 1:
        return "poly", polys[0], extra
    return "mpoly", polys, extra


def _cv_leader(g):
    vertices = g.get("vertices", [])
    text = g.get("text", "")
    if not vertices or len(vertices) < 2:
        return None, None, {"text": text}
    return "line", [_extract_point(v) for v in vertices], {"text": text}


def _cv_multileader(g):
    bp = g.get("base_point")
    extra = {
        "text": g.get("text", ""),
        "leader_lines": g.get("leader_lines", []),
        "leader_properties": g.get("leader_properties", []),
        "char_height": g.get("char_height"),
        "rotation": g.get("rotation"),
    }
    if bp:
        return "point", _extract_point(bp), extra
    return "point", (0.0, 0.0, 0.0), extra


def _cv_insert(g):
    ins = g.get("insert")
    name = g.get("name", "")
    if not ins:
        return None, None, {"block_name": name}
    extra = {
        "block_name": name,
        "xscale": g.get("xscale", 1.0),
        "yscale": g.get("yscale", 1.0),
        "zscale": g.get("zscale", 1.0),
        "rotation": g.get("rotation", 0),
    }
    return "point", _extract_point(ins), extra


def _cv_shape(g):
    ins = g.get("insert")
    extra = {"shape_name": g.get("name", "")}
    if ins:
        return "point", _extract_point(ins), extra
    return None, None, extra


def _cv_viewport(g):
    c = g.get("center")
    extra = {"width": g.get("width"), "height": g.get("height")}
    if c:
        return "point", _extract_point(c), extra
    return None, None, extra


def _cv_image(g):
    ins = g.get("insert")
    extra = {"u_pixel": g.get("u_pixel"), "v_pixel": g.get("v_pixel")}
    if ins:
        return "point", _extract_point(ins), extra
    return None, None, extra


def _cv_imagedef(g):
    return None, None, {"filename": g.get("filename", "")}


def _cv_helix(g):
    bp = g.get("base_point")
    radius = g.get("radius", 1.0)
    turns = g.get("turns", 1)
    height = g.get("height", 1.0)
    if not bp:
        return None, None, {}
    b = _extract_point(bp)
    pts = tess.helix_points(b[0], b[1], b[2], radius, turns, height)
    return "line", pts, {"radius": radius, "turns": turns, "height": height}


def _cv_vertex(g):
    loc = g.get("insert") or g.get("location")
    if loc:
        return "point", _extract_point(loc), {}
    return None, None, {}


def _cv_acis(g):
    return None, None, {"acis_data": g.get("acis_data")}


def _cv_mesh(g):
    return None, None, {"vertices": g.get("vertices", []), "faces": g.get("faces", [])}


def _cv_stub(g):
    return None, None, {}


# postgis_entity_converter.py:29-70
_CONVERTERS = {
    "3DFACE": _cv_3dface,
    "3DSOLID": _cv_acis,
    "ACAD_PROXY_ENTITY": _cv_stub,
    "ARC": _cv_arc,
    "ATTRIB": _cv_attrib,
    "BODY": _cv_acis,
    "CIRCLE": _cv_circle,
    "DIMENSION": _cv_stub,
    "ARC_DIMENSION": _cv_stub,
    "ELLIPSE": _cv_ellipse,
    "HATCH": _cv_hatch,
    "HELIX": _cv_helix,
    "IMAGE": _cv_image,
    "INSERT": _cv_insert,
    "LEADER": _cv_leader,
    "LINE": _cv_line,
    "LWPOLYLINE": _cv_lwpolyline,
    "MLINE": _cv_stub,
    "MESH": _cv_mesh,
    "MPOLYGON": _cv_stub,
    "MTEXT": _cv_mtext,
    "MULTILEADER": _cv_multileader,
    "POINT": _cv_point,
    "POLYLINE": _cv_polyline,
    "VERTEX": _cv_vertex,
    "POLYMESH": _cv_stub,
    "POLYFACE": _cv_stub,
    "RAY": _cv_ray,
    "REGION": _cv_acis,
    "SHAPE": _cv_shape,
    "SOLID": _cv_3dface,
    "SPLINE": _cv_spline,
    "SURFACE": _cv_stub,
    "TEXT": _cv_text,
    "TRACE": _cv_3dface,
    "UNDERLAY": _cv_stub,
    "VIEWPORT": _cv_viewport,
    "WIPEOUT": _cv_stub,
    "XLINE": _cv_xline,
    "IMAGEDEF": _cv_imagedef,
}


import struct as _struct

from ..geometry.wkb import _HDR_LINE as _HL, _HDR_POLY as _HP


def _encode(kind, coords):
    """-> (wkb bytes|None, geom_type str|None, bbox tuple|None)"""
    if kind is None:
        return None, None, None
    if kind == "point":
        x, y, z = coords
        return wkb_point(x, y, z), "POINT", (x, y, x, y)
    if kind in ("line", "poly"):
        if type(coords) is list and len(coords) <= 16:
            # small-geometry fast path (LINE/LWPOLYLINE/3DFACE/LEADER…):
            # a per-row np.asarray + two axis reductions cost ~2-3 µs
            # more than plain Python at these sizes. Bit-identical: the
            # floats are the same Python floats either way, struct.pack
            # of float64 == ndarray.tobytes, and min/max pick the same
            # values (NaN cannot appear: _extract_point floats come from
            # finite JSON literals; a JSON NaN fails float() upstream
            # and lands in the error channel).
            xs = [c[0] for c in coords]
            ys = [c[1] for c in coords]
            bbox = (min(xs), min(ys), max(xs), max(ys))
            if kind == "line":
                flat = [v for c in coords for v in c]
                return (_HL + _struct.pack("<I%dd" % (3 * len(coords)),
                                           len(coords), *flat),
                        "LINESTRING", bbox)
            ring = coords if coords[0] == coords[-1] else coords + [coords[0]]
            flat = [v for c in ring for v in c]
            return (_HP + _struct.pack("<II%dd" % (3 * len(ring)),
                                       1, len(ring), *flat),
                    "POLYGON", bbox)
        a = np.asarray(coords, dtype=np.float64)
        lo, hi = a.min(axis=0), a.max(axis=0)  # one reduction pair, not four
        bbox = (lo[0], lo[1], hi[0], hi[1])
        if kind == "line":
            return wkb_linestring(a), "LINESTRING", bbox
        return wkb_polygon(a), "POLYGON", bbox
    # mpoly: coords is a list of point-lists
    arrs = [np.asarray(p, dtype=np.float64) for p in coords]
    xs = np.concatenate([p[:, 0] for p in arrs])
    ys = np.concatenate([p[:, 1] for p in arrs])
    return wkb_multipolygon(arrs), "MULTIPOLYGON", (xs.min(), ys.min(), xs.max(), ys.max())


def _dumps(obj) -> str:
    try:
        return _orjson.dumps(obj, option=_orjson.OPT_SORT_KEYS).decode()
    except TypeError:  # exotic value types: defer to stdlib
        return json.dumps(obj, ensure_ascii=False, sort_keys=True,
                          separators=(",", ":"))


_loads = _orjson.loads


def convert_entity(payload):
    """One media payload -> dict of entity columns (None geometry on
    no-geometry types or converter failure; failure message in `error`).

    Mirrors PostGISEntityConverter.to_db (postgis_entity_converter.py:72-110):
    unsupported type → error; converter _Fail → error; extra_data =
    payload.extra_data ∪ converter updates (:137-142). A payload that is
    not a JSON object converts like unparseable JSON (UNKNOWN); one with
    a wrongly typed field gives an UNKNOWN row naming the failure.
    """
    return dict(zip(_REC_COLS, _convert_entity_rec(payload)))


# what an unparseable or non-object media_ref decodes as
_UNKNOWN = {"entity_type": "UNKNOWN"}


def _wrong_field_type(texts, objects):
    """Why the payload's fields cannot convert, or None: every text field
    must be a str or null (any other value would fail the whole Arrow
    batch at assembly) and every object field a dict (empty values were
    already replaced by {})."""
    for v in texts:
        if v is not None and type(v) is not str:
            return f"{type(v).__name__} in a text field"
    for v in objects:
        if type(v) is not dict:
            return f"{type(v).__name__} in an object field"
    return None


def _convert_entity_rec(payload) -> tuple:
    """convert_entity's hot-loop core: the same columns as a plain tuple
    in _REC_COLS order — the Arrow batch loops build one tuple per row
    instead of a 12-key dict plus a re-gather (measured ~10% of decode
    compute at 60k rows)."""
    if type(payload) is not dict:  # valid JSON, but not an object
        payload = _UNKNOWN
    etype = payload.get("entity_type", "UNKNOWN")
    name = payload.get("name", "")
    handle = payload.get("handle", "")
    layer = payload.get("layer", "")
    attrs = payload.get("attributes", {}) or {}
    geoms = payload.get("geometries", {}) or {}
    extra = payload.get("extra_data", {}) or {}
    if not (type(etype) is type(name) is type(handle) is type(layer) is str
            and type(attrs) is type(geoms) is type(extra) is dict):
        wrong = _wrong_field_type((etype, name, handle, layer), (attrs, geoms, extra))
        if wrong is not None:
            return _convert_entity_rec(_UNKNOWN)[:-1] + (f"malformed payload: {wrong}",)
    extra = dict(extra)
    cv = _CONVERTERS.get(etype)
    error = None
    kind = coords = None
    if cv is None:
        error = f"Unsupported entity type: {etype}"
    else:
        try:
            kind, coords, updates = cv(geoms)
            extra.update(updates)
        except _Fail as e:
            error = str(e)
        except Exception as e:  # malformed payload values (the reference's
            # to_db wraps converter exceptions in its Result error channel,
            # postgis_entity_converter.py:72-110 — one bad span must never
            # kill a 10^12-row job)
            kind = coords = None
            error = f"{etype}: {type(e).__name__}: {e}"
    wkb, gtype, bbox = _encode(kind, coords)
    data = {
        "entity_type": etype,
        "name": name,
        "handle": handle,
        "layer": layer,
        "attributes": attrs,
        "geometries": geoms,
        "extra_data": extra,
    }
    if bbox is None:
        bbox = (None, None, None, None)
    return (handle, layer, etype, name, wkb, gtype,
            bbox[0], bbox[1], bbox[2], bbox[3], _dumps(data), error)


ENTITY_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_offset", T.IntegerType()),
    T.StructField("handle", T.StringType()),
    T.StructField("layer", T.StringType()),
    T.StructField("entity_type", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("geometry_wkb", T.BinaryType()),
    T.StructField("geom_type", T.StringType()),
    T.StructField("xmin", T.DoubleType()),
    T.StructField("ymin", T.DoubleType()),
    T.StructField("xmax", T.DoubleType()),
    T.StructField("ymax", T.DoubleType()),
    T.StructField("data_json", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("error", T.StringType()),
])


# ENTITY_SCHEMA's order without doc_id, span_offset and media_ref, the
# columns the batch loop passes to from_rows whole
_REC_COLS = ("handle", "layer", "entity_type", "name", "geometry_wkb",
             "geom_type", "xmin", "ymin", "xmax", "ymax", "data_json", "error")

# schema variant without the second JSON copy: when the caller doesn't
# want media_ref, not emitting it saves ~40% of the Arrow return volume
# (dropping the column AFTER the UDF would still serialize it)
ENTITY_SCHEMA_NOREF = T.StructType(
    [f for f in ENTITY_SCHEMA.fields if f.name != "media_ref"])


def _decode_arrow_batches(batches, emit_media_ref: bool = True):
    """Per-payload conversion over pyarrow RecordBatches: rows enter and
    leave as Arrow, with no pandas block on either side of the boundary.
    A null, unparseable or non-object media_ref gives one UNKNOWN error
    row; no row can fail its batch."""
    schema = arrow_schema(ENTITY_SCHEMA if emit_media_ref else ENTITY_SCHEMA_NOREF)
    loads = _loads
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        idx = batch.schema.get_field_index
        # parse from BYTES (binary view of the string column): skips the
        # utf-8 → Python-str decode that to_pylist() on a string column
        # pays, and orjson parses bytes directly. to_pylist() COPIES into
        # Python bytes, so the media_ref output owns its buffers.
        refs = batch.column(idx("media_ref")).cast(pa.binary()).to_pylist()
        recs = []
        append = recs.append
        for i in range(n):
            try:
                payload = loads(refs[i])
            except (TypeError, ValueError):
                payload = _UNKNOWN
            append(_convert_entity_rec(payload))
        out = {"doc_id": owned(batch.column(idx("doc_id"))),
               "span_offset": owned(batch.column(idx("offset")))}
        if emit_media_ref:
            out["media_ref"] = bytes_string_array(refs)
        yield from_rows(schema, recs, **out)


def decode_documents(documents: DataFrame, keep_media_ref: bool = True) -> DataFrame:
    """documents(doc_id, spans) -> entities DataFrame (see module doc).

    The explode + filter stay JVM-side (whole-stage codegen); only the
    media spans cross into Python, in Arrow batches (mapInArrow).
    """
    spans = documents.select(
        "doc_id",
        F.explode("spans").alias("span"),
    ).select(
        "doc_id",
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
        F.col("span.kind").alias("kind"),
    ).filter(F.col("kind") == "media").drop("kind")
    schema = ENTITY_SCHEMA if keep_media_ref else ENTITY_SCHEMA_NOREF
    return spans.mapInArrow(
        lambda it: _decode_arrow_batches(it, emit_media_ref=keep_media_ref),
        schema=schema)


def text_spans(documents: DataFrame) -> DataFrame:
    """kind='text' spans: (doc_id, span_offset, text) — all JVM-side."""
    return documents.select(
        "doc_id", F.explode("spans").alias("span")
    ).filter(F.col("span.kind") == "text").select(
        "doc_id",
        F.col("span.offset").alias("span_offset"),
        F.col("span.text").alias("text"),
    )
