"""INSERT virtual-entity expansion (operators/insert_expand.py) — the
ezdxf-Frontend side of C14: block contents placed into world coordinates
through the insert transform (reference dxf_reader.py:369-424 serializes
the closure; :724-750 hands previews to the Frontend, which explodes
INSERTs into transformed virtual entities)."""

import json
import math

import pytest

from dxf_postgis_converter_spark.functions.decode import convert_entity
from dxf_postgis_converter_spark.geometry.wkb import parse_wkb
from dxf_postgis_converter_spark.operators.insert_expand import (
    expand_inserts,
    expand_payload,
)


def _payload(block_entities, insert=(0.0, 0.0, 0.0), xscale=1.0,
             yscale=1.0, zscale=1.0, rotation=0.0, attrs=None,
             layer="L0"):
    return {
        "entity_type": "INSERT", "name": "", "handle": "A1",
        "layer": layer,
        "attributes": attrs or {"color": 3, "linetype": "DASHED"},
        "geometries": {"insert": list(insert), "name": "BLK",
                       "xscale": xscale, "yscale": yscale,
                       "zscale": zscale, "rotation": rotation},
        "extra_data": {"block_name": "BLK",
                       "block_entities": block_entities},
    }


def _be(dxftype, geometries, attributes=None, **extra):
    d = {"dxftype": dxftype, "geometries": geometries,
         "attributes": attributes or {}}
    d.update(extra)
    return d


def _rec(recs, i=0):
    (path, depth, etype, layer, wkb, gtype,
     xmin, ymin, xmax, ymax, dj, err) = recs[i]
    return dict(path=path, depth=depth, etype=etype, layer=layer,
                wkb=wkb, gtype=gtype, bbox=(xmin, ymin, xmax, ymax),
                data=json.loads(dj), err=err)


def test_identity_insert_reproduces_block_geometry_bit_exact():
    """Insert at origin, unit scale, no rotation: the virtual entity's
    WKB equals converting the block entity directly."""
    line = _be("LINE", {"start": [1.0, 2.0, 3.0], "end": [4.0, 5.0, 6.0]})
    recs = expand_payload(_payload([line]))
    assert len(recs) == 1
    r = _rec(recs)
    direct = convert_entity({"entity_type": "LINE", "name": "", "handle": "",
                             "layer": "", "attributes": {},
                             "geometries": line["geometries"],
                             "extra_data": {}})
    assert r["wkb"] == direct["geometry_wkb"] and r["gtype"] == "LINESTRING"
    assert r["err"] is None and r["depth"] == 1 and r["path"] == "0"


def test_translate_rotate_scale_point():
    """POINT (1,0,2) through scale(2,3,4) → rot 90° → translate
    (10,20,5): x' = 10 + cos90·2·1 − sin90·3·0 = 10; y' = 20 + sin90·2·1
    = 22; z' = 5 + 4·2 = 13."""
    recs = expand_payload(_payload(
        [_be("POINT", {"location": [1.0, 0.0, 2.0]})],
        insert=(10.0, 20.0, 5.0), xscale=2.0, yscale=3.0, zscale=4.0,
        rotation=90.0))
    x, y, z = parse_wkb(_rec(recs)["wkb"])[1][0]
    assert abs(x - 10.0) < 1e-9 and abs(y - 22.0) < 1e-9 \
        and abs(z - 13.0) < 1e-9


def test_nested_insert_composes_parent_then_child():
    """Child INSERT at (5,0) holds POINT (1,0); parent insert at (10,0)
    rotated 90°: child-local (1,0) → parent coords (6,0) → world
    (10 + cos90·6, 0 + sin90·6) = (10, 6)."""
    child = _be("INSERT", {"insert": [5.0, 0.0, 0.0], "name": "SUB"},
                block_name="SUB",
                block_entities=[_be("POINT", {"location": [1.0, 0.0, 0.0]})])
    recs = expand_payload(_payload([child], insert=(10.0, 0.0, 0.0),
                                   rotation=90.0))
    assert len(recs) == 1  # the nested INSERT itself draws nothing
    r = _rec(recs)
    assert r["depth"] == 2 and r["path"] == "0/0"
    x, y, _ = parse_wkb(r["wkb"])[1][0]
    assert abs(x - 10.0) < 1e-9 and abs(y - 6.0) < 1e-9


def test_anisotropic_scale_rotation_on_ring():
    """A unit square under yscale=2, rotation=90° lands rotated with the
    scaled extent: bbox (−2,0)–(0,1)."""
    sq = [[0.0, 0.0, 0.0], [1.0, 0.0, 0.0], [1.0, 1.0, 0.0],
          [0.0, 1.0, 0.0]]
    recs = expand_payload(_payload(
        [_be("HATCH", {"boundaries": [sq], "pattern_name": "SOLID",
                       "solid_fill": True})],
        yscale=2.0, rotation=90.0))
    r = _rec(recs)
    assert r["gtype"] == "POLYGON"
    xmin, ymin, xmax, ymax = r["bbox"]
    assert abs(xmin + 2.0) < 1e-9 and abs(ymin) < 1e-9
    assert abs(xmax) < 1e-9 and abs(ymax - 1.0) < 1e-9


def test_byblock_color_and_linetype_inherit_per_level():
    """ACI 0 / linetype BYBLOCK resolve against the CONTAINING insert at
    each nesting level (ezdxf Frontend rule)."""
    inner_pt = _be("POINT", {"location": [0.0, 0.0, 0.0]},
                   {"color": 0, "linetype": "BYBLOCK"})
    child = _be("INSERT", {"insert": [0.0, 0.0, 0.0], "name": "SUB"},
                {"color": 7, "linetype": "DOT"},
                block_name="SUB", block_entities=[inner_pt])
    direct_pt = _be("POINT", {"location": [1.0, 0.0, 0.0]},
                    {"color": 0, "linetype": "BYBLOCK"})
    recs = expand_payload(_payload(
        [child, direct_pt], attrs={"color": 3, "linetype": "DASHED"}))
    by_path = {_rec(recs, i)["path"]: _rec(recs, i) for i in range(len(recs))}
    # nested point inherits from the CHILD insert (color 7/DOT), whose own
    # attributes are concrete so nothing cascades from the root
    nested = by_path["0/0"]["data"]["attributes"]
    assert nested["color"] == 7 and nested["linetype"] == "DOT"
    # direct block member inherits from the root insert
    direct = by_path["1"]["data"]["attributes"]
    assert direct["color"] == 3 and direct["linetype"] == "DASHED"


def test_text_rotation_accumulates():
    txt = _be("TEXT", {"insert": [0.0, 0.0, 0.0], "text": "hi",
                       "height": 2.0, "rotation": 15.0})
    recs = expand_payload(_payload([txt], rotation=30.0))
    assert abs(_rec(recs)["data"]["extra_data"]["rotation"] - 45.0) < 1e-9


def test_error_containment_and_layer_fallback():
    """A malformed block entity yields an error record; siblings decode;
    a block entity without its own layer falls back to the insert's."""
    bad = _be("CIRCLE", {"center": "not-a-point", "radius": "x"})
    ok = _be("LINE", {"start": [0.0, 0.0, 0.0], "end": [1.0, 1.0, 0.0]})
    recs = expand_payload(_payload([bad, ok], layer="Walls"))
    r_bad, r_ok = _rec(recs, 0), _rec(recs, 1)
    assert r_bad["err"] and r_bad["wkb"] is None
    assert r_ok["err"] is None and r_ok["layer"] == "Walls"


def test_max_depth_bounds_expansion():
    leaf = _be("POINT", {"location": [0.0, 0.0, 0.0]})
    nest = leaf
    for _ in range(5):
        nest = _be("INSERT", {"insert": [0.0, 0.0, 0.0], "name": "N"},
                   block_name="N", block_entities=[nest])
    assert len(expand_payload(_payload([nest]))) == 1
    # depth-trimmed content is NOT silently dropped (r8, ADVICE r7): the
    # bound leaves exactly one ERROR record naming the trimmed path
    trimmed = expand_payload(_payload([nest]), max_depth=3)
    assert len(trimmed) == 1
    rec = trimmed[0]
    assert rec[2] == "INSERT" and rec[4] is None  # no geometry
    assert "max_depth 3 exceeded" in rec[-1]


def test_expand_inserts_spark_no_shuffle(spark):
    """The Spark wrapper: INSERT rows expand, non-INSERT rows are
    ignored, and the plan has no Exchange (single mapInArrow stage)."""
    pay = _payload([
        _be("LINE", {"start": [0.0, 0.0, 0.0], "end": [1.0, 0.0, 0.0]}),
        _be("POINT", {"location": [2.0, 2.0, 0.0]}),
    ], insert=(100.0, 0.0, 0.0))
    rows = [
        ("d1", 0, "A1", json.dumps(pay), "INSERT"),
        ("d1", 1, "A2", json.dumps({"entity_type": "LINE"}), "LINE"),
        ("d2", 0, "A3", json.dumps(_payload([]) ), "INSERT"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, span_offset int, handle string, "
              "data_json string, entity_type string")
    out = expand_inserts(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and plan.count("MapInArrow") == 1
    got = out.collect()
    assert len(got) == 2 and {r.insert_handle for r in got} == {"A1"}
    line = [r for r in got if r.entity_type == "LINE"][0]
    assert line.xmin == 100.0 and line.xmax == 101.0
    assert line.doc_id == "d1" and line.depth == 1


def test_expand_real_ingest_chain(spark):
    """End-to-end through the pure span builder: the test_dxf_parser
    BLOCK_DEFS graph (BLK → LINE + INSERT(SUB) → CIRCLE + INSERT(LOOP) →
    INSERT(SUB), a cycle the ingest guard cuts) expands to exactly
    LINE@1 + CIRCLE@2 with zero errors."""
    from dxf_postgis_converter_spark.sources.dxf_files import (
        spans_from_entity_snapshots,
    )
    from tests.test_dxf_parser import BLOCK_DEFS, STYLES, _tuple

    spans = spans_from_entity_snapshots(
        [_tuple("INSERT", {"insert": [10.0, 0.0, 0.0], "name": "BLK"},
                "F1", "0")], STYLES, BLOCK_DEFS)
    df = spark.createDataFrame(
        [("doc", 0, "F1", spans[0]["media_ref"], "INSERT")],
        "doc_id string, span_offset int, handle string, "
        "data_json string, entity_type string")
    got = expand_inserts(df).collect()
    by_type = {r.entity_type: r for r in sorted(got, key=lambda r: r.depth)}
    assert set(by_type) == {"LINE", "CIRCLE"}
    assert [r.error for r in got] == [None, None]
    assert by_type["LINE"].depth == 1 and by_type["CIRCLE"].depth == 2
    # BLK's LINE (0,0)→(1,0) translated by the insert point (10,0)
    assert by_type["LINE"].xmin == 10.0 and by_type["LINE"].xmax == 11.0
    # SUB's CIRCLE: center (0.5,0.5) + (10,0), r=0.1 → bbox x 10.4..10.6
    # (1e-4 tolerance: the 100-point tessellation doesn't sample π exactly)
    assert abs(by_type["CIRCLE"].xmin - 10.4) < 1e-4
    assert abs(by_type["CIRCLE"].xmax - 10.6) < 1e-4


def test_expansion_composes_with_svg_previews(spark):
    """Virtual entities union straight into the preview source (same
    doc_id/geometry_wkb/data_json contract), so a preview of
    entities ∪ expand_inserts(entities) draws block contents — what the
    ezdxf Frontend shows — without any svg-side coupling."""
    from dxf_postgis_converter_spark.operators.svg import svg_previews

    pay = _payload(
        [_be("LINE", {"start": [0.0, 0.0, 0.0], "end": [1.0, 0.0, 0.0]})],
        insert=(50.0, 50.0, 0.0))
    ents = spark.createDataFrame(
        [("d1", 0, "A1", json.dumps(pay), "INSERT",
          convert_entity(pay)["geometry_wkb"])],
        "doc_id string, span_offset int, handle string, data_json string, "
        "entity_type string, geometry_wkb binary")
    src = ents.select("doc_id", "geometry_wkb", "data_json")
    virt = expand_inserts(ents).select("doc_id", "geometry_wkb", "data_json")
    out = {r.doc_id: r.svg for r in
           svg_previews(src.unionByName(virt)).collect()}
    svg = out["d1"]
    assert "<circle" in svg          # the INSERT point mark
    assert 'd="M 50.000 50.000 L 51.000 50.000"' in svg  # block LINE, placed


# ---------------------------------------------------------------------------
# property-based: the nested transform chain vs an independent 4x4-matrix
# reference (standard homogeneous affine composition, computed with numpy
# only — no shared code with the operator)
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_coord = st.floats(min_value=-1e4, max_value=1e4,
                   allow_nan=False, allow_infinity=False)
_scale = st.floats(min_value=0.1, max_value=10.0,
                   allow_nan=False, allow_infinity=False)
_angle = st.floats(min_value=-720.0, max_value=720.0,
                   allow_nan=False, allow_infinity=False)
_xform = st.tuples(_coord, _coord, _coord, _scale, _scale, _scale, _angle)


def _mat44(ix, iy, iz, sx, sy, sz, rot):
    import numpy as np
    c, s = math.cos(math.radians(rot)), math.sin(math.radians(rot))
    m = np.array([[c * sx, -s * sy, 0.0, ix],
                  [s * sx, c * sy, 0.0, iy],
                  [0.0, 0.0, sz, iz],
                  [0.0, 0.0, 0.0, 1.0]])
    return m


@settings(max_examples=200, deadline=2000)
@given(parent=_xform, child=_xform, pt=st.tuples(_coord, _coord, _coord))
def test_nested_transform_matches_homogeneous_matrix_reference(
        parent, child, pt):
    """expand_payload's composed placement of a depth-2 POINT equals
    M_parent @ M_child @ p computed with plain homogeneous matrices."""
    import numpy as np

    def ins(xf, inner):
        ix, iy, iz, sx, sy, sz, rot = xf
        return {"insert": [ix, iy, iz], "xscale": sx, "yscale": sy,
                "zscale": sz, "rotation": rot}, inner

    cg, _ = ins(child, None)
    nested = _be("INSERT", dict(cg, name="SUB"), block_name="SUB",
                 block_entities=[_be("POINT", {"location": list(pt)})])
    pg, _ = ins(parent, None)
    payload = {
        "entity_type": "INSERT", "name": "", "handle": "H", "layer": "0",
        "attributes": {}, "geometries": dict(pg, name="BLK"),
        "extra_data": {"block_name": "BLK", "block_entities": [nested]},
    }
    recs = expand_payload(payload)
    assert len(recs) == 1
    got = parse_wkb(recs[0][4])[1][0]
    want = (_mat44(*parent) @ _mat44(*child) @ np.array([*pt, 1.0]))[:3]
    assert np.allclose(got, want, rtol=1e-9, atol=1e-6)


@settings(max_examples=100, deadline=2000)
@given(xf=_xform)
def test_single_level_matches_matrix_reference(xf):
    import numpy as np

    ix, iy, iz, sx, sy, sz, rot = xf
    payload = _payload([_be("POINT", {"location": [3.0, -2.0, 1.0]})],
                       insert=(ix, iy, iz), xscale=sx, yscale=sy,
                       zscale=sz, rotation=rot)
    got = parse_wkb(expand_payload(payload)[0][4])[1][0]
    want = (_mat44(*xf) @ np.array([3.0, -2.0, 1.0, 1.0]))[:3]
    assert np.allclose(got, want, rtol=1e-9, atol=1e-6)


def test_expand_inserts_streaming_twin(spark, docs_df, tmp_path_factory):
    """Stateless per-row operator ⇒ the SAME expand_inserts call graph
    runs unchanged on a Structured Streaming source (decode → expand in
    micro-batches, availableNow) and its appended output equals the
    batch result multiset — no operator-side changes needed."""
    from pyspark.sql import functions as F

    from dxf_postgis_converter_spark.functions.decode import decode_documents
    from dxf_postgis_converter_spark.streaming.pipeline import (
        read_document_stream,
    )

    src = str(tmp_path_factory.mktemp("docs_expand_stream"))
    ck = str(tmp_path_factory.mktemp("ck_expand"))
    docs_df.repartition(6).write.mode("overwrite").parquet(src)

    cols = ["doc_id", "insert_handle", "block_path", "depth",
            "entity_type", "geom_type", "data_json"]
    stream = expand_inserts(decode_documents(
        read_document_stream(spark, src, max_files_per_trigger=2))) \
        .select(*cols)
    q = (stream.writeStream.format("memory").queryName("expand_stream")
         .outputMode("append").option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT * FROM expand_stream").collect()

    want = expand_inserts(
        decode_documents(spark.read.parquet(src))).select(*cols).collect()
    key = lambda r: tuple(r)
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(want) > 0  # corpus v4 closures guarantee virtual rows


def test_corrupt_data_json_yields_error_record(spark):
    """A corrupt INSERT payload must surface as an ERROR row (decode's
    no-silent-drops contract), never as a vanished insert."""
    rows = [
        ("d1", 0, "A1", "{not json", "INSERT"),
        ("d1", 1, "A2",
         json.dumps(_payload(
             [_be("POINT", {"location": [0.0, 0.0, 0.0]})])), "INSERT"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, span_offset int, handle string, "
              "data_json string, entity_type string")
    got = {r.insert_handle: r for r in expand_inserts(df).collect()}
    assert "unparseable" in got["A1"].error and got["A1"].geometry_wkb is None
    assert got["A2"].error is None and got["A2"].entity_type == "POINT"
