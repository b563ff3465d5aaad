"""Round-trip gate: documents → decode → reconstruct → span-sequence
equality (kind, text, media_ref, order) per BASELINE.json north_star,
plus the reference's fingerprint-multiset oracle
(tests/test_integration.py:438-461) re-decoded from the rebuilt corpus."""

import pyspark.sql.functions as F
import pytest

from dxf_postgis_converter_spark.corpus import generate_documents
from dxf_postgis_converter_spark.functions.decode import decode_documents, text_spans
from dxf_postgis_converter_spark.operators.reconstruct import (
    layer_fingerprints,
    reconstruct_documents,
    reconstruction_report,
    span_mismatches,
)


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents(spark, 120, num_partitions=8).cache()


@pytest.fixture(scope="module")
def rebuilt(spark, docs):
    ents = decode_documents(docs)
    return reconstruct_documents(ents, text_spans(docs)).cache()


def test_span_sequence_equality(docs, rebuilt):
    assert span_mismatches(docs, rebuilt).count() == 0


def test_doc_count_preserved(docs, rebuilt):
    assert rebuilt.count() == docs.filter(F.size("spans") > 0).count()


def test_offsets_are_original_order(rebuilt):
    bad = rebuilt.filter(
        ~F.forall(
            F.zip_with("spans", F.sequence(F.lit(0), F.size("spans") - 1),
                       lambda s, i: s.offset == i),
            lambda ok: ok)
    )
    assert bad.count() == 0


def test_fingerprint_multiset_equality(docs, rebuilt):
    """Decode the rebuilt corpus again; per-layer fingerprint counts must
    match the original decode exactly (A6 oracle)."""
    fp_a = layer_fingerprints(decode_documents(docs))
    fp_b = layer_fingerprints(decode_documents(rebuilt))
    assert fp_a.exceptAll(fp_b).count() == 0
    assert fp_b.exceptAll(fp_a).count() == 0


def test_reconstruction_report(docs):
    rep = reconstruction_report(decode_documents(docs)).collect()
    by_type = {r.entity_type: r for r in rep}
    assert by_type["POINT"].n == by_type["POINT"].n_with_geometry  # always has geometry
    for t in ("DIMENSION", "3DSOLID", "MESH", "IMAGEDEF", "WIPEOUT"):
        if t in by_type:
            assert by_type[t].n_with_geometry == 0  # no-geometry types


def test_mismatch_detected_when_corrupted(spark, docs, rebuilt):
    """Negative control: drop one media span from one doc → mismatch."""
    corrupted = rebuilt.withColumn(
        "spans",
        F.when(F.col("doc_id") == rebuilt.select("doc_id").first().doc_id,
               F.slice("spans", 1, F.size("spans") - 1)).otherwise(F.col("spans")))
    assert span_mismatches(docs, corrupted).count() == 1


def test_save_selected_by_handles(spark, docs):
    """S11: unselected media spans removed, text spans + order kept."""
    from dxf_postgis_converter_spark.operators.reconstruct import save_selected_by_handles
    ents = decode_documents(docs)
    # select every media span whose offset is even (mixed-case handles)
    sel = ents.filter(F.col("span_offset") % 2 == 0) \
        .select(F.upper(F.col("handle")).alias("handle"))
    out = save_selected_by_handles(docs, sel).cache()

    exploded = out.select("doc_id", F.explode("spans").alias("s"))
    kept_media = exploded.filter(F.col("s.kind") == "media")
    assert kept_media.filter(F.col("s.offset") % 2 == 1).count() == 0
    expected_media = ents.filter(F.col("span_offset") % 2 == 0).count()
    assert kept_media.count() == expected_media
    # text spans untouched
    orig_text = docs.select(F.explode("spans").alias("s")).filter(F.col("s.kind") == "text")
    assert exploded.filter(F.col("s.kind") == "text").count() == orig_text.count()
    # offsets strictly increasing within each doc (original order preserved)
    bad = out.filter(~F.forall(
        F.zip_with(F.slice("spans", 1, F.size("spans") - 1),
                   F.slice("spans", 2, F.size("spans") - 1),
                   lambda a, b: a.offset < b.offset), lambda ok: ok))
    assert bad.count() == 0


def test_rebuild_equals_stdlib_canonical_dump(spark, docs):
    """The rebuild (orjson dump, batched float-risk scan, from_buffers
    output) is byte-identical to the stdlib canonical dump of each stored
    payload filtered to RT_EXTRA_KEYS — including rows that trip the
    float-risk fallback to stdlib json."""
    import json as _json

    import pyarrow as pa

    from dxf_postgis_converter_spark.corpus import _jdump
    from dxf_postgis_converter_spark.operators import reconstruct as rc

    def canonical(dj):
        d = _json.loads(dj)
        extra = d.get("extra_data") or {}
        return _jdump({
            "attributes": d.get("attributes") or {},
            "entity_type": d.get("entity_type", ""),
            "extra_data": {k: extra[k] for k in rc.RT_EXTRA_KEYS if k in extra},
            "geometries": d.get("geometries") or {},
            "handle": d.get("handle", ""),
            "layer": d.get("layer", ""),
            "name": d.get("name", ""),
        })

    ents = decode_documents(docs).select("doc_id", "span_offset", "data_json")
    via_arrow = {(r.doc_id, r.span_offset): r.media_ref
                 for r in rc.rebuild_media_refs(ents).collect()}
    via_stdlib = {(r.doc_id, r.span_offset): canonical(r.data_json)
                  for r in ents.collect()}
    assert via_arrow == via_stdlib
    # synthetic risky payloads: exponent-notation and sub-1e-4 floats must
    # take the stdlib path (byte-identical canonical form)
    risky = [
        {"attributes": {}, "entity_type": "POINT",
         "extra_data": {"dxftype": "POINT", "v": 1e30},
         "geometries": {"location": [1e-7, 2.0, 0.0]},
         "handle": "a1", "layer": "L", "name": ""},
        {"attributes": {"h": 0.00001234}, "entity_type": "TEXT",
         "extra_data": {}, "geometries": {}, "handle": "a2", "layer": "L",
         "name": "x"},
    ]
    djs = [_jdump(p) for p in risky]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["d"] * len(djs)), pa.array(range(len(djs)), pa.int32()),
         pa.array(djs)], names=["doc_id", "span_offset", "data_json"])
    out = list(rc._rebuild_arrow_batches([batch]))[0].column(2).to_pylist()
    assert out == [canonical(dj) for dj in djs]
    assert "1e-07" in out[0]          # stdlib exponent form, not orjson's
    assert "1.234e-05" in out[1]
