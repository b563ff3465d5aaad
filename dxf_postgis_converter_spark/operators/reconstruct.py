"""Round-trip reconstruction sink (S12) + span-sequence invariant.

The reference rebuilds a DXF document from DB rows
(dxf_writer.py:53-192 reconstruct_from_entities) and its integration
tests assert per-layer entity-fingerprint multiset equality — Counter
over (dxftype, sorted geometry keys, geometry item count)
(tests/test_integration.py:438-461). In this engine the document format
is the interleaved spans table (BASELINE.json input_hint), so
reconstruction = rebuilding each document's span array from the decoded
entities + text spans, and the gate is **span-sequence equality
(kind, text, media_ref, order)** per document.

Spark shape (one narrow Python stage, everything else JVM):

  entities --mapInArrow--> (doc_id, span_offset, media_ref')    [Arrow]
  text spans ---------------------------------------- select     [JVM]
  union → groupBy(doc_id) → array_sort(collect_list(struct))     [JVM]
  → documents'(doc_id, spans)

The rebuild is exact because decode stores the payload verbatim in
data_json (geometries/attributes untouched; postgis_entity_repository.py
:238-243 JSONB shape) and the corpus's extra_data contract pins which
keys were source keys vs converter-derived updates
(postgis_entity_converter.py:137-142 merges converter output into
extra_data; we strip it back off).
"""

from __future__ import annotations

import numpy as np
import orjson
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import SPANS_SCHEMA, canonical_media_ref
from ..functions.arrow_batch import arrow_schema, bytes_string_array, from_rows, owned

# source-payload extra_data keys (corpus contract; everything else in the
# stored extra_data was merged in by a converter and is not part of the
# original payload). dxf_attribs + layer_dxf_attribs are what real-ezdxf
# ingest embeds (dxf_reader.py:105-116 via sources/extractors.py
# base_attributes) — dropping them broke real-ingest round-trips
# (ADVICE r2 medium).
RT_EXTRA_KEYS = ("dxftype", "dxf_attribs", "layer_name",
                 "layer_dxf_attribs", "block_name", "block_entities")

_REF_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_offset", T.IntegerType()),
    T.StructField("media_ref", T.StringType()),
])


def _source_payload(d: dict) -> dict:
    """The corpus payload behind a stored data_json object: its seven
    canonical keys, with the converter-derived extra_data keys dropped."""
    extra = d.get("extra_data", {}) or {}
    return {
        "attributes": d.get("attributes", {}) or {},
        "entity_type": d.get("entity_type", ""),
        "extra_data": {k: extra[k] for k in RT_EXTRA_KEYS if k in extra},
        "geometries": d.get("geometries", {}) or {},
        "handle": d.get("handle", ""),
        "layer": d.get("layer", ""),
        "name": d.get("name", ""),
    }


def _risky_rows(outs: list, n_rows: int) -> set[int]:
    """Row indices whose orjson rendering might differ from stdlib json's
    canonical form; those rows re-serialize with stdlib json.

    The two render only floats differently, and only where one of them
    uses exponent notation: stdlib switches to it below 1e-4 (orjson
    keeps fixed notation there, which starts ``0.0000``) and from 1e16
    (orjson uses exponents there too, without the ``+``). So every
    disagreement leaves one of two byte patterns in the orjson output:
    ``0.0000``, or an exponent (digit, ``e``/``E``, optional sign,
    digit). One vectorized scan over the batch's concatenated bytes
    finds both, instead of n_rows regex searches — the per-row regex was
    ~half the rebuild stage's Python time (measured 11 µs/row over
    615-byte rows).
    Cross-row false positives are impossible: every row is empty or
    starts '{' and ends '}', so neither pattern can span a boundary. A
    false positive would only cost the stdlib re-dump on that row."""
    buf = b"".join(outs)
    a = np.frombuffer(buf, dtype=np.uint8)
    if len(a) < 3:
        return set()
    # exponent notation \d[eE][-+]?\d: gather e/E POSITIONS (two cheap
    # full passes), then check neighbours by fancy-indexing only those —
    # 'e' occurs ~once per 40 bytes in this JSON, so the neighbour work
    # is ~2% of a full-width mask cascade (which measured SLOWER than
    # the per-row regex it replaced)
    pe = np.flatnonzero((a == 101) | (a == 69))
    pe = pe[(pe > 0) & (pe < len(a) - 1)]
    hits = []
    if pe.size:
        prev, nxt = a[pe - 1], a[pe + 1]
        isdig = (prev >= 48) & (prev <= 57)
        hits.append(pe[isdig & (nxt >= 48) & (nxt <= 57)])
        p2 = pe[isdig & ((nxt == 43) | (nxt == 45))]
        p2 = p2[p2 < len(a) - 2]
        if p2.size:
            n2 = a[p2 + 2]
            hits.append(p2[(n2 >= 48) & (n2 <= 57)])
    # fixed notation below 1e-4: the literal "0.0000" via memchr-fast find
    i = buf.find(b"0.0000")
    lit = []
    while i != -1:
        lit.append(i)
        i = buf.find(b"0.0000", i + 1)
    if lit:
        hits.append(np.asarray(lit, dtype=np.int64))
    if not hits:
        return set()
    pos = np.concatenate(hits)
    if pos.size == 0:
        return set()
    offs = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum([len(o) for o in outs], out=offs[1:])
    return set(np.unique(np.searchsorted(offs, pos, side="right") - 1).tolist())


def _rebuild_arrow_batches(batches):
    """mapInArrow rebuild: doc_id/span_offset pass through as owned
    copies; data_json is parsed from BYTES (binary view of the string
    column — no utf-8 → str decode), re-serialized with orjson, and the
    output string column is assembled straight from the serialized
    bytes. A null, non-JSON, non-object or wrongly shaped data_json
    gives a null media_ref, which span_mismatches flags."""
    schema = arrow_schema(_REF_SCHEMA)
    loads, dumps, opt = orjson.loads, orjson.dumps, orjson.OPT_SORT_KEYS
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        idx = batch.schema.get_field_index
        djs = batch.column(idx("data_json")).cast(pa.binary()).to_pylist()
        outs = []
        append = outs.append
        for dj in djs:
            try:
                append(dumps(_source_payload(loads(dj)), option=opt))
            except (AttributeError, TypeError, ValueError):
                append(None)
        for i in _risky_rows([o or b"" for o in outs], n):
            p = _source_payload(loads(djs[i]))
            outs[i] = canonical_media_ref(p.pop("entity_type"), **p).encode()
        yield from_rows(schema, [],
                        doc_id=owned(batch.column(idx("doc_id"))),
                        span_offset=owned(batch.column(idx("span_offset"))),
                        media_ref=bytes_string_array(outs))


def rebuild_media_refs(entities: DataFrame) -> DataFrame:
    """entities → (doc_id, span_offset, media_ref) with the media_ref
    payload re-serialized canonically from the stored data_json, in one
    mapInArrow stage (see _rebuild_arrow_batches)."""
    src = entities.select("doc_id", "span_offset", "data_json")
    return src.mapInArrow(_rebuild_arrow_batches, schema=_REF_SCHEMA)


def reconstruct_documents(entities: DataFrame, texts: DataFrame) -> DataFrame:
    """(entities, text spans) → documents(doc_id, spans) with spans in
    original offset order. texts: (doc_id, span_offset, text)."""
    media = rebuild_media_refs(entities).select(
        "doc_id", F.lit("media").alias("kind"), F.lit("").alias("text"),
        "media_ref", F.col("span_offset").alias("offset"))
    text = texts.select(
        "doc_id", F.lit("text").alias("kind"), F.col("text"),
        F.lit("").alias("media_ref"), F.col("span_offset").alias("offset"))
    allspans = media.unionByName(text)
    # offset-first struct → array_sort orders by offset; then re-shape to
    # the canonical (kind, text, media_ref, offset) field order — all JVM
    sorted_spans = F.array_sort(
        F.collect_list(F.struct("offset", "kind", "text", "media_ref")))
    return (
        allspans.groupBy("doc_id")
        .agg(F.transform(
            sorted_spans,
            lambda s: F.struct(
                s.kind.alias("kind"), s.text.alias("text"),
                s.media_ref.alias("media_ref"), s.offset.alias("offset")),
        ).alias("spans"))
        .select(F.col("doc_id").cast("string"),
                F.col("spans").cast(SPANS_SCHEMA["spans"].dataType))
    )


def span_mismatches(original: DataFrame, rebuilt: DataFrame) -> DataFrame:
    """doc_ids whose span sequence differs (missing doc counts as
    mismatch). Full outer join + array equality — one shuffle on doc_id."""
    a = original.select("doc_id", F.col("spans").alias("spans_a"))
    b = rebuilt.select("doc_id", F.col("spans").alias("spans_b"))
    return (
        a.join(b, "doc_id", "full_outer")
        .filter(~F.coalesce(F.col("spans_a") == F.col("spans_b"), F.lit(False)))
        .select("doc_id")
    )


def reconstruction_report(entities: DataFrame) -> DataFrame:
    """Per-type reconstructed counts (dxf_writer.py:130-137 report)."""
    return entities.groupBy("entity_type").agg(
        F.count("*").alias("n"),
        F.count("geometry_wkb").alias("n_with_geometry"))


def layer_fingerprints(entities: DataFrame) -> DataFrame:
    """Per-layer fingerprint multiset — the reference correctness oracle
    (tests/test_integration.py:438-461): Counter over
    (dxftype, sorted geometry keys, geometry key count). JSON key
    extraction is built-in (json_object_keys) so this never leaves the JVM."""
    gkeys = F.json_object_keys(F.get_json_object(F.col("data_json"), "$.geometries"))
    fp = F.concat_ws(
        "|",
        F.col("entity_type"),
        F.array_join(F.array_sort(gkeys), ","),
        F.coalesce(F.size(gkeys), F.lit(0)).cast("string"))
    return entities.groupBy("layer", fp.alias("fingerprint")) \
        .agg(F.count("*").alias("n"))


def save_selected_by_handles(documents: DataFrame, handles: DataFrame) -> DataFrame:
    """Filtered copy (S11, dxf_writer.py:24-51): documents with media
    spans not in the handle set removed; text spans and original offsets
    preserved (the reference deletes unselected entities in place).

    Handle normalization is upper+strip, copying dxf_writer.py:34. The
    whole op is JVM column algebra — handle extraction via
    get_json_object, broadcast semi-join, array re-assembly."""
    h = F.broadcast(
        handles.select(F.upper(F.trim(F.col("handle"))).alias("_h")).distinct())
    spans = documents.select("doc_id", F.explode("spans").alias("s"))
    media = spans.filter(F.col("s.kind") == "media").withColumn(
        "_h", F.upper(F.trim(F.get_json_object(F.col("s.media_ref"), "$.handle"))))
    kept = media.join(h, "_h", "left_semi").select("doc_id", "s") \
        .unionByName(spans.filter(F.col("s.kind") != "media").select("doc_id", "s"))
    sorted_spans = F.array_sort(F.collect_list(
        F.struct(F.col("s.offset").alias("offset"), F.col("s.kind").alias("kind"),
                 F.col("s.text").alias("text"), F.col("s.media_ref").alias("media_ref"))))
    return (
        kept.groupBy("doc_id")
        .agg(F.transform(
            sorted_spans,
            lambda s: F.struct(
                s.kind.alias("kind"), s.text.alias("text"),
                s.media_ref.alias("media_ref"), s.offset.alias("offset")),
        ).alias("spans"))
    )
