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

  entities --mapInPandas--> (doc_id, span_offset, media_ref')   [Arrow]
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

import json
import re

try:
    import orjson as _orjson
except ImportError:  # pragma: no cover
    _orjson = None

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import SPANS_SCHEMA, canonical_media_ref
from ..functions.decode import bytes_string_array

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


# floats whose rendering might differ between orjson and stdlib json:
# fixed-notation values below 1e-4 (stdlib switches to exponent there) or
# any exponent-notation number. Payloads matching this re-serialize with
# stdlib json — the canonical format. Sound because every disagreement
# case necessarily leaves one of these byte patterns in the orjson output;
# false positives only cost the slow path on that row.
_FLOAT_RISK = re.compile(rb"0\.0000|\d[eE][-+]?\d")


def _canonical_dumps_fast(d: dict) -> str:
    """Byte-compatible fast canonical serialization: orjson (≈4x faster)
    when its output provably matches stdlib json's canonical form, else
    stdlib json (ensure_ascii=False, sort_keys, compact separators)."""
    if _orjson is not None:
        try:
            out = _orjson.dumps(d, option=_orjson.OPT_SORT_KEYS)
        except TypeError:
            pass
        else:
            if not _FLOAT_RISK.search(out):
                return out.decode()
    return json.dumps(d, ensure_ascii=False, sort_keys=True, separators=(",", ":"))


_loads = json.loads if _orjson is None else _orjson.loads


def _rebuild_one(dj: str) -> str:
    d = _loads(dj)
    extra = d.get("extra_data", {}) or {}
    src_extra = {k: extra[k] for k in RT_EXTRA_KEYS if k in extra}
    return _canonical_dumps_fast({
        "attributes": d.get("attributes", {}) or {},
        "entity_type": d.get("entity_type", ""),
        "extra_data": src_extra,
        "geometries": d.get("geometries", {}) or {},
        "handle": d.get("handle", ""),
        "layer": d.get("layer", ""),
        "name": d.get("name", ""),
    })


def _risky_rows(outs: list, n_rows: int) -> set[int]:
    """Row indices whose serialized bytes contain a float-risk pattern
    (the _FLOAT_RISK regex), found by ONE vectorized scan over the
    batch's concatenated bytes instead of n_rows regex searches — the
    per-row regex was ~half the rebuild stage's Python time (measured
    11 µs/row over 615-byte rows). Cross-row false positives are
    impossible: every row starts '{' and ends '}', so neither pattern
    can span a boundary. A false positive would only cost the stdlib
    re-dump on that row; the masks below match the regex exactly."""
    import numpy as np

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
    """mapInArrow rebuild: doc_id/span_offset pass through untouched as
    Arrow arrays; data_json is parsed from BYTES (zero-copy binary view
    of the string column — no utf-8 → str decode), extra_data is
    filtered IN PLACE (orjson preserves the stored canonical key order,
    and OPT_SORT_KEYS re-canonicalizes the rebuilt extra_data), and the
    output string column is assembled straight from the serialized
    bytes via Array.from_buffers — no pandas block, no per-row str."""
    import pyarrow as pa

    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        idx = batch.schema.get_field_index
        djs = batch.column(idx("data_json")).cast(pa.binary()).to_pylist()
        outs: list[bytes] = []
        append = outs.append
        loads, dumps = _orjson.loads, _orjson.dumps
        opt = _orjson.OPT_SORT_KEYS
        for dj in djs:
            d = loads(dj)
            extra = d.get("extra_data", {}) or {}
            d["attributes"] = d.get("attributes", {}) or {}
            d["entity_type"] = d.get("entity_type", "")
            d["extra_data"] = {k: extra[k] for k in RT_EXTRA_KEYS
                               if k in extra}
            d["geometries"] = d.get("geometries", {}) or {}
            d["handle"] = d.get("handle", "")
            d["layer"] = d.get("layer", "")
            d["name"] = d.get("name", "")
            if len(d) != 7:  # stored payload carried extra top-level keys
                d = {k: d[k] for k in ("attributes", "entity_type",
                                       "extra_data", "geometries",
                                       "handle", "layer", "name")}
            append(dumps(d, option=opt))
        # rows whose orjson rendering has a float-risk pattern re-dump via
        # stdlib json — the canonical format (same rule as
        # _canonical_dumps_fast, batched; risk is already established, so
        # go straight to the stdlib serializer instead of retrying orjson)
        for i in _risky_rows(outs, n):
            d = loads(djs[i])
            extra = d.get("extra_data", {}) or {}
            outs[i] = json.dumps({
                "attributes": d.get("attributes", {}) or {},
                "entity_type": d.get("entity_type", ""),
                "extra_data": {k: extra[k] for k in RT_EXTRA_KEYS
                               if k in extra},
                "geometries": d.get("geometries", {}) or {},
                "handle": d.get("handle", ""),
                "layer": d.get("layer", ""),
                "name": d.get("name", ""),
            }, ensure_ascii=False, sort_keys=True,
                separators=(",", ":")).encode()
        import numpy as np

        refs = bytes_string_array(outs)
        # deep-copy the passthrough columns (take allocates fresh
        # buffers): the output batch must not reference the input
        # batch's IPC-reader-owned memory
        take_idx = pa.array(np.arange(n, dtype=np.int64))
        yield pa.RecordBatch.from_arrays(
            [batch.column(idx("doc_id")).take(take_idx),
             batch.column(idx("span_offset")).take(take_idx),
             refs],
            names=["doc_id", "span_offset", "media_ref"])


def _rebuild_batches(batches):
    for pdf in batches:
        refs = [_rebuild_one(dj) for dj in pdf["data_json"].tolist()]
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"], "span_offset": pdf["span_offset"], "media_ref": refs})


def rebuild_media_refs(entities: DataFrame) -> DataFrame:
    """entities → (doc_id, span_offset, media_ref) with the media_ref
    payload re-serialized canonically from the stored data_json.

    Arrow-native by default (see _rebuild_arrow_batches); the pandas twin
    is kept for A/B equality testing, and is the only path when orjson is
    unavailable (the batched fast path IS the orjson fast path)."""
    src = entities.select("doc_id", "span_offset", "data_json")
    if _orjson is None:  # pragma: no cover
        return src.mapInPandas(_rebuild_batches, schema=_REF_SCHEMA)
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
