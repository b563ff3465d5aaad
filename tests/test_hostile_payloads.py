"""Hostile payloads at the Arrow boundary: null, empty, non-JSON,
non-object and wrongly typed payloads go through the decode, rebuild and
INSERT-expansion batch functions (no Spark), then one Spark-level case
per operator. No input may fail its batch, and no good row may change."""

import json

import orjson
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from dxf_postgis_converter_spark.corpus import SPANS_SCHEMA, build_document
from dxf_postgis_converter_spark.functions.decode import (
    _decode_arrow_batches, convert_entity, decode_documents,
)
from dxf_postgis_converter_spark.operators.insert_expand import (
    _expand_batches, expand_inserts,
)
from dxf_postgis_converter_spark.operators.reconstruct import (
    _rebuild_arrow_batches, rebuild_media_refs,
)

_REFS = [s["media_ref"] for i in range(4) for s in build_document(i)[1]
         if s["kind"] == "media"]
# decode's data_json of the corpus payloads, and of the INSERT ones alone
_STORED = [convert_entity(json.loads(r))["data_json"] for r in _REFS]
_INSERTS = [dj for dj in _STORED if json.loads(dj)["entity_type"] == "INSERT"]

_TEXT_FIELDS = ("entity_type", "name", "handle", "layer")
_OBJECT_FIELDS = ("attributes", "geometries", "extra_data")


def _unparseable(text: str) -> bool:
    try:
        orjson.loads(text)
    except ValueError:
        return True
    return False


_scalar = st.one_of(st.none(), st.booleans(), st.integers(-2**53, 2**53),
                    st.floats(allow_nan=False, allow_infinity=False),
                    st.text(max_size=6))
_non_json = st.text(alphabet='{}[]":,.0123456789eantrulsf -', max_size=12) \
    .filter(_unparseable)
_non_object = st.one_of(_scalar, st.lists(_scalar, max_size=3)).map(json.dumps)
# a text field holding a non-string, or an object field a truthy non-object
_wrong_text = st.one_of(st.integers(-2**53, 2**53), st.booleans(), st.floats(
    allow_nan=False, allow_infinity=False), st.lists(st.integers(), max_size=2),
    st.dictionaries(st.text(max_size=2), st.integers(), max_size=2))
_wrong_object = st.one_of(st.integers(1, 2**53), st.just(True),
                          st.text(min_size=1, max_size=4),
                          st.lists(st.integers(), min_size=1, max_size=2))


@st.composite
def _wrong_typed(draw, payloads):
    p = json.loads(draw(st.sampled_from(payloads)))
    field = draw(st.sampled_from(_TEXT_FIELDS + _OBJECT_FIELDS))
    p[field] = draw(_wrong_text if field in _TEXT_FIELDS else _wrong_object)
    return json.dumps(p)


def _hostile(payloads):
    """(kind, payload string or None) pairs."""
    return st.one_of(
        st.tuples(st.just("null"), st.none()),
        st.tuples(st.just("non_json"), _non_json),
        st.tuples(st.just("non_object"), _non_object),
        st.tuples(st.just("wrong_type"), _wrong_typed(payloads)))


def _interleave(good: list, bad: list, data) -> list:
    """(offset, payload, kind) rows: good rows at offsets 0.., bad rows at
    10000.. inserted at drawn positions."""
    rows = [(i, v, None) for i, v in enumerate(good)]
    for j, (kind, v) in enumerate(bad):
        at = data.draw(st.integers(0, len(rows)))
        rows.insert(at, (10_000 + j, v, kind))
    return rows


def _batch(rows, value_col: str, offset_col: str, **extra) -> pa.RecordBatch:
    cols = {"doc_id": pa.array(["d"] * len(rows)),
            offset_col: pa.array([r[0] for r in rows], pa.int32()),
            value_col: pa.array([r[1] for r in rows], pa.string())}
    cols.update({k: pa.array(v) for k, v in extra.items()})
    return pa.RecordBatch.from_pydict(cols)


def _rows_by(batches, key: str) -> dict:
    out = {}
    for b in batches:
        for r in b.to_pylist():
            out.setdefault(r[key], []).append(r)
    return out


@settings(max_examples=60, deadline=None)
@given(bad=st.lists(_hostile(_REFS), min_size=1, max_size=6), data=st.data())
def test_decode_batch_contains_hostile_payloads(bad, data):
    rows = _interleave(_REFS, bad, data)
    got = _rows_by(_decode_arrow_batches(
        [_batch(rows, "media_ref", "offset")]), "span_offset")
    want = _rows_by(_decode_arrow_batches(
        [_batch(_interleave(_REFS, [], data), "media_ref", "offset")]),
        "span_offset")
    assert len(got) == len(rows) and all(len(v) == 1 for v in got.values())
    for off, payload, kind in rows:
        (row,) = got[off]
        if kind is None:
            assert [row] == want[off]
        else:  # exactly one error row, its input kept in media_ref
            assert row["error"] is not None and row["media_ref"] == payload
            assert row["entity_type"] == "UNKNOWN"
    assert sum(r[0]["error"] is not None for r in got.values()) == len(bad)


@settings(max_examples=60, deadline=None)
@given(bad=st.lists(_hostile(_STORED), min_size=1, max_size=6), data=st.data())
def test_rebuild_batch_contains_hostile_payloads(bad, data):
    rows = _interleave(_STORED, bad, data)
    got = _rows_by(_rebuild_arrow_batches(
        [_batch(rows, "data_json", "span_offset")]), "span_offset")
    want = _rows_by(_rebuild_arrow_batches(
        [_batch(_interleave(_STORED, [], data), "data_json", "span_offset")]),
        "span_offset")
    assert len(got) == len(rows) and all(len(v) == 1 for v in got.values())
    for off, _, kind in rows:
        (row,) = got[off]
        if kind is None:
            assert [row] == want[off]
        elif kind != "wrong_type":  # flagged later by span_mismatches
            assert row["media_ref"] is None


def _non_object_block(payloads):
    """An INSERT payload one of whose block entities is not an object."""
    @st.composite
    def build(draw):
        p = json.loads(draw(st.sampled_from(payloads)))
        blocks = p["extra_data"].setdefault("block_entities", [])
        blocks.insert(draw(st.integers(0, len(blocks))),
                      draw(st.one_of(_scalar, st.lists(_scalar, max_size=2))))
        return json.dumps(p)
    return st.tuples(st.just("non_object_block"), build())


@settings(max_examples=60, deadline=None)
@given(bad=st.lists(st.one_of(_hostile(_INSERTS), _non_object_block(_INSERTS)),
                    min_size=1, max_size=6), data=st.data())
def test_expand_batch_contains_hostile_payloads(bad, data):
    def expand(rows):
        batch = _batch(rows, "data_json", "span_offset",
                       handle=[f"h{r[0]}" for r in rows])
        return _rows_by(_expand_batches([batch], 32), "span_offset")

    rows = _interleave(_INSERTS, bad, data)
    got = expand(rows)
    want = expand(_interleave(_INSERTS, [], data))
    for off, _, kind in rows:
        if kind is None:
            assert got.get(off) == want.get(off)
        elif kind == "null":  # decode already reported it
            assert off not in got
        elif kind != "wrong_type":
            (row,) = got[off]
            assert row["error"].startswith("INSERT payload unparseable")
            assert row["geometry_wkb"] is None


_SPARK_CASES = [("null", None), ("empty", ""), ("non_json", "{"),
                ("non_object", "[]"), ("non_object", "1"),
                ("wrong_type", '{"entity_type": "LINE", "extra_data": [1]}'),
                ("wrong_type", '{"entity_type": "POINT", "handle": 5}')]


def test_decode_contains_hostile_payloads_in_spark(spark):
    doc_id, spans = build_document(0)
    bad = [{"kind": "media", "text": "", "media_ref": v, "offset": 10_000 + i}
           for i, (_, v) in enumerate(_SPARK_CASES)]
    good = {(r.doc_id, r.span_offset): r for r in decode_documents(
        spark.createDataFrame([(doc_id, spans)], SPANS_SCHEMA)).collect()}
    got = {(r.doc_id, r.span_offset): r for r in decode_documents(
        spark.createDataFrame([(doc_id, spans + bad)], SPANS_SCHEMA)).collect()}
    assert {k: got[k] for k in good} == good
    errors = [got[(doc_id, s["offset"])] for s in bad]
    assert len(got) == len(good) + len(bad)
    assert all(r.error is not None and r.entity_type == "UNKNOWN" for r in errors)
    assert sum(r.error is not None for r in got.values()) == len(bad)


def test_rebuild_contains_hostile_payloads_in_spark(spark):
    rows = [("d", i, dj) for i, dj in enumerate(_STORED)] + [
        ("d", 10_000 + i, v) for i, (_, v) in enumerate(_SPARK_CASES)]
    ents = spark.createDataFrame(rows, "doc_id string, span_offset int, data_json string")
    got = {r.span_offset: r.media_ref for r in rebuild_media_refs(ents).collect()}
    assert [got[i] for i in range(len(_STORED))] == _REFS
    assert [got[10_000 + i] for i, (kind, _) in enumerate(_SPARK_CASES)
            if kind != "wrong_type"] == [None] * 5


def test_expand_contains_hostile_payloads_in_spark(spark):
    block = json.loads(_INSERTS[0])
    block["extra_data"]["block_entities"].append(7)
    cases = _SPARK_CASES[1:5] + [("non_object_block", json.dumps(block))]
    rows = [("d", i, f"h{i}", dj, "INSERT") for i, dj in enumerate(_INSERTS)] + [
        ("d", 10_000 + i, "bad", v, "INSERT") for i, (_, v) in enumerate(cases)]
    rows.append(("d", 20_000, "null", None, "INSERT"))
    ents = spark.createDataFrame(
        rows, "doc_id string, span_offset int, handle string, data_json string, "
              "entity_type string")
    got = expand_inserts(ents).collect()
    errors = [r for r in got if r.error is not None]
    assert sorted(r.span_offset for r in errors) == [10_000 + i for i in range(len(cases))]
    assert all(r.error.startswith("INSERT payload unparseable") for r in errors)
    good = expand_inserts(ents.filter("span_offset < 10000")).collect()
    assert sorted(r for r in got if r.span_offset < 10_000) == sorted(good)
