"""Spatial area selection (P1) + selection set ops (SO1-SO3) + cascades (P3/P4).

Reference: EzdxfAreaSelector.select_handles (area_selector.py:21-74) —
shape ∈ {RECTANGLE, CIRCLE, POLYGON} × rule ∈ {INSIDE, OUTSIDE, INTERSECT},
evaluated on **entity bounding boxes** (ezdxf.select.bbox_inside /
bbox_outside / bbox_overlap), handles normalized ``.strip().lower()``
(area_selector.py:27). Entities without a bbox (no-geometry types) are
never selected, mirroring ezdxf skipping empty bounding boxes.

Spark-first: RECTANGLE and CIRCLE rules are pure column arithmetic
(whole-stage codegen, no Python). POLYGON prefilters JVM-side with the
polygon's own bbox, then refines the survivors in one Arrow-batched
mapInArrow pass.
"""

from __future__ import annotations

from enum import Enum

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.arrow_batch import owned
from ..geometry.predicates import polygon_bbox_inside, polygon_bbox_overlap


class ShapeType(str, Enum):
    RECTANGLE = "rectangle"
    CIRCLE = "circle"
    POLYGON = "polygon"


class SelectionRule(str, Enum):
    INSIDE = "inside"
    OUTSIDE = "outside"
    INTERSECT = "intersect"


class SelectionMode(str, Enum):
    # area_selection.py:20-23; NB the executed use case is REPLACE
    # regardless of mode (select_area_use_case.py:71-80, SURVEY SO2)
    NEW = "new"
    JOIN = "join"
    SUBTRACT = "subtract"


_B = ("xmin", "ymin", "xmax", "ymax")


def _require_bbox(df: DataFrame) -> DataFrame:
    return df.filter(F.col("xmin").isNotNull())


def _rect_overlap(qx0: float, qy0: float, qx1: float, qy1: float) -> Column:
    return (
        (F.col("xmin") <= qx1) & (F.col("xmax") >= qx0)
        & (F.col("ymin") <= qy1) & (F.col("ymax") >= qy0)
    )


def _rect_inside(qx0, qy0, qx1, qy1) -> Column:
    return (
        (F.col("xmin") >= qx0) & (F.col("xmax") <= qx1)
        & (F.col("ymin") >= qy0) & (F.col("ymax") <= qy1)
    )


def _circle_inside(cx, cy, r) -> Column:
    r2 = F.lit(float(r) ** 2)
    corners = [("xmin", "ymin"), ("xmax", "ymin"), ("xmax", "ymax"), ("xmin", "ymax")]
    cond = F.lit(True)
    for xc, yc in corners:
        cond = cond & ((F.col(xc) - cx) ** 2 + (F.col(yc) - cy) ** 2 <= r2)
    return cond


def _circle_overlap(cx, cy, r) -> Column:
    # clamp circle center into the bbox, compare distance — pure columns
    qx = F.greatest(F.col("xmin"), F.least(F.lit(float(cx)), F.col("xmax")))
    qy = F.greatest(F.col("ymin"), F.least(F.lit(float(cy)), F.col("ymax")))
    return (qx - cx) ** 2 + (qy - cy) ** 2 <= F.lit(float(r) ** 2)


def area_predicate(shape_type: ShapeType, rule: SelectionRule, shape_args) -> tuple[Column | None, object]:
    """-> (column_predicate, polygon_refiner|None).

    For RECTANGLE/CIRCLE the returned column IS the full predicate.
    For POLYGON the column is the JVM prefilter (polygon-bbox overlap, or
    None for OUTSIDE which needs post-refine complement) and the second
    element is a refiner fn(batch)->np.ndarray[bool] over a pyarrow
    RecordBatch carrying the bbox columns, for rule INSIDE/INTERSECT
    membership.
    """
    shape_type = ShapeType(shape_type)
    rule = SelectionRule(rule)
    if shape_type == ShapeType.RECTANGLE:
        # reference arg order: (x_min, x_max, y_min, y_max) — area_selector.py:41
        x0, x1, y0, y1 = (float(a) for a in shape_args)
        overlap = _rect_overlap(x0, y0, x1, y1)
        if rule == SelectionRule.INSIDE:
            return _rect_inside(x0, y0, x1, y1), None
        if rule == SelectionRule.INTERSECT:
            return overlap, None
        return ~overlap, None
    if shape_type == ShapeType.CIRCLE:
        (cx, cy), r = shape_args
        if rule == SelectionRule.INSIDE:
            return _circle_inside(float(cx), float(cy), float(r)), None
        ov = _circle_overlap(float(cx), float(cy), float(r))
        return (ov if rule == SelectionRule.INTERSECT else ~ov), None

    # POLYGON
    ring = np.asarray(shape_args[0], dtype=np.float64)[:, :2]
    px0, py0 = ring[:, 0].min(), ring[:, 1].min()
    px1, py1 = ring[:, 0].max(), ring[:, 1].max()
    prefilter = _rect_overlap(px0, py0, px1, py1)

    def refiner(test):
        def refine(batch) -> np.ndarray:
            boxes = zip(*(batch.column(c).to_pylist() for c in _B))
            return np.fromiter((test(ring, *box) for box in boxes),
                               dtype=bool, count=batch.num_rows)
        return refine

    if rule == SelectionRule.INSIDE:
        return prefilter, refiner(polygon_bbox_inside)

    refine_overlap = refiner(polygon_bbox_overlap)
    if rule == SelectionRule.INTERSECT:
        return prefilter, refine_overlap
    # OUTSIDE = complement of overlap: no safe JVM prefilter (rows outside
    # the polygon bbox are trivially outside → selected), handled by caller
    return None, refine_overlap


def select_entities(entities: DataFrame, shape_type, rule, shape_args) -> DataFrame:
    """Rows of `entities` whose bbox satisfies the predicate."""
    ents = _require_bbox(entities)
    rule = SelectionRule(rule)
    pred, refine = area_predicate(shape_type, rule, shape_args)
    if refine is None:
        return ents.filter(pred)

    def _apply(batches, negate):
        for batch in batches:
            mask = refine(batch)
            if negate:
                mask = ~mask
            if mask.any():
                yield owned(batch, np.flatnonzero(mask))

    if rule == SelectionRule.OUTSIDE:
        ring = np.asarray(shape_args[0], dtype=np.float64)[:, :2]
        px0, py0 = float(ring[:, 0].min()), float(ring[:, 1].min())
        px1, py1 = float(ring[:, 0].max()), float(ring[:, 1].max())
        trivially_out = ents.filter(~_rect_overlap(px0, py0, px1, py1))
        maybe = ents.filter(_rect_overlap(px0, py0, px1, py1))
        refined = maybe.mapInArrow(lambda it: _apply(it, True), schema=ents.schema)
        return trivially_out.unionByName(refined)

    candidates = ents.filter(pred)
    return candidates.mapInArrow(lambda it: _apply(it, False), schema=ents.schema)


def select_handles(entities: DataFrame, shape_type, rule, shape_args) -> DataFrame:
    """Handle set, normalized strip+lower (area_selector.py:27) — the
    reference's spatial-query result channel."""
    return (
        select_entities(entities, shape_type, rule, shape_args)
        .select(F.lower(F.trim(F.col("handle"))).alias("handle"))
        .filter(F.col("handle") != "")
        .distinct()
    )


# --- selection set ops (SO1-SO3) -------------------------------------------

def apply_selection_mode(prior: DataFrame, hits: DataFrame, mode: SelectionMode) -> DataFrame:
    """prior/hits: DF[handle] → new selection DF[handle].

    NEW/replace = hits (the semantics the reference actually executes,
    select_area_use_case.py:71-80); JOIN = union-distinct (SO1);
    SUBTRACT = anti-join (SO3).
    """
    mode = SelectionMode(mode)
    if mode == SelectionMode.NEW:
        return hits.distinct()
    if mode == SelectionMode.JOIN:
        return prior.unionByName(hits).distinct()
    return prior.join(hits, "handle", "left_anti")


# --- selection cascades (P3/P4) ---------------------------------------------

def propagate_selection_up(entities_selected: DataFrame) -> DataFrame:
    """layer.selected = any(entity.selected) per (doc_id, layer)
    (select_area_use_case.py:110-118). Input needs (doc_id, layer,
    selected:boolean)."""
    return entities_selected.groupBy("doc_id", "layer").agg(
        F.max(F.col("selected").cast("int")).cast("boolean").alias("selected"))


def propagate_selection_docs(layers_selected: DataFrame) -> DataFrame:
    return layers_selected.groupBy("doc_id").agg(
        F.max(F.col("selected").cast("int")).cast("boolean").alias("selected"))


def cascade_selection_down(entities: DataFrame, selected_layers: DataFrame) -> DataFrame:
    """Selecting a layer selects all its entities (select_entity_use_case
    _set_selected_recursive): semi-join marks children selected."""
    sel = selected_layers.select("doc_id", "layer").distinct()
    return entities.join(sel, ["doc_id", "layer"], "left_semi") \
        .withColumn("selected", F.lit(True))
