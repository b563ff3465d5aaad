"""Seeded benchmark inputs, generated without Spark and cached on disk.

The seed picks three things:

- the document-index window fed to the pure generator
  ``corpus.build_document(i)``;
- the kNN probe samples (jittered copies of the window's own POINT
  entities plus a uniform share over the world extent);
- the area-selection shapes: one rectangle, circle and convex polygon,
  the circle always on ``corpus.HOT_WINDOW``.

Zones are the fixed ``corpus.build_zones()``. Documents and probes are
written as parquet with pyarrow, so the program under test only ever
receives the generated files. Everything is cached under
``<work>/inputs/s<seed>_n<size>`` and reused by later runs with the same
(seed, size).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dxf_postgis_converter_spark import corpus

# documents between the windows of consecutive seeds, so seeds never overlap
SEED_STRIDE = 100_000
KNN_PROBES = 2_000
KNN_BULK_PROBES = 20_000
# share of probes drawn uniformly over the whole extent (far from any sheet)
UNIFORM_PROBE_SHARE = 0.1
INPUT_VERSION = 2

DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))),
])
PROBES_SCHEMA = pa.schema([
    ("probe_id", pa.string()), ("x", pa.float64()), ("y", pa.float64()),
])


@dataclass(frozen=True)
class Inputs:
    """Paths and facts of one generated (seed, size) input set."""

    root: str
    seed: int
    n_docs: int
    first_index: int
    media_spans: int        # media spans in the window (= decoded rows)
    malformed_payloads: int  # media spans whose payload is not a JSON object
    generation_s: float     # 0.0 when served from the cache
    shapes: list            # [(shape_type, shape_args)], JSON-shaped

    @property
    def documents(self) -> str:
        return os.path.join(self.root, "documents.parquet")

    def probes(self, name: str) -> str:
        return os.path.join(self.root, f"probes_{name}.parquet")


def window(seed: int, n_docs: int) -> range:
    """Document indices the seed selects."""
    return range(seed * SEED_STRIDE, seed * SEED_STRIDE + n_docs)


def _is_malformed(ref: str) -> bool:
    try:
        return not isinstance(json.loads(ref), dict)
    except ValueError:
        return True


def _point_xy(ref: str):
    p = json.loads(ref)
    if p.get("entity_type") != "POINT":
        return None
    loc = p["geometries"]["location"]
    return loc[0], loc[1]


def _probe_table(rng, anchors: np.ndarray, n: int) -> pa.Table:
    n_uniform = int(n * UNIFORM_PROBE_SHARE)
    near = anchors[rng.integers(0, len(anchors), size=n - n_uniform)]
    near = near + rng.normal(0.0, 25.0, size=near.shape)
    far = rng.uniform(0.0, corpus.EXTENT, size=(n_uniform, 2))
    xy = np.clip(np.vstack([near, far]), 0.0, corpus.EXTENT - 1e-6)
    return pa.table({"probe_id": [f"p{i:06d}" for i in range(n)],
                     "x": xy[:, 0], "y": xy[:, 1]}, schema=PROBES_SCHEMA)


def _convex_ring(rng, cx: float, cy: float, radius: float) -> list:
    """Closed counter-clockwise ring of 7 points on a circle: convex."""
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, size=7))
    pts = [[float(cx + radius * np.cos(a)), float(cy + radius * np.sin(a))]
           for a in ang]
    return pts + [pts[0]]


def _shapes(rng, anchors: np.ndarray) -> list:
    """One small rectangle and convex polygon on sheets of the window,
    one circle on the hot window."""
    rx, ry = anchors[rng.integers(0, len(anchors))]
    half = float(rng.uniform(30.0, 80.0))
    rect = ["rectangle", [float(rx - half), float(rx + half),
                          float(ry - half), float(ry + half)]]
    hx = (corpus.HOT_WINDOW[0] + corpus.HOT_WINDOW[2]) / 2
    hy = (corpus.HOT_WINDOW[1] + corpus.HOT_WINDOW[3]) / 2
    circle = ["circle", [[float(hx + rng.uniform(-15, 15)),
                          float(hy + rng.uniform(-15, 15))],
                         float(rng.uniform(12.0, 30.0))]]
    px, py = anchors[rng.integers(0, len(anchors))]
    poly = ["polygon", [_convex_ring(rng, float(px), float(py),
                                     float(rng.uniform(40.0, 90.0)))]]
    return [rect, circle, poly]


def _generate(root: str, seed: int, n_docs: int) -> dict:
    idx = window(seed, n_docs)
    docs = [corpus.build_document(i) for i in idx]
    refs = [s["media_ref"] for _, spans in docs for s in spans
            if s["kind"] == "media"]
    points = np.array([xy for xy in map(_point_xy, refs) if xy is not None],
                      dtype=np.float64)
    os.makedirs(root)
    pq.write_table(pa.Table.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in docs], schema=DOCS_SCHEMA),
        os.path.join(root, "documents.parquet"))
    rng = np.random.default_rng(np.random.PCG64([seed, n_docs]))
    for name, n in (("knn", KNN_PROBES), ("knn_bulk", KNN_BULK_PROBES)):
        pq.write_table(_probe_table(rng, points, n),
                       os.path.join(root, f"probes_{name}.parquet"))
    return {"version": INPUT_VERSION, "first_index": idx.start,
            "media_spans": len(refs),
            "malformed_payloads": sum(map(_is_malformed, refs)),
            "shapes": _shapes(rng, points)}


def ensure_inputs(work: str, seed: int, n_docs: int) -> Inputs:
    """Inputs for (seed, n_docs), generating them on a cache miss."""
    root = os.path.join(work, "inputs", f"s{seed}_n{n_docs}")
    meta_path = os.path.join(root, "meta.json")
    gen_s = 0.0
    meta = None
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as f:
            meta = json.load(f)
        if meta.get("version") != INPUT_VERSION:
            meta = None
    if meta is None:
        t0 = time.perf_counter()
        shutil.rmtree(root, ignore_errors=True)
        meta = _generate(root, seed, n_docs)
        with open(meta_path, "w", encoding="utf-8") as f:
            json.dump(meta, f)
        gen_s = time.perf_counter() - t0
    return Inputs(root=root, seed=seed, n_docs=n_docs,
                  first_index=meta["first_index"],
                  media_spans=meta["media_spans"],
                  malformed_payloads=meta["malformed_payloads"],
                  generation_s=gen_s, shapes=meta["shapes"])
