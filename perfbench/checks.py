"""Output checks against oracles that share no code path with the timed
Spark plans: pyarrow reads of what the program wrote, numpy brute force,
plain-Python predicates and ``replicas``.

Every check returns ``None`` when it passes and a one-line reason when it
fails; the caller counts the failures in ``failed``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dxf_postgis_converter_spark import replicas
from dxf_postgis_converter_spark.corpus import EXTENT


def parquet_files(path: str) -> list[str]:
    """Data files of a Spark-written parquet directory (any partitioning)."""
    out = []
    for d, _, names in os.walk(path):
        out += [os.path.join(d, n) for n in names if n.endswith(".parquet")]
    return sorted(out)


def read_dir(path: str, columns=None) -> pa.Table:
    files = parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pa.concat_tables(
        [pq.read_table(f, columns=columns) for f in files], promote_options="default")


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of a directory's parquet data files."""
    files = parquet_files(path)
    return len(files), sum(os.path.getsize(f) for f in files)


def digest(table: pa.Table, columns, key) -> str:
    """Order-independent digest of ``columns``; ``key`` columns identify a
    row uniquely and fix the order."""
    t = table.sort_by([(c, "ascending") for c in key])
    h = hashlib.sha256()
    for c in columns:
        h.update(repr(t.column(c).to_pylist()).encode())
    return h.hexdigest()[:16]


# --- ingest -----------------------------------------------------------------

ENTITY_DIGEST_COLS = ("doc_id", "span_offset", "handle", "geometry_wkb",
                      "xmin", "ymin", "xmax", "ymax")


def check_decoded(entities: pa.Table, media_spans: int, malformed: int):
    if entities.num_rows != media_spans:
        return f"decoded {entities.num_rows} rows, expected {media_spans} media spans"
    errors = entities.num_rows - entities.column("error").null_count
    if errors != malformed:
        return f"{errors} error rows, expected {malformed}"
    return None


# --- spatial queries ----------------------------------------------------------

def _rect_cover(px, py, x0, y0, x1, y1):
    return (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)


def pip_counts(points: pa.Table, zones) -> Counter:
    """Per-zone point counts. Circle and star zones go through
    ``replicas.pip_poly_zone_rows`` (winding number over params-rebuilt
    rings); rect, holed and multi zones are box algebra on their params."""
    px = np.asarray(points.column("x").to_numpy(), dtype=np.float64)
    py = np.asarray(points.column("y").to_numpy(), dtype=np.float64)
    counts = Counter()
    poly = []
    for zid, kind, params_json in zones:
        p = json.loads(params_json)
        if kind == "rect":
            hit = _rect_cover(px, py, p["xmin"], p["ymin"], p["xmax"], p["ymax"])
        elif kind == "holed":
            hx0, hy0, hx1, hy1 = p["hole"]
            hit = (_rect_cover(px, py, *p["outer"])
                   & ~((px > hx0) & (px < hx1) & (py > hy0) & (py < hy1)))
        elif kind == "multi":
            hit = np.zeros(len(px), dtype=bool)
            for part in p["parts"]:
                hit |= _rect_cover(px, py, *part)
        else:
            poly.append((zid, kind, params_json))
            continue
        if hit.any():
            counts[zid] += int(hit.sum())
    pts = list(zip(["d"] * len(px), range(len(px)), px.tolist(), py.tolist()))
    for _, _, zid in replicas.pip_poly_zone_rows(pts, poly):
        counts[zid] += 1
    return counts


def check_pip(got: pa.Table, points: pa.Table, zones):
    exp = pip_counts(points, zones)
    have = dict(zip(got.column("zone_id").to_pylist(), got.column("n").to_pylist()))
    if have != dict(exp):
        bad = sorted(z for z in set(have) | set(exp) if have.get(z) != exp.get(z))
        return f"pip counts differ on {len(bad)} zones, e.g. {bad[:3]}"
    return None


def check_knn(got: pa.Table, probes: pa.Table, targets: pa.Table, k: int,
              sample: int, rng):
    """A probe sample's k nearest targets against numpy brute force, ties
    broken by target id as the operator documents."""
    tid = np.asarray(targets.column("target_id").to_pylist(), dtype=object)
    tx = targets.column("x").to_numpy()
    ty = targets.column("y").to_numpy()
    pid = probes.column("probe_id").to_pylist()
    pxy = np.stack([probes.column("x").to_numpy(), probes.column("y").to_numpy()], 1)
    by_probe: dict[str, list] = {}
    for p, t, d, r in zip(got.column("probe_id").to_pylist(),
                          got.column("target_id").to_pylist(),
                          got.column("dist").to_pylist(),
                          got.column("rank").to_pylist()):
        by_probe.setdefault(p, []).append((r, t, d))
    if len(by_probe) != len(pid):
        return f"{len(by_probe)} probes answered, expected {len(pid)}"
    for i in rng.choice(len(pid), size=min(sample, len(pid)), replace=False):
        d = np.sqrt((tx - pxy[i, 0]) ** 2 + (ty - pxy[i, 1]) ** 2)
        near = np.argpartition(d, k)[:k + 16] if len(d) > k + 16 else np.arange(len(d))
        order = sorted(near, key=lambda j: (d[j], tid[j]))[:k]
        rows = sorted(by_probe[pid[i]])
        if [t for _, t, _ in rows] != [tid[j] for j in order]:
            return f"probe {pid[i]}: got {[t for _, t, _ in rows]}"
        if not all(math.isclose(dg, d[j], rel_tol=1e-9, abs_tol=1e-9)
                   for (_, _, dg), j in zip(rows, order)):
            return f"probe {pid[i]}: distances differ"
    return None


def _inside_convex(ring, x, y) -> bool:
    """Point in a counter-clockwise convex ring (boundary inclusive)."""
    for (x0, y0), (x1, y1) in zip(ring, ring[1:]):
        if (x1 - x0) * (y - y0) - (x - x0) * (y1 - y0) < 0:
            return False
    return True


def _convex_rect_overlap(ring, b) -> bool:
    """Separating-axis test of a convex ring against box b."""
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    if max(xs) < b[0] or min(xs) > b[2] or max(ys) < b[1] or min(ys) > b[3]:
        return False
    corners = ((b[0], b[1]), (b[2], b[1]), (b[2], b[3]), (b[0], b[3]))
    for (x0, y0), (x1, y1) in zip(ring, ring[1:]):
        nx, ny = y1 - y0, x0 - x1  # outward normal of a CCW edge
        lim = nx * x0 + ny * y0
        if all(nx * cx + ny * cy > lim for cx, cy in corners):
            return False
    return True


def area_hit(shape: str, rule: str, args, b) -> bool:
    """Reference selection semantics over one entity bbox b=(x0,y0,x1,y1)."""
    if shape == "rectangle":
        qx0, qx1, qy0, qy1 = args
        overlap = b[0] <= qx1 and b[2] >= qx0 and b[1] <= qy1 and b[3] >= qy0
        inside = b[0] >= qx0 and b[2] <= qx1 and b[1] >= qy0 and b[3] <= qy1
    elif shape == "circle":
        (cx, cy), r = args
        corners = ((b[0], b[1]), (b[2], b[1]), (b[2], b[3]), (b[0], b[3]))
        inside = all((x - cx) ** 2 + (y - cy) ** 2 <= r ** 2 for x, y in corners)
        nx = min(max(cx, b[0]), b[2])
        ny = min(max(cy, b[1]), b[3])
        overlap = (nx - cx) ** 2 + (ny - cy) ** 2 <= r ** 2
    else:
        ring = args[0]
        corners = ((b[0], b[1]), (b[2], b[1]), (b[2], b[3]), (b[0], b[3]))
        inside = all(_inside_convex(ring, x, y) for x, y in corners)
        overlap = _convex_rect_overlap(ring, b)
    return {"inside": inside, "intersect": overlap, "outside": not overlap}[rule]


def expected_handles(entities: pa.Table, shape: str, rule: str, args) -> set:
    out = set()
    for h, *b in zip(*(entities.column(c).to_pylist()
                       for c in ("handle", "xmin", "ymin", "xmax", "ymax"))):
        if b[0] is None or h is None:
            continue
        h = h.strip().lower()
        if h and area_hit(shape, rule, args, b):
            out.add(h)
    return out


def check_area(got: set, entities: pa.Table, shape: str, rule: str, args):
    exp = expected_handles(entities, shape, rule, args)
    if got != exp:
        return f"{len(got ^ exp)} of {len(exp)} handles differ from the predicate"
    return None


def tile_counts(entities: pa.Table, z_max: int, z_min: int) -> Counter:
    """Centre-tile counts at every level, rolled up by index shifts."""
    base = Counter()
    size = EXTENT / (1 << z_max)
    top = (1 << z_max) - 1
    for x0, y0, x1, y1 in zip(*(entities.column(c).to_pylist()
                                for c in ("xmin", "ymin", "xmax", "ymax"))):
        if x0 is None:
            continue
        ix = min(max(math.floor(((x0 + x1) / 2) / size), 0), top)
        iy = min(max(math.floor(((y0 + y1) / 2) / size), 0), top)
        base[(ix, iy)] += 1
    out = Counter()
    for (ix, iy), n in base.items():
        for z in range(z_min, z_max + 1):
            s = z_max - z
            out[(z, ix >> s, iy >> s)] += n
    return out


def check_tiles(got: pa.Table, entities: pa.Table, z_max: int, z_min: int,
                res_shift: int, ix_shift: int):
    mask = (1 << ix_shift) - 1
    have = {(t >> res_shift, (t >> ix_shift) & mask, t & mask): n
            for t, n in zip(got.column("tile_id").to_pylist(),
                            got.column("n").to_pylist())}
    if have != dict(tile_counts(entities, z_max, z_min)):
        return "tile pyramid counts differ"
    return None
