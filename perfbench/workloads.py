"""The workloads: what one pass does, and how its output is checked.

Each workload is a closed loop with one client: a pass starts only after
the previous one has finished, and within a pass one Spark action runs at
a time. Passes call the package's public entry points the way
``scripts/job_spatial_pipeline.py`` does and write their results into a
fresh directory, which the checks then read back with pyarrow.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks

# documents per seed window; both workloads read the same window, so they
# share one cached input set
WINDOW_DOCS = 200
KNN_K = 5
PIP_RES = 6
TILE_Z = (8, 4)
N_BUCKETS = 16  # the production job's default lineage bucket count
KNN_CHECK_SAMPLE = 100
EXPORT_CHECK_SAMPLE = 10


@dataclass
class Span:
    name: str
    group: str
    pass_no: int
    t0: float
    t1: float

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


@dataclass
class Context:
    """State shared by a run's passes: session, inputs, counters, spans."""

    spark: object
    inputs: object
    work: str
    traced: bool = False
    attempted: int = 0
    failed: int = 0
    spans: list = field(default_factory=list)
    facts: dict = field(default_factory=dict)
    pass_no: int = 0

    def fail(self, what: str, reason: str) -> None:
        self.failed += 1
        print(f"FAILED {what}: {reason}", file=sys.stderr)

    @contextmanager
    def span(self, name: str):
        """One timed operation. In a traced run its Spark jobs carry the
        span's job group. An exception is counted as a failed operation,
        reported, and not re-raised, so the loop goes on."""
        group = f"{name}@{self.pass_no}.{len(self.spans)}"
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(group, name)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            yield
        except Exception:  # noqa: BLE001 - a failed action is a counted outcome
            self.fail(name, traceback.format_exc())
        finally:
            self.spans.append(Span(name, group, self.pass_no, t0, time.perf_counter()))
            if self.traced:
                sc.setJobGroup("perfbench.untraced", "checks and set-up")

    def check(self, what: str, fn, *args) -> None:
        """One output check: ``fn`` returns None or a failure reason; a
        reason or an exception counts as a failed check."""
        self.attempted += 1
        try:
            reason = fn(*args)
        except Exception:  # noqa: BLE001 - a crashing check is a failed check
            reason = traceback.format_exc()
        if reason is not None:
            self.fail(what, reason)

    def expect_digest(self, what: str, value: str) -> None:
        """The output's digest must be the same in every pass of a run."""
        seen = self.facts.setdefault("digests", {})
        ref = seen.setdefault(what, value)
        self.check(f"digest {what}", lambda: None if value == ref else
                   f"{value} differs from an earlier pass's {ref}")


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def ingest_documents(ctx: Context, root: str):
    """Commit the generated batch to a fresh SnapshotTable and run the
    decode stage from it, as the production job does. Returns the table's
    path and the entities directory."""
    from dxf_postgis_converter_spark.functions.decode import decode_documents
    from dxf_postgis_converter_spark.plans.lineage import LineageLog, run_stage_from_table
    from dxf_postgis_converter_spark.sources.snapshot_store import SnapshotTable

    spark = ctx.spark
    _fresh(root)
    table = SnapshotTable(spark, os.path.join(root, "documents_tbl"))
    out = os.path.join(root, "entities")
    with ctx.span("sources.snapshot_store.append"):
        table.append(spark.read.parquet(ctx.inputs.documents))
    stage = {}
    with ctx.span("plans.lineage.run_stage"):
        stage = run_stage_from_table(
            spark, stage="decode", table=table,
            transform=lambda df: decode_documents(df, keep_media_ref=False),
            out_dir=out, lineage=LineageLog(os.path.join(root, "lineage")),
            n_buckets=N_BUCKETS)
    ctx.check("run_stage rows", lambda: None if stage.get("rows") == ctx.inputs.media_spans
              else f"run_stage reports {stage.get('rows')} rows")
    return table.path, out


def documents(ctx: Context):
    """The committed documents table, bound to the current session."""
    from dxf_postgis_converter_spark.sources.snapshot_store import SnapshotTable

    return SnapshotTable(ctx.spark, ctx.facts["table"])


def stored_facts(ctx: Context, table: str, entities_dir: str) -> None:
    """Decode checks and layout facts of a freshly written entities table."""
    ents = checks.read_dir(entities_dir)
    ctx.check("decoded rows", checks.check_decoded, ents,
              ctx.inputs.media_spans, ctx.inputs.malformed_payloads)
    ctx.expect_digest("entities", checks.digest(
        ents, checks.ENTITY_DIGEST_COLS, ("doc_id", "span_offset")))
    files, nbytes = checks.dir_bytes(entities_dir)
    _, in_bytes = checks.dir_bytes(os.path.join(table, "data"))
    ctx.facts["files_written"] = files
    ctx.facts["bytes_written"] = nbytes
    ctx.facts["stored_bytes_per_input_byte"] = nbytes / in_bytes
    ctx.facts["rows_out"] = ents.num_rows
    ctx.facts["error_rows"] = ents.num_rows - ents.column("error").null_count
    ctx.facts["entities"] = ents


class Ingest:
    """Write path: commit a document batch, decode it into entities."""

    name = "ingest"
    n_docs = WINDOW_DOCS
    # quiet passes after one warm-up spread 4.9-5.9 s, after two 4.6-5.1 s
    warmup_passes = 2

    def setup(self, ctx: Context) -> None:
        pass

    def run_pass(self, ctx: Context) -> None:
        root = os.path.join(ctx.work, "ingest", f"pass{ctx.pass_no}")
        table, out = ingest_documents(ctx, root)
        ctx.facts["table"] = table
        ctx.facts["entities_dir"] = out

    def check_pass(self, ctx: Context) -> None:
        stored_facts(ctx, ctx.facts["table"], ctx.facts["entities_dir"])

    def check_run(self, ctx: Context) -> None:
        """Every pass is checked on its own; nothing is left for the run."""

    def layers(self, ctx: Context) -> dict:
        """Noop-sink prefixes of the decode plan: scan, the Arrow round
        trip with an identity body, and the full decode."""
        from pyspark.sql import functions as F

        from dxf_postgis_converter_spark.functions.decode import decode_documents

        docs = documents(ctx).read()
        media = docs.select("doc_id", F.explode("spans").alias("span")).select(
            "doc_id", F.col("span.media_ref").alias("media_ref"),
            F.col("span.offset").alias("offset"), F.col("span.kind").alias("kind"),
        ).filter(F.col("kind") == "media").drop("kind")
        with ctx.span("spark.scan"):
            _noop(docs)
        with ctx.span("spark.arrow_identity"):
            _noop(media.mapInArrow(lambda it: it, media.schema))
        with ctx.span("functions.decode"):
            _noop(decode_documents(docs, keep_media_ref=False))
        return {}


def _points(ents):
    from pyspark.sql import functions as F

    return ents.filter(F.col("geom_type") == "POINT").select(
        "doc_id", "handle", F.col("xmin").alias("x"), F.col("ymin").alias("y"))


class Read:
    """Read path over a stored entities table that the code under test
    writes in every run's set-up: point-in-polygon counts, area
    selections, a tile pyramid, then rows back to documents and DXF
    drawings plus INSERT expansion. Decode does no work in a pass."""

    name = "read"
    n_docs = WINDOW_DOCS
    warmup_passes = 1

    def setup(self, ctx: Context) -> None:
        from dxf_postgis_converter_spark import corpus

        root = os.path.join(ctx.work, "stored")
        table, out = ingest_documents(ctx, root)
        stored_facts(ctx, table, out)
        ctx.facts["table"] = table
        ctx.facts["entities_dir"] = out
        zones = pa.Table.from_pandas(corpus.build_zones(), preserve_index=False)
        path = os.path.join(root, "zones.parquet")
        pq.write_table(zones, path)
        ctx.facts["zones_path"] = path
        ctx.facts["zones"] = list(zip(*(zones.column(c).to_pylist()
                                        for c in ("zone_id", "kind", "params_json"))))
        ents = ctx.facts["entities"]
        points = ents.filter(pc.equal(ents.column("geom_type"), "POINT"))
        ctx.facts["points"] = pa.table({"x": points.column("xmin"), "y": points.column("ymin"),
                                        "target_id": points.column("handle")})

    def run_pass(self, ctx: Context) -> None:
        from pyspark.sql import functions as F

        from dxf_postgis_converter_spark.functions.decode import text_spans
        from dxf_postgis_converter_spark.operators.area_selection import select_handles
        from dxf_postgis_converter_spark.operators.insert_expand import expand_inserts
        from dxf_postgis_converter_spark.operators.reconstruct import reconstruct_documents
        from dxf_postgis_converter_spark.operators.spatial_join import point_in_polygon_join
        from dxf_postgis_converter_spark.operators.tiles import tile_pyramid_counts
        from dxf_postgis_converter_spark.sources.dxf_export import documents_to_dxf

        spark = ctx.spark
        out = _fresh(os.path.join(ctx.work, "read", f"pass{ctx.pass_no}"))
        ents = spark.read.parquet(ctx.facts["entities_dir"])
        zones = spark.read.parquet(ctx.facts["zones_path"])
        with ctx.span("operators.spatial_join"):
            point_in_polygon_join(_points(ents), zones, res=PIP_RES) \
                .groupBy("zone_id").agg(F.count("*").alias("n")) \
                .write.parquet(os.path.join(out, "pip"))
        hits = {}
        with ctx.span("operators.area_selection"):
            for shape, args in ctx.inputs.shapes:
                for rule in ("inside", "outside", "intersect"):
                    hits[(shape, rule)] = {r.handle for r in select_handles(
                        ents, shape, rule, args).collect()}
        with ctx.span("operators.tiles"):
            tile_pyramid_counts(ents.filter(F.col("xmin").isNotNull()),
                                z_max=TILE_Z[0], z_min=TILE_Z[1]) \
                .write.parquet(os.path.join(out, "tiles"))
        docs = documents(ctx).read()
        with ctx.span("sources.dxf_export"):
            documents_to_dxf(reconstruct_documents(ents, text_spans(docs))) \
                .write.mode("overwrite").parquet(os.path.join(out, "dxf_files"))
        with ctx.span("operators.insert_expand"):
            expand_inserts(ents).write.parquet(os.path.join(out, "expanded"))
        ctx.facts["out"] = out
        ctx.facts["hits"] = hits

    def check_pass(self, ctx: Context) -> None:
        from dxf_postgis_converter_spark.index.grid import _IX_SHIFT, _RES_SHIFT

        out = ctx.facts["out"]
        ents = ctx.facts["entities"]
        pip = checks.read_dir(os.path.join(out, "pip"))
        ctx.check("pip vs replicas", checks.check_pip, pip, ctx.facts["points"],
                  ctx.facts["zones"])
        ctx.expect_digest("pip", checks.digest(pip, ("zone_id", "n"), ("zone_id",)))
        for (shape, rule), got in sorted(ctx.facts["hits"].items()):
            args = next(a for s, a in ctx.inputs.shapes if s == shape)
            ctx.check(f"area {shape} {rule}", checks.check_area, got, ents, shape, rule, args)
            ctx.expect_digest(f"area.{shape}.{rule}", checks.digest(
                pa.table({"h": sorted(got)}), ("h",), ("h",)))
        tiles = checks.read_dir(os.path.join(out, "tiles"))
        ctx.check("tile pyramid", checks.check_tiles, tiles, ents, *TILE_Z,
                  _RES_SHIFT, _IX_SHIFT)
        ctx.expect_digest("tiles", checks.digest(tiles, ("tile_id", "n"), ("tile_id",)))
        dxf = checks.read_dir(os.path.join(out, "dxf_files"))
        ctx.check("one drawing per document", lambda: None if dxf.num_rows == ctx.inputs.n_docs
                  else f"{dxf.num_rows} drawings for {ctx.inputs.n_docs} documents")
        ctx.expect_digest("dxf_files", checks.digest(
            dxf, ("doc_id", "dxf_content", "n_entities", "n_skipped"), ("doc_id",)))
        exp = checks.read_dir(os.path.join(out, "expanded"))
        cols = ("doc_id", "span_offset", "insert_handle", "block_path",
                "geometry_wkb", "error")
        ctx.expect_digest("expanded", checks.digest(exp, cols, cols))
        ctx.facts["bytes_out"] = sum(len(c) for c in dxf.column("dxf_content").to_pylist())
        ctx.facts["skipped"] = sum(dxf.column("n_skipped").to_pylist())
        ctx.facts["expand_error_rows"] = exp.num_rows - exp.column("error").null_count
        ctx.facts["dxf"] = dxf

    def check_run(self, ctx: Context) -> None:
        """Round-trip invariants, once per run on the last pass."""
        from pyspark.sql import functions as F

        from dxf_postgis_converter_spark import corpus
        from dxf_postgis_converter_spark.functions.decode import text_spans
        from dxf_postgis_converter_spark.operators.reconstruct import (
            reconstruct_documents, span_mismatches,
        )
        from dxf_postgis_converter_spark.sources.dxf_export import (
            document_to_dxf, export_roundtrip_report,
        )

        spark = ctx.spark
        docs = documents(ctx).read()
        ents = spark.read.parquet(ctx.facts["entities_dir"])
        rebuilt = reconstruct_documents(ents, text_spans(docs))
        ctx.check("span_mismatches", lambda: (lambda n: None if n == 0 else
                  f"{n} documents differ")(span_mismatches(docs, rebuilt).count()))
        # the written drawings against the per-document writer fed the
        # generator's own spans, bypassing the stored rows entirely
        dxf = ctx.facts["dxf"]
        content = dict(zip(dxf.column("doc_id").to_pylist(),
                           dxf.column("dxf_content").to_pylist()))
        rng = np.random.default_rng(ctx.inputs.seed)
        idx = ctx.inputs.first_index + rng.choice(ctx.inputs.n_docs, EXPORT_CHECK_SAMPLE,
                                                  replace=False)
        for i in idx.tolist():
            doc_id, spans = corpus.build_document(i)
            ctx.check(f"dxf of document {i}", lambda: None if content.get(doc_id) ==
                      document_to_dxf(spans)[0] else "drawing differs")
        sample = docs.filter(F.col("doc_id").isin(
            [corpus.doc_id_for(i) for i in idx.tolist()]))
        rows = export_roundtrip_report(sample).collect()
        ctx.check("export_roundtrip_report", lambda: None if len(rows) == len(idx) and
                  all(r.n_mismatch == 0 for r in rows) else
                  f"{sum(r.n_mismatch for r in rows)} mismatches over {len(rows)} documents")

    def layers(self, ctx: Context) -> dict:
        """Traced-run probes: the PIP cover join's candidate pairs (for
        its refine ratio), noop-sink prefixes of the export plan, and the
        two kNN queries with their checks."""
        from pyspark.sql import functions as F

        from dxf_postgis_converter_spark.functions.decode import text_spans
        from dxf_postgis_converter_spark.index.grid import cell_col
        from dxf_postgis_converter_spark.operators.knn import knn_join
        from dxf_postgis_converter_spark.operators.reconstruct import (
            rebuild_media_refs, reconstruct_documents,
        )
        from dxf_postgis_converter_spark.operators.spatial_join import zone_cover_cells

        spark = ctx.spark
        ents = spark.read.parquet(ctx.facts["entities_dir"])
        pts = _points(ents)
        cover = zone_cover_cells(spark.read.parquet(ctx.facts["zones_path"]),
                                 res=PIP_RES, with_wkb=False)
        with ctx.span("operators.spatial_join.candidates"):
            n_cand = pts.withColumn("cell", cell_col(F.col("x"), F.col("y"), PIP_RES)) \
                .join(cover, "cell").count()
        hits = sum(checks.read_dir(os.path.join(ctx.facts["out"], "pip")).column("n").to_pylist())
        docs = documents(ctx).read()
        with ctx.span("operators.reconstruct.rebuild"):
            _noop(rebuild_media_refs(ents))
        with ctx.span("operators.reconstruct"):
            _noop(reconstruct_documents(ents, text_spans(docs)))
        out = _fresh(os.path.join(ctx.work, "read", "knn"))
        targets = pts.select(F.col("handle").alias("target_id"), "x", "y")
        rng = np.random.default_rng(ctx.inputs.seed)
        for name in ("knn", "knn_bulk"):
            with ctx.span(f"operators.{name}"):
                knn_join(spark.read.parquet(ctx.inputs.probes(name)), targets, k=KNN_K) \
                    .write.parquet(os.path.join(out, name))
            got = checks.read_dir(os.path.join(out, name))
            ctx.check(f"{name} vs brute force", checks.check_knn, got,
                      pq.read_table(ctx.inputs.probes(name)), ctx.facts["points"],
                      KNN_K, KNN_CHECK_SAMPLE, rng)
            ctx.expect_digest(name, checks.digest(
                got, ("probe_id", "rank", "target_id"), ("probe_id", "rank")))
        return {"operators.spatial_join.refine_ratio": hits / n_cand if n_cand else 0.0}


WORKLOADS = {w.name: w for w in (Ingest, Read)}
