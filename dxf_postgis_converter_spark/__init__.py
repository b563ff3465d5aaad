"""dxf_postgis_converter_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch engine with the query/data-processing capabilities of the
reference Comanda-A/DXF-PostGIS-Converter (a QGIS DXF→PostGIS ETL plugin),
re-expressed Spark-first:

- Input: interleaved document table
  ``documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
  where ``kind='media'`` spans carry one DXF entity payload (JSON) and
  ``kind='text'`` spans carry annotation text.
- Decode: one Arrow-batched ``mapInArrow`` UDF implementing the reference's
  37 entity→geometry converters (``postgis_entity_converter.py:29-747``)
  bit-identically (same 100-point tessellation, same formulas).
- Index: planar quadtree cell grid (H3/S2-analogue; those libs are not
  available here) implemented as pure Spark column arithmetic — cell
  assignment, covers, k-ring and tile ids never leave the JVM.
- Joins: point-in-polygon (broadcast + shuffled + salted), kNN ring
  expansion, raster-tile↔vector alignment.
- Training-data ops: dedup (exact/minhash-LSH/simhash/ngram-jaccard/
  embedding), ANN similarity, text quality/lang-id/tokens, multimodal
  plumbing.
- Lineage: per-partition checkpoint table with idempotent resume.
"""

__version__ = "0.1.0"
