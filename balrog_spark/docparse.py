"""Interleaved-document parsing — pure JVM-side column operations.

The corpus is one Iceberg/parquet table of documents with interleaved spans
(BASELINE.json input_hint). These operators explode and parse the spans into
the engine's typed side tables using only built-in functions (split/filter/
explode) so the whole stage stays inside whole-stage codegen — no Python,
no UDFs.

Span payload grammar (FIXTURES.md §1):
    ADDR|{addr_id}|{x}|{y}|{fdi}
    VEG|{veg_id}|{bal_number}|{wkt}
    media_ref = "{layer}/{tile_x}/{tile_y}"
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def explode_spans(documents: DataFrame) -> DataFrame:
    """One row per span, span order preserved in ``offset``."""
    return documents.select(
        "doc_id",
        F.posexplode("spans").alias("pos", "span"),
    ).select(
        "doc_id", "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def addresses_from_documents(documents: DataFrame) -> DataFrame:
    """ADDR text spans -> addresses(addr_id, x, y, fdi, doc_id)."""
    s = explode_spans(documents)
    a = s.filter((F.col("kind") == "text")
                 & F.col("text").startswith("ADDR|"))
    p = F.split("text", "\\|")
    return a.select(
        p.getItem(1).alias("addr_id"),
        p.getItem(2).cast("double").alias("x"),
        p.getItem(3).cast("double").alias("y"),
        p.getItem(4).cast("int").alias("fdi"),
        "doc_id",
    )


def veg_from_documents(documents: DataFrame) -> DataFrame:
    """VEG text spans -> veg_polygons(veg_id, bal_number, wkt, doc_id).

    WKT never contains '|' so a 4-way split with limit is exact.
    """
    s = explode_spans(documents)
    v = s.filter((F.col("kind") == "text")
                 & F.col("text").startswith("VEG|"))
    p = F.split("text", "\\|", 4)
    return v.select(
        p.getItem(1).alias("veg_id"),
        p.getItem(2).cast("int").alias("bal_number"),
        p.getItem(3).alias("wkt"),
        "doc_id",
    )


def reassemble_documents(spans: DataFrame) -> DataFrame:
    """Inverse of :func:`explode_spans` — used by the span-sequence
    round-trip invariant test (kind, text, media_ref, order must survive all
    engine stages, BASELINE.json input_hint)."""
    return spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
        ).alias("ordered")
    ).select(
        "doc_id",
        F.transform(
            "ordered",
            lambda s: F.struct(
                s.kind.alias("kind"), s.text.alias("text"),
                s.media_ref.alias("media_ref"), s.offset.alias("offset"))
        ).alias("spans"),
    )
