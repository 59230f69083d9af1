"""Readers/sinks for the web-pages input and stage tables.

Input shape per BASELINE input_hint:
(url string, warc_ts timestamp, html binary, text string, lang string).
The driver's `documents` table (doc_id, text, lang, source, n_chars) is
the small-scale stand-in; `load_pages` normalizes either to the engine's
working schema (url, sample_id, text, lang).

Extraction invariant: `extract_text` is pure and deterministic —
byte-identical `text` per url versus the reference extractor. On the
stand-in tables text is already extracted, so extraction is the identity;
for raw html rows it is a deterministic tag-strip (documented, tested).

Sinks (S4/S5): every stage table is parquet partitioned by part_id where
applicable — the columnar replacement for kmtricks' binary record streams
(io/*_file.hpp) and its KmDir run layout (kmdir.hpp:195-241).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def extract_text(df: DataFrame) -> DataFrame:
    """Deterministic text extraction from html binary (pure Column expr).

    Minimal tag-strip: decode utf-8, drop <...> spans, collapse runs of
    whitespace, trim. For rows that already carry text, prefer it — the
    byte-identity invariant is then trivially preserved.
    """
    html_txt = F.decode(F.col("html"), "UTF-8")
    stripped = F.trim(
        F.regexp_replace(F.regexp_replace(html_txt, "<[^>]*>", " "), "\\s+", " ")
    )
    return df.withColumn(
        "text", F.coalesce(F.col("text"), stripped)
    )


def load_pages(
    spark: SparkSession,
    path: str,
    sample_col: str | None = None,
    lang: str | None = None,
) -> DataFrame:
    """Load a pages/documents table and normalize to
    (url, sample_id, text, lang). Metadata predicates (S3 analogue —
    the BAM-filter flags become column filters) push down to the scan."""
    df = spark.read.parquet(path)
    cols = set(df.columns)
    if "url" not in cols and "doc_id" in cols:
        df = df.withColumn("url", F.col("doc_id").cast("string"))
    if sample_col is None:
        sample_col = "source" if "source" in cols else "url"
    if "html" in cols and "text" in cols:
        df = extract_text(df)
    out = df.withColumn("sample_id", F.col(sample_col))
    if lang is not None:
        out = out.where(F.col("lang") == lang)
    return out.select("url", "sample_id", "text", *(["lang"] if "lang" in cols else []))


def write_stage(df: DataFrame, run_dir: str, stage: str, partition_by: list[str] | None = None):
    """Stage sink: parquet under <run_dir>/<stage>/ (KmDir analogue)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(os.path.join(run_dir, stage))


def read_stage(spark: SparkSession, run_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(run_dir, stage))


def stage_partition_rows(
    spark: SparkSession, run_dir: str, stage: str, part_col: str = "part_id"
) -> dict[str, int]:
    """{part value: rows} of the non-empty partitions, ascending, of a stage
    table written partitioned by the int column ``part_col``: summed from
    its parquet footers, which parquet reads in this process through the
    session's Hadoop FileSystem (any filesystem, no Spark job; hidden files
    such as _SUCCESS are skipped)."""
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(os.path.join(run_dir, stage))
    footers = jvm.org.apache.parquet.hadoop.ParquetFileReader.readAllFootersInParallel(
        conf, root.getFileSystem(conf).getFileStatus(root), False
    )
    rows: dict[int, int] = {}
    for i in range(footers.size()):  # indexed gets: py4j list iteration is far slower
        footer = footers.get(i)
        part = int(footer.getFile().getParent().getName()[len(part_col) + 1:])
        blocks = footer.getParquetMetadata().getBlocks()
        n = sum(blocks.get(j).getRowCount() for j in range(blocks.size()))
        rows[part] = rows.get(part, 0) + n
    return {str(p): n for p, n in sorted(rows.items()) if n}
