"""Ingest raw media files from a directory into the multimodal schema.

Spark's built-in ``binaryFile`` format reads each file as one row
(path, modificationTime, length, content) — the natural landing step
for image/audio/video corpora that arrive as files, feeding the
multimodal pipeline (operators/multimodal) without any Python I/O.

Scale notes:
- ``binaryFile`` lists and reads files in parallel across executors;
  one file = one row = one task-side read. Millions of tiny files are a
  LISTING bottleneck (driver-side file index) — compact them into
  parquet with the payload column (``to_media_table`` + write) and do
  all downstream work against the compacted table, not the raw files.
- ``pathGlobFilter`` prunes by extension at listing time (only matching
  files are even opened); ``recursiveFileLookup`` walks nested shard
  dirs. Spark caps inlined file size via
  ``spark.sql.sources.binaryFile.maxLength`` (default 2 GB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: extension → (modality, mime); anything else lands as ("binary", octet-stream)
_EXT_MODALITY = {
    "jpg": ("image", "image/jpeg"),
    "jpeg": ("image", "image/jpeg"),
    "png": ("image", "image/png"),
    "wav": ("audio", "audio/wav"),
    "mp3": ("audio", "audio/mpeg"),
    "mp4": ("video", "video/mp4"),
    "mkv": ("video", "video/x-matroska"),
}


def read_binary_dir(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
) -> DataFrame:
    """Raw recursive binaryFile read: (path, modificationTime, length,
    content)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.option("recursiveFileLookup", "true").load(path)


def to_media_table(files: DataFrame) -> DataFrame:
    """Conform a binaryFile read to the multimodal MEDIA_SCHEMA shape.

    media_id is the xxhash64 of the file path — content-addressed-ish,
    stable across re-ingestions of the same layout; modality/mime derive
    from the extension. Width/height/duration stay null at ingest (they
    come from decode, downstream); the meta struct keeps the canonical
    field set so ingested rows union cleanly with decoded ones.
    """
    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    modality = F.lit("binary")
    mime = F.lit("application/octet-stream")
    for e, (mod, mm) in _EXT_MODALITY.items():
        modality = F.when(ext == e, mod).otherwise(modality)
        mime = F.when(ext == e, mm).otherwise(mime)
    return files.select(
        F.xxhash64("path").alias("media_id"),
        modality.alias("modality"),
        F.col("content").alias("payload"),
        F.struct(
            mime.alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
        F.col("path").alias("source_path"),
    )
