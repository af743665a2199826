"""Extension -> MIME type lookup (reference A6, src/fs.rs:56-58).

One rule in two forms, over one static table (``EXTENSION_MIME``):
the extension is the lowercased text after the name's last '.', and a
name with no '.' or an unknown extension has no mime type.

- :func:`mime_type` is the per-file Python lookup, like the
  reference's: the fs scrape builds its record batches in Python, on
  the driver or the executors (sources/fs.py), so the lookup runs
  there, with no Spark SQL on the path.
- :func:`with_mime_type` is the JVM form for rows that already live in
  a DataFrame (the S3 listing, the streaming scrapes): a literal map
  probed with ``try_element_at``, folded into the plan as a constant
  and run inside whole-stage codegen — no join, no broadcast job, no
  Python UDF.

``tests/test_sources.py`` checks the two agree, on hypothesis-generated
names too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deterministic subset of the IANA registry (public knowledge), lowercase.
EXTENSION_MIME: dict[str, str] = {
    "txt": "text/plain",
    "csv": "text/csv",
    "html": "text/html",
    "htm": "text/html",
    "css": "text/css",
    "js": "text/javascript",
    "json": "application/json",
    "xml": "application/xml",
    "pdf": "application/pdf",
    "zip": "application/zip",
    "gz": "application/gzip",
    "tar": "application/x-tar",
    "parquet": "application/vnd.apache.parquet",
    "avro": "application/avro",
    "png": "image/png",
    "jpg": "image/jpeg",
    "jpeg": "image/jpeg",
    "gif": "image/gif",
    "webp": "image/webp",
    "svg": "image/svg+xml",
    "mp3": "audio/mpeg",
    "wav": "audio/wav",
    "flac": "audio/flac",
    "mp4": "video/mp4",
    "mkv": "video/x-matroska",
    "webm": "video/webm",
    "md": "text/markdown",
    "py": "text/x-python",
    "rs": "text/x-rust",
}


def mime_type(filename: str | None) -> str | None:
    """Python twin of :func:`with_mime_type` for one name."""
    if filename is None or "." not in filename:
        return None
    return EXTENSION_MIME.get(filename.rpartition(".")[2].lower())


def extension_col(filename: Column) -> Column:
    """Lowercased extension, NULL when the name has no '.'."""
    ext = F.lower(F.substring_index(filename, ".", -1))
    return F.when(filename.contains("."), ext).otherwise(F.lit(None))


def with_mime_type(df: DataFrame, filename_col: str = "filename") -> DataFrame:
    """Attach mime_type by literal-map lookup; NULL when unknown or the
    name has no extension (matches the reference's Option<String>,
    src/db.rs:13)."""
    mime_map = F.create_map(
        *(F.lit(x) for kv in sorted(EXTENSION_MIME.items()) for x in kv)
    )
    return df.withColumn(
        "mime_type", F.try_element_at(mime_map, extension_col(F.col(filename_col)))
    )
