"""JSONL (newline-delimited JSON) corpus source — the interchange
format LLM training corpora actually arrive in (extension; the
reference ingests only .xlsx — sources/ingest.py covers that front
door, this one covers bulk text corpora).

Scale design — the rejects channel does NOT use DataFrameReader's
``columnNameOfCorruptRecord`` + filter, because filtering on the
corrupt column requires caching the whole parsed frame (Spark refuses
the plan otherwise, and the cache is the corpus). Instead the file is
read as raw text lines and parsed per row with ``from_json`` carrying
a corrupt-record field INSIDE the struct: one pass, no cache, good
rows and rejects are two filters over the same scan, and Catalyst
prunes the unused branch when only one side is consumed."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: T.StructType) -> T.StructType:
    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(f"schema already contains {CORRUPT_COL}")
    return T.StructType(list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())])


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Read a JSONL file/directory into (good, rejects): ``good`` has
    exactly ``schema``'s columns, ``rejects`` carries the raw
    malformed lines — same contract as the blob parser's P2 rejects
    channel (operators/parse.py), applied to the corpus front door.

    Blank/whitespace-only lines are dropped before parsing (they are
    separators, not records). Non-blank lines that parse to a fully
    null struct (``null``, ``{}``) are routed to ``rejects`` — a
    document with no fields at all is not a usable corpus row, and
    letting it through as an all-null "good" row poisons downstream
    dedup/curation group keys."""
    raw = spark.read.text(path).where(F.length(F.trim(F.col("value"))) > 0)
    full = _with_corrupt(schema)
    parsed = raw.select(
        F.col("value").alias("_raw"),
        F.from_json(
            F.col("value"),
            full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("_j"),
    ).select("_raw", "_j.*")
    all_null = F.lit(True)
    for f in schema.fieldNames():
        all_null = all_null & F.col(f).isNull()
    bad = F.col(CORRUPT_COL).isNotNull() | all_null
    good = parsed.filter(~bad).drop(CORRUPT_COL, "_raw")
    rejects = parsed.filter(bad).select(
        F.coalesce(F.col(CORRUPT_COL), F.col("_raw")).alias("raw_line")
    )
    return good, rejects


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write a frame as JSONL (one JSON object per line), the format
    downstream tokenizer workers consume."""
    df.write.mode("overwrite").json(path)
