"""File-drop feed ingestion with consume-once semantics (SURVEY §2.1).

Reference behavior (``dags/emission-dag.py:35-66``): each feed dir may
contain a CSV; if present, read it and ``shutil.move`` it to an archive
dir with a timestamp suffix; if absent, substitute an empty DataFrame
with the declared columns (schema contract).

Spark-first notes:
- explicit ``StructType`` on the scan — no inference pass, no drift
- the reference archives BEFORE the load, so a mid-run crash loses the
  batch (SURVEY §4.5); we expose ``archive_consumed`` for the caller to
  invoke AFTER its write commits — crash-safe ordering. This module is
  the only file-drop ingest path: the product is the scheduled batch
  tick, so there is no streaming file source beside it.
- at 100 TB a "feed" is a directory of many files; everything here is
  glob-based, not single-file.
"""

from __future__ import annotations

import glob
import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

ARCHIVE_TS_FMT = "%d_%m_%Y_%H_%M_%S"  # reference suffix format


def feed_files(incoming_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(incoming_dir, "*.csv")))


def read_feed(
    spark: SparkSession,
    incoming_dir: str,
    schema: StructType,
    rename: dict[str, str] | None = None,
) -> tuple[DataFrame, list[str]]:
    """Read all pending CSVs (each with a header row) for a feed, or an
    empty schema-contract DataFrame when none are pending. Returns
    (df, consumed_paths)."""
    files = feed_files(incoming_dir)
    if not files:
        out_schema = schema
        if rename:
            out_schema = StructType(
                [f.__class__(rename.get(f.name, f.name), f.dataType, True) for f in schema.fields]
            )
        return spark.createDataFrame([], out_schema), []
    df = spark.read.csv(files, header=True, schema=schema)
    if rename:
        df = df.withColumnsRenamed(rename)
    return df, files


def archive_consumed(files: list[str], archive_dir: str) -> list[str]:
    """Move consumed files to the archive dir with the reference's
    timestamp suffix. Call AFTER the downstream write commits."""
    os.makedirs(archive_dir, exist_ok=True)
    ts = datetime.now(timezone.utc).strftime(ARCHIVE_TS_FMT)
    moved = []
    for path in files:
        stem, ext = os.path.splitext(os.path.basename(path))
        dest = os.path.join(archive_dir, f"{stem}_{ts}{ext}")
        shutil.move(path, dest)
        moved.append(dest)
    return moved
