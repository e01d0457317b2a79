"""Output sinks — reference-parity JSON-object and headered-TSV writers
plus the scalable distributed variants.

Reference parity (citations into /root/reference):

* JSON-object sink — job_runner.ex:242-270: ONE top-level JSON object
  ``{"key": value, ...}`` streamed in 250-entry chunks
  (@write_chunk_size, job_runner.ex:12).
* Headered TSV sink — job_runner.ex:272-323: ``key\\tvalue`` lines
  under a ``# <sorted by <by> <dir>|unsorted> - Total: N entries``
  header.  In UNSORTED mode the reference back-patches the count by
  seeking to offset 0 over a 50-char placeholder; we reproduce the
  same seek-back trick (and the same 50-char pad), so unsorted files
  are byte-compatible in shape.  In SORTED mode the reference holds
  everything in memory, so it writes an UNPADDED header up front and
  joins rows without a trailing newline (job_runner.ex:313-320); we
  deliberately keep the one-pass streaming shape (padded header +
  newline-terminated rows) there instead — header TEXT matches, byte
  layout intentionally does not (the reference's in-memory sort is the
  thing this sink exists to avoid).

Both single-file writers stream via ``toLocalIterator`` — bounded
driver memory (one partition at a time), matching the reference's
chunked streaming.  They are FINAL-RESULT sinks: the object-shaped JSON
file is inherently single-writer (SURVEY.md §7.3).  For 100 TB
intermediate data use the distributed writers below — plain
``df.write`` with Spark's committer, one file per partition.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from mini_hadoop_spark.sources.catalog import read_parquet

WRITE_CHUNK_SIZE = 250  # job_runner.ex:12
_HEADER_PAD = 50  # job_runner.ex:286 String.pad_trailing(..., 50)


def write_json_object(pairs: DataFrame, path: str, chunk_size: int = WRITE_CHUNK_SIZE) -> int:
    """Write (key, value) rows as one JSON object; returns entry count.

    Streams partition-at-a-time (toLocalIterator) and flushes in
    ``chunk_size`` batches like job_runner.ex:252-263."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    count = 0
    with open(path, "w", encoding="utf-8") as f:
        f.write("{\n")
        batch: list[str] = []
        for row in pairs.toLocalIterator():
            prefix = "  " if count == 0 else ",\n  "
            batch.append(f"{prefix}{json.dumps(str(row[0]))}: {json.dumps(row[1])}")
            count += 1
            if len(batch) >= chunk_size:
                f.write("".join(batch))
                batch = []
        f.write("".join(batch))
        f.write("\n}")
    return count


def write_tsv_headered(
    pairs: DataFrame, path: str, sort_result_opt: tuple[str, str] | None = None
) -> int:
    """Write ``key\\tvalue`` lines with the reference's counted header.

    Unsorted mode streams rows then seek-back-patches the count into a
    50-char padded header line — the exact job_runner.ex:283-310
    mechanism and byte shape.  Sorted mode sorts DISTRIBUTED first
    (orderBy, not the reference's in-memory Enum.sort) and then streams
    through the SAME padded+seek-back path: the header text matches the
    reference but the byte layout does not (see module docstring) —
    matching it would require counting before streaming, an extra job
    per sink write."""
    from pyspark.sql import functions as F

    suffix = "unsorted" if sort_result_opt is None else (
        f"sorted by {sort_result_opt[0]} {sort_result_opt[1]}"
    )
    if sort_result_opt is not None:
        by, direction = sort_result_opt
        col = F.col("key") if by == "key" else F.col("value")
        primary = col.asc() if direction == "asc" else col.desc()
        tiebreak = F.col("value") if by == "key" else F.col("key")
        pairs = pairs.orderBy(primary, tiebreak.asc())

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    # pad must fit prefix + "<count> entries" for any 64-bit count (20
    # digits) — the reference's fixed 50-char pad silently corrupts row 1
    # past ~10^10 rows; widen only when the suffix forces it (byte-compat
    # with the reference whenever 50 suffices)
    prefix = f"# {suffix} - Total: "
    pad = max(_HEADER_PAD, len(prefix) + 20 + len(" entries"))
    placeholder = prefix.ljust(pad) + "\n"
    count = 0
    with open(path, "w", encoding="utf-8") as f:
        f.write(placeholder)
        batch: list[str] = []
        for row in pairs.toLocalIterator():
            batch.append(f"{row[0]}\t{row[1]}\n")
            count += 1
            if len(batch) >= WRITE_CHUNK_SIZE:
                f.writelines(batch)
                batch = []
        f.writelines(batch)
        header = f"{prefix}{count} entries".ljust(pad) + "\n"
        assert len(header) == len(placeholder), "header overflow would corrupt row 1"
        f.seek(0)
        f.write(header)
    return count


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact a parquet directory's small files — the operational pass
    every long-lived 100 TB table needs: streaming/micro-batch writers
    leave thousands of KB-scale part files, and scan throughput dies on
    per-file open overhead and starved row-groups.

    Strategy: size the rewrite by the directory's ACTUAL bytes
    (ceil(total/target)), write to a temp sibling, then atomically swap
    via two renames.  The rewrite is one shuffle-free coalesce when
    shrinking; data content is unchanged (same rows, no ordering
    contract — parquet directories never had one).

    Returns {files_before, files_after, bytes}.  At real scale this maps
    onto table-format compaction (Iceberg/Delta rewrite-data-files); on
    a plain directory the rename swap is the best available atomicity
    (single-filesystem metadata ops)."""
    import math
    import shutil as _shutil

    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and os.path.isfile(os.path.join(path, f))
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = read_parquet(spark, path)
    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    # coalesce, not repartition: merging never needs a shuffle
    df.coalesce(n_out).write.parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    _shutil.rmtree(old)
    after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    return {"files_before": len(files), "files_after": after, "bytes": total}


def write_json_distributed(df: DataFrame, path: str) -> None:
    """Scalable JSON-lines sink: one file per partition, Spark committer
    semantics — what the object-shaped sink cannot be at 100 TB."""
    df.write.mode("overwrite").json(path)


def write_tsv_distributed(df: DataFrame, path: str) -> None:
    """Scalable TSV sink (no header — headers and multi-file sinks do
    not compose; the count lives in the _SUCCESS-adjacent metadata)."""
    df.write.mode("overwrite").option("sep", "\t").csv(path)
