"""File formats — one table entry per format the engine reads and writes.

``writers.write_files`` and ``readers.read_files`` are the only file writer
and reader; each looks its format up in :data:`FORMATS`. An entry holds the
options the engine writes with, the "engine" read options that read those
files back losslessly, the "foreign" overrides for files other writers
produced, the inference options used when no schema is given, and the load
modes the format takes.

Load modes (reference core/loaders/sqlserver.py:244-288): ``append`` →
Spark ``append``; ``replace`` → ``overwrite`` (for JDBC plus
``truncate=true``, the reference's DELETE-rows-keep-DDL semantics);
``overwrite_partitions`` → ``overwrite`` with per-write
``partitionOverwriteMode=dynamic``, parquet only.
"""

from __future__ import annotations

from dataclasses import dataclass, field

BASIC_MODES = frozenset({"append", "replace"})


def spark_mode(mode: str, modes: frozenset[str]) -> str:
    """Check a load mode against the modes a target takes; return the
    Spark save mode it maps to."""
    if mode not in modes:
        raise ValueError(f"mode must be one of {set(modes)}, got {mode!r}")
    return "append" if mode == "append" else "overwrite"


@dataclass(frozen=True)
class FileFormat:
    write: dict[str, str] = field(default_factory=dict)  # options the engine writes with
    read: dict[str, str] = field(default_factory=dict)  # "engine" dialect: lossless read-back
    foreign: dict[str, str] = field(default_factory=dict)  # "foreign" dialect overrides of read
    infer: dict[str, str] = field(default_factory=dict)  # read options when no schema is given
    modes: frozenset[str] = BASIC_MODES  # load modes
    # takes partition_by: a Hive directory layout, where '' partition
    # values are canonicalized to NULL (writers._canonicalize_partition_keys)
    partitioned: bool = False


FORMATS: dict[str, FileFormat] = {
    # read_files delegates parquet to readers.read_parquet (ns-timestamp
    # probe, footer cache); overwrite_partitions is a partitioned-layout
    # mode and only the parquet writer takes it
    "parquet": FileFormat(modes=BASIC_MODES | {"overwrite_partitions"}, partitioned=True),
    # Spark's second native columnar format: same pushdown/pruning contract
    "orc": FileFormat(partitioned=True),
    # Spark's default CSV dialect writes NULL and '' alike as an empty
    # field, so '' reads back NULL, and trims values on write. The engine
    # writes NULL as \N (the Hive/MySQL dump convention), '' as "", and
    # values untrimmed. The foreign dialect reads a bare empty field as
    # NULL and \N as text, the convention of most external CSV writers.
    # Inference is an extra full pass over the data.
    "csv": FileFormat(
        write={"header": "true", "nullValue": "\\N",
               "ignoreLeadingWhiteSpace": "false", "ignoreTrailingWhiteSpace": "false"},
        read={"header": "true", "nullValue": "\\N"},
        foreign={"nullValue": ""},
        infer={"inferSchema": "true"},
    ),
    # ndjson is lossless as is: '' is written "k":"" and NULL fields are
    # omitted, which a schema-carrying read maps back to NULL
    "json": FileFormat(),
    # Spark-4 built-in (SPARK-44265), row per element. Spark trims element
    # text by default, right for pretty-printed foreign XML but lossy: ' a'
    # reads 'a' and an all-whitespace value reads ''. The engine writer
    # never pads element text, so the engine dialect reads untrimmed.
    "xml": FileFormat(
        write={"rowTag": "row"},
        read={"rowTag": "row", "ignoreSurroundingSpaces": "false"},
        foreign={"ignoreSurroundingSpaces": "true"},
    ),
}


def file_format(fmt: str) -> FileFormat:
    if fmt not in FORMATS:
        raise ValueError(f"unknown file format {fmt!r}; supported: {sorted(FORMATS)}")
    return FORMATS[fmt]
