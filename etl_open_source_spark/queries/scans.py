"""Scan/source/sink queries (SURVEY.md §2.C "Scans / sources / sinks").

CSV/JSON scans are exercised by round-tripping fixture data through a temp
directory: write with the engine's writers, read back with explicit schemas
(never inferSchema at scale — it is an extra full pass), compare against the
parquet-backed oracle. Lossless by construction: the round-tripped columns
are integers, strings, and shortest-repr doubles.

Output-order contract: every ORDER BY key here is nullable (the sink
round-trips deliberately pass '' / NULL groups through the serializers), and
Spark's ASC default is NULLS FIRST while DuckDB's is NULLS LAST — so each
orderBy pins ``asc_nulls_last()`` explicitly. The driver compares
order-insensitively today; the pin removes the latent divergence if any
comparison ever becomes order-sensitive (ADVICE r9).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_open_source_spark.catalog import cleanup_at_exit, load_table, scratch_dir
from etl_open_source_spark.registry import query
from etl_open_source_spark.sources.readers import read_files, read_parquet
from etl_open_source_spark.sources.writers import write_files

_TMP_ROOT = os.path.join(tempfile.gettempdir(), "etl_open_source_spark_io")


def _tmp(sf_dir: str, name: str) -> str:
    """Per-process, sf-scoped scratch path for sink round-trips.

    The tag dir is keyed by (sf basename, pid) and removed at interpreter
    exit (catalog.cleanup_at_exit): every round-trip is write-then-read
    within one query fn, so nothing is shared across processes — the old
    shared per-sf dir only ever enabled the concurrent mode=replace
    mid-flight hazard (see q_backfill_partition's note) and leaked one
    dir per unique sf_dir basename (2,079 of them on the r12 box, one
    per pytest tmp_path fixture)."""
    tag = f"{os.path.basename(os.path.normpath(sf_dir))}-{os.getpid()}"
    return os.path.join(cleanup_at_exit(os.path.join(_TMP_ROOT, tag)), name)


@query(
    "q_scan_parquet",
    oracle="SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_extendedprice, l_shipdate FROM lineitem",
    tags=("scan",),
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan with column pruning — only the projected columns are
    read (check ReadSchema in .explain)."""
    return read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice", "l_shipdate"
    )


@query(
    "q_scan_csv",
    oracle="SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity, l_extendedprice FROM lineitem",
    tags=("scan",),
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with an explicit schema (header on). Round-trip:
    parquet → csv → read."""
    cols = ["l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice"]
    src = load_table(spark, sf_dir, "lineitem").select(*cols)
    path = _tmp(sf_dir, "lineitem_csv")
    write_files(src, path, "csv", "replace")
    schema = "l_orderkey bigint, l_linenumber int, l_returnflag string, l_quantity double, l_extendedprice double"
    return read_files(spark, path, "csv", schema, dialect="engine")


@query(
    "q_scan_json",
    oracle="SELECT event_id, user_id, event_type, value, props FROM events",
    tags=("scan",),
)
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan with explicit schema (splittable, parallel)."""
    cols = ["event_id", "user_id", "event_type", "value", "props"]
    src = load_table(spark, sf_dir, "events").select(*cols)
    path = _tmp(sf_dir, "events_json")
    write_files(src, path, "json", "replace")
    schema = "event_id bigint, user_id bigint, event_type string, value double, props string"
    return read_files(spark, path, "json", schema, dialect="engine")


@query(
    "q_sink_parquet_roundtrip",
    oracle="""
SELECT NULLIF(o_orderstatus, '') AS o_orderstatus, COUNT(*) AS cnt
FROM orders
WHERE o_totalprice > 100000
GROUP BY NULLIF(o_orderstatus, '')
ORDER BY o_orderstatus
""",
    tags=("sink",),
)
def q_sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-then-read parquet sink (replace mode), partitioned by the
    grouping key — partitioned layout means downstream readers prune.

    The read-back passes the source schema explicitly: an EMPTY filtered
    input writes no part files under partitionBy, and schema inference on
    the bare directory would crash where the schema-carrying read returns
    a correct empty frame (adversarial fixture pins this).

    Partition-key contract (randomized IO catch): a Hive directory layout
    cannot represent an empty-string partition value — Spark writes ''
    and NULL alike as __HIVE_DEFAULT_PARTITION__ and reads back NULL.
    The engine writer canonicalizes '' → NULL explicitly at write time
    (sources/writers.py) and the oracle mirrors with NULLIF."""
    src = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    path = _tmp(sf_dir, "orders_sink")
    write_files(src, path, "parquet", "replace", partition_by=["o_orderstatus"])
    back = read_parquet(spark, path, schema=src.schema)
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("o_orderstatus").asc_nulls_last())
    )


@query(
    "q_sink_csv_roundtrip",
    oracle="""
SELECT c_custkey, c_name, c_nationkey, c_acctbal
FROM customer
WHERE c_acctbal > 0
""",
    tags=("sink",),
)
def q_sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV loader round-trip: write_files → read_files in the engine
    dialect with an explicit schema. Covers the reference's
    declared-but-stubbed CSV loader (reference core/loaders/csv.py,
    0-byte; dispatch commented at core/engine.py:175-188). Lossless:
    int/string/double columns only."""
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal"]
    src = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0).select(*cols)
    path = _tmp(sf_dir, "customer_csv_sink")
    write_files(src, path, "csv", "replace")
    schema = "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double"
    return read_files(spark, path, "csv", schema, dialect="engine")


@query(
    "q_sink_orc_roundtrip",
    oracle="""
SELECT NULLIF(l_returnflag, '') AS l_returnflag, l_linestatus,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY NULLIF(l_returnflag, ''), l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("sink",),
)
def q_sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink round-trip: filter lineitem, write ORC partitioned by the
    grouping key, re-read, aggregate. ORC is Spark's second native
    columnar format (OrcFileFormat: same pushdown + pruning contract as
    parquet) — the roundtrip is lossless for int/string/date columns, so
    the oracle aggregates the original table. Rounds out the reference's
    stubbed loader matrix (core/loaders/*.py are all 0-byte).

    The read-back passes the source schema explicitly (same empty-
    partitioned-write contract as q_sink_parquet_roundtrip), and both
    sides FLOOR before the bigint cast — Spark's cast truncates where
    DuckDB's rounds (randomized IO differential)."""
    src = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= "1995-01-01")
        .select("l_returnflag", "l_linestatus", "l_quantity")
    )
    path = _tmp(sf_dir, "lineitem_orc_sink")
    write_files(src, path, "orc", "replace", partition_by=["l_returnflag"])
    back = read_files(spark, path, "orc", src.schema, dialect="engine")
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
        )
        .orderBy(F.col("l_returnflag").asc_nulls_last(), F.col("l_linestatus").asc_nulls_last())
    )


@query(
    "q_scan_text",
    oracle="""
SELECT MD5(line) AS line_md5, STRLEN(line) AS n_bytes
FROM (SELECT unnest(string_split(text, chr(10))) AS line FROM documents)
""",
    tags=("scan",),
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-text line ingestion — the corpus format before any structure:
    write one doc per line, read with spark.read.text (splittable;
    parallel line scanning). Verified by per-line md5 against the source
    table.

    Two line-format contracts the adversarial fixture pins: a doc with an
    EMBEDDED newline becomes multiple records (the oracle mirrors the
    split — for true multi-line docs use wholetext=True or a
    record-separator format), and n_bytes is octet_length (UTF-8 bytes,
    what the file actually stores — char-counting length() silently
    undercounts non-ASCII). NULL documents are excluded before the write
    on both sides: a text file has no NULL representation — Spark writes
    an empty line that reads back as '' (silent NULL→'' corruption,
    caught by the randomized documents differential)."""
    src = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("text")
    )
    path = _tmp(sf_dir, "documents_txt")
    src.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.select(
        F.md5("value").alias("line_md5"),
        F.octet_length("value").cast("bigint").alias("n_bytes"),
    )


@query(
    "q_scan_partition_pruned",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS cnt,
       CAST(SUM(CAST(CASE WHEN ISFINITE(o_totalprice) THEN o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("scan", "sink", "scale"),
)
def q_scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout end-to-end: write orders partitioned by
    o_orderstatus, read back with a partition-column filter, aggregate.
    The filter must resolve as a PARTITION filter (directory pruning at
    planning time — tests/test_plan_shape.py pins PartitionFilters in
    the scan), not a row predicate: at 100 TB the difference is reading
    one partition's files vs scanning everything and discarding 2/3.
    The read-back passes the source schema explicitly (the empty-input
    partitioned-write class: zero rows → zero partition dirs → schema
    inference crashes where the schema-carrying read returns empty);
    partition discovery still runs off the directories, so the
    PartitionFilters pin is unaffected."""
    src = load_table(spark, sf_dir, "orders")
    path = _tmp(sf_dir, "orders_part_pruned")
    write_files(src, path, "parquet", "replace", partition_by=["o_orderstatus"])
    back = read_parquet(spark, path, schema=src.schema)
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .orderBy(F.col("o_orderpriority").asc_nulls_last())
    )


@query(
    "q_sink_json_roundtrip",
    oracle="""
SELECT event_type,
       COUNT(*) AS cnt,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
       CAST(SUM(user_id) AS BIGINT) AS sum_user
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("sink",),
)
def q_sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink round-trip, completing the sink matrix
    (parquet/csv/orc/text/json — the reference's loader matrix is all
    0-byte stubs, core/loaders/*.py): write ndjson with the engine
    writer, re-read with an EXPLICIT schema (schema inference is an
    extra full pass — never at scale), aggregate. Integer/string columns
    only, so the trip is lossless by construction and the oracle
    aggregates the original table.

    Representation contract (VERDICT r8 item 4): NO pre-sink filter —
    every event_type value, including the hostile classes '' and NULL,
    must pass THROUGH the serializer and come back distinct. ndjson is
    lossless here by construction: Spark writes '' as ``"k":""`` and
    omits NULL fields, and the schema-carrying read maps the missing
    field back to NULL — '' and NULL never conflate (unlike CSV's bare
    dialect or Hive partition directories)."""
    src = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = _tmp(sf_dir, "events_json_sink")
    write_files(src, path, "json", "replace")
    back = read_files(
        spark, path, "json", "event_id bigint, user_id bigint, event_type string",
        dialect="engine",
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            F.sum("user_id").cast("bigint").alias("sum_user"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


@query(
    "q_scan_merge_schema",
    oracle="""
SELECT o_orderkey, o_totalprice,
       CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END AS priority
FROM orders
""",
    tags=("scan",),
)
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet batches written with DIFFERENT
    schemas (the second grew a 'priority' column) read back as one table
    via mergeSchema=true — older files' missing column surfaces as NULL.
    The ingest reality of any long-lived dataset; the alternative
    (positional or first-file schema) silently drops the new column.

    At scale, footer-merging every file is itself a cost — production
    tables pin the merged schema in a catalog/table format and read
    WITHOUT mergeSchema; this query exercises the evolution mechanics."""
    o = load_table(spark, sf_dir, "orders")
    path = _tmp(sf_dir, "orders_evolving")
    even = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    odd = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", F.col("o_orderpriority").alias("priority")
    )
    write_files(even, path, "parquet", "replace")
    write_files(odd, path, "parquet", "append")
    return spark.read.option("mergeSchema", "true").parquet(path).select(
        "o_orderkey", "o_totalprice", "priority"
    )


@query(
    "q_scan_csv_permissive",
    oracle="""
SELECT COUNT(CASE WHEN o_orderkey % 50 <> 0 THEN 1 END) AS n_good,
       COUNT(CASE WHEN o_orderkey % 50 = 0 THEN 1 END) AS n_corrupt,
       CAST(SUM(CASE WHEN o_orderkey % 50 <> 0
                     THEN CAST(CASE WHEN ISFINITE(o_totalprice) THEN o_totalprice END AS DECIMAL(18,4)) END) AS DOUBLE) AS sum_good
FROM orders
""",
    tags=("scan",),
)
def q_scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant CSV ingestion: a feed where every 50th record is
    garbage (non-numeric junk in EVERY field — with CSV column pruning,
    a bad token in an unreferenced column is never parsed and the row
    silently passes as good, so a quarantine fixture must corrupt every
    position) is read in PERMISSIVE mode with columnNameOfCorruptRecord:
    bad lines land in a quarantine column instead of killing the job
    (FAILFAST) or vanishing silently (DROPMALFORMED). The result row
    audits the split: good rows, corrupt rows, exact checksum over the
    good side.

    This is the ingest posture for 100 TB of third-party data — the
    corrupt column is scan-local, the quarantined raw lines stay
    reprocessable, and the feed's health is one aggregate away. (The
    reference's pandas read_sql path has no analog; a bad row kills the
    whole extract.)"""
    o = load_table(spark, sf_dir, "orders")
    lines = o.select(
        F.when(
            F.col("o_orderkey") % 50 == 0,
            F.concat(F.lit("corrupt_key_"), F.col("o_orderkey").cast("string"),
                     F.lit(",corrupt_price")),
        )
        .otherwise(
            F.concat_ws(",", F.col("o_orderkey").cast("string"),
                        F.col("o_totalprice").cast("string"))
        )
        .alias("value")
    )
    path = _tmp(sf_dir, "orders_feed_csv")
    lines.coalesce(4).write.mode("overwrite").text(path)
    back = read_files(
        spark, path, "csv", "o_orderkey bigint, o_totalprice double, _corrupt string",
        header="false", mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt",
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt").isNull(), F.col("o_totalprice").cast("decimal(18,4)"))
        )
        .cast("double")
        .alias("sum_good"),
    )


@query(
    "q_sink_xml_roundtrip",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS cnt,
       MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key,
       CAST(SUM(c_nationkey) AS BIGINT) AS sum_nation
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    tags=("sink",),
)
def q_sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink round-trip — Spark 4 merged spark-xml into core
    (SPARK-44265), so the sink matrix (parquet/csv/json/orc/text) gains
    XML with zero extra jars: write row-per-element XML, re-read with an
    EXPLICIT schema (XML inference is a full StAX parse pass — never at
    scale), aggregate. Integer/string columns only, so the trip is
    lossless and the oracle aggregates the original table.

    Representation contract (VERDICT r8 item 4): NO pre-sink filter —
    every c_mktsegment value ('' , NULL, whitespace-padded, <&>-bearing)
    passes THROUGH the serializer. XML writes '' as ``<t></t>`` and
    omits NULL elements, so ''-vs-NULL survives; but the read back MUST
    use the engine dialect, which reads element text untrimmed — Spark's
    trimming default mutates ``' lead'`` → ``'lead'`` and collapses
    all-whitespace values to '', which the randomized differential
    catches the moment the pool contains a padded value."""
    src = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    path = _tmp(sf_dir, "customer_xml_sink")
    write_files(src, path, "xml", "replace", rowTag="customer")
    back = read_files(
        spark, path, "xml", "c_custkey bigint, c_nationkey int, c_mktsegment string",
        dialect="engine", rowTag="customer",
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
            F.sum("c_nationkey").cast("bigint").alias("sum_nation"),
        )
        .orderBy(F.col("c_mktsegment").asc_nulls_last())
    )


@query(
    "q_scan_binary_files",
    oracle="""
SELECT * FROM (VALUES
  ('a.bin', CAST(16 AS BIGINT), '1ac1ef01e96caf1be0d329331a4fc2a8'),
  ('b.bin', CAST(19 AS BIGINT), 'f509674f5ad67b6a377b716d5c1ba31c'),
  ('c.bin', CAST(64 AS BIGINT), 'aabd2b2a451504e119a243d8e775fdad')
) AS t(name, n_bytes, md5)
""",
    tags=("scan", "multimodal"),
)
def q_scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingestion via Spark's ``binaryFile`` source — the
    entry point for raw media corpora (images/audio on a shared
    filesystem or object store) before the multimodal stages
    (operators/multimodal.py) take over. Emits per-file name, byte
    length, and content MD5; the query writes a deterministic 3-file
    fixture first, so the oracle is a constant table of precomputed
    hashes — the scan's content bytes are value-verified end to end.

    At scale the source parallelizes per file and supports
    ``pathGlobFilter``/``recursiveFileLookup``; files stream through as
    binary columns, never driver-collected."""
    # fresh per-run directory: a fixed shared path + exist_ok would scan
    # any stale file a concurrent or older run left behind, breaking the
    # constant-table oracle (ADVICE r6) — mkdtemp keeps the scan's input
    # exactly the 3 fixture files, like the other round-trip queries
    # (removed at interpreter exit, after the returned frame's lazy read)
    d = scratch_dir("etl_scan_binary_demo_")
    payloads = {
        "a.bin": bytes(range(16)),
        "b.bin": b"spark-binary-source",
        "c.bin": bytes([255] * 64),
    }
    for name, blob in payloads.items():
        with open(os.path.join(d, name), "wb") as fh:
            fh.write(blob)
    df = spark.read.format("binaryFile").load(d)
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("name"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("md5"),
    )
