"""Scans, sources/sinks, projections, filters (SURVEY.md §2.1-§2.2).

Re-expresses the reference loader's scan/parse/project/filter surface
(load.ts:152-165, utils.ts:10-29, load.ts:93-108 in /root/reference)
as declarative Spark plans over the driver's star schema. Each query
has a DuckDB oracle; engine-boundary floats go through DECIMAL.

Scale notes (100 TB posture):
- Projections/filters are plain select/filter so Catalyst pushes them
  into the parquet scan (PushedFilters / ReadSchema).
- The anti-join (already-loaded manifest check, load.ts:98-108) is a
  broadcast left-anti at scale: the manifest is tiny next to the file
  fact table.
- The row_number() resume-offset port is single-key windowed only for
  semantic parity; at scale resume is file-granular (the manifest),
  never a global row sort.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from voter_file_etl_spark.registry import register
from voter_file_etl_spark.session import materialize
from voter_file_etl_spark.sources.publish import publish_swap
from voter_file_etl_spark.tables import t


def _tmp_dir(name: str) -> str:
    """Stable per-user scratch dir for write-roundtrip queries."""
    d = os.path.join(tempfile.gettempdir(), "voter_file_etl_spark", name)
    os.makedirs(d, exist_ok=True)
    return d


# ---------------------------------------------------------------------------
# S1 — ordered file scan: list files, parse numeric prefix, sort.
# Reference: utils.ts:10-29 (getLocalFiles sorts by parseInt of the
# `--`-split prefix). Modeled over the documents.source registry.
# ---------------------------------------------------------------------------
@register(
    "s1_file_scan",
    oracle="""
    SELECT CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INTEGER) AS seq,
           concat(regexp_extract(source, 'src([0-9]+)', 1), '--', upper(source),
                  '--20250101.tab') AS filename
    FROM (SELECT DISTINCT source FROM documents)
    ORDER BY seq
    """,
)
def s1_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    seq = F.regexp_extract(F.col("source"), "src([0-9]+)", 1)
    return (
        docs.select("source")
        .distinct()
        .select(
            seq.cast("int").alias("seq"),
            F.concat(seq, F.lit("--"), F.upper("source"), F.lit("--20250101.tab")).alias(
                "filename"
            ),
        )
        .orderBy("seq")
    )


# ---------------------------------------------------------------------------
# S2 — delimited text read: header, tab separator, FAILFAST strictness.
# Reference: load.ts:152-165 (csv-parser, separator \t, strict). The
# query writes a TSV projection and reads it back with an explicit
# schema — no inferSchema, mirroring the reference's declared-schema
# parse — then aggregates (decimal-exact) for the oracle compare.
# ---------------------------------------------------------------------------
@register(
    "s2_csv_read",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def s2_csv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _tmp_dir("s2_csv")
    (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .csv(out)
    )
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("sep", "\t")
        .option("header", True)
        .option("mode", "FAILFAST")
        .csv(out)
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# S6 — line count for the load manifest. Reference: utils.ts:53-68
# (`wc -l` via child process) — here a distributed scan count.
# ---------------------------------------------------------------------------
@register("s6_count", oracle="SELECT count(*) AS n_lines FROM lineitem")
def s6_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_lines"))


# ---------------------------------------------------------------------------
# S7 — batched sink + read-back. Reference: load.ts:347-376 buffers
# 1000-row batches into createMany(skipDuplicates). Spark-native: a
# partitioned parquet write (per-partition writers are the batching),
# read back and reconciled.
# ---------------------------------------------------------------------------
@register(
    "s7_write_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def s7_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _tmp_dir("s7_parquet")
    t(spark, sf_dir, "orders").write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# S8 — manifest bookkeeping. Reference: download.ts:86-92 inserts a
# (Filename, State, Lines, Loaded) row per file; load.ts:287-294 flips
# Loaded after publish. Modeled as the derived manifest of the
# documents corpus grouped by source "file".
# ---------------------------------------------------------------------------
@register(
    "s8_manifest",
    oracle="""
    SELECT concat(upper(source), '.tab') AS filename,
           upper(source) AS state,
           count(*) AS lines,
           count(*) >= 20 AS loaded
    FROM documents
    GROUP BY source
    """,
)
def s8_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("lines"))
        .select(
            F.concat(F.upper("source"), F.lit(".tab")).alias("filename"),
            F.upper("source").alias("state"),
            "lines",
            (F.col("lines") >= 20).alias("loaded"),
        )
    )


# ---------------------------------------------------------------------------
# P1 — schema projection (column pruning at parse). Reference:
# load.ts:159-165 mapHeaders drops non-schema columns. In Spark the
# select IS the pruning — .explain shows ReadSchema with only these.
# ---------------------------------------------------------------------------
@register(
    "p1_project",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
)
def p1_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")


# ---------------------------------------------------------------------------
# P2 — null normalization: empty string -> NULL. Reference:
# load.ts:31-34 drops ''/null/undefined fields before insert.
# ---------------------------------------------------------------------------
@register(
    "p2_nullif",
    oracle="""
    SELECT doc_id,
           nullif(CASE WHEN lang = 'en' THEN '' ELSE lang END, '') AS lang_norm,
           coalesce(nullif(CASE WHEN lang = 'en' THEN '' ELSE lang END, ''),
                    'unknown') AS lang_filled
    FROM documents
    """,
)
def p2_nullif(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    raw = F.when(F.col("lang") == "en", F.lit("")).otherwise(F.col("lang"))
    norm = F.nullif(raw, F.lit(""))
    return docs.select(
        "doc_id",
        norm.alias("lang_norm"),
        F.coalesce(norm, F.lit("unknown")).alias("lang_filled"),
    )


# ---------------------------------------------------------------------------
# P3 + F4 — type casting: int, date, string, and the reference's
# MM/dd/yyyy date round-trip (load.ts:36-42; Voter.prisma:68 comment).
# floor() before the int cast: Spark truncates double->int, DuckDB
# rounds — floor makes both exact and identical.
# ---------------------------------------------------------------------------
@register(
    "p3_cast",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(floor(l_quantity) AS INTEGER) AS qty_int,
           CAST(l_shipdate AS DATE) AS ship_day,
           CAST(l_orderkey AS VARCHAR) AS key_str,
           CAST(strptime(strftime(l_shipdate, '%m/%d/%Y'), '%m/%d/%Y') AS DATE)
               AS reg_date
    FROM lineitem
    """,
)
def p3_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    mmddyyyy = F.date_format("l_shipdate", "MM/dd/yyyy")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_quantity").cast("int").alias("qty_int"),
        F.col("l_shipdate").cast("date").alias("ship_day"),
        F.col("l_orderkey").cast("string").alias("key_str"),
        F.to_date(mmddyyyy, "MM/dd/yyyy").alias("reg_date"),
    )


# ---------------------------------------------------------------------------
# P4 — substring-containment predicate. Reference: load.ts:94-96
# (skip files whose name contains DEMOGRAPHIC).
# ---------------------------------------------------------------------------
@register(
    "p4_filter_contains",
    oracle="""
    SELECT doc_id, source, n_chars FROM documents
    WHERE text LIKE '%vector%' AND text NOT LIKE '%hash%'
    """,
)
def p4_filter_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return docs.filter(
        F.col("text").contains("vector") & ~F.col("text").contains("hash")
    ).select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------------------
# P5 — prefix/suffix predicates. Reference: utils.ts:14-16 (.tab
# suffix), download.ts:33-35 (.zip), load-s3.ts:93-98 (key prefix).
# ---------------------------------------------------------------------------
@register(
    "p5_filter_prefix",
    oracle="""
    SELECT p_partkey, p_name, p_type FROM part
    WHERE p_name LIKE 'large%' AND p_name LIKE '%bolt'
    """,
)
def p5_filter_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part")
    return part.filter(
        F.col("p_name").startswith("large") & F.col("p_name").endswith("bolt")
    ).select("p_partkey", "p_name", "p_type")


# ---------------------------------------------------------------------------
# P6 — already-loaded anti-filter. Reference: load.ts:98-108 skips a
# file when a manifest row with Loaded=true exists. At scale: tiny
# manifest broadcast against the file fact side, left-anti join.
# ---------------------------------------------------------------------------
@register(
    "p6_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def p6_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    urgent = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return customer.join(urgent, "c_custkey", "left_anti").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# P7 — resume offset window. Reference: load.ts:61-64,172-180 skips
# the first `resume` rows then loads a bounded slice. Port: ordered
# row_number over a unique key, half-open slice.
# ---------------------------------------------------------------------------
@register(
    "p7_offset_window",
    oracle="""
    SELECT o_orderkey, o_orderstatus, rn
    FROM (SELECT o_orderkey, o_orderstatus,
                 row_number() OVER (ORDER BY o_orderkey) AS rn
          FROM orders)
    WHERE rn > 100 AND rn <= 200
    """,
)
def p7_offset_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    orders = t(spark, sf_dir, "orders")
    # Slice FIRST via offset+limit — Spark plans a bounded
    # TakeOrdered (per-partition top-k + driver merge of offset+limit
    # rows), never a single-partition window over the full table.
    # The row_number that materializes `rn` then runs over only the
    # 100 sliced rows, so the unpartitioned window is O(slice), not
    # O(table).
    sliced = (
        orders.select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
        .offset(100)
        .limit(100)
    )
    return sliced.withColumn(
        "rn", F.row_number().over(W.orderBy("o_orderkey")) + 100
    )


# ---------------------------------------------------------------------------
# S9 — JSON source/sink roundtrip: write a projection as JSON lines,
# read it back with a DECLARED schema (no inferSchema job — one pass,
# like the reference's declared-schema TSV parse), aggregate. JSON is
# the interchange format the reference's Slack/manifest tooling
# implies; at scale the declared schema keeps the read single-pass
# and lets Catalyst prune unread fields from the parse.
# ---------------------------------------------------------------------------
@register(
    "s9_json_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def s9_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = _tmp_dir("s9_json")
    ev.write.mode("overwrite").json(path)
    back = spark.read.schema("event_id long, event_type string, value double").json(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# L3 — partitioned write + partition pruning: the engine's answer to
# the reference's 51 per-state tables (SURVEY.md §1.3) — ONE dataset,
# partitionBy(state-like column), and a filtered read that prunes to
# a single partition directory (PartitionFilters in the scan, zero
# bytes read from other partitions).
# ---------------------------------------------------------------------------
@register(
    "l3_partition_pruning",
    oracle="""
    SELECT l_returnflag, count(*) AS n_rows,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_returnflag
    """,
)
def l3_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_returnflag"
    )
    path = _tmp_dir("l3_partitioned")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# S10 — PERMISSIVE parse with corrupt-record capture: the S3 loader's
# non-strict mode (load-s3.ts:218-228) done right — malformed rows
# are quarantined into a _corrupt column instead of silently dropped
# or fatally failing (FAILFAST, S2's mode, is the local loader's
# strict parse). The count contract (all good rows survive, every
# bad row is captured) is the oracle check.
# ---------------------------------------------------------------------------
_S10_BAD_LINES = ["not_a_number\tNaN\tZ", "12,34\t\tbad", "x\ty\tz"]


@register(
    "s10_permissive_read",
    oracle=f"""
    SELECT count(*) AS n_good, CAST({len(_S10_BAD_LINES)} AS BIGINT) AS n_corrupt
    FROM lineitem
    """,
)
def s10_permissive_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag")
    path = _tmp_dir("s10_tsv")
    li.write.mode("overwrite").option("sep", "\t").csv(path)
    with open(os.path.join(path, "part-corrupt.csv"), "w") as fh:
        fh.write("\n".join(_S10_BAD_LINES) + "\n")
    back = (
        spark.read.schema(
            "l_orderkey long, l_linenumber int, l_returnflag string, _corrupt string"
        )
        .option("sep", "\t")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
        # Spark disallows aggregating the internal corrupt column
        # straight off the scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN);
        # materialize the parse first — at scale this is the "write
        # quarantine table, then count" step anyway.
        .cache()
    )
    return back.agg(
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0)).alias("n_good"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0)).alias("n_corrupt"),
    )


# ---------------------------------------------------------------------------
# S11 — RFC 4180 quoted-CSV round-trip parity: payloads carrying the
# three parser killers (embedded delimiter, embedded doubled quote,
# embedded NEWLINE) are written as CSV by the distributed writer,
# then BOTH engines parse the same files back — proving the
# quote/escape/multiline dialect (quote '"', escape '"', i.e.
# doubled-quote) is interpreted identically. A parser that mangles
# any edge case changes payload bytes and hash-mismatches.
#
# Scale note: multiLine CSV parsing cannot split a file (rows may
# span line boundaries), so parallelism = file count — which is why
# the serving format is parquet and CSV exists only at the ingest
# edge (sources/tsv.py), exactly the reference's posture.
# ---------------------------------------------------------------------------
_S11_DIR = os.path.join(tempfile.gettempdir(), "voter_file_etl_spark_s11")


@register(
    "s11_quoted_csv",
    oracle=f"""
    SELECT id, payload,
           length(payload) AS n_chars,
           contains(payload, ',') AS has_comma,
           contains(payload, '"') AS has_quote,
           contains(payload, chr(10)) AS has_newline
    FROM read_csv('{_S11_DIR}/*.csv', header=true, sep=',',
                  quote='"', escape='"',
                  columns={{'id': 'BIGINT', 'payload': 'VARCHAR'}})
    """,
)
def s11_quoted_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.col("c_custkey")
    payload = F.concat(
        "c_name",
        F.when(k % 4 == 0, F.lit(", embedded comma"))
        .when(k % 4 == 1, F.lit(' has "doubled quotes"'))
        .when(k % 4 == 2, F.lit("\nsecond line"))
        .otherwise(F.lit(" plain")),
    )
    (
        t(spark, sf_dir, "customer")
        .select(k.cast("bigint").alias("id"), payload.alias("payload"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(_S11_DIR)
    )
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .schema("id long, payload string")
        .csv(_S11_DIR)
    )
    return back.select(
        "id",
        "payload",
        F.length("payload").alias("n_chars"),
        F.col("payload").contains(",").alias("has_comma"),
        F.col("payload").contains('"').alias("has_quote"),
        F.col("payload").contains("\n").alias("has_newline"),
    )


# ---------------------------------------------------------------------------
# P10 — NULL semantics surface: null-safe equality (<=> / IS NOT
# DISTINCT FROM) joining on a NULLABLE key (plain = drops NULL=NULL
# matches silently — the classic reconciliation bug), plus explicit
# NULLS FIRST ordering folded into a deterministic rank. Voter data
# is full of NULLable natural keys (middle names, suffixes); a diff
# tool that loses the NULL-keyed rows under-reports changes.
# ---------------------------------------------------------------------------
@register(
    "p10_null_semantics",
    oracle="""
    WITH a AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN NULL
                  ELSE c_custkey % 7 END AS k
      FROM customer
    ), b AS (
      SELECT DISTINCT CASE WHEN c_custkey % 15 = 0 THEN NULL
                           ELSE c_custkey % 7 END AS k
      FROM customer
    ), joined AS (
      SELECT a.c_custkey, a.k
      FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    )
    SELECT k, count(*) AS n,
           CAST(row_number() OVER (ORDER BY k NULLS FIRST) AS BIGINT) AS k_rank
    FROM joined
    GROUP BY k
    """,
)
def p10_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cust = t(spark, sf_dir, "customer")
    k_a = F.when(F.col("c_custkey") % 10 == 0, F.lit(None)).otherwise(
        F.col("c_custkey") % 7
    )
    k_b = F.when(F.col("c_custkey") % 15 == 0, F.lit(None)).otherwise(
        F.col("c_custkey") % 7
    )
    a = cust.select("c_custkey", k_a.alias("k"))
    b = cust.select(k_b.alias("kb")).distinct()
    joined = a.join(b, a.k.eqNullSafe(b.kb))
    return (
        joined.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "k_rank",
            F.row_number().over(W.orderBy(F.asc_nulls_first("k"))).cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# S12 — ORC round-trip: the second columnar format a lake actually
# meets (Hive-era feeds arrive as ORC; Spark reads/writes it natively
# with the same pushdown/pruning machinery as parquet). A filtered
# orders slice is written as ORC, read back, and aggregated; the
# oracle computes the identical aggregate straight from the parquet
# source, so a round-trip that loses rows, reorders a schema, or
# mangles a value hash-mismatches. Predicates on the read-back side
# still push down (ORC carries min/max stripe stats, like parquet
# row groups).
# ---------------------------------------------------------------------------
@register(
    "s12_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key
    FROM orders
    WHERE o_orderkey % 5 = 0
    GROUP BY o_orderstatus
    """,
)
def s12_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = os.path.join(
        tempfile.mkdtemp(prefix="s12_orc_", dir=os.environ.get("TMPDIR", "/tmp")),
        "orders_orc",
    )
    (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .orc(out)
    )
    back = spark.read.orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# S13 — binary-file source: Spark's `binaryFile` format reads a
# directory of opaque blobs as (path, modificationTime, length,
# content) — the ingest front door for media/model artifacts before
# the multimodal decode stage (m5-m10). The fixture stages the first
# 200 documents as .bin blobs (bounded driver write, like x6's
# 8-query broadcast); the query reads them back and fingerprints
# every blob (basename, byte length, md5). Oracle: DuckDB read_blob
# over the same directory — the cast to VARCHAR is byte-exact
# because the corpus is pure ASCII (generator invariant, see
# operators/multimodal.py).
#
# Scale: binaryFile is a standard FileScan — partitioned by file,
# filter-pushable on path/length, no driver involvement; the 200-file
# staged fixture stands in for an object-store bucket listing.
# ---------------------------------------------------------------------------
_S13_DIR = "/tmp/voter_file_etl_spark_s13"
_S13_N = 200


@register(
    "s13_binary_source",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
           CAST(size AS BIGINT) AS n_bytes,
           md5(CAST(content AS VARCHAR)) AS digest
    FROM read_blob('{_S13_DIR}/*.bin')
    """,
)
def s13_binary_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(_S13_N)
        .collect()  # bounded: exactly 200 rows regardless of SF
    )

    def write(stage: str) -> None:
        os.makedirs(stage)
        for r in docs:
            with open(os.path.join(stage, f"doc_{r['doc_id']:05d}.bin"), "wb") as fh:
                fh.write(r["text"].encode("ascii"))

    publish_swap(spark, _S13_DIR, write)

    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(_S13_DIR)
    )
    return blobs.select(
        F.regexp_extract("path", "([^/]+)$", 1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("digest"),
    )


# ---------------------------------------------------------------------------
# S14 — nested-type parquet roundtrip: lineitems nested per order as
# array<struct<linenumber,quantity,extendedprice>> (sort_array fixes
# the collect_list arrival order), written to parquet, read back,
# and re-flattened with inline(). Proves the columnar nested-type
# path — the layout a document/metadata lakehouse table actually
# uses — end-to-end: Spark writes Parquet LIST/STRUCT annotations,
# the scan prunes into the nested schema, and the doubles come back
# bit-exact against the flat oracle.
# ---------------------------------------------------------------------------
@register(
    "s14_nested_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def s14_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice")
            )
        ).alias("lines")
    )
    out = tempfile.mkdtemp(prefix="s14_nested_", dir=os.environ.get("TMPDIR", "/tmp"))
    path = os.path.join(out, "orders_nested")
    nested.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.select("l_orderkey", F.inline("lines"))


# ---------------------------------------------------------------------------
# S15 — read-side schema merge: two parquet batches written with
# DIFFERENT column sets (an early extract without acctbal, a later
# one without name) under one root; `mergeSchema` unions the file
# footers into the superset schema and nulls the absent columns per
# file — the read-side half of schema evolution (l5 is the
# write-side half). At scale mergeSchema is a footer-only operation
# (one task per file reads a few KB of metadata), and the scan still
# prunes columns per file.
# ---------------------------------------------------------------------------
@register(
    "s15_merge_schema",
    oracle="""
    SELECT 'v1' AS batch, c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT 'v2', c_custkey, CAST(NULL AS VARCHAR), c_acctbal
    FROM customer WHERE c_custkey % 2 = 1
    """,
)
def s15_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    root = tempfile.mkdtemp(prefix="s15_merge_", dir=os.environ.get("TMPDIR", "/tmp"))
    (
        cust.filter(F.col("c_custkey") % 2 == 0)
        .select(F.lit("v1").alias("batch"), "c_custkey", "c_name")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "b=1"))
    )
    (
        cust.filter(F.col("c_custkey") % 2 == 1)
        .select(F.lit("v2").alias("batch"), "c_custkey", "c_acctbal")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "b=2"))
    )
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )
    return merged.select("batch", "c_custkey", "c_name", "c_acctbal")


# ---------------------------------------------------------------------------
# P10 — ANSI-safe error handling surface: Spark 4 runs with ANSI SQL
# mode ON, where malformed casts and overflow THROW instead of
# returning NULL — correct pipelines route dirty-text arithmetic
# through try_cast / try_divide / try_add and handle the NULLs
# explicitly. The events props JSON (dirty by construction: some
# rows lack keys) feeds string->number parses, a division with
# engineered zero denominators, and an overflow-prone add — each via
# the try_* family, with NULL-vs-value counts proving the errors
# became NULLs instead of query failures. DuckDB mirrors with
# TRY_CAST and NULLIF-guarded arithmetic.
# ---------------------------------------------------------------------------
@register(
    "p10_try_arithmetic",
    oracle="""
    WITH d AS (
      SELECT event_id,
             TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS score,
             TRY_CAST(event_type AS BIGINT) AS junk,
             event_id % 7 AS denom
      FROM events
    )
    SELECT count(*) AS n_rows,
           count(score) AS n_parsed,
           CAST(sum(score) AS BIGINT) AS sum_score,
           count(junk) AS n_junk_parsed,
           count(CASE WHEN denom = 0 THEN NULL
                      ELSE event_id // NULLIF(denom, 0) END) AS n_divided,
           CAST(sum(event_id // NULLIF(denom, 0)) AS BIGINT) AS sum_div
    FROM d
    """,
)
def p10_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "events").select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.k') as bigint)").alias(
            "score"
        ),
        # 'view'/'click'/... as BIGINT: THROWS under plain ANSI cast;
        # try_cast makes it a NULL the aggregate can count.
        F.expr("try_cast(event_type as bigint)").alias("junk"),
        (F.col("event_id") % 7).alias("denom"),
    )
    # Integer-div the nonzero denominators to match DuckDB's //
    # exactly (try_divide would give a fractional double).
    idiv = F.expr("cast(event_id div nullif(denom, 0) as bigint)")
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("score").alias("n_parsed"),
        F.sum("score").cast("long").alias("sum_score"),
        F.count("junk").alias("n_junk_parsed"),
        F.count(idiv).alias("n_divided"),
        F.sum(idiv).cast("long").alias("sum_div"),
    )


# ---------------------------------------------------------------------------
# S16 — fixed-width file roundtrip: the legacy voter-file format the
# TSV loader's cousin must handle — no delimiters, columns are byte
# ranges. Encode customer rows to a fixed layout (custkey 10,
# name 25, signed cents 12, segment 10), write as a text source,
# read back with spark.read.text and substring slicing, and prove
# the parse lossless by aggregating the PARSED rows against the
# oracle's direct aggregation of the source table — any column
# misalignment or sign/padding bug shifts a slice and
# hash-mismatches. Encode and parse are both map-side expression
# work; the text source splits by line, so the format scans in
# parallel like any delimited file.
# ---------------------------------------------------------------------------
@register(
    "s16_fixed_width",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(sum(c_custkey) AS BIGINT) AS sum_keys
    FROM customer GROUP BY c_mktsegment
    """,
)
def s16_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    out = tempfile.mkdtemp(
        prefix="s16_fixed_", dir=os.environ.get("TMPDIR", "/tmp")
    )
    path = os.path.join(out, "fixed")
    cents = F.expr("cast(floor(c_acctbal * 100 + 0.5d) as bigint)")
    line = F.concat(
        F.lpad(F.col("c_custkey").cast("string"), 10, "0"),
        F.rpad("c_name", 25, " "),
        F.lpad(cents.cast("string"), 12, " "),  # space-pad: sign survives
        F.rpad("c_mktsegment", 10, " "),
    )
    t(spark, sf_dir, "customer").select(line.alias("value")).write.text(path)

    raw = spark.read.text(path)
    parsed = raw.select(
        F.substring("value", 1, 10).cast("long").alias("c_custkey"),
        F.rtrim(F.substring("value", 11, 25)).alias("c_name"),
        F.trim(F.substring("value", 36, 12)).cast("long").alias("cents"),
        F.rtrim(F.substring("value", 48, 10)).alias("c_mktsegment"),
    )
    return parsed.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.sum("c_custkey").cast("long").alias("sum_keys"),
    )


# ---------------------------------------------------------------------------
# S17 — compressed-CSV roundtrip: the delimited-file path (s2/s11)
# under a gzip codec, the wire format most vendor drops actually
# arrive in (the reference's .tab feeds are shipped compressed;
# load.ts hands the decompressed stream to COPY). Write forces the
# codec via option("compression","gzip"); read auto-detects by the
# .gz suffix. The aggregate proves payload integrity through the
# compress/decompress boundary.
#
# Scale note: gzip files are NOT splittable — one file = one task.
# The write keeps the source partitioning (many ~equal gz parts), so
# the read side still parallelizes per file; that file-count knob is
# the 100 TB posture for non-splittable codecs (or re-encode to zstd
# parquet at the landing zone, which l6 compaction models).
# ---------------------------------------------------------------------------
@register(
    "s17_compressed_csv",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(sum(c_custkey) AS BIGINT) AS sum_keys
    FROM customer GROUP BY c_mktsegment
    """,
)
def s17_compressed_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    out = tempfile.mkdtemp(
        prefix="s17_gzcsv_", dir=os.environ.get("TMPDIR", "/tmp")
    )
    path = os.path.join(out, "csv_gz")
    src = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.expr("cast(floor(c_acctbal * 100 + 0.5d) as bigint)").alias(
            "cents"
        ),
        "c_mktsegment",
    )
    (
        src.write.mode("overwrite")
        .option("compression", "gzip")
        .option("header", "true")
        .csv(path)
    )
    parsed = (
        spark.read.option("header", "true")
        .schema("c_custkey long, c_name string, cents long, c_mktsegment string")
        .csv(path)
    )
    return parsed.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.sum("c_custkey").cast("long").alias("sum_keys"),
    )


# ---------------------------------------------------------------------------
# S18 — multiline-JSON source: a single pretty-printed JSON ARRAY
# per file (the shape REST exports and hand-edited config drops
# arrive in), which line-delimited readers (s9) cannot parse. Spark
# reads it with multiLine=true — one file = one record-batch parse,
# NOT splittable, so the fixture is a bounded DIMENSION feed (nation,
# 25 rows; the driver-side dump mirrors the reference's manifest
# control flow on O(dim) rows, never fact data). The aggregate joins
# the parsed feed back to region and proves field integrity.
#
# Scale: multiline JSON is the landing format, not the lake format —
# at 100 TB the pipeline re-encodes to parquet on ingest (l6); facts
# always arrive line-delimited (splittable) or parquet.
# ---------------------------------------------------------------------------
@register(
    "s18_multiline_json",
    oracle="""
    SELECT r.r_name,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(n.n_nationkey) AS BIGINT) AS sum_keys,
           min(n.n_name) AS first_nation
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def s18_multiline_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os
    import tempfile

    out = tempfile.mkdtemp(
        prefix="s18_mljson_", dir=os.environ.get("TMPDIR", "/tmp")
    )
    path = os.path.join(out, "nations.json")
    rows = [
        {
            "n_nationkey": r["n_nationkey"],
            "n_name": r["n_name"],
            "n_regionkey": r["n_regionkey"],
        }
        for r in t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()  # bounded: dimension table, O(25) rows
    ]
    rows.sort(key=lambda r: r["n_nationkey"])
    with open(path, "w") as f:
        json.dump(rows, f, indent=2)

    parsed = (
        spark.read.option("multiLine", "true")
        .schema("n_nationkey long, n_name string, n_regionkey long")
        .json(path)
    )
    region = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        parsed.join(
            F.broadcast(region),
            parsed["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nations"),
            F.sum("n_nationkey").cast("long").alias("sum_keys"),
            F.min("n_name").alias("first_nation"),
        )
    )


# ---------------------------------------------------------------------------
# S19 — multi-level partition discovery: the hive layout real lakes
# use (dt=.../region=... — here l_returnflag/l_linestatus), written
# two levels deep and read back with BOTH partition columns
# recovered from directory names alone. The filter prunes on both
# levels (the plan's PartitionFilters carries the conjunction —
# tests/test_plan_quality.py gates it), so the scan opens only the
# one matching leaf directory out of ~8.
#
# Scale: two-level pruning is the difference between reading one
# (dt, region) leaf and listing the whole lake; at 100 TB the
# directory listing itself is the cost to bound (partition counts in
# the thousands, not millions — coarse outer level, finer inner).
# ---------------------------------------------------------------------------
@register(
    "s19_partition_discovery",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_returnflag = 'A' AND l_linestatus = 'F'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def s19_partition_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("bigint").alias("l_quantity"),
        "l_returnflag",
        "l_linestatus",
    )
    path = _tmp_dir("s19_two_level")
    li.write.mode("overwrite").partitionBy(
        "l_returnflag", "l_linestatus"
    ).parquet(path)
    back = spark.read.parquet(path).filter(
        (F.col("l_returnflag") == "A") & (F.col("l_linestatus") == "F")
    )
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").cast("bigint").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# S20 — parquet bloom filters for point lookups: write the events
# table with a bloom filter on user_id (parquet.bloom.filter.enabled
# — a file-format structure, below partitioning and zorder in the
# skipping stack), clustered by repartitionByRange + sortWithinPartitions
# so row groups hold disjoint user ranges, then serve an IN-list
# point lookup. On a 100 TB table the reader consults the bloom
# sidecar per row group and skips groups that provably lack the
# keys — the needle-in-haystack path (voter-id lookups on the full
# file) where min/max stats alone are too coarse once keys
# interleave. The predicate must reach the scan (plan-gated
# PushedFilters); results are byte-equal to the direct query, which
# is exactly what the oracle checks.
#
# Scale: one range-partitioned write (a sort shuffle), then O(1)
# lookups; the bloom filter trades ~1 byte/key of file space for
# row-group skips no statistic can give on high-cardinality keys.
# ---------------------------------------------------------------------------
@register(
    "s20_bloom_filter_pointread",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    WHERE user_id IN (11, 108, 205, 302, 399, 496, 593, 690)
    GROUP BY user_id
    """,
)
def s20_bloom_filter_pointread(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tempfile.mkdtemp(
        prefix="s20_bloom_", dir=os.environ.get("TMPDIR", "/tmp")
    )
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "value")
    (
        ev.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#user_id", "true")
        .option("parquet.bloom.filter.expected.ndv#user_id", "100000")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.filter(
            F.col("user_id").isin(11, 108, 205, 302, 399, 496, 593, 690)
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.expr("cast(floor(value * 100 + 0.5d) as bigint)"))
            .cast("long")
            .alias("sum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# S21 — corrupt-file recovery: a landing directory where one
# partition's parquet file has a destroyed footer (truncated upload
# — the failure mode object-store ingestion actually produces). A
# strict read fails the whole job; with
# spark.sql.files.ignoreCorruptFiles the scan skips exactly the
# unreadable file and every healthy partition survives — s10's
# permissive-CSV posture lifted to the binary format. The key
# corrupts the single file of partition p=3 (repartition(1) per
# partition makes the blast radius deterministic) and returns the
# recovered per-partition rollup; the oracle states what recovery
# MUST yield: all rows except partition 3's.
#
# Scale: recovery is a scan-level skip — no retry storms, no driver
# listing beyond the normal file index; the conf is scoped to this
# read and restored.
# ---------------------------------------------------------------------------
@register(
    "s21_corrupt_file_recovery",
    oracle="""
    SELECT o_orderkey % 4 AS p,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders WHERE o_orderkey % 4 <> 3
    GROUP BY 1
    """,
)
def s21_corrupt_file_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    out = tempfile.mkdtemp(
        prefix="s21_corrupt_", dir=os.environ.get("TMPDIR", "/tmp")
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_orderkey") % 4).alias("p"),
    )
    (
        orders.repartition(1)
        .write.mode("overwrite")
        .partitionBy("p")
        .parquet(out)
    )
    victim = sorted(glob.glob(os.path.join(out, "p=3", "*.parquet")))[0]
    with open(victim, "r+b") as f:
        f.truncate(100)  # destroy the footer: unreadable file
    old = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        back = spark.read.parquet(out)
        result = (
            back.groupBy(F.col("p").cast("bigint").alias("p"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.expr("cast(floor(o_totalprice * 100 + 0.5d) as bigint)")
                )
                .cast("long")
                .alias("sum_cents"),
            )
            .transform(materialize)  # materialize under the scoped conf
        )
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", old)
    return result


# ---------------------------------------------------------------------------
# S22 — recursive lookup + glob-filtered scans: a landing tree with
# nested vendor directories holding parquet batches MIXED with
# sidecar noise (.json manifests, _SUCCESS markers, .csv rejects).
# recursiveFileLookup walks the whole tree (ignoring the
# partition-discovery convention) and pathGlobFilter admits ONLY
# *.parquet — the reference's load loop does this with hand-rolled
# fs.readdir + extension checks (load.ts); here it is two reader
# options and the scan plans only the matching files. The oracle
# pins exactly which batches must survive the filter.
#
# Scale: filtering happens in the driver-side file index BEFORE any
# task launches — noise files cost a list entry, never a task or a
# read.
# ---------------------------------------------------------------------------
@register(
    "s22_glob_recursive_scan",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
    FROM orders WHERE o_orderkey % 4 < 2
    GROUP BY o_orderpriority
    """,
)
def s22_glob_recursive_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tempfile.mkdtemp(
        prefix="s22_glob_", dir=os.environ.get("TMPDIR", "/tmp")
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    # Two vendor subtrees get one parquet batch each (the keys the
    # oracle expects) ...
    for i, vendor in enumerate(["vendor_a/2024", "vendor_b/2024/06"]):
        (
            orders.filter(F.col("o_orderkey") % 4 == i)
            .repartition(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out, vendor))
        )
    # ... plus sidecar noise a naive reader would trip on.
    with open(os.path.join(out, "vendor_a", "manifest.json"), "w") as f:
        f.write('{"batch": "2024"}')
    with open(os.path.join(out, "vendor_b", "rejects.csv"), "w") as f:
        f.write("o_orderkey,who\n-1,bad\n")
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(out)
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("sum_keys"),
    )


# ---------------------------------------------------------------------------
# S23 — zstd parquet: the modern codec choice (better ratio than
# snappy at comparable decode speed — the default question every
# 100 TB lake asks) exercised end to end: write orders with
# compression=zstd, read back, and prove byte-exact content via the
# rollup the oracle states. The size win is reported by the unit
# test (zstd strictly smaller than the same data as uncompressed),
# not the key, since absolute sizes are codec-version-dependent.
#
# Scale: codec choice is per-column-chunk metadata — readers mix
# codecs freely file to file, so a lake can migrate codecs
# incrementally via compaction (l6) with no reader change.
# ---------------------------------------------------------------------------
@register(
    "s23_zstd_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
    FROM orders GROUP BY o_orderpriority
    """,
)
def s23_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tempfile.mkdtemp(
        prefix="s23_zstd_", dir=os.environ.get("TMPDIR", "/tmp")
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    orders.write.mode("overwrite").option("compression", "zstd").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.expr("cast(floor(o_totalprice * 100 + 0.5d) as bigint)"))
        .cast("long")
        .alias("sum_cents"),
        F.sum("o_orderkey").cast("long").alias("sum_keys"),
    )


# ---------------------------------------------------------------------------
# S24 — CSV header drift: the same records arrive as two CSV batches
# whose COLUMN ORDER differs (vendor A exports key,name,cents; vendor
# B exports cents,key,segment,name). Each batch is read with
# header-driven per-file schema resolution and the union is BY NAME —
# positional union would silently pair cents with custkey. The final
# rollup must equal a single-source computation exactly.
#
# Scale: header resolution happens once per file listing; the reads
# stay parallel CSV scans, the unionByName is a zero-cost logical
# node, and the rollup is one shuffle.
# ---------------------------------------------------------------------------
@register(
    "s24_csv_header_drift",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(sum(c_custkey) AS BIGINT) AS sum_keys
    FROM customer GROUP BY c_mktsegment
    """,
)
def s24_csv_header_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    out = tempfile.mkdtemp(
        prefix="s24_drift_", dir=os.environ.get("TMPDIR", "/tmp")
    )
    src = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.expr("cast(floor(c_acctbal * 100 + 0.5d) as bigint)").alias(
            "cents"
        ),
        "c_mktsegment",
    )
    a = src.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_name", "cents", "c_mktsegment"
    )
    b = src.filter(F.col("c_custkey") % 2 == 1).select(
        "cents", "c_custkey", "c_mktsegment", "c_name"
    )
    pa, pb = os.path.join(out, "vendor_a"), os.path.join(out, "vendor_b")
    a.write.mode("overwrite").option("header", "true").csv(pa)
    b.write.mode("overwrite").option("header", "true").csv(pb)
    ra = (
        spark.read.option("header", "true")
        .schema("c_custkey long, c_name string, cents long, c_mktsegment string")
        .csv(pa)
    )
    rb = (
        spark.read.option("header", "true")
        .schema("cents long, c_custkey long, c_mktsegment string, c_name string")
        .csv(pb)
    )
    both = ra.unionByName(rb)
    return both.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.sum("c_custkey").cast("long").alias("sum_keys"),
    )


# ---------------------------------------------------------------------------
# S26 — storage-footprint audit: which COLUMNS carry the bytes —
# per-column serialized size (octet_length for text, fixed widths
# for numerics/timestamps) over the documents table, as totals and
# basis-point shares. At 100 TB the answer decides what gets
# dictionary-encoded, what gets dropped from the hot path, and what
# a projection saves; the audit is one map-side pass emitting five
# counters, not five scans.
#
# Scale: a single aggregate over one scan (all per-column sums in
# one HashAggregate); the long-format reshape happens on the 1-row
# result.
# ---------------------------------------------------------------------------
@register(
    "s26_storage_footprint_audit",
    oracle="""
    WITH tot AS (
      SELECT CAST(sum(octet_length(encode(text))) AS BIGINT) AS b_text,
             CAST(sum(octet_length(encode(lang))) AS BIGINT) AS b_lang,
             CAST(sum(octet_length(encode(source))) AS BIGINT) AS b_source,
             CAST(count(*) * 8 AS BIGINT) AS b_doc_id,
             CAST(count(*) * 8 AS BIGINT) AS b_n_chars
      FROM documents
    ), lng AS (
      SELECT 'text' AS column_name, b_text AS total_bytes,
             b_text + b_lang + b_source + b_doc_id + b_n_chars AS all_b
      FROM tot
      UNION ALL SELECT 'lang', b_lang,
             b_text + b_lang + b_source + b_doc_id + b_n_chars FROM tot
      UNION ALL SELECT 'source', b_source,
             b_text + b_lang + b_source + b_doc_id + b_n_chars FROM tot
      UNION ALL SELECT 'doc_id', b_doc_id,
             b_text + b_lang + b_source + b_doc_id + b_n_chars FROM tot
      UNION ALL SELECT 'n_chars', b_n_chars,
             b_text + b_lang + b_source + b_doc_id + b_n_chars FROM tot
    )
    SELECT column_name, total_bytes,
           CAST(10000 * total_bytes // all_b AS BIGINT) AS share_bp
    FROM lng
    """,
)
def s26_storage_footprint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    tot = docs.agg(
        F.sum(F.octet_length("text")).cast("long").alias("b_text"),
        F.sum(F.octet_length("lang")).cast("long").alias("b_lang"),
        F.sum(F.octet_length("source")).cast("long").alias("b_source"),
        (F.count(F.lit(1)) * 8).cast("long").alias("b_doc_id"),
        (F.count(F.lit(1)) * 8).cast("long").alias("b_n_chars"),
    ).withColumn(
        "all_b",
        F.expr("b_text + b_lang + b_source + b_doc_id + b_n_chars"),
    )
    lng = tot.select(
        F.explode(
            F.map_from_arrays(
                F.array(
                    F.lit("text"),
                    F.lit("lang"),
                    F.lit("source"),
                    F.lit("doc_id"),
                    F.lit("n_chars"),
                ),
                F.array("b_text", "b_lang", "b_source", "b_doc_id", "b_n_chars"),
            )
        ).alias("column_name", "total_bytes"),
        "all_b",
    )
    return lng.select(
        "column_name",
        "total_bytes",
        F.expr("cast(10000 * total_bytes div all_b as bigint)").alias(
            "share_bp"
        ),
    )


# ---------------------------------------------------------------------------
# S27 — zone-map (min/max footer stats) skipping audit: writes orders
# laid out by an explicit key bucket (orderkey div 4096 — the layout a
# 100-TB table would use so point reads touch one file), then proves
# the PHYSICAL parquet footers deliver the skipping: pyarrow reads
# each file's orderkey min/max and counts how many files a point key
# admits. The oracle derives the same counts analytically from the
# bucket arithmetic, so a writer that scrambled rows across files
# (breaking min/max locality) fails the hash even though every row
# round-trips.
#
# Scale: the footer scan is O(files) driver-side metadata (the same
# cost any table format's planning pass pays — never row data); the
# write is one hash-partitioned pass. At cluster scale the bucket
# column doubles as the partition key, so the audit and the layout
# share one definition.
# ---------------------------------------------------------------------------
@register(
    "s27_rowgroup_stats_pruning",
    oracle="""
    WITH b AS (
      SELECT o_orderkey // 4096 AS bkt,
             min(o_orderkey) AS lo, max(o_orderkey) AS hi,
             count(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM b) AS BIGINT) AS n_files,
           CAST((SELECT count(*) FROM b WHERE lo <= 19975 AND hi >= 19975)
                AS BIGINT) AS n_admitting,
           CAST((SELECT count(*) FROM orders WHERE o_orderkey = 19975)
                AS BIGINT) AS n_hits,
           CAST((SELECT sum(n) FROM b) AS BIGINT) AS n_rows
    """,
)
def s27_rowgroup_stats_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob

    import pyarrow.parquet as pq

    point = 19975
    out = tempfile.mkdtemp(
        prefix="s27_zonemap_", dir=os.environ.get("TMPDIR", "/tmp")
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    (
        orders.withColumn("bkt", F.expr("o_orderkey div 4096"))
        .repartition("bkt")
        .write.mode("overwrite")
        .partitionBy("bkt")
        .parquet(out)
    )
    # Footer-stats audit: O(files) metadata reads, no row data.
    n_files = n_admitting = 0
    for path in _glob.glob(os.path.join(out, "bkt=*", "*.parquet")):
        md = pq.ParquetFile(path).metadata
        lo = min(
            md.row_group(i).column(0).statistics.min
            for i in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(i).column(0).statistics.max
            for i in range(md.num_row_groups)
        )
        n_files += 1
        if lo <= point <= hi:
            n_admitting += 1
    hits = spark.read.parquet(out).filter(F.col("o_orderkey") == point)
    return hits.groupBy().agg(
        F.lit(n_files).cast("long").alias("n_files"),
        F.lit(n_admitting).cast("long").alias("n_admitting"),
        F.count(F.lit(1)).cast("long").alias("n_hits"),
    ).crossJoin(
        F.broadcast(
            spark.read.parquet(out).groupBy().agg(
                F.count(F.lit(1)).cast("long").alias("n_rows")
            )
        )
    ).select("n_files", "n_admitting", "n_hits", "n_rows")
