"""SURVEY §2.1 — sinks and non-parquet sources, proven by roundtrip.

Both queries write engine output to a scratch dir inside the repo
(.tmp/, gitignored), read it back through the corresponding source, and
aggregate — the DuckDB oracle aggregates the original table directly, so
a hash match proves write->read fidelity end to end.

Scale notes: `sink_parquet` writes `partitionBy` layout — the layout that
gives downstream readers partition pruning; CSV is schema-on-read with an
explicit schema (never inferSchema on a 100 TB lake: it double-scans).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..core import money
from ..io import table
from ..registry import register

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".tmp",
)


def _scratch(name: str) -> str:
    os.makedirs(_SCRATCH, exist_ok=True)
    return os.path.join(_SCRATCH, name)


@register(
    "sink_parquet",
    section="2.1",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem GROUP BY l_returnflag
    """,
    notes="write partitioned parquet, read back, aggregate; oracle aggregates the source",
)
def sink_parquet(spark, sf_dir):
    import math

    li = table(spark, sf_dir, "lineitem")
    out = _scratch(f"sink_parquet_{os.path.basename(sf_dir.rstrip('/'))}")
    # Plan the file layout before the write (guide §6/§8): aim for
    # ~128 MB output files by spreading each partition value over
    # k = ceil(input_bytes / target) salted sub-groups, then shuffle by
    # (partition value, sub-group) so every write task encodes exactly
    # its own files. Without this the dynamic-partition writer encodes
    # from however many tasks the scan happened to produce — locally ONE
    # (a single parquet row group), so a 3-way-parallel encode ran
    # single-threaded; at scale it is the many-small-files hazard. The
    # salt is deterministic (xxhash64 of the row key, never rand — task
    # retries must reproduce the same placement).
    target = 128 << 20
    est = int(
        str(li._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    k = max(1, math.ceil(est / target))
    shaped = li.repartition(
        F.col("l_returnflag"), F.pmod(F.xxhash64("l_orderkey"), F.lit(k))
    )
    shaped.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        money(F.sum("l_quantity")).alias("qty"),
    )


@register(
    "source_csv",
    section="2.1",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(c_acctbal), 2) AS bal
    FROM customer GROUP BY c_mktsegment
    """,
    notes="CSV sink + schema'd CSV source roundtrip (AIS raw feeds are CSV)",
)
def source_csv(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    out = _scratch(f"source_csv_{os.path.basename(sf_dir.rstrip('/'))}")
    c.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.csv(
        out,
        header=True,
        schema="c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        money(F.sum("c_acctbal")).alias("bal"),
    )


@register(
    "source_json",
    section="2.1",
    oracle="""
    SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(p_retailprice), 2) AS retail
    FROM part GROUP BY p_type
    """,
    notes="NDJSON sink + schema'd JSON source roundtrip; explicit schema "
    "(inferSchema double-scans a lake)",
)
def source_json(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    out = _scratch(f"source_json_{os.path.basename(sf_dir.rstrip('/'))}")
    p.write.mode("overwrite").json(out)
    back = spark.read.json(
        out,
        schema="p_partkey long, p_name string, p_brand string, "
        "p_type string, p_size int, p_retailprice double",
    )
    return back.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"),
        money(F.sum("p_retailprice")).alias("retail"),
    )


@register(
    "source_orc",
    section="2.1",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(o_totalprice), 2) AS total,
           CAST(MAX(EXTRACT(year FROM o_orderdate)) AS BIGINT) AS max_year
    FROM orders GROUP BY o_orderpriority
    """,
    notes="ORC sink + source roundtrip (the other columnar lake format); "
    "the max_year aggregate proves timestamp fidelity through ORC",
)
def source_orc(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    out = _scratch(f"source_orc_{os.path.basename(sf_dir.rstrip('/'))}")
    o.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        money(F.sum("o_totalprice")).alias("total"),
        F.max(F.year("o_orderdate")).cast("bigint").alias("max_year"),
    )


@register(
    "sink_bucketed",
    section="2.1",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    notes="bucketed saveAsTable roundtrip: both fact tables written "
    "bucketed+sorted on the join key, re-read via the catalog, and joined "
    "WITHOUT any Exchange (the zero-shuffle fact-to-fact layout; plan "
    "asserted in tests/test_bucketing.py) — oracle aggregates the raw join",
)
def sink_bucketed(spark, sf_dir):
    """The co-located join layout at lake scale: writing both sides
    bucketed by the join key means every future join on that key skips
    its shuffle entirely; bucket count scales with cluster width. The
    declared query proves the written layout joins value-identically to
    the raw tables."""
    import shutil

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    o_name, l_name = f"b_orders_{tag}", f"b_lineitem_{tag}"
    # Bucketed outputs are external tables on scratch paths: a fresh
    # session's empty in-memory catalog + a leftover managed-table dir
    # would otherwise fail CTAS with LOCATION_ALREADY_EXISTS.
    o_path, l_path = _scratch(o_name), _scratch(l_name)
    for name, path in [(o_name, o_path), (l_name, l_path)]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(path, ignore_errors=True)
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    # Shuffle by the bucket key into numBuckets partitions before the
    # bucketed write: repartition(8, key) is the SAME Murmur3-pmod the
    # bucket id uses, so each write task holds exactly one bucket —
    # parallel encode, one file per bucket, and the per-task sortBy
    # sorts only its own bucket (guide §2.4/§6; measured 2.03 -> 0.96 s
    # steady for the two writes vs encoding from the scan's task layout)
    (o.repartition(8, "o_orderkey")
     .write.mode("overwrite").format("parquet").option("path", o_path)
     .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(o_name))
    (li.repartition(8, "l_orderkey")
     .write.mode("overwrite").format("parquet").option("path", l_path)
     .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(l_name))
    ob, lb = spark.table(o_name), spark.table(l_name)
    return (
        ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            money(F.sum("l_quantity")).alias("qty"),
        )
    )


@register(
    "source_binaryfile",
    section="2.1",
    oracle="""
    SELECT doc_id, CAST(len(text) + 1 AS BIGINT) AS n_bytes,
           md5(text || chr(10)) AS fp
    FROM documents WHERE doc_id < 100
    """,
    notes="binaryFile source — the multimodal ingestion path (one blob "
    "per object): write each document as its own file, read the tree "
    "back as (path, length, content) binary rows, recover the key from "
    "the path and digest the bytes; oracle digests the source text "
    "directly (+ the text writer's trailing newline)",
)
def source_binaryfile(spark, sf_dir):
    """How image/audio/video blobs enter the engine at lake scale:
    `binaryFile` reads whole objects as binary rows with path metadata,
    and keys are recovered from the storage layout (here a hive-style
    doc_id= partition dir per document). The digest match proves
    byte-exact fidelity through write -> list -> read. The one-file-
    per-row layout is the realistic multimodal shape; at 100 TB the
    same reader runs over the object store listing, partitioned by
    Spark's file-index splitter."""
    d = table(spark, sf_dir, "documents")
    out = _scratch(f"source_binaryfile_{os.path.basename(sf_dir.rstrip('/'))}")
    # Fixed 100-object subset: the roundtrip PROOF needs only a bounded
    # file count (file-write task overhead is per-object, and the declared
    # query re-runs at every sf); the reader path being proven is
    # object-count-independent.
    (
        d.where(F.col("doc_id") < 100)
        .select("doc_id", "text")
        # spread the 100 partition-dir creates over 8 writer tasks: the
        # single-row-group fixture scan is ONE task, so the dynamic-
        # partition write was 100 sequential file commits (guide §6 —
        # measured 1.55 -> 0.54 s; each doc_id still lands in exactly
        # one task, so the one-file-per-object layout is unchanged)
        .repartition(8, "doc_id")
        .write.mode("overwrite")
        .partitionBy("doc_id")
        .text(out)
    )
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(out)
    )
    return back.select(
        F.regexp_extract("path", r"doc_id=(\d+)", 1).cast("long").alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5("content").alias("fp"),
    )


@register(
    "source_text",
    section="2.1",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    notes="line-oriented text sink + spark.read.text source roundtrip — "
    "the one-document-per-line corpus format every curation pipeline "
    "ingests. Fields tab-joined on write, split on read (fixture text "
    "contains neither tabs nor newlines; a real lake uses JSONL for "
    "payloads that might). Oracle aggregates the source table, so the "
    "hash match proves write->parse fidelity",
)
def source_text(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    out = _scratch(f"source_text_{os.path.basename(sf_dir.rstrip('/'))}")
    d.select(
        F.concat_ws("\t", F.col("lang"), F.col("doc_id"), F.col("text")).alias(
            "value"
        )
    ).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    parts = F.split(F.col("value"), "\t", 3)
    return (
        back.select(
            parts.getItem(0).alias("lang"),
            parts.getItem(2).alias("text"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


@register(
    "source_csv_malformed",
    section="2.1",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (WHERE c_custkey % 10 <> 0) AS BIGINT) AS n_good,
           CAST(COUNT(*) FILTER (WHERE c_custkey % 10 = 0) AS BIGINT) AS n_bad,
           ROUND(SUM(c_acctbal) FILTER (WHERE c_custkey % 10 <> 0), 2) AS good_bal
    FROM customer
    """,
    notes="malformed-row tolerance: every 10th line is written corrupted "
    "(non-numeric balance), then read back in PERMISSIVE mode — bad rows "
    "surface as NULLs instead of failing the job, and the query accounts "
    "for both populations. A 100 TB ingest NEVER has clean data; "
    "fail-open with accounting is the production posture. Oracle derives "
    "the same partition from the source table",
)
def source_csv_malformed(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    out = _scratch(f"source_csv_malformed_{os.path.basename(sf_dir.rstrip('/'))}")
    line = F.when(
        F.col("c_custkey") % 10 == 0,
        F.concat(F.col("c_custkey").cast("string"), F.lit(",not_a_number")),
    ).otherwise(
        F.concat(
            F.col("c_custkey").cast("string"),
            F.lit(","),
            F.col("c_acctbal").cast("string"),
        )
    )
    c.select(line.alias("value")).write.mode("overwrite").text(out)
    back = spark.read.csv(
        out, schema="ck long, bal double", mode="PERMISSIVE"
    )
    return back.agg(
        F.count(F.col("bal")).alias("n_good"),
        F.count(F.when(F.col("bal").isNull(), 1)).alias("n_bad"),
        F.round(F.sum("bal"), 2).alias("good_bal"),
    )


@register(
    "source_schema_evolution",
    section="2.1",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(o_clerk_id) AS BIGINT) AS n_with_clerk,
           CAST(SUM(COALESCE(o_clerk_id, 0)) AS BIGINT) AS clerk_sum
    FROM (
      SELECT o_orderstatus, NULL::BIGINT AS o_clerk_id
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderstatus, o_orderkey % 100
      FROM orders WHERE o_orderkey % 2 = 1
    ) t GROUP BY o_orderstatus
    """,
    notes="schema evolution on read: an old partition (no o_clerk_id) and "
    "a new partition (with it) written separately, read back with "
    "mergeSchema — missing columns surface as NULLs, the lakehouse "
    "add-a-column path that never rewrites old data. Oracle reconstructs "
    "the same union from the source table",
)
def source_schema_evolution(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    out = _scratch(
        f"source_schema_evo_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    old = o.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_orderstatus")
    new = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_orderkey") % 100).cast("long").alias("o_clerk_id"),
    )
    old.write.mode("overwrite").parquet(f"{out}/part=old")
    new.write.mode("overwrite").parquet(f"{out}/part=new")
    back = spark.read.option("mergeSchema", True).parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_clerk_id").alias("n_with_clerk"),
        F.sum(F.coalesce("o_clerk_id", F.lit(0))).cast("long").alias("clerk_sum"),
    )


@register(
    "multimodal_blob_dedup",
    section="2.9",
    oracle="""
    WITH f AS (SELECT a.doc_id AS doc_id, b.text AS text
               FROM documents a JOIN documents b ON b.doc_id = a.doc_id % 7
               WHERE a.doc_id < 100)
    SELECT md5(text || chr(10)) AS fp,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keeper
    FROM f GROUP BY 1
    """,
    notes="exact BINARY dedup over an object tree — the first pass of any "
    "multimodal (image/audio/video) corpus build: ingest blobs via "
    "binaryFile, digest the raw bytes JVM-side, one hash aggregate on "
    "the digest (shuffle bytes = digests, never blobs), keep the "
    "smallest key per content group. Planted duplicates (each of 100 "
    "objects carries doc (id % 7)'s bytes) make the dedup observable; "
    "bounded object count, so cost is sf-independent like "
    "source_binaryfile",
)
def multimodal_blob_dedup(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    out = _scratch(f"blob_dedup_{os.path.basename(sf_dir.rstrip('/'))}")
    a = d.where(F.col("doc_id") < 100).select("doc_id")
    b = d.select(F.col("doc_id").alias("src_id"), "text")
    planted = a.join(
        F.broadcast(b), (F.col("doc_id") % 7) == F.col("src_id")
    ).select("doc_id", "text")
    # same 8-task spread as source_binaryfile: 100 partition-dir
    # commits in parallel instead of one sequential writer task
    planted.repartition(8, "doc_id").write.mode("overwrite").partitionBy(
        "doc_id"
    ).text(out)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(out)
    )
    return (
        back.select(
            F.regexp_extract("path", r"doc_id=(\d+)", 1)
            .cast("long")
            .alias("doc_id"),
            F.md5("content").alias("fp"),
        )
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper"),
        )
    )


@register(
    "sink_csv_roundtrip",
    section="2.1",
    oracle="""
    SELECT p_partkey, p_brand, p_size,
           md5(p_name || '|' || p_type) AS text_fp,
           CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents
    FROM part WHERE p_partkey <= 500
    """,
    notes="CSV WRITE side (source_csv proves the read): header + quoteAll "
    "out, schema-pinned read back, digests over the multi-word text "
    "columns proving byte fidelity through the quote/escape path, and "
    "integer cents proving the double survives decimal text roundtrip "
    "— the interchange format every downstream consumer still asks for",
)
def sink_csv_roundtrip(spark, sf_dir):
    p = table(spark, sf_dir, "part").where(F.col("p_partkey") <= 500)
    out = _scratch(f"sink_csv_{os.path.basename(sf_dir.rstrip('/'))}")
    (
        p.select(
            "p_partkey", "p_brand", "p_size", "p_name", "p_type",
            "p_retailprice",
        )
        .write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(out)
    )
    back = (
        spark.read.option("header", True)
        .schema(
            "p_partkey bigint, p_brand string, p_size bigint, "
            "p_name string, p_type string, p_retailprice double"
        )
        .csv(out)
    )
    return back.select(
        "p_partkey",
        "p_brand",
        "p_size",
        F.md5(F.concat_ws("|", "p_name", "p_type")).alias("text_fp"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias(
            "price_cents"
        ),
    )


@register(
    "sink_dynamic_overwrite",
    section="2.1",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 2 ELSE 1 END
                    * CAST(ROUND(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY 1
    """,
    notes="dynamic partition overwrite (partitionOverwriteMode=dynamic): "
    "write the full partitioned table, then overwrite ONLY the "
    "1-URGENT partition with recomputed (doubled) values — dynamic "
    "mode replaces just the partitions present in the incoming "
    "DataFrame instead of truncating the whole table, which is the "
    "idempotent-backfill primitive at lake scale (re-run one day/key "
    "without touching the other 10k partitions). Read-back aggregate "
    "proves the untouched partitions survived and the rewritten one "
    "took the new values; oracle computes the expected final state "
    "from the source with exact cent integers",
)
def sink_dynamic_overwrite(spark, sf_dir):
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    out = _scratch(f"sink_dynover_{os.path.basename(sf_dir.rstrip('/'))}")
    backfill = o.where(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "cents", F.col("cents") * 2
    )
    for df in (o, backfill):
        df.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("o_orderpriority").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
    )


@register(
    "source_xml",
    section="2.1",
    oracle="""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p_size) AS BIGINT) AS size_sum,
           md5(string_agg(p_name, '|' ORDER BY p_partkey)) AS names_fp
    FROM part WHERE p_partkey <= 400 GROUP BY p_brand
    """,
    notes="XML roundtrip (Spark 4 ships the former spark-xml as a "
    "built-in source): rowTag-framed write, schema-pinned read back — "
    "the interchange format B2B/EDI feeds still arrive in. The "
    "order-pinned name digest proves text survives XML "
    "escaping/unescaping byte-exactly; oracle aggregates the source "
    "table, so a hash match certifies the whole write->parse path. "
    "Explicit schema on read (XML inference is a double scan, same "
    "rule as CSV/JSON at lake scale)",
)
def source_xml(spark, sf_dir):
    p = table(spark, sf_dir, "part").where(F.col("p_partkey") <= 400)
    out = _scratch(f"source_xml_{os.path.basename(sf_dir.rstrip('/'))}")
    (
        p.select("p_partkey", "p_brand", "p_size", "p_name")
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "part")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "part")
        .schema("p_partkey bigint, p_brand string, p_size bigint, p_name string")
        .load(out)
    )
    from pyspark.sql import Window as W

    ordered = W.partitionBy("p_brand").orderBy("p_partkey").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return (
        back.withColumn(
            "names", F.array_join(F.collect_list("p_name").over(ordered), "|")
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("p_size").cast("long").alias("size_sum"),
            F.md5(F.first("names")).alias("names_fp"),
        )
    )
