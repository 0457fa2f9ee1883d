"""CSV / JSON source-format roundtrips (SURVEY §2.A extension).

The reference family's sources are file-format plugins (XMLReader reads
XML files; sibling CDAP plugins read CSV/JSON). The testdata ships only
parquet, so — like the synthesized-XML pattern of §2.A — these operators
make the CSV and JSON *sources* hash-checkable: Spark writes real CSV/JSON
files from parquet columns, reads them back through the corresponding
source with an explicit schema, and returns the rows; the DuckDB oracle
simply projects the original parquet. Equal results ⇔ the
write→parse→type-map path is lossless.

Determinism: Java's shortest-representation double formatting roundtrips
bit-exactly, dates serialize as ISO, and the files go to the key's
``io.scratch_dir`` so repeated invocations reuse one location. At
scale both writes and reads are scan-parallel (one file per partition, no
shuffle).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from xml_processor_spark.io import scratch_dir, table
from xml_processor_spark.registry import register


_CSV_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


@register(
    "q_src_csv_roundtrip",
    oracle="""
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer
    """,
    origin="REF",
    doc="CSV source: write customer columns to CSV files (header, default "
        "quoting), read them back with an explicit schema, return the rows "
        "— the oracle projects the original parquet, so a hash match "
        "proves the CSV write→parse→type-map path is lossless (bigint, "
        "int, double, strings). Scan-parallel both directions; no shuffle.",
)
def q_src_csv_roundtrip(spark, sf_dir):
    src = table(spark, sf_dir, "customer").select(*_CSV_COLS)
    path = scratch_dir("q_src_csv_roundtrip", sf_dir)
    src.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(src.schema).option("header", True).csv(path)


_JSON_COLS = ["o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"]


@register(
    "q_src_json_roundtrip",
    oracle="""
        SELECT o_orderkey, o_orderdate, o_orderstatus, o_totalprice
        FROM orders
    """,
    origin="REF",
    doc="JSON-lines source (the XmlToJson output format read back as a "
        "source): write orders columns to JSON files, read back with an "
        "explicit schema (date + double type mapping), return the rows; "
        "oracle projects the parquet. Lossless ⇔ hash match.",
)
def q_src_json_roundtrip(spark, sf_dir):
    src = table(spark, sf_dir, "orders").select(*_JSON_COLS)
    path = scratch_dir("q_src_json_roundtrip", sf_dir)
    src.write.mode("overwrite").json(path)
    return spark.read.schema(src.schema).json(path)


_ORC_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
             "l_shipdate", "l_returnflag"]


@register(
    "q_src_orc_roundtrip",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               l_shipdate, l_returnflag
        FROM lineitem
    """,
    origin="REF",
    doc="ORC source: write lineitem columns to ORC files, read them back "
        "(schema from the ORC footer — columnar formats carry their own "
        "types, unlike CSV), return the rows; the oracle projects the "
        "original parquet. Lossless ⇔ hash match across bigint, int, "
        "double, timestamp, string. ORC is the second columnar format a "
        "lake migration meets; the read is vectorized and predicate-"
        "pushdown-capable exactly like parquet.",
)
def q_src_orc_roundtrip(spark, sf_dir):
    src = table(spark, sf_dir, "lineitem").select(*_ORC_COLS)
    path = scratch_dir("q_src_orc_roundtrip", sf_dir)
    src.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


_XML_DM_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice"]


@register(
    "q_src_xml_dropmalformed",
    oracle="""
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS total_c
        FROM orders
        WHERE o_orderkey % 10 <> 0
    """,
    origin="REF",
    doc="XML file source under mode=DROPMALFORMED — the third leg of "
        "XMLParser's processOnError trio in the t2 contract itself "
        "(PERMISSIVE routing = q_xml_corrupt_route, FAILFAST = pytest): "
        "real XML files are written with a deterministically malformed "
        "record for every orderkey%10=0 (non-numeric okey), read back "
        "through the native XML datasource with rowTag=order, and the "
        "malformed documents must silently disappear — the oracle "
        "projects exactly the surviving subset. File write and parse are "
        "both scan-parallel; no shuffle.",
)
def q_src_xml_dropmalformed(spark, sf_dir):
    from pyspark.sql import functions as F2

    src = table(spark, sf_dir, "orders").select(*_XML_DM_COLS)
    good = F2.concat(
        F2.lit("<order><okey>"), F2.col("o_orderkey").cast("string"),
        F2.lit("</okey><status>"), F2.col("o_orderstatus"),
        F2.lit("</status><total_c>"),
        F2.round(F2.col("o_totalprice") * 100, 0).cast("long").cast("string"),
        F2.lit("</total_c></order>"),
    )
    # Malformation is TYPE-level (okey not parseable as LONG) inside
    # well-formed tags: a structurally unclosed record would make the
    # tag-scanning record reader swallow every following record up to the
    # next close tag (measured: 3992 of 13500 survivors instead of 13500).
    bad = F2.concat(
        F2.lit("<order><okey>corrupt-"), F2.col("o_orderkey").cast("string"),
        F2.lit("</okey><status>X</status><total_c>0</total_c></order>"),
    )
    xml = F2.when(F2.col("o_orderkey") % 10 == 0, bad).otherwise(good)
    path = scratch_dir("q_src_xml_dropmalformed", sf_dir)
    # The native XML datasource requires each FILE to be a single rooted
    # document (multiple top-level row tags → "Illegal to have multiple
    # roots") — so records are grouped into 32 rooted documents, one line
    # each, exactly as a real XMLReader input directory would look.
    docs = (
        src.select((F2.col("o_orderkey") % 32).alias("bucket"), xml.alias("x"))
        .groupBy("bucket")
        .agg(
            F2.concat(
                F2.lit("<orders>"),
                F2.concat_ws("", F2.sort_array(F2.collect_list("x"))),
                F2.lit("</orders>"),
            ).alias("value")
        )
    )
    # partitionBy gives exactly one rooted document per file (a second
    # root in the same file would be silently dropped as corrupt).
    docs.write.partitionBy("bucket").mode("overwrite").text(path)
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        .option("mode", "DROPMALFORMED")
        .schema("okey LONG, status STRING, total_c LONG")
        .load(path)
        .select("okey", "status", "total_c")  # drop the partition column
    )


@register(
    "q_src_text_lines",
    oracle="""
        SELECT doc_id, text FROM documents
    """,
    origin="REF",
    doc="Plain-text-lines source (spark.read.text — the rawest ingest "
        "format a corpus pipeline meets, one document per line): write "
        "tab-joined (doc_id, text) lines via the text sink, read them "
        "back as `value` strings, split on the first tab and re-type "
        "doc_id; the oracle projects the original parquet, so a hash "
        "match proves the line write→read→split path is lossless. The "
        "fixture text contains no tabs or newlines (single-line docs — "
        "the format's own precondition, which a real pipeline enforces "
        "by escaping at write time). Scan-parallel both directions, no "
        "shuffle.",
)
def q_src_text_lines(spark, sf_dir):
    src = table(spark, sf_dir, "documents").select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), "text").alias(
            "value"
        )
    )
    path = scratch_dir("q_src_text_lines", sf_dir)
    src.write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    tab = F.instr("value", "\t")
    return lines.select(
        F.substring("value", 1, tab - 1).cast("long").alias("doc_id"),
        F.substr("value", tab + 1).alias("text"),
    )


_HIVE_COLS = ["doc_id", "source", "n_chars", "lang"]


@register(
    "q_src_hive_partitioned",
    oracle="""
        SELECT doc_id, source, n_chars, lang FROM documents
    """,
    origin="REF",
    doc="Hive-partitioned parquet layout: write documents partitioned by "
        "lang (one directory per value, the layout every lake table at "
        "100 TB uses for its coarsest filter column), read the tree "
        "back, and return the rows — the partition column round-trips "
        "through DIRECTORY NAMES, not file contents, so a hash match "
        "proves partition-value encoding/decoding and schema "
        "reassembly are lossless. The companion plan test filters on "
        "lang and asserts PartitionFilters prune at the FILE LISTING "
        "level (zero data files of other partitions are even opened) — "
        "the property that makes partition layout the first-order "
        "scale lever. Write and read are scan-parallel; no shuffle.",
)
def q_src_hive_partitioned(spark, sf_dir):
    src = table(spark, sf_dir, "documents").select(*_HIVE_COLS)
    path = scratch_dir("q_src_hive_partitioned", sf_dir)
    src.write.mode("overwrite").partitionBy("lang").parquet(path)
    out = spark.read.parquet(path)
    # Partition columns come back last and as read-inferred strings;
    # reassert the source column order and lang's string type (it is one).
    return out.select(*_HIVE_COLS)


@register(
    "q_src_xml_encoding",
    oracle="""
        SELECT c_custkey AS key, c_name AS name,
               'Zürich-' || CAST(c_custkey AS VARCHAR) AS city,
               c_acctbal AS bal
        FROM customer WHERE c_custkey % 100 = 0
        ORDER BY c_custkey LIMIT 4096
    """,
    origin="REF",
    doc="XMLReader/XMLParser `encoding` knob (VERDICT r9 missing #2: the "
        "[P] XMLParser config takes an encoding; every other XML path "
        "here is UTF-8): write customer-derived XML FILES AS RAW "
        "ISO-8859-1 BYTES — accented city names (Zürich-<key>) exercise "
        "codepoints whose latin-1 encoding (0xFC) is ILLEGAL UTF-8, so a "
        "reader that ignored the declared encoding fails loudly rather "
        "than silently mojibakes (probed: without the XML declaration "
        "the UTF-8 record reader rejects the file) — then read them "
        "back with the native XML source's charset option + per-file "
        "`<?xml encoding=\"ISO-8859-1\"?>` declaration (the layer Hadoop "
        "text splitting honors), typed LONG/STRING/DOUBLE. The oracle "
        "recomputes the accented strings in UTF-8 SQL, so a hash match "
        "proves decode → codepoint mapping → type conversion end to "
        "end. Fixture generation is a bounded driver-side write "
        "(|customer|/100 rows, the E-MULTIMODAL pattern); the READ — "
        "the operator under test — is scan-parallel over 4 bucket "
        "files, no shuffle. Balances embed as exact-cent strings "
        "(sign-aware), never float repr.",
)
def q_src_xml_encoding(spark, sf_dir):
    # Fixture collect capped STRUCTURALLY at 4096 rows (distributed
    # TakeOrdered — O(1) driver memory at any SF; |customer|/100 stays
    # under the cap at every test SF, and the oracle applies the same
    # ORDER BY + LIMIT).
    rows = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 100 == 0)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
        .orderBy("c_custkey")
        .limit(4096)
        .collect()
    )
    path = scratch_dir("q_src_xml_encoding", sf_dir)
    buckets: dict[int, list] = {}
    for r in rows:
        buckets.setdefault(r.c_custkey % 4, []).append(r)
    for b, rs in buckets.items():
        recs = []
        for r in sorted(rs, key=lambda x: x.c_custkey):
            a = abs(r.cents)
            bal = ("-" if r.cents < 0 else "") + f"{a // 100}.{a % 100:02d}"
            recs.append(
                f"<cust><key>{r.c_custkey}</key><name>{r.c_name}</name>"
                f"<city>Zürich-{r.c_custkey}</city><bal>{bal}</bal></cust>"
            )
        doc = (
            '<?xml version="1.0" encoding="ISO-8859-1"?>\n<custs>'
            + "".join(recs)
            + "</custs>"
        )
        with open(os.path.join(path, f"part-{b}.xml"), "wb") as f:
            f.write(doc.encode("iso-8859-1"))
    return (
        spark.read.format("xml")
        .option("rowTag", "cust")
        .option("charset", "ISO-8859-1")
        .schema("key LONG, name STRING, city STRING, bal DOUBLE")
        .load(path)
    )
