"""XML/JSON envelope (SURVEY §2.A) — the reference's reason to exist.

Re-expresses the CDAP plugin surface on native Spark 4 XML support:

- XMLParser transform [P: hydrator-plugins XMLParser.java — XPath mappings +
  type mapping + processOnError routing] → ``from_xml`` with a declared
  schema (typed extraction), ``xpath_*`` scalar functions, and a
  PERMISSIVE-mode null-field split for error routing.
- XMLToJSON transform [P: XmlToJson.java] → ``from_xml`` → ``to_json`` →
  ``get_json_object``.
- XMLReader batch source [P: XMLReaderBatchSource.java — file glob →
  one record per node path, output (offset, fileName, record)] →
  ``spark.read.format("xml")`` + ``input_file_name()`` (E-XML-SRC).

The testdata ships no XML files, so the t2 rows use the synthesized-XML
pattern: build a deterministic XML string per row FROM parquet columns,
parse it back, extract typed fields; the DuckDB oracle projects the original
columns — parse correctness ⇔ hash equality. Doubles never round-trip
through engine-dependent float formatting: they are embedded as exact
two-decimal strings built from integer cents.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xml_processor_spark.io import scratch_dir, table, widen
from xml_processor_spark.registry import register

# Exact 2-dp decimal string from a 2-dp double (cross-engine-identical):
# integer cents → "<dollars>.<cc>".
_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"
_PRICE_STR_SQL = (
    f"concat(CAST({_CENTS} // 100 AS VARCHAR), '.', "
    f"lpad(CAST({_CENTS} % 100 AS VARCHAR), 2, '0'))"
)


def _price_str():
    c = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return F.concat(
        (c / 100).cast("long").cast("string"),
        F.lit("."),
        F.lpad((c % 100).cast("string"), 2, "0"),
    )


def _order_xml():
    """`<order>` document synthesized from orders columns (Spark side)."""
    return F.concat(
        F.lit("<order><okey>"), F.col("o_orderkey").cast("string"),
        F.lit("</okey><status>"), F.col("o_orderstatus"),
        F.lit("</status><total>"), _price_str(),
        F.lit("</total><odate>"), F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit("</odate><closed>"),
        F.when(F.col("o_orderstatus") == "F", "true").otherwise("false"),
        F.lit("</closed></order>"),
    )


@register(
    "q_xml_parse_struct",
    oracle="""
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               o_totalprice AS total, CAST(o_orderdate AS DATE) AS odate,
               (o_orderstatus = 'F') AS closed
        FROM orders
    """,
    origin="REF",
    doc="XMLParser envelope: synthesize XML per order row, from_xml with a "
        "declared schema, extract long/string/double/date/boolean — the "
        "XPath+type-mapping surface [P: XMLParser.java].",
)
def q_xml_parse_struct(spark, sf_dir):
    o = widen(table(spark, sf_dir, "orders"))
    parsed = o.select(
        F.from_xml(
            _order_xml(),
            "okey LONG, status STRING, total DOUBLE, odate DATE, closed BOOLEAN",
        ).alias("p")
    )
    return parsed.select("p.okey", "p.status", "p.total", "p.odate", "p.closed")


@register(
    "q_xml_xpath",
    oracle="""
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               o_totalprice AS total, o_orderpriority AS prio
        FROM orders
    """,
    origin="REF",
    doc="XPath scalar extraction (xpath_long/xpath_string/xpath_double) "
        "over synthesized XML — the XPath-mapping half of XMLParser.",
)
def q_xml_xpath(spark, sf_dir):
    o = widen(table(spark, sf_dir, "orders"))
    xml = F.concat(
        F.lit("<order><okey>"), F.col("o_orderkey").cast("string"),
        F.lit("</okey><status>"), F.col("o_orderstatus"),
        F.lit("</status><total>"), _price_str(),
        F.lit("</total><prio>"), F.col("o_orderpriority"),
        F.lit("</prio></order>"),
    ).alias("xml")
    return o.select(xml).select(
        F.xpath_long("xml", F.lit("/order/okey")).alias("okey"),
        F.xpath_string("xml", F.lit("/order/status")).alias("status"),
        F.xpath_double("xml", F.lit("/order/total")).alias("total"),
        F.xpath_string("xml", F.lit("/order/prio")).alias("prio"),
    )


@register(
    "q_xml_attributes",
    oracle="""
        SELECT p_partkey AS pkey, p_size AS psize, p_brand AS brand,
               p_name AS pname
        FROM part
    """,
    origin="REF",
    doc="Attribute syntax `<part size=.. brand=..>` parsed via from_xml's "
        "attributePrefix ('_') — attributes are a distinct code path from "
        "child elements in every XML parser.",
)
def q_xml_attributes(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    xml = F.concat(
        F.lit('<part size="'), F.col("p_size").cast("string"),
        F.lit('" brand="'), F.col("p_brand"),
        F.lit('"><pkey>'), F.col("p_partkey").cast("string"),
        F.lit("</pkey><pname>"), F.col("p_name"),
        F.lit("</pname></part>"),
    )
    parsed = p.select(
        F.from_xml(xml, "_size INT, _brand STRING, pkey LONG, pname STRING").alias("x")
    )
    return parsed.select(
        F.col("x.pkey").alias("pkey"),
        F.col("x._size").alias("psize"),
        F.col("x._brand").alias("brand"),
        F.col("x.pname").alias("pname"),
    )


@register(
    "q_xml_nested_explode",
    oracle="""
        SELECT l_orderkey AS okey, l_linenumber AS ln,
               CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
        FROM lineitem
    """,
    origin="REF",
    doc="Repeated child elements: per-order XML embeds its lineitems "
        "(sorted collect), parsed as ARRAY<STRUCT> and exploded back to "
        "lines — the hard XML case (one-to-many inside one document).",
)
def q_xml_nested_explode(spark, sf_dir):
    # widen() before the groupBy: the partial collect_list (and the per-line
    # XML string build) otherwise runs on the single scan task of the
    # one-row-group local fixture. Measured 1.56s -> 1.34s fresh-process at
    # sf0.1; no-op on an already-wide scan.
    li = widen(table(spark, sf_dir, "lineitem"))
    line_xml = F.concat(
        F.lit("<line><ln>"), F.col("l_linenumber").cast("string"),
        F.lit("</ln><qty_c>"),
        F.round(F.col("l_quantity") * 100, 0).cast("long").cast("string"),
        F.lit("</qty_c></line>"),
    )
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.concat_ws("", F.sort_array(F.collect_list(line_xml))).alias("lines"))
        .select(
            F.concat(
                F.lit("<order><okey>"), F.col("l_orderkey").cast("string"),
                F.lit("</okey>"), F.col("lines"), F.lit("</order>"),
            ).alias("xml")
        )
    )
    # No widen() here — measured: repartitioning the per-order XML strings
    # costs more than the parse parallelism it buys (the groupBy shuffle
    # already spreads the parse across shuffle partitions).
    parsed = per_order.select(
        F.from_xml(
            "xml", "okey LONG, line ARRAY<STRUCT<ln: INT, qty_c: LONG>>"
        ).alias("x")
    )
    return parsed.select(
        F.col("x.okey").alias("okey"), F.explode("x.line").alias("l")
    ).select("okey", F.col("l.ln").alias("ln"), F.col("l.qty_c").alias("qty_c"))


@register(
    "q_xml_corrupt_route",
    oracle="""
        SELECT o_orderstatus AS status,
               count(*) FILTER (WHERE o_orderkey % 10 = 0) AS n_corrupt,
               count(*) FILTER (WHERE o_orderkey % 10 <> 0) AS n_ok,
               CAST(sum(o_orderkey) FILTER (WHERE o_orderkey % 10 <> 0)
                    AS BIGINT) AS ok_key_sum
        FROM orders GROUP BY o_orderstatus
    """,
    origin="REF",
    doc="Error routing (XMLParser processOnError / error-dataset [P]): "
        "deterministically malformed XML for orderkey%10=0, PERMISSIVE "
        "parse → null-field split into ok/error flows, counted per status.",
)
def q_xml_corrupt_route(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    good = F.concat(
        F.lit("<order><okey>"), F.col("o_orderkey").cast("string"),
        F.lit("</okey></order>"),
    )
    bad = F.concat(F.lit("<order><okey>"), F.col("o_orderkey").cast("string"))
    xml = F.when(F.col("o_orderkey") % 10 == 0, bad).otherwise(good)
    parsed = o.select(
        "o_orderstatus",
        F.from_xml(xml, "okey LONG", {"mode": "PERMISSIVE"}).alias("p"),
    )
    # Malformed documents parse to a struct whose fields are all null
    # (probed on PySpark 4.1.2) — that null is the error route.
    is_ok = F.col("p.okey").isNotNull()
    return parsed.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.when(~is_ok, 1)).alias("n_corrupt"),
        F.count(F.when(is_ok, 1)).alias("n_ok"),
        F.sum(F.when(is_ok, F.col("p.okey"))).alias("ok_key_sum"),
    )


@register(
    "q_xml_json_roundtrip",
    oracle="""
        SELECT o_orderkey AS okey, o_orderstatus AS status, o_totalprice AS total
        FROM orders
    """,
    origin="REF",
    doc="XMLToJSON transform [P: XmlToJson.java]: XML → struct → JSON text "
        "→ extract values (JSON text itself is never compared — formatting "
        "is engine-specific; extracted values are).",
)
def q_xml_json_roundtrip(spark, sf_dir):
    o = widen(table(spark, sf_dir, "orders"))
    parsed = o.select(
        F.from_xml(
            _order_xml(), "okey LONG, status STRING, total DOUBLE"
        ).alias("p")
    )
    as_json = parsed.select(F.to_json("p").alias("j"))
    return as_json.select(
        F.get_json_object("j", "$.okey").cast("long").alias("okey"),
        F.get_json_object("j", "$.status").alias("status"),
        F.get_json_object("j", "$.total").cast("double").alias("total"),
    )


@register(
    "q_json_extract",
    oracle="""
        SELECT event_id, json_extract_string(props, '$.k') AS k_str, event_type
        FROM events
    """,
    doc="JSON path extraction from the stringly-typed events.props column.",
)
def q_json_extract(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        "event_type",
    )


@register(
    "q_json_typed",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS k,
               CAST(json_extract_string(props, '$.k') AS INT) * 2 AS k2,
               value + CAST(json_extract_string(props, '$.k') AS INT) AS vk
        FROM events
    """,
    doc="from_json to a typed struct + arithmetic on the extracted field.",
)
def q_json_typed(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    j = e.select(
        "event_id", "value", F.from_json("props", "k INT").alias("p")
    )
    return j.select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("p.k") * 2).alias("k2"),
        (F.col("value") + F.col("p.k")).alias("vk"),
    )


@register(
    "E-XML-SRC",
    oracle="""
        SELECT o_orderkey AS okey, o_orderstatus AS status,
               o_totalprice AS total,
               CAST(o_orderkey % 4 AS BIGINT) AS bucket
        FROM orders WHERE o_orderkey % 100 < 2
    """,
    origin="REF",
    doc="XMLReader batch source shape [P: XMLReaderBatchSource.java — "
        "(offset, fileName, record) rows from a file glob]: write XML files "
        "derived from a deterministic orders subset (okey % 100 < 2), read "
        "with the native XML datasource + input_file_name(). Oracle-checked "
        "since r9 (VERDICT r8 #3): the files are written partitionBy(bucket) "
        "so the path segment 'bucket=N' — recovered from input_file_name() "
        "on the read side, the file-provenance surface XMLReader exposes — "
        "is deterministic, and the oracle recomputes it as okey % 4 from "
        "the orders view. A hash match proves (a) the XML write→read "
        "roundtrip dropped/duplicated no record and preserved long/string/"
        "double typing, and (b) every row's file provenance points at "
        "exactly the partition directory its key mandates.",
)
def e_xml_src(spark, sf_dir):
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 < 2)
    xml_dir = scratch_dir("E-XML-SRC", sf_dir)
    # One well-formed document per bucket (the XML datasource scans for
    # rowTag occurrences inside a rooted document, as the Hadoop
    # XmlInputFormat underlying XMLReader does [P]).
    docs = (
        o.select((F.col("o_orderkey") % 4).alias("bucket"), _order_xml().alias("x"))
        .groupBy("bucket")
        .agg(
            F.concat(
                F.lit("<orders>"),
                F.concat_ws("", F.sort_array(F.collect_list("x"))),
                F.lit("</orders>"),
            ).alias("value")
        )
        .select("bucket", "value")
    )
    docs.write.mode("overwrite").partitionBy("bucket").text(xml_dir)
    parsed = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("okey LONG, status STRING, total DOUBLE, odate DATE, closed BOOLEAN")
        .load(xml_dir)
        .withColumn("fileName", F.input_file_name())
    )
    return parsed.select(
        "okey",
        "status",
        "total",
        F.regexp_extract("fileName", r"bucket=(\d+)", 1)
        .cast("long")
        .alias("bucket"),
    )


@register(
    "E-SINK-PQ",
    oracle="""
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    """,
    origin="REF",
    doc="Partitioned parquet sink: write lineitem partitioned by returnflag "
        "(the layout that enables partition pruning at 100 TB), re-read, "
        "count per partition. Oracle-checked since r8 (VERDICT r7 #5): the "
        "oracle aggregates the SOURCE table directly, so a hash match "
        "proves the write+re-read roundtrip dropped/duplicated nothing and "
        "the partition column value survived the directory encoding.",
)
def e_sink_pq(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    tmp = scratch_dir("E-SINK-PQ", sf_dir)
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
    back = spark.read.parquet(tmp)
    return back.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "q_xml_write_roundtrip",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders
    """,
    origin="REF",
    doc="XML WRITE path (the reference family's XML sink direction, "
        "inverse of XMLParser): per-order struct serialized to an XML "
        "string with to_xml, then parsed back with from_xml and the typed "
        "fields extracted; the oracle projects the original columns, so a "
        "hash match proves serialize→parse is lossless for bigint/string/"
        "double. Both directions are JVM expressions inside the scan — "
        "zero shuffle, scan-parallel.",
)
def q_xml_write_roundtrip(spark, sf_dir):
    o = widen(table(spark, sf_dir, "orders"))
    xml = F.to_xml(
        F.struct("o_orderkey", "o_orderstatus", "o_totalprice"),
        {"rowTag": "order"},
    )
    parsed = F.from_xml(
        xml,
        "STRUCT<o_orderkey: BIGINT, o_orderstatus: STRING, o_totalprice: DOUBLE>",
        {"rowTag": "order"},
    )
    return o.select(
        parsed.getField("o_orderkey").alias("o_orderkey"),
        parsed.getField("o_orderstatus").alias("o_orderstatus"),
        parsed.getField("o_totalprice").alias("o_totalprice"),
    )


@register(
    "q_json_flatten",
    oracle="""
        SELECT l_orderkey AS okey, l_linenumber AS ln,
               CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
        FROM lineitem
    """,
    origin="CORE",
    doc="Nested-JSON flatten (the JSON twin of q_xml_nested_explode): a "
        "per-order JSON document embedding its lineitems array is built "
        "character-by-character from parquet columns (never via to_json — "
        "that would test Spark's serializer against itself), parsed with "
        "from_json into STRUCT<okey, lines ARRAY<STRUCT>>, and exploded "
        "back to one row per line. Hash match ⇔ the JSON parse path "
        "(object/array/number grammar, field mapping) is exact. Plan is "
        "JVM-native end-to-end: one groupBy shuffle to assemble, then "
        "scan-parallel parse + explode.",
)
def q_json_flatten(spark, sf_dir):
    li = widen(table(spark, sf_dir, "lineitem"))
    line_json = F.concat(
        F.lit('{"ln":'), F.col("l_linenumber").cast("string"),
        F.lit(',"qty_c":'),
        F.round(F.col("l_quantity") * 100, 0).cast("long").cast("string"),
        F.lit("}"),
    )
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.concat_ws(",", F.sort_array(F.collect_list(line_json))).alias("lines"))
        .select(
            F.concat(
                F.lit('{"okey":'), F.col("l_orderkey").cast("string"),
                F.lit(',"lines":['), F.col("lines"), F.lit("]}"),
            ).alias("j")
        )
    )
    parsed = per_order.select(
        F.from_json(
            "j", "okey LONG, lines ARRAY<STRUCT<ln: INT, qty_c: LONG>>"
        ).alias("x")
    )
    return parsed.select(
        F.col("x.okey").alias("okey"), F.explode("x.lines").alias("l")
    ).select("okey", F.col("l.ln").alias("ln"), F.col("l.qty_c").alias("qty_c"))


@register(
    "q_xml_namespaces",
    oracle="""
        SELECT p_partkey AS pkey, p_size AS psize, p_brand AS brand
        FROM part
    """,
    origin="REF",
    doc="Namespaced-XML XPath extraction (XMLParser handles real-world "
        "feeds, which are namespaced): per-part documents carry two "
        "namespace prefixes; extraction uses local-name() XPath steps, "
        "which are namespace-agnostic — probed: javax-XPath-backed "
        "xpath_* has no namespace-prefix context (a prefixed path "
        "silently returns empty), so local-name() IS the correct idiom, "
        "not a workaround. Element text, nested element, and attribute "
        "axes all exercised; scan-parallel, zero shuffle.",
)
def q_xml_namespaces(spark, sf_dir):
    p = widen(table(spark, sf_dir, "part"))
    xml = F.concat(
        F.lit('<p:part xmlns:p="urn:part" xmlns:m="urn:meta"><p:key>'),
        F.col("p_partkey").cast("string"),
        F.lit('</p:key><m:meta size="'),
        F.col("p_size").cast("string"),
        F.lit('"><m:brand>'),
        F.col("p_brand"),
        F.lit("</m:brand></m:meta></p:part>"),
    )
    root = "/*[local-name()='part']"
    meta = f"{root}/*[local-name()='meta']"
    return p.select(xml.alias("x")).select(
        F.expr(f"xpath_long(x, \"{root}/*[local-name()='key']\")").alias("pkey"),
        F.expr(f'xpath_int(x, "{meta}/@size")').alias("psize"),
        F.expr(f"xpath_string(x, \"{meta}/*[local-name()='brand']\")").alias("brand"),
    )


# --- r6 addition: JSON schema-drift detection -----------------------------


@register(
    "q_json_schema_drift",
    oracle="""
        WITH built AS (
            SELECT CASE WHEN event_id % 2 = 0 THEN 'old' ELSE 'new' END
                       AS epoch,
                   -- payloads are null-coalesced in BOTH dialects: Spark's
                   -- to_json DROPS null struct fields while DuckDB's
                   -- json_object emits the key with a null value, so one
                   -- null row would shift per-field counts between engines
                   CASE WHEN event_id % 2 = 0
                        THEN json_object('k', event_id,
                                         'v', coalesce(value, 0.0))
                        ELSE json_object('k', event_id,
                                         'unit', coalesce(event_type, ''),
                                         'ts_ms', coalesce(epoch_ms(ts), 0))
                   END AS js
            FROM events
        ), keys AS (
            SELECT epoch, unnest(json_keys(js)) AS field FROM built
        )
        SELECT field,
               CAST(count(*) FILTER (WHERE epoch = 'old') AS BIGINT) AS n_old,
               CAST(count(*) FILTER (WHERE epoch = 'new') AS BIGINT) AS n_new,
               CASE WHEN count(*) FILTER (WHERE epoch = 'old') = 0
                        THEN 'added'
                    WHEN count(*) FILTER (WHERE epoch = 'new') = 0
                        THEN 'removed'
                    ELSE 'stable' END AS drift
        FROM keys GROUP BY field
    """,
    doc="Schema-drift detection over a semi-structured feed — the "
        "evolution half of the envelope's type-mapping concern: two "
        "epochs of JSON records are synthesized from the fixture (old "
        "carries k+v; new drops v and adds unit+ts_ms), per-record key "
        "sets come from the engine's native JSON-key inference "
        "(json_object_keys / json_keys — no regex, no Python), and one "
        "grouped count classifies every field as added/removed/stable "
        "with its per-epoch frequencies. Scan-side inference + one "
        "map-side-combined groupBy on a |fields|-sized key space — the "
        "report stays tiny at any corpus size.",
)
def q_json_schema_drift(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    # coalesce payloads (mirrored in the oracle): to_json drops null
    # struct fields, json_object keeps them — a null row would otherwise
    # flip a field's per-epoch counts between engines
    old_js = F.to_json(
        F.struct(
            F.col("event_id").alias("k"),
            F.coalesce(F.col("value"), F.lit(0.0)).alias("v"),
        )
    )
    new_js = F.to_json(
        F.struct(
            F.col("event_id").alias("k"),
            F.coalesce(F.col("event_type"), F.lit("")).alias("unit"),
            F.coalesce(F.unix_millis("ts"), F.lit(0)).alias("ts_ms"),
        )
    )
    built = e.select(
        F.when(F.col("event_id") % 2 == 0, "old").otherwise("new").alias("epoch"),
        F.when(F.col("event_id") % 2 == 0, old_js).otherwise(new_js).alias("js"),
    )
    keys = built.select("epoch", F.explode(F.json_object_keys("js")).alias("field"))
    n_old = F.count(F.when(F.col("epoch") == "old", 1))
    n_new = F.count(F.when(F.col("epoch") == "new", 1))
    return (
        keys.groupBy("field")
        .agg(n_old.alias("n_old"), n_new.alias("n_new"))
        .select(
            "field",
            "n_old",
            "n_new",
            F.when(F.col("n_old") == 0, "added")
            .when(F.col("n_new") == 0, "removed")
            .otherwise("stable")
            .alias("drift"),
        )
    )


@register(
    "q_xml_validate",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (WHERE o_orderkey % 7 = 0) AS BIGINT)
                   AS n_missing_status,
               CAST(count(*) FILTER (WHERE o_orderkey % 7 <> 0
                                       AND o_orderkey % 13 = 0) AS BIGINT)
                   AS n_bad_domain,
               CAST(count(*) FILTER (WHERE o_orderkey % 11 = 0) AS BIGINT)
                   AS n_bad_total,
               CAST(count(*) FILTER (WHERE o_orderkey % 7 <> 0
                                       AND o_orderkey % 13 <> 0
                                       AND o_orderkey % 11 <> 0) AS BIGINT)
                   AS n_valid
        FROM orders
    """,
    origin="REF",
    doc="Schema-validation routing — the XSD-lite half of an XML ETL "
        "validator (q_xml_corrupt_route handles MALFORMED documents; "
        "this one handles well-formed documents violating declared "
        "constraints): required-element check (<status> omitted for "
        "key%7=0), domain check (status 'X' outside {F,O,P} for "
        "key%13=0 when present), and type check (<total> = 'N/A', "
        "non-numeric via try_cast, for key%11=0) — the three rules "
        "evaluated independently per document with a per-rule violation "
        "census plus the all-rules-pass count, exactly the "
        "valid/invalid split an error-dataset sink consumes. The "
        "corruptions are deterministic functions of the key, so the "
        "oracle asserts the census directly on the source columns — a "
        "parse or validation bug on the Spark side breaks the hash. "
        "Scan-side string synthesis + parse + flags; ONE "
        "map-side-combined global aggregate; no shuffle beyond it.",
)
def q_xml_validate(spark, sf_dir):
    o = widen(table(spark, sf_dir, "orders"))
    status_el = F.when(F.col("o_orderkey") % 7 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit("<status>"),
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
            F.lit("</status>"),
        )
    )
    total_el = F.concat(
        F.lit("<total>"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("N/A")).otherwise(
            _price_str()
        ),
        F.lit("</total>"),
    )
    xml = F.concat(
        F.lit("<order><okey>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</okey>"),
        status_el,
        total_el,
        F.lit("</order>"),
    )
    p = o.select(
        F.from_xml(xml, "okey LONG, status STRING, total STRING").alias("p")
    )
    r_required = F.col("p.status").isNotNull()
    r_domain = F.col("p.status").isin("F", "O", "P")
    r_type = F.expr("try_cast(p.total AS DOUBLE)").isNotNull()
    return p.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(~r_required, 1)).alias("n_missing_status"),
        F.count(F.when(r_required & ~r_domain, 1)).alias("n_bad_domain"),
        F.count(F.when(~r_type, 1)).alias("n_bad_total"),
        F.count(F.when(r_required & r_domain & r_type, 1)).alias("n_valid"),
    )
