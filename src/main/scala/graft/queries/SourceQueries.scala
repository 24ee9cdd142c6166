package graft.queries

import graft.{QueryDef, Tables}
import graft.llm.Multimodal
import graft.queries.SqlFragments.{toksSql, ws}
import graft.operators.{Baskets, Cdc, Check, Checks, Cleaning, Diff, Ivm}
import graft.operators.Aggregates._
import graft.sources.{Competitor, Csv, Generator, Sampling, Warehouse}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink/cleaning/sampling operator queries (SURVEY §2.1 S-ops, §2.2
  * P3/P6/P7, §2.6 T5). Round-trip queries write to a scratch dir and read
  * back, then aggregate — the oracle computes the same aggregate straight
  * from the parquet tables, so a green row proves the values survived the
  * sink+scan intact.
  */
object SourceQueries {

  private def scratch(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-io/$name"

  private val dsumSql = (x: String) => s"CAST(SUM(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"

  private val ordersCsvSchema = new StructType()
    .add("o_orderkey", LongType).add("o_custkey", LongType)
    .add("o_orderstatus", StringType).add("o_totalprice", DoubleType)
    .add("o_orderdate", TimestampType).add("o_orderpriority", StringType)

  private val partCsvSchema = new StructType()
    .add("p_partkey", LongType).add("p_name", StringType)
    .add("p_brand", StringType).add("p_type", StringType)
    .add("p_size", IntegerType).add("p_retailprice", DoubleType)

  /** Shared q155/q167 CDC-feed synthesis (oracle side): insert per order,
    * +10.0 update at +5 days for key%3==0, a SECOND same-ts update for
    * key%9==0 (seq tie-break), delete at +30 days for key%10==7. */
  private val cdcLogSql =
    """
      |  SELECT o_orderkey AS k, o_orderdate AS ts, 0 AS seq, 'I' AS op,
      |         'NEW' AS status, o_totalprice AS price FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_orderdate + INTERVAL 5 DAY, 1, 'U',
      |         o_orderstatus, o_totalprice + 10.0
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderdate + INTERVAL 5 DAY, 2, 'U',
      |         'AUDIT', o_totalprice + 10.0
      |  FROM orders WHERE o_orderkey % 9 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY, 3, 'D',
      |         NULL, NULL
      |  FROM orders WHERE o_orderkey % 10 = 7""".stripMargin

  /** The same feed on the Spark side (shared by q155/q167). */
  private def cdcLogOf(s: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame = {
    val o = Tables.orders(s, dir)
    def ev(f: org.apache.spark.sql.DataFrame,
           ts: org.apache.spark.sql.Column, seq: Int, op: String,
           status: org.apache.spark.sql.Column,
           price: org.apache.spark.sql.Column) =
      f.select(col("o_orderkey"), ts.as("ts"), lit(seq).as("seq"),
        lit(op).as("op"), status.cast("string").as("status"),
        price.cast("double").as("price"))
    val plus5 = col("o_orderdate") + expr("INTERVAL 5 DAYS")
    ev(o, col("o_orderdate"), 0, "I", lit("NEW"), col("o_totalprice"))
      .unionByName(ev(o.filter(col("o_orderkey") % 3 === 0), plus5, 1, "U",
        col("o_orderstatus"), col("o_totalprice") + 10.0))
      .unionByName(ev(o.filter(col("o_orderkey") % 9 === 0), plus5, 2, "U",
        lit("AUDIT"), col("o_totalprice") + 10.0))
      .unionByName(ev(o.filter(col("o_orderkey") % 10 === 7),
        col("o_orderdate") + expr("INTERVAL 30 DAYS"), 3, "D",
        lit(null), lit(null)))
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- q102: fixed-k per-group deterministic sample — the balanced
    // eval-set cut: exactly 5 docs per source by md5-of-key order
    // (unbiased w.r.t. any value column, reproducible, window partitioned
    // by group so no global sort).
    QueryDef.sql("q102_per_group_sample",
      """WITH r AS (SELECT doc_id, source,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents)
        |SELECT doc_id, source, CAST(rnk AS INTEGER) AS rnk
        |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin) { (s, dir) =>
      graft.sources.Sampling.perGroupDeterministic(
          Tables.documents(s, dir).select("doc_id", "source"), "source", "doc_id", 5)
        .select(col("doc_id"), col("source"), col("rnk").cast("int"))
        .orderBy("source", "rnk")
    },

    // ---- q103: SCD Type-2 dimension merge — warehouse history keeping:
    // a deterministic update batch (every 7th customer re-segmented to
    // PROMO with +100 balance; every 5th-not-7th sent through UNCHANGED
    // to exercise the no-op path) applied to the current customer dim.
    // Changed keys close their current row at the effective date and open
    // a new version; unchanged/no-op rows pass through.
    QueryDef.sql("q103_scd2_merge",
      """WITH cur AS (SELECT c_custkey, c_mktsegment AS segment,
        |    c_acctbal AS acctbal, DATE '2024-01-01' AS valid_from,
        |    CAST(NULL AS DATE) AS valid_to, true AS is_current
        |  FROM customer),
        |upd AS (
        |  SELECT c_custkey, 'PROMO' AS segment, c_acctbal + 100 AS acctbal
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_acctbal
        |  FROM customer WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0),
        |j AS (SELECT cur.c_custkey, cur.segment, cur.acctbal, cur.valid_from,
        |        u.segment AS u_seg, u.acctbal AS u_bal,
        |        (u.c_custkey IS NOT NULL AND
        |         (u.segment IS DISTINCT FROM cur.segment
        |          OR u.acctbal IS DISTINCT FROM cur.acctbal)) AS chg
        |      FROM cur LEFT JOIN upd u ON cur.c_custkey = u.c_custkey)
        |SELECT c_custkey, segment, acctbal, valid_from,
        |  CASE WHEN chg THEN DATE '2024-06-01' END AS valid_to,
        |  NOT chg AS is_current
        |FROM j
        |UNION ALL
        |SELECT c_custkey, u_seg, u_bal, DATE '2024-06-01',
        |  CAST(NULL AS DATE), true
        |FROM j WHERE chg
        |ORDER BY c_custkey, valid_from""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val cur = c.select(col("c_custkey"),
        col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"),
        lit("2024-01-01").cast("date").as("valid_from"),
        lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
      val upd = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit("PROMO").as("segment"),
          (col("c_acctbal") + 100).as("acctbal"))
        .unionByName(
          c.filter(col("c_custkey") % 5 === 0 && col("c_custkey") % 7 =!= 0)
            .select(col("c_custkey"), col("c_mktsegment").as("segment"),
              col("c_acctbal").as("acctbal")))
      graft.sources.Warehouse.scd2Apply(cur, upd, "c_custkey",
          Seq("segment", "acctbal"), lit("2024-06-01"))
        .orderBy("c_custkey", "valid_from")
    },

    // ---- q105: winsorization — clip l_extendedprice to its exact
    // [p05, p95] percentiles (rounded to the money domain's 2 decimals,
    // so clipped values stay exact-decimal-summable) and report the clip
    // summary. Exact interpolated percentile is cross-engine bit-stable
    // (q68 property); bounds broadcast back as a 1-row crossJoin.
    QueryDef.sql("q105_winsorize",
      s"""WITH b AS (SELECT round(quantile_cont(l_extendedprice, 0.05), 2) AS lo,
         |                  round(quantile_cont(l_extendedprice, 0.95), 2) AS hi
         |           FROM lineitem)
         |SELECT COUNT(*) AS n,
         |  CAST(SUM(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS clipped_low,
         |  CAST(SUM(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS clipped_high,
         |  ${dsumSql("least(greatest(l_extendedprice, lo), hi)")} AS winsorized_sum,
         |  round(MIN(lo), 2) AS lo, round(MIN(hi), 2) AS hi
         |FROM lineitem, b""".stripMargin) { (s, dir) =>
      graft.operators.Cleaning.winsorize(
          Tables.lineitem(s, dir), "l_extendedprice", 0.05, 0.95)
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("__clipped") && col("l_extendedprice") < col("__lo"), 1L)
            .otherwise(0L)).as("clipped_low"),
          sum(when(col("__clipped") && col("l_extendedprice") > col("__hi"), 1L)
            .otherwise(0L)).as("clipped_high"),
          sum(col("l_extendedprice_winsorized").cast("decimal(18,2)"))
            .cast("double").as("winsorized_sum"),
          round(min(col("__lo")), 2).as("lo"), round(min(col("__hi")), 2).as("hi"))
    },

    // ---- q31: CSV sink + explicit-schema scan round-trip (S1+S10)
    QueryDef.sql("q31_csv_roundtrip",
      s"""SELECT o_orderstatus, COUNT(*) AS cnt,
         |  ${dsumSql("o_totalprice")} AS total,
         |  CAST(MIN(o_orderdate) AS DATE) AS min_day,
         |  CAST(MAX(o_orderdate) AS DATE) AS max_day
         |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val path = scratch("q31_orders_csv")
      Csv.write(Tables.orders(s, dir), path)
      Csv.read(s, path, ordersCsvSchema)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"),
          to_date(min(col("o_orderdate"))).as("min_day"),
          to_date(max(col("o_orderdate"))).as("max_day"))
    },

    // ---- q32: malformed-record-tolerant scan (S4) — good lines from part
    // plus injected garbage rows; DROPMALFORMED must recover exactly part
    QueryDef.sql("q32_malformed_scan",
      s"""SELECT COUNT(*) AS cnt, CAST(SUM(p_size) AS BIGINT) AS total_size,
         |  ${dsumSql("p_retailprice")} AS total_price
         |FROM part""".stripMargin) { (s, dir) =>
      val path = scratch("q32_part_csv")
      val header = s.range(1).select(
        lit("p_partkey,p_name,p_brand,p_type,p_size,p_retailprice").as("line"),
        lit(0L).as("ord"))
      val good = Tables.part(s, dir).select(
        concat_ws(",", col("p_partkey"), col("p_name"), col("p_brand"),
          col("p_type"), col("p_size"), col("p_retailprice")).as("line"),
        lit(1L).as("ord"))
      val bad = s.range(3).select(
        concat(lit("bad_id_"), col("id"), lit(",x,y,z,not_an_int,not_a_double")).as("line"),
        lit(2L).as("ord"))
      header.unionByName(good).unionByName(bad)
        .orderBy("ord").select("line")
        .coalesce(1).write.mode("overwrite").text(path)
      Csv.readTolerant(s, path, partCsvSchema)
        .agg(count(lit(1)).as("cnt"), sum("p_size").as("total_size"),
          dsum(col("p_retailprice")).as("total_price"))
    },

    // ---- q33: JSON sink + scan round-trip (S13)
    QueryDef.sql("q33_json_roundtrip",
      s"""SELECT event_type, COUNT(*) AS cnt,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         |  CAST(SUM(user_id) AS BIGINT) AS user_sum
         |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val path = scratch("q33_events_json")
      Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite").json(path)
      s.read.schema(new StructType()
          .add("event_id", LongType).add("user_id", LongType)
          .add("event_type", StringType).add("value", DoubleType))
        .json(path)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total_value"),
          sum("user_id").as("user_sum"))
    },

    // ---- q34: idempotent insert / upsert-lite (S11 — ON CONFLICT DO
    // NOTHING): incoming conflict rows must NOT replace base rows
    QueryDef.sql("q34_upsert",
      s"""WITH upserted AS (
         |  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 0
         |  UNION ALL
         |  SELECT c_custkey, -1.0 AS c_acctbal FROM customer
         |  WHERE c_custkey % 2 = 0 AND c_custkey % 3 = 0)
         |SELECT COUNT(*) AS cnt, ${dsumSql("c_acctbal")} AS total_bal,
         |  CAST(SUM(CASE WHEN c_acctbal = -1.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS inserted_rows
         |FROM upserted""".stripMargin) { (s, dir) =>
      val cust = Tables.customer(s, dir).select("c_custkey", "c_acctbal")
      val base = cust.filter(col("c_custkey") % 3 =!= 0)
      val incoming = cust.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_acctbal", lit(-1.0))
      Warehouse.upsertPlan(base, incoming, Seq("c_custkey"))
        .agg(count(lit(1)).as("cnt"), dsum(col("c_acctbal")).as("total_bal"),
          sum(when(col("c_acctbal") === -1.0, 1).otherwise(0)).as("inserted_rows"))
    },

    // ---- q35: catalog DDL + overwrite table write/read (S9+S12)
    QueryDef.sql("q35_ddl_warehouse",
      """SELECT r.r_name, COUNT(*) AS nations
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Warehouse.ensureDatabase(s, "graft_wh")
      Warehouse.overwriteTable(Tables.nation(s, dir), "graft_wh.nation_snap")
      s.table("graft_wh.nation_snap")
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name").agg(count(lit(1)).as("nations"))
    },

    // ---- q36: referential sampler (T5+J6), deterministic key-hash variant
    // (2/16 of customers) so the whole closure is oracle-checkable — the
    // RNG sampler (Sampling.sampleDim, the pandas-seed-42 analog) keeps its
    // fraction/closure properties in SourcesSpec, but RNG streams are not
    // reproducible across engines and can't be oracled.
    QueryDef.sql("q36_referential_sample",
      """WITH sc AS (SELECT c_custkey FROM customer
        |            WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) IN ('0', '1')),
        |co AS (SELECT o_orderkey FROM orders
        |       WHERE o_custkey IN (SELECT c_custkey FROM sc)),
        |cl AS (SELECT 1 AS x FROM lineitem
        |       WHERE l_orderkey IN (SELECT o_orderkey FROM co))
        |SELECT (SELECT COUNT(*) FROM sc) AS sampled_customers,
        |       (SELECT COUNT(*) FROM co) AS closed_orders,
        |       (SELECT COUNT(*) FROM cl) AS closed_lineitems""".stripMargin) { (s, dir) =>
      val sampledCust = Sampling.sampleDimDeterministic(
        Tables.customer(s, dir), "c_custkey", sixteenths = 2)
      val closedOrders = Sampling.closeOver(Tables.orders(s, dir), "o_custkey",
        sampledCust, "c_custkey")
      val closedLines = Sampling.closeOver(Tables.lineitem(s, dir), "l_orderkey",
        closedOrders, "o_orderkey")
      sampledCust.agg(count(lit(1)).as("sampled_customers"))
        .crossJoin(closedOrders.agg(count(lit(1)).as("closed_orders")))
        .crossJoin(closedLines.agg(count(lit(1)).as("closed_lineitems")))
    },

    // ---- q37: product cleaning (P3 range filter + P6 fillna + P7 coerce) —
    // nulls injected deterministically so the fill defaults are observable
    QueryDef.sql("q37_product_cleaning",
      """SELECT COALESCE(NULLIF(p_brand, 'Brand#45'), 'Unknown') AS brand,
        |  COALESCE(NULLIF(p_size, 25), 0) AS size,
        |  COUNT(*) AS cnt
        |FROM part
        |WHERE TRY_CAST(CAST(p_partkey AS VARCHAR) AS BIGINT) IS NOT NULL
        |  AND p_partkey BETWEEN -2147483648 AND 2147483647
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val dirty = Tables.part(s, dir)
        .withColumn("p_partkey", Cleaning.coerce(col("p_partkey"), "bigint"))
        .withColumn("p_brand", nullif(col("p_brand"), lit("Brand#45")))
        .withColumn("p_size", nullif(col("p_size"), lit(25)))
      Cleaning.fillDefaults(dirty.filter(Cleaning.validId(col("p_partkey"))),
          Map("p_brand" -> "Unknown", "p_size" -> 0))
        .groupBy(col("p_brand").as("brand"), col("p_size").as("size"))
        .agg(count(lit(1)).as("cnt"))
    },

    // ---- q38: synthetic event generator (S8) — deterministic hash-derived
    // batch; shape-checked here (rows-only), value properties in GeneratorSpec
    QueryDef.golden("q38_synthetic_events") { (s, dir) =>
      val clicks = Generator.clickBatch(s, 10000, seed = 42, startTs = 1700000000L)
      clicks.groupBy("event_type", "traffic_source")
        .agg(count(lit(1)).as("events"),
          count(col("event_metadata")).as("with_metadata"))
        .orderBy("event_type", "traffic_source")
    },

    // ---- q131: ORC roundtrip (columnar interchange beyond parquet —
    // Spark's other first-class columnar format). The engine writes the
    // orders table as ORC (zlib), reads it back, and aggregates; the
    // oracle computes the identical aggregate from the ORIGINAL parquet,
    // so the gate proves the write→read roundtrip is lossless including
    // decimals and dates. DuckDB never needs to read ORC.
    QueryDef.sql("q131_orc_roundtrip",
      s"""SELECT o_orderpriority, COUNT(*) AS cnt,
         |  ${dsumSql("o_totalprice")} AS total,
         |  CAST(MIN(o_orderdate) AS DATE) AS min_day,
         |  CAST(MAX(o_orderdate) AS DATE) AS max_day
         |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val path = scratch("q131_orders_orc")
      Tables.orders(s, dir).write.mode("overwrite")
        .option("compression", "zlib").orc(path)
      s.read.orc(path)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"),
          to_date(min(col("o_orderdate"))).as("min_day"),
          to_date(max(col("o_orderdate"))).as("max_day"))
    },

    // ---- q38b: the generator's TRANSACTION batch (golden determinism
    // replay, like q38's click batch) — snapshots the full rows incl. the
    // serialized basket JSON so q38a below can audit them independently.
    QueryDef.golden("q38b_synthetic_transactions") { (s, dir) =>
      Generator.transactionBatch(s, 2000, seed = 42, startTs = 1700000000L)
        .orderBy("booking_id")
    },

    // ---- q38a: INDEPENDENT consistency audit for the generator (the
    // r6-verdict q38 soft spot). The xxhash64 field derivations are not
    // SQL-expressible, but the generator's load-bearing INVARIANT is:
    // total_amount must equal the basket total serialized in its own
    // product_metadata JSON (the reference keeps them consistent —
    // data_generator.py:60-75 — and every downstream basket-vs-amount
    // ratio depends on it). The Spark side emits the live batch's
    // (booking_id, total_amount, n_items) with n_items parsed back from
    // its own JSON; the oracle RECOMPUTES both from the committed golden
    // q38b rows with DuckDB's own JSON parser and arithmetic. Hash-equal
    // iff live == golden AND the golden's serialized baskets really sum
    // to its totals under an independent engine's evaluation.
    QueryDef.sql("q38a_generator_consistency_audit",
      s"""WITH g AS (SELECT booking_id, total_amount,
         |    json_transform(product_metadata,
         |      '[{"quantity":"BIGINT","item_price":"BIGINT"}]') AS items
         |  FROM read_parquet('${graft.QueryDef.goldenRoot}/sf0.01/q38b_synthetic_transactions.parquet'))
         |SELECT booking_id,
         |  CAST(list_sum(list_transform(items, x -> x.quantity * x.item_price)) AS BIGINT)
         |    AS total_amount,
         |  CAST(len(items) AS BIGINT) AS n_items
         |FROM g ORDER BY booking_id""".stripMargin) { (s, dir) =>
      val itemSchema = ArrayType(new StructType()
        .add("product_id", IntegerType).add("quantity", IntegerType)
        .add("item_price", LongType))
      Generator.transactionBatch(s, 2000, seed = 42, startTs = 1700000000L)
        .select(col("booking_id"), col("total_amount"),
          size(from_json(col("product_metadata"), itemSchema)).cast("long")
            .as("n_items"))
        .orderBy("booking_id")
    },

    // ---- q39: JSON basket parse + explode + totals (S5+U1+P17) — items are
    // serialized to the reference's product_metadata JSON shape, parsed back
    // with from_json, and reduced; oracle computes straight from lineitem
    QueryDef.sql("q39_basket_json_parse",
      """SELECT l_orderkey AS order_id,
        |  SUM(l_quantity) AS total_items,
        |  CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total_product_value,
        |  COUNT(*) AS num_unique_products
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      val itemSchema = ArrayType(new StructType()
        .add("product_id", LongType).add("quantity", DoubleType)
        .add("item_price", DoubleType))
      val asJson = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("order_id"))
        .agg(to_json(collect_list(struct(
          col("l_partkey").as("product_id"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("item_price")))).as("product_metadata"))
      val items = Baskets.parseItems(col("product_metadata"), itemSchema)
      asJson.select(
        col("order_id"),
        aggregate(items, lit(0.0), (acc, x) => acc + x.getField("quantity")).as("total_items"),
        aggregate(items, lit(BigDecimal(0)).cast(DecimalType(18, 6)),
          (acc, x) => (acc + (x.getField("quantity") * x.getField("item_price"))
            .cast(DecimalType(18, 6))).cast(DecimalType(18, 6)))
          .cast("double").as("total_product_value"),
        size(items).cast("long").as("num_unique_products"))
    },

    // ---- q55: one-pass per-column dataset profile (A13 — complete_analyzer
    // parity; exact distinct for the oracle, HLL at scale)
    QueryDef.sql("q55_profile_part", {
      val colsSpec = Seq(
        ("p_partkey", "bigint"), ("p_name", "string"), ("p_brand", "string"),
        ("p_type", "string"), ("p_size", "int"), ("p_retailprice", "double"))
      colsSpec.map { case (c, t) =>
        s"""SELECT '$c' AS "column", '$t' AS dtype, COUNT(*) AS row_count,
           |  COUNT($c) AS non_null, COUNT(*) - COUNT($c) AS nulls,
           |  COUNT(DISTINCT $c) AS distinct_count,
           |  CAST(MIN($c) AS VARCHAR) AS min_str,
           |  CAST(MAX($c) AS VARCHAR) AS max_str FROM part""".stripMargin
      }.mkString("\nUNION ALL\n")
    }) { (s, dir) =>
      graft.Profiler.profile(Tables.part(s, dir), exact = true)
    },

    // ---- q56: external competitor-price connector (S7) + A12 stats over
    // the deterministic synthetic feed (incl. P18 Rp-string parse inside)
    QueryDef.sql("q56_competitor_feed",
      """WITH feed AS (
        |  SELECT p_partkey AS our_product_id,
        |    CAST(round(p_retailprice * (1.0 + (r - 2.0) * 0.05), 0) AS BIGINT) AS price
        |  FROM part, generate_series(1, 3) AS t(r))
        |SELECT our_product_id,
        |  COUNT(*) AS quote_count,
        |  CAST(SUM(price) AS DOUBLE) / COUNT(*) AS avg_price,
        |  MIN(price) AS min_price, MAX(price) AS max_price,
        |  CASE WHEN COUNT(*) >= 2 THEN
        |    sqrt(greatest((CAST(SUM(price*price) AS DOUBLE)
        |      - CAST(SUM(price) AS DOUBLE) * SUM(price) / COUNT(*))
        |      / (COUNT(*) - 1), 0)) END AS std_price
        |FROM feed GROUP BY 1""".stripMargin) { (s, dir) =>
      val feed = Competitor.syntheticFeedFromPart(Tables.part(s, dir), quotes = 3)
      val n = count(lit(1))
      val sp = sum(col("competitor_price"))
      val sp2 = sum(col("competitor_price") * col("competitor_price"))
      feed.groupBy(col("our_product_id").cast("long").as("our_product_id"))
        .agg(
          n.as("quote_count"),
          (sp.cast("double") / n).as("avg_price"),
          min(col("competitor_price")).as("min_price"),
          max(col("competitor_price")).as("max_price"),
          when(n >= 2, sqrt(greatest(
            (sp2.cast("double") - sp.cast("double") * sp / n) / (n - lit(1)),
            lit(0.0)))).as("std_price"))
    },

    // ---- q60: multimodal resize stage (proportional fit, never upscale —
    // metadata math mirrors the stubbed codec; fully oracle-checkable)
    QueryDef.sql("q60_resize_meta",
      """WITH m AS (SELECT doc_id AS id,
        |    octet_length(encode(text)) % 640 + 1 AS width,
        |    (octet_length(encode(text)) // 640) % 480 + 1 AS height
        |  FROM documents),
        |s AS (SELECT *, least(320.0 / width, 240.0 / height, 1.0) AS sc FROM m)
        |SELECT id, width, height,
        |  CAST(ceil(width * sc) AS INTEGER) AS resized_width,
        |  CAST(ceil(height * sc) AS INTEGER) AS resized_height
        |FROM s ORDER BY id""".stripMargin) { (s, dir) =>
      val meta = Multimodal.decodeBatched(Multimodal.withBinaryPayload(
        Tables.documents(s, dir), "doc_id", "text", "image")).toDF()
      Multimodal.resizeMeta(meta, 320, 240)
        .select(col("id"), col("width"), col("height"),
          col("resized_width"), col("resized_height"))
        .orderBy("id")
    },

    // ---- q61: multimodal feature-extract -> ANN integration (stub embed is
    // hash-derived — rows-only; determinism + pipeline shape in MultimodalSpec)
    QueryDef.golden("q61_multimodal_ann") { (s, dir) =>
      val emb = Multimodal.withBinaryPayload(
          Tables.documents(s, dir), "doc_id", "text", "image")
        .select(col("id").as("vec_id"),
          Multimodal.fakeEmbedding(col("payload"), 16).as("embedding"))
      val query = emb.filter(col("vec_id") === 1).select(col("embedding").as("qe"))
      graft.llm.Similarity.bruteTopK(emb, query, 10)
    },

    // ---- q61b: the multimodal FEATURE TABLE itself (golden determinism
    // replay) — snapshotting the features lets q61a audit the search
    // math over them independently. Emitted EXPLODED as (vec_id, pos,
    // value): every column scalar, so the driver's pandas-based checker
    // can sort it (a raw array<float> column crashes its sort_values —
    // the r7 board's one red row).
    QueryDef.golden("q61b_multimodal_features") { (s, dir) =>
      Multimodal.withBinaryPayload(
          Tables.documents(s, dir), "doc_id", "text", "image")
        .select(col("id").as("vec_id"),
          posexplode(Multimodal.fakeEmbedding(col("payload"), 16)))
        .toDF("vec_id", "pos", "value")
        .orderBy("vec_id", "pos")
    },

    // ---- q61a: INDEPENDENT audit for the golden-gated q61 (closing the
    // r6 verdict's last ANN soft spot). The stubbed feature extraction
    // (xxhash64 over the payload) is not SQL-expressible — q61b's golden
    // covers it with a determinism replay — but everything DOWNSTREAM of
    // the features is: the oracle recomputes the exact decimal-cosine
    // top-10 from the COMMITTED q61b feature table with DuckDB's own
    // arithmetic, while Spark runs the live feature-extract → bruteTopK
    // chain. Hash-equal iff live features == golden AND the cross-modal
    // ANN search math agrees cross-engine on the real 16-dim arrays.
    QueryDef.sql("q61a_multimodal_ann_audit", {
      // the snapshot is exploded (vec_id, pos, value) — rebuild each dot
      // product by joining on pos; per-term DECIMAL(20,15) casts summed
      // by DuckDB's exact decimal sum (order-independent), identical
      // arithmetic to the engine's decimal-cosine
      s"""WITH f AS (SELECT vec_id, pos, CAST(value AS DOUBLE) AS v
         |  FROM read_parquet('${graft.QueryDef.goldenRoot}/sf0.01/q61b_multimodal_features.parquet')),
         |q AS (SELECT pos, v AS qv FROM f WHERE vec_id = 1),
         |d AS (SELECT f.vec_id,
         |    CAST(sum(CAST(f.v * q.qv AS DECIMAL(20,15))) AS DOUBLE) AS dq,
         |    CAST(sum(CAST(f.v * f.v AS DECIMAL(20,15))) AS DOUBLE) AS dd
         |  FROM f JOIN q USING (pos) GROUP BY f.vec_id),
         |n AS (SELECT CAST(sum(CAST(qv * qv AS DECIMAL(20,15))) AS DOUBLE) AS qq FROM q)
         |SELECT d.vec_id, round(d.dq / (sqrt(d.dd) * sqrt(n.qq)), 9) AS cosine
         |FROM d, n ORDER BY cosine DESC, d.vec_id LIMIT 10""".stripMargin
    }) { (s, dir) =>
      val emb = Multimodal.withBinaryPayload(
          Tables.documents(s, dir), "doc_id", "text", "image")
        .select(col("id").as("vec_id"),
          Multimodal.fakeEmbedding(col("payload"), 16).as("embedding"))
      val query = emb.filter(col("vec_id") === 1).select(col("embedding").as("qe"))
      graft.llm.Similarity.bruteTopK(emb, query, 10)
    },

    // ---- q87: REAL audio codec end-to-end — WAV parameters derived
    // arithmetically per doc, synthesized through javax.sound.sampled's
    // actual WAVE encoder (batched mapPartitions, the codec-stage shape),
    // then header-decoded back by the real decoder. The oracle computes
    // the same parameters directly in SQL: values can only agree if the
    // encode→decode round trip is lossless, so this gates the codec
    // itself, not a stub.
    QueryDef.sql("q87_audio_meta",
      """SELECT doc_id AS id,
        |  CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |  CAST(100 + length(text) % 500 AS BIGINT) AS n_frames,
        |  ((100 + length(text) % 500) * 1000.0) / (8000 + (doc_id % 3) * 4000)
        |    AS duration_ms
        |FROM documents ORDER BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val params = Tables.documents(s, dir).select(
        col("doc_id"),
        (lit(8000) + (col("doc_id") % 3) * 4000).cast("int").as("rate"),
        (lit(1) + col("doc_id") % 2).cast("int").as("ch"),
        (lit(100) + length(col("text")) % 500).cast("int").as("frames"))
      // scale the ENCODER out too: a single compact source file would
      // otherwise run the whole synth pass in one task (decodeBatched
      // guards its own side the same way)
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      val wavs = params.repartition(nPart)
        .as[(Long, Int, Int, Int)].mapPartitions { it =>
        // per-partition encoder batch — same shape as the decode stage
        it.map { case (id, rate, ch, frames) =>
          (id, Multimodal.synthWav(rate, ch, frames), "audio")
        }
      }.toDF("id", "payload", "modality")
      Multimodal.decodeBatched(wavs).toDF()
        .select(col("id"),
          col("width").cast("long").as("sample_rate"),
          col("height").cast("long").as("channels"),
          col("nFrames").cast("long").as("n_frames"))
        .withColumn("duration_ms",
          (col("n_frames") * lit(1000.0)) / col("sample_rate"))
        .orderBy("id")
    },

    // ---- q88: REAL video metadata codec end-to-end — MP4 parameters
    // derived arithmetically per doc, synthesized as actual ISO BMFF
    // boxes (Multimodal.synthMp4), then parsed back by the box-tree
    // walker (decodeMp4Header). The oracle computes the parameters
    // directly in SQL, so values only agree if the box encode→parse
    // round trip is lossless — same gating pattern as q87's audio.
    QueryDef.sql("q88_video_meta",
      """SELECT doc_id AS id,
        |  CAST(320 + (doc_id % 4) * 160 AS BIGINT) AS width,
        |  CAST(240 + (doc_id % 3) * 120 AS BIGINT) AS height,
        |  CAST(24 + length(text) % 1000 AS BIGINT) AS n_frames
        |FROM documents ORDER BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val params = Tables.documents(s, dir).select(
        col("doc_id"),
        (lit(320) + (col("doc_id") % 4) * 160).cast("int").as("w"),
        (lit(240) + (col("doc_id") % 3) * 120).cast("int").as("h"),
        (lit(24) + length(col("text")) % 1000).cast("int").as("f"))
      val mp4s = params.as[(Long, Int, Int, Int)].mapPartitions { it =>
        it.map { case (id, w, h, f) => (id, Multimodal.synthMp4(w, h, f), "video") }
      }.toDF("id", "payload", "modality")
      Multimodal.decodeBatched(mp4s).toDF()
        .select(col("id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("nFrames").cast("long").as("n_frames"))
        .orderBy("id")
    },

    // ---- q54: multimodal batched decode + frame sampling (mapInPandas-shaped
    // ---- q108: partitioned warehouse layout round-trip — the fact table
    // is rewritten partitioned by month (the 100 TB layout: daily/monthly
    // reprocessing rewrites one partition; readers prune on the key), then
    // a one-month slice is read BACK THROUGH the partitioned table and
    // aggregated. SourcesSpec pins the pruning itself (PartitionFilters in
    // the scan); the oracle pins that the values survive the
    // partitioned-layout round trip. The month key is written as its own
    // column because partition columns are directory names, not data.
    QueryDef.sql("q108_partitioned_layout",
      s"""SELECT o_orderpriority, COUNT(*) AS orders,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      Warehouse.ensureDatabase(s, "graft_wh")
      Warehouse.overwritePartitioned(
        Tables.orders(s, dir)
          .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM")),
        "graft_wh.orders_by_month", "o_month")
      s.table("graft_wh.orders_by_month")
        .filter(col("o_month") === "1995-03")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("orders"), dsum(col("o_totalprice")).as("revenue"))
    },

    // ---- q114: Z-order clustered layout round-trip — parts rewritten
    // sorted by the Morton interleave of (p_size, floor(p_retailprice)),
    // then a 2-D BOX query is answered through the clustered table. The
    // file-level clustering (disjoint narrow z-ranges per file → min/max
    // stats prune the box on BOTH dimensions) is pinned in SourcesSpec;
    // the oracle replays the identical mask-shift interleave in DuckDB
    // bit arithmetic, proving the codegen'd ZOrder2 key and the values
    // survive the layout round trip.
    QueryDef.sql("q114_zorder_layout",
      """WITH box AS (
        |  SELECT p_brand, (CAST(p_size AS BIGINT) & 65535) AS x,
        |         (CAST(floor(p_retailprice) AS BIGINT) & 65535) AS y
        |  FROM part
        |  WHERE p_size BETWEEN 10 AND 20
        |    AND floor(p_retailprice) BETWEEN 920 AND 960),
        |s1 AS (SELECT p_brand, ((x | (x << 8)) & 16711935) AS x,
        |              ((y | (y << 8)) & 16711935) AS y FROM box),
        |s2 AS (SELECT p_brand, ((x | (x << 4)) & 252645135) AS x,
        |              ((y | (y << 4)) & 252645135) AS y FROM s1),
        |s3 AS (SELECT p_brand, ((x | (x << 2)) & 858993459) AS x,
        |              ((y | (y << 2)) & 858993459) AS y FROM s2),
        |s4 AS (SELECT p_brand, ((x | (x << 1)) & 1431655765) AS x,
        |              ((y | (y << 1)) & 1431655765) AS y FROM s3),
        |z AS (SELECT p_brand, (x | (y << 1)) AS zval FROM s4)
        |SELECT p_brand, COUNT(*) AS parts,
        |  MIN(zval) AS z_min, MAX(zval) AS z_max
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Warehouse.ensureDatabase(s, "graft_wh")
      val withZ = Tables.part(s, dir).withColumn("z",
        graft.plans.ZOrder2(col("p_size").cast("int"),
          floor(col("p_retailprice")).cast("int")))
      Warehouse.writeZOrdered(withZ, "graft_wh.part_zorder", "z", partitions = 8)
      s.table("graft_wh.part_zorder")
        .filter(col("p_size").between(10, 20) &&
          floor(col("p_retailprice")).between(920, 960))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("parts"),
          min(col("z")).as("z_min"), max(col("z")).as("z_max"))
        .orderBy("p_brand")
    },

    // mapPartitions path; STUB codec per the build brief, plumbing real)
    QueryDef.sql("q54_frame_sampling",
      """WITH m AS (SELECT doc_id AS id,
        |    octet_length(encode(text)) % 30 + 1 AS n_frames
        |  FROM documents)
        |SELECT id, unnest(generate_series(0, n_frames - 1, 5)) AS frame_idx
        |FROM m""".stripMargin) { (s, dir) =>
      val payloads = Multimodal.withBinaryPayload(
        Tables.documents(s, dir), "doc_id", "text", "video")
      val meta = Multimodal.decodeBatched(payloads).toDF()
      Multimodal.sampleFrames(meta, everyK = 5)
        .select(col("id"), col("frame_idx").cast("long"))
    },

    // ---- q146: SCHEMA EVOLUTION round-trip — a v1 batch written before
    // `o_orderpriority` existed, a v2 batch written after, one
    // mergeSchema read unions them with NULL backfill for the v1 rows
    // (the parquet-level Delta/Iceberg evolution move: producers add
    // columns without rewriting history — at 100 TB the rewrite is the
    // thing being avoided). The oracle replays the NULL-backfilled union
    // straight from `orders`; the NULL priority group carries exactly
    // the v1 batch.
    QueryDef.sql("q146_schema_evolution",
      s"""WITH v1 AS (SELECT o_orderkey, o_totalprice,
         |              CAST(NULL AS VARCHAR) AS o_orderpriority
         |            FROM orders WHERE o_orderkey % 2 = 0),
         |v2 AS (SELECT o_orderkey, o_totalprice, o_orderpriority
         |       FROM orders WHERE o_orderkey % 2 = 1),
         |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
         |SELECT o_orderpriority, COUNT(*) AS orders,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM u GROUP BY 1""".stripMargin) { (s, dir) =>
      val p = scratch("evolved_orders")
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(p)
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("append").parquet(p)
      Warehouse.readEvolved(s, p)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("orders"), dsum(col("o_totalprice")).as("revenue"))
    },

    // ---- q146b: ADD-COLUMN evolution THROUGH THE TRANSACTION LAYER —
    // the q146 move upgraded from loose parquet+mergeSchema to the tx
    // log's recorded-schema path: a pre-evolution batch commits, then an
    // appendBatchTx carrying a new `channel` column widens the recorded
    // schema (TxLog.commit's ADD-COLUMN guard admits the superset), and
    // readSnapshot NULL-backfills the pre-evolution files from the
    // RECORDED schema — no footer merge, no history rewrite. The oracle
    // replays the union with the exact NULL set (channel NULL ⇔ the v1
    // batch, pinned per-group by key_sum), so a missing backfill, a
    // leaked non-NULL, or a dropped generation all fail value compare.
    // Time travel to v1 must still read the PRE-evolution schema.
    QueryDef.sql("q146b_tx_add_column",
      s"""WITH v1 AS (SELECT o_orderkey, o_totalprice, o_orderpriority,
         |              CAST(NULL AS VARCHAR) AS channel
         |            FROM orders WHERE o_orderkey % 2 = 0),
         |v2 AS (SELECT o_orderkey, o_totalprice, o_orderpriority,
         |         CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END
         |           AS channel
         |       FROM orders WHERE o_orderkey % 2 = 1),
         |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
         |SELECT o_orderpriority, channel, COUNT(*) AS orders,
         |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM u GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q146b_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
      TxLog.overwritePartitionsTx(o.filter(col("o_orderkey") % 2 === 0),
        root, "o_orderpriority")
      TxLog.appendBatchTx(o.filter(col("o_orderkey") % 2 === 1)
          .withColumn("channel", when(col("o_orderkey") % 3 === 0, "web")
            .otherwise("store")),
        root, "o_orderpriority", "q146b-evolved")
      // time travel: the pre-evolution version reads the v1 schema
      val v1 = TxLog.readSnapshot(s, root,
        TxLog.snapshotAt(s, root, 1L), "o_orderpriority")
      require(!v1.columns.contains("channel"),
        s"q146b: v1 time travel leaked the evolved column: " +
          v1.columns.mkString(","))
      TxLog.read(s, root, "o_orderpriority")
        .groupBy("o_orderpriority", "channel")
        .agg(count(lit(1)).as("orders"),
          sum(col("o_orderkey")).as("key_sum"),
          dsum(col("o_totalprice")).as("revenue"))
    },

    // ---- q147: small-file COMPACTION — the events table deliberately
    // fragmented into 64 files, compacted to 4 by one round-robin
    // rewrite (Warehouse.compactPath), then aggregated THROUGH the
    // compacted copy. The oracle aggregates the raw table: a green row
    // proves compaction is content-preserving; SourcesSpec pins the
    // file counts themselves (64 → ≤4). The maintenance pass every
    // incremental-append warehouse needs — scan cost at 100 TB is
    // file listing + per-file open once files ≪ row groups.
    QueryDef.sql("q147_compaction_roundtrip",
      s"""SELECT event_type, COUNT(*) AS events,
         |  COUNT(DISTINCT user_id) AS users,
         |  ${dsumSql("value")} AS total_value
         |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val frag = scratch("events_fragmented")
      val comp = scratch("events_compacted")
      Tables.events(s, dir).select("event_id", "user_id", "event_type", "value")
        .repartition(64).write.mode("overwrite").parquet(frag)
      Warehouse.compactPath(s, frag, comp, nFiles = 4)
      s.read.parquet(comp)
        .groupBy("event_type")
        .agg(count(lit(1)).as("events"),
          countDistinct(col("user_id")).as("users"),
          dsum(col("value")).as("total_value"))
    },

    // ---- q148: INCREMENTAL rollup maintenance — the priority rollup
    // kept as a mergeable state table (count + DECIMAL sums + min/max),
    // refreshed by aggregating ONLY the post-cutoff delta and merging
    // (Ivm.mergeStates). The oracle recomputes the rollup from the FULL
    // table: a green row proves merge(state(old), state(delta)) ==
    // state(all) EXACTLY — decimal sums are associative, min/max are
    // semilattice ops — so the daily refresh never rescans history.
    QueryDef.sql("q148_incremental_rollup",
      s"""SELECT o_orderpriority, COUNT(*) AS cnt,
         |  ${dsumSql("o_totalprice")} AS sum_o_totalprice,
         |  MIN(o_orderdate) AS min_o_orderdate,
         |  MAX(o_orderdate) AS max_o_orderdate,
         |  ${dsumSql("o_totalprice")} / COUNT(*) AS avg_o_totalprice
         |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val cut = lit("1997-01-01").cast("timestamp")
      val keys = Seq("o_orderpriority")
      val sums = Seq("o_totalprice")
      val mins = Seq("o_orderdate")
      val maxs = Seq("o_orderdate")
      val prev = Ivm.rollupState(o.filter(col("o_orderdate") < cut),
        keys, sums, mins, maxs)
      val delta = Ivm.rollupState(o.filter(col("o_orderdate") >= cut),
        keys, sums, mins, maxs)
      Ivm.finalizeState(Ivm.mergeStates(Seq(prev, delta), keys, sums, mins, maxs),
        keys, sums, mins, maxs, avgCols = Seq("o_totalprice"))
    },

    // ---- q150: MATERIALIZED-ROLLUP QUERY REWRITE — the Catalyst
    // optimizer rule (plans/RollupRewrite, injected via GraftExtensions):
    // the q148 mergeable state is written as a summary table and
    // registered; the query below is then written against the RAW fact
    // scan, and the rule rewrites it to re-aggregate the summary (rows ∝
    // groups, not fact history — the 100 TB dashboard path). The oracle
    // recomputes from the raw table, so the green row proves the
    // rewritten plan is answer-identical; RollupRewriteSpec pins that
    // the plan actually reads orders_rollup and that non-derivable
    // shapes are left untouched.
    QueryDef.sql("q150_rollup_rewrite",
      s"""SELECT o_orderpriority, COUNT(*) AS orders,
         |  ${dsumSql("o_totalprice")} AS revenue,
         |  MIN(o_orderdate) AS first_order,
         |  MAX(o_orderdate) AS last_order
         |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.plans.RollupRewrite
      val keys = Seq("o_orderpriority", "o_orderstatus")
      val sums = Seq("o_totalprice")
      val dates = Seq("o_orderdate")
      Warehouse.ensureDatabase(s, "graft_wh")
      // refresh protocol: deregister BEFORE the rebuild — the rebuild
      // aggregation is itself translatable and must not be rewritten to
      // read the summary it is replacing (RollupRewrite.unregister doc)
      RollupRewrite.unregister("graft_wh.orders_rollup")
      Warehouse.overwriteTable(
        Ivm.rollupState(Tables.orders(s, dir), keys, sums, dates, dates),
        "graft_wh.orders_rollup")
      RollupRewrite.register(s, s"$dir/orders.parquet",
        "graft_wh.orders_rollup", keys, sums, dates, dates)
      // materialize UNDER the registration (the pin optimizes + executes
      // the rewritten plan eagerly), then unregister before returning:
      // the registry is session-global, and leaving it live would
      // silently reroute every later derivable orders aggregate in this
      // JVM — contaminating what other gates measure — and re-arm the
      // rebuild-while-registered hazard for anything else that rebuilds
      // a summary over this fact path (review finding, r10)
      try graft.Checkpoints.pin(
        Tables.orders(s, dir)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("orders"),
            dsum(col("o_totalprice")).as("revenue"),
            min(col("o_orderdate")).as("first_order"),
            max(col("o_orderdate")).as("last_order")))
      finally RollupRewrite.unregister("graft_wh.orders_rollup")
    },

    // ---- q152: SKETCHES IN THE ROLLUP STATE — COUNT DISTINCT is not
    // algebraic, so the incremental (q148) state carries a register-max
    // HLL per group instead (the Druid/BigQuery sketches-in-the-MV
    // pattern): the daily refresh unions 4 KB sketches, never rescans
    // customer history. The q115a audit idiom: Spark emits the
    // DuckDB-derivable row (per-priority count + EXACT distinct) only
    // where (a) the MERGED sketch estimate is BIT-EQUAL to the one-shot
    // estimate over all rows (classic HLL state is register max only —
    // slicing cannot change it), (b) the merged state's cnt matches the
    // exact count, and (c) the estimate is within 5% of exact. A
    // mergeability or accuracy bug drops a row and fails rows_match.
    QueryDef.sql("q152_distinct_rollup",
      """SELECT o_orderpriority, COUNT(*) AS cnt,
        |  COUNT(DISTINCT o_custkey) AS distinct_customers
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val cut = lit("1997-01-01").cast("timestamp")
      val keys = Seq("o_orderpriority")
      val dc = Seq("o_custkey")
      def state(df: org.apache.spark.sql.DataFrame) =
        Ivm.rollupState(df, keys, Nil, Nil, Nil, distinctCols = dc)
      val merged = Ivm.mergeStates(
        Seq(state(o.filter(col("o_orderdate") < cut)),
          state(o.filter(col("o_orderdate") >= cut))),
        keys, Nil, Nil, Nil, distinctCols = dc)
      val exact = o.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("o_custkey")).as("distinct_customers"))
      exact
        .join(Ivm.finalizeState(merged, keys, Nil, Nil, Nil, Nil, dc)
          .withColumnRenamed("cnt", "m_cnt")
          .withColumnRenamed("approx_distinct_o_custkey", "m_est"),
          keys)
        .join(Ivm.finalizeState(state(o), keys, Nil, Nil, Nil, Nil, dc)
          .select(col("o_orderpriority"),
            col("approx_distinct_o_custkey").as("o_est")),
          keys)
        .filter(col("m_est") === col("o_est") &&
          col("m_cnt") === col("cnt") &&
          abs(col("m_est") - col("distinct_customers")) <=
            lit(0.05) * col("distinct_customers"))
        .select(col("o_orderpriority"), col("cnt"), col("distinct_customers"))
    },

    // ---- q153: PARTITION RETENTION — the month-partitioned fact table
    // ages out everything before 1997 with ALTER TABLE DROP PARTITION:
    // metadata-only (directories deleted, no surviving row read or
    // rewritten) — the only affordable N-day retention at 100 TB. The
    // gate aggregates THROUGH the post-retention table; the oracle
    // applies the same cutoff to the raw facts, so an under- or
    // over-drop fails value compare.
    QueryDef.sql("q153_partition_retention",
      s"""SELECT o_orderpriority, COUNT(*) AS orders,
         |  ${dsumSql("o_totalprice")} AS revenue,
         |  COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS months_kept
         |FROM orders WHERE strftime(o_orderdate, '%Y-%m') >= '1997-01'
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      Warehouse.ensureDatabase(s, "graft_wh")
      Warehouse.overwritePartitioned(
        Tables.orders(s, dir)
          .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM")),
        "graft_wh.orders_retention", "o_month")
      Warehouse.dropPartitionsWhere(s, "graft_wh.orders_retention",
        "o_month", keep = _ >= "1997-01")
      s.table("graft_wh.orders_retention")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("orders"),
          dsum(col("o_totalprice")).as("revenue"),
          countDistinct(col("o_month")).as("months_kept"))
    },

    // ---- q154: RIGHT-TO-BE-FORGOTTEN — delete every row of a keyed
    // user set from the partitioned events table, rewriting ONLY the
    // partitions that contain such rows (dynamic partition overwrite;
    // fully-forgotten partitions dropped explicitly — the dynamic-
    // overwrite gap that would otherwise resurrect them). The gate
    // aggregates the post-forget table; the oracle applies the same
    // exclusion to the raw facts — a surviving forgotten row or a lost
    // innocent row fails value compare. forgetKeys also self-checks
    // (require: no forgotten key survives).
    QueryDef.sql("q154_forget_user",
      s"""SELECT event_type, COUNT(*) AS events,
         |  COUNT(DISTINCT user_id) AS users,
         |  ${dsumSql("value")} AS total_value
         |FROM events WHERE user_id % 100 <> 7
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      Warehouse.ensureDatabase(s, "graft_wh")
      val ev = Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value")
      Warehouse.overwritePartitioned(ev, "graft_wh.events_forget", "event_type")
      val forget = ev.filter(col("user_id") % 100 === 7)
        .select("user_id").distinct()
      Warehouse.forgetKeys(s, "graft_wh.events_forget",
        "event_type", "user_id", forget)
      s.table("graft_wh.events_forget")
        .groupBy("event_type")
        .agg(count(lit(1)).as("events"),
          countDistinct(col("user_id")).as("users"),
          dsum(col("value")).as("total_value"))
    },

    // ---- q155: CDC LOG APPLY — a deterministic change feed synthesized
    // from orders (insert per order; +10.0 price update for key%3==0 at
    // +5 days; a SECOND same-timestamp update for key%9==0 exercising
    // the seq tie-break; delete for key%10==7 at +30 days) reduced to
    // current state by ONE argmax-by-struct aggregation (no window, no
    // per-key sort — shuffle ∝ keys, not log length). The oracle replays
    // the same feed with ROW_NUMBER OVER (ORDER BY ts DESC, seq DESC).
    QueryDef.sql("q155_cdc_apply",
      s"""WITH log AS ($cdcLogSql
        |), last AS (
        |  SELECT k, ts, op, status, price,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT k AS o_orderkey, status, price, ts AS last_ts
        |FROM last WHERE rn = 1 AND op <> 'D'""".stripMargin) { (s, dir) =>
      Cdc.applyLog(cdcLogOf(s, dir), Seq("o_orderkey"), Seq("status", "price"))
        .withColumnRenamed("ts", "last_ts")
    },

    // ---- q156: SNAPSHOT DIFF — row-level added/removed/changed audit
    // between a base snapshot and a deterministically mutated successor
    // (delete key%10==3, restatus key%7==1, reprice key%11==2 — the two
    // mutations co-occur every 77th key exercising the multi-column
    // list, insert 3e9+key for key%13==5). One FULL OUTER join on the
    // key; rows-out = |delta|. Presence flags, not attribute nulls,
    // decide added/removed.
    QueryDef.sql("q156_snapshot_diff",
      """WITH v1 AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         o_totalprice AS price, o_orderpriority AS priority
        |  FROM orders
        |), v2 AS (
        |  SELECT k,
        |    CASE WHEN k % 7 = 1 THEN 'X' ELSE status END AS status,
        |    CASE WHEN k % 11 = 2 THEN price + 5.0 ELSE price END AS price,
        |    priority
        |  FROM v1 WHERE k % 10 <> 3
        |  UNION ALL
        |  SELECT 3000000000 + k, 'N', 1.0, 'NEW' FROM v1 WHERE k % 13 = 5
        |), j AS (
        |  SELECT COALESCE(v1.k, v2.k) AS o_orderkey,
        |    v1.k IS NOT NULL AS a_p, v2.k IS NOT NULL AS b_p,
        |    CONCAT_WS(',',
        |      CASE WHEN v1.status IS DISTINCT FROM v2.status THEN 'status' END,
        |      CASE WHEN v1.price  IS DISTINCT FROM v2.price  THEN 'price'  END,
        |      CASE WHEN v1.priority IS DISTINCT FROM v2.priority THEN 'priority' END
        |    ) AS chg
        |  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
        |SELECT o_orderkey,
        |  CASE WHEN a_p AND NOT b_p THEN 'removed'
        |       WHEN b_p AND NOT a_p THEN 'added'
        |       WHEN chg <> '' THEN 'changed' END AS change_type,
        |  CASE WHEN a_p AND b_p AND chg <> '' THEN chg END AS changed_cols
        |FROM j
        |WHERE (a_p AND NOT b_p) OR (b_p AND NOT a_p) OR chg <> ''""".stripMargin) { (s, dir) =>
      val v1 = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"), col("o_orderpriority").as("priority"))
      val v2 = v1.filter(col("k") % 10 =!= 3)
        .withColumn("status", when(col("k") % 7 === 1, lit("X")).otherwise(col("status")))
        .withColumn("price", when(col("k") % 11 === 2, col("price") + 5.0).otherwise(col("price")))
        .unionByName(v1.filter(col("k") % 13 === 5).select(
          (lit(3000000000L) + col("k")).as("k"), lit("N").as("status"),
          lit(1.0).as("price"), lit("NEW").as("priority")))
      Diff.snapshotDiff(v1, v2, Seq("k"), Seq("status", "price", "priority"))
        .withColumnRenamed("k", "o_orderkey")
    },

    // ---- q157: DATA-QUALITY CONSTRAINT SUITE — Deequ-style report over
    // a deliberately corrupted orders copy (nulled custkeys %97==5,
    // orphaned custkeys %79==13, duplicated keys %101==7, negated prices
    // %83==11, invalid status %89==3 — every failing check discriminates,
    // q135 fixture pattern). ONE aggregation pass (single distinct) over
    // the frame pre-joined to the BROADCAST customer keyset computes all
    // seven metrics; pass/fail evaluates on the 1-row result.
    QueryDef.sql("q157_dq_constraints",
      """WITH corrupt AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 5 THEN NULL
        |         WHEN o_orderkey % 79 = 13 THEN o_custkey + 1000000
        |         ELSE o_custkey END AS o_custkey,
        |    CASE WHEN o_orderkey % 89 = 3 THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 83 = 11 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderkey % 101 = 7
        |), base AS (
        |  SELECT corrupt.*, c.c_custkey IS NOT NULL AS ref_ok
        |  FROM corrupt LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON corrupt.o_custkey = c.c_custkey
        |), m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS row_count,
        |    CAST(COUNT(o_custkey) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS completeness,
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS DOUBLE) AS dup_excess,
        |    CAST(SUM(CASE WHEN o_custkey IS NOT NULL AND NOT ref_ok THEN 1 ELSE 0 END) AS DOUBLE) AS orphans,
        |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS DOUBLE) AS bad_status,
        |    CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
        |    CAST(MAX(EXTRACT(YEAR FROM o_orderdate)) AS DOUBLE) AS max_year
        |  FROM base)
        |SELECT 'row_count_positive' AS check, row_count AS metric, row_count > 0 AS passed FROM m
        |UNION ALL SELECT 'custkey_complete', completeness, completeness = 1.0 FROM m
        |UNION ALL SELECT 'orderkey_unique', dup_excess, dup_excess = 0.0 FROM m
        |UNION ALL SELECT 'custkey_references_customer', orphans, orphans = 0.0 FROM m
        |UNION ALL SELECT 'status_accepted_values', bad_status, bad_status = 0.0 FROM m
        |UNION ALL SELECT 'price_non_negative', min_price, min_price >= 0.0 FROM m
        |UNION ALL SELECT 'orderdate_in_range', max_year, max_year <= 2001.0 FROM m""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val corrupt = o.select(col("o_orderkey"),
          when(col("o_orderkey") % 97 === 5, lit(null))
            .when(col("o_orderkey") % 79 === 13, col("o_custkey") + 1000000L)
            .otherwise(col("o_custkey")).as("o_custkey"),
          when(col("o_orderkey") % 89 === 3, lit("Z"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 83 === 11, -col("o_totalprice"))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderdate"))
        .unionByName(o.filter(col("o_orderkey") % 101 === 7)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate"))
      val dimKeys = broadcast(
        Tables.customer(s, dir).select(col("c_custkey")).distinct()
          .withColumn("__ref_ok", lit(true)))
      val base = corrupt.join(dimKeys,
          corrupt("o_custkey") === dimKeys("c_custkey"), "left")
        .withColumn("ref_ok", coalesce(col("__ref_ok"), lit(false)))
      Checks.report(base, Seq(
        Check("row_count_positive", count(lit(1)), _ > 0.0),
        Check("custkey_complete",
          count(col("o_custkey")).cast("double") / count(lit(1)).cast("double"),
          _ === 1.0),
        Check("orderkey_unique",
          count(lit(1)) - countDistinct(col("o_orderkey")), _ === 0.0),
        Check("custkey_references_customer",
          sum(when(col("o_custkey").isNotNull && !col("ref_ok"), 1).otherwise(0)),
          _ === 0.0),
        Check("status_accepted_values",
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)),
          _ === 0.0),
        Check("price_non_negative", min(col("o_totalprice")), _ >= 0.0),
        Check("orderdate_in_range", max(year(col("o_orderdate"))), _ <= 2001.0)))
    },

    // ---- q158: QUANTILE ROLLUP — per-priority p50/p90 of o_totalprice
    // riding the incremental rollup as Hist sketch state (the third
    // sketch family in the MV after q152's HLL): 600-bucket counting
    // histograms merge by elementwise addition, bit-identical to
    // one-shot under any slicing, so the daily refresh unions arrays
    // and never rescans history. Spark computes THROUGH two merged date
    // slices; the oracle replays floor-bucket + cumulative counts from
    // the raw facts — a green row proves merge==recompute AND the
    // quantile lower bounds, to bucket ($1000) resolution.
    QueryDef.sql("q158_quantile_rollup",
      """WITH b AS (SELECT o_orderpriority AS p,
        |    least(greatest(CAST(floor(o_totalprice / 1000) AS BIGINT), 0), 599) AS bk
        |  FROM orders),
        |c AS (SELECT p, bk, COUNT(*) AS n FROM b GROUP BY 1, 2),
        |t AS (SELECT p, CAST(SUM(n) AS BIGINT) AS cnt FROM c GROUP BY 1),
        |cum AS (SELECT p, bk, SUM(n) OVER (PARTITION BY p ORDER BY bk) AS cum
        |        FROM c),
        |j AS (SELECT cum.p, cum.bk, cum.cum, t.cnt FROM cum JOIN t ON cum.p = t.p),
        |q50 AS (SELECT p, MIN(bk) AS bk FROM j WHERE cum >= ceil(0.5 * cnt) GROUP BY p),
        |q90 AS (SELECT p, MIN(bk) AS bk FROM j WHERE cum >= ceil(0.9 * cnt) GROUP BY p)
        |SELECT t.p AS o_orderpriority, t.cnt AS cnt,
        |  1000.0 * q50.bk AS p50_o_totalprice,
        |  1000.0 * q90.bk AS p90_o_totalprice
        |FROM t JOIN q50 ON t.p = q50.p JOIN q90 ON t.p = q90.p""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val cut = lit("1997-01-01").cast("timestamp")
      val keys = Seq("o_orderpriority")
      val hc = Seq(Ivm.HistCol("o_totalprice", 0.0, 600000.0, 600))
      val prev = Ivm.rollupState(o.filter(col("o_orderdate") < cut),
        keys, Nil, histCols = hc)
      val delta = Ivm.rollupState(o.filter(col("o_orderdate") >= cut),
        keys, Nil, histCols = hc)
      Ivm.finalizeState(Ivm.mergeStates(Seq(prev, delta), keys, Nil, histCols = hc),
        keys, Nil, histCols = hc, histQuantiles = Seq(0.5, 0.9))
    },

    // ---- q159: FILE-LEVEL DATA SKIPPING — the Delta/Iceberg min-max
    // stats pattern over plain parquet: orders written CLUSTERED by
    // o_totalprice (repartitionByRange + local sort → tight per-file
    // ranges), a one-scan stats index built, then a price-band read that
    // lists ONLY intersecting files (second pruning tier after partition
    // pruning — on a NON-partition column). The gate aggregates THROUGH
    // the pruned read; the oracle applies the same band to the raw
    // facts, so an over-prune (lost rows) fails value compare. The spec
    // pins that files are actually skipped.
    QueryDef.sql("q159_data_skipping",
      s"""SELECT o_orderpriority, COUNT(*) AS orders,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM orders WHERE o_totalprice BETWEEN 50000.0 AND 150000.0
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DataSkipping
      val path = scratch("q159_orders_clustered")
      Tables.orders(s, dir)
        .repartitionByRange(16, col("o_totalprice"))
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite").parquet(path)
      val stats = DataSkipping.fileStats(s, path, Seq("o_totalprice"))
      DataSkipping.prunedRead(s, path, stats, "o_totalprice", 50000.0, 150000.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("orders"), dsum(col("o_totalprice")).as("revenue"))
    },

    // ---- q161: POINT-IN-TIME SCD2 LOOKUP — facts enriched with the
    // dimension version valid AT THE FACT'S TIMESTAMP (the join a
    // current-state dimension gets wrong for every backdated row): a
    // deterministic two-version history (every 7th customer was LEGACY
    // until 1997) joined to orders at o_orderdate — pre-1997 orders of
    // those customers resolve to the old version, discriminating the
    // validity predicate in both directions. One 1:few key join.
    QueryDef.sql("q161_scd2_pit_lookup",
      """WITH hist AS (
        |  SELECT c_custkey, 'LEGACY' AS segment,
        |         TIMESTAMP '1990-01-01' AS valid_from,
        |         TIMESTAMP '1997-01-01' AS valid_to
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, TIMESTAMP '1997-01-01', NULL
        |  FROM customer WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, TIMESTAMP '1990-01-01', NULL
        |  FROM customer WHERE c_custkey % 7 <> 0)
        |SELECT o.o_orderkey, h.segment
        |FROM orders o LEFT JOIN hist h ON o.o_custkey = h.c_custkey
        |  AND o.o_orderdate >= h.valid_from
        |  AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val sev = col("c_custkey") % 7 === 0
      def ver(f: org.apache.spark.sql.DataFrame,
              seg: org.apache.spark.sql.Column, from: String, to: Option[String]) =
        f.select(col("c_custkey"), seg.as("segment"),
          lit(from).cast("timestamp").as("valid_from"),
          to.map(lit(_)).getOrElse(lit(null)).cast("timestamp").as("valid_to"))
      val hist = ver(c.filter(sev), lit("LEGACY"), "1990-01-01", Some("1997-01-01"))
        .unionByName(ver(c.filter(sev), col("c_mktsegment"), "1997-01-01", None))
        .unionByName(ver(c.filter(!sev), col("c_mktsegment"), "1990-01-01", None))
      Warehouse.scd2Lookup(Tables.orders(s, dir), hist,
          "o_custkey", "c_custkey", "o_orderdate", Seq("segment"))
        .select("o_orderkey", "segment")
    },

    // ---- q162: STRATIFIED K-FOLD ASSIGNMENT — every language's docs
    // spread across 5 folds with sizes differing by at most one (exact
    // balance; hash%k is only binomially balanced), fold = (md5-order
    // rank − 1) mod k via the skew-safe grouped rank. Membership-
    // sensitive oracle: the full (doc_id, lang, fold) assignment.
    QueryDef.sql("q162_stratified_kfold",
      """SELECT doc_id, lang,
        |  CAST((ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) % 5 AS INTEGER)
        |    AS fold
        |FROM documents""".stripMargin) { (s, dir) =>
      Sampling.stratifiedKFold(
          Tables.documents(s, dir).select("doc_id", "lang"), "lang", "doc_id", 5)
        .select("doc_id", "lang", "fold")
    },

    // ---- q163: MERGE-ON-READ SOFT DELETES — the deletion-vector
    // pattern: two delete batches land as sidecar keyset APPENDS (O(keys),
    // no rewrite), reads anti-join the sidecar, and the maintenance pass
    // folds it into a staged rewrite. The gate aggregates BOTH stages —
    // through the MoR read before compaction and through the plain table
    // after — so a sidecar miss, a lost innocent row, or a compaction
    // that resurrects deletes all fail value compare.
    QueryDef.sql("q163_soft_deletes",
      s"""WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 7),
         |a AS (SELECT 'mor' AS stage, o_orderpriority, COUNT(*) AS orders,
         |        ${dsumSql("o_totalprice")} AS revenue
         |      FROM base GROUP BY 2),
         |b AS (SELECT 'compacted' AS stage, o_orderpriority, COUNT(*) AS orders,
         |        ${dsumSql("o_totalprice")} AS revenue
         |      FROM base GROUP BY 2)
         |SELECT * FROM a UNION ALL SELECT * FROM b""".stripMargin) { (s, dir) =>
      Warehouse.ensureDatabase(s, "graft_wh")
      val o = Tables.orders(s, dir)
      // clean-slate the sidecar: a stale keyset from a previous run in
      // this catalog would delete rows of the fresh table
      s.sql("DROP TABLE IF EXISTS graft_wh.orders_mor_deletes")
      Warehouse.overwriteTable(o, "graft_wh.orders_mor")
      Warehouse.softDeleteKeys(s, "graft_wh.orders_mor", "o_orderkey",
        o.filter(col("o_orderkey") % 20 === 7).select("o_orderkey"))
      Warehouse.softDeleteKeys(s, "graft_wh.orders_mor", "o_orderkey",
        o.filter(col("o_orderkey") % 20 === 17).select("o_orderkey"))
      def agg(df: org.apache.spark.sql.DataFrame, stage: String) =
        df.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("orders"), dsum(col("o_totalprice")).as("revenue"))
          .select(lit(stage).as("stage"), col("o_orderpriority"),
            col("orders"), col("revenue"))
      // the MoR stage must materialize BEFORE compaction mutates the table
      val mor = agg(Warehouse.readWithDeletes(s, "graft_wh.orders_mor",
        "o_orderkey"), "mor").localCheckpoint()
      Warehouse.compactDeletes(s, "graft_wh.orders_mor", "o_orderkey")
      mor.unionByName(agg(s.table("graft_wh.orders_mor"), "compacted"))
    },

    // ---- q164: BUCKETED CO-LOCATED JOIN — orders and lineitem written
    // bucketed on the order key join through storage with no shuffle of
    // either side (the plan gate lives in SourcesSpec; this gate proves
    // the bucketed round trip preserves the JOIN ANSWER — a bucket-
    // misassignment would drop or duplicate matches).
    QueryDef.sql("q164_bucketed_join",
      s"""SELECT o.o_orderpriority, COUNT(*) AS line_rows,
         |  SUM(l.l_quantity) AS total_qty,
         |  ${dsumSql("o.o_totalprice")} AS revenue
         |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      Warehouse.ensureDatabase(s, "graft_wh")
      Warehouse.writeBucketed(Tables.orders(s, dir),
        "graft_wh.orders_bk", "o_orderkey", 8)
      Warehouse.writeBucketed(
        Tables.lineitem(s, dir).withColumnRenamed("l_orderkey", "o_orderkey"),
        "graft_wh.lineitem_bk", "o_orderkey", 8)
      s.table("graft_wh.orders_bk")
        .join(s.table("graft_wh.lineitem_bk"), "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("line_rows"),
          sum(col("l_quantity")).as("total_qty"),
          dsum(col("o_totalprice")).as("revenue"))
    },

    // ---- q165: VERSIONED SNAPSHOTS / TIME TRAVEL — two immutable
    // commits (_SUCCESS-gated v= directories; the Iceberg snapshot idea
    // over plain parquet), then BOTH versions aggregated through
    // Versioned.read: yesterday's numbers stay reproducible after
    // today's load (the reference's in-place to_sql replace loses them).
    // A reader racing a commit resolves its version first — snapshot
    // isolation by immutability (spec-pinned).
    QueryDef.sql("q165_time_travel",
      s"""WITH v2 AS (SELECT o_orderkey, o_orderpriority,
         |    CASE WHEN o_orderkey % 11 = 2 THEN o_totalprice + 5.0
         |         ELSE o_totalprice END AS o_totalprice
         |  FROM orders WHERE o_orderkey % 10 <> 3),
         |a AS (SELECT 1 AS version, o_orderpriority, COUNT(*) AS orders,
         |        ${dsumSql("o_totalprice")} AS revenue
         |      FROM orders GROUP BY 2),
         |b AS (SELECT 2 AS version, o_orderpriority, COUNT(*) AS orders,
         |        ${dsumSql("o_totalprice")} AS revenue
         |      FROM v2 GROUP BY 2)
         |SELECT * FROM a UNION ALL SELECT * FROM b""".stripMargin) { (s, dir) =>
      import graft.sources.Versioned
      val root = scratch("q165_versions")
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val v1 = Versioned.commit(o, root)
      val v2 = Versioned.commit(
        o.filter(col("o_orderkey") % 10 =!= 3)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 11 === 2, col("o_totalprice") + 5.0)
              .otherwise(col("o_totalprice"))),
        root)
      def agg(df: org.apache.spark.sql.DataFrame, v: Int) =
        df.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("orders"), dsum(col("o_totalprice")).as("revenue"))
          .select(lit(v).as("version"), col("o_orderpriority"),
            col("orders"), col("revenue"))
      agg(Versioned.read(s, root, v1), v1)
        .unionByName(agg(Versioned.read(s, root), v2)) // default = latest
    },

    // ---- q166: ROW-LEVEL EXPECTATION ROUTING — the DLT-expectations /
    // quarantine-table ingest gate (q157 is the dataset-level half): a
    // deterministically corrupted orders copy is split into valid rows
    // and a reject route carrying the ORDERED failed-rule list; a
    // null-custkey row fails two rules at once (the NULL-predicate
    // coalesce path), so multi-rule strings are exercised by
    // construction. One codegen'd projection, no shuffle before the agg.
    QueryDef.sql("q166_dq_quarantine",
      """WITH corrupt AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 5 THEN NULL ELSE o_custkey END AS o_custkey,
        |    CASE WHEN o_orderkey % 89 = 3 THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 83 = 11 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |m AS (SELECT *, CONCAT_WS(',',
        |    CASE WHEN NOT COALESCE(o_custkey IS NOT NULL, false) THEN 'custkey_present' END,
        |    CASE WHEN NOT COALESCE(o_custkey < 1000000000, false) THEN 'custkey_in_range' END,
        |    CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), false) THEN 'status_valid' END,
        |    CASE WHEN NOT COALESCE(o_totalprice >= 0, false) THEN 'price_non_negative' END
        |  ) AS failed_rules FROM corrupt)
        |SELECT failed_rules, COUNT(*) AS n_rows
        |FROM m GROUP BY 1""".stripMargin) { (s, dir) =>
      val corrupt = Tables.orders(s, dir).select(col("o_orderkey"),
        when(col("o_orderkey") % 97 === 5, lit(null))
          .otherwise(col("o_custkey")).as("o_custkey"),
        when(col("o_orderkey") % 89 === 3, lit("Z"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 83 === 11, -col("o_totalprice"))
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      val rules = Seq(
        "custkey_present" -> col("o_custkey").isNotNull,
        "custkey_in_range" -> (col("o_custkey") < 1000000000L),
        "status_valid" -> col("o_orderstatus").isin("O", "F", "P"),
        "price_non_negative" -> (col("o_totalprice") >= 0))
      val (valid, quarantined) = Checks.routeInvalid(corrupt, rules)
      valid.agg(count(lit(1)).as("n_rows"))
        .select(lit("").as("failed_rules"), col("n_rows"))
        .unionByName(quarantined.groupBy("failed_rules")
          .agg(count(lit(1)).as("n_rows")))
    },

    // ---- q167: CDC FEED → SCD2 HISTORY — the dbt-snapshot move: the
    // q155 feed compiled into the FULL version history (every I/U opens
    // a version, the key's next event closes it, deletes close without
    // opening — a deleted key's last version must NOT be current). One
    // window per key over change-count-bounded rows; ready for the q161
    // point-in-time lookup.
    QueryDef.sql("q167_cdc_to_scd2",
      s"""WITH log AS ($cdcLogSql
         |), v AS (
         |  SELECT k, ts, seq, op, status, price,
         |    LEAD(ts) OVER (PARTITION BY k ORDER BY ts, seq) AS next_ts
         |  FROM log)
         |SELECT k AS o_orderkey, status, price, ts AS valid_from,
         |  next_ts AS valid_to, next_ts IS NULL AS is_current
         |FROM v WHERE op <> 'D'""".stripMargin) { (s, dir) =>
      Cdc.historyFrom(cdcLogOf(s, dir), Seq("o_orderkey"), Seq("status", "price"))
        .select(col("o_orderkey"), col("status"), col("price"),
          col("valid_from"), col("valid_to"), col("is_current"))
    },

    // ---- q168: CLUSTER-PRESERVING COMPACTION — 24 small UNORDERED
    // appends (the streaming-ingest fragmentation pattern) compacted
    // with compactClusteredPath, which restores tight per-file
    // o_totalprice ranges — then the q159 stats index over the COMPACTED
    // copy prunes a price band again (round-robin compaction would leave
    // every file spanning the whole domain). The gate aggregates through
    // the stats-pruned read of the compacted table; the oracle applies
    // the band to the raw facts.
    QueryDef.sql("q168_clustered_compaction",
      s"""SELECT o_orderpriority, COUNT(*) AS orders,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM orders WHERE o_totalprice BETWEEN 200000.0 AND 300000.0
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DataSkipping
      val frag = scratch("q168_fragmented")
      val compacted = scratch("q168_compacted")
      val o = Tables.orders(s, dir)
      o.repartition(24).write.mode("overwrite").parquet(frag)
      Warehouse.compactClusteredPath(s, frag, compacted, "o_totalprice", 4)
      val stats = DataSkipping.fileStats(s, compacted, Seq("o_totalprice"))
      DataSkipping.prunedRead(s, compacted, stats, "o_totalprice",
          200000.0, 300000.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("orders"), dsum(col("o_totalprice")).as("revenue"))
    },

    // ---- q176: MERKLE-STYLE BUCKET SYNC DIFF — the rsync pattern for
    // "what changed between two 100 TB snapshots": per-bucket
    // order-independent fingerprints (one agg per side) find the
    // buckets that differ; the row-level full-outer diff then touches
    // ONLY those buckets' rows. Sparse mutation (~0.4% of keys) so the
    // pruning is real: most of the 256 buckets are untouched. Output =
    // bucket counts + restricted-diff change-type counts, all replayed
    // in DuckDB (representation differences between engines shift both
    // sides' signatures identically and cancel — see Diff.changedBuckets).
    QueryDef.sql("q176_bucket_sync_diff", {
      val bucket = (t: String) =>
        s"CAST(CAST('0x' || substr(md5('bk:' || CAST($t.k AS VARCHAR)), 1, 4) AS INTEGER) % 256 AS INTEGER)"
      // field-wise fixed-width digests (prefix-free) — see
      // Diff.bucketSignatures: a joined-string form would let shifted
      // field boundaries collide
      val sig = (t: String) =>
        s"""CAST(SUM(CAST('0x' || substr(md5(
           |  md5(CAST($t.k AS VARCHAR)) ||
           |  md5(COALESCE(CAST($t.status AS VARCHAR), chr(0))) ||
           |  md5(COALESCE(CAST($t.price AS VARCHAR), chr(0)))), 1, 8) AS BIGINT))
           |  AS BIGINT)""".stripMargin
      s"""WITH v1 AS (SELECT o_orderkey AS k, o_orderstatus AS status,
         |    o_totalprice AS price FROM orders),
         |v2 AS (SELECT k, status,
         |    CASE WHEN k % 500 = 1 THEN price + 1.0 ELSE price END AS price
         |  FROM v1 WHERE k % 1000 <> 7
         |  UNION ALL SELECT 3000000000 + k, 'N', 1.0 FROM v1 WHERE k % 997 = 3),
         |s1 AS (SELECT ${bucket("v1")} AS bucket, COUNT(*) AS n, ${sig("v1")} AS sig
         |       FROM v1 GROUP BY 1),
         |s2 AS (SELECT ${bucket("v2")} AS bucket, COUNT(*) AS n, ${sig("v2")} AS sig
         |       FROM v2 GROUP BY 1),
         |chg AS (SELECT COALESCE(s1.bucket, s2.bucket) AS bucket
         |        FROM s1 FULL OUTER JOIN s2 ON s1.bucket = s2.bucket
         |        WHERE s1.n IS DISTINCT FROM s2.n
         |           OR s1.sig IS DISTINCT FROM s2.sig),
         |r1 AS (SELECT * FROM v1 WHERE ${bucket("v1")} IN (SELECT bucket FROM chg)),
         |r2 AS (SELECT * FROM v2 WHERE ${bucket("v2")} IN (SELECT bucket FROM chg)),
         |d AS (SELECT COALESCE(r1.k, r2.k) AS k,
         |    CASE WHEN r2.k IS NULL THEN 'removed'
         |         WHEN r1.k IS NULL THEN 'added'
         |         WHEN r1.status IS DISTINCT FROM r2.status
         |           OR r1.price IS DISTINCT FROM r2.price THEN 'changed' END AS ct
         |  FROM r1 FULL OUTER JOIN r2 ON r1.k = r2.k)
         |SELECT 'buckets_changed' AS metric, CAST(COUNT(*) AS BIGINT) AS value FROM chg
         |UNION ALL SELECT 'added', COUNT(*) FROM d WHERE ct = 'added'
         |UNION ALL SELECT 'removed', COUNT(*) FROM d WHERE ct = 'removed'
         |UNION ALL SELECT 'changed', COUNT(*) FROM d WHERE ct = 'changed'""".stripMargin
    }) { (s, dir) =>
      val v1 = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
      val v2 = v1.filter(col("k") % 1000 =!= 7)
        .withColumn("price",
          when(col("k") % 500 === 1, col("price") + 1.0).otherwise(col("price")))
        .unionByName(v1.filter(col("k") % 997 === 3).select(
          (lit(3000000000L) + col("k")).as("k"), lit("N").as("status"),
          lit(1.0).as("price")))
      val chg = broadcast(
        Diff.changedBuckets(v1, v2, "k", Seq("status", "price"), 256))
      def restrict(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("bucket", Diff.bucketOf(col("k"), 256))
          .join(chg, Seq("bucket"), "left_semi").drop("bucket")
      val d = Diff.snapshotDiff(restrict(v1), restrict(v2),
        Seq("k"), Seq("status", "price"))
      chg.agg(count(lit(1)).as("value"))
        .select(lit("buckets_changed").as("metric"), col("value"))
        .unionByName(d.groupBy(col("change_type").as("metric"))
          .agg(count(lit(1)).as("value")))
    },

    // ---- q188: SCD2 INTEGRITY AUDIT — the invariants every PIT
    // consumer silently assumes, checked explicitly over a history with
    // deterministic violations injected (gap %13==2, overlap %17==3,
    // double-current %19==5 — disjoint-guarded so each key's expected
    // violation list is exact): versions must chain, one current per
    // key. Empty result = healthy; the oracle replays the LAG chain.
    QueryDef.sql("q188_scd2_integrity",
      """WITH h AS (
        |  SELECT c_custkey AS k, TIMESTAMP '1990-01-01' AS valid_from,
        |    CASE WHEN c_custkey % 19 = 5 AND c_custkey % 13 <> 2
        |              AND c_custkey % 17 <> 3 THEN NULL
        |         ELSE TIMESTAMP '1995-01-01' END AS valid_to
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 13 = 2 THEN TIMESTAMP '1995-06-01'
        |         WHEN c_custkey % 17 = 3 THEN TIMESTAMP '1994-06-01'
        |         ELSE TIMESTAMP '1995-01-01' END,
        |    NULL
        |  FROM customer),
        |l AS (SELECT k, valid_from, valid_to,
        |        LAG(valid_to) OVER (PARTITION BY k ORDER BY valid_from, valid_to NULLS LAST) AS prev_to,
        |        LAG(TRUE, 1, FALSE) OVER (PARTITION BY k ORDER BY valid_from, valid_to NULLS LAST) AS has_prev
        |      FROM h),
        |p AS (SELECT k,
        |        MAX(has_prev AND (prev_to IS NULL OR prev_to > valid_from)) AS overlap,
        |        MAX(has_prev AND prev_to IS NOT NULL AND prev_to < valid_from) AS gap,
        |        SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) > 1 AS multi_current
        |      FROM l GROUP BY 1),
        |v AS (SELECT k, CONCAT_WS(',',
        |        CASE WHEN overlap THEN 'overlap' END,
        |        CASE WHEN gap THEN 'gap' END,
        |        CASE WHEN multi_current THEN 'multi_current' END) AS violations
        |      FROM p)
        |SELECT k, violations FROM v WHERE violations <> ''""".stripMargin) { (s, dir) =>
      val c = Tables.customer(s, dir).select(col("c_custkey").as("k"))
      val ts = (x: String) => lit(x).cast("timestamp")
      val dblCur = col("k") % 19 === 5 && col("k") % 13 =!= 2 && col("k") % 17 =!= 3
      val v1 = c.select(col("k"), ts("1990-01-01").as("valid_from"),
        when(dblCur, lit(null).cast("timestamp"))
          .otherwise(ts("1995-01-01")).as("valid_to"))
      val v2 = c.select(col("k"),
        when(col("k") % 13 === 2, ts("1995-06-01"))
          .when(col("k") % 17 === 3, ts("1994-06-01"))
          .otherwise(ts("1995-01-01")).as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"))
      Warehouse.scd2Integrity(v1.unionByName(v2), "k")
    },

    // ---- q189: CONVERSION-LATENCY QUANTILES — the q178 funnel's
    // view→purchase durations summarized by the mergeable histogram
    // sketch (hour buckets over 30 days): the "how long does conversion
    // take" p50/p90 at bucket resolution, no sort of the durations.
    QueryDef.sql("q189_conversion_latency",
      """WITH v AS (SELECT user_id, MIN(ts) AS tv FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS tc
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) AS tp
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY 1),
        |d AS (SELECT p.user_id, date_diff('second', v.tv, p.tp) AS dur
        |      FROM p JOIN v ON p.user_id = v.user_id),
        |b AS (SELECT least(greatest(dur // 3600, 0), 719) AS bk, COUNT(*) AS n
        |      FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM b),
        |cum AS (SELECT bk, SUM(n) OVER (ORDER BY bk) AS cum FROM b)
        |SELECT t.total AS n_converted,
        |  3600.0 * (SELECT MIN(bk) FROM cum WHERE cum >= ceil(0.5 * t.total)) AS p50_s,
        |  3600.0 * (SELECT MIN(bk) FROM cum WHERE cum >= ceil(0.9 * t.total)) AS p90_s
        |FROM t""".stripMargin) { (s, dir) =>
      import graft.operators.Hist
      val ev = Tables.events(s, dir).select("user_id", "event_type", "ts")
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("tv"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("tv"))
        .groupBy("user_id").agg(min(col("ts")).as("tc"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") > col("tc"))
        .groupBy("user_id").agg(min(col("ts")).as("tp"))
      val (lo, hi, nb) = (0.0, 2592000.0, 720) // 30 days, hour buckets
      p.join(v, "user_id")
        .select((unix_timestamp(col("tp")) - unix_timestamp(col("tv"))).as("dur"))
        .agg(Hist.sketch(col("dur"), lo, hi, nb).as("h"),
          count(lit(1)).as("n_converted"))
        .select(col("n_converted"),
          Hist.quantileLowerBound(col("h"), 0.5, lo, hi, nb).as("p50_s"),
          Hist.quantileLowerBound(col("h"), 0.9, lo, hi, nb).as("p90_s"))
    },

    // ---- q191: PERSISTED BLOOM ARTIFACT — the cross-job runtime
    // filter: job 1 builds the high-balance-customer key sketch and
    // PUBLISHES it as a warehouse table; job 2 prunes its orders scan
    // with the LOADED artifact (never touching the dim) before the
    // exact semi-join. The gate aggregates through the artifact round
    // trip; a corrupted sketch would drop matching rows (false
    // negatives) and fail value compare.
    QueryDef.sql("q191_bloom_artifact",
      s"""SELECT o.o_orderpriority, COUNT(*) AS orders,
         |  ${dsumSql("o.o_totalprice")} AS revenue
         |FROM orders o
         |WHERE EXISTS (SELECT 1 FROM customer c
         |              WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 8000)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.operators.RuntimeFilters
      Warehouse.ensureDatabase(s, "graft_wh")
      val dim = Tables.customer(s, dir).filter(col("c_acctbal") > 8000)
      // job 1: build + publish
      RuntimeFilters.saveBloom(s,
        RuntimeFilters.bloomOfKeys(dim, "c_custkey", 100000L),
        "graft_wh.highbal_bloom")
      // job 2: load + prune + exact confirm
      val bloom = RuntimeFilters.loadBloom(s, "graft_wh.highbal_bloom")
      val o = Tables.orders(s, dir)
      o.filter(RuntimeFilters.mightContain(bloom, col("o_custkey")))
        .join(dim.select("c_custkey"),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("orders"), dsum(col("o_totalprice")).as("revenue"))
    },

    // ---- q192: PERSISTED STATS-INDEX ARTIFACT — the q159 skipping
    // index as a maintained warehouse table: job 1 publishes the
    // per-file min/max stats of the clustered base; an append lands; a
    // maintenance pass refreshes the PUBLISHED table scanning only the
    // new files (refreshStats) and republishes; job 2 then prunes its
    // band read with the loaded index. The gate aggregates through the
    // post-refresh pruned read of base+append — a stale index (missing
    // the appended files) loses rows and fails value compare.
    QueryDef.sql("q192_stats_artifact",
      s"""SELECT o_orderpriority, COUNT(*) AS orders,
         |  ${dsumSql("o_totalprice")} AS revenue
         |FROM orders WHERE o_totalprice BETWEEN 100000.0 AND 200000.0
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.DataSkipping
      Warehouse.ensureDatabase(s, "graft_wh")
      val path = scratch("q192_orders_clustered")
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderkey") % 3 =!= 0)
        .repartitionByRange(12, col("o_totalprice"))
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite").parquet(path)
      Warehouse.overwriteTable(
        DataSkipping.fileStats(s, path, Seq("o_totalprice")),
        "graft_wh.orders_price_stats")
      // an unclustered append lands (its files span the whole domain —
      // they are always read; correctness, not prune quality, is gated)
      o.filter(col("o_orderkey") % 3 === 0).repartition(2)
        .write.mode("append").parquet(path)
      // maintenance: refresh scanning only the new files, republish
      // (pin first — overwriteTable drops the table its plan reads)
      val refreshed = DataSkipping.refreshStats(s, path,
        s.table("graft_wh.orders_price_stats"), Seq("o_totalprice"))
        .localCheckpoint()
      Warehouse.overwriteTable(refreshed, "graft_wh.orders_price_stats")
      DataSkipping.prunedRead(s, path,
          s.table("graft_wh.orders_price_stats"), "o_totalprice",
          100000.0, 200000.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("orders"), dsum(col("o_totalprice")).as("revenue"))
    },

    // ---- q193: EXACTLY-ONCE BATCH INGEST — three daily batches land,
    // the middle one REPLAYED (the Airflow-retry double-count the
    // reference's to_sql append suffers): each batch owns its
    // batch_id partition under dynamic overwrite, so the replay
    // overwrites instead of duplicating — idempotence from layout, no
    // ledger, no two-phase hole. The gate aggregates the post-ingest
    // table; a double-count fails value compare.
    QueryDef.sql("q193_idempotent_ingest",
      s"""SELECT o_orderpriority, COUNT(*) AS orders,
         |  ${dsumSql("o_totalprice")} AS revenue,
         |  COUNT(DISTINCT o_orderkey) AS distinct_orders
         |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      Warehouse.ensureDatabase(s, "graft_wh")
      s.sql("DROP TABLE IF EXISTS graft_wh.orders_ingest")
      val o = Tables.orders(s, dir)
      def batch(i: Int) = o.filter(col("o_orderkey") % 3 === i)
      Warehouse.appendBatchIdempotent(batch(0), "graft_wh.orders_ingest", "b0")
      Warehouse.appendBatchIdempotent(batch(1), "graft_wh.orders_ingest", "b1")
      // the retry: batch b1 lands AGAIN — must overwrite, not duplicate
      Warehouse.appendBatchIdempotent(batch(1), "graft_wh.orders_ingest", "b1")
      Warehouse.appendBatchIdempotent(batch(2), "graft_wh.orders_ingest", "b2")
      s.table("graft_wh.orders_ingest")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("orders"), dsum(col("o_totalprice")).as("revenue"),
          countDistinct(col("o_orderkey")).as("distinct_orders"))
    },

    // ---- q194: LATE-BINDING DIMENSION REPAIR — the inferred-member
    // pattern: facts arriving BEFORE their dimension rows bind to an
    // UNKNOWN placeholder instead of being dropped or blocking the load
    // (a fifth of customers are "late"); when the full dimension lands,
    // the repair pass re-resolves ONLY the placeholder facts. The gate
    // emits both stages — a dropped early fact, a wrong placeholder, or
    // a repair that touches already-bound facts all fail value compare.
    QueryDef.sql("q194_late_dimension",
      """WITH dim1 AS (SELECT c_custkey, c_mktsegment FROM customer
        |             WHERE c_custkey % 5 <> 2),
        |initial AS (SELECT o.o_orderkey,
        |    COALESCE(d.c_mktsegment, 'UNKNOWN') AS segment
        |  FROM orders o LEFT JOIN dim1 d ON o.o_custkey = d.c_custkey),
        |repaired AS (SELECT o.o_orderkey, c.c_mktsegment AS segment
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |a AS (SELECT 'initial' AS stage, segment, COUNT(*) AS orders
        |      FROM initial GROUP BY 2),
        |b AS (SELECT 'repaired' AS stage, segment, COUNT(*) AS orders
        |      FROM repaired GROUP BY 2)
        |SELECT * FROM a UNION ALL SELECT * FROM b""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val dim1 = Tables.customer(s, dir).filter(col("c_custkey") % 5 =!= 2)
        .select(col("c_custkey"), col("c_mktsegment"))
      val dimFull = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val initial = o.join(dim1, o("o_custkey") === dim1("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_custkey"),
          coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      // repair pass: ONLY the placeholder facts re-resolve; bound facts
      // carry through untouched (the late-dim repair contract)
      val repaired = initial.filter(col("segment") =!= "UNKNOWN")
        .unionByName(initial.filter(col("segment") === "UNKNOWN")
          .drop("segment")
          .join(dimFull, col("o_custkey") === dimFull("c_custkey"), "left")
          .select(col("o_orderkey"), col("o_custkey"),
            coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment")))
      def agg(df: org.apache.spark.sql.DataFrame, stage: String) =
        df.groupBy("segment").agg(count(lit(1)).as("orders"))
          .select(lit(stage).as("stage"), col("segment"), col("orders"))
      agg(initial, "initial").unionByName(agg(repaired, "repaired"))
    },

    // ---- q195: QUARANTINE REVIEW QUEUE — the q166 reject route with
    // deterministic EXAMPLES: 3 md5-order sample rows per failed-rule
    // combination (the "show me a few offending rows per reason" screen
    // a DQ reviewer actually opens). Composition of routeInvalid +
    // perGroupDeterministic; membership-sensitive oracle.
    QueryDef.sql("q195_quarantine_examples",
      """WITH corrupt AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 5 THEN NULL ELSE o_custkey END AS o_custkey,
        |    CASE WHEN o_orderkey % 89 = 3 THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
        |    CASE WHEN o_orderkey % 83 = 11 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice
        |  FROM orders),
        |m AS (SELECT *, CONCAT_WS(',',
        |    CASE WHEN NOT COALESCE(o_custkey IS NOT NULL, false) THEN 'custkey_present' END,
        |    CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), false) THEN 'status_valid' END,
        |    CASE WHEN NOT COALESCE(o_totalprice >= 0, false) THEN 'price_non_negative' END
        |  ) AS failed_rules FROM corrupt),
        |q AS (SELECT o_orderkey, failed_rules,
        |        ROW_NUMBER() OVER (PARTITION BY failed_rules
        |          ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rnk
        |      FROM m WHERE failed_rules <> '')
        |SELECT failed_rules, CAST(rnk AS INTEGER) AS rnk, o_orderkey
        |FROM q WHERE rnk <= 3""".stripMargin) { (s, dir) =>
      val corrupt = Tables.orders(s, dir).select(col("o_orderkey"),
        when(col("o_orderkey") % 97 === 5, lit(null))
          .otherwise(col("o_custkey")).as("o_custkey"),
        when(col("o_orderkey") % 89 === 3, lit("Z"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 83 === 11, -col("o_totalprice"))
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      val rules = Seq(
        "custkey_present" -> col("o_custkey").isNotNull,
        "status_valid" -> col("o_orderstatus").isin("O", "F", "P"),
        "price_non_negative" -> (col("o_totalprice") >= 0))
      val (_, quarantined) = Checks.routeInvalid(corrupt, rules)
      Sampling.perGroupDeterministic(
          quarantined.select("o_orderkey", "failed_rules"),
          "failed_rules", "o_orderkey", 3)
        .select(col("failed_rules"), col("rnk").cast("int").as("rnk"),
          col("o_orderkey"))
    },

    // ---- q200: THE COMPOSED NIGHTLY WAREHOUSE BATCH — the q127/q134
    // curation capstone's warehouse twin, every stage an already-gated
    // operator chained end to end in ONE gate: idempotent batch ingest
    // (middle batch replayed) → row-level DQ routing over a
    // deterministically corrupted feed → incremental rollup state from
    // the VALID route only, merged across two date slices → finalized
    // summary. Output = stage ledger + the rollup rows; a double-count,
    // a leaked invalid row, or a merge bug each fail a different stage.
    QueryDef.sql("q200_nightly_batch",
      s"""WITH corrupt AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 97 = 5 THEN NULL ELSE o_custkey END AS o_custkey,
         |    o_orderstatus,
         |    CASE WHEN o_orderkey % 83 = 11 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
         |    o_orderdate, o_orderpriority
         |  FROM orders),
         |valid AS (SELECT * FROM corrupt
         |          WHERE o_custkey IS NOT NULL AND o_totalprice >= 0),
         |roll AS (SELECT o_orderpriority, COUNT(*) AS n_rows,
         |           ${dsumSql("o_totalprice")} AS revenue
         |         FROM valid GROUP BY 1)
         |SELECT 'ingested' AS stage, '' AS key,
         |  (SELECT COUNT(*) FROM corrupt) AS n_rows, CAST(NULL AS DOUBLE) AS revenue
         |UNION ALL SELECT 'valid', '', (SELECT COUNT(*) FROM valid), NULL
         |UNION ALL SELECT 'quarantined', '',
         |  (SELECT COUNT(*) FROM corrupt) - (SELECT COUNT(*) FROM valid), NULL
         |UNION ALL SELECT 'rollup', o_orderpriority, n_rows, revenue FROM roll""".stripMargin) { (s, dir) =>
      Warehouse.ensureDatabase(s, "graft_wh")
      s.sql("DROP TABLE IF EXISTS graft_wh.nightly_ingest")
      val corrupt = Tables.orders(s, dir).select(col("o_orderkey"),
        when(col("o_orderkey") % 97 === 5, lit(null))
          .otherwise(col("o_custkey")).as("o_custkey"),
        col("o_orderstatus"),
        when(col("o_orderkey") % 83 === 11, -col("o_totalprice"))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      def b(i: Int) = corrupt.filter(col("o_orderkey") % 3 === i)
      Warehouse.appendBatchIdempotent(b(0), "graft_wh.nightly_ingest", "b0")
      Warehouse.appendBatchIdempotent(b(1), "graft_wh.nightly_ingest", "b1")
      Warehouse.appendBatchIdempotent(b(1), "graft_wh.nightly_ingest", "b1") // retry
      Warehouse.appendBatchIdempotent(b(2), "graft_wh.nightly_ingest", "b2")
      val landed = s.table("graft_wh.nightly_ingest")
      val (valid, quarantined) = Checks.routeInvalid(landed, Seq(
        "custkey_present" -> col("o_custkey").isNotNull,
        "price_non_negative" -> (col("o_totalprice") >= 0)))
      val cut = lit("1997-01-01").cast("timestamp")
      val keys = Seq("o_orderpriority"); val sums = Seq("o_totalprice")
      val state = Ivm.mergeStates(Seq(
          Ivm.rollupState(valid.filter(col("o_orderdate") < cut), keys, sums),
          Ivm.rollupState(valid.filter(col("o_orderdate") >= cut), keys, sums)),
        keys, sums)
      val roll = Ivm.finalizeState(state, keys, sums)
        .select(lit("rollup").as("stage"), col("o_orderpriority").as("key"),
          col("cnt").as("n_rows"), col("sum_o_totalprice").as("revenue"))
      def ledger(stage: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_rows"))
          .select(lit(stage).as("stage"), lit("").as("key"), col("n_rows"),
            lit(null).cast("double").as("revenue"))
      ledger("ingested", landed)
        .unionByName(ledger("valid", valid))
        .unionByName(ledger("quarantined", quarantined))
        .unionByName(roll)
    },

    // ---- q205: PIXEL-LEVEL IMAGE TRANSFORM — real decode → nearest-
    // neighbor resize → real PNG re-encode over deterministic synthetic
    // PNGs (the q87 encode-under-oracle recipe at pixel depth): per-doc
    // dims derive arithmetically, the raster is a pure function of
    // (id, x, y), and the final payload is DECODED AGAIN for a
    // position-weighted pixel signature. The oracle re-derives the fit
    // dims (exact rational, truncating //) and the signature of the
    // NN-resampled arithmetic raster — values agree only if BOTH real
    // codec round trips are pixel-lossless and the resample mapping is
    // exactly sx = x·w/outW.
    QueryDef.sql("q205_image_pixel_transform",
      """WITH p AS (SELECT doc_id AS id,
        |    8 + (doc_id % 5) * 4 AS in_w, 6 + (doc_id % 4) * 3 AS in_h
        |  FROM documents),
        |d AS (SELECT id, in_w, in_h,
        |    CASE WHEN in_w <= 10 AND in_h <= 10 THEN in_w
        |         WHEN in_w >= in_h THEN greatest(1, (in_w * 10) // in_w)
        |         ELSE greatest(1, (in_w * 10) // in_h) END AS out_w,
        |    CASE WHEN in_w <= 10 AND in_h <= 10 THEN in_h
        |         WHEN in_w >= in_h THEN greatest(1, (in_h * 10) // in_w)
        |         ELSE greatest(1, (in_h * 10) // in_h) END AS out_h
        |  FROM p),
        |g AS (SELECT id, in_w, in_h, out_w, out_h,
        |    unnest(generate_series(0, out_w * out_h - 1)) AS pos
        |  FROM d),
        |px AS (SELECT id, in_w, in_h, out_w, out_h, pos,
        |    (pos % out_w) * in_w // out_w AS sx,
        |    (pos // out_w) * in_h // out_h AS sy
        |  FROM g)
        |SELECT id, in_w, in_h, out_w, out_h,
        |  CAST(SUM((pos + 1) * (((id + 3*sx + 5*sy) % 256) * 65536 +
        |    ((2*id + sx + sy) % 256) * 256 +
        |    ((id*7 + sx*11 + sy*13) % 256))) AS BIGINT) AS pixel_sig
        |FROM px GROUP BY 1,2,3,4,5 ORDER BY id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val params = Tables.documents(s, dir).select(
        col("doc_id"),
        (lit(8) + (col("doc_id") % 5) * 4).cast("int").as("w"),
        (lit(6) + (col("doc_id") % 4) * 3).cast("int").as("h"))
      // scale the ENCODER out too (the q87 guard): a compact source file
      // would otherwise synth every PNG in one task
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      val pngs = params.repartition(nPart).as[(Long, Int, Int)]
        .mapPartitions { it =>
          it.map { case (id, w, h) => (id, Multimodal.synthPng(id, w, h)) }
        }.toDF("id", "payload")
      Multimodal.transformImages(pngs, 10, 10)
        .map { o =>
          (o.id, o.in_w.toLong, o.in_h.toLong, o.out_w.toLong,
            o.out_h.toLong, Multimodal.pngPixelSignature(o.payload))
        }.toDF("id", "in_w", "in_h", "out_w", "out_h", "pixel_sig")
        .orderBy("id")
    },

    // ---- q202: EXACTLY-ONCE STREAM → JDBC LANDING, run to completion
    // over the fixture (the q30/q58 stream-gate recipe): the events feed
    // streams in 4 single-file micro-batches through the staged-commit
    // protocol (stage overwrite → one transaction moves staging→target +
    // ledger insert), then the sink body is RE-RUN for epoch 0 against a
    // POISONED staging table — the at-least-once replay scenario the
    // protocol exists for. The ledger skip-check must make it a no-op: a
    // broken guard commits the poison and fails every aggregate; a
    // double-landed batch fails counts/sums; a lost batch fails rows.
    // n_commits pins the ledger to exactly the 4 epochs.
    QueryDef.sql("q202_stream_exactly_once",
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  COUNT(DISTINCT event_id) AS n_ids,
         |  ${dsumSql("value")} AS total_value,
         |  CAST(4 AS BIGINT) AS n_commits
         |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q202").toString
      val srcDir = s"$tmp/src"
      System.setProperty("derby.system.home", s"$tmp/derby")
      val url = s"jdbc:derby:memory:q202_${System.nanoTime};create=true"
      Tables.events(s, dir).select("event_id", "event_type", "value")
        .repartitionByRange(4, col("event_id"))
        .write.parquet(srcDir)
      val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.Events
        .toJdbcExactlyOnceSink(stream, url, "landed", s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      // ENGINE RESTART (r15): kill after the downstream commit of the
      // LAST epoch but before the engine's checkpoint commit (delete
      // the commits/3 marker), then resume a COLD query from the same
      // checkpoint — Spark replays epoch 3 under the same id and the
      // ledger must absorb it, or every aggregate below doubles
      val marker = new org.apache.hadoop.fs.Path(s"$tmp/ckpt/commits/3")
      val mfs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      require(mfs.exists(marker), "q202: expected commit marker commits/3")
      mfs.delete(marker, false)
      val q2 = graft.streaming.Events
        .toJdbcExactlyOnceSink(stream, url, "landed", s"$tmp/ckpt").start()
      try q2.processAllAvailable() finally q2.stop()
      // the at-least-once replay: epoch 0 re-delivered with garbage in
      // its (per-epoch) staging — the committed-ledger check must skip
      // the commit
      import graft.sources.Jdbc
      Jdbc.write(s.range(1).select(lit(-1L).as("event_id"),
          lit("poison").as("event_type"), lit(1.0e9).as("value")),
        url, "landed_stage_0", org.apache.spark.sql.SaveMode.Overwrite)
      if (!Jdbc.isBatchCommitted(url, "landed_commits", 0L)) {
        Jdbc.commitStaged(url, "landed", "landed_stage_0", "landed_commits", 0L)
      }
      val nCommits = Jdbc.read(s, url, "landed_commits").count()
      Jdbc.read(s, url, "landed")
        .groupBy("event_type").agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_ids"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .withColumn("n_commits", lit(nCommits))
    },

    // ---- q203: STREAMING EXACT DEDUP run to completion — the events
    // feed replayed with deterministic duplicate deliveries in BOTH
    // positions a real at-least-once bus produces: in-batch dups
    // (id%7==3 doubled inside micro-batch 1), cross-batch dups within
    // the watermark horizon (batch 1's last hour re-delivered in batch
    // 2 — state must still hold those keys), and in-batch dups in batch
    // 2 (id%5==1). dropDuplicatesWithinWatermark must emit each event
    // EXACTLY once: the oracle is simply the original events table — a
    // leaked duplicate fails rowcount, an over-dropped key fails rows.
    // File mtimes pin the micro-batch order.
    QueryDef.sql("q203_stream_dedup",
      """SELECT event_id, ts, user_id, event_type, value
        |FROM events""".stripMargin) { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q203").toString
      val srcDir = s"$tmp/src"; val outDir = s"$tmp/out"
      new java.io.File(srcDir).mkdirs()
      val ev = Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val cut = lit("2024-01-16").cast("timestamp")
      val first = ev.filter(col("ts") < cut)
      val second = ev.filter(col("ts") >= cut)
      val tail1 = first.filter(
        col("ts") >= lit("2024-01-15 23:00:00").cast("timestamp"))
      def emitFile(df: org.apache.spark.sql.DataFrame, name: String,
                   mtime: Long): Unit = {
        val staged = s"$tmp/$name"
        df.coalesce(1).write.parquet(staged)
        val part = new java.io.File(staged).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(srcDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        dest.setLastModified(mtime)
      }
      val now = System.currentTimeMillis()
      emitFile(first.unionByName(first.filter(col("event_id") % 7 === 3)),
        "b1", now - 120000)
      emitFile(second.unionByName(tail1)
        .unionByName(second.filter(col("event_id") % 5 === 1)),
        "b2", now - 60000)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.Events.dedupStream(stream, Seq("event_id"))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(outDir)
    },

    // ---- q204: STREAM-STREAM ATTRIBUTION JOIN run to completion —
    // clicks and purchases as two file streams through the watermarked
    // interval join (state bounded by attribution + lateness), sunk to
    // parquet; the oracle replays the 30-minute interval join in SQL. A
    // dropped match (over-eager state eviction) fails rows; a phantom
    // or duplicate emission fails rowcount.
    QueryDef.sql("q204_stream_attribution",
      """SELECT c.user_id, c.ts AS click_ts, c.event_type,
        |  p.ts AS purchase_ts, p.value AS amount
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"""
        .stripMargin) { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q204").toString
      val ev = Tables.events(s, dir)
      val clicksDir = s"$tmp/clicks"; val purchDir = s"$tmp/purch"
      ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_type")
        .coalesce(1).write.parquet(clicksDir)
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("amount"))
        .coalesce(1).write.parquet(purchDir)
      val cs = s.readStream.schema(s.read.parquet(clicksDir).schema)
        .parquet(clicksDir)
      val ps = s.readStream.schema(s.read.parquet(purchDir).schema)
        .parquet(purchDir)
      val outDir = s"$tmp/out"
      val q = graft.streaming.Events.attributionJoin(cs, ps)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(outDir)
    },

    // ---- q208: CONCURRENT-WRITER SAFETY (r11 verdict item 1) — two
    // transactional writers race one TxLog table and the final state must
    // equal the SERIALIZED application. The interleave is adversarial by
    // construction: writer B stages its read-modify-write (×2 on 2-HIGH/
    // 3-MEDIUM) from the PRE-A snapshot, then writer A commits (+5 on
    // 1-URGENT/2-HIGH), then B's stale commit is attempted — the
    // conflict check MUST refuse it (a blind land would publish 2-HIGH =
    // base*2, missing A's +5, and fail the hash), B discards and re-runs
    // through the retry loop, re-deriving (base+5)*2 from A's snapshot.
    // The oracle computes the serialized A-then-B table directly, so a
    // lost writer, a double-applied transform, or a conflict check that
    // either misses the overlap or never lets the retry through all fail
    // value compare.
    QueryDef.sql("q208_tx_concurrent_writers",
      s"""WITH fin AS (SELECT o_orderpriority, o_orderkey,
         |  CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice + 5.0
         |       WHEN o_orderpriority = '2-HIGH' THEN (o_totalprice + 5.0) * 2.0
         |       WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice * 2.0
         |       ELSE o_totalprice END AS price
         |  FROM orders)
         |SELECT o_orderpriority, COUNT(*) AS orders,
         |  COUNT(DISTINCT o_orderkey) AS distinct_orders,
         |  ${dsumSql("price")} AS revenue,
         |  CAST(3 AS BIGINT) AS final_version
         |FROM fin GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q208_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val pc = "o_orderpriority"
      val base = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      TxLog.overwritePartitionsTx(base, root, pc) // v1: initial load
      def wA(cur: org.apache.spark.sql.DataFrame) = cur
        .filter(col(pc).isin("1-URGENT", "2-HIGH"))
        .withColumn("o_totalprice", col("o_totalprice") + 5.0)
      def wB(cur: org.apache.spark.sql.DataFrame) = cur
        .filter(col(pc).isin("2-HIGH", "3-MEDIUM"))
        .withColumn("o_totalprice", col("o_totalprice") * 2.0)
      // writer B derives + stages from the pre-A snapshot (soon stale)
      val snapB = TxLog.snapshot(s, root)
      val stagedB = TxLog.stage(
        wB(TxLog.readSnapshot(s, root, snapB, pc)), root, pc)
      // writer A lands first → v2
      val vA = TxLog.readModifyWrite(s, root, pc)(wA)
      require(vA == 2L, s"q208: writer A committed v$vA, expected v2")
      // B's stale commit must be REFUSED — 2-HIGH changed under it
      val conflicted =
        try { TxLog.commit(s, root, stagedB, "overwrite",
          readVersion = snapB.version, conflictCheck = true); false }
        catch { case _: TxLog.ConcurrentWriteException => true }
      require(conflicted,
        "q208: stale overlapping commit was accepted — conflict check broken")
      TxLog.discard(s, root, stagedB)
      // B retries: re-derives from A's committed snapshot → v3
      val vB = TxLog.readModifyWrite(s, root, pc)(wB)
      require(vB == 3L, s"q208: writer B retried to v$vB, expected v3")
      TxLog.read(s, root, pc)
        .groupBy(pc)
        .agg(count(lit(1)).as("orders"),
          countDistinct(col("o_orderkey")).as("distinct_orders"),
          dsum(col("o_totalprice")).as("revenue"))
        .withColumn("final_version",
          lit(TxLog.snapshot(s, root).version))
    },

    // ---- q209: STREAMING JDBC UPSERT SINK run to completion (r11
    // verdict item 4 — first of the four spec-only streaming rows
    // graduating to driver gates). The events feed streams into Derby
    // through toJdbcUpsertSink with at-least-once adversities in BOTH
    // positions: batch 1 carries in-batch duplicate keys (id%7==3
    // doubled) and every later batch re-delivers a slice of its
    // predecessor (id%16<4). ON-CONFLICT-DO-NOTHING key dedup must land
    // each event exactly once: a leaked duplicate fails n_events, a
    // dropped event fails rows, a broken anti-join fails n_ids.
    QueryDef.sql("q209_stream_jdbc_upsert",
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  COUNT(DISTINCT event_id) AS n_ids,
         |  ${dsumSql("value")} AS total_value
         |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q209").toString
      val srcDir = s"$tmp/src"
      new java.io.File(srcDir).mkdirs()
      System.setProperty("derby.system.home", s"$tmp/derby")
      val url = s"jdbc:derby:memory:q209_${System.nanoTime};create=true"
      val ev = Tables.events(s, dir).select("event_id", "event_type", "value")
      def slice(i: Int) = ev.filter(col("event_id") % 4 === i)
      def emit(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
        val staged = s"$tmp/$name"
        df.coalesce(1).write.parquet(staged)
        val part = new java.io.File(staged).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(srcDir, s"$name.parquet").toPath)
      }
      emit(slice(0).unionByName(slice(0).filter(col("event_id") % 7 === 3)), "b0")
      for (i <- 1 to 3)
        emit(slice(i).unionByName(
          slice(i - 1).filter(col("event_id") % 16 < 4)), s"b$i")
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.Events.toJdbcUpsertSink(stream, url, "landed",
        keys = Seq("event_id"), checkpoint = s"$tmp/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      graft.sources.Jdbc.read(s, url, "landed")
        .groupBy("event_type").agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_ids"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
    },

    // ---- q210: AVRO ROUND-TRIP (the q131 ORC recipe, third interchange
    // format): orders — with a decimal cast, a date cast, the native
    // timestamp, and an injected nullable column — is written as standard
    // Avro Object Container Files by the graft.sources.Avro
    // mini-connector (this distribution ships no spark-avro DataSource;
    // the writer emits real OCF with date/timestamp-micros/decimal
    // logical types via one mapPartitions pass), read back through its
    // distributed DataFileStream reader, and aggregated. The oracle
    // computes the identical aggregate from the ORIGINAL parquet, so a
    // green row proves the round trip is lossless across longs, strings,
    // doubles, decimals, dates, timestamps, and nulls.
    QueryDef.sql("q210_avro_roundtrip",
      s"""WITH o AS (SELECT o_orderkey, o_orderpriority,
         |  CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec,
         |  CAST(o_orderdate AS DATE) AS order_day, o_orderdate,
         |  CASE WHEN o_orderkey % 50 = 7 THEN NULL ELSE o_orderstatus END AS status_n
         |FROM orders)
         |SELECT o_orderpriority, COUNT(*) AS cnt,
         |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
         |  CAST(SUM(price_dec) AS DOUBLE) AS total,
         |  MIN(order_day) AS min_day, MAX(order_day) AS max_day,
         |  MIN(o_orderdate) AS min_ts, MAX(o_orderdate) AS max_ts,
         |  CAST(SUM(CASE WHEN status_n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS null_status
         |FROM o GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.Avro
      val path = scratch("q210_orders_avro")
      Avro.write(Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("price_dec"),
        col("o_orderdate").cast("date").as("order_day"), col("o_orderdate"),
        when(col("o_orderkey") % 50 === 7, lit(null))
          .otherwise(col("o_orderstatus")).as("status_n")), path)
      Avro.read(s, path)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_orderkey")).as("key_sum"),
          sum(col("price_dec")).cast("double").as("total"),
          min(col("order_day")).as("min_day"), max(col("order_day")).as("max_day"),
          min(col("o_orderdate")).as("min_ts"), max(col("o_orderdate")).as("max_ts"),
          sum(when(col("status_n").isNull, 1).otherwise(0)).cast("long")
            .as("null_status"))
    },

    // ---- q210b: AVRO NESTED ROUND-TRIP — the reference's
    // product_metadata basket shape (data_generator.py:63-67: an array
    // of item records) rides the Avro interchange format end-to-end.
    // Lineitem rows are rolled up into per-order ARRAY<STRUCT> baskets,
    // written as Avro OCF (array elements are nullable unions; struct
    // fields nested records), read back through the distributed reader,
    // and only THEN exploded and aggregated — so a green row proves the
    // nested values (long/double/double inside each element) survived
    // the trip bit-exactly. Oracle computes straight from lineitem.
    QueryDef.sql("q210b_avro_nested_roundtrip",
      """SELECT l_orderkey AS order_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(l_quantity) AS DOUBLE) AS total_qty,
        |  CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total_value,
        |  CAST(MIN(l_partkey) AS BIGINT) AS min_product,
        |  CAST(MAX(l_partkey) AS BIGINT) AS max_product
        |FROM lineitem GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.Avro
      val baskets = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("order_id"))
        .agg(collect_list(struct(
          col("l_partkey").as("product_id"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("item_price"))).as("items"))
      val path = scratch("q210b_baskets_avro")
      Avro.write(baskets, path)
      val back = Avro.read(s, path)
      val it = col("item")
      back.select(col("order_id"), explode(col("items")).as("item"))
        .groupBy("order_id")
        .agg(count(lit(1)).as("n_items"),
          sum(it.getField("quantity")).as("total_qty"),
          sum((it.getField("quantity") * it.getField("item_price"))
            .cast(DecimalType(18, 6))).cast("double").as("total_value"),
          min(it.getField("product_id")).as("min_product"),
          max(it.getField("product_id")).as("max_product"))
    },

    // ---- q210c: FIXED-SIZE Avro interchange twin (the q139b/q143b
    // move): the q210b basket round trip restricted to a fixed
    // absolute-key slice (l_orderkey <= 60000 — ScaleData copies shift
    // keys by 1e8, so the slice is constant at ANY scale while the
    // filter pushes down to the parquet scan and row-group stats skip
    // every other copy). q210b's 32× ratio is corpus-proportional BY
    // DESIGN (it rewrites the whole dataset through the interchange
    // format); this twin is the evidence the Avro machinery itself is
    // O(batch): a fixed extract costs the same at 1× and 32×.
    QueryDef.sql("q210c_avro_fixed_slice",
      """SELECT l_orderkey AS order_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(l_quantity) AS DOUBLE) AS total_qty,
        |  CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total_value
        |FROM lineitem WHERE l_orderkey <= 60000 GROUP BY 1""".stripMargin) {
      (s, dir) =>
      import graft.sources.Avro
      val baskets = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") <= 60000L)
        .groupBy(col("l_orderkey").as("order_id"))
        .agg(collect_list(struct(
          col("l_partkey").as("product_id"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("item_price"))).as("items"))
      val path = scratch("q210c_baskets_avro")
      Avro.write(baskets, path)
      val it = col("item")
      Avro.read(s, path)
        .select(col("order_id"), explode(col("items")).as("item"))
        .groupBy("order_id")
        .agg(count(lit(1)).as("n_items"),
          sum(it.getField("quantity")).as("total_qty"),
          sum((it.getField("quantity") * it.getField("item_price"))
            .cast(DecimalType(18, 6))).cast("double").as("total_value"))
    },

    // ---- q211: STREAM-STATIC ENRICHMENT run to completion — the
    // dimension-join shape every landing pipeline has: an events file
    // stream left-joins a BROADCAST static customer dim (re-resolved per
    // micro-batch, no state store) and sinks enriched rows to parquet.
    // Adversarial condition: the dim is incomplete (custkey%5==2 rows
    // withheld, the q194 late-dimension fixture), so the no-match →
    // 'none' path carries real rows; a dropped unmatched event fails
    // rowcount, a wrong segment fails values.
    QueryDef.sql("q211_stream_static_enrichment",
      """SELECT e.event_id, e.user_id, e.event_type,
        |  COALESCE(c.c_mktsegment, 'none') AS segment
        |FROM events e LEFT JOIN customer c
        |  ON e.user_id = c.c_custkey AND c.c_custkey % 5 <> 2"""
        .stripMargin) { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q211").toString
      val srcDir = s"$tmp/src"; val outDir = s"$tmp/out"
      val ev = Tables.events(s, dir)
        .select("event_id", "user_id", "event_type")
      ev.repartitionByRange(2, col("event_id")).write.parquet(srcDir)
      val dim = Tables.customer(s, dir).filter(col("c_custkey") % 5 =!= 2)
        .select(col("c_custkey"), col("c_mktsegment"))
      val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val enriched = stream
        .join(broadcast(dim), stream("user_id") === dim("c_custkey"), "left")
        .select(col("event_id"), col("user_id"), col("event_type"),
          coalesce(col("c_mktsegment"), lit("none")).as("segment"))
      val q = enriched.writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(outDir)
    },

    // ---- q212: FROZEN DUP-SPAN INGEST SCRUB run to completion — the
    // dsirModels/dsirScore split applied to exact-substring dedup: the
    // duplicated-8-gram model is mined ONCE on the resident corpus
    // (doc_id < 250), frozen, and the arriving docs (doc_id >= 250)
    // stream through removeSpansWith in foreachBatch — reference
    // boilerplate is stripped from the ingest without re-mining. The
    // oracle mines the same dup set from the corpus split in SQL and
    // replays the rebuild over the batch split; a model leak (grams
    // mined from the BATCH), an over- or under-scrub, or batch-boundary
    // dependence all fail value compare. Adversarial condition: the
    // ingest arrives as multiple micro-batches, so any cross-batch
    // mining would change the dup set and fail.
    QueryDef.sql("q212_stream_dupspan_scrub",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |occ AS (SELECT doc_id, pg.pos AS pos, pg.g AS g FROM
         |  (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(toks)-7, 0)),
         |     i -> {'pos': i, 'g': ${(0 until 8).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]").mkString(" || ' ' || ")}})) AS pg
         |   FROM t)),
         |dup AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS nd
         |                       FROM occ WHERE doc_id < 250 GROUP BY 1)
         |        WHERE nd >= 2),
         |cp AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS p
         |       FROM occ JOIN dup USING (g) WHERE doc_id >= 250),
         |tk AS (SELECT doc_id, pt.p AS p, pt.tok AS tok FROM
         |  (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
         |     i -> {'p': i, 'tok': toks[i]})) AS pt FROM t WHERE doc_id >= 250)),
         |kept AS (SELECT doc_id, COUNT(*) AS kc,
         |           string_agg(tok, ' ' ORDER BY p) AS txt
         |         FROM tk ANTI JOIN cp USING (doc_id, p) GROUP BY 1)
         |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(COALESCE(kept.kc, 0) AS BIGINT) AS kept_tokens,
         |  CAST(len(toks) - COALESCE(kept.kc, 0) AS BIGINT) AS removed_tokens,
         |  COALESCE(kept.txt, '') AS deduped_text
         |FROM t LEFT JOIN kept USING (doc_id)
         |WHERE t.doc_id >= 250 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q212").toString
      val srcDir = s"$tmp/src"; val outDir = s"$tmp/out"
      val docs = Tables.documents(s, dir)
      // pin the mined gram set once: foreachBatch re-executes referenced
      // plans per micro-batch, and re-mining the corpus model three
      // times is exactly what the frozen-model split exists to avoid
      val model0 = graft.llm.TextStats.dupSpanModel(
        docs.filter(col("doc_id") < 250), "doc_id", "text", n = 8, minDocs = 2)
      val model = model0.copy(grams = graft.Checkpoints.pin(model0.grams))
      docs.filter(col("doc_id") >= 250).select("doc_id", "text")
        .repartitionByRange(3, col("doc_id")).write.parquet(srcDir)
      val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = stream.writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.llm.TextStats.removeSpansWith(b.toDF(), model, "doc_id", "text")
            .write.mode("append").parquet(outDir)
        }.start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(outDir).orderBy("doc_id")
    },

    // ---- q215: STREAMING CDC STATE MAINTENANCE run to completion (the
    // last spec-only row graduating, with q209/q211-q213): the q155
    // change feed arrives as three time-sliced micro-batches (file
    // mtimes pin the order — applyToState(applyLog(a), b) ==
    // applyLog(a ++ b) only when slices respect (ts, seq) order) and
    // each batch folds into the running state via foreachBatch, state
    // pinned per batch. The final state must equal the one-shot q155
    // oracle: a dropped batch loses inserts, a reordered one resurrects
    // deleted keys or applies stale updates — all fail value compare.
    QueryDef.sql("q215_stream_cdc_maintenance",
      s"""WITH log AS ($cdcLogSql
        |), last AS (
        |  SELECT k, ts, op, status, price,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, seq DESC) AS rn
        |  FROM log)
        |SELECT k AS o_orderkey, status, price, ts AS last_ts
        |FROM last WHERE rn = 1 AND op <> 'D'""".stripMargin) { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q215").toString
      val srcDir = s"$tmp/src"
      new java.io.File(srcDir).mkdirs()
      val log = cdcLogOf(s, dir)
      val Seq(c1, c2) = Seq("1997-01-01", "1999-01-01")
        .map(d => lit(d).cast(log.schema("ts").dataType))
      def emit(df: org.apache.spark.sql.DataFrame, name: String,
               mtime: Long): Unit = {
        val staged = s"$tmp/$name"
        df.coalesce(1).write.parquet(staged)
        val part = new java.io.File(staged).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(srcDir, s"$name.parquet")
        java.nio.file.Files.move(part.toPath, dest.toPath)
        dest.setLastModified(mtime): Unit
      }
      val now = System.currentTimeMillis()
      emit(log.filter(col("ts") < c1), "b0", now - 180000)
      emit(log.filter(col("ts") >= c1 && col("ts") < c2), "b1", now - 120000)
      emit(log.filter(col("ts") >= c2), "b2", now - 60000)
      val keys = Seq("o_orderkey"); val attrs = Seq("status", "price")
      var state = Cdc.applyLog(log.limit(0), keys, attrs)
      val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = stream.writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          state = Cdc.applyToState(state, b.toDF(), keys, attrs)
            .localCheckpoint()
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      state.withColumnRenamed("ts", "last_ts")
    },

    // ---- q213: GOPHER RULES STREAMING PARITY run to completion — the
    // q132 rule filter gating an ingest stream via foreachBatch (the
    // rules join per-doc aggregations, so append-mode streaming proper
    // can't host them; foreachBatch is the deployment shape). The
    // oracle is q132's full rule replay over the whole corpus: since
    // every rule is per-doc, the streamed union across micro-batches
    // must equal the one-shot batch verdicts exactly — any batch-
    // boundary dependence or dropped micro-batch fails rows.
    QueryDef.sql("q213_stream_gopher_parity",
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |b AS (SELECT doc_id, toks,
         |        CAST(len(toks) AS BIGINT) AS n_tokens,
         |        CAST(length(regexp_replace(text, '$ws+', '', 'g')) AS DOUBLE) / len(toks) AS avg_token_len,
         |        CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS BIGINT) AS n_symbols,
         |        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
         |        CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
         |      FROM t),
         |db AS (SELECT doc_id,
         |         CAST(len(list_distinct(list_transform(
         |           generate_series(1, greatest(len(toks)-1, 0)),
         |           i -> toks[i] || ' ' || toks[i+1]))) AS BIGINT) AS n_db
         |       FROM t),
         |tf AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |cnt AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
         |top AS (SELECT doc_id, MAX(tf) AS top_tf FROM cnt GROUP BY 1),
         |r AS (SELECT b.doc_id, n_tokens,
         |        n_tokens >= 20 AND n_tokens <= 100000 AS r_length,
         |        avg_token_len BETWEEN 3.0 AND 10.0 AS r_word_len,
         |        CAST(n_symbols AS DOUBLE) / n_tokens <= 0.1 AS r_symbol,
         |        CAST(n_alpha AS DOUBLE) / n_tokens >= 0.8 AS r_alpha,
         |        n_stop >= 2 AS r_stopwords,
         |        (CAST(top_tf AS DOUBLE) / n_tokens < 0.1 AND
         |         CASE WHEN n_tokens > 1
         |              THEN 1.0 - CAST(n_db AS DOUBLE) / (n_tokens - 1)
         |              ELSE 0.0 END < 0.1) AS r_repetition
         |      FROM b JOIN db ON b.doc_id = db.doc_id
         |             JOIN top ON b.doc_id = top.doc_id)
         |SELECT doc_id, n_tokens, r_length, r_word_len, r_symbol, r_alpha,
         |  r_stopwords, r_repetition,
         |  (r_length AND r_word_len AND r_symbol AND r_alpha AND r_stopwords
         |   AND r_repetition) AS kept
         |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_q213").toString
      val srcDir = s"$tmp/src"; val outDir = s"$tmp/out"
      Tables.documents(s, dir).select("doc_id", "text")
        .repartitionByRange(3, col("doc_id")).write.parquet(srcDir)
      val stream = s.readStream.schema(s.read.parquet(srcDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = stream.writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.llm.TextStats.gopherRules(b.toDF(), "doc_id", "text",
              minTokens = 20)
            .write.mode("append").parquet(outDir)
        }.start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(outDir).orderBy("doc_id")
    },

    // ---- q217: TRANSACTIONAL MAINTENANCE UNDER A LIVE STREAM (the
    // TxLog.compactPartitionsTx race, driver-oracled; also the
    // stream+batch writer-coexistence claim from streaming.Events'
    // toTxLogSink doc). The events feed streams into a tx table
    // partitioned on a 240-value bucket (≥200 partitions — the
    // one-scan TxFileIndex read at a realistic partition count) while a
    // compactor thread repeatedly rewrites the whole table; every
    // interleaving must serialize (a compactor whose snapshot went
    // stale re-derives), so a lost batch fails rowcount, a
    // double-applied batch fails n_events, and a compaction that
    // resurrects pre-compaction files fails values. After the stream
    // drains, one final uncontended compaction must leave exactly one
    // file per partition — gated via the one_file_per_part column.
    QueryDef.sql("q217_tx_stream_compaction_race",
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  COUNT(DISTINCT event_id) AS n_ids,
         |  ${dsumSql("value")} AS total_value,
         |  CAST(1 AS BIGINT) AS one_file_per_part
         |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val tmp = java.nio.file.Files.createTempDirectory("graft_q217").toString
      val srcDir = s"$tmp/src"; val root = s"$tmp/table"
      new java.io.File(srcDir).mkdirs()
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          pmod(col("event_id"), lit(240)).cast("string").as("bucket"))
      def emit(i: Int): Unit = {
        val staged = s"$tmp/b$i"
        ev.filter(col("event_id") % 4 === i).coalesce(1).write.parquet(staged)
        val part = new java.io.File(staged).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(srcDir, s"b$i.parquet").toPath): Unit
      }
      // seed the table so the compactor always has partitions to select
      TxLog.appendBatchTx(ev.filter(col("event_id") % 4 === 0), root,
        "bucket", "q217-seed")
      (1 to 3).foreach(emit)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.Events.toTxLogSink(stream, root, "bucket",
        checkpoint = s"$tmp/ckpt").start()
      val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
      val compactor = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (1 to 3).foreach { _ =>
          TxLog.compactPartitionsTx(s, root, "bucket"): Unit
        }
      })
      try { q.processAllAvailable(); compactor.get() }
      finally { q.stop(); pool.shutdown() }
      // quiesced: one more compaction, then every partition is ONE file
      TxLog.compactPartitionsTx(s, root, "bucket")
      val parts = TxLog.snapshot(s, root).parts
      require(parts.size >= 200,
        s"q217: expected >=200 bucket partitions, got ${parts.size}")
      val maxFiles = parts.values.map(_.size).max
      TxLog.read(s, root, "bucket")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_ids"),
          dsum(col("value")).as("total_value"))
        .withColumn("one_file_per_part", lit(maxFiles.toLong))
    },

    // ---- q218: FILE-LEVEL DATA SKIPPING through the tx log. Orders
    // land in four key-range batches (one file per priority partition
    // per batch, each with a recorded disjoint o_orderkey range); a
    // range predicate on the key must then read only the files whose
    // recorded min/max covers it — at most HALF the live file list
    // (gated: skipping_ok, plus a loud require). The values themselves
    // are oracled straight from the raw orders table under the same
    // threshold, so a skip that drops a live row fails the value
    // compare, and a stats bug that skips nothing fails the file gate.
    QueryDef.sql("q218_tx_data_skipping",
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price,
         |  CAST(1 AS BIGINT) AS skipping_ok
         |FROM orders
         |WHERE o_orderkey > (SELECT CAST(FLOOR(MAX(o_orderkey) / 2.0) AS BIGINT) FROM orders)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q218_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val maxKey = orders.agg(max("o_orderkey")).head.getLong(0)
      var lo = Long.MinValue
      (1 to 4).foreach { i =>
        val hi = maxKey * i / 4
        TxLog.appendBatchTx(
          orders.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
          root, "o_orderpriority", s"q218-b$i")
        lo = hi
      }
      val totalFiles =
        TxLog.snapshot(s, root).parts.values.map(_.size).sum
      val thr = maxKey / 2
      // shuffle-free probe (AQE leaves it unwrapped, so the scan node is
      // directly collectible); no rows reach the driver
      val probe = TxLog.read(s, root, "o_orderpriority")
        .filter(col("o_orderkey") > thr).select("o_orderpriority")
      val read = graft.tools.PlanCheck.filesRead(probe)
      require(read * 2 <= totalFiles,
        s"q218: data skipping left $read of $totalFiles files in the scan")
      TxLog.read(s, root, "o_orderpriority")
        .filter(col("o_orderkey") > thr)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("skipping_ok",
          lit(if (read * 2 <= totalFiles) 1L else 0L))
    },

    // ---- q219: RANGE-CLUSTERED COMPACTION + DATA SKIPPING on a
    // secondary key (the OPTIMIZE-ZORDER-lite maintenance move).
    // Events land in three INTERLEAVED batches — every pre-compaction
    // file spans the full event_id range, so nothing is skippable —
    // then compactClusteredTx rewrites each event_type partition into
    // range-clustered files. An id-range predicate (an eighth of the
    // keyspace) must afterwards read at most HALF the live files
    // (gated clustering_ok + loud require); values oracled from raw
    // events under the same thresholds.
    QueryDef.sql("q219_tx_clustered_skipping",
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS total_value,
         |  CAST(1 AS BIGINT) AS clustering_ok
         |FROM events
         |WHERE event_id > (SELECT CAST(FLOOR(MAX(event_id) * 3 / 8.0) AS BIGINT) FROM events)
         |  AND event_id <= (SELECT CAST(FLOOR(MAX(event_id) * 4 / 8.0) AS BIGINT) FROM events)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q219_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      (0 until 3).foreach { i =>
        TxLog.appendBatchTx(ev.filter(pmod(col("event_id"), lit(3)) === i),
          root, "event_type", s"q219-b$i")
      }
      TxLog.compactClusteredTx(s, root, "event_type",
        Seq(col("event_id")), files = 24)
      val totalFiles = TxLog.snapshot(s, root).parts.values.map(_.size).sum
      require(totalFiles >= 12,
        s"q219: clustered rewrite produced only $totalFiles files")
      val maxId = ev.agg(max("event_id")).head.getLong(0)
      val lo = maxId * 3 / 8
      val hi = maxId * 4 / 8
      val probe = TxLog.read(s, root, "event_type")
        .filter(col("event_id") > lo && col("event_id") <= hi)
        .select("event_type")
      val read = graft.tools.PlanCheck.filesRead(probe)
      require(read * 2 <= totalFiles,
        s"q219: id-range read scanned $read of $totalFiles clustered files")
      TxLog.read(s, root, "event_type")
        .filter(col("event_id") > lo && col("event_id") <= hi)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"))
        .withColumn("clustering_ok",
          lit(if (read * 2 <= totalFiles) 1L else 0L))
    },

    // ---- q221: INCREMENTAL CONSUMPTION of the tx log — the Delta
    // change-feed read in honest batch form: a downstream consumer
    // re-reads O(new data) per cycle, never O(table). Three appends
    // land; the consumer drains after two (checkpointing the version),
    // then reads ONLY the third batch's rows in its second cycle — the
    // second window's rowcount is required equal to the third batch's
    // metadata count, and the union of both cycles must aggregate to
    // exactly the full raw table (no loss at the seam, no double-read).
    QueryDef.sql("q221_tx_incremental_read",
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  COUNT(DISTINCT event_id) AS n_ids,
         |  ${dsumSql("value")} AS total_value
         |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q221_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      def slice(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
      TxLog.appendBatchTx(slice(0), root, "event_type", "q221-b0")
      TxLog.appendBatchTx(slice(1), root, "event_type", "q221-b1")
      val (c1, v1) = TxLog.readChangesSince(s, root, 0L, "event_type")
      TxLog.appendBatchTx(slice(2), root, "event_type", "q221-b2")
      val (c2, v2) = TxLog.readChangesSince(s, root, v1, "event_type")
      require(v2 > v1, "q221: second cycle saw no new version")
      val b2Rows = slice(2).count()
      require(c2.get.count() == b2Rows,
        s"q221: second window read ${c2.get.count()} rows, batch had $b2Rows")
      // drained consumer: third cycle must be empty at the same version
      val (c3, v3) = TxLog.readChangesSince(s, root, v2, "event_type")
      require(c3.isEmpty && v3 == v2,
        "q221: drained consumer still saw changes")
      c1.get.unionByName(c2.get)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_ids"),
          dsum(col("value")).as("total_value"))
    },

    // ---- q222: EXACTLY-ONCE tx→tx INCREMENTAL PIPELINE (the
    // bronze→silver shape): consumeChanges drives version-tagged
    // windows from a source tx table into a DERIVED tx table whose
    // appendBatchTx ledger keys on the window tag. The second window's
    // consumer CRASHES after the downstream commit but before the
    // checkpoint advance (the protocol's supported failure point) — the
    // restart re-delivers the identical window under the identical tag
    // and the downstream ledger absorbs it — then a third batch lands
    // and is consumed normally. The derived table must aggregate to
    // exactly the raw events: a lost window fails counts, a
    // double-applied replay fails counts, a mistagged window fails ids.
    QueryDef.sql("q222_tx_pipeline_exactly_once",
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  COUNT(DISTINCT event_id) AS n_ids,
         |  ${dsumSql("value")} AS total_value
         |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val base = scratch("q222_tx")
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(basePath, true)
      val src = s"$base/src"; val dst = s"$base/dst"
      val ckpt = s"$base/consumer.ckpt"
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      def slice(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
      def pump(): Int = TxLog.consumeChanges(s, src, "event_type", ckpt) {
        (win, v) =>
          TxLog.appendBatchTx(win, dst, "event_type", s"q222-w$v"): Unit
      }
      TxLog.appendBatchTx(slice(0), src, "event_type", "q222-b0")
      require(pump() == 1, "q222: first window not delivered")
      TxLog.appendBatchTx(slice(1), src, "event_type", "q222-b1")
      // crash AFTER the downstream commit, BEFORE the checkpoint advance
      // (the supported failure point): the restart must re-deliver the
      // identical window under the identical tag, which the derived
      // table's ledger absorbs
      var crashed = false
      try {
        TxLog.consumeChanges(s, src, "event_type", ckpt) { (win, v) =>
          TxLog.appendBatchTx(win, dst, "event_type", s"q222-w$v"): Unit
          sys.error("q222: simulated crash before checkpoint")
        }: Unit
      } catch { case e: RuntimeException
          if e.getMessage.contains("simulated crash") => crashed = true }
      require(crashed, "q222: crash simulation did not fire")
      require(pump() == 1, "q222: restarted consumer did not replay")
      TxLog.appendBatchTx(slice(2), src, "event_type", "q222-b2")
      require(pump() == 1, "q222: post-replay window not delivered")
      TxLog.read(s, dst, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_ids"),
          dsum(col("value")).as("total_value"))
    },

    // ---- q220: METADATA-ONLY COUNT through the tx log (the Delta
    // numRecords move — at 100 TB a COUNT(*) by partition must not be
    // a table scan). Events land in three batches (multiple files per
    // bucket partition), one partition is transactionally removed, and
    // the per-partition counts are answered ENTIRELY from the log's
    // recorded footer row counts: the result DataFrame is constructed
    // on the driver — zero tasks touch a data file — and every value
    // must equal DuckDB counting the raw events under the same bucket
    // rule and removal.
    QueryDef.sql("q220_tx_metadata_count",
      """SELECT CAST(event_id % 8 AS VARCHAR) AS bucket,
        |  COUNT(*) AS n_rows
        |FROM events WHERE event_id % 8 <> 5
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q220_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val ev = Tables.events(s, dir).select(col("event_id"),
        pmod(col("event_id"), lit(8)).cast("string").as("bucket"))
      (0 until 3).foreach { i =>
        TxLog.appendBatchTx(ev.filter(pmod(col("event_id"), lit(3)) === i),
          root, "bucket", s"q220-b$i")
      }
      TxLog.removePartitionsTx(s, root, Seq("5"))
      val counts = TxLog.partitionCounts(s, root).toSeq.sortBy(_._1)
      require(counts.forall(_._2.nonEmpty),
        "q220: a live file lost its recorded footer count")
      require(TxLog.countRows(s, root).contains(counts.flatMap(_._2).sum),
        "q220: whole-table metadata count disagrees with the partition sum")
      import s.implicits._
      counts.map { case (v, n) => (v, n.get) }.toDF("bucket", "n_rows")
    },

    // ---- q223: STRING-KEY DATA SKIPPING through the tx log (the
    // truncated-UTF-8 bounds contract — Delta/Iceberg string stats).
    // Customers land in four contiguous c_name ranges (one file per
    // mktsegment partition per batch, each with a recorded prefix-min /
    // widened-max name bound — "Customer#000000NNN" is exactly the
    // shared->32-cp-prefix shape the widening contract exists for); a
    // range probe on the TOP name quartile must then read at most HALF
    // the live files (loud require + gated skipping_ok). The
    // reference's hottest predicates are string keys (init_db.py:113-116
    // indexes session_id/event_name) — this is the file-granular
    // equivalent. Values oracled from raw customers under the same
    // predicate.
    QueryDef.sql("q223_tx_string_skipping",
      s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
         |  ${dsumSql("c_acctbal")} AS total_bal,
         |  CAST(1 AS BIGINT) AS skipping_ok
         |FROM customer
         |WHERE c_name = (SELECT MAX(c_name) FROM customer)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q223_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      // contiguous name-range batches: quartile boundaries computed from
      // the ORDERED NAME STRUCTURE (names embed a zero-padded number —
      // parse the max name's suffix), so no driver collect of the key
      // set is ever needed and scaled fixtures with replicated names
      // still land non-empty batches
      val maxNum = cust.agg(max("c_name")).head.getString(0)
        .stripPrefix("Customer#").toLong
      def nameOf(k: Long) = f"Customer#$k%09d"
      var lo = Option.empty[String]
      (1 to 4).foreach { i =>
        val hiB = if (i < 4) Some(nameOf(maxNum * i / 4)) else None
        val slice = cust
          .filter(lo.map(col("c_name") > _).getOrElse(lit(true)))
          .filter(hiB.map(col("c_name") <= _).getOrElse(lit(true)))
        TxLog.appendBatchTx(slice, root, "c_mktsegment", s"q223-b$i")
        lo = hiB
      }
      val totalFiles = TxLog.snapshot(s, root).parts.values.map(_.size).sum
      val topName = cust.agg(max("c_name")).head.getString(0)
      val probe = TxLog.read(s, root, "c_mktsegment")
        .filter(col("c_name") === topName).select("c_mktsegment")
      val read = graft.tools.PlanCheck.filesRead(probe)
      require(read * 2 <= totalFiles,
        s"q223: string skipping left $read of $totalFiles files in the scan")
      TxLog.read(s, root, "c_mktsegment")
        .filter(col("c_name") === topName)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          dsum(col("c_acctbal")).as("total_bal"))
        .withColumn("skipping_ok",
          lit(if (read * 2 <= totalFiles) 1L else 0L))
    },

    // ---- q224: KEYED MERGE through the transaction log (the Delta
    // MERGE WHEN MATCHED UPDATE * / WHEN NOT MATCHED INSERT * verb,
    // file-granular). Customers land in four contiguous custkey-range
    // batches; the source updates the TOP EIGHTH of the keyspace
    // (+1000 acctbal) and inserts brand-new keys past the max — so the
    // candidate search (per-partition key-bound overlap vs recorded
    // file stats) may rewrite at most HALF the live files (loud
    // require + gated merge_ok). The oracle replays the merge
    // relationally in DuckDB: unmatched base rows UNION ALL source.
    QueryDef.sql("q224_tx_merge",
      s"""WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
         |upd AS (SELECT c_custkey, c_name, c_nationkey,
         |               c_acctbal + 1000 AS c_acctbal, c_mktsegment
         |        FROM customer, mx
         |        WHERE c_custkey > CAST(FLOOR(m * 7 / 8.0) AS BIGINT)),
         |ins AS (SELECT c_custkey + m + 1 AS c_custkey, c_name,
         |               c_nationkey, c_acctbal, c_mktsegment
         |        FROM customer, mx WHERE c_custkey < 20),
         |src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
         |merged AS (SELECT * FROM customer
         |           WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
         |           UNION ALL SELECT * FROM src)
         |SELECT c_mktsegment, COUNT(*) AS n_cust,
         |  ${dsumSql("c_acctbal")} AS total_bal,
         |  CAST(1 AS BIGINT) AS merge_ok
         |FROM merged GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q224_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
      val maxKey = cust.agg(max("c_custkey")).head.getLong(0)
      var lo = -1L
      (1 to 4).foreach { i =>
        val hi = if (i < 4) maxKey * i / 4 else maxKey
        TxLog.appendBatchTx(
          cust.filter(col("c_custkey") > lo && col("c_custkey") <= hi),
          root, "c_mktsegment", s"q224-b$i")
        lo = hi
      }
      val before = TxLog.snapshot(s, root)
      val totalFiles = before.parts.values.map(_.size).sum
      val src = cust.filter(col("c_custkey") > maxKey * 7 / 8)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .unionByName(cust.filter(col("c_custkey") < 20)
          .withColumn("c_custkey", col("c_custkey") + maxKey + 1))
      TxLog.mergeKeyedTx(s, root, src, "c_custkey")
      val after = TxLog.snapshot(s, root).parts.values.flatten.toSet
      val rewritten = before.parts.values.flatten.count(f => !after(f))
      require(rewritten * 2 <= totalFiles,
        s"q224: merge rewrote $rewritten of $totalFiles files — the " +
          "candidate search did not skip non-overlapping files")
      TxLog.read(s, root, "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          dsum(col("c_acctbal")).as("total_bal"))
        .withColumn("merge_ok",
          lit(if (rewritten * 2 <= totalFiles) 1L else 0L))
    },

    // ---- q225: KEYED DELETE through the transaction log (DELETE WHERE
    // through the commit protocol). Orders land in four contiguous
    // orderkey-range batches; deleting the top eighth of the keyspace
    // must rewrite at most HALF the live files (data skipping FINDS the
    // affected files — everything else is untouched metadata), with the
    // survivors oracled from raw orders under the complement predicate.
    QueryDef.sql("q225_tx_delete_where",
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price,
         |  CAST(1 AS BIGINT) AS delete_ok
         |FROM orders
         |WHERE NOT (o_orderkey > (SELECT CAST(FLOOR(MAX(o_orderkey) * 7 / 8.0) AS BIGINT) FROM orders))
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q225_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val maxKey = orders.agg(max("o_orderkey")).head.getLong(0)
      var lo = Long.MinValue
      (1 to 4).foreach { i =>
        val hi = maxKey * i / 4
        TxLog.appendBatchTx(
          orders.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
          root, "o_orderpriority", s"q225-b$i")
        lo = hi
      }
      val totalFiles = TxLog.snapshot(s, root).parts.values.map(_.size).sum
      val (_, rewritten) = TxLog.deleteWhereTx(s, root,
        col("o_orderkey") > maxKey * 7 / 8)
      require(rewritten > 0 && rewritten * 2 <= totalFiles,
        s"q225: delete rewrote $rewritten of $totalFiles files — data " +
          "skipping did not bound the rewrite to the covering files")
      TxLog.read(s, root, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("delete_ok",
          lit(if (rewritten * 2 <= totalFiles) 1L else 0L))
    },

    // ---- q226: PARQUET-CHECKPOINTED READS — the 100-TB metadata path
    // (the Delta parquet-checkpoint design): the tx log's file-level
    // state folds into a parquet payload, the driver never materializes
    // the file list, and a range probe's partition pruning + per-file
    // stats skipping run INSIDE a Spark job over that payload
    // (TxBigFileIndex). Three pre-checkpoint batches cross the (forced)
    // payload threshold, a fourth lands post-checkpoint as delta; the
    // probe must read at most HALF the live files THROUGH the payload
    // scan, values oracled from raw events under the same threshold.
    QueryDef.sql("q226_tx_parquet_checkpoint",
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS total_value,
         |  CAST(1 AS BIGINT) AS payload_ok
         |FROM events
         |WHERE event_id > (SELECT CAST(FLOOR(MAX(event_id) / 2.0) AS BIGINT) FROM events)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.{TxBigFileIndex, TxLog}
      val root = scratch("q226_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val maxId = ev.agg(max("event_id")).head.getLong(0)
      var lo = Long.MinValue
      (1 to 3).foreach { i =>
        val hi = maxId * i / 4
        TxLog.appendBatchTx(
          ev.filter(col("event_id") > lo && col("event_id") <= hi),
          root, "event_type", s"q226-b$i")
        lo = hi
      }
      // force the parquet payload (production default is 4096 files),
      // restore the session conf whatever happens
      val key = "graft.txlog.chkParquetMin"
      val prior = s.conf.getOption(key)
      try {
        s.conf.set(key, "1")
        TxLog.checkpoint(s, root)
        TxLog.expireLog(s, root)
      } finally prior match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
      // the fourth batch is post-checkpoint DELTA
      TxLog.appendBatchTx(ev.filter(col("event_id") > lo),
        root, "event_type", "q226-b4")
      val thr = maxId / 2
      val probe = TxLog.read(s, root, "event_type")
        .filter(col("event_id") > thr).select("event_type")
      // the scan must ride the payload-backed index (a driver fold here
      // would defeat the design this gate exists to pin)
      val idx = probe.queryExecution.optimizedPlan.collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation
            .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location
      }.get.asInstanceOf[TxBigFileIndex]
      val totalFiles = idx.survivorParts(Seq.empty, Seq.empty)
        .valuesIterator.map(_.size).sum
      val read = graft.tools.PlanCheck.filesRead(probe)
      require(read * 2 <= totalFiles,
        s"q226: payload-side skipping left $read of $totalFiles files")
      TxLog.read(s, root, "event_type")
        .filter(col("event_id") > thr)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"))
        .withColumn("payload_ok",
          lit(if (read * 2 <= totalFiles) 1L else 0L))
    },

    // ---- q227: MULTI-KEY Z-ORDER COMPACTION — q219's 1-D clustering
    // makes ONE key skippable at the others' expense; bit-interleaved
    // z-ordering on (event_id, user_id) must make a range probe on the
    // SECOND key prune too (the gate 1-D clustering cannot pass: after
    // range-clustering on event_id alone, every file spans the full
    // user_id range). Events land in three interleaved batches (no
    // pre-compaction skipping possible on either key), compactZorderTx
    // rewrites, and an eighth-of-keyspace slice on user_id — the
    // oracled result — must read at most HALF the live files; the same
    // bound is required of event_id to prove z-order kept BOTH.
    QueryDef.sql("q227_tx_zorder",
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS total_value,
         |  CAST(1 AS BIGINT) AS zorder_ok
         |FROM events
         |WHERE user_id <= (SELECT CAST(FLOOR(MAX(user_id) / 8.0) AS BIGINT) FROM events)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q227_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      (0 until 3).foreach { i =>
        TxLog.appendBatchTx(ev.filter(pmod(col("event_id"), lit(3)) === i),
          root, "event_type", s"q227-b$i")
      }
      // 64 target files ≈ 13 z-contiguous files per event_type: ~3.7 bits
      // of z-resolution, so BOTH keys keep ≥2 effective prefix bits. The
      // r16 gate de-vacuuming (PlanCheck.filesRead) exposed that 24 files
      // (~6 per partition) left the FIRST key under one bit of resolution
      // — an eighth-slice read 17/28 files. File count is fixed, not
      // corpus-proportional, so the resolution holds at any scale.
      TxLog.compactZorderTx(s, root, "event_type",
        Seq("event_id", "user_id"), files = 64)
      val totalFiles = TxLog.snapshot(s, root).parts.values.map(_.size).sum
      require(totalFiles >= 12,
        s"q227: z-rewrite produced only $totalFiles files")
      def filesFor(cond: org.apache.spark.sql.Column): Long = {
        val probe = TxLog.read(s, root, "event_type").filter(cond)
          .select("event_type")
        graft.tools.PlanCheck.filesRead(probe)
      }
      val maxUser = ev.agg(max("user_id")).head.getLong(0)
      val maxId = ev.agg(max("event_id")).head.getLong(0)
      val readU = filesFor(col("user_id") <= maxUser / 8)
      val readE = filesFor(col("event_id") <= maxId / 8)
      require(readU * 2 <= totalFiles,
        s"q227: SECOND-key slice scanned $readU of $totalFiles z-files")
      require(readE * 2 <= totalFiles,
        s"q227: first-key slice scanned $readE of $totalFiles z-files")
      TxLog.read(s, root, "event_type")
        .filter(col("user_id") <= maxUser / 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"))
        .withColumn("zorder_ok",
          lit(if (readU * 2 <= totalFiles && readE * 2 <= totalFiles) 1L
              else 0L))
    },

    // ---- q228: ROW-LEVEL CHANGE FEED (the Delta CDF move): keyed
    // MERGE/DELETE write their row-level images at commit time
    // (changeFeed=true), and readChangeFeed serves the whole history —
    // appends as inserts, the merge as update_preimage/update_postimage/
    // insert, the delete as deletes — so incremental consumers follow
    // the table THROUGH rewrites readChangesSince must refuse. The
    // oracle derives every change class relationally from raw customers
    // (same update/insert/delete rules as the q224/q225 shapes), and the
    // feed must aggregate to it exactly, class by class.
    QueryDef.sql("q228_tx_change_feed",
      s"""WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
         |feed AS (
         |  SELECT 'insert' AS change_type, c_acctbal FROM customer
         |  UNION ALL SELECT 'insert', c_acctbal FROM customer, mx
         |    WHERE c_custkey < 20
         |  UNION ALL SELECT 'update_preimage', c_acctbal FROM customer, mx
         |    WHERE c_custkey > CAST(FLOOR(m * 7 / 8.0) AS BIGINT)
         |  UNION ALL SELECT 'update_postimage', c_acctbal + 1000
         |    FROM customer, mx
         |    WHERE c_custkey > CAST(FLOOR(m * 7 / 8.0) AS BIGINT)
         |  UNION ALL SELECT 'delete', c_acctbal FROM customer, mx
         |    WHERE c_custkey <= CAST(FLOOR(m / 8.0) AS BIGINT))
         |SELECT change_type, COUNT(*) AS n_rows,
         |  ${dsumSql("c_acctbal")} AS total_bal
         |FROM feed GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q228_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
      val maxKey = cust.agg(max("c_custkey")).head.getLong(0)
      var lo = -1L
      (1 to 4).foreach { i =>
        val hi = if (i < 4) maxKey * i / 4 else maxKey
        TxLog.appendBatchTx(
          cust.filter(col("c_custkey") > lo && col("c_custkey") <= hi),
          root, "c_mktsegment", s"q228-b$i")
        lo = hi
      }
      val src = cust.filter(col("c_custkey") > maxKey * 7 / 8)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .unionByName(cust.filter(col("c_custkey") < 20)
          .withColumn("c_custkey", col("c_custkey") + maxKey + 1))
      TxLog.mergeKeyedTx(s, root, src, "c_custkey", changeFeed = true)
      TxLog.deleteWhereTx(s, root, col("c_custkey") <= maxKey / 8,
        changeFeed = true)
      val (feed, _) = TxLog.readChangeFeed(s, root, 0L)
      feed.get
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("c_acctbal")).as("total_bal"))
    },

    // ---- q229: TX TABLE AS A STREAMING SOURCE (the Delta streaming-
    // source move): `readStream.format("txlog")` follows the commit log
    // — offsets ARE log versions, each micro-batch reads exactly one
    // append window, and a COLD restart from the checkpoint resumes at
    // the checkpointed version (proved in-gate: the stream drains, a
    // new batch commits, a NEW query instance drains just that window).
    // n_ids = n_events pins exactly-once across the restart seam; the
    // whole landing oracled against raw events.
    QueryDef.sql("q229_tx_streaming_source",
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  COUNT(DISTINCT event_id) AS n_ids,
         |  ${dsumSql("value")} AS total_value
         |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val base = scratch("q229_tx")
      val basePath = new org.apache.hadoop.fs.Path(base)
      basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(basePath, true)
      val root = s"$base/table"; val out = s"$base/out"
      val ckpt = s"$base/ckpt"
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      def slice(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
      def drain(): Unit = {
        val q = s.readStream.format("txlog").load(root)
          .writeStream.option("checkpointLocation", ckpt)
          .format("parquet").option("path", out).start()
        try q.processAllAvailable() finally q.stop()
      }
      TxLog.appendBatchTx(slice(0), root, "event_type", "q229-b0")
      TxLog.appendBatchTx(slice(1), root, "event_type", "q229-b1")
      drain()
      TxLog.appendBatchTx(slice(2), root, "event_type", "q229-b2")
      drain() // cold restart: must read ONLY the b2 window
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_ids"),
          dsum(col("value")).as("total_value"))
    },

    // ---- q231: COLUMN RENAME via COLUMN MAPPING (the Delta
    // column-mapping shape): RENAME COLUMN is a metadata-only commit —
    // data files keep their physical column names forever, old + new
    // files read under ONE scan, per-file stats skipping keeps pruning
    // on the RENAMED name (the filter pushes back through the mapping
    // projection into physical attributes), and time travel to a
    // pre-rename version reads under the OLD name. Zero files rewritten.
    // Customers land in four custkey-range batches (per-file key
    // stats), c_custkey renames to cust_id, a fifth batch writes
    // THROUGH the new name, and a top-eighth range probe on cust_id
    // must read at most half the files across the rename seam.
    QueryDef.sql("q231_tx_rename_column",
      s"""WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
         |extra AS (SELECT c_custkey + m + 1000 AS cust_id, c_name,
         |                 c_acctbal, c_mktsegment
         |          FROM customer, mx WHERE c_custkey < 20),
         |allr AS (SELECT c_custkey AS cust_id, c_name, c_acctbal,
         |                c_mktsegment FROM customer
         |         UNION ALL SELECT * FROM extra)
         |SELECT c_mktsegment, COUNT(*) AS n_cust,
         |  ${dsumSql("c_acctbal")} AS total_bal,
         |  MAX(cust_id) AS max_id,
         |  CAST(1 AS BIGINT) AS rename_ok
         |FROM allr GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q231_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val maxKey = cust.agg(max("c_custkey")).head.getLong(0)
      var lo = -1L
      (1 to 4).foreach { i =>
        val hi = if (i < 4) maxKey * i / 4 else maxKey
        TxLog.appendBatchTx(
          cust.filter(col("c_custkey") > lo && col("c_custkey") <= hi),
          root, "c_mktsegment", s"q231-b$i")
        lo = hi
      }
      val vPre = 4L
      // METADATA-ONLY rename: no file is rewritten
      val filesBefore = TxLog.snapshot(s, root).parts.values.flatten.toSet
      TxLog.renameColumnTx(s, root, "c_custkey", "cust_id")
      require(TxLog.snapshot(s, root).parts.values.flatten.toSet
        == filesBefore, "q231: rename must not touch a single data file")
      // a post-rename batch writes THROUGH the logical name (same
      // physical column underneath)
      TxLog.appendBatchTx(
        cust.filter(col("c_custkey") < 20)
          .withColumnRenamed("c_custkey", "cust_id")
          .withColumn("cust_id", col("cust_id") + maxKey + 1000),
        root, "c_mktsegment", "q231-b5")
      val totalFiles = TxLog.snapshot(s, root).parts.values.map(_.size).sum
      // stats skipping on the RENAMED name across old+new files: the
      // top-eighth in-range probe covers only the 4th batch's files
      val probe = TxLog.readTable(s, root)
        .filter(col("cust_id") > maxKey * 7 / 8 && col("cust_id") <= maxKey)
        .select("c_mktsegment")
      val read = graft.tools.PlanCheck.filesRead(probe)
      require(read * 2 <= totalFiles,
        s"q231: renamed-column skipping left $read of $totalFiles files")
      // time travel to PRE-RENAME: the old name, the old rows
      val tt = TxLog.readTableAt(s, root, vPre)
      require(tt.columns.contains("c_custkey") &&
        !tt.columns.contains("cust_id"),
        s"q231: pre-rename time travel must read under the OLD name, " +
          s"got ${tt.columns.mkString(",")}")
      TxLog.readTable(s, root)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          dsum(col("c_acctbal")).as("total_bal"),
          max(col("cust_id")).as("max_id"))
        .withColumn("rename_ok",
          lit(if (read * 2 <= totalFiles) 1L else 0L))
    },

    // ---- q232: CDF STREAMING SOURCE (the Delta readChangeFeed stream):
    // `readStream.format("txlog").option("readChangeFeed", true)` follows
    // the commit log surfacing ROW-LEVEL changes — appends as inserts,
    // MERGE as update_preimage/update_postimage/insert, DELETE as
    // deletes — so a streaming consumer follows the table THROUGH
    // rewrites the append-only stream (q229) must refuse. Offsets are
    // log versions; a COLD restart resumes at the checkpointed version
    // (proved in-gate: the stream drains the merge+delete history, a
    // fresh append lands, a NEW query instance drains just that window).
    // The streamed feed must equal the BATCH change feed class-by-class
    // (in-gate require) and aggregate to the relational oracle.
    QueryDef.sql("q232_tx_cdf_stream",
      s"""WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
         |feed AS (
         |  SELECT 'insert' AS change_type, c_acctbal FROM customer
         |  UNION ALL SELECT 'insert', c_acctbal FROM customer, mx
         |    WHERE c_custkey < 20
         |  UNION ALL SELECT 'update_preimage', c_acctbal FROM customer, mx
         |    WHERE c_custkey > CAST(FLOOR(m * 7 / 8.0) AS BIGINT)
         |  UNION ALL SELECT 'update_postimage', c_acctbal + 1000
         |    FROM customer, mx
         |    WHERE c_custkey > CAST(FLOOR(m * 7 / 8.0) AS BIGINT)
         |  UNION ALL SELECT 'delete', c_acctbal FROM customer, mx
         |    WHERE c_custkey <= CAST(FLOOR(m / 8.0) AS BIGINT)
         |  UNION ALL SELECT 'insert', c_acctbal FROM customer
         |    WHERE c_custkey % 10 = 0)
         |SELECT change_type, COUNT(*) AS n_rows,
         |  ${dsumSql("c_acctbal")} AS total_bal
         |FROM feed GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val base = scratch("q232_tx")
      val basePath = new org.apache.hadoop.fs.Path(base)
      basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(basePath, true)
      val root = s"$base/table"; val out = s"$base/out"
      val ckpt = s"$base/ckpt"
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
      val maxKey = cust.agg(max("c_custkey")).head.getLong(0)
      var lo = -1L
      (1 to 4).foreach { i =>
        val hi = if (i < 4) maxKey * i / 4 else maxKey
        TxLog.appendBatchTx(
          cust.filter(col("c_custkey") > lo && col("c_custkey") <= hi),
          root, "c_mktsegment", s"q232-b$i")
        lo = hi
      }
      val src = cust.filter(col("c_custkey") > maxKey * 7 / 8)
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .unionByName(cust.filter(col("c_custkey") < 20)
          .withColumn("c_custkey", col("c_custkey") + maxKey + 1))
      TxLog.mergeKeyedTx(s, root, src, "c_custkey", changeFeed = true)
      TxLog.deleteWhereTx(s, root, col("c_custkey") <= maxKey / 8,
        changeFeed = true)
      def drain(): Unit = {
        val q = s.readStream.format("txlog")
          .option("readChangeFeed", "true").load(root)
          .writeStream.option("checkpointLocation", ckpt)
          .format("parquet").option("path", out).start()
        try q.processAllAvailable() finally q.stop()
      }
      drain() // the whole merge+delete history
      // a fresh append lands; a COLD query instance resumes at the
      // checkpointed version and drains just this window
      TxLog.appendBatchTx(
        cust.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_custkey", col("c_custkey") + 2 * maxKey + 1000),
        root, "c_mktsegment", "q232-b5")
      drain()
      val streamed = s.read.parquet(out)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("c_acctbal")).as("total_bal"))
      // the streamed feed must equal the BATCH change feed class-by-class
      val (batchFeed, _) = TxLog.readChangeFeed(s, root, 0L)
      val batchAgg = batchFeed.get
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("c_acctbal")).as("total_bal"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      val streamAgg = streamed.collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      require(streamAgg == batchAgg,
        s"q232: streamed feed $streamAgg != batch change feed $batchAgg")
      streamed
    },

    // ---- q233: CHANGE FEED OVER A COLUMN-MAPPED TABLE — the r15/r16
    // documented ceiling closed: change files (like data files) carry
    // PHYSICAL column names forever, so the feed re-maps EVERY historical
    // window through one end-of-window mapping projection — renamed
    // columns surface under their END name, batch and streaming alike.
    // Customers land in four batches, c_acctbal renames to `balance`,
    // a keyed MERGE and DELETE write change files THROUGH the mapping,
    // then c_name renames to `cust_name` AFTER the change windows — and
    // the whole feed (including the pre-rename appends and the
    // between-renames change files) must serve under the END names,
    // streamed equal to batch class-by-class, both equal to the
    // relational oracle.
    QueryDef.sql("q233_tx_cdf_mapped",
      s"""WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
         |feed AS (
         |  SELECT 'insert' AS change_type, c_acctbal AS balance
         |  FROM customer
         |  UNION ALL SELECT 'insert', c_acctbal FROM customer, mx
         |    WHERE c_custkey < 20
         |  UNION ALL SELECT 'update_preimage', c_acctbal FROM customer, mx
         |    WHERE c_custkey > CAST(FLOOR(m * 7 / 8.0) AS BIGINT)
         |  UNION ALL SELECT 'update_postimage', c_acctbal + 1000
         |    FROM customer, mx
         |    WHERE c_custkey > CAST(FLOOR(m * 7 / 8.0) AS BIGINT)
         |  UNION ALL SELECT 'delete', c_acctbal FROM customer, mx
         |    WHERE c_custkey <= CAST(FLOOR(m / 8.0) AS BIGINT)
         |  UNION ALL SELECT 'insert', c_acctbal FROM customer
         |    WHERE c_custkey % 10 = 0)
         |SELECT change_type, COUNT(*) AS n_rows,
         |  ${dsumSql("balance")} AS total_bal,
         |  CAST(1 AS BIGINT) AS remap_ok
         |FROM feed GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val base = scratch("q233_tx")
      val basePath = new org.apache.hadoop.fs.Path(base)
      basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(basePath, true)
      val root = s"$base/table"; val out = s"$base/out"
      val ckpt = s"$base/ckpt"
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
      val maxKey = cust.agg(max("c_custkey")).head.getLong(0)
      var lo = -1L
      (1 to 4).foreach { i =>
        val hi = if (i < 4) maxKey * i / 4 else maxKey
        TxLog.appendBatchTx(
          cust.filter(col("c_custkey") > lo && col("c_custkey") <= hi),
          root, "c_mktsegment", s"q233-b$i")
        lo = hi
      }
      // first rename BEFORE the change windows: the merge/delete change
      // files must write physically so they can re-map later
      TxLog.renameColumnTx(s, root, "c_acctbal", "balance")
      val renamed = cust.withColumnRenamed("c_acctbal", "balance")
      val src = renamed.filter(col("c_custkey") > maxKey * 7 / 8)
        .withColumn("balance", col("balance") + 1000)
        .unionByName(renamed.filter(col("c_custkey") < 20)
          .withColumn("c_custkey", col("c_custkey") + maxKey + 1))
      TxLog.mergeKeyedTx(s, root, src, "c_custkey", changeFeed = true)
      TxLog.deleteWhereTx(s, root, col("c_custkey") <= maxKey / 8,
        changeFeed = true)
      // second rename AFTER the change windows: every already-written
      // window must surface under this END name too
      TxLog.renameColumnTx(s, root, "c_name", "cust_name")
      def drain(): Unit = {
        val q = s.readStream.format("txlog")
          .option("readChangeFeed", "true").load(root)
          .writeStream.option("checkpointLocation", ckpt)
          .format("parquet").option("path", out).start()
        try q.processAllAvailable() finally q.stop()
      }
      drain() // the whole mapped merge+delete history
      TxLog.appendBatchTx(
        cust.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_custkey", col("c_custkey") + 2 * maxKey + 1000),
        root, "c_mktsegment", "q233-b5")
      drain() // cold restart: just the b5 window
      val streamedRaw = s.read.parquet(out)
      val gotCols = streamedRaw.columns.toSet
      require(gotCols("balance") && gotCols("cust_name") &&
        !gotCols("c_acctbal") && !gotCols("c_name"),
        s"q233: streamed feed columns ${gotCols.mkString(",")} are not " +
          "the END logical names")
      val streamed = streamedRaw
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("balance")).as("total_bal"))
      val (batchFeed, _) = TxLog.readChangeFeed(s, root, 0L)
      val batchCols = batchFeed.get.columns.toSet
      require(batchCols("balance") && batchCols("cust_name") &&
        !batchCols("c_acctbal") && !batchCols("c_name"),
        s"q233: batch feed columns ${batchCols.mkString(",")} are not " +
          "the END logical names")
      val batchAgg = batchFeed.get
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("balance")).as("total_bal"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      val streamAgg = streamed.collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      require(streamAgg == batchAgg,
        s"q233: streamed feed $streamAgg != batch change feed $batchAgg")
      streamed.withColumn("remap_ok", lit(1L))
    },

    // ---- q234: TRANSACTIONAL RESTORE (the Delta `RESTORE TABLE ... TO
    // VERSION AS OF` move): roll the table FORWARD to a commit whose
    // content equals an earlier version — old immutable files are
    // RE-REFERENCED (zero data copied), rewrites since the target are
    // undone, and history is preserved (the in-between versions still
    // time-travel). Orders land in two batches (v1, v2), a keyed MERGE
    // (+1000 on the top eighth, v3) and keyed DELETE (bottom eighth, v4)
    // mutate the table, RESTORE to v2 (v5) undoes both, then a fresh
    // batch appends (v6). The final table must equal batches 1+2+3
    // relationally — the merge and delete fully rolled back — with loud
    // in-gate requires that the restore re-referenced the v2 file set
    // exactly and that v4 (the deleted state) still time-travels.
    QueryDef.sql("q234_tx_restore",
      s"""WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
         |base AS (SELECT o_orderkey, YEAR(o_orderdate) AS o_year,
         |                o_totalprice FROM orders),
         |extra AS (SELECT o_orderkey + m + 1000 AS o_orderkey, o_year,
         |                 o_totalprice FROM base, mx
         |          WHERE o_orderkey % 5 = 0),
         |allr AS (SELECT * FROM base UNION ALL SELECT * FROM extra)
         |SELECT o_year, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price,
         |  CAST(1 AS BIGINT) AS restore_ok
         |FROM allr GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q234_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
        col("o_totalprice"))
      val maxKey = orders.agg(max("o_orderkey")).head.getLong(0)
      TxLog.appendBatchTx(orders.filter(col("o_orderkey") <= maxKey / 2),
        root, "o_year", "q234-b1")
      TxLog.appendBatchTx(orders.filter(col("o_orderkey") > maxKey / 2),
        root, "o_year", "q234-b2")
      val vClean = 2L
      val cleanFiles = TxLog.snapshot(s, root).parts
        .map { case (v, fs) => v -> fs.toSet }
      val cleanCount = TxLog.readTable(s, root).count()
      // mutate: MERGE bumps the top eighth, DELETE drops the bottom eighth
      TxLog.mergeKeyedTx(s, root,
        orders.filter(col("o_orderkey") > maxKey * 7 / 8)
          .withColumn("o_totalprice", col("o_totalprice") + 1000),
        "o_orderkey")
      val (vDeleted, _) = TxLog.deleteWhereTx(s, root,
        col("o_orderkey") <= maxKey / 8)
      require(TxLog.readTable(s, root).count() < cleanCount,
        "q234: the delete must visibly shrink the table before restore")
      // RESTORE to the pre-mutation state: zero data copied, the v2 file
      // set re-referenced exactly
      TxLog.restoreTx(s, root, vClean)
      val restored = TxLog.snapshot(s, root)
      require(restored.parts.map { case (v, fs) => v -> fs.toSet }
          == cleanFiles,
        "q234: restore must re-reference exactly the v2 file set")
      // history is preserved: the deleted state still time-travels
      require(TxLog.readTableAt(s, root, vDeleted).count() < cleanCount,
        "q234: the pre-restore (deleted) version must still time-travel")
      // the table keeps working: a fresh batch appends after the restore
      TxLog.appendBatchTx(
        orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + maxKey + 1000),
        root, "o_year", "q234-b3")
      // metadata-only COUNT survives the restore (stats re-recorded)
      val metaCount = TxLog.countRows(s, root)
      val table = TxLog.readTable(s, root)
      require(metaCount.contains(table.count()),
        s"q234: metadata-only count $metaCount diverged after restore")
      table.groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("restore_ok", lit(1L))
    },

    // ---- q235: DELETION VECTORS — merge-on-read DELETE (the
    // Delta/Iceberg position-delete shape): a "dv" commit records per
    // affected data file its cumulative deleted positions in KB-sized
    // sidecar files — ZERO data files move (loud in-gate require), reads
    // anti-join on (rel file, _metadata.row_index), metadata-only COUNT
    // subtracts the recorded counts exactly, the change feed serves the
    // deletes, and the next rewrite (here a full compaction) MATERIALIZES
    // the vectors away. Orders land in four key-range batches; two DV
    // deletes (bottom eighth; key%7==3 in the bottom half — overlapping
    // files, cumulative union), a keyed MERGE (+1000 on the top eighth —
    // dv-disjoint files), then compaction. The oracle replays the
    // deletes and the merge relationally.
    QueryDef.sql("q235_tx_deletion_vectors",
      s"""WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
         |base AS (SELECT o_orderkey, YEAR(o_orderdate) AS o_year,
         |                o_totalprice FROM orders),
         |merged AS (SELECT o_orderkey, o_year,
         |  CASE WHEN o_orderkey > CAST(FLOOR(m * 7 / 8.0) AS BIGINT)
         |       THEN o_totalprice + 1000 ELSE o_totalprice END
         |    AS o_totalprice FROM base, mx),
         |kept AS (SELECT merged.* FROM merged, mx
         |  WHERE NOT (o_orderkey <= CAST(FLOOR(m / 8.0) AS BIGINT)
         |    OR (o_orderkey % 7 = 3
         |        AND o_orderkey <= CAST(FLOOR(m / 2.0) AS BIGINT))))
         |SELECT o_year, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price,
         |  CAST(1 AS BIGINT) AS dv_ok
         |FROM kept GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q235_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
        col("o_totalprice"))
      val maxKey = orders.agg(max("o_orderkey")).head.getLong(0)
      var lo = -1L
      (1 to 4).foreach { i =>
        val hi = if (i < 4) maxKey * i / 4 else maxKey
        TxLog.appendBatchTx(
          orders.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
          root, "o_year", s"q235-b$i")
        lo = hi
      }
      val vLoaded = TxLog.snapshot(s, root).version
      val filesBefore = TxLog.snapshot(s, root).parts
        .map { case (v, fs) => v -> fs.toSet }
      // DV delete #1: the bottom eighth — ZERO data files move
      val (vDv1, n1) = TxLog.deleteWhereDvTx(s, root,
        col("o_orderkey") <= maxKey / 8, changeFeed = true)
      require(n1 > 0, "q235: the first dv delete must hit rows")
      require(TxLog.snapshot(s, root).parts
          .map { case (v, fs) => v -> fs.toSet } == filesBefore,
        "q235: a deletion-vector delete must move ZERO data files")
      // DV delete #2 overlaps the same files: cumulative union
      val (_, n2) = TxLog.deleteWhereDvTx(s, root,
        col("o_orderkey") % 7 === 3 &&
          col("o_orderkey") <= maxKey / 2, changeFeed = true)
      require(n2 > 0, "q235: the second dv delete must hit rows")
      // metadata-only COUNT subtracts the vectors exactly
      val metaCount = TxLog.countRows(s, root)
      require(metaCount.contains(TxLog.readTable(s, root).count()),
        s"q235: metadata-only count $metaCount diverged under dvs")
      // the change feed serves the dv window as delete rows
      val (dvFeed, _) = TxLog.readChangeFeed(s, root, vLoaded,
        untilVersion = Some(vDv1))
      val classes = dvFeed.get.groupBy("_change_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(classes == Map("delete" -> n1),
        s"q235: dv change-feed window served $classes, expected " +
          s"{delete -> $n1}")
      // a keyed MERGE on dv-disjoint files; the vectors survive it
      TxLog.mergeKeyedTx(s, root,
        orders.filter(col("o_orderkey") > maxKey * 7 / 8)
          .withColumn("o_totalprice", col("o_totalprice") + 1000),
        "o_orderkey")
      require(TxLog.snapshot(s, root).dvs.nonEmpty,
        "q235: the dv-disjoint merge must not touch the vectors")
      // compaction reads dv-filtered and MATERIALIZES the vectors away
      TxLog.compactPartitionsTx(s, root, "o_year")
      require(TxLog.snapshot(s, root).dvs.isEmpty,
        "q235: compaction must materialize every deletion vector")
      val metaAfter = TxLog.countRows(s, root)
      val table = TxLog.readTable(s, root)
      require(metaAfter.contains(table.count()),
        s"q235: metadata-only count $metaAfter diverged after compaction")
      table.groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("dv_ok", lit(1L))
    },

    // ---- q236: BIN-PACKING COMPACTION (the Delta OPTIMIZE move):
    // rewrite ONLY the small files — streaming/batch ingest accretes one
    // small file per partition per micro-batch, and table-wide rewrites
    // (compactPartitionsTx) pay O(table) to fix an O(small files)
    // problem. One bulk load makes a well-sized file per partition, five
    // trickle appends make five small ones; compactBinPackTx must merge
    // exactly the smalls (per partition: the untouched original + ONE
    // merged file — loud requires), and a second run must find nothing.
    QueryDef.sql("q236_tx_binpack",
      s"""WITH base AS (SELECT o_orderkey, YEAR(o_orderdate) AS o_year,
         |                     o_totalprice FROM orders),
         |allr AS (SELECT * FROM base
         |         UNION ALL SELECT * FROM base WHERE o_orderkey % 50 < 5)
         |SELECT o_year, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price,
         |  CAST(1 AS BIGINT) AS binpack_ok
         |FROM allr GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q236_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val hfs = rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(rootPath, true)
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
        col("o_totalprice"))
      // bulk load: one well-sized file per partition
      TxLog.appendBatchTx(orders, root, "o_year", "q236-bulk")
      val bigs = TxLog.snapshot(s, root).parts.values.flatten.toSet
      val bigMin = bigs.map(f => hfs.getFileStatus(
        new org.apache.hadoop.fs.Path(root, f)).getLen).min
      // five trickle appends: five small files per partition
      (0 until 5).foreach { i =>
        TxLog.appendBatchTx(orders.filter(col("o_orderkey") % 50 === i),
          root, "o_year", s"q236-t$i")
      }
      val before = TxLog.snapshot(s, root).parts
      require(before.values.forall(_.size == 6),
        "q236: expected 1 bulk + 5 trickle files per partition")
      // bin-pack everything under half the smallest bulk file
      val (_, packed) = TxLog.compactBinPackTx(s, root, "o_year",
        smallBytes = bigMin / 2)
      require(packed == before.values.map(_.size - 1).sum,
        s"q236: packed $packed files, expected every trickle file")
      val after = TxLog.snapshot(s, root).parts
      require(after.values.forall(_.size == 2),
        s"q236: expected (untouched bulk + merged) per partition, got " +
          after.values.map(_.size).toSeq.distinct.mkString(","))
      require(bigs.subsetOf(after.values.flatten.toSet),
        "q236: the well-sized bulk files must be UNTOUCHED")
      // idempotent: a second run finds nothing and commits nothing
      val vNow = TxLog.snapshot(s, root).version
      val (vAgain, again) = TxLog.compactBinPackTx(s, root, "o_year",
        smallBytes = bigMin / 2)
      require(vAgain == vNow && again == 0,
        "q236: a second bin-pack run must be a no-op")
      // metadata-only COUNT still exact after the rewrite
      val metaCount = TxLog.countRows(s, root)
      val table = TxLog.readTable(s, root)
      require(metaCount.contains(table.count()),
        s"q236: metadata-only count $metaCount diverged after bin-pack")
      table.groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("binpack_ok", lit(1L))
    },

    // ---- q237: COMMIT-LOG HISTORY (the Delta DESCRIBE HISTORY move):
    // every retained commit as one audit row — version, op, idempotence
    // identity, file tallies, commit mtime. A fixed six-op script
    // (append, append, keyed MERGE, dv DELETE, RENAME, DROP PARTITION)
    // must surface as exactly those op rows in version order, with batch
    // ids on the appends, dv sidecars on the dv row, and the mapping
    // flag on the meta row; the oracle pins the op tally literally.
    QueryDef.sql("q237_tx_history",
      """SELECT op, n FROM (VALUES
        |  ('append', CAST(2 AS BIGINT)), ('dv', CAST(1 AS BIGINT)),
        |  ('meta', CAST(1 AS BIGINT)), ('remove', CAST(1 AS BIGINT)),
        |  ('rewrite', CAST(1 AS BIGINT))) AS t(op, n)""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q237_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val maxKey = cust.agg(max("c_custkey")).head.getLong(0)
      TxLog.appendBatchTx(cust.filter(col("c_custkey") <= maxKey / 2),
        root, "c_mktsegment", "q237-b1")                            // v1
      TxLog.appendBatchTx(cust.filter(col("c_custkey") > maxKey / 2),
        root, "c_mktsegment", "q237-b2")                            // v2
      TxLog.mergeKeyedTx(s, root,
        cust.filter(col("c_custkey") > maxKey * 7 / 8)
          .withColumn("c_acctbal", col("c_acctbal") + 1000),
        "c_custkey")                                                // v3
      TxLog.deleteWhereDvTx(s, root, col("c_custkey") <= maxKey / 8) // v4
      TxLog.renameColumnTx(s, root, "c_acctbal", "balance")         // v5
      TxLog.removePartitionsTx(s, root, Seq("BUILDING"))            // v6
      val h = TxLog.history(s, root).collect().sortBy(_.getLong(0))
      require(h.map(_.getLong(0)).toSeq == (1L to 6L),
        s"q237: expected versions 1..6, got ${h.map(_.getLong(0)).toSeq}")
      require(h.map(r => r.getString(1)).toSeq ==
        Seq("append", "append", "rewrite", "dv", "meta", "remove"),
        s"q237: op order ${h.map(_.getString(1)).toSeq}")
      require(h.take(2).forall(r => r.getString(3) != null),
        "q237: appends must carry their batch ids")
      require(h(3).getLong(10) > 0L,
        "q237: the dv row must reference its sidecar files")
      require(h(4).getBoolean(11), "q237: the meta row must set a mapping")
      require(h.map(_.getLong(12)).toSeq.sorted ==
        h.map(_.getLong(12)).toSeq,
        "q237: commit timestamps must be non-decreasing")
      TxLog.history(s, root).groupBy("op").agg(count(lit(1)).as("n"))
    },

    // ---- q238: TRANSACTIONAL STREAMING SINK (the Delta streaming-sink
    // shape): `writeStream.format("txlog")` commits one transactional
    // append per micro-batch under the (checkpoint-derived writerId,
    // batchId) writer-seq ledger — exactly-once WITHOUT sink-side
    // bookkeeping, because idempotence is the table's commit protocol.
    // A tx-to-tx streaming pipeline: events land in table A in three
    // batches; a txlog→txlog stream drains A into B across a COLD
    // RESTART seam; B's commit history must be exactly the ledgered
    // appends (one per non-empty micro-batch, seq = batch id), and B's
    // contents must equal A's relationally.
    QueryDef.sql("q238_tx_stream_sink",
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  COUNT(DISTINCT event_id) AS n_ids,
         |  ${dsumSql("value")} AS total_value,
         |  CAST(1 AS BIGINT) AS sink_ok
         |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val base = scratch("q238_tx")
      val basePath = new org.apache.hadoop.fs.Path(base)
      basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(basePath, true)
      val a = s"$base/a"; val b = s"$base/b"; val ckpt = s"$base/ckpt"
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      def slice(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
      def drain(): Unit = {
        val q = s.readStream.format("txlog").load(a)
          .writeStream.format("txlog")
          .option("path", b).partitionBy("event_type")
          .option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      }
      TxLog.appendBatchTx(slice(0), a, "event_type", "q238-b0")
      TxLog.appendBatchTx(slice(1), a, "event_type", "q238-b1")
      drain()
      TxLog.appendBatchTx(slice(2), a, "event_type", "q238-b2")
      drain() // cold restart: the ledger resumes at the next batch id
      val h = TxLog.history(s, b).collect()
      require(h.forall(r => r.getString(1) == "append" &&
        r.getString(4) != null),
        s"q238: B's history must be all ledgered appends, got " +
          h.map(r => (r.getString(1), r.getString(4))).mkString(","))
      val seqs = h.map(_.getLong(5)).sorted.toSeq
      require(seqs == seqs.distinct && seqs.nonEmpty,
        s"q238: writer seqs must be distinct batch ids, got $seqs")
      // the sink table reads back equal to the source table
      TxLog.readTable(s, b)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_ids"),
          dsum(col("value")).as("total_value"))
        .withColumn("sink_ok", lit(1L))
    },

    // ---- q239: UPDATE-MODE STREAMING SINK — the streaming-AGGREGATION
    // sink: `.outputMode("update").option("mergeKey", ...)` turns each
    // trigger's changed groups into a ledgered keyed MERGE, so the tx
    // table always holds every group's LATEST totals (the Delta
    // foreachBatch-upsert pattern as a first-class sink). A stateful
    // count/sum over the commit-log stream runs across a COLD RESTART
    // (state recovered from the stream checkpoint, upserts deduped by
    // the writer-seq ledger); the final table must equal the batch
    // aggregate of ALL events.
    QueryDef.sql("q239_tx_update_sink",
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  ${dsumSql("value")} AS total_value,
         |  CAST(1 AS BIGINT) AS upsert_ok
         |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val base = scratch("q239_tx")
      val basePath = new org.apache.hadoop.fs.Path(base)
      basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(basePath, true)
      val a = s"$base/a"; val b = s"$base/b"; val ckpt = s"$base/ckpt"
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      def slice(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
      def drain(): Unit = {
        val q = s.readStream.format("txlog").load(a)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            dsum(col("value")).as("total_value"))
          .writeStream.format("txlog")
          .outputMode("update").option("mergeKey", "event_type")
          .option("path", b).partitionBy("event_type")
          .option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
      }
      TxLog.appendBatchTx(slice(0), a, "event_type", "q239-b0")
      TxLog.appendBatchTx(slice(1), a, "event_type", "q239-b1")
      drain()
      TxLog.appendBatchTx(slice(2), a, "event_type", "q239-b2")
      drain() // cold restart: state recovers, changed groups re-upsert
      // the sink history: one seeding append, then ledgered rewrites
      val h = TxLog.history(s, b).collect().sortBy(_.getLong(0))
      require(h.head.getString(1) == "append" &&
        h.tail.forall(_.getString(1) == "rewrite"),
        s"q239: expected seed-append then merges, got " +
          h.map(_.getString(1)).mkString(","))
      require(h.forall(_.getString(4) != null),
        "q239: every sink commit must carry the writer-seq ledger id")
      TxLog.readTable(s, b)
        .select("event_type", "n_events", "total_value")
        .withColumn("upsert_ok", lit(1L))
    },

    // ---- q240: TIME TRAVEL BY TIMESTAMP (the Delta `TIMESTAMP AS OF`
    // read): resolve the latest version whose commit file landed at or
    // before the given wall-clock instant (commit mtime — the storage
    // system's clock) and read the table as of it. Two batches land;
    // reading AS OF the first commit's mtime must see exactly the first
    // batch, while "now" resolves the full table.
    QueryDef.sql("q240_tx_time_travel_ts",
      s"""WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders)
         |SELECT YEAR(o_orderdate) AS o_year, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price,
         |  CAST(1 AS BIGINT) AS ts_ok
         |FROM orders, mx
         |WHERE o_orderkey <= CAST(FLOOR(m / 2.0) AS BIGINT)
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q240_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
        col("o_totalprice"))
      val maxKey = orders.agg(max("o_orderkey")).head.getLong(0)
      TxLog.appendBatchTx(orders.filter(col("o_orderkey") <= maxKey / 2),
        root, "o_year", "q240-b1")
      val t1 = TxLog.history(s, root).collect().head.getLong(12)
      // commit mtimes are millisecond-granular: keep the two commits'
      // clocks strictly apart so the AS-OF boundary is unambiguous
      Thread.sleep(50)
      TxLog.appendBatchTx(orders.filter(col("o_orderkey") > maxKey / 2),
        root, "o_year", "q240-b2")
      require(TxLog.versionAsOf(s, root, t1) == 1L,
        s"q240: ts $t1 must resolve version 1")
      require(TxLog.versionAsOf(s, root,
          System.currentTimeMillis() + 60000) == 2L,
        "q240: a future timestamp must resolve the latest version")
      TxLog.readTableAsOf(s, root, t1)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("ts_ok", lit(1L))
    },

    // ---- q241: CHECK CONSTRAINTS (the Delta `ALTER TABLE ADD
    // CONSTRAINT ... CHECK` move): a metadata-only commit records a
    // named SQL predicate; every staged write validates BEFORE its
    // files can commit (a violating batch refuses with zero metadata
    // changes and zero orphan files), existing-data violations refuse
    // the ADD itself, and DROP re-opens the gate. The oracle replays
    // the surviving writes relationally.
    QueryDef.sql("q241_tx_check_constraints",
      s"""WITH allr AS (
         |  SELECT c_mktsegment, c_acctbal FROM customer
         |  UNION ALL SELECT c_mktsegment, c_acctbal FROM customer
         |  UNION ALL SELECT c_mktsegment, CAST(-5000.0 AS DOUBLE)
         |    FROM customer WHERE c_custkey < 100)
         |SELECT c_mktsegment, COUNT(*) AS n_rows,
         |  ${dsumSql("c_acctbal")} AS total_bal,
         |  CAST(1 AS BIGINT) AS check_ok
         |FROM allr GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q241_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val maxKey = cust.agg(max("c_custkey")).head.getLong(0)
      TxLog.appendBatchTx(cust, root, "c_mktsegment", "q241-b1")
      // TPC-H account balances are >= -999.99: the constraint holds
      TxLog.addCheckConstraintTx(s, root, "bal_floor",
        "c_acctbal >= -1000")
      // a conforming batch lands
      TxLog.appendBatchTx(
        cust.withColumn("c_custkey", col("c_custkey") + maxKey + 1000),
        root, "c_mktsegment", "q241-b2")
      // a violating batch refuses loudly, committing nothing
      val bad = cust.filter(col("c_custkey") < 100)
        .withColumn("c_custkey", col("c_custkey") + 2 * maxKey + 2000)
        .withColumn("c_acctbal", lit(-5000.0))
      val vBefore = TxLog.snapshot(s, root).version
      val err = try { TxLog.appendBatchTx(bad, root, "c_mktsegment",
        "q241-bad"); "" } catch { case e: Exception => e.getMessage }
      require(err.contains("bal_floor"),
        s"q241: the violating batch must refuse naming the constraint, " +
          s"got [$err]")
      require(TxLog.snapshot(s, root).version == vBefore,
        "q241: a refused batch must commit NOTHING")
      // an ADD the existing data violates refuses
      val err2 = try { TxLog.addCheckConstraintTx(s, root, "impossible",
        "c_acctbal > 100000"); "" } catch { case e: Exception => e.getMessage }
      require(err2.contains("existing rows"),
        s"q241: adding a violated constraint must refuse, got [$err2]")
      require(TxLog.tableConstraints(s, root)
        == Map("bal_floor" -> "c_acctbal >= -1000"),
        "q241: constraint inventory drifted")
      // DROP re-opens the gate: the same batch now lands
      TxLog.dropCheckConstraintTx(s, root, "bal_floor")
      TxLog.appendBatchTx(bad, root, "c_mktsegment", "q241-b3")
      TxLog.readTable(s, root)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("c_acctbal")).as("total_bal"))
        .withColumn("check_ok", lit(1L))
    },

    // ---- q242: DELETION VECTORS ON A PARQUET-CHECKPOINTED TABLE — the
    // 100-TB merge-on-read path: dv state rides the checkpoint payload's
    // dvfiles/dvrows columns (post-checkpoint vectors as bounded driver
    // overrides), so a point delete on a payload table moves ZERO data
    // files and metadata COUNTs stay exact through checkpoint folds.
    // Orders cross to a parquet payload, a dv delete lands as an
    // override (history row: zero files added/removed), the next
    // checkpoint FOLDS it into the payload, a second delete accumulates
    // over the payload-recorded vector, and a keyed MERGE on dv-disjoint
    // files leaves the vectors intact. Oracle replays relationally.
    QueryDef.sql("q242_tx_dv_parquet_checkpoint",
      s"""WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
         |base AS (SELECT o_orderkey, YEAR(o_orderdate) AS o_year,
         |                o_totalprice FROM orders),
         |merged AS (SELECT o_orderkey, o_year,
         |  CASE WHEN o_orderkey > CAST(FLOOR(m * 7 / 8.0) AS BIGINT)
         |       THEN o_totalprice + 1000 ELSE o_totalprice END
         |    AS o_totalprice FROM base, mx),
         |kept AS (SELECT merged.* FROM merged, mx
         |  WHERE NOT (o_orderkey <= CAST(FLOOR(m / 8.0) AS BIGINT)
         |    OR (o_orderkey % 7 = 3
         |        AND o_orderkey <= CAST(FLOOR(m / 2.0) AS BIGINT))))
         |SELECT o_year, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price,
         |  CAST(1 AS BIGINT) AS bigdv_ok
         |FROM kept GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q242_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
        col("o_totalprice"))
      val maxKey = orders.agg(max("o_orderkey")).head.getLong(0)
      var lo = -1L
      (1 to 4).foreach { i =>
        val hi = if (i < 4) maxKey * i / 4 else maxKey
        TxLog.appendBatchTx(
          orders.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
          root, "o_year", s"q242-b$i")
        lo = hi
      }
      val key = "graft.txlog.chkParquetMin"
      val prior = s.conf.getOption(key)
      try {
        s.conf.set(key, "1")
        // cross to the parquet payload
        TxLog.checkpoint(s, root)
        TxLog.expireLog(s, root)
        // dv delete #1 — a post-checkpoint override; ZERO files move
        val (_, n1) = TxLog.deleteWhereDvTx(s, root,
          col("o_orderkey") <= maxKey / 8)
        require(n1 > 0, "q242: the first dv delete must hit rows")
        val dvRow = TxLog.history(s, root).collect()
          .filter(_.getString(1) == "dv").maxBy(_.getLong(0))
        require(dvRow.getLong(7) == 0L && dvRow.getLong(8) == 0L,
          "q242: a dv delete must add and remove ZERO data files")
        val metaCount1 = TxLog.countRows(s, root)
        require(metaCount1.contains(TxLog.readTable(s, root).count()),
          s"q242: metadata count $metaCount1 diverged under the override")
        // the next checkpoint FOLDS the vector into the payload columns
        TxLog.checkpoint(s, root)
        TxLog.expireLog(s, root)
        require(TxLog.countRows(s, root) == metaCount1,
          "q242: the checkpoint fold must preserve the dv-adjusted count")
        // dv delete #2 accumulates over the payload-recorded vector
        val (_, n2) = TxLog.deleteWhereDvTx(s, root,
          col("o_orderkey") % 7 === 3 &&
            col("o_orderkey") <= maxKey / 2)
        require(n2 > 0, "q242: the second dv delete must hit rows")
        require(TxLog.countRows(s, root)
            .contains(TxLog.readTable(s, root).count()),
          "q242: cumulative payload+override counts diverged")
        // a keyed MERGE on dv-disjoint files leaves the vectors intact
        TxLog.mergeKeyedTx(s, root,
          orders.filter(col("o_orderkey") > maxKey * 7 / 8)
            .withColumn("o_totalprice", col("o_totalprice") + 1000),
          "o_orderkey")
        TxLog.readTable(s, root)
          .groupBy("o_year")
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total_price"))
          .withColumn("bigdv_ok", lit(1L))
      } finally prior match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    },

    // ---- q243: CONDITIONAL MERGE — the full Delta `MERGE INTO ... WHEN
    // MATCHED [AND cond] THEN UPDATE/DELETE WHEN NOT MATCHED THEN
    // INSERT` statement as one transactional, file-granular operation:
    // matched rows take the FIRST passing clause, everything else passes
    // through, candidates come from key-range stats overlap. Customers
    // merge a source of top-quarter keys (delete the negative-balance
    // ones, double the rest by adding the source copy) plus brand-new
    // keys; the oracle replays the clauses relationally.
    QueryDef.sql("q243_tx_merge_clauses",
      s"""WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
         |kept AS (
         |  SELECT c_mktsegment,
         |    CASE WHEN c_custkey > CAST(FLOOR(m * 3 / 4.0) AS BIGINT)
         |         THEN c_acctbal * 2 ELSE c_acctbal END AS bal
         |  FROM customer, mx
         |  WHERE NOT (c_custkey > CAST(FLOOR(m * 3 / 4.0) AS BIGINT)
         |             AND c_acctbal < 0)),
         |ins AS (SELECT c_mktsegment, c_acctbal AS bal
         |        FROM customer, mx WHERE c_custkey < 50),
         |allr AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
         |SELECT c_mktsegment, COUNT(*) AS n_rows,
         |  ${dsumSql("bal")} AS total_bal,
         |  CAST(1 AS BIGINT) AS merge_ok
         |FROM allr GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q243_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val maxKey = cust.agg(max("c_custkey")).head.getLong(0)
      // four key-range batches: the merge's candidate search must bound
      // the rewrite to the files its key range overlaps
      var lo = -1L
      (1 to 4).foreach { i =>
        val hi = if (i < 4) maxKey * i / 4 else maxKey
        TxLog.appendBatchTx(
          cust.filter(col("c_custkey") > lo && col("c_custkey") <= hi),
          root, "c_mktsegment", s"q243-b$i")
        lo = hi
      }
      val totalFiles = TxLog.snapshot(s, root).parts.values.map(_.size).sum
      val src = cust.filter(col("c_custkey") > maxKey * 3 / 4)
        .unionByName(cust.filter(col("c_custkey") < 50)
          .withColumn("c_custkey", col("c_custkey") + maxKey + 1000))
      TxLog.mergeClausesTx(s, root, src, "c_custkey",
        whenMatched = Seq(
          TxLog.MergeClause.delete(Some(expr("s.c_acctbal < 0"))),
          TxLog.MergeClause.update(
            Map("c_acctbal" -> expr("t.c_acctbal + s.c_acctbal")))),
        whenNotMatched = Seq(TxLog.MergeClause.insertAll()))
      // the rewrite touched only the key-range-overlapping files
      val h = TxLog.history(s, root).collect().maxBy(_.getLong(0))
      require(h.getString(1) == "rewrite" &&
        h.getLong(8) * 2 <= totalFiles,
        s"q243: the merge rewrote ${h.getLong(8)} of $totalFiles files — " +
          "the candidate search did not bound the rewrite")
      TxLog.readTable(s, root)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("c_acctbal")).as("total_bal"))
        .withColumn("merge_ok", lit(1L))
    },

    // ---- q244: TRANSACTIONAL UPDATE — `UPDATE t SET ... WHERE cond`
    // file-granular (the DML triad's last verb beside DELETE/MERGE):
    // data skipping bounds the rewrite to the files that might hold
    // matching rows (loud ≤-half require on key-range batches), NULL
    // predicates leave rows unchanged, and the change feed records the
    // pre/post images. The oracle replays the SET relationally.
    QueryDef.sql("q244_tx_update_where",
      s"""WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders)
         |SELECT YEAR(o_orderdate) AS o_year, COUNT(*) AS n_orders,
         |  ${dsumSql("CASE WHEN o_orderkey <= CAST(FLOOR(m / 8.0) AS BIGINT) THEN o_totalprice * 2 ELSE o_totalprice END")}
         |    AS total_price,
         |  CAST(1 AS BIGINT) AS update_ok
         |FROM orders, mx GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q244_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
        col("o_totalprice"))
      val maxKey = orders.agg(max("o_orderkey")).head.getLong(0)
      var lo = -1L
      (1 to 4).foreach { i =>
        val hi = if (i < 4) maxKey * i / 4 else maxKey
        TxLog.appendBatchTx(
          orders.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
          root, "o_year", s"q244-b$i")
        lo = hi
      }
      val totalFiles = TxLog.snapshot(s, root).parts.values.map(_.size).sum
      val before = TxLog.countRows(s, root)
      val (_, rewritten) = TxLog.updateWhereTx(s, root,
        col("o_orderkey") <= maxKey / 8,
        // power-of-two scaling: exact in binary doubles, so the oracle's
        // decimal casts see bit-identical inputs (a *1.1 would land every
        // 2-decimal price on a .005 rounding boundary — the half-up vs
        // half-even seam between engines)
        Map("o_totalprice" -> col("o_totalprice") * 2),
        changeFeed = true)
      require(rewritten > 0 && rewritten * 2 <= totalFiles,
        s"q244: update rewrote $rewritten of $totalFiles files — " +
          "skipping did not bound the rewrite")
      // updates preserve row counts exactly
      require(TxLog.countRows(s, root) == before,
        "q244: an UPDATE must not change the metadata-only count")
      // the feed pairs pre and post images
      val (feed, _) = TxLog.readChangeFeed(s, root,
        TxLog.currentVersion(s, root) - 1)
      val classes = feed.get.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(classes.keySet == Set("update_preimage", "update_postimage")
          && classes.values.toSet.size == 1,
        s"q244: update feed classes $classes must pair pre/post equally")
      TxLog.readTable(s, root)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("update_ok", lit(1L))
    },

    // ---- q230: MULTI-COLUMN PARTITION SCHEMAS through the tx layer —
    // real warehouse tables partition by (date, region)-style composites
    // (the reference's own access paths are composite in spirit:
    // init_db.py:113-116 indexes several columns); one partition column
    // was the tx layer's last hard single-column assumption. Orders land
    // in a (o_year, o_orderpriority)-partitioned tx table in two
    // key-range batches; partition pruning must hold on the FIRST, the
    // SECOND, and BOTH columns (loud file-count requires), then keyed
    // MERGE (+1000 on the top eighth), keyed DELETE (bottom eighth),
    // the row-level change feed, and compaction all run on the composite
    // key. The oracle replays the merge and delete relationally.
    QueryDef.sql("q230_tx_multicol_partitions",
      s"""WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
         |base AS (SELECT o_orderkey, YEAR(o_orderdate) AS o_year,
         |                o_orderpriority, o_totalprice FROM orders),
         |src AS (SELECT o_orderkey, o_year, o_orderpriority,
         |               o_totalprice + 1000 AS o_totalprice
         |        FROM base, mx
         |        WHERE o_orderkey > CAST(FLOOR(m * 7 / 8.0) AS BIGINT)),
         |merged AS (SELECT * FROM base
         |           WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
         |           UNION ALL SELECT * FROM src),
         |kept AS (SELECT merged.* FROM merged, mx
         |         WHERE o_orderkey > CAST(FLOOR(m / 8.0) AS BIGINT))
         |SELECT o_year, o_orderpriority, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price,
         |  CAST(1 AS BIGINT) AS multicol_ok
         |FROM kept GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q230_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
        col("o_orderpriority"), col("o_totalprice"))
      val maxKey = orders.agg(max("o_orderkey")).head.getLong(0)
      var lo = -1L
      (1 to 2).foreach { i =>
        val hi = if (i < 2) maxKey / 2 else maxKey
        TxLog.appendBatchTx(
          orders.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi),
          root, Seq("o_year", "o_orderpriority"), s"q230-b$i")
        lo = hi
      }
      val totalFiles = TxLog.snapshot(s, root).parts.values.map(_.size).sum
      def filesFor(cond: org.apache.spark.sql.Column): Long = {
        val probe = TxLog.readTable(s, root).filter(cond)
          .select("o_orderkey")
        graft.tools.PlanCheck.filesRead(probe)
      }
      val maxYear = orders.agg(max("o_year")).head.getInt(0)
      val readY = filesFor(col("o_year") === maxYear)
      val readP = filesFor(col("o_orderpriority") === "1-URGENT")
      val readB = filesFor(col("o_year") === maxYear &&
        col("o_orderpriority") === "1-URGENT")
      require(readY * 2 <= totalFiles,
        s"q230: first-column pruning left $readY of $totalFiles files")
      require(readP * 2 <= totalFiles,
        s"q230: SECOND-column pruning left $readP of $totalFiles files")
      require(readB * 4 <= totalFiles,
        s"q230: both-column pruning left $readB of $totalFiles files")
      val src = orders.filter(col("o_orderkey") > maxKey * 7 / 8)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
      TxLog.mergeKeyedTx(s, root, src, "o_orderkey", changeFeed = true)
      val (_, rewritten) = TxLog.deleteWhereTx(s, root,
        col("o_orderkey") <= maxKey / 8, changeFeed = true)
      require(rewritten > 0 && rewritten * 2 <= totalFiles,
        s"q230: delete rewrote $rewritten of $totalFiles files — skipping " +
          "did not bound the rewrite on the composite table")
      val (feed, _) = TxLog.readChangeFeed(s, root, 0L)
      val classes = feed.get.select("_change_type").distinct()
        .collect().map(_.getString(0)).toSet
      require(Set("insert", "delete", "update_preimage",
        "update_postimage").subsetOf(classes),
        s"q230: change feed classes $classes incomplete on the composite table")
      // compaction on the composite key (the partCol arg is advisory —
      // the recorded 2-column schema drives the rewrite)
      TxLog.compactPartitionsTx(s, root, "o_year")
      TxLog.readTable(s, root)
        .groupBy("o_year", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("multicol_ok",
          lit(if (readY * 2 <= totalFiles && readP * 2 <= totalFiles &&
                  readB * 4 <= totalFiles) 1L else 0L))
    },

    // ---- q245: BATCH DSv2 READ PATH (the Delta `spark.read.format`
    // integration surface): `spark.read.format("txlog").load(root)` must
    // serve EXACTLY readTable semantics — the column-mapping projection,
    // the deletion-vector anti-join, and TxFileIndex partition pruning
    // all live INSIDE the substituted plan (a bare relation that skipped
    // any of them would silently serve dead rows or physical names).
    // Time travel rides the same options as the SQL surface
    // (versionAsOf), with the schema AS OF the pinned version. Pruning
    // is gated on REAL executed-plan metrics (PlanCheck.filesRead), not
    // an un-executed plan inspection.
    QueryDef.sql("q245_tx_batch_format_read",
      s"""WITH live AS (
         |  SELECT c_mktsegment, c_acctbal FROM customer
         |  WHERE c_custkey % 7 <> 0)
         |SELECT c_mktsegment, COUNT(*) AS n_rows,
         |  ${dsumSql("c_acctbal")} AS total_bal,
         |  (SELECT COUNT(*) FROM customer) AS v1_rows,
         |  CAST(1 AS BIGINT) AS pruning_ok
         |FROM live GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q245_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      TxLog.appendBatchTx(cust, root, "c_mktsegment", "q245-b1")   // v1
      TxLog.renameColumnTx(s, root, "c_acctbal", "balance")        // v2
      val (_, nDel) = TxLog.deleteWhereDvTx(s, root,
        col("c_custkey") % 7 === 0)                                // v3
      require(nDel > 0, "q245: the dv delete must hit rows")
      val bare = s.read.format("txlog").load(root)
      require(bare.columns.contains("balance") &&
        !bare.columns.contains("c_acctbal"),
        s"q245: bare read must serve the MAPPED schema, got " +
          bare.columns.mkString(", "))
      // the bare path and the Scala front door agree exactly
      require(bare.count() == TxLog.readTable(s, root).count(),
        "q245: bare format read diverges from readTable")
      // partition pruning reaches the TxFileIndex through the bare path
      val total = graft.tools.PlanCheck.dataFilesRead(bare)
      val seg = graft.tools.PlanCheck.dataFilesRead(
        s.read.format("txlog").load(root)
          .filter(col("c_mktsegment") === "BUILDING"))
      require(seg * 2 <= total,
        s"q245: segment filter read $seg of $total files — pruning dead")
      // time travel: v1 serves the PRE-rename schema and PRE-delete rows
      val v1 = s.read.format("txlog").option("versionAsOf", "1").load(root)
      require(v1.columns.contains("c_acctbal"),
        s"q245: versionAsOf=1 must serve the pre-rename schema, got " +
          v1.columns.mkString(", "))
      val v1rows = v1.count()
      bare.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), dsum(col("balance")).as("total_bal"))
        .withColumn("v1_rows", lit(v1rows))
        .withColumn("pruning_ok", lit(if (seg * 2 <= total) 1L else 0L))
    },

    // ---- q246: SQL DML FRONT-END (the Delta SQL statement surface via
    // SparkSessionExtensions' injectParser): MERGE INTO / UPDATE /
    // DELETE FROM / DESCRIBE HISTORY|DETAIL on txlog.`<root>` tables
    // parse to the SAME transactional front doors the Scala API uses —
    // one implementation, two surfaces. This gate re-exercises the
    // q243/q244/q225/q237 semantics entirely through spark.sql(...)
    // strings; the oracle replays the statement chain relationally.
    QueryDef.sql("q246_tx_sql_dml",
      s"""WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
         |merged AS (
         |  SELECT c_custkey, c_mktsegment,
         |    CASE WHEN c_custkey > CAST(FLOOR(m * 3 / 4.0) AS BIGINT)
         |         THEN c_acctbal * 2 ELSE c_acctbal END AS bal
         |  FROM customer, mx
         |  WHERE NOT (c_custkey > CAST(FLOOR(m * 3 / 4.0) AS BIGINT)
         |             AND c_acctbal < 0)
         |  UNION ALL
         |  SELECT c_custkey + m + 1000, c_mktsegment, c_acctbal
         |  FROM customer, mx WHERE c_custkey < 50),
         |updated AS (
         |  SELECT c_mktsegment,
         |    CASE WHEN c_custkey <= CAST(FLOOR(m / 8.0) AS BIGINT)
         |         THEN bal + 10 ELSE bal END AS bal
         |  FROM merged, mx),
         |live AS (SELECT * FROM updated WHERE bal >= 0)
         |SELECT c_mktsegment, COUNT(*) AS n_rows,
         |  ${dsumSql("bal")} AS total_bal,
         |  CAST(1 AS BIGINT) AS sql_ok
         |FROM live GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q246_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val maxKey = cust.agg(max("c_custkey")).head.getLong(0)
      TxLog.appendBatchTx(cust.filter(col("c_custkey") <= maxKey / 2),
        root, "c_mktsegment", "q246-b1")
      TxLog.appendBatchTx(cust.filter(col("c_custkey") > maxKey / 2),
        root, "c_mktsegment", "q246-b2")
      cust.filter(col("c_custkey") > maxKey * 3 / 4)
        .unionByName(cust.filter(col("c_custkey") < 50)
          .withColumn("c_custkey", col("c_custkey") + maxKey + 1000))
        .createOrReplaceTempView("q246_src")
      // the full conditional MERGE, as a statement
      s.sql(
        s"""MERGE INTO txlog.`$root` t USING q246_src s
           |ON t.c_custkey = s.c_custkey
           |WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
           |WHEN MATCHED THEN
           |  UPDATE SET c_acctbal = t.c_acctbal + s.c_acctbal
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // UPDATE and DELETE, as statements
      s.sql(s"UPDATE txlog.`$root` SET c_acctbal = c_acctbal + 10 " +
        s"WHERE c_custkey <= ${maxKey / 8}")
      s.sql(s"DELETE FROM txlog.`$root` WHERE c_acctbal < 0")
      // the admin reads, as statements
      val nCommits = s.sql(s"DESCRIBE HISTORY txlog.`$root`").count()
      require(nCommits == 5L,
        s"q246: expected 5 commits (2 appends + merge + update + " +
          s"delete), history shows $nCommits")
      require(s.sql(s"DESCRIBE DETAIL txlog.`$root`").count() == 1L,
        "q246: DESCRIBE DETAIL must report exactly one row")
      // the READ side of the SQL surface too: the gate's result frame
      // itself flows through SELECT ... FROM txlog.`root` (and VERSION
      // AS OF time travel answers the pre-DML row count)
      require(s.sql(s"SELECT COUNT(*) FROM txlog.`$root` VERSION AS OF 2")
          .head.getLong(0) == cust.count(),
        "q246: VERSION AS OF 2 must serve the pre-DML table")
      s.sql(
        s"""SELECT c_mktsegment, COUNT(*) AS n_rows,
           |  ${dsumSql("c_acctbal")} AS total_bal
           |FROM txlog.`$root` GROUP BY c_mktsegment""".stripMargin)
        .withColumn("sql_ok", lit(1L))
    },

    // ---- q247: PAYLOAD RESTORE + O(1) CHECKPOINT HEADER — the two
    // remaining O(table-shape) ceilings on the parquet-checkpoint path,
    // closed: (a) above `chkMaxHeaderValues` partitions the checkpoint
    // header OMITS the partition-value list (novals=1) and every
    // consumer derives values payload-side; (b) RESTORE on a
    // parquet-checkpointed table rewrites the target version's inventory
    // as ONE distributed job and commits a parts-free payload pointer —
    // the driver never holds the file list on either path. A delete
    // rewrite is then undone by restore; the oracle is the FULL input
    // (restore erased the delete's effect).
    QueryDef.sql("q247_tx_payload_restore",
      s"""SELECT YEAR(o_orderdate) AS o_year, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price,
         |  CAST(1 AS BIGINT) AS restore_ok
         |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q247_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
        col("o_totalprice"))
      val maxKey = orders.agg(max("o_orderkey")).head.getLong(0)
      TxLog.appendBatchTx(orders.filter(col("o_orderkey") <= maxKey / 2),
        root, "o_year", "q247-b1")                                   // v1
      // cross to the parquet payload with the header value list FORCED
      // off (cap 1 < the year count) — the O(1)-header path is what the
      // rest of the gate runs on
      val kMin = "graft.txlog.chkParquetMin"
      val kVal = "graft.txlog.chkMaxHeaderValues"
      val (pMin, pVal) = (s.conf.getOption(kMin), s.conf.getOption(kVal))
      try {
        s.conf.set(kMin, "1"); s.conf.set(kVal, "1")
        TxLog.checkpoint(s, root)
      } finally {
        pMin.fold(s.conf.unset(kMin))(v => s.conf.set(kMin, v))
        pVal.fold(s.conf.unset(kVal))(v => s.conf.set(kVal, v))
      }
      val chkTxt = {
        val dir2 = new org.apache.hadoop.fs.Path(root, "_txlog")
        val fs = dir2.getFileSystem(s.sparkContext.hadoopConfiguration)
        val n = fs.listStatus(dir2).map(_.getPath)
          .filter(_.getName.endsWith(".chk")).head
        val in = fs.open(n)
        try scala.io.Source.fromInputStream(in).mkString finally in.close()
      }
      require(chkTxt.contains("novals=1") &&
          !chkTxt.linesIterator.exists(_.startsWith("v\t")),
        "q247: the checkpoint header must omit the partition-value list")
      TxLog.appendBatchTx(orders.filter(col("o_orderkey") > maxKey / 2),
        root, "o_year", "q247-b2")                                   // v2
      val fullCount = TxLog.readTable(s, root).count()
      // a rewrite delete to undo
      val (_, rewritten) = TxLog.deleteWhereTx(s, root,
        col("o_orderkey") % 10 === 0)                                // v3
      require(rewritten > 0, "q247: the delete must rewrite files")
      require(TxLog.readTable(s, root).count() < fullCount,
        "q247: the delete must remove rows")
      // RESTORE on the payload representation: parts-free commit with a
      // payload pointer; the file list never driver-materializes
      val rv = TxLog.restoreTx(s, root, 2L)                          // v4
      require(rv == 4L, s"q247: restore committed at $rv, expected 4")
      require(TxLog.readTable(s, root).count() == fullCount,
        "q247: restore must reinstate the deleted rows")
      // payload-derived partition enumeration (header carries no values)
      require(TxLog.partitionValues(s, root).size >= 2,
        "q247: partitionValues must derive from the payload")
      // maintenance keeps working after the restore
      require(TxLog.checkpoint(s, root) == 4L, "q247: re-checkpoint")
      TxLog.readTable(s, root)
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_price"))
        .withColumn("restore_ok", lit(1L))
    },

    // ---- q248: CONVERT TO TXLOG — adopt an existing PLAIN
    // Hive-partitioned parquet dir as a transaction-log table IN PLACE
    // (the Delta CONVERT TO DELTA move): partition trees rename under a
    // staging dir (zero data copied), files enumerate through the same
    // descent fresh writes use, footer stats record for skipping and
    // metadata-only counts, and every front door (DML, time travel, the
    // SQL surface) works from version 1. The oracle replays the
    // post-conversion DELETE relationally.
    QueryDef.sql("q248_tx_convert",
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price,
         |  CAST(1 AS BIGINT) AS convert_ok
         |FROM orders WHERE o_orderkey % 5 <> 0 GROUP BY 1""".stripMargin) {
      (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q248_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val n = orders.count()
      // a PLAIN write — no transaction log yet
      orders.write.partitionBy("o_orderpriority").parquet(root)
      val v = s.sql(s"CONVERT TO TXLOG parquet.`$root` " +
        "PARTITIONED BY (o_orderpriority)").head.getLong(0)
      require(v == 1L, s"q248: conversion must commit version 1, got $v")
      // adopted stats answer metadata-only counts without a scan
      require(TxLog.countRows(s, root) == Some(n),
        "q248: adopted footer stats must answer the metadata-only count")
      // the converted table is a first-class DML target
      s.sql(s"DELETE FROM txlog.`$root` WHERE o_orderkey % 5 = 0")
      require(s.sql(s"SELECT COUNT(*) FROM txlog.`$root` VERSION AS OF 1")
          .head.getLong(0) == n,
        "q248: time travel must serve the pre-DELETE adopted state")
      s.sql(
        s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
           |  ${dsumSql("o_totalprice")} AS total_price
           |FROM txlog.`$root` GROUP BY o_orderpriority""".stripMargin)
        .withColumn("convert_ok", lit(1L))
    },

    // ---- q249: BATCH DATAFRAMEWRITER PATH (the write-side twin of
    // q245): `df.write.format("txlog").mode(...).save(root)` routes to
    // the transactional front doors — append = one transactional commit,
    // overwrite = the ATOMIC full-table replace (absent partitions drop
    // in the same commit; the reference's `to_sql(if_exists='replace')`,
    // customer_analytics_dag.py:145-151, from the same one-liner
    // ergonomics). Recorded partitioning wins, the column mapping and
    // CHECK constraints enforce through the bare writer, and
    // txnAppId/txnVersion rides the bounded writer-seq replay ledger —
    // a replayed write lands exactly once, a column-losing write
    // refuses loudly.
    QueryDef.sql("q249_tx_batch_write",
      s"""WITH base AS (
         |  SELECT c_custkey, c_name, c_acctbal AS balance, c_mktsegment
         |  FROM customer),
         |mx AS (SELECT MAX(c_custkey) AS m FROM customer),
         |doubled AS (
         |  SELECT * FROM base
         |  UNION ALL
         |  SELECT c_custkey + m, c_name, balance, c_mktsegment
         |  FROM base, mx),
         |live AS (SELECT * FROM doubled WHERE c_mktsegment <> 'BUILDING')
         |SELECT c_mktsegment, COUNT(*) AS n_rows,
         |  ${dsumSql("balance")} AS total_bal,
         |  CAST(1 AS BIGINT) AS write_ok
         |FROM live GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q249_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val n = cust.count()
      val maxKey = cust.agg(max("c_custkey")).head.getLong(0)
      // create through the bare writer (ledgered)
      cust.write.format("txlog").partitionBy("c_mktsegment")
        .option("txnAppId", "q249").option("txnVersion", "1")
        .mode("overwrite").save(root)                              // v1
      TxLog.renameColumnTx(s, root, "c_acctbal", "balance")        // v2
      TxLog.addCheckConstraintTx(s, root, "bal_known",
        "balance > -1000000")                                      // v3
      // append under the LOGICAL name through the bare writer
      val shifted = cust
        .withColumn("c_custkey", col("c_custkey") + maxKey)
        .withColumnRenamed("c_acctbal", "balance")
      def appendShifted(): Unit =
        shifted.write.format("txlog")
          .option("txnAppId", "q249").option("txnVersion", "2")
          .mode("append").save(root)                               // v4
      appendShifted()
      // the REPLAY of the same (appId, version) lands exactly once
      appendShifted()
      require(TxLog.readTable(s, root).count() == 2 * n,
        "q249: the replayed append must not double-land")
      require(TxLog.currentVersion(s, root) == 4L,
        s"q249: replay must not commit (at " +
          s"${TxLog.currentVersion(s, root)}, expected 4)")
      // a column-losing write refuses loudly — here the CHECK constraint
      // catches it first (its expression references the lost column, an
      // unresolvable filter at stage time); without a constraint the
      // additive schema guard refuses with "drops or retypes" (TxWriteSpec)
      val lost =
        try {
          cust.select("c_custkey", "c_mktsegment").write.format("txlog")
            .option("txnAppId", "q249").option("txnVersion", "3")
            .mode("append").save(root)
          false
        } catch { case _: Exception => true }
      require(lost && TxLog.currentVersion(s, root) == 4L,
        "q249: a column-losing write must refuse loudly and commit nothing")
      // a violating write refuses through the bare writer too
      val violated =
        try {
          shifted.withColumn("balance", lit(-2000000.0)).limit(1)
            .write.format("txlog").mode("append").save(root)
          false
        } catch { case e: Exception => e.getMessage.contains("bal_known") }
      require(violated, "q249: a CHECK-violating write must refuse loudly")
      // full overwrite: the BUILDING partition is absent from the new
      // data and must DROP in the same commit
      TxLog.readTable(s, root).filter(col("c_mktsegment") =!= "BUILDING")
        .write.format("txlog").mode("overwrite").save(root)        // v5
      require(!TxLog.partitionValues(s, root).contains("BUILDING"),
        "q249: overwrite must drop the absent partition atomically")
      // history intact: the pre-overwrite row count time-travels
      require(s.read.format("txlog").option("versionAsOf", "4").load(root)
          .count() == 2 * n,
        "q249: versionAsOf=4 must serve the pre-overwrite table")
      s.read.format("txlog").load(root)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"), dsum(col("balance")).as("total_bal"))
        .withColumn("write_ok", lit(1L))
    },

    // ---- q250: NAMED-TABLE CATALOG (the DeltaCatalog-shaped final
    // integration step): a TableCatalog plugin gives tables NAMES — the
    // q246 statement chain runs with a catalog name replacing every
    // txlog.`/path`, plus CTAS, SHOW TABLES, INSERT INTO/OVERWRITE by
    // name, name-addressed time travel and ALTER — and the path and name
    // surfaces are proven to hit the SAME table state (the metastore is
    // one pointer file per table; the log IS the table).
    QueryDef.sql("q250_tx_catalog",
      s"""WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
         |merged AS (
         |  SELECT c_custkey, c_mktsegment,
         |    CASE WHEN c_custkey > CAST(FLOOR(m * 3 / 4.0) AS BIGINT)
         |         THEN c_acctbal * 2 ELSE c_acctbal END AS bal
         |  FROM customer, mx
         |  WHERE NOT (c_custkey > CAST(FLOOR(m * 3 / 4.0) AS BIGINT)
         |             AND c_acctbal < 0)
         |  UNION ALL
         |  SELECT c_custkey + m + 1000, c_mktsegment, c_acctbal
         |  FROM customer, mx WHERE c_custkey < 50),
         |updated AS (
         |  SELECT c_mktsegment,
         |    CASE WHEN c_custkey <= CAST(FLOOR(m / 8.0) AS BIGINT)
         |         THEN bal + 10 ELSE bal END AS bal
         |  FROM merged, mx),
         |live AS (SELECT * FROM updated WHERE bal >= 0)
         |SELECT c_mktsegment, COUNT(*) AS n_rows,
         |  ${dsumSql("bal")} AS total_bal,
         |  CAST(1 AS BIGINT) AS catalog_ok
         |FROM live GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val meta = scratch("q250_meta")
      val loc = scratch("q250_tbl")
      Seq(meta, loc).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      s.conf.set("spark.sql.catalog.gq250", "graft.plans.TxCatalog")
      s.conf.set("spark.sql.catalog.gq250.root", meta)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gq250.sales")
      s.sql(s"CREATE TABLE gq250.sales.cust USING txlog LOCATION '$loc'")
      require(s.sql("SHOW TABLES IN gq250.sales").collect()
        .map(_.getString(1)).contains("cust"),
        "q250: SHOW TABLES must list the registered table")
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val maxKey = cust.agg(max("c_custkey")).head.getLong(0)
      // seed through the PATH surface, everything else through the NAME:
      // two addresses, one state
      TxLog.appendBatchTx(cust.filter(col("c_custkey") <= maxKey / 2),
        loc, "c_mktsegment", "q250-b1")                             // v1
      cust.filter(col("c_custkey") > maxKey / 2)
        .createOrReplaceTempView("q250_rest")
      s.sql("INSERT INTO gq250.sales.cust SELECT * FROM q250_rest") // v2
      require(s.sql("SELECT COUNT(*) FROM gq250.sales.cust")
        .head.getLong(0) == cust.count(),
        "q250: name-addressed INSERT INTO must extend the path-seeded table")
      cust.filter(col("c_custkey") > maxKey * 3 / 4)
        .unionByName(cust.filter(col("c_custkey") < 50)
          .withColumn("c_custkey", col("c_custkey") + maxKey + 1000))
        .createOrReplaceTempView("q250_src")
      // the q246 chain, name-addressed
      s.sql(
        """MERGE INTO gq250.sales.cust t USING q250_src s
          |ON t.c_custkey = s.c_custkey
          |WHEN MATCHED AND s.c_acctbal < 0 THEN DELETE
          |WHEN MATCHED THEN
          |  UPDATE SET c_acctbal = t.c_acctbal + s.c_acctbal
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)         // v3
      s.sql(s"UPDATE gq250.sales.cust SET c_acctbal = c_acctbal + 10 " +
        s"WHERE c_custkey <= ${maxKey / 8}")                        // v4
      s.sql("DELETE FROM gq250.sales.cust WHERE c_acctbal < 0")     // v5
      require(s.sql("DESCRIBE HISTORY gq250.sales.cust").count() == 5L,
        "q250: name-addressed DESCRIBE HISTORY must see all 5 commits")
      // time travel BY NAME serves the pre-DML state
      require(s.sql("SELECT COUNT(*) FROM gq250.sales.cust VERSION AS OF 2")
          .head.getLong(0) == cust.count(),
        "q250: name-addressed VERSION AS OF must serve the pre-DML table")
      // path/name equivalence on the final state
      require(s.sql("SELECT COUNT(*) FROM gq250.sales.cust").head.getLong(0)
          == TxLog.readTable(s, loc).count(),
        "q250: the name and path surfaces must serve the same state")
      // CTAS records schema + partitioning from the query
      s.sql("CREATE TABLE gq250.sales.by_seg USING txlog PARTITIONED BY " +
        "(c_mktsegment) AS SELECT c_mktsegment, c_acctbal FROM " +
        "gq250.sales.cust")
      require(s.sql("SELECT COUNT(*) FROM gq250.sales.by_seg")
          .head.getLong(0) ==
        s.sql("SELECT COUNT(*) FROM gq250.sales.cust").head.getLong(0),
        "q250: CTAS must materialize the query")
      s.sql(
        s"""SELECT c_mktsegment, COUNT(*) AS n_rows,
           |  ${dsumSql("c_acctbal")} AS total_bal
           |FROM gq250.sales.cust GROUP BY c_mktsegment""".stripMargin)
        .withColumn("catalog_ok", lit(1L))
    },

    // ---- q251: CDF SQL SURFACE — the `table_changes(...)` TVF (Delta's
    // audit spelling): the batch change feed, previously options-only
    // (readChangeFeed + startingVersion), is writable in pure SQL. The
    // oracle replays the window's four change classes relationally:
    // the MERGE's update pre/post images and inserts, the DELETE's
    // delete rows.
    QueryDef.sql("q251_tx_table_changes",
      s"""WITH base AS (
         |  SELECT o_orderkey AS k, YEAR(o_orderdate) AS o_year,
         |    o_totalprice AS p FROM orders),
         |mx AS (SELECT MAX(k) AS m FROM base),
         |upd AS (SELECT k, o_year, p FROM base, mx
         |        WHERE k > CAST(FLOOR(m * 3 / 4.0) AS BIGINT)),
         |ins AS (SELECT k + m + 1000 AS k, o_year, p FROM base, mx
         |        WHERE k < 50),
         |state AS (
         |  SELECT k, o_year,
         |    CASE WHEN k > CAST(FLOOR(m * 3 / 4.0) AS BIGINT)
         |         THEN p + 1000 ELSE p END AS p
         |  FROM base, mx
         |  UNION ALL SELECT k, o_year, p FROM ins),
         |changes AS (
         |  SELECT 'update_preimage' AS change_type, p FROM upd
         |  UNION ALL SELECT 'update_postimage', p + 1000 FROM upd
         |  UNION ALL SELECT 'insert', p FROM ins
         |  UNION ALL SELECT 'delete', p FROM state WHERE k % 10 = 3)
         |SELECT change_type, COUNT(*) AS n_rows, ${dsumSql("p")} AS total,
         |  CAST(1 AS BIGINT) AS tvf_ok
         |FROM changes GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val root = scratch("q251_tx")
      val rootPath = new org.apache.hadoop.fs.Path(root)
      rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(rootPath, true)
      val base = Tables.orders(s, dir).select(
        col("o_orderkey").as("k"), year(col("o_orderdate")).as("o_year"),
        col("o_totalprice").as("p"))
      val maxKey = base.agg(max("k")).head.getLong(0)
      TxLog.appendBatchTx(base.filter(col("k") <= maxKey / 2),
        root, "o_year", "q251-b1")                                  // v1
      TxLog.appendBatchTx(base.filter(col("k") > maxKey / 2),
        root, "o_year", "q251-b2")                                  // v2
      val src = base.filter(col("k") > maxKey * 3 / 4)
        .withColumn("p", col("p") + 1000.0)
        .unionByName(base.filter(col("k") < 50)
          .withColumn("k", col("k") + maxKey + 1000))
      TxLog.mergeKeyedTx(s, root, src, "k", changeFeed = true)      // v3
      TxLog.deleteWhereTx(s, root, col("k") % 10 === 3,
        changeFeed = true)                                          // v4
      // the TVF window (2, 4]: the merge's and delete's row-level feed
      val out = s.sql(
        s"""SELECT _change_type AS change_type, COUNT(*) AS n_rows,
           |  ${dsumSql("p")} AS total
           |FROM table_changes('txlog.`$root`', 2, 4)
           |GROUP BY _change_type""".stripMargin)
      // an empty window is an empty frame with the feed schema, not an
      // error; a bounded window equals the unbounded tail
      require(s.sql(s"SELECT * FROM table_changes('$root', 4)").isEmpty,
        "q251: the post-final window must be empty")
      require(s.sql(s"SELECT COUNT(*) FROM table_changes('$root', 2)")
          .head.getLong(0) ==
        s.sql(s"SELECT COUNT(*) FROM table_changes('$root', 2, 4)")
          .head.getLong(0),
        "q251: the bounded window must equal the unbounded tail")
      out.withColumn("tvf_ok", lit(1L))
    },

    // ---- q252: ALTER TABLE ADD COLUMN — a METADATA-ONLY additive
    // evolution (TxLog.addColumnTx): the column is DECLARED before any
    // data carries it (the reference's warehouse DDL declares columns
    // ahead of data, init_db.py:35-122); pre-add rows NULL-backfill on
    // read, time travel pre-add serves the old schema, the change feed
    // NULL-backfills across the add, renames compose, and both the PATH
    // and catalog-NAME SQL surfaces route to the same front door.
    QueryDef.sql("q252_tx_add_column",
      s"""WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
         |half1 AS (
         |  SELECT c_acctbal AS bal, CAST(NULL AS VARCHAR) AS level
         |  FROM customer, mx
         |  WHERE c_custkey <= CAST(FLOOR(m / 2.0) AS BIGINT)),
         |half2 AS (
         |  SELECT c_acctbal AS bal,
         |    CASE WHEN c_acctbal >= 5000 THEN 'gold' ELSE 'std' END AS level
         |  FROM customer, mx
         |  WHERE c_custkey > CAST(FLOOR(m / 2.0) AS BIGINT)),
         |allr AS (SELECT * FROM half1 UNION ALL SELECT * FROM half2)
         |SELECT level, COUNT(*) AS n_rows, ${dsumSql("bal")} AS total_bal,
         |  CAST(1 AS BIGINT) AS add_ok
         |FROM allr GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val meta = scratch("q252_meta")
      val root = scratch("q252_tbl")
      Seq(meta, root).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").as("k"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
      val maxKey = cust.agg(max("k")).head.getLong(0)
      TxLog.appendBatchTx(cust.filter(col("k") <= maxKey / 2),
        root, "seg", "q252-b1")                                     // v1
      // ADD COLUMN via the PATH SQL surface: metadata-only commit
      s.sql(s"ALTER TABLE txlog.`$root` ADD COLUMN tier STRING")    // v2
      val afterAdd = TxLog.readTable(s, root)
      require(afterAdd.columns.toSeq == Seq("k", "bal", "tier", "seg"),
        s"q252: post-add schema ${afterAdd.columns.mkString(",")}")
      require(afterAdd.filter(col("tier").isNotNull).isEmpty,
        "q252: pre-add rows must NULL-backfill the added column")
      // time travel PRE-add serves the old schema
      require(TxLog.readTableAt(s, root, 1L).columns.toSeq ==
        Seq("k", "bal", "seg"),
        "q252: time travel pre-add must serve the old schema")
      // post-add writers carry the declared column (the additive guard
      // keeps refusing writers that silently LOST a column)
      TxLog.appendBatchTx(
        cust.filter(col("k") > maxKey / 2).withColumn("tier",
          when(col("bal") >= 5000, "gold").otherwise("std"))
          .select("k", "bal", "tier", "seg"),
        root, "seg", "q252-b2")                                     // v3
      // rename COMPOSES with the add (metadata-only on metadata-only)
      s.sql(s"ALTER TABLE txlog.`$root` RENAME COLUMN tier TO level") // v4
      // the catalog NAME surface routes ADD COLUMNS to the same front
      // door — one statement, ONE commit, N columns
      s.conf.set("spark.sql.catalog.gq252", "graft.plans.TxCatalog")
      s.conf.set("spark.sql.catalog.gq252.root", meta)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gq252.ev")
      s.sql(s"CREATE TABLE gq252.ev.cust USING txlog LOCATION '$root'")
      s.sql("ALTER TABLE gq252.ev.cust ADD COLUMNS " +
        "(bonus DOUBLE, note STRING)")                              // v5
      val full = s.table("gq252.ev.cust")
      require(full.columns.toSeq ==
        Seq("k", "bal", "level", "bonus", "note", "seg"),
        s"q252: final schema ${full.columns.mkString(",")}")
      require(full.filter(col("bonus").isNotNull
          || col("note").isNotNull).isEmpty,
        "q252: freshly added columns must read NULL everywhere")
      // CDF ACROSS the add: both append windows replay as inserts under
      // the END schema, pre-add window NULL-backfilled
      val (feed, _) = TxLog.readChangeFeed(s, root, 0L)
      val classes = feed.get.select("_change_type").distinct()
        .collect().map(_.getString(0)).toSet
      require(classes == Set("insert"), s"q252: CDF classes $classes")
      require(feed.get.filter(col("_commit_version") === 1L)
          .filter(col("level").isNotNull).isEmpty,
        "q252: the pre-add CDF window must NULL-backfill the added column")
      full.groupBy("level")
        .agg(count(lit(1)).as("n_rows"), dsum(col("bal")).as("total_bal"))
        .withColumn("add_ok", lit(1L))
    },

    // ---- q253: recorded TABLE PROPERTIES — operational knobs that
    // travel with the table, not the job (the Delta TBLPROPERTIES
    // posture; the reference's warehouse centralizes its own policy in
    // init_db.py). SET merges / UNSET removes via BOTH SQL surfaces,
    // the recorded cadence drives commit()'s auto-checkpoint, the
    // property-driven maintainTx overload reads the table's own
    // compaction/retention policy, DESCRIBE DETAIL renders the set, and
    // RESTORE reinstates the target version's properties.
    QueryDef.sql("q253_tx_table_properties",
      s"""SELECT c_mktsegment AS seg, COUNT(*) AS n_rows,
         |  ${dsumSql("c_acctbal")} AS total_bal,
         |  CAST(1 AS BIGINT) AS props_ok
         |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val meta = scratch("q253_meta")
      val root = scratch("q253_tbl")
      Seq(meta, root).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").as("k"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
      val maxKey = cust.agg(max("k")).head.getLong(0)
      TxLog.appendBatchTx(cust.filter(col("k") <= maxKey / 2),
        root, "seg", "q253-b1")                                     // v1
      // SET via the PATH surface: ONE metadata commit, merge semantics
      s.sql(s"ALTER TABLE txlog.`$root` SET TBLPROPERTIES (" +
        "'team.owner' = 'data-eng', " +
        "'graft.binpack.smallBytes' = '1048576', " +
        "'graft.vacuum.retentionMs' = '0', " +
        "'graft.autoCheckpoint.every' = '5')")                      // v2
      TxLog.appendBatchTx(cust.filter(col("k") > maxKey / 2),
        root, "seg", "q253-b2")                                     // v3
      val base = Map(
        "team.owner" -> "data-eng",
        "graft.binpack.smallBytes" -> "1048576",
        "graft.vacuum.retentionMs" -> "0",
        "graft.autoCheckpoint.every" -> "5")
      require(TxLog.tableProperties(s, root) == base,
        s"q253: recorded set ${TxLog.tableProperties(s, root)}")
      // the NAME surface (Spark's own ALTER parsing → TxCatalog) merges
      // and removes against the SAME recorded state
      s.conf.set("spark.sql.catalog.gq253", "graft.plans.TxCatalog")
      s.conf.set("spark.sql.catalog.gq253.root", meta)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gq253.ops")
      s.sql(s"CREATE TABLE gq253.ops.cust USING txlog LOCATION '$root'")
      s.sql("ALTER TABLE gq253.ops.cust SET TBLPROPERTIES " +
        "('tier' = 'gold')")                                        // v4
      s.sql("ALTER TABLE gq253.ops.cust UNSET TBLPROPERTIES " +
        "('team.owner')")                                           // v5
      require(TxLog.tableProperties(s, root) ==
        base - "team.owner" + ("tier" -> "gold"),
        s"q253: post-DDL set ${TxLog.tableProperties(s, root)}")
      // v5 % (recorded every=5) == 0: the TABLE'S cadence property — not
      // the session default of 10 — must have folded a checkpoint
      val logDir = new java.io.File(s"$root/_txlog")
      require(logDir.list().exists(_.endsWith(".chk")),
        "q253: the recorded cadence property must drive auto-checkpoint")
      require(s.sql("SHOW TBLPROPERTIES gq253.ops.cust").collect()
          .map(_.getString(0)).contains("tier"),
        "q253: SHOW TBLPROPERTIES must render the recorded set")
      // RESTORE reinstates the TARGET version's property set (v3 = the
      // original four keys) along with its data
      s.sql(s"RESTORE TABLE txlog.`$root` TO VERSION AS OF 3")      // v6
      require(TxLog.tableProperties(s, root) == base,
        s"q253: restored set ${TxLog.tableProperties(s, root)}")
      require(s.sql(s"DESCRIBE DETAIL txlog.`$root`").head
          .getAs[String]("properties").contains("team.owner=data-eng"),
        "q253: DESCRIBE DETAIL must render the canonical properties")
      // property-driven maintenance: policy from the table, not the job
      val rep = TxLog.maintainTx(s, root, "seg").head
      require(rep.getAs[Long]("files_packed") >= 2L,
        s"q253: the recorded smallBytes must bin-pack ($rep)")
      require(rep.getAs[Long]("data_files_vacuumed") >= 1L,
        s"q253: the recorded zero retention must vacuum now ($rep)")
      TxLog.readTable(s, root).groupBy("seg")
        .agg(count(lit(1)).as("n_rows"), dsum(col("bal")).as("total_bal"))
        .withColumn("props_ok", lit(1L))
    },

    // ---- q254: atomic REPLACE TABLE / CREATE OR REPLACE ... AS SELECT —
    // the staged-catalog surface (StagingTableCatalog) over ONE
    // whole-table-state commit (TxLog.replaceTableTx, op "restore"):
    // previous data, column mapping, CHECK constraints and properties
    // are ALL superseded together, old rows must NOT merge into the
    // replacement (the non-atomic drop+create+append path's hazard),
    // and time travel keeps every pre-replace version. The reference's
    // full-refresh DAGs (to_sql if_exists='replace') re-keyed to a
    // schema-changing refresh.
    QueryDef.sql("q254_tx_replace_table",
      s"""SELECT c_mktsegment AS seg, COUNT(*) AS n_rows,
         |  ${dsumSql("c_acctbal * 2")} AS total_bal2,
         |  CAST(1 AS BIGINT) AS replace_ok
         |FROM customer GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.sources.TxLog
      val meta = scratch("q254_meta")
      val root = scratch("q254_tbl")
      Seq(meta, root).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      val cust = Tables.customer(s, dir).select(
        col("c_custkey").as("k"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("seg"))
      val nHalf = {
        val maxKey = cust.agg(max("k")).head.getLong(0)
        val half = cust.filter(col("k") <= maxKey / 2)
        TxLog.appendBatchTx(half, root, "seg", "q254-b1")            // v1
        half.count()
      }
      // decorate the OLD definition: rename + constraint + property
      s.sql(s"ALTER TABLE txlog.`$root` RENAME COLUMN bal TO balance")
      s.sql(s"ALTER TABLE txlog.`$root` ADD CONSTRAINT pos " +
        "CHECK (balance > -10000)")
      s.sql(s"ALTER TABLE txlog.`$root` SET TBLPROPERTIES " +
        "('tier' = 'old')")                                          // v4
      val vBefore = TxLog.currentVersion(s, root)
      require(vBefore == 4L, s"q254: seed log at $vBefore, expected 4")
      // the REPLACE by NAME: new schema (bal2 = 2x), full customer set
      s.conf.set("spark.sql.catalog.gq254", "graft.plans.TxCatalog")
      s.conf.set("spark.sql.catalog.gq254.root", meta)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gq254.ops")
      s.sql(s"CREATE TABLE gq254.ops.cust USING txlog LOCATION '$root'")
      cust.withColumn("bal2", col("bal") * 2).drop("bal")
        .createOrReplaceTempView("q254_src")
      s.sql("CREATE OR REPLACE TABLE gq254.ops.cust USING txlog " +
        "PARTITIONED BY (seg) TBLPROPERTIES ('tier' = 'new') " +
        "AS SELECT k, bal2, seg FROM q254_src")                      // v5
      val total = cust.count()
      val now = TxLog.readTable(s, root)
      require(now.count() == total && nHalf < total,
        s"q254: replacement carries ${now.count()}, expected $total " +
          s"(no old-row merge; seed was $nHalf)")
      require(now.columns.toSet == Set("k", "bal2", "seg"),
        s"q254: replaced schema ${now.columns.mkString(",")}")
      require(TxLog.tableProperties(s, root) == Map("tier" -> "new"),
        s"q254: props ${TxLog.tableProperties(s, root)}")
      val detail = TxLog.tableDetail(s, root).head
      require(detail.getAs[Long]("n_renamed_columns") == 0L &&
        detail.getAs[Long]("n_constraints") == 0L,
        "q254: the replace must reset mapping and constraints")
      // time travel pre-replace: the old definition under both addresses
      val old = TxLog.readTableAt(s, root, vBefore)
      require(old.columns.toSet == Set("k", "balance", "seg") &&
        old.count() == nHalf,
        s"q254: v$vBefore serves ${old.columns.mkString(",")}")
      require(s.sql(s"SELECT * FROM gq254.ops.cust VERSION AS OF $vBefore")
          .columns.toSet == Set("k", "balance", "seg"),
        "q254: name-surface time travel must cross the replace")
      TxLog.readTable(s, root).groupBy("seg")
        .agg(count(lit(1)).as("n_rows"), dsum(col("bal2")).as("total_bal2"))
        .withColumn("replace_ok", lit(1L))
    }
  )
}
