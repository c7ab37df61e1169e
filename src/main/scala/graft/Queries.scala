package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Engine
import graft.functions.{Functions => F}
import graft.operators.{AsOfJoin, Dedup, Sampling, Similarity, TextAnalysis}
import graft.streaming.EventStreams

/** The query catalog: every operator from SURVEY §2 (and the north-star
  * extensions) as a named (Spark impl, DuckDB oracle SQL) pair.
  *
  * Conventions that make the driver's hash-compare deterministic:
  *  - every computed column is aliased identically on both sides;
  *  - every query ends in a total ORDER BY (unique key tie-breaks);
  *  - double aggregates are round()ed (2dp for sums, 4-6dp for ratios) so
  *    summation-order ulp noise cannot flip a digit;
  *  - NULLS FIRST is spelled explicitly in oracle ORDER BY (DuckDB
  *    defaults to NULLS LAST, Spark to NULLS FIRST);
  *  - signature math (minhash/simhash/fingerprints/LSH planes) is defined
  *    over md5 so both engines compute bit-identical values.
  */
object Queries {

  /** A catalog entry. `benchFn`, when set, is what [[Bench]] times instead
    * of `fn` — used where the oracle-checkable exact form is not the
    * 100 TB production path (e.g. exact vs approx percentile). */
  final case class Q(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      benchFn: Option[(SparkSession, String) => DataFrame] = None)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(s, dir, name)

  /** Asset-id seed for the synthesized multimodal corpora, spread across
    * the session's parallelism. The fixture ids arrive as ONE small
    * parquet split, and the partition-preserving synthesize→decode
    * mapPartitions chains inherit that single partition — serializing
    * all the per-asset codec CPU on one core (guide §2.5: input skew,
    * fix at the source — measured 16.7 s of single-task CPU on
    * q325's VP8L chain). Only the 8-byte ids are shuffled, never the
    * synthesized payloads (guide §8: move the lightweight proxy, not
    * the heavy bytes); downstream of this one id exchange the codec
    * chain stays exchange-free (PlanSpec lock on the operators). The
    * count is the session's own parallelism, not a constant — on a
    * cluster it is the cluster's core count. */
  private def assetIds(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)

  /** The stream-stream outer joins' GLOBAL watermark, engine-exact.
    * Both join branches carry their own `withWatermark` over their
    * FILTERED rows (clicks / errors), and Spark's default
    * `multipleWatermarkPolicy=min` advances the global watermark to
    * the LAGGING side's max event time − delay — NOT the whole
    * table's max. A deterministic eviction gate computed off the
    * global max silently keeps outer-null rows the engine never
    * evicts as soon as one side's tail goes quiet (a fixture whose
    * last error sits hours before its last click — exactly the
    * sf0.001 draw that exposed this). Both the entry and its oracle
    * restate this exact min-of-side-maxima expression, so the gate
    * stays replayable in any engine. */
  private def ssOuterWmMs(s: SparkSession, d: String): Long = {
    val r = t(s, d, "events").agg(
      max(when(col("event_type") === "click", unix_millis(col("ts")))),
      max(when(col("event_type") === "error", unix_millis(col("ts")))))
      .collect()(0)
    math.min(r.getLong(0), r.getLong(1)) - 600000L
  }

  /** [[ssOuterWmMs]]'s oracle twin (DuckDB). */
  private val ssOuterWmCte: String =
    """wm AS (SELECT least(
      |    max(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END),
      |    max(CASE WHEN event_type = 'error' THEN epoch_ms(ts) END))
      |    - 600000 AS w FROM events)""".stripMargin

  /** Order-independent double aggregation: cast to DECIMAL(18,6) BEFORE
    * summing (decimal addition is exact, so partial-aggregation order
    * cannot move the result), round, and surface as double. Spark's
    * map-side partials and DuckDB's sequential sum otherwise accumulate
    * doubles in different orders, and with enough groups some
    * `round(sum(double), 2)` lands on a 2dp boundary where the ulp flips
    * the digit (the q54 round-1 hash mismatch). DuckDB twin:
    * `round(sum(expr::DECIMAL(18,6)), s)::DOUBLE`. */
  private def dsum(c: org.apache.spark.sql.Column, scale: Int = 2): org.apache.spark.sql.Column =
    round(sum(c.cast("decimal(18,6)")), scale).cast("double")

  /** Hash-stable double aggregation as integer micro-units. [[dsum]] is
    * only safe when the input doubles carry <= 6 decimal places (lineitem
    * prices are 2dp): for >6dp data (events.value) the double->DECIMAL
    * cast itself rounds, and THAT rounding is engine- and version-
    * dependent (Spark rounds the shortest-repr string; DuckDB rounds the
    * binary value, with behavior that changed across releases) — the
    * round-2 q54 driver mismatch. IEEE double multiply and floor are
    * exactly rounded everywhere, so `floor(x*1e6)` is bit-identical in
    * every engine; summing the resulting integers is exact in any order.
    * Spark floor(double) is LONG already. DuckDB twin:
    * `sum(floor(expr*1e6)::BIGINT)::BIGINT`. */
  private def usum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(floor(c * lit(1e6)))

  /** Order-independent mean: exact decimal sum -> double -> / count.
    * DuckDB twin: `round(sum(expr::DECIMAL(18,6))::DOUBLE / count(*), s)`. */
  private def davg(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    round(sum(c.cast("decimal(18,6)")).cast("double") / count(lit(1)), scale)

  /** Per-JVM tag for every filesystem artifact a query writes (q58's
    * managed bucketed tables, q71's compaction dirs, q72's partitioned
    * layout): two processes (e.g. Bench and Verify) sharing a tmp or
    * warehouse path must never clobber each other's files — a scan
    * racing an `overwrite` of the same fixed path dies with
    * FileNotFound, and an oracle that reads a query-written path could
    * read another process's data. Oracle SQL embeds the tagged path from
    * the SAME JVM that runs the query, so the pair stays consistent.
    *
    * Declared BEFORE the query-catalog vals: oracle SQL strings
    * interpolate [[scratchDir]] during object initialization, and Scala
    * object vals initialize in source order — a later declaration reads
    * as null mid-init (the round-3 q71 failure: its oracle baked in
    * `..._null/out` while the query wrote the real tagged dir). */
  private val bucketRunTag: String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** Tagged per-JVM scratch dir under java.io.tmpdir. */
  private def scratchDir(name: String): String = new java.io.File(
    System.getProperty("java.io.tmpdir"), s"${name}_$bucketRunTag").getAbsolutePath

  /** [[scratchDir]] wiped before use — the store discipline for entries
    * whose state ACCUMULATES across invocations (additive sketches, CDC
    * stores): run-tagged so concurrent JVMs never collide, wiped so a
    * same-JVM re-run (Bench's min-of-2) starts fresh, and — unlike a
    * `createTempDirectory` per call — bounded: re-runs reuse one path
    * instead of leaving an orphan dir each. */
  private def freshScratchDir(name: String): String = {
    val p = java.nio.file.Paths.get(scratchDir(name))
    EventStreams.deleteTree(p)
    p.toString
  }

  /** DuckDB rendering of [[graft.functions.Functions.hash64]]. */
  private def dHash64(e: String): String =
    s"('0x'||substr(md5($e),1,15))::BIGINT"
  private def dHash64Seeded(e: String, seed: Int): String =
    dHash64(s"'$seed:'||$e")

  // ---------------------------------------------------------------------
  // Relational core (SURVEY §2.B surface)
  // ---------------------------------------------------------------------

  private val relational: Seq[(String, Q)] = Seq(
    "q01_pricing_summary" -> Q(
      (s, d) => {
        t(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("sum_disc_price"),
            davg(col("l_quantity"), 4).as("avg_qty"),
            davg(col("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity::DECIMAL(18,6)),2)::DOUBLE AS sum_qty,
             |  round(sum(l_extendedprice::DECIMAL(18,6)),2)::DOUBLE AS sum_base_price,
             |  round(sum((l_extendedprice*(1-l_discount))::DECIMAL(18,6)),2)::DOUBLE
             |    AS sum_disc_price,
             |  round(sum(l_quantity::DECIMAL(18,6))::DOUBLE / count(*),4) AS avg_qty,
             |  round(sum(l_discount::DECIMAL(18,6))::DOUBLE / count(*),4) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    "q02_revenue_by_nation" -> Q(
      (s, d) => {
        val li = t(s, d, "lineitem")
        val sup = t(s, d, "supplier")
        val nat = t(s, d, "nation")
        val reg = t(s, d, "region")
        li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""SELECT r_name, n_name,
             |  round(sum((l_extendedprice*(1-l_discount))::DECIMAL(18,6)),2)::DOUBLE AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name
             |ORDER BY r_name, n_name""".stripMargin)),

    "q03_top_orders" -> Q(
      (s, d) => {
        t(s, d, "orders")
          .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o_orderkey, c_name, o_totalprice
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    "q04_segment_top_customers" -> Q(
      (s, d) => {
        val w = Window
          .partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        t(s, d, "customer")
          .withColumn("rn", row_number().over(w).cast("bigint"))
          .filter(col("rn") <= 3)
          .select(col("c_mktsegment"), col("rn"), col("c_custkey"), col("c_acctbal"))
          .orderBy(col("c_mktsegment"), col("rn"))
      },
      Some("""SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (
             |  SELECT c_mktsegment, c_custkey, c_acctbal,
             |    row_number() OVER (PARTITION BY c_mktsegment
             |      ORDER BY c_acctbal DESC, c_custkey) AS rn
             |  FROM customer) WHERE rn <= 3
             |ORDER BY c_mktsegment, rn""".stripMargin)),

    "q05_running_revenue" -> Q(
      (s, d) => {
        // window order ends in (l_extendedprice, l_quantity): the data
        // contains bona fide duplicate (l_orderkey, l_linenumber) rows at
        // larger SFs, and a non-total ORDER BY makes lag() engine-
        // nondeterministic at the tie (caught by the sf0.1 gate)
        val w = Window
          .partitionBy("l_suppkey")
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"), col("l_quantity"))
        val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // running sum over l_quantity: integral doubles stay exactly
        // representable, so the result is independent of the engine's
        // window-aggregation tree shape (DuckDB uses segment trees)
        t(s, d, "lineitem")
          .select(
            col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            sum(col("l_quantity")).over(frame).as("running_qty"),
            row_number().over(w).cast("bigint").as("seq"),
            lag(col("l_extendedprice"), 1).over(w).as("prev_price"))
          .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("seq"))
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             |  sum(l_quantity) OVER (
             |    PARTITION BY l_suppkey
             |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice, l_quantity
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
             |  row_number() OVER (
             |    PARTITION BY l_suppkey
             |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice, l_quantity
             |  ) AS seq,
             |  lag(l_extendedprice, 1) OVER (
             |    PARTITION BY l_suppkey
             |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice, l_quantity
             |  ) AS prev_price
             |FROM lineitem
             |ORDER BY l_suppkey, l_orderkey, l_linenumber, seq""".stripMargin)),

    "q06_distinct_counts" -> Q(
      (s, d) => {
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
             |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    "q07_semi_join" -> Q(
      (s, d) => {
        val big = t(s, d, "orders").filter(col("o_totalprice") > 300000)
        t(s, d, "customer")
          .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)),

    "q08_anti_join" -> Q(
      (s, d) => {
        val urgent = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        t(s, d, "customer")
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders
             |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),

    "q09_set_ops" -> Q(
      (s, d) => {
        val cust = t(s, d, "customer")
        val orders = t(s, d, "orders")
        val building = cust.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("custkey"))
        val auto = cust.filter(col("c_mktsegment") === "AUTOMOBILE")
          .select(col("c_custkey").as("custkey"))
        val bigSpenders = orders.filter(col("o_totalprice") > 100000)
          .select(col("o_custkey").as("custkey"))
        val negative = cust.filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("custkey"))
        building.union(auto).distinct()
          .intersect(bigSpenders)
          .except(negative)
          .orderBy(col("custkey"))
      },
      // parenthesized to force left-to-right evaluation: standard SQL
      // gives INTERSECT higher precedence, so an unparenthesized chain
      // means a UNION (b INTERSECT c) — NOT the ((a UNION b) INTERSECT c)
      // the Spark composition computes (divergence surfaced at sf0.1)
      Some("""SELECT custkey FROM (
             |  SELECT custkey FROM (
             |    SELECT custkey FROM (
             |      SELECT c_custkey AS custkey FROM customer
             |        WHERE c_mktsegment = 'BUILDING'
             |      UNION
             |      SELECT c_custkey FROM customer
             |        WHERE c_mktsegment = 'AUTOMOBILE')
             |    INTERSECT
             |    SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
             |  EXCEPT
             |  SELECT c_custkey FROM customer WHERE c_acctbal < 0)
             |ORDER BY custkey""".stripMargin)),

    "q10_rollup" -> Q(
      (s, d) => {
        t(s, d, "orders")
          .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
          .rollup(col("n_name"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
          .orderBy(col("n_name").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
      },
      Some("""SELECT n_name, o_orderpriority, count(*) AS n_orders,
             |  round(sum(o_totalprice::DECIMAL(18,6)),2)::DOUBLE AS total
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY ROLLUP(n_name, o_orderpriority)
             |ORDER BY n_name ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    "q11_cube" -> Q(
      (s, d) => {
        t(s, d, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity::DECIMAL(18,6)),2)::DOUBLE AS sum_qty,
             |  count(*) AS n
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    "q12_having" -> Q(
      (s, d) => {
        t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
          .filter(col("n_orders") >= 3)
          .orderBy(col("o_custkey"))
      },
      Some("""SELECT o_custkey, count(*) AS n_orders,
             |  round(sum(o_totalprice::DECIMAL(18,6)),2)::DOUBLE AS total
             |FROM orders GROUP BY o_custkey HAVING count(*) >= 3
             |ORDER BY o_custkey""".stripMargin)),

    "q13_scalar_funcs" -> Q(
      (s, d) => {
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            year(col("o_orderdate")).cast("bigint").as("yr"),
            month(col("o_orderdate")).cast("bigint").as("mo"),
            when(col("o_totalprice") > 200000, "high")
              .when(col("o_totalprice") > 50000, "mid")
              .otherwise("low").as("bucket"),
            concat(col("o_orderstatus"), lit("-"), upper(substring(col("o_orderpriority"), 1, 8)))
              .as("status_tag"),
            round(sqrt(col("o_totalprice")), 4).as("sqrt_price"),
            round(ln(col("o_totalprice") + 1), 6).as("ln_price"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo,
             |  CASE WHEN o_totalprice > 200000 THEN 'high'
             |       WHEN o_totalprice > 50000 THEN 'mid' ELSE 'low' END AS bucket,
             |  o_orderstatus || '-' || upper(substr(o_orderpriority, 1, 8)) AS status_tag,
             |  round(sqrt(o_totalprice),4) AS sqrt_price,
             |  round(ln(o_totalprice + 1),6) AS ln_price
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    "q14_above_brand_avg" -> Q(
      (s, d) => {
        // decimal-summed mean, rounded to 2dp on both sides: row MEMBERSHIP
        // must not depend on summation-order ulps in the avg
        val part = t(s, d, "part")
        val brandAvg = part.groupBy(col("p_brand").as("b_brand"))
          .agg(davg(col("p_retailprice"), 2).as("brand_avg"))
        part
          .join(broadcast(brandAvg), col("p_brand") === col("b_brand"))
          .filter(col("p_retailprice") > col("brand_avg"))
          .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
          .orderBy(col("p_partkey"))
      },
      Some("""SELECT p_partkey, p_brand, p_retailprice FROM part p
             |WHERE p_retailprice > (
             |  SELECT round(sum(p2.p_retailprice::DECIMAL(18,6))::DOUBLE / count(*), 2)
             |  FROM part p2 WHERE p2.p_brand = p.p_brand)
             |ORDER BY p_partkey""".stripMargin)))

  // ---------------------------------------------------------------------
  // Text parsing (m33-style transforms, SURVEY §2.A S6-S15) + events
  // ---------------------------------------------------------------------

  private val textAndEvents: Seq[(String, Q)] = Seq(
    "q15_doc_parse" -> Q(
      (s, d) => {
        t(s, d, "documents")
          .select(
            col("doc_id"),
            F.tokens(col("text")).getItem(0).as("first_tok"),
            regexp_extract(col("source"), "src([0-9]+)", 1).cast("bigint").as("src_id"),
            (F.field(col("lang"), lit("en"), lit("de"), lit("es"), lit("fr"), lit("zh")) - 1)
              .as("lang_code"),
            length(col("text")).cast("bigint").as("len"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, string_split(trim(text), ' ')[1] AS first_tok,
             |  CAST(regexp_extract(source, 'src([0-9]+)', 1) AS BIGINT) AS src_id,
             |  list_position(['en','de','es','fr','zh'], lang) - 1 AS lang_code,
             |  length(text) AS len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "q16_event_windows" -> Q(
      (s, d) => {
        t(s, d, "events")
          .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), usum(col("value")).as("total_value_micros"))
          .select(
            col("window.start").as("bucket_start"),
            col("event_type"), col("n_events"), col("total_value_micros"))
          .orderBy(col("bucket_start"), col("event_type"))
      },
      Some("""SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start, event_type,
             |  count(*) AS n_events,
             |  sum(floor(value*1e6)::BIGINT)::BIGINT AS total_value_micros
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    "q17_json_extract" -> Q(
      (s, d) => {
        t(s, d, "events")
          .select(
            col("event_type"),
            get_json_object(col("props"), "$.k").cast("bigint").as("k"))
          .groupBy(col("event_type"))
          .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
             |  sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k,
             |  count(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    "q18_pivot" -> Q(
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = t(s, d, "events")
          .groupBy(col("user_id"))
          .pivot("event_type", types)
          .count()
        p.select(
            col("user_id") +: types.map(tp => coalesce(col(tp), lit(0L)).as(tp)): _*)
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id,
             |  count(CASE WHEN event_type = 'click' THEN 1 END) AS "click",
             |  count(CASE WHEN event_type = 'error' THEN 1 END) AS "error",
             |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS "purchase",
             |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS "signup",
             |  count(CASE WHEN event_type = 'view' THEN 1 END) AS "view"
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    "q19_asof_join" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
        val errors = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("err_value"))
        AsOfJoin(clicks, errors, "user_id", "ts", "ts", Seq("ts", "err_value"))
          .select(
            col("event_id"), col("user_id"),
            unix_millis(col("ts")).as("click_ms"),
            unix_millis(col("asof_ts")).as("prev_error_ms"),
            col("asof_err_value").as("err_value"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS click_ms,
             |  epoch_ms(r.ts) AS prev_error_ms, r.err_value
             |FROM events e
             |ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS err_value
             |  FROM events WHERE event_type = 'error' GROUP BY user_id, ts) r
             |ON e.user_id = r.user_id AND e.ts >= r.ts
             |WHERE e.event_type = 'click'
             |ORDER BY e.event_id""".stripMargin)))

  // ---------------------------------------------------------------------
  // Deduplication (north star)
  // ---------------------------------------------------------------------

  private val minhashSeeds = 12
  private val minhashBands = 4

  /** DuckDB CTE prefix reproducing tokens/shingles/minhash signatures
    * (the universal-hash family of [[graft.operators.Dedup.MinHash]]:
    * one md5 per shingle, then per-seed integer arithmetic mod 2^31-1). */
  private def duckMinhashCtes: String = duckMinhashCtesFor("documents")

  /** As [[duckMinhashCtes]] but over an arbitrary source relation (a
    * table name or a parenthesized subquery). */
  private def duckMinhashCtesFor(src: String): String = {
    import graft.operators.Dedup.MinHash
    val rows = minhashSeeds / minhashBands
    val sigEntries = (0 until minhashSeeds)
      .map(j =>
        s"coalesce(list_min([(x * ${MinHash.a(j)} + ${MinHash.b(j)}) % ${MinHash.P} " +
          s"for x in h]), ${MinHash.sentinel})")
      .mkString(",\n    ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM $src mh_src),
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(t) >= 3
       |    THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
       |    ELSE []::VARCHAR[] END AS sg
       |  FROM toks),
       |hs AS (
       |  SELECT doc_id, [${dHash64("s")} % ${MinHash.P} for s in sg] AS h FROM sh),
       |mh AS (
       |  SELECT doc_id, [
       |    $sigEntries] AS sig
       |  FROM hs),
       |bands AS (
       |  SELECT doc_id, sig, b,
       |    array_to_string(sig[b*$rows+1:b*$rows+$rows], '_') AS bkey
       |  FROM mh CROSS JOIN (SELECT unnest([0,1,2,3]) AS b))""".stripMargin
  }

  /** DuckDB CTE prefix reproducing per-doc 32-bit simhash. */
  private def duckSimhashCte: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS t FROM documents),
       |h AS (
       |  SELECT doc_id, [${dHash64("tok")} for tok in t] AS hs FROM toks),
       |sh AS (
       |  SELECT doc_id, CAST(list_sum([
       |    CASE WHEN list_sum([CASE WHEN ((hh >> j) & 1) = 1 THEN 1 ELSE -1 END for hh in hs]) > 0
       |    THEN (1::BIGINT << j) ELSE 0 END
       |    for j in range(0, 32)]) AS BIGINT) AS simhash
       |  FROM h)""".stripMargin

  /** DuckDB CTE reproducing per-doc FULL 64-bit simhash. The token hash
    * is the first 8 md5 digest bytes as a signed BIGINT; since DuckDB
    * cannot parse 16 hex chars into a signed BIGINT, bit j is recovered
    * from two partial parses (chars 2-16 = bits 0-59, char 1 = bits
    * 60-63), and the sign bit's weight is the literal Long.MIN (1<<63
    * overflows DuckDB's checked shift). */
  private def duckSimhash64Cte: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS t FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    [('0x'||substr(md5(tok),2,15))::BIGINT for tok in t] AS hlo,
       |    [('0x'||substr(md5(tok),1,1))::BIGINT for tok in t] AS hhi
       |  FROM toks),
       |sh AS (
       |  SELECT doc_id, CAST(
       |    list_sum([
       |      CASE WHEN list_sum([CASE WHEN ((hh >> j) & 1) = 1 THEN 1 ELSE -1 END for hh in hlo]) > 0
       |      THEN (1::BIGINT << j) ELSE 0 END
       |      for j in range(0, 60)])
       |    + list_sum([
       |      CASE WHEN list_sum([CASE WHEN ((hh >> (j-60)) & 1) = 1 THEN 1 ELSE -1 END for hh in hhi]) > 0
       |      THEN (CASE WHEN j = 63 THEN -9223372036854775807 - 1 ELSE (1::BIGINT << j) END)
       |      ELSE 0 END
       |      for j in range(60, 64)])
       |    AS BIGINT) AS simhash
       |  FROM h)""".stripMargin

  private val dedup: Seq[(String, Q)] = Seq(
    "q20_dedup_exact" -> Q(
      (s, d) => {
        t(s, d, "documents")
          .groupBy(col("source"))
          .agg(
            countDistinct(md5(col("text"))).as("n_unique"),
            count(lit(1)).as("n_docs"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, count(DISTINCT md5(text)) AS n_unique, count(*) AS n_docs
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    "q21_exact_groups" -> Q(
      (s, d) => {
        Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text")
          .orderBy(col("fingerprint"))
      },
      Some("""SELECT md5(text) AS fingerprint, count(*) AS n_docs, min(doc_id) AS keep_id
             |FROM documents GROUP BY md5(text) ORDER BY fingerprint""".stripMargin)),

    "q22_minhash_lsh" -> Q(
      (s, d) => {
        Dedup.minhashLsh(t(s, d, "documents"), "doc_id", "text",
            shingleN = 3, numHashes = minhashSeeds, bands = minhashBands)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""$duckMinhashCtes
              |SELECT DISTINCT doc_a, doc_b, est_jaccard FROM (
              |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
              |    round(len([i for i in range(1, ${minhashSeeds + 1})
              |      if a.sig[i] = b2.sig[i]])::DOUBLE / $minhashSeeds, 6) AS est_jaccard
              |  FROM bands a JOIN bands b2
              |    ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id)
              |ORDER BY doc_a, doc_b""".stripMargin)),

    "q23_simhash" -> Q(
      (s, d) => {
        Dedup.simhashSignatures(t(s, d, "documents"), "doc_id", "text", bits = 32)
          .orderBy(col("doc_id"))
      },
      Some(s"""$duckSimhashCte
              |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin)),

    // the oracle is the brute-force all-pairs hamming ball: the
    // multi-table scheme GUARANTEES recall at hamming <= 3, so matching
    // the quadratic self-join exactly is precisely the claim under test
    "q24_simhash_neardup" -> Q(
      (s, d) => {
        Dedup.simhashNearDup(t(s, d, "documents"), "doc_id", "text",
            bits = 32, numChunks = 6, maxHamming = 3)
          .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
          .limit(20)
      },
      Some(s"""$duckSimhashCte
              |SELECT doc_a, doc_b, hamming FROM (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    bit_count(xor(a.simhash, b.simhash))::INT AS hamming
              |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
              |WHERE hamming <= 3
              |ORDER BY hamming, doc_a, doc_b LIMIT 20""".stripMargin)),

    // 64-bit signatures: at 100x the corpus, 32-bit simhash saturates
    // (random 32-bit pairs collide at hamming <= 3 far too often); the
    // full-width digest hash doubles the chunk-key space to >= 32 bits
    // per blocking table. Same guaranteed-recall scheme, same
    // brute-force oracle
    "q66_simhash64_neardup" -> Q(
      (s, d) => {
        Dedup.simhashNearDup(t(s, d, "documents"), "doc_id", "text",
            bits = 64, numChunks = 6, maxHamming = 3)
          .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
          .limit(20)
      },
      Some(s"""$duckSimhash64Cte
              |SELECT doc_a, doc_b, hamming FROM (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    bit_count(xor(a.simhash, b.simhash))::INT AS hamming
              |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
              |WHERE hamming <= 3
              |ORDER BY hamming, doc_a, doc_b LIMIT 20""".stripMargin)),

    // candidate REDUCTION via the already-oracled MinHash-LSH machinery,
    // exact 2-gram Jaccard only on candidates — replaces equality blocking
    // on (lang, first token), whose Zipfian hot blocks made the self-join
    // quadratic in the biggest block (round-1 scale-killer)
    "q25_ngram_jaccard" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val cands = Dedup
          .minhashLsh(docs, "doc_id", "text",
            shingleN = 3, numHashes = minhashSeeds, bands = minhashBands)
          .select(col("doc_a"), col("doc_b"))
        Dedup.ngramJaccardOnCandidates(docs, "doc_id", "text", cands, shingleN = 2)
          .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
          .limit(50)
      },
      Some(s"""$duckMinhashCtes,
              |cand AS (
              |  SELECT DISTINCT doc_a, doc_b FROM (
              |    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
              |    FROM bands a JOIN bands b2
              |      ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id)),
              |t0 AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
              |g0 AS (
              |  SELECT doc_id,
              |    list_distinct([array_to_string(t[i:i+1], ' ')
              |      for i in range(1, len(t))]) AS grams
              |  FROM t0),
              |g AS (
              |  SELECT doc_id, [${dHash64("x")} for x in grams] AS h
              |  FROM g0)
              |SELECT doc_a, doc_b,
              |  round(len(list_intersect(ga.h, gb.h))::DOUBLE /
              |        len(list_distinct(ga.h || gb.h)), 6) AS jaccard
              |FROM cand
              |JOIN g ga ON cand.doc_a = ga.doc_id
              |JOIN g gb ON cand.doc_b = gb.doc_id
              |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""".stripMargin)),

    // exact n-gram containment on the same LSH candidates as q25: the
    // doc-in-doc metric (Broder's containment) — a short doc quoted
    // whole inside a long one scores cont_a ≈ 1e6 while its Jaccard
    // stays near |a|/|b|, exactly the redundancy a Jaccard threshold
    // keeps. Integer ppm both directions; empty gram sides score 0.
    "q270_ngram_containment" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val cands = Dedup
          .minhashLsh(docs, "doc_id", "text",
            shingleN = 3, numHashes = minhashSeeds, bands = minhashBands)
          .select(col("doc_a"), col("doc_b"))
        Dedup.containmentOnCandidates(docs, "doc_id", "text", cands, shingleN = 2)
          .orderBy(col("cont_a_ppm").desc, col("cont_b_ppm").desc,
            col("doc_a"), col("doc_b"))
          .limit(50)
      },
      Some(s"""$duckMinhashCtes,
              |cand AS (
              |  SELECT DISTINCT doc_a, doc_b FROM (
              |    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
              |    FROM bands a JOIN bands b2
              |      ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id)),
              |t0 AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
              |g0 AS (
              |  SELECT doc_id,
              |    list_distinct([array_to_string(t[i:i+1], ' ')
              |      for i in range(1, len(t))]) AS grams
              |  FROM t0),
              |g AS (
              |  SELECT doc_id, [${dHash64("x")} for x in grams] AS h
              |  FROM g0)
              |SELECT doc_a, doc_b,
              |  CASE WHEN len(ga.h) = 0 THEN 0
              |    ELSE len(list_intersect(ga.h, gb.h))::BIGINT * 1000000 // len(ga.h)
              |  END::BIGINT AS cont_a_ppm,
              |  CASE WHEN len(gb.h) = 0 THEN 0
              |    ELSE len(list_intersect(ga.h, gb.h))::BIGINT * 1000000 // len(gb.h)
              |  END::BIGINT AS cont_b_ppm
              |FROM cand
              |JOIN g ga ON cand.doc_a = ga.doc_id
              |JOIN g gb ON cand.doc_b = gb.doc_id
              |ORDER BY cont_a_ppm DESC, cont_b_ppm DESC, doc_a, doc_b
              |LIMIT 50""".stripMargin)),

    // exact-threshold guarantee path: prefix-filter + positional-filter
    // candidates (SSJoin/PPJoin family) + exact verification. Oracle is
    // the full quadratic threshold join — matching it exactly is the
    // recall guarantee under test (LSH candidates, by contrast, are only
    // probabilistically complete). 3-gram shingles: the standard q-gram
    // discrimination for text similarity joins — 2-grams of a
    // shared-vocabulary corpus are so dense that prefixes stop pruning
    // (measured 44x slower at sf0.1)
    "q67_prefix_filter_jaccard" -> Q(
      (s, d) => {
        Dedup.ppjoinJaccard(t(s, d, "documents"), "doc_id", "text",
            shingleN = 3, threshold = 0.5)
          .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH t0 AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
              |g0 AS (
              |  SELECT doc_id,
              |    CASE WHEN len(t) >= 3
              |    THEN list_distinct([array_to_string(t[i:i+2], ' ')
              |      for i in range(1, len(t) - 1)])
              |    ELSE [] END AS grams
              |  FROM t0),
              |g AS (
              |  SELECT doc_id, [${dHash64("x")} for x in grams] AS h
              |  FROM g0)
              |SELECT doc_a, doc_b, jaccard FROM (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    round(len(list_intersect(a.h, b.h))::DOUBLE /
              |          len(list_distinct(a.h || b.h)), 6) AS jaccard
              |  FROM g a JOIN g b
              |    ON a.doc_id < b.doc_id AND len(a.h) > 0 AND len(b.h) > 0)
              |WHERE jaccard >= 0.5
              |ORDER BY jaccard DESC, doc_a, doc_b""".stripMargin)),

    "q26_embedding_neardup" -> Q(
      (s, d) => {
        Dedup.embeddingNearDupPairs(
            t(s, d, "embeddings"), "vec_id", "embedding", Seq(col("label")))
          .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
          .limit(50)
      },
      Some("""WITH v AS (
             |  SELECT vec_id, label,
             |    (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END +
             |     CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END +
             |     CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END +
             |     CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS sb,
             |    embedding::DOUBLE[] AS e
             |  FROM embeddings)
             |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             |  round(list_cosine_similarity(a.e, b.e), 6) AS cos
             |FROM v a JOIN v b ON a.label = b.label AND a.sb = b.sb
             |  AND a.vec_id < b.vec_id
             |ORDER BY cos DESC, vec_a, vec_b LIMIT 50""".stripMargin)))

  /** The LSH candidate pairs both CC resolvers consume (q53, q70). */
  private def lshResolvePairs(s: SparkSession, d: String): DataFrame =
    Dedup
      .minhashLsh(t(s, d, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = minhashSeeds, bands = minhashBands)
      .filter(col("est_jaccard") >= 0.5)

  /** Recursive-CTE transitive-closure oracle shared by q53 and q70 —
    * both resolvers must produce the identical component labeling. */
  private def duckResolveOracle: String =
    s"""$duckMinhashCtes,
       |cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       |      round(len([i for i in range(1, ${minhashSeeds + 1})
       |        if a.sig[i] = b2.sig[i]])::DOUBLE / $minhashSeeds, 6) AS ej
       |    FROM bands a JOIN bands b2
       |      ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id)
       |  WHERE ej >= 0.5),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM cand
       |  UNION SELECT doc_b, doc_a FROM cand),
       |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
       |reach(doc_id, r) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION
       |  SELECT reach.doc_id, edges.v FROM reach
       |    JOIN edges ON reach.r = edges.u)
       |SELECT doc_id, min(r) AS canonical_id
       |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin
      .replaceFirst("^WITH ", "WITH RECURSIVE ")

  private val dedupResolve: Seq[(String, Q)] = Seq(
    // the dedup endgame: LSH candidates -> connected components ->
    // canonical survivor per group. Oracle: recursive-CTE transitive
    // closure over the same pair set.
    "q53_dedup_resolve" -> Q(
      (s, d) => {
        Dedup.resolveDuplicateGroups(lshResolvePairs(s, d))
          .orderBy(col("doc_id"))
      },
      Some(duckResolveOracle)),

    // the diameter-independent resolver (alternating large-star /
    // small-star, O(log^2 n) rounds) under the same hash gate: identical
    // labeling through a different distributed algorithm
    "q70_dedup_resolve_star" -> Q(
      (s, d) => {
        Dedup.resolveDuplicateGroupsStar(lshResolvePairs(s, d))
          .orderBy(col("doc_id"))
      },
      Some(duckResolveOracle)),

    // SQL sessionization: gap-based session ids via lag + running sum —
    // the batch twin of the streaming sessionize operator
    "q54_sessionization" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val gapUs = 30L * 60 * 1000 * 1000
        t(s, d, "events")
          .withColumn(
            "is_new",
            when(
              lag(col("ts"), 1).over(w).isNull ||
                unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > gapUs,
              1L).otherwise(0L))
          .withColumn("session_id", sum(col("is_new")).over(frame))
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            count(lit(1)).as("n_events"),
            unix_millis(min(col("ts"))).as("start_ms"),
            unix_millis(max(col("ts"))).as("end_ms"),
            usum(col("value")).as("total_value_micros"))
          .orderBy(col("user_id"), col("session_id"))
      },
      Some("""WITH flagged AS (
             |  SELECT user_id, ts, event_id, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |      THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sessions AS (
             |  SELECT user_id, ts, value,
             |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM flagged)
             |SELECT user_id, session_id::BIGINT AS session_id, count(*) AS n_events,
             |  epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms,
             |  sum(floor(value*1e6)::BIGINT)::BIGINT AS total_value_micros
             |FROM sessions GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)))

  // ---------------------------------------------------------------------
  // Similarity search (north star)
  // ---------------------------------------------------------------------

  private val similarity: Seq[(String, Q)] = Seq(
    "q27_ann_brute_topk" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceTopK(
            emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
          .select(col("q_id"), col("rank").cast("bigint").as("rank"), col("n_id"), col("cos"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some("""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
             |  FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
             |sc AS (SELECT q_id, n_id, round(list_cosine_similarity(qv, nv), 6) AS cos
             |  FROM q CROSS JOIN c WHERE q_id <> n_id),
             |r AS (SELECT q_id, n_id, cos, row_number() OVER (
             |  PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc)
             |SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    "q28_ann_lsh_topk" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.lshTopK(
            emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, planes = 4, dims = 64)
          .select(col("q_id"), col("rank").cast("bigint").as("rank"), col("n_id"), col("cos"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some {
        val planeSql = (0 until 4).map { p =>
          val coefs = Similarity.hyperplane(p, 64).mkString("[", ", ", "]")
          s"CASE WHEN list_dot_product(e, $coefs::DOUBLE[]) > 0 THEN ${1 << p} ELSE 0 END"
        }.mkString(" +\n      ")
        s"""WITH v AS (
           |  SELECT vec_id, embedding::DOUBLE[] AS e,
           |    $planeSql AS bucket
           |  FROM embeddings),
           |sc AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |    round(list_cosine_similarity(q.e, c.e), 6) AS cos
           |  FROM v q JOIN v c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
           |  WHERE q.vec_id < 10),
           |r AS (SELECT q_id, n_id, cos, row_number() OVER (
           |  PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc)
           |SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 5
           |ORDER BY q_id, rank""".stripMargin
      }))

  private val ivf: Seq[(String, Q)] = Seq(
    "q48_ann_ivf" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.ivfTopK(
            emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, centroidIds = 0L until 8L)
          .select(col("q_id"), col("rank").cast("bigint").as("rank"), col("n_id"), col("cos"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |cents AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < 8),
             |assign AS (SELECT vec_id, e, cent_id AS cell FROM (
             |  SELECT v.vec_id, v.e, c.cent_id, row_number() OVER (
             |    PARTITION BY v.vec_id
             |    ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cent_id) AS rn
             |  FROM v CROSS JOIN cents c) WHERE rn = 1),
             |sc AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
             |    round(list_cosine_similarity(q.e, n.e), 6) AS cos
             |  FROM assign q JOIN assign n ON q.cell = n.cell AND q.vec_id <> n.vec_id
             |  WHERE q.vec_id < 10),
             |r AS (SELECT q_id, n_id, cos, row_number() OVER (
             |  PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc)
             |SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    // the IVF recall dial: every query scores against the union of its 2
    // best cells (corpus stays single-cell); oracle mirrors the 2-cell
    // probe with rn <= 2 over the same rounded-cosine/lowest-id tie rule
    "q57_ann_ivf_nprobe2" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.ivfTopK(
            emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, centroidIds = 0L until 8L, nprobe = 2)
          .select(col("q_id"), col("rank").cast("bigint").as("rank"), col("n_id"), col("cos"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |cents AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < 8),
             |assign AS (SELECT vec_id, e, cent_id AS cell FROM (
             |  SELECT v.vec_id, v.e, c.cent_id, row_number() OVER (
             |    PARTITION BY v.vec_id
             |    ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cent_id) AS rn
             |  FROM v CROSS JOIN cents c) WHERE rn = 1),
             |probe AS (SELECT vec_id, e, cent_id AS cell FROM (
             |  SELECT v.vec_id, v.e, c.cent_id, row_number() OVER (
             |    PARTITION BY v.vec_id
             |    ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cent_id) AS rn
             |  FROM v CROSS JOIN cents c WHERE v.vec_id < 10) WHERE rn <= 2),
             |sc AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
             |    round(list_cosine_similarity(q.e, n.e), 6) AS cos
             |  FROM probe q JOIN assign n ON q.cell = n.cell AND q.vec_id <> n.vec_id),
             |r AS (SELECT q_id, n_id, cos, row_number() OVER (
             |  PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc)
             |SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 5
             |ORDER BY q_id, rank""".stripMargin)))

  // ---------------------------------------------------------------------
  // Text analysis + multimodal plumbing (north star)
  // ---------------------------------------------------------------------

  private val textAnalysis: Seq[(String, Q)] = Seq(
    "q29_quality_score" -> Q(
      (s, d) => {
        TextAnalysis.qualityScore(t(s, d, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH q AS (SELECT doc_id, text, string_split(trim(text), ' ') AS t
             |  FROM documents)
             |SELECT doc_id, length(text) AS n_chars, len(t) AS n_tokens,
             |  floor(1e6 * (list_sum([length(x) for x in t])::DOUBLE / len(t)))::BIGINT
             |    AS mean_token_len_ppm,
             |  floor(1e6 * ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
             |    / length(text)))::BIGINT AS punct_ratio_ppm,
             |  floor(1e6 * (len(list_filter(t, x -> list_contains(
             |    ['the','a','of','and','to','in','is'], x)))::DOUBLE / len(t)))::BIGINT
             |    AS stopword_ratio_ppm
             |FROM q ORDER BY doc_id""".stripMargin)),

    "q30_lang_id" -> Q(
      (s, d) => {
        TextAnalysis.langId(t(s, d, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some {
        val lists = TextAnalysis.langWords.map { case (l, ws) =>
          l -> ws.map(w => s"'$w'").mkString("[", ",", "]")
        }
        val scoreCols = lists.map { case (l, arr) =>
          s"len(list_filter(t, x -> list_contains($arr, x))) AS score_$l"
        }.mkString(",\n  ")
        val names = lists.map(_._1)
        val best = s"greatest(${names.map(l => s"score_$l").mkString(", ")})"
        val cases = names.map(l => s"WHEN score_$l = best AND best > 0 THEN '$l'")
          .mkString("\n    ")
        s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
           |scored AS (SELECT doc_id,
           |  $scoreCols
           |FROM toks),
           |b AS (SELECT *, $best AS best FROM scored)
           |SELECT doc_id, ${names.map(l => s"score_$l").mkString(", ")},
           |  CASE $cases
           |    ELSE 'und' END AS pred_lang
           |FROM b ORDER BY doc_id""".stripMargin
      }),

    "q31_token_counts" -> Q(
      (s, d) => {
        TextAnalysis.tokenCounts(t(s, d, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, len(string_split(trim(text), ' ')) AS ws_tokens,
             |  len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    "q32_fingerprints" -> Q(
      (s, d) => {
        TextAnalysis.fingerprints(t(s, d, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, ${dHash64("text")} AS content_fp,
              |  ${dHash64("array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')")} AS bow_fp
              |FROM documents ORDER BY doc_id""".stripMargin)),

    "q33_multimodal_features" -> Q(
      (s, d) => {
        val bytes = octet_length(col("text").cast("binary")).cast("bigint")
        t(s, d, "documents")
          .select(
            col("doc_id"),
            bytes.as("n_bytes"),
            (bytes % 640).as("fake_width"),
            floor(bytes / 7.0).cast("bigint").mod(480).as("fake_height"),
            (floor(bytes / 100.0).cast("bigint") + 1).as("n_frames"),
            substring(base64(col("text").cast("binary")), 1, 16).as("b64_prefix"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, octet_length(text::BLOB) AS n_bytes,
             |  octet_length(text::BLOB) % 640 AS fake_width,
             |  (octet_length(text::BLOB) // 7) % 480 AS fake_height,
             |  (octet_length(text::BLOB) // 100) + 1 AS n_frames,
             |  substr(base64(text::BLOB), 1, 16) AS b64_prefix
             |FROM documents ORDER BY doc_id""".stripMargin)))

  // ---------------------------------------------------------------------
  // m33 parity pipeline (SURVEY §2.A S1-S17). The query runs the full
  // pipeline (fixture -> header-skip text scan -> schem view -> CSV CTAS
  // -> read-back) and aggregates the read-back table; the oracle points
  // DuckDB's read_csv at the SAME CTAS output (the query is always
  // executed by Verify before the driver runs the oracle), so S1-S17 sit
  // under the hard rows/schema/hash gate — both engines parse identical
  // CSV text, so min/max doubles are bit-identical.
  // ---------------------------------------------------------------------

  private val m33QueryBase: String = new java.io.File(
    System.getProperty("java.io.tmpdir"), "graft_m33_query").getAbsolutePath

  private val parityPipeline: Seq[(String, Q)] = Seq(
    "q34_m33_pipeline" -> Q(
      (s, _) => {
        val root = graft.sources.M33Fixture.generate(m33QueryBase)
        val m33 = graft.pipeline.M33Pipeline.runApi(s, root, s"$m33QueryBase/warehouse")
        m33
          .groupBy(col("age_mil"), col("is_peculiar"))
          .agg(
            count(lit(1)).as("n_rows"),
            min(col("wavelength")).as("lo_wl"),
            max(col("wavelength")).as("hi_wl"))
          .orderBy(col("age_mil"), col("is_peculiar"))
      },
      Some(s"""SELECT age_mil, is_peculiar, count(*) AS n_rows,
              |  min(wavelength) AS lo_wl, max(wavelength) AS hi_wl
              |FROM read_csv('$m33QueryBase/warehouse/m33/part-*.csv',
              |  delim = ',', header = false, columns = {
              |    'age_mil': 'BIGINT', 'wavelength': 'DOUBLE',
              |    'flam': 'DOUBLE', 'is_peculiar': 'INTEGER'})
              |GROUP BY age_mil, is_peculiar
              |ORDER BY age_mil NULLS FIRST, is_peculiar NULLS FIRST""".stripMargin)))

  // ---------------------------------------------------------------------
  // Streaming + multimodal (north star)
  // ---------------------------------------------------------------------

  private val streamingAndMultimodal: Seq[(String, Q)] = Seq(
    // Structured Streaming twin of q16: same transform under readStream,
    // drained to a memory sink. Append mode only emits windows the final
    // watermark (max event time - 10 min) has closed — a DETERMINISTIC
    // subset of the batch result once all input is processed, so the
    // oracle is the batch aggregate filtered by the same watermark rule
    // (window end <= max(ts) - delay). StreamingSpec additionally asserts
    // the batch/stream prefix equivalence.
    "q35_streaming_windows" -> Q(
      (s, d) => {
        val name = "graft_stream_windows"
        s.catalog.dropTempView(name)
        graft.streaming.EventStreams
          .runToMemory(s, s"$d/events.parquet",
            graft.streaming.EventStreams.windowedCounts, name)
          .orderBy(col("bucket_start"), col("event_type"))
      },
      Some("""WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
             |agg AS (
             |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start,
             |    event_type, count(*) AS n_events,
             |    sum(floor(value*1e6)::BIGINT)::BIGINT AS total_value_micros
             |  FROM events GROUP BY 1, 2)
             |SELECT bucket_start, event_type, n_events, total_value_micros
             |FROM agg, wm
             |WHERE bucket_start + INTERVAL 5 MINUTE <= wm.w
             |ORDER BY bucket_start, event_type""".stripMargin)),

    // streaming session windows under the hash gate: append mode emits
    // exactly the sessions whose end (last event + gap) the final
    // watermark has passed, and the values equal gap-based batch
    // sessionization — so the oracle is q54's logic + the emission filter
    "q63_streaming_sessions" -> Q(
      (s, d) => {
        val name = "graft_stream_sessions_q63"
        s.catalog.dropTempView(name)
        graft.streaming.EventStreams
          .runToMemory(s, s"$d/events.parquet",
            df => graft.streaming.EventStreams.sessionWindows(df), name)
          .select(
            unix_millis(col("session_start")).as("start_ms"),
            unix_millis(col("session_end")).as("end_ms"),
            col("user_id"), col("n_events"), col("total_value_micros"))
          .orderBy(col("user_id"), col("start_ms"))
      },
      Some("""WITH flagged AS (
             |  SELECT user_id, ts, event_id, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |      THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sessions AS (
             |  SELECT user_id, ts, value,
             |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM flagged),
             |agg AS (
             |  SELECT user_id, session_id, count(*) AS n_events,
             |    epoch_ms(min(ts)) AS start_ms,
             |    epoch_ms(max(ts)) + 1800000 AS end_ms,
             |    sum(floor(value*1e6)::BIGINT)::BIGINT AS total_value_micros
             |  FROM sessions GROUP BY user_id, session_id),
             |wm AS (SELECT epoch_ms(max(ts)) - 600000 AS w FROM events)
             |SELECT start_ms, end_ms, user_id, n_events, total_value_micros
             |FROM agg, wm WHERE agg.end_ms <= wm.w
             |ORDER BY user_id, start_ms""".stripMargin)),

    // stream-stream interval join under the hash gate: with the harness's
    // single-file source everything arrives in the first micro-batch
    // (watermark still 0), so no join state is evicted before matching
    // and the emitted set equals the batch interval join exactly
    "q64_streaming_interval_join" -> Q(
      (s, d) => {
        val name = "graft_stream_ssjoin_q64"
        s.catalog.dropTempView(name)
        val es = graft.streaming.EventStreams
        // one file source, self-joined: both sides share the listing /
        // schema machinery instead of opening the stream twice
        val src = es.readStream(s, s"$d/events.parquet")
        es.drainToTable(s, es.clickErrorJoin(
            src.filter(col("event_type") === "click"),
            src.filter(col("event_type") === "error")), name)
          .select(
            col("click_id"), col("user_id"),
            unix_millis(col("click_ts")).as("click_ms"),
            unix_millis(col("err_ts")).as("err_ms"), col("err_value"))
          .orderBy(col("click_id"), col("err_ms"))
      },
      Some("""SELECT c.event_id AS click_id, c.user_id,
             |  epoch_ms(c.ts) AS click_ms, epoch_ms(e.ts) AS err_ms,
             |  e.value AS err_value
             |FROM events c JOIN events e
             |  ON c.user_id = e.user_id
             |  AND c.event_type = 'click' AND e.event_type = 'error'
             |  AND e.ts <= c.ts AND e.ts >= c.ts - INTERVAL 30 MINUTE
             |ORDER BY click_id, err_ms""".stripMargin)),

    "q36_multimodal_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .assetsFromDocuments(t(s, d, "documents"))
        graft.multimodal.Multimodal.decodeFeatures(assets)
          .groupBy(col("modality"))
          .agg(
            count(lit(1)).as("n_assets"),
            sum(col("n_bytes")).as("total_bytes"),
            sum(col("width").cast("bigint")).as("sum_w"),
            sum(col("height").cast("bigint")).as("sum_h"),
            sum(col("n_frames").cast("bigint")).as("sum_frames"))
          .orderBy(col("modality"))
      },
      Some("""WITH a AS (
             |  SELECT doc_id,
             |    ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
             |    octet_length(text::BLOB) AS nb
             |  FROM documents)
             |SELECT modality, count(*) AS n_assets,
             |  sum(nb)::BIGINT AS total_bytes,
             |  sum((nb % 640) + 1)::BIGINT AS sum_w,
             |  sum((nb // 7) % 480 + 1)::BIGINT AS sum_h,
             |  sum(CASE WHEN modality = 'video' THEN nb // 100 + 1 ELSE 1 END)::BIGINT
             |    AS sum_frames
             |FROM a GROUP BY modality ORDER BY modality""".stripMargin)),

    // hive-partitioned layout: write events partitioned by event_type,
    // read back ONE partition (the scan must prune to that directory —
    // PlanSpec-locked) and aggregate it. The oracle aggregates the same
    // slice of the ORIGINAL table, so the layout round-trip must
    // preserve content bit-exactly (value doubles pass through parquet
    // unchanged).
    "q72_partitioned_layout" -> Q(
      (s, d) => {
        val base = scratchDir("graft_layout_query")
        t(s, d, "events")
          .write.partitionBy("event_type").mode("overwrite").parquet(base)
        s.read.parquet(base)
          .filter(col("event_type") === "click")
          .agg(
            count(lit(1)).as("n_events"),
            usum(col("value")).as("total_value_micros"),
            min(col("event_id")).as("min_id"),
            max(col("event_id")).as("max_id"))
      },
      Some("""SELECT count(*) AS n_events,
             |  sum(floor(value*1e6)::BIGINT)::BIGINT AS total_value_micros,
             |  min(event_id) AS min_id, max(event_id) AS max_id
             |FROM events WHERE event_type = 'click'""".stripMargin)),

    // small-file compaction: fragment documents into 64 tiny parquet
    // files, compact them to size-targeted outputs, and aggregate the
    // COMPACTED copy. The oracle reads the same compacted parquet (q34
    // pattern — Verify runs queries before the driver runs oracle SQL),
    // so content preservation through the rewrite is what's hashed.
    "q71_compaction" -> Q(
      (s, d) => {
        val base = scratchDir("graft_compact_query")
        t(s, d, "documents")
          .repartition(64) // deliberately fragment: the small-files state
          .write.mode("overwrite").parquet(s"$base/frag")
        val stats = graft.operators.Maintenance
          .compactParquet(s, s"$base/frag", s"$base/out", targetBytes = 256L * 1024 * 1024)
        require(stats.outputFiles < stats.inputFiles,
          s"compaction did not reduce file count: $stats")
        s.read.parquet(s"$base/out")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars").cast("long")).as("total_chars"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"))
          .orderBy(col("source"))
      },
      Some(s"""SELECT source, count(*) AS n_docs,
              |  sum(n_chars)::BIGINT AS total_chars,
              |  min(doc_id) AS min_id, max(doc_id) AS max_id
              |FROM '${scratchDir("graft_compact_query")}/out/*.parquet'
              |GROUP BY source ORDER BY source""".stripMargin)),

    // sequence packing (pretraining layout): global token offsets via a
    // distributed prefix-sum (bucketed local windows + broadcast bucket
    // bases — never a one-partition global window), then concatenate-
    // and-chunk arithmetic. The oracle is the plain global running sum.
    "q68_sequence_packing" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents").select(
          col("doc_id"),
          size(split(trim(col("text")), " ")).cast("long").as("n_tokens"))
        graft.operators.Packing
          .packSequences(docs, "doc_id", "n_tokens", capacity = 512, bucketSpan = 128)
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tokens
             |  FROM documents),
             |off AS (
             |  SELECT doc_id, n_tokens,
             |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             |      AS start_offset
             |  FROM toks)
             |SELECT doc_id, n_tokens, start_offset,
             |  start_offset // 512 AS chunk_id,
             |  start_offset % 512 AS chunk_offset
             |FROM off ORDER BY doc_id""".stripMargin)),

    // REAL codec round-trip: each doc_id is encoded executor-side as a
    // genuine BMP / PNG / WAV / AVI file (id-derived dims), then decoded
    // by parsing the actual container headers (Codecs). The oracle
    // predicts every parsed field — and the exact encoded byte size for
    // the fixed-layout formats — from doc_id arithmetic: wrong header
    // layout on either the encode or parse side fails the hash. PNG byte
    // size is deflate-dependent (not SQL-predictable), so it is NULLed
    // both sides; its width/height/bit_depth still come from the parsed
    // IHDR. The minimal AVI is constant-size (100 B) by construction.
    "q65_real_codec_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeMediaAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeMedia(assets)
          .select(
            col("asset_id"), col("codec"), col("width"), col("height"),
            col("bit_depth"), col("sample_rate"), col("n_channels"),
            col("n_samples"), col("n_frames"),
            when(col("codec") =!= "png", col("n_bytes")).as("n_bytes"))
          .orderBy(col("asset_id"))
      },
      Some("""SELECT doc_id AS asset_id,
             |  ['bmp','png','wav','avi'][CAST(doc_id % 4 AS INT) + 1] AS codec,
             |  CASE WHEN doc_id % 4 IN (0, 1, 3) THEN doc_id % 31 + 1 END AS width,
             |  CASE WHEN doc_id % 4 IN (0, 1, 3) THEN doc_id % 17 + 1 END AS height,
             |  CASE WHEN doc_id % 4 = 0 THEN 24::BIGINT
             |       WHEN doc_id % 4 = 1 THEN 8::BIGINT
             |       WHEN doc_id % 4 = 2 THEN 16::BIGINT END AS bit_depth,
             |  CASE WHEN doc_id % 4 = 2 THEN 8000 + (doc_id % 8) * 1000 END
             |    AS sample_rate,
             |  CASE WHEN doc_id % 4 = 2 THEN doc_id % 2 + 1 END AS n_channels,
             |  CASE WHEN doc_id % 4 = 2 THEN doc_id % 100 + 1 END AS n_samples,
             |  CASE WHEN doc_id % 4 = 3 THEN doc_id % 50 + 1 END AS n_frames,
             |  CASE WHEN doc_id % 4 = 0 THEN
             |         54 + (doc_id % 17 + 1) * (((3 * (doc_id % 31 + 1) + 3) // 4) * 4)
             |       WHEN doc_id % 4 = 2 THEN
             |         44 + (doc_id % 100 + 1) * (doc_id % 2 + 1) * 2
             |       WHEN doc_id % 4 = 3 THEN 100::BIGINT END AS n_bytes
             |FROM documents ORDER BY asset_id""".stripMargin)))

  // ---------------------------------------------------------------------
  // Extended SQL surface: grouping sets, subquery decorrelation through
  // SQL text, typed UDAF, date/string batteries, collect aggregates,
  // approx distinct, unpivot
  // ---------------------------------------------------------------------

  private val extendedSurface: Seq[(String, Q)] = Seq(
    "q37_grouping_sets" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders")
        t(s, d, "customer").createOrReplaceTempView("customer")
        // the SQL text is engine-portable: identical in Spark SQL + DuckDB
        s.sql("""SELECT c_mktsegment, o_orderstatus, count(*) AS n,
                |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))),2) AS DOUBLE) AS total
                |FROM orders JOIN customer ON o_custkey = c_custkey
                |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
                |ORDER BY c_mktsegment ASC NULLS FIRST,
                |  o_orderstatus ASC NULLS FIRST""".stripMargin)
      },
      Some("""SELECT c_mktsegment, o_orderstatus, count(*) AS n,
             |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))),2) AS DOUBLE) AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
             |ORDER BY c_mktsegment ASC NULLS FIRST,
             |  o_orderstatus ASC NULLS FIRST""".stripMargin)),

    // correlated scalar subquery through SQL text — Catalyst decorrelates
    // (RewriteCorrelatedScalarSubquery) into the aggregate+join q14 spells
    // out manually
    "q38_subquery_decorrelation" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders")
        // decimal-exact sum -> double mean: the correlated threshold is
        // membership-critical, so it must be summation-order independent.
        // SQL text is engine-portable (identical in Spark SQL + DuckDB).
        s.sql("""SELECT o.o_orderkey, o.o_totalprice FROM orders o
                |WHERE o.o_totalprice > (SELECT round(
                |    1.5 * CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                |      / count(*), 2)
                |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
                |ORDER BY o.o_orderkey""".stripMargin)
      },
      Some("""SELECT o.o_orderkey, o.o_totalprice FROM orders o
             |WHERE o.o_totalprice > (SELECT round(
             |    1.5 * CAST(sum(CAST(o2.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             |      / count(*), 2)
             |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
             |ORDER BY o.o_orderkey""".stripMargin)),

    // same result contract as q27 but via the bounded-buffer typed
    // Aggregator (map-side top-k, no global sort)
    "q39_topk_udaf" -> Q(
      (s, d) => {
        import s.implicits._
        val emb = t(s, d, "embeddings")
        val q = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
        val scored = emb
          .join(broadcast(q), col("q_id") =!= col("vec_id"))
          .select(
            col("q_id"),
            col("vec_id").as("n_id"),
            round(F.cosineSim(col("qv"), col("embedding")), 6).as("score"))
          .as[(Long, Long, Double)]
        scored
          .map { case (qid, nid, sc) => (qid, graft.functions.ScoredId(nid, sc)) }
          .groupByKey(_._1)
          .mapValues(_._2)
          .agg(new graft.functions.TopKByScore(5).toColumn)
          .flatMap { case (qid, tops) =>
            tops.zipWithIndex.map { case (sid, i) =>
              (qid, (i + 1).toLong, sid.n_id, sid.score)
            }
          }
          .toDF("q_id", "rank", "n_id", "cos")
          .orderBy(col("q_id"), col("rank"))
      },
      Some("""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
             |  FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
             |sc AS (SELECT q_id, n_id, round(list_cosine_similarity(qv, nv), 6) AS cos
             |  FROM q CROSS JOIN c WHERE q_id <> n_id),
             |r AS (SELECT q_id, n_id, cos, row_number() OVER (
             |  PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc)
             |SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    "q40_date_funcs" -> Q(
      (s, d) => {
        t(s, d, "orders")
          .select(
            col("o_orderkey"),
            trunc(col("o_orderdate"), "month").as("mon_start"),
            datediff(to_date(lit("2002-01-01")), to_date(col("o_orderdate")))
              .cast("bigint").as("days_to_end"),
            (dayofweek(col("o_orderdate")) - 1).cast("bigint").as("dow"),
            quarter(col("o_orderdate")).cast("bigint").as("qtr"),
            weekofyear(col("o_orderdate")).cast("bigint").as("woy"),
            last_day(col("o_orderdate")).as("month_end"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey,
             |  date_trunc('month', o_orderdate::DATE) AS mon_start,
             |  date_diff('day', o_orderdate::DATE, DATE '2002-01-01')::BIGINT AS days_to_end,
             |  dayofweek(o_orderdate)::BIGINT AS dow,
             |  quarter(o_orderdate)::BIGINT AS qtr,
             |  weekofyear(o_orderdate)::BIGINT AS woy,
             |  last_day(o_orderdate::DATE) AS month_end
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    "q41_string_funcs" -> Q(
      (s, d) => {
        t(s, d, "customer")
          .select(
            col("c_custkey"),
            lpad(col("c_custkey").cast("string"), 8, "0").as("padded"),
            translate(col("c_name"), "#", "_").as("tr_name"),
            reverse(col("c_mktsegment")).as("rev_seg"),
            instr(col("c_name"), "#").cast("bigint").as("hash_pos"),
            levenshtein(col("c_mktsegment"), lit("BUILDING")).cast("bigint").as("lev"),
            expr("repeat('*', CAST(c_custkey % 4 + 1 AS INT))").as("stars"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey,
             |  lpad(c_custkey::VARCHAR, 8, '0') AS padded,
             |  translate(c_name, '#', '_') AS tr_name,
             |  reverse(c_mktsegment) AS rev_seg,
             |  strpos(c_name, '#')::BIGINT AS hash_pos,
             |  levenshtein(c_mktsegment, 'BUILDING')::BIGINT AS lev,
             |  repeat('*', (c_custkey % 4 + 1)::INT) AS stars
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    "q42_collect_agg" -> Q(
      (s, d) => {
        t(s, d, "customer")
          .groupBy(col("c_mktsegment"))
          .agg(
            concat_ws(",", array_sort(collect_set(col("c_nationkey"))).cast("array<string>"))
              .as("nations"),
            countDistinct(col("c_nationkey")).as("n_nations"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment,
             |  array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
             |  count(DISTINCT c_nationkey) AS n_nations
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // HLL sketch values are implementation-specific, so the raw estimate
    // cannot be hash-compared — instead the exact counts are oracled and
    // the estimate is hash-checked as a tolerance PREDICATE: the oracle
    // pins approx_ok to TRUE, so an HLL estimate drifting past 5% fails
    // the driver's hash gate (QueriesSpec asserts the same bound).
    "q43_approx_distinct" -> Q(
      (s, d) => {
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("exact_parts"),
            countDistinct(col("l_suppkey")).as("exact_supps"),
            (abs(approx_count_distinct(col("l_partkey")) - countDistinct(col("l_partkey")))
              .cast("double") / countDistinct(col("l_partkey")) <= 0.05).as("approx_ok"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS exact_parts,
             |  count(DISTINCT l_suppkey) AS exact_supps,
             |  TRUE AS approx_ok
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // q19's as-of semantics through the custom LogicalPlan/SparkStrategy/
    // SparkPlan operator (graft.plans.AsOfJoinExec) — same oracle as q19,
    // so the window-composition and merge-exec implementations are
    // cross-checked against each other and against DuckDB's ASOF JOIN
    "q45_asof_custom" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
        val errors = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("err_value"))
          .withColumnRenamed("ts", "err_ts")
        graft.plans.AsOfJoinApi
          .asofJoinExec(clicks, errors, "user_id", "ts", "err_ts",
            Seq("err_ts", "err_value"))
          .select(
            col("event_id"), col("user_id"),
            unix_millis(col("ts")).as("click_ms"),
            unix_millis(col("asof_err_ts")).as("prev_error_ms"),
            col("asof_err_value").as("err_value"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS click_ms,
             |  epoch_ms(r.ts) AS prev_error_ms, r.err_value
             |FROM events e
             |ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS err_value
             |  FROM events WHERE event_type = 'error' GROUP BY user_id, ts) r
             |ON e.user_id = r.user_id AND e.ts >= r.ts
             |WHERE e.event_type = 'click'
             |ORDER BY e.event_id""".stripMargin)),

    // large-large join: the merge hint forces sort-merge (dimension
    // joins elsewhere all broadcast; at 100 TB a fact-fact join is SMJ
    // territory and must co-partition both sides on the key)
    "q52_sortmerge_join" -> Q(
      (s, d) => {
        val li = t(s, d, "lineitem").hint("merge")
        val ord = t(s, d, "orders")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_items"),
            dsum(col("l_extendedprice")).as("total_price"),
            countDistinct(col("o_orderkey")).as("n_orders"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             |  round(sum(l_extendedprice::DECIMAL(18,6)),2)::DOUBLE AS total_price,
             |  count(DISTINCT o_orderkey) AS n_orders
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // streaming exact dedup under the oracle gate: the input is the
    // events file symlinked twice (2n duplicated rows); the deduped
    // stream must equal the original table exactly
    "q46_streaming_dedup" -> Q(
      (s, d) => {
        // per-JVM tagged dir: a fixed shared-tmp name would let a
        // concurrent process re-point the symlinks mid-stream
        val dir = java.nio.file.Paths.get(scratchDir("graft_q46_dup"))
        java.nio.file.Files.createDirectories(dir)
        val src = java.nio.file.Paths.get(s"$d/events.parquet")
        for (name <- Seq("a.parquet", "b.parquet")) {
          val link = dir.resolve(name)
          // recreate each link: a stale link (e.g. pointing at another
          // SF dir from a previous run) would corrupt the dedup input
          java.nio.file.Files.deleteIfExists(link)
          java.nio.file.Files.createSymbolicLink(link, src)
        }
        val name = "graft_stream_dedup_q46"
        s.catalog.dropTempView(name)
        graft.streaming.EventStreams
          .runToMemory(s, dir.toString, graft.streaming.EventStreams.dedupStream, name)
          .select(
            col("event_id"), col("user_id"), col("event_type"),
            unix_millis(col("ts")).as("ts_ms"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value
             |FROM events ORDER BY event_id""".stripMargin)),

    // salted-join skew handling, checked against the plain-join oracle
    "q47_salted_join" -> Q(
      (s, d) => {
        val li = t(s, d, "lineitem").withColumnRenamed("l_suppkey", "suppkey")
        val sup = t(s, d, "supplier").withColumnRenamed("s_suppkey", "suppkey")
        // salt over columns the query reads anyway -> the scan stays
        // pruned to 4 columns instead of the full lineitem schema
        graft.operators.SkewJoin.saltedJoin(li, sup, "suppkey", salts = 8,
            saltCols = Seq("l_extendedprice", "l_discount"))
          .groupBy(col("s_name"))
          .agg(
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("s_name"))
      },
      Some("""SELECT s_name,
             |  round(sum((l_extendedprice*(1-l_discount))::DECIMAL(18,6)),2)::DOUBLE AS revenue,
             |  count(*) AS n_items
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_name ORDER BY s_name""".stripMargin)),

    // lateral-view / explode path: canonical word count over the corpus
    "q49_wordcount" -> Q(
      (s, d) => {
        t(s, d, "documents")
          .select(explode(F.tokens(col("text"))).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token"))
          .limit(30)
      },
      Some("""SELECT token, count(*) AS n FROM (
             |  SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
             |GROUP BY token ORDER BY n DESC, token LIMIT 30""".stripMargin)),

    // non-equi range join: event values bucketed against a derived
    // boundary table (broadcast nested loop on the Spark side)
    "q50_range_join" -> Q(
      (s, d) => {
        val buckets = s.range(0, 10)
          .select(
            col("id").as("bucket_id"),
            (col("id") * 20).cast("double").as("lo"),
            ((col("id") + 1) * 20).cast("double").as("hi"))
        t(s, d, "events")
          .join(broadcast(buckets), col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy(col("bucket_id"))
          .agg(count(lit(1)).as("n_events"), usum(col("value")).as("total_micros"))
          .orderBy(col("bucket_id"))
      },
      Some("""SELECT b.bucket_id, count(*) AS n_events,
             |  sum(floor(e.value*1e6)::BIGINT)::BIGINT AS total_micros
             |FROM events e
             |JOIN (SELECT range AS bucket_id, range*20 AS lo, (range+1)*20 AS hi
             |      FROM range(0,10)) b
             |  ON e.value >= b.lo AND e.value < b.hi
             |GROUP BY b.bucket_id ORDER BY b.bucket_id""".stripMargin)),

    // null semantics battery: coalesce / nullif / CASE over NULL,
    // null-safe equality, count vs count(col) with NULLs
    "q51_null_semantics" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
          .withColumn("maybe", when(col("event_type") === "error", col("value")))
        ev.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("maybe")).as("n_nonnull"),
            coalesce(usum(col("maybe")), lit(0L)).as("sum_maybe_micros"),
            count(when(col("maybe").isNull, 1)).as("n_null"),
            count(nullif(col("event_type"), lit("view"))).as("n_not_view"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n_rows,
             |  count(CASE WHEN event_type = 'error' THEN value END) AS n_nonnull,
             |  coalesce(sum(floor((CASE WHEN event_type = 'error' THEN value
             |    END)*1e6)::BIGINT)::BIGINT, 0) AS sum_maybe_micros,
             |  count(CASE WHEN (CASE WHEN event_type = 'error' THEN value END) IS NULL
             |    THEN 1 END) AS n_null,
             |  count(nullif(event_type, 'view')) AS n_not_view
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    "q55_stat_aggregates" -> Q(
      (s, d) => {
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
            round(var_samp(col("l_discount")), 6).as("var_disc"),
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
            round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qty_disc"),
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
            davg(col("l_tax"), 6).as("avg_tax"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
             |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
             |  round(var_samp(l_discount), 6) AS var_disc,
             |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
             |  round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc,
             |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 4)
             |    AS median_price,
             |  round(sum(l_tax::DECIMAL(18,6))::DOUBLE / count(*), 6) AS avg_tax
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      // production/bench path: exact `percentile` buffers every value per
      // group (an OOM at 100 TB) — the benched variant uses the
      // fixed-memory GK sketch (approx_percentile). Exact stays above for
      // the small-SF oracle; QueriesSpec asserts the two agree within
      // tolerance.
      benchFn = Some((s, d) => {
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
            round(var_samp(col("l_discount")), 6).as("var_disc"),
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
            round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qty_disc"),
            round(expr("approx_percentile(l_extendedprice, 0.5, 1000)"), 4)
              .as("median_price"),
            davg(col("l_tax"), 6).as("avg_tax"))
          .orderBy(col("l_returnflag"))
      })),

    "q56_array_funcs" -> Q(
      (s, d) => {
        val toks = F.tokens(col("text"))
        t(s, d, "documents")
          .select(
            col("doc_id"),
            array_contains(toks, "join").as("has_join"),
            size(slice(toks, 1, 5)).cast("bigint").as("first5"),
            element_at(array_sort(array_distinct(toks)), 1).as("min_tok"),
            element_at(array_sort(array_distinct(toks)), -1).as("max_tok"),
            concat_ws("|", slice(reverse(toks), 1, 3)).as("last3_rev"),
            size(flatten(array(toks, toks))).cast("bigint").as("doubled"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t0 AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents)
             |SELECT doc_id,
             |  list_contains(t, 'join') AS has_join,
             |  len(t[1:5]) AS first5,
             |  list_sort(list_distinct(t))[1] AS min_tok,
             |  list_sort(list_distinct(t))[-1] AS max_tok,
             |  array_to_string(list_reverse(t)[1:3], '|') AS last3_rev,
             |  len(t || t) AS doubled
             |FROM t0 ORDER BY doc_id""".stripMargin)),

    // bucketed co-located join: both fact tables are written bucketed on
    // the join key (the one-time shuffle), then the recurring join plans
    // with NO exchange on either side — the warehouse layout for
    // repeatedly-joined 100 TB facts. Oracle is the plain join. The
    // benched path reuses an existing layout (Bench warms q58 up first),
    // so the timed number is the RECURRING join — the cost a production
    // pipeline pays per run once the layout exists.
    "q58_bucketed_join" -> Q(
      (s, d) => q58BucketedJoin(s, d, reuseLayout = false),
      Some("""SELECT o_orderstatus, count(*) AS n_items,
             |  round(sum(l_extendedprice::DECIMAL(18,6)),2)::DOUBLE AS total_price
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      benchFn = Some((s, d) => q58BucketedJoin(s, d, reuseLayout = true))),

    // deterministic hash sampling + train/val/test splitting: assignment
    // is a pure function of (salt, id) through the md5-derived hash64 —
    // stable across reruns/cluster sizes/engines (rand()/sampleBy is
    // none of those), which is what makes eval splits trustworthy
    "q59_deterministic_split" -> Q(
      (s, d) => {
        graft.operators.Sampling
          .assignSplits(t(s, d, "documents"), "doc_id", trainPct = 80, valPct = 10)
          .groupBy(col("lang"), col("split"))
          .agg(
            count(lit(1)).as("n_docs"),
            count(when(
              graft.operators.Sampling.bucket(col("doc_id"), "sample", 100) < 10,
              1)).as("n_in_10pct"))
          .orderBy(col("lang"), col("split"))
      },
      Some(s"""WITH x AS (SELECT lang, doc_id,
              |  ${dHash64("'split:'||doc_id")} % 100 AS b,
              |  ${dHash64("'sample:'||doc_id")} % 100 AS sb
              |FROM documents)
              |SELECT lang,
              |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
              |    ELSE 'test' END AS split,
              |  count(*) AS n_docs,
              |  count(CASE WHEN sb < 10 THEN 1 END) AS n_in_10pct
              |FROM x GROUP BY 1, 2 ORDER BY lang, split""".stripMargin)),

    // the dedup endgame applied to splitting: split is hashed from the
    // near-dup GROUP's canonical id, so no near-duplicate pair ever
    // straddles train/test (the standard eval-leakage guard)
    "q60_leakage_safe_split" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = Dedup
          .minhashLsh(docs, "doc_id", "text",
            shingleN = 3, numHashes = minhashSeeds, bands = minhashBands)
          .filter(col("est_jaccard") >= 0.5)
        graft.operators.Sampling
          .leakageSafeSplits(docs, "doc_id", pairs, trainPct = 80, valPct = 10)
          .groupBy(col("split"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("canonical_id")).as("n_groups"))
          .orderBy(col("split"))
      },
      Some(s"""$duckMinhashCtes,
              |cand AS (
              |  SELECT DISTINCT doc_a, doc_b FROM (
              |    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
              |      round(len([i for i in range(1, ${minhashSeeds + 1})
              |        if a.sig[i] = b2.sig[i]])::DOUBLE / $minhashSeeds, 6) AS ej
              |    FROM bands a JOIN bands b2
              |      ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id)
              |  WHERE ej >= 0.5),
              |edges AS (
              |  SELECT doc_a AS u, doc_b AS v FROM cand
              |  UNION SELECT doc_b, doc_a FROM cand),
              |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
              |reach(doc_id, r) AS (
              |  SELECT doc_id, doc_id FROM nodes
              |  UNION
              |  SELECT reach.doc_id, edges.v FROM reach
              |    JOIN edges ON reach.r = edges.u),
              |canon AS (
              |  SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id),
              |labeled AS (
              |  SELECT d.doc_id,
              |    coalesce(canon.canonical_id, d.doc_id) AS cid
              |  FROM documents d LEFT JOIN canon ON d.doc_id = canon.doc_id),
              |split AS (
              |  SELECT cid,
              |    ${dHash64("'split:'||cid")} % 100 AS b,
              |    doc_id
              |  FROM labeled)
              |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
              |    ELSE 'test' END AS split,
              |  count(*) AS n_docs,
              |  count(DISTINCT cid) AS n_groups
              |FROM split GROUP BY 1 ORDER BY split""".stripMargin
        .replaceFirst("^WITH ", "WITH RECURSIVE "))),

    // incremental dedup: the new ingest batch (doc_id % 10 = 9) is hashed
    // and band-joined against the EXISTING corpus signatures — signatures
    // are computed once per document ever; a daily batch never rescans
    // the 100 TB corpus text. Oracle = all band pairs touching the batch.
    "q62_incremental_dedup" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val corpus = docs.filter(col("doc_id") % 10 =!= 9)
        val batch = docs.filter(col("doc_id") % 10 === 9)
        val corpusSigs = Dedup.minhashSignatures(
          corpus, "doc_id", "text", shingleN = 3, numHashes = minhashSeeds)
        Dedup.minhashLshIncremental(batch, "doc_id", "text", corpusSigs,
            shingleN = 3, numHashes = minhashSeeds, bands = minhashBands)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""$duckMinhashCtes
              |SELECT DISTINCT least(a.doc_id, b2.doc_id) AS doc_a,
              |  greatest(a.doc_id, b2.doc_id) AS doc_b,
              |  round(len([i for i in range(1, ${minhashSeeds + 1})
              |    if a.sig[i] = b2.sig[i]])::DOUBLE / $minhashSeeds, 6) AS est_jaccard
              |FROM bands a JOIN bands b2
              |  ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id <> b2.doc_id
              |WHERE b2.doc_id % 10 = 9
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // tf-idf top terms per document (rational-idf variant: IEEE division
    // is exactly rounded so the score is bit-identical across engines;
    // libm log differs by ulps between runtimes — see TextAnalysis.tfIdf)
    "q61_tfidf_top_terms" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term"))
        TextAnalysis
          .tfIdf(t(s, d, "documents"), "doc_id", "text", rationalIdf = true)
          .filter(col("doc_id") < 50)
          .withColumn("rank", row_number().over(w).cast("bigint"))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
          .orderBy(col("doc_id"), col("rank"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*) AS dfq FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT doc_id, term,
             |    round(tf * ((n.n_docs + 1)::DOUBLE / (dfq.dfq + 1)), 6) AS tfidf
             |  FROM tf JOIN dfq USING (term) CROSS JOIN n
             |  WHERE doc_id < 50),
             |r AS (SELECT doc_id, term, tfidf, row_number() OVER (
             |  PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank FROM scored)
             |SELECT doc_id, rank, term, tfidf FROM r WHERE rank <= 3
             |ORDER BY doc_id, rank""".stripMargin)),

    // Okapi BM25 retrieval scoring (rational-idf variant under the hash
    // gate — see TextAnalysis.bm25: with the ln dropped, every op is an
    // exactly-rounded IEEE op over an identical expression tree, so both
    // engines produce bit-identical doubles). Top-100 scores corpus-wide.
    "q69_bm25_scores" -> Q(
      (s, d) => {
        TextAnalysis
          .bm25(t(s, d, "documents"), "doc_id", "text", rationalIdf = true)
          .orderBy(col("bm25").desc, col("doc_id"), col("term"))
          .limit(100)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents),
             |dl AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM toks),
             |terms AS (SELECT doc_id, unnest(ts) AS term FROM toks),
             |tfq AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*) AS dfq FROM tfq GROUP BY 1),
             |stats AS (SELECT count(*) AS n_docs, sum(dl)::DOUBLE AS tot_dl FROM dl)
             |SELECT doc_id, term, tf,
             |  round(((n_docs - dfq + 0.5::DOUBLE) / (dfq + 0.5::DOUBLE))
             |    * (tf * 2.2::DOUBLE)
             |    / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
             |        + 0.75::DOUBLE * dl / (tot_dl / n_docs))), 6) AS bm25
             |FROM tfq JOIN dfq USING (term) JOIN dl USING (doc_id), stats
             |ORDER BY bm25 DESC, doc_id, term LIMIT 100""".stripMargin)),

    // BM25 retrieval: top-20 docs for a free-text query (sum of per-term
    // scores over the query's tokens, exact-decimal summed so the
    // ranking is deterministic). Same engine-exact rational idf as q69.
    "q73_bm25_search" -> Q(
      (s, d) => {
        TextAnalysis.bm25Search(t(s, d, "documents"), "doc_id", "text",
            queryText = "hash join vector", k = 20, rationalIdf = true)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents),
             |dl AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM toks),
             |terms AS (SELECT doc_id, unnest(ts) AS term FROM toks),
             |tfq AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*) AS dfq FROM tfq GROUP BY 1),
             |stats AS (SELECT count(*) AS n_docs, sum(dl)::DOUBLE AS tot_dl FROM dl),
             |scored AS (
             |  SELECT doc_id, term,
             |    round(((n_docs - dfq + 0.5::DOUBLE) / (dfq + 0.5::DOUBLE))
             |      * (tf * 2.2::DOUBLE)
             |      / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
             |          + 0.75::DOUBLE * dl / (tot_dl / n_docs))), 6) AS bm25
             |  FROM tfq JOIN dfq USING (term) JOIN dl USING (doc_id), stats
             |  WHERE term IN ('hash', 'join', 'vector'))
             |SELECT doc_id,
             |  round(sum(bm25::DECIMAL(18,6)), 6)::DOUBLE AS score,
             |  count(*) AS n_matched
             |FROM scored GROUP BY doc_id
             |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    "q44_unpivot" -> Q(
      (s, d) => {
        t(s, d, "part")
          .select(
            col("p_partkey"),
            col("p_retailprice"),
            col("p_size").cast("double").as("p_size"))
          .unpivot(
            Array(col("p_partkey")),
            Array(col("p_retailprice"), col("p_size")),
            "metric", "val")
          .orderBy(col("p_partkey"), col("metric"))
      },
      Some("""SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
             |UNION ALL
             |SELECT p_partkey, 'p_size', p_size::DOUBLE FROM part
             |ORDER BY p_partkey, metric""".stripMargin)))

  // ---------------------------------------------------------------------
  // Round-4 surface: contamination audit, PII redaction, repetition
  // quality, dataset mixing, quantized ANN
  // ---------------------------------------------------------------------

  private val roundFourSurface: Seq[(String, Q)] = Seq(
    // benchmark-contamination audit: per eval doc, fraction of its
    // 3-grams already present anywhere in the train split
    "q74_contamination" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        TextAnalysis.contamination(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0),
            "doc_id", "text", shingleN = 3)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t0 AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
              |g0 AS (
              |  SELECT doc_id,
              |    CASE WHEN len(t) >= 3
              |    THEN list_distinct([array_to_string(t[i:i+2], ' ')
              |      for i in range(1, len(t) - 1)])
              |    ELSE [] END AS grams
              |  FROM t0),
              |tg AS (
              |  SELECT DISTINCT ${dHash64("g")} AS gh
              |  FROM (SELECT unnest(grams) AS g FROM g0 WHERE doc_id % 5 <> 0)),
              |e AS (SELECT doc_id, len(grams)::BIGINT AS n_grams, grams
              |  FROM g0 WHERE doc_id % 5 = 0 AND len(grams) > 0),
              |eg AS (SELECT doc_id, ${dHash64("g")} AS gh
              |  FROM (SELECT doc_id, unnest(grams) AS g FROM e)),
              |hits AS (
              |  SELECT doc_id, count(*) AS n_overlap
              |  FROM eg WHERE gh IN (SELECT gh FROM tg) GROUP BY doc_id)
              |SELECT e.doc_id, n_grams,
              |  coalesce(n_overlap, 0)::BIGINT AS n_overlap,
              |  floor(1e6 * (coalesce(n_overlap, 0)::DOUBLE / n_grams))::BIGINT
              |    AS contamination_ppm
              |FROM e LEFT JOIN hits USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // PII redaction over deterministically PII-augmented text (the base
    // corpus is synthetic and PII-free, so both sides inject the same
    // email/phone/SSN material before scrubbing)
    "q75_pii_redaction" -> Q(
      (s, d) => {
        val aug = concat(
          col("text"), lit(" mail doc"), col("doc_id").cast("string"),
          lit("@test.org call 555-010-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" ssn 123-45-6789"))
        TextAnalysis.redactPii(
            t(s, d, "documents").withColumn("aug", aug), "doc_id", "aug")
          .orderBy(col("doc_id"))
      },
      Some {
        val aug = "text || ' mail doc' || doc_id::VARCHAR || " +
          "'@test.org call 555-010-' || " +
          "lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' ssn 123-45-6789'"
        val redacted = TextAnalysis.piiPatterns.foldLeft(aug) {
          case (c, (_, pat, tok)) => s"regexp_replace($c, '$pat', '$tok', 'g')"
        }
        val counts = TextAnalysis.piiPatterns.map { case (name, pat, _) =>
          s"len(regexp_extract_all($aug, '$pat'))::BIGINT AS n_$name"
        }.mkString(",\n  ")
        s"""SELECT doc_id,
           |  $redacted AS redacted,
           |  $counts
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // intra-document repetition metrics (boilerplate/loop detection)
    "q76_repetition" -> Q(
      (s, d) => {
        TextAnalysis.repetitionScore(t(s, d, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t0 AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
             |m AS (
             |  SELECT doc_id, t, list_distinct(t) AS d,
             |    CASE WHEN len(t) >= 2
             |    THEN [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]
             |    ELSE [] END AS g2
             |  FROM t0)
             |SELECT doc_id,
             |  len(t)::BIGINT AS n_tokens,
             |  len(d)::BIGINT AS n_distinct,
             |  floor(1e6 * (len(d)::DOUBLE / len(t)))::BIGINT AS distinct_ratio_ppm,
             |  list_max([len(list_filter(t, x -> x = td)) for td in d])::BIGINT
             |    AS max_token_freq,
             |  CASE WHEN len(g2) = 0 THEN 0::BIGINT
             |    ELSE floor(1e6 * (1.0::DOUBLE - len(list_distinct(g2))::DOUBLE / len(g2)))::BIGINT
             |  END AS dup_bigram_ppm
             |FROM m ORDER BY doc_id""".stripMargin)),

    // training-mix construction: deterministic per-source downsampling to
    // target proportions (scarcest source limits the total)
    "q77_dataset_mixing" -> Q(
      (s, d) => {
        import s.implicits._
        val weights = Map("src0" -> 50L, "src1" -> 30L, "src2" -> 20L)
        val docs = t(s, d, "documents")
        val planDf = Sampling.mixPlan(docs, "source", weights)
          .toDF("source", "n_total", "accept_ppm")
        Sampling.mixSources(docs, "source", "doc_id", weights)
          .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
          .join(planDf, "source")
          .select(col("source"), col("n_total"), col("accept_ppm"), col("n_sampled"))
          .orderBy(col("source"))
      },
      Some(s"""WITH w(source, wt) AS (VALUES ('src0', 50), ('src1', 30), ('src2', 20)),
              |c AS (SELECT d.source, count(*) AS n, any_value(wt) AS wt
              |  FROM documents d JOIN w ON d.source = w.source GROUP BY d.source),
              |tt AS (SELECT min(n * 100 // wt) AS t FROM c),
              |acc AS (SELECT source, n AS n_total,
              |    (t * wt // 100) * 1000000 // n AS accept_ppm
              |  FROM c, tt),
              |sm AS (SELECT d.source, count(*) AS n_sampled
              |  FROM documents d JOIN acc ON d.source = acc.source
              |  WHERE ${dHash64("'mix:'||doc_id")} % 1000000 < accept_ppm
              |  GROUP BY d.source)
              |SELECT acc.source, n_total::BIGINT AS n_total,
              |  accept_ppm::BIGINT AS accept_ppm, n_sampled
              |FROM acc JOIN sm ON acc.source = sm.source
              |ORDER BY acc.source""".stripMargin)),

    // int8-quantized brute-force ANN: 4x narrower vectors, integer-exact
    // quantized cosine (oracle checks the quantization arithmetic too)
    "q78_quantized_ann" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.quantizedTopK(
            emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
          .select(col("q_id"), col("rank").cast("bigint").as("rank"),
            col("n_id"), col("qcos"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |m0 AS (SELECT vec_id, e,
             |    list_max(list_transform(e, x -> abs(x))) AS m FROM v),
             |qz AS (SELECT vec_id,
             |    CASE WHEN m = 0 THEN list_transform(e, x -> 0.0::DOUBLE)
             |    ELSE list_transform(e, x -> floor(x * 127.0::DOUBLE / m + 0.5::DOUBLE))
             |    END AS qv
             |  FROM m0),
             |sc AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |    round(list_cosine_similarity(q.qv, c.qv), 6) AS qcos
             |  FROM qz q JOIN qz c ON q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 10),
             |r AS (SELECT q_id, n_id, qcos, row_number() OVER (
             |  PARTITION BY q_id ORDER BY qcos DESC, n_id) AS rank FROM sc)
             |SELECT q_id, rank, n_id, qcos FROM r WHERE rank <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    // z-order (Morton) clustered rewrite of orders on (custkey, date):
    // read back through a 2-D box predicate — content must round-trip
    // bit-exactly vs the same predicate on the ORIGINAL table, and the
    // layout makes file/row-group stats tight on BOTH dimensions
    // (clustering quality is asserted in LayoutSpec; scan pruning in
    // PlanSpec)
    "q79_zorder_layout" -> Q(
      (s, d) => {
        val base = scratchDir("graft_zorder_query")
        graft.operators.Layout.zorderWrite(
          t(s, d, "orders"), "o_custkey", "o_orderdate", s"$base/out",
          numFiles = 8)
        s.read.parquet(s"$base/out")
          .filter(col("o_custkey").between(100, 500) &&
            col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
          .agg(
            count(lit(1)).as("n_orders"),
            usum(col("o_totalprice")).as("total_price_micros"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
      },
      Some("""SELECT count(*) AS n_orders,
             |  sum(floor(o_totalprice*1e6)::BIGINT)::BIGINT AS total_price_micros,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM orders
             |WHERE o_custkey BETWEEN 100 AND 500
             |  AND o_orderdate >= TIMESTAMP '1995-01-01'
             |  AND o_orderdate < TIMESTAMP '1996-01-01'""".stripMargin)),

    // streaming ANN serving: the q27 retrieval result produced by the
    // online path — query embeddings arrive as a stream, each micro-batch
    // is scored against the static corpus (same oracle as q27)
    "q80_streaming_ann" -> Q(
      (s, d) => {
        graft.streaming.AnnServing.serveTopK(
            s,
            corpus = t(s, d, "embeddings"),
            queriesPath = s"$d/embeddings.parquet",
            querySchemaDDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
            queryFilter = col("vec_id") < 10,
            idCol = "vec_id", vecCol = "embedding", k = 5)
          .select(col("q_id"), col("rank").cast("bigint").as("rank"),
            col("n_id"), col("cos"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some("""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
             |  FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS n_id, embedding::DOUBLE[] AS nv FROM embeddings),
             |sc AS (SELECT q_id, n_id, round(list_cosine_similarity(qv, nv), 6) AS cos
             |  FROM q CROSS JOIN c WHERE q_id <> n_id),
             |r AS (SELECT q_id, n_id, cos, row_number() OVER (
             |  PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc)
             |SELECT q_id, rank, n_id, cos FROM r WHERE rank <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    // SemDeDup: per-vector keep/drop verdict from intra-cluster cosine —
    // the 16 lowest-id vectors stand in as a pre-trained coarse
    // quantizer (the k-means trainer is ivfTrainCentroids, spec-tested;
    // a literal centroid set is what makes the oracle exact)
    "q81_semantic_dedup" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.semanticDedup(
            emb, "vec_id", "embedding",
            Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 16L),
            threshold = 0.35)
          .orderBy(col("vec_id"))
      },
      Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
             |cents AS (SELECT vec_id AS cent_id, e AS ce FROM v WHERE vec_id < 16),
             |assign AS (SELECT vec_id, e, cent_id AS cell FROM (
             |  SELECT v.vec_id, v.e, c.cent_id, row_number() OVER (
             |    PARTITION BY v.vec_id
             |    ORDER BY round(list_cosine_similarity(v.e, c.ce), 6) DESC, c.cent_id) AS rn
             |  FROM v CROSS JOIN cents c) WHERE rn = 1),
             |dups AS (SELECT a.vec_id AS dup_id, count(*)::BIGINT AS n_dups_lower
             |  FROM assign a JOIN assign b ON a.cell = b.cell
             |    AND b.vec_id < a.vec_id
             |    AND round(list_cosine_similarity(a.e, b.e), 6) >= 0.35
             |  GROUP BY a.vec_id)
             |SELECT v.vec_id, cell,
             |  coalesce(n_dups_lower, 0)::BIGINT AS n_dups_lower,
             |  dup_id IS NULL AS is_kept
             |FROM assign v LEFT JOIN dups ON v.vec_id = dups.dup_id
             |ORDER BY vec_id""".stripMargin)),

    // content-defined chunk dedup: partial-overlap detection (quoted
    // blocks, shared boilerplate) that whole-document signatures miss
    "q82_chunk_dedup" -> Q(
      (s, d) => {
        Dedup.chunkDupStats(t(s, d, "documents"), "doc_id", "text", divisor = 8)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t0 AS (SELECT doc_id, string_split(trim(text), ' ') AS t
              |  FROM documents),
              |tk AS (SELECT doc_id, unnest(t) AS tok,
              |    generate_subscripts(t, 1) AS pos FROM t0),
              |ck AS (SELECT doc_id, pos, tok,
              |    sum(CASE WHEN ${dHash64("tok")} % 8 = 0 THEN 1 ELSE 0 END)
              |      OVER (PARTITION BY doc_id ORDER BY pos) AS chunk
              |  FROM tk),
              |fp AS (SELECT doc_id, chunk,
              |    ${dHash64("string_agg(tok, ' ' ORDER BY pos)")} AS f
              |  FROM ck GROUP BY doc_id, chunk),
              |fr AS (SELECT f, count(DISTINCT doc_id) AS nd FROM fp GROUP BY f)
              |SELECT doc_id, count(*)::BIGINT AS n_chunks,
              |  sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared_chunks,
              |  floor(1e6 * (sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*)))::BIGINT
              |    AS dup_ppm
              |FROM fp JOIN fr ON fp.f = fr.f
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // fixed-weight linear quality classifier (CCNet-style model filter;
    // logit in micro-units, not sigmoid or a rounded double — exp() and
    // double round() ties are both engine-dependent)
    "q83_quality_classifier" -> Q(
      (s, d) => {
        TextAnalysis.qualityClassifier(
            t(s, d, "documents"), "doc_id", "text",
            Seq(
              "n_tokens" -> 0.02, "mean_token_len" -> 0.3,
              "punct_ratio" -> -20.0, "stopword_ratio" -> 4.0),
            intercept = -2.5)
          .orderBy(col("doc_id"))
      },
      Some("""WITH q AS (SELECT doc_id, text, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |f AS (SELECT doc_id,
             |  len(t)::BIGINT AS n_tokens,
             |  floor(1e6 * (list_sum([length(x) for x in t])::DOUBLE / len(t)))::BIGINT
             |    AS mtl_ppm,
             |  floor(1e6 * ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
             |    / length(text)))::BIGINT AS pr_ppm,
             |  floor(1e6 * (len(list_filter(t, x -> list_contains(
             |    ['the','a','of','and','to','in','is'], x)))::DOUBLE / len(t)))::BIGINT
             |    AS swr_ppm
             |  FROM q),
             |s AS (SELECT doc_id,
             |  floor((-2.5::DOUBLE + 0.02::DOUBLE * n_tokens::DOUBLE
             |    + 0.3::DOUBLE * (mtl_ppm::DOUBLE / 1e6) + -20.0::DOUBLE * (pr_ppm::DOUBLE / 1e6)
             |    + 4.0::DOUBLE * (swr_ppm::DOUBLE / 1e6)) * 1e6)::BIGINT AS logit_micros
             |  FROM f)
             |SELECT doc_id, logit_micros, logit_micros >= 0 AS keep
             |FROM s ORDER BY doc_id""".stripMargin)),

    // bigram-LM fluency scoring (KenLM-recipe core) — per-bigram MLE
    // probability in integer micro-units so the per-doc sum is order-free
    "q84_bigram_lm" -> Q(
      (s, d) => {
        TextAnalysis.bigramLmScore(t(s, d, "documents"), "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t0 AS (SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |tk AS (SELECT doc_id, unnest(t) AS tok,
             |    generate_subscripts(t, 1) AS pos FROM t0 WHERE len(t) >= 2),
             |bg AS (SELECT doc_id, tok AS a, lead(tok) OVER (
             |    PARTITION BY doc_id ORDER BY pos) AS b FROM tk),
             |bi AS (SELECT doc_id, a, b FROM bg WHERE b IS NOT NULL),
             |cb AS (SELECT a, b, count(*)::BIGINT AS cb FROM bi GROUP BY a, b),
             |ca AS (SELECT a, sum(cb)::BIGINT AS ca FROM cb GROUP BY a),
             |m AS (SELECT cb.a, cb.b,
             |    floor(1e6 * cb.cb::DOUBLE / ca.ca::DOUBLE)::BIGINT AS p_micros
             |  FROM cb JOIN ca ON cb.a = ca.a),
             |sc AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
             |    sum(p_micros)::BIGINT AS score_micros
             |  FROM bi JOIN m ON bi.a = m.a AND bi.b = m.b GROUP BY doc_id)
             |SELECT d.doc_id,
             |  coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
             |  coalesce(score_micros, 0)::BIGINT AS score_micros
             |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // per-source document cap ("max N pages per domain") — two-level
    // hash-ordered top-k; result provably equals the one-window form
    "q85_per_source_cap" -> Q(
      (s, d) => {
        Sampling.perSourceCap(t(s, d, "documents"), "doc_id", "source", cap = 100)
          .select(col("doc_id"), col("source"), col("rk"))
          .orderBy(col("source"), col("rk"))
      },
      Some(s"""WITH r AS (SELECT doc_id, source, row_number() OVER (
              |    PARTITION BY source
              |    ORDER BY ${dHash64("'cap:'||doc_id")}, doc_id) AS rk
              |  FROM documents)
              |SELECT doc_id, source, rk::BIGINT AS rk FROM r WHERE rk <= 100
              |ORDER BY source, rk""".stripMargin)),

    // per-source dataset-card stats — histogram-walk integer quantiles,
    // no per-source row sort, no interpolation
    "q86_corpus_stats" -> Q(
      (s, d) => {
        TextAnalysis.corpusStats(t(s, d, "documents"), "doc_id", "text", "source")
          .orderBy(col("source"))
      },
      Some("""WITH b AS (SELECT source,
             |    len(string_split(trim(text), ' '))::BIGINT AS ntok,
             |    length(text)::BIGINT AS nch FROM documents),
             |a AS (SELECT source, count(*)::BIGINT AS n_docs,
             |    sum(ntok)::BIGINT AS n_tokens,
             |    min(nch) AS min_chars, max(nch) AS max_chars
             |  FROM b GROUP BY source),
             |h AS (SELECT source, nch, count(*)::BIGINT AS c FROM b
             |  GROUP BY source, nch),
             |cu AS (SELECT source, nch,
             |    sum(c) OVER (PARTITION BY source ORDER BY nch) AS cum
             |  FROM h),
             |med AS (SELECT cu.source, min(nch) AS median_chars
             |  FROM cu JOIN a ON cu.source = a.source
             |  WHERE cum * 2 >= n_docs GROUP BY cu.source),
             |p90 AS (SELECT cu.source, min(nch) AS p90_chars
             |  FROM cu JOIN a ON cu.source = a.source
             |  WHERE cum * 10 >= n_docs * 9 GROUP BY cu.source)
             |SELECT a.source, n_docs, n_tokens, min_chars, max_chars,
             |  median_chars, p90_chars
             |FROM a JOIN med ON a.source = med.source
             |JOIN p90 ON a.source = p90.source
             |ORDER BY a.source""".stripMargin)),

    // random-projection (JL/Achlioptas ±1) dim reduction + projected-space
    // top-k — milli-unit quantization keeps every downstream value an
    // exact integer in double, so ranking is engine-exact
    "q87_random_projection" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.projectedTopK(
            emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            outDims = 8, seed = 7, k = 5)
          .select(col("q_id"), col("rank").cast("bigint").as("rank"),
            col("n_id"), col("pcos"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some {
        val signs = Similarity.rpSigns(7, 64, 8)
        val projExprs = (0 until 8).map { j =>
          val arr = signs(j).map(v => if (v > 0) "1.0" else "-1.0")
            .mkString("[", ",", "]")
          s"list_dot_product(iv, $arr::DOUBLE[])"
        }.mkString("[", ",\n|      ", "]")
        s"""WITH v AS (SELECT vec_id,
           |    [floor(x::DOUBLE * 1000.0) for x in embedding] AS iv
           |  FROM embeddings),
           |p AS (SELECT vec_id, $projExprs AS proj FROM v),
           |sc AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |    round(list_cosine_similarity(q.proj, c.proj), 6) AS pcos
           |  FROM p q JOIN p c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10),
           |r AS (SELECT q_id, n_id, pcos, row_number() OVER (
           |  PARTITION BY q_id ORDER BY pcos DESC, n_id) AS rank FROM sc)
           |SELECT q_id, rank, n_id, pcos FROM r WHERE rank <= 5
           |ORDER BY q_id, rank""".stripMargin
      }),

    // end-to-end training-data prep: quality filter -> exact dedup
    // (keep-min-id) -> per-source cap -> deterministic split -> report.
    // Every stage is one of the catalog's operators; the composition is
    // the actual product a pipeline user runs
    "q88_e2e_pipeline" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val weights = Seq(
          "n_tokens" -> 0.02, "mean_token_len" -> 0.3,
          "punct_ratio" -> -20.0, "stopword_ratio" -> 4.0)
        val kept = docs.join(
          TextAnalysis.qualityClassifier(docs, "doc_id", "text", weights, -2.5)
            .filter(col("keep")).select(col("doc_id")), "doc_id")
        val deduped = kept.join(
          Dedup.exactGroups(kept, "doc_id", "text")
            .select(col("keep_id").as("doc_id")), "doc_id")
        val capped = Sampling.perSourceCap(deduped, "doc_id", "source", cap = 50)
        Sampling.assignSplits(capped, "doc_id", 80, 10)
          .groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBy(col("source"), col("split"))
      },
      Some(s"""WITH q0 AS (SELECT doc_id, text, string_split(trim(text), ' ') AS t
              |  FROM documents),
              |f AS (SELECT doc_id,
              |  len(t)::BIGINT AS n_tokens,
              |  floor(1e6 * (list_sum([length(x) for x in t])::DOUBLE / len(t)))::BIGINT
              |    AS mtl_ppm,
              |  floor(1e6 * ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
              |    / length(text)))::BIGINT AS pr_ppm,
              |  floor(1e6 * (len(list_filter(t, x -> list_contains(
              |    ['the','a','of','and','to','in','is'], x)))::DOUBLE / len(t)))::BIGINT
              |    AS swr_ppm
              |  FROM q0),
              |lg AS (SELECT doc_id,
              |  floor((-2.5::DOUBLE + 0.02::DOUBLE * n_tokens::DOUBLE
              |    + 0.3::DOUBLE * (mtl_ppm::DOUBLE / 1e6) + -20.0::DOUBLE * (pr_ppm::DOUBLE / 1e6)
              |    + 4.0::DOUBLE * (swr_ppm::DOUBLE / 1e6)) * 1e6)::BIGINT AS lm
              |  FROM f),
              |kept AS (SELECT d.* FROM documents d
              |  JOIN lg ON d.doc_id = lg.doc_id WHERE lm >= 0),
              |grp AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
              |ded AS (SELECT kept.* FROM kept JOIN grp ON kept.doc_id = grp.doc_id),
              |r AS (SELECT doc_id, source, n_chars, row_number() OVER (
              |    PARTITION BY source
              |    ORDER BY ${dHash64("'cap:'||doc_id")}, doc_id) AS rk
              |  FROM ded),
              |cap AS (SELECT * FROM r WHERE rk <= 50),
              |sp AS (SELECT source, n_chars,
              |  CASE WHEN ${dHash64("'split:'||doc_id")} % 100 < 80 THEN 'train'
              |       WHEN ${dHash64("'split:'||doc_id")} % 100 < 90 THEN 'val'
              |       ELSE 'test' END AS split
              |  FROM cap)
              |SELECT source, split, count(*)::BIGINT AS n_docs,
              |  sum(n_chars)::BIGINT AS sum_chars
              |FROM sp GROUP BY source, split
              |ORDER BY source, split""".stripMargin)),

    // corpus vocabulary (top-V tokens, total-order cut) + per-doc OOV
    // rate — the tokenizer-training coverage gate
    "q89_vocab_oov" -> Q(
      (s, d) => {
        TextAnalysis.oovRate(t(s, d, "documents"), "doc_id", "text", vocabSize = 200)
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
             |  FROM documents),
             |tc AS (SELECT tok, count(*)::BIGINT AS c FROM tk GROUP BY tok),
             |v AS (SELECT tok FROM tc ORDER BY c DESC, tok LIMIT 200),
             |per AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
             |    sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
             |  FROM tk LEFT JOIN v ON tk.tok = v.tok GROUP BY doc_id)
             |SELECT doc_id, n_tokens, n_oov,
             |  floor(1e6 * (n_oov::DOUBLE / n_tokens))::BIGINT AS oov_ppm
             |FROM per ORDER BY doc_id""".stripMargin)),

    // token-budget sampling per source — distributed prefix-sum over the
    // hash order (q68's pattern on a hash order); oracle is the plain
    // one-window running sum
    "q90_token_budget" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
          .withColumn("ntok", size(split(trim(col("text")), " ")).cast("long"))
        Sampling.tokenBudgetSample(docs, "doc_id", "source", "ntok", budget = 800L)
          .orderBy(col("source"), col("cum_tokens"))
      },
      Some(s"""WITH w AS (SELECT doc_id, source,
              |    len(string_split(trim(text), ' '))::BIGINT AS ntok
              |  FROM documents),
              |r AS (SELECT doc_id, source, sum(ntok) OVER (
              |    PARTITION BY source
              |    ORDER BY ${dHash64("'budget:'||doc_id")}, doc_id) AS cum
              |  FROM w)
              |SELECT doc_id, source, cum::BIGINT AS cum_tokens FROM r
              |WHERE cum <= 800 ORDER BY source, cum_tokens""".stripMargin)),

    // count-min sketch heavy hitters: est >= exact always; sketch memory
    // is depth x width regardless of vocabulary size
    "q91_count_min" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val sketch = TextAnalysis.countMinSketch(docs, "doc_id", "text")
        val top = TextAnalysis.vocabulary(docs, "doc_id", "text", 30)
          .select(col("tok"), col("c").as("exact"))
        TextAnalysis.cmsEstimate(sketch, top)
          .join(top, "tok")
          .select(col("tok"), col("exact"), col("est"),
            (col("est") - col("exact")).as("overest"))
          .orderBy(col("exact").desc, col("tok"))
      },
      Some("""WITH tk AS (SELECT unnest(string_split(trim(text), ' ')) AS tok
             |  FROM documents),
             |ex AS (SELECT tok, count(*)::BIGINT AS exact FROM tk GROUP BY tok),
             |top AS (SELECT tok, exact FROM ex ORDER BY exact DESC, tok LIMIT 30),
             |cells AS (SELECT r, ('0x'||substr(md5('cms'||r::VARCHAR||':'||tok),1,15))::BIGINT % 256 AS cell,
             |    count(*)::BIGINT AS cnt
             |  FROM tk, range(4) t(r) GROUP BY 1, 2),
             |probe AS (SELECT top.tok, top.exact, r,
             |    ('0x'||substr(md5('cms'||r::VARCHAR||':'||top.tok),1,15))::BIGINT % 256 AS cell
             |  FROM top, range(4) t(r)),
             |est AS (SELECT tok, exact, min(cnt)::BIGINT AS est
             |  FROM probe JOIN cells USING (r, cell) GROUP BY tok, exact)
             |SELECT tok, exact, est, (est - exact)::BIGINT AS overest
             |FROM est ORDER BY exact DESC, tok""".stripMargin)),

    // streaming quality gate: the BATCH classifier applied unchanged to a
    // document stream — stateless, so verdicts are micro-batch-invariant
    // and the oracle is the batch query
    "q92_streaming_quality" -> Q(
      (s, d) => {
        val dir = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"), "graft_q92_docs")
        java.nio.file.Files.createDirectories(dir)
        val link = dir.resolve("docs.parquet")
        java.nio.file.Files.deleteIfExists(link)
        java.nio.file.Files.createSymbolicLink(
          link, java.nio.file.Paths.get(s"$d/documents.parquet"))
        val name = "graft_stream_quality_q92"
        s.catalog.dropTempView(name)
        graft.streaming.DocStreams
          .runToMemory(s, dir.toString,
            docs => graft.streaming.DocStreams.qualityGate(
              docs,
              Seq("n_tokens" -> 0.02, "mean_token_len" -> 0.3,
                "punct_ratio" -> -20.0, "stopword_ratio" -> 4.0),
              intercept = -2.5),
            name)
          .orderBy(col("doc_id"))
      },
      Some("""WITH q AS (SELECT doc_id, text, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |f AS (SELECT doc_id,
             |  len(t)::BIGINT AS n_tokens,
             |  floor(1e6 * (list_sum([length(x) for x in t])::DOUBLE / len(t)))::BIGINT
             |    AS mtl_ppm,
             |  floor(1e6 * ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
             |    / length(text)))::BIGINT AS pr_ppm,
             |  floor(1e6 * (len(list_filter(t, x -> list_contains(
             |    ['the','a','of','and','to','in','is'], x)))::DOUBLE / len(t)))::BIGINT
             |    AS swr_ppm
             |  FROM q),
             |s AS (SELECT doc_id,
             |  floor((-2.5::DOUBLE + 0.02::DOUBLE * n_tokens::DOUBLE
             |    + 0.3::DOUBLE * (mtl_ppm::DOUBLE / 1e6) + -20.0::DOUBLE * (pr_ppm::DOUBLE / 1e6)
             |    + 4.0::DOUBLE * (swr_ppm::DOUBLE / 1e6)) * 1e6)::BIGINT AS logit_micros
             |  FROM f)
             |SELECT doc_id, logit_micros, logit_micros >= 0 AS keep
             |FROM s WHERE logit_micros >= 0 ORDER BY doc_id""".stripMargin)),

    // Bloom-filter decontamination pre-scan: eval grams -> broadcast
    // bitset; train corpus streamed past it, zero train-side shuffle.
    // Flags ⊇ exact overlap (no false negatives) and deterministic, so
    // the oracle rebuilds the identical filter
    "q93_bloom_decontaminate" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        TextAnalysis.bloomContamination(
            docs, docs.filter(col("doc_id") < 20), "doc_id", "text",
            shingleN = 3, bits = 4096, hashes = 2)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t0 AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
              |g0 AS (
              |  SELECT doc_id,
              |    CASE WHEN len(t) >= 3
              |    THEN list_distinct([array_to_string(t[i:i+2], ' ')
              |      for i in range(1, len(t) - 1)])
              |    ELSE [] END AS grams
              |  FROM t0),
              |ev AS (SELECT DISTINCT unnest(grams) AS g FROM g0 WHERE doc_id < 20),
              |pk AS (SELECT g, ${dHash64("'bloom'||r::VARCHAR||':'||g")} % 4096 AS pos
              |  FROM ev, range(2) t(r)),
              |fw AS (SELECT pos // 32 AS word,
              |    bit_or(1::BIGINT << (pos % 32)::INT) AS bits
              |  FROM pk GROUP BY 1),
              |tg AS (SELECT doc_id, unnest(grams) AS g FROM g0),
              |tp AS (SELECT doc_id, g,
              |    ${dHash64("'bloom'||r::VARCHAR||':'||g")} % 4096 AS pos
              |  FROM tg, range(2) t(r)),
              |hit AS (SELECT doc_id, g,
              |    min(CASE WHEN coalesce(bits, 0) & (1::BIGINT << (pos % 32)::INT) <> 0
              |      THEN 1 ELSE 0 END) AS all_set
              |  FROM tp LEFT JOIN fw ON tp.pos // 32 = fw.word
              |  GROUP BY doc_id, g),
              |per AS (SELECT doc_id, count(*)::BIGINT AS n_grams,
              |    sum(all_set)::BIGINT AS n_flagged
              |  FROM hit GROUP BY doc_id)
              |SELECT doc_id, n_grams, n_flagged,
              |  floor(1e6 * (n_flagged::DOUBLE / n_grams))::BIGINT AS flag_ppm
              |FROM per ORDER BY doc_id""".stripMargin)),

    // curriculum packing: classifier logit -> integer level, documents
    // laid out level-major, then the q68 distributed prefix-sum
    "q94_curriculum_packing" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val leveled = TextAnalysis.qualityClassifier(
            docs, "doc_id", "text",
            Seq("n_tokens" -> 0.02, "mean_token_len" -> 0.3,
              "punct_ratio" -> -20.0, "stopword_ratio" -> 4.0),
            intercept = -2.5)
          .join(docs.select(col("doc_id"),
            size(split(trim(col("text")), " ")).cast("long").as("ntok")), "doc_id")
          // level from integer micros: (5e6 - m) / 1e6 floored — the
          // division is exact in double (|x| << 2^53), floor exact
          .select(col("doc_id"), col("ntok"),
            least(greatest(
              floor((lit(5000000L) - col("logit_micros")).cast("double") / lit(1e6)),
              lit(0L)), lit(9L)).as("level"))
        operators.Packing.packCurriculum(
            leveled, "doc_id", "ntok", "level", capacity = 512L)
          .orderBy(col("start_offset"))
      },
      Some("""WITH q AS (SELECT doc_id, text, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |f AS (SELECT doc_id, len(t)::BIGINT AS ntok,
             |  len(t)::BIGINT AS n_tokens,
             |  floor(1e6 * (list_sum([length(x) for x in t])::DOUBLE / len(t)))::BIGINT
             |    AS mtl_ppm,
             |  floor(1e6 * ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
             |    / length(text)))::BIGINT AS pr_ppm,
             |  floor(1e6 * (len(list_filter(t, x -> list_contains(
             |    ['the','a','of','and','to','in','is'], x)))::DOUBLE / len(t)))::BIGINT
             |    AS swr_ppm
             |  FROM q),
             |lv AS (SELECT doc_id, ntok,
             |  least(greatest(floor((5000000 -
             |    floor((-2.5::DOUBLE + 0.02::DOUBLE * n_tokens::DOUBLE
             |      + 0.3::DOUBLE * (mtl_ppm::DOUBLE / 1e6) + -20.0::DOUBLE * (pr_ppm::DOUBLE / 1e6)
             |      + 4.0::DOUBLE * (swr_ppm::DOUBLE / 1e6)) * 1e6)::BIGINT)::DOUBLE
             |    / 1e6)::BIGINT, 0), 9) AS level
             |  FROM f),
             |o AS (SELECT doc_id, level, ntok,
             |  coalesce(sum(ntok) OVER (ORDER BY level, doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             |    AS start_offset
             |  FROM lv)
             |SELECT doc_id, level, ntok, start_offset,
             |  start_offset // 512 AS chunk_id,
             |  start_offset % 512 AS chunk_offset
             |FROM o ORDER BY start_offset""".stripMargin)),

    // product-quantization ANN (asymmetric distance): m=8 subspaces,
    // k=16 centroids from the 16 lowest-id vectors; milli-unit integer
    // L2 end to end, so codes, tables, and ranking are engine-exact
    "q95_pq_ann" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cb = Similarity.pqCodebook(emb, "vec_id", "embedding",
          0L until 16L, m = 8)
        Similarity.pqTopK(
            emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            cb, m = 8, k = 5)
          .select(col("q_id"), col("rank").cast("bigint").as("rank"),
            col("n_id"), col("adc"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
             |  FROM embeddings),
             |cb AS (SELECT s, vec_id AS c, iv[s*8+1 : s*8+8] AS cvec
             |  FROM v, range(8) t(s) WHERE vec_id < 16),
             |subs AS (SELECT vec_id, s, iv[s*8+1 : s*8+8] AS sv
             |  FROM v, range(8) t(s)),
             |d2 AS (SELECT vec_id, s, c,
             |    list_sum([(sv[j]-cvec[j])*(sv[j]-cvec[j]) for j in range(1,9)])::BIGINT
             |      AS d2
             |  FROM subs JOIN cb USING (s)),
             |enc AS (SELECT vec_id, s, c AS code FROM (
             |  SELECT vec_id, s, c, row_number() OVER (
             |    PARTITION BY vec_id, s ORDER BY d2, c) AS rn FROM d2)
             |  WHERE rn = 1),
             |dt AS (SELECT vec_id AS q_id, s, c AS code, d2 FROM d2
             |  WHERE vec_id < 10),
             |sc AS (SELECT q_id, e.vec_id AS n_id, sum(dt.d2)::BIGINT AS adc
             |  FROM enc e JOIN dt ON e.s = dt.s AND e.code = dt.code
             |    AND dt.q_id <> e.vec_id
             |  GROUP BY q_id, e.vec_id),
             |r AS (SELECT q_id, n_id, adc, row_number() OVER (
             |  PARTITION BY q_id ORDER BY adc, n_id) AS rank FROM sc)
             |SELECT q_id, rank, n_id, adc FROM r WHERE rank <= 5
             |ORDER BY q_id, rank""".stripMargin)),

    // ANN evaluation: recall@5 of the PQ index vs exact integer-L2 —
    // the report an index's m/k parameters are tuned from
    "q96_ann_recall" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        val cb = Similarity.pqCodebook(emb, "vec_id", "embedding",
          0L until 16L, m = 8)
        Similarity.recallAtK(
            Similarity.pqTopK(emb, queries, "vec_id", "embedding", cb, m = 8, k = 5),
            Similarity.l2TopK(emb, queries, "vec_id", "embedding", k = 5),
            k = 5)
          .orderBy(col("q_id"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
             |  FROM embeddings),
             |cb AS (SELECT s, vec_id AS c, iv[s*8+1 : s*8+8] AS cvec
             |  FROM v, range(8) t(s) WHERE vec_id < 16),
             |subs AS (SELECT vec_id, s, iv[s*8+1 : s*8+8] AS sv
             |  FROM v, range(8) t(s)),
             |d2 AS (SELECT vec_id, s, c,
             |    list_sum([(sv[j]-cvec[j])*(sv[j]-cvec[j]) for j in range(1,9)])::BIGINT
             |      AS d2
             |  FROM subs JOIN cb USING (s)),
             |enc AS (SELECT vec_id, s, c AS code FROM (
             |  SELECT vec_id, s, c, row_number() OVER (
             |    PARTITION BY vec_id, s ORDER BY d2, c) AS rn FROM d2)
             |  WHERE rn = 1),
             |dt AS (SELECT vec_id AS q_id, s, c AS code, d2 FROM d2
             |  WHERE vec_id < 10),
             |sc AS (SELECT q_id, e.vec_id AS n_id, sum(dt.d2)::BIGINT AS adc
             |  FROM enc e JOIN dt ON e.s = dt.s AND e.code = dt.code
             |    AND dt.q_id <> e.vec_id
             |  GROUP BY q_id, e.vec_id),
             |pq AS (SELECT q_id, n_id FROM (
             |  SELECT q_id, n_id, row_number() OVER (
             |    PARTITION BY q_id ORDER BY adc, n_id) AS rank FROM sc)
             |  WHERE rank <= 5),
             |ed AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |    list_sum([(q.iv[j]-c.iv[j])*(q.iv[j]-c.iv[j])
             |      for j in range(1,65)])::BIGINT AS d2
             |  FROM v q JOIN v c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10),
             |ex AS (SELECT q_id, n_id FROM (
             |  SELECT q_id, n_id, row_number() OVER (
             |    PARTITION BY q_id ORDER BY d2, n_id) AS rank FROM ed)
             |  WHERE rank <= 5),
             |hits AS (SELECT ex.q_id, count(*)::BIGINT AS n_hit
             |  FROM ex JOIN pq ON ex.q_id = pq.q_id AND ex.n_id = pq.n_id
             |  GROUP BY ex.q_id)
             |SELECT q.q_id, 5::BIGINT AS k, coalesce(n_hit, 0)::BIGINT AS n_hit,
             |  floor(1e6 * (coalesce(n_hit, 0)::DOUBLE / 5))::BIGINT AS recall_ppm
             |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN hits USING (q_id)
             |ORDER BY q_id""".stripMargin)),

    // streaming count-min: linear sketches merged per micro-batch equal
    // the whole-corpus sketch exactly, so the oracle is q91's
    "q97_streaming_count_min" -> Q(
      (s, d) => {
        // per-JVM tagged dir: a fixed shared-tmp name would let a
        // concurrent process re-point the symlink mid-stream
        val dir = java.nio.file.Paths.get(scratchDir("graft_q97_docs"))
        java.nio.file.Files.createDirectories(dir)
        val link = dir.resolve("docs.parquet")
        java.nio.file.Files.deleteIfExists(link)
        java.nio.file.Files.createSymbolicLink(
          link, java.nio.file.Paths.get(s"$d/documents.parquet"))
        // fresh per-run store: the sketch accumulates, so a reused dir
        // would double-count across Verify/Bench runs
        val base = freshScratchDir("graft_q97_store")
        val q = graft.streaming.DocStreams.startCountMin(
          graft.streaming.DocStreams.readStream(s, dir.toString),
          s"$base/store", s"$base/ckpt")
        EventStreams.drain(q)
        val sketch = s.read.parquet(s"$base/store/current")
        val docs = t(s, d, "documents")
        val top = TextAnalysis.vocabulary(docs, "doc_id", "text", 30)
          .select(col("tok"), col("c").as("exact"))
        TextAnalysis.cmsEstimate(sketch, top)
          .join(top, "tok")
          .select(col("tok"), col("exact"), col("est"),
            (col("est") - col("exact")).as("overest"))
          .orderBy(col("exact").desc, col("tok"))
      },
      Some("""WITH tk AS (SELECT unnest(string_split(trim(text), ' ')) AS tok
             |  FROM documents),
             |ex AS (SELECT tok, count(*)::BIGINT AS exact FROM tk GROUP BY tok),
             |top AS (SELECT tok, exact FROM ex ORDER BY exact DESC, tok LIMIT 30),
             |cells AS (SELECT r, ('0x'||substr(md5('cms'||r::VARCHAR||':'||tok),1,15))::BIGINT % 256 AS cell,
             |    count(*)::BIGINT AS cnt
             |  FROM tk, range(4) t(r) GROUP BY 1, 2),
             |probe AS (SELECT top.tok, top.exact, r,
             |    ('0x'||substr(md5('cms'||r::VARCHAR||':'||top.tok),1,15))::BIGINT % 256 AS cell
             |  FROM top, range(4) t(r)),
             |est AS (SELECT tok, exact, min(cnt)::BIGINT AS est
             |  FROM probe JOIN cells USING (r, cell) GROUP BY tok, exact)
             |SELECT tok, exact, est, (est - exact)::BIGINT AS overest
             |FROM est ORDER BY exact DESC, tok""".stripMargin)),

    // blocklist compliance gate: literal-array membership folded into
    // the scan — zero shuffle for the verdict
    "q98_blocklist_filter" -> Q(
      (s, d) => {
        TextAnalysis.blocklistFilter(
            t(s, d, "documents"), "doc_id", "text",
            Seq("spark", "hash", "skew"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
             |  FROM documents),
             |per AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
             |    sum(CASE WHEN tok IN ('spark', 'hash', 'skew') THEN 1 ELSE 0 END)::BIGINT
             |      AS n_blocked
             |  FROM tk GROUP BY doc_id)
             |SELECT doc_id, n_tokens, n_blocked, n_blocked = 0 AS keep
             |FROM per ORDER BY doc_id""".stripMargin)),

    // positional-index phrase search: postings-chain equi-joins, work
    // bounded by the rarest term's postings
    "q99_phrase_search" -> Q(
      (s, d) => {
        val idx = TextAnalysis.positionalIndex(t(s, d, "documents"), "doc_id", "text")
        TextAnalysis.phraseSearch(idx, Seq("table", "hash"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t0 AS (SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |tk AS (SELECT doc_id, unnest(t) AS tok,
             |    generate_subscripts(t, 1) AS pos FROM t0),
             |a AS (SELECT doc_id, pos FROM tk WHERE tok = 'table'),
             |b AS (SELECT doc_id, pos FROM tk WHERE tok = 'hash')
             |SELECT a.doc_id, count(*)::BIGINT AS n_occurrences
             |FROM a JOIN b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin)),

    // proximity (NEAR/4) search — the window predicate rides the doc_id
    // postings join
    "q100_proximity_search" -> Q(
      (s, d) => {
        val idx = TextAnalysis.positionalIndex(t(s, d, "documents"), "doc_id", "text")
        TextAnalysis.proximitySearch(idx, "table", "hash", window = 4)
          .orderBy(col("doc_id"))
      },
      Some("""WITH t0 AS (SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |tk AS (SELECT doc_id, unnest(t) AS tok,
             |    generate_subscripts(t, 1) AS pos FROM t0),
             |a AS (SELECT doc_id, pos AS pa FROM tk WHERE tok = 'table'),
             |b AS (SELECT doc_id, pos AS pb FROM tk WHERE tok = 'hash')
             |SELECT a.doc_id, count(*)::BIGINT AS n_pairs,
             |  min(abs(pa - pb))::BIGINT AS min_dist
             |FROM a JOIN b ON a.doc_id = b.doc_id
             |WHERE abs(pa - pb) <= 4 AND pa <> pb
             |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin)),

    // per-label prototype centroids: exact integer milli-sums, mean in
    // micro-units — class prototypes / semantic-search seeds. The
    // centroid vector is emitted as a CSV string: the oracle harness
    // hashes pandas frames, and array cells are unhashable there (the
    // one r04 red) — a canonical scalar rendering carries the same bits.
    "q101_label_centroids" -> Q(
      (s, d) => {
        Similarity.labelCentroids(t(s, d, "embeddings"), "label", "embedding")
          .select(col("label"), col("n_vectors"),
            concat_ws(",", transform(col("centroid_micros"), _.cast("string")))
              .as("centroid_csv"))
          .orderBy(col("label"))
      },
      Some("""WITH v AS (SELECT label,
             |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
             |  FROM embeddings),
             |d AS (SELECT label, generate_subscripts(iv, 1) AS dim, unnest(iv) AS v
             |  FROM v),
             |g AS (SELECT label, dim, sum(v)::BIGINT AS s, count(*)::BIGINT AS n
             |  FROM d GROUP BY label, dim),
             |c AS (SELECT label, max(n)::BIGINT AS n_vectors,
             |    list(floor(1e3 * (s::DOUBLE / n::DOUBLE))::BIGINT ORDER BY dim)
             |      AS centroid_micros
             |  FROM g GROUP BY label)
             |SELECT label, n_vectors,
             |  array_to_string(centroid_micros, ',') AS centroid_csv FROM c
             |ORDER BY label""".stripMargin)),

    // cluster labeling via rational c-TF-IDF (BERTopic's labeling step,
    // log dropped for bit-portability) — top terms per source slice
    "q102_cluster_top_terms" -> Q(
      (s, d) => {
        TextAnalysis.clusterTopTerms(
            t(s, d, "documents"), "doc_id", "text", "source", topK = 5)
          .orderBy(col("cluster"), col("rank"))
      },
      Some("""WITH tk AS (SELECT source AS cluster,
             |    unnest(string_split(trim(text), ' ')) AS tok FROM documents),
             |tf AS (SELECT cluster, tok, count(*)::BIGINT AS tf
             |  FROM tk GROUP BY cluster, tok),
             |ct AS (SELECT cluster, sum(tf)::BIGINT AS cluster_tokens
             |  FROM tf GROUP BY cluster),
             |dfc AS (SELECT tok, count(*)::BIGINT AS df_c FROM tf GROUP BY tok),
             |sc AS (SELECT tf.cluster, tf.tok, tf.tf,
             |    floor(1e6 * (tf.tf::DOUBLE / ct.cluster_tokens::DOUBLE)
             |      * ((SELECT count(DISTINCT source) FROM documents)::DOUBLE
             |        / dfc.df_c::DOUBLE))::BIGINT AS score_ppm
             |  FROM tf JOIN ct USING (cluster) JOIN dfc USING (tok)),
             |r AS (SELECT cluster, tok, tf, score_ppm, row_number() OVER (
             |  PARTITION BY cluster ORDER BY score_ppm DESC, tok) AS rank FROM sc)
             |SELECT cluster, rank::BIGINT AS rank, tok, tf, score_ppm
             |FROM r WHERE rank <= 5
             |ORDER BY cluster, rank""".stripMargin)),

    // nearest-prototype classification report: are these embeddings
    // separable by class? per-true-label accuracy vs the q101 prototypes
    "q103_prototype_report" -> Q(
      (s, d) => {
        Similarity.prototypeReport(
            t(s, d, "embeddings"), "vec_id", "embedding", "label")
          .orderBy(col("label"))
      },
      Some("""WITH v AS (SELECT vec_id, label,
             |    [floor(x::DOUBLE * 1000.0) for x in embedding] AS iv
             |  FROM embeddings),
             |d AS (SELECT label, generate_subscripts(iv, 1) AS dim, unnest(iv) AS vv
             |  FROM v),
             |g AS (SELECT label, dim, sum(vv)::BIGINT AS s, count(*)::BIGINT AS n
             |  FROM d GROUP BY label, dim),
             |c AS (SELECT label AS proto_label,
             |    list(floor(1e3 * (s::DOUBLE / n::DOUBLE)) ORDER BY dim) AS cm
             |  FROM g GROUP BY label),
             |sc AS (SELECT v.vec_id, v.label AS true_label, c.proto_label,
             |    list_dot_product(v.iv, c.cm) /
             |      (sqrt(list_dot_product(v.iv, v.iv)) *
             |        sqrt(list_dot_product(c.cm, c.cm))) AS cos
             |  FROM v CROSS JOIN c),
             |top AS (SELECT vec_id, true_label, proto_label FROM (
             |  SELECT vec_id, true_label, proto_label, row_number() OVER (
             |    PARTITION BY vec_id ORDER BY cos DESC, proto_label) AS rn FROM sc)
             |  WHERE rn = 1),
             |per AS (SELECT true_label AS label, count(*)::BIGINT AS n_vectors,
             |    sum(CASE WHEN proto_label = true_label THEN 1 ELSE 0 END)::BIGINT
             |      AS n_correct
             |  FROM top GROUP BY true_label)
             |SELECT label, n_vectors, n_correct,
             |  floor(1e6 * (n_correct::DOUBLE / n_vectors))::BIGINT AS accuracy_ppm
             |FROM per ORDER BY label""".stripMargin)),

    // funnel analysis: users completing each prefix of signup -> click ->
    // purchase in strictly increasing event time (ordered reachability;
    // greedy earliest-next chaining is complete for ordering constraints)
    "q104_funnel" -> Q(
      (s, d) => {
        operators.EventAnalytics.funnel(
            t(s, d, "events"), "user_id", "event_type", "ts",
            Seq("signup", "click", "purchase"))
          .orderBy(col("step"))
      },
      Some("""WITH e1 AS (SELECT user_id, min(ts) AS t1 FROM events
             |  WHERE event_type = 'signup' GROUP BY user_id),
             |e2 AS (SELECT ev.user_id, min(ts) AS t2 FROM events ev
             |  JOIN e1 ON ev.user_id = e1.user_id
             |  WHERE event_type = 'click' AND ts > t1 GROUP BY ev.user_id),
             |e3 AS (SELECT ev.user_id, min(ts) AS t3 FROM events ev
             |  JOIN e2 ON ev.user_id = e2.user_id
             |  WHERE event_type = 'purchase' AND ts > t2 GROUP BY ev.user_id)
             |SELECT 1::BIGINT AS step, 'signup' AS event_type,
             |  (SELECT count(*) FROM e1)::BIGINT AS n_users
             |UNION ALL SELECT 2::BIGINT, 'click',
             |  (SELECT count(*) FROM e2)::BIGINT
             |UNION ALL SELECT 3::BIGINT, 'purchase',
             |  (SELECT count(*) FROM e3)::BIGINT
             |ORDER BY step""".stripMargin)),

    // cohort retention matrix — integer epoch weeks (calendar
    // date_trunc('week') start conventions vary by engine)
    "q105_cohort_retention" -> Q(
      (s, d) => {
        operators.EventAnalytics.cohortRetention(
            t(s, d, "events"), "user_id", "event_type", "ts", "signup")
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH c AS (SELECT user_id,
             |    min((epoch_ms(ts) // 86400000) // 7) AS cohort_week
             |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
             |a AS (SELECT DISTINCT user_id,
             |    (epoch_ms(ts) // 86400000) // 7 AS week FROM events)
             |SELECT cohort_week, (week - cohort_week)::BIGINT AS week_offset,
             |  count(*)::BIGINT AS n_users
             |FROM c JOIN a ON c.user_id = a.user_id
             |WHERE week >= cohort_week
             |GROUP BY cohort_week, week_offset
             |ORDER BY cohort_week, week_offset""".stripMargin)),

    // first-order Markov transition counts of user behavior — total
    // (ts, event_id) order so duplicate timestamps can't flip the lead
    "q106_transition_matrix" -> Q(
      (s, d) => {
        operators.EventAnalytics.transitionMatrix(
            t(s, d, "events"), "user_id", "event_type", "ts", "event_id")
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH o AS (SELECT user_id, event_type,
             |    lead(event_type) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
             |  FROM events)
             |SELECT event_type AS from_type, next_type AS to_type,
             |  count(*)::BIGINT AS n
             |FROM o WHERE next_type IS NOT NULL
             |GROUP BY from_type, to_type
             |ORDER BY from_type, to_type""".stripMargin)),

    // hourly-rate anomaly report: integer-moment z-scores in ppm,
    // flagged at |z| >= 2
    "q107_rate_anomalies" -> Q(
      (s, d) => {
        operators.EventAnalytics.rateAnomalies(t(s, d, "events"), "event_type", "ts")
          .orderBy(col("event_type"), col("hour_idx"))
      },
      Some("""WITH b AS (SELECT event_type, epoch_ms(ts) // 3600000 AS hour_idx,
             |    count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
             |st AS (SELECT event_type, count(*)::BIGINT AS nb, sum(n)::BIGINT AS s,
             |    sum(n * n)::BIGINT AS ss FROM b GROUP BY 1),
             |m AS (SELECT event_type, s::DOUBLE / nb AS mean,
             |    (ss::DOUBLE - s::DOUBLE * s / nb) / nb AS variance FROM st)
             |SELECT b.event_type, hour_idx, n,
             |  CASE WHEN variance = 0 THEN 0::BIGINT
             |    ELSE floor(1e6 * ((n::DOUBLE - mean) / sqrt(variance)))::BIGINT
             |  END AS z_ppm,
             |  CASE WHEN variance = 0 THEN false
             |    ELSE abs((n::DOUBLE - mean) / sqrt(variance)) >= 2.0
             |  END AS is_anomaly
             |FROM b JOIN m ON b.event_type = m.event_type
             |ORDER BY b.event_type, hour_idx""".stripMargin)),

    // rolling 7-day distinct actives (WAU by day): bounded 7x fan-out of
    // the deduped (user, day) table, no day-range self-join
    "q108_rolling_actives" -> Q(
      (s, d) => {
        operators.EventAnalytics.rollingActiveUsers(t(s, d, "events"), "user_id", "ts")
          .orderBy(col("day_idx"))
      },
      Some("""WITH a AS (SELECT DISTINCT user_id,
             |    epoch_ms(ts) // 86400000 AS day FROM events),
             |w AS (SELECT DISTINCT user_id, day + o AS day_idx
             |  FROM a, range(7) t(o)),
             |mx AS (SELECT max(day) AS max_day FROM a)
             |SELECT day_idx, count(*)::BIGINT AS wau
             |FROM w, mx WHERE day_idx <= max_day
             |GROUP BY day_idx ORDER BY day_idx""".stripMargin)),

    // session-statistics report: q54's sessions reduced to exact
    // histogram-walk quantiles (q86's integer rule) of size and duration
    "q109_session_stats" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val gapUs = 30L * 60 * 1000 * 1000
        val sessions = t(s, d, "events")
          .withColumn(
            "is_new",
            when(
              lag(col("ts"), 1).over(w).isNull ||
                unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > gapUs,
              1L).otherwise(0L))
          .withColumn("session_id", sum(col("is_new")).over(frame))
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            count(lit(1)).as("n_events"),
            (unix_millis(max(col("ts"))) - unix_millis(min(col("ts"))))
              .as("duration_ms"))
        val total = sessions.agg(count(lit(1)).as("n_sessions"))
        // exact histogram-walk quantiles with the cumulative count
        // computed scale-safe (operators/Ranks.scala: per-range-bucket
        // running sums + broadcast bucket bases) — the distinct-value
        // table is metric-cardinality-sized, which at 100 TB is exactly
        // the table a single-partition window would bottleneck on.
        // Results are bit-identical; PlanSpec locks the window out.
        def quantile(metric: String, span: Long, num: Int, den: Int, name: String) = {
          val hist = sessions.groupBy(col(metric)).agg(count(lit(1)).as("c"))
          operators.Ranks.globalRunningSum(hist,
              expr(s"$metric div ${span}L"), Seq(col(metric)), col("c"), "cum")
            .crossJoin(broadcast(total))
            .filter(col("cum") * den >= col("n_sessions") * num)
            .agg(min(col(metric)).as(name))
        }
        total
          .crossJoin(quantile("n_events", 4L, 1, 2, "median_events"))
          .crossJoin(quantile("n_events", 4L, 9, 10, "p90_events"))
          .crossJoin(quantile("duration_ms", 1L << 16, 1, 2, "median_duration_ms"))
          .crossJoin(quantile("duration_ms", 1L << 16, 9, 10, "p90_duration_ms"))
      },
      Some("""WITH flagged AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             |      THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |se AS (
             |  SELECT user_id, ts,
             |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             |  FROM flagged),
             |sess AS (SELECT user_id, session_id, count(*)::BIGINT AS n_events,
             |    (epoch_ms(max(ts)) - epoch_ms(min(ts)))::BIGINT AS duration_ms
             |  FROM se GROUP BY user_id, session_id),
             |tot AS (SELECT count(*)::BIGINT AS n_sessions FROM sess),
             |he AS (SELECT n_events AS v, count(*)::BIGINT AS c FROM sess GROUP BY 1),
             |ce AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM he),
             |hd AS (SELECT duration_ms AS v, count(*)::BIGINT AS c FROM sess GROUP BY 1),
             |cd AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM hd)
             |SELECT n_sessions,
             |  (SELECT min(v) FROM ce, tot WHERE cum * 2 >= n_sessions)::BIGINT
             |    AS median_events,
             |  (SELECT min(v) FROM ce, tot WHERE cum * 10 >= n_sessions * 9)::BIGINT
             |    AS p90_events,
             |  (SELECT min(v) FROM cd, tot WHERE cum * 2 >= n_sessions)::BIGINT
             |    AS median_duration_ms,
             |  (SELECT min(v) FROM cd, tot WHERE cum * 10 >= n_sessions * 9)::BIGINT
             |    AS p90_duration_ms
             |FROM tot""".stripMargin)))

  // ---------------------------------------------------------------------
  // Round-4 additions: SQL-surface completions (window battery, lateral),
  // time-series gap fill, collocations, format round-trips, graph
  // analytics, exact stratified sampling, dataset diff, LSH evaluation
  // ---------------------------------------------------------------------

  private val analyticsSurface: Seq[(String, Q)] = Seq(
    // window-function battery: ntile / percent_rank / cume_dist /
    // lag / lead with defaults — the ranking surface q04/q05 don't touch.
    // (o_totalprice, o_orderkey) is a total order, so rank-derived
    // fractions are tie-free; the IEEE divisions are exactly rounded and
    // floor'd to ppm for the hash gate
    "q110_window_battery" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("ntile4", ntile(4).over(w).cast("long"))
          .withColumn("pr_ppm",
            floor(lit(1e6) * percent_rank().over(w)).cast("long"))
          .withColumn("cd_ppm",
            floor(lit(1e6) * cume_dist().over(w)).cast("long"))
          .withColumn("prev_price_micros",
            floor(lit(1e6) * lag(col("o_totalprice"), 1, 0.0).over(w)).cast("long"))
          .withColumn("next_price_micros",
            floor(lit(1e6) * lead(col("o_totalprice"), 1, 0.0).over(w)).cast("long"))
          .filter(col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"), col("ntile4"),
            col("pr_ppm"), col("cd_ppm"), col("prev_price_micros"),
            col("next_price_micros"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH w AS (
             |  SELECT o_orderkey, o_orderpriority,
             |    ntile(4) OVER win AS ntile4,
             |    floor(1e6 * percent_rank() OVER win)::BIGINT AS pr_ppm,
             |    floor(1e6 * cume_dist() OVER win)::BIGINT AS cd_ppm,
             |    floor(1e6 * lag(o_totalprice, 1, 0.0) OVER win)::BIGINT
             |      AS prev_price_micros,
             |    floor(1e6 * lead(o_totalprice, 1, 0.0) OVER win)::BIGINT
             |      AS next_price_micros
             |  FROM orders
             |  WINDOW win AS (PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice, o_orderkey))
             |SELECT o_orderkey, o_orderpriority, ntile4, pr_ppm, cd_ppm,
             |  prev_price_micros, next_price_micros
             |FROM w WHERE o_orderkey % 97 = 0
             |ORDER BY o_orderkey""".stripMargin)),

    // correlated LATERAL derived table with LIMIT (top-2 orders per
    // customer) — exercises Spark's lateral-join decorrelation, the SQL
    // shape users write instead of the row_number idiom
    "q111_lateral_topk" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q111_customer")
        t(s, d, "orders").createOrReplaceTempView("q111_orders")
        s.sql("""SELECT c.c_custkey, o.o_orderkey,
                |  floor(o.o_totalprice * 1e6) AS totalprice_micros
                |FROM q111_customer c,
                |LATERAL (SELECT o_orderkey, o_totalprice FROM q111_orders
                |         WHERE o_custkey = c.c_custkey
                |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
                |WHERE c.c_custkey % 10 = 0
                |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin)
      },
      Some("""SELECT c.c_custkey, o.o_orderkey,
             |  floor(o.o_totalprice * 1e6)::BIGINT AS totalprice_micros
             |FROM customer c,
             |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             |         WHERE o_custkey = c.c_custkey
             |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
             |WHERE c.c_custkey % 10 = 0
             |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin)),

    // time-series gap fill + LOCF: per-user daily grid (sequence over the
    // observed span), daily-last value carried forward through missing
    // days — the resampling step every metric/feature pipeline needs.
    // Scale shape: daily-last is one (user, day) ranked reduction; the
    // grid explode is bounded by span length; the fill is one window per
    // user ordered by day
    "q112_gapfill_locf" -> Q(
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id") < 50)
          .withColumn("day", expr("unix_millis(ts) div 86400000L"))
        val wd = Window.partitionBy(col("user_id"), col("day"))
          .orderBy(col("ts").desc, col("event_id").desc)
        val daily = ev
          .withColumn("_rn", row_number().over(wd))
          .filter(col("_rn") === 1)
          .select(col("user_id"), col("day"),
            floor(col("value") * lit(1e6)).cast("long").as("v_micros"))
        val grid = daily.groupBy(col("user_id"))
          .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"))).as("day"))
        val wf = Window.partitionBy(col("user_id")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            last(col("v_micros"), ignoreNulls = true).over(wf).as("v_filled"),
            col("v_micros").isNotNull.as("is_observed"))
          .orderBy(col("user_id"), col("day"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_ms(ts) // 86400000 AS day, ts, event_id, value
             |  FROM events WHERE user_id < 50),
             |r AS (
             |  SELECT user_id, day, value, row_number() OVER (
             |    PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM e),
             |daily AS (
             |  SELECT user_id, day, floor(value * 1e6)::BIGINT AS v_micros
             |  FROM r WHERE rn = 1),
             |grid AS (
             |  SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
             |  FROM daily GROUP BY user_id)
             |SELECT g.user_id, g.day,
             |  last_value(v_micros IGNORE NULLS) OVER (
             |    PARTITION BY g.user_id ORDER BY g.day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
             |  (v_micros IS NOT NULL) AS is_observed
             |FROM grid g LEFT JOIN daily dd
             |  ON g.user_id = dd.user_id AND g.day = dd.day
             |ORDER BY g.user_id, g.day""".stripMargin)),

    // collocation extraction: adjacent-bigram PMI (rational variant —
    // the log is monotone, so ranking by the probability RATIO ranks by
    // PMI; every op is an exactly-rounded IEEE op over an identical
    // expression tree, hence engine-exact in ppm). min-count filter kills
    // the hapax-pair noise PMI is notorious for
    "q113_pmi_collocations" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val tok = docs.select(explode(F.tokens(col("text"))).as("tk"))
        val uni = tok.groupBy(col("tk")).agg(count(lit(1)).as("n"))
        val tot = tok.agg(count(lit(1)).as("n_total"))
        // occurrence bigrams, NOT wordShingles (which dedups per doc —
        // set semantics for MinHash; PMI needs raw counts)
        val tk = F.tokens(col("text"))
        val bgArr = when(size(tk) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(tk) - 2),
            i => concat_ws(" ", slice(tk, i + 1, lit(2)))))
        val bgs = docs.select(explode(bgArr).as("bg"))
        val big = bgs.groupBy(col("bg")).agg(count(lit(1)).as("n_pair"))
        val bt = bgs.agg(count(lit(1)).as("t_total"))
        big.filter(col("n_pair") >= 5)
          .withColumn("w1", split(col("bg"), " ").getItem(0))
          .withColumn("w2", split(col("bg"), " ").getItem(1))
          .join(uni.select(col("tk").as("w1"), col("n").as("n1")), Seq("w1"))
          .join(uni.select(col("tk").as("w2"), col("n").as("n2")), Seq("w2"))
          .crossJoin(broadcast(tot))
          .crossJoin(broadcast(bt))
          .select(col("bg"), col("n_pair"),
            floor(lit(1e6) *
              ((col("n_pair").cast("double") / col("t_total")) /
                ((col("n1").cast("double") / col("n_total")) *
                  (col("n2").cast("double") / col("n_total")))))
              .cast("long").as("pmi_ppm"))
          .orderBy(col("pmi_ppm").desc, col("bg"))
          .limit(50)
      },
      Some("""WITH toks AS (
             |  SELECT string_split(trim(text), ' ') AS t FROM documents),
             |u AS (SELECT unnest(t) AS tk FROM toks),
             |uni AS (SELECT tk, count(*)::BIGINT AS n FROM u GROUP BY tk),
             |tot AS (SELECT count(*)::BIGINT AS n_total FROM u),
             |bgs AS (SELECT unnest(CASE WHEN len(t) >= 2
             |    THEN [array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]
             |    ELSE []::VARCHAR[] END) AS bg FROM toks),
             |big AS (SELECT bg, count(*)::BIGINT AS n_pair FROM bgs GROUP BY bg),
             |bt AS (SELECT count(*)::BIGINT AS t_total FROM bgs)
             |SELECT bg, n_pair,
             |  floor(1e6 *
             |    ((n_pair::DOUBLE / t_total) /
             |      ((u1.n::DOUBLE / n_total) * (u2.n::DOUBLE / n_total))))::BIGINT
             |    AS pmi_ppm
             |FROM big
             |CROSS JOIN tot CROSS JOIN bt
             |JOIN uni u1 ON u1.tk = string_split(bg, ' ')[1]
             |JOIN uni u2 ON u2.tk = string_split(bg, ' ')[2]
             |WHERE n_pair >= 5
             |ORDER BY pmi_ppm DESC, bg LIMIT 50""".stripMargin)),

    // ORC round-trip: write part as ORC, read back, aggregate — the
    // columnar-format sibling of the CSV/parquet surface (oracle reads
    // the original parquet: equality proves sink+source fidelity)
    "q114_orc_roundtrip" -> Q(
      (s, d) => {
        val dir = scratchDir("graft_orc") + "/part"
        t(s, d, "part").write.mode("overwrite").orc(dir)
        s.read.orc(dir)
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n_parts"),
            dsum(col("p_retailprice")).as("total_retail"))
          .orderBy(col("p_brand"))
      },
      Some("""SELECT p_brand, count(*)::BIGINT AS n_parts,
             |  round(sum(p_retailprice::DECIMAL(18,6)), 2)::DOUBLE AS total_retail
             |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // JSON-lines round-trip: doubles survive (shortest-repr write, exact
    // re-parse), so the micro-unit floor AFTER re-read equals the
    // original — that equality is the fidelity check
    "q115_json_roundtrip" -> Q(
      (s, d) => {
        val dir = scratchDir("graft_json") + "/events"
        t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .write.mode("overwrite").json(dir)
        s.read
          .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
          .json(dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            usum(col("value")).as("total_value_micros"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*)::BIGINT AS n_events,
             |  sum(floor(value*1e6)::BIGINT)::BIGINT AS total_value_micros
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // conversion latency: per-user delay from first signup to first
    // later purchase (funnel q104 counts WHO; this measures HOW LONG)
    "q116_time_to_conversion" -> Q(
      (s, d) => {
        operators.EventAnalytics.timeToConversion(
            t(s, d, "events"), "user_id", "event_type", "ts", "signup", "purchase")
          .select(col("user").as("user_id"), col("t_from_ms"), col("t_to_ms"),
            col("delay_ms"))
          .orderBy(col("user_id"))
      },
      Some("""WITH f AS (SELECT user_id, min(ts) AS t_from FROM events
             |  WHERE event_type = 'signup' GROUP BY user_id),
             |c AS (SELECT e.user_id, t_from, min(ts) AS t_to FROM events e
             |  JOIN f ON e.user_id = f.user_id
             |  WHERE event_type = 'purchase' AND ts > t_from
             |  GROUP BY e.user_id, t_from)
             |SELECT user_id, epoch_ms(t_from)::BIGINT AS t_from_ms,
             |  epoch_ms(t_to)::BIGINT AS t_to_ms,
             |  (epoch_ms(t_to) - epoch_ms(t_from))::BIGINT AS delay_ms
             |FROM c ORDER BY user_id""".stripMargin)),

    // PageRank over the co-purchase graph (parts sharing an order), 3
    // iterations of deterministic integer arithmetic — an ITERATIVE graph
    // computation under the hash gate, oracle = the 3 rounds unrolled
    "q117_pagerank_copurchase" -> Q(
      (s, d) => {
        val edges = operators.Graph.coOccurrenceEdges(
          t(s, d, "lineitem"), "l_orderkey", "l_partkey")
        operators.Graph.pagerank(edges, iterations = 3,
          assumeDistinctEdges = true)
          .orderBy(col("rank_ppm").desc, col("node"))
          .limit(100)
      },
      Some("""WITH it AS (
             |  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem),
             |e AS (SELECT DISTINCT a.item AS src, b.item AS dst
             |  FROM it a JOIN it b ON a.g = b.g AND a.item <> b.item),
             |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
             |nodes AS (SELECT DISTINCT src AS node FROM e
             |  UNION SELECT DISTINCT dst FROM e),
             |p0 AS (SELECT node, 1000000::BIGINT AS p FROM nodes),
             |c1 AS (SELECT dst, sum(p // deg)::BIGINT AS s FROM e
             |  JOIN deg USING (src) JOIN p0 ON p0.node = e.src GROUP BY dst),
             |p1 AS (SELECT node, (150000 + (850 * coalesce(s, 0)) // 1000)::BIGINT AS p
             |  FROM nodes LEFT JOIN c1 ON node = dst),
             |c2 AS (SELECT dst, sum(p // deg)::BIGINT AS s FROM e
             |  JOIN deg USING (src) JOIN p1 ON p1.node = e.src GROUP BY dst),
             |p2 AS (SELECT node, (150000 + (850 * coalesce(s, 0)) // 1000)::BIGINT AS p
             |  FROM nodes LEFT JOIN c2 ON node = dst),
             |c3 AS (SELECT dst, sum(p // deg)::BIGINT AS s FROM e
             |  JOIN deg USING (src) JOIN p2 ON p2.node = e.src GROUP BY dst),
             |p3 AS (SELECT node, (150000 + (850 * coalesce(s, 0)) // 1000)::BIGINT AS p
             |  FROM nodes LEFT JOIN c3 ON node = dst)
             |SELECT node, p AS rank_ppm FROM p3
             |ORDER BY rank_ppm DESC, node LIMIT 100""".stripMargin)),

    // exact-quota stratified sample: exactly floor(n_lang * 25%) docs per
    // language, membership = hash order (oracle reproduces the exact set,
    // not just the counts)
    "q118_stratified_sample" -> Q(
      (s, d) => {
        Sampling.stratifiedSample(
            t(s, d, "documents").select(col("doc_id"), col("lang")),
            "doc_id", "lang", ppm = 250000)
          .select(col("doc_id"), col("lang"), col("quota"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH r AS (
              |  SELECT doc_id, lang,
              |    row_number() OVER (PARTITION BY lang
              |      ORDER BY ${dHash64("'strat:'||doc_id")}, doc_id) AS rk,
              |    (count(*) OVER (PARTITION BY lang) * 250000 // 1000000)::BIGINT
              |      AS quota
              |  FROM documents)
              |SELECT doc_id, lang, quota FROM r WHERE rk <= quota
              |ORDER BY doc_id""".stripMargin)),

    // dataset snapshot diff: two simulated versions of the corpus
    // full-outer-joined on id with content hashes -> added / removed /
    // changed / unchanged counts (the data-versioning audit every
    // managed-corpus pipeline runs before promoting a snapshot)
    "q119_dataset_diff" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val v1 = docs.filter(col("doc_id") % 11 =!= 3)
          .select(col("doc_id"), md5(col("text")).as("h1"))
        val v2 = docs.filter(col("doc_id") % 7 =!= 2)
          .select(col("doc_id"),
            md5(when(col("doc_id") % 13 === 0, upper(col("text")))
              .otherwise(col("text"))).as("h2"))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .select(
            when(col("h1").isNull, "added")
              .when(col("h2").isNull, "removed")
              .when(col("h1") =!= col("h2"), "changed")
              .otherwise("unchanged").as("status"))
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("status"))
      },
      Some("""WITH v1 AS (SELECT doc_id, md5(text) AS h1 FROM documents
             |  WHERE doc_id % 11 <> 3),
             |v2 AS (SELECT doc_id,
             |    md5(CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END) AS h2
             |  FROM documents WHERE doc_id % 7 <> 2),
             |j AS (SELECT CASE WHEN h1 IS NULL THEN 'added'
             |    WHEN h2 IS NULL THEN 'removed'
             |    WHEN h1 <> h2 THEN 'changed'
             |    ELSE 'unchanged' END AS status
             |  FROM v1 FULL OUTER JOIN v2 USING (doc_id))
             |SELECT status, count(*)::BIGINT AS n FROM j
             |GROUP BY status ORDER BY status""".stripMargin)),

    // LSH parameter evaluation: MinHash-LSH candidates (est >= 0.5) on a
    // deterministic eval sample, scored against the EXACT threshold join
    // (ppjoin ground truth) -> tp/fp/fn + precision/recall ppm. The
    // eval-on-sample shape is how LSH params are tuned before a 100 TB
    // run commits to them
    "q120_lsh_recall_eval" -> Q(
      (s, d) => {
        val sample = t(s, d, "documents").filter(col("doc_id") % 4 === 0)
        val truth = Dedup
          .ppjoinJaccard(sample, "doc_id", "text", shingleN = 3, threshold = 0.5)
          .select(col("doc_a"), col("doc_b"), lit(1L).as("in_t"))
        val cand = Dedup
          .minhashLsh(sample, "doc_id", "text",
            shingleN = 3, numHashes = minhashSeeds, bands = minhashBands)
          .filter(col("est_jaccard") >= 0.5)
          .select(col("doc_a"), col("doc_b"), lit(1L).as("in_c"))
        truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
          .agg(
            sum(when(col("in_t").isNotNull && col("in_c").isNotNull, 1L)
              .otherwise(0L)).as("tp"),
            sum(when(col("in_t").isNull, 1L).otherwise(0L)).as("fp"),
            sum(when(col("in_c").isNull, 1L).otherwise(0L)).as("fn"))
          .select(col("tp"), col("fp"), col("fn"),
            expr("CASE WHEN tp + fp = 0 THEN CAST(0 AS BIGINT) " +
              "ELSE (1000000 * tp) div (tp + fp) END").as("precision_ppm"),
            expr("CASE WHEN tp + fn = 0 THEN CAST(0 AS BIGINT) " +
              "ELSE (1000000 * tp) div (tp + fn) END").as("recall_ppm"))
      },
      Some(s"""${duckMinhashCtesFor("(SELECT * FROM documents WHERE doc_id % 4 = 0)")},
              |cand AS (
              |  SELECT DISTINCT doc_a, doc_b FROM (
              |    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
              |      round(len([i for i in range(1, ${minhashSeeds + 1})
              |        if a.sig[i] = b2.sig[i]])::DOUBLE / $minhashSeeds, 6) AS ej
              |    FROM bands a JOIN bands b2
              |      ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id)
              |  WHERE ej >= 0.5),
              |t0 AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
              |  WHERE doc_id % 4 = 0),
              |g0 AS (
              |  SELECT doc_id, CASE WHEN len(t) >= 3
              |    THEN list_distinct([array_to_string(t[i:i+2], ' ')
              |      for i in range(1, len(t) - 1)])
              |    ELSE [] END AS grams
              |  FROM t0),
              |g AS (SELECT doc_id, [${dHash64("x")} for x in grams] AS h FROM g0),
              |truth AS (
              |  SELECT doc_a, doc_b FROM (
              |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |      round(len(list_intersect(a.h, b.h))::DOUBLE /
              |            len(list_distinct(a.h || b.h)), 6) AS jaccard
              |    FROM g a JOIN g b
              |      ON a.doc_id < b.doc_id AND len(a.h) > 0 AND len(b.h) > 0)
              |  WHERE jaccard >= 0.5),
              |j AS (
              |  SELECT CASE WHEN t.doc_a IS NOT NULL AND c.doc_a IS NOT NULL
              |      THEN 'tp' WHEN t.doc_a IS NULL THEN 'fp' ELSE 'fn' END AS k
              |  FROM truth t FULL OUTER JOIN cand c
              |    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
              |m AS (SELECT
              |    sum(CASE WHEN k = 'tp' THEN 1 ELSE 0 END)::BIGINT AS tp,
              |    sum(CASE WHEN k = 'fp' THEN 1 ELSE 0 END)::BIGINT AS fp,
              |    sum(CASE WHEN k = 'fn' THEN 1 ELSE 0 END)::BIGINT AS fn
              |  FROM j)
              |SELECT tp, fp, fn,
              |  (CASE WHEN tp + fp = 0 THEN 0
              |    ELSE (1000000 * tp) // (tp + fp) END)::BIGINT AS precision_ppm,
              |  (CASE WHEN tp + fn = 0 THEN 0
              |    ELSE (1000000 * tp) // (tp + fn) END)::BIGINT AS recall_ppm
              |FROM m""".stripMargin)),

    // HiveQL LATERAL VIEW explode — the Hive-dialect table-generating
    // syntax (q49 covers the DataFrame explode; this is the SQL text a
    // Hive user types at the REPL, part of the S21 parity surface)
    "q121_lateral_view_wordcount" -> Q(
      (s, d) => {
        t(s, d, "documents").createOrReplaceTempView("q121_documents")
        s.sql("""SELECT source, tok, count(*) AS n
                |FROM q121_documents
                |LATERAL VIEW explode(split(trim(text), ' ')) x AS tok
                |GROUP BY source, tok
                |HAVING count(*) >= 20
                |ORDER BY source, tok""".stripMargin)
      },
      Some("""SELECT source, tok, count(*)::BIGINT AS n
             |FROM (SELECT source, unnest(string_split(trim(text), ' ')) AS tok
             |      FROM documents)
             |GROUP BY source, tok HAVING count(*) >= 20
             |ORDER BY source, tok""".stripMargin)),

    // file-level zone maps: cluster events into files by user range,
    // build the per-file min/max index in one column-pruned scan, then
    // answer a range query opening ONLY intersecting files (residual
    // filter keeps exactness; Round5Spec asserts files were skipped)
    "q122_zonemap_pruned_scan" -> Q(
      (s, d) => {
        val dir = scratchDir("graft_zonemap") + "/events"
        t(s, d, "events")
          .withColumn("_ub", expr("user_id div 100"))
          .repartition(16, col("_ub"))
          .drop("_ub")
          .write.mode("overwrite").parquet(dir)
        val stats = operators.ZoneMap.buildStats(s, dir, "user_id")
        val scan = operators.ZoneMap.prunedRead(s, dir, "user_id", stats, 0L, 99L)
        scan.df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            usum(col("value")).as("total_value_micros"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*)::BIGINT AS n_events,
             |  sum(floor(value*1e6)::BIGINT)::BIGINT AS total_value_micros
             |FROM events WHERE user_id BETWEEN 0 AND 99
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // incremental materialized-view maintenance: the stored MV (base
    // aggregate) absorbs a delta batch's partial aggregates in one
    // MV-sized keyed merge — the base is never rescanned; oracle is the
    // full recompute the merge must equal exactly
    "q123_incremental_mv" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
          .withColumn("day", expr("unix_millis(ts) div 86400000L"))
        def agg(df: DataFrame) = df
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n_events"),
            usum(col("value")).as("total_value_micros"))
        operators.Cdc.mergeAggDelta(
            agg(ev.filter(col("day") < 19745)),
            agg(ev.filter(col("day") >= 19745)),
            Seq("event_type", "day"), Seq("n_events", "total_value_micros"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""SELECT event_type, epoch_ms(ts) // 86400000 AS day,
             |  count(*)::BIGINT AS n_events,
             |  sum(floor(value*1e6)::BIGINT)::BIGINT AS total_value_micros
             |FROM events GROUP BY 1, 2
             |ORDER BY event_type, day""".stripMargin)),

    // CDC merge as SCD type-2: a deterministic change batch (updates,
    // deletes, inserts keyed off custkey residues) applied to the
    // customer snapshot; changed rows are closed, upserts open version 2
    "q124_scd2_merge" -> Q(
      (s, d) => {
        q124Scd2History(s, d).orderBy(col("c_custkey"), col("version"))
      },
      Some("""WITH snap AS (SELECT c_custkey,
             |    floor(c_acctbal*1e6)::BIGINT AS acctbal_micros, c_mktsegment
             |  FROM customer),
             |v1 AS (
             |  SELECT c_custkey, 1::BIGINT AS version, acctbal_micros,
             |    c_mktsegment, 1::BIGINT AS valid_from,
             |    (CASE WHEN c_custkey % 10 IN (1, 2) THEN 2 END)::BIGINT AS valid_to,
             |    (c_custkey % 10 NOT IN (1, 2)) AS is_current
             |  FROM snap),
             |v2u AS (
             |  SELECT c_custkey, 2::BIGINT AS version,
             |    (acctbal_micros + 100000000)::BIGINT AS acctbal_micros,
             |    c_mktsegment, 2::BIGINT AS valid_from, NULL::BIGINT AS valid_to,
             |    true AS is_current
             |  FROM snap WHERE c_custkey % 10 = 1),
             |v2i AS (
             |  SELECT (c_custkey + 1000000)::BIGINT AS c_custkey,
             |    2::BIGINT AS version, (c_custkey * 1000)::BIGINT AS acctbal_micros,
             |    'NEW' AS c_mktsegment, 2::BIGINT AS valid_from,
             |    NULL::BIGINT AS valid_to, true AS is_current
             |  FROM snap WHERE c_custkey % 10 = 3)
             |SELECT * FROM v1 UNION ALL SELECT * FROM v2u UNION ALL
             |SELECT * FROM v2i
             |ORDER BY c_custkey, version""".stripMargin)),

    // last-touch attribution: each purchase attributed to the user's
    // latest click at most 7 days earlier (as-of join + window bound;
    // the latest prior click IS the only candidate, so asof+filter is
    // exactly windowed last-touch)
    "q125_attribution" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("event_id")).as("click_id"))
        val within = col("asof_ts").isNotNull &&
          (unix_millis(col("ts")) - unix_millis(col("asof_ts")) <= 604800000L)
        AsOfJoin(purchases, clicks, "user_id", "ts", "ts", Seq("ts", "click_id"))
          .select(
            col("event_id"), col("user_id"),
            unix_millis(col("ts")).as("purchase_ms"),
            when(within, unix_millis(col("asof_ts"))).as("click_ms"),
            when(within, col("asof_click_id")).as("click_id"),
            within.as("attributed"))
          .orderBy(col("event_id"))
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
             |  WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
             |  WHERE event_type = 'click' GROUP BY user_id, ts)
             |SELECT p.event_id, p.user_id, epoch_ms(p.ts)::BIGINT AS purchase_ms,
             |  (CASE WHEN c.ts IS NOT NULL
             |      AND epoch_ms(p.ts) - epoch_ms(c.ts) <= 604800000
             |    THEN epoch_ms(c.ts) END)::BIGINT AS click_ms,
             |  (CASE WHEN c.ts IS NOT NULL
             |      AND epoch_ms(p.ts) - epoch_ms(c.ts) <= 604800000
             |    THEN c.click_id END)::BIGINT AS click_id,
             |  (c.ts IS NOT NULL
             |    AND epoch_ms(p.ts) - epoch_ms(c.ts) <= 604800000) AS attributed
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)),

    // interpolated percentiles at exact binary fractions (0.25/0.5/0.75):
    // positions and interpolation weights are powers of two, so
    // percentile_cont is EXACT on integer-valued doubles in any engine —
    // the only probe points where a continuous percentile can sit under
    // a hash gate without rounding games
    "q126_percentile_battery" -> Q(
      (s, d) => {
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            expr("percentile(l_quantity, 0.25D)").as("p25_qty"),
            expr("percentile(l_quantity, 0.5D)").as("p50_qty"),
            expr("percentile(l_quantity, 0.75D)").as("p75_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(*)::BIGINT AS n,
             |  quantile_cont(l_quantity, 0.25) AS p25_qty,
             |  quantile_cont(l_quantity, 0.5) AS p50_qty,
             |  quantile_cont(l_quantity, 0.75) AS p75_qty
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // regex battery beyond q41's string funcs: extract_all counts,
    // global replace, rlike — patterns restricted to the syntax subset
    // where Java regex (Spark) and RE2 (DuckDB) agree
    "q127_regex_battery" -> Q(
      (s, d) => {
        t(s, d, "documents").filter(col("doc_id") < 100)
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0)))
              .cast("long").as("n_vowel_runs"),
            size(regexp_extract_all(col("text"), lit("\\bthe\\b"), lit(0)))
              .cast("long").as("n_the"),
            length(regexp_replace(col("text"), "[aeiou]", ""))
              .cast("long").as("len_novowels"),
            col("text").rlike("[0-9]").as("has_digits"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  len(regexp_extract_all(text, '[aeiou]+'))::BIGINT AS n_vowel_runs,
             |  len(regexp_extract_all(text, '\bthe\b'))::BIGINT AS n_the,
             |  length(regexp_replace(text, '[aeiou]', '', 'g'))::BIGINT
             |    AS len_novowels,
             |  regexp_matches(text, '[0-9]') AS has_digits
             |FROM documents WHERE doc_id < 100
             |ORDER BY doc_id""".stripMargin)),

    // declarative data-quality suite: null / range / uniqueness /
    // referential checks as violation-count aggregates (the
    // Deequ-style gate a managed pipeline runs before promoting data)
    "q128_data_quality_report" -> Q(
      (s, d) => {
        import operators.Quality
        import operators.Quality.RowCheck
        val li = t(s, d, "lineitem")
        Quality.report(Seq(
          Quality.rowChecks(li, Seq(
            RowCheck("lineitem.shipdate_not_null", col("l_shipdate").isNull),
            RowCheck("lineitem.quantity_range_1_50",
              !col("l_quantity").between(1, 50)),
            RowCheck("lineitem.discount_range_0_005",
              !col("l_discount").between(0, 0.05)))),
          Quality.uniqueCheck(li, Seq("l_orderkey", "l_linenumber"),
            "lineitem.unique_order_line"),
          Quality.referentialCheck(li, "l_orderkey",
            t(s, d, "orders"), "o_orderkey", "lineitem.orderkey_in_orders")))
          .orderBy(col("check_name"))
      },
      Some("""WITH c AS (
             |  SELECT 'lineitem.shipdate_not_null' AS check_name,
             |    count(CASE WHEN l_shipdate IS NULL THEN 1 END)::BIGINT
             |      AS n_violations FROM lineitem
             |  UNION ALL SELECT 'lineitem.quantity_range_1_50',
             |    count(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 END)::BIGINT
             |    FROM lineitem
             |  UNION ALL SELECT 'lineitem.discount_range_0_005',
             |    count(CASE WHEN NOT (l_discount BETWEEN 0 AND 0.05) THEN 1 END)::BIGINT
             |    FROM lineitem
             |  UNION ALL SELECT 'lineitem.unique_order_line',
             |    (SELECT (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT
             |     FROM lineitem)
             |  UNION ALL SELECT 'lineitem.orderkey_in_orders',
             |    (SELECT count(*)::BIGINT FROM lineitem
             |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)))
             |SELECT check_name, n_violations, (n_violations = 0) AS pass
             |FROM c ORDER BY check_name""".stripMargin)),

    // T5-style span corruption: deterministically hash-chosen token
    // positions are masked to a sentinel; targets carry the original
    // masked tokens — the seq2seq pretraining preprocessing step,
    // reproducible across engines and reruns (no RNG)
    "q129_span_corruption" -> Q(
      (s, d) => {
        val toks = t(s, d, "documents").filter(col("doc_id") < 50)
          .select(col("doc_id"),
            posexplode(F.tokens(col("text"))).as(Seq("pos", "tok")))
          .withColumn("m",
            F.hash64(concat(col("doc_id").cast("string"), lit(":"),
              col("pos").cast("string"))) % 5 === 0)
        toks.groupBy(col("doc_id"))
          .agg(
            array_join(
              transform(
                array_sort(collect_list(struct(col("pos"),
                  when(col("m"), lit("<M>")).otherwise(col("tok")).as("v")))),
                x => x.getField("v")), " ").as("corrupted"),
            array_join(
              transform(
                filter(
                  array_sort(collect_list(struct(col("pos"), col("tok"), col("m")))),
                  x => x.getField("m")),
                x => x.getField("tok")), " ").as("targets"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t0 AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS t
              |  FROM documents WHERE doc_id < 50),
              |m AS (
              |  SELECT doc_id, t,
              |    [${dHash64("doc_id||':'||(i-1)")} % 5 = 0
              |      for i in range(1, len(t)+1)] AS mk
              |  FROM t0)
              |SELECT doc_id,
              |  array_to_string([CASE WHEN mk[i] THEN '<M>' ELSE t[i] END
              |    for i in range(1, len(t)+1)], ' ') AS corrupted,
              |  array_to_string([t[i] for i in range(1, len(t)+1) if mk[i]], ' ')
              |    AS targets
              |FROM m ORDER BY doc_id""".stripMargin)),

    // RANGE-frame rolling window: per-user 10-minute trailing sum keyed
    // on the timestamp VALUE distance (not row count) — the frame type
    // q05/q16 don't exercise; tie timestamps share a frame by definition
    "q130_rolling_range_window" -> Q(
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id") < 30)
          .select(col("user_id"), col("event_id"),
            unix_millis(col("ts")).as("ms"),
            floor(col("value") * lit(1e6)).cast("long").as("v"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("ms"))
          .rangeBetween(-600000L, 0L)
        ev.select(col("user_id"), col("event_id"), col("ms"),
            sum(col("v")).over(w).as("rolling_value_micros"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
             |    floor(value*1e6)::BIGINT AS v
             |  FROM events WHERE user_id < 30)
             |SELECT user_id, event_id, ms,
             |  (sum(v) OVER (PARTITION BY user_id ORDER BY ms
             |    RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW))::BIGINT
             |    AS rolling_value_micros
             |FROM e ORDER BY user_id, event_id""".stripMargin)),

    // streaming SCD1 upsert: latest row per user maintained in versioned
    // parquet state by a foreachBatch merge — order-independent (max of
    // (ts, event_id)), so any micro-batch split converges to the batch
    // answer (Round5Spec drives a 3-way split to the same state)
    "q131_streaming_upsert" -> Q(
      (s, d) => {
        val base = scratchDir("graft_q131")
        val ev = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        ev.write.mode("overwrite").parquet(s"$base/src")
        val stream = s.readStream.schema(ev.schema).parquet(s"$base/src")
        val q = graft.streaming.UpsertSink.start(stream, s"$base/state",
          s"$base/ckpt", "user_id", "ts", "event_id", Seq("value"))
        EventStreams.drain(q)
        graft.streaming.UpsertSink.currentState(s, s"$base/state")
          .select(col("user_id"),
            unix_millis(col("ts")).as("last_ms"),
            col("event_id").as("last_event_id"),
            floor(col("value") * lit(1e6)).cast("long").as("last_value_micros"))
          .orderBy(col("user_id"))
      },
      Some("""WITH r AS (
             |  SELECT user_id, ts, event_id, floor(value*1e6)::BIGINT AS v,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events)
             |SELECT user_id, epoch_ms(ts)::BIGINT AS last_ms,
             |  event_id AS last_event_id, v AS last_value_micros
             |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // time travel: the SCD2 history queried "as of" the pre-change
    // version must reconstruct the original snapshot EXACTLY — the
    // oracle is the raw customer table, closing the loop on q124
    "q132_time_travel" -> Q(
      (s, d) => {
        operators.Cdc.snapshotAsOf(q124Scd2History(s, d), version = 1L)
          .filter(col("c_custkey") < 300)
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, floor(c_acctbal*1e6)::BIGINT AS acctbal_micros,
             |  c_mktsegment
             |FROM customer WHERE c_custkey < 300
             |ORDER BY c_custkey""".stripMargin)),

    // two-sample z-test (A/B report): click vs purchase event values,
    // moments from exact integer milli-unit sums (micro-units would
    // overflow the Σx² long at 100 TB row counts — milli keeps the
    // square sum in range; the z itself is an identical IEEE tree in
    // both engines, emitted in ppm)
    "q133_ab_test" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type"),
            floor(col("value") * lit(1e3)).cast("long").as("vm"))
        val stats = ev.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("vm")).as("s"),
            sum(col("vm") * col("vm")).as("ss"))
        val a = stats.filter(col("event_type") === "click")
          .select(col("n").as("n_a"), col("s").as("s_a"), col("ss").as("ss_a"))
        val b = stats.filter(col("event_type") === "purchase")
          .select(col("n").as("n_b"), col("s").as("s_b"), col("ss").as("ss_b"))
        val ma = col("s_a").cast("double") / col("n_a")
        val mb = col("s_b").cast("double") / col("n_b")
        val va = (col("ss_a").cast("double") -
          col("s_a").cast("double") * col("s_a") / col("n_a")) / col("n_a")
        val vb = (col("ss_b").cast("double") -
          col("s_b").cast("double") * col("s_b") / col("n_b")) / col("n_b")
        val z = (ma - mb) / sqrt(va / col("n_a") + vb / col("n_b"))
        a.crossJoin(b).select(
          col("n_a"), col("n_b"),
          floor(lit(1e3) * ma).cast("long").as("mean_a_micros"),
          floor(lit(1e3) * mb).cast("long").as("mean_b_micros"),
          floor(lit(1e6) * z).cast("long").as("z_ppm"),
          (abs(z) >= 1.96).as("significant"))
      },
      Some("""WITH e AS (SELECT event_type, floor(value*1e3)::BIGINT AS vm
             |  FROM events WHERE event_type IN ('click', 'purchase')),
             |st AS (SELECT event_type, count(*)::BIGINT AS n,
             |    sum(vm)::BIGINT AS s, sum(vm*vm)::BIGINT AS ss
             |  FROM e GROUP BY event_type),
             |a AS (SELECT n AS n_a, s AS s_a, ss AS ss_a FROM st
             |  WHERE event_type = 'click'),
             |b AS (SELECT n AS n_b, s AS s_b, ss AS ss_b FROM st
             |  WHERE event_type = 'purchase')
             |SELECT n_a, n_b,
             |  floor(1e3 * (s_a::DOUBLE / n_a))::BIGINT AS mean_a_micros,
             |  floor(1e3 * (s_b::DOUBLE / n_b))::BIGINT AS mean_b_micros,
             |  floor(1e6 * ((s_a::DOUBLE / n_a - s_b::DOUBLE / n_b) /
             |    sqrt(((ss_a::DOUBLE - s_a::DOUBLE * s_a / n_a) / n_a) / n_a +
             |         ((ss_b::DOUBLE - s_b::DOUBLE * s_b / n_b) / n_b) / n_b)))::BIGINT
             |    AS z_ppm,
             |  (abs((s_a::DOUBLE / n_a - s_b::DOUBLE / n_b) /
             |    sqrt(((ss_a::DOUBLE - s_a::DOUBLE * s_a / n_a) / n_a) / n_a +
             |         ((ss_b::DOUBLE - s_b::DOUBLE * s_b / n_b) / n_b) / n_b)) >= 1.96)
             |    AS significant
             |FROM a CROSS JOIN b""".stripMargin)),

    // token-diversity report per source: Simpson index 1 - Σp² — the
    // log-free diversity metric (entropy needs libm ln, which is not
    // bit-portable across engines); counts and squares are exact longs
    "q134_token_diversity" -> Q(
      (s, d) => {
        val cnt = t(s, d, "documents")
          .select(col("source"), explode(F.tokens(col("text"))).as("tk"))
          .groupBy(col("source"), col("tk"))
          .agg(count(lit(1)).as("c"))
        cnt.groupBy(col("source"))
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            sum(col("c") * col("c")).as("ssq"))
          .select(col("source"), col("n_tokens"), col("n_distinct"),
            floor(lit(1e6) * (lit(1.0) - col("ssq").cast("double") /
              (col("n_tokens").cast("double") * col("n_tokens").cast("double"))))
              .cast("long").as("simpson_ppm"))
          .orderBy(col("source"))
      },
      Some("""WITH c AS (
             |  SELECT source, tok, count(*)::BIGINT AS c FROM (
             |    SELECT source, unnest(string_split(trim(text), ' ')) AS tok
             |    FROM documents)
             |  GROUP BY source, tok)
             |SELECT source, sum(c)::BIGINT AS n_tokens,
             |  count(*)::BIGINT AS n_distinct,
             |  floor(1e6 * (1.0 - sum(c*c)::DOUBLE /
             |    (sum(c)::DOUBLE * sum(c)::DOUBLE)))::BIGINT AS simpson_ppm
             |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // federated three-source join: parquet × CSV × JDBC (embedded Derby)
    // in one plan — the cross-source shape the reference's Sqoop/Hive
    // stack needed three systems for; oracle computes from parquet alone,
    // so equality proves both foreign sources round-tripped faithfully.
    // Bench note: Derby's in-process engine (page cache warm-up, lock
    // table, background checkpointing) makes this the catalog's
    // jitteriest entry — r08's 0.7→1.8 s "regression" re-measured at
    // 0.79 s isolated with a 1.2 s cross-pass spread; treat excursions
    // under ~2x as Derby noise, not plan drift.
    "q135_federated_join" -> Q(
      (s, d) => {
        val base = scratchDir("graft_q135")
        val nation = t(s, d, "nation")
        nation.write.mode("overwrite").option("header", "true")
          .csv(s"$base/nation_csv")
        val nationCsv = s.read.option("header", "true")
          .schema(nation.schema).csv(s"$base/nation_csv")
        val url = s"jdbc:derby:$base/derby_db;create=true"
        t(s, d, "region").write.mode("overwrite").format("jdbc")
          .option("url", url).option("dbtable", "region").save()
        val regionJdbc = s.read.format("jdbc")
          .option("url", url).option("dbtable", "region").load()
        t(s, d, "supplier")
          .join(nationCsv, col("s_nationkey") === col("n_nationkey"))
          .join(regionJdbc, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(count(lit(1)).as("n_suppliers"),
            dsum(col("s_acctbal")).as("total_acctbal"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""SELECT r_name, n_name, count(*)::BIGINT AS n_suppliers,
             |  round(sum(s_acctbal::DECIMAL(18,6)), 2)::DOUBLE AS total_acctbal
             |FROM supplier
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name
             |ORDER BY r_name, n_name""".stripMargin)),

    // schema evolution: a later batch adds a column; mergeSchema unifies,
    // earlier rows read as NULL — the append-only table-evolution
    // contract a long-lived corpus depends on
    "q136_schema_evolution" -> Q(
      (s, d) => {
        val base = scratchDir("graft_q136") + "/t"
        val ord = t(s, d, "orders")
        ord.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"))
          .write.mode("overwrite").parquet(s"$base/batch=1")
        ord.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"),
            floor(col("o_totalprice") * lit(1e6)).cast("long").as("price_micros"))
          .write.mode("overwrite").parquet(s"$base/batch=2")
        s.read.option("mergeSchema", "true").parquet(base)
          .groupBy(col("batch").cast("long").as("batch"))
          .agg(count(lit(1)).as("n"),
            count(col("price_micros")).as("n_with_price"),
            coalesce(sum(col("price_micros")), lit(0L)).as("total_price_micros"))
          .orderBy(col("batch"))
      },
      Some("""SELECT batch, count(*)::BIGINT AS n,
             |  count(price_micros)::BIGINT AS n_with_price,
             |  coalesce(sum(price_micros), 0)::BIGINT AS total_price_micros
             |FROM (
             |  SELECT 1::BIGINT AS batch, NULL::BIGINT AS price_micros
             |  FROM orders WHERE o_orderkey % 2 = 0
             |  UNION ALL
             |  SELECT 2::BIGINT, floor(o_totalprice*1e6)::BIGINT
             |  FROM orders WHERE o_orderkey % 2 = 1)
             |GROUP BY batch ORDER BY batch""".stripMargin)),

    // malformed-record handling at the source layer: planted garbage
    // lines in a CSV; DROPMALFORMED keeps clean rows, PERMISSIVE counts
    // corrupt ones — the S14 NULL-on-bad-cast contract extended to
    // whole-row failures
    "q137_malformed_csv" -> Q(
      (s, d) => {
        val base = scratchDir("graft_q137")
        t(s, d, "orders").select(
            when(col("o_orderkey") % 50 === 0,
              concat(lit("bad_"), col("o_orderkey").cast("string")))
              .otherwise(concat(col("o_orderkey").cast("string"), lit(","),
                floor(col("o_totalprice") * lit(1e6)).cast("long").cast("string")))
              .as("value"))
          .write.mode("overwrite").text(s"$base/csv")
        // count(id), not count(*): the CSV parser only validates REFERENCED
        // columns (column pruning), so a count that touches no data column
        // would let malformed ids through undropped. Valid rows always
        // carry a numeric id, so count(id) is the kept-row count.
        val clean = s.read.schema("id BIGINT, price_micros BIGINT")
          .option("mode", "DROPMALFORMED").csv(s"$base/csv")
          .agg(count(col("id")).as("n_valid"),
            sum(col("price_micros")).as("total_price_micros"))
        // .cache(): Spark refuses a query whose only referenced column is
        // the internal corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_
        // COLUMN); materializing first is the documented pattern
        val corrupt = s.read
          .schema("id BIGINT, price_micros BIGINT, _corrupt_record STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(s"$base/csv")
          .cache()
          .filter(col("_corrupt_record").isNotNull)
          .agg(count(lit(1)).as("n_corrupt"))
        clean.crossJoin(corrupt)
      },
      Some("""SELECT
             |  (SELECT count(*) FROM orders WHERE o_orderkey % 50 <> 0)::BIGINT
             |    AS n_valid,
             |  (SELECT sum(floor(o_totalprice*1e6)::BIGINT)
             |   FROM orders WHERE o_orderkey % 50 <> 0)::BIGINT
             |    AS total_price_micros,
             |  (SELECT count(*) FROM orders WHERE o_orderkey % 50 = 0)::BIGINT
             |    AS n_corrupt""".stripMargin)),

    // grouping_id()/grouping() disambiguation over CUBE — how a reader
    // tells a real NULL group from a rollup row; both engines put the
    // first cube column in the most significant bit
    "q138_grouping_id" -> Q(
      (s, d) => {
        t(s, d, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            grouping_id().as("gid"),
            grouping(col("o_orderstatus")).cast("long").as("g_status"),
            grouping(col("o_orderpriority")).cast("long").as("g_priority"),
            count(lit(1)).as("n"))
          .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
            col("o_orderpriority").asc_nulls_first)
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
             |  grouping_id(o_orderstatus, o_orderpriority)::BIGINT AS gid,
             |  grouping(o_orderstatus)::BIGINT AS g_status,
             |  grouping(o_orderpriority)::BIGINT AS g_priority,
             |  count(*)::BIGINT AS n
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY gid, o_orderstatus NULLS FIRST,
             |  o_orderpriority NULLS FIRST""".stripMargin)),

    // readability report: Flesch reading-ease from pure counts —
    // sentences = [.!?]+ runs, syllables ≈ vowel runs per word (the
    // standard programmatic approximation); the score is a fixed
    // rational expression over three counts, emitted in milli-units
    "q139_readability" -> Q(
      (s, d) => {
        val counts = t(s, d, "documents")
          .select(col("doc_id"),
            size(F.tokens(col("text"))).cast("long").as("n_words"),
            greatest(lit(1L),
              size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
                .cast("long")).as("n_sentences"),
            greatest(lit(1L),
              size(regexp_extract_all(col("text"), lit("[aeiouyAEIOUY]+"), lit(0)))
                .cast("long")).as("n_syllables"))
          .filter(col("doc_id") < 200)
        counts.select(col("doc_id"), col("n_words"), col("n_sentences"),
            col("n_syllables"),
            floor(lit(1e3) * (lit(206.835) -
              lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
              lit(84.6) * (col("n_syllables").cast("double") / col("n_words"))))
              .cast("long").as("flesch_milli"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  len(string_split(trim(text), ' '))::BIGINT AS n_words,
             |  greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT
             |    AS n_sentences,
             |  greatest(1, len(regexp_extract_all(text, '[aeiouyAEIOUY]+')))::BIGINT
             |    AS n_syllables,
             |  floor(1e3 * (206.835 -
             |    1.015 * (len(string_split(trim(text), ' '))::DOUBLE /
             |      greatest(1, len(regexp_extract_all(text, '[.!?]+')))) -
             |    84.6 * (greatest(1, len(regexp_extract_all(text, '[aeiouyAEIOUY]+')))::DOUBLE /
             |      len(string_split(trim(text), ' ')))))::BIGINT AS flesch_milli
             |FROM documents WHERE doc_id < 200
             |ORDER BY doc_id""".stripMargin)),

    // equi-width histogram: integer bucket arithmetic (no width_bucket —
    // not portable), top-capped last bucket
    "q140_histogram" -> Q(
      (s, d) => {
        t(s, d, "orders")
          .select(least(expr("CAST(floor(o_totalprice) AS BIGINT) div 50000"),
            lit(9L)).as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("bucket"))
      },
      Some("""SELECT least(floor(o_totalprice)::BIGINT // 50000, 9) AS bucket,
             |  count(*)::BIGINT AS n
             |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // gaps-and-islands: consecutive active-day runs per user via the
    // day - dense-row trick; emits per-user streak stats (the classic
    // engagement-streak query shape)
    "q141_gaps_islands" -> Q(
      (s, d) => {
        val days = t(s, d, "events")
          .select(col("user_id"), expr("unix_millis(ts) div 86400000L").as("day"))
          .distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val islands = days
          .withColumn("grp", col("day") - row_number().over(w))
          .groupBy(col("user_id"), col("grp"))
          .agg(count(lit(1)).as("len"))
        islands.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_streaks"), max(col("len")).as("longest_streak"))
          .filter(col("user_id") < 100)
          .orderBy(col("user_id"))
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
             |  FROM events),
             |r AS (SELECT user_id, day,
             |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
             |  FROM days),
             |isl AS (SELECT user_id, grp, count(*)::BIGINT AS len
             |  FROM r GROUP BY user_id, grp)
             |SELECT user_id, count(*)::BIGINT AS n_streaks,
             |  max(len)::BIGINT AS longest_streak
             |FROM isl WHERE user_id < 100
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // rank vs dense_rank under REAL ties (p_size repeats within brand):
    // the two-ranking semantics q110's tie-free battery can't show
    "q142_rank_battery" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("p_brand")).orderBy(col("p_size"))
        t(s, d, "part")
          .withColumn("rnk", rank().over(w).cast("long"))
          .withColumn("drnk", dense_rank().over(w).cast("long"))
          .filter(col("p_partkey") % 20 === 0)
          .select(col("p_partkey"), col("p_brand"), col("p_size"),
            col("rnk"), col("drnk"))
          .orderBy(col("p_partkey"))
      },
      Some("""WITH w AS (
             |  SELECT p_partkey, p_brand, p_size,
             |    rank() OVER (PARTITION BY p_brand ORDER BY p_size)::BIGINT AS rnk,
             |    dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size)::BIGINT
             |      AS drnk
             |  FROM part)
             |SELECT p_partkey, p_brand, p_size, rnk, drnk
             |FROM w WHERE p_partkey % 20 = 0
             |ORDER BY p_partkey""".stripMargin)),

    // weighted sampling: per-row acceptance probability proportional to
    // a weight column (longer docs likelier kept), deterministic hash
    // acceptance — membership stable across reruns like every sampler
    "q143_weighted_sample" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val maxW = docs.agg(max(col("n_chars")).as("max_w"))
        docs.crossJoin(broadcast(maxW))
          .withColumn("accept_ppm",
            expr("(n_chars * 500000) div max_w"))
          .filter(graft.operators.Sampling
            .bucket(col("doc_id"), "wsample", 1000000) < col("accept_ppm"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_chars")).as("kept_chars"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH mw AS (SELECT max(n_chars) AS max_w FROM documents),
              |k AS (
              |  SELECT lang, n_chars FROM documents, mw
              |  WHERE ${dHash64("'wsample:'||doc_id")} % 1000000 <
              |    (n_chars * 500000) // max_w)
              |SELECT lang, count(*)::BIGINT AS n_kept,
              |  sum(n_chars)::BIGINT AS kept_chars
              |FROM k GROUP BY lang ORDER BY lang""".stripMargin)),

    // bilateral shipping volume (TPC-H Q7 shape): five-table join with
    // the nation dimension joined TWICE under different roles — the
    // join-reorder + dual-alias stress the two-table entries don't hit
    "q144_volume_shipping" -> Q(
      (s, d) => {
        val n = t(s, d, "nation")
        val n1 = n.select(col("n_nationkey").as("s_nk"),
          col("n_name").as("supp_nation"))
        val n2 = n.select(col("n_nationkey").as("c_nk"),
          col("n_name").as("cust_nation"))
        t(s, d, "lineitem")
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(n1, col("s_nationkey") === col("s_nk"))
          .join(n2, col("c_nationkey") === col("c_nk"))
          .filter(col("supp_nation") < col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"))
          .agg(count(lit(1)).as("n_items"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"))
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |  count(*)::BIGINT AS n_items,
             |  round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)), 2)::DOUBLE
             |    AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |WHERE n1.n_name < n2.n_name
             |GROUP BY supp_nation, cust_nation
             |ORDER BY supp_nation, cust_nation""".stripMargin)),

    // EXISTS / NOT EXISTS in SQL text (q07/q08 are the DataFrame
    // semi/anti forms) — the decorrelation path users actually write
    "q145_exists_sql" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q145_customer")
        t(s, d, "orders").createOrReplaceTempView("q145_orders")
        s.sql("""SELECT c_custkey, c_mktsegment FROM q145_customer c
                |WHERE EXISTS (SELECT 1 FROM q145_orders o
                |        WHERE o.o_custkey = c.c_custkey
                |          AND o.o_totalprice > 200000)
                |  AND NOT EXISTS (SELECT 1 FROM q145_orders o
                |        WHERE o.o_custkey = c.c_custkey
                |          AND o.o_orderstatus = 'F')
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |        WHERE o.o_custkey = c.c_custkey
             |          AND o.o_totalprice > 200000)
             |  AND NOT EXISTS (SELECT 1 FROM orders o
             |        WHERE o.o_custkey = c.c_custkey
             |          AND o.o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // EXCEPT ALL / INTERSECT ALL — multiset set-op semantics (q09 covers
    // the DISTINCT forms); stabilized to counts for the hash gate
    "q146_setops_all" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q146_orders")
        s.sql("""SELECT v, count(*) AS n FROM (
                |  SELECT o_custkey AS v FROM q146_orders
                |  WHERE o_totalprice > 100000
                |  EXCEPT ALL
                |  SELECT o_custkey FROM q146_orders WHERE o_orderstatus = 'F')
                |GROUP BY v ORDER BY v""".stripMargin)
      },
      Some("""SELECT v, count(*)::BIGINT AS n FROM (
             |  SELECT o_custkey AS v FROM orders WHERE o_totalprice > 100000
             |  EXCEPT ALL
             |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
             |GROUP BY v ORDER BY v""".stripMargin)),

    // inline VALUES + range() table-valued generator joined to real data
    // (calendar/spine construction without a stored dimension table)
    "q147_values_range" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q147_orders")
        s.sql("""SELECT b.id AS bucket, lbl.label, count(*) AS n
                |FROM q147_orders o
                |JOIN range(0, 10) b
                |  ON CAST(floor(o.o_totalprice) AS BIGINT) div 50000 = b.id
                |JOIN (VALUES (0, 'low'), (1, 'mid'), (2, 'high')) AS lbl(k, label)
                |  ON least(b.id div 3, 2) = lbl.k
                |GROUP BY b.id, lbl.label
                |ORDER BY bucket""".stripMargin)
      },
      Some("""SELECT b.range AS bucket, lbl.label, count(*)::BIGINT AS n
             |FROM orders o
             |JOIN range(0, 10) b
             |  ON floor(o.o_totalprice)::BIGINT // 50000 = b.range
             |JOIN (VALUES (0, 'low'), (1, 'mid'), (2, 'high')) lbl(k, label)
             |  ON least(b.range // 3, 2) = lbl.k
             |GROUP BY b.range, lbl.label
             |ORDER BY bucket""".stripMargin)),

    // join-strategy hint battery: the SAME join forced through
    // broadcast-hash, sort-merge, and shuffle-hash — results must be
    // identical (strategy is physical, never semantic); PlanSpec asserts
    // each hint actually took effect
    "q148_join_hints" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q148_orders")
        t(s, d, "customer").createOrReplaceTempView("q148_customer")
        def one(strategy: String, hint: String) =
          s.sql(s"""SELECT /*+ $hint(c) */ '$strategy' AS strategy,
                   |  count(*) AS n_rows,
                   |  sum(floor(o_totalprice * 1e6)) AS total_micros
                   |FROM q148_orders o JOIN q148_customer c
                   |  ON o.o_custkey = c.c_custkey""".stripMargin)
        one("broadcast", "BROADCAST")
          .unionByName(one("merge", "MERGE"))
          .unionByName(one("shuffle_hash", "SHUFFLE_HASH"))
          .orderBy(col("strategy"))
      },
      Some("""WITH j AS (
             |  SELECT count(*)::BIGINT AS n_rows,
             |    sum(floor(o_totalprice * 1e6)::BIGINT)::BIGINT AS total_micros
             |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
             |SELECT strategy, n_rows, total_micros FROM j,
             |  (VALUES ('broadcast'), ('merge'), ('shuffle_hash')) s(strategy)
             |ORDER BY strategy""".stripMargin)),

    // hopping (sliding) windows: 10-minute windows every 5 minutes —
    // each event lands in 2 overlapping buckets (q16 is the tumbling
    // case). Oracle reproduces Spark's window() via the two explicit
    // 5-minute-aligned starts covering each event
    "q149_hopping_windows" -> Q(
      (s, d) => {
        t(s, d, "events")
          .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            usum(col("value")).as("total_value_micros"))
          .select(col("window.start").as("bucket_start"), col("event_type"),
            col("n_events"), col("total_value_micros"))
          .orderBy(col("bucket_start"), col("event_type"))
      },
      Some("""WITH e AS (
             |  SELECT event_type, value, epoch_ms(ts) // 300000 AS slot
             |  FROM events),
             |x AS (
             |  SELECT event_type, value,
             |    unnest([slot - 1, slot]) * 300000 AS start_ms
             |  FROM e)
             |SELECT epoch_ms(start_ms)::TIMESTAMP AS bucket_start, event_type,
             |  count(*)::BIGINT AS n_events,
             |  sum(floor(value*1e6)::BIGINT)::BIGINT AS total_value_micros
             |FROM x GROUP BY 1, 2
             |ORDER BY bucket_start, event_type""".stripMargin)),

    // hybrid retrieval (pseudo-relevance feedback shape): BM25 top-20
    // lexical candidates, then rerank by embedding cosine against the
    // top lexical hit's vector — sparse recall, dense precision, the
    // two-stage retrieval stack. Cosine over milli-quantized integer
    // vectors (q103's rule) keeps the ranking engine-exact
    "q150_hybrid_retrieval" -> Q(
      (s, d) => {
        val cands = TextAnalysis.bm25Search(t(s, d, "documents"),
            "doc_id", "text", queryText = "hash join vector", k = 20,
            rationalIdf = true)
          .select(col("doc_id"), col("score"))
        // quantized components held as integer-VALUED doubles: the
        // rerank runs on the codegen'd DotProduct expression (array
        // float/double), and every product/sum stays far below 2^53 so
        // double accumulation of these integers is exact — bit-equal to
        // the BIGINT arithmetic the oracle performs. (The interpreted
        // zip_with/aggregate lambdas this replaces cost 3-10x per row —
        // irrelevant on 20 candidates, decisive on a top-1000 rerank.)
        val iv = t(s, d, "embeddings").select(col("vec_id"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS DOUBLE))")
            .as("iv"))
        val qv = cands.orderBy(col("score").desc, col("doc_id")).limit(1)
          .join(iv, col("doc_id") === col("vec_id"))
          .select(col("iv").as("qv"))
        val rr = cands
          .join(iv, cands("doc_id") === iv("vec_id"))
          .crossJoin(broadcast(qv))
          .withColumn("dot", F.dotProduct(col("iv"), col("qv")))
          .withColumn("na", F.dotProduct(col("iv"), col("iv")))
          .withColumn("nq", F.dotProduct(col("qv"), col("qv")))
          .withColumn("cos_ppm",
            floor(lit(1e6) * (col("dot") / (sqrt(col("na")) * sqrt(col("nq")))))
              .cast("long"))
        rr.withColumn("rank",
            row_number().over(Window.orderBy(col("cos_ppm").desc, col("doc_id")))
              .cast("long"))
          .select(col("rank"), col("doc_id"), col("score"), col("cos_ppm"))
          .orderBy(col("rank"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS ts FROM documents),
             |dl AS (SELECT doc_id, len(ts)::BIGINT AS dl FROM toks),
             |terms AS (SELECT doc_id, unnest(ts) AS term FROM toks),
             |tfq AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
             |dfq AS (SELECT term, count(*) AS dfq FROM tfq GROUP BY 1),
             |stats AS (SELECT count(*) AS n_docs, sum(dl)::DOUBLE AS tot_dl FROM dl),
             |scored AS (
             |  SELECT doc_id, term,
             |    round(((n_docs - dfq + 0.5::DOUBLE) / (dfq + 0.5::DOUBLE))
             |      * (tf * 2.2::DOUBLE)
             |      / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
             |          + 0.75::DOUBLE * dl / (tot_dl / n_docs))), 6) AS bm25
             |  FROM tfq JOIN dfq USING (term) JOIN dl USING (doc_id), stats
             |  WHERE term IN ('hash', 'join', 'vector')),
             |cands AS (
             |  SELECT doc_id, round(sum(bm25::DECIMAL(18,6)), 6)::DOUBLE AS score
             |  FROM scored GROUP BY doc_id
             |  ORDER BY score DESC, doc_id LIMIT 20),
             |iv AS (SELECT vec_id,
             |    [floor(x::DOUBLE * 1000.0) for x in embedding] AS iv
             |  FROM embeddings),
             |qv AS (SELECT iv.iv AS qv FROM (
             |    SELECT doc_id FROM cands ORDER BY score DESC, doc_id LIMIT 1) t
             |  JOIN iv ON t.doc_id = iv.vec_id),
             |rr AS (
             |  SELECT c.doc_id, c.score,
             |    floor(1e6 * (
             |      list_sum([a.iv[i] * qv.qv[i]
             |        for i in range(1, len(a.iv) + 1)])::DOUBLE /
             |      (sqrt(list_sum([x * x for x in a.iv])::DOUBLE) *
             |       sqrt(list_sum([x * x for x in qv.qv])::DOUBLE))))::BIGINT
             |      AS cos_ppm
             |  FROM cands c JOIN iv a ON c.doc_id = a.vec_id CROSS JOIN qv)
             |SELECT row_number() OVER (ORDER BY cos_ppm DESC, doc_id)::BIGINT
             |    AS rank,
             |  doc_id, score, cos_ppm
             |FROM rr ORDER BY rank""".stripMargin)),

    // revenue-concentration report: customers bucketed into spend
    // deciles, each decile's share of total revenue in ppm — the Lorenz/
    // Pareto concentration readout. The deciles are EXACT ntile(10)
    // values but computed scale-safe (operators/Ranks.scala): global
    // rank = per-range-bucket local rank + broadcast bucket bases, then
    // Spark's own NTile arithmetic applied to the rank — bit-identical
    // to the single-partition window this entry used to run (which put
    // the whole per-customer table through one task at 100 TB;
    // PlanSpec-locked gone). The 10-row decile table's total likewise
    // comes from a broadcast cross join, not a global window.
    "q151_revenue_deciles" -> Q(
      (s, d) => {
        val perCust = t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(usum(col("o_totalprice")).as("rev_micros"))
        // bucket = −(rev div $4.3k-in-micros): coarsens (rev desc, …)
        val ranked = operators.Ranks.globalRowNumber(perCust,
          expr("-(rev_micros div 4294967296L)"),
          Seq(col("rev_micros").desc, col("o_custkey")), "_r")
        val byDecile = ranked
          .crossJoin(broadcast(perCust.agg(count(lit(1)).as("_n"))))
          .withColumn("decile",
            operators.Ranks.ntileOfRank(col("_r"), col("_n"), 10).cast("long"))
          .groupBy(col("decile"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("rev_micros")).as("decile_micros"))
        byDecile
          .crossJoin(broadcast(
            byDecile.agg(sum(col("decile_micros")).as("_tot"))))
          // divide the TOTAL down rather than scaling the numerator up:
          // decile_micros * 1e6 overflows int64 at sf0.1 revenue volumes
          .select(col("decile"), col("n_customers"), col("decile_micros"),
            expr("decile_micros div (_tot div 1000000)").as("share_ppm"))
          .orderBy(col("decile"))
      },
      Some("""WITH pc AS (
             |  SELECT o_custkey,
             |    sum(floor(o_totalprice*1e6)::BIGINT)::BIGINT AS rev_micros
             |  FROM orders GROUP BY o_custkey),
             |dec AS (
             |  SELECT rev_micros,
             |    ntile(10) OVER (ORDER BY rev_micros DESC, o_custkey) AS decile
             |  FROM pc),
             |g AS (
             |  SELECT decile, count(*)::BIGINT AS n_customers,
             |    sum(rev_micros)::BIGINT AS decile_micros
             |  FROM dec GROUP BY decile),
             |t AS (SELECT sum(decile_micros)::BIGINT AS tot FROM g)
             |SELECT decile, n_customers, decile_micros,
             |  (decile_micros // (tot // 1000000))::BIGINT AS share_ppm
             |FROM g, t ORDER BY decile""".stripMargin)),
      // (the former approxQuantile benchFn knob is retired: the exact
      // path above is now itself the scale shape — EXACT deciles with
      // no single-partition sort — so the bench times the real thing)

    // label-noise suspects (confident-learning-lite): vectors whose
    // nearest class prototype disagrees with their own label — the
    // "find mislabeled examples" audit over q101/q103's machinery
    "q152_label_noise" -> Q(
      (s, d) => {
        operators.Similarity
          .prototypeAssignments(t(s, d, "embeddings"),
            "vec_id", "embedding", "label")
          .filter(col("proto_label") =!= col("true_label"))
          .select(col("p_id").as("vec_id"),
            col("true_label").cast("long").as("true_label"),
            col("proto_label").cast("long").as("predicted_label"),
            floor(lit(1e6) * col("cos")).cast("long").as("cos_ppm"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH v AS (SELECT vec_id, label,
             |    [floor(x::DOUBLE * 1000.0) for x in embedding] AS iv
             |  FROM embeddings),
             |dd AS (SELECT label, generate_subscripts(iv, 1) AS dim,
             |    unnest(iv) AS vv FROM v),
             |g AS (SELECT label, dim, sum(vv)::BIGINT AS s,
             |    count(*)::BIGINT AS n FROM dd GROUP BY label, dim),
             |c AS (SELECT label AS proto_label,
             |    list(floor(1e3 * (s::DOUBLE / n::DOUBLE)) ORDER BY dim) AS cm
             |  FROM g GROUP BY label),
             |sc AS (SELECT v.vec_id, v.label AS true_label, c.proto_label,
             |    list_dot_product(v.iv, c.cm) /
             |      (sqrt(list_dot_product(v.iv, v.iv)) *
             |        sqrt(list_dot_product(c.cm, c.cm))) AS cos
             |  FROM v CROSS JOIN c),
             |top AS (SELECT vec_id, true_label, proto_label, cos FROM (
             |  SELECT vec_id, true_label, proto_label, cos, row_number() OVER (
             |    PARTITION BY vec_id ORDER BY cos DESC, proto_label) AS rn FROM sc)
             |  WHERE rn = 1)
             |SELECT vec_id, true_label::BIGINT AS true_label,
             |  proto_label::BIGINT AS predicted_label,
             |  floor(1e6 * cos)::BIGINT AS cos_ppm
             |FROM top WHERE proto_label <> true_label
             |ORDER BY vec_id""".stripMargin)),

    // duplicate-cluster size distribution: how big near-dup groups get —
    // the readout that decides dedup policy (drop-all-but-one vs review)
    "q153_dup_cluster_sizes" -> Q(
      (s, d) => {
        Dedup.resolveDuplicateGroups(lshResolvePairs(s, d))
          .groupBy(col("canonical_id"))
          .agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
          .orderBy(col("cluster_size"))
      },
      Some(s"""$duckMinhashCtes,
              |cand AS (
              |  SELECT DISTINCT doc_a, doc_b FROM (
              |    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
              |      round(len([i for i in range(1, ${minhashSeeds + 1})
              |        if a.sig[i] = b2.sig[i]])::DOUBLE / $minhashSeeds, 6) AS ej
              |    FROM bands a JOIN bands b2
              |      ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id)
              |  WHERE ej >= 0.5),
              |edges AS (
              |  SELECT doc_a AS u, doc_b AS v FROM cand
              |  UNION SELECT doc_b, doc_a FROM cand),
              |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
              |reach(doc_id, r) AS (
              |  SELECT doc_id, doc_id FROM nodes
              |  UNION
              |  SELECT reach.doc_id, edges.v FROM reach
              |    JOIN edges ON reach.r = edges.u),
              |canon AS (
              |  SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id),
              |cs AS (SELECT canonical_id, count(*)::BIGINT AS sz
              |  FROM canon GROUP BY canonical_id)
              |SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters
              |FROM cs GROUP BY sz ORDER BY cluster_size""".stripMargin
        .replaceFirst("^WITH ", "WITH RECURSIVE ")),
      // production path: the diameter-independent star resolver
      benchFn = Some((s, d) =>
        Dedup.resolveDuplicateGroupsStar(lshResolvePairs(s, d))
          .groupBy(col("canonical_id"))
          .agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
          .orderBy(col("cluster_size")))),

    // temporal split with embargo: train strictly before T, test strictly
    // after T + gap, embargo rows dropped — the time-series leakage guard
    // (q60 is the content-similarity guard; this is the temporal one)
    "q154_temporal_embargo_split" -> Q(
      (s, d) => {
        val splitDay = 19740L
        val embargoDays = 2L
        val ev = t(s, d, "events")
          .withColumn("day", expr("unix_millis(ts) div 86400000L"))
          .withColumn("split",
            when(col("day") < splitDay, "train")
              .when(col("day") >= splitDay + embargoDays, "test")
              .otherwise("embargo"))
        ev.groupBy(col("split"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            min(col("day")).as("min_day"), max(col("day")).as("max_day"))
          .orderBy(col("split"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day
             |  FROM events),
             |s AS (SELECT user_id, day,
             |    CASE WHEN day < 19740 THEN 'train'
             |      WHEN day >= 19742 THEN 'test'
             |      ELSE 'embargo' END AS split
             |  FROM e)
             |SELECT split, count(*)::BIGINT AS n_events,
             |  count(DISTINCT user_id)::BIGINT AS n_users,
             |  min(day)::BIGINT AS min_day, max(day)::BIGINT AS max_day
             |FROM s GROUP BY split ORDER BY split""".stripMargin)),

    // first/last/nth_value with explicit frames — the value-picking
    // window functions q110's ranking battery doesn't cover
    "q155_nth_value_battery" -> Q(
      (s, d) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, d, "orders")
          .withColumn("first_key", first(col("o_orderkey")).over(full))
          .withColumn("last_key", last(col("o_orderkey")).over(full))
          .withColumn("third_key", nth_value(col("o_orderkey"), 3).over(full))
          .filter(col("o_orderkey") % 101 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("first_key"), col("last_key"), col("third_key"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH w AS (
             |  SELECT o_orderkey, o_orderpriority,
             |    first_value(o_orderkey) OVER win AS first_key,
             |    last_value(o_orderkey) OVER win AS last_key,
             |    nth_value(o_orderkey, 3) OVER win AS third_key
             |  FROM orders
             |  WINDOW win AS (PARTITION BY o_orderpriority
             |    ORDER BY o_totalprice, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
             |SELECT o_orderkey, o_orderpriority, first_key, last_key, third_key
             |FROM w WHERE o_orderkey % 101 = 0
             |ORDER BY o_orderkey""".stripMargin)),

    // dedup cascade report: how many documents survive each stage of the
    // standard pipeline (raw -> exact dedup -> near-dup resolution) —
    // the shrinkage funnel that justifies dedup cost at 100 TB.
    // Near-dup survivors = docs that are their own CC canonical
    // (non-canonical members fold into their group's survivor)
    "q156_dedup_cascade" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val raw = docs.agg(count(lit(1)).as("n"))
          .select(lit(1L).as("stage"), lit("raw").as("stage_name"), col("n"))
        val exact = docs.agg(countDistinct(md5(col("text"))).as("n"))
          .select(lit(2L).as("stage"), lit("exact_unique").as("stage_name"), col("n"))
        val canon = Dedup.resolveDuplicateGroups(lshResolvePairs(s, d))
        val nearDup = docs.select(col("doc_id"))
          .join(canon, Seq("doc_id"), "left")
          .filter(col("canonical_id").isNull || col("canonical_id") === col("doc_id"))
          .agg(count(lit(1)).as("n"))
          .select(lit(3L).as("stage"), lit("near_dup_survivors").as("stage_name"),
            col("n"))
        raw.unionByName(exact).unionByName(nearDup).orderBy(col("stage"))
      },
      Some(s"""$duckMinhashCtes,
              |cand AS (
              |  SELECT DISTINCT doc_a, doc_b FROM (
              |    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
              |      round(len([i for i in range(1, ${minhashSeeds + 1})
              |        if a.sig[i] = b2.sig[i]])::DOUBLE / $minhashSeeds, 6) AS ej
              |    FROM bands a JOIN bands b2
              |      ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id)
              |  WHERE ej >= 0.5),
              |edges AS (
              |  SELECT doc_a AS u, doc_b AS v FROM cand
              |  UNION SELECT doc_b, doc_a FROM cand),
              |nodes AS (SELECT DISTINCT u AS doc_id FROM edges),
              |reach(doc_id, r) AS (
              |  SELECT doc_id, doc_id FROM nodes
              |  UNION
              |  SELECT reach.doc_id, edges.v FROM reach
              |    JOIN edges ON reach.r = edges.u),
              |canon AS (
              |  SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id),
              |surv AS (
              |  SELECT count(*)::BIGINT AS n FROM documents dd
              |  LEFT JOIN canon ON dd.doc_id = canon.doc_id
              |  WHERE canon.canonical_id IS NULL OR canon.canonical_id = dd.doc_id)
              |SELECT 1::BIGINT AS stage, 'raw' AS stage_name,
              |  (SELECT count(*) FROM documents)::BIGINT AS n
              |UNION ALL SELECT 2::BIGINT, 'exact_unique',
              |  (SELECT count(DISTINCT md5(text)) FROM documents)::BIGINT
              |UNION ALL SELECT 3::BIGINT, 'near_dup_survivors', (SELECT n FROM surv)
              |ORDER BY stage""".stripMargin
        .replaceFirst("^WITH ", "WITH RECURSIVE ")),
      benchFn = Some((s, d) => {
        val docs = t(s, d, "documents")
        val canon = Dedup.resolveDuplicateGroupsStar(lshResolvePairs(s, d))
        docs.select(col("doc_id"))
          .join(canon, Seq("doc_id"), "left")
          .filter(col("canonical_id").isNull || col("canonical_id") === col("doc_id"))
          .agg(count(lit(1)).as("n"))
      })),

    // robust outlier detection: median absolute deviation in integer
    // micro-units (exact histogram-walk medians, q86's rule) — the
    // robust sibling of q107's mean/σ z-score, immune to the outliers
    // it hunts
    "q157_mad_outliers" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"), col("event_id"),
            floor(col("value") * lit(1e6)).cast("long").as("v"))
        def medianOf(df: DataFrame, valCol: String, keyCol: String): DataFrame = {
          val wq = Window.partitionBy(col(keyCol)).orderBy(col(valCol))
          val counts = df.groupBy(col(keyCol), col(valCol))
            .agg(count(lit(1)).as("c"))
            .withColumn("cum", sum(col("c")).over(
              wq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          val totals = df.groupBy(col(keyCol)).agg(count(lit(1)).as("tot"))
          counts.join(totals, keyCol)
            .filter(col("cum") * 2 >= col("tot"))
            .groupBy(col(keyCol))
            .agg(min(col(valCol)).as("med"))
        }
        val med = medianOf(ev, "v", "event_type")
        val dev = ev.join(med, "event_type")
          .withColumn("ad", abs(col("v") - col("med")))
        val mad = medianOf(dev.select(col("event_type"), col("ad")), "ad", "event_type")
          .withColumnRenamed("med", "mad")
        dev.join(mad, "event_type")
          .filter(col("ad") > col("mad") * 3)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_outliers"),
            min(col("med")).as("median_micros"),
            min(col("mad")).as("mad_micros"))
          .orderBy(col("event_type"))
      },
      Some("""WITH e AS (SELECT event_type, floor(value*1e6)::BIGINT AS v
             |  FROM events),
             |h AS (SELECT event_type, v, count(*)::BIGINT AS c
             |  FROM e GROUP BY 1, 2),
             |cum AS (SELECT event_type, v,
             |    sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
             |  FROM h),
             |tot AS (SELECT event_type, count(*)::BIGINT AS tot FROM e GROUP BY 1),
             |med AS (SELECT c2.event_type, min(v)::BIGINT AS med
             |  FROM cum c2 JOIN tot USING (event_type)
             |  WHERE cum * 2 >= tot GROUP BY c2.event_type),
             |dev AS (SELECT e.event_type, abs(v - med)::BIGINT AS ad, med
             |  FROM e JOIN med USING (event_type)),
             |h2 AS (SELECT event_type, ad, count(*)::BIGINT AS c
             |  FROM dev GROUP BY 1, 2),
             |cum2 AS (SELECT event_type, ad,
             |    sum(c) OVER (PARTITION BY event_type ORDER BY ad) AS cum
             |  FROM h2),
             |mad AS (SELECT c3.event_type, min(ad)::BIGINT AS mad
             |  FROM cum2 c3 JOIN tot USING (event_type)
             |  WHERE cum * 2 >= tot GROUP BY c3.event_type)
             |SELECT d.event_type, count(*)::BIGINT AS n_outliers,
             |  min(d.med)::BIGINT AS median_micros,
             |  min(m.mad)::BIGINT AS mad_micros
             |FROM dev d JOIN mad m USING (event_type)
             |WHERE d.ad > m.mad * 3
             |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin)),

    // compression-codec round-trip: the same table through snappy, gzip,
    // and zstd parquet — identical counts and value checksums prove the
    // IO path for every codec the cluster might standardize on
    "q158_compression_codecs" -> Q(
      (s, d) => {
        val base = scratchDir("graft_q158")
        val src = t(s, d, "supplier")
        Seq("snappy", "gzip", "zstd").map { codec =>
          src.write.mode("overwrite").option("compression", codec)
            .parquet(s"$base/$codec")
          s.read.parquet(s"$base/$codec")
            .agg(count(lit(1)).as("n_rows"),
              sum(col("s_suppkey")).as("key_sum"),
              usum(col("s_acctbal")).as("acctbal_micros"))
            .select(lit(codec).as("codec"), col("n_rows"), col("key_sum"),
              col("acctbal_micros"))
        }.reduce(_ unionByName _).orderBy(col("codec"))
      },
      Some("""WITH s AS (SELECT count(*)::BIGINT AS n_rows,
             |    sum(s_suppkey)::BIGINT AS key_sum,
             |    sum(floor(s_acctbal*1e6)::BIGINT)::BIGINT AS acctbal_micros
             |  FROM supplier)
             |SELECT codec, n_rows, key_sum, acctbal_micros FROM s,
             |  (VALUES ('gzip'), ('snappy'), ('zstd')) c(codec)
             |ORDER BY codec""".stripMargin)),

    // period-over-period: weekly event counts with previous-week deltas
    // (lag) and change in ppm — the WoW growth readout
    "q159_week_over_week" -> Q(
      (s, d) => {
        val weekly = t(s, d, "events")
          .groupBy(col("event_type"),
            expr("(unix_millis(ts) div 86400000L) div 7L").as("week"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
        weekly
          .withColumn("prev_n", lag(col("n"), 1).over(w))
          .select(col("event_type"), col("week"), col("n"), col("prev_n"),
            when(col("prev_n").isNotNull,
              expr("((n - prev_n) * 1000000) div prev_n")).as("change_ppm"))
          .orderBy(col("event_type"), col("week"))
      },
      Some("""WITH wk AS (
             |  SELECT event_type, (epoch_ms(ts) // 86400000) // 7 AS week,
             |    count(*)::BIGINT AS n
             |  FROM events GROUP BY 1, 2),
             |l AS (SELECT event_type, week, n,
             |    lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
             |  FROM wk)
             |SELECT event_type, week, n, prev_n,
             |  (CASE WHEN prev_n IS NOT NULL
             |    THEN ((n - prev_n) * 1000000) // prev_n END)::BIGINT AS change_ppm
             |FROM l ORDER BY event_type, week""".stripMargin)),

    // seasonality profile: hour-of-day × day-of-week activity heatmap in
    // pure epoch integer arithmetic (calendar dow/hour conventions vary
    // by engine; epoch math does not)
    "q160_seasonality" -> Q(
      (s, d) => {
        t(s, d, "events")
          .select(
            expr("(unix_millis(ts) div 86400000L) % 7L").as("epoch_dow"),
            expr("(unix_millis(ts) div 3600000L) % 24L").as("hour_of_day"))
          .groupBy(col("epoch_dow"), col("hour_of_day"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("epoch_dow"), col("hour_of_day"))
      },
      Some("""SELECT (epoch_ms(ts) // 86400000) % 7 AS epoch_dow,
             |  (epoch_ms(ts) // 3600000) % 24 AS hour_of_day,
             |  count(*)::BIGINT AS n
             |FROM events GROUP BY 1, 2
             |ORDER BY epoch_dow, hour_of_day""".stripMargin)),

    // typed Dataset cogroup: per-order item rollup through the
    // case-class/Encoder API (`KeyValueGroupedDataset.cogroup`) — the
    // typed surface the DataFrame entries never touch; orders with no
    // items survive with zero counts (cogroup, unlike inner join)
    "q161_typed_cogroup" -> Q(
      (s, d) => {
        import s.implicits._
        val orders = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"))
          .as[(Long, String)]
        val items = t(s, d, "lineitem")
          .select(col("l_orderkey"),
            floor(col("l_extendedprice") * lit(1e6)).cast("long"))
          .as[(Long, Long)]
        orders.groupByKey(_._1)
          .cogroup(items.groupByKey(_._1)) { (key, os, is) =>
            val o = os.toList
            if (o.isEmpty) Iterator.empty
            else {
              var n = 0L; var sum = 0L
              is.foreach { p => n += 1; sum += p._2 }
              Iterator((key, o.head._2, n, sum))
            }
          }
          .toDF("o_orderkey", "o_orderstatus", "n_items", "total_price_micros")
          .filter(col("o_orderkey") % 57 === 0)
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o.o_orderkey, o.o_orderstatus,
             |  count(l.l_orderkey)::BIGINT AS n_items,
             |  coalesce(sum(floor(l_extendedprice*1e6)::BIGINT), 0)::BIGINT
             |    AS total_price_micros
             |FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             |WHERE o.o_orderkey % 57 = 0
             |GROUP BY o.o_orderkey, o.o_orderstatus
             |ORDER BY o.o_orderkey""".stripMargin)),

    // approx-quantile accuracy gate (q43's pattern for HLL): exact
    // integer percentiles are the hash-gated truth; the approx sketch is
    // asserted within tolerance via a TRUE-pinned predicate
    "q162_approx_quantile_gate" -> Q(
      (s, d) => {
        val li = t(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
        def exactQ(num: Int, den: Int, name: String) = {
          val wq = Window.partitionBy(col("l_returnflag")).orderBy(col("q"))
          li.groupBy(col("l_returnflag"), col("q"))
            .agg(count(lit(1)).as("c"))
            .withColumn("cum", sum(col("c")).over(
              wq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .join(li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("tot")),
              "l_returnflag")
            .filter(col("cum") * den >= col("tot") * num)
            .groupBy(col("l_returnflag"))
            .agg(min(col("q")).as(name))
        }
        val approx = li.groupBy(col("l_returnflag"))
          .agg(
            expr("approx_percentile(q, 0.5, 10000)").as("ap50"),
            expr("approx_percentile(q, 0.9, 10000)").as("ap90"))
        exactQ(1, 2, "p50").join(exactQ(9, 10, "p90"), "l_returnflag")
          .join(approx, "l_returnflag")
          .select(col("l_returnflag"), col("p50"), col("p90"),
            (abs(col("ap50") - col("p50")) <= 1 &&
              abs(col("ap90") - col("p90")) <= 1).as("approx_within_1"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH e AS (SELECT l_returnflag, l_quantity::BIGINT AS q
             |  FROM lineitem),
             |h AS (SELECT l_returnflag, q, count(*)::BIGINT AS c
             |  FROM e GROUP BY 1, 2),
             |cum AS (SELECT l_returnflag, q,
             |    sum(c) OVER (PARTITION BY l_returnflag ORDER BY q) AS cum
             |  FROM h),
             |tot AS (SELECT l_returnflag, count(*)::BIGINT AS tot
             |  FROM e GROUP BY 1),
             |p50 AS (SELECT c2.l_returnflag, min(q)::BIGINT AS p50
             |  FROM cum c2 JOIN tot USING (l_returnflag)
             |  WHERE cum * 2 >= tot GROUP BY c2.l_returnflag),
             |p90 AS (SELECT c3.l_returnflag, min(q)::BIGINT AS p90
             |  FROM cum c3 JOIN tot USING (l_returnflag)
             |  WHERE cum * 10 >= tot * 9 GROUP BY c3.l_returnflag)
             |SELECT l_returnflag, p50, p90, true AS approx_within_1
             |FROM p50 JOIN p90 USING (l_returnflag)
             |ORDER BY l_returnflag""".stripMargin)),

    // MAP-type battery: build a per-lang source→count map from entries,
    // then point lookups, size, sorted-key join — the map column surface;
    // the oracle stays map-free (conditional aggregates), so equality
    // proves the map semantics rather than assuming a shared map type
    "q163_map_functions" -> Q(
      (s, d) => {
        val counts = t(s, d, "documents")
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("c"))
        counts.groupBy(col("lang"))
          .agg(map_from_entries(
            array_sort(collect_list(struct(col("source"), col("c")))))
            .as("m"))
          .select(col("lang"),
            size(col("m")).cast("long").as("n_sources"),
            coalesce(element_at(col("m"), "src0"), lit(0L)).as("src0_docs"),
            coalesce(element_at(col("m"), "src7"), lit(0L)).as("src7_docs"),
            array_join(map_keys(col("m")), ",").as("sources_csv"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang,
             |  count(DISTINCT source)::BIGINT AS n_sources,
             |  coalesce(sum(CASE WHEN source = 'src0' THEN 1 END), 0)::BIGINT
             |    AS src0_docs,
             |  coalesce(sum(CASE WHEN source = 'src7' THEN 1 END), 0)::BIGINT
             |    AS src7_docs,
             |  array_to_string(list_sort(list(DISTINCT source)), ',')
             |    AS sources_csv
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // nested-struct shaping: per customer, the top-2 orders as an array
    // of structs (collected, sorted desc by the struct's leading fields,
    // sliced) then re-flattened — the denormalize/re-normalize round-trip
    // document pipelines do when building nested training records.
    // Bounded-group contract (the coOccurrenceEdges precedent): the
    // collect is per CUSTOMER and orders-per-customer is a domain
    // constant (~10s), not corpus-sized — per-row state stays fixed as
    // the corpus grows. A top-k over an unbounded group would use the
    // q197 window-rank shape instead.
    "q164_nested_struct_topn" -> Q(
      (s, d) => {
        val orders = t(s, d, "orders")
          .select(col("o_custkey"),
            struct(floor(col("o_totalprice") * lit(1e6)).cast("long").as("price_micros"),
              col("o_orderkey").as("okey")).as("rec"))
        orders.groupBy(col("o_custkey"))
          .agg(slice(reverse(array_sort(collect_list(col("rec")))), 1, 2).as("top2"))
          .select(col("o_custkey"),
            size(col("top2")).cast("long").as("n"),
            col("top2").getItem(0).getField("okey").as("top1_key"),
            col("top2").getItem(0).getField("price_micros").as("top1_micros"),
            col("top2").getItem(1).getField("okey").as("top2_key"))
          .filter(col("o_custkey") % 25 === 0)
          .orderBy(col("o_custkey"))
      },
      Some("""WITH r AS (
             |  SELECT o_custkey, o_orderkey,
             |    floor(o_totalprice*1e6)::BIGINT AS pm,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY floor(o_totalprice*1e6) DESC, o_orderkey DESC) AS rn,
             |    count(*) OVER (PARTITION BY o_custkey) AS cnt
             |  FROM orders)
             |SELECT o_custkey, least(cnt, 2)::BIGINT AS n,
             |  max(CASE WHEN rn = 1 THEN o_orderkey END)::BIGINT AS top1_key,
             |  max(CASE WHEN rn = 1 THEN pm END)::BIGINT AS top1_micros,
             |  max(CASE WHEN rn = 2 THEN o_orderkey END)::BIGINT AS top2_key
             |FROM r WHERE o_custkey % 25 = 0
             |GROUP BY o_custkey, cnt
             |ORDER BY o_custkey""".stripMargin)),

    // key-skew diagnostic: per-key frequency moments for a join key —
    // max/avg ratio in ppm plus the hot-key list, the report that decides
    // whether a join needs salting (q47) or AQE skew handling
    "q165_skew_report" -> Q(
      (s, d) => {
        val freq = t(s, d, "lineitem")
          .groupBy(col("l_suppkey").as("key"))
          .agg(count(lit(1)).as("c"))
        val stats = freq.agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("max_c"))
        val top = freq.orderBy(col("c").desc, col("key")).limit(3)
          .agg(array_join(collect_list(col("key")), ",").as("hot_keys"))
        stats.crossJoin(top)
          .select(col("n_keys"), col("n_rows"), col("max_c"),
            expr("(max_c * n_keys * 1000000) div n_rows").as("skew_ratio_ppm"),
            col("hot_keys"))
      },
      Some("""WITH f AS (SELECT l_suppkey AS key, count(*)::BIGINT AS c
             |  FROM lineitem GROUP BY 1),
             |s AS (SELECT count(*)::BIGINT AS n_keys, sum(c)::BIGINT AS n_rows,
             |    max(c)::BIGINT AS max_c FROM f),
             |t AS (SELECT array_to_string(list(key ORDER BY c DESC, key), ',')
             |    AS hot_keys
             |  FROM (SELECT key, c FROM f ORDER BY c DESC, key LIMIT 3))
             |SELECT n_keys, n_rows, max_c,
             |  ((max_c * n_keys * 1000000) // n_rows)::BIGINT AS skew_ratio_ppm,
             |  hot_keys
             |FROM s, t""".stripMargin)),

    // explode_outer (null-preserving flatten): rows with EMPTY arrays
    // survive as a null element — the left-join semantics of explode
    // that plain explode silently drops
    "q166_explode_outer" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("doc_id") < 30)
          .select(col("doc_id"),
            when(col("doc_id") % 3 === 0, array().cast("array<string>"))
              .otherwise(F.tokens(col("text"))).as("arr"))
        docs.select(col("doc_id"), explode_outer(col("arr")).as("tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("tok")).as("n_tokens"),
            sum(when(col("tok").isNull, 1L).otherwise(0L)).as("n_null_rows"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  (CASE WHEN doc_id % 3 = 0 THEN 1
             |    ELSE len(string_split(trim(text), ' ')) END)::BIGINT AS n_rows,
             |  (CASE WHEN doc_id % 3 = 0 THEN 0
             |    ELSE len(string_split(trim(text), ' ')) END)::BIGINT AS n_tokens,
             |  (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_null_rows
             |FROM documents WHERE doc_id < 30
             |ORDER BY doc_id""".stripMargin)),

    // explicit CROSS JOIN (bounded dimension matrix): every region pair —
    // the one join type the catalog never exercises on purpose elsewhere
    "q167_cross_join_matrix" -> Q(
      (s, d) => {
        val r = t(s, d, "region").select(col("r_regionkey"), col("r_name"))
        val a = r.select(col("r_regionkey").as("ka"), col("r_name").as("na"))
        val b = r.select(col("r_regionkey").as("kb"), col("r_name").as("nb"))
        a.crossJoin(b)
          .filter(col("ka") < col("kb"))
          .select(concat(col("na"), lit("-"), col("nb")).as("pair"),
            (col("ka") * 10 + col("kb")).as("pair_code"))
          .orderBy(col("pair_code"))
      },
      Some("""SELECT a.r_name || '-' || b.r_name AS pair,
             |  (a.r_regionkey * 10 + b.r_regionkey)::BIGINT AS pair_code
             |FROM region a CROSS JOIN region b
             |WHERE a.r_regionkey < b.r_regionkey
             |ORDER BY pair_code""".stripMargin)),

    // scalar correlated subqueries in the SELECT list (count + max per
    // outer row) — a decorrelation path distinct from the WHERE-clause
    // forms (q14/q38): Spark rewrites each to an aggregate + outer join
    "q168_scalar_subquery_select" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q168_customer")
        t(s, d, "orders").createOrReplaceTempView("q168_orders")
        s.sql("""SELECT c_custkey,
                |  (SELECT count(*) FROM q168_orders o
                |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
                |  (SELECT CAST(floor(max(o_totalprice) * 1e6) AS BIGINT)
                |   FROM q168_orders o
                |   WHERE o.o_custkey = c.c_custkey) AS max_price_micros
                |FROM q168_customer c
                |WHERE c_custkey % 20 = 0
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey,
             |  (SELECT count(*) FROM orders o
             |   WHERE o.o_custkey = c.c_custkey)::BIGINT AS n_orders,
             |  (SELECT floor(max(o_totalprice) * 1e6)::BIGINT FROM orders o
             |   WHERE o.o_custkey = c.c_custkey) AS max_price_micros
             |FROM customer c
             |WHERE c_custkey % 20 = 0
             |ORDER BY c_custkey""".stripMargin)),

    // NOT IN with a NULL in the subquery — the three-valued-logic trap:
    // one NULL makes NOT IN never-true (every comparison is UNKNOWN),
    // while NOT EXISTS on the same data still matches. Both results
    // emitted side by side
    "q169_not_in_null_trap" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q169_orders")
        t(s, d, "customer").createOrReplaceTempView("q169_customer")
        s.sql("""SELECT
                |  (SELECT count(*) FROM q169_orders WHERE o_custkey NOT IN
                |    (SELECT CASE WHEN c_custkey = 5 THEN CAST(NULL AS BIGINT)
                |       ELSE c_custkey END FROM q169_customer)) AS not_in_with_null,
                |  (SELECT count(*) FROM q169_orders o WHERE NOT EXISTS
                |    (SELECT 1 FROM q169_customer c
                |     WHERE (CASE WHEN c_custkey = 5 THEN CAST(NULL AS BIGINT)
                |       ELSE c_custkey END) = o.o_custkey)) AS not_exists_same,
                |  (SELECT count(*) FROM q169_orders WHERE o_custkey NOT IN
                |    (SELECT c_custkey FROM q169_customer WHERE c_custkey < 100))
                |    AS not_in_clean""".stripMargin)
      },
      Some("""SELECT
             |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN
             |    (SELECT CASE WHEN c_custkey = 5 THEN NULL::BIGINT
             |       ELSE c_custkey END FROM customer))::BIGINT AS not_in_with_null,
             |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
             |    (SELECT 1 FROM customer c
             |     WHERE (CASE WHEN c_custkey = 5 THEN NULL::BIGINT
             |       ELSE c_custkey END) = o.o_custkey))::BIGINT AS not_exists_same,
             |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN
             |    (SELECT c_custkey FROM customer WHERE c_custkey < 100))::BIGINT
             |    AS not_in_clean""".stripMargin)),

    // interval coverage merge: events padded to ±2-minute intervals,
    // overlapping intervals merged per user via the running-max-end
    // island rule — per-user span count and covered milliseconds (the
    // classic overlapping-interval consolidation)
    "q170_interval_merge" -> Q(
      (s, d) => {
        val pad = 120000L
        val iv = t(s, d, "events").filter(col("user_id") < 100)
          .select(col("user_id"),
            (unix_millis(col("ts")) - pad).as("s"),
            (unix_millis(col("ts")) + pad).as("e"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("s"), col("e"))
        val marked = iv
          .withColumn("prev_max_e",
            max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("new_span",
            when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1L)
              .otherwise(0L))
          .withColumn("span_id",
            sum(col("new_span")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        marked.groupBy(col("user_id"), col("span_id"))
          .agg(min(col("s")).as("span_s"), max(col("e")).as("span_e"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(col("span_e") - col("span_s")).as("covered_ms"))
          .orderBy(col("user_id"))
      },
      Some("""WITH iv AS (
             |  SELECT user_id, epoch_ms(ts) - 120000 AS s, epoch_ms(ts) + 120000 AS e
             |  FROM events WHERE user_id < 100),
             |m AS (
             |  SELECT user_id, s, e,
             |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
             |  FROM iv),
             |f AS (
             |  SELECT user_id, s, e,
             |    CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END
             |      AS new_span
             |  FROM m),
             |g AS (
             |  SELECT user_id, s, e,
             |    sum(new_span) OVER (PARTITION BY user_id ORDER BY s, e
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
             |  FROM f),
             |sp AS (
             |  SELECT user_id, span_id, min(s) AS span_s, max(e) AS span_e
             |  FROM g GROUP BY user_id, span_id)
             |SELECT user_id, count(*)::BIGINT AS n_spans,
             |  sum(span_e - span_s)::BIGINT AS covered_ms
             |FROM sp GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // keep-BEST dedup survivor selection: near-dup groups resolved, then
    // each group's survivor chosen by the q83 quality logit (ties to the
    // lower id) instead of blindly keeping the minimum id — the policy a
    // curation pipeline actually wants
    "q171_dedup_keep_best" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val quality = TextAnalysis.qualityClassifier(docs, "doc_id", "text",
            Seq("n_tokens" -> 0.02, "mean_token_len" -> 0.3,
              "punct_ratio" -> -20.0, "stopword_ratio" -> 4.0),
            intercept = -2.5)
          .select(col("doc_id"), col("logit_micros"))
        val canon = Dedup.resolveDuplicateGroups(lshResolvePairs(s, d))
        val member = canon.join(quality, "doc_id")
        val w = Window.partitionBy(col("canonical_id"))
          .orderBy(col("logit_micros").desc, col("doc_id"))
        member.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("canonical_id").as("group_id"),
            col("doc_id").as("best_doc"), col("logit_micros"))
          .orderBy(col("group_id"))
      },
      Some(s"""$duckMinhashCtes,
              |cand AS (
              |  SELECT DISTINCT doc_a, doc_b FROM (
              |    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
              |      round(len([i for i in range(1, ${minhashSeeds + 1})
              |        if a.sig[i] = b2.sig[i]])::DOUBLE / $minhashSeeds, 6) AS ej
              |    FROM bands a JOIN bands b2
              |      ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id)
              |  WHERE ej >= 0.5),
              |edges AS (
              |  SELECT doc_a AS u, doc_b AS v FROM cand
              |  UNION SELECT doc_b, doc_a FROM cand),
              |vnodes AS (SELECT DISTINCT u AS doc_id FROM edges),
              |reach(doc_id, r) AS (
              |  SELECT doc_id, doc_id FROM vnodes
              |  UNION
              |  SELECT reach.doc_id, edges.v FROM reach
              |    JOIN edges ON reach.r = edges.u),
              |canon AS (
              |  SELECT doc_id, min(r) AS canonical_id FROM reach GROUP BY doc_id),
              |qtoks AS (SELECT doc_id, text, string_split(trim(text), ' ') AS t
              |  FROM documents),
              |feat AS (SELECT doc_id,
              |  len(t)::BIGINT AS n_tokens,
              |  floor(1e6 * (list_sum([length(x) for x in t])::DOUBLE / len(t)))::BIGINT
              |    AS mtl_ppm,
              |  floor(1e6 * ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
              |    / length(text)))::BIGINT AS pr_ppm,
              |  floor(1e6 * (len(list_filter(t, x -> list_contains(
              |    ['the','a','of','and','to','in','is'], x)))::DOUBLE / len(t)))::BIGINT
              |    AS swr_ppm
              |  FROM qtoks),
              |lg AS (SELECT doc_id,
              |  floor((-2.5::DOUBLE + 0.02::DOUBLE * n_tokens::DOUBLE
              |    + 0.3::DOUBLE * (mtl_ppm::DOUBLE / 1e6) + -20.0::DOUBLE * (pr_ppm::DOUBLE / 1e6)
              |    + 4.0::DOUBLE * (swr_ppm::DOUBLE / 1e6)) * 1e6)::BIGINT AS logit_micros
              |  FROM feat),
              |mem AS (SELECT canon.doc_id, canonical_id, logit_micros,
              |    row_number() OVER (PARTITION BY canonical_id
              |      ORDER BY logit_micros DESC, canon.doc_id) AS rn
              |  FROM canon JOIN lg ON canon.doc_id = lg.doc_id)
              |SELECT canonical_id AS group_id, doc_id AS best_doc, logit_micros
              |FROM mem WHERE rn = 1
              |ORDER BY group_id""".stripMargin
        .replaceFirst("^WITH ", "WITH RECURSIVE "))),

    // sparse TF-IDF cosine similarity on LSH candidate pairs — the
    // SPARSE-vector similarity (term-wise join, no dense materialization)
    // complementing the dense embedding cosine ops. Weights are rational
    // tf-idf floored to milli-units, so dots and norms are exact integer
    // sums (order-free) and the cosine is one identical IEEE tree
    "q172_sparse_tfidf_cosine" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val w = TextAnalysis
          .tfIdf(docs, "doc_id", "text", rationalIdf = true)
          .select(col("doc_id"), col("term"),
            floor(col("tfidf") * lit(1e3)).cast("long").as("wm"))
        val norms = w.groupBy(col("doc_id"))
          .agg(sum(col("wm") * col("wm")).as("nsq"))
        val cands = Dedup
          .minhashLsh(docs, "doc_id", "text",
            shingleN = 3, numHashes = minhashSeeds, bands = minhashBands)
          .select(col("doc_a"), col("doc_b"))
        val dots = cands
          .join(w.select(col("doc_id").as("doc_a"), col("term"),
            col("wm").as("wa")), Seq("doc_a"))
          .join(w.select(col("doc_id").as("doc_b"), col("term"),
            col("wm").as("wb")), Seq("doc_b", "term"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(sum(col("wa") * col("wb")).as("dot"))
        dots
          .join(norms.select(col("doc_id").as("doc_a"), col("nsq").as("na")), "doc_a")
          .join(norms.select(col("doc_id").as("doc_b"), col("nsq").as("nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            floor(lit(1e6) * (col("dot").cast("double") /
              (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))))
              .cast("long").as("cos_ppm"))
          .orderBy(col("cos_ppm").desc, col("doc_a"), col("doc_b"))
          .limit(50)
      },
      Some(s"""$duckMinhashCtes,
              |cand AS (
              |  SELECT DISTINCT doc_a, doc_b FROM (
              |    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
              |    FROM bands a JOIN bands b2
              |      ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id)),
              |tk2 AS (
              |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
              |  FROM documents),
              |tf2 AS (SELECT doc_id, term, count(*) AS tf FROM tk2 GROUP BY 1, 2),
              |df2 AS (SELECT term, count(*) AS dfq FROM tf2 GROUP BY 1),
              |nd AS (SELECT count(*) AS n_docs FROM documents),
              |wts AS (
              |  SELECT doc_id, term,
              |    floor(round(tf * ((n_docs + 1)::DOUBLE / (dfq + 1)), 6)
              |      * 1e3)::BIGINT AS wm
              |  FROM tf2 JOIN df2 USING (term) CROSS JOIN nd),
              |nrm AS (SELECT doc_id, sum(wm * wm)::BIGINT AS nsq
              |  FROM wts GROUP BY doc_id),
              |dots AS (
              |  SELECT c.doc_a, c.doc_b, sum(wa.wm * wb.wm)::BIGINT AS dot
              |  FROM cand c
              |  JOIN wts wa ON wa.doc_id = c.doc_a
              |  JOIN wts wb ON wb.doc_id = c.doc_b AND wb.term = wa.term
              |  GROUP BY c.doc_a, c.doc_b)
              |SELECT doc_a, doc_b,
              |  floor(1e6 * (dot::DOUBLE /
              |    (sqrt(na.nsq::DOUBLE) * sqrt(nb.nsq::DOUBLE))))::BIGINT AS cos_ppm
              |FROM dots
              |JOIN nrm na ON na.doc_id = dots.doc_a
              |JOIN nrm nb ON nb.doc_id = dots.doc_b
              |ORDER BY cos_ppm DESC, doc_a, doc_b LIMIT 50""".stripMargin)),

    // Misra–Gries heavy hitters via a native TypedImperativeAggregate:
    // at most k=64 counters per partial buffer, DETERMINISTIC guarantees
    // (any item with count > N/65 present; estimates undercount by at
    // most N/65). The candidate SET is processing-order-dependent, so
    // only the order-independent guarantees are hash-gated: the exact
    // top-5 (oracled) must be in the sketch with bounded estimates
    "q173_heavy_hitters_mg" -> Q(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(explode(F.tokens(col("text"))).as("tok"))
        val sketch = toks.agg(F.misraGries(col("tok"), 64).as("sk"))
        val total = toks.agg(count(lit(1)).as("n_total"))
        val w = Window.orderBy(col("n").desc, col("tok"))
        val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
        val est = element_at(
          filter(col("sk"), e => e.getField("term") === col("tok")), 1)
          .getField("est")
        exact.crossJoin(broadcast(sketch)).crossJoin(broadcast(total))
          .select(col("rank"), col("tok").as("term"), col("n"),
            exists(col("sk"), e => e.getField("term") === col("tok"))
              .as("in_sketch"),
            (est <= col("n") &&
              est >= col("n") - expr("(n_total div 65)") - 1)
              .as("est_within_bounds"))
          .orderBy(col("rank"))
      },
      Some("""WITH t AS (
             |  SELECT unnest(string_split(trim(text), ' ')) AS tok
             |  FROM documents),
             |e AS (SELECT tok, count(*)::BIGINT AS n FROM t GROUP BY tok),
             |r AS (SELECT tok AS term, n,
             |    row_number() OVER (ORDER BY n DESC, tok)::BIGINT AS rank
             |  FROM e)
             |SELECT rank, term, n, true AS in_sketch, true AS est_within_bounds
             |FROM r WHERE rank <= 5 ORDER BY rank""".stripMargin)),

    // q173's Misra–Gries through the GROUPED aggregation path: one
    // 64-counter sketch per source (hash-aggregate partial buffers +
    // merges per group — the execution path the global form never
    // exercises). Hash-gated exactly like q173: only the
    // order-independent guarantees are pinned, and they are pinned per
    // source — the exact per-source top-3 must be in that source's
    // sketch with estimates inside the N_s/65 undercount band. Both
    // fixture SFs were checked: the worst top-3 token sits 2.27x above
    // the N_s/(k+1) presence threshold, so in_sketch is deterministic
    // despite MG's processing-order-dependent candidate set.
    "q272_mg_by_source" -> Q(
      (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("source"), explode(F.tokens(col("text"))).as("tok"))
        val sketches = toks.groupBy(col("source"))
          .agg(F.misraGries(col("tok"), 64).as("sk"))
        // totals ride the same (source, tok) aggregate the exact top-3
        // needs (its shuffle is reused) — two token-explode scans total
        // (sketch + counts), not three
        val counts = toks.groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("n"))
        val totals = counts.groupBy(col("source"))
          .agg(sum(col("n")).as("n_total"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n").desc, col("tok"))
        val exact = counts
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
        val est = element_at(
          filter(col("sk"), e => e.getField("term") === col("tok")), 1)
          .getField("est")
        exact
          .join(broadcast(sketches), "source")
          .join(broadcast(totals), "source")
          .select(col("source"), col("rank"), col("tok").as("term"), col("n"),
            exists(col("sk"), e => e.getField("term") === col("tok"))
              .as("in_sketch"),
            (est <= col("n") &&
              est >= col("n") - expr("(n_total div 65)") - 1)
              .as("est_within_bounds"))
          .orderBy(col("source"), col("rank"))
      },
      Some("""WITH t AS (
             |  SELECT source, unnest(string_split(trim(text), ' ')) AS tok
             |  FROM documents),
             |e AS (SELECT source, tok, count(*)::BIGINT AS n
             |  FROM t GROUP BY source, tok),
             |r AS (SELECT source, tok AS term, n,
             |    row_number() OVER (PARTITION BY source ORDER BY n DESC, tok)::BIGINT AS rank
             |  FROM e)
             |SELECT source, rank, term, n, true AS in_sketch,
             |  true AS est_within_bounds
             |FROM r WHERE rank <= 3 ORDER BY source, rank""".stripMargin)),

    // Hive multi-insert — `FROM src INSERT … INSERT …` — the one-scan
    // fan-out idiom (route rows into quality/price tiers in a single
    // statement) and a beeline-typable construct in its own right;
    // Spark SQL parses the Hive form directly. Tables are managed
    // parquet in the per-JVM warehouse (the q58 pattern — no
    // cross-process collisions); integer cents keep the read-back
    // hash-exact. Oracle restates each branch against the source.
    "q273_multi_insert" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q273_orders")
        for (tier <- Seq("hi", "lo")) {
          s.sql(s"DROP TABLE IF EXISTS q273_$tier")
          s.sql(s"CREATE TABLE q273_$tier (o_orderkey BIGINT, cents BIGINT) USING parquet")
        }
        s.sql("""FROM q273_orders
                |INSERT OVERWRITE TABLE q273_hi
                |  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT)
                |  WHERE o_totalprice >= 150000
                |INSERT OVERWRITE TABLE q273_lo
                |  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT)
                |  WHERE o_totalprice < 150000""".stripMargin)
        s.sql("""SELECT 'hi' AS tier, count(*) AS n,
                |  CAST(sum(cents) AS BIGINT) AS sum_cents,
                |  min(o_orderkey) AS min_key FROM q273_hi
                |UNION ALL
                |SELECT 'lo' AS tier, count(*) AS n,
                |  CAST(sum(cents) AS BIGINT) AS sum_cents,
                |  min(o_orderkey) AS min_key FROM q273_lo
                |ORDER BY tier""".stripMargin)
      },
      Some("""SELECT 'hi' AS tier, count(*) AS n,
             |  sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents,
             |  min(o_orderkey) AS min_key
             |FROM orders WHERE o_totalprice >= 150000
             |UNION ALL
             |SELECT 'lo' AS tier, count(*) AS n,
             |  sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents,
             |  min(o_orderkey) AS min_key
             |FROM orders WHERE o_totalprice < 150000
             |ORDER BY tier""".stripMargin)))

  /** Round-5 surface: the SQL-dialect features Spark 4 added or that the
    * catalog exercised only through the DataFrame API — PIVOT/UNPIVOT
    * clauses, GROUP BY ALL, WITH RECURSIVE, native session_window,
    * fuzzy matching, URL parsing, TRY_CAST, bit/bool aggregates and
    * interval arithmetic. */
  private val roundFiveSurface: Seq[(String, Q)] = Seq(
    // SQL PIVOT clause (the relational surface of q18's DataFrame pivot).
    // Scale: pivot compiles to one hash aggregate with conditional
    // partials — columns, not shuffles, grow with the IN list.
    // coalesce(...,0): a (priority, status) combo absent at small SF must
    // read 0 in both engines, not NULL in one.
    "q174_sql_pivot" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q174_orders")
        s.sql("""SELECT o_orderpriority,
                |  coalesce(n_open, 0L) AS n_open,
                |  coalesce(n_full, 0L) AS n_full,
                |  coalesce(n_part, 0L) AS n_part
                |FROM (SELECT o_orderpriority, o_orderstatus FROM q174_orders)
                |PIVOT (count(*) FOR o_orderstatus
                |  IN ('O' AS n_open, 'F' AS n_full, 'P' AS n_part))
                |ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority,
             |  coalesce(count(*) FILTER (o_orderstatus = 'O'), 0)::BIGINT AS n_open,
             |  coalesce(count(*) FILTER (o_orderstatus = 'F'), 0)::BIGINT AS n_full,
             |  coalesce(count(*) FILTER (o_orderstatus = 'P'), 0)::BIGINT AS n_part
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // SQL UNPIVOT clause (the inverse surface; q44's melt via SQL text).
    // Scale: unpivot is a projection-side explode — no shuffle beyond
    // the feeding aggregate.
    "q175_sql_unpivot" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q175_orders")
        s.sql("""SELECT o_orderpriority, metric, n
                |FROM (SELECT o_orderpriority,
                |    count(*) AS n_orders,
                |    count(DISTINCT o_custkey) AS n_custs
                |  FROM q175_orders GROUP BY o_orderpriority)
                |UNPIVOT (n FOR metric IN (n_orders, n_custs))
                |ORDER BY o_orderpriority, metric""".stripMargin)
      },
      Some("""WITH a AS (SELECT o_orderpriority,
             |    count(*)::BIGINT AS n_orders,
             |    count(DISTINCT o_custkey)::BIGINT AS n_custs
             |  FROM orders GROUP BY o_orderpriority)
             |SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS n FROM a
             |UNION ALL
             |SELECT o_orderpriority, 'n_custs' AS metric, n_custs AS n FROM a
             |ORDER BY o_orderpriority, metric""".stripMargin)),

    // GROUP BY ALL (both dialects share it verbatim) — the analyst
    // shorthand; proves Spark infers the same grouping set.
    "q176_group_by_all" -> Q(
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("q176_lineitem")
        s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
                |  sum(CAST(l_quantity AS BIGINT)) AS sum_qty
                |FROM q176_lineitem GROUP BY ALL
                |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
             |  sum(l_quantity::BIGINT)::BIGINT AS sum_qty
             |FROM lineitem GROUP BY ALL
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // WITH RECURSIVE (Spark 4's UnionLoop): gap-filled daily spine from
    // the data's own bounds, left-joined to per-day counts — the same
    // shape q112 builds with sequence(), now as pure recursive SQL on
    // BOTH engines. Scale: recursion depth = #days (bounded by the
    // calendar, not the data); the per-day aggregate is the only
    // data-sized pass.
    "q177_recursive_cte" -> Q(
      (s, d) => {
        t(s, d, "events").createOrReplaceTempView("q177_events")
        // the spine bounds are fetched as two scalars FIRST: a bounds
        // CTE referenced from the recursive step gets re-evaluated (a
        // full events scan) on EVERY iteration — 30 re-scans for a
        // 30-day spine. Two longs over the driver is the right trade at
        // any scale; the recursion itself is then pure literal
        // arithmetic, one tiny local job per day.
        val b = s.sql(
          """SELECT min(unix_millis(ts) div 86400000) AS lo,
            |  max(unix_millis(ts) div 86400000) AS hi
            |FROM q177_events""".stripMargin).collect()(0)
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        // Spark's default cteRecursionLevelLimit is 100 — a year-long
        // event span would hit the cliff; size the limit to the spine.
        // Only ever RAISE it (a restore-in-finally can't work here: the
        // returned DataFrame executes lazily, after this function
        // exits). The raised limit intentionally outlives this query —
        // it is a safety ceiling, not a semantics change, so leaking a
        // higher ceiling into the session is harmless; lowering a
        // caller's own setting would not be.
        val needed = math.max(hi - lo + 10L, 100L)
        val current =
          try s.conf.get("spark.sql.cteRecursionLevelLimit").toLong
          catch { case _: Throwable => 100L }
        if (needed > current)
          s.conf.set("spark.sql.cteRecursionLevelLimit", needed.toString)
        s.sql(s"""WITH RECURSIVE spine(day) AS (
                 |  SELECT ${lo}L AS day
                 |  UNION ALL
                 |  SELECT day + 1 FROM spine WHERE day < ${hi}L),
                 |perday AS (
                 |  SELECT unix_millis(ts) div 86400000 AS day, count(*) AS n
                 |  FROM q177_events GROUP BY 1)
                 |SELECT s.day, coalesce(p.n, 0L) AS n_events
                 |FROM spine s LEFT JOIN perday p ON s.day = p.day
                 |ORDER BY s.day""".stripMargin)
      },
      Some("""WITH RECURSIVE bounds AS (
             |  SELECT min(epoch_ms(ts) // 86400000) AS lo,
             |    max(epoch_ms(ts) // 86400000) AS hi
             |  FROM events),
             |spine(day) AS (
             |  SELECT lo FROM bounds
             |  UNION ALL
             |  SELECT day + 1 FROM spine, bounds WHERE day < hi),
             |perday AS (
             |  SELECT epoch_ms(ts) // 86400000 AS day, count(*)::BIGINT AS n
             |  FROM events GROUP BY 1)
             |SELECT s.day, coalesce(p.n, 0)::BIGINT AS n_events
             |FROM spine s LEFT JOIN perday p ON s.day = p.day
             |ORDER BY s.day""".stripMargin)),

    // Spark's NATIVE session_window operator in batch (q54/q63 build
    // sessions by hand; this is the SessionWindowing code path). Window
    // end = last event + gap, so last_ms = end − gap. The islands oracle
    // uses >= gap for "new session": Spark's windows are half-open
    // [start, last+gap), so an event landing exactly at the boundary
    // starts a NEW session.
    "q178_session_window_batch" -> Q(
      (s, d) => {
        t(s, d, "events")
          .filter(col("user_id") < 50)
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("sw"))
          .agg(
            count(lit(1)).as("n_events"),
            usum(col("value")).as("total_value_micros"))
          .select(col("user_id"),
            unix_millis(col("sw.start")).as("start_ms"),
            (unix_millis(col("sw.end")) - lit(1800000L)).as("last_ms"),
            col("n_events"), col("total_value_micros"))
          .orderBy(col("user_id"), col("start_ms"))
      },
      Some("""WITH flagged AS (
             |  SELECT user_id, ts, event_id, value,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
             |      THEN 1 ELSE 0 END AS is_new
             |  FROM events WHERE user_id < 50
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sessions AS (
             |  SELECT user_id, ts, value,
             |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM flagged)
             |SELECT user_id, epoch_ms(min(ts)) AS start_ms,
             |  epoch_ms(max(ts)) AS last_ms, count(*)::BIGINT AS n_events,
             |  sum(floor(value*1e6)::BIGINT)::BIGINT AS total_value_micros
             |FROM sessions GROUP BY user_id, sid
             |ORDER BY user_id, start_ms""".stripMargin)),

    // levenshtein fuzzy matching: every distinct market segment scored
    // against a canonical-label list (one deliberately misspelled) with
    // per-segment best-match flag — the schema-reconciliation /
    // dirty-label cleanup primitive. Scale: distinct-values × candidates
    // is dimension-sized; never row-count-sized.
    "q179_levenshtein_match" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q179_customer")
        s.sql("""WITH segs AS (
                |  SELECT DISTINCT c_mktsegment AS seg FROM q179_customer),
                |cands AS (SELECT explode(array(
                |  'AUTOMOBILE','BULDING','FURNITURE','MACHINE','HOUSEHOLD')) AS cand)
                |SELECT seg, cand, CAST(levenshtein(seg, cand) AS BIGINT) AS dist,
                |  levenshtein(seg, cand) =
                |    min(levenshtein(seg, cand)) OVER (PARTITION BY seg) AS is_best
                |FROM segs CROSS JOIN cands
                |ORDER BY seg, cand""".stripMargin)
      },
      Some("""WITH segs AS (SELECT DISTINCT c_mktsegment AS seg FROM customer),
             |cands AS (SELECT unnest(
             |  ['AUTOMOBILE','BULDING','FURNITURE','MACHINE','HOUSEHOLD']) AS cand)
             |SELECT seg, cand, levenshtein(seg, cand)::BIGINT AS dist,
             |  levenshtein(seg, cand) =
             |    min(levenshtein(seg, cand)) OVER (PARTITION BY seg) AS is_best
             |FROM segs CROSS JOIN cands
             |ORDER BY seg, cand""".stripMargin)),

    // parse_url battery over synthesized corpus URLs (host / path /
    // query / single-param extraction — the web-corpus provenance
    // columns every crawl pipeline materializes). Oracle re-derives each
    // part with regexes from the Java/RE2 common subset.
    "q180_parse_url" -> Q(
      (s, d) => {
        t(s, d, "documents")
          .filter(col("doc_id") < 200)
          .select(col("doc_id"),
            concat(lit("https://corp.example.com/"), col("source"),
              lit("/doc/"), col("doc_id"), lit("?lang="), col("lang"),
              lit("&v=2")).as("url"))
          .select(col("doc_id"),
            expr("parse_url(url, 'HOST')").as("host"),
            expr("parse_url(url, 'PATH')").as("path"),
            expr("parse_url(url, 'QUERY')").as("query"),
            expr("parse_url(url, 'QUERY', 'lang')").as("lang_param"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (SELECT doc_id,
             |    'https://corp.example.com/' || source || '/doc/' || doc_id
             |      || '?lang=' || lang || '&v=2' AS url
             |  FROM documents WHERE doc_id < 200)
             |SELECT doc_id,
             |  regexp_extract(url, '^[a-z]+://([^/?]+)', 1) AS host,
             |  regexp_extract(url, '^[a-z]+://[^/?]+(/[^?]*)', 1) AS path,
             |  regexp_extract(url, '\?(.*)$', 1) AS query,
             |  regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param
             |FROM u ORDER BY doc_id""".stripMargin)),

    // TRY_CAST malformed-input battery: a third of the rows numeric, a
    // third prefixed-garbage, a third free text — counts and the sum of
    // the parseable subset. The NULL-on-failure contract is the bulk
    // ingest path (ansi=false casts row-by-row errors away; TRY_CAST is
    // the explicit, ANSI-safe spelling).
    "q181_try_cast" -> Q(
      (s, d) => {
        t(s, d, "part").createOrReplaceTempView("q181_part")
        s.sql("""WITH x AS (SELECT
                |  CASE WHEN p_partkey % 3 = 0 THEN CAST(p_partkey AS STRING)
                |       WHEN p_partkey % 3 = 1
                |         THEN concat('x', CAST(p_partkey AS STRING))
                |       ELSE p_name END AS sval
                |  FROM q181_part)
                |SELECT count(*) AS n_rows,
                |  count(TRY_CAST(sval AS INT)) AS n_numeric,
                |  sum(coalesce(TRY_CAST(sval AS INT), 0)) AS sum_numeric
                |FROM x ORDER BY n_rows""".stripMargin)
      },
      Some("""WITH x AS (SELECT
             |  CASE WHEN p_partkey % 3 = 0 THEN p_partkey::VARCHAR
             |       WHEN p_partkey % 3 = 1 THEN 'x' || p_partkey::VARCHAR
             |       ELSE p_name END AS sval
             |  FROM part)
             |SELECT count(*)::BIGINT AS n_rows,
             |  count(TRY_CAST(sval AS INT))::BIGINT AS n_numeric,
             |  sum(coalesce(TRY_CAST(sval AS INT), 0))::BIGINT AS sum_numeric
             |FROM x ORDER BY n_rows""".stripMargin)),

    // bitwise + boolean aggregate battery (bit_and/or/xor, bool_and/or)
    // — flag-mask consolidation and predicate rollups; all five are
    // order-independent, so map-side partials are exact at any scale.
    "q182_bit_bool_aggs" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q182_orders")
        s.sql("""SELECT o_orderpriority,
                |  bit_and(o_custkey) AS band,
                |  bit_or(o_custkey) AS bor,
                |  bit_xor(o_custkey) AS bxor,
                |  bool_and(o_totalprice > 0) AS all_pos,
                |  bool_or(o_orderstatus = 'P') AS any_pending,
                |  count(*) AS n
                |FROM q182_orders GROUP BY o_orderpriority
                |ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority,
             |  bit_and(o_custkey)::BIGINT AS band,
             |  bit_or(o_custkey)::BIGINT AS bor,
             |  bit_xor(o_custkey)::BIGINT AS bxor,
             |  bool_and(o_totalprice > 0) AS all_pos,
             |  bool_or(o_orderstatus = 'P') AS any_pending,
             |  count(*)::BIGINT AS n
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // date ± INTERVAL arithmetic battery: day offsets and clamped
    // month addition per order-year; both engines clamp end-of-month,
    // and due dates surface as DATE on both sides. The oracle spells
    // the 90-day check as a pre-shifted literal (ts + 90d > T ⟺
    // ts > T − 90d): DuckDB 1.0's expression dedup confuses DISTINCT
    // interval literals inside one aggregate (90 DAY vs 3 MONTH),
    // silently computing min/max over the wrong addition.
    "q183_interval_arith" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q183_orders")
        s.sql("""SELECT year(o_orderdate) AS yr, count(*) AS n_orders,
                |  count(CASE WHEN o_orderdate + INTERVAL 90 DAY
                |    > DATE '1997-01-01' THEN 1 END) AS n_due_after,
                |  min(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE)) AS min_due,
                |  max(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE)) AS max_due
                |FROM q183_orders GROUP BY year(o_orderdate)
                |ORDER BY yr""".stripMargin)
      },
      Some("""SELECT year(o_orderdate)::BIGINT AS yr, count(*)::BIGINT AS n_orders,
             |  count(CASE WHEN o_orderdate > DATE '1996-10-03'
             |    THEN 1 END)::BIGINT AS n_due_after,
             |  min((o_orderdate + INTERVAL 3 MONTH)::DATE) AS min_due,
             |  max((o_orderdate + INTERVAL 3 MONTH)::DATE) AS max_due
             |FROM orders GROUP BY year(o_orderdate)
             |ORDER BY yr""".stripMargin)),

    // ORC round-trips across its codec matrix (q158 is the parquet twin)
    // — identical checksums prove each compression IO path end-to-end.
    "q184_orc_codecs" -> Q(
      (s, d) => {
        val base = scratchDir("graft_q184")
        val src = t(s, d, "supplier")
        Seq("snappy", "zlib", "zstd").map { codec =>
          src.write.mode("overwrite").option("compression", codec)
            .orc(s"$base/$codec")
          s.read.orc(s"$base/$codec")
            .agg(count(lit(1)).as("n_rows"),
              sum(col("s_suppkey")).as("key_sum"),
              usum(col("s_acctbal")).as("acctbal_micros"))
            .select(lit(codec).as("codec"), col("n_rows"), col("key_sum"),
              col("acctbal_micros"))
        }.reduce(_ unionByName _).orderBy(col("codec"))
      },
      Some("""WITH s AS (SELECT count(*)::BIGINT AS n_rows,
             |    sum(s_suppkey)::BIGINT AS key_sum,
             |    sum(floor(s_acctbal*1e6)::BIGINT)::BIGINT AS acctbal_micros
             |  FROM supplier)
             |SELECT codec, n_rows, key_sum, acctbal_micros FROM s,
             |  (VALUES ('snappy'), ('zlib'), ('zstd')) c(codec)
             |ORDER BY codec""".stripMargin)),

    // CSV/JSONL round-trips of a deliberately hostile string column
    // (embedded separator, quote, AND newline): writer quoting +
    // multiLine reader must reproduce it byte-for-byte; the oracle
    // aggregates the same synthesized column straight off the original
    // table, so any quoting loss breaks the checksum.
    "q185_roundtrip_quoting" -> Q(
      (s, d) => {
        val base = scratchDir("graft_q185")
        val src = t(s, d, "part").select(
          col("p_partkey"),
          concat(col("p_name"), lit(",\"x\"\n"), col("p_type")).as("hz"))
        src.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
        src.write.mode("overwrite").json(s"$base/json")
        val legs = Seq(
          "csv" -> s.read.schema(src.schema).option("header", "true")
            .option("multiLine", "true").csv(s"$base/csv"),
          "json" -> s.read.schema(src.schema).json(s"$base/json"))
        legs.map { case (fmt, df) =>
          df.agg(count(lit(1)).as("n_rows"),
              sum(col("p_partkey")).as("key_sum"),
              sum(length(col("hz"))).as("len_sum"))
            .select(lit(fmt).as("fmt"), col("n_rows"), col("key_sum"),
              col("len_sum"))
        }.reduce(_ unionByName _).orderBy(col("fmt"))
      },
      Some("""WITH s AS (SELECT count(*)::BIGINT AS n_rows,
             |    sum(p_partkey)::BIGINT AS key_sum,
             |    sum(length(p_name || ',"x"' || chr(10) || p_type))::BIGINT
             |      AS len_sum
             |  FROM part)
             |SELECT fmt, n_rows, key_sum, len_sum FROM s,
             |  (VALUES ('csv'), ('json')) f(fmt)
             |ORDER BY fmt""".stripMargin)),

    // numeric RANGE frame (q130 is the time-range twin): orders within
    // $100 below each order, value-distance not row-distance — RANGE
    // includes peer rows identically in both engines. Cents are
    // floor(price*100): IEEE multiply+floor is exactly rounded, so both
    // engines derive the same integers.
    "q186_numeric_range_frame" -> Q(
      (s, d) => {
        val o = t(s, d, "orders")
          .filter(col("o_custkey") < 100)
          .select(col("o_orderkey"), col("o_orderpriority"),
            floor(col("o_totalprice") * lit(100)).as("cents"))
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("cents"))
          .rangeBetween(-10000L, Window.currentRow)
        o.select(col("o_orderkey"), col("o_orderpriority"), col("cents"),
            count(lit(1)).over(w).as("n_nearby"),
            sum(col("cents")).over(w).as("cents_nearby"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH o AS (SELECT o_orderkey, o_orderpriority,
             |    floor(o_totalprice * 100)::BIGINT AS cents
             |  FROM orders WHERE o_custkey < 100)
             |SELECT o_orderkey, o_orderpriority, cents,
             |  count(*) OVER w::BIGINT AS n_nearby,
             |  sum(cents) OVER w::BIGINT AS cents_nearby
             |FROM o
             |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY cents
             |  RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW)
             |ORDER BY o_orderkey""".stripMargin)),

    // higher-order array functions (transform / filter / aggregate over
    // collected lists) — outputs reduce to order-independent scalars, so
    // collect_list's nondeterministic order cannot leak into the hash.
    // Scale contract: the per-source array is corpus-sized — this entry
    // exists to exercise the HOF surface itself (filter/aggregate
    // lambdas over a real array), which REQUIRES materializing one.
    // Every scalar it emits has a collect-free twin (conditional
    // aggregates — the oracle's own algebra); a production pipeline
    // computing these numbers at 100 TB uses that shape, and the HOF
    // surface appears there over row-local arrays (token lists,
    // embeddings), never corpus-spanning ones.
    "q187_higher_order_fns" -> Q(
      (s, d) => {
        val ntok = t(s, d, "documents")
          .select(col("source"),
            size(split(trim(col("text")), " ")).as("ntok"))
        ntok.groupBy(col("source"))
          .agg(collect_list((col("ntok") * 2).cast("long")).as("l"))
          .select(col("source"),
            size(col("l")).cast("long").as("n_docs"),
            size(filter(col("l"), x => x > 40)).cast("long").as("n_kept"),
            aggregate(filter(col("l"), x => x > 40), lit(0L),
              (acc, x) => acc + x).as("sum_kept"))
          .orderBy(col("source"))
      },
      Some("""WITH dtl AS (SELECT source,
             |    (len(string_split(trim(text), ' ')) * 2)::BIGINT AS ntok2
             |  FROM documents),
             |g AS (SELECT source, list(ntok2) AS l FROM dtl GROUP BY source)
             |SELECT source, len(l)::BIGINT AS n_docs,
             |  len(list_filter(l, x -> x > 40))::BIGINT AS n_kept,
             |  coalesce(list_sum(list_filter(l, x -> x > 40)), 0)::BIGINT
             |    AS sum_kept
             |FROM g ORDER BY source""".stripMargin),
      // timed path: the collect-free twin (conditional hash aggregate,
      // constant per-group state) — identical output, the shape a 100 TB
      // run of these semantics actually uses
      benchFn = Some((s, d) => {
        val ntok2 = (size(split(trim(col("text")), " ")) * 2).cast("long")
        t(s, d, "documents")
          .select(col("source"), ntok2.as("v"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            count(when(col("v") > 40, 1)).as("n_kept"),
            coalesce(sum(when(col("v") > 40, col("v"))), lit(0L)).as("sum_kept"))
          .orderBy(col("source"))
      })),

    // listagg WITHIN GROUP (Spark 4 surface) vs string_agg — ordered
    // string concatenation per group, deterministic under the explicit
    // ORDER BY inside the aggregate.
    "q188_listagg" -> Q(
      (s, d) => {
        t(s, d, "nation").createOrReplaceTempView("q188_nation")
        t(s, d, "region").createOrReplaceTempView("q188_region")
        s.sql("""SELECT r_name,
                |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)
                |    AS nations
                |FROM q188_region JOIN q188_nation ON r_regionkey = n_regionkey
                |GROUP BY r_name ORDER BY r_name""".stripMargin)
      },
      Some("""SELECT r_name,
             |  string_agg(n_name, ',' ORDER BY n_name) AS nations
             |FROM region JOIN nation ON r_regionkey = n_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // aggregate FILTER (WHERE ...) clause — conditional aggregation
    // without CASE; one scan, conditional partials.
    "q189_filter_clause" -> Q(
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("q189_lineitem")
        s.sql("""SELECT l_returnflag,
                |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
                |  sum(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_linestatus = 'F')
                |    AS qty_f,
                |  count(*) AS n
                |FROM q189_lineitem GROUP BY l_returnflag
                |ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag,
             |  count(*) FILTER (WHERE l_quantity > 25)::BIGINT AS n_big,
             |  coalesce(sum(l_quantity::BIGINT) FILTER (WHERE l_linestatus = 'F'),
             |    0)::BIGINT AS qty_f,
             |  count(*)::BIGINT AS n
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // VARIANT ingestion (Spark 4's semi-structured type): parse_json →
    // typed variant_get extraction, aggregated — the schema-on-read
    // path for ragged event payloads; oracle via DuckDB's JSON
    // extraction over the same strings.
    "q190_variant_json" -> Q(
      (s, d) => {
        t(s, d, "events").createOrReplaceTempView("q190_events")
        s.sql("""SELECT event_type, count(*) AS n,
                |  sum(CAST(variant_get(parse_json(props), '$.k', 'int') AS BIGINT))
                |    AS k_sum
                |FROM q190_events GROUP BY event_type
                |ORDER BY event_type""".stripMargin)
      },
      Some("""SELECT event_type, count(*)::BIGINT AS n,
             |  sum(json_extract(props, '$.k')::INT)::BIGINT AS k_sum
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // left-outer stream-stream join: matched rows emit as they join; an
    // unmatched click emits with NULL error columns only on state
    // eviction. Eviction INSIDE the final (watermark − interval,
    // watermark) band is batching-dependent — empirically sf0.01 held a
    // click 9 min under the watermark while sf0.1 emitted most of that
    // band — so the gate keeps matched rows plus the unmatched clicks
    // below watermark − interval, where emission is deterministic (the
    // q35/q63 final-watermark-filter pattern, applied to BOTH sides).
    "q191_stream_left_outer" -> Q(
      (s, d) => {
        val name = "graft_stream_ssljoin_q191"
        s.catalog.dropTempView(name)
        val es = graft.streaming.EventStreams
        val src = es.readStream(s, s"$d/events.parquet")
        val wmMs = ssOuterWmMs(s, d)
        es.drainToTable(s, es.clickErrorLeftJoin(
            src.filter(col("event_type") === "click"),
            src.filter(col("event_type") === "error")), name)
          .select(
            col("click_id"), col("user_id"),
            unix_millis(col("click_ts")).as("click_ms"),
            unix_millis(col("err_ts")).as("err_ms"), col("err_value"))
          .filter(col("err_ms").isNotNull ||
            col("click_ms") < lit(wmMs - 1800000L))
          .orderBy(col("click_id"), col("err_ms"))
      },
      Some(s"""WITH $ssOuterWmCte,
             |m AS (SELECT c.event_id AS click_id, c.user_id,
             |    epoch_ms(c.ts) AS click_ms, epoch_ms(e.ts) AS err_ms,
             |    e.value AS err_value
             |  FROM events c JOIN events e ON c.user_id = e.user_id
             |    AND c.event_type = 'click' AND e.event_type = 'error'
             |    AND e.ts <= c.ts AND e.ts >= c.ts - INTERVAL 30 MINUTE),
             |um AS (SELECT c.event_id AS click_id, c.user_id,
             |    epoch_ms(c.ts) AS click_ms, NULL::BIGINT AS err_ms,
             |    NULL::DOUBLE AS err_value
             |  FROM events c, wm
             |  WHERE c.event_type = 'click' AND epoch_ms(c.ts) < wm.w - 1800000
             |    AND NOT EXISTS (SELECT 1 FROM events e
             |      WHERE e.user_id = c.user_id AND e.event_type = 'error'
             |        AND e.ts <= c.ts AND e.ts >= c.ts - INTERVAL 30 MINUTE))
             |SELECT * FROM m UNION ALL SELECT * FROM um
             |ORDER BY click_id, err_ms NULLS FIRST""".stripMargin)),

    // lead/lag IGNORE NULLS — sensor-style carry-forward across sparse
    // readings. DuckDB 1.0 has no IGNORE NULLS syntax, so the oracle
    // derives "latest earlier non-null" as the last element of a
    // FILTERed list over the preceding-rows frame — same semantics,
    // independently constructed.
    "q192_ignore_nulls" -> Q(
      (s, d) => {
        val e = t(s, d, "events")
          .filter(col("user_id") < 30)
          .select(col("user_id"), col("event_id"),
            when(col("event_id") % 5 === 0, lit(null).cast("long"))
              .otherwise(floor(col("value") * lit(1e6))).as("v"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        e.select(col("user_id"), col("event_id"), col("v"),
            lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_v"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |    CASE WHEN event_id % 5 = 0 THEN NULL
             |      ELSE floor(value * 1e6)::BIGINT END AS v
             |  FROM events WHERE user_id < 30),
             |l AS (SELECT user_id, event_id, v,
             |    list(v) FILTER (v IS NOT NULL) OVER (
             |      PARTITION BY user_id ORDER BY event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pl
             |  FROM e)
             |SELECT user_id, event_id, v, pl[len(pl)] AS prev_v
             |FROM l ORDER BY user_id, event_id""".stripMargin)),

    // integer math battery: pmod (always-positive mod, oracle spells it
    // ((x%n)+n)%n), bit shifts, small factorials, abs/sign — all exact
    // integer ops, identical at any scale.
    "q193_int_math" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q193_orders")
        s.sql("""SELECT o_orderpriority,
                |  sum(pmod(o_custkey - 2 * (o_custkey div 3), 7)) AS pmod_sum,
                |  sum(shiftleft(o_custkey % 16, 2)) AS shl_sum,
                |  sum(shiftright(o_custkey, 3)) AS shr_sum,
                |  sum(factorial(CAST(o_custkey % 10 AS INT))) AS fact_sum,
                |  sum(CAST(abs(o_custkey - 1000) * signum(o_custkey - 1000) AS BIGINT))
                |    AS abssign_sum
                |FROM q193_orders GROUP BY o_orderpriority
                |ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority,
             |  sum((((o_custkey - 2 * (o_custkey // 3)) % 7) + 7) % 7)::BIGINT
             |    AS pmod_sum,
             |  sum((o_custkey % 16) << 2)::BIGINT AS shl_sum,
             |  sum(o_custkey >> 3)::BIGINT AS shr_sum,
             |  sum(factorial((o_custkey % 10)::INT))::BIGINT AS fact_sum,
             |  sum((abs(o_custkey - 1000) * sign(o_custkey - 1000))::BIGINT)::BIGINT
             |    AS abssign_sum
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // string battery 2: padding, translate, repeat, reverse, left/right
    // — the formatting/normalization helpers q41's battery doesn't cover.
    "q194_string_shaping" -> Q(
      (s, d) => {
        t(s, d, "part").createOrReplaceTempView("q194_part")
        s.sql("""SELECT p_brand,
                |  min(lpad(CAST(p_partkey AS STRING), 9, '0')) AS min_padded,
                |  max(rpad(p_brand, 12, '.')) AS max_rpad,
                |  min(translate(p_type, 'aeiou', 'AEIOU')) AS min_translated,
                |  max(repeat(left(p_name, 2), 2)) AS max_rep,
                |  min(reverse(right(p_name, 3))) AS min_rev,
                |  count(*) AS n
                |FROM q194_part GROUP BY p_brand
                |ORDER BY p_brand""".stripMargin)
      },
      Some("""SELECT p_brand,
             |  min(lpad(p_partkey::VARCHAR, 9, '0')) AS min_padded,
             |  max(rpad(p_brand, 12, '.')) AS max_rpad,
             |  min(translate(p_type, 'aeiou', 'AEIOU')) AS min_translated,
             |  max(repeat(left(p_name, 2), 2)) AS max_rep,
             |  min(reverse(right(p_name, 3))) AS min_rev,
             |  count(*)::BIGINT AS n
             |FROM part GROUP BY p_brand
             |ORDER BY p_brand""".stripMargin)),

    // datetime constructors: make_date / make_timestamp from integer
    // components (the write path of calendar arithmetic — q13/q183 are
    // the read path), verified through epoch round-trips.
    "q195_make_datetime" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q195_orders")
        s.sql("""SELECT year(o_orderdate) AS yr,
                |  min(make_date(year(o_orderdate), month(o_orderdate), 1)) AS first_day,
                |  max(unix_millis(make_timestamp(year(o_orderdate),
                |    month(o_orderdate), day(o_orderdate), 12, 30, 15.5))) AS max_noonish_ms,
                |  count(*) AS n
                |FROM q195_orders GROUP BY year(o_orderdate)
                |ORDER BY yr""".stripMargin)
      },
      Some("""SELECT year(o_orderdate)::BIGINT AS yr,
             |  min(make_date(year(o_orderdate)::INT, month(o_orderdate)::INT, 1))
             |    AS first_day,
             |  max(epoch_ms(make_timestamp(year(o_orderdate)::BIGINT,
             |    month(o_orderdate)::BIGINT, day(o_orderdate)::BIGINT,
             |    12, 30, 15.5))) AS max_noonish_ms,
             |  count(*)::BIGINT AS n
             |FROM orders GROUP BY year(o_orderdate)
             |ORDER BY yr""".stripMargin)),

    // REAL image resize: synthesize genuine 24bpp BMPs executor-side
    // (id-derived dims + pixels), nearest-neighbor halve them, then
    // RE-PARSE the resized bytes — header dims, the exact BMP size
    // formula, and the (0,0) pixel (NN maps it to source (0,0), whose
    // BGR value is the encode seed = asset_id) are all id-derivable, so
    // the oracle verifies a genuine pixel transform from arithmetic
    // alone. Pipeline shape: synth → resize → decode, all
    // partition-preserving mapPartitions, payloads never on the driver.
    "q196_image_resize" -> Q(
      (s, d) => {
        val ids = t(s, d, "documents")
          .filter(col("doc_id") < 800).select(col("doc_id"))
          .repartition(s.sparkContext.defaultParallelism)
        val assets = graft.multimodal.Multimodal.synthesizeMediaAssets(ids)
        val resized = graft.multimodal.Multimodal.resizeImages(assets, scaleDen = 2)
        val info = graft.multimodal.Multimodal.decodeMedia(resized)
        val byteAt = (pos: Int) =>
          expr(s"cast(conv(hex(substring(bytes, $pos, 1)), 16, 10) as bigint)")
        info.join(resized, "asset_id")
          .select(col("asset_id"), col("codec"), col("width"), col("height"),
            col("n_bytes"),
            (byteAt(55) + byteAt(56) * lit(256L) + byteAt(57) * lit(65536L))
              .as("px00"))
          .orderBy(col("asset_id"))
      },
      Some("""WITH b AS (SELECT doc_id AS asset_id,
             |    (doc_id % 31 + 1)::BIGINT AS w, (doc_id % 17 + 1)::BIGINT AS h
             |  FROM documents WHERE doc_id < 800 AND doc_id % 4 = 0),
             |r AS (SELECT asset_id, greatest(w // 2, 1) AS tw,
             |    greatest(h // 2, 1) AS th FROM b)
             |SELECT asset_id, 'bmp' AS codec, tw AS width, th AS height,
             |  (54 + th * ((3 * tw + 3) // 4 * 4))::BIGINT AS n_bytes,
             |  asset_id AS px00
             |FROM r ORDER BY asset_id""".stripMargin)),

    // the secondary-sort pattern: repartition by key + sortWithinPartitions
    // + ONE streaming pass per partition (groups arrive contiguous and
    // time-ordered, so per-user session math needs constant memory and
    // zero window state) — the classic MR-era shape that still beats
    // window functions when per-key sequences are huge and the logic is
    // a fold. Oracle recomputes max inter-event gap via lag windows.
    "q197_secondary_sort" -> Q(
      (s, d) => {
        val e = t(s, d, "events")
          .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"))
          .repartition(col("user_id"))
          .sortWithinPartitions(col("user_id"), col("ms"), col("event_id"))
        val outSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("max_gap_ms",
            org.apache.spark.sql.types.LongType, nullable = false)))
        val enc = org.apache.spark.sql.Encoders.row(outSchema)
        e.mapPartitions { rows =>
          new Iterator[org.apache.spark.sql.Row] {
            // explicit has-group flag, NOT a key sentinel: any Long is a
            // legal user_id, so a magic value would silently drop that
            // user's trailing group
            private var hasCur = false
            private var cur = 0L
            private var n = 0L
            private var prevMs = 0L
            private var maxGap = 0L
            private var pending: org.apache.spark.sql.Row = null
            private var done = false
            private def roll(nextUser: Long): org.apache.spark.sql.Row = {
              val out = org.apache.spark.sql.Row(cur, n, maxGap)
              cur = nextUser; n = 0L; maxGap = 0L
              out
            }
            override def hasNext: Boolean = {
              if (pending != null) return true
              while (rows.hasNext) {
                val r = rows.next()
                val (u, ms) = (r.getLong(0), r.getLong(1))
                if (!hasCur) { hasCur = true; cur = u }
                if (u != cur) { pending = roll(u); prevMs = ms; n = 1L; return true }
                if (n > 0L) maxGap = math.max(maxGap, ms - prevMs)
                prevMs = ms; n += 1L
              }
              if (!done && hasCur) { pending = roll(0L); done = true; return true }
              false
            }
            override def next(): org.apache.spark.sql.Row = {
              val r = pending; pending = null; r
            }
          }
        }(enc).orderBy(col("user_id"))
      },
      Some("""WITH g AS (SELECT user_id,
             |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
             |      PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap
             |  FROM events)
             |SELECT user_id, count(*)::BIGINT AS n,
             |  coalesce(max(gap), 0)::BIGINT AS max_gap_ms
             |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // explicit bloom semi-filter: build a bloom over the dimension's
    // keys (Spark's own runtime-filter aggregate, SQL-registered by
    // graft), drop non-candidate fact rows BEFORE the shuffle, then
    // verify exactly — no false negatives means the result equals the
    // exact semi join, so correctness is independent of bloom sizing
    // and the oracle is the plain semi join. At 100 TB this is the
    // pre-shuffle reduction InjectRuntimeFilter performs implicitly,
    // available to pipelines whose join shape the optimizer can't see.
    "q198_bloom_semi_filter" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q198_orders")
        t(s, d, "customer").createOrReplaceTempView("q198_customer")
        // coalesce(…, false): an EMPTY build side makes bloom_agg NULL
        // and the probe NULL — for a semi filter "no candidates" is the
        // right degradation, so pin it to false explicitly rather than
        // ride on WHERE's NULL-drops-rows behavior.
        s.sql("""WITH pre AS (
                |  SELECT o_orderpriority, o_custkey FROM q198_orders
                |  WHERE coalesce(bloom_might_contain(
                |    (SELECT bloom_agg(CAST(c_custkey AS BIGINT), 8192L, 131072L)
                |     FROM q198_customer WHERE c_mktsegment = 'BUILDING'),
                |    CAST(o_custkey AS BIGINT)), false))
                |SELECT p.o_orderpriority, count(*) AS n
                |FROM pre p
                |WHERE EXISTS (SELECT 1 FROM q198_customer c
                |  WHERE c.c_custkey = p.o_custkey
                |    AND c.c_mktsegment = 'BUILDING')
                |GROUP BY p.o_orderpriority
                |ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o.o_orderpriority, count(*)::BIGINT AS n
             |FROM orders o
             |WHERE EXISTS (SELECT 1 FROM customer c
             |  WHERE c.c_custkey = o.o_custkey
             |    AND c.c_mktsegment = 'BUILDING')
             |GROUP BY o.o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // bloom ANTI fast path — the dual of q198: a bloom MISS is a
    // PROOF of non-membership, so those fact rows join the anti result
    // with no exact check at all; only the might-contain candidates
    // (true members + false positives) pay the exact NOT EXISTS. The
    // union equals the exact anti join for any bloom sizing.
    "q199_bloom_anti_fastpath" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q199_orders")
        t(s, d, "customer").createOrReplaceTempView("q199_customer")
        // coalesce(…, false) is load-bearing here (unlike q198): an
        // EMPTY build side makes the probe NULL, and `NOT NULL`/`NULL
        // AND …` would drop every row — returning an empty anti join
        // where the exact answer is ALL fact rows. Pinned to false, a
        // miss-everything bloom degrades to the exact NOT EXISTS path.
        s.sql("""WITH probed AS (
                |  SELECT o_orderpriority, o_custkey,
                |    coalesce(bloom_might_contain(
                |      (SELECT bloom_agg(CAST(c_custkey AS BIGINT), 8192L, 131072L)
                |       FROM q199_customer WHERE c_mktsegment = 'BUILDING'),
                |      CAST(o_custkey AS BIGINT)), false) AS maybe
                |  FROM q199_orders),
                |anti AS (
                |  SELECT o_orderpriority FROM probed WHERE NOT maybe
                |  UNION ALL
                |  SELECT o_orderpriority FROM probed p
                |  WHERE maybe AND NOT EXISTS (SELECT 1 FROM q199_customer c
                |    WHERE c.c_custkey = p.o_custkey
                |      AND c.c_mktsegment = 'BUILDING'))
                |SELECT o_orderpriority, count(*) AS n FROM anti
                |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o.o_orderpriority, count(*)::BIGINT AS n
             |FROM orders o
             |WHERE NOT EXISTS (SELECT 1 FROM customer c
             |  WHERE c.c_custkey = o.o_custkey
             |    AND c.c_mktsegment = 'BUILDING')
             |GROUP BY o.o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // date_trunc battery: week (ISO Monday in both engines), month and
    // quarter bucketing — the calendar rollup q13/q160 approach through
    // epoch arithmetic instead; this exercises the calendar-aware path.
    "q200_date_trunc" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q200_orders")
        s.sql("""SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
                |  count(*) AS n,
                |  count(DISTINCT CAST(date_trunc('week', o_orderdate) AS DATE))
                |    AS n_weeks,
                |  count(DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE))
                |    AS n_months,
                |  min(CAST(date_trunc('week', o_orderdate) AS DATE)) AS first_week
                |FROM q200_orders GROUP BY date_trunc('quarter', o_orderdate)
                |ORDER BY qtr""".stripMargin)
      },
      Some("""SELECT date_trunc('quarter', o_orderdate)::DATE AS qtr,
             |  count(*)::BIGINT AS n,
             |  count(DISTINCT date_trunc('week', o_orderdate)::DATE)::BIGINT
             |    AS n_weeks,
             |  count(DISTINCT date_trunc('month', o_orderdate)::DATE)::BIGINT
             |    AS n_months,
             |  min(date_trunc('week', o_orderdate)::DATE) AS first_week
             |FROM orders GROUP BY date_trunc('quarter', o_orderdate)
             |ORDER BY qtr""".stripMargin)))

  // ---------------------------------------------------------------------
  // round-6 surface: linear-regression aggregates, discrete percentiles
  // and mode, sketch-based distinct counting (HLL, bitmap), map
  // higher-order functions, array set algebra
  // ---------------------------------------------------------------------

  private val roundSixSurface: Seq[(String, Q)] = Seq(

    // linear-regression aggregate battery (regr_slope / regr_intercept /
    // regr_r2 / regr_avgx / regr_count). Hash-gating strategy: the
    // regression statistics are DERIVED deterministically from exact
    // integer sums (n, Σx, Σy, Σxy, Σx², Σy² — order-independent BIGINT
    // arithmetic in any engine) through an IDENTICAL IEEE expression
    // tree in Spark and DuckDB — each sum cast to DOUBLE BEFORE the
    // co-moment products, since n·Σxy-style BIGINT products overflow
    // 2^63 around SF 3-10 (Spark would wrap silently under ansi=false,
    // DuckDB would raise) — and the built-in regr_* results — whose
    // one-pass co-moment accumulation is order-dependent in the last
    // bits — are gated as within-1e-9 booleans against those trees.
    // Inputs pre-quantized (qty as-is, price in hecto-dollars) so every
    // integer sum stays far inside exact-BIGINT/double range at any SF.
    "q201_regr_battery" -> Q(
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("q201_lineitem")
        s.sql("""WITH b AS (
                |  SELECT l_returnflag AS rf,
                |    CAST(l_quantity AS BIGINT) AS x,
                |    CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS y
                |  FROM q201_lineitem),
                |a AS (
                |  SELECT rf, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                |    sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy,
                |    regr_slope(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS rs,
                |    regr_intercept(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS ri,
                |    regr_r2(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS rr,
                |    regr_avgx(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS rax,
                |    regr_count(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS rn
                |  FROM b GROUP BY rf),
                |tr AS (
                |  SELECT rf, n, rn, rs, ri, rr, rax,
                |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                |      AS slope,
                |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                |     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                |      / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                |      AS r2,
                |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS avgx,
                |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS avgy
                |  FROM a)
                |SELECT rf, CAST(rn AS BIGINT) AS n_pairs,
                |  CAST(floor(1000000.0 * slope) AS BIGINT) AS slope_ppm,
                |  CAST(floor(1000000.0 * (avgy - slope * avgx)) AS BIGINT)
                |    AS intercept_ppm,
                |  CAST(floor(1000000.0 * r2) AS BIGINT) AS r2_ppm,
                |  CAST(floor(1000000.0 * avgx) AS BIGINT) AS avgx_ppm,
                |  (abs(rs - slope) <= 0.000000001 * greatest(abs(slope), 1.0))
                |    AS ok_slope,
                |  (abs(ri - (avgy - slope * avgx))
                |    <= 0.000000001 * greatest(abs(avgy - slope * avgx), 1.0))
                |    AS ok_intercept,
                |  (abs(rr - r2) <= 0.000000001) AS ok_r2,
                |  (abs(rax - avgx) <= 0.000000001 * greatest(abs(avgx), 1.0))
                |    AS ok_avgx
                |FROM tr ORDER BY rf""".stripMargin)
      },
      Some("""WITH b AS (
             |  SELECT l_returnflag AS rf,
             |    CAST(l_quantity AS BIGINT) AS x,
             |    CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS y
             |  FROM lineitem),
             |a AS (
             |  SELECT rf, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |    sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy,
             |    regr_slope(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS rs,
             |    regr_intercept(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS ri,
             |    regr_r2(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS rr,
             |    regr_avgx(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS rax,
             |    regr_count(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS rn
             |  FROM b GROUP BY rf),
             |tr AS (
             |  SELECT rf, n, rn, rs, ri, rr, rax,
             |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |      AS slope,
             |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             |      / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             |      AS r2,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS avgx,
             |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS avgy
             |  FROM a)
             |SELECT rf, CAST(rn AS BIGINT) AS n_pairs,
             |  CAST(floor(1000000.0 * slope) AS BIGINT) AS slope_ppm,
             |  CAST(floor(1000000.0 * (avgy - slope * avgx)) AS BIGINT)
             |    AS intercept_ppm,
             |  CAST(floor(1000000.0 * r2) AS BIGINT) AS r2_ppm,
             |  CAST(floor(1000000.0 * avgx) AS BIGINT) AS avgx_ppm,
             |  (abs(rs - slope) <= 0.000000001 * greatest(abs(slope), 1.0))
             |    AS ok_slope,
             |  (abs(ri - (avgy - slope * avgx))
             |    <= 0.000000001 * greatest(abs(avgy - slope * avgx), 1.0))
             |    AS ok_intercept,
             |  (abs(rr - r2) <= 0.000000001) AS ok_r2,
             |  (abs(rax - avgx) <= 0.000000001 * greatest(abs(avgx), 1.0))
             |    AS ok_avgx
             |FROM tr ORDER BY rf""".stripMargin)),

    // SQL-standard inverse-distribution aggregates: percentile_disc
    // WITHIN GROUP picks an ACTUAL element (no interpolation, so the
    // result is engine-exact on any ordered domain), plus mode() — the
    // most frequent value, deterministic on this data (the spec-checked
    // margins between top-1 and top-2 counts are >= 8 at every SF; a
    // genuine tie would be engine-dependent and is the one shape this
    // battery deliberately avoids).
    "q202_percentile_disc_mode" -> Q(
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("q202_lineitem")
        s.sql("""SELECT l_returnflag AS rf, count(*) AS n_rows,
                |  CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)
                |    AS BIGINT) AS q25,
                |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
                |    AS BIGINT) AS q50,
                |  CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity)
                |    AS BIGINT) AS q75,
                |  CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY l_quantity)
                |    AS BIGINT) AS q95,
                |  mode(l_linestatus) AS mode_status
                |FROM q202_lineitem GROUP BY l_returnflag
                |ORDER BY rf""".stripMargin)
      },
      Some("""SELECT l_returnflag AS rf, count(*)::BIGINT AS n_rows,
             |  CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)
             |    AS BIGINT) AS q25,
             |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)
             |    AS BIGINT) AS q50,
             |  CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY l_quantity)
             |    AS BIGINT) AS q75,
             |  CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY l_quantity)
             |    AS BIGINT) AS q95,
             |  mode(l_linestatus) AS mode_status
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY rf""".stripMargin)),

    // HyperLogLog sketch distinct (Apache DataSketches HLL under
    // Spark's hll_sketch_agg): the 100 TB cardinality path — fixed-size
    // mergeable partials instead of a shuffle of every distinct key.
    // Oracled on the q43 pattern: the exact distinct count (engine-
    // exact both sides) rides next to a pinned-tolerance boolean; the
    // estimate itself is sketch-internal and intentionally not hashed.
    "q203_hll_distinct" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q203_orders")
        s.sql("""SELECT o_orderpriority,
                |  count(DISTINCT o_custkey) AS n_exact,
                |  (abs(CAST(hll_sketch_estimate(hll_sketch_agg(o_custkey))
                |         AS DOUBLE)
                |       - CAST(count(DISTINCT o_custkey) AS DOUBLE))
                |    <= 0.05 * CAST(count(DISTINCT o_custkey) AS DOUBLE))
                |    AS ok_hll
                |FROM q203_orders GROUP BY o_orderpriority
                |ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority,
             |  count(DISTINCT o_custkey)::BIGINT AS n_exact,
             |  TRUE AS ok_hll
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // bitmap-index distinct counting: bitmap_bit_position buckets the
    // key space into fixed 32k-bit bitmaps, bitmap_construct_agg ORs
    // positions per bucket, bitmap_count pops them — EXACT distinct
    // with bounded per-group state and a two-level aggregation that
    // map-side combines; the classic OLAP-cube distinct-count layout.
    // The oracle is plain count(DISTINCT): correctness is independent
    // of the bucket formula.
    "q204_bitmap_distinct" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q204_orders")
        s.sql("""WITH pos AS (
                |  SELECT o_orderpriority,
                |    bitmap_bucket_number(o_custkey) AS bkt,
                |    bitmap_bit_position(o_custkey) AS pos
                |  FROM q204_orders),
                |bm AS (
                |  SELECT o_orderpriority, bkt,
                |    bitmap_count(bitmap_construct_agg(pos)) AS c
                |  FROM pos GROUP BY o_orderpriority, bkt)
                |SELECT o_orderpriority, CAST(sum(c) AS BIGINT) AS n_distinct
                |FROM bm GROUP BY o_orderpriority
                |ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority,
             |  count(DISTINCT o_custkey)::BIGINT AS n_distinct
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // map higher-order functions (transform_values / map_filter /
    // map_zip_with / map_concat / element_at) exercised per row, gated
    // through order-independent integer aggregates — the oracle
    // computes the same arithmetic with the map algebra unfolded, so a
    // semantic slip in any map op shifts a hashed sum.
    "q205_map_hof_battery" -> Q(
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("q205_lineitem")
        s.sql("""WITH b AS (
                |  SELECT l_returnflag AS rf,
                |    CAST(l_quantity AS BIGINT) AS x,
                |    CAST(floor(l_extendedprice) AS BIGINT) AS y
                |  FROM q205_lineitem),
                |m AS (
                |  SELECT rf,
                |    element_at(transform_values(
                |      map('q', x, 'p', y), (k, v) -> v * 2), 'q') AS dq,
                |    element_at(map_filter(
                |      map('q', x, 'p', y), (k, v) -> v > 5000), 'p') AS bigp,
                |    element_at(map_zip_with(
                |      map('k', x), map('k', y), (k, v1, v2) -> v1 + v2),
                |      'k') AS xy,
                |    size(map_concat(map('q', x), map('p', y))) AS sz
                |  FROM b)
                |SELECT rf,
                |  sum(dq) AS sum_2x,
                |  sum(coalesce(bigp, 0L)) AS sum_big_price,
                |  sum(xy) AS sum_x_plus_y,
                |  sum(CAST(sz AS BIGINT)) AS sum_map_sizes
                |FROM m GROUP BY rf ORDER BY rf""".stripMargin)
      },
      Some("""WITH b AS (
             |  SELECT l_returnflag AS rf,
             |    CAST(l_quantity AS BIGINT) AS x,
             |    CAST(floor(l_extendedprice) AS BIGINT) AS y
             |  FROM lineitem)
             |SELECT rf,
             |  sum(x * 2)::BIGINT AS sum_2x,
             |  sum(CASE WHEN y > 5000 THEN y ELSE 0 END)::BIGINT
             |    AS sum_big_price,
             |  sum(x + y)::BIGINT AS sum_x_plus_y,
             |  (count(*) * 2)::BIGINT AS sum_map_sizes
             |FROM b GROUP BY rf ORDER BY rf""".stripMargin)),

    // array set algebra (array_union / array_intersect / array_except
    // over collect_set): per priority class, the 1995-vs-1996 active
    // customer sets — cardinalities plus an order-independent checksum
    // of the intersection. The oracle states the same set algebra
    // relationally (UNION / join / anti join), so the two formulations
    // must agree exactly. Scale contract: the per-priority sets are
    // corpus-cardinality arrays — the entry exercises the array-algebra
    // surface, which requires materialized sets; the oracle's
    // relational restatement (join / anti-join / distinct counts) IS
    // the 100 TB shape for these semantics, and q234's fan-out +
    // distinct-agg shows the same conversion on the windowed variant.
    "q206_array_setops" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q206_orders")
        s.sql("""WITH ab AS (
                |  SELECT o_orderpriority AS pri,
                |    collect_set(CASE WHEN year(o_orderdate) = 1995
                |      THEN o_custkey END) AS a,
                |    collect_set(CASE WHEN year(o_orderdate) = 1996
                |      THEN o_custkey END) AS b
                |  FROM q206_orders
                |  WHERE year(o_orderdate) IN (1995, 1996)
                |  GROUP BY o_orderpriority)
                |SELECT pri,
                |  CAST(size(array_union(a, b)) AS BIGINT) AS n_union,
                |  CAST(size(array_intersect(a, b)) AS BIGINT) AS n_both,
                |  CAST(size(array_except(a, b)) AS BIGINT) AS n_only_1995,
                |  aggregate(array_intersect(a, b), 0L,
                |    (acc, v) -> acc + v) AS sum_both
                |FROM ab ORDER BY pri""".stripMargin)
      },
      Some("""WITH a AS (
             |  SELECT DISTINCT o_orderpriority AS pri, o_custkey AS k
             |  FROM orders WHERE year(o_orderdate) = 1995),
             |b AS (
             |  SELECT DISTINCT o_orderpriority AS pri, o_custkey AS k
             |  FROM orders WHERE year(o_orderdate) = 1996),
             |u AS (SELECT pri, k FROM a UNION SELECT pri, k FROM b),
             |i AS (SELECT a.pri, a.k FROM a JOIN b
             |        ON a.pri = b.pri AND a.k = b.k),
             |o AS (SELECT a.pri, a.k FROM a ANTI JOIN b
             |        ON a.pri = b.pri AND a.k = b.k)
             |SELECT pri,
             |  (SELECT count(*) FROM u WHERE u.pri = p.pri)::BIGINT AS n_union,
             |  (SELECT count(*) FROM i WHERE i.pri = p.pri)::BIGINT AS n_both,
             |  (SELECT count(*) FROM o WHERE o.pri = p.pri)::BIGINT
             |    AS n_only_1995,
             |  (SELECT coalesce(sum(k), 0)::BIGINT FROM i
             |    WHERE i.pri = p.pri) AS sum_both
             |FROM (SELECT DISTINCT pri FROM u) p ORDER BY pri""".stripMargin),
      // timed path: the relational restatement — per-(pri,key,year)
      // distinct once, then conditional counts/sums keyed by presence
      // in each year; pure shuffle + hash aggregate, no materialized
      // sets, identical output
      benchFn = Some((s, d) => {
        val base = t(s, d, "orders")
          .filter(year(col("o_orderdate")).isin(1995, 1996))
          .select(col("o_orderpriority").as("pri"), col("o_custkey").as("k"),
            year(col("o_orderdate")).as("yr"))
          .distinct()
        base.groupBy(col("pri"), col("k"))
          .agg(
            max(when(col("yr") === 1995, 1).otherwise(0)).as("in_a"),
            max(when(col("yr") === 1996, 1).otherwise(0)).as("in_b"))
          .groupBy(col("pri"))
          .agg(
            count(lit(1)).as("n_union"),
            count(when(col("in_a") === 1 && col("in_b") === 1, 1)).as("n_both"),
            count(when(col("in_a") === 1 && col("in_b") === 0, 1)).as("n_only_1995"),
            coalesce(sum(when(col("in_a") === 1 && col("in_b") === 1, col("k"))),
              lit(0L)).as("sum_both"))
          .orderBy(col("pri"))
      })),

    // min_by / max_by (arg-extrema). Determinism: the ordering key is
    // made UNIQUE (balance cents in the high digits, custkey in the
    // low) so neither engine's tie-break policy is ever exercised —
    // injective while custkey < 1e9 (~SF 6000; max |cents|*1e9 ~ 1e15,
    // far inside BIGINT). Cents via
    // round(x*100): a 2dp double times 100 is within ~1e-9 of an
    // integer, never near a .5 boundary, so HALF_UP (Spark) vs
    // half-away (DuckDB) cannot disagree.
    "q207_min_by_max_by" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q207_customer")
        t(s, d, "nation").createOrReplaceTempView("q207_nation")
        s.sql("""WITH c AS (
                |  SELECT n_name, c_name,
                |    CAST(round(c_acctbal * 100) AS BIGINT) * 1000000000
                |      + c_custkey AS ord,
                |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                |  FROM q207_customer
                |  JOIN q207_nation ON c_nationkey = n_nationkey)
                |SELECT n_name, count(*) AS n_cust,
                |  max_by(c_name, ord) AS richest,
                |  min_by(c_name, ord) AS poorest,
                |  CAST(max(cents) AS BIGINT) AS max_cents,
                |  CAST(min(cents) AS BIGINT) AS min_cents
                |FROM c GROUP BY n_name ORDER BY n_name""".stripMargin)
      },
      Some("""WITH c AS (
             |  SELECT n_name, c_name,
             |    CAST(round(c_acctbal * 100) AS BIGINT) * 1000000000
             |      + c_custkey AS ord,
             |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
             |SELECT n_name, count(*) AS n_cust,
             |  max_by(c_name, ord) AS richest,
             |  min_by(c_name, ord) AS poorest,
             |  max(cents)::BIGINT AS max_cents,
             |  min(cents)::BIGINT AS min_cents
             |FROM c GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // width_bucket histogram (DataFrame API). Spark computes
    // floor((v - lo) / ((hi - lo) / n)) + 1 in double; with integer
    // cent inputs and a power-of-ten step the quotient can only cross
    // an integer boundary when |v/step| > 2^52 — far beyond any SF —
    // so the DuckDB restatement floor(v/step)+1 is bit-identical.
    "q208_width_bucket" -> Q(
      (s, d) => {
        val cents = round(col("o_totalprice") * lit(100)).cast("bigint")
        t(s, d, "orders")
          .select(cents.as("cents"))
          .select(
            width_bucket(col("cents").cast("double"),
              lit(0.0), lit(60000000.0), lit(12)).as("bucket"),
            col("cents"))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("n"),
            sum("cents").cast("bigint").as("cents_sum"))
          .orderBy("bucket")
      },
      Some("""WITH c AS (
             |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |b AS (
             |  SELECT cents,
             |    CASE WHEN CAST(cents AS DOUBLE) >= 60000000.0 THEN 13
             |         WHEN CAST(cents AS DOUBLE) < 0.0 THEN 0
             |         ELSE CAST(floor(CAST(cents AS DOUBLE) / 5000000.0)
             |                AS BIGINT) + 1 END AS bucket
             |  FROM c)
             |SELECT bucket::BIGINT AS bucket, count(*) AS n,
             |  sum(cents)::BIGINT AS cents_sum
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // scalar bit-manipulation battery: popcount, AND/OR/XOR, shifts,
    // single-bit probe — all over BIGINT keys, summed exactly. Spark
    // spells xor as ^ and shifts as shiftleft/shiftright/getbit;
    // DuckDB as xor()/<</>> (its ^ is exponentiation).
    "q209_bit_ops" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q209_orders")
        s.sql("""SELECT o_orderpriority AS pri, count(*) AS n,
                |  CAST(sum(bit_count(o_orderkey)) AS BIGINT) AS pop_sum,
                |  CAST(sum(o_orderkey & 255) AS BIGINT) AS and_sum,
                |  CAST(sum(o_orderkey | 4096) AS BIGINT) AS or_sum,
                |  CAST(sum(o_orderkey ^ o_custkey) AS BIGINT) AS xor_sum,
                |  CAST(sum(shiftleft(o_orderkey & 15, 3)) AS BIGINT)
                |    AS shl_sum,
                |  CAST(sum(shiftright(o_orderkey, 4)) AS BIGINT) AS shr_sum,
                |  CAST(sum(getbit(o_orderkey, 7)) AS BIGINT) AS bit7_sum
                |FROM q209_orders GROUP BY o_orderpriority
                |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, count(*) AS n,
             |  sum(bit_count(o_orderkey))::BIGINT AS pop_sum,
             |  sum(o_orderkey & 255)::BIGINT AS and_sum,
             |  sum(o_orderkey | 4096)::BIGINT AS or_sum,
             |  sum(xor(o_orderkey, o_custkey))::BIGINT AS xor_sum,
             |  sum((o_orderkey & 15) << 3)::BIGINT AS shl_sum,
             |  sum(o_orderkey >> 4)::BIGINT AS shr_sum,
             |  sum((o_orderkey >> 7) & 1)::BIGINT AS bit7_sum
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY pri""".stripMargin)),

    // declarative SQL scalar UDFs (CREATE TEMPORARY FUNCTION ... RETURN
    // expr, Spark 4): the body is inlined by the analyzer, so the UDF
    // costs nothing at runtime and stays inside codegen — the oracle
    // simply states the inlined expression. Function names are
    // q210_-prefixed; temp functions are session-scoped, so no
    // cross-entry collision.
    "q210_sql_udf" -> Q(
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("q210_lineitem")
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q210_disc(
                |  p DOUBLE, d DOUBLE) RETURNS DOUBLE
                |RETURN p * (1.0D - d)""".stripMargin)
        s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q210_band(q DOUBLE)
                |RETURNS STRING
                |RETURN CASE WHEN q < 10.0D THEN 'low'
                |            WHEN q < 30.0D THEN 'mid'
                |            ELSE 'high' END""".stripMargin)
        s.sql("""SELECT q210_band(l_quantity) AS band, count(*) AS n,
                |  CAST(sum(floor(q210_disc(l_extendedprice, l_discount)
                |    * 1e6)) AS BIGINT) AS disc_micros
                |FROM q210_lineitem GROUP BY 1 ORDER BY band""".stripMargin)
      },
      Some("""SELECT CASE WHEN l_quantity < 10.0 THEN 'low'
             |            WHEN l_quantity < 30.0 THEN 'mid'
             |            ELSE 'high' END AS band,
             |  count(*) AS n,
             |  sum(floor(l_extendedprice * (1.0 - l_discount) * 1e6)
             |    ::BIGINT)::BIGINT AS disc_micros
             |FROM lineitem GROUP BY 1 ORDER BY band""".stripMargin)),

    // null-safe equality join: Spark's <=> vs ANSI IS NOT DISTINCT
    // FROM. nullif() plants a NULL key group on both sides; the
    // null-safe join matches it (a plain equi-join would drop it).
    "q211_null_safe_join" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q211_customer")
        t(s, d, "supplier").createOrReplaceTempView("q211_supplier")
        s.sql("""WITH a AS (
                |  SELECT nullif(c_nationkey % 5, 4) AS k, count(*) AS nc,
                |    CAST(sum(c_custkey) AS BIGINT) AS ck_sum
                |  FROM q211_customer GROUP BY 1),
                |b AS (
                |  SELECT nullif(s_nationkey % 5, 4) AS k, count(*) AS ns
                |  FROM q211_supplier GROUP BY 1)
                |SELECT a.k AS k, nc, ck_sum, ns
                |FROM a JOIN b ON a.k <=> b.k
                |ORDER BY k NULLS FIRST""".stripMargin)
      },
      Some("""WITH a AS (
             |  SELECT nullif(c_nationkey % 5, 4) AS k, count(*) AS nc,
             |    sum(c_custkey)::BIGINT AS ck_sum
             |  FROM customer GROUP BY 1),
             |b AS (
             |  SELECT nullif(s_nationkey % 5, 4) AS k, count(*) AS ns
             |  FROM supplier GROUP BY 1)
             |SELECT a.k AS k, nc, ck_sum, ns
             |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
             |ORDER BY k NULLS FIRST""".stripMargin)),

    // EXECUTE IMMEDIATE with named parameter markers (:lo/:hi bound via
    // USING ... AS name) — dynamic SQL composed and executed inside the
    // engine, not string-spliced. The oracle is the equivalent static
    // statement.
    "q212_execute_immediate" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q212_orders")
        s.sql("""EXECUTE IMMEDIATE
                |  'SELECT o_orderpriority AS pri, count(*) AS n,
                |     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                |       AS BIGINT) AS cents
                |   FROM q212_orders
                |   WHERE o_orderdate >= :lo AND o_orderdate < :hi
                |   GROUP BY o_orderpriority ORDER BY pri'
                |  USING TIMESTAMP '1995-01-01' AS lo,
                |        TIMESTAMP '1996-01-01' AS hi""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, count(*) AS n,
             |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
             |    AS cents
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
             |  AND o_orderdate < TIMESTAMP '1996-01-01'
             |GROUP BY o_orderpriority ORDER BY pri""".stripMargin)),

    // case-insensitive grouping via Spark 4 collations (GROUP BY expr
    // COLLATE UTF8_LCASE) over deterministically case-mangled segment
    // names; count(DISTINCT k) still sees the raw UTF8_BINARY strings,
    // so it counts the case variants the collation folded together.
    // DuckDB (no per-expression collation on 1.0) groups by lower(k) —
    // equivalent for this ASCII domain. initcap is spelled out long-hand
    // because DuckDB lacks it.
    "q213_collation_group" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q213_customer")
        s.sql("""WITH v AS (
                |  SELECT CASE
                |    WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
                |    WHEN c_custkey % 3 = 1 THEN
                |      upper(substring(lower(c_mktsegment), 1, 1))
                |        || substring(lower(c_mktsegment), 2)
                |    ELSE c_mktsegment END AS k
                |  FROM q213_customer)
                |SELECT min(lower(k)) AS segment, count(*) AS n,
                |  CAST(count(DISTINCT k) AS BIGINT) AS n_forms
                |FROM v GROUP BY k COLLATE UTF8_LCASE
                |ORDER BY segment""".stripMargin)
      },
      Some("""WITH v AS (
             |  SELECT CASE
             |    WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
             |    WHEN c_custkey % 3 = 1 THEN
             |      upper(substring(lower(c_mktsegment), 1, 1))
             |        || substring(lower(c_mktsegment), 2)
             |    ELSE c_mktsegment END AS k
             |  FROM customer)
             |SELECT min(lower(k)) AS segment, count(*) AS n,
             |  count(DISTINCT k)::BIGINT AS n_forms
             |FROM v GROUP BY lower(k) ORDER BY segment""".stripMargin)),

    // EWMA over monthly revenue with dyadic weights 2^(10-j), j=0..10:
    // every term is an exact BIGINT product (multiplying by a power of
    // two only shifts the exponent) so the 11-term window sum is
    // order-independent exact integer arithmetic in both engines — an
    // exponentially-weighted rolling metric with a hash-stable gate.
    "q214_ewma_dyadic" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q214_orders")
        s.sql("""WITH m AS (
                |  SELECT o_orderpriority AS pri,
                |    date_format(o_orderdate, 'yyyy-MM') AS ym,
                |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                |      AS BIGINT) AS cents
                |  FROM q214_orders GROUP BY 1, 2)
                |SELECT pri, ym, cents,
                |  CAST(cents * 1024
                |    + coalesce(lag(cents, 1) OVER w, 0) * 512
                |    + coalesce(lag(cents, 2) OVER w, 0) * 256
                |    + coalesce(lag(cents, 3) OVER w, 0) * 128
                |    + coalesce(lag(cents, 4) OVER w, 0) * 64
                |    + coalesce(lag(cents, 5) OVER w, 0) * 32
                |    + coalesce(lag(cents, 6) OVER w, 0) * 16
                |    + coalesce(lag(cents, 7) OVER w, 0) * 8
                |    + coalesce(lag(cents, 8) OVER w, 0) * 4
                |    + coalesce(lag(cents, 9) OVER w, 0) * 2
                |    + coalesce(lag(cents, 10) OVER w, 0)
                |    AS BIGINT) AS ewma_scaled
                |FROM m
                |WINDOW w AS (PARTITION BY pri ORDER BY ym)
                |ORDER BY pri, ym""".stripMargin)
      },
      Some("""WITH m AS (
             |  SELECT o_orderpriority AS pri,
             |    strftime(o_orderdate, '%Y-%m') AS ym,
             |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
             |      AS cents
             |  FROM orders GROUP BY 1, 2)
             |SELECT pri, ym, cents,
             |  (cents * 1024
             |    + coalesce(lag(cents, 1) OVER w, 0) * 512
             |    + coalesce(lag(cents, 2) OVER w, 0) * 256
             |    + coalesce(lag(cents, 3) OVER w, 0) * 128
             |    + coalesce(lag(cents, 4) OVER w, 0) * 64
             |    + coalesce(lag(cents, 5) OVER w, 0) * 32
             |    + coalesce(lag(cents, 6) OVER w, 0) * 16
             |    + coalesce(lag(cents, 7) OVER w, 0) * 8
             |    + coalesce(lag(cents, 8) OVER w, 0) * 4
             |    + coalesce(lag(cents, 9) OVER w, 0) * 2
             |    + coalesce(lag(cents, 10) OVER w, 0))::BIGINT
             |    AS ewma_scaled
             |FROM m
             |WINDOW w AS (PARTITION BY pri ORDER BY ym)
             |ORDER BY pri, ym""".stripMargin)),

    // XPath battery: construct per-row XML, then extract scalars
    // (xpath_string/xpath_long) and node lists (xpath → size) back out.
    // The oracle states the pre-serialization values directly, so the
    // gate proves construct→parse→extract is lossless. Each xpath_*
    // call is a full DOM parse (~170 µs/row/expr — measured 25 s for
    // 150 k rows × 3 exprs), so the battery runs on a deterministic
    // 1/16 key sample; full-corpus XML shredding at scale belongs to
    // the single-StAX-pass from_xml path benched as q218.
    "q215_xpath_battery" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q215_orders")
        s.sql("""WITH x AS (
                |  SELECT concat('<o><k>', CAST(o_orderkey AS STRING),
                |      '</k><p>', o_orderpriority, '</p><ls>',
                |      repeat('<l/>', CAST(o_orderkey % 4 AS INT)),
                |      '</ls></o>') AS xml
                |  FROM q215_orders WHERE o_orderkey % 16 = 0)
                |SELECT xpath_string(xml, '/o/p/text()') AS pri,
                |  count(*) AS n,
                |  CAST(sum(xpath_long(xml, '/o/k/text()')) AS BIGINT)
                |    AS key_sum,
                |  CAST(sum(size(xpath(xml, '/o/ls/l'))) AS BIGINT)
                |    AS l_total
                |FROM x GROUP BY 1 ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, count(*) AS n,
             |  sum(o_orderkey)::BIGINT AS key_sum,
             |  sum(o_orderkey % 4)::BIGINT AS l_total
             |FROM orders WHERE o_orderkey % 16 = 0
             |GROUP BY 1 ORDER BY pri""".stripMargin)),

    // from_xml whole-document shredding: ONE streaming StAX parse per
    // row into a typed struct (scalars + nested element list) — the
    // production path for XML at corpus scale, vs q215's per-expression
    // DOM re-parse. Runs over the FULL orders table; the oracle states
    // the pre-serialization values. The empty <ls/> case parses to a
    // null list and needs an explicit IS NULL branch: under this
    // engine's ansi.enabled=false, size() takes the LEGACY path and
    // returns -1 for null (coalesce never sees a NULL to replace).
    // List elements carry text (<l>1</l>): a SINGLE fully-empty <l/>
    // parses to a null scalar, not a 1-element array, and would vanish
    // from the count.
    "q218_from_xml" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q218_orders")
        s.sql("""WITH x AS (
                |  SELECT concat('<o><k>', CAST(o_orderkey AS STRING),
                |      '</k><p>', o_orderpriority, '</p><ls>',
                |      repeat('<l>1</l>', CAST(o_orderkey % 4 AS INT)),
                |      '</ls></o>') AS xml
                |  FROM q218_orders),
                |p AS (
                |  SELECT from_xml(xml,
                |    'k BIGINT, p STRING, ls STRUCT<l: ARRAY<STRING>>')
                |    AS o
                |  FROM x)
                |SELECT o.p AS pri, count(*) AS n,
                |  CAST(sum(o.k) AS BIGINT) AS key_sum,
                |  CAST(sum(CASE WHEN o.ls.l IS NULL THEN 0
                |    ELSE size(o.ls.l) END) AS BIGINT) AS l_total
                |FROM p GROUP BY 1 ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, count(*) AS n,
             |  sum(o_orderkey)::BIGINT AS key_sum,
             |  sum(o_orderkey % 4)::BIGINT AS l_total
             |FROM orders GROUP BY 1 ORDER BY pri""".stripMargin)),

    // binary-codec battery: base64/hex/url-encode round-trips plus
    // encoded-length checksums. Both engines emit RFC 4648 standard
    // base64 with padding, so min(base64) compares bytewise; DuckDB 1.0
    // lacks url_encode, so the url round-trip is restated as the
    // identity it proves (count(*)).
    "q216_codec_battery" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q216_customer")
        s.sql("""WITH c AS (
                |  SELECT c_mktsegment AS seg, c_name AS nm
                |  FROM q216_customer)
                |SELECT seg, count(*) AS n,
                |  CAST(sum(length(base64(CAST(nm AS BINARY))))
                |    AS BIGINT) AS b64_len_sum,
                |  CAST(sum(length(hex(CAST(nm AS BINARY)))) AS BIGINT)
                |    AS hex_len_sum,
                |  CAST(sum(CASE WHEN CAST(unbase64(base64(
                |    CAST(nm AS BINARY))) AS STRING) = nm
                |    THEN 1 ELSE 0 END) AS BIGINT) AS b64_rt,
                |  CAST(sum(CASE WHEN url_decode(url_encode(nm)) = nm
                |    THEN 1 ELSE 0 END) AS BIGINT) AS url_rt,
                |  CAST(sum(CASE WHEN CAST(unhex(hex(CAST(nm AS BINARY)))
                |    AS STRING) = nm THEN 1 ELSE 0 END) AS BIGINT)
                |    AS hex_rt,
                |  min(base64(CAST(nm AS BINARY))) AS b64_min
                |FROM c GROUP BY seg ORDER BY seg""".stripMargin)
      },
      Some("""WITH c AS (
             |  SELECT c_mktsegment AS seg, c_name AS nm FROM customer)
             |SELECT seg, count(*) AS n,
             |  sum(length(to_base64(encode(nm))))::BIGINT AS b64_len_sum,
             |  sum(length(hex(nm)))::BIGINT AS hex_len_sum,
             |  count(*)::BIGINT AS b64_rt,
             |  count(*)::BIGINT AS url_rt,
             |  count(*)::BIGINT AS hex_rt,
             |  min(to_base64(encode(nm))) AS b64_min
             |FROM c GROUP BY seg ORDER BY seg""".stripMargin)),

    // unionByName(allowMissingColumns = true): schema-aligned union by
    // column NAME with absent columns null-filled — the DataFrame-API
    // dual of the oracle's explicit NULL-padded UNION ALL.
    "q217_union_by_name" -> Q(
      (s, d) => {
        val o = t(s, d, "orders")
        val a = o.filter(year(col("o_orderdate")) === 1995)
          .groupBy(col("o_orderpriority").as("pri"))
          .agg(count(lit(1)).as("n_1995"))
        val b = o.filter(year(col("o_orderdate")) === 1996)
          .groupBy(col("o_orderpriority").as("pri"))
          .agg(count(lit(1)).as("n_1996"))
        a.unionByName(b, allowMissingColumns = true)
          .groupBy("pri")
          .agg(
            sum(coalesce(col("n_1995"), lit(0L))).cast("bigint")
              .as("n_1995"),
            sum(coalesce(col("n_1996"), lit(0L))).cast("bigint")
              .as("n_1996"))
          .orderBy("pri")
      },
      Some("""WITH u AS (
             |  SELECT o_orderpriority AS pri, count(*) AS n_1995,
             |    NULL::BIGINT AS n_1996
             |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
             |  UNION ALL
             |  SELECT o_orderpriority AS pri, NULL::BIGINT AS n_1995,
             |    count(*) AS n_1996
             |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1)
             |SELECT pri, sum(coalesce(n_1995, 0))::BIGINT AS n_1995,
             |  sum(coalesce(n_1996, 0))::BIGINT AS n_1996
             |FROM u GROUP BY pri ORDER BY pri""".stripMargin)),

    // stream-stream FULL OUTER join. Matched pairs are deterministic;
    // unmatched-row emission is state eviction, so each side is gated
    // to the region the final watermark provably evicted (the q191/q35
    // final-watermark-filter pattern): unmatched clicks once wm passes
    // click_ts (+30 min safety band), unmatched errors a full join
    // interval later — a future click's backward-looking window can
    // cover an error for interval minutes after it happens.
    "q219_stream_full_outer" -> Q(
      (s, d) => {
        val name = "graft_stream_ssfull_q219"
        s.catalog.dropTempView(name)
        val es = graft.streaming.EventStreams
        val src = es.readStream(s, s"$d/events.parquet")
        val wmMs = ssOuterWmMs(s, d)
        es.drainToTable(s, es.clickErrorFullJoin(
            src.filter(col("event_type") === "click"),
            src.filter(col("event_type") === "error")), name)
          .select(
            col("click_id"),
            coalesce(col("click_user"), col("err_user")).as("user_id"),
            unix_millis(col("click_ts")).as("click_ms"),
            col("err_id"),
            unix_millis(col("err_ts")).as("err_ms"),
            col("err_value"))
          .filter(
            (col("click_ms").isNotNull && col("err_ms").isNotNull) ||
            (col("err_ms").isNull &&
              col("click_ms") < lit(wmMs - 1800000L)) ||
            (col("click_ms").isNull &&
              col("err_ms") < lit(wmMs - 3600000L)))
          .orderBy(col("click_id"), col("err_id"))
      },
      Some(s"""WITH $ssOuterWmCte,
             |c AS (SELECT event_id AS click_id, user_id, ts AS cts,
             |    epoch_ms(ts) AS click_ms
             |  FROM events WHERE event_type = 'click'),
             |e AS (SELECT event_id AS err_id, user_id, ts AS ets,
             |    epoch_ms(ts) AS err_ms, value AS err_value
             |  FROM events WHERE event_type = 'error'),
             |m AS (SELECT c.click_id, c.user_id, c.click_ms, e.err_id,
             |    e.err_ms, e.err_value
             |  FROM c JOIN e ON c.user_id = e.user_id
             |    AND e.ets <= c.cts
             |    AND e.ets >= c.cts - INTERVAL 30 MINUTE),
             |uc AS (SELECT c.click_id, c.user_id, c.click_ms,
             |    NULL::BIGINT AS err_id, NULL::BIGINT AS err_ms,
             |    NULL::DOUBLE AS err_value
             |  FROM c, wm WHERE c.click_ms < wm.w - 1800000
             |    AND NOT EXISTS (SELECT 1 FROM e
             |      WHERE e.user_id = c.user_id AND e.ets <= c.cts
             |        AND e.ets >= c.cts - INTERVAL 30 MINUTE)),
             |ue AS (SELECT NULL::BIGINT AS click_id, e.user_id,
             |    NULL::BIGINT AS click_ms, e.err_id, e.err_ms,
             |    e.err_value
             |  FROM e, wm WHERE e.err_ms < wm.w - 3600000
             |    AND NOT EXISTS (SELECT 1 FROM c
             |      WHERE c.user_id = e.user_id AND e.ets <= c.cts
             |        AND e.ets >= c.cts - INTERVAL 30 MINUTE))
             |SELECT click_id, user_id, click_ms, err_id, err_ms,
             |  err_value FROM m
             |UNION ALL SELECT * FROM uc
             |UNION ALL SELECT * FROM ue
             |ORDER BY click_id NULLS FIRST, err_id NULLS FIRST"""
        .stripMargin)),

    // number formatting/parsing battery: printf-style format_string
    // (java.util.Formatter vs DuckDB's fmt — identical for %08d/%x on
    // integers), lpad/rpad, chr/ascii, and a to_char→to_number
    // round-trip surfaced as its count (DuckDB 1.0 has no numeric
    // to_char; the gate proves parse(format(x)) = x, which the oracle
    // restates as the identity it is). The zero-pad '0' format is the
    // round-trippable one: a '9' format renders the VALUE ZERO as an
    // all-spaces string that to_number rejects (spec-locked).
    "q220_number_format" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q220_orders")
        s.sql("""SELECT o_orderpriority AS pri, count(*) AS n,
                |  min(format_string('%08d', CAST(o_orderkey % 100000
                |    AS INT))) AS min_pad8,
                |  max(format_string('%x', o_orderkey)) AS max_hex,
                |  min(lpad(CAST(o_orderkey % 1000 AS STRING), 6, '0'))
                |    AS min_lpad,
                |  max(rpad(substring(o_orderpriority, 1, 1), 3, '.'))
                |    AS max_rpad,
                |  min(chr(65 + CAST(o_orderkey % 26 AS INT))) AS min_chr,
                |  CAST(sum(ascii(substring(o_orderpriority, 1, 1)))
                |    AS BIGINT) AS ascii_sum,
                |  CAST(sum(CASE WHEN to_number(to_char(
                |    CAST(o_orderkey AS DECIMAL(18, 0)),
                |    '000000000000000000'),
                |    '000000000000000000') = CAST(o_orderkey
                |      AS DECIMAL(18, 0)) THEN 1 ELSE 0 END) AS BIGINT)
                |    AS tochar_rt
                |FROM q220_orders GROUP BY 1 ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, count(*) AS n,
             |  min(printf('%08d', o_orderkey % 100000)) AS min_pad8,
             |  max(printf('%x', o_orderkey)) AS max_hex,
             |  min(lpad(CAST(o_orderkey % 1000 AS VARCHAR), 6, '0'))
             |    AS min_lpad,
             |  max(rpad(substring(o_orderpriority, 1, 1), 3, '.'))
             |    AS max_rpad,
             |  min(chr(CAST(65 + o_orderkey % 26 AS INT))) AS min_chr,
             |  sum(ascii(substring(o_orderpriority, 1, 1)))::BIGINT
             |    AS ascii_sum,
             |  count(*)::BIGINT AS tochar_rt
             |FROM orders GROUP BY 1 ORDER BY pri""".stripMargin)),

    // posexplode over a generated sequence, hash-gated against the
    // CLOSED FORM of what the generator must produce: for m elements,
    // positions sum to m(m-1)/2 and values 1..m to m(m+1)/2 — the
    // oracle never runs a generator at all, so the gate proves
    // sequence+posexplode semantics, not just engine agreement.
    "q221_posexplode" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q221_orders")
        s.sql("""WITH g AS (
                |  SELECT o_orderpriority AS pri, pos, v
                |  FROM q221_orders
                |  LATERAL VIEW posexplode(
                |    sequence(1, CAST(o_orderkey % 4 AS INT) + 1)) t
                |    AS pos, v)
                |SELECT pri, count(*) AS n_elems,
                |  CAST(sum(pos) AS BIGINT) AS pos_sum,
                |  CAST(sum(v) AS BIGINT) AS val_sum
                |FROM g GROUP BY 1 ORDER BY pri""".stripMargin)
      },
      Some("""WITH m AS (
             |  SELECT o_orderpriority AS pri, o_orderkey % 4 + 1 AS k
             |  FROM orders)
             |SELECT pri, sum(k)::BIGINT AS n_elems,
             |  sum(k * (k - 1) // 2)::BIGINT AS pos_sum,
             |  sum(k * (k + 1) // 2)::BIGINT AS val_sum
             |FROM m GROUP BY 1 ORDER BY pri""".stripMargin)),

    // try_* error-safe arithmetic: division by zero, BIGINT overflow,
    // and out-of-range array subscripts degrade to NULL instead of
    // failing the job — the semantics a 100 TB pipeline wants for
    // hostile data. Division results are dyadic (halves), so doubling
    // them gives exact BIGINTs; the oracle restates each try_* as the
    // explicit CASE it encodes. Two caveats found under test:
    // try_element_at nulls OUT-OF-RANGE subscripts but still THROWS on
    // subscript 0 (an invalid-argument error, not a runtime lookup
    // failure), so the probe domain is 1..4, not 0..3; and each caught
    // overflow costs a JVM exception throw (measured ~30 us/row when
    // EVERY row overflows), so the add probe overflows for 1 key in
    // 1000 at any SF — try_* is built for rare errors, and a predicate
    // that errors on every row should be a filter instead.
    "q222_try_arith" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q222_orders")
        s.sql("""SELECT o_orderpriority AS pri, count(*) AS n,
                |  CAST(sum(coalesce(try_divide(100, o_orderkey % 3)
                |    * 2, -2)) AS BIGINT) AS div2_sum,
                |  CAST(sum(CASE WHEN try_add(9223372036854775807L
                |    - 998L, o_orderkey % 1000) IS NULL THEN 1 ELSE 0
                |    END) AS BIGINT) AS n_add_overflow,
                |  CAST(sum(CASE WHEN try_multiply(4611686018427387904L,
                |    o_orderkey % 3) IS NULL THEN 1 ELSE 0 END)
                |    AS BIGINT) AS n_mul_overflow,
                |  CAST(sum(CASE WHEN try_element_at(array('a', 'b'),
                |    CAST(o_orderkey % 4 AS INT) + 1) IS NULL
                |    THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_subscript
                |FROM q222_orders GROUP BY 1 ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, count(*) AS n,
             |  sum(CASE WHEN o_orderkey % 3 = 0 THEN -2
             |    ELSE CAST(200.0 / (o_orderkey % 3) AS BIGINT) END)
             |    ::BIGINT AS div2_sum,
             |  sum(CASE WHEN o_orderkey % 1000 = 999 THEN 1 ELSE 0 END)
             |    ::BIGINT AS n_add_overflow,
             |  sum(CASE WHEN o_orderkey % 3 >= 2 THEN 1 ELSE 0 END)
             |    ::BIGINT AS n_mul_overflow,
             |  sum(CASE WHEN o_orderkey % 4 IN (0, 1) THEN 0 ELSE 1 END)
             |    ::BIGINT AS n_bad_subscript
             |FROM orders GROUP BY 1 ORDER BY pri""".stripMargin)),

    // SQL session variables (DECLARE VARIABLE / SET VAR) + the
    // IDENTIFIER() clause — parameterized SQL state held engine-side,
    // the SQL-scripting building blocks. Variables are q223_-prefixed
    // and session-scoped; the oracle is the statically-bound statement.
    "q223_session_variables" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q223_orders")
        t(s, d, "customer").createOrReplaceTempView("q223_customer")
        s.sql("""DECLARE OR REPLACE VARIABLE q223_cut TIMESTAMP
                |  DEFAULT TIMESTAMP '1995-01-01'""".stripMargin)
        s.sql("SET VAR q223_cut = TIMESTAMP '1995-07-01'")
        s.sql("""DECLARE OR REPLACE VARIABLE q223_seg STRING
                |  DEFAULT 'BUILDING'""".stripMargin)
        s.sql("""SELECT o_orderpriority AS pri, count(*) AS n,
                |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                |    AS BIGINT) AS cents
                |FROM IDENTIFIER('q223_' || 'orders')
                |JOIN q223_customer ON o_custkey = c_custkey
                |WHERE o_orderdate < q223_cut AND c_mktsegment = q223_seg
                |GROUP BY 1 ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, count(*) AS n,
             |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
             |    AS cents
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_orderdate < TIMESTAMP '1995-07-01'
             |  AND c_mktsegment = 'BUILDING'
             |GROUP BY 1 ORDER BY pri""".stripMargin)),

    // timestampdiff / timestampadd unit arithmetic. Order dates are
    // midnight timestamps, so Spark's full-period counting and DuckDB
    // date_diff's boundary-crossing counting agree for DAY/HOUR —
    // calendar units (MONTH) deliberately excluded: the two semantics
    // diverge on partial periods and would need a per-engine oracle.
    "q224_timestamp_arith" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q224_orders")
        s.sql("""SELECT o_orderpriority AS pri, count(*) AS n,
                |  CAST(sum(timestampdiff(DAY, o_orderdate,
                |    TIMESTAMP '1998-12-01')) AS BIGINT) AS day_sum,
                |  CAST(sum(timestampdiff(HOUR, o_orderdate,
                |    TIMESTAMP '1998-12-01')) AS BIGINT) AS hour_sum,
                |  min(unix_millis(CAST(timestampadd(DAY, 30,
                |    o_orderdate) AS TIMESTAMP))) AS min_plus30_ms,
                |  CAST(sum(CASE WHEN timestampdiff(DAY, o_orderdate,
                |    timestampadd(DAY, 30, o_orderdate)) = 30
                |    THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip
                |FROM q224_orders GROUP BY 1 ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, count(*) AS n,
             |  sum(date_diff('day', o_orderdate,
             |    TIMESTAMP '1998-12-01'))::BIGINT AS day_sum,
             |  sum(date_diff('hour', o_orderdate,
             |    TIMESTAMP '1998-12-01'))::BIGINT AS hour_sum,
             |  min(epoch_ms(o_orderdate + INTERVAL 30 DAY))
             |    AS min_plus30_ms,
             |  count(*)::BIGINT AS n_roundtrip
             |FROM orders GROUP BY 1 ORDER BY pri""".stripMargin)),

    // character-vs-byte length battery over strings with 1-, 2- and
    // 3-byte UTF-8 code points (é, €): length counts characters,
    // octet_length bytes, bit_length bits; plus unicode-aware
    // upper/reverse/instr. DuckDB spells byte length strlen() (its
    // octet_length wants a BLOB) and has no bit_length for strings —
    // restated as strlen*8. The € is a LITERAL: Spark's chr() wraps
    // its argument mod 256 (chr(8364) is '¬'), DuckDB's is a full
    // unicode codepoint constructor — chr() is only portable below
    // 256 (the é).
    "q225_strlen_unicode" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q225_customer")
        s.sql("""WITH u AS (
                |  SELECT c_mktsegment AS seg,
                |    concat(right(c_name, 4), chr(233), '€') AS v
                |  FROM q225_customer)
                |SELECT seg, count(*) AS n,
                |  CAST(sum(length(v)) AS BIGINT) AS chars_sum,
                |  CAST(sum(octet_length(v)) AS BIGINT) AS bytes_sum,
                |  CAST(sum(bit_length(v)) AS BIGINT) AS bits_sum,
                |  min(upper(v)) AS min_upper,
                |  min(reverse(v)) AS min_rev,
                |  CAST(sum(instr(v, '€')) AS BIGINT) AS eur_pos_sum
                |FROM u GROUP BY seg ORDER BY seg""".stripMargin)
      },
      Some("""WITH u AS (
             |  SELECT c_mktsegment AS seg,
             |    right(c_name, 4) || chr(233) || '€' AS v
             |  FROM customer)
             |SELECT seg, count(*) AS n,
             |  sum(length(v))::BIGINT AS chars_sum,
             |  sum(strlen(v))::BIGINT AS bytes_sum,
             |  sum(strlen(v) * 8)::BIGINT AS bits_sum,
             |  min(upper(v)) AS min_upper,
             |  min(reverse(v)) AS min_rev,
             |  sum(instr(v, '€'))::BIGINT AS eur_pos_sum
             |FROM u GROUP BY seg ORDER BY seg""".stripMargin)),

    // array_sort with a CUSTOM COMPARATOR lambda (length asc, then
    // lexicographic DESC) — an ordering no plain sort_array expresses.
    // The oracle derives the same order relationally via row_number.
    // Duplicate derived strings are harmless: equal elements are
    // interchangeable under any comparator, so the extracted values
    // are deterministic even if the sort is unstable.
    "q226_array_sort_comparator" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q226_customer")
        t(s, d, "nation").createOrReplaceTempView("q226_nation")
        s.sql("""WITH v AS (
                |  SELECT n_name,
                |    concat(repeat('x', CAST(c_custkey % 3 AS INT)),
                |      right(c_name, 3)) AS v
                |  FROM q226_customer
                |  JOIN q226_nation ON c_nationkey = n_nationkey
                |  WHERE c_custkey % 50 = 0),
                |a AS (
                |  SELECT n_name,
                |    array_sort(collect_list(v), (l, r) ->
                |      CASE WHEN length(l) < length(r) THEN -1
                |           WHEN length(l) > length(r) THEN 1
                |           WHEN l > r THEN -1
                |           WHEN l < r THEN 1
                |           ELSE 0 END) AS arr
                |  FROM v GROUP BY n_name)
                |SELECT n_name, CAST(size(arr) AS BIGINT) AS n_elems,
                |  element_at(arr, 1) AS first_s,
                |  element_at(arr, 2) AS second_s,
                |  element_at(arr, size(arr)) AS last_s
                |FROM a ORDER BY n_name""".stripMargin)
      },
      Some("""WITH v AS (
             |  SELECT n_name,
             |    repeat('x', c_custkey % 3) || right(c_name, 3) AS v
             |  FROM customer
             |  JOIN nation ON c_nationkey = n_nationkey
             |  WHERE c_custkey % 50 = 0),
             |r AS (
             |  SELECT n_name, v,
             |    row_number() OVER (PARTITION BY n_name
             |      ORDER BY length(v), v DESC) AS rn,
             |    count(*) OVER (PARTITION BY n_name) AS cnt
             |  FROM v)
             |SELECT n_name, max(cnt)::BIGINT AS n_elems,
             |  min(CASE WHEN rn = 1 THEN v END) AS first_s,
             |  min(CASE WHEN rn = 2 THEN v END) AS second_s,
             |  min(CASE WHEN rn = cnt THEN v END) AS last_s
             |FROM r GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // two-level sketch MERGE: per-nation HLL partials unioned to region
    // level with hll_union_agg — the 100 TB cardinality architecture
    // (fixed-size mergeable partials flowing up a rollup tree; no
    // re-scan of the raw keys at the outer level). Exact distinct rides
    // along hashed; the estimate is gated as the q203-style pinned
    // tolerance boolean.
    "q227_hll_union" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q227_customer")
        t(s, d, "nation").createOrReplaceTempView("q227_nation")
        s.sql("""WITH sk AS (
                |  SELECT n_regionkey, n_nationkey,
                |    hll_sketch_agg(c_custkey) AS sk
                |  FROM q227_customer
                |  JOIN q227_nation ON c_nationkey = n_nationkey
                |  GROUP BY n_regionkey, n_nationkey),
                |ex AS (
                |  SELECT n_regionkey,
                |    count(DISTINCT c_custkey) AS n_exact
                |  FROM q227_customer
                |  JOIN q227_nation ON c_nationkey = n_nationkey
                |  GROUP BY n_regionkey),
                |es AS (
                |  SELECT n_regionkey,
                |    hll_sketch_estimate(hll_union_agg(sk)) AS est,
                |    count(*) AS n_partials
                |  FROM sk GROUP BY n_regionkey)
                |SELECT es.n_regionkey AS regionkey,
                |  CAST(es.n_partials AS BIGINT) AS n_partials,
                |  CAST(ex.n_exact AS BIGINT) AS n_exact,
                |  (abs(CAST(es.est AS DOUBLE)
                |       - CAST(ex.n_exact AS DOUBLE))
                |    <= 0.05 * CAST(ex.n_exact AS DOUBLE)) AS ok_union
                |FROM es JOIN ex ON es.n_regionkey = ex.n_regionkey
                |ORDER BY regionkey""".stripMargin)
      },
      Some("""SELECT n_regionkey AS regionkey,
             |  count(DISTINCT n_nationkey)::BIGINT AS n_partials,
             |  count(DISTINCT c_custkey)::BIGINT AS n_exact,
             |  TRUE AS ok_union
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_regionkey ORDER BY regionkey""".stripMargin)),

    // json_tuple generator: multi-field JSON extraction in ONE parse
    // (LATERAL VIEW json_tuple) instead of one get_json_object walk per
    // field — the row-construction dual of q218's from_xml. The JSON is
    // built with to_json(named_struct(...)), so the oracle states the
    // pre-serialization values.
    "q228_json_tuple" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q228_orders")
        s.sql("""WITH j AS (
                |  SELECT to_json(named_struct(
                |    'pri', o_orderpriority,
                |    'key', o_orderkey,
                |    'cents', CAST(round(o_totalprice * 100) AS BIGINT)))
                |    AS js
                |  FROM q228_orders)
                |SELECT pri, count(*) AS n,
                |  CAST(sum(CAST(k AS BIGINT)) AS BIGINT) AS key_sum,
                |  CAST(sum(CAST(c AS BIGINT)) AS BIGINT) AS cents_sum
                |FROM j
                |LATERAL VIEW json_tuple(js, 'pri', 'key', 'cents') t
                |  AS pri, k, c
                |GROUP BY pri ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri, count(*) AS n,
             |  sum(o_orderkey)::BIGINT AS key_sum,
             |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
             |    AS cents_sum
             |FROM orders GROUP BY 1 ORDER BY pri""".stripMargin)),

    // hidden _metadata file columns on the parquet scan — per-file
    // lineage without a custom reader. Only file_name is surfaced
    // (sizes/mtimes vary per testdata regeneration); the oracle states
    // the layout fact the scan must discover.
    "q229_file_metadata" -> Q(
      (s, d) => {
        t(s, d, "orders")
          .select(col("_metadata.file_name").as("fname"))
          .groupBy("fname")
          .agg(count(lit(1)).as("n"))
          .orderBy("fname")
      },
      Some("""SELECT 'orders.parquet' AS fname, count(*) AS n
             |FROM orders GROUP BY 1 ORDER BY fname""".stripMargin)),

    // Observation metrics: aggregates piggyback on a real action
    // instead of a second scan — the production pattern for pipeline
    // telemetry (row counts, checksums) at 100 TB, where "run the job
    // again to count" is not an option. DISTINCT aggregates are
    // rejected in observed metrics (they must be mergeable
    // accumulators — production uses approx_count_distinct there).
    // The observed map is surfaced as a one-row DataFrame; the oracle
    // computes the same aggregates declaratively.
    "q230_observe_metrics" -> Q(
      (s, d) => {
        val obs = new org.apache.spark.sql.Observation()
        val filtered = t(s, d, "orders")
          .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
          .observe(obs,
            count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("bigint"))
              .cast("bigint").as("cents"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
        // the action the metrics ride on (at scale: the pipeline's own
        // write); collect count only
        val kept = filtered.count()
        val m = obs.get
        import s.implicits._
        Seq((kept, m("n").asInstanceOf[Long],
          m("cents").asInstanceOf[Long], m("min_key").asInstanceOf[Long],
          m("max_key").asInstanceOf[Long]))
          .toDF("n_rows", "n_observed", "cents", "min_key", "max_key")
      },
      Some("""SELECT count(*)::BIGINT AS n_rows,
             |  count(*)::BIGINT AS n_observed,
             |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
             |    AS cents,
             |  min(o_orderkey)::BIGINT AS min_key,
             |  max(o_orderkey)::BIGINT AS max_key
             |FROM orders
             |WHERE o_orderdate < TIMESTAMP '1996-01-01'""".stripMargin)),

    // DataFrame-API groupingSets (new in Spark 4 — previously SQL-only,
    // q37): explicit set list (pri, yr) / (pri) / () == the q10-style
    // rollup, declared programmatically. Oracle is the equivalent SQL
    // GROUPING SETS.
    "q231_df_grouping_sets" -> Q(
      (s, d) => {
        t(s, d, "orders")
          .withColumn("yr", year(col("o_orderdate")).cast("bigint"))
          .groupingSets(
            Seq(
              Seq(col("o_orderpriority"), col("yr")),
              Seq(col("o_orderpriority")),
              Seq()),
            col("o_orderpriority"), col("yr"))
          .agg(
            count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("bigint"))
              .cast("bigint").as("cents"))
          .select(
            col("o_orderpriority").as("pri"), col("yr"),
            col("n"), col("cents"))
          .orderBy(asc_nulls_first("pri"), asc_nulls_first("yr"))
      },
      Some("""SELECT o_orderpriority AS pri, year(o_orderdate) AS yr,
             |  count(*) AS n,
             |  sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
             |    AS cents
             |FROM orders
             |GROUP BY GROUPING SETS (
             |  (o_orderpriority, year(o_orderdate)),
             |  (o_orderpriority), ())
             |ORDER BY pri NULLS FIRST, yr NULLS FIRST""".stripMargin)),

    // lateral column aliases: a SELECT item referencing an alias
    // defined earlier in the SAME select list (cents -> tax -> band) —
    // the expression chain is written once instead of re-inlined. The
    // oracle re-inlines it, proving the chain resolves to the same
    // tree.
    "q232_lateral_alias" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q232_orders")
        s.sql("""WITH b AS (
                |  SELECT o_orderpriority,
                |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                |    cents div 10 AS tax,
                |    tax * 3 + 1 AS band
                |  FROM q232_orders)
                |SELECT o_orderpriority AS pri, count(*) AS n,
                |  CAST(sum(cents) AS BIGINT) AS cents_sum,
                |  CAST(sum(tax) AS BIGINT) AS tax_sum,
                |  CAST(sum(band) AS BIGINT) AS band_sum
                |FROM b GROUP BY 1 ORDER BY pri""".stripMargin)
      },
      Some("""WITH b AS (
             |  SELECT o_orderpriority,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |    CAST(round(o_totalprice * 100) AS BIGINT) // 10 AS tax,
             |    (CAST(round(o_totalprice * 100) AS BIGINT) // 10) * 3
             |      + 1 AS band
             |  FROM orders)
             |SELECT o_orderpriority AS pri, count(*) AS n,
             |  sum(cents)::BIGINT AS cents_sum,
             |  sum(tax)::BIGINT AS tax_sum,
             |  sum(band)::BIGINT AS band_sum
             |FROM b GROUP BY 1 ORDER BY pri""".stripMargin)),

    // string-surgery battery: mask() (the built-in PII shape-preserving
    // redactor — upper→X, lower→x, digit→n; companion to q75's
    // policy-driven redaction), split_part, substring_index, translate,
    // overlay. DuckDB lacks mask/substring_index/overlay — the oracle
    // restates them as regexp_replace chains / split_part / concat,
    // which is exactly the portability contract the gate proves.
    "q233_string_surgery" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q233_customer")
        s.sql("""WITH v AS (
                |  SELECT c_mktsegment AS seg, c_name AS nm
                |  FROM q233_customer)
                |SELECT seg, count(*) AS n,
                |  min(mask(nm)) AS min_mask,
                |  max(split_part(nm, '#', 2)) AS max_id,
                |  min(substring_index(nm, '#', 1)) AS min_stem,
                |  max(translate(nm, '0123456789', 'ABCDEFGHIJ'))
                |    AS max_trans,
                |  min(overlay(nm, '###', 1, 3)) AS min_overlay
                |FROM v GROUP BY seg ORDER BY seg""".stripMargin)
      },
      Some("""WITH v AS (
             |  SELECT c_mktsegment AS seg, c_name AS nm FROM customer)
             |SELECT seg, count(*) AS n,
             |  min(regexp_replace(regexp_replace(regexp_replace(nm,
             |    '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
             |    '[0-9]', 'n', 'g')) AS min_mask,
             |  max(split_part(nm, '#', 2)) AS max_id,
             |  min(split_part(nm, '#', 1)) AS min_stem,
             |  max(translate(nm, '0123456789', 'ABCDEFGHIJ'))
             |    AS max_trans,
             |  min('###' || substring(nm, 4)) AS min_overlay
             |FROM v GROUP BY seg ORDER BY seg""".stripMargin)),

    // rolling distinct count: COUNT(DISTINCT) OVER a window is not
    // supported in Spark, and the obvious workaround (per-bucket
    // collect_set partials merged across the frame) carries per-row
    // set state that grows with corpus cardinality — at 100x a single
    // 3-month cell is tens of millions of keys and the window operator
    // materializes three of them per row. The scale-safe shape instead
    // fans each (bucket, key) row out to the CONSTANT number of frames
    // it contributes to (3 for a 2-PRECEDING frame) via a tiny
    // dense_rank spine, then runs a plain distributed COUNT(DISTINCT):
    // pure equi-joins + hash aggregate, no per-row collections, state
    // bounded by Spark's spillable distinct-agg. The spine is
    // #buckets-sized (months x priorities), never corpus-sized. DuckDB
    // states the same semantics via a band self-join (r BETWEEN r-2
    // AND r) — different algebra, same numbers.
    "q234_window_distinct" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q234_orders")
        s.sql("""WITH base AS (
                |  SELECT DISTINCT o_orderpriority AS pri,
                |    date_format(o_orderdate, 'yyyy-MM') AS ym,
                |    o_custkey AS ck
                |  FROM q234_orders WHERE year(o_orderdate) = 1995),
                |idx AS (
                |  SELECT pri, ym,
                |    dense_rank() OVER (PARTITION BY pri ORDER BY ym)
                |      AS r
                |  FROM (SELECT DISTINCT pri, ym FROM base) t),
                |contrib AS (
                |  SELECT b.pri, b.ck, tr.target_r
                |  FROM base b
                |  JOIN idx i ON i.pri = b.pri AND i.ym = b.ym
                |  LATERAL VIEW explode(sequence(i.r, i.r + 2)) tr
                |    AS target_r)
                |SELECT c.pri, i2.ym,
                |  CAST(count(DISTINCT c.ck) AS BIGINT) AS dist3m
                |FROM contrib c
                |JOIN idx i2 ON i2.pri = c.pri AND i2.r = c.target_r
                |GROUP BY c.pri, i2.ym ORDER BY c.pri, i2.ym""".stripMargin)
      },
      Some("""WITH base AS (
             |  SELECT DISTINCT o_orderpriority AS pri,
             |    strftime(o_orderdate, '%Y-%m') AS ym, o_custkey AS ck
             |  FROM orders WHERE year(o_orderdate) = 1995),
             |idx AS (
             |  SELECT pri, ym,
             |    dense_rank() OVER (PARTITION BY pri ORDER BY ym) AS r
             |  FROM (SELECT DISTINCT pri, ym FROM base) t)
             |SELECT a.pri, a.ym, count(DISTINCT c.ck)::BIGINT AS dist3m
             |FROM idx a
             |JOIN idx b ON b.pri = a.pri AND b.r BETWEEN a.r - 2 AND a.r
             |JOIN base c ON c.pri = b.pri AND c.ym = b.ym
             |GROUP BY a.pri, a.ym ORDER BY a.pri, a.ym""".stripMargin)),

    // array-overlap join, reformulated for scale: joining ON
    // arrays_overlap(a.tags, b.tags) is a broadcast-nested-loop —
    // O(n·m) comparisons — because no equi-key exists. The production
    // shape EXPLODES both tag arrays and equi-joins on the tag (hash
    // shuffle by tag, linear in input + true matches), then dedups
    // pairs that share several tags. The oracle states the same
    // relational algebra over unnested tags.
    "q235_array_overlap_join" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q235_customer")
        t(s, d, "supplier").createOrReplaceTempView("q235_supplier")
        s.sql("""WITH a AS (
                |  SELECT c_custkey AS ck, c_mktsegment AS seg,
                |    explode(array(c_custkey % 11, c_custkey % 13 + 20))
                |      AS tag
                |  FROM q235_customer),
                |b AS (
                |  SELECT s_suppkey AS sk,
                |    explode(array(s_suppkey % 11, s_suppkey % 13 + 20))
                |      AS tag
                |  FROM q235_supplier),
                |p AS (SELECT DISTINCT seg, ck, sk
                |      FROM a JOIN b ON a.tag = b.tag)
                |SELECT seg, count(*) AS n_pairs,
                |  CAST(sum(ck + sk) AS BIGINT) AS pair_checksum
                |FROM p GROUP BY seg ORDER BY seg""".stripMargin)
      },
      Some("""WITH a AS (
             |  SELECT c_custkey AS ck, c_mktsegment AS seg, t.tag
             |  FROM customer,
             |    unnest([c_custkey % 11, c_custkey % 13 + 20]) AS t(tag)),
             |b AS (
             |  SELECT s_suppkey AS sk, t.tag
             |  FROM supplier,
             |    unnest([s_suppkey % 11, s_suppkey % 13 + 20]) AS t(tag)),
             |p AS (SELECT DISTINCT seg, ck, sk
             |      FROM a JOIN b ON a.tag = b.tag)
             |SELECT seg, count(*) AS n_pairs,
             |  sum(ck + sk)::BIGINT AS pair_checksum
             |FROM p GROUP BY seg ORDER BY seg""".stripMargin)),

    // cryptographic-hash battery: md5 and sha2-256 are
    // standard-defined, so both engines produce identical hex —
    // compared directly (min) and as length sums. xxhash64 is Spark-
    // internal (seed-42 XXH64, no DuckDB twin): gated on the property
    // that matters — it stays collision-free on this domain, so
    // distinct counts survive the hash — which the oracle states as
    // the plain distinct count. sha1 exists in Spark but not DuckDB
    // 1.0; round-tripped into the same count-style gate.
    "q236_hash_battery" -> Q(
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("q236_customer")
        s.sql("""WITH v AS (
                |  SELECT c_mktsegment AS seg, c_name AS nm
                |  FROM q236_customer)
                |SELECT seg, count(*) AS n,
                |  min(md5(nm)) AS min_md5,
                |  min(sha2(nm, 256)) AS min_sha256,
                |  CAST(sum(length(sha2(nm, 512))) AS BIGINT)
                |    AS sha512_len_sum,
                |  CAST(count(DISTINCT xxhash64(nm)) AS BIGINT)
                |    AS n_xx_distinct,
                |  CAST(count(DISTINCT sha1(nm)) AS BIGINT)
                |    AS n_sha1_distinct
                |FROM v GROUP BY seg ORDER BY seg""".stripMargin)
      },
      Some("""WITH v AS (
             |  SELECT c_mktsegment AS seg, c_name AS nm FROM customer)
             |SELECT seg, count(*) AS n,
             |  min(md5(nm)) AS min_md5,
             |  min(sha256(nm)) AS min_sha256,
             |  count(*)::BIGINT * 128 AS sha512_len_sum,
             |  count(DISTINCT nm)::BIGINT AS n_xx_distinct,
             |  count(DISTINCT nm)::BIGINT AS n_sha1_distinct
             |FROM v GROUP BY seg ORDER BY seg""".stripMargin)),

    // right-outer stream-stream join: the last cell of the outer-join
    // matrix (inner q46-family, left q191, full q219). Every error
    // emits; one with no click in its forward window [err_ts,
    // err_ts+30min] emits NULL click columns on state eviction. The
    // deterministic gate keeps matched rows plus unmatched errors whose
    // eviction the final watermark provably reached (same conservative
    // interval+interval margin as q219's unmatched-error class). The
    // oracle restates it as JOIN + NOT EXISTS under the same watermark
    // cutoff.
    "q237_stream_right_outer" -> Q(
      (s, d) => {
        val name = "graft_stream_ssright_q237"
        s.catalog.dropTempView(name)
        val es = graft.streaming.EventStreams
        val src = es.readStream(s, s"$d/events.parquet")
        val wmMs = ssOuterWmMs(s, d)
        es.drainToTable(s, es.clickErrorRightJoin(
            src.filter(col("event_type") === "click"),
            src.filter(col("event_type") === "error")), name)
          .select(
            col("click_id"),
            unix_millis(col("click_ts")).as("click_ms"),
            col("err_id"),
            col("err_user").as("user_id"),
            unix_millis(col("err_ts")).as("err_ms"),
            col("err_value"))
          .filter(col("click_ms").isNotNull ||
            col("err_ms") < lit(wmMs - 3600000L))
          .orderBy(col("err_id"), col("click_id"))
      },
      Some(s"""WITH $ssOuterWmCte,
             |c AS (SELECT event_id AS click_id, user_id, ts AS cts,
             |    epoch_ms(ts) AS click_ms
             |  FROM events WHERE event_type = 'click'),
             |e AS (SELECT event_id AS err_id, user_id, ts AS ets,
             |    epoch_ms(ts) AS err_ms, value AS err_value
             |  FROM events WHERE event_type = 'error'),
             |m AS (SELECT c.click_id, c.click_ms, e.err_id,
             |    e.user_id, e.err_ms, e.err_value
             |  FROM c JOIN e ON c.user_id = e.user_id
             |    AND e.ets <= c.cts
             |    AND e.ets >= c.cts - INTERVAL 30 MINUTE),
             |ue AS (SELECT NULL::BIGINT AS click_id,
             |    NULL::BIGINT AS click_ms, e.err_id, e.user_id,
             |    e.err_ms, e.err_value
             |  FROM e, wm WHERE e.err_ms < wm.w - 3600000
             |    AND NOT EXISTS (SELECT 1 FROM c
             |      WHERE c.user_id = e.user_id AND e.ets <= c.cts
             |        AND e.ets >= c.cts - INTERVAL 30 MINUTE))
             |SELECT click_id, click_ms, err_id, user_id, err_ms,
             |  err_value FROM m
             |UNION ALL SELECT * FROM ue
             |ORDER BY err_id, click_id NULLS FIRST""".stripMargin)))

  /** Round-eight surface: HiveQL script transform — the one
    * beeline-typable operator of the reference REPL
    * (/root/reference/playground.py:672-677 exposes the full HiveQL
    * grammar through beeline; `TRANSFORM ... USING 'script'` is part of
    * that grammar) that the catalog never exercised before. */
  private val roundEightSurface: Seq[(String, Q)] = Seq(

    // TRANSFORM through BOTH script-transform wire formats Spark
    // supports without a Hive serde on the classpath:
    //   - explicit no-serde `ROW FORMAT DELIMITED FIELDS TERMINATED BY
    //     '\t'` on the input AND output side, piping through
    //     `sed s/-/_/` (first '-' on each line is the one inside
    //     o_orderpriority — the key field is all digits);
    //   - the default wire format (no ROW FORMAT clause: tab-delimited
    //     fields, '\n' records, typed output cast from strings), piping
    //     through `tr A-Z a-z`.
    // Each path is a pure per-row mapper, so partition boundaries and
    // row order can't affect the result; the catalog entry aggregates
    // both paths and joins them on the recoverable original key, which
    // also proves the two wire formats agree row-for-row (n_delim =
    // n_default on every output row). The oracle states both scripts
    // relationally (replace / lower). Scale: a script transform forks
    // one process per task and streams rows through stdin/stdout — no
    // shuffle beyond the final aggregate, no per-row driver work, and
    // the child process count is bounded by the task slot count.
    "q238_script_transform" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q238_orders")
        s.sql("""WITH delim AS (
                |  SELECT TRANSFORM(o_orderkey, o_orderpriority)
                |    ROW FORMAT DELIMITED FIELDS TERMINATED BY '\t'
                |    USING 'sed s/-/_/'
                |    AS (k BIGINT, pri STRING)
                |    ROW FORMAT DELIMITED FIELDS TERMINATED BY '\t'
                |  FROM q238_orders),
                |dflt AS (
                |  SELECT TRANSFORM(o_orderkey, o_orderpriority)
                |    USING 'tr A-Z a-z'
                |    AS (k BIGINT, pri_lc STRING)
                |  FROM q238_orders),
                |da AS (SELECT pri, count(*) AS n_delim, sum(k) AS key_sum
                |       FROM delim GROUP BY pri),
                |fa AS (SELECT pri_lc, count(*) AS n_default
                |       FROM dflt GROUP BY pri_lc)
                |SELECT da.pri, fa.pri_lc,
                |  CAST(da.n_delim AS BIGINT) AS n_delim,
                |  CAST(fa.n_default AS BIGINT) AS n_default,
                |  CAST(da.key_sum AS BIGINT) AS key_sum
                |FROM da JOIN fa ON replace(da.pri, '_', '-') = upper(fa.pri_lc)
                |ORDER BY pri""".stripMargin)
      },
      Some("""WITH da AS (SELECT replace(o_orderpriority, '-', '_') AS pri,
             |    count(*) AS n_delim, sum(o_orderkey) AS key_sum
             |  FROM orders GROUP BY 1),
             |fa AS (SELECT lower(o_orderpriority) AS pri_lc,
             |    count(*) AS n_default
             |  FROM orders GROUP BY 1)
             |SELECT da.pri, fa.pri_lc, da.n_delim::BIGINT AS n_delim,
             |  fa.n_default::BIGINT AS n_default,
             |  da.key_sum::BIGINT AS key_sum
             |FROM da JOIN fa ON replace(da.pri, '_', '-') = upper(fa.pri_lc)
             |ORDER BY pri""".stripMargin)),

    // substring-level exact dedup (Lee et al. ACL'22): maximal token
    // spans whose every 8-token window also appears in another doc —
    // what doc-level MinHash/SimHash verdicts can't localize and chunk
    // dedup (q82) only catches when boundaries line up. Windows are
    // O(corpus tokens) rows, sharing is a group-count on the window
    // hash, islands merge per doc — nothing pairwise, nothing
    // driver-side.
    "q239_duplicate_spans" -> Q(
      (s, d) => {
        Dedup.duplicateSpans(t(s, d, "documents"), "doc_id", "text", k = 8)
          .orderBy(col("doc_id"), col("span_start"))
      },
      Some(s"""WITH t0 AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
             |g0 AS (
             |  SELECT doc_id, CASE WHEN len(t) >= 8
             |    THEN [${dHash64("array_to_string(t[i:i+7], ' ')")}
             |      for i in range(1, len(t) - 6)]
             |    ELSE [] END AS hs
             |  FROM t0),
             |w AS (SELECT doc_id, unnest(hs) AS h,
             |    generate_subscripts(hs, 1) AS pos FROM g0),
             |dup AS (SELECT h FROM w GROUP BY h
             |  HAVING count(DISTINCT doc_id) >= 2),
             |hits AS (SELECT doc_id, pos FROM w
             |  WHERE h IN (SELECT h FROM dup)),
             |isl AS (SELECT doc_id, pos,
             |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
             |      THEN 0 ELSE 1 END AS newi
             |  FROM hits),
             |isl2 AS (SELECT doc_id, pos,
             |    sum(newi) OVER (PARTITION BY doc_id ORDER BY pos) AS island
             |  FROM isl)
             |SELECT doc_id, min(pos)::BIGINT AS span_start,
             |  (max(pos) + 7)::BIGINT AS span_end,
             |  (max(pos) + 7 - min(pos) + 1)::BIGINT AS span_tokens,
             |  count(*)::BIGINT AS n_windows
             |FROM isl2 GROUP BY doc_id, island
             |ORDER BY doc_id, span_start""".stripMargin)),

    // the ACTION q239 reports: corpus rewrite with every duplicated
    // span removed except its one canonical (lowest-doc_id) occurrence
    // — keep-one substring dedup. Ownership rides the same window-hash
    // aggregate; the k-row blowup is on removable windows only; the
    // rebuild is a per-doc sort-aggregate (state = one doc's tokens)
    "q240_remove_dup_spans" -> Q(
      (s, d) => {
        Dedup.removeDuplicateSpans(t(s, d, "documents"), "doc_id", "text", k = 8)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t0 AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
             |g0 AS (
             |  SELECT doc_id, CASE WHEN len(t) >= 8
             |    THEN [${dHash64("array_to_string(t[i:i+7], ' ')")}
             |      for i in range(1, len(t) - 6)]
             |    ELSE [] END AS hs
             |  FROM t0),
             |w AS (SELECT doc_id, unnest(hs) AS h,
             |    generate_subscripts(hs, 1) AS pos FROM g0),
             |own AS (SELECT h, min(doc_id) AS owner FROM w GROUP BY h
             |  HAVING count(DISTINCT doc_id) >= 2),
             |rem AS (SELECT w.doc_id, w.pos FROM w JOIN own USING (h)
             |  WHERE w.doc_id <> own.owner),
             |cov AS (SELECT DISTINCT doc_id, pos + i AS tpos
             |  FROM rem, range(0, 8) r(i)),
             |tk AS (SELECT doc_id, unnest(t) AS tok,
             |    generate_subscripts(t, 1) AS tpos FROM t0),
             |kept AS (SELECT tk.doc_id, count(*)::BIGINT AS n_kept,
             |    array_to_string(list(tok ORDER BY tpos), ' ') AS text_clean
             |  FROM tk ANTI JOIN cov
             |    ON tk.doc_id = cov.doc_id AND tk.tpos = cov.tpos
             |  GROUP BY tk.doc_id),
             |base AS (SELECT doc_id, len(t)::BIGINT AS n_tokens FROM t0)
             |SELECT base.doc_id, n_tokens,
             |  (n_tokens - coalesce(n_kept, 0))::BIGINT AS n_removed,
             |  coalesce(text_clean, '') AS text_clean
             |FROM base LEFT JOIN kept USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // BPE tokenizer training (Sennrich et al. 2016): one corpus-sized
    // word-count shuffle, then every merge round is a vocab-sized
    // aggregate + 1-row argmax collect — per-round cost independent of
    // corpus size. Merges are plain string replaces on a doubly-
    // delimited symbol encoding (greedy left-to-right = BPE order, no
    // UDFs). Oracle: the same k rounds unrolled as CTEs, each step's
    // argmax a scalar subquery feeding a replace (bpeOracleSteps).
    "q241_bpe_train" -> Q(
      (s, d) => TextAnalysis.bpeTrain(t(s, d, "documents"), "text", merges = 8),
      Some(bpeOracleSteps(8) + "\n" +
        (1 to 8).map(i =>
          s"SELECT $i AS step, lhs, rhs, lhs || rhs AS merged, freq FROM b$i")
          .mkString("", "\nUNION ALL\n", "\nORDER BY step"))),

    // the trained tokenizer APPLIED: corpus token distribution after the
    // same 8 merge rounds (top 30 by frequency, deterministic tie-break)
    "q242_bpe_vocab" -> Q(
      (s, d) => TextAnalysis.bpeVocab(t(s, d, "documents"), "text", merges = 8, topK = 30),
      Some(bpeOracleSteps(8) + s""",
             |v AS (SELECT unnest(string_split(trim(sym), '  ')) AS token, f FROM s8)
             |SELECT token, sum(f)::BIGINT AS freq FROM v GROUP BY token
             |ORDER BY freq DESC, token LIMIT 30""".stripMargin)),

    // the step training exists for: per-doc token cost under the learned
    // tokenizer. Tokenization is word-local, so the corpus is never
    // re-segmented — the vocab-sized (word -> token count) table joins
    // back to the word stream (broadcast at scale, one corpus pass)
    "q243_bpe_encode" -> Q(
      (s, d) => TextAnalysis
        .bpeEncodeStats(t(s, d, "documents"), "doc_id", "text", merges = 8)
        .orderBy(col("doc_id")),
      Some(bpeOracleSteps(8) + s""",
             |wt AS (SELECT w, len(string_split(trim(sym), '  '))::BIGINT AS w_tokens
             |  FROM s8),
             |dw AS (SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS w
             |  FROM documents),
             |agg AS (SELECT doc_id, count(*)::BIGINT AS n_words,
             |    sum(len(w))::BIGINT AS n_chars,
             |    sum(w_tokens)::BIGINT AS n_bpe_tokens
             |  FROM dw JOIN wt USING (w) WHERE w <> '' GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(agg.n_words, 0) AS n_words,
             |  coalesce(agg.n_chars, 0) AS n_chars, -- documents has its own n_chars
             |  coalesce(agg.n_bpe_tokens, 0) AS n_bpe_tokens
             |FROM documents d LEFT JOIN agg USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // WordPiece-style greedy longest-match tokenizer — the other
    // mainstream subword scheme next to BPE (q241-q243). Vocab = all
    // corpus chars + top-200 substrings of length 2-4; encoding is the
    // greedy walk pos -> pos + longestMatch(pos), computed in
    // ceil(log2(maxWordLen)) pointer-doubling rounds over the
    // vocab-sized longest-match table — no per-word loop, no UDF.
    // Oracle: the same walk as a recursive CTE over the same
    // longest-match table.
    "q244_wordpiece_encode" -> Q(
      (s, d) => TextAnalysis
        .wordpieceEncodeStats(t(s, d, "documents"), "doc_id", "text",
          maxGram = 4, topK = 200)
        .orderBy(col("doc_id")),
      Some("""WITH RECURSIVE words AS (
             |  SELECT w, count(*)::BIGINT AS f FROM (
             |    SELECT unnest(string_split(trim(lower(text)), ' ')) AS w
             |    FROM documents)
             |  WHERE w <> '' GROUP BY w),
             |grams AS (
             |  SELECT g, sum(f)::BIGINT AS freq FROM (
             |    SELECT unnest([w[i:i+1] for i in range(1, len(w))]) AS g, f
             |      FROM words WHERE len(w) >= 2
             |    UNION ALL
             |    SELECT unnest([w[i:i+2] for i in range(1, len(w)-1)]) AS g, f
             |      FROM words WHERE len(w) >= 3
             |    UNION ALL
             |    SELECT unnest([w[i:i+3] for i in range(1, len(w)-2)]) AS g, f
             |      FROM words WHERE len(w) >= 4)
             |  GROUP BY g),
             |vocab AS (
             |  SELECT g FROM (SELECT g FROM grams ORDER BY freq DESC, g LIMIT 200)
             |  UNION
             |  SELECT DISTINCT unnest([w[i] for i in range(1, len(w)+1)]) AS g
             |  FROM words),
             |pos AS (SELECT w, unnest(range(1, len(w)+1)) AS pos FROM words),
             |step AS (
             |  SELECT p.w, p.pos, max(len(v.g))::BIGINT AS mlen
             |  FROM pos p JOIN vocab v ON substr(p.w, p.pos, len(v.g)) = v.g
             |  GROUP BY p.w, p.pos),
             |walk AS (
             |  SELECT w, len(w)::BIGINT AS wl, 1::BIGINT AS pos, 0::BIGINT AS ntok
             |  FROM words
             |  UNION ALL
             |  SELECT k.w, k.wl, k.pos + s.mlen, k.ntok + 1
             |  FROM walk k JOIN step s ON k.w = s.w AND k.pos = s.pos),
             |wt AS (SELECT w, ntok AS w_tokens FROM walk WHERE pos > wl),
             |dw AS (SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS w
             |  FROM documents),
             |agg AS (SELECT doc_id, count(*)::BIGINT AS n_words,
             |    sum(len(w))::BIGINT AS n_chars,
             |    sum(w_tokens)::BIGINT AS n_wp_tokens
             |  FROM dw JOIN wt USING (w) WHERE w <> '' GROUP BY doc_id)
             |SELECT d.doc_id, coalesce(agg.n_words, 0) AS n_words,
             |  coalesce(agg.n_chars, 0) AS n_chars,
             |  coalesce(agg.n_wp_tokens, 0) AS n_wp_tokens
             |FROM documents d LEFT JOIN agg USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // per-source unigram drift vs the corpus (total variation distance)
    // — the "did this source shift?" audit before weighting a training
    // mix. All-integer arithmetic (the absent-word tail collapses to a
    // closed form, so no source x vocab grid); the one division is a
    // single exactly-rounded IEEE op, bit-identical cross-engine.
    "q245_source_drift" -> Q(
      (s, d) => TextAnalysis.sourceDrift(t(s, d, "documents"), "source", "text")
        .orderBy(col("source")),
      Some("""WITH tok AS (
             |  SELECT source, unnest(string_split(trim(lower(text)), ' ')) AS w
             |  FROM documents),
             |sw AS (SELECT source, w, count(*)::BIGINT AS fsw FROM tok
             |  WHERE w <> '' GROUP BY source, w),
             |wt AS (SELECT w, sum(fsw)::BIGINT AS fw FROM sw GROUP BY w),
             |st AS (SELECT source, sum(fsw)::BIGINT AS ts FROM sw GROUP BY source),
             |tt AS (SELECT sum(fw)::BIGINT AS t FROM wt),
             |scored AS (
             |  SELECT sw.source, sw.w, sw.fsw, wt.fw, st.ts, tt.t,
             |    sw.fsw * tt.t - wt.fw * st.ts AS diff
             |  FROM sw JOIN wt USING (w) JOIN st USING (source) CROSS JOIN tt),
             |agg AS (
             |  SELECT source, max(ts) AS total_tokens, max(t) AS t,
             |    count(*)::BIGINT AS distinct_words,
             |    sum(abs(diff))::BIGINT AS present_abs,
             |    sum(fw)::BIGINT AS present_fw
             |  FROM scored GROUP BY source),
             |top AS (
             |  SELECT source, w AS top_word, diff AS top_diff FROM (
             |    SELECT source, w, diff, row_number() OVER (
             |      PARTITION BY source ORDER BY diff DESC, w) AS rn FROM scored)
             |  WHERE rn = 1)
             |SELECT agg.source, total_tokens, distinct_words,
             |  (present_abs + (t - present_fw) * total_tokens)::BIGINT AS tv_num,
             |  ((present_abs + (t - present_fw) * total_tokens)::DOUBLE
             |    / (2 * total_tokens * t)::DOUBLE) AS tv,
             |  top_word, top_diff
             |FROM agg JOIN top USING (source)
             |ORDER BY source""".stripMargin)),

    // hard-negative mining for contrastive training: per query, top-5
    // most-cosine-similar OTHER-label vectors from the query's LSH
    // bucket — q28's candidate machinery pointed at embedding-model
    // training-pair prep. Never all-pairs: bucket join + label filter.
    "q246_hard_negatives" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.hardNegatives(
            emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            "label", k = 5, planes = 4, dims = 64)
          .select(col("q_id"), col("q_label"),
            col("rank").cast("bigint").as("rank"),
            col("n_id"), col("n_label"), col("cos"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some {
        val planeSql = (0 until 4).map { p =>
          val coefs = Similarity.hyperplane(p, 64).mkString("[", ", ", "]")
          s"CASE WHEN list_dot_product(e, $coefs::DOUBLE[]) > 0 THEN ${1 << p} ELSE 0 END"
        }.mkString(" +\n      ")
        s"""WITH v AS (
           |  SELECT vec_id, label, embedding::DOUBLE[] AS e,
           |    $planeSql AS bucket
           |  FROM embeddings),
           |sc AS (SELECT q.vec_id AS q_id, q.label AS q_label,
           |    c.vec_id AS n_id, c.label AS n_label,
           |    round(list_cosine_similarity(q.e, c.e), 6) AS cos
           |  FROM v q JOIN v c ON q.bucket = c.bucket AND q.label <> c.label
           |  WHERE q.vec_id < 10),
           |r AS (SELECT q_id, q_label, n_id, n_label, cos, row_number() OVER (
           |  PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc)
           |SELECT q_id, q_label, rank, n_id, n_label, cos FROM r WHERE rank <= 5
           |ORDER BY q_id, rank""".stripMargin
      }),

    // exact triangle counting on the co-purchase graph via degree
    // orientation (Suri & Vassilvitskii): out-degrees bounded O(sqrt m)
    // so the wedge table never goes hub-quadratic; all keyed joins.
    // The %10 item filter keeps the probed subgraph SF-proportional.
    "q247_triangle_count" -> Q(
      (s, d) => operators.Graph.triangleCounts(
        operators.Graph.coOccurrenceEdges(
          t(s, d, "lineitem").filter(col("l_partkey") % 10 === 0),
          "l_orderkey", "l_partkey"),
        topK = 20),
      Some("""WITH it AS (
             |  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
             |  WHERE l_partkey % 10 = 0),
             |e0 AS (SELECT DISTINCT least(a.item, b.item) AS u,
             |    greatest(a.item, b.item) AS v
             |  FROM it a JOIN it b ON a.g = b.g AND a.item <> b.item),
             |deg AS (SELECT node, count(*)::BIGINT AS deg FROM (
             |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
             |  GROUP BY node),
             |o AS (SELECT
             |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
             |      THEN u ELSE v END AS a,
             |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
             |      THEN v ELSE u END AS b,
             |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
             |      THEN dv.deg ELSE du.deg END AS degb
             |  FROM e0 JOIN deg du ON du.node = e0.u
             |    JOIN deg dv ON dv.node = e0.v),
             |w AS (SELECT e1.a, e1.b AS x, e2.b AS y FROM o e1 JOIN o e2
             |  ON e1.a = e2.a AND (e1.degb < e2.degb
             |    OR (e1.degb = e2.degb AND e1.b < e2.b))),
             |tri AS (SELECT w.a, w.x, w.y FROM w
             |  JOIN o ON o.a = w.x AND o.b = w.y),
             |cnt AS (SELECT node, count(*)::BIGINT AS n_triangles FROM (
             |    SELECT a AS node FROM tri
             |    UNION ALL SELECT x FROM tri
             |    UNION ALL SELECT y FROM tri)
             |  GROUP BY node)
             |SELECT node, n_triangles FROM cnt
             |ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin)),

    // deterministic DeepWalk corpus: fixed-length walks over the same
    // subgraph, next hop = md5(walk, step) mod degree into the
    // dst-sorted adjacency — reproducible "randomness", frontier-sized
    // joins per step. Oracle: the 4 steps unrolled.
    "q248_random_walks" -> Q(
      (s, d) => {
        val edges = operators.Graph.coOccurrenceEdges(
          t(s, d, "lineitem").filter(col("l_partkey") % 10 === 0),
          "l_orderkey", "l_partkey")
        val seeds = edges.select(col("src").as("node")).distinct()
          .filter(col("node") % 50 === 0)
        operators.Graph.randomWalks(edges, seeds, walkLength = 4)
          .orderBy(col("walk_id"), col("step"))
      },
      Some {
        val steps = (1 to 4).map { i =>
          s"""s$i AS (SELECT p.walk_id, adj.dst AS node FROM s${i - 1} p
             |  JOIN deg ON deg.src = p.node
             |  JOIN adj ON adj.src = p.node AND adj.nidx =
             |    ${dHash64(s"'walk:'||p.walk_id::VARCHAR||':step:$i'")} % deg.deg + 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH it AS (
           |  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
           |  WHERE l_partkey % 10 = 0),
           |e AS (SELECT DISTINCT a.item AS src, b.item AS dst
           |  FROM it a JOIN it b ON a.g = b.g AND a.item <> b.item),
           |adj AS (SELECT src, dst, row_number() OVER (
           |  PARTITION BY src ORDER BY dst) AS nidx FROM e),
           |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
           |s0 AS (SELECT DISTINCT src AS walk_id, src AS node FROM e
           |  WHERE src % 50 = 0),
           |$steps
           |SELECT walk_id, step, node FROM (
           |  SELECT walk_id, 0::BIGINT AS step, node FROM s0
           |  UNION ALL SELECT walk_id, 1::BIGINT, node FROM s1
           |  UNION ALL SELECT walk_id, 2::BIGINT, node FROM s2
           |  UNION ALL SELECT walk_id, 3::BIGINT, node FROM s3
           |  UNION ALL SELECT walk_id, 4::BIGINT, node FROM s4)
           |ORDER BY walk_id, step""".stripMargin
      }),

    // stream-static broadcast enrich: the standard "join the dimension
    // table into the stream" shape, previously unexercised — the static
    // side broadcasts per micro-batch, only the windowed agg pays the
    // state-store shuffle. Oracle: the batch restatement under the
    // final-watermark emission filter (q35's convention).
    "q249_stream_static_enrich" -> Q(
      (s, d) => {
        val name = "graft_stream_static_enrich"
        s.catalog.dropTempView(name)
        val dim = t(s, d, "customer")
        graft.streaming.EventStreams
          .runToMemory(s, s"$d/events.parquet",
            graft.streaming.EventStreams
              .enrichedWindowedCounts(dim, "c_custkey", "c_mktsegment"),
            name)
          .orderBy(col("bucket_start"), col("c_mktsegment"))
      },
      Some("""WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
             |agg AS (
             |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start,
             |    c_mktsegment, count(*) AS n_events,
             |    sum(floor(value*1e6)::BIGINT)::BIGINT AS total_value_micros
             |  FROM events JOIN customer ON user_id = c_custkey
             |  GROUP BY 1, 2)
             |SELECT bucket_start, c_mktsegment, n_events, total_value_micros
             |FROM agg, wm
             |WHERE bucket_start + INTERVAL 5 MINUTE <= wm.w
             |ORDER BY bucket_start, c_mktsegment""".stripMargin)),

    // k-core peeling (Seidman): 4 fixed rounds of "drop nodes with
    // degree < 4" on the co-purchase subgraph — the dense-core filter
    // link-graph pipelines run before ranking. One degree aggregate +
    // two keyed semi-restrictions per round; oracle = rounds unrolled.
    "q250_kcore" -> Q(
      (s, d) => operators.Graph.kcorePeel(
        operators.Graph.coOccurrenceEdges(
          t(s, d, "lineitem").filter(col("l_partkey") % 10 === 0),
          "l_orderkey", "l_partkey"),
        k = 4, rounds = 4)
        .orderBy(col("node")),
      Some {
        val steps = (1 to 4).map { i =>
          s"""k$i AS (SELECT src FROM (
             |    SELECT src, count(*)::BIGINT AS deg FROM e${i - 1} GROUP BY src)
             |  WHERE deg >= 4),
             |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
             |  JOIN k$i a ON e.src = a.src JOIN k$i b ON e.dst = b.src)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH it AS (
           |  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
           |  WHERE l_partkey % 10 = 0),
           |e0 AS (SELECT DISTINCT a.item AS src, b.item AS dst
           |  FROM it a JOIN it b ON a.g = b.g AND a.item <> b.item),
           |$steps
           |SELECT src AS node, count(*)::BIGINT AS deg FROM e4
           |GROUP BY src ORDER BY node""".stripMargin
      }),

    // personalized PageRank: teleport mass lands only on the seed set
    // (node % 50 == 0, q248's seed rule), ranking the subgraph by
    // proximity to the seeds — the recommendation/endorsement form.
    // Same integer-ppm arithmetic and per-round plan as q117; the seed
    // flag gates initial mass + the teleport term. Oracle: 3 rounds
    // unrolled with the seed-gated teleport.
    "q251_personalized_pagerank" -> Q(
      (s, d) => {
        val edges = operators.Graph.coOccurrenceEdges(
          t(s, d, "lineitem").filter(col("l_partkey") % 10 === 0),
          "l_orderkey", "l_partkey")
        val seeds = edges.select(col("src").as("node")).distinct()
          .filter(col("node") % 50 === 0)
        operators.Graph.pagerank(edges, iterations = 3,
          assumeDistinctEdges = true, personalizeTo = Some(seeds))
          .orderBy(col("rank_ppm").desc, col("node"))
          .limit(100)
      },
      Some {
        val rounds = (1 to 3).map { i =>
          s"""c$i AS (SELECT dst, sum(p // deg)::BIGINT AS s FROM e
             |  JOIN deg USING (src) JOIN p${i - 1} ON p${i - 1}.node = e.src GROUP BY dst),
             |p$i AS (SELECT node, is_seed,
             |    (150000 * is_seed + (850 * coalesce(s, 0)) // 1000)::BIGINT AS p
             |  FROM nodes LEFT JOIN c$i ON node = dst)""".stripMargin
        }.mkString(",\n")
        s"""WITH it AS (
           |  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
           |  WHERE l_partkey % 10 = 0),
           |e AS (SELECT DISTINCT a.item AS src, b.item AS dst
           |  FROM it a JOIN it b ON a.g = b.g AND a.item <> b.item),
           |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
           |nodes AS (SELECT node,
           |    CASE WHEN node % 50 = 0 THEN 1 ELSE 0 END::BIGINT AS is_seed
           |  FROM (SELECT DISTINCT src AS node FROM e
           |    UNION SELECT DISTINCT dst FROM e)),
           |p0 AS (SELECT node, is_seed, (is_seed * 1000000)::BIGINT AS p FROM nodes),
           |$rounds
           |SELECT node, p AS rank_ppm FROM p3
           |ORDER BY rank_ppm DESC, node LIMIT 100""".stripMargin
      }),

    // fixed-stride overlapping chunk windows — the standard RAG/
    // retrieval-corpus chunking step (size 32, stride 24 = 8-token
    // overlap). Pure per-row expressions, zero shuffle; the last window
    // per doc may be short; empty docs emit no chunks.
    "q252_chunk_windows" -> Q(
      (s, d) => TextAnalysis
        .chunkWindows(t(s, d, "documents"), "doc_id", "text",
          size = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id")),
      Some("""WITH t0 AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS t,
             |    CASE WHEN trim(text) = '' THEN 0
             |      ELSE len(string_split(trim(text), ' ')) END AS n
             |  FROM documents),
             |c AS (SELECT doc_id, t, n, unnest(range(1, n + 1, 24)) AS start_tok
             |  FROM t0 WHERE n >= 1)
             |SELECT doc_id, ((start_tok - 1) // 24)::BIGINT AS chunk_id,
             |  start_tok::BIGINT AS start_tok,
             |  least(32, n - start_tok + 1)::BIGINT AS n_tokens,
             |  array_to_string(t[start_tok:least(start_tok + 31, n)], ' ') AS chunk_text
             |FROM c
             |ORDER BY doc_id, chunk_id""".stripMargin)),

    // DSIR importance weighting (Xie et al. 2023): per-doc log-likelihood
    // ratio of a target hashed-ngram model (lang='en' docs) vs the raw
    // corpus model. The per-bucket log-ratio is floored to integer
    // micro-nats ONCE on the 1024-row bucket table (counts cast to
    // double BEFORE multiplying — exact below 2^53, wrap-proof at any
    // corpus size), so each document's score is an exact integer
    // sum — order-immune, hash-oracle-safe. Scale: the bucket model is
    // 1024 rows (broadcast by construction); the corpus pays one explode
    // + map-side combine and one natural per-doc aggregate.
    "q253_dsir_importance" -> Q(
      (s, d) => TextAnalysis.dsirWeights(
          t(s, d, "documents"), "doc_id", "text",
          targetPred = col("lang") === "en", buckets = 1024)
        .orderBy(col("doc_id")),
      Some("""WITH toks AS (SELECT doc_id,
             |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
             |    string_split(trim(text), ' ') AS t FROM documents),
             |feats AS (SELECT doc_id, is_t,
             |    ('0x'||substr(md5(f),1,15))::BIGINT % 1024 AS b
             |  FROM (SELECT doc_id, is_t,
             |      unnest(t || [t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS f
             |    FROM toks)),
             |counts AS (SELECT b, sum(is_t)::BIGINT AS ct, count(*)::BIGINT AS cr
             |  FROM feats GROUP BY b),
             |tot AS (SELECT sum(ct)::BIGINT AS tt, sum(cr)::BIGINT AS tr FROM counts),
             |ratio AS (SELECT b, floor(1e6 * ln(
             |    ((ct + 1)::DOUBLE * (tr + 1024)::DOUBLE)
             |      / ((cr + 1)::DOUBLE * (tt + 1024)::DOUBLE)))::BIGINT AS lr_micro
             |  FROM counts, tot)
             |SELECT f.doc_id, count(*)::BIGINT AS n_feats,
             |  sum(r.lr_micro)::BIGINT AS score_micro
             |FROM feats f JOIN ratio r USING (b)
             |GROUP BY f.doc_id ORDER BY doc_id""".stripMargin)),

    // engine-portable HyperLogLog registers (p=6) over the corpus
    // 3-token shingle stream (~16k distinct at sf0.01 — a cardinality
    // the 64-register sketch actually has to estimate): bucket = top 6
    // hash bits, rho from bin()-string length — integers only, so the
    // REGISTER TABLE itself is hash-oracled (the float estimate is
    // derived from it in PipelineOpsSpec and checked against exact
    // distinct within the sketch's error bound). Scale: one scan,
    // map-side max-combine into <=64 groups, mergeable across any
    // partitioning of a 100 TB corpus.
    "q254_hll_registers" -> Q(
      (s, d) => TextAnalysis.hllRegisters(
          t(s, d, "documents")
            .select(explode(F.wordShingles(col("text"), 3)).as("tok")),
          col("tok"), p = 6)
        .orderBy(col("bucket")),
      Some("""WITH h AS (SELECT ('0x'||substr(md5(tok),1,15))::BIGINT AS h FROM (
             |    SELECT unnest(CASE WHEN len(t) >= 3
             |        THEN list_distinct([array_to_string(t[i:i+2], ' ')
             |               for i in range(1, len(t) - 1)])
             |        ELSE []::VARCHAR[] END) AS tok
             |    FROM (SELECT string_split(trim(text), ' ') AS t FROM documents))),
             |r AS (SELECT h >> 54 AS bucket,
             |    CASE WHEN (h & ((1::BIGINT << 54) - 1)) = 0 THEN 55
             |      ELSE 55 - length(bin(h & ((1::BIGINT << 54) - 1))) END AS rho
             |  FROM h)
             |SELECT bucket::BIGINT AS bucket, max(rho)::BIGINT AS max_rho,
             |  count(*)::BIGINT AS n_hashed
             |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // mode-based label propagation (3 synchronous rounds, smallest-label
    // tie-break) on the q250 co-occurrence graph: community detection —
    // the label MOST FREQUENT among neighbors wins, vs CC's min-label
    // flood. All-integer argmax via min-struct on (-count, label); two
    // shuffles per round. Oracle: rounds unrolled with a row_number
    // argmax over the same (count desc, label asc) order.
    "q255_label_propagation" -> Q(
      (s, d) => operators.Graph.labelPropagation(
          operators.Graph.coOccurrenceEdges(
            t(s, d, "lineitem").filter(col("l_partkey") % 10 === 0),
            "l_orderkey", "l_partkey"),
          rounds = 3)
        .orderBy(col("node")),
      Some {
        val steps = (1 to 3).map { i =>
          s"""l$i AS (SELECT node, label FROM (
             |  SELECT node, label,
             |    row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
             |  FROM (SELECT e.dst AS node, l.label AS label, count(*) AS c
             |        FROM e JOIN l${i - 1} l ON e.src = l.node GROUP BY 1, 2))
             |  WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH it AS (
           |  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
           |  WHERE l_partkey % 10 = 0),
           |e AS (SELECT DISTINCT a.item AS src, b.item AS dst
           |  FROM it a JOIN it b ON a.g = b.g AND a.item <> b.item),
           |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
           |$steps
           |SELECT node::BIGINT AS node, label::BIGINT AS label FROM l3
           |ORDER BY node""".stripMargin
      }),

    // Efraimidis-Spirakis weighted sampling without replacement: the 50
    // documents winning the deterministic exponential race keyed by
    // -ln(u)/n_chars (u from hash64), i.e. a length-weighted subset
    // draw. Key surfaces as integer nanos + id tie-break; Spark plans
    // TakeOrderedAndProject (per-partition top-k, no corpus shuffle).
    "q256_weighted_sample" -> Q(
      (s, d) => Sampling.weightedSample(
          t(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 50)
        .orderBy(col("es_key_nano"), col("doc_id")),
      Some("""SELECT doc_id, n_chars,
             |  floor(-ln((('0x'||substr(md5('es:'||doc_id::VARCHAR),1,15))::BIGINT + 1)::DOUBLE
             |      / 1152921504606846976.0)
             |    / n_chars::DOUBLE * 1e9)::BIGINT AS es_key_nano
             |FROM documents WHERE n_chars > 0
             |ORDER BY es_key_nano, doc_id LIMIT 50""".stripMargin)),

    // per-source HLL register tables (same p=6 sketch as q254, one per
    // source): count distinct shingles where each shard lives, merge
    // 64-row summaries anywhere — folding these by per-bucket max is
    // bit-identical to q254's whole-corpus registers (PipelineOpsSpec).
    "q257_hll_by_source" -> Q(
      (s, d) => TextAnalysis.hllRegistersBy(
          t(s, d, "documents")
            .select(col("source"),
              explode(F.wordShingles(col("text"), 3)).as("tok")),
          "source", col("tok"), p = 6)
        .orderBy(col("source"), col("bucket")),
      Some("""WITH h AS (SELECT source,
             |    ('0x'||substr(md5(tok),1,15))::BIGINT AS h FROM (
             |    SELECT source, unnest(CASE WHEN len(t) >= 3
             |        THEN list_distinct([array_to_string(t[i:i+2], ' ')
             |               for i in range(1, len(t) - 1)])
             |        ELSE []::VARCHAR[] END) AS tok
             |    FROM (SELECT source, string_split(trim(text), ' ') AS t
             |          FROM documents))),
             |r AS (SELECT source, h >> 54 AS bucket,
             |    CASE WHEN (h & ((1::BIGINT << 54) - 1)) = 0 THEN 55
             |      ELSE 55 - length(bin(h & ((1::BIGINT << 54) - 1))) END AS rho
             |  FROM h)
             |SELECT source, bucket::BIGINT AS bucket, max(rho)::BIGINT AS max_rho,
             |  count(*)::BIGINT AS n_hashed
             |FROM r GROUP BY source, bucket ORDER BY source, bucket""".stripMargin)),

    // MMR diversified top-5 (λ=0.7) against vec 0's int8-quantized
    // embedding: integer dot products and cross-multiplied λ keep every
    // greedy round's score an exact BIGINT. Oracle: the 5 argmax rounds
    // unrolled, each a LIMIT-1 CTE the next round's redundancy term
    // cross-joins (1-row sides).
    "q258_mmr_diversify" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val qv = Similarity
          .quantizeInt8(emb.filter(col("vec_id") === 0), "vec_id", "embedding")
          .select(col("qvec")).head().getSeq[Long](0)
        Similarity.mmrSelect(
            emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
            qv, k = 5)
          .orderBy(col("rank"))
      },
      Some {
        def dotTo(j: Int) =
          s"list_sum([c.qv[i] * s$j.qv[i] for i in range(1, len(c.qv) + 1)])"
        val steps = (2 to 5).map { r =>
          val reds = (1 until r).map(dotTo)
          val red = if (reds.size == 1) reds.head
                    else s"greatest(${reds.mkString(", ")})"
          val froms = (1 until r).map(j => s"s$j").mkString(", ")
          val excls = (1 until r).map(j => s"c.vec_id <> s$j.vec_id")
            .mkString(" AND ")
          s"""c$r AS (SELECT c.vec_id, c.qv, c.rel,
             |    7 * c.rel - 3 * ($red) AS score
             |  FROM rel c, $froms WHERE $excls),
             |s$r AS (SELECT vec_id, qv, rel, score FROM c$r
             |  ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |m0 AS (SELECT vec_id, e,
           |    list_max(list_transform(e, x -> abs(x))) AS m FROM v),
           |qz AS (SELECT vec_id,
           |    CASE WHEN m = 0 THEN list_transform(e, x -> 0::BIGINT)
           |    ELSE list_transform(e, x ->
           |      floor(x * 127.0::DOUBLE / m + 0.5::DOUBLE)::BIGINT)
           |    END AS qv
           |  FROM m0),
           |qarr AS (SELECT qv AS q FROM qz WHERE vec_id = 0),
           |rel AS (SELECT c.vec_id, c.qv,
           |    list_sum([c.qv[i] * qarr.q[i] for i in range(1, len(c.qv) + 1)]) AS rel
           |  FROM qz c, qarr WHERE c.vec_id <> 0),
           |c1 AS (SELECT vec_id, qv, rel, 7 * rel AS score FROM rel),
           |s1 AS (SELECT vec_id, qv, rel, score FROM c1
           |  ORDER BY score DESC, vec_id LIMIT 1),
           |$steps
           |${(1 to 5).map(r =>
              s"SELECT $r::BIGINT AS rank, vec_id, rel::BIGINT AS rel_dot, score::BIGINT AS score FROM s$r")
              .mkString("\n UNION ALL ")}
           |ORDER BY rank""".stripMargin
      },
      // production path at k in the hundreds: batch=4 pools the top-4
      // per round and re-scores in-pool on the driver — 2 job rounds
      // instead of 5 here, ceil(k/b) instead of k in general
      benchFn = Some((s, d) => {
        val emb = t(s, d, "embeddings")
        val qv = Similarity
          .quantizeInt8(emb.filter(col("vec_id") === 0), "vec_id", "embedding")
          .select(col("qvec")).head().getSeq[Long](0)
        Similarity.mmrSelect(
            emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
            qv, k = 5, batch = 4)
          .orderBy(col("rank"))
      })),

    // streaming HLL: per-batch registers max-merged into a parquet
    // store (q97's sketch-store pattern, but idempotent — a replayed
    // batch cannot change max_rho, so the sketch is correct under
    // at-least-once delivery, which the linear CMS add is not). The
    // drained store must equal q254's whole-corpus registers exactly;
    // the oracle is the same relational statement.
    "q259_streaming_hll" -> Q(
      (s, d) => {
        // per-JVM tagged dir (scratchDir): a fixed shared-tmp name would
        // let a concurrent Bench/Verify process re-point the symlink
        // under this stream's feet
        val dir = java.nio.file.Paths.get(scratchDir("graft_q259_docs"))
        java.nio.file.Files.createDirectories(dir)
        val link = dir.resolve("docs.parquet")
        java.nio.file.Files.deleteIfExists(link)
        java.nio.file.Files.createSymbolicLink(
          link, java.nio.file.Paths.get(s"$d/documents.parquet"))
        // fresh per-run store: n_hashed accumulates (the register maxima
        // would survive a reuse, but the diagnostics would double)
        val base = freshScratchDir("graft_q259_store")
        val q = graft.streaming.DocStreams.startHll(
          graft.streaming.DocStreams.readStream(s, dir.toString),
          s"$base/store", s"$base/ckpt")
        EventStreams.drain(q)
        s.read.parquet(s"$base/store/current").orderBy(col("bucket"))
      },
      Some("""WITH h AS (SELECT ('0x'||substr(md5(tok),1,15))::BIGINT AS h FROM (
             |    SELECT unnest(CASE WHEN len(t) >= 3
             |        THEN list_distinct([array_to_string(t[i:i+2], ' ')
             |               for i in range(1, len(t) - 1)])
             |        ELSE []::VARCHAR[] END) AS tok
             |    FROM (SELECT string_split(trim(text), ' ') AS t FROM documents))),
             |r AS (SELECT h >> 54 AS bucket,
             |    CASE WHEN (h & ((1::BIGINT << 54) - 1)) = 0 THEN 55
             |      ELSE 55 - length(bin(h & ((1::BIGINT << 54) - 1))) END AS rho
             |  FROM h)
             |SELECT bucket::BIGINT AS bucket, max(rho)::BIGINT AS max_rho,
             |  count(*)::BIGINT AS n_hashed
             |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // nDCG@5 of the q78 int8-cosine ranking against graded label
    // relevance (same label = 2, same coarse label group = 1): exact
    // integer DCG via JVM-inlined micro-unit discounts (the LSH-plane
    // literal pattern), ideal DCG from each query's own relevant set,
    // final ratio by integer division — nothing floats between engines.
    "q260_ndcg_eval" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val ranked = Similarity.quantizedTopK(
            emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
          .select(col("q_id"), col("rank").cast("bigint").as("rank"), col("n_id"))
        val lab = emb.select(col("vec_id"), col("label").cast("long").as("label"))
        val rel = lab.toDF("n_id", "n_label")
          .crossJoin(broadcast(lab.toDF("q_id", "q_label").filter(col("q_id") < 10)))
          .filter(col("q_id") =!= col("n_id"))
          .withColumn("gain",
            when(col("n_label") === col("q_label"), 2L)
              .when(col("n_label") % 5 === col("q_label") % 5, 1L)
              .otherwise(0L))
          .filter(col("gain") > 0)
          .select(col("q_id"), col("n_id"), col("gain"))
        Similarity.ndcgAtK(ranked, rel, k = 5).orderBy(col("q_id"))
      },
      Some {
        val disc = Similarity.ndcgDiscountsMicro(5).mkString("[", ",", "]")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |m0 AS (SELECT vec_id, e,
           |    list_max(list_transform(e, x -> abs(x))) AS m FROM v),
           |qz AS (SELECT vec_id,
           |    CASE WHEN m = 0 THEN list_transform(e, x -> 0.0::DOUBLE)
           |    ELSE list_transform(e, x -> floor(x * 127.0::DOUBLE / m + 0.5::DOUBLE))
           |    END AS qv
           |  FROM m0),
           |sc AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |    round(list_cosine_similarity(q.qv, c.qv), 6) AS qcos
           |  FROM qz q JOIN qz c ON q.vec_id <> c.vec_id
           |  WHERE q.vec_id < 10),
           |rk AS (SELECT q_id, n_id, rank FROM (
           |    SELECT q_id, n_id, qcos, row_number() OVER (
           |      PARTITION BY q_id ORDER BY qcos DESC, n_id) AS rank FROM sc)
           |  WHERE rank <= 5),
           |lab AS (SELECT vec_id, label::BIGINT AS label FROM embeddings),
           |rel AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |    CASE WHEN c.label = q.label THEN 2
           |      WHEN c.label % 5 = q.label % 5 THEN 1 ELSE 0 END::BIGINT AS gain
           |  FROM lab c, lab q
           |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
           |    AND (c.label = q.label OR c.label % 5 = q.label % 5)),
           |dcg AS (SELECT rk.q_id,
           |    sum(coalesce(rel.gain, 0) * $disc[rk.rank])::BIGINT AS dcg_micro,
           |    sum(coalesce(rel.gain, 0))::BIGINT AS gain_at_k
           |  FROM rk LEFT JOIN rel ON rk.q_id = rel.q_id AND rk.n_id = rel.n_id
           |  GROUP BY rk.q_id),
           |idcg AS (SELECT q_id,
           |    sum(gain * $disc[irank])::BIGINT AS idcg_micro
           |  FROM (SELECT q_id, gain, row_number() OVER (
           |      PARTITION BY q_id ORDER BY gain DESC, n_id) AS irank FROM rel)
           |  WHERE irank <= 5 GROUP BY q_id)
           |SELECT dcg.q_id, dcg.dcg_micro, idcg.idcg_micro, dcg.gain_at_k,
           |  ((dcg.dcg_micro * 1000000) // idcg.idcg_micro)::BIGINT AS ndcg_ppm
           |FROM dcg JOIN idcg USING (q_id)
           |ORDER BY q_id""".stripMargin
      }),

    // record linkage: every part name deterministically corrupted (the
    // char at hash64(key) % len dropped) and fuzzy-joined back to the
    // clean name list via the q-gram count filter + exact levenshtein —
    // the VLDB'01 approximate-string-join blocking shape. The gram
    // equi-join is the only corpus-sized shuffle; the cross product
    // never materializes.
    "q261_fuzzy_join" -> Q(
      (s, d) => {
        val parts = t(s, d, "part")
        val pos = pmod(
          F.hash64(col("p_partkey").cast("string")),
          length(col("p_name")).cast("long"))
        val dirty = parts.select(
          col("p_partkey").as("d_id"),
          concat(
            col("p_name").substr(lit(1), pos.cast("int")),
            col("p_name").substr((pos + lit(2)).cast("int"), length(col("p_name"))))
            .as("d_name"))
        val clean = parts.select(col("p_name")).distinct()
        operators.FuzzyJoin.qgramEditJoin(
            dirty, "d_id", "d_name", clean, "p_name", "p_name",
            q = 3, maxDist = 1)
          .orderBy(col("l_id"), col("r_id"))
      },
      // the oracle states the SEMANTICS — every pair within edit
      // distance 1 (64 distinct names x 2000 dirty rows is nothing for
      // DuckDB) with the same padded-distinct-gram overlap count; the
      // Spark side must reach the identical set through its blocking
      // plan (no-false-dismissal is property-pinned in PipelineOpsSpec)
      Some("""WITH base AS (SELECT p_partkey, p_name,
             |    ('0x'||substr(md5(p_partkey::VARCHAR),1,15))::BIGINT
             |      % length(p_name) AS pos
             |  FROM part),
             |dirty AS (SELECT p_partkey AS d_id,
             |    substr(p_name, 1, pos) || substr(p_name, pos + 2, length(p_name))
             |      AS d_name
             |  FROM base),
             |clean AS (SELECT DISTINCT p_name FROM part),
             |lg AS (SELECT d_id, d_name, list_distinct(
             |    [substr(repeat(chr(1), 2) || d_name || repeat(chr(1), 2), i, 3)
             |     for i in range(1, length(d_name) + 3)]) AS g
             |  FROM dirty),
             |rg AS (SELECT p_name, list_distinct(
             |    [substr(repeat(chr(1), 2) || p_name || repeat(chr(1), 2), i, 3)
             |     for i in range(1, length(p_name) + 3)]) AS g
             |  FROM clean)
             |SELECT l.d_id AS l_id, l.d_name AS l_str, r.p_name AS r_id,
             |  r.p_name AS r_str,
             |  len(list_intersect(l.g, r.g))::BIGINT AS shared,
             |  levenshtein(l.d_name, r.p_name)::BIGINT AS dist
             |FROM lg l, rg r
             |WHERE levenshtein(l.d_name, r.p_name) <= 1
             |ORDER BY l_id, r_id""".stripMargin)),

    // MOSS winnowing (k=4, w=4): sparse local fingerprints with the
    // detection floor (any shared run >= w+k-1 tokens yields a shared
    // fingerprint at ~2/(w+1) density), then cross-doc candidate pairs
    // from the winnowed table only — the principled cheap sibling of
    // q239's exhaustive window hashing. Tie-break = (hash, pos)
    // lexicographic struct min, identical in both engines.
    "q262_winnow_fingerprints" -> Q(
      (s, d) => {
        val fp = TextAnalysis.winnowFingerprints(
          t(s, d, "documents"), "doc_id", "text", k = 4, w = 4)
        fp.toDF("doc_a", "pos_a", "gram_hash")
          .join(fp.toDF("doc_b", "pos_b", "gram_hash"), "gram_hash")
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(countDistinct(col("gram_hash")).as("n_shared"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t
             |  FROM documents),
             |g AS (SELECT doc_id, len(t) - 3 AS ng, i::BIGINT AS pos,
             |    ('0x'||substr(md5(array_to_string(t[i:i+3], ' ')),1,15))::BIGINT AS h
             |  FROM toks, unnest(range(1, len(t) - 2)) AS r(i)
             |  WHERE len(t) >= 4),
             |wm AS (SELECT doc_id, ng, pos,
             |    min({'h': h, 'p': pos}) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
             |  FROM g),
             |sel AS (SELECT DISTINCT doc_id, m.p AS gram_pos, m.h AS gram_hash
             |  FROM wm WHERE pos <= greatest(ng - 3, 1))
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  count(DISTINCT a.gram_hash)::BIGINT AS n_shared
             |FROM sel a JOIN sel b
             |  ON a.gram_hash = b.gram_hash AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin)),

    // skyline / Pareto frontier (ICDE'01): orders no other order beats
    // on BOTH price and recency — aggregate + one ordered window over
    // the per-price maxima instead of the O(n^2) dominance self-join
    // the oracle states. Integer criteria (cents, epoch days) keep the
    // strict-tie semantics and the hash gate exact.
    "q263_skyline" -> Q(
      (s, d) => {
        val o = t(s, d, "orders").select(
          col("o_orderkey"),
          floor(col("o_totalprice") * 100).as("cents"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"))
        operators.Skyline.skyline2(o, "cents", "d")
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH o AS (SELECT o_orderkey,
             |    floor(o_totalprice * 100)::BIGINT AS cents,
             |    date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS d
             |  FROM orders)
             |SELECT o_orderkey, cents, d FROM o p
             |WHERE NOT EXISTS (SELECT 1 FROM o q
             |  WHERE q.cents >= p.cents AND q.d >= p.d
             |    AND (q.cents > p.cents OR q.d > p.d))
             |ORDER BY o_orderkey""".stripMargin)),

    // the Hive streaming-reducer idiom that makes DISTRIBUTE BY / SORT
    // BY load-bearing SQL text (not just physical hints): an awk
    // streaming aggregate over TRANSFORM input that is only correct
    // because DISTRIBUTE BY user_id sends each user to exactly one
    // task and SORT BY (user_id, ms) hands awk each user's events
    // contiguous and time-ordered — the script keeps one user of state
    // and emits (n_events, max inter-event gap) per user. Gap diffs
    // between equal timestamps are tie-order-independent, so the
    // result is deterministic. The program ships as a file (`awk -f`,
    // the ADD FILE deployment shape) — a quoted inline program would
    // have to survive Scala, Spark-SQL-literal, AND bash unquoting.
    // Oracle restates via lag windows.
    "q264_cluster_by_reducer" -> Q(
      (s, d) => {
        t(s, d, "events").createOrReplaceTempView("q264_events")
        val progDir = new java.io.File(scratchDir("graft_q264"))
        progDir.mkdirs()
        val prog = new java.io.File(progDir, "reducer.awk")
        // `started` flag, NOT `$1 != u` against uninitialized u: awk's
        // uninitialized variable compares NUMERICALLY equal to user_id
        // 0 (strnum "0" vs dual-null ""), which would silently merge
        // user 0 into a phantom empty-keyed group. Printing u verbatim
        // (assigned string, never computed) and keeping g a true gap
        // also stays inside mawk's 2^31 integral-print range — beyond
        // it, computed values print as %.6g scientific and the BIGINT
        // read-back nulls out.
        java.nio.file.Files.writeString(prog.toPath,
          """{ if (!started || $1 != u) { if (n > 0) print u "\t" n "\t" g;
            |    started = 1; u = $1; n = 0; g = 0; p = -1 }
            |  n++; if (p >= 0 && $2 - p > g) g = $2 - p; p = $2 }
            |END { if (n > 0) print u "\t" n "\t" g }
            |""".stripMargin)
        // explicit '\t' wire format on BOTH sides: the no-ROW-FORMAT
        // default separator is U+0001 (the Hive serde default), which
        // awk's default FS does not split on — q238's tr/sed mappers
        // pass U+0001 through untouched and never notice
        s.sql(s"""SELECT user_id, n, max_gap FROM (
                 |  SELECT TRANSFORM(user_id, ms)
                 |    ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t'
                 |    USING 'awk -f ${prog.getAbsolutePath}'
                 |    AS (user_id BIGINT, n BIGINT, max_gap BIGINT)
                 |    ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t'
                 |  FROM (SELECT user_id, unix_millis(ts) AS ms
                 |        FROM q264_events
                 |        DISTRIBUTE BY user_id SORT BY user_id, ms))
                 |ORDER BY user_id""".stripMargin)
      },
      Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
             |g AS (SELECT user_id,
             |    ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS gap
             |  FROM e)
             |SELECT user_id, count(*)::BIGINT AS n,
             |  coalesce(max(gap), 0)::BIGINT AS max_gap
             |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // dynamic-gap session windows: each event extends its session by
    // its OWN inactivity allowance (clicks 10 min, everything else 30)
    // — Spark's session_window(ts, gapExpr) form, q63's fixed-gap
    // sibling. Oracle: interval-merge sweep — an event starts a new
    // session iff its ts STRICTLY exceeds the running max of prior
    // (ts + gap) spans (Spark merges boundary-exact arrivals); session
    // end = max(ts_i + gap_i); append mode emits sessions whose end the
    // final watermark passed.
    "q265_dynamic_gap_sessions" -> Q(
      (s, d) => {
        val name = "graft_stream_dynsessions_q265"
        s.catalog.dropTempView(name)
        graft.streaming.EventStreams
          .runToMemory(s, s"$d/events.parquet",
            df => graft.streaming.EventStreams.dynamicSessionWindows(df), name)
          .select(
            unix_millis(col("session_start")).as("start_ms"),
            unix_millis(col("session_end")).as("end_ms"),
            col("user_id"), col("n_events"), col("total_value_micros"))
          .orderBy(col("user_id"), col("start_ms"))
      },
      Some("""WITH g AS (SELECT user_id, ts, event_id, value,
             |    CASE WHEN event_type = 'click' THEN 600000000
             |      ELSE 1800000000 END AS gap_us
             |  FROM events),
             |m AS (SELECT user_id, ts, event_id, value, gap_us,
             |    max(epoch_us(ts) + gap_us) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |  FROM g),
             |f AS (SELECT user_id, ts, event_id, value, gap_us,
             |    CASE WHEN prev_end IS NULL OR epoch_us(ts) > prev_end
             |      THEN 1 ELSE 0 END AS is_new
             |  FROM m),
             |s AS (SELECT user_id, ts, value, gap_us,
             |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM f),
             |agg AS (SELECT user_id, sid, count(*) AS n_events,
             |    epoch_ms(min(ts)) AS start_ms,
             |    max(epoch_us(ts) + gap_us) // 1000 AS end_ms,
             |    sum(floor(value*1e6)::BIGINT)::BIGINT AS total_value_micros
             |  FROM s GROUP BY user_id, sid),
             |wm AS (SELECT epoch_ms(max(ts)) - 600000 AS w FROM events)
             |SELECT start_ms, end_ms, user_id, n_events, total_value_micros
             |FROM agg, wm WHERE agg.end_ms <= wm.w
             |ORDER BY user_id, start_ms""".stripMargin)),

    // k-center greedy coreset (Gonzalez'85 2-approximation, the
    // Sener-Savarese data-pruning selector): seed = smallest id, then
    // 4 maximin rounds over exact integer squared-L2 on int8 vectors —
    // q258's machinery with coverage (farthest-first) replacing the
    // relevance-redundancy tradeoff. Oracle: rounds unrolled as
    // LIMIT-1 CTEs with least() over the running center set.
    "q266_kcenter_coreset" -> Q(
      (s, d) => operators.Similarity.kCenterGreedy(
          t(s, d, "embeddings"), "vec_id", "embedding", k = 5)
        .orderBy(col("rank")),
      benchFn = Some((s, d) => operators.Similarity.kCenterGreedy(
          t(s, d, "embeddings"), "vec_id", "embedding", k = 5, batch = 4)
        .orderBy(col("rank"))),
      oracle = Some {
        def dTo(j: Int) =
          s"list_sum([(c.qv[i] - s$j.qv[i]) * (c.qv[i] - s$j.qv[i]) for i in range(1, len(c.qv) + 1)])"
        val steps = (2 to 5).map { r =>
          val ds = (1 until r).map(dTo)
          val minD = if (ds.size == 1) ds.head else s"least(${ds.mkString(", ")})"
          val froms = (1 until r).map(j => s"s$j").mkString(", ")
          val excls = (1 until r).map(j => s"c.vec_id <> s$j.vec_id")
            .mkString(" AND ")
          s"""c$r AS (SELECT c.vec_id, c.qv, $minD AS min_d2
             |  FROM qz c, $froms WHERE $excls),
             |s$r AS (SELECT vec_id, qv, min_d2 FROM c$r
             |  ORDER BY min_d2 DESC, vec_id LIMIT 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |m0 AS (SELECT vec_id, e,
           |    list_max(list_transform(e, x -> abs(x))) AS m FROM v),
           |qz AS (SELECT vec_id,
           |    CASE WHEN m = 0 THEN list_transform(e, x -> 0::BIGINT)
           |    ELSE list_transform(e, x ->
           |      floor(x * 127.0::DOUBLE / m + 0.5::DOUBLE)::BIGINT)
           |    END AS qv
           |  FROM m0),
           |s1 AS (SELECT vec_id, qv, 0::BIGINT AS min_d2 FROM qz
           |  ORDER BY vec_id LIMIT 1),
           |$steps
           |${(1 to 5).map(r =>
              s"SELECT $r::BIGINT AS rank, vec_id, min_d2::BIGINT AS min_d2 FROM s$r")
              .mkString("\n UNION ALL ")}
           |ORDER BY rank""".stripMargin
      }),

    // d-dimensional skyline (d = 3: price × recency × urgency) via the
    // grid partition-and-prune form — q263's aggregate+window trick is
    // structurally 2-D. Cell summaries are a keyed aggregate (bounded
    // by the grid, not the corpus); the exact dominance join runs on
    // the pruned near-frontier band only. Urgency recodes '1-URGENT'…
    // '5-LOW' so bigger = more urgent and all three criteria maximize.
    // Oracle: the O(n²) NOT EXISTS statement of the same frontier.
    "q267_skyline_3d" -> Q(
      (s, d) => {
        val o = t(s, d, "orders").select(
          col("o_orderkey"),
          floor(col("o_totalprice") * 100).as("cents"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"),
          (lit(6L) - substring(col("o_orderpriority"), 1, 1).cast("long"))
            .as("urg"))
        operators.Skyline.skylineN(o, Seq("cents", "d", "urg"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH o AS (SELECT o_orderkey,
             |    floor(o_totalprice * 100)::BIGINT AS cents,
             |    date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS d,
             |    (6 - CAST(o_orderpriority[1] AS BIGINT))::BIGINT AS urg
             |  FROM orders)
             |SELECT o_orderkey, cents, d, urg FROM o p
             |WHERE NOT EXISTS (SELECT 1 FROM o q
             |  WHERE q.cents >= p.cents AND q.d >= p.d AND q.urg >= p.urg
             |    AND (q.cents > p.cents OR q.d > p.d OR q.urg > p.urg))
             |ORDER BY o_orderkey""".stripMargin)),

    // full-corpus Lloyd's k-means (k=4, 3 fixed rounds) over int8
    // vectors: per round one scan with the centroid matrix inlined
    // (sort_array argmin over k structs) + a k-row per-dim sum
    // aggregate — corpus never shuffles. The +127 shift makes every
    // dim-sum non-negative so Spark's truncating `div` and DuckDB's
    // flooring `//` agree; ties go to the smaller cid in both. Oracle:
    // the 3 assignment/update rounds unrolled (parallel unnests zip
    // positionally for the per-dim sums, as the BPE oracle does).
    "q268_kmeans_lloyd" -> Q(
      (s, d) => operators.Similarity.kmeansLloyd(
          t(s, d, "embeddings"), "vec_id", "embedding", k = 4, rounds = 3)
        .orderBy(col("cid"), col("dim_idx")),
      Some {
        s"""WITH ${kmeansOracleCtes(k = 4, rounds = 3)},
           |cnt AS (SELECT cid, count(*)::BIGINT AS n FROM a3 GROUP BY cid),
           |f AS (SELECT cid, unnest(range(1, len(qv) + 1)) - 1 AS dim_idx,
           |    unnest(qv) AS c_val FROM c3)
           |SELECT f.cid, f.dim_idx::BIGINT AS dim_idx, f.c_val::BIGINT AS c_val,
           |  coalesce(cnt.n, 0)::BIGINT AS n_points
           |FROM f LEFT JOIN cnt ON f.cid = cnt.cid
           |ORDER BY f.cid, f.dim_idx""".stripMargin
      }),

    // online cluster routing: the q268 centroids (batch-trained) route
    // a LIVE embedding stream — the model-inference deployment shape:
    // the assignment is a pure per-row projection (the same codegen'd
    // sort_array argmin the training rounds use), so it runs on the
    // stream unchanged with NO state store; per-cluster volumes and
    // exact integer inertia are aggregated from the drained routing
    // table. Oracle: the unrolled training rounds + one assignment
    // pass over every vector against the final centroids.
    "q271_streaming_kmeans_route" -> Q(
      (s, d) => {
        val (cm, _) = operators.Similarity.kmeansLloydRun(
          t(s, d, "embeddings"), "vec_id", "embedding", k = 4, rounds = 3)
        val name = "graft_stream_kmeans_q271"
        s.catalog.dropTempView(name)
        val stream = s.readStream
          .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
          .parquet(graft.streaming.EventStreams.sourceDir(s"$d/embeddings.parquet"))
        val qz = operators.Similarity.quantizeInt8(stream, "vec_id", "embedding")
          .select(col("vec_id"), col("qvec"))
        // the SAME router expression the training rounds used — one
        // definition, so the tie-break can never diverge
        val best = operators.Similarity.nearestCentroid(cm, col("qvec"))
        val routed = qz.select(
          col("vec_id"),
          best.getField("c").as("cid"),
          best.getField("d").as("d2"))
        graft.streaming.EventStreams.drainToTable(s, routed, name)
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n_assigned"), sum(col("d2")).as("inertia"))
          .orderBy(col("cid"))
      },
      Some {
        s"""WITH ${kmeansOracleCtes(k = 4, rounds = 3)},
           |d4 AS (SELECT p.vec_id, c.cid,
           |    list_sum([(p.qv[j] - c.qv[j]) * (p.qv[j] - c.qv[j])
           |      for j in range(1, len(p.qv) + 1)]) AS d2
           |  FROM qz p, c3 c),
           |a4 AS (SELECT vec_id, cid, d2 FROM (
           |    SELECT vec_id, cid, d2,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
           |    FROM d4) WHERE rn = 1)
           |SELECT cid, count(*)::BIGINT AS n_assigned,
           |  sum(d2)::BIGINT AS inertia
           |FROM a4 GROUP BY cid ORDER BY cid""".stripMargin
      }),

    // 3-column z-order rewrite (q79's two-column sibling): interleave
    // custkey × orderdate × totalprice at stride 3, one range-shuffle
    // write, then read back through a 3-D box predicate — content must
    // round-trip bit-exactly vs the same predicate on the original
    // table; per-file span bounds on all three dims are Round9Spec's
    // assertion, normalize exactness past 2^53 likewise
    "q269_zorder3_layout" -> Q(
      (s, d) => {
        val base = scratchDir("graft_zorder3_query")
        graft.operators.Layout.zorderWriteN(
          t(s, d, "orders"),
          Seq("o_custkey", "o_orderdate", "o_totalprice"),
          s"$base/out", numFiles = 8)
        s.read.parquet(s"$base/out")
          .filter(col("o_custkey").between(100, 500) &&
            col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-01-01").cast("timestamp") &&
            col("o_totalprice") >= 50000.0)
          .agg(
            count(lit(1)).as("n_orders"),
            usum(col("o_totalprice")).as("total_price_micros"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
      },
      Some("""SELECT count(*) AS n_orders,
             |  sum(floor(o_totalprice*1e6)::BIGINT)::BIGINT AS total_price_micros,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM orders
             |WHERE o_custkey BETWEEN 100 AND 500
             |  AND o_orderdate >= TIMESTAMP '1995-01-01'
             |  AND o_orderdate < TIMESTAMP '1996-01-01'
             |  AND o_totalprice >= 50000.0""".stripMargin)))

  /** DuckDB rendering of [[graft.operators.Similarity.kmeansLloyd]]'s
    * training rounds, unrolled (shared by q268's centroid dump and
    * q271's streaming-routing oracle): qz = the int8 quantization, c0 =
    * the k-smallest-id seeds, each round i an assignment (argmin by
    * (d2, cid) via row_number), per-(cid, dim) +127-shifted sums
    * (parallel unnests zip positionally), and the floor-mean rebuild
    * with the empty-cluster hold. Yields CTEs up to `c<rounds>` and the
    * final round's assignment `a<rounds>`. */
  private def kmeansOracleCtes(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""d$i AS (SELECT p.vec_id, p.qv, c.cid,
         |    list_sum([(p.qv[j] - c.qv[j]) * (p.qv[j] - c.qv[j])
         |      for j in range(1, len(p.qv) + 1)]) AS d2
         |  FROM qz p, c${i - 1} c),
         |a$i AS (SELECT vec_id, qv, cid FROM (
         |    SELECT vec_id, qv, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |    FROM d$i) WHERE rn = 1),
         |n$i AS (SELECT cid, j, sum(v + 127)::BIGINT AS s,
         |    count(*)::BIGINT AS n
         |  FROM (SELECT cid, unnest(range(1, len(qv) + 1)) AS j,
         |        unnest(qv) AS v FROM a$i)
         |  GROUP BY cid, j),
         |c$i AS (SELECT p.cid,
         |    CASE WHEN max(n.cid) IS NULL THEN p.qv
         |      ELSE list(n.s // n.n - 127 ORDER BY n.j) END AS qv
         |  FROM c${i - 1} p LEFT JOIN n$i n ON p.cid = n.cid
         |  GROUP BY p.cid, p.qv)""".stripMargin
    }.mkString(",\n")
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |m0 AS (SELECT vec_id, e,
       |    list_max(list_transform(e, x -> abs(x))) AS m FROM v),
       |qz AS (SELECT vec_id,
       |    CASE WHEN m = 0 THEN list_transform(e, x -> 0::BIGINT)
       |    ELSE list_transform(e, x ->
       |      floor(x * 127.0::DOUBLE / m + 0.5::DOUBLE)::BIGINT)
       |    END AS qv
       |  FROM m0),
       |c0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS cid, qv
       |  FROM (SELECT vec_id, qv FROM qz ORDER BY vec_id LIMIT $k)),
       |$steps""".stripMargin
  }

  /** DuckDB rendering of [[graft.operators.TextAnalysis.bpeTrain]]'s
    * merge loop, unrolled: s0 = per-word symbol strings (doubly-space-
    * delimited, weighted by word frequency); each round i derives pair
    * counts p_i/c_i, the argmax b_i (freq desc, pair lexicographic), and
    * the merged corpus s_i via the same boundary-safe replace the Spark
    * side applies. DuckDB zips parallel unnests positionally, which
    * yields the adjacent-pair join without a posexplode self-join. */
  private def bpeOracleSteps(merges: Int): String = {
    val head = s"""WITH words AS MATERIALIZED (
             |  SELECT w, count(*)::BIGINT AS f FROM (
             |    SELECT unnest(string_split(trim(lower(text)), ' ')) AS w
             |    FROM documents)
             |  WHERE w <> '' GROUP BY w),
             |s0 AS MATERIALIZED (SELECT w, ' ' ||
             |    array_to_string([w[i] for i in range(1, len(w) + 1)], '  ')
             |    || ' ' AS sym, f FROM words)""".stripMargin
    val steps = (1 to merges).map { i =>
      s"""t$i AS MATERIALIZED (SELECT string_split(trim(sym), '  ') AS t, f FROM s${i - 1}),
         |p$i AS MATERIALIZED (SELECT unnest(t[1:len(t)-1]) AS lhs, unnest(t[2:len(t)]) AS rhs, f
         |  FROM t$i WHERE len(t) >= 2),
         |c$i AS MATERIALIZED (SELECT lhs, rhs, sum(f)::BIGINT AS freq FROM p$i GROUP BY lhs, rhs),
         |b$i AS MATERIALIZED (SELECT lhs, rhs, freq FROM c$i ORDER BY freq DESC, lhs, rhs LIMIT 1),
         |s$i AS MATERIALIZED (SELECT w, replace(sym,
         |    ' ' || (SELECT lhs FROM b$i) || '  ' || (SELECT rhs FROM b$i) || ' ',
         |    ' ' || (SELECT lhs || rhs FROM b$i) || ' ') AS sym, f FROM s${i - 1})""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** The deterministic SCD2 history q124/q132 share: customer snapshot +
    * a residue-keyed change batch (custkey%10==1 update, ==2 delete,
    * ==3 insert under a shifted key) through [[graft.operators.Cdc.scd2Apply]]. */
  private def q124Scd2History(s: SparkSession, d: String): DataFrame = {
    val snap = t(s, d, "customer").select(
      col("c_custkey"),
      floor(col("c_acctbal") * lit(1e6)).cast("long").as("acctbal_micros"),
      col("c_mktsegment"))
    val updates = snap.filter(col("c_custkey") % 10 === 1)
      .select(col("c_custkey"), lit("upsert").as("op"),
        (col("acctbal_micros") + lit(100000000L)).as("acctbal_micros"),
        col("c_mktsegment"))
    val deletes = snap.filter(col("c_custkey") % 10 === 2)
      .select(col("c_custkey"), lit("delete").as("op"),
        lit(null).cast("long").as("acctbal_micros"),
        lit(null).cast("string").as("c_mktsegment"))
    val inserts = snap.filter(col("c_custkey") % 10 === 3)
      .select((col("c_custkey") + lit(1000000L)).as("c_custkey"),
        lit("upsert").as("op"),
        (col("c_custkey") * lit(1000L)).as("acctbal_micros"),
        lit("NEW").as("c_mktsegment"))
    operators.Cdc.scd2Apply(
      snap, updates.unionByName(deletes).unionByName(inserts),
      "c_custkey", Seq("acctbal_micros", "c_mktsegment"))
  }

  private def q58BucketedJoin(
      s: SparkSession, d: String, reuseLayout: Boolean): DataFrame = {
    val suffix = d.replaceAll("[^a-z0-9]", "_") + "_" + bucketRunTag
    val (lt, ot) = (s"li_bkt_$suffix", s"ord_bkt_$suffix")
    if (!(reuseLayout && s.catalog.tableExists(lt) && s.catalog.tableExists(ot))) {
      graft.operators.Bucketing.writeBucketed(
        t(s, d, "lineitem").withColumnRenamed("l_orderkey", "orderkey"),
        lt, "orderkey", numBuckets = 8)
      graft.operators.Bucketing.writeBucketed(
        t(s, d, "orders").withColumnRenamed("o_orderkey", "orderkey"),
        ot, "orderkey", numBuckets = 8)
    }
    graft.operators.Bucketing.bucketedJoin(s, lt, ot, "orderkey")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Shared Louvain oracle prefix (q278/q280): the co-purchase graph,
    * degree/2m tables, and `rounds` unrolled synchronous integer-gain
    * rounds ending at `l<rounds>`. */
  /** One unrolled synchronous integer-gain Louvain round — the SINGLE
    * source of the gain formula and the smallest-label tie-break for
    * both oracle generators: the level-1 (weight-1) chain and q281's
    * contracted weighted level. `p` prefixes the scratch CTE names so
    * two levels coexist in one WITH chain; `lbl(i)` names round i's
    * label CTE; `wAgg` is the edge-weight aggregate; `skipSelfLoops`
    * excludes (node, node) rows from move scores — the contracted
    * graph's self-mass counts toward strength/Σtot only. */
  private def louvainRoundSql(
      r: Int,
      p: String,
      lbl: Int => String,
      eTbl: String,
      degTbl: String,
      mTbl: String,
      wAgg: String,
      skipSelfLoops: Boolean): String = {
    val guard = if (skipSelfLoops) s"\n  WHERE $eTbl.src <> $eTbl.dst" else ""
    s"""${p}st$r AS (SELECT label, sum(deg)::BIGINT AS stot
       |  FROM ${lbl(r - 1)} JOIN $degTbl USING (node) GROUP BY label),
       |${p}wic$r AS (SELECT $eTbl.dst AS node, l.label AS label,
       |    $wAgg AS wic
       |  FROM $eTbl JOIN ${lbl(r - 1)} l ON $eTbl.src = l.node$guard
       |  GROUP BY 1, 2),
       |${p}cd$r AS (SELECT node, label, max(wic)::BIGINT AS wic FROM (
       |    SELECT node, label, wic FROM ${p}wic$r
       |    UNION ALL SELECT node, label, 0 FROM ${lbl(r - 1)})
       |  GROUP BY node, label),
       |${p}sc$r AS (SELECT c.node, c.label,
       |    $mTbl.w2m * c.wic - d.deg *
       |      (s.stot - CASE WHEN c.label = l.label
       |                     THEN d.deg ELSE 0 END) AS f
       |  FROM ${p}cd$r c JOIN ${p}st$r s USING (label)
       |    JOIN $degTbl d ON c.node = d.node
       |    JOIN ${lbl(r - 1)} l ON c.node = l.node, $mTbl),
       |${lbl(r)} AS MATERIALIZED (SELECT node, label FROM (
       |  SELECT node, label, row_number() OVER (
       |    PARTITION BY node ORDER BY f DESC, label) AS rn FROM ${p}sc$r)
       |  WHERE rn = 1)""".stripMargin
  }

  private def louvainOracleCtes(rounds: Int): String = {
    val steps = (1 to rounds).map(r =>
      louvainRoundSql(r, p = "", lbl = i => s"l$i",
        eTbl = "e", degTbl = "deg", mTbl = "m",
        wAgg = "count(*)::BIGINT", skipSelfLoops = false)).mkString(",\n")
    // AS MATERIALIZED on every multiply-referenced CTE: DuckDB inlines
    // plain CTEs per reference, so the unrolled rounds would otherwise
    // recompute the co-occurrence self-join a combinatorially growing
    // number of times (the two-LEVEL oracle made this visible)
    s"""WITH it AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
       |  WHERE l_partkey % 10 = 0),
       |e AS MATERIALIZED (SELECT DISTINCT a.item AS src, b.item AS dst
       |  FROM it a JOIN it b ON a.g = b.g AND a.item <> b.item),
       |deg AS MATERIALIZED (SELECT src AS node, count(*)::BIGINT AS deg FROM e GROUP BY 1),
       |m AS (SELECT sum(deg)::BIGINT AS w2m FROM deg),
       |l0 AS MATERIALIZED (SELECT node, node AS label FROM deg),
       |$steps""".stripMargin
  }

  /** Round-10 surface: the portable quantile sketch completing the
    * fixed-memory sketch family, the last beeline-typable Hive write
    * idiom (dynamic-partition overwrite), IVF-PQ residual composition,
    * the streaming quantile store, and deterministic Louvain. */
  private val roundTenSurface: Seq[(String, Q)] = Seq(
    // KLL-style mergeable quantile sketch (functions/KllSketch.scala):
    // the dataset-card latency/length-quantile path at 100 TB — one
    // pass, k·log(N/k) longs per partial, mergeable across shards.
    // Like every compaction sketch, WHICH items survive depends on
    // processing/merge order, so the entry pins only the
    // order-independent guarantees (the q173/q272 Misra–Gries
    // discipline): n is the exact row count, and for each target rank
    // the TRUE rank of the sketch's estimate provably lies within
    // [target − eb, target + est_wv − 1 + eb] where eb is the sketch's
    // self-accounted worst-case rank-error bound (sum of compacted
    // weights — a theorem for any order, so within_bound is
    // deterministically TRUE, not an empirical margin). The exact
    // quantile value restated by both engines keeps the hashed payload
    // meaningful; the verification-side global sort and rank pass are
    // NOT the production path (benchFn times sketch + extraction only).
    "q274_kll_quantiles" -> Q(
      (s, d) => {
        val v = t(s, d, "events").select(floor(col("value") * lit(1e6)).as("v"))
        val sk = v.agg(F.kllSketch(col("v"), lit(1L), 256).as("sk"))
        TextAnalysis.kllVerifyAgainstExact(v,
            TextAnalysis.kllQuantileEstimates(sk, Seq(10, 250, 500, 750, 990)))
          .orderBy(col("phi_pm"))
      },
      Some("""WITH v AS (SELECT floor(value * 1e6)::BIGINT AS v FROM events),
             |c AS (SELECT count(*)::BIGINT AS n FROM v),
             |p(phi_pm) AS (VALUES (10), (250), (500), (750), (990)),
             |t AS (SELECT phi_pm::BIGINT AS phi_pm, n,
             |    greatest(1, (phi_pm * n) // 1000)::BIGINT AS target_rank
             |  FROM p, c),
             |s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
             |SELECT phi_pm, n, target_rank, s.v AS exact_q,
             |  true AS within_bound
             |FROM t JOIN s ON s.rn = t.target_rank
             |ORDER BY phi_pm""".stripMargin),
      // production path: sketch + ≤k·levels-row extraction, no global
      // sort, no second corpus pass
      benchFn = Some((s, d) => {
        val v = t(s, d, "events").select(floor(col("value") * lit(1e6)).as("v"))
        TextAnalysis.kllQuantileEstimates(
          v.agg(F.kllSketch(col("v"), lit(1L), 256).as("sk")),
          Seq(10, 250, 500, 750, 990))
      })),

    // Hive dynamic-partition INSERT OVERWRITE … PARTITION (col) — the
    // last beeline-typable Hive write idiom on the reference's S21
    // surface (/root/reference/playground.py:672-677 exposes the full
    // HiveQL prompt) after q273's static multi-insert: the partition
    // value comes from the DATA (trailing select column), and in
    // dynamic overwrite mode a second insert replaces ONLY the
    // partitions it produces rows for. The entry proves exactly that:
    // insert all five priority partitions, then overwrite just
    // '1-URGENT' with its even-keyed half — the readback must show the
    // other four partitions at full content (a static-mode overwrite
    // would have dropped them; semantics locked in Round10Spec).
    // Managed parquet in the per-JVM warehouse (the q273 pattern);
    // integer cents keep the readback hash-exact. Scale: a dynamic
    // overwrite shuffles only the rows being written and touches only
    // the produced partitions' files — exactly how a daily partition
    // refresh behaves on a 100 TB table.
    "q275_dynamic_partition_insert" -> Q(
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("q275_orders")
        s.sql("DROP TABLE IF EXISTS q275_part")
        s.sql("""CREATE TABLE q275_part (o_orderkey BIGINT, cents BIGINT)
                |USING parquet PARTITIONED BY (prio STRING)""".stripMargin)
        val key = "spark.sql.sources.partitionOverwriteMode"
        val prev = s.conf.get(key, "static")
        s.conf.set(key, "dynamic")
        try {
          s.sql("""INSERT OVERWRITE TABLE q275_part PARTITION (prio)
                  |SELECT o_orderkey,
                  |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
                  |  o_orderpriority AS prio
                  |FROM q275_orders""".stripMargin)
          s.sql("""INSERT OVERWRITE TABLE q275_part PARTITION (prio)
                  |SELECT o_orderkey,
                  |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
                  |  o_orderpriority AS prio
                  |FROM q275_orders
                  |WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0""".stripMargin)
        } finally s.conf.set(key, prev)
        s.sql("""SELECT prio, count(*) AS n,
                |  CAST(sum(cents) AS BIGINT) AS sum_cents,
                |  min(o_orderkey) AS min_key
                |FROM q275_part GROUP BY prio ORDER BY prio""".stripMargin)
      },
      // second branch: GROUP BY so an empty input yields NO row (an
      // empty partition has no readback row), and a fallback to insert
      // #1's full 1-URGENT content when the even-keyed subset is empty
      // — a dynamic overwrite that produces zero rows replaces NOTHING,
      // so an unconditional filtered branch would diverge on a fixture
      // with no even-keyed urgent orders
      Some("""SELECT o_orderpriority AS prio, count(*) AS n,
             |  sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents,
             |  min(o_orderkey) AS min_key
             |FROM orders WHERE o_orderpriority <> '1-URGENT'
             |GROUP BY o_orderpriority
             |UNION ALL
             |SELECT o_orderpriority AS prio, count(*) AS n,
             |  sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents,
             |  min(o_orderkey) AS min_key
             |FROM orders
             |WHERE o_orderpriority = '1-URGENT' AND (o_orderkey % 2 = 0
             |  OR NOT EXISTS (SELECT 1 FROM orders
             |       WHERE o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0))
             |GROUP BY o_orderpriority
             |ORDER BY prio""".stripMargin)),

    // IVF-PQ residual composition (Similarity.ivfPqTopK): coarse cells
    // from 4 designated centroids, residual PQ with m=8 × 16 codes,
    // nprobe=2 — recall@5-gated against the exact integer-L2 ground
    // truth with the same harness as q96 (the report an IVF-PQ's
    // m/codes/nprobe budget is tuned from). Everything is exact BIGINT
    // (milli-quantized vectors, integer residuals/tables/ranks), so the
    // recall table is engine-deterministic, not an empirical margin.
    "q276_ivfpq_recall" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        Similarity.recallAtK(
            Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
              centroidIds = 0L until 4L, trainIds = 0L until 16L,
              m = 8, k = 5, nprobe = 2),
            Similarity.l2TopK(emb, queries, "vec_id", "embedding", k = 5),
            k = 5)
          .orderBy(col("q_id"))
      },
      Some("""WITH v AS (SELECT vec_id,
             |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
             |  FROM embeddings),
             |cent AS (SELECT vec_id AS cid, iv AS civ FROM v WHERE vec_id < 4),
             |ad AS (SELECT v.vec_id, cent.cid, cent.civ,
             |    list_sum([(v.iv[j]-cent.civ[j])*(v.iv[j]-cent.civ[j])
             |      for j in range(1,65)])::BIGINT AS dd
             |  FROM v, cent),
             |asg AS (SELECT vec_id, cid AS cell, civ FROM (
             |  SELECT vec_id, cid, civ, row_number() OVER (
             |    PARTITION BY vec_id ORDER BY dd, cid) AS rn FROM ad)
             |  WHERE rn = 1),
             |rv AS (SELECT a.vec_id, a.cell,
             |    [v.iv[j]-a.civ[j] for j in range(1,65)] AS riv
             |  FROM asg a JOIN v ON v.vec_id = a.vec_id),
             |cb AS (SELECT s, vec_id AS c, riv[s*8+1 : s*8+8] AS cvec
             |  FROM rv, range(8) t(s) WHERE vec_id < 16),
             |subs AS (SELECT vec_id, cell, s, riv[s*8+1 : s*8+8] AS sv
             |  FROM rv, range(8) t(s)),
             |d2r AS (SELECT vec_id, cell, s, c,
             |    list_sum([(sv[j]-cvec[j])*(sv[j]-cvec[j])
             |      for j in range(1,9)])::BIGINT AS d2
             |  FROM subs JOIN cb USING (s)),
             |enc AS (SELECT vec_id, cell, s, c AS code FROM (
             |  SELECT vec_id, cell, s, c, row_number() OVER (
             |    PARTITION BY vec_id, s ORDER BY d2, c) AS rn FROM d2r)
             |  WHERE rn = 1),
             |qp AS (SELECT vec_id AS q_id, cid AS cell, civ FROM (
             |  SELECT vec_id, cid, civ, row_number() OVER (
             |    PARTITION BY vec_id ORDER BY dd, cid) AS rn
             |  FROM ad WHERE vec_id < 10) WHERE rn <= 2),
             |qrv AS (SELECT q.q_id, q.cell,
             |    [v.iv[j]-q.civ[j] for j in range(1,65)] AS qriv
             |  FROM qp q JOIN v ON v.vec_id = q.q_id),
             |qsubs AS (SELECT q_id, cell, s, qriv[s*8+1 : s*8+8] AS sv
             |  FROM qrv, range(8) t(s)),
             |dt AS (SELECT q_id, cell, s, c AS code,
             |    list_sum([(sv[j]-cvec[j])*(sv[j]-cvec[j])
             |      for j in range(1,9)])::BIGINT AS d2
             |  FROM qsubs JOIN cb USING (s)),
             |sc AS (SELECT dt.q_id, e.vec_id AS n_id, sum(dt.d2)::BIGINT AS adc
             |  FROM enc e JOIN dt ON e.cell = dt.cell AND e.s = dt.s
             |    AND e.code = dt.code AND dt.q_id <> e.vec_id
             |  GROUP BY dt.q_id, e.vec_id),
             |pq AS (SELECT q_id, n_id FROM (
             |  SELECT q_id, n_id, row_number() OVER (
             |    PARTITION BY q_id ORDER BY adc, n_id) AS rank FROM sc)
             |  WHERE rank <= 5),
             |ed AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             |    list_sum([(q.iv[j]-c.iv[j])*(q.iv[j]-c.iv[j])
             |      for j in range(1,65)])::BIGINT AS d2
             |  FROM v q JOIN v c ON q.vec_id <> c.vec_id WHERE q.vec_id < 10),
             |ex AS (SELECT q_id, n_id FROM (
             |  SELECT q_id, n_id, row_number() OVER (
             |    PARTITION BY q_id ORDER BY d2, n_id) AS rank FROM ed)
             |  WHERE rank <= 5),
             |hits AS (SELECT ex.q_id, count(*)::BIGINT AS n_hit
             |  FROM ex JOIN pq ON ex.q_id = pq.q_id AND ex.n_id = pq.n_id
             |  GROUP BY ex.q_id)
             |SELECT q.q_id, 5::BIGINT AS k, coalesce(n_hit, 0)::BIGINT AS n_hit,
             |  floor(1e6 * (coalesce(n_hit, 0)::DOUBLE / 5))::BIGINT AS recall_ppm
             |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN hits USING (q_id)
             |ORDER BY q_id""".stripMargin)),

    // streaming KLL (DocStreams.startKll): per-micro-batch document-
    // length values folded into a crash-safe parquet sketch store —
    // completing the streaming sketch triad (CMS q97, HLL q259). The
    // store's (v, w) items re-ingest as an exact merge and the meta row
    // accumulates the additive rank-error bound, so the drained store
    // is a valid sketch of the whole corpus whatever the batch split —
    // the entry pins the same order-independent guarantees as q274
    // (exact n and target ranks, theorem-true within_bound), never the
    // order-dependent item multiset. k=64 so multi-level compaction is
    // actually exercised at this corpus size.
    "q277_streaming_kll" -> Q(
      (s, d) => {
        // per-JVM tagged dir + fresh per-run store: the q259 pattern
        // (concurrent Bench/Verify must not share the symlink, and a
        // reused store would re-add rows — KLL replays like CMS, not HLL)
        val dir = java.nio.file.Paths.get(scratchDir("graft_q277_docs"))
        java.nio.file.Files.createDirectories(dir)
        val link = dir.resolve("docs.parquet")
        java.nio.file.Files.deleteIfExists(link)
        java.nio.file.Files.createSymbolicLink(
          link, java.nio.file.Paths.get(s"$d/documents.parquet"))
        val base = freshScratchDir("graft_q277_store")
        val q = graft.streaming.DocStreams.startKll(
          graft.streaming.DocStreams.readStream(s, dir.toString),
          s"$base/store", s"$base/ckpt")
        EventStreams.drain(q)
        val store = s.read.parquet(s"$base/store/current")
        val skDf = store.agg(
            sum(when(col("w") > 0, col("w")).otherwise(0L)).as("n"),
            sum(col("err")).as("err_bound"),
            collect_list(when(col("w") > 0, struct(col("v"), col("w"))))
              .as("items"))
          .select(struct(col("n"), col("err_bound"), col("items")).as("sk"))
        TextAnalysis.kllVerifyAgainstExact(
            t(s, d, "documents").select(col("n_chars").as("v")),
            TextAnalysis.kllQuantileEstimates(skDf, Seq(100, 500, 900)))
          .orderBy(col("phi_pm"))
      },
      Some("""WITH v AS (SELECT n_chars AS v FROM documents),
             |c AS (SELECT count(*)::BIGINT AS n FROM v),
             |p(phi_pm) AS (VALUES (100), (500), (900)),
             |t AS (SELECT phi_pm::BIGINT AS phi_pm, n,
             |    greatest(1, (phi_pm * n) // 1000)::BIGINT AS target_rank
             |  FROM p, c),
             |s AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
             |SELECT phi_pm, n, target_rank, s.v AS exact_q,
             |  true AS within_bound
             |FROM t JOIN s ON s.rn = t.target_rank
             |ORDER BY phi_pm""".stripMargin)),

    // deterministic fixed-round Louvain phase-1 (Graph.louvainRounds)
    // on the q255 co-purchase graph: all-integer modularity gain
    // (2m·w_iC − deg_i·Σtot(C∖{i})) with smallest-label ties, so every
    // round is an unrollable relational statement — the
    // degree-penalized upgrade over plain label propagation, which
    // floods across sparse bridges. Two rounds keep the oracle's
    // unrolled CTE chain readable; the operator takes the same
    // checkpointEvery lineage knob as LPA for deep production runs.
    "q278_louvain_communities" -> Q(
      (s, d) => {
        // localCheckpoint + shared count: the co-occurrence self-join
        // feeds w2m and every round's deg/Σtot/w_iC subtrees —
        // materialize it once (the q280/q281 pattern) instead of
        // re-running the group-explode per consumer.
        // NOTE (applies to q278/q280/q281): localCheckpoint pins the
        // ~1.8 M-row edge list in the block manager — right at sf0.1,
        // wrong at 100x where it would pin a corpus-scale artifact in
        // executor memory. Production runs should set a reliable
        // checkpoint dir (sparkContext.setCheckpointDir) and use
        // df.checkpoint() here plus the operators' checkpointEvery knob.
        val edges = operators.Graph.coOccurrenceEdges(
          t(s, d, "lineitem").filter(col("l_partkey") % 10 === 0),
          "l_orderkey", "l_partkey").localCheckpoint()
        operators.Graph.louvainRounds(edges, rounds = 2,
            w2mKnown = Some(edges.count()))
          .orderBy(col("node"))
      },
      Some(s"""${louvainOracleCtes(2)}
              |SELECT node::BIGINT AS node, label::BIGINT AS community FROM l2
              |ORDER BY node""".stripMargin)),

    // per-source KLL sketches: kll_sketch under groupBy(source) — the
    // grouped ObjectHashAggregate path (per-group partial buffers +
    // per-group merges) the global q274 form never exercises, exactly
    // q272's rationale for per-source Misra–Gries. Per source the entry
    // pins the same order-independent guarantees: exact n_s, exact
    // per-source median target and value, theorem-true within_bound.
    // The 100 TB story: one pass computes every source's length
    // quantile summary as sources × (k·levels) bounded state — the
    // per-source dataset-card stat without a per-source sort.
    "q279_kll_by_source" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents")
        val sks = docs.groupBy(col("source"))
          .agg(F.kllSketch(col("n_chars"), lit(1L), 64).as("sk"))
        TextAnalysis.kllVerifyAgainstExact(
            docs.select(col("source"), col("n_chars").as("v")),
            TextAnalysis.kllQuantileEstimatesBy(sks, Seq("source"), Seq(500)),
            groupCols = Seq("source"))
          .orderBy(col("source"))
      },
      Some("""WITH v AS (SELECT source, n_chars AS v FROM documents),
             |c AS (SELECT source, count(*)::BIGINT AS n FROM v GROUP BY source),
             |t AS (SELECT source, n,
             |    greatest(1, (500 * n) // 1000)::BIGINT AS target_rank FROM c),
             |s AS (SELECT source, v, row_number() OVER (
             |    PARTITION BY source ORDER BY v) AS rn FROM v)
             |SELECT t.source, 500::BIGINT AS phi_pm, n, target_rank,
             |  s.v AS exact_q, true AS within_bound
             |FROM t JOIN s ON s.source = t.source AND s.rn = t.target_rank
             |ORDER BY t.source""".stripMargin)),

    // exact integer modularity of the q278 Louvain partition
    // (Graph.modularityByCommunity): Newman's Q scaled by (2m)² so each
    // community's contribution 2m·w_in_dir − Σtot² is a BIGINT — the
    // score a community detection's round count / algorithm choice is
    // tuned by, with no float anywhere. Communities of size 1 keep
    // w_in_dir = 0 via the left join. Oracle extends the shared
    // unrolled-Louvain CTEs with the two community aggregates.
    "q280_modularity" -> Q(
      (s, d) => {
        // localCheckpoint: the co-occurrence self-join feeds the Louvain
        // rounds and the modularity aggregates — materialize it once
        // instead of recomputing the group-explode per consumer. 2m is
        // one count() over the materialized edges, shared by both
        // operators instead of each running its own eager collect.
        val edges = operators.Graph.coOccurrenceEdges(
          t(s, d, "lineitem").filter(col("l_partkey") % 10 === 0),
          "l_orderkey", "l_partkey").localCheckpoint()
        val w2m = Some(edges.count())
        operators.Graph.modularityByCommunity(
            edges,
            operators.Graph.louvainRounds(edges, rounds = 2, w2mKnown = w2m),
            w2mKnown = w2m)
          .orderBy(col("community"))
      },
      Some(s"""${louvainOracleCtes(2)},
              |bc AS (SELECT l.label AS community, count(*)::BIGINT AS csize,
              |    sum(deg.deg)::BIGINT AS stot
              |  FROM l2 l JOIN deg ON l.node = deg.node GROUP BY 1),
              |wi AS (SELECT a.label AS community, count(*)::BIGINT AS w_in_dir
              |  FROM e JOIN l2 a ON e.src = a.node
              |    JOIN l2 b ON e.dst = b.node AND a.label = b.label
              |  GROUP BY 1)
              |SELECT bc.community::BIGINT AS community, csize,
              |  coalesce(w_in_dir, 0)::BIGINT AS w_in_dir, stot,
              |  (m.w2m * coalesce(w_in_dir, 0) - stot * stot)::BIGINT AS contrib
              |FROM bc LEFT JOIN wi USING (community), m
              |ORDER BY community""".stripMargin)),

    // full two-level Louvain (Graph.contractCommunities +
    // louvainRoundsWeighted): level-1 communities contract into a
    // weighted super-graph — self-loops carry each community's internal
    // mass, so strengths and 2m are preserved EXACTLY and the level-2
    // rounds continue the SAME modularity objective — then every node
    // maps to its super-community. This is the actual multi-level
    // production algorithm (phase 1 + phase 2 + phase 1), not just the
    // single-level pass; each level's edge list SHRINKS, so deep
    // hierarchies cost less per level, not more. All-integer weighted
    // gains keep every round relationally unrollable.
    "q281_louvain_two_level" -> Q(
      (s, d) => {
        val edges = operators.Graph.coOccurrenceEdges(
          t(s, d, "lineitem").filter(col("l_partkey") % 10 === 0),
          "l_orderkey", "l_partkey").localCheckpoint()
        val w2m = Some(edges.count())
        // l1 feeds both the contraction and the final mapping —
        // materialize once (its 2x3-shuffle lineage would recompute)
        val l1 = operators.Graph.louvainRounds(edges, rounds = 2, w2mKnown = w2m)
          .localCheckpoint()
        val lv2 = operators.Graph.louvainRoundsWeighted(
          operators.Graph.contractCommunities(edges, l1),
          rounds = 2, w2mKnown = w2m)
        l1.select(col("node"), col("community").as("c1"))
          .join(lv2.select(col("node").as("c1"), col("community")), "c1")
          .select(col("node"), col("community"))
          .orderBy(col("node"))
      },
      Some {
        // level-2 rounds from the SAME template as level 1 — weighted
        // aggregate, self-loops excluded from move scores
        val wsteps = (1 to 2).map(r =>
          louvainRoundSql(r, p = "y", lbl = i => s"y$i",
            eTbl = "se", degTbl = "sdeg", mTbl = "sm",
            wAgg = "sum(se.w)::BIGINT", skipSelfLoops = true)).mkString(",\n")
        s"""${louvainOracleCtes(2)},
           |se AS MATERIALIZED (SELECT a.label AS src, b.label AS dst, count(*)::BIGINT AS w
           |  FROM e JOIN l2 a ON e.src = a.node
           |    JOIN l2 b ON e.dst = b.node
           |  GROUP BY 1, 2),
           |sdeg AS MATERIALIZED (SELECT src AS node, sum(w)::BIGINT AS deg FROM se GROUP BY 1),
           |sm AS (SELECT sum(w)::BIGINT AS w2m FROM se),
           |y0 AS MATERIALIZED (SELECT node, node AS label FROM sdeg),
           |$wsteps
           |SELECT l2.node::BIGINT AS node, y2.label::BIGINT AS community
           |FROM l2 JOIN y2 ON l2.label = y2.node
           |ORDER BY node""".stripMargin
      }))

  /** One unrolled NN-Descent round for the q282 oracle: reverse edges
    * capped at k per node by (d2, id), general graph g = nn ∪ rev, the
    * local join proposing neighbor-of-neighbor pairs, exact integer-L2
    * rescoring against the vector CTE `v`, then per-node top-k over
    * old ∪ new — the exact relational statement
    * [[graft.operators.Similarity.nnDescent]] executes. */
  private def nnDescentRoundSql(r: Int, k: Int, p: String = ""): String =
    s"""${p}rev$r AS (SELECT nbr AS id, id AS nbr FROM (
       |    SELECT id, nbr, row_number() OVER (
       |      PARTITION BY nbr ORDER BY d2, id) AS rr FROM ${p}nn${r - 1})
       |  WHERE rr <= $k),
       |${p}g$r AS MATERIALIZED (SELECT DISTINCT id, nbr FROM (
       |    SELECT id, nbr FROM ${p}nn${r - 1} UNION ALL SELECT id, nbr FROM ${p}rev$r)),
       |${p}cd$r AS (SELECT DISTINCT a.nbr AS id, b.nbr AS nbr
       |  FROM ${p}g$r a JOIN ${p}g$r b ON a.id = b.id AND a.nbr <> b.nbr),
       |${p}sc$r AS (SELECT c.id, c.nbr,
       |    list_sum([(x.iv[j]-y.iv[j])*(x.iv[j]-y.iv[j])
       |      for j in range(1,65)])::BIGINT AS d2
       |  FROM ${p}cd$r c JOIN ${p}v x ON x.id = c.id JOIN ${p}v y ON y.id = c.nbr),
       |${p}nn$r AS MATERIALIZED (SELECT id, nbr, d2 FROM (
       |    SELECT id, nbr, d2, row_number() OVER (
       |      PARTITION BY id ORDER BY d2, nbr) AS rn
       |    FROM (SELECT DISTINCT id, nbr, d2 FROM (
       |      SELECT id, nbr, d2 FROM ${p}nn${r - 1}
       |      UNION ALL SELECT id, nbr, d2 FROM ${p}sc$r)))
       |  WHERE rn <= $k)""".stripMargin

  /** One unigram-LM EM round (or the final encode pass when `next` is
    * empty) for the q284 oracle: price the current vocab `v${r - 1}` in
    * integer micro-nats, build each word's position-lattice edge table,
    * run `squarings` min-plus self-squarings over identity-seeded edges
    * (all-pairs min segmentation cost), mark on-path positions by
    * cs + ce = total, choose the deterministic (longest, lexicographic)
    * optimal edge per on-path position — exactly the statements
    * [[graft.operators.TextAnalysis.unigramChosenEdges]] executes. When
    * `next`, re-count pieces from chosen edges and PRUNE to the
    * `vocabTarget` best non-chars (chars never pruned). */
  /** The shared unigram-training seed CTEs (q284 hard EM, q295 soft EM):
    * word frequencies from ONE corpus scan, char counts (never pruned),
    * the top-60 2..4-gram seed, the seed vocab `v0`, and the per-word
    * position/candidate-edge/identity tables the lattice DP runs on. */
  private val unigramSeedOracleCtes: String =
    """WITH words AS MATERIALIZED (
      |  SELECT w, count(*)::BIGINT AS f FROM (
      |    SELECT unnest(string_split(trim(lower(text)), ' ')) AS w
      |    FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |chars AS MATERIALIZED (
      |  SELECT piece, sum(f)::BIGINT AS cnt FROM (
      |    SELECT unnest([w[i] for i in range(1, len(w)+1)]) AS piece, f
      |    FROM words)
      |  GROUP BY piece),
      |seedg AS (
      |  SELECT piece, cnt FROM (
      |    SELECT piece, sum(f)::BIGINT AS cnt FROM (
      |      SELECT unnest([w[i:i+1] for i in range(1, len(w))]) AS piece, f
      |      FROM words WHERE len(w) >= 2
      |      UNION ALL
      |      SELECT unnest([w[i:i+2] for i in range(1, len(w)-1)]), f
      |      FROM words WHERE len(w) >= 3
      |      UNION ALL
      |      SELECT unnest([w[i:i+3] for i in range(1, len(w)-2)]), f
      |      FROM words WHERE len(w) >= 4)
      |    GROUP BY piece)
      |  ORDER BY cnt DESC, piece LIMIT 60),
      |v0 AS MATERIALIZED (
      |  SELECT piece, cnt, true AS is_char FROM chars
      |  UNION ALL SELECT piece, cnt, false AS is_char FROM seedg),
      |pos AS MATERIALIZED (
      |  SELECT w, unnest(range(1, len(w)+1))::BIGINT AS i FROM words),
      |cand AS MATERIALIZED (
      |  SELECT w, i, i+1 AS j, substr(w, i, 1) AS piece FROM pos
      |  UNION ALL SELECT w, i, i+2, substr(w, i, 2) FROM pos
      |    WHERE i+1 <= len(w)
      |  UNION ALL SELECT w, i, i+3, substr(w, i, 3) FROM pos
      |    WHERE i+2 <= len(w)
      |  UNION ALL SELECT w, i, i+4, substr(w, i, 4) FROM pos
      |    WHERE i+3 <= len(w)),
      |idr AS MATERIALIZED (
      |  SELECT w, unnest(range(1, len(w)+2))::BIGINT AS i FROM words)""".stripMargin

  /** The min-plus self-squaring chain `d${r}1..d$r$squarings` over the
    * identity-seeded edge table `d${r}0` — shared by the hard (q284) and
    * soft (q295) unigram oracles. */
  private def unigramSquaringSql(r: Int, squarings: Int): String =
    (1 to squarings).map { s =>
      val prev = s"d$r${s - 1}"
      s"""d$r$s AS MATERIALIZED (SELECT w, i, j, min(cost)::BIGINT AS cost FROM (
         |    SELECT w, i, j, cost FROM $prev
         |    UNION ALL
         |    SELECT a.w, a.i, b.j, a.cost + b.cost
         |    FROM $prev a JOIN $prev b ON a.w = b.w AND a.j = b.i)
         |  GROUP BY w, i, j)""".stripMargin
    }.mkString(",\n")

  private def unigramRoundSql(
      r: Int, squarings: Int, vocabTarget: Int, next: Boolean): String = {
    val sq = unigramSquaringSql(r, squarings)
    val m = if (!next) "" else s""",
       |cn$r AS (SELECT piece, sum(f)::BIGINT AS cnt
       |  FROM ch$r JOIN words USING (w) GROUP BY piece),
       |v$r AS MATERIALIZED (
       |  SELECT c.piece, coalesce(cn.cnt, 0)::BIGINT AS cnt, true AS is_char
       |  FROM chars c LEFT JOIN cn$r cn USING (piece)
       |  UNION ALL
       |  SELECT piece, cnt, false AS is_char FROM (
       |    SELECT cn.piece, cn.cnt FROM cn$r cn
       |    ANTI JOIN chars c ON cn.piece = c.piece
       |    ORDER BY cn.cnt DESC, cn.piece LIMIT $vocabTarget))""".stripMargin
    s"""p$r AS (SELECT piece,
       |    floor(1e6 * ln((t.t + t.v)::DOUBLE / (cnt + 1)::DOUBLE))::BIGINT AS cost
       |  FROM v${r - 1}, (SELECT sum(cnt)::BIGINT AS t, count(*)::BIGINT AS v
       |                   FROM v${r - 1}) t),
       |e$r AS MATERIALIZED (SELECT c.w, c.i, c.j, c.piece, p.cost
       |  FROM cand c JOIN p$r p USING (piece)),
       |d${r}0 AS (SELECT w, i, j, cost FROM e$r
       |  UNION ALL SELECT w, i, i AS j, 0::BIGINT AS cost FROM idr),
       |$sq,
       |de$r AS MATERIALIZED (SELECT w, i AS pos, cost AS ce
       |  FROM d$r$squarings WHERE j = len(w) + 1),
       |op$r AS (SELECT ds.w, ds.pos
       |  FROM (SELECT w, j AS pos, cost AS cs FROM d$r$squarings WHERE i = 1) ds
       |  JOIN de$r de ON ds.w = de.w AND ds.pos = de.pos
       |  JOIN (SELECT w, ce AS tc FROM de$r WHERE pos = 1) t ON ds.w = t.w
       |  WHERE ds.cs + de.ce = t.tc),
       |ch$r AS MATERIALIZED (SELECT w, i, j, piece, cost FROM (
       |    SELECT e.w, e.i, e.j, e.piece, e.cost, row_number() OVER (
       |      PARTITION BY e.w, e.i ORDER BY e.j DESC, e.piece) AS rn
       |    FROM e$r e
       |      JOIN de$r a ON e.w = a.w AND e.j = a.pos
       |      JOIN de$r b ON e.w = b.w AND e.i = b.pos
       |      JOIN op$r o ON e.w = o.w AND e.i = o.pos
       |    WHERE e.cost + a.ce = b.ce)
       |  WHERE rn = 1)$m""".stripMargin
  }

  /** Shared oracle prefix of q282/q288/q290/q291/q292: milli-quantized
    * vectors (optionally `where`-filtered — the q291 base corpus), the
    * two-hash-system bucketed init, and `rounds` unrolled NN-Descent
    * rounds ending at `nn<rounds>` — the k-NN GRAPH the entries build. */
  private def nnGraphOracleCtes(
      k: Int, rounds: Int, where: String = "",
      p: String = "", lead: String = "WITH "): String =
    s"""$lead${p}v AS MATERIALIZED (SELECT vec_id AS id,
       |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
       |  FROM embeddings$where),
       |${p}ib AS (SELECT DISTINCT a.id, b.id AS nbr,
       |    list_sum([(a.iv[j]-b.iv[j])*(a.iv[j]-b.iv[j])
       |      for j in range(1,65)])::BIGINT AS d2
       |  FROM ${p}v a JOIN ${p}v b ON a.id <> b.id AND (
       |    ((a.id * 2654435761) >> 16) % 16 = ((b.id * 2654435761) >> 16) % 16
       |    OR ((a.id * 2246822519) >> 16) % 16 = ((b.id * 2246822519) >> 16) % 16)),
       |${p}nn0 AS MATERIALIZED (SELECT id, nbr, d2 FROM (
       |    SELECT id, nbr, d2, row_number() OVER (
       |      PARTITION BY id ORDER BY d2, nbr) AS rn FROM ${p}ib)
       |  WHERE rn <= $k),
       |${(1 to rounds).map(nnDescentRoundSql(_, k, p)).mkString(",\n")}""".stripMargin

  /** One unrolled beam-search round for the q288/q290/q291 oracles:
    * expand the beam's undirected graph neighbors (`gse`), rescore
    * exactly against the query vector (looked up in `qv` — the full
    * corpus when the queries are outside the graph's own vector CTE, as
    * in q291's insert), keep the best `beam` per query over old ∪ new —
    * the statements [[graft.operators.Similarity.graphSearchTopK]]
    * executes. */
  private def graphSearchRoundSql(
      r: Int, beam: Int, qv: String = "v", p: String = "g"): String =
    s"""${p}cd$r AS (SELECT DISTINCT b.q_id, g.nbr AS n_id
       |  FROM ${p}b${r - 1} b JOIN ${p}se g ON b.n_id = g.id),
       |${p}sc$r AS (SELECT c.q_id, c.n_id,
       |    list_sum([(x.iv[j]-y.iv[j])*(x.iv[j]-y.iv[j])
       |      for j in range(1,65)])::BIGINT AS d2
       |  FROM ${p}cd$r c JOIN $qv x ON x.id = c.q_id JOIN v y ON y.id = c.n_id
       |  WHERE c.q_id <> c.n_id),
       |${p}b$r AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn
       |    FROM (SELECT DISTINCT q_id, n_id, d2 FROM (
       |      SELECT q_id, n_id, d2 FROM ${p}b${r - 1}
       |      UNION ALL SELECT q_id, n_id, d2 FROM ${p}sc$r)))
       |  WHERE rn <= $beam)""".stripMargin

  /** The full q288-shape serve oracle — NN-Descent chain, beam search
    * (beam 12, 3 rounds) from entries 0..3, recall@5 vs exact — with the
    * query-set predicate injected (`pred` renders it for a given table
    * alias): q288 serves q.id < 10 against its self-contained rebuild,
    * q290 serves a DIFFERENT query set against the PERSISTED graph — the
    * stored artifact must restate to the same relational chain. */
  private def graphAnnServeOracleSql(pred: String => String): String =
    s"""${nnGraphOracleCtes(15, 4)},
       |gse AS MATERIALIZED (SELECT id, nbr FROM nn4
       |  UNION SELECT nbr AS id, id AS nbr FROM nn4),
       |gb0 AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn
       |    FROM (SELECT q.id AS q_id, c.id AS n_id,
       |        list_sum([(q.iv[j]-c.iv[j])*(q.iv[j]-c.iv[j])
       |          for j in range(1,65)])::BIGINT AS d2
       |      FROM v q JOIN v c ON c.id IN (0, 1, 2, 3) AND c.id <> q.id
       |      WHERE ${pred("q")}))
       |  WHERE rn <= 12),
       |${graphSearchRoundSql(1, 12)},
       |${graphSearchRoundSql(2, 12)},
       |${graphSearchRoundSql(3, 12)},
       |res AS (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rank FROM gb3)
       |  WHERE rank <= 5),
       |ed AS (SELECT a.id AS q_id, b.id AS n_id,
       |    list_sum([(a.iv[j]-b.iv[j])*(a.iv[j]-b.iv[j])
       |      for j in range(1,65)])::BIGINT AS d2
       |  FROM v a JOIN v b ON ${pred("a")} AND a.id <> b.id),
       |ex AS (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rank FROM ed)
       |  WHERE rank <= 5),
       |hits AS (SELECT ex.q_id, count(*)::BIGINT AS n_hit
       |  FROM ex JOIN res ON ex.q_id = res.q_id AND ex.n_id = res.n_id
       |  GROUP BY ex.q_id)
       |SELECT q.q_id, 5::BIGINT AS k,
       |  coalesce(n_hit, 0)::BIGINT AS n_hit,
       |  floor(1e6 * (coalesce(n_hit, 0)::DOUBLE / 5))::BIGINT AS recall_ppm
       |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN hits USING (q_id)
       |ORDER BY q_id""".stripMargin

  /** Round-11 surface: the graph-based ANN shape (NN-Descent k-NN-graph
    * construction) completing the similarity pillar. */
  private val roundElevenSurface: Seq[(String, Q)] = Seq(
    // deterministic NN-Descent k-NN graph (Similarity.nnDescent): two-
    // hash-table bucketed init + 4 neighbor-of-neighbor rounds at k=15,
    // recall@15-gated against the exact integer-L2 ground truth for
    // EVERY node with the q96/q276 harness — the report a k-NN-graph
    // build's round count is tuned from (the measured curve on this
    // corpus: 0.12 init → 0.66 @2 → 0.90 @4 rounds; genuinely uniform
    // 64-dim data is graph-ANN's worst case, so the curve itself is the
    // honest artifact). All-integer d2 with (d2, id) ties makes both
    // engines replay the rounds bit-identically. The 100 TB story: init
    // is bucket-keyed (never global all-pairs), candidate generation is
    // one keyed self-join bounded by n·(2k)² rows/round, rescoring is
    // two corpus-keyed joins — no cartesian anywhere on the production
    // path (the exact ground-truth pass is verification-only; benchFn
    // times the graph build alone).
    "q282_nn_descent_recall" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.recallAtK(
            Similarity.nnDescent(emb, "vec_id", "embedding",
              k = 15, rounds = 4, initBuckets = 16, checkpointEvery = 1),
            Similarity.l2TopK(emb, emb, "vec_id", "embedding", k = 15),
            k = 15)
          .orderBy(col("q_id"))
      },
      Some(s"""${nnGraphOracleCtes(15, 4)},
              |ed AS (SELECT a.id AS q_id, b.id AS n_id,
              |    list_sum([(a.iv[j]-b.iv[j])*(a.iv[j]-b.iv[j])
              |      for j in range(1,65)])::BIGINT AS d2
              |  FROM v a JOIN v b ON a.id <> b.id),
              |ex AS (SELECT q_id, n_id FROM (
              |    SELECT q_id, n_id, row_number() OVER (
              |      PARTITION BY q_id ORDER BY d2, n_id) AS rank FROM ed)
              |  WHERE rank <= 15),
              |hits AS (SELECT ex.q_id, count(*)::BIGINT AS n_hit
              |  FROM ex JOIN nn4 ON ex.q_id = nn4.id AND ex.n_id = nn4.nbr
              |  GROUP BY ex.q_id)
              |SELECT q.q_id, 15::BIGINT AS k,
              |  coalesce(n_hit, 0)::BIGINT AS n_hit,
              |  floor(1e6 * (coalesce(n_hit, 0)::DOUBLE / 15))::BIGINT AS recall_ppm
              |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN hits USING (q_id)
              |ORDER BY q_id""".stripMargin),
      // production path: the graph build alone — recall evaluation (the
      // exact all-pairs ground truth) is a tuning-time artifact, never
      // the 100 TB path
      benchFn = Some((s, d) =>
        Similarity.nnDescent(t(s, d, "embeddings"), "vec_id", "embedding",
          k = 15, rounds = 4, initBuckets = 16, checkpointEvery = 1))),

    // Leiden refinement (Graph.leidenRefine) on the q278 Louvain
    // partition: each community re-partitions FROM SINGLETONS with moves
    // proposed only across intra-community edges (degrees/Σtot/2m stay
    // global) — the phase that fixes Louvain's published badly-connected-
    // communities defect before contraction freezes it. The oracle
    // REUSES the exact louvainRoundSql template with the intra-edge
    // table substituted, so both refinement rounds are the same
    // relational statement the level-1 rounds are — bit-identical in
    // both engines. Refined labels provably never cross a phase-1
    // boundary (spec-locked); the bridge-community split and the
    // modularity comparison live in Round11Spec. Scale: the intra-edge
    // subset is built by two keyed joins once and only shrinks; each
    // round costs a Louvain round on that subset.
    "q283_leiden_refine" -> Q(
      (s, d) => {
        val edges = operators.Graph.coOccurrenceEdges(
          t(s, d, "lineitem").filter(col("l_partkey") % 10 === 0),
          "l_orderkey", "l_partkey").localCheckpoint()
        val w2m = Some(edges.count())
        val l1 = operators.Graph.louvainRounds(edges, rounds = 2, w2mKnown = w2m)
          .localCheckpoint()
        val refined = operators.Graph.leidenRefine(edges, l1, rounds = 2,
          w2mKnown = w2m)
        l1.select(col("node"), col("community"))
          .join(refined.select(col("node"), col("community").as("refined")), "node")
          .orderBy(col("node"))
      },
      Some {
        val zsteps = (1 to 2).map(r =>
          louvainRoundSql(r, p = "z", lbl = i => s"z$i",
            eTbl = "ei", degTbl = "deg", mTbl = "m",
            wAgg = "count(*)::BIGINT", skipSelfLoops = false)).mkString(",\n")
        s"""${louvainOracleCtes(2)},
           |ei AS MATERIALIZED (SELECT e.src, e.dst FROM e
           |  JOIN l2 a ON e.src = a.node
           |  JOIN l2 b ON e.dst = b.node AND a.label = b.label),
           |z0 AS MATERIALIZED (SELECT node, node AS label FROM deg),
           |$zsteps
           |SELECT l2.node::BIGINT AS node, l2.label::BIGINT AS community,
           |  z2.label::BIGINT AS refined
           |FROM l2 JOIN z2 ON l2.node = z2.node
           |ORDER BY node""".stripMargin
      }),

    // Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer training —
    // the third production tokenizer family next to BPE (q241) and
    // WordPiece (q244) — applied as per-doc encode stats (the q243
    // shape). Seed vocab = corpus chars + top-60 substrings; two hard-EM
    // rounds: Viterbi E-step as a min-plus matrix-squaring DP over each
    // word's position lattice (3 squarings cover this corpus's <= 8-char
    // words), count M-step pruning to the 40 best non-char pieces. All
    // costs are integer micro-nats priced by the q253 DSIR double-cast
    // discipline, so training and encoding replay bit-identically in
    // both engines; the oracle restates every round including the
    // pruning. Scale: ONE corpus scan builds the word-frequency table;
    // every EM round runs on distinct-words x positions^2 tables, so
    // per-round cost is corpus-size-independent exactly like BPE.
    "q284_unigram_lm_encode" -> Q(
      (s, d) => TextAnalysis
        .unigramEncodeStats(t(s, d, "documents"), "doc_id", "text",
          maxGram = 4, seedTopK = 60, vocabTarget = 40, emRounds = 2,
          squarings = 3)
        .orderBy(col("doc_id")),
      Some(s"""$unigramSeedOracleCtes,
              |${unigramRoundSql(1, 3, 40, next = true)},
              |${unigramRoundSql(2, 3, 40, next = true)},
              |${unigramRoundSql(3, 3, 40, next = false)},
              |wt AS (SELECT w, count(*)::BIGINT AS w_tokens,
              |    sum(cost)::BIGINT AS w_cost
              |  FROM ch3 GROUP BY w),
              |dw AS (SELECT doc_id,
              |    unnest(string_split(trim(lower(text)), ' ')) AS w
              |  FROM documents),
              |agg AS (SELECT doc_id, count(*)::BIGINT AS n_words,
              |    sum(w_tokens)::BIGINT AS n_unigram_tokens,
              |    sum(w_cost)::BIGINT AS cost_micro
              |  FROM dw JOIN wt USING (w) WHERE w <> '' GROUP BY doc_id)
              |SELECT d.doc_id, coalesce(agg.n_words, 0)::BIGINT AS n_words,
              |  coalesce(n_unigram_tokens, 0)::BIGINT AS n_unigram_tokens,
              |  coalesce(cost_micro, 0)::BIGINT AS cost_micro
              |FROM documents d LEFT JOIN agg USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // Theta/KMV set-operation sketches (ThetaSketch): union / intersect /
    // difference distinct-shingle estimates ACROSS datasets (eval split
    // vs train split) at sketch cost — the set-algebra member completing
    // the MG/CMS/HLL/KLL family; today this overlap question is answered
    // exact-only (q74 semi-join, q93 Bloom). The k-smallest-hash sample
    // is a deterministic function of the DISTINCT SET — order- and
    // merge-shape-independent under the fixed md5 hash64 — so the oracle
    // restates the sample sets bit-identically, not just bounds. Output
    // pins per op: sample size, theta cut, the KMV estimate (one exact
    // double product + divide + floor — IEEE-identical cross-engine),
    // the exact count (verification side), and the standard theta error
    // predicate |est − exact| ≤ 3·RSE(k)·|A∪B| at 380980 ppm — the
    // pinned literal both engines share (3/sqrt(62) = 0.381000…, so
    // the bound is ~20 ppm STRICTER than the exact 3-RSE constant;
    // parity is unaffected because the predicate is evaluated from the
    // same literal on both sides). benchFn times the sketch path. One
    // distinct-aggregate + global top-k per dataset (k rows per
    // partition cross the wire); every set op then runs on ≤ k-row
    // samples, and union is EXACT KMV composition — mergeable across
    // shards/days/tables.
    "q285_theta_set_sketches" -> Q(
      (s, d) => {
        val g = t(s, d, "documents")
          .select(col("doc_id"), explode(F.wordShingles(col("text"), 3)).as("g"))
        val ga = g.filter(col("doc_id") % 5 === 0)
        val gb = g.filter(col("doc_id") % 5 =!= 0)
        val ska = operators.ThetaSketch.sketch(ga, col("g"), 64).localCheckpoint()
        val skb = operators.ThetaSketch.sketch(gb, col("g"), 64).localCheckpoint()
        val ests = operators.ThetaSketch.estimateRow(ska, 64, "a")
          .unionByName(operators.ThetaSketch.estimateRow(skb, 64, "b"))
          .unionByName(operators.ThetaSketch.estimateRow(
            operators.ThetaSketch.union(ska, skb, 64), 64, "union"))
          .unionByName(operators.ThetaSketch.setOpRows(ska, skb, 64))
        // verification side: exact distinct counts per op (corpus-cost,
        // never the production path) + the 3RSE-of-union predicate
        val va = ga.select(F.hash64(col("g")).as("h")).distinct().localCheckpoint()
        val vb = gb.select(F.hash64(col("g")).as("h")).distinct().localCheckpoint()
        def en(df: DataFrame, op: String) =
          df.agg(count(lit(1)).as("exact_n")).select(lit(op).as("op"), col("exact_n"))
        val exact = en(va, "a")
          .unionByName(en(vb, "b"))
          .unionByName(en(va.unionByName(vb).distinct(), "union"))
          .unionByName(en(va.join(vb, "h"), "intersect"))
          .unionByName(en(va.join(vb, Seq("h"), "left_anti"), "diff_a_b"))
        val eu = va.unionByName(vb).distinct().agg(count(lit(1)).as("eu"))
        ests.join(exact, "op").crossJoin(eu)
          .select(col("op"), col("n_sample"), col("theta"), col("est"),
            col("exact_n"),
            (abs(col("est") - col("exact_n")) * lit(1000000L) <=
              lit(380980L) * col("eu")).as("within_3rse"))
          .orderBy(col("op"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
              |shg AS (SELECT doc_id, CASE WHEN len(t) >= 3
              |    THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]
              |    ELSE []::VARCHAR[] END AS sg FROM toks),
              |g AS (SELECT doc_id, unnest(sg) AS g FROM shg),
              |va AS MATERIALIZED (SELECT DISTINCT ${dHash64("g")} AS h
              |  FROM g WHERE doc_id % 5 = 0),
              |vb AS MATERIALIZED (SELECT DISTINCT ${dHash64("g")} AS h
              |  FROM g WHERE doc_id % 5 <> 0),
              |ska AS MATERIALIZED (SELECT h FROM va ORDER BY h LIMIT 64),
              |skb AS MATERIALIZED (SELECT h FROM vb ORDER BY h LIMIT 64),
              |sku AS (SELECT DISTINCT h FROM (
              |    SELECT h FROM ska UNION ALL SELECT h FROM skb)
              |  ORDER BY h LIMIT 64),
              |ta AS (SELECT count(*)::BIGINT AS n, CASE WHEN count(*) >= 64
              |    THEN max(h) ELSE 1152921504606846976 END AS th FROM ska),
              |tb AS (SELECT count(*)::BIGINT AS n, CASE WHEN count(*) >= 64
              |    THEN max(h) ELSE 1152921504606846976 END AS th FROM skb),
              |tu AS (SELECT count(*)::BIGINT AS n, CASE WHEN count(*) >= 64
              |    THEN max(h) ELSE 1152921504606846976 END AS th FROM sku),
              |tmin AS (SELECT least(ta.th, tb.th) AS th FROM ta, tb),
              |ni AS (SELECT count(*)::BIGINT AS n FROM ska JOIN skb USING (h),
              |  tmin WHERE h < tmin.th),
              |nd AS (SELECT count(*)::BIGINT AS n
              |  FROM (SELECT ska.h FROM ska ANTI JOIN skb USING (h)) dd,
              |  tmin WHERE dd.h < tmin.th),
              |ests AS (
              |  SELECT 'a' AS op, n AS n_sample, th AS theta,
              |    CASE WHEN n < 64 THEN n ELSE floor(63::DOUBLE *
              |      1152921504606846976::DOUBLE / th::DOUBLE)::BIGINT END AS est
              |  FROM ta
              |  UNION ALL SELECT 'b', n, th,
              |    CASE WHEN n < 64 THEN n ELSE floor(63::DOUBLE *
              |      1152921504606846976::DOUBLE / th::DOUBLE)::BIGINT END FROM tb
              |  UNION ALL SELECT 'union', n, th,
              |    CASE WHEN n < 64 THEN n ELSE floor(63::DOUBLE *
              |      1152921504606846976::DOUBLE / th::DOUBLE)::BIGINT END FROM tu
              |  UNION ALL SELECT 'intersect', ni.n, tmin.th,
              |    floor(ni.n::DOUBLE * 1152921504606846976::DOUBLE
              |      / tmin.th::DOUBLE)::BIGINT FROM ni, tmin
              |  UNION ALL SELECT 'diff_a_b', nd.n, tmin.th,
              |    floor(nd.n::DOUBLE * 1152921504606846976::DOUBLE
              |      / tmin.th::DOUBLE)::BIGINT FROM nd, tmin),
              |ex AS (
              |  SELECT 'a' AS op, count(*)::BIGINT AS exact_n FROM va
              |  UNION ALL SELECT 'b', count(*)::BIGINT FROM vb
              |  UNION ALL SELECT 'union', count(DISTINCT h)::BIGINT FROM (
              |    SELECT h FROM va UNION ALL SELECT h FROM vb)
              |  UNION ALL SELECT 'intersect', count(*)::BIGINT
              |    FROM va JOIN vb USING (h)
              |  UNION ALL SELECT 'diff_a_b', count(*)::BIGINT
              |    FROM va ANTI JOIN vb USING (h)),
              |eu AS (SELECT count(DISTINCT h)::BIGINT AS n FROM (
              |  SELECT h FROM va UNION ALL SELECT h FROM vb))
              |SELECT e.op, e.n_sample, e.theta, e.est, x.exact_n,
              |  (abs(e.est - x.exact_n) * 1000000 <= 380980 * eu.n) AS within_3rse
              |FROM ests e JOIN ex x USING (op), eu
              |ORDER BY op""".stripMargin),
      benchFn = Some((s, d) => {
        val g = t(s, d, "documents")
          .select(col("doc_id"), explode(F.wordShingles(col("text"), 3)).as("g"))
        val ska = operators.ThetaSketch.sketch(
          g.filter(col("doc_id") % 5 === 0), col("g"), 64).localCheckpoint()
        val skb = operators.ThetaSketch.sketch(
          g.filter(col("doc_id") % 5 =!= 0), col("g"), 64).localCheckpoint()
        operators.ThetaSketch.estimateRow(ska, 64, "a")
          .unionByName(operators.ThetaSketch.estimateRow(skb, 64, "b"))
          .unionByName(operators.ThetaSketch.estimateRow(
            operators.ThetaSketch.union(ska, skb, 64), 64, "union"))
          .unionByName(operators.ThetaSketch.setOpRows(ska, skb, 64))
      })),

    // baseline JPEG decode (multimodal/Jpeg.scala): the most common
    // real-world image container, completing the BMP/PNG/WAV/AVI codec
    // set (q65). Unlike q65's header-predicted oracle, this one predicts
    // the FULL DECODED PIXEL SUM from doc_id arithmetic: assets are
    // synthesized with per-block constant pixels (DC-only blocks round-
    // trip pixel-exactly through DCT/quant/IDCT — Round11Spec locks the
    // per-pixel round trip), so a wrong Huffman table, zigzag order,
    // dequantize step, IDCT scale, level shift OR edge-block clipping
    // fails the hash — the whole decode path is under the gate, not just
    // the SOF0 header. n_bytes is entropy-coded (not SQL-predictable)
    // and excluded, the q65 PNG treatment. Scale: encode and decode are
    // partition-preserving mapPartitions; payloads never touch the
    // driver; decode reduces to fixed-width stats immediately.
    "q286_jpeg_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeJpegAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeJpegStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id,
             |    (doc_id % 31 + 1)::BIGINT AS w, (doc_id % 17 + 1)::BIGINT AS h
             |  FROM documents),
             |blocks AS (SELECT doc_id, w, h, bx.x AS bx, by.y AS by
             |  FROM dims, range(0, 4) bx(x), range(0, 3) by(y)
             |  WHERE bx.x <= (w - 1) // 8 AND by.y <= (h - 1) // 8),
             |ps AS (SELECT doc_id,
             |    sum(((doc_id * 7 + bx * 13 + by * 29) % 256) *
             |        least(8, w - bx * 8) * least(8, h - by * 8))::BIGINT
             |      AS pixel_sum
             |  FROM blocks GROUP BY doc_id)
             |SELECT d.doc_id AS asset_id, 'jpeg' AS codec, w AS width,
             |  h AS height, 1::BIGINT AS n_components, ps.pixel_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // graph-ANN QUERY path (Similarity.graphSearchTopK): deterministic
    // beam search over the q282 NN-Descent graph — the greedy search
    // HNSW/NSG run, flattened to fixed synchronous rounds. Start at 4
    // designated entry points (the q276 designated-centroid
    // discipline), expand undirected neighbors each round, rescore with
    // exact integer d2, keep beam=12 per query; recall@5-gated against
    // exact L2 with the q96 harness — build (q282) + search (q288)
    // complete the production vector-search story. The oracle shares
    // the unrolled NN-Descent chain and unrolls the 3 search rounds.
    // Scale: the beam table is |queries|·beam rows; per round one keyed
    // edge join + one keyed vector join + one per-query window —
    // nothing corpus-sized, which is what the graph build buys. Bench
    // cost note: the entry is self-contained, so its timing is
    // dominated by REBUILDING the q282 graph (~3/4 of the wall); the
    // search rounds themselves are the small remainder. The production
    // amortization is now its own entry: q290 serves from the PERSISTED
    // index (AnnIndex.buildOrLoad), and its bench number is the pure
    // serving cost against the warm store.
    "q288_graph_ann_search" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        val g = Similarity.nnDescent(emb, "vec_id", "embedding",
          k = 15, rounds = 4, initBuckets = 16, checkpointEvery = 1)
        Similarity.recallAtK(
            Similarity.graphSearchTopK(g, emb, queries, "vec_id", "embedding",
              entryIds = 0L until 4L, beam = 12, rounds = 3, k = 5),
            Similarity.l2TopK(emb, queries, "vec_id", "embedding", k = 5),
            k = 5)
          .orderBy(col("q_id"))
      },
      Some(graphAnnServeOracleSql(t => s"$t.id < 10")),
      // production path: graph build + beam search, no exact ground truth
      benchFn = Some((s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.graphSearchTopK(
          Similarity.nnDescent(emb, "vec_id", "embedding",
            k = 15, rounds = 4, initBuckets = 16, checkpointEvery = 1),
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          entryIds = 0L until 4L, beam = 12, rounds = 3, k = 5)
      })),

    // FULL multi-level Leiden (Traag et al. 2019): phase-1 Louvain →
    // refinement from singletons (q283) → contraction on the REFINED
    // partition → weighted rounds on the super-graph → map back. The
    // difference from q281's Louvain pipeline is exactly Leiden's key
    // move: contracting on the refined partition keeps a badly-connected
    // community's parts as SEPARATE super-nodes, so later levels can
    // keep them apart (q281 contracts on the coarse partition and
    // freezes the defect — Round11Spec contrasts the two pipelines on a
    // bridge graph end-to-end). Same all-integer gains and unrolled
    // oracle CTEs; contraction preserves strengths/2m exactly, so the
    // level-2 rounds continue the same modularity objective. Scale:
    // each stage is a probed shape (q278 rounds, q283 refinement), and
    // the contracted level shrinks — deeper levels cost less.
    "q289_leiden_two_level" -> Q(
      (s, d) => {
        val edges = operators.Graph.coOccurrenceEdges(
          t(s, d, "lineitem").filter(col("l_partkey") % 10 === 0),
          "l_orderkey", "l_partkey").localCheckpoint()
        val w2m = Some(edges.count())
        val l1 = operators.Graph.louvainRounds(edges, rounds = 2, w2mKnown = w2m)
          .localCheckpoint()
        val refined = operators.Graph.leidenRefine(edges, l1, rounds = 2,
          w2mKnown = w2m).localCheckpoint()
        val lv2 = operators.Graph.louvainRoundsWeighted(
          operators.Graph.contractCommunities(edges, refined),
          rounds = 2, w2mKnown = w2m)
        refined.select(col("node"), col("community").as("c1"))
          .join(lv2.select(col("node").as("c1"), col("community")), "c1")
          .select(col("node"), col("community"))
          .orderBy(col("node"))
      },
      Some {
        val zsteps = (1 to 2).map(r =>
          louvainRoundSql(r, p = "z", lbl = i => s"z$i",
            eTbl = "ei", degTbl = "deg", mTbl = "m",
            wAgg = "count(*)::BIGINT", skipSelfLoops = false)).mkString(",\n")
        val wsteps = (1 to 2).map(r =>
          louvainRoundSql(r, p = "y", lbl = i => s"y$i",
            eTbl = "se", degTbl = "sdeg", mTbl = "sm",
            wAgg = "sum(se.w)::BIGINT", skipSelfLoops = true)).mkString(",\n")
        s"""${louvainOracleCtes(2)},
           |ei AS MATERIALIZED (SELECT e.src, e.dst FROM e
           |  JOIN l2 a ON e.src = a.node
           |  JOIN l2 b ON e.dst = b.node AND a.label = b.label),
           |z0 AS MATERIALIZED (SELECT node, node AS label FROM deg),
           |$zsteps,
           |se AS MATERIALIZED (SELECT a.label AS src, b.label AS dst,
           |    count(*)::BIGINT AS w
           |  FROM e JOIN z2 a ON e.src = a.node
           |    JOIN z2 b ON e.dst = b.node
           |  GROUP BY 1, 2),
           |sdeg AS MATERIALIZED (SELECT src AS node, sum(w)::BIGINT AS deg
           |  FROM se GROUP BY 1),
           |sm AS (SELECT sum(w)::BIGINT AS w2m FROM se),
           |y0 AS MATERIALIZED (SELECT node, node AS label FROM sdeg),
           |$wsteps
           |SELECT z2.node::BIGINT AS node, y2.label::BIGINT AS community
           |FROM z2 JOIN y2 ON z2.label = y2.node
           |ORDER BY node""".stripMargin
      }),

    // Hilbert-curve clustered rewrite (Layout.hilbertWrite) — the q79
    // z-order twin with strictly better locality at the same bit budget
    // (no Morton seams: consecutive curve positions are always grid
    // neighbors, so per-file min/max spans are tighter on both columns —
    // measured against zorderWrite on the same harness in Round11Spec).
    // The oracle is content equivalence through a 2-D box predicate: the
    // rewrite must lose/duplicate nothing whatever the layout. The curve
    // key is one codegen'd HilbertKey2 per row (an unrolled relational
    // formulation would double the expression tree per bit level); same
    // one-shuffle write shape as q79.
    "q287_hilbert_layout" -> Q(
      (s, d) => {
        val base = scratchDir("graft_hilbert_query")
        graft.operators.Layout.hilbertWrite(
          t(s, d, "orders"), "o_custkey", "o_orderdate", s"$base/out",
          numFiles = 8)
        s.read.parquet(s"$base/out")
          .filter(col("o_custkey").between(200, 900) &&
            col("o_orderdate") >= lit("1993-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1994-07-01").cast("timestamp"))
          .agg(
            count(lit(1)).as("n_orders"),
            usum(col("o_totalprice")).as("total_price_micros"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"))
      },
      Some("""SELECT count(*) AS n_orders,
             |  sum(floor(o_totalprice*1e6)::BIGINT)::BIGINT AS total_price_micros,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM orders
             |WHERE o_custkey BETWEEN 200 AND 900
             |  AND o_orderdate >= TIMESTAMP '1993-01-01'
             |  AND o_orderdate < TIMESTAMP '1994-07-01'""".stripMargin)))

  /** Per-JVM parquet dir for a persisted ANN index over the `d` corpus:
    * tagged by sf-dir so a JVM that verifies one scale and tests another
    * can never serve a stale graph. */
  private def annIndexDir(d: String, tag: String): String =
    scratchDir(s"graft_ann_index_${tag}_" + d.replaceAll("[^A-Za-z0-9]", "_"))

  /** CLONE of an immutable once-per-JVM sharded seed store — the
    * mutating lifecycle entries' (CDC q322, rebalance q329, maintenance
    * window q335) oracle-isolation discipline at file-copy cost: each
    * invocation must start from the pristine seed (the operation
    * MUTATES its store), but re-running nCells NN-Descent builds per
    * invocation made a bench pass overflow the driver's two-pass
    * budget. [[graft.streaming.IndexCdc.initShardedStore]] is
    * deterministic, so a file copy of the seeded store is BIT-IDENTICAL
    * to a fresh build (spec-locked) — the seed is built once per
    * (tag × sf-dir), kept immutable behind a `_SEEDED` marker, and each
    * caller gets a fresh wiped clone to mutate. */
  private val shardedSeedLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def ensureSeed(seedTag: String, d: String)(
      build: String => Unit): String = {
    val seedDir = scratchDir(
      s"graft_seed_${seedTag}_" + d.replaceAll("[^A-Za-z0-9]", "_"))
    shardedSeedLocks.computeIfAbsent(seedDir, _ => new Object).synchronized {
      val done = java.nio.file.Paths.get(seedDir, "_SEEDED")
      if (!java.nio.file.Files.exists(done)) {
        build(seedDir)
        java.nio.file.Files.createFile(done)
      }
    }
    seedDir
  }
  private def clonedSeedStore(seedTag: String, d: String, dstName: String)(
      build: String => Unit): String = {
    val seedDir = ensureSeed(seedTag, d)(build)
    val dst = java.nio.file.Paths.get(freshScratchDir(dstName))
    val src = java.nio.file.Paths.get(seedDir)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val rel = src.relativize(p)
      if (rel.toString != "_SEEDED") {
        val to = dst.resolve(rel)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(to)
        else java.nio.file.Files.copy(p, to,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    dst.toString
  }
  private def clonedShardedSeed(
      s: SparkSession,
      d: String,
      seedTag: String,
      dstName: String,
      assigned: => DataFrame,
      nCells: Int): String =
    clonedSeedStore(seedTag, d, dstName) { seedDir =>
      graft.streaming.IndexCdc.initShardedStore(s, seedDir, assigned,
        "vec_id", "embedding", nCells = nCells, graphK = 10,
        graphRounds = 3, initBuckets = 16)
    }

  /** The ONE build recipe for the `slay4` sharded-layered seed — every
    * consumer (q349 CDC, q350 growth report, q351 rebalance, q352
    * maintenance window, [[warmSeedStores]]) must seed with identical
    * knobs or the clone-equals-fresh-build invariant breaks. */
  private def slay4SeedBuild(s: SparkSession, assigned: DataFrame)(
      seedDir: String): Unit =
    graft.streaming.ShardedLayeredCdc.initShardedLayeredStore(s, seedDir,
      assigned, "vec_id", "embedding", nCells = 4, cap = 2, graphK = 10,
      graphRounds = 3, layerK = 5, layerRounds = 2, initBuckets = 16)

  /** Untimed warm hook for [[Bench]]: build the once-per-JVM immutable
    * SEED stores the mutating lifecycle entries (q322/q329/q335/q344)
    * clone from. Pass 2 never pays a seed build (the whole point of the
    * clone discipline); warming them moves the build out of pass 1 too,
    * so both timed passes measure the same warm per-batch shape and the
    * budget guard's pass-2 projection stops over-counting by the seed
    * cost. Exactly the q290/q291 warmup precedent (their buildOrLoad
    * stores), for the clone-seeded stores. */
  def warmSeedStores(s: SparkSession, d: String): Unit = {
    val emb = t(s, d, "embeddings")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
    ensureSeed("base4", d) { seedDir =>
      graft.streaming.IndexCdc.initShardedStore(s, seedDir,
        Similarity.ivfAssign(base, "vec_id", "embedding", cents)
          .localCheckpoint(),
        "vec_id", "embedding", nCells = 4, graphK = 10,
        graphRounds = 3, initBuckets = 16)
    }
    ensureSeed("full4", d) { seedDir =>
      graft.streaming.IndexCdc.initShardedStore(s, seedDir,
        Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
          .localCheckpoint(),
        "vec_id", "embedding", nCells = 4, graphK = 10,
        graphRounds = 3, initBuckets = 16)
    }
    ensureSeed("layered", d) { seedDir =>
      graft.streaming.LayeredCdc.initLayeredStore(s, seedDir, base,
        "vec_id", "embedding", cap = 3, k = 15, rounds = 4,
        layerK = 5, layerRounds = 2, initBuckets = 16)
    }
    ensureSeed("slay4", d)(slay4SeedBuild(s,
      Similarity.ivfAssign(base, "vec_id", "embedding", cents)
        .localCheckpoint()))
  }

  /** Round-12 surface: the persisted/served graph-ANN index story, the
    * Theta family's grouped + streaming forms, 4:2:0 JPEG, soft-EM
    * unigram training. */
  private val roundTwelveSurface: Seq[(String, Q)] = Seq(
    // SERVING from a persisted graph-ANN index (AnnIndex.buildOrLoad):
    // the q282 NN-Descent graph becomes a maintained parquet artifact —
    // built once (committed atomically behind _SUCCESS), READ BACK, and
    // beam-searched for a fresh query set (ids 10..19, disjoint from
    // q288's) with recall@5 gated against exact L2. This is the
    // production vector-search deployment shape q288's self-contained
    // entry deliberately is not: there the graph rebuild dominates the
    // wall (~3/4, documented); here the build is warmup/maintenance and
    // the TIMED body is pure serving — Bench warms the store, so the
    // recorded number is the amortized query cost. The oracle is the
    // same relational chain as q288 (the stored graph must equal the
    // rebuilt one content-wise — persistence is content-preserving).
    // Scale: serving is beam-sized keyed joins + per-query windows over
    // a parquet read; nothing corpus-sized beyond keyed vector lookups.
    "q290_ann_index_serve" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val stored = operators.AnnIndex.buildOrLoad(emb, "vec_id", "embedding",
          k = 15, rounds = 4, initBuckets = 16, indexDir = annIndexDir(d, "full"))
        val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        Similarity.recallAtK(
            Similarity.graphSearchTopK(stored, emb, queries, "vec_id", "embedding",
              entryIds = 0L until 4L, beam = 12, rounds = 3, k = 5),
            Similarity.l2TopK(emb, queries, "vec_id", "embedding", k = 5),
            k = 5)
          .orderBy(col("q_id"))
      },
      Some(graphAnnServeOracleSql(t => s"$t.id >= 10 AND $t.id < 20"))),

    // INCREMENTAL INSERT into the persisted index (AnnIndex.insertBatch):
    // fold a new-vector batch (vec_id % 10 = 9, ~10% of the corpus) into
    // the stored base graph without a rebuild — each new vector
    // beam-searches the stored graph for its neighborhood (the HNSW
    // insert pattern: search first, link second), takes its top-15 as
    // its adjacency, and PATCHES reverse edges (each touched base node
    // re-cut to top-15 over old ∪ new by the graph's own (d2, id)
    // order; base lists can only improve — the nnDescent invariant).
    // Output pins the ENTIRE patched graph (per-node degree + Σd2 —
    // both directions of the patch are under the hash) plus recall@15
    // of every new node against exact L2 over base∪batch. The oracle
    // unrolls the base build (filtered corpus), the 3 search rounds
    // (query vectors looked up in the full-corpus CTE), and the patch.
    // Scale: one beam search (|batch|·beam tables) + one per-node top-k
    // window — never corpus×corpus, and the stored graph is read.
    "q291_ann_index_insert" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val batch = emb.filter(col("vec_id") % 10 === 9)
        val stored = operators.AnnIndex.buildOrLoad(base, "vec_id", "embedding",
          k = 15, rounds = 4, initBuckets = 16, indexDir = annIndexDir(d, "base"))
        val patched = operators.AnnIndex.insertBatch(stored, base, batch,
          "vec_id", "embedding", k = 15, entryIds = 0L until 4L,
          beam = 24, searchRounds = 3).localCheckpoint()
        val summary = patched.groupBy(col("q_id").as("id"))
          .agg(count(lit(1)).as("n_nbrs"), sum(col("d2")).as("sum_d2"))
        val hits = patched.select(col("q_id"), col("n_id"))
          .join(Similarity.l2TopK(emb, batch, "vec_id", "embedding", k = 15)
            .select(col("q_id"), col("n_id")), Seq("q_id", "n_id"))
          .groupBy(col("q_id").as("id")).agg(count(lit(1)).as("n_hit"))
        summary.join(hits, Seq("id"), "left")
          .select(col("id"), (col("id") % 10 === 9).as("is_new"),
            col("n_nbrs"), col("sum_d2"),
            when(col("id") % 10 === 9, coalesce(col("n_hit"), lit(0L)))
              .otherwise(lit(null)).as("n_hit"))
          .orderBy(col("id"))
      },
      Some(s"""${nnGraphOracleCtes(15, 4, " WHERE vec_id % 10 <> 9")},
              |vq AS MATERIALIZED (SELECT vec_id AS id,
              |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
              |  FROM embeddings),
              |gse AS MATERIALIZED (SELECT id, nbr FROM nn4
              |  UNION SELECT nbr AS id, id AS nbr FROM nn4),
              |gb0 AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
              |    SELECT q_id, n_id, d2, row_number() OVER (
              |      PARTITION BY q_id ORDER BY d2, n_id) AS rn
              |    FROM (SELECT q.id AS q_id, c.id AS n_id,
              |        list_sum([(q.iv[j]-c.iv[j])*(q.iv[j]-c.iv[j])
              |          for j in range(1,65)])::BIGINT AS d2
              |      FROM vq q JOIN v c ON c.id IN (0, 1, 2, 3) AND c.id <> q.id
              |      WHERE q.id % 10 = 9))
              |  WHERE rn <= 24),
              |${graphSearchRoundSql(1, 24, qv = "vq")},
              |${graphSearchRoundSql(2, 24, qv = "vq")},
              |${graphSearchRoundSql(3, 24, qv = "vq")},
              |ne AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
              |    SELECT q_id, n_id, d2, row_number() OVER (
              |      PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM gb3)
              |  WHERE rn <= 15),
              |pg AS MATERIALIZED (SELECT id, nbr, d2 FROM (
              |    SELECT id, nbr, d2, row_number() OVER (
              |      PARTITION BY id ORDER BY d2, nbr) AS rn
              |    FROM (SELECT id, nbr, d2 FROM nn4
              |      UNION ALL SELECT n_id AS id, q_id AS nbr, d2 FROM ne
              |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM ne))
              |  WHERE rn <= 15),
              |ed AS (SELECT a.id AS q_id, b.id AS n_id,
              |    list_sum([(a.iv[j]-b.iv[j])*(a.iv[j]-b.iv[j])
              |      for j in range(1,65)])::BIGINT AS d2
              |  FROM vq a JOIN vq b ON a.id % 10 = 9 AND a.id <> b.id),
              |ex AS (SELECT q_id, n_id FROM (
              |    SELECT q_id, n_id, row_number() OVER (
              |      PARTITION BY q_id ORDER BY d2, n_id) AS rank FROM ed)
              |  WHERE rank <= 15),
              |hits AS (SELECT ex.q_id AS id, count(*)::BIGINT AS n_hit
              |  FROM ex JOIN pg ON ex.q_id = pg.id AND ex.n_id = pg.nbr
              |  GROUP BY ex.q_id)
              |SELECT s.id, (s.id % 10 = 9) AS is_new, s.n_nbrs, s.sum_d2,
              |  CASE WHEN s.id % 10 = 9 THEN coalesce(h.n_hit, 0) END AS n_hit
              |FROM (SELECT id, count(*)::BIGINT AS n_nbrs,
              |    sum(d2)::BIGINT AS sum_d2 FROM pg GROUP BY id) s
              |  LEFT JOIN hits h USING (id)
              |ORDER BY s.id""".stripMargin)),

    // index-health audit over the persisted graph (AnnIndex.healthAudit):
    // cumulative reachability from the serving entry points within R
    // undirected hops — the connectivity check a production ANN service
    // runs (a node outside the reachable set can never be returned, no
    // matter the beam width; q282's two-hash-system init exists
    // precisely to make this set the whole corpus). Reads the SAME
    // stored artifact as q290. Oracle: the BFS rounds unrolled over the
    // NN-Descent chain's undirected closure. Scale: O(hops) keyed
    // frontier joins + distincts, each checkpointed — the Graph-family
    // BFS shape; per-hop counts are aggregates over checkpointed sets.
    "q292_ann_index_health" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val stored = operators.AnnIndex.buildOrLoad(emb, "vec_id", "embedding",
          k = 15, rounds = 4, initBuckets = 16, indexDir = annIndexDir(d, "full"))
        operators.AnnIndex.healthAudit(stored, entryIds = 0L until 4L, hops = 4)
          .orderBy(col("hop"))
      },
      Some {
        val hopRounds = (1 to 4).map { r =>
          s"""r$r AS MATERIALIZED (SELECT DISTINCT node FROM (
             |    SELECT g.nbr AS node FROM r${r - 1} b JOIN gse g ON b.node = g.id
             |    UNION ALL SELECT node FROM r${r - 1}))""".stripMargin
        }.mkString(",\n")
        s"""${nnGraphOracleCtes(15, 4)},
           |gse AS MATERIALIZED (SELECT id, nbr FROM nn4
           |  UNION SELECT nbr AS id, id AS nbr FROM nn4),
           |nodes AS (SELECT DISTINCT id FROM gse),
           |tot AS (SELECT count(*)::BIGINT AS n_nodes FROM nodes),
           |r0 AS (SELECT id AS node FROM nodes WHERE id IN (0, 1, 2, 3)),
           |$hopRounds
           |SELECT hop, n_reached, n_nodes,
           |  n_reached * 1000000 // n_nodes AS reached_ppm
           |FROM (
           |  SELECT 0::BIGINT AS hop, count(*)::BIGINT AS n_reached FROM r0
           |  UNION ALL SELECT 1::BIGINT, count(*)::BIGINT FROM r1
           |  UNION ALL SELECT 2::BIGINT, count(*)::BIGINT FROM r2
           |  UNION ALL SELECT 3::BIGINT, count(*)::BIGINT FROM r3
           |  UNION ALL SELECT 4::BIGINT, count(*)::BIGINT FROM r4), tot
           |ORDER BY hop""".stripMargin
      }),

    // grouped Theta/KMV sketches (ThetaSketch.sketchBy): per-source
    // k-smallest distinct-hash samples + KMV estimates — the grouped
    // form completing the family matrix (MG q272, HLL q257, KLL q279;
    // Theta was batch-only q285). The per-source samples are
    // deterministic functions of each source's distinct shingle set, so
    // the oracle restates them exactly. Scale: one distinct-aggregate +
    // one per-group window — k rows per group cross the wire; any two
    // sources' overlap question then costs ≤ k-row set algebra.
    "q293_theta_by_source" -> Q(
      (s, d) => {
        val g = t(s, d, "documents")
          .select(col("source"), explode(F.wordShingles(col("text"), 3)).as("g"))
        operators.ThetaSketch.estimateRowsBy(
            operators.ThetaSketch.sketchBy(g, col("source"), col("g"), 64), 64)
          .select(col("g").as("source"), col("n_sample"), col("theta"), col("est"))
          .orderBy(col("source"))
      },
      Some("""WITH toks AS (
             |  SELECT source, string_split(trim(text), ' ') AS t FROM documents),
             |shg AS (SELECT source, CASE WHEN len(t) >= 3
             |    THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]
             |    ELSE []::VARCHAR[] END AS sg FROM toks),
             |h AS (SELECT DISTINCT source,
             |    ('0x'||substr(md5(g),1,15))::BIGINT AS h
             |  FROM (SELECT source, unnest(sg) AS g FROM shg)),
             |sk AS (SELECT source, h FROM (
             |    SELECT source, h, row_number() OVER (
             |      PARTITION BY source ORDER BY h) AS rn FROM h)
             |  WHERE rn <= 64),
             |agg AS (SELECT source, count(*)::BIGINT AS n_sample,
             |    max(h) AS hmax FROM sk GROUP BY source)
             |SELECT source, n_sample,
             |  CASE WHEN n_sample >= 64 THEN hmax
             |    ELSE 1152921504606846976 END AS theta,
             |  CASE WHEN n_sample < 64 THEN n_sample
             |    ELSE floor(63::DOUBLE * 1152921504606846976::DOUBLE
             |      / hmax::DOUBLE)::BIGINT END AS est
             |FROM agg ORDER BY source""".stripMargin)),

    // streaming Theta/KMV store (DocStreams.startTheta): per-batch KMV
    // samples union-merged into a parquet store by EXACT KMV composition
    // — the drained store must equal the batch sketch of the whole
    // corpus bit-identically (union exactness is the family's own
    // tested property), and min-k over a distinct union is idempotent,
    // so the sketch is correct under at-least-once delivery like the
    // HLL store (q259) and unlike the linear CMS add (q97). The oracle
    // is the batch KMV statement itself.
    "q294_streaming_theta" -> Q(
      (s, d) => {
        val dir = java.nio.file.Paths.get(scratchDir("graft_q294_docs"))
        java.nio.file.Files.createDirectories(dir)
        val link = dir.resolve("docs.parquet")
        java.nio.file.Files.deleteIfExists(link)
        java.nio.file.Files.createSymbolicLink(
          link, java.nio.file.Paths.get(s"$d/documents.parquet"))
        // run-tagged scratch store (the same discipline as the other
        // stores), wiped before use so each invocation starts fresh —
        // min-k is idempotent so a stale store would still be correct,
        // but fresh keeps runs independent and /tmp bounded
        val base = freshScratchDir("graft_q294_store")
        val q = graft.streaming.DocStreams.startTheta(
          graft.streaming.DocStreams.readStream(s, dir.toString),
          s"$base/store", s"$base/ckpt", k = 64)
        EventStreams.drain(q)
        s.read.parquet(s"$base/store/current").orderBy(col("h"))
      },
      Some("""WITH toks AS (SELECT string_split(trim(text), ' ') AS t
             |  FROM documents),
             |shg AS (SELECT CASE WHEN len(t) >= 3
             |    THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]
             |    ELSE []::VARCHAR[] END AS sg FROM toks),
             |h AS (SELECT DISTINCT ('0x'||substr(md5(g),1,15))::BIGINT AS h
             |  FROM (SELECT unnest(sg) AS g FROM shg))
             |SELECT h FROM h ORDER BY h LIMIT 64""".stripMargin)),

    // unigram-LM training with the SOFT E-step (TextAnalysis
    // .unigramTrainSoft): expected counts over ALL minimum-cost
    // segmentations — the zero-temperature forward-backward posterior,
    // computed by exact-integer min-cost path counting (nF/nB position
    // recurrences; an edge is on some optimal path iff cs+cost+ce =
    // total, and nF(i)·nB(j) of the N(w) optimal segmentations use it),
    // with per-(word,piece) micro-counts staged as (f·Σthrough·1e6) div
    // N — every step integer or one floor division, so both engines
    // replay training bit-identically where Kudo 2018's float α/β sums
    // could never be hash-pinned (order-dependent summation; the
    // zero-temperature limit is the engine-exact E-step, hard EM q284
    // stays the fallback knob). The oracle restates the full round:
    // seed, price, lattice DP, BOTH count recurrences unrolled by
    // position, posterior counts, prune, re-price. Scale: everything
    // after the one corpus scan runs on the distinct-word table;
    // the recurrences are 2^squarings word-sized keyed rounds.
    "q295_unigram_soft_em" -> Q(
      (s, d) => TextAnalysis.unigramTrainSoft(t(s, d, "documents"), "text",
          maxGram = 4, seedTopK = 60, vocabTarget = 40, emRounds = 1,
          squarings = 3)
        .orderBy(col("piece")),
      Some {
        val nfSteps = (2 to 9).map { p =>
          s"""nf$p AS MATERIALIZED (SELECT w, pos, n FROM nf${p - 1}
             |  UNION ALL
             |  SELECT o.w, $p AS pos, sum(f.n)::BIGINT AS n
             |  FROM opt1 o JOIN nf${p - 1} f ON o.w = f.w AND o.i = f.pos
             |  WHERE o.j = $p GROUP BY o.w)""".stripMargin
        }.mkString(",\n")
        val nbSteps = (8 to 1 by -1).map { p =>
          s"""nb$p AS MATERIALIZED (SELECT w, pos, n FROM nb${p + 1}
             |  UNION ALL
             |  SELECT o.w, $p AS pos, sum(x.n)::BIGINT AS n
             |  FROM opt1 o JOIN nb${p + 1} x ON o.w = x.w AND o.j = x.pos
             |  WHERE o.i = $p GROUP BY o.w)""".stripMargin
        }.mkString(",\n")
        s"""$unigramSeedOracleCtes,
           |p1 AS (SELECT piece,
           |    floor(1e6 * ln((t.t + t.v)::DOUBLE / (cnt + 1)::DOUBLE))::BIGINT AS cost
           |  FROM v0, (SELECT sum(cnt)::BIGINT AS t, count(*)::BIGINT AS v
           |            FROM v0) t),
           |e1 AS MATERIALIZED (SELECT c.w, c.i, c.j, c.piece, p.cost
           |  FROM cand c JOIN p1 p USING (piece)),
           |d10 AS (SELECT w, i, j, cost FROM e1
           |  UNION ALL SELECT w, i, i AS j, 0::BIGINT AS cost FROM idr),
           |${unigramSquaringSql(1, 3)},
           |de1 AS MATERIALIZED (SELECT w, i AS pos, cost AS ce
           |  FROM d13 WHERE j = len(w) + 1),
           |ds1 AS MATERIALIZED (SELECT w, j AS pos, cost AS cs
           |  FROM d13 WHERE i = 1),
           |tc1 AS (SELECT w, ce AS tc FROM de1 WHERE pos = 1),
           |opt1 AS MATERIALIZED (SELECT e.w, e.i, e.j, e.piece
           |  FROM e1 e
           |  JOIN ds1 s ON e.w = s.w AND e.i = s.pos
           |  JOIN de1 d ON e.w = d.w AND e.j = d.pos
           |  JOIN tc1 t ON e.w = t.w
           |  WHERE s.cs + e.cost + d.ce = t.tc),
           |nf1 AS (SELECT w, 1 AS pos, 1::BIGINT AS n FROM words),
           |$nfSteps,
           |nb9 AS (SELECT w, len(w) + 1 AS pos, 1::BIGINT AS n FROM words),
           |$nbSteps,
           |np AS (SELECT w, n AS npaths FROM nb1 WHERE pos = 1),
           |thr AS (SELECT o.w, o.piece, sum(f.n * b.n)::BIGINT AS thr
           |  FROM opt1 o JOIN nf9 f ON o.w = f.w AND o.i = f.pos
           |    JOIN nb1 b ON o.w = b.w AND o.j = b.pos
           |  GROUP BY o.w, o.piece),
           |sc AS (SELECT piece,
           |    sum((w2.f * thr.thr * 1000000) // np.npaths)::BIGINT AS cnt
           |  FROM thr JOIN words w2 USING (w) JOIN np USING (w)
           |  GROUP BY piece),
           |v1 AS MATERIALIZED (
           |  SELECT c.piece, coalesce(sc.cnt, 0)::BIGINT AS cnt, true AS is_char
           |  FROM chars c LEFT JOIN sc USING (piece)
           |  UNION ALL
           |  SELECT piece, cnt, false AS is_char FROM (
           |    SELECT sc.piece, sc.cnt FROM sc
           |    ANTI JOIN chars c ON sc.piece = c.piece
           |    ORDER BY sc.cnt DESC, sc.piece LIMIT 40))
           |SELECT piece, is_char, cnt AS cnt_micro,
           |  floor(1e6 * ln((t.t + t.v)::DOUBLE / (cnt + 1)::DOUBLE))::BIGINT
           |    AS cost_micro
           |FROM v1, (SELECT sum(cnt)::BIGINT AS t, count(*)::BIGINT AS v
           |          FROM v1) t
           |ORDER BY piece""".stripMargin
      }),

    // 4:2:0 baseline JPEG decode (multimodal/Jpeg.scala): the dominant
    // real-world chroma layout — q286 covered only 4:4:4, i.e. skipped
    // most JPEGs a real corpus contains. Assets are synthesized COLOR
    // 4:2:0 streams (luma 2×2 per-block constants, per-MCU constant
    // chroma — both round-trip pixel-exactly; every third asset adds a
    // DRI/RSTn restart interval, which must decode identically), and
    // the oracle predicts the FULL decoded RGB pixel sum per pixel:
    // chroma replication upsample, the JFIF YCbCr→RGB doubles
    // (floor(x+0.5) == Math.round, exactly-rounded IEEE ops shared by
    // both engines), clamp, and pack — a wrong sampling-factor parse,
    // MCU interleave order, upsample, restart handling, or conversion
    // constant fails the hash. Scale: same partition-preserving
    // mapPartitions shape as q286; decode reduces to fixed-width stats.
    "q296_jpeg_420_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeJpeg420Assets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeJpegStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id, (doc_id % 31 + 1)::BIGINT AS w,
             |    (doc_id % 17 + 1)::BIGINT AS h FROM documents),
             |px AS (SELECT doc_id, w, h, xs.x AS x, ys.y AS y
             |  FROM dims, range(0, 31) xs(x), range(0, 17) ys(y)
             |  WHERE xs.x < w AND ys.y < h),
             |ycc AS (SELECT doc_id,
             |    ((doc_id * 7 + (x // 8) * 13 + (y // 8) * 29) % 256)::DOUBLE AS yy,
             |    (((doc_id * 11 + (x // 16) * 17 + (y // 16) * 23) % 256) - 128)::DOUBLE AS cb,
             |    (((doc_id * 5 + (x // 16) * 19 + (y // 16) * 31) % 256) - 128)::DOUBLE AS cr
             |  FROM px),
             |rgb AS (SELECT doc_id,
             |    least(255, greatest(0,
             |      floor(yy + 1.402::DOUBLE * cr + 0.5)))::BIGINT AS r,
             |    least(255, greatest(0,
             |      floor(yy - 0.344136::DOUBLE * cb - 0.714136::DOUBLE * cr + 0.5)))::BIGINT AS g,
             |    least(255, greatest(0,
             |      floor(yy + 1.772::DOUBLE * cb + 0.5)))::BIGINT AS bl
             |  FROM ycc),
             |ps AS (SELECT doc_id,
             |    sum(65536 * r + 256 * g + bl)::BIGINT AS pixel_sum
             |  FROM rgb GROUP BY doc_id)
             |SELECT d.doc_id AS asset_id, 'jpeg' AS codec, d.w AS width,
             |  d.h AS height, 3::BIGINT AS n_components, ps.pixel_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // source-overlap matrix at sketch cost (ThetaSketch.overlapMatrix):
    // every unordered source pair's intersection-cardinality estimate
    // from the q293 per-source KMV samples at the shared θ = min cut —
    // "which sources duplicate each other", the audit a training-mix
    // owner runs before weighting sources (today answerable only at
    // exact corpus cost), and exactly what the grouped samples exist
    // for. All sample-sized: the common-hash join runs on ≤ k rows per
    // source and the pair frame on the |sources|-row theta table (the
    // one crossJoin is group-count scalars, the q285 discipline).
    "q297_source_overlap_matrix" -> Q(
      (s, d) => {
        val g = t(s, d, "documents")
          .select(col("source"), explode(F.wordShingles(col("text"), 3)).as("g"))
        operators.ThetaSketch.overlapMatrix(
            operators.ThetaSketch.sketchBy(g, col("source"), col("g"), 64), 64)
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH toks AS (
             |  SELECT source, string_split(trim(text), ' ') AS t FROM documents),
             |shg AS (SELECT source, CASE WHEN len(t) >= 3
             |    THEN [array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)]
             |    ELSE []::VARCHAR[] END AS sg FROM toks),
             |h AS (SELECT DISTINCT source,
             |    ('0x'||substr(md5(g),1,15))::BIGINT AS h
             |  FROM (SELECT source, unnest(sg) AS g FROM shg)),
             |sk AS (SELECT source, h FROM (
             |    SELECT source, h, row_number() OVER (
             |      PARTITION BY source ORDER BY h) AS rn FROM h)
             |  WHERE rn <= 64),
             |th AS (SELECT source, count(*)::BIGINT AS n,
             |    CASE WHEN count(*) >= 64 THEN max(h)
             |      ELSE 1152921504606846976 END AS theta
             |  FROM sk GROUP BY source),
             |pr AS (SELECT a.source AS src_a, b.source AS src_b,
             |    a.n AS na, b.n AS nb, least(a.theta, b.theta) AS theta
             |  FROM th a JOIN th b ON a.source < b.source),
             |cm AS (SELECT x.source AS src_a, y.source AS src_b,
             |    count(*)::BIGINT AS n_common
             |  FROM sk x JOIN sk y ON x.h = y.h AND x.source < y.source
             |    JOIN pr ON pr.src_a = x.source AND pr.src_b = y.source
             |  WHERE x.h < pr.theta
             |  GROUP BY 1, 2)
             |SELECT pr.src_a, pr.src_b, pr.na, pr.nb,
             |  coalesce(cm.n_common, 0)::BIGINT AS n_common, pr.theta,
             |  floor(coalesce(cm.n_common, 0)::DOUBLE *
             |    1152921504606846976::DOUBLE / pr.theta::DOUBLE)::BIGINT
             |    AS est_intersect
             |FROM pr LEFT JOIN cm
             |  ON pr.src_a = cm.src_a AND pr.src_b = cm.src_b
             |ORDER BY pr.src_a, pr.src_b""".stripMargin)),

    // STREAMING serving over the persisted graph-ANN index
    // (AnnServing.serveGraphTopK): query embeddings arrive as a stream
    // and each micro-batch beam-searches the STORED q290 artifact — the
    // deployed online form completing the vector-search story (build
    // q282 → persist/serve q290 → insert q291 → audit q292 → online
    // q298), and the graph-index answer to q80's brute-force serving.
    // Beam search is stateless per query, so the drained append table
    // equals the batch statement exactly whatever the micro-batching —
    // the oracle is the batch search chain over a third query set.
    // Scale: the undirected closure is pinned once before the stream;
    // per batch beam-sized keyed joins + per-query windows only.
    "q298_streaming_graph_ann" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val stored = operators.AnnIndex.buildOrLoad(emb, "vec_id", "embedding",
          k = 15, rounds = 4, initBuckets = 16, indexDir = annIndexDir(d, "full"))
        graft.streaming.AnnServing.serveGraphTopK(
            s, stored, emb,
            queriesPath = s"$d/embeddings.parquet",
            querySchemaDDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
            queryFilter = col("vec_id") >= 20 && col("vec_id") < 30,
            idCol = "vec_id", vecCol = "embedding",
            entryIds = 0L until 4L, beam = 12, rounds = 3, k = 5)
          .select(col("q_id"), col("n_id"), col("d2"),
            col("rank").cast("bigint").as("rank"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""${nnGraphOracleCtes(15, 4)},
              |gse AS MATERIALIZED (SELECT id, nbr FROM nn4
              |  UNION SELECT nbr AS id, id AS nbr FROM nn4),
              |gb0 AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
              |    SELECT q_id, n_id, d2, row_number() OVER (
              |      PARTITION BY q_id ORDER BY d2, n_id) AS rn
              |    FROM (SELECT q.id AS q_id, c.id AS n_id,
              |        list_sum([(q.iv[j]-c.iv[j])*(q.iv[j]-c.iv[j])
              |          for j in range(1,65)])::BIGINT AS d2
              |      FROM v q JOIN v c ON c.id IN (0, 1, 2, 3) AND c.id <> q.id
              |      WHERE q.id >= 20 AND q.id < 30))
              |  WHERE rn <= 12),
              |${graphSearchRoundSql(1, 12)},
              |${graphSearchRoundSql(2, 12)},
              |${graphSearchRoundSql(3, 12)}
              |SELECT q_id, n_id, d2, rn AS rank FROM (
              |  SELECT q_id, n_id, d2, row_number() OVER (
              |    PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM gb3)
              |WHERE rn <= 5
              |ORDER BY q_id, rank""".stripMargin)),

    // metadata-FILTERED vector search over the persisted index
    // (AnnIndex.filteredSearchTopK): top-k among vectors satisfying a
    // label predicate — the constrained-retrieval form every deployed
    // vector store offers (tenant/date/label filters). Pre-filtering
    // the graph would break its connectivity (edges through
    // non-matching nodes are how search crosses the corpus), so the
    // production pattern is oversample-then-filter: beam 24 on the full
    // stored graph, one semi-join against the predicate's id set,
    // re-rank to top-5 among survivors. The oracle unrolls the
    // oversampled search and applies the same filter; Round12Spec gates
    // recall vs exact FILTERED L2 at this selectivity (~1/3). Scale:
    // beam-sized keyed joins + one keyed semi-join + one ≤ beam-row
    // window per query.
    "q299_ann_filtered_search" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val stored = operators.AnnIndex.buildOrLoad(emb, "vec_id", "embedding",
          k = 15, rounds = 4, initBuckets = 16, indexDir = annIndexDir(d, "full"))
        operators.AnnIndex.filteredSearchTopK(
            stored, emb, emb.filter(col("vec_id") >= 30 && col("vec_id") < 40),
            "vec_id", "embedding", pred = col("label") % 3 === 1,
            entryIds = 0L until 4L, beam = 24, rounds = 3, k = 5)
          .select(col("q_id"), col("n_id"), col("d2"),
            col("rank").cast("bigint").as("rank"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""${nnGraphOracleCtes(15, 4)},
              |gse AS MATERIALIZED (SELECT id, nbr FROM nn4
              |  UNION SELECT nbr AS id, id AS nbr FROM nn4),
              |gb0 AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
              |    SELECT q_id, n_id, d2, row_number() OVER (
              |      PARTITION BY q_id ORDER BY d2, n_id) AS rn
              |    FROM (SELECT q.id AS q_id, c.id AS n_id,
              |        list_sum([(q.iv[j]-c.iv[j])*(q.iv[j]-c.iv[j])
              |          for j in range(1,65)])::BIGINT AS d2
              |      FROM v q JOIN v c ON c.id IN (0, 1, 2, 3) AND c.id <> q.id
              |      WHERE q.id >= 30 AND q.id < 40))
              |  WHERE rn <= 24),
              |${graphSearchRoundSql(1, 24)},
              |${graphSearchRoundSql(2, 24)},
              |${graphSearchRoundSql(3, 24)},
              |ok AS (SELECT vec_id AS n_id FROM embeddings WHERE label % 3 = 1)
              |SELECT q_id, n_id, d2, rn AS rank FROM (
              |  SELECT b.q_id, b.n_id, b.d2, row_number() OVER (
              |    PARTITION BY b.q_id ORDER BY b.d2, b.n_id) AS rn
              |  FROM gb3 b JOIN ok USING (n_id))
              |WHERE rn <= 5
              |ORDER BY q_id, rank""".stripMargin)),

    // tombstone DELETE + repair queue (AnnIndex.tombstoneDelete): drop a
    // deleted batch (vec_id % 7 = 3, ~14%) from the stored index by two
    // keyed semi-joins and report each surviving node's degraded degree
    // and repair verdict (n_nbrs < k) — the maintenance path completing
    // the index lifecycle (build q282 → persist/serve q290 → insert
    // q291 → DELETE q300 → audit q292 → online q298 → filtered q299).
    // Deletes degrade lists rather than re-link (the tombstone pattern;
    // re-linking costs a search per affected node, so production
    // batches repair into the next maintenance window seeded from
    // exactly this queue), and fully-orphaned nodes surface with
    // n_nbrs = 0 rather than vanishing — the row a repair job must not
    // miss. Oracle: the NN-Descent chain + the same two restrictions +
    // a survivor left join. Scale: two keyed semi-joins over the k·n
    // edge table + one count + one left join; the store is read.
    "q300_ann_index_delete" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val stored = operators.AnnIndex.buildOrLoad(emb, "vec_id", "embedding",
          k = 15, rounds = 4, initBuckets = 16, indexDir = annIndexDir(d, "full"))
        operators.AnnIndex.tombstoneDelete(
            stored, emb.filter(col("vec_id") % 7 =!= 3), "vec_id", k = 15)
          .orderBy(col("id"))
      },
      Some(s"""${nnGraphOracleCtes(15, 4)},
              |rem AS (SELECT id FROM v WHERE id % 7 <> 3),
              |kept AS (SELECT g.id, g.nbr FROM nn4 g
              |  JOIN rem a ON g.id = a.id
              |  JOIN rem b ON g.nbr = b.id),
              |deg AS (SELECT id, count(*)::BIGINT AS n_nbrs
              |  FROM kept GROUP BY id)
              |SELECT rem.id, coalesce(deg.n_nbrs, 0)::BIGINT AS n_nbrs,
              |  (coalesce(deg.n_nbrs, 0) < 15) AS needs_repair
              |FROM rem LEFT JOIN deg USING (id)
              |ORDER BY rem.id""".stripMargin)),

    // REPAIR the post-delete queue (AnnIndex.repairLists) — the
    // maintenance window consuming q300's output, closing the index
    // lifecycle loop: every survivor degraded below k beam-searches the
    // DEGRADED graph for replacement neighbors (entry points re-seeded
    // on survivors — 3 is tombstoned, so 0,1,2,4), and its list is
    // re-cut to top-15 over (kept ∪ found) by the graph's own (d2, id)
    // order — a repaired node's Σd2 can only improve on its degraded
    // state, and a fully-orphaned node recovers through the entry
    // points like a fresh insert. The oracle unrolls delete + the
    // search rounds over the degraded closure + the merge. Scale: one
    // degree aggregate, one |queue|·beam search, one per-node window.
    "q301_ann_index_repair" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val remaining = emb.filter(col("vec_id") % 7 =!= 3)
        val stored = operators.AnnIndex.buildOrLoad(emb, "vec_id", "embedding",
          k = 15, rounds = 4, initBuckets = 16, indexDir = annIndexDir(d, "full"))
        operators.AnnIndex.repairLists(
            operators.AnnIndex.survivingEdges(stored, remaining, "vec_id"),
            remaining, "vec_id", "embedding", k = 15,
            entryIds = Seq(0L, 1L, 2L, 4L), beam = 24, searchRounds = 3)
          .orderBy(col("id"))
      },
      Some(s"""${nnGraphOracleCtes(15, 4)},
              |rem AS (SELECT id FROM v WHERE id % 7 <> 3),
              |keptd AS MATERIALIZED (SELECT g.id, g.nbr, g.d2 FROM nn4 g
              |  JOIN rem a ON g.id = a.id
              |  JOIN rem b ON g.nbr = b.id),
              |deg AS (SELECT id, count(*)::BIGINT AS n_nbrs
              |  FROM keptd GROUP BY id),
              |qd AS MATERIALIZED (SELECT rem.id,
              |    coalesce(deg.n_nbrs, 0)::BIGINT AS n_before
              |  FROM rem LEFT JOIN deg USING (id)
              |  WHERE coalesce(deg.n_nbrs, 0) < 15),
              |gse AS MATERIALIZED (SELECT id, nbr FROM keptd
              |  UNION SELECT nbr AS id, id AS nbr FROM keptd),
              |gb0 AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
              |    SELECT q_id, n_id, d2, row_number() OVER (
              |      PARTITION BY q_id ORDER BY d2, n_id) AS rn
              |    FROM (SELECT q.id AS q_id, c.id AS n_id,
              |        list_sum([(q.iv[j]-c.iv[j])*(q.iv[j]-c.iv[j])
              |          for j in range(1,65)])::BIGINT AS d2
              |      FROM v q JOIN qd ON q.id = qd.id
              |        JOIN v c ON c.id IN (0, 1, 2, 4) AND c.id <> q.id))
              |  WHERE rn <= 24),
              |${graphSearchRoundSql(1, 24)},
              |${graphSearchRoundSql(2, 24)},
              |${graphSearchRoundSql(3, 24)},
              |rp AS (SELECT id, nbr, d2 FROM (
              |    SELECT id, nbr, d2, row_number() OVER (
              |      PARTITION BY id ORDER BY d2, nbr) AS rn
              |    FROM (SELECT DISTINCT id, nbr, d2 FROM (
              |      SELECT k.id, k.nbr, k.d2 FROM keptd k JOIN qd ON k.id = qd.id
              |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM gb3)))
              |  WHERE rn <= 15),
              |ag AS (SELECT id, count(*)::BIGINT AS n_after,
              |    sum(d2)::BIGINT AS sum_d2 FROM rp GROUP BY id)
              |SELECT qd.id, qd.n_before,
              |  coalesce(ag.n_after, 0)::BIGINT AS n_after,
              |  coalesce(ag.sum_d2, 0)::BIGINT AS sum_d2
              |FROM qd LEFT JOIN ag USING (id)
              |ORDER BY qd.id""".stripMargin)),

    // FULL PNG pixel decode (Codecs.decodePng): real zlib inflate +
    // per-scanline unfiltering through ALL FIVE spec filters — q65's
    // PNG coverage was header-only (IHDR), leaving DEFLATE and the
    // None/Sub/Up/Average/Paeth reconstruction ungated. Assets are
    // synthesized with a deterministic RGB ramp and filter (id + y)
    // mod 5 per row, so every unfilter branch sits under the hash and
    // the filters are provably content-invariant: the oracle predicts
    // the packed-RGB pixel sum from id arithmetic ALONE — a wrong
    // predictor, byte order, or inflate boundary fails it. Completes
    // the full-pixel codec pair with JPEG (q286/q296). Scale: the q286
    // shape — partition-preserving mapPartitions, fixed-width stats
    // out, payloads never on the driver.
    "q302_png_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizePngAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodePngStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id, (doc_id % 29 + 1)::BIGINT AS w,
             |    (doc_id % 13 + 1)::BIGINT AS h FROM documents),
             |px AS (SELECT doc_id, w, h, xs.x AS x, ys.y AS y
             |  FROM dims, range(0, 29) xs(x), range(0, 13) ys(y)
             |  WHERE xs.x < w AND ys.y < h),
             |pv AS (SELECT doc_id, (doc_id + y * w + x)::BIGINT AS v FROM px),
             |ps AS (SELECT doc_id, sum(
             |    (v % 256) * 65536 + ((v // 256) % 256) * 256 +
             |    ((v // 65536) % 256))::BIGINT AS pixel_sum
             |  FROM pv GROUP BY doc_id)
             |SELECT d.doc_id AS asset_id, 'png' AS codec, d.w AS width,
             |  d.h AS height, 3::BIGINT AS n_components, ps.pixel_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // FULL WAV PCM decode (Codecs.decodeWavSamples): every interleaved
    // 16-bit little-endian SIGNED sample decoded and reduced to the
    // amplitude stats an audio-corpus pipeline's first pass runs
    // (loudness/clipping screens) — q65's WAV coverage was header-only,
    // leaving the sample decode ungated. The oracle predicts signed
    // sum / absolute sum / peak from id arithmetic alone ((id + i) mod
    // 2^16 reinterpreted as int16 — a wrong endianness, sign extension,
    // or data-chunk offset fails the hash). With q286/q296 (JPEG),
    // q302 (PNG) and this, every synthesized modality's PAYLOAD — not
    // just its header — sits under the oracle. Scale: the q286 shape —
    // partition-preserving mapPartitions, fixed-width stats out.
    "q303_wav_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWavAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeWavStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |    (8000 + (doc_id % 8) * 1000)::BIGINT AS rate,
             |    (doc_id % 2 + 1)::BIGINT AS ch,
             |    (doc_id % 100 + 1)::BIGINT AS ns
             |  FROM documents),
             |sm AS (SELECT doc_id, CASE
             |    WHEN (doc_id + i.i) % 65536 < 32768 THEN (doc_id + i.i) % 65536
             |    ELSE (doc_id + i.i) % 65536 - 65536 END AS s
             |  FROM p, range(0, 200) i(i) WHERE i.i < ns * ch),
             |agg AS (SELECT doc_id, sum(s)::BIGINT AS sum_pcm,
             |    sum(abs(s))::BIGINT AS sum_abs, max(abs(s))::BIGINT AS peak_abs
             |  FROM sm GROUP BY doc_id)
             |SELECT p.doc_id AS asset_id, 'wav' AS codec, p.rate AS sample_rate,
             |  p.ch AS n_channels, p.ns AS n_frames,
             |  agg.sum_pcm, agg.sum_abs, agg.peak_abs
             |FROM p JOIN agg USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // FULL BMP pixel decode (Codecs.decodeBmp): the header's own
    // pixel-data offset, 4-byte row padding, bottom-up flip, and BGR
    // byte order all under the hash — q65's BMP coverage was
    // header-only, and q196's resize gated a re-encode, not the decoded
    // values. Same partition-preserving shape as the JPEG/PNG gates.
    "q304_bmp_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeBmpAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeBmpStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id, (doc_id % 31 + 1)::BIGINT AS w,
             |    (doc_id % 17 + 1)::BIGINT AS h FROM documents),
             |px AS (SELECT doc_id, w, h, xs.x AS x, ys.y AS y
             |  FROM dims, range(0, 31) xs(x), range(0, 17) ys(y)
             |  WHERE xs.x < w AND ys.y < h),
             |pv AS (SELECT doc_id, (doc_id + y * w + x)::BIGINT AS v FROM px),
             |ps AS (SELECT doc_id, sum(
             |    ((v // 65536) % 256) * 65536 + ((v // 256) % 256) * 256 +
             |    (v % 256))::BIGINT AS pixel_sum
             |  FROM pv GROUP BY doc_id)
             |SELECT d.doc_id AS asset_id, 'bmp' AS codec, d.w AS width,
             |  d.h AS height, 3::BIGINT AS n_components, ps.pixel_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // REAL video frame extraction (Codecs.encodeAviFrames +
    // Multimodal.sampleFrameStats): AVI assets now carry actual raw
    // BGR24 '00db' frame payloads, and the sampling stage decodes the
    // movi LIST and emits every 2nd frame's packed-RGB pixel sum — the
    // frame-extraction step of a video-corpus pipeline, where q36/q196
    // demonstrated only offset plumbing over an empty movi. One row per
    // sampled frame, each sum predicted by the oracle from (id, frame,
    // pixel) arithmetic alone — a wrong chunk walk, frame boundary, or
    // byte order fails the hash. With q286/q296/q302/q303/q304, every
    // modality's payload decode is now oracle-gated. Scale: the q286
    // mapPartitions shape; output is sampled-frames-sized.
    "q305_avi_frame_extract" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeAviAssets(assetIds(s, d))
        graft.multimodal.Multimodal.sampleFrameStats(assets, stride = 2)
          .orderBy(col("asset_id"), col("frame_idx"))
      },
      Some("""WITH p AS (SELECT doc_id, (doc_id % 15 + 1)::BIGINT AS w,
             |    (doc_id % 9 + 1)::BIGINT AS h,
             |    (doc_id % 6 + 1)::BIGINT AS nf
             |  FROM documents),
             |fr AS (SELECT doc_id, w, h, f.f AS f
             |  FROM p, range(0, 6) f(f) WHERE f.f < nf AND f.f % 2 = 0),
             |pv AS (SELECT doc_id, w, h, f,
             |    (doc_id + f * w * h + i.i)::BIGINT AS v
             |  FROM fr, range(0, 135) i(i) WHERE i.i < w * h),
             |fs AS (SELECT doc_id, w, h, f, sum(
             |    ((v // 65536) % 256) * 65536 + ((v // 256) % 256) * 256 +
             |    (v % 256))::BIGINT AS frame_sum
             |  FROM pv GROUP BY doc_id, w, h, f)
             |SELECT doc_id AS asset_id, f AS frame_idx, w AS width,
             |  h AS height, frame_sum
             |FROM fs
             |ORDER BY asset_id, frame_idx""".stripMargin)),

    // audio downsample stage (Codecs.resampleWav via
    // Multimodal.resampleAudio): decimate-by-2 nearest-frame PCM
    // resampling — the 44.1/48 kHz → 16 kHz-class prep step every ASR
    // corpus runs — verified END TO END: synthesize → resample →
    // re-decode, with the q303 amplitude stats of the RESAMPLED stream
    // predicted by the oracle from id arithmetic over exactly the kept
    // frames ((i div ch) even) and the halved rate — a wrong frame
    // stride, channel interleave, or header rewrite fails the hash.
    // The q196 image-resize story for the audio modality. Scale: two
    // chained partition-preserving mapPartitions, no shuffle.
    "q306_wav_resample" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWavAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeWavStats(
            graft.multimodal.Multimodal.resampleAudio(assets, den = 2))
          .orderBy(col("asset_id"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |    (8000 + (doc_id % 8) * 1000)::BIGINT AS rate,
             |    (doc_id % 2 + 1)::BIGINT AS ch,
             |    (doc_id % 100 + 1)::BIGINT AS ns
             |  FROM documents),
             |sm AS (SELECT doc_id, CASE
             |    WHEN (doc_id + i.i) % 65536 < 32768 THEN (doc_id + i.i) % 65536
             |    ELSE (doc_id + i.i) % 65536 - 65536 END AS s
             |  FROM p, range(0, 200) i(i)
             |  WHERE i.i < ns * ch AND (i.i // ch) % 2 = 0),
             |agg AS (SELECT doc_id, sum(s)::BIGINT AS sum_pcm,
             |    sum(abs(s))::BIGINT AS sum_abs, max(abs(s))::BIGINT AS peak_abs
             |  FROM sm GROUP BY doc_id)
             |SELECT p.doc_id AS asset_id, 'wav' AS codec,
             |  (p.rate // 2)::BIGINT AS sample_rate,
             |  p.ch AS n_channels, ((p.ns + 1) // 2)::BIGINT AS n_frames,
             |  agg.sum_pcm, agg.sum_abs, agg.peak_abs
             |FROM p JOIN agg USING (doc_id)
             |ORDER BY asset_id""".stripMargin)))

  /** The q312 CDC lifecycle's FINAL stored graph, fully unrolled for
    * DuckDB — base NN-Descent chain over vec_id % 10 ≠ 9, the
    * id % 7 = 3 delete restriction, the repair search + per-node
    * re-cut, and the % 10 = 9 insert search + reverse patch — ending
    * at `pg`, the final per-node top-15 edge table. Shared by q312
    * (per-node degree/Σd2 of the drained store) and q313 (the
    * maintenance-policy report over the same graph). */
  private def cdcLifecycleGraphCtes: String =
    s"""${nnGraphOracleCtes(15, 4, " WHERE vec_id % 10 <> 9")},
       |rem AS (SELECT id FROM v WHERE id % 7 <> 3),
       |keptd AS MATERIALIZED (SELECT g.id, g.nbr, g.d2 FROM nn4 g
       |  JOIN rem a ON g.id = a.id
       |  JOIN rem b ON g.nbr = b.id),
       |deg AS (SELECT id, count(*)::BIGINT AS n_nbrs
       |  FROM keptd GROUP BY id),
       |qd AS MATERIALIZED (SELECT rem.id
       |  FROM rem LEFT JOIN deg USING (id)
       |  WHERE coalesce(deg.n_nbrs, 0) < 15),
       |gse AS MATERIALIZED (SELECT id, nbr FROM keptd
       |  UNION SELECT nbr AS id, id AS nbr FROM keptd),
       |gb0 AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn
       |    FROM (SELECT q.id AS q_id, c.id AS n_id,
       |        list_sum([(q.iv[j]-c.iv[j])*(q.iv[j]-c.iv[j])
       |          for j in range(1,65)])::BIGINT AS d2
       |      FROM v q JOIN qd ON q.id = qd.id
       |        JOIN v c ON c.id IN (0, 1, 2, 4) AND c.id <> q.id))
       |  WHERE rn <= 24),
       |${graphSearchRoundSql(1, 24)},
       |${graphSearchRoundSql(2, 24)},
       |${graphSearchRoundSql(3, 24)},
       |rp AS (SELECT id, nbr, d2 FROM (
       |    SELECT id, nbr, d2, row_number() OVER (
       |      PARTITION BY id ORDER BY d2, nbr) AS rn
       |    FROM (SELECT DISTINCT id, nbr, d2 FROM (
       |      SELECT k.id, k.nbr, k.d2 FROM keptd k JOIN qd ON k.id = qd.id
       |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM gb3)))
       |  WHERE rn <= 15),
       |rg AS MATERIALIZED (
       |  SELECT k.id, k.nbr, k.d2 FROM keptd k
       |  ANTI JOIN qd ON k.id = qd.id
       |  UNION ALL SELECT id, nbr, d2 FROM rp),
       |vq AS MATERIALIZED (SELECT vec_id AS id,
       |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
       |  FROM embeddings),
       |xse AS MATERIALIZED (SELECT id, nbr FROM rg
       |  UNION SELECT nbr AS id, id AS nbr FROM rg),
       |xb0 AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn
       |    FROM (SELECT q.id AS q_id, c.id AS n_id,
       |        list_sum([(q.iv[j]-c.iv[j])*(q.iv[j]-c.iv[j])
       |          for j in range(1,65)])::BIGINT AS d2
       |      FROM vq q JOIN v c ON c.id IN (0, 1, 2, 4) AND c.id <> q.id
       |      WHERE q.id % 10 = 9))
       |  WHERE rn <= 24),
       |${graphSearchRoundSql(1, 24, qv = "vq", p = "x")},
       |${graphSearchRoundSql(2, 24, qv = "vq", p = "x")},
       |${graphSearchRoundSql(3, 24, qv = "vq", p = "x")},
       |ne AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM xb3)
       |  WHERE rn <= 15),
       |pg AS MATERIALIZED (SELECT id, nbr, d2 FROM (
       |    SELECT id, nbr, d2, row_number() OVER (
       |      PARTITION BY id ORDER BY d2, nbr) AS rn
       |    FROM (SELECT id, nbr, d2 FROM rg
       |      UNION ALL SELECT n_id AS id, q_id AS nbr, d2 FROM ne
       |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM ne))
       |  WHERE rn <= 15)""".stripMargin

  /** Shared sharded-ANN oracle chain (q314 batch serve, q316 streaming
    * serve): designated-centroid assignment, all four per-cell
    * NN-Descent builds (prefixed CTE chains), nprobe-2 cosine routing
    * for the query predicate (`pred` renders it for a given id
    * expression), per-cell beam searches from each cell's two lowest
    * ids, ending at `resr` — the merged global top-5 with rank. */
  private def shardedAnnOracleCtes(pred: String => String): String = {
    val cellChains = (0 to 3).map(c => nnGraphOracleCtes(10, 3,
      s" WHERE vec_id IN (SELECT vec_id FROM assign WHERE cell = $c)",
      p = s"s${c}_", lead = "")).mkString(",\n")
    val searchChains = (0 to 3).map { c =>
      s"""e$c AS (SELECT vec_id AS id FROM assign WHERE cell = $c
         |  ORDER BY vec_id LIMIT 2),
         |t${c}_se AS MATERIALIZED (SELECT id, nbr FROM s${c}_nn3
         |  UNION SELECT nbr AS id, id AS nbr FROM s${c}_nn3),
         |t${c}_b0 AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
         |    SELECT q_id, n_id, d2, row_number() OVER (
         |      PARTITION BY q_id ORDER BY d2, n_id) AS rn
         |    FROM (SELECT q.id AS q_id, c.id AS n_id,
         |        list_sum([(q.iv[j]-c.iv[j])*(q.iv[j]-c.iv[j])
         |          for j in range(1,65)])::BIGINT AS d2
         |      FROM v q JOIN route r ON q.id = r.q_id AND r.cell = $c
         |        JOIN v c ON c.id IN (SELECT id FROM e$c) AND c.id <> q.id))
         |  WHERE rn <= 12),
         |${graphSearchRoundSql(1, 12, qv = "v", p = s"t${c}_")},
         |${graphSearchRoundSql(2, 12, qv = "v", p = s"t${c}_")},
         |${graphSearchRoundSql(3, 12, qv = "v", p = s"t${c}_")},
         |t${c}_res AS (SELECT q_id, n_id, d2 FROM (
         |    SELECT q_id, n_id, d2, row_number() OVER (
         |      PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM t${c}_b3)
         |  WHERE rn <= 5)""".stripMargin
    }.mkString(",\n")
    s"""WITH ve AS MATERIALIZED (SELECT vec_id,
       |    embedding::DOUBLE[] AS e FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, e AS ce FROM ve WHERE vec_id < 4),
       |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
       |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
       |      PARTITION BY ve.vec_id
       |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
       |        c.cent_id) AS rn
       |    FROM ve CROSS JOIN cents c) WHERE rn = 1),
       |v AS MATERIALIZED (SELECT vec_id AS id,
       |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
       |  FROM embeddings),
       |$cellChains,
       |route AS MATERIALIZED (SELECT vec_id AS q_id, cell FROM (
       |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
       |      PARTITION BY ve.vec_id
       |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
       |        c.cent_id) AS rn
       |    FROM ve CROSS JOIN cents c
       |    WHERE ${pred("ve.vec_id")}) WHERE rn <= 2),
       |$searchChains,
       |resr AS (SELECT q_id, n_id, d2, rank FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rank
       |    FROM (SELECT * FROM t0_res UNION ALL SELECT * FROM t1_res
       |      UNION ALL SELECT * FROM t2_res UNION ALL SELECT * FROM t3_res))
       |  WHERE rank <= 5)""".stripMargin
  }

  // --------------------------------------------------------------------
  // Round-13 surface: progressive JPEG, MJPEG-in-AVI, PNG palette/RGBA,
  // FIR audio resampling, container census, scale-safe quantiles,
  // sharded ANN serving, streaming index maintenance.
  // --------------------------------------------------------------------
  private val roundThirteenSurface: Seq[(String, Q)] = Seq(

    // PROGRESSIVE JPEG decode (SOF2 — spectral selection + successive
    // approximation, multimodal/Jpeg.scala): the dominant real-world
    // JPEG class, which q286/q296's baseline decoder silently skipped.
    // Assets are synthesized progressive streams — DC-first scan at
    // Al=1, a DC refinement pass carrying REAL appended bits (the DC
    // quant step is 8, so the coded DC is v−128 and odd values
    // genuinely refine), then per-component non-interleaved AC scans
    // (EOBn band runs) plus an AC refinement pass — even ids grayscale,
    // odd ids 4:2:0 color, whose subsampled luma forces the
    // component-own-dims AC geometry (ceil(cw/8) ≠ the padded MCU
    // grid). The oracle predicts the full decoded pixel sum per id from
    // the same q286/q296 arithmetic — a wrong scan-script dispatch,
    // point transform, EOBn run decode, refinement bit order, or
    // non-interleaved block count fails the hash. Scale: the q286
    // partition-preserving mapPartitions shape; fixed-width stats out.
    "q307_jpeg_progressive_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeJpegProgressiveAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeJpegStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id,
             |    (doc_id % 31 + 1)::BIGINT AS w, (doc_id % 17 + 1)::BIGINT AS h
             |  FROM documents),
             |gblocks AS (SELECT doc_id, w, h, bx.x AS bx, by.y AS by
             |  FROM dims, range(0, 4) bx(x), range(0, 3) by(y)
             |  WHERE doc_id % 2 = 0
             |    AND bx.x <= (w - 1) // 8 AND by.y <= (h - 1) // 8),
             |gps AS (SELECT doc_id,
             |    sum(((doc_id * 7 + bx * 13 + by * 29) % 256) *
             |        least(8, w - bx * 8) * least(8, h - by * 8))::BIGINT
             |      AS pixel_sum
             |  FROM gblocks GROUP BY doc_id),
             |cpx AS (SELECT doc_id, w, h, xs.x AS x, ys.y AS y
             |  FROM dims, range(0, 31) xs(x), range(0, 17) ys(y)
             |  WHERE doc_id % 2 = 1 AND xs.x < w AND ys.y < h),
             |ycc AS (SELECT doc_id,
             |    ((doc_id * 7 + (x // 8) * 13 + (y // 8) * 29) % 256)::DOUBLE AS yy,
             |    (((doc_id * 11 + (x // 16) * 17 + (y // 16) * 23) % 256) - 128)::DOUBLE AS cb,
             |    (((doc_id * 5 + (x // 16) * 19 + (y // 16) * 31) % 256) - 128)::DOUBLE AS cr
             |  FROM cpx),
             |rgb AS (SELECT doc_id,
             |    least(255, greatest(0,
             |      floor(yy + 1.402::DOUBLE * cr + 0.5)))::BIGINT AS r,
             |    least(255, greatest(0,
             |      floor(yy - 0.344136::DOUBLE * cb - 0.714136::DOUBLE * cr + 0.5)))::BIGINT AS g,
             |    least(255, greatest(0,
             |      floor(yy + 1.772::DOUBLE * cb + 0.5)))::BIGINT AS bl
             |  FROM ycc),
             |cps AS (SELECT doc_id,
             |    sum(65536 * r + 256 * g + bl)::BIGINT AS pixel_sum
             |  FROM rgb GROUP BY doc_id),
             |ps AS (SELECT doc_id, pixel_sum FROM gps
             |  UNION ALL SELECT doc_id, pixel_sum FROM cps)
             |SELECT d.doc_id AS asset_id, 'jpeg' AS codec, d.w AS width,
             |  d.h AS height,
             |  CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 3 END::BIGINT
             |    AS n_components, ps.pixel_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // Motion-JPEG frame extraction (Codecs.encodeAviMjpegFrames +
    // decodeAviFrames + Multimodal.sampleFrameStats): q305's AVI frames
    // were raw BGR24 only — real video corpora carry COMPRESSED
    // payloads, and AVI's dominant one is MJPEG. Assets interleave raw
    // '00db' frames (even) with '00dc' chunks each holding a complete
    // baseline grayscale JPEG (odd, seed id+f), so the movi walk, the
    // per-chunk JPEG decode (full Huffman/IDCT via the repo's own
    // decoder), and the mixed-type frame ordering all sit under one
    // hash: the oracle predicts raw frames' packed-RGB sums and MJPEG
    // frames' decoded gray sums from id arithmetic. A '00dc' frame that
    // fails to decode skips the frame, not the asset (spec-locked).
    // Scale: the q305 shape — partition-preserving mapPartitions,
    // payloads reduced to per-frame sums immediately.
    "q308_avi_mjpeg_frames" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeMjpegAviAssets(assetIds(s, d))
        graft.multimodal.Multimodal.sampleFrameStats(assets, stride = 1)
          .orderBy(col("asset_id"), col("frame_idx"))
      },
      Some("""WITH p AS (SELECT doc_id, (doc_id % 15 + 1)::BIGINT AS w,
             |    (doc_id % 9 + 1)::BIGINT AS h,
             |    (doc_id % 6 + 1)::BIGINT AS nf
             |  FROM documents),
             |fr AS (SELECT doc_id, w, h, f.f AS f
             |  FROM p, range(0, 6) f(f) WHERE f.f < nf),
             |rawpv AS (SELECT doc_id, w, h, f,
             |    (doc_id + f * w * h + i.i)::BIGINT AS v
             |  FROM fr, range(0, 135) i(i) WHERE f % 2 = 0 AND i.i < w * h),
             |rawfs AS (SELECT doc_id, w, h, f, sum(
             |    ((v // 65536) % 256) * 65536 + ((v // 256) % 256) * 256 +
             |    (v % 256))::BIGINT AS frame_sum
             |  FROM rawpv GROUP BY doc_id, w, h, f),
             |jblk AS (SELECT doc_id, w, h, f, bx.x AS bx, by.y AS by
             |  FROM fr, range(0, 2) bx(x), range(0, 2) by(y)
             |  WHERE f % 2 = 1
             |    AND bx.x <= (w - 1) // 8 AND by.y <= (h - 1) // 8),
             |jfs AS (SELECT doc_id, w, h, f, sum(
             |    (((doc_id + f) * 7 + bx * 13 + by * 29) % 256) *
             |    least(8, w - bx * 8) * least(8, h - by * 8))::BIGINT
             |      AS frame_sum
             |  FROM jblk GROUP BY doc_id, w, h, f),
             |fs AS (SELECT * FROM rawfs UNION ALL SELECT * FROM jfs)
             |SELECT doc_id AS asset_id, f AS frame_idx, w AS width,
             |  h AS height, frame_sum
             |FROM fs
             |ORDER BY asset_id, frame_idx""".stripMargin)),

    // PNG palette + RGBA decode (Codecs.decodePngFull): q302 gated only
    // 8-bit truecolor (type 2) — real corpora are full of palette icons
    // (type 3) and RGBA screenshots (type 6). Even ids are PLTE images
    // (index = v mod 256 through the deterministic 256-entry palette),
    // odd ids RGBA with alpha (v·13+7) mod 256; both cycle all five
    // scanline filters at their OWN byte-per-pixel offsets (bpp 1 and 4
    // — a bpp-blind Sub/Paeth fails the hash), and the oracle predicts
    // the packed-RGB pixel sum plus the exact alpha sum from id
    // arithmetic. Scale: the q302 shape — partition-preserving
    // mapPartitions, fixed-width stats out.
    "q309_png_palette_rgba" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizePngExtAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodePngFullStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id, (doc_id % 29 + 1)::BIGINT AS w,
             |    (doc_id % 13 + 1)::BIGINT AS h FROM documents),
             |pv AS (SELECT doc_id, (doc_id + ys.y * w + xs.x)::BIGINT AS v
             |  FROM dims, range(0, 29) xs(x), range(0, 13) ys(y)
             |  WHERE xs.x < w AND ys.y < h),
             |pal AS (SELECT doc_id,
             |    sum(((v % 256) * 7 + 1) % 256 * 65536 +
             |        ((v % 256) * 5 + 3) % 256 * 256 +
             |        ((v % 256) * 3 + 11) % 256)::BIGINT AS pixel_sum,
             |    NULL::BIGINT AS alpha_sum
             |  FROM pv WHERE doc_id % 2 = 0 GROUP BY doc_id),
             |rgba AS (SELECT doc_id,
             |    sum((v % 256) * 65536 + ((v // 256) % 256) * 256 +
             |        (v // 65536) % 256)::BIGINT AS pixel_sum,
             |    sum((v * 13 + 7) % 256)::BIGINT AS alpha_sum
             |  FROM pv WHERE doc_id % 2 = 1 GROUP BY doc_id),
             |ps AS (SELECT * FROM pal UNION ALL SELECT * FROM rgba)
             |SELECT d.doc_id AS asset_id, 'png' AS codec, d.w AS width,
             |  d.h AS height,
             |  CASE WHEN d.doc_id % 2 = 0 THEN 3 ELSE 6 END::BIGINT
             |    AS color_type,
             |  CASE WHEN d.doc_id % 2 = 0 THEN 3 ELSE 4 END::BIGINT
             |    AS n_components,
             |  ps.pixel_sum, ps.alpha_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // anti-aliased audio downsample (Codecs.resampleWavFir via
    // Multimodal.resampleAudioFir): q306's decimator picks frames with
    // no low-pass — production resamplers filter first or alias. This
    // stage convolves each channel with the integer half-band
    // windowed-sinc ([−1,0,9,16,9,0,−1]/32, unity DC gain) before the
    // 2:1 pick, and stays hash-pinnable because the taps are
    // fixed-point and the dyadic divisor makes floor(N/32) exact in
    // both engines: the oracle replays the exact convolution (zero-
    // padded edges, per-channel frame stride, int16 clamp) from id
    // arithmetic and predicts the re-decoded amplitude stats. q306
    // stays as the cheap-decimation fallback knob. Scale: two chained
    // partition-preserving mapPartitions, no shuffle.
    "q310_wav_resample_fir" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWavAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeWavStats(
            graft.multimodal.Multimodal.resampleAudioFir(assets))
          .orderBy(col("asset_id"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |    (8000 + (doc_id % 8) * 1000)::BIGINT AS rate,
             |    (doc_id % 2 + 1)::BIGINT AS ch,
             |    (doc_id % 100 + 1)::BIGINT AS ns
             |  FROM documents),
             |fr AS (SELECT doc_id, ch, ns, j.j AS j, c.c AS c
             |  FROM p, range(0, 50) j(j), range(0, 2) c(c)
             |  WHERE j.j < (ns + 1) // 2 AND c.c < ch),
             |conv AS (SELECT doc_id, j, c, sum(
             |    (CASE t.t WHEN 0 THEN -1 WHEN 2 THEN 9 WHEN 3 THEN 16
             |      WHEN 4 THEN 9 WHEN 6 THEN -1 ELSE 0 END) *
             |    (CASE WHEN 2 * j + t.t - 3 BETWEEN 0 AND ns - 1 THEN
             |      (CASE WHEN (doc_id + (2 * j + t.t - 3) * ch + c) % 65536 < 32768
             |        THEN (doc_id + (2 * j + t.t - 3) * ch + c) % 65536
             |        ELSE (doc_id + (2 * j + t.t - 3) * ch + c) % 65536 - 65536 END)
             |      ELSE 0 END))::BIGINT AS n
             |  FROM fr, range(0, 7) t(t)
             |  GROUP BY doc_id, j, c),
             |sm AS (SELECT doc_id,
             |    greatest(-32768, least(32767, floor(n / 32.0)::BIGINT)) AS s
             |  FROM conv),
             |agg AS (SELECT doc_id, sum(s)::BIGINT AS sum_pcm,
             |    sum(abs(s))::BIGINT AS sum_abs, max(abs(s))::BIGINT AS peak_abs
             |  FROM sm GROUP BY doc_id)
             |SELECT p.doc_id AS asset_id, 'wav' AS codec,
             |  (p.rate // 2)::BIGINT AS sample_rate,
             |  p.ch AS n_channels, ((p.ns + 1) // 2)::BIGINT AS n_frames,
             |  agg.sum_pcm, agg.sum_abs, agg.peak_abs
             |FROM p JOIN agg USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // container census (Codecs.sniff + Multimodal.sniffContainers):
    // sniff now recognizes WebP (RIFF/WEBP), HEIC (ISO-BMFF ftyp with
    // a HEIF brand), and — round 14 — video MP4 (ftyp with
    // isom/mp42/avc1, DISTINCT from HEIC's brands), so a corpus audit
    // COUNTS each instead of lumping them into "unknown" (VP8/HEVC
    // payload decode is explicitly not claimed; MP4 structure IS
    // walkable — q324). The entry is the audit itself: per-container
    // asset counts over an eight-format mixed corpus, each count
    // predicted by id arithmetic. Scale: one mapPartitions sniff
    // (O(header) bytes per asset) + one tiny groupBy — the first pass
    // any 100 TB mixed-modality ingest runs.
    "q311_container_census" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeCensusAssets(assetIds(s, d))
        graft.multimodal.Multimodal.sniffContainers(assets)
          .groupBy(col("container")).agg(count(lit(1)).as("n_assets"))
          .orderBy(col("container"))
      },
      Some("""SELECT CASE doc_id % 8
             |    WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' WHEN 2 THEN 'wav'
             |    WHEN 3 THEN 'avi' WHEN 4 THEN 'jpeg' WHEN 5 THEN 'webp'
             |    WHEN 6 THEN 'heic' ELSE 'mp4' END AS container,
             |  count(*)::BIGINT AS n_assets
             |FROM documents
             |GROUP BY 1
             |ORDER BY container""".stripMargin)),

    // STREAMING index maintenance — index CDC (streaming/IndexCdc.scala):
    // the one lifecycle stage that was batch-only, and the artifact a
    // production vector service actually runs. A CDC feed arrives as
    // two deterministic micro-batches against the persisted base index
    // (built on vec_id % 10 ≠ 9, the q291 store, reused): batch 0
    // DELETES the id % 7 = 3 survivors (tombstone semi-joins; the
    // post-delete queue crosses the repair threshold, so the repair
    // window runs — beam search over the degraded closure, per-node
    // top-15 re-cut); batch 1 UPSERTS the % 10 = 9 vectors
    // (AnnIndex.insertBatch — search the stored graph, link, patch
    // reverse edges). Each batch commits (graph, vecs) through the
    // sketch stores' crash-safe write-aside swap; Round13Spec locks
    // replay determinism (re-running a batch against the recovered
    // pre-batch store reproduces the identical post-batch store). The
    // oracle unrolls the whole composition — base NN-Descent chain,
    // delete restriction, repair search + re-cut, insert search +
    // reverse patch — and pins the final stored graph's per-node
    // degree and Σd2. Scale: every stage is keyed semi-joins +
    // beam-sized search tables + per-node windows; the store is read
    // and swapped, never rebuilt.
    "q312_streaming_index_cdc" -> Q(
      (s, d) => {
        import scala.jdk.CollectionConverters._
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val stored = operators.AnnIndex.buildOrLoad(base, "vec_id", "embedding",
          k = 15, rounds = 4, initBuckets = 16, indexDir = annIndexDir(d, "base"))
        // CDC feed: two ordered files (mtime-ordered, one per trigger)
        val cdcDir = java.nio.file.Paths.get(scratchDir("graft_q312_cdc"))
        EventStreams.deleteTree(cdcDir)
        java.nio.file.Files.createDirectories(cdcDir)
        def writeBatchFile(df: DataFrame, name: String, mtime: Long): Unit = {
          val tmp = cdcDir.resolve(s"${name}_tmp")
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.move(part, cdcDir.resolve(name))
          EventStreams.deleteTree(tmp)
          cdcDir.resolve(name).toFile.setLastModified(mtime)
        }
        writeBatchFile(base.filter(col("vec_id") % 7 === 3)
          .select(lit("delete").as("op"), col("vec_id"), col("embedding")),
          "b0.parquet", 1000000L)
        writeBatchFile(emb.filter(col("vec_id") % 10 === 9)
          .select(lit("upsert").as("op"), col("vec_id"), col("embedding")),
          "b1.parquet", 2000000L)
        val store = scratchDir("graft_q312_store")
        EventStreams.deleteTree(java.nio.file.Paths.get(store))
        graft.streaming.IndexCdc.initStore(s, store, stored,
          base.select(col("vec_id"), col("embedding")))
        val ckpt = java.nio.file.Files.createTempDirectory("graft_q312_ckpt")
        val cdc = s.readStream
          .schema("op STRING, vec_id BIGINT, embedding ARRAY<FLOAT>")
          .option("maxFilesPerTrigger", 1).parquet(cdcDir.toString)
        val q = graft.streaming.IndexCdc.start(cdc, store, ckpt.toString,
          "vec_id", "embedding", k = 15, entryIds = Seq(0L, 1L, 2L, 4L),
          beam = 24, searchRounds = 3, repairThreshold = 10L)
        EventStreams.drain(q, Some(ckpt.toString))
        s.read.parquet(s"$store/current/graph")
          .groupBy(col("q_id").as("id"))
          .agg(count(lit(1)).as("n_nbrs"), sum(col("d2")).as("sum_d2"))
          .select(col("id"), (col("id") % 10 === 9).as("is_new"),
            col("n_nbrs"), col("sum_d2"))
          .orderBy(col("id"))
      },
      Some(s"""$cdcLifecycleGraphCtes
              |SELECT id, (id % 10 = 9) AS is_new,
              |  count(*)::BIGINT AS n_nbrs, sum(d2)::BIGINT AS sum_d2
              |FROM pg GROUP BY id
              |ORDER BY id""".stripMargin)),

    // maintenance-policy report (AnnIndex.maintenanceReport): the
    // one-row operational readout the owner of the q312 CDC pipeline
    // watches after a maintenance window — edge volume, degraded-list
    // count, entry-point reachability within 4 hops — and the
    // rebuild-vs-repair-vs-healthy verdict those numbers imply
    // (unreachable nodes can never be served whatever their lists, so
    // low reach means repair can't help → rebuild; otherwise any
    // degraded list → repair). Runs over the SAME post-lifecycle graph
    // as q312 (delete → repair → insert composition on the stored base
    // artifact), so the oracle reuses q312's unrolled chain and adds
    // the q292-shape BFS. Scale: three bounded aggregates over the k·n
    // edge table + the O(hops) keyed BFS with per-hop checkpoints.
    "q313_index_maintenance_report" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val stored = operators.AnnIndex.buildOrLoad(base, "vec_id", "embedding",
          k = 15, rounds = 4, initBuckets = 16, indexDir = annIndexDir(d, "base"))
        val remaining = base.filter(col("vec_id") % 7 =!= 3)
        val repaired = operators.AnnIndex.repairGraph(
          operators.AnnIndex.survivingEdges(stored, remaining, "vec_id"),
          remaining, "vec_id", "embedding", k = 15,
          entryIds = Seq(0L, 1L, 2L, 4L), beam = 24, searchRounds = 3)
        val finalGraph = operators.AnnIndex.insertBatch(repaired, remaining,
          emb.filter(col("vec_id") % 10 === 9).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 15,
          entryIds = Seq(0L, 1L, 2L, 4L), beam = 24, searchRounds = 3)
        operators.AnnIndex.maintenanceReport(finalGraph, k = 15,
          entryIds = Seq(0L, 1L, 2L, 4L), hops = 4)
      },
      Some {
        val hopRounds = (1 to 4).map { h =>
          s"""r$h AS MATERIALIZED (SELECT DISTINCT node FROM (
             |  SELECT p.nbr AS node FROM r${h - 1} r JOIN pse p ON r.node = p.id
             |  UNION ALL SELECT node FROM r${h - 1}))""".stripMargin
        }.mkString(",\n")
        s"""$cdcLifecycleGraphCtes,
           |pse AS MATERIALIZED (SELECT id, nbr FROM pg
           |  UNION SELECT nbr AS id, id AS nbr FROM pg),
           |pnodes AS (SELECT DISTINCT id AS node FROM pse),
           |r0 AS (SELECT node FROM pnodes WHERE node IN (0, 1, 2, 4)),
           |$hopRounds,
           |stats AS (SELECT
           |    (SELECT count(*) FROM pnodes)::BIGINT AS n_nodes,
           |    (SELECT count(*) FROM pg)::BIGINT AS n_edges,
           |    (SELECT count(*) FROM (
           |      SELECT id FROM pg GROUP BY id HAVING count(*) < 15))::BIGINT
           |      AS n_degraded,
           |    (SELECT count(*) FROM r4)::BIGINT AS n_reached)
           |SELECT n_nodes, n_edges, n_degraded, n_reached,
           |  (n_reached * 1000000 // n_nodes)::BIGINT AS reached_ppm,
           |  CASE WHEN n_reached * 1000000 // n_nodes < 900000 THEN 'rebuild'
           |    WHEN n_degraded > 0 THEN 'repair'
           |    ELSE 'healthy' END AS recommendation
           |FROM stats""".stripMargin
      }),

    // SHARDED ANN serving — IVF-routed stored subgraphs
    // (AnnIndex.buildOrLoadSharded/shardedSearchTopK): the 100 TB
    // composition the single-artifact q290 store cannot be, and the one
    // AnnServing.scala's own scale note promises. The corpus is
    // partitioned by coarse-quantizer cell (designated centroids 0..3 —
    // the q57/q81 oracle-exact IVF discipline; ivfTrainCentroids is the
    // float production knob), one NN-Descent subgraph per cell persists
    // inside ONE parquet artifact PARTITIONED BY cell, each query
    // routes to its nprobe=2 best cells and beam-searches only those
    // cells' subgraphs from per-cell entry points, and per-cell top-5s
    // merge to the global answer — recall-gated against exact L2 over
    // the FULL corpus, so the routing loss is measured, not assumed.
    // PlanSpec locks that the serving read is partition-PRUNED to the
    // probed cells. The oracle unrolls all four per-cell NN-Descent
    // chains, the cosine routing, the four per-cell searches, and the
    // merge. Scale: builds shard-local, serving beam-sized keyed joins
    // over pruned partitions; driver sees only cell ids + entry points.
    "q314_sharded_ann_serve" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
          .localCheckpoint()
        val index = operators.AnnIndex.buildOrLoadSharded(assigned,
          "vec_id", "embedding", nCells = 4, graphK = 10, graphRounds = 3,
          initBuckets = 16, indexDir = annIndexDir(d, "sharded"))
        val queries = emb.filter(col("vec_id") >= 40 && col("vec_id") < 50)
        val routed = Similarity.ivfProbeCells(queries, "vec_id", "embedding",
          cents, nprobe = 2)
        // the sharded serve and the exact ground truth are independent —
        // overlap them (guide §2.6)
        val Seq(merged, exact) = graft.core.Par.run[DataFrame](Seq(
          () => operators.AnnIndex.shardedSearchTopK(index, assigned,
            routed, "vec_id", "embedding", entriesPerCell = 2,
            beam = 12, rounds = 3, k = 5),
          () => Similarity.l2TopK(emb, queries, "vec_id", "embedding", k = 5)))
        Similarity.recallAtK(merged, exact, k = 5)
          .orderBy(col("q_id"))
      },
      Some(s"""${shardedAnnOracleCtes(c => s"$c >= 40 AND $c < 50")},
              |ed AS (SELECT q.id AS q_id, c.id AS n_id,
              |    list_sum([(q.iv[j]-c.iv[j])*(q.iv[j]-c.iv[j])
              |      for j in range(1,65)])::BIGINT AS d2
              |  FROM v q JOIN v c ON c.id <> q.id
              |  WHERE q.id >= 40 AND q.id < 50),
              |ex AS (SELECT q_id, n_id FROM (
              |    SELECT q_id, n_id, row_number() OVER (
              |      PARTITION BY q_id ORDER BY d2, n_id) AS rank FROM ed)
              |  WHERE rank <= 5),
              |hits AS (SELECT ex.q_id, count(*)::BIGINT AS n_hit
              |  FROM ex JOIN resr res ON ex.q_id = res.q_id AND ex.n_id = res.n_id
              |  GROUP BY ex.q_id)
              |SELECT q.q_id, 5::BIGINT AS k,
              |  coalesce(n_hit, 0)::BIGINT AS n_hit,
              |  floor(1e6 * (coalesce(n_hit, 0)::DOUBLE / 5))::BIGINT AS recall_ppm
              |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN hits USING (q_id)
              |ORDER BY q_id""".stripMargin)),

    // Adam7 INTERLACED PNG decode (Codecs.decodePngFull, interlace
    // method 1): the progressive-rendering form web encoders emit —
    // q302/q309 covered sequential storage only. Seven passes, each a
    // filter-SCOPED sub-image (filters reference the previous row
    // within the pass, never across passes) scattered onto the final
    // grid; dims are chosen small (≤ 23×11) so many assets have EMPTY
    // late passes — the geometry corner every Adam7 decoder must get
    // right. Even ids truecolor, odd ids RGBA (alpha pinned too). The
    // oracle predicts the same v-ramp sums as the sequential entries:
    // interlacing must reorder storage, never pixels — a wrong pass
    // origin/stride, filter scope, or scatter fails the hash. Scale:
    // the q302 partition-preserving mapPartitions shape.
    "q315_png_interlaced" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizePngInterlacedAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodePngFullStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id, (doc_id % 23 + 1)::BIGINT AS w,
             |    (doc_id % 11 + 1)::BIGINT AS h FROM documents),
             |pv AS (SELECT doc_id, (doc_id + ys.y * w + xs.x)::BIGINT AS v
             |  FROM dims, range(0, 23) xs(x), range(0, 11) ys(y)
             |  WHERE xs.x < w AND ys.y < h),
             |ps AS (SELECT doc_id,
             |    sum((v % 256) * 65536 + ((v // 256) % 256) * 256 +
             |        (v // 65536) % 256)::BIGINT AS pixel_sum,
             |    CASE WHEN doc_id % 2 = 1
             |      THEN sum((v * 13 + 7) % 256)::BIGINT
             |      ELSE NULL END AS alpha_sum
             |  FROM pv GROUP BY doc_id)
             |SELECT d.doc_id AS asset_id, 'png' AS codec, d.w AS width,
             |  d.h AS height,
             |  CASE WHEN d.doc_id % 2 = 0 THEN 2 ELSE 6 END::BIGINT
             |    AS color_type,
             |  CASE WHEN d.doc_id % 2 = 0 THEN 3 ELSE 4 END::BIGINT
             |    AS n_components,
             |  ps.pixel_sum, ps.alpha_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // STREAMING serving over the SHARDED index
    // (AnnServing.serveShardedTopK): query embeddings arrive as a
    // stream; each micro-batch routes to its nprobe=2 best cells
    // (ivfProbeCells) and beam-searches ONLY those cells' stored
    // subgraphs via partition-pruned reads — the complete 100 TB online
    // form (coarse routing + pruned shard search per batch), composing
    // q298's streaming serving with q314's sharding. Beam search is
    // stateless per query, so the drained append table equals the batch
    // statement exactly whatever the micro-batching; the oracle is the
    // shared sharded chain over a fourth query set, emitting raw
    // (q_id, n_id, d2, rank) rows — stronger than a recall gate.
    "q316_streaming_sharded_ann" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
          .localCheckpoint()
        val index = operators.AnnIndex.buildOrLoadSharded(assigned,
          "vec_id", "embedding", nCells = 4, graphK = 10, graphRounds = 3,
          initBuckets = 16, indexDir = annIndexDir(d, "sharded"))
        graft.streaming.AnnServing.serveShardedTopK(s, index, assigned, cents,
            queriesPath = s"$d/embeddings.parquet",
            querySchemaDDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
            queryFilter = col("vec_id") >= 50 && col("vec_id") < 60,
            idCol = "vec_id", vecCol = "embedding", nprobe = 2,
            entriesPerCell = 2, beam = 12, rounds = 3, k = 5)
          .select(col("q_id"), col("n_id"), col("d2"),
            col("rank").cast("bigint").as("rank"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""${shardedAnnOracleCtes(c => s"$c >= 50 AND $c < 60")}
              |SELECT q_id, n_id, d2, rank::BIGINT AS rank FROM resr
              |ORDER BY q_id, rank""".stripMargin)),

    // COLOR Motion-JPEG frame extraction: q308's MJPEG frames were
    // grayscale — real video is color, and AVI MJPEG is 4:2:0. Odd
    // frames are '00dc' chunks each a complete 4:2:0 baseline JPEG
    // (per-luma-block constant Y, per-MCU constant chroma, seed id+f),
    // so the per-frame decode runs the FULL color path — subsampled
    // chroma replication upsample + the JFIF YCbCr→RGB doubles — inside
    // the movi walk, and the oracle predicts each frame's packed-RGB
    // sum through the q296 color arithmetic. Even frames stay raw
    // BGR24, so mixed-type ordering is under the hash too. Scale: the
    // q305/q308 partition-preserving mapPartitions shape.
    "q317_avi_mjpeg_color" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeMjpegColorAviAssets(assetIds(s, d))
        graft.multimodal.Multimodal.sampleFrameStats(assets, stride = 1)
          .orderBy(col("asset_id"), col("frame_idx"))
      },
      Some("""WITH p AS (SELECT doc_id, (doc_id % 15 + 1)::BIGINT AS w,
             |    (doc_id % 9 + 1)::BIGINT AS h,
             |    (doc_id % 6 + 1)::BIGINT AS nf
             |  FROM documents),
             |fr AS (SELECT doc_id, w, h, f.f AS f
             |  FROM p, range(0, 6) f(f) WHERE f.f < nf),
             |rawpv AS (SELECT doc_id, w, h, f,
             |    (doc_id + f * w * h + i.i)::BIGINT AS v
             |  FROM fr, range(0, 135) i(i) WHERE f % 2 = 0 AND i.i < w * h),
             |rawfs AS (SELECT doc_id, w, h, f, sum(
             |    ((v // 65536) % 256) * 65536 + ((v // 256) % 256) * 256 +
             |    (v % 256))::BIGINT AS frame_sum
             |  FROM rawpv GROUP BY doc_id, w, h, f),
             |cpx AS (SELECT doc_id, w, h, f, xs.x AS x, ys.y AS y
             |  FROM fr, range(0, 15) xs(x), range(0, 9) ys(y)
             |  WHERE f % 2 = 1 AND xs.x < w AND ys.y < h),
             |ycc AS (SELECT doc_id, w, h, f,
             |    (((doc_id + f) * 7 + (x // 8) * 13 + (y // 8) * 29) % 256)::DOUBLE AS yy,
             |    ((((doc_id + f) * 11 + (x // 16) * 17 + (y // 16) * 23) % 256) - 128)::DOUBLE AS cb,
             |    ((((doc_id + f) * 5 + (x // 16) * 19 + (y // 16) * 31) % 256) - 128)::DOUBLE AS cr
             |  FROM cpx),
             |rgb AS (SELECT doc_id, w, h, f,
             |    least(255, greatest(0,
             |      floor(yy + 1.402::DOUBLE * cr + 0.5)))::BIGINT AS r,
             |    least(255, greatest(0,
             |      floor(yy - 0.344136::DOUBLE * cb - 0.714136::DOUBLE * cr + 0.5)))::BIGINT AS g,
             |    least(255, greatest(0,
             |      floor(yy + 1.772::DOUBLE * cb + 0.5)))::BIGINT AS bl
             |  FROM ycc),
             |jfs AS (SELECT doc_id, w, h, f,
             |    sum(65536 * r + 256 * g + bl)::BIGINT AS frame_sum
             |  FROM rgb GROUP BY doc_id, w, h, f),
             |fs AS (SELECT * FROM rawfs UNION ALL SELECT * FROM jfs)
             |SELECT doc_id AS asset_id, f AS frame_idx, w AS width,
             |  h AS height, frame_sum
             |FROM fs
             |ORDER BY asset_id, frame_idx""".stripMargin)),

    // GRAYSCALE PNG decode (color types 0 and 4): the photographic and
    // scan forms the color fixtures omit — q302/q309/q315 covered
    // truecolor, palette, RGBA. Even ids type 0 (1 byte/pixel — the
    // filter offsets at bpp 1 without a PLTE), odd ids type 4
    // (gray+alpha, bpp 2), both under the five-filter cycling; gray
    // replicates into the packed channels (sum = 65793·g) and type 4's
    // exact alpha sum is pinned. Scale: the q302 shape.
    "q318_png_grayscale" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizePngGrayAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodePngFullStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id, (doc_id % 19 + 1)::BIGINT AS w,
             |    (doc_id % 7 + 1)::BIGINT AS h FROM documents),
             |pv AS (SELECT doc_id, (doc_id + ys.y * w + xs.x)::BIGINT AS v
             |  FROM dims, range(0, 19) xs(x), range(0, 7) ys(y)
             |  WHERE xs.x < w AND ys.y < h),
             |ps AS (SELECT doc_id,
             |    sum(65793 * (v % 256))::BIGINT AS pixel_sum,
             |    CASE WHEN doc_id % 2 = 1
             |      THEN sum((v * 13 + 7) % 256)::BIGINT
             |      ELSE NULL END AS alpha_sum
             |  FROM pv GROUP BY doc_id)
             |SELECT d.doc_id AS asset_id, 'png' AS codec, d.w AS width,
             |  d.h AS height,
             |  CASE WHEN d.doc_id % 2 = 0 THEN 0 ELSE 4 END::BIGINT
             |    AS color_type,
             |  CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 2 END::BIGINT
             |    AS n_components,
             |  ps.pixel_sum, ps.alpha_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // 4:2:2 baseline JPEG decode: the remaining common subsampled
    // layout — q296 oracle-gated 4:2:0 (two-axis chroma replication),
    // this gates the HORIZONTAL-only case (luma 2×1, one chroma block
    // per 16×8 MCU, indices (x/16, y/8)) through the identical color
    // conversion. A wrong sampling-factor parse or upsample axis fails
    // the hash. Scale: the q286 mapPartitions shape.
    "q319_jpeg_422_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeJpeg422Assets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeJpegStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id, (doc_id % 31 + 1)::BIGINT AS w,
             |    (doc_id % 17 + 1)::BIGINT AS h FROM documents),
             |px AS (SELECT doc_id, w, h, xs.x AS x, ys.y AS y
             |  FROM dims, range(0, 31) xs(x), range(0, 17) ys(y)
             |  WHERE xs.x < w AND ys.y < h),
             |ycc AS (SELECT doc_id,
             |    ((doc_id * 7 + (x // 8) * 13 + (y // 8) * 29) % 256)::DOUBLE AS yy,
             |    (((doc_id * 11 + (x // 16) * 17 + (y // 8) * 23) % 256) - 128)::DOUBLE AS cb,
             |    (((doc_id * 5 + (x // 16) * 19 + (y // 8) * 31) % 256) - 128)::DOUBLE AS cr
             |  FROM px),
             |rgb AS (SELECT doc_id,
             |    least(255, greatest(0,
             |      floor(yy + 1.402::DOUBLE * cr + 0.5)))::BIGINT AS r,
             |    least(255, greatest(0,
             |      floor(yy - 0.344136::DOUBLE * cb - 0.714136::DOUBLE * cr + 0.5)))::BIGINT AS g,
             |    least(255, greatest(0,
             |      floor(yy + 1.772::DOUBLE * cb + 0.5)))::BIGINT AS bl
             |  FROM ycc),
             |ps AS (SELECT doc_id,
             |    sum(65536 * r + 256 * g + bl)::BIGINT AS pixel_sum
             |  FROM rgb GROUP BY doc_id)
             |SELECT d.doc_id AS asset_id, 'jpeg' AS codec, d.w AS width,
             |  d.h AS height, 3::BIGINT AS n_components, ps.pixel_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // 16-BIT PNG decode: photographic/scientific sources ship 16-bit
    // channels, which every 8-bit-only decoder silently skips. Assets
    // are bit-depth-16 grayscale streams (big-endian v mod 2^16
    // samples, five-filter cycling at the DOUBLED byte stride — the
    // bpp = ceil(depth/8)·channels rule a depth-blind Sub/Paeth gets
    // wrong), reduced by the exact high byte (v >> 8, the standard
    // 16→8 reduction). The oracle predicts the reduced pixel sums from
    // id arithmetic; a wrong sample stride, endianness, or filter
    // offset fails the hash. Scale: the q302 mapPartitions shape.
    "q320_png_16bit" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizePng16Assets(assetIds(s, d))
        graft.multimodal.Multimodal.decodePngFullStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id, (doc_id % 13 + 1)::BIGINT AS w,
             |    (doc_id % 5 + 1)::BIGINT AS h FROM documents),
             |pv AS (SELECT doc_id,
             |    (doc_id + ys.y * w + xs.x) % 65536 AS v
             |  FROM dims, range(0, 13) xs(x), range(0, 5) ys(y)
             |  WHERE xs.x < w AND ys.y < h),
             |ps AS (SELECT doc_id,
             |    sum(65793 * (v // 256))::BIGINT AS pixel_sum
             |  FROM pv GROUP BY doc_id)
             |SELECT d.doc_id AS asset_id, 'png' AS codec, d.w AS width,
             |  d.h AS height, 0::BIGINT AS color_type,
             |  1::BIGINT AS n_components, ps.pixel_sum,
             |  NULL::BIGINT AS alpha_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // decimate-by-3 FIR resample — the 48 kHz → 16 kHz ASR rate pair
    // stated by name everywhere the audio stages are motivated, now
    // under its own hash: q310's anti-aliased shape at den=3 with the
    // 6th-binomial-row low-pass ([1,6,15,20,15,6,1]/64 — dyadic sum so
    // floor(N/64) stays engine-exact, all-positive taps so int16 can
    // never overshoot). The oracle replays the exact convolution at
    // the 3-frame stride (zero-padded edges, per-channel interleave)
    // and predicts the re-decoded amplitude stats, third rate, and
    // ceil(ns/3) frames. Scale: two chained partition-preserving
    // mapPartitions, no shuffle.
    "q321_wav_resample_fir3" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWavAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeWavStats(
            graft.multimodal.Multimodal.resampleAudioFir(assets, den = 3))
          .orderBy(col("asset_id"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |    (8000 + (doc_id % 8) * 1000)::BIGINT AS rate,
             |    (doc_id % 2 + 1)::BIGINT AS ch,
             |    (doc_id % 100 + 1)::BIGINT AS ns
             |  FROM documents),
             |fr AS (SELECT doc_id, ch, ns, j.j AS j, c.c AS c
             |  FROM p, range(0, 34) j(j), range(0, 2) c(c)
             |  WHERE j.j < (ns + 2) // 3 AND c.c < ch),
             |conv AS (SELECT doc_id, j, c, sum(
             |    (CASE t.t WHEN 0 THEN 1 WHEN 1 THEN 6 WHEN 2 THEN 15
             |      WHEN 3 THEN 20 WHEN 4 THEN 15 WHEN 5 THEN 6 ELSE 1 END) *
             |    (CASE WHEN 3 * j + t.t - 3 BETWEEN 0 AND ns - 1 THEN
             |      (CASE WHEN (doc_id + (3 * j + t.t - 3) * ch + c) % 65536 < 32768
             |        THEN (doc_id + (3 * j + t.t - 3) * ch + c) % 65536
             |        ELSE (doc_id + (3 * j + t.t - 3) * ch + c) % 65536 - 65536 END)
             |      ELSE 0 END))::BIGINT AS n
             |  FROM fr, range(0, 7) t(t)
             |  GROUP BY doc_id, j, c),
             |sm AS (SELECT doc_id,
             |    greatest(-32768, least(32767, floor(n / 64.0)::BIGINT)) AS s
             |  FROM conv),
             |agg AS (SELECT doc_id, sum(s)::BIGINT AS sum_pcm,
             |    sum(abs(s))::BIGINT AS sum_abs, max(abs(s))::BIGINT AS peak_abs
             |  FROM sm GROUP BY doc_id)
             |SELECT p.doc_id AS asset_id, 'wav' AS codec,
             |  (p.rate // 3)::BIGINT AS sample_rate,
             |  p.ch AS n_channels, ((p.ns + 2) // 3)::BIGINT AS n_frames,
             |  agg.sum_pcm, agg.sum_abs, agg.peak_abs
             |FROM p JOIN agg USING (doc_id)
             |ORDER BY asset_id""".stripMargin)))

  /** One cell's full CDC lifecycle for the q322 oracle, unrolled: the
    * cell's base NN-Descent subgraph (k=10, 3 rounds — q314's per-cell
    * shape), the id%7=3 delete restriction, the repair search + re-cut
    * from the cell's two lowest surviving ids, and the insert of the
    * cell's routed upserts (search + reverse patch) — ending at
    * `c${c}_pg`, the cell's final per-node top-10 edge table. Requires
    * sibling CTEs `assign` (base routing), `ups` (upsert routing), `v`
    * (global int vectors) in scope. */
  private def shardedCdcCellCtes(c: Int): String =
    s"""${nnGraphOracleCtes(10, 3,
         s" WHERE vec_id % 10 <> 9 AND vec_id IN (SELECT vec_id FROM assign WHERE cell = $c)",
         p = s"c${c}_", lead = "")},
       |c${c}_rem AS (SELECT id FROM c${c}_v WHERE id % 7 <> 3),
       |c${c}_keptd AS MATERIALIZED (SELECT g.id, g.nbr, g.d2 FROM c${c}_nn3 g
       |  JOIN c${c}_rem a ON g.id = a.id
       |  JOIN c${c}_rem b ON g.nbr = b.id),
       |c${c}_deg AS (SELECT id, count(*)::BIGINT AS n_nbrs
       |  FROM c${c}_keptd GROUP BY id),
       |c${c}_qd AS MATERIALIZED (SELECT rem.id
       |  FROM c${c}_rem rem LEFT JOIN c${c}_deg deg USING (id)
       |  WHERE coalesce(deg.n_nbrs, 0) < 10),
       |c${c}_ent AS (SELECT id FROM c${c}_rem ORDER BY id LIMIT 2),
       |r${c}_se AS MATERIALIZED (SELECT id, nbr FROM c${c}_keptd
       |  UNION SELECT nbr AS id, id AS nbr FROM c${c}_keptd),
       |r${c}_b0 AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn
       |    FROM (SELECT q.id AS q_id, cc.id AS n_id,
       |        list_sum([(q.iv[j]-cc.iv[j])*(q.iv[j]-cc.iv[j])
       |          for j in range(1,65)])::BIGINT AS d2
       |      FROM v q JOIN c${c}_qd qd ON q.id = qd.id
       |        JOIN v cc ON cc.id IN (SELECT id FROM c${c}_ent)
       |          AND cc.id <> q.id))
       |  WHERE rn <= 12),
       |${graphSearchRoundSql(1, 12, p = s"r${c}_")},
       |${graphSearchRoundSql(2, 12, p = s"r${c}_")},
       |${graphSearchRoundSql(3, 12, p = s"r${c}_")},
       |c${c}_rp AS (SELECT id, nbr, d2 FROM (
       |    SELECT id, nbr, d2, row_number() OVER (
       |      PARTITION BY id ORDER BY d2, nbr) AS rn
       |    FROM (SELECT DISTINCT id, nbr, d2 FROM (
       |      SELECT k.id, k.nbr, k.d2 FROM c${c}_keptd k
       |        JOIN c${c}_qd qd ON k.id = qd.id
       |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM r${c}_b3)))
       |  WHERE rn <= 10),
       |c${c}_rg AS MATERIALIZED (
       |  SELECT k.id, k.nbr, k.d2 FROM c${c}_keptd k
       |  ANTI JOIN c${c}_qd qd ON k.id = qd.id
       |  UNION ALL SELECT id, nbr, d2 FROM c${c}_rp),
       |x${c}_se AS MATERIALIZED (SELECT id, nbr FROM c${c}_rg
       |  UNION SELECT nbr AS id, id AS nbr FROM c${c}_rg),
       |x${c}_b0 AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn
       |    FROM (SELECT q.id AS q_id, cc.id AS n_id,
       |        list_sum([(q.iv[j]-cc.iv[j])*(q.iv[j]-cc.iv[j])
       |          for j in range(1,65)])::BIGINT AS d2
       |      FROM v q JOIN ups u ON q.id = u.vec_id AND u.cell = $c
       |        JOIN v cc ON cc.id IN (SELECT id FROM c${c}_ent)
       |          AND cc.id <> q.id))
       |  WHERE rn <= 12),
       |${graphSearchRoundSql(1, 12, p = s"x${c}_")},
       |${graphSearchRoundSql(2, 12, p = s"x${c}_")},
       |${graphSearchRoundSql(3, 12, p = s"x${c}_")},
       |x${c}_ne AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM x${c}_b3)
       |  WHERE rn <= 10),
       |c${c}_pg AS MATERIALIZED (SELECT id, nbr, d2 FROM (
       |    SELECT id, nbr, d2, row_number() OVER (
       |      PARTITION BY id ORDER BY d2, nbr) AS rn
       |    FROM (SELECT id, nbr, d2 FROM c${c}_rg
       |      UNION ALL SELECT n_id AS id, q_id AS nbr, d2 FROM x${c}_ne
       |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM x${c}_ne))
       |  WHERE rn <= 10)""".stripMargin

  /** One seeded beam-search stage for the q326 layered-descent oracle:
    * undirected closure of `graphNn`, initial beam = the (q_id, n_id)
    * rows of `seeds` scored exactly, then `rounds` expand/rescore/keep
    * rounds — the statements [[graft.operators.Similarity
    * .graphSearchTopKSeeded]] executes. */
  private def seededSearchCtes(
      p: String, seeds: String, graphNn: String, beam: Int, rounds: Int,
      qv: String = "v"): String =
    s"""${p}se AS MATERIALIZED (SELECT id, nbr FROM $graphNn
       |  UNION SELECT nbr AS id, id AS nbr FROM $graphNn),
       |${p}b0 AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn
       |    FROM (SELECT s.q_id, s.n_id,
       |        list_sum([(x.iv[j]-y.iv[j])*(x.iv[j]-y.iv[j])
       |          for j in range(1,65)])::BIGINT AS d2
       |      FROM $seeds s JOIN $qv x ON x.id = s.q_id JOIN v y ON y.id = s.n_id
       |      WHERE s.q_id <> s.n_id))
       |  WHERE rn <= $beam),
       |${(1 to rounds).map(graphSearchRoundSql(_, beam, qv = qv, p = p)).mkString(",\n")}""".stripMargin

  /** Top-`m` per query of a beam CTE — the between-layer seed cut. */
  private def topMSeedsCte(name: String, from: String, m: Int): String =
    s"""$name AS MATERIALIZED (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM $from)
       |  WHERE rn <= $m)""".stripMargin

  // --------------------------------------------------------------------
  // Round-14 surface: sharded-store CDC (the q312 lifecycle composed
  // with q314's cell partitioning), rational polyphase resampling, MP4
  // container walk, VP8L, layered entry points.
  // --------------------------------------------------------------------
  private val roundFourteenSurface: Seq[(String, Q)] = Seq(

    // SHARDED-store CDC (IndexCdc.startSharded): round 13's two marquee
    // pieces COMPOSED — the streaming delete → threshold-repair →
    // insert lifecycle (q312) applied to the cell-partitioned index
    // (q314). Every CDC row routes to its coarse-quantizer cell by its
    // carried image (Debezium discipline: upserts the after-image,
    // deletes the before-image — a cell-moving update arrives as
    // delete+upsert), and the merge applies PER TOUCHED CELL only:
    // tombstone, repair from the cell's two lowest surviving ids when
    // the degraded queue passes the threshold, HNSW-pattern insert,
    // with the rebuild-fraction guard evaluated on the CELL-local
    // ratio. Each cell is its own crash-safe write-aside store carrying
    // an applied-batch marker, so a crash between two cells' swaps
    // replays the batch with committed cells skipped (spec-locked);
    // untouched cells are never opened, read, or rewritten
    // (spec-locked on file metadata). The oracle unrolls all four
    // cells' full lifecycles — base subgraph, delete restriction,
    // repair search + re-cut, insert search + reverse patch — and pins
    // the drained store's per-(cell, node) degree and Σd2. Scale:
    // per-batch cost is the batch's cell footprint — keyed semi-joins
    // and beam-sized searches inside touched cells only.
    "q322_sharded_index_cdc" -> Q(
      (s, d) => {
        import scala.jdk.CollectionConverters._
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
          .localCheckpoint()
        val cdcDir = java.nio.file.Paths.get(freshScratchDir("graft_q322_cdc"))
        java.nio.file.Files.createDirectories(cdcDir)
        def writeBatchFile(df: DataFrame, name: String, mtime: Long): Unit = {
          val tmp = cdcDir.resolve(s"${name}_tmp")
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.move(part, cdcDir.resolve(name))
          EventStreams.deleteTree(tmp)
          cdcDir.resolve(name).toFile.setLastModified(mtime)
        }
        // b0: deletes carrying their BEFORE images (the stored vectors);
        // b1: upserts carrying their AFTER images
        writeBatchFile(base.filter(col("vec_id") % 7 === 3)
          .select(lit("delete").as("op"), col("vec_id"), col("embedding")),
          "b0.parquet", 1000000L)
        writeBatchFile(emb.filter(col("vec_id") % 10 === 9)
          .select(lit("upsert").as("op"), col("vec_id"), col("embedding")),
          "b1.parquet", 2000000L)
        // fresh per-run store: CDC mutates it, so a drained store must
        // not leak into the next invocation — cloned by file copy from
        // the immutable once-per-JVM seed (bit-identical to a fresh
        // initShardedStore build; keeps a bench pass two-run-budget-able)
        val store = clonedShardedSeed(s, d, "base4", "graft_q322_store",
          assigned, nCells = 4)
        val ckpt = java.nio.file.Files.createTempDirectory("graft_q322_ckpt")
        val cdc = s.readStream
          .schema("op STRING, vec_id BIGINT, embedding ARRAY<FLOAT>")
          .option("maxFilesPerTrigger", 1).parquet(cdcDir.toString)
        val q = graft.streaming.IndexCdc.startSharded(cdc, store,
          ckpt.toString, cents, "vec_id", "embedding", k = 10,
          entriesPerCell = 2, beam = 12, searchRounds = 3,
          repairThreshold = 1L)
        EventStreams.drain(q, Some(ckpt.toString))
        graft.streaming.IndexCdc.shardedStoreGraph(s, store, 0L until 4L)
          .groupBy(col("cell"), col("q_id").as("id"))
          .agg(count(lit(1)).as("n_nbrs"), sum(col("d2")).as("sum_d2"))
          .select(col("cell"), col("id"), (col("id") % 10 === 9).as("is_new"),
            col("n_nbrs"), col("sum_d2"))
          .orderBy(col("cell"), col("id"))
      },
      Some(s"""WITH ve AS MATERIALIZED (SELECT vec_id,
              |    embedding::DOUBLE[] AS e FROM embeddings),
              |cents AS (SELECT vec_id AS cent_id, e AS ce FROM ve WHERE vec_id < 4),
              |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
              |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
              |      PARTITION BY ve.vec_id
              |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
              |        c.cent_id) AS rn
              |    FROM ve CROSS JOIN cents c
              |    WHERE ve.vec_id % 10 <> 9) WHERE rn = 1),
              |ups AS MATERIALIZED (SELECT vec_id, cell FROM (
              |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
              |      PARTITION BY ve.vec_id
              |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
              |        c.cent_id) AS rn
              |    FROM ve CROSS JOIN cents c
              |    WHERE ve.vec_id % 10 = 9) WHERE rn = 1),
              |v AS MATERIALIZED (SELECT vec_id AS id,
              |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
              |  FROM embeddings),
              |${(0 to 3).map(shardedCdcCellCtes).mkString(",\n")}
              |SELECT cell, id, (id % 10 = 9) AS is_new,
              |  count(*)::BIGINT AS n_nbrs, sum(d2)::BIGINT AS sum_d2
              |FROM (SELECT 0::BIGINT AS cell, id, nbr, d2 FROM c0_pg
              |  UNION ALL SELECT 1::BIGINT, id, nbr, d2 FROM c1_pg
              |  UNION ALL SELECT 2::BIGINT, id, nbr, d2 FROM c2_pg
              |  UNION ALL SELECT 3::BIGINT, id, nbr, d2 FROM c3_pg)
              |GROUP BY cell, id
              |ORDER BY cell, id""".stripMargin)),

    // RATIONAL L/M polyphase resample (Codecs.resampleWavRational via
    // Multimodal.resampleAudioRational): q310/q321's den ∈ {2,3}
    // decimators cover 48k→24k/16k — the other dominant ASR pair,
    // 44.1k→16k, is the true rational 160/441 no integer decimator can
    // express. The polyphase form reads input frames under a triangular
    // (Bartlett) FIR of half-width max(L,M) at position j·M on the
    // L-upsampled grid — closed-form integer taps (tap = T − |offset|),
    // exact per-output tap-sum normalization (floorDiv → per-phase
    // unity DC gain), so the oracle replays the entire convolution from
    // id arithmetic: a wrong phase origin, support bound, edge
    // normalization, or output-length ceil fails the hash. Pins the
    // exact 44.1k→16k frame count ceil(ns·160/441) and rate 16000.
    // Scale: two chained partition-preserving mapPartitions, no
    // shuffle, bytes never on the driver.
    "q323_wav_resample_rational" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWav441Assets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeWavStats(
            graft.multimodal.Multimodal.resampleAudioRational(assets, 160, 441))
          .orderBy(col("asset_id"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |    (doc_id % 2 + 1)::BIGINT AS ch,
             |    (doc_id % 120 + 1)::BIGINT AS ns
             |  FROM documents),
             |nf AS (SELECT doc_id, ch, ns,
             |    ((ns * 160 + 440) // 441)::BIGINT AS nout FROM p),
             |fr AS (SELECT doc_id, ch, ns, nout, j.j AS j, c.c AS c
             |  FROM nf, range(0, 45) j(j), range(0, 2) c(c)
             |  WHERE j.j < nout AND c.c < ch),
             |conv AS (SELECT doc_id, j, c,
             |    sum((441 - abs(j * 441 - k.k * 160)) *
             |      (CASE WHEN (doc_id + k.k * ch + c) % 65536 < 32768
             |        THEN (doc_id + k.k * ch + c) % 65536
             |        ELSE (doc_id + k.k * ch + c) % 65536 - 65536 END))::BIGINT AS acc,
             |    sum(441 - abs(j * 441 - k.k * 160))::BIGINT AS ws
             |  FROM fr, range(0, 120) k(k)
             |  WHERE k.k < ns AND abs(j * 441 - k.k * 160) < 441
             |  GROUP BY doc_id, j, c),
             |sm AS (SELECT doc_id,
             |    greatest(-32768, least(32767,
             |      floor(acc::DOUBLE / ws)::BIGINT)) AS s
             |  FROM conv),
             |agg AS (SELECT doc_id, sum(s)::BIGINT AS sum_pcm,
             |    sum(abs(s))::BIGINT AS sum_abs, max(abs(s))::BIGINT AS peak_abs
             |  FROM sm GROUP BY doc_id)
             |SELECT p.doc_id AS asset_id, 'wav' AS codec,
             |  16000::BIGINT AS sample_rate,
             |  p.ch AS n_channels, n.nout AS n_frames,
             |  agg.sum_pcm, agg.sum_abs, agg.peak_abs
             |FROM p JOIN nf n USING (doc_id) JOIN agg USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // ISO-BMFF/MP4 container walk (Codecs.walkMp4 via
    // Multimodal.walkMp4Tracks): a video corpus is mostly MP4, and the
    // feasible pure-JVM census step is the moov/trak/stbl STRUCTURE
    // walk — per file the major brand, per track the mdia/hdlr handler
    // 4cc and the stbl/stsz sample count — no codec payload decoded.
    // Assets carry 1–3 tracks (alternating video/audio handlers),
    // id-predicted sample counts, and rotating video brands
    // (isom/mp42/avc1 — q311's census now counts these as "mp4",
    // distinct from HEIC's ftyp brands). Every u32 box size is kept as
    // Long and bounds-checked before the cursor advances (the AVI
    // movi-walk discipline); truncated boxes drop the asset
    // (spec-locked). A wrong box nesting, hdlr offset, stsz field
    // offset, or track order fails the hash. Scale: one
    // partition-preserving mapPartitions reading O(header) bytes.
    "q324_mp4_track_walk" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeMp4Assets(assetIds(s, d))
        graft.multimodal.Multimodal.walkMp4Tracks(assets)
          .orderBy(col("asset_id"), col("track_idx"))
      },
      Some("""SELECT doc_id AS asset_id,
             |  CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
             |    ELSE 'avc1' END AS brand,
             |  t.t::BIGINT AS track_idx,
             |  CASE WHEN t.t % 2 = 0 THEN 'vide' ELSE 'soun' END AS handler,
             |  ((doc_id + 7 * t.t) % 50 + 1)::BIGINT AS n_samples
             |FROM documents, range(0, 3) t(t)
             |WHERE t.t < doc_id % 3 + 1
             |ORDER BY asset_id, track_idx""".stripMargin)),

    // WebP LOSSLESS decode (Vp8l.decode via Multimodal.decodeWebpStats):
    // the largest web-image class that previously only counted (q311)
    // now DECODES — a full VP8L bitstream implementation: LSB-first
    // packing, canonical prefix codes in both header forms (simple and
    // code-length-coded with 16/18 repeats over the reordered 19-symbol
    // alphabet), meta prefix groups via an entropy image, LZ77 row
    // copies with direct distances, and all four inverse transforms.
    // The corpus cycles the classes: cross-COLOR deltas (4×4 blocks),
    // SUBTRACT_GREEN with whole-row LZ77 refs, COLOR_INDEXING palettes
    // of 2–7 entries (1/2/4-bit pixel bundling), PREDICTOR (all 14
    // modes across the corpus) with two meta groups. The oracle
    // predicts the decoded packed-RGB sum, alpha sum, and the declared
    // transform tag from id arithmetic — a wrong inverse transform,
    // palette delta, bundling shift, prediction mode, or group routing
    // fails the hash. Color cache and the 120 2D distance codes are
    // documented out of scope (lossy VP8 stays sniff-only). Scale: two
    // chained partition-preserving mapPartitions, bytes never on the
    // driver.
    "q325_webp_lossless_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWebpAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeWebpStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id, (doc_id % 21 + 1)::BIGINT AS w,
             |    (doc_id % 13 + 1)::BIGINT AS h, (doc_id % 4)::BIGINT AS cls,
             |    (doc_id % 6 + 2)::BIGINT AS K
             |  FROM documents),
             |px AS (SELECT doc_id, cls, K, w, h, xs.x AS x, ys.y AS y
             |  FROM dims, range(0, 21) xs(x), range(0, 13) ys(y)
             |  WHERE xs.x < w AND ys.y < h),
             |qv AS (SELECT doc_id,
             |    CASE cls WHEN 1 THEN (y - y % 2) * w + x
             |      WHEN 2 THEN (y * w + x) % K
             |      ELSE y * w + x END AS q
             |  FROM px),
             |ps AS (SELECT doc_id,
             |    sum(((doc_id + 3 * q) % 256) * 65536 +
             |        ((doc_id + 5 * q) % 256) * 256 +
             |        (doc_id + 7 * q) % 256)::BIGINT AS pixel_sum
             |  FROM qv GROUP BY doc_id)
             |SELECT d.doc_id AS asset_id, 'vp8l' AS codec, d.w AS width,
             |  d.h AS height,
             |  CASE d.cls WHEN 0 THEN 'color' WHEN 1 THEN 'subtract_green'
             |    WHEN 2 THEN 'palette' ELSE 'predictor' END AS transform,
             |  ps.pixel_sum, (255 * d.w * d.h)::BIGINT AS alpha_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // LAYERED entry points (LayeredAnn): the HNSW structure that keeps
    // routing hops logarithmic at 100× — beam search previously walked
    // in from a FIXED global id list at every scale (the one structural
    // scale lever round 13 left). Levels are hash-deterministic
    // geometric (trailing base-4 zeros of hash64('lvl:'||id), p = 1/4
    // per layer, cap 3); each upper layer persists its members' own
    // NN-Descent subgraph beside the level-0 store; search descends
    // from the single top entry (lowest id at the max populated
    // level), beam-searching each layer seeded by the one above, and
    // the level-0 search starts from the PER-QUERY descent seeds
    // (graphSearchTopKSeeded — insert/repair consume the same descent
    // via insertBatchSeeded/repairGraphSeeded, spec-locked). The
    // oracle unrolls the level assignment, all three layer subgraph
    // builds, the three-stage descent, and the seeded level-0 search,
    // and gates recall against exact L2 — the q290 discipline with the
    // fixed entry list replaced by the layered walk. Scale: layer l
    // holds ~n/4^l nodes (the whole stack costs ~n/3 extra build), and
    // every descent stage is beam-sized keyed joins.
    "q326_layered_ann_serve" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val stored = operators.AnnIndex.buildOrLoad(emb, "vec_id", "embedding",
          k = 15, rounds = 4, initBuckets = 16, indexDir = annIndexDir(d, "full"))
        operators.LayeredAnn.buildOrLoad(emb, "vec_id", "embedding",
          cap = 3, layerK = 5, layerRounds = 2, initBuckets = 16,
          indexDir = annIndexDir(d, "layered"))
        val queries = emb.filter(col("vec_id") >= 60 && col("vec_id") < 70)
        // the layered serve and the exact ground truth are independent —
        // overlap them (guide §2.6)
        val Seq(served, exact) = graft.core.Par.run[DataFrame](Seq(
          () => operators.LayeredAnn.searchTopK(s, annIndexDir(d, "layered"),
            stored, emb, queries, "vec_id", "embedding",
            cap = 3, m = 2, descBeam = 6, descRounds = 2,
            beam = 12, rounds = 3, k = 5),
          () => Similarity.l2TopK(emb, queries, "vec_id", "embedding", k = 5)))
        Similarity.recallAtK(served, exact, k = 5)
          .orderBy(col("q_id"))
      },
      Some {
        def lvlCase: String =
          """CASE
            |      WHEN ('0x'||substr(md5('lvl:'||vec_id::VARCHAR),1,15))::BIGINT % 4 <> 0 THEN 0
            |      WHEN ('0x'||substr(md5('lvl:'||vec_id::VARCHAR),1,15))::BIGINT % 16 <> 0 THEN 1
            |      WHEN ('0x'||substr(md5('lvl:'||vec_id::VARCHAR),1,15))::BIGINT % 64 <> 0 THEN 2
            |      ELSE 3 END""".stripMargin
        val layerChains = (1 to 3).map(l => nnGraphOracleCtes(5, 2,
          s" WHERE vec_id IN (SELECT vec_id FROM lvt WHERE level >= $l)",
          p = s"L${l}_", lead = "")).mkString(",\n")
        s"""WITH lvt AS MATERIALIZED (SELECT vec_id, $lvlCase AS level
           |  FROM embeddings),
           |${nnGraphOracleCtes(15, 4, "", "", lead = "")},
           |$layerChains,
           |qset AS (SELECT vec_id AS id FROM embeddings
           |  WHERE vec_id >= 60 AND vec_id < 70),
           |ent AS (SELECT min(vec_id) AS id FROM lvt
           |  WHERE level = (SELECT max(level) FROM lvt)),
           |s3 AS (SELECT q.id AS q_id, e.id AS n_id FROM qset q, ent e),
           |${seededSearchCtes("D3_", "s3", "L3_nn2", 6, 2)},
           |${topMSeedsCte("s2", "D3_b2", 2)},
           |${seededSearchCtes("D2_", "s2", "L2_nn2", 6, 2)},
           |${topMSeedsCte("s1", "D2_b2", 2)},
           |${seededSearchCtes("D1_", "s1", "L1_nn2", 6, 2)},
           |${topMSeedsCte("sF", "D1_b2", 2)},
           |${seededSearchCtes("F0_", "sF", "nn4", 12, 3)},
           |res AS (SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id, row_number() OVER (
           |      PARTITION BY q_id ORDER BY d2, n_id) AS rank FROM F0_b3)
           |  WHERE rank <= 5),
           |ed AS (SELECT a.id AS q_id, b.id AS n_id,
           |    list_sum([(a.iv[j]-b.iv[j])*(a.iv[j]-b.iv[j])
           |      for j in range(1,65)])::BIGINT AS d2
           |  FROM v a JOIN v b ON a.id >= 60 AND a.id < 70 AND a.id <> b.id),
           |ex AS (SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id, row_number() OVER (
           |      PARTITION BY q_id ORDER BY d2, n_id) AS rank FROM ed)
           |  WHERE rank <= 5),
           |hits AS (SELECT ex.q_id, count(*)::BIGINT AS n_hit
           |  FROM ex JOIN res ON ex.q_id = res.q_id AND ex.n_id = res.n_id
           |  GROUP BY ex.q_id)
           |SELECT q.q_id, 5::BIGINT AS k,
           |  coalesce(n_hit, 0)::BIGINT AS n_hit,
           |  floor(1e6 * (coalesce(n_hit, 0)::DOUBLE / 5))::BIGINT AS recall_ppm
           |FROM (SELECT DISTINCT q_id FROM ex) q LEFT JOIN hits USING (q_id)
           |ORDER BY q_id""".stripMargin
      }),

    // Per-cell GROWTH report for the sharded index
    // (AnnIndex.shardGrowthReport): the q313 maintenance-report analog
    // the owner of the q322 sharded-CDC pipeline watches. CDC drift
    // makes cells grow apart (hot tenants upsert, cold ones drain);
    // per cell the report reads member count, corpus share in ppm,
    // stored-edge volume and degraded-list count off the q314 artifact,
    // and derives the action the shares imply — share above 30% →
    // split, below 20% → merge, else healthy (4 cells, mean share
    // 25%). The oracle replays the cosine assignment, all four
    // per-cell NN-Descent chains, and the integer share arithmetic —
    // a wrong share divisor, degraded threshold, or verdict boundary
    // fails the hash. Scale: two aggregates over the assignment and
    // the k·n edge table plus one broadcast 1-row total.
    "q327_shard_growth_report" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
          .localCheckpoint()
        val index = operators.AnnIndex.buildOrLoadSharded(assigned,
          "vec_id", "embedding", nCells = 4, graphK = 10, graphRounds = 3,
          initBuckets = 16, indexDir = annIndexDir(d, "sharded"))
        operators.AnnIndex.shardGrowthReport(index, assigned, "vec_id",
            k = 10, splitPpm = 300000L, mergePpm = 200000L,
            cents = Some(cents))
          .orderBy(col("cell"))
      },
      Some {
        val cellChains = (0 to 3).map(c => nnGraphOracleCtes(10, 3,
          s" WHERE vec_id IN (SELECT vec_id FROM assign WHERE cell = $c)",
          p = s"s${c}_", lead = "")).mkString(",\n")
        val stats = (0 to 3).map { c =>
          s"""SELECT $c::BIGINT AS cell,
             |    (SELECT count(*) FROM s${c}_nn3)::BIGINT AS n_edges,
             |    (SELECT count(*) FROM (SELECT id FROM s${c}_nn3
             |      GROUP BY id HAVING count(*) < 10))::BIGINT AS n_degraded"""
            .stripMargin
        }.mkString("\n  UNION ALL ")
        s"""WITH ve AS MATERIALIZED (SELECT vec_id,
           |    embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, e AS ce FROM ve WHERE vec_id < 4),
           |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
           |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
           |      PARTITION BY ve.vec_id
           |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
           |        c.cent_id) AS rn
           |    FROM ve CROSS JOIN cents c) WHERE rn = 1),
           |$cellChains,
           |stats AS ($stats),
           |mem AS (SELECT cell, count(*)::BIGINT AS n_members
           |  FROM assign GROUP BY cell),
           |tot AS (SELECT count(*)::BIGINT AS n_total FROM assign)
           |SELECT m.cell, m.n_members,
           |  (m.n_members * 1000000 // t.n_total)::BIGINT AS share_ppm,
           |  s.n_edges, s.n_degraded,
           |  CASE WHEN m.n_members * 1000000 // t.n_total > 300000 THEN 'split'
           |    WHEN m.n_members * 1000000 // t.n_total < 200000 THEN 'merge'
           |    ELSE 'healthy' END AS recommendation
           |FROM mem m JOIN stats s USING (cell) CROSS JOIN tot t
           |ORDER BY cell""".stripMargin
      }),

    // Corpus-wide codec COVERAGE audit (Multimodal.codecCoverageAudit):
    // the operational "how much of my 100 TB actually decodes" readout
    // over the full 8-container census corpus, WEATHERED the way a real
    // corpus is — every id % 17 = 5 payload is truncated to its first
    // 10 bytes. Each asset's deepest pass genuinely RUNS (full decode
    // for bmp/png/wav/avi/jpeg, VP8L for webp, the moov walk for
    // ISO-BMFF) and the row reports what happened: decoded / structure
    // (walked, payload untouched) / sniffed (recognized, payload
    // undecodable — out-of-scope codec or corrupt stream) /
    // unrecognized. Truncation splits by magic length: bmp/png/jpeg
    // keep their short magics and downgrade to sniffed, while
    // RIFF/ISO-BMFF magics need 12 bytes so wav/avi/webp/heic/mp4
    // truncations fall to unknown — the oracle pins that split, so a
    // decoder that starts throwing instead of skipping, or a sniff
    // that misreads a truncated magic, fails the hash. Doubles as a
    // canary over the whole decode surface: any decoder regression
    // flips its class from decoded to sniffed. Scale: one
    // partition-preserving mapPartitions + a fixed-width aggregate.
    "q328_codec_coverage_audit" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeCensusAssets(assetIds(s, d))
        val weathered = assets.withColumn("bytes",
          when(col("asset_id") % 17 === 5, substring(col("bytes"), 1, 10))
            .otherwise(col("bytes")))
        graft.multimodal.Multimodal.codecCoverageAudit(weathered)
          .groupBy(col("container"), col("status"))
          .agg(count(lit(1)).as("n_assets"))
          .orderBy(col("container"), col("status"))
      },
      Some("""WITH cls AS (SELECT doc_id % 8 AS c,
             |    (doc_id % 17 = 5) AS corrupt FROM documents),
             |st AS (SELECT
             |    CASE WHEN corrupt AND c IN (2, 3, 5, 6, 7) THEN 'unknown'
             |      WHEN c = 0 THEN 'bmp' WHEN c = 1 THEN 'png'
             |      WHEN c = 2 THEN 'wav' WHEN c = 3 THEN 'avi'
             |      WHEN c = 4 THEN 'jpeg' WHEN c = 5 THEN 'webp'
             |      WHEN c = 6 THEN 'heic' ELSE 'mp4' END AS container,
             |    CASE WHEN corrupt AND c IN (2, 3, 5, 6, 7) THEN 'unrecognized'
             |      WHEN corrupt THEN 'sniffed'
             |      WHEN c IN (5, 6) THEN 'sniffed'
             |      WHEN c = 7 THEN 'structure'
             |      ELSE 'decoded' END AS status
             |  FROM cls)
             |SELECT container, status, count(*)::BIGINT AS n_assets
             |FROM st GROUP BY 1, 2
             |ORDER BY container, status""".stripMargin)),

    // Shard REBALANCE (IndexCdc.rebalanceShardedStore): the operation
    // q327's report recommends, closing the sharded lifecycle loop
    // (seed → CDC → report → rebalance). Cells whose corpus share
    // leaves the [15%, 25%] band are re-quantized — a heavy cell
    // splits into two (sub-centroid A = its lowest member's vector,
    // B = the member least cosine-similar to A, members reassigned by
    // the ivfAssign rule; lo half keeps the id, hi half takes the next
    // unused one), a light cell folds into its most-similar sibling
    // and its centroid leaves the quantizer. Affected cells get fresh
    // cell-local NN-Descent subgraphs committed through the write-aside
    // swap, TWO-PHASE (all next_ pairs written before the first swap;
    // CDC markers inherited); untouched cells are read only through their parquet
    // footers. Round14Spec locks the rebuilt graphs equal to fresh
    // builds and untouched stores byte-identical; the oracle replays
    // the integer share arithmetic, both sub-centroid selections, the
    // member reassignment, and the merge-target argmax — a wrong
    // share boundary, tie-break, or reassignment rule fails the hash.
    // Scale: decisions from nCells footer counts; data moves only
    // through affected cells' keyed reassignment + local rebuilds.
    "q329_shard_rebalance" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
          .localCheckpoint()
        // fresh per-run store: rebalance mutates it — cloned by file
        // copy from the immutable once-per-JVM seed (bit-identical to
        // a fresh initShardedStore build)
        val store = clonedShardedSeed(s, d, "full4", "graft_q329_store",
          assigned, nCells = 4)
        val (report, _) = graft.streaming.IndexCdc.rebalanceShardedStore(
          s, store, cents, "vec_id", "embedding", k = 10, graphRounds = 3,
          initBuckets = 16, splitPpm = 250000L, mergePpm = 150000L,
          rebalanceId = 1L)
        report.orderBy(col("cell"))
      },
      Some("""WITH ve AS MATERIALIZED (SELECT vec_id,
             |    embedding::DOUBLE[] AS e FROM embeddings),
             |cents AS (SELECT vec_id AS cent_id, e AS ce FROM ve WHERE vec_id < 4),
             |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
             |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
             |      PARTITION BY ve.vec_id
             |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
             |        c.cent_id) AS rn
             |    FROM ve CROSS JOIN cents c) WHERE rn = 1),
             |mem AS (SELECT c.cent_id AS cell, count(a.vec_id)::BIGINT AS n
             |  FROM cents c LEFT JOIN assign a ON a.cell = c.cent_id
             |  GROUP BY c.cent_id),
             |tot AS (SELECT greatest(sum(n), 1)::BIGINT AS t FROM mem),
             |shares AS (SELECT cell, n, (n * 1000000 // t.t)::BIGINT AS sp
             |  FROM mem, tot t),
             |spl AS (SELECT cell FROM shares WHERE sp > 250000 AND n >= 2),
             |mrg AS (SELECT cell FROM shares WHERE sp < 150000),
             |pool AS (SELECT cell FROM shares
             |  WHERE cell NOT IN (SELECT cell FROM spl)
             |    AND cell NOT IN (SELECT cell FROM mrg)),
             |hi AS (SELECT cell,
             |    (3 + row_number() OVER (ORDER BY cell))::BIGINT AS hi_cell
             |  FROM spl),
             |suba AS (SELECT a.cell, min(a.vec_id) AS a_id
             |  FROM assign a JOIN spl s ON a.cell = s.cell GROUP BY a.cell),
             |subb AS (SELECT cell, vec_id AS b_id FROM (
             |    SELECT sa.cell, m.vec_id, row_number() OVER (PARTITION BY sa.cell
             |      ORDER BY round(list_cosine_similarity(mv.e, av.e), 6) ASC,
             |        m.vec_id) AS rn
             |    FROM suba sa JOIN assign m ON m.cell = sa.cell
             |      JOIN ve mv ON mv.vec_id = m.vec_id
             |      JOIN ve av ON av.vec_id = sa.a_id) WHERE rn = 1),
             |resplit AS (SELECT m.vec_id,
             |    CASE WHEN round(list_cosine_similarity(mv.e, av.e), 6)
             |        >= round(list_cosine_similarity(mv.e, bv.e), 6)
             |      THEN m.cell ELSE h.hi_cell END AS cell
             |  FROM assign m JOIN suba sa ON m.cell = sa.cell
             |    JOIN subb sb ON m.cell = sb.cell JOIN hi h ON m.cell = h.cell
             |    JOIN ve mv ON mv.vec_id = m.vec_id
             |    JOIN ve av ON av.vec_id = sa.a_id
             |    JOIN ve bv ON bv.vec_id = sb.b_id),
             |mt AS (SELECT cell AS m_cell, tcell AS t_cell FROM (
             |    SELECT mg.cell, p.cell AS tcell, row_number() OVER (
             |      PARTITION BY mg.cell
             |      ORDER BY round(list_cosine_similarity(mc.ce, pc.ce), 6) DESC,
             |        p.cell) AS rn
             |    FROM mrg mg JOIN pool p ON true
             |      JOIN cents mc ON mc.cent_id = mg.cell
             |      JOIN cents pc ON pc.cent_id = p.cell) WHERE rn = 1),
             |finalm AS (SELECT vec_id, cell FROM resplit
             |  UNION ALL SELECT a.vec_id, mt.t_cell AS cell
             |    FROM assign a JOIN mt ON a.cell = mt.m_cell
             |  UNION ALL SELECT a.vec_id, a.cell FROM assign a
             |    WHERE a.cell NOT IN (SELECT cell FROM spl)
             |      AND a.cell NOT IN (SELECT cell FROM mrg)),
             |cnt AS (SELECT cell, count(*)::BIGINT AS n_members
             |  FROM finalm GROUP BY cell),
             |allc AS (SELECT cell FROM shares
             |  UNION ALL SELECT hi_cell AS cell FROM hi),
             |act AS (SELECT cell,
             |    CASE WHEN cell IN (SELECT hi_cell FROM hi) THEN 'split_hi'
             |      WHEN cell IN (SELECT cell FROM spl) THEN 'split_lo'
             |      WHEN cell IN (SELECT cell FROM mrg) THEN 'merged_away'
             |      WHEN cell IN (SELECT t_cell FROM mt) THEN 'merge_target'
             |      ELSE 'kept' END AS action
             |  FROM allc)
             |SELECT a.cell, coalesce(c.n_members, 0)::BIGINT AS n_members,
             |  a.action
             |FROM act a LEFT JOIN cnt c USING (cell)
             |ORDER BY cell""".stripMargin)),

    // WARC-over-gzip crawl ingestion (sources/Warc.scala via
    // Multimodal.parseWarcGzStats): the container the big public web
    // crawls ship as, and the first real pass of a 100 TB text
    // pipeline. Each asset is a *.warc.gz object whose records are
    // INDIVIDUAL gzip members (the record-splittable crawl layout);
    // the reader walks RFC 1952 members by hand — header flag fields,
    // raw-DEFLATE inflate, per-member CRC32 + ISIZE validation — so a
    // corrupt record drops one record, not the file tail, then parses
    // each ISO 28500 WARC record (version line, named headers,
    // Content-Length-delimited payload, CRLF CRLF close) and reduces
    // its payload to token stats. The oracle predicts every field from
    // id arithmetic — a wrong member boundary, header skip, length
    // check, or terminator test fails the hash. Scale: one
    // partition-preserving mapPartitions, bytes never on the driver.
    "q330_warc_gz_ingest" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWarcGzAssets(assetIds(s, d))
        graft.multimodal.Multimodal.parseWarcGzStats(assets)
          .orderBy(col("asset_id"), col("rec_idx"))
      },
      Some("""WITH recs AS (SELECT d.doc_id, r.r AS rec,
             |    ((d.doc_id + r.r) % 40 + 1)::BIGINT AS n
             |  FROM documents d, range(0, 3) r(r) WHERE r.r < d.doc_id % 3 + 1),
             |sums AS (SELECT doc_id, rec,
             |    sum((doc_id + 7 * j.j + 13 * rec) % 100)::BIGINT AS s
             |  FROM recs, range(0, 40) j(j) WHERE j.j < n GROUP BY doc_id, rec)
             |SELECT r.doc_id AS asset_id, r.rec::BIGINT AS rec_idx,
             |  CASE r.rec % 3 WHEN 0 THEN 'warcinfo' WHEN 1 THEN 'request'
             |    ELSE 'response' END AS rec_type,
             |  'http://example.com/' || r.doc_id || '/' || r.rec AS target_uri,
             |  (3 * r.n - 1)::BIGINT AS content_length,
             |  r.n AS n_tokens, s.s AS sum_tokens
             |FROM recs r JOIN sums s ON r.doc_id = s.doc_id AND r.rec = s.rec
             |ORDER BY asset_id, rec_idx""".stripMargin)),

    // GIF decode (multimodal/Gif.scala): the remaining classic
    // web-image class, with the REAL LZW stream — variable code width
    // growing at each table-fill boundary, clear/EOI codes, the KwKwK
    // case, LSB-first packing, 255-byte sub-block reassembly — plus
    // extension-block skipping (every asset carries a Graphic Control
    // Extension) and the four-pass row interlace on odd ids. Palette
    // and index streams are closed-form in (id, pixel ordinal), so the
    // oracle predicts the palette-resolved packed-RGB sum — a wrong
    // growth boundary, KwKwK expansion, sub-block seam, deinterlace
    // pass, or palette entry fails the hash. Interlace must reorder
    // STORAGE, never pixels: odd and even ids pin the same sums.
    // Scale: the q302 partition-preserving mapPartitions shape.
    "q331_gif_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeGifAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeGifStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id, (doc_id % 19 + 1)::BIGINT AS w,
             |    (doc_id % 11 + 1)::BIGINT AS h, (doc_id % 3 + 2)::BIGINT AS bits
             |  FROM documents),
             |px AS (SELECT doc_id,
             |    ((doc_id + 3 * q.q) % (1 << bits))::BIGINT AS ix
             |  FROM dims, range(0, 209) q(q) WHERE q.q < w * h),
             |ps AS (SELECT doc_id, sum(((7 * ix + 1) % 256) * 65536 +
             |    ((11 * ix + 2) % 256) * 256 + (13 * ix + 3) % 256)::BIGINT
             |    AS pixel_sum
             |  FROM px GROUP BY doc_id)
             |SELECT d.doc_id AS asset_id, 'gif' AS codec, d.w AS width,
             |  d.h AS height, d.bits AS palette_bits,
             |  (d.doc_id % 2 = 1) AS interlaced, ps.pixel_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // G.711 μ-law/A-law decode (Codecs.encodeWavG711/decodeWavG711):
    // the telephony/call-center audio class every ASR corpus carries —
    // 8-bit companded WAV (audio format 7/6) expanded to 16-bit linear
    // by the exact ITU-T arithmetic (μ-law: complement, bias-shift by
    // segment, sign from the complemented MSB; A-law: XOR 0x55,
    // segment-scaled mantissa). Even ids μ-law, odd A-law. The oracle
    // replays both expansions bit-for-bit over the id-predicted byte
    // ramps — a wrong bias, segment shift, or sign convention fails
    // the hash. Scale: one partition-preserving mapPartitions,
    // fixed-width stats out, bytes never on the driver.
    "q332_g711_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWavG711Assets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeWavG711Stats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH p AS (SELECT doc_id, (doc_id % 2 + 1)::BIGINT AS ch,
             |    (doc_id % 120 + 1)::BIGINT AS ns, (doc_id % 2 = 0) AS mu
             |  FROM documents),
             |bytes AS (SELECT doc_id, mu, ((doc_id + k.k) % 256)::BIGINT AS v
             |  FROM p, range(0, 240) k(k) WHERE k.k < ns * ch),
             |sm AS (SELECT doc_id,
             |    CASE WHEN mu THEN (
             |      CASE WHEN (255 - v) >= 128
             |        THEN 132 - ((((255 - v) % 16) * 8 + 132)
             |          * (1 << (((255 - v) // 16) % 8)))
             |        ELSE ((((255 - v) % 16) * 8 + 132)
             |          * (1 << (((255 - v) // 16) % 8))) - 132 END)
             |    ELSE (
             |      (CASE WHEN xor(v, 85) >= 128 THEN 1 ELSE -1 END) *
             |      (CASE WHEN (xor(v, 85) // 16) % 8 = 0
             |          THEN (xor(v, 85) % 16) * 16 + 8
             |        WHEN (xor(v, 85) // 16) % 8 = 1
             |          THEN (xor(v, 85) % 16) * 16 + 264
             |        ELSE ((xor(v, 85) % 16) * 16 + 264)
             |          * (1 << (((xor(v, 85) // 16) % 8) - 1)) END))
             |    END AS s
             |  FROM bytes),
             |agg AS (SELECT doc_id, sum(s)::BIGINT AS sum_pcm,
             |    sum(abs(s))::BIGINT AS sum_abs, max(abs(s))::BIGINT AS peak_abs
             |  FROM sm GROUP BY doc_id)
             |SELECT p.doc_id AS asset_id,
             |  CASE WHEN p.mu THEN 'ulaw' ELSE 'alaw' END AS codec,
             |  8000::BIGINT AS sample_rate, p.ch AS n_channels,
             |  p.ns AS n_frames, agg.sum_pcm, agg.sum_abs, agg.peak_abs
             |FROM p JOIN agg USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // ustar tarball ingestion (sources/Tar.scala via
    // Multimodal.parseTarStats): the other container text corpora
    // actually ship in. Each archive's 512-byte headers are
    // checksum-VALIDATED (checksum recomputed with the field blanked
    // to spaces — a corrupt or misaligned header stops the walk;
    // guessing past it would mis-slice every later member), sizes
    // octal-parsed as Long and bounds-checked before the cursor
    // advances, payloads reduced to token stats, the archive required
    // to close with two zero blocks. The oracle predicts every member
    // field from id arithmetic — a wrong octal parse, checksum rule,
    // 512-padding, or terminator test fails the hash. Scale: one
    // partition-preserving mapPartitions, bytes never on the driver.
    "q333_tar_ingest" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeTarAssets(assetIds(s, d))
        graft.multimodal.Multimodal.parseTarStats(assets)
          .orderBy(col("asset_id"), col("member_idx"))
      },
      Some("""WITH mem AS (SELECT d.doc_id, m.m AS m,
             |    ((d.doc_id + 2 * m.m) % 30 + 1)::BIGINT AS n
             |  FROM documents d, range(0, 3) m(m) WHERE m.m < d.doc_id % 3 + 1),
             |sums AS (SELECT doc_id, m,
             |    sum((doc_id + 5 * j.j + 11 * m) % 100)::BIGINT AS s
             |  FROM mem, range(0, 30) j(j) WHERE j.j < n GROUP BY doc_id, m)
             |SELECT r.doc_id AS asset_id, r.m::BIGINT AS member_idx,
             |  'doc_' || r.doc_id || '_' || r.m || '.txt' AS name,
             |  (3 * r.n - 1)::BIGINT AS size, '0' AS typeflag,
             |  r.n AS n_tokens, s.s AS sum_tokens
             |FROM mem r JOIN sums s ON r.doc_id = s.doc_id AND r.m = s.m
             |ORDER BY asset_id, member_idx""".stripMargin)),

    // IMA/DVI ADPCM decode (Codecs.encodeWavAdpcm/decodeWavAdpcm): the
    // 4-bit telephony compression class (WAV format 0x11) — unlike
    // G.711's memoryless table expansion, ADPCM is a STATE CHAIN: each
    // nibble steps a (predictor, step-index) pair through the public
    // step/index tables with clamps at both ends, the fact chunk
    // carries the authoritative frame count, and the block header
    // seeds the chain. The oracle replays the entire recursion in SQL
    // (DuckDB WITH RECURSIVE over the 89-entry step table) — a wrong
    // diff term, clamp bound, index delta, nibble order, or header
    // seed diverges the chain and fails the hash on every asset.
    // Scale: one partition-preserving mapPartitions; the state chain
    // is per-asset-local, so parallelism is by asset exactly as at
    // 100 TB.
    "q334_adpcm_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWavAdpcmAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeWavAdpcmStats(assets)
          .orderBy(col("asset_id"))
      },
      Some {
        val steps = Seq(
          7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
          34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
          143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
          494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
          1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660,
          4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493,
          10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385,
          24623, 27086, 29794, 32767)
        val values = steps.zipWithIndex
          .map { case (v, i) => s"($i, $v)" }.mkString(", ")
        s"""WITH RECURSIVE p AS (SELECT doc_id,
           |    (doc_id % 100 + 1)::BIGINT AS ns FROM documents),
           |steps(i, s) AS (VALUES $values),
           |dec AS (
           |  SELECT doc_id, -1::BIGINT AS k, 0::BIGINT AS pred,
           |    0::BIGINT AS sidx, 0::BIGINT AS sum_pcm, 0::BIGINT AS sum_abs,
           |    0::BIGINT AS peak
           |  FROM p
           |  UNION ALL
           |  SELECT doc_id, k, np, nsi, sum_pcm + np, sum_abs + abs(np),
           |    greatest(peak, abs(np))
           |  FROM (
           |    SELECT x.doc_id, x.k, x.sum_pcm, x.sum_abs, x.peak,
           |      greatest(-32768, least(32767,
           |        x.pred + (CASE WHEN x.n >= 8 THEN -x.diff ELSE x.diff END)))
           |        AS np,
           |      least(88, greatest(0, x.sidx + (CASE x.n % 8
           |        WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
           |        ELSE -1 END))) AS nsi
           |    FROM (
           |      SELECT d.doc_id, d.k + 1 AS k, d.pred, d.sidx, d.sum_pcm,
           |        d.sum_abs, d.peak,
           |        ((d.doc_id + d.k + 1) % 16)::BIGINT AS n,
           |        ((st.s // 8)
           |          + (CASE WHEN (d.doc_id + d.k + 1) % 2 = 1
           |              THEN st.s // 4 ELSE 0 END)
           |          + (CASE WHEN ((d.doc_id + d.k + 1) % 16 // 2) % 2 = 1
           |              THEN st.s // 2 ELSE 0 END)
           |          + (CASE WHEN ((d.doc_id + d.k + 1) % 16 // 4) % 2 = 1
           |              THEN st.s ELSE 0 END))::BIGINT AS diff
           |      FROM dec d JOIN p USING (doc_id) JOIN steps st ON st.i = d.sidx
           |      WHERE d.k + 1 < p.ns) x) y)
           |SELECT d.doc_id AS asset_id, 'ima_adpcm' AS codec,
           |  8000::BIGINT AS sample_rate, (p.ns + 1)::BIGINT AS n_frames,
           |  d.sum_pcm, d.sum_abs, d.peak AS peak_abs
           |FROM dec d JOIN p USING (doc_id)
           |WHERE d.k = p.ns - 1
           |ORDER BY asset_id""".stripMargin
      }),

    // Sharded-store MAINTENANCE WINDOW (IndexCdc.maintenanceWindow):
    // the full online lifecycle composed end to end — the q322 CDC
    // stream drains (deletes then upserts, per-cell tombstone/repair/
    // insert), then the periodic maintenance job reads the DRIFTED
    // per-cell footprints off the live stores' parquet footers and
    // rebalances only if some cell left the [15%, 25%] share band
    // (q329's split/merge policy over q327's share rule), reporting
    // every cell either way. The oracle replays the post-CDC per-cell
    // MEMBERSHIP (survivors ∪ routed upserts — the q322 routing
    // without the graph chains) and then the full rebalance decision
    // arithmetic over those drifted counts — a wrong footprint,
    // share boundary, sub-centroid pick, reassignment, or merge
    // target fails the hash. Scale: decisions from nCells footer
    // counts; data moves only through the touched cells' batch merges
    // and any rebalanced cells' keyed reassignment + local rebuilds.
    "q335_shard_maintenance_window" -> Q(
      (s, d) => {
        import scala.jdk.CollectionConverters._
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
          .localCheckpoint()
        val cdcDir = java.nio.file.Paths.get(freshScratchDir("graft_q335_cdc"))
        java.nio.file.Files.createDirectories(cdcDir)
        def writeBatchFile(df: DataFrame, name: String, mtime: Long): Unit = {
          val tmp = cdcDir.resolve(s"${name}_tmp")
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.move(part, cdcDir.resolve(name))
          EventStreams.deleteTree(tmp)
          cdcDir.resolve(name).toFile.setLastModified(mtime)
        }
        writeBatchFile(base.filter(col("vec_id") % 7 === 3)
          .select(lit("delete").as("op"), col("vec_id"), col("embedding")),
          "b0.parquet", 1000000L)
        writeBatchFile(emb.filter(col("vec_id") % 10 === 9)
          .select(lit("upsert").as("op"), col("vec_id"), col("embedding")),
          "b1.parquet", 2000000L)
        // same immutable base-corpus seed as q322 (same assignment, same
        // build knobs) — each entry mutates its own wiped file-copy clone
        val store = clonedShardedSeed(s, d, "base4", "graft_q335_store",
          assigned, nCells = 4)
        val ckpt = java.nio.file.Files.createTempDirectory("graft_q335_ckpt")
        val cdc = s.readStream
          .schema("op STRING, vec_id BIGINT, embedding ARRAY<FLOAT>")
          .option("maxFilesPerTrigger", 1).parquet(cdcDir.toString)
        val q = graft.streaming.IndexCdc.startSharded(cdc, store,
          ckpt.toString, cents, "vec_id", "embedding", k = 10,
          entriesPerCell = 2, beam = 12, searchRounds = 3,
          repairThreshold = 1L)
        EventStreams.drain(q, Some(ckpt.toString))
        val (report, _) = graft.streaming.IndexCdc.maintenanceWindow(
          s, store, cents, "vec_id", "embedding", k = 10, graphRounds = 3,
          initBuckets = 16, splitPpm = 250000L, mergePpm = 150000L,
          rebalanceId = 100L)
        report.orderBy(col("cell"))
      },
      Some("""WITH ve AS MATERIALIZED (SELECT vec_id,
             |    embedding::DOUBLE[] AS e FROM embeddings),
             |cents AS (SELECT vec_id AS cent_id, e AS ce FROM ve WHERE vec_id < 4),
             |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
             |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
             |      PARTITION BY ve.vec_id
             |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
             |        c.cent_id) AS rn
             |    FROM ve CROSS JOIN cents c
             |    WHERE ve.vec_id % 10 <> 9) WHERE rn = 1),
             |ups AS MATERIALIZED (SELECT vec_id, cell FROM (
             |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
             |      PARTITION BY ve.vec_id
             |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
             |        c.cent_id) AS rn
             |    FROM ve CROSS JOIN cents c
             |    WHERE ve.vec_id % 10 = 9) WHERE rn = 1),
             |fm0 AS MATERIALIZED (
             |  SELECT vec_id, cell FROM assign WHERE vec_id % 7 <> 3
             |  UNION ALL SELECT vec_id, cell FROM ups),
             |mem AS (SELECT c.cent_id AS cell, count(f.vec_id)::BIGINT AS n
             |  FROM cents c LEFT JOIN fm0 f ON f.cell = c.cent_id
             |  GROUP BY c.cent_id),
             |tot AS (SELECT greatest(sum(n), 1)::BIGINT AS t FROM mem),
             |shares AS (SELECT cell, n, (n * 1000000 // t.t)::BIGINT AS sp
             |  FROM mem, tot t),
             |spl AS (SELECT cell FROM shares WHERE sp > 250000 AND n >= 2),
             |mrg AS (SELECT cell FROM shares WHERE sp < 150000),
             |pool AS (SELECT cell FROM shares
             |  WHERE cell NOT IN (SELECT cell FROM spl)
             |    AND cell NOT IN (SELECT cell FROM mrg)),
             |fired AS (SELECT (EXISTS (SELECT 1 FROM spl)
             |    OR EXISTS (SELECT 1 FROM mrg)) AS f),
             |hi AS (SELECT cell,
             |    (3 + row_number() OVER (ORDER BY cell))::BIGINT AS hi_cell
             |  FROM spl),
             |suba AS (SELECT f.cell, min(f.vec_id) AS a_id
             |  FROM fm0 f JOIN spl s ON f.cell = s.cell GROUP BY f.cell),
             |subb AS (SELECT cell, vec_id AS b_id FROM (
             |    SELECT sa.cell, m.vec_id, row_number() OVER (PARTITION BY sa.cell
             |      ORDER BY round(list_cosine_similarity(mv.e, av.e), 6) ASC,
             |        m.vec_id) AS rn
             |    FROM suba sa JOIN fm0 m ON m.cell = sa.cell
             |      JOIN ve mv ON mv.vec_id = m.vec_id
             |      JOIN ve av ON av.vec_id = sa.a_id) WHERE rn = 1),
             |resplit AS (SELECT m.vec_id,
             |    CASE WHEN round(list_cosine_similarity(mv.e, av.e), 6)
             |        >= round(list_cosine_similarity(mv.e, bv.e), 6)
             |      THEN m.cell ELSE h.hi_cell END AS cell
             |  FROM fm0 m JOIN suba sa ON m.cell = sa.cell
             |    JOIN subb sb ON m.cell = sb.cell JOIN hi h ON m.cell = h.cell
             |    JOIN ve mv ON mv.vec_id = m.vec_id
             |    JOIN ve av ON av.vec_id = sa.a_id
             |    JOIN ve bv ON bv.vec_id = sb.b_id),
             |mt AS (SELECT cell AS m_cell, tcell AS t_cell FROM (
             |    SELECT mg.cell, p.cell AS tcell, row_number() OVER (
             |      PARTITION BY mg.cell
             |      ORDER BY round(list_cosine_similarity(mc.ce, pc.ce), 6) DESC,
             |        p.cell) AS rn
             |    FROM mrg mg JOIN pool p ON true
             |      JOIN cents mc ON mc.cent_id = mg.cell
             |      JOIN cents pc ON pc.cent_id = p.cell) WHERE rn = 1),
             |finalm AS (SELECT vec_id, cell FROM resplit
             |  UNION ALL SELECT f.vec_id, mt.t_cell AS cell
             |    FROM fm0 f JOIN mt ON f.cell = mt.m_cell
             |  UNION ALL SELECT f.vec_id, f.cell FROM fm0 f
             |    WHERE f.cell NOT IN (SELECT cell FROM spl)
             |      AND f.cell NOT IN (SELECT cell FROM mrg)),
             |cnt AS (SELECT cell, count(*)::BIGINT AS n_members
             |  FROM finalm GROUP BY cell),
             |allc AS (SELECT cell FROM shares
             |  UNION ALL SELECT hi_cell AS cell FROM hi),
             |act AS (SELECT cell,
             |    CASE WHEN NOT (SELECT f FROM fired) THEN 'kept'
             |      WHEN cell IN (SELECT hi_cell FROM hi) THEN 'split_hi'
             |      WHEN cell IN (SELECT cell FROM spl) THEN 'split_lo'
             |      WHEN cell IN (SELECT cell FROM mrg) THEN 'merged_away'
             |      WHEN cell IN (SELECT t_cell FROM mt) THEN 'merge_target'
             |      ELSE 'kept' END AS action
             |  FROM allc)
             |SELECT a.cell, coalesce(c.n_members, 0)::BIGINT AS n_members,
             |  a.action
             |FROM act a LEFT JOIN cnt c USING (cell)
             |ORDER BY cell""".stripMargin)),

    // FLAC subset decode (multimodal/Flac.scala): the lossless audio
    // format speech/music corpora actually ship in. Full bitstream
    // parse — fLaC marker + STREAMINFO, 14-bit frame sync, UTF-8 frame
    // numbers, CRC-8 header and CRC-16 frame checksums both VALIDATED
    // — and the fixed-predictor subframe family: CONSTANT, VERBATIM,
    // FIXED orders 1–2 with genuine Rice-coded residuals (zigzag fold,
    // zeros-then-one unary quotient, 4-bit parameter). The oracle
    // reconstructs every sample in closed form (order-1 = prefix sum
    // of residuals, order-2 = x0 + n·d + Σ(n−k+1)·r_k) and pins the
    // DECLARED subframe type — a wrong Rice fold, unary sense, warmup
    // width, predictor recursion, or CRC rule fails the hash on every
    // asset. LPC subframes / stereo decorrelation documented out of
    // scope. Scale: the q302 partition-preserving mapPartitions shape.
    "q336_flac_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeFlacAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeFlacStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 4 AS cls,
             |    (doc_id % 3 + 1)::BIGINT AS nf FROM documents),
             |fr AS (SELECT doc_id, cls, f.f AS f,
             |    ((doc_id + f.f) % 40 + 3)::BIGINT AS ns
             |  FROM p, range(0, 3) f(f) WHERE f.f < nf),
             |sm AS (SELECT doc_id, f, n.n AS n,
             |    CASE cls
             |      WHEN 0 THEN (doc_id + 7 * f) % 200 - 100
             |      WHEN 1 THEN (doc_id + 3 * n.n + f) % 200 - 100
             |      WHEN 2 THEN (doc_id + f) % 200 - 100 +
             |        (SELECT coalesce(sum((doc_id + 5 * k.k + f) % 21 - 10), 0)
             |         FROM range(1, 43) k(k) WHERE k.k <= n.n)
             |      ELSE (doc_id + f) % 200 - 100
             |        + n.n * ((doc_id + f) % 11 - 5) +
             |        (SELECT coalesce(sum(
             |            (n.n - k.k + 1) * ((doc_id + 5 * k.k + f) % 21 - 10)), 0)
             |         FROM range(2, 43) k(k) WHERE k.k <= n.n)
             |    END AS s
             |  FROM fr, range(0, 43) n(n) WHERE n.n < ns),
             |agg AS (SELECT doc_id, count(*)::BIGINT AS n_samples,
             |    sum(s)::BIGINT AS sum_pcm, sum(abs(s))::BIGINT AS sum_abs,
             |    max(abs(s))::BIGINT AS peak_abs
             |  FROM sm GROUP BY doc_id)
             |SELECT p.doc_id AS asset_id, 'flac' AS codec,
             |  CASE p.cls WHEN 0 THEN 'constant' WHEN 1 THEN 'verbatim'
             |    WHEN 2 THEN 'fixed1' ELSE 'fixed2' END AS subframe_type,
             |  8000::BIGINT AS sample_rate, p.nf AS n_frames,
             |  agg.n_samples, agg.sum_pcm, agg.sum_abs, agg.peak_abs
             |FROM p JOIN agg USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // ZIP archive ingestion (sources/Zip.scala via
    // Multimodal.parseZipStats): the third container document corpora
    // ship in. The walk goes through the CENTRAL DIRECTORY — the EOCD
    // record located by scanning back from the tail, which is the only
    // correct entry point (appended garbage, data descriptors and
    // self-extractor stubs all break local-header streaming) — then
    // each member reads through its local header: method 0 copied,
    // method 8 inflated (real DEFLATE via Inflater), every payload
    // CRC32-validated against the directory. Members alternate
    // stored/DEFLATE by id so both paths sit under the hash. A wrong
    // EOCD scan, directory stride, local-header skip, or CRC rule
    // fails it. Scale: one partition-preserving mapPartitions.
    "q337_zip_ingest" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeZipAssets(assetIds(s, d))
        graft.multimodal.Multimodal.parseZipStats(assets)
          .orderBy(col("asset_id"), col("member_idx"))
      },
      Some("""WITH mem AS (SELECT d.doc_id, m.m AS m,
             |    ((d.doc_id + 2 * m.m) % 30 + 1)::BIGINT AS n
             |  FROM documents d, range(0, 3) m(m) WHERE m.m < d.doc_id % 3 + 1),
             |sums AS (SELECT doc_id, m,
             |    sum((doc_id + 5 * j.j + 11 * m) % 100)::BIGINT AS s
             |  FROM mem, range(0, 30) j(j) WHERE j.j < n GROUP BY doc_id, m)
             |SELECT r.doc_id AS asset_id, r.m::BIGINT AS member_idx,
             |  'doc_' || r.doc_id || '_' || r.m || '.txt' AS name,
             |  (CASE WHEN (r.doc_id + r.m) % 2 = 1 THEN 8 ELSE 0 END)::BIGINT
             |    AS method,
             |  (3 * r.n - 1)::BIGINT AS size, r.n AS n_tokens, s.s AS sum_tokens
             |FROM mem r JOIN sums s ON r.doc_id = s.doc_id AND r.m = s.m
             |ORDER BY asset_id, member_idx""".stripMargin)),

    // MP3 frame census (multimodal/Mpeg.walkMp3): the structural walk
    // an audio-corpus audit needs — ID3v2 tags skipped by their
    // syncsafe 28-bit size, every ISO/IEC 11172-3 frame header parsed
    // with the PER-FRAME padding bit honored in the stride (a wrong
    // stride desyncs at the very next frame and fails the whole
    // asset), bitrate/rate from the public index tables, duration from
    // the 1152-samples-per-frame Layer III constant. Layer III entropy
    // decode documented out of scope — the census is frames/rate/
    // duration, which is what corpus triage reads. Scale: one
    // partition-preserving mapPartitions over O(frames) header bytes.
    "q338_mp3_frame_census" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeMp3Assets(assetIds(s, d))
        graft.multimodal.Multimodal.walkMp3Stats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |    CASE (doc_id // 3) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
             |      ELSE 32000 END AS rate,
             |    CASE doc_id % 3 WHEN 0 THEN 128 WHEN 1 THEN 192
             |      ELSE 64 END AS kbps,
             |    (doc_id % 25 + 1) AS nf
             |  FROM documents)
             |SELECT doc_id AS asset_id, 'mp3' AS codec,
             |  rate::BIGINT AS sample_rate, kbps::BIGINT AS bitrate_kbps,
             |  nf::BIGINT AS n_frames,
             |  (nf * 1152 * 1000 // rate)::BIGINT AS duration_ms
             |FROM p ORDER BY asset_id""".stripMargin)),

    // Ogg page census (multimodal/Mpeg.walkOgg): the Xiph container
    // walk — OggS capture pattern, lacing-value packet termination
    // (a value < 255 completes a packet), per-stream page/packet
    // counts and final granule, and EVERY page's CRC-32
    // (poly 0x04c11db7, CRC field zeroed during computation)
    // VALIDATED — a corrupt page drops the asset. Interleaved logical
    // streams accumulate independently by serial. Codec payload decode
    // (Vorbis/Opus) documented out of scope. Scale: one
    // partition-preserving mapPartitions.
    "q339_ogg_page_census" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeOggAssets(assetIds(s, d))
        graft.multimodal.Multimodal.walkOggStats(assets)
          .orderBy(col("asset_id"), col("serial"))
      },
      Some("""WITH st AS (SELECT d.doc_id, s.s AS s,
             |    ((d.doc_id + s.s) % 3 + 1)::BIGINT AS np
             |  FROM documents d, range(0, 2) s(s) WHERE s.s < d.doc_id % 2 + 1),
             |pk AS (SELECT doc_id, s,
             |    sum((doc_id + s + p.p) % 3 + 1)::BIGINT AS n_packets
             |  FROM st, range(0, 3) p(p) WHERE p.p < np GROUP BY doc_id, s)
             |SELECT st.doc_id AS asset_id, (st.s + 7)::BIGINT AS serial,
             |  st.np AS n_pages, pk.n_packets,
             |  (st.doc_id + 100 * st.s + 10 * (st.np - 1))::BIGINT AS last_granule
             |FROM st JOIN pk ON st.doc_id = pk.doc_id AND st.s = pk.s
             |ORDER BY asset_id, serial""".stripMargin)),

    // Mixed-container ingest FUNNEL (Multimodal.extractCorpusDocs):
    // the one operator a 100 TB text pipeline actually starts with —
    // nobody ships a single container format, so ONE pass sniffs each
    // asset and extracts every document through the right walker:
    // ustar members, WARC records out of per-record gzip members, ZIP
    // members (stored + DEFLATE), all reduced to the same
    // (document, token stats) contract downstream stages consume. The
    // corpus cycles the three containers by id; the oracle predicts
    // every document's stats per container class — a wrong sniff
    // dispatch, member boundary, or extraction path fails the hash.
    // Scale: one partition-preserving mapPartitions, bytes never on
    // the driver; downstream is ordinary keyed relational flow.
    "q340_mixed_corpus_funnel" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeMixedCorpusAssets(assetIds(s, d))
        graft.multimodal.Multimodal.extractCorpusDocs(assets)
          .orderBy(col("asset_id"), col("member_idx"))
      },
      Some("""WITH cls AS (SELECT doc_id, doc_id % 3 AS c,
             |    (doc_id % 3 + 1)::BIGINT AS nm FROM documents),
             |mem AS (SELECT doc_id, c, m.m AS m,
             |    (CASE WHEN c = 1 THEN (doc_id + m.m) % 40 + 1
             |      ELSE (doc_id + 2 * m.m) % 30 + 1 END)::BIGINT AS n
             |  FROM cls, range(0, 3) m(m) WHERE m.m < nm),
             |sums AS (SELECT doc_id, c, m,
             |    sum(CASE WHEN c = 1 THEN (doc_id + 7 * j.j + 13 * m) % 100
             |      ELSE (doc_id + 5 * j.j + 11 * m) % 100 END)::BIGINT AS st
             |  FROM mem, range(0, 40) j(j) WHERE j.j < n GROUP BY doc_id, c, m)
             |SELECT r.doc_id AS asset_id,
             |  CASE r.c WHEN 0 THEN 'tar' WHEN 1 THEN 'warc' ELSE 'zip' END
             |    AS container,
             |  r.m::BIGINT AS member_idx, r.n AS n_tokens, s.st AS sum_tokens
             |FROM mem r JOIN sums s ON r.doc_id = s.doc_id AND r.m = s.m
             |ORDER BY asset_id, member_idx""".stripMargin)),

    // HTML → visible text (TextAnalysis.extractHtmlText): the
    // WET-generation step between the WARC fetch and tokenization,
    // expressed entirely as CODEGEN'D column expressions (regexp +
    // replace built-ins riding the scan — no UDF, no mapPartitions):
    // script/style elements dropped WITH contents, comments dropped,
    // tags stripped, the five predefined entities decoded with amp
    // LAST (single-pass — "&amp;lt;" must yield literal "&lt;"),
    // whitespace collapsed. Each document is wrapped in a fixture page
    // carrying every hazard (a script whose body contains "<", a
    // style block, a comment, attributes, entities) and the oracle
    // applies the same chain in DuckDB — the regex subset is the
    // Java-regex/RE2 agreement zone (the q127 discipline), so an
    // engine-divergent pattern fails the hash. Scale: zero-shuffle
    // scan-stage expressions.
    "q341_html_text_extract" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        val html = concat(
          lit("<html><head><script type=\"t\">if (1<2) hidden</script>" +
            "<style>p { }</style></head><body><!-- note -->\n<p id=\"a\">"),
          col("text"),
          lit("</p>\n<p>tail &amp; &lt;end&gt;</p></body></html>"))
        docs.select(col("doc_id"),
            TextAnalysis.extractHtmlText(html).as("extracted"))
          .select(col("doc_id"),
            size(split(col("extracted"), " ")).cast("long").as("n_tokens"),
            col("extracted"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (SELECT doc_id,
             |    '<html><head><script type="t">if (1<2) hidden</script>' ||
             |    '<style>p { }</style></head><body><!-- note -->' || chr(10) ||
             |    '<p id="a">' || text || '</p>' || chr(10) ||
             |    '<p>tail &amp; &lt;end&gt;</p></body></html>' AS html
             |  FROM documents),
             |e AS (SELECT doc_id,
             |    trim(regexp_replace(
             |      replace(replace(replace(replace(replace(
             |        regexp_replace(
             |          regexp_replace(
             |            regexp_replace(
             |              regexp_replace(html,
             |                '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
             |              '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
             |            '(?s)<!--.*?-->', ' ', 'g'),
             |          '<[^>]*>', ' ', 'g'),
             |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             |        '&apos;', ''''), '&amp;', '&'),
             |      '\s+', ' ', 'g')) AS extracted
             |  FROM h)
             |SELECT doc_id,
             |  length(string_split(extracted, ' '))::BIGINT AS n_tokens,
             |  extracted
             |FROM e ORDER BY doc_id""".stripMargin)),

    // URL canonicalization + dedup (TextAnalysis.canonicalizeUrl): the
    // normalize-before-dedup step a crawl frontier and a document-dedup
    // pass both need — the same page arrives under mixed-case
    // scheme/host, explicit default ports, fragments, and permuted
    // query order. Five surface variants per logical URL collapse to
    // two canonical groups (plain and with-query); the oracle predicts
    // the CANONICAL STRINGS from id arithmetic — ground truth, not a
    // replication of the regex chain — so a wrong port rule, fragment
    // cut, query sort, or case fold fails the hash. Scale: zero-shuffle
    // scan-stage normalization + one keyed aggregate.
    "q342_url_canonical_dedup" -> Q(
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"))
        val urls = docs.withColumn("url", expr(
          """CASE CAST(doc_id % 5 AS INT)
            |  WHEN 0 THEN concat('http://example.com/p', CAST(doc_id DIV 5 AS STRING))
            |  WHEN 1 THEN concat('HTTP://EXAMPLE.COM:80/p', CAST(doc_id DIV 5 AS STRING))
            |  WHEN 2 THEN concat('http://example.com/p', CAST(doc_id DIV 5 AS STRING), '#frag')
            |  WHEN 3 THEN concat('http://example.com/p', CAST(doc_id DIV 5 AS STRING), '?b=2&a=1')
            |  ELSE concat('http://example.com:80/p', CAST(doc_id DIV 5 AS STRING), '?a=1&b=2#x')
            |END""".stripMargin))
        urls
          .withColumn("canonical_url",
            TextAnalysis.canonicalizeUrl(col("url")))
          .groupBy(col("canonical_url"))
          .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("min_doc"))
          .orderBy(col("canonical_url"))
      },
      Some("""WITH u AS (SELECT doc_id, doc_id // 5 AS k,
             |    (doc_id % 5 >= 3) AS q FROM documents),
             |g AS (SELECT k, q, count(*)::BIGINT AS n_variants,
             |    min(doc_id) AS min_doc
             |  FROM u GROUP BY k, q)
             |SELECT 'http://example.com/p' || k ||
             |    CASE WHEN q THEN '?a=1&b=2' ELSE '' END AS canonical_url,
             |  n_variants, min_doc
             |FROM g ORDER BY canonical_url""".stripMargin)),

    // The WET pipeline END TO END (Multimodal.warcHtmlDocs +
    // TextAnalysis.extractHtmlText): the true Common Crawl shape —
    // *.warc.gz objects whose response records carry HTML PAGES — run
    // through both halves composed exactly as they deploy at 100 TB:
    // the binary walk (gzip members → WARC records → html string) in
    // one partition-preserving mapPartitions, the visible-text
    // extraction as codegen'd scan-stage regex on top. The oracle is
    // GROUND TRUTH, not chain replication: each page's visible text is
    // id-predicted, so the expected strings are constructed directly —
    // a wrong member boundary, record filter, entity pass, or
    // whitespace rule fails the hash. Scale: mapPartitions + scan
    // expressions, zero shuffle end to end (PlanSpec-locked).
    "q343_wet_pipeline" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWarcHtmlAssets(assetIds(s, d))
        graft.multimodal.Multimodal.warcHtmlDocs(assets)
          .select(col("asset_id"), col("rec_idx"), col("target_uri"),
            TextAnalysis.extractHtmlText(col("html")).as("extracted"))
          .select(col("asset_id"), col("rec_idx"), col("target_uri"),
            size(split(col("extracted"), " ")).cast("long").as("n_tokens"),
            col("extracted"))
          .orderBy(col("asset_id"), col("rec_idx"))
      },
      Some("""WITH recs AS (SELECT d.doc_id, r.r AS rec,
             |    ((d.doc_id + 3 * r.r) % 30 + 1)::BIGINT AS n
             |  FROM documents d, range(0, 2) r(r) WHERE r.r < d.doc_id % 2 + 1),
             |tok AS (SELECT doc_id, rec,
             |    string_agg(lpad(((doc_id + 9 * j.j + 5 * rec) % 100)::VARCHAR,
             |      2, '0'), ' ' ORDER BY j.j) AS ts
             |  FROM recs, range(0, 30) j(j) WHERE j.j < n GROUP BY doc_id, rec)
             |SELECT r.doc_id AS asset_id, r.rec::BIGINT AS rec_idx,
             |  'http://example.com/' || r.doc_id || '/' || r.rec AS target_uri,
             |  (r.n + 3)::BIGINT AS n_tokens,
             |  t.ts || ' tail & <end>' AS extracted
             |FROM recs r JOIN tok t ON r.doc_id = t.doc_id AND r.rec = t.rec
             |ORDER BY asset_id, rec_idx""".stripMargin)))

  /** One repaired layer for the q344 oracle: the layer's surviving
    * members (`rem` ∩ level ≥ l), its degraded queue (degree < layerK
    * in the tombstoned graph K$l), the queue's seeded repair search
    * from the stack's top entry, and the per-node top-layerK re-cut —
    * the statements [[graft.streaming.LayeredCdc.mergeLayeredCdcBatch]]
    * step 2 executes (threshold 1: an empty queue re-cuts nothing, so
    * the unconditional replay is exact). */
  private def layerRepairCtes(l: Int): String =
    s"""mem$l AS (SELECT r.id FROM rem r
       |  JOIN lvt ON lvt.vec_id = r.id AND lvt.level >= $l),
       |qd$l AS MATERIALIZED (SELECT m.id FROM mem$l m
       |  LEFT JOIN (SELECT id, count(*) AS n FROM K$l GROUP BY id) d
       |    USING (id)
       |  WHERE coalesce(d.n, 0) < 5),
       |sd$l AS (SELECT q.id AS q_id, e.id AS n_id FROM qd$l q, ent e),
       |${seededSearchCtes(s"R${l}_", s"sd$l", s"K$l", 6, 2)},
       |LG$l AS MATERIALIZED (
       |  SELECT k.id, k.nbr, k.d2 FROM K$l k ANTI JOIN qd$l q ON k.id = q.id
       |  UNION ALL SELECT id, nbr, d2 FROM (
       |    SELECT id, nbr, d2, row_number() OVER (
       |      PARTITION BY id ORDER BY d2, nbr) AS rn
       |    FROM (SELECT DISTINCT id, nbr, d2 FROM (
       |      SELECT k.id, k.nbr, k.d2 FROM K$l k JOIN qd$l q ON k.id = q.id
       |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM R${l}_b2)))
       |  WHERE rn <= 5)""".stripMargin

  /** One HNSW insert-walk layer for the q344 oracle: the upserts'
    * seeded search over the post-repair layer graph G$l (one search —
    * its full beam both seeds the next layer down and, cut to
    * top-layerK for the upserts whose level reaches this layer,
    * supplies the linked adjacency `na$l`), then the reverse-patch
    * re-cut `NG$l` — [[graft.streaming.LayeredCdc.mergeLayeredCdcBatch]]
    * step 4 per layer. */
  private def layerLinkCtes(l: Int, seedsCte: String): String =
    s"""${seededSearchCtes(s"U${l}_", seedsCte, s"LG$l", 6, 2, qv = "vq")},
       |na$l AS (SELECT q_id, n_id, d2 FROM (
       |    SELECT u.q_id, u.n_id, u.d2, row_number() OVER (
       |      PARTITION BY u.q_id ORDER BY u.d2, u.n_id) AS rn
       |    FROM U${l}_b2 u JOIN lvt ON lvt.vec_id = u.q_id
       |      AND lvt.level >= $l)
       |  WHERE rn <= 5),
       |NG$l AS MATERIALIZED (SELECT id, nbr, d2 FROM (
       |    SELECT id, nbr, d2, row_number() OVER (
       |      PARTITION BY id ORDER BY d2, nbr) AS rn
       |    FROM (SELECT id, nbr, d2 FROM LG$l
       |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM na$l
       |      UNION ALL SELECT n_id AS id, q_id AS nbr, d2 FROM na$l))
       |  WHERE rn <= 5)""".stripMargin

  /** One CELL's full layered-CDC lifecycle for the q349 oracle — the
    * q344 composition at cap 2 over cell `c`'s membership: base level-0
    * and two layer chains, both tombstones, gated layer repairs seeded
    * from the cell's top entry, the level-0 queue's two-stage descent +
    * repair, and the upserts' insert walk (descent + per-layer links +
    * seeded level-0 fold-in). Ends at w{c}pg / w{c}NG1 / w{c}NG2 —
    * the cell's post-batch level-0 and layer graphs. Assumes the
    * shared CTEs assign / upsr / lvt / v / vq. */
  private def shardedLayeredCellCtes(c: Int): String = {
    val p = s"w$c"
    def layerRepair(l: Int): String =
      s"""${p}mem$l AS (SELECT r.id FROM ${p}rem r
         |  JOIN lvt ON lvt.vec_id = r.id AND lvt.level >= $l),
         |${p}qd$l AS MATERIALIZED (SELECT m.id FROM ${p}mem$l m
         |  LEFT JOIN (SELECT id, count(*) AS n FROM ${p}K$l GROUP BY id) d
         |    USING (id)
         |  WHERE coalesce(d.n, 0) < 5),
         |${p}sd$l AS (SELECT q.id AS q_id, e.id AS n_id
         |  FROM ${p}qd$l q, ${p}ent e),
         |${seededSearchCtes(s"${p}R${l}_", s"${p}sd$l", s"${p}K$l", 6, 2)},
         |${p}LG$l AS MATERIALIZED (
         |  SELECT k.id, k.nbr, k.d2 FROM ${p}K$l k
         |    ANTI JOIN ${p}qd$l q ON k.id = q.id
         |  UNION ALL SELECT id, nbr, d2 FROM (
         |    SELECT id, nbr, d2, row_number() OVER (
         |      PARTITION BY id ORDER BY d2, nbr) AS rn
         |    FROM (SELECT DISTINCT id, nbr, d2 FROM (
         |      SELECT k.id, k.nbr, k.d2 FROM ${p}K$l k
         |        JOIN ${p}qd$l q ON k.id = q.id
         |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM ${p}R${l}_b2)))
         |  WHERE rn <= 5)""".stripMargin
    def layerLink(l: Int, seedsCte: String): String =
      s"""${seededSearchCtes(s"${p}U${l}_", seedsCte, s"${p}LG$l", 6, 2,
            qv = "vq")},
         |${p}na$l AS (SELECT q_id, n_id, d2 FROM (
         |    SELECT u.q_id, u.n_id, u.d2, row_number() OVER (
         |      PARTITION BY u.q_id ORDER BY u.d2, u.n_id) AS rn
         |    FROM ${p}U${l}_b2 u JOIN lvt ON lvt.vec_id = u.q_id
         |      AND lvt.level >= $l)
         |  WHERE rn <= 5),
         |${p}NG$l AS MATERIALIZED (SELECT id, nbr, d2 FROM (
         |    SELECT id, nbr, d2, row_number() OVER (
         |      PARTITION BY id ORDER BY d2, nbr) AS rn
         |    FROM (SELECT id, nbr, d2 FROM ${p}LG$l
         |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM ${p}na$l
         |      UNION ALL SELECT n_id AS id, q_id AS nbr, d2 FROM ${p}na$l))
         |  WHERE rn <= 5)""".stripMargin
    val layerChains = (1 to 2).map(l => nnGraphOracleCtes(5, 2,
      s" WHERE vec_id IN (SELECT a.vec_id FROM assign a" +
        s" JOIN lvt lv ON lv.vec_id = a.vec_id" +
        s" WHERE a.cell = $c AND lv.level >= $l)",
      p = s"${p}L${l}_", lead = "")).mkString(",\n")
    s"""${nnGraphOracleCtes(10, 3,
        s" WHERE vec_id IN (SELECT vec_id FROM assign WHERE cell = $c)",
        p = s"${p}_", lead = "")},
       |$layerChains,
       |${p}rem AS (SELECT a.vec_id AS id FROM assign a
       |  WHERE a.cell = $c AND a.vec_id % 7 <> 3),
       |${p}k0 AS MATERIALIZED (SELECT g.id, g.nbr, g.d2 FROM ${p}_nn3 g
       |  JOIN ${p}rem a ON g.id = a.id JOIN ${p}rem b ON g.nbr = b.id),
       |${p}K1 AS MATERIALIZED (SELECT g.id, g.nbr, g.d2 FROM ${p}L1_nn2 g
       |  JOIN ${p}rem a ON g.id = a.id JOIN ${p}rem b ON g.nbr = b.id),
       |${p}K2 AS MATERIALIZED (SELECT g.id, g.nbr, g.d2 FROM ${p}L2_nn2 g
       |  JOIN ${p}rem a ON g.id = a.id JOIN ${p}rem b ON g.nbr = b.id),
       |${p}ent AS (SELECT min(r.id) AS id FROM ${p}rem r
       |  JOIN lvt l ON l.vec_id = r.id
       |  WHERE l.level = (SELECT max(l2.level) FROM ${p}rem r2
       |    JOIN lvt l2 ON l2.vec_id = r2.id)),
       |${layerRepair(1)},
       |${layerRepair(2)},
       |${p}qd0 AS MATERIALIZED (SELECT r.id FROM ${p}rem r
       |  LEFT JOIN (SELECT id, count(*) AS n FROM ${p}k0 GROUP BY id) d
       |    USING (id)
       |  WHERE coalesce(d.n, 0) < 10),
       |${p}ds2 AS (SELECT q.id AS q_id, e.id AS n_id
       |  FROM ${p}qd0 q, ${p}ent e),
       |${seededSearchCtes(s"${p}Q2_", s"${p}ds2", s"${p}LG2", 6, 2)},
       |${topMSeedsCte(s"${p}ds1", s"${p}Q2_b2", 2)},
       |${seededSearchCtes(s"${p}Q1_", s"${p}ds1", s"${p}LG1", 6, 2)},
       |${topMSeedsCte(s"${p}ds0", s"${p}Q1_b2", 2)},
       |${seededSearchCtes(s"${p}Q0_", s"${p}ds0", s"${p}k0", 12, 3)},
       |${p}rg AS MATERIALIZED (
       |  SELECT k.id, k.nbr, k.d2 FROM ${p}k0 k
       |    ANTI JOIN ${p}qd0 q ON k.id = q.id
       |  UNION ALL SELECT id, nbr, d2 FROM (
       |    SELECT id, nbr, d2, row_number() OVER (
       |      PARTITION BY id ORDER BY d2, nbr) AS rn
       |    FROM (SELECT DISTINCT id, nbr, d2 FROM (
       |      SELECT k.id, k.nbr, k.d2 FROM ${p}k0 k
       |        JOIN ${p}qd0 q ON k.id = q.id
       |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM ${p}Q0_b3)))
       |  WHERE rn <= 10),
       |${p}u AS (SELECT vec_id AS id FROM upsr WHERE cell = $c),
       |${p}us2 AS (SELECT q.id AS q_id, e.id AS n_id FROM ${p}u q, ${p}ent e),
       |${layerLink(2, s"${p}us2")},
       |${topMSeedsCte(s"${p}us1", s"${p}U2_b2", 2)},
       |${layerLink(1, s"${p}us1")},
       |${topMSeedsCte(s"${p}us0", s"${p}U1_b2", 2)},
       |${seededSearchCtes(s"${p}F0_", s"${p}us0", s"${p}rg", 12, 3,
          qv = "vq")},
       |${p}ne AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM ${p}F0_b3)
       |  WHERE rn <= 10),
       |${p}pg AS MATERIALIZED (SELECT id, nbr, d2 FROM (
       |    SELECT id, nbr, d2, row_number() OVER (
       |      PARTITION BY id ORDER BY d2, nbr) AS rn
       |    FROM (SELECT id, nbr, d2 FROM ${p}rg
       |      UNION ALL SELECT n_id AS id, q_id AS nbr, d2 FROM ${p}ne
       |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM ${p}ne))
       |  WHERE rn <= 10)""".stripMargin
  }

  /** lvt (cap-3 hash levels) + the 12 per-(cell, layer) subgraph chains
    * + the per-cell three-stage descents over them, each ending at
    * `y{c}res` (the cell's level-0 top-5 for its routed queries) — the
    * layered serving chain shared by the batch (q345) and streaming
    * (q353) sharded-layered oracles. Assumes [[shardedAnnOracleCtes]]'s
    * assign / v / s{c}_nn3 / route CTEs precede it. */
  private def shardedLayeredDescentCtes: String = {
    def lvlCase(idExpr: String): String =
      s"""CASE
         |      WHEN ('0x'||substr(md5('lvl:'||$idExpr::VARCHAR),1,15))::BIGINT % 4 <> 0 THEN 0
         |      WHEN ('0x'||substr(md5('lvl:'||$idExpr::VARCHAR),1,15))::BIGINT % 16 <> 0 THEN 1
         |      WHEN ('0x'||substr(md5('lvl:'||$idExpr::VARCHAR),1,15))::BIGINT % 64 <> 0 THEN 2
         |      ELSE 3 END""".stripMargin
    // 12 per-(cell, layer) subgraph chains over the assignment
    val layerChains = (0 to 3).flatMap(c => (1 to 3).map(l =>
      nnGraphOracleCtes(5, 2,
        s" WHERE vec_id IN (SELECT a.vec_id FROM assign a" +
          s" JOIN lvt lv ON lv.vec_id = a.vec_id" +
          s" WHERE a.cell = $c AND lv.level >= $l)",
        p = s"c${c}l${l}_", lead = ""))).mkString(",\n")
    // per-cell descent: entry = the cell's lowest id at its max
    // populated level, then three seeded stages carrying top-2,
    // then the level-0 shard search seeded by the descent output
    val descents = (0 to 3).map { c =>
      s"""e${c}x AS (SELECT min(a.vec_id) AS id FROM assign a
         |  JOIN lvt l ON l.vec_id = a.vec_id
         |  WHERE a.cell = $c AND l.level = (
         |    SELECT max(l2.level) FROM assign a2
         |    JOIN lvt l2 ON l2.vec_id = a2.vec_id WHERE a2.cell = $c)),
         |y${c}s3 AS (SELECT r.q_id, e.id AS n_id FROM route r, e${c}x e
         |  WHERE r.cell = $c),
         |${seededSearchCtes(s"y${c}L3_", s"y${c}s3", s"c${c}l3_nn2", 6, 2)},
         |${topMSeedsCte(s"y${c}s2", s"y${c}L3_b2", 2)},
         |${seededSearchCtes(s"y${c}L2_", s"y${c}s2", s"c${c}l2_nn2", 6, 2)},
         |${topMSeedsCte(s"y${c}s1", s"y${c}L2_b2", 2)},
         |${seededSearchCtes(s"y${c}L1_", s"y${c}s1", s"c${c}l1_nn2", 6, 2)},
         |${topMSeedsCte(s"y${c}s0", s"y${c}L1_b2", 2)},
         |${seededSearchCtes(s"y${c}F_", s"y${c}s0", s"s${c}_nn3", 12, 3)},
         |y${c}res AS (SELECT q_id, n_id, d2 FROM (
         |    SELECT q_id, n_id, d2, row_number() OVER (
         |      PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM y${c}F_b3)
         |  WHERE rn <= 5)""".stripMargin
    }.mkString(",\n")
    s"""lvt AS MATERIALIZED (SELECT vec_id, ${lvlCase("vec_id")} AS level
       |  FROM embeddings),
       |$layerChains,
       |$descents""".stripMargin
  }

  // --------------------------------------------------------------------
  // Round-15 surface: layered-store CDC (the q312 lifecycle composed
  // with q326's layer stack).
  // --------------------------------------------------------------------
  private val roundFifteenSurface: Seq[(String, Q)] = Seq(

    // LAYERED-store CDC (LayeredCdc.startLayered): round 14's marquee
    // pieces COMPOSED — the streaming delete → threshold-repair →
    // insert lifecycle (q312) applied to the layered (HNSW-style)
    // store (q326), closing the staleness gap: without it the upper
    // layers freeze at build time (deleted ids linger as layer nodes,
    // upserted ids never join their layers) and the descent degrades
    // exactly when the index churns. One mixed batch: deletes
    // tombstone out of level-0 AND every layer, each layer's degraded
    // queue repairs seeded from the stack's top entry, then level-0
    // repairs with per-queue-node seeds from a DESCENT over the
    // just-repaired layers; the upserts run one HNSW insert walk — per layer one
    // seeded search whose full beam seeds the next layer down and
    // whose top-layerK cut links the upserts whose hash level reaches
    // that layer (reverse-patch re-cut), ending in the seeded level-0
    // fold-in. The whole stack (graph, vecs, levels, layer_1..3)
    // co-commits through one crash-safe write-aside swap. The oracle
    // unrolls ALL of it — base + three layer builds, both tombstones,
    // four repair searches, the three-stage descent, three layer
    // links, and the seeded level-0 insert — and pins the final
    // per-(layer, node) degree and Σd2 of every level. Scale: layer l
    // holds ~n/4^l nodes (~n/3 extra edge volume total); every stage
    // is keyed semi-joins + beam-sized seeded searches; driver scalars
    // are the bounded counts plus the descent's (max level, entry id).
    "q344_layered_index_cdc" -> Q(
      (s, d) => {
        import scala.jdk.CollectionConverters._
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val cdcDir = java.nio.file.Paths.get(freshScratchDir("graft_q344_cdc"))
        java.nio.file.Files.createDirectories(cdcDir)
        def writeBatchFile(df: DataFrame, name: String, mtime: Long): Unit = {
          val tmp = cdcDir.resolve(s"${name}_tmp")
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.move(part, cdcDir.resolve(name))
          EventStreams.deleteTree(tmp)
          cdcDir.resolve(name).toFile.setLastModified(mtime)
        }
        // ONE mixed batch (deletes + upserts): the merge tombstones,
        // repairs, then insert-walks within a single batch, and because
        // the upsert ids are absent from the store (tombstoning them is
        // a no-op) the final stack is bit-identical to the former
        // two-batch delivery — at half the bench cost (one swap, one
        // micro-batch of whole-stack plans; the r15 driver window
        // motivated the trim). The oracle below is unchanged.
        writeBatchFile(base.filter(col("vec_id") % 7 === 3)
          .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
          .unionByName(emb.filter(col("vec_id") % 10 === 9)
            .select(lit("upsert").as("op"), col("vec_id"), col("embedding"))),
          "b0.parquet", 1000000L)
        // fresh per-run store (CDC mutates it), cloned by file copy
        // from the immutable once-per-JVM layered seed
        val store = clonedSeedStore("layered", d, "graft_q344_store") {
          seedDir =>
            graft.streaming.LayeredCdc.initLayeredStore(s, seedDir, base,
              "vec_id", "embedding", cap = 3, k = 15, rounds = 4,
              layerK = 5, layerRounds = 2, initBuckets = 16)
        }
        val ckpt = java.nio.file.Files.createTempDirectory("graft_q344_ckpt")
        val cdc = s.readStream
          .schema("op STRING, vec_id BIGINT, embedding ARRAY<FLOAT>")
          .option("maxFilesPerTrigger", 1).parquet(cdcDir.toString)
        val q = graft.streaming.LayeredCdc.startLayered(cdc, store,
          ckpt.toString, "vec_id", "embedding", cap = 3, k = 15,
          layerK = 5, m = 2, descBeam = 6, descRounds = 2,
          beam = 24, searchRounds = 3, repairThreshold = 1L)
        EventStreams.drain(q, Some(ckpt.toString))
        val cur = s"$store/current"
        (0 to 3).map { l =>
          s.read.parquet(if (l == 0) s"$cur/graph" else s"$cur/layer_$l")
            .select(col("q_id"), col("n_id"), col("d2"))
            .withColumn("layer", lit(l.toLong))
        }.reduce(_ unionByName _)
          .groupBy(col("layer"), col("q_id").as("id"))
          .agg(count(lit(1)).as("n_nbrs"), sum(col("d2")).as("sum_d2"))
          .select(col("layer"), col("id"), (col("id") % 10 === 9).as("is_new"),
            col("n_nbrs"), col("sum_d2"))
          .orderBy(col("layer"), col("id"))
      },
      Some {
        def lvlCase: String =
          """CASE
            |      WHEN ('0x'||substr(md5('lvl:'||vec_id::VARCHAR),1,15))::BIGINT % 4 <> 0 THEN 0
            |      WHEN ('0x'||substr(md5('lvl:'||vec_id::VARCHAR),1,15))::BIGINT % 16 <> 0 THEN 1
            |      WHEN ('0x'||substr(md5('lvl:'||vec_id::VARCHAR),1,15))::BIGINT % 64 <> 0 THEN 2
            |      ELSE 3 END""".stripMargin
        val layerChains = (1 to 3).map(l => nnGraphOracleCtes(5, 2,
          s" WHERE vec_id % 10 <> 9 AND vec_id IN " +
            s"(SELECT vec_id FROM lvt WHERE level >= $l)",
          p = s"L${l}_", lead = "")).mkString(",\n")
        val keptLayers = (1 to 3).map(l =>
          s"""K$l AS MATERIALIZED (SELECT g.id, g.nbr, g.d2 FROM L${l}_nn2 g
             |  JOIN rem a ON g.id = a.id JOIN rem b ON g.nbr = b.id)"""
            .stripMargin).mkString(",\n")
        s"""WITH lvt AS MATERIALIZED (SELECT vec_id, $lvlCase AS level
           |  FROM embeddings),
           |${nnGraphOracleCtes(15, 4, " WHERE vec_id % 10 <> 9", lead = "")},
           |$layerChains,
           |vq AS MATERIALIZED (SELECT vec_id AS id,
           |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
           |  FROM embeddings),
           |rem AS (SELECT id FROM v WHERE id % 7 <> 3),
           |k0 AS MATERIALIZED (SELECT g.id, g.nbr, g.d2 FROM nn4 g
           |  JOIN rem a ON g.id = a.id JOIN rem b ON g.nbr = b.id),
           |$keptLayers,
           |mx AS (SELECT max(level) AS ml FROM lvt
           |  JOIN rem ON lvt.vec_id = rem.id),
           |ent AS (SELECT min(vec_id) AS id FROM lvt
           |  JOIN rem ON lvt.vec_id = rem.id
           |  WHERE level = (SELECT ml FROM mx)),
           |${layerRepairCtes(1)},
           |${layerRepairCtes(2)},
           |${layerRepairCtes(3)},
           |qd0 AS MATERIALIZED (SELECT r.id FROM rem r
           |  LEFT JOIN (SELECT id, count(*) AS n FROM k0 GROUP BY id) d
           |    USING (id)
           |  WHERE coalesce(d.n, 0) < 15),
           |ds3 AS (SELECT q.id AS q_id, e.id AS n_id FROM qd0 q, ent e),
           |${seededSearchCtes("Q3_", "ds3", "LG3", 6, 2)},
           |${topMSeedsCte("ds2", "Q3_b2", 2)},
           |${seededSearchCtes("Q2_", "ds2", "LG2", 6, 2)},
           |${topMSeedsCte("ds1", "Q2_b2", 2)},
           |${seededSearchCtes("Q1_", "ds1", "LG1", 6, 2)},
           |${topMSeedsCte("ds0", "Q1_b2", 2)},
           |${seededSearchCtes("Q0_", "ds0", "k0", 24, 3)},
           |rg AS MATERIALIZED (
           |  SELECT k.id, k.nbr, k.d2 FROM k0 k ANTI JOIN qd0 q ON k.id = q.id
           |  UNION ALL SELECT id, nbr, d2 FROM (
           |    SELECT id, nbr, d2, row_number() OVER (
           |      PARTITION BY id ORDER BY d2, nbr) AS rn
           |    FROM (SELECT DISTINCT id, nbr, d2 FROM (
           |      SELECT k.id, k.nbr, k.d2 FROM k0 k JOIN qd0 q ON k.id = q.id
           |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM Q0_b3)))
           |  WHERE rn <= 15),
           |u AS (SELECT vec_id AS id FROM embeddings WHERE vec_id % 10 = 9),
           |us3 AS (SELECT q.id AS q_id, e.id AS n_id FROM u q, ent e),
           |${layerLinkCtes(3, "us3")},
           |${topMSeedsCte("us2", "U3_b2", 2)},
           |${layerLinkCtes(2, "us2")},
           |${topMSeedsCte("us1", "U2_b2", 2)},
           |${layerLinkCtes(1, "us1")},
           |${topMSeedsCte("us0", "U1_b2", 2)},
           |${seededSearchCtes("F0_", "us0", "rg", 24, 3, qv = "vq")},
           |ne AS MATERIALIZED (SELECT q_id, n_id, d2 FROM (
           |    SELECT q_id, n_id, d2, row_number() OVER (
           |      PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM F0_b3)
           |  WHERE rn <= 15),
           |pg AS MATERIALIZED (SELECT id, nbr, d2 FROM (
           |    SELECT id, nbr, d2, row_number() OVER (
           |      PARTITION BY id ORDER BY d2, nbr) AS rn
           |    FROM (SELECT id, nbr, d2 FROM rg
           |      UNION ALL SELECT n_id AS id, q_id AS nbr, d2 FROM ne
           |      UNION ALL SELECT q_id AS id, n_id AS nbr, d2 FROM ne))
           |  WHERE rn <= 15)
           |SELECT layer, id, (id % 10 = 9) AS is_new,
           |  count(*)::BIGINT AS n_nbrs, sum(d2)::BIGINT AS sum_d2
           |FROM (SELECT 0::BIGINT AS layer, id, nbr, d2 FROM pg
           |  UNION ALL SELECT 1::BIGINT, id, nbr, d2 FROM NG1
           |  UNION ALL SELECT 2::BIGINT, id, nbr, d2 FROM NG2
           |  UNION ALL SELECT 3::BIGINT, id, nbr, d2 FROM NG3)
           |GROUP BY layer, id
           |ORDER BY layer, id""".stripMargin
      }),

    // LAYERED × SHARDED serving (AnnIndex.shardedLayeredSearchTopK):
    // round 14's two structural levers COMPOSED — sharding bounds what
    // a query READS (partition-pruned probed cells), layering bounds
    // how far the beam WALKS inside each probed cell. Per-cell layer
    // stacks (AnnIndex.buildOrLoadShardedLayers — hash-deterministic
    // levels, one NN-Descent subgraph per populated (cell, layer),
    // persisted partitioned by cell) give every routed (query, cell)
    // pair its OWN descent: start at the cell's top entry (lowest id at
    // the cell's max populated level — one windowed table, no per-cell
    // collect), beam-search each stored layer carrying top-m down, and
    // seed the level-0 keyed search with the descent output instead of
    // the cell's fixed lowest ids (Similarity.keyedGraphSearchTopKSeeded
    // — the fixed-entry q314 path is now its degenerate case, hashes
    // preserved). The entry serves the SAME routed queries both ways
    // and reports layered vs fixed-entry recall side by side against
    // exact L2; the oracle unrolls the assignment, all four level-0
    // shard chains, all twelve (cell, layer) subgraph chains, every
    // per-cell three-stage descent, and both serving paths. Scale: the
    // descent adds ~|cell|/3 edge volume per cell and three beam-sized
    // keyed stages; everything rides (q_id, cell)-keyed joins and
    // windows — no per-cell driver loop, pruning PlanSpec-locked.
    "q345_sharded_layered_serve" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
          .localCheckpoint()
        val index = operators.AnnIndex.buildOrLoadSharded(assigned,
          "vec_id", "embedding", nCells = 4, graphK = 10, graphRounds = 3,
          initBuckets = 16, indexDir = annIndexDir(d, "sharded"))
        operators.AnnIndex.buildOrLoadShardedLayers(assigned,
          "vec_id", "embedding", nCells = 4, cap = 3, layerK = 5,
          layerRounds = 2, initBuckets = 16,
          layersDir = annIndexDir(d, "sharded_layers"))
        val queries = emb.filter(col("vec_id") >= 60 && col("vec_id") < 70)
        val routed = Similarity.ivfProbeCells(
          queries, "vec_id", "embedding", cents, nprobe = 2).localCheckpoint()
        // the two serve forms and the exact ground truth are mutually
        // independent reads of immutable artifacts — overlap (guide §2.6)
        val Seq(layered, fixed, exact) = graft.core.Par.run[DataFrame](Seq(
          () => operators.AnnIndex.shardedLayeredSearchTopK(index,
            assigned, routed, annIndexDir(d, "sharded_layers"),
            "vec_id", "embedding", cap = 3, m = 2, descBeam = 6,
            descRounds = 2, beam = 12, rounds = 3, k = 5),
          () => operators.AnnIndex.shardedSearchTopK(index, assigned,
            routed, "vec_id", "embedding", entriesPerCell = 2,
            beam = 12, rounds = 3, k = 5),
          () => Similarity.l2TopK(emb, queries, "vec_id", "embedding", k = 5)
            .localCheckpoint()))
        Similarity.recallAtK(layered, exact, k = 5)
          .select(col("q_id"), col("k"),
            col("n_hit").as("n_hit_layered"),
            col("recall_ppm").as("recall_ppm_layered"))
          .join(Similarity.recallAtK(fixed, exact, k = 5)
            .select(col("q_id"), col("n_hit").as("n_hit_fixed"),
              col("recall_ppm").as("recall_ppm_fixed")), Seq("q_id"))
          .orderBy(col("q_id"))
      },
      Some {
        s"""${shardedAnnOracleCtes(id => s"$id >= 60 AND $id < 70")},
           |$shardedLayeredDescentCtes,
           |lres AS (SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id, row_number() OVER (
           |      PARTITION BY q_id ORDER BY d2, n_id) AS rank
           |    FROM (SELECT * FROM y0res UNION ALL SELECT * FROM y1res
           |      UNION ALL SELECT * FROM y2res UNION ALL SELECT * FROM y3res))
           |  WHERE rank <= 5),
           |ed AS (SELECT a.id AS q_id, b.id AS n_id,
           |    list_sum([(a.iv[j]-b.iv[j])*(a.iv[j]-b.iv[j])
           |      for j in range(1,65)])::BIGINT AS d2
           |  FROM v a JOIN v b ON a.id >= 60 AND a.id < 70 AND a.id <> b.id),
           |ex AS (SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id, row_number() OVER (
           |      PARTITION BY q_id ORDER BY d2, n_id) AS rank FROM ed)
           |  WHERE rank <= 5),
           |lhits AS (SELECT ex.q_id, count(*)::BIGINT AS n_hit
           |  FROM ex JOIN lres ON ex.q_id = lres.q_id AND ex.n_id = lres.n_id
           |  GROUP BY ex.q_id),
           |fhits AS (SELECT ex.q_id, count(*)::BIGINT AS n_hit
           |  FROM ex JOIN (SELECT q_id, n_id FROM resr) fr
           |    ON ex.q_id = fr.q_id AND ex.n_id = fr.n_id
           |  GROUP BY ex.q_id)
           |SELECT q.q_id, 5::BIGINT AS k,
           |  coalesce(lh.n_hit, 0)::BIGINT AS n_hit_layered,
           |  floor(1e6 * (coalesce(lh.n_hit, 0)::DOUBLE / 5))::BIGINT
           |    AS recall_ppm_layered,
           |  coalesce(fh.n_hit, 0)::BIGINT AS n_hit_fixed,
           |  floor(1e6 * (coalesce(fh.n_hit, 0)::DOUBLE / 5))::BIGINT
           |    AS recall_ppm_fixed
           |FROM (SELECT DISTINCT q_id FROM ex) q
           |LEFT JOIN lhits lh USING (q_id)
           |LEFT JOIN fhits fh USING (q_id)
           |ORDER BY q_id""".stripMargin
      }),

    // STEREO FLAC with LPC subframes (Flac.encodeFlacStereo /
    // decodeFlac, Multimodal.decodeFlacStereoStats): closes q336's
    // documented scope-out — real `flac` default encodes emit LPC
    // subframes and stereo decorrelation, so a corpus decode that
    // stops at fixed predictors downgrades most real assets. Channel
    // assignment cycles by id over all four published modes
    // (independent, left/side, right/side, mid/side — the side channel
    // carrying bps+1 = 17 bits), each channel's subframe class cycles
    // per frame over VERBATIM / FIXED 1 / FIXED 2 / LPC order 2 (QLP
    // precision 5, shift 2, warmup + coefficient reads + the
    // 64-bit-accumulated dot product), and the inter-channel inversion
    // is libFLAC's exact integer form incl. mid/side's parity-bit
    // reconstruction. Every class is lossless, so the oracle states
    // the INPUT channel signals from id arithmetic — a wrong side
    // width, channel dispatch, QLP field offset, shift sense, or
    // mid/side parity rule fails the hash; the declared mode and the
    // LPC subframe COUNT are pinned so a silent fixed-predictor
    // fallback fails even where samples agree. Both CRCs validated.
    // Scale: one partition-preserving mapPartitions, bytes never on
    // the driver — the q336 shape.
    "q346_flac_stereo_lpc_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeFlacStereoAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeFlacStereoStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH p AS (SELECT doc_id, (doc_id % 4)::BIGINT AS mode,
             |    (doc_id % 3 + 1)::BIGINT AS nf FROM documents),
             |fr AS (SELECT doc_id, mode, f.f AS f,
             |    ((doc_id + f.f) % 40 + 3)::BIGINT AS ns
             |  FROM p, range(0, 3) f(f) WHERE f.f < nf),
             |sm AS (SELECT doc_id, f, k.k AS k,
             |    ((doc_id + 3 * k.k + f) % 200 - 100)::BIGINT AS l,
             |    ((2 * doc_id + 5 * k.k + 7 * f) % 180 - 90)::BIGINT AS r
             |  FROM fr, range(0, 43) k(k) WHERE k.k < ns),
             |agg AS (SELECT doc_id,
             |    (2 * count(*))::BIGINT AS n_samples,
             |    sum(l + r)::BIGINT AS sum_pcm,
             |    sum(abs(l) + abs(r))::BIGINT AS sum_abs,
             |    greatest(max(abs(l)), max(abs(r)))::BIGINT AS peak_abs
             |  FROM sm GROUP BY doc_id),
             |lpc AS (SELECT doc_id,
             |    sum((CASE WHEN (doc_id + f) % 4 = 3 THEN 1 ELSE 0 END)
             |      + (CASE WHEN (doc_id + 2 + f) % 4 = 3 THEN 1 ELSE 0 END)
             |      )::BIGINT AS n_lpc
             |  FROM fr GROUP BY doc_id)
             |SELECT p.doc_id AS asset_id, 'flac' AS codec,
             |  CASE p.mode WHEN 0 THEN 'independent' WHEN 1 THEN 'left_side'
             |    WHEN 2 THEN 'right_side' ELSE 'mid_side' END AS channel_mode,
             |  2::BIGINT AS n_channels, p.nf AS n_frames,
             |  a.n_samples, l.n_lpc AS n_lpc_subframes,
             |  a.sum_pcm, a.sum_abs, a.peak_abs
             |FROM p JOIN agg a USING (doc_id) JOIN lpc l USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // VP8L COLOR CACHE (Vp8l.encodeCachedAsset / decodeImage): closes
    // q325's documented scope-out — real cwebp output uses the cache
    // routinely, so a decoder without it downgrades most real WebP
    // assets to sniffed in the q328-class coverage audit. Streams carry
    // cache_bits = 5 (32 zero-initialized slots, the 0x1e35a7bd
    // multiplicative key), a green alphabet widened to 312 symbols
    // (its code-length header exercises the repeat-16-after-repeat-18
    // prevLen rule), and pixels cycling over id%6+2 colors so every
    // asset genuinely alternates literal inserts and cache references
    // — including slot evictions where two colors collide. Decode is
    // exact or the asset DROPS (a decoder that ignores symbols ≥ 280
    // cannot parse the stream), so the oracle states the pixel ramp
    // from id arithmetic: a wrong hash constant, shift, slot init,
    // insert rule, or alphabet width fails the hash on every asset.
    // Scale: the q325 partition-preserving mapPartitions shape.
    "q347_webp_color_cache_decode" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWebpCachedAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeWebpStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id, (doc_id % 21 + 1)::BIGINT AS w,
             |    (doc_id % 13 + 1)::BIGINT AS h, (doc_id % 6 + 2)::BIGINT AS K
             |  FROM documents),
             |px AS (SELECT doc_id, K, w, h, xs.x AS x, ys.y AS y
             |  FROM dims, range(0, 21) xs(x), range(0, 13) ys(y)
             |  WHERE xs.x < w AND ys.y < h),
             |qv AS (SELECT doc_id, (y * w + x) % K AS q FROM px),
             |ps AS (SELECT doc_id,
             |    sum(((doc_id + 3 * q) % 256) * 65536 +
             |        ((doc_id + 5 * q) % 256) * 256 +
             |        (doc_id + 7 * q) % 256)::BIGINT AS pixel_sum
             |  FROM qv GROUP BY doc_id)
             |SELECT d.doc_id AS asset_id, 'vp8l' AS codec, d.w AS width,
             |  d.h AS height, 'none' AS transform,
             |  ps.pixel_sum, (255 * d.w * d.h)::BIGINT AS alpha_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // MP4 SAMPLE-TABLE depth (Codecs.walkMp4 stts/stco via
    // Multimodal.walkMp4Census): q324's structure walk extended with
    // the census fields a video-corpus inventory actually needs — the
    // stts run table reduced to each track's media DURATION
    // (Σ count·delta over 1–3 id-derived runs) and the stco
    // chunk-offset table reduced to its entry count and offset sum.
    // Every table length is bounds-checked against the box before the
    // entries are read (the walk discipline: corrupt tables drop the
    // asset). The oracle replays the run/offset arithmetic per
    // (asset, track) — a wrong entry stride, duration product, table
    // offset, or zero-chunk handling fails the hash. Scale: one
    // partition-preserving mapPartitions reading O(moov) bytes.
    "q348_mp4_sample_table_census" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeMp4DeepAssets(assetIds(s, d))
        graft.multimodal.Multimodal.walkMp4Census(assets)
          .orderBy(col("asset_id"), col("track_idx"))
      },
      Some("""WITH p AS (SELECT doc_id, (doc_id % 3)::BIGINT AS bc,
             |    (doc_id % 3 + 1)::BIGINT AS nt FROM documents),
             |tr AS (SELECT doc_id, bc, t.t AS t
             |  FROM p, range(0, 3) t(t) WHERE t.t < nt),
             |runs AS (SELECT doc_id, t, j.j AS j,
             |    ((doc_id + 3 * j.j + t) % 7 + 1)::BIGINT AS cnt,
             |    ((doc_id + 5 * j.j) % 9 + 1)::BIGINT AS dlt
             |  FROM tr, range(0, 3) j(j) WHERE j.j < (doc_id + t) % 3 + 1),
             |ragg AS (SELECT doc_id, t, sum(cnt)::BIGINT AS n_samples,
             |    sum(cnt * dlt)::BIGINT AS duration
             |  FROM runs GROUP BY doc_id, t),
             |offs AS (SELECT doc_id, t, count(*)::BIGINT AS n_chunks,
             |    sum(48 + (doc_id * 7 + t * 13 + j.j * 29) % 1000)::BIGINT
             |      AS sum_off
             |  FROM tr, range(0, 4) j(j) WHERE j.j < (doc_id + t) % 4
             |  GROUP BY doc_id, t)
             |SELECT tr.doc_id AS asset_id,
             |  CASE tr.bc WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
             |    ELSE 'avc1' END AS brand,
             |  tr.t AS track_idx,
             |  CASE WHEN (tr.doc_id + tr.t) % 2 = 0 THEN 'vide'
             |    ELSE 'soun' END AS handler,
             |  r.n_samples, r.duration,
             |  coalesce(o.n_chunks, 0)::BIGINT AS n_chunks,
             |  coalesce(o.sum_off, 0)::BIGINT AS sum_chunk_off
             |FROM tr JOIN ragg r USING (doc_id, t)
             |  LEFT JOIN offs o USING (doc_id, t)
             |ORDER BY asset_id, track_idx""".stripMargin)),

    // SHARDED-AND-LAYERED store CDC (ShardedLayeredCdc): the last cell
    // of the lifecycle matrix — q322 maintains flat per-cell stores,
    // q344 one layered store, and the per-cell layer STACKS q345
    // serves from had no maintenance (they would go stale under churn
    // exactly like the pre-q344 single store). Every quantizer cell is
    // a complete layered store with its own crash-safe swap +
    // applied-batch marker + footprint manifest; a batch routes by the
    // carried Debezium image and applies the FULL q344 composition per
    // touched cell — tombstone every level, repair layers then
    // level-0 (the queue descending the repaired stack), one HNSW
    // insert walk — with the COMPUTE cell-keyed end to end (keyed
    // tombstones, per-cell entry TABLE, grouped queue-depth
    // aggregates, shared descent loops with short-stack pass-through,
    // one partitioned stage write): Spark jobs per batch are
    // independent of the touched-cell count from day one, the q322
    // restatement discipline. The oracle unrolls ALL FOUR cells' full
    // layered lifecycles — 12 graph chains, 8 gated layer repairs, 4
    // two-stage queue descents + level-0 repairs, 4 insert walks —
    // and pins every cell's every level's per-node degree and Σd2.
    // Round15Spec locks the keyed merge equal to applying the q344
    // single-store merge per cell in isolation, untouched cells
    // byte-identical, and replay-after-partial-commit. Scale:
    // per-batch cost is the batch's cell footprint times the layered
    // maintenance shapes; untouched/committed cells never opened.
    "q349_sharded_layered_cdc" -> Q(
      (s, d) => {
        import scala.jdk.CollectionConverters._
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
          .localCheckpoint()
        val cdcDir = java.nio.file.Paths.get(freshScratchDir("graft_q349_cdc"))
        java.nio.file.Files.createDirectories(cdcDir)
        def writeBatchFile(df: DataFrame, name: String, mtime: Long): Unit = {
          val tmp = cdcDir.resolve(s"${name}_tmp")
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.move(part, cdcDir.resolve(name))
          EventStreams.deleteTree(tmp)
          cdcDir.resolve(name).toFile.setLastModified(mtime)
        }
        // ONE mixed batch — the q344 trim applied per cell: tombstoning
        // the absent upsert ids is a no-op, so the single-batch final
        // stores are bit-identical to the former two-batch delivery at
        // half the bench cost. The oracle below is unchanged.
        writeBatchFile(base.filter(col("vec_id") % 7 === 3)
          .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
          .unionByName(emb.filter(col("vec_id") % 10 === 9)
            .select(lit("upsert").as("op"), col("vec_id"), col("embedding"))),
          "b0.parquet", 1000000L)
        // fresh per-run store cloned from the immutable per-cell layered
        // seed (the q322/q344 clone discipline)
        val store = clonedSeedStore("slay4", d, "graft_q349_store")(
          slay4SeedBuild(s, assigned))
        val ckpt = java.nio.file.Files.createTempDirectory("graft_q349_ckpt")
        val cdc = s.readStream
          .schema("op STRING, vec_id BIGINT, embedding ARRAY<FLOAT>")
          .option("maxFilesPerTrigger", 1).parquet(cdcDir.toString)
        val q = graft.streaming.ShardedLayeredCdc.startShardedLayered(cdc,
          store, ckpt.toString, cents, "vec_id", "embedding", cap = 2,
          k = 10, layerK = 5, m = 2, descBeam = 6, descRounds = 2,
          beam = 12, searchRounds = 3, repairThreshold = 1L)
        EventStreams.drain(q, Some(ckpt.toString))
        (0 to 2).map { l =>
          graft.streaming.ShardedLayeredCdc.shardedLayeredStorePart(s, store,
              0L until 4L, if (l == 0) "graph" else s"layer_$l")
            .select(col("cell"), col("q_id"), col("n_id"), col("d2"))
            .withColumn("layer", lit(l.toLong))
        }.reduce(_ unionByName _)
          .groupBy(col("cell"), col("layer"), col("q_id").as("id"))
          .agg(count(lit(1)).as("n_nbrs"), sum(col("d2")).as("sum_d2"))
          .select(col("cell"), col("layer"), col("id"),
            (col("id") % 10 === 9).as("is_new"), col("n_nbrs"), col("sum_d2"))
          .orderBy(col("cell"), col("layer"), col("id"))
      },
      Some {
        def lvlCase: String =
          """CASE
            |      WHEN ('0x'||substr(md5('lvl:'||vec_id::VARCHAR),1,15))::BIGINT % 4 <> 0 THEN 0
            |      WHEN ('0x'||substr(md5('lvl:'||vec_id::VARCHAR),1,15))::BIGINT % 16 <> 0 THEN 1
            |      ELSE 2 END""".stripMargin
        val perCell = (0 to 3).map(shardedLayeredCellCtes).mkString(",\n")
        val unions = (0 to 3).flatMap { c =>
          Seq(
            s"SELECT $c::BIGINT AS cell, 0::BIGINT AS layer, id, nbr, d2 FROM w${c}pg",
            s"SELECT $c::BIGINT, 1::BIGINT, id, nbr, d2 FROM w${c}NG1",
            s"SELECT $c::BIGINT, 2::BIGINT, id, nbr, d2 FROM w${c}NG2")
        }.mkString("\n  UNION ALL ")
        s"""WITH ve AS MATERIALIZED (SELECT vec_id,
           |    embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, e AS ce FROM ve WHERE vec_id < 4),
           |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
           |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
           |      PARTITION BY ve.vec_id
           |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
           |        c.cent_id) AS rn
           |    FROM ve CROSS JOIN cents c
           |    WHERE ve.vec_id % 10 <> 9) WHERE rn = 1),
           |upsr AS MATERIALIZED (SELECT vec_id, cell FROM (
           |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
           |      PARTITION BY ve.vec_id
           |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
           |        c.cent_id) AS rn
           |    FROM ve CROSS JOIN cents c
           |    WHERE ve.vec_id % 10 = 9) WHERE rn = 1),
           |lvt AS MATERIALIZED (SELECT vec_id, $lvlCase AS level
           |  FROM embeddings),
           |v AS MATERIALIZED (SELECT vec_id AS id,
           |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
           |  FROM embeddings),
           |vq AS (SELECT id, iv FROM v),
           |$perCell
           |SELECT cell, layer, id, (id % 10 = 9) AS is_new,
           |  count(*)::BIGINT AS n_nbrs, sum(d2)::BIGINT AS sum_d2
           |FROM ($unions)
           |GROUP BY cell, layer, id
           |ORDER BY cell, layer, id""".stripMargin
      }))

  // --------------------------------------------------------------------
  // Round-16 surface: the sharded-layered lifecycle's OPS column
  // (growth report, rebalance, maintenance window — q349's store now
  // has the full q327/q329/q335 treatment), and streaming serve over
  // the sharded-layered index (the q316 pattern on the q345 artifact).
  // --------------------------------------------------------------------
  private val roundSixteenSurface: Seq[(String, Q)] = Seq(

    // Per-cell GROWTH report for the SHARDED-LAYERED store
    // (ShardedLayeredCdc.growthReport): the q327 readout extended with
    // the stack shape the flat report has no notion of — per cell the
    // member count (off the swap-time footprint manifest: nCells
    // driver file reads, zero Spark jobs), corpus share in ppm,
    // level-0 edge volume + degraded-list count, the max POPULATED
    // level (a cell whose upper layers drained serves through a
    // shorter descent), total layer edge volume, and the share-band
    // verdict the layered rebalance (q351) consumes. Runs read-only
    // against the immutable q349 seed store; the oracle replays the
    // base-corpus assignment, all four level-0 chains, all eight
    // (cell, layer) chains, the hash level table, and the integer
    // share arithmetic. Scale: decisions from manifests; stats are
    // three grouped aggregates over path-scoped reads.
    "q350_sharded_layered_growth" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
          .localCheckpoint()
        // the report only READS — no clone, straight off the seed
        val store = ensureSeed("slay4", d)(slay4SeedBuild(s, assigned))
        graft.streaming.ShardedLayeredCdc.growthReport(s, store, cents,
            k = 10, cap = 2, splitPpm = 255000L, mergePpm = 220000L)
          .orderBy(col("cell"))
      },
      Some {
        def lvlCase: String =
          """CASE
            |      WHEN ('0x'||substr(md5('lvl:'||vec_id::VARCHAR),1,15))::BIGINT % 4 <> 0 THEN 0
            |      WHEN ('0x'||substr(md5('lvl:'||vec_id::VARCHAR),1,15))::BIGINT % 16 <> 0 THEN 1
            |      ELSE 2 END""".stripMargin
        val cellChains = (0 to 3).map(c => nnGraphOracleCtes(10, 3,
          s" WHERE vec_id IN (SELECT vec_id FROM assign WHERE cell = $c)",
          p = s"s${c}_", lead = "")).mkString(",\n")
        val layerChains = (0 to 3).flatMap(c => (1 to 2).map(l =>
          nnGraphOracleCtes(5, 2,
            s" WHERE vec_id IN (SELECT a.vec_id FROM assign a" +
              s" JOIN lvt lv ON lv.vec_id = a.vec_id" +
              s" WHERE a.cell = $c AND lv.level >= $l)",
            p = s"c${c}l${l}_", lead = ""))).mkString(",\n")
        val stats = (0 to 3).map { c =>
          s"""SELECT $c::BIGINT AS cell,
             |    (SELECT count(*) FROM s${c}_nn3)::BIGINT AS n_edges,
             |    (SELECT count(*) FROM (SELECT id FROM s${c}_nn3
             |      GROUP BY id HAVING count(*) < 10))::BIGINT AS n_degraded,
             |    ((SELECT count(*) FROM c${c}l1_nn2) +
             |      (SELECT count(*) FROM c${c}l2_nn2))::BIGINT AS n_layer_edges"""
            .stripMargin
        }.mkString("\n  UNION ALL ")
        s"""WITH ve AS MATERIALIZED (SELECT vec_id,
           |    embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, e AS ce FROM ve WHERE vec_id < 4),
           |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
           |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
           |      PARTITION BY ve.vec_id
           |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
           |        c.cent_id) AS rn
           |    FROM ve CROSS JOIN cents c
           |    WHERE ve.vec_id % 10 <> 9) WHERE rn = 1),
           |lvt AS MATERIALIZED (SELECT vec_id, $lvlCase AS level
           |  FROM embeddings),
           |$cellChains,
           |$layerChains,
           |stats AS ($stats),
           |ml AS (SELECT a.cell, max(l.level)::BIGINT AS max_level
           |  FROM assign a JOIN lvt l ON l.vec_id = a.vec_id GROUP BY a.cell),
           |mem AS (SELECT cell, count(*)::BIGINT AS n_members
           |  FROM assign GROUP BY cell),
           |tot AS (SELECT count(*)::BIGINT AS n_total FROM assign)
           |SELECT m.cell, m.n_members,
           |  (m.n_members * 1000000 // t.n_total)::BIGINT AS share_ppm,
           |  s.n_edges, s.n_degraded, l.max_level, s.n_layer_edges,
           |  CASE WHEN m.n_members * 1000000 // t.n_total > 255000 THEN 'split'
           |    WHEN m.n_members * 1000000 // t.n_total < 220000 THEN 'merge'
           |    ELSE 'healthy' END AS recommendation
           |FROM mem m JOIN stats s USING (cell) JOIN ml l USING (cell)
           |  CROSS JOIN tot t
           |ORDER BY cell""".stripMargin
      }),

    // SHARDED-LAYERED rebalance (ShardedLayeredCdc
    // .rebalanceShardedLayeredStore): the operation q350's report
    // recommends — q329's decision core (share-band classification off
    // the manifests, sub-centroid picks, ivfAssign reassignment,
    // merge-target argmax, marker/footprint inheritance, two-phase
    // write-aside swaps) with every affected cell's staged artifact
    // the COMPLETE layer stack: level-0 NN-Descent graph, vecs, the
    // hash levels table, and both layer subgraphs rebuilt over the
    // post-rebalance membership (membership changes invalidate layer
    // subgraphs exactly as they invalidate level-0; build guards match
    // the seed's, so a rebuilt cell is bit-identical to a fresh seed
    // of its new membership — Round16Spec locks it, and locks
    // untouched cells byte-identical). The [220k, 255k] band makes at
    // least one cell split at EVERY sf's share profile (each sf draws
    // its own embeddings; at sf0.001 two cells split AND one folds
    // into its most-similar pool sibling, so all five actions appear)
    // while the non-split pool stays non-empty. The oracle replays the
    // integer share arithmetic, both sub-centroid selections, the
    // reassignment, and the merge-target argmax. Scale: decisions
    // from nCells manifest reads; data moves only through affected
    // cells' keyed reassignment + stack rebuilds.
    "q351_sharded_layered_rebalance" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
          .localCheckpoint()
        // fresh per-run clone: the rebalance mutates its store
        val store = clonedSeedStore("slay4", d, "graft_q351_store")(
          slay4SeedBuild(s, assigned))
        val (report, _) = graft.streaming.ShardedLayeredCdc
          .rebalanceShardedLayeredStore(s, store, cents, "vec_id",
            "embedding", cap = 2, k = 10, graphRounds = 3, layerK = 5,
            layerRounds = 2, initBuckets = 16, splitPpm = 255000L,
            mergePpm = 220000L, rebalanceId = 1L)
        report.orderBy(col("cell"))
      },
      Some("""WITH ve AS MATERIALIZED (SELECT vec_id,
             |    embedding::DOUBLE[] AS e FROM embeddings),
             |cents AS (SELECT vec_id AS cent_id, e AS ce FROM ve WHERE vec_id < 4),
             |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
             |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
             |      PARTITION BY ve.vec_id
             |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
             |        c.cent_id) AS rn
             |    FROM ve CROSS JOIN cents c
             |    WHERE ve.vec_id % 10 <> 9) WHERE rn = 1),
             |mem AS (SELECT c.cent_id AS cell, count(a.vec_id)::BIGINT AS n
             |  FROM cents c LEFT JOIN assign a ON a.cell = c.cent_id
             |  GROUP BY c.cent_id),
             |tot AS (SELECT greatest(sum(n), 1)::BIGINT AS t FROM mem),
             |shares AS (SELECT cell, n, (n * 1000000 // t.t)::BIGINT AS sp
             |  FROM mem, tot t),
             |spl AS (SELECT cell FROM shares WHERE sp > 255000 AND n >= 2),
             |mrg AS (SELECT cell FROM shares WHERE sp < 220000),
             |pool AS (SELECT cell FROM shares
             |  WHERE cell NOT IN (SELECT cell FROM spl)
             |    AND cell NOT IN (SELECT cell FROM mrg)),
             |hi AS (SELECT cell,
             |    (3 + row_number() OVER (ORDER BY cell))::BIGINT AS hi_cell
             |  FROM spl),
             |suba AS (SELECT a.cell, min(a.vec_id) AS a_id
             |  FROM assign a JOIN spl s ON a.cell = s.cell GROUP BY a.cell),
             |subb AS (SELECT cell, vec_id AS b_id FROM (
             |    SELECT sa.cell, m.vec_id, row_number() OVER (PARTITION BY sa.cell
             |      ORDER BY round(list_cosine_similarity(mv.e, av.e), 6) ASC,
             |        m.vec_id) AS rn
             |    FROM suba sa JOIN assign m ON m.cell = sa.cell
             |      JOIN ve mv ON mv.vec_id = m.vec_id
             |      JOIN ve av ON av.vec_id = sa.a_id) WHERE rn = 1),
             |resplit AS (SELECT m.vec_id,
             |    CASE WHEN round(list_cosine_similarity(mv.e, av.e), 6)
             |        >= round(list_cosine_similarity(mv.e, bv.e), 6)
             |      THEN m.cell ELSE h.hi_cell END AS cell
             |  FROM assign m JOIN suba sa ON m.cell = sa.cell
             |    JOIN subb sb ON m.cell = sb.cell JOIN hi h ON m.cell = h.cell
             |    JOIN ve mv ON mv.vec_id = m.vec_id
             |    JOIN ve av ON av.vec_id = sa.a_id
             |    JOIN ve bv ON bv.vec_id = sb.b_id),
             |mt AS (SELECT cell AS m_cell, tcell AS t_cell FROM (
             |    SELECT mg.cell, p.cell AS tcell, row_number() OVER (
             |      PARTITION BY mg.cell
             |      ORDER BY round(list_cosine_similarity(mc.ce, pc.ce), 6) DESC,
             |        p.cell) AS rn
             |    FROM mrg mg JOIN pool p ON true
             |      JOIN cents mc ON mc.cent_id = mg.cell
             |      JOIN cents pc ON pc.cent_id = p.cell) WHERE rn = 1),
             |finalm AS (SELECT vec_id, cell FROM resplit
             |  UNION ALL SELECT a.vec_id, mt.t_cell AS cell
             |    FROM assign a JOIN mt ON a.cell = mt.m_cell
             |  UNION ALL SELECT a.vec_id, a.cell FROM assign a
             |    WHERE a.cell NOT IN (SELECT cell FROM spl)
             |      AND a.cell NOT IN (SELECT cell FROM mrg)),
             |cnt AS (SELECT cell, count(*)::BIGINT AS n_members
             |  FROM finalm GROUP BY cell),
             |allc AS (SELECT cell FROM shares
             |  UNION ALL SELECT hi_cell AS cell FROM hi),
             |act AS (SELECT cell,
             |    CASE WHEN cell IN (SELECT hi_cell FROM hi) THEN 'split_hi'
             |      WHEN cell IN (SELECT cell FROM spl) THEN 'split_lo'
             |      WHEN cell IN (SELECT cell FROM mrg) THEN 'merged_away'
             |      WHEN cell IN (SELECT t_cell FROM mt) THEN 'merge_target'
             |      ELSE 'kept' END AS action
             |  FROM allc)
             |SELECT a.cell, coalesce(c.n_members, 0)::BIGINT AS n_members,
             |  a.action
             |FROM act a LEFT JOIN cnt c USING (cell)
             |ORDER BY cell""".stripMargin)),

    // SHARDED-LAYERED maintenance window (ShardedLayeredCdc
    // .maintenanceWindowLayered): the layered lifecycle composed end
    // to end — the q349 CDC batch drains (cell-keyed tombstone /
    // layer-then-level-0 repair / HNSW insert walk per touched cell),
    // then the periodic job reads the DRIFTED per-cell footprints off
    // the swap-time manifests (zero Spark jobs when nothing fires) and
    // rebuilds affected cells' complete layer stacks only if some cell
    // left the [220k, 255k] band — the post-CDC drift pushes at least
    // one cell past the split bound at every sf's share profile, so
    // the window FIRES (at sf0.001 with two splits plus a merge — all
    // five actions). The oracle replays the post-CDC per-cell membership
    // (survivors ∪ routed upserts) and the full rebalance decision
    // arithmetic over those drifted counts. Scale: q349's per-batch
    // shapes + q351's rebuild shapes, decisions from manifests.
    "q352_sharded_layered_maintenance" -> Q(
      (s, d) => {
        import scala.jdk.CollectionConverters._
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
          .localCheckpoint()
        val cdcDir = java.nio.file.Paths.get(freshScratchDir("graft_q352_cdc"))
        java.nio.file.Files.createDirectories(cdcDir)
        def writeBatchFile(df: DataFrame, name: String, mtime: Long): Unit = {
          val tmp = cdcDir.resolve(s"${name}_tmp")
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val part = java.nio.file.Files.list(tmp).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          java.nio.file.Files.move(part, cdcDir.resolve(name))
          EventStreams.deleteTree(tmp)
          cdcDir.resolve(name).toFile.setLastModified(mtime)
        }
        // the q349 single mixed batch (deletes + new-id upserts)
        writeBatchFile(base.filter(col("vec_id") % 7 === 3)
          .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
          .unionByName(emb.filter(col("vec_id") % 10 === 9)
            .select(lit("upsert").as("op"), col("vec_id"), col("embedding"))),
          "b0.parquet", 1000000L)
        val store = clonedSeedStore("slay4", d, "graft_q352_store")(
          slay4SeedBuild(s, assigned))
        val ckpt = java.nio.file.Files.createTempDirectory("graft_q352_ckpt")
        val cdc = s.readStream
          .schema("op STRING, vec_id BIGINT, embedding ARRAY<FLOAT>")
          .option("maxFilesPerTrigger", 1).parquet(cdcDir.toString)
        val q = graft.streaming.ShardedLayeredCdc.startShardedLayered(cdc,
          store, ckpt.toString, cents, "vec_id", "embedding", cap = 2,
          k = 10, layerK = 5, m = 2, descBeam = 6, descRounds = 2,
          beam = 12, searchRounds = 3, repairThreshold = 1L)
        EventStreams.drain(q, Some(ckpt.toString))
        val (report, _) = graft.streaming.ShardedLayeredCdc
          .maintenanceWindowLayered(s, store, cents, "vec_id", "embedding",
            cap = 2, k = 10, graphRounds = 3, layerK = 5, layerRounds = 2,
            initBuckets = 16, splitPpm = 255000L, mergePpm = 220000L,
            rebalanceId = 100L)
        report.orderBy(col("cell"))
      },
      benchFn = Some((s, d) => {
        // bench variant: the maintenance WINDOW itself — manifest-read
        // gate + the fired changed-cells-only stack rebuild — against a
        // cloned seed. The CDC drain the verified entry composes with
        // is exactly q349's benched per-batch shape; timing the
        // composition would charge the window twice for the drain.
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
          .localCheckpoint()
        val store = clonedSeedStore("slay4", d, "graft_q352_store")(
          slay4SeedBuild(s, assigned))
        val (report, _) = graft.streaming.ShardedLayeredCdc
          .maintenanceWindowLayered(s, store, cents, "vec_id", "embedding",
            cap = 2, k = 10, graphRounds = 3, layerK = 5, layerRounds = 2,
            initBuckets = 16, splitPpm = 255000L, mergePpm = 220000L,
            rebalanceId = 100L)
        report.orderBy(col("cell"))
      }),
      oracle = Some("""WITH ve AS MATERIALIZED (SELECT vec_id,
             |    embedding::DOUBLE[] AS e FROM embeddings),
             |cents AS (SELECT vec_id AS cent_id, e AS ce FROM ve WHERE vec_id < 4),
             |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
             |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
             |      PARTITION BY ve.vec_id
             |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
             |        c.cent_id) AS rn
             |    FROM ve CROSS JOIN cents c
             |    WHERE ve.vec_id % 10 <> 9) WHERE rn = 1),
             |ups AS MATERIALIZED (SELECT vec_id, cell FROM (
             |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
             |      PARTITION BY ve.vec_id
             |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
             |        c.cent_id) AS rn
             |    FROM ve CROSS JOIN cents c
             |    WHERE ve.vec_id % 10 = 9) WHERE rn = 1),
             |fm0 AS MATERIALIZED (
             |  SELECT vec_id, cell FROM assign WHERE vec_id % 7 <> 3
             |  UNION ALL SELECT vec_id, cell FROM ups),
             |mem AS (SELECT c.cent_id AS cell, count(f.vec_id)::BIGINT AS n
             |  FROM cents c LEFT JOIN fm0 f ON f.cell = c.cent_id
             |  GROUP BY c.cent_id),
             |tot AS (SELECT greatest(sum(n), 1)::BIGINT AS t FROM mem),
             |shares AS (SELECT cell, n, (n * 1000000 // t.t)::BIGINT AS sp
             |  FROM mem, tot t),
             |spl AS (SELECT cell FROM shares WHERE sp > 255000 AND n >= 2),
             |mrg AS (SELECT cell FROM shares WHERE sp < 220000),
             |pool AS (SELECT cell FROM shares
             |  WHERE cell NOT IN (SELECT cell FROM spl)
             |    AND cell NOT IN (SELECT cell FROM mrg)),
             |hi AS (SELECT cell,
             |    (3 + row_number() OVER (ORDER BY cell))::BIGINT AS hi_cell
             |  FROM spl),
             |suba AS (SELECT f.cell, min(f.vec_id) AS a_id
             |  FROM fm0 f JOIN spl s ON f.cell = s.cell GROUP BY f.cell),
             |subb AS (SELECT cell, vec_id AS b_id FROM (
             |    SELECT sa.cell, m.vec_id, row_number() OVER (PARTITION BY sa.cell
             |      ORDER BY round(list_cosine_similarity(mv.e, av.e), 6) ASC,
             |        m.vec_id) AS rn
             |    FROM suba sa JOIN fm0 m ON m.cell = sa.cell
             |      JOIN ve mv ON mv.vec_id = m.vec_id
             |      JOIN ve av ON av.vec_id = sa.a_id) WHERE rn = 1),
             |resplit AS (SELECT m.vec_id,
             |    CASE WHEN round(list_cosine_similarity(mv.e, av.e), 6)
             |        >= round(list_cosine_similarity(mv.e, bv.e), 6)
             |      THEN m.cell ELSE h.hi_cell END AS cell
             |  FROM fm0 m JOIN suba sa ON m.cell = sa.cell
             |    JOIN subb sb ON m.cell = sb.cell JOIN hi h ON m.cell = h.cell
             |    JOIN ve mv ON mv.vec_id = m.vec_id
             |    JOIN ve av ON av.vec_id = sa.a_id
             |    JOIN ve bv ON bv.vec_id = sb.b_id),
             |mt AS (SELECT cell AS m_cell, tcell AS t_cell FROM (
             |    SELECT mg.cell, p.cell AS tcell, row_number() OVER (
             |      PARTITION BY mg.cell
             |      ORDER BY round(list_cosine_similarity(mc.ce, pc.ce), 6) DESC,
             |        p.cell) AS rn
             |    FROM mrg mg JOIN pool p ON true
             |      JOIN cents mc ON mc.cent_id = mg.cell
             |      JOIN cents pc ON pc.cent_id = p.cell) WHERE rn = 1),
             |finalm AS (SELECT vec_id, cell FROM resplit
             |  UNION ALL SELECT f.vec_id, mt.t_cell AS cell
             |    FROM fm0 f JOIN mt ON f.cell = mt.m_cell
             |  UNION ALL SELECT f.vec_id, f.cell FROM fm0 f
             |    WHERE f.cell NOT IN (SELECT cell FROM spl)
             |      AND f.cell NOT IN (SELECT cell FROM mrg)),
             |cnt AS (SELECT cell, count(*)::BIGINT AS n_members
             |  FROM finalm GROUP BY cell),
             |allc AS (SELECT cell FROM shares
             |  UNION ALL SELECT hi_cell AS cell FROM hi),
             |act AS (SELECT cell,
             |    CASE WHEN cell IN (SELECT hi_cell FROM hi) THEN 'split_hi'
             |      WHEN cell IN (SELECT cell FROM spl) THEN 'split_lo'
             |      WHEN cell IN (SELECT cell FROM mrg) THEN 'merged_away'
             |      WHEN cell IN (SELECT t_cell FROM mt) THEN 'merge_target'
             |      ELSE 'kept' END AS action
             |  FROM allc)
             |SELECT a.cell, coalesce(c.n_members, 0)::BIGINT AS n_members,
             |  a.action
             |FROM act a LEFT JOIN cnt c USING (cell)
             |ORDER BY cell""".stripMargin)),

    // STREAMING serving over the SHARDED-LAYERED index
    // (AnnServing.serveShardedLayeredTopK): the composed online read
    // path under streaming — query embeddings arrive as a stream; each
    // micro-batch routes to its nprobe=2 best cells, DESCENDS each
    // probed cell's stored layer stack for its own level-0 entry
    // (partition-pruned layer reads), and beam-searches only those
    // cells' level-0 subgraphs seeded by the descent. The per-cell
    // descent metadata — (cell, max level, top entry), persisted by
    // the layer build — is pinned ONCE before the stream starts (the
    // q316 cellEntryPoints precedent), so micro-batches plan only the
    // routed descent + search. Search is stateless per query: the
    // drained append table equals the batch statement exactly whatever
    // the micro-batching, and the oracle — the q345 layered chain over
    // a fifth query set — emits raw (q_id, n_id, d2, rank) rows,
    // stronger than a recall gate. Scale: q345's serve shapes per
    // batch; nothing corpus-wide, nothing per-trigger beyond them.
    "q353_streaming_sharded_layered_ann" -> Q(
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
          .localCheckpoint()
        val index = operators.AnnIndex.buildOrLoadSharded(assigned,
          "vec_id", "embedding", nCells = 4, graphK = 10, graphRounds = 3,
          initBuckets = 16, indexDir = annIndexDir(d, "sharded"))
        operators.AnnIndex.buildOrLoadShardedLayers(assigned,
          "vec_id", "embedding", nCells = 4, cap = 3, layerK = 5,
          layerRounds = 2, initBuckets = 16,
          layersDir = annIndexDir(d, "sharded_layers"))
        graft.streaming.AnnServing.serveShardedLayeredTopK(s, index,
            assigned, cents, annIndexDir(d, "sharded_layers"),
            queriesPath = s"$d/embeddings.parquet",
            querySchemaDDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
            queryFilter = col("vec_id") >= 70 && col("vec_id") < 80,
            idCol = "vec_id", vecCol = "embedding", cap = 3, nprobe = 2,
            m = 2, descBeam = 6, descRounds = 2, beam = 12, rounds = 3,
            k = 5)
          .select(col("q_id"), col("n_id"), col("d2"),
            col("rank").cast("bigint").as("rank"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some(s"""${shardedAnnOracleCtes(id => s"$id >= 70 AND $id < 80")},
              |$shardedLayeredDescentCtes,
              |lresr AS (SELECT q_id, n_id, d2, rank FROM (
              |    SELECT q_id, n_id, d2, row_number() OVER (
              |      PARTITION BY q_id ORDER BY d2, n_id) AS rank
              |    FROM (SELECT * FROM y0res UNION ALL SELECT * FROM y1res
              |      UNION ALL SELECT * FROM y2res UNION ALL SELECT * FROM y3res))
              |  WHERE rank <= 5)
              |SELECT q_id, n_id, d2, rank::BIGINT AS rank FROM lresr
              |ORDER BY q_id, rank""".stripMargin)),

    // VP8L 2D SHORT-DISTANCE codes (Vp8l.planeCodeToDistance /
    // encode2dAsset): distance codes 1..120 name a NEAR PIXEL through
    // the spec's 120-entry plane-code table — yoffset·(coded width) +
    // xoffset, x ∈ [−7, 8], clamped to ≥ 1 — instead of a scan-line
    // distance; real cwebp output emits these near-ubiquitously for
    // photographic content, so without them a real corpus partially
    // downgrades to sniffed in the q328 audit. Even ids draw the
    // diagonal ramp (pixel(x,y) = ramp(x+y)) with every row after the
    // first one length-(w−1) copy at plane code (−1, 1) — a NEGATIVE
    // x offset, distance w−1; odd ids the vertical ramp rowed by
    // (0, 1) whole-row copies (distance w). The oracle predicts every
    // pixel from id arithmetic alone — a wrong table entry, offset
    // sign, width term, or clamp fails the hash on every even asset.
    // Round16Spec additionally locks the table to the spec's exact
    // neighbor SET ({(x,0):1≤x≤8} ∪ {(x,y):1≤y≤7,−7≤x≤8}) and the
    // direct form's +120 bias. Scale: the q302 partition-preserving
    // mapPartitions shape.
    "q354_vp8l_2d_distances" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWebp2dAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeWebpStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH dims AS (SELECT doc_id, (doc_id % 17 + 1)::BIGINT AS w,
             |    (doc_id % 11 + 1)::BIGINT AS h FROM documents),
             |px AS (SELECT doc_id, w, h,
             |    CASE WHEN doc_id % 2 = 0 THEN xs.x + ys.y ELSE xs.x END AS q
             |  FROM dims, range(0, 17) xs(x), range(0, 11) ys(y)
             |  WHERE xs.x < w AND ys.y < h),
             |ps AS (SELECT doc_id,
             |    sum(((doc_id + 3 * q) % 256) * 65536 +
             |        ((doc_id + 5 * q) % 256) * 256 +
             |        (doc_id + 7 * q) % 256)::BIGINT AS pixel_sum
             |  FROM px GROUP BY doc_id)
             |SELECT d.doc_id AS asset_id, 'vp8l' AS codec, d.w AS width,
             |  d.h AS height, 'none' AS transform,
             |  ps.pixel_sum, (255 * d.w * d.h)::BIGINT AS alpha_sum
             |FROM dims d JOIN ps USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // FLAC residual-coding EXTRAS (Flac.encodeFlacExtras / the extended
    // readSubframe): the forms real encoder output hits that q336/q346
    // did not — WASTED BITS (flag + unary k−1: the subframe codes
    // samples >> k at 16−k bits and the decoder shifts back; quiet
    // material hits this routinely), the ESCAPE Rice parameter
    // (all-ones → a 5-bit width, then unencoded two's-complement
    // residuals), partition order > 0 (per-partition parameters, the
    // first partition short by the predictor order), and the 5-bit
    // RICE2 method. One class per id (wasted k ∈ 1..3 / escaped
    // second partition / order-2 partitions at params 3+p / RICE2);
    // the round-trip is lossless so the oracle states the INPUT
    // samples from id arithmetic — a wrong shift-back, partition
    // boundary, escape width, or method-1 parameter size fails the
    // hash on every asset of that class. Scale: the q302
    // partition-preserving mapPartitions shape.
    "q355_flac_residual_extras" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeFlacExtraAssets(assetIds(s, d))
        graft.multimodal.Multimodal.decodeFlacStats(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 4 AS cls,
             |    (doc_id % 3 + 1)::BIGINT AS nf FROM documents),
             |fr AS (SELECT doc_id, cls, f.f AS f,
             |    ((doc_id + f.f) % 5 * 4 + 16)::BIGINT AS ns
             |  FROM p, range(0, 3) f(f) WHERE f.f < nf),
             |sm AS (SELECT doc_id, f, j.j AS j,
             |    CASE cls
             |      WHEN 0 THEN ((doc_id + 3 * j.j + f) % 200 - 100)
             |        * (1 << (doc_id % 3 + 1))
             |      WHEN 1 THEN (doc_id + 5 * j.j + 2 * f) % 120 - 60
             |      WHEN 2 THEN (doc_id + 7 * j.j + f) % 150 - 75
             |      ELSE (doc_id + 11 * j.j + f) % 180 - 90 END AS x
             |  FROM fr, range(0, 32) j(j) WHERE j.j < ns),
             |agg AS (SELECT doc_id, count(*)::BIGINT AS n_samples,
             |    sum(x)::BIGINT AS sum_pcm, sum(abs(x))::BIGINT AS sum_abs,
             |    max(abs(x))::BIGINT AS peak_abs
             |  FROM sm GROUP BY doc_id)
             |SELECT p.doc_id AS asset_id, 'flac' AS codec,
             |  CASE WHEN p.cls = 2 THEN 'fixed2' ELSE 'fixed1' END
             |    AS subframe_type,
             |  8000::BIGINT AS sample_rate, p.nf AS n_frames,
             |  a.n_samples, a.sum_pcm, a.sum_abs, a.peak_abs
             |FROM p JOIN agg a USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // VBR MP3 census (Mpeg.walkMp3Vbr / encodeMp3Vbr): the q337 walk's
    // CBR/no-CRC gate closed — most podcast-era MP3s are VBR, and
    // CRC-protected frames appear in broadcast rips. Per frame the
    // BITRATE may change (the stride must re-derive from each header;
    // a wrong per-frame length desyncs at the very next sync word),
    // protected frames carry the ISO CRC-16 (poly 0x8005 init 0xFFFF
    // over header bytes 2-3 + the 32-byte stereo side info) which is
    // VALIDATED — a mismatch drops the asset rather than desyncing —
    // and frame 0's Xing FRAMES declaration (after side info and the
    // CRC word) is read and reported NEXT TO the walked count, the
    // census field a seeking player trusts and a corpus audit checks
    // for lies. The oracle restates every per-frame bitrate through
    // the published table, the CRC-frame count, the Xing declaration,
    // and the duration arithmetic. Scale: the q337
    // partition-preserving mapPartitions shape.
    "q356_mp3_vbr_census" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeMp3VbrAssets(assetIds(s, d))
        graft.multimodal.Multimodal.walkMp3VbrCensus(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH br(i, k) AS (VALUES (1, 32), (2, 40), (3, 48), (4, 56),
             |  (5, 64), (6, 80), (7, 96), (8, 112), (9, 128), (10, 160),
             |  (11, 192), (12, 224), (13, 256), (14, 320)),
             |p AS (SELECT doc_id, (doc_id % 5 + 2)::BIGINT AS nf,
             |    CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
             |      ELSE 32000 END::BIGINT AS rate
             |  FROM documents),
             |fr AS (SELECT doc_id, f.f AS f, br.k AS kbps,
             |    ((doc_id + f.f) % 3 = 0) AS crc
             |  FROM p, range(0, 7) f(f)
             |    JOIN br ON br.i = (doc_id + f.f) % 14 + 1
             |  WHERE f.f < nf),
             |agg AS (SELECT doc_id,
             |    sum(CASE WHEN crc THEN 1 ELSE 0 END)::BIGINT AS n_crc_frames,
             |    min(kbps)::BIGINT AS min_kbps, max(kbps)::BIGINT AS max_kbps,
             |    sum(kbps)::BIGINT AS sum_kbps
             |  FROM fr GROUP BY doc_id)
             |SELECT p.doc_id AS asset_id, 'mp3' AS codec,
             |  p.rate AS sample_rate, p.nf AS n_frames,
             |  a.n_crc_frames, a.min_kbps, a.max_kbps, a.sum_kbps,
             |  CASE WHEN p.doc_id % 2 = 0 THEN p.nf ELSE -1 END::BIGINT
             |    AS declared_frames,
             |  (p.nf * 1152 * 1000 // p.rate)::BIGINT AS duration_ms
             |FROM p JOIN agg a USING (doc_id)
             |ORDER BY asset_id""".stripMargin)),

    // MP4 COMPOSITION offsets + EDIT lists (Codecs.walkMp4 ctts/elst
    // via Multimodal.walkMp4EditCensus): the q348 census extended with
    // the two timing tables a B-frame-bearing, trimmed real MP4
    // carries — ctts runs reduced to the track's total composition
    // shift (Σ count·offset, overflow-checked like stts; −1 when the
    // box is absent, distinct from a zero shift) and the edts/elst
    // edit list reduced to entry count, duration sum, and the FIRST
    // media_time (the priming delay a player honors — negative values
    // are the standard form, so the s32 re-sign is under the hash).
    // Every third asset stores chunk offsets as co64 (the 64-bit
    // large-file form the round's hardening added). The oracle
    // restates every field from id arithmetic. Scale: the q324
    // partition-preserving mapPartitions shape reading O(moov) bytes.
    "q357_mp4_edit_census" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeMp4EditAssets(assetIds(s, d))
        graft.multimodal.Multimodal.walkMp4EditCensus(assets)
          .orderBy(col("asset_id"), col("track_idx"))
      },
      Some("""WITH p AS (SELECT doc_id, (doc_id % 3 + 1)::BIGINT AS nt
             |  FROM documents),
             |tr AS (SELECT doc_id, t.t AS t FROM p, range(0, 3) t(t)
             |  WHERE t.t < nt),
             |ct AS (SELECT doc_id, t, sum(((doc_id + 3 * j.j + t) % 5 + 1)
             |      * ((doc_id + 7 * j.j) % 90))::BIGINT AS shift
             |  FROM tr, range(0, 2) j(j)
             |  WHERE (doc_id + t) % 2 = 0 AND j.j < (doc_id + t) % 4 // 2 + 1
             |  GROUP BY doc_id, t),
             |ed AS (SELECT doc_id, t, count(*)::BIGINT AS n_edits,
             |    sum(100 + (doc_id + 13 * t + j.j) % 50)::BIGINT AS edur
             |  FROM tr, range(0, 2) j(j)
             |  WHERE (doc_id + t) % 3 = 0 AND j.j < (doc_id + t) % 2 + 1
             |  GROUP BY doc_id, t)
             |SELECT tr.doc_id AS asset_id, tr.t AS track_idx,
             |  CASE WHEN (tr.doc_id + tr.t) % 2 = 0 THEN 'vide'
             |    ELSE 'soun' END AS handler,
             |  ((tr.doc_id + tr.t) % 7 + 1)::BIGINT AS n_samples,
             |  (((tr.doc_id + tr.t) % 7 + 1)
             |    * (tr.doc_id % 9 + 1))::BIGINT AS duration,
             |  ((tr.doc_id + tr.t) % 3)::BIGINT AS n_chunks,
             |  coalesce(ct.shift, -1)::BIGINT AS ctts_shift,
             |  coalesce(ed.n_edits, -1)::BIGINT AS n_edits,
             |  coalesce(ed.edur, -1)::BIGINT AS edit_duration,
             |  CASE WHEN (tr.doc_id + tr.t) % 3 = 0
             |    THEN tr.doc_id % 40 - 10 ELSE 0 END::BIGINT
             |    AS first_media_time
             |FROM tr LEFT JOIN ct USING (doc_id, t)
             |  LEFT JOIN ed USING (doc_id, t)
             |ORDER BY asset_id, track_idx""".stripMargin)))

  // --------------------------------------------------------------------
  // Round-17 oracle helpers: live-store serving.
  // --------------------------------------------------------------------

  /** One cell's LIVE-serve chain for the q358 oracle: entry points = the
    * 2 lowest ids of `entSrc` (a table expression with column `id` —
    * the cell's CURRENT membership, which is what the live serve windows
    * its entries from), then a seeded beam search (beam 12, 3 rounds)
    * over graph CTE `g` for the routed queries of cell `c`, ending at
    * `${p}res` (the per-cell top-5). Assumes `route` and `v` in scope. */
  private def liveServeCellCtes(
      p: String, c: Int, entSrc: String, g: String): String =
    s"""${p}e AS (SELECT id FROM $entSrc t ORDER BY id LIMIT 2),
       |${p}sd AS (SELECT r.q_id, e.id AS n_id FROM route r, ${p}e e
       |  WHERE r.cell = $c),
       |${seededSearchCtes(s"${p}_", s"${p}sd", g, 12, 3)},
       |${p}res AS (SELECT q_id, n_id, d2 FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM ${p}_b3)
       |  WHERE rn <= 5)""".stripMargin

  /** One cell's LIVE layered-descent chain for the q359 oracle — the
    * swap-manifest semantics replayed generically: ml = the cell's max
    * populated level over `memCte` (a CTE with column `id` — the CURRENT
    * membership), entry = the lowest id there, then a cap-2 descent in
    * which each layer stage is ACTIVE only when the stack reaches it
    * (ml-gated) and pass-through otherwise — exactly the [[graft
    * .operators.AnnIndex.descentSeedsWith]] loop — ending in the
    * descent-seeded level-0 search (beam 12, 3 rounds) and `${pfx}res`
    * (the per-cell top-5). Assumes route / lvt / v in scope. */
  private def liveLayeredDescentCtes(
      pfx: String, c: Int, memCte: String,
      l2: String, l1: String, l0: String): String =
    s"""${pfx}m AS (SELECT max(l.level) AS ml FROM $memCte mm
       |  JOIN lvt l ON l.vec_id = mm.id),
       |${pfx}e AS (SELECT min(mm.id) AS id FROM $memCte mm
       |  JOIN lvt l ON l.vec_id = mm.id
       |  WHERE l.level = (SELECT ml FROM ${pfx}m)),
       |${pfx}s2 AS (SELECT r.q_id, e.id AS n_id FROM route r, ${pfx}e e
       |  WHERE r.cell = $c),
       |${seededSearchCtes(s"${pfx}l2_", s"${pfx}s2", l2, 6, 2)},
       |${pfx}d1 AS (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM ${pfx}l2_b2)
       |  WHERE rn <= 2 AND (SELECT ml FROM ${pfx}m) >= 2
       |  UNION ALL SELECT q_id, n_id FROM ${pfx}s2
       |  WHERE (SELECT ml FROM ${pfx}m) < 2),
       |${seededSearchCtes(s"${pfx}l1_", s"${pfx}d1", l1, 6, 2)},
       |${pfx}d0 AS (SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM ${pfx}l1_b2)
       |  WHERE rn <= 2 AND (SELECT ml FROM ${pfx}m) >= 1
       |  UNION ALL SELECT q_id, n_id FROM ${pfx}d1
       |  WHERE (SELECT ml FROM ${pfx}m) < 1),
       |${seededSearchCtes(s"${pfx}f_", s"${pfx}d0", l0, 12, 3)},
       |${pfx}res AS (SELECT q_id, n_id, d2 FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rn FROM ${pfx}f_b3)
       |  WHERE rn <= 5)""".stripMargin

  /** Global top-5 merge of four per-cell result CTEs, phase-tagged. */
  private def phaseMergeCte(
      name: String, phase: Int, resOf: Int => String): String =
    s"""$name AS (SELECT $phase::BIGINT AS phase, q_id, n_id, d2, rank FROM (
       |    SELECT q_id, n_id, d2, row_number() OVER (
       |      PARTITION BY q_id ORDER BY d2, n_id) AS rank
       |    FROM (SELECT * FROM ${resOf(0)} UNION ALL SELECT * FROM ${resOf(1)}
       |      UNION ALL SELECT * FROM ${resOf(2)} UNION ALL SELECT * FROM ${resOf(3)}))
       |  WHERE rank <= 5)""".stripMargin

  // --------------------------------------------------------------------
  // Round-17 surface: streaming serve over the LIVE CDC-maintained
  // stores — the last composition on the ANN lifecycle (every prior
  // serve form reads a build-time artifact; production serves the store
  // the CDC drain keeps swapping underneath).
  // --------------------------------------------------------------------
  private val roundSeventeenSurface: Seq[(String, Q)] = Seq(

    // LIVE serving over the flat-sharded CDC store
    // (AnnServing.serveLiveShardedTopK): a query stream served ACROSS a
    // store swap — phase 0 drains against the freshly seeded per-cell
    // stores, the q322 CDC batches then swap every cell under the
    // serving path (deletes with before-images, upserts with
    // after-images, applied through the same merge the q322 drain
    // runs), and phase 1 drains again: each micro-batch re-resolves the
    // swap pointers (DocStreams.recoverStore), pins its probed cells'
    // committed versions with an eager snapshot (no half-committed or
    // half-pruned read — Round17Spec locks a staged-but-unswapped next_
    // dir invisible and unprobed cells never opened), windows entry
    // points from the CURRENT survivors, and runs the q316 keyed routed
    // beam search. The oracle replays both phases: the seed graphs
    // (q322's per-cell NN-Descent chains) for phase 0 and the
    // post-CDC graphs (q322's full lifecycle chains) with
    // post-CDC entry points for phase 1 — a serve that failed to follow
    // the pointer, or derived entries from stale membership, fails the
    // phase-1 rows. Scale: per batch, routing + path-scoped pinned
    // reads of probed cells + the fixed keyed search statement;
    // nothing corpus-wide, nothing proportional to unprobed cells.
    "q358_live_sharded_serve" -> Q(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
          .localCheckpoint()
        val store = clonedShardedSeed(s, d, "base4", "graft_q358_store",
          assigned, nCells = 4)
        def serve(phase: Int): DataFrame =
          graft.streaming.AnnServing.serveLiveShardedTopK(s, store, cents,
            queriesPath = s"$d/embeddings.parquet",
            querySchemaDDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
            queryFilter = col("vec_id") >= 50 && col("vec_id") < 60,
            idCol = "vec_id", vecCol = "embedding", nprobe = 2,
            entriesPerCell = 2, beam = 12, rounds = 3, k = 5)
            .withColumn("phase", lit(phase.toLong))
        // phase 0: the seeded store (drained results are parquet on
        // disk before the swap below mutates anything)
        val pre = serve(0)
        // the swap under the stream: the q322 CDC batches applied
        // through the same per-cell merge the streaming drain runs
        graft.streaming.IndexCdc.mergeShardedCdcBatch(
          base.filter(col("vec_id") % 7 === 3)
            .select(lit("delete").as("op"), col("vec_id"), col("embedding")),
          0L, store, cents, "vec_id", "embedding", k = 10,
          entriesPerCell = 2, beam = 12, searchRounds = 3,
          repairThreshold = 1L)
        graft.streaming.IndexCdc.mergeShardedCdcBatch(
          t(s, d, "embeddings").filter(col("vec_id") % 10 === 9)
            .select(lit("upsert").as("op"), col("vec_id"), col("embedding")),
          1L, store, cents, "vec_id", "embedding", k = 10,
          entriesPerCell = 2, beam = 12, searchRounds = 3,
          repairThreshold = 1L)
        // phase 1: the post-swap store through the same serving path
        val post = serve(1)
        pre.unionByName(post)
          .select(col("phase"), col("q_id"), col("n_id"), col("d2"),
            col("rank").cast("bigint").as("rank"))
          .orderBy(col("phase"), col("q_id"), col("rank"))
      },
      benchFn = Some((s, d) => {
        // bench variant: ONE live-serve drain against the immutable
        // base4 seed — the serving scaffold + pinned reads + keyed
        // search are the NEW shape; the CDC merge the verified entry
        // composes with is exactly q322's benched per-batch shape, and
        // timing the composition would charge it twice
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
          .localCheckpoint()
        val store = ensureSeed("base4", d) { seedDir =>
          graft.streaming.IndexCdc.initShardedStore(s, seedDir, assigned,
            "vec_id", "embedding", nCells = 4, graphK = 10,
            graphRounds = 3, initBuckets = 16)
        }
        graft.streaming.AnnServing.serveLiveShardedTopK(s, store, cents,
            queriesPath = s"$d/embeddings.parquet",
            querySchemaDDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
            queryFilter = col("vec_id") >= 50 && col("vec_id") < 60,
            idCol = "vec_id", vecCol = "embedding", nprobe = 2,
            entriesPerCell = 2, beam = 12, rounds = 3, k = 5)
          .orderBy(col("q_id"), col("rank"))
      }),
      oracle = Some {
        val phase0 = (0 to 3).map(c => liveServeCellCtes(s"a$c", c,
          s"(SELECT vec_id AS id FROM assign WHERE cell = $c)",
          s"c${c}_nn3")).mkString(",\n")
        val cur = (0 to 3).map(c =>
          s"""z${c}cur AS (SELECT id FROM c${c}_rem
             |  UNION ALL SELECT vec_id AS id FROM ups WHERE cell = $c)"""
            .stripMargin).mkString(",\n")
        val phase1 = (0 to 3).map(c => liveServeCellCtes(s"z$c", c,
          s"z${c}cur", s"c${c}_pg")).mkString(",\n")
        s"""WITH ve AS MATERIALIZED (SELECT vec_id,
           |    embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, e AS ce FROM ve WHERE vec_id < 4),
           |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
           |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
           |      PARTITION BY ve.vec_id
           |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
           |        c.cent_id) AS rn
           |    FROM ve CROSS JOIN cents c
           |    WHERE ve.vec_id % 10 <> 9) WHERE rn = 1),
           |ups AS MATERIALIZED (SELECT vec_id, cell FROM (
           |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
           |      PARTITION BY ve.vec_id
           |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
           |        c.cent_id) AS rn
           |    FROM ve CROSS JOIN cents c
           |    WHERE ve.vec_id % 10 = 9) WHERE rn = 1),
           |v AS MATERIALIZED (SELECT vec_id AS id,
           |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
           |  FROM embeddings),
           |route AS MATERIALIZED (SELECT vec_id AS q_id, cell FROM (
           |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
           |      PARTITION BY ve.vec_id
           |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
           |        c.cent_id) AS rn
           |    FROM ve CROSS JOIN cents c
           |    WHERE ve.vec_id >= 50 AND ve.vec_id < 60) WHERE rn <= 2),
           |${(0 to 3).map(shardedCdcCellCtes).mkString(",\n")},
           |$phase0,
           |$cur,
           |$phase1,
           |${phaseMergeCte("ph0", 0, c => s"a${c}res")},
           |${phaseMergeCte("ph1", 1, c => s"z${c}res")}
           |SELECT phase, q_id, n_id, d2, rank::BIGINT AS rank
           |FROM (SELECT * FROM ph0 UNION ALL SELECT * FROM ph1)
           |ORDER BY phase, q_id, rank""".stripMargin
      }),

    // LIVE serving over the sharded-LAYERED CDC store
    // (AnnServing.serveLiveShardedLayeredTopK): the full descent-seeded
    // layered read path over the store the q349 drain maintains — and
    // the reason the per-cell `entry` swap manifests exist: each
    // micro-batch re-resolves the swap pointers, reads its probed
    // cells' (max populated level, top entry) from the manifests the
    // merge REWRITES at every swap (driver file reads, zero Spark
    // jobs — a build-time entries table would descend into a
    // tombstoned id the first time a batch deleted a cell's top
    // entry; Round17Spec locks exactly that refresh), pins the cells'
    // level-0/vecs/layer parts, descends the stored stacks (ml-gated
    // pass-through per cell), and runs the descent-seeded keyed
    // level-0 search. Phase 0 serves the seed stacks; the q349 mixed
    // CDC batch then swaps every cell; phase 1 serves the post-CDC
    // stacks from their refreshed manifests. The oracle replays both:
    // seed chains + seed-membership manifests, then q349's full
    // post-CDC stacks + post-CDC manifests, each through the ml-gated
    // descent. Scale: per batch, routing + manifest reads + pinned
    // path-scoped reads + q345's serve shapes; nothing corpus-wide.
    "q359_live_sharded_layered_serve" -> Q(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
          .localCheckpoint()
        val store = clonedSeedStore("slay4", d, "graft_q359_store")(
          slay4SeedBuild(s, assigned))
        def serve(phase: Int): DataFrame =
          graft.streaming.AnnServing.serveLiveShardedLayeredTopK(s, store,
            cents, queriesPath = s"$d/embeddings.parquet",
            querySchemaDDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
            queryFilter = col("vec_id") >= 60 && col("vec_id") < 70,
            idCol = "vec_id", vecCol = "embedding", cap = 2, nprobe = 2,
            m = 2, descBeam = 6, descRounds = 2, beam = 12, rounds = 3,
            k = 5)
            .withColumn("phase", lit(phase.toLong))
        val pre = serve(0)
        // the q349 mixed batch (deletes + new-id upserts) applied
        // through the same per-cell merge the streaming drain runs —
        // every cell swaps, every manifest rewrites
        graft.streaming.ShardedLayeredCdc.mergeShardedLayeredCdcBatch(
          base.filter(col("vec_id") % 7 === 3)
            .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
            .unionByName(t(s, d, "embeddings")
              .filter(col("vec_id") % 10 === 9)
              .select(lit("upsert").as("op"), col("vec_id"), col("embedding"))),
          0L, store, cents, "vec_id", "embedding", cap = 2, k = 10,
          layerK = 5, m = 2, descBeam = 6, descRounds = 2, beam = 12,
          searchRounds = 3, repairThreshold = 1L)
        val post = serve(1)
        pre.unionByName(post)
          .select(col("phase"), col("q_id"), col("n_id"), col("d2"),
            col("rank").cast("bigint").as("rank"))
          .orderBy(col("phase"), col("q_id"), col("rank"))
      },
      benchFn = Some((s, d) => {
        // bench variant: ONE live layered-serve drain against the
        // immutable slay4 seed (manifest reads + pinned stack reads +
        // descent + seeded search — the new shape); the CDC merge is
        // q349's benched per-batch shape
        val emb = t(s, d, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 0L until 4L)
        val assigned = Similarity.ivfAssign(base, "vec_id", "embedding", cents)
          .localCheckpoint()
        val store = ensureSeed("slay4", d)(slay4SeedBuild(s, assigned))
        graft.streaming.AnnServing.serveLiveShardedLayeredTopK(s, store,
            cents, queriesPath = s"$d/embeddings.parquet",
            querySchemaDDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
            queryFilter = col("vec_id") >= 60 && col("vec_id") < 70,
            idCol = "vec_id", vecCol = "embedding", cap = 2, nprobe = 2,
            m = 2, descBeam = 6, descRounds = 2, beam = 12, rounds = 3,
            k = 5)
          .orderBy(col("q_id"), col("rank"))
      }),
      oracle = Some {
        def lvlCase: String =
          """CASE
            |      WHEN ('0x'||substr(md5('lvl:'||vec_id::VARCHAR),1,15))::BIGINT % 4 <> 0 THEN 0
            |      WHEN ('0x'||substr(md5('lvl:'||vec_id::VARCHAR),1,15))::BIGINT % 16 <> 0 THEN 1
            |      ELSE 2 END""".stripMargin
        val seedMem = (0 to 3).map(c =>
          s"""s${c}mem AS (SELECT vec_id AS id FROM assign WHERE cell = $c)""")
          .mkString(",\n")
        val phase0 = (0 to 3).map(c => liveLayeredDescentCtes(s"g$c", c,
          s"s${c}mem", s"w${c}L2_nn2", s"w${c}L1_nn2", s"w${c}_nn3"))
          .mkString(",\n")
        val cur = (0 to 3).map(c =>
          s"""h${c}cur AS (SELECT id FROM w${c}rem
             |  UNION ALL SELECT vec_id AS id FROM upsr WHERE cell = $c)"""
            .stripMargin).mkString(",\n")
        val phase1 = (0 to 3).map(c => liveLayeredDescentCtes(s"h$c", c,
          s"h${c}cur", s"w${c}NG2", s"w${c}NG1", s"w${c}pg"))
          .mkString(",\n")
        s"""WITH ve AS MATERIALIZED (SELECT vec_id,
           |    embedding::DOUBLE[] AS e FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, e AS ce FROM ve WHERE vec_id < 4),
           |assign AS MATERIALIZED (SELECT vec_id, cell FROM (
           |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
           |      PARTITION BY ve.vec_id
           |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
           |        c.cent_id) AS rn
           |    FROM ve CROSS JOIN cents c
           |    WHERE ve.vec_id % 10 <> 9) WHERE rn = 1),
           |upsr AS MATERIALIZED (SELECT vec_id, cell FROM (
           |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
           |      PARTITION BY ve.vec_id
           |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
           |        c.cent_id) AS rn
           |    FROM ve CROSS JOIN cents c
           |    WHERE ve.vec_id % 10 = 9) WHERE rn = 1),
           |lvt AS MATERIALIZED (SELECT vec_id, $lvlCase AS level
           |  FROM embeddings),
           |v AS MATERIALIZED (SELECT vec_id AS id,
           |    [floor(x::DOUBLE * 1000.0)::BIGINT for x in embedding] AS iv
           |  FROM embeddings),
           |vq AS (SELECT id, iv FROM v),
           |route AS MATERIALIZED (SELECT vec_id AS q_id, cell FROM (
           |    SELECT ve.vec_id, c.cent_id AS cell, row_number() OVER (
           |      PARTITION BY ve.vec_id
           |      ORDER BY round(list_cosine_similarity(ve.e, c.ce), 6) DESC,
           |        c.cent_id) AS rn
           |    FROM ve CROSS JOIN cents c
           |    WHERE ve.vec_id >= 60 AND ve.vec_id < 70) WHERE rn <= 2),
           |${(0 to 3).map(shardedLayeredCellCtes).mkString(",\n")},
           |$seedMem,
           |$phase0,
           |$cur,
           |$phase1,
           |${phaseMergeCte("lp0", 0, c => s"g${c}res")},
           |${phaseMergeCte("lp1", 1, c => s"h${c}res")}
           |SELECT phase, q_id, n_id, d2, rank::BIGINT AS rank
           |FROM (SELECT * FROM lp0 UNION ALL SELECT * FROM lp1)
           |ORDER BY phase, q_id, rank""".stripMargin
      }),

    // Ogg IDENTIFICATION census (Mpeg.walkOggIds /
    // Multimodal.walkOggIdCensus): q339's page walk read nothing
    // inside packets — what a real crawl audit reports per logical
    // stream is the codec and its playback parameters, all sitting at
    // fixed offsets in packet 0 of the BOS page (the Vorbis I §4.2.2
    // identification header and RFC 7845's OpusHead; both specs
    // require that packet alone on its page, no audio decode needed).
    // Streams alternate real Vorbis and Opus headers with id-predicted
    // channels / rate / pre-skip; later pages carry the q339 data
    // packets, so the census reports codec fields NEXT TO the
    // CRC-validated page/packet accounting. A wrong magic, field
    // offset, endianness, or first-packet lacing reassembly fails the
    // hash on every stream of that codec. Scale: the q339
    // partition-preserving mapPartitions shape reading O(header)
    // bytes per stream.
    "q360_ogg_id_census" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeOggIdAssets(assetIds(s, d))
        graft.multimodal.Multimodal.walkOggIdCensus(assets)
          .orderBy(col("asset_id"), col("serial"))
      },
      Some("""WITH st AS (SELECT d.doc_id, s.s AS s,
             |    ((d.doc_id + s.s) % 3 + 1)::BIGINT AS np
             |  FROM documents d, range(0, 2) s(s) WHERE s.s < d.doc_id % 2 + 1),
             |pk AS (SELECT st.doc_id, st.s,
             |    sum((st.doc_id + st.s + p.p) % 3 + 1)::BIGINT AS extra
             |  FROM st, range(1, 3) p(p) WHERE p.p < st.np
             |  GROUP BY st.doc_id, st.s),
             |idh AS (SELECT doc_id, s,
             |    CASE WHEN (doc_id + s) % 2 = 0 THEN 'vorbis' ELSE 'opus' END
             |      AS codec,
             |    CASE WHEN (doc_id + s) % 2 = 0 THEN 0 ELSE 1 END::BIGINT
             |      AS version,
             |    CASE WHEN (doc_id + s) % 2 = 0 THEN (doc_id + s) % 8 + 1
             |      ELSE (doc_id + s) // 2 % 2 + 1 END::BIGINT AS channels,
             |    CASE WHEN (doc_id + s) % 2 <> 0 THEN 48000
             |      WHEN (doc_id + s) // 2 % 4 = 0 THEN 44100
             |      WHEN (doc_id + s) // 2 % 4 = 1 THEN 48000
             |      WHEN (doc_id + s) // 2 % 4 = 2 THEN 32000
             |      ELSE 16000 END::BIGINT AS sample_rate,
             |    CASE WHEN (doc_id + s) % 2 = 0 THEN 0
             |      ELSE 312 + (doc_id + s) % 100 END::BIGINT AS pre_skip
             |  FROM st)
             |SELECT st.doc_id AS asset_id, (st.s + 7)::BIGINT AS serial,
             |  i.codec, i.version, i.channels, i.sample_rate, i.pre_skip,
             |  st.np AS n_pages,
             |  (1 + coalesce(pk.extra, 0))::BIGINT AS n_packets,
             |  (st.doc_id + 100 * st.s + 10 * (st.np - 1))::BIGINT
             |    AS last_granule
             |FROM st JOIN idh i ON st.doc_id = i.doc_id AND st.s = i.s
             |  LEFT JOIN pk ON st.doc_id = pk.doc_id AND st.s = pk.s
             |ORDER BY asset_id, serial""".stripMargin)),

    // HONEST drop reasons in the JPEG coverage audit
    // (Jpeg.dropReason / Multimodal.jpegAuditWithReasons): q328's
    // audit says decoded-vs-sniffed but not WHY — and on a real
    // corpus "why" is the difference between "scoped-out coding form,
    // acceptable" and "my pipeline is damaging bytes". The corpus
    // plants all four drop classes — a decodable baseline, the same
    // asset declared arithmetic-coded (SOF9), declared 12-bit
    // precision, carrying a genuine 16-bit (pq=1) DQT — plus a
    // 10-byte truncation, and the audit tags each sniffed asset by an
    // independent marker walk: jpeg_arithmetic / jpeg_12bit /
    // jpeg_16bit_quant / corrupt. A classifier that keyed off the
    // wrong marker range, precision offset, or pq nibble fails the
    // hash on every asset of that class. Scale: the q328
    // partition-preserving mapPartitions shape.
    "q361_jpeg_drop_reasons" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeJpegReasonAssets(assetIds(s, d))
        graft.multimodal.Multimodal.jpegAuditWithReasons(assets)
          .orderBy(col("asset_id"))
      },
      Some("""SELECT doc_id AS asset_id, 'jpeg' AS container,
             |  CASE WHEN doc_id % 5 = 0 THEN 'decoded' ELSE 'sniffed' END
             |    AS status,
             |  CASE doc_id % 5 WHEN 0 THEN 'ok' WHEN 1 THEN 'jpeg_arithmetic'
             |    WHEN 2 THEN 'jpeg_12bit' WHEN 3 THEN 'jpeg_16bit_quant'
             |    ELSE 'corrupt' END AS reason
             |FROM documents
             |ORDER BY asset_id""".stripMargin)),

    // WARC response records in the FULL Common-Crawl shape
    // (Warc.httpResponseBody / Multimodal.warcHttpDocs): q343's WET
    // pipeline assumed clean bare-HTML payloads — real crawl records
    // carry the HTTP MESSAGE (status line + headers + body), bodies
    // arrive `Transfer-Encoding: chunked` as often as
    // Content-Length-framed, and truncated captures are routine. Even
    // (id + rec) records frame by Content-Length (verified exactly —
    // a short body is a truncated capture and DROPS), odd ones by
    // chunked coding with id-predicted chunk sizes (re-assembled per
    // RFC 9112 §7.1 incl. the 0-chunk terminator), and every
    // (id + 5·rec) % 7 == 3 record is cut 10 bytes short at the WARC
    // layer — dropped at the record check with its neighbors' member
    // ordinals unshifted. The oracle id-predicts every surviving
    // record's status, URI, and EXACT reassembled HTML — a wrong
    // chunk-size parse, CRLF step, framing precedence, or truncation
    // leak fails the hash. Scale: the q343 partition-preserving
    // mapPartitions shape, zero shuffle.
    "q362_warc_chunked_http" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeWarcHttpAssets(assetIds(s, d))
        graft.multimodal.Multimodal.warcHttpDocs(assets)
          .orderBy(col("asset_id"), col("rec_idx"))
      },
      Some("""WITH recs AS (SELECT d.doc_id, r.r AS rec,
             |    ((d.doc_id + 3 * r.r) % 30 + 1)::BIGINT AS n
             |  FROM documents d, range(0, 2) r(r)
             |  WHERE r.r < d.doc_id % 2 + 1
             |    AND (d.doc_id + 5 * r.r) % 7 <> 3),
             |tok AS (SELECT doc_id, rec,
             |    string_agg(lpad(((doc_id + 9 * j.j + 5 * rec) % 100)::VARCHAR,
             |      2, '0'), ' ' ORDER BY j.j) AS ts
             |  FROM recs, range(0, 30) j(j) WHERE j.j < n GROUP BY doc_id, rec)
             |SELECT r.doc_id AS asset_id, r.rec::BIGINT AS rec_idx,
             |  'http://example.com/' || r.doc_id || '/' || r.rec AS target_uri,
             |  200::BIGINT AS http_status,
             |  '<html><body><p>' || t.ts || '</p></body></html>' AS html
             |FROM recs r JOIN tok t ON r.doc_id = t.doc_id AND r.rec = t.rec
             |ORDER BY asset_id, rec_idx""".stripMargin)),

    // MPEG-audio Layers I and II (Mpeg.walkMp3Layers /
    // Multimodal.walkMp3LayerCensus): the q337/q356 walks are Layer
    // III only — Layers I and II share the identical header format
    // but differ in exactly the three places a census can get subtly
    // wrong: the bitrate TABLE (the same 4-bit index means 448 kbps
    // in Layer I, 384 in II, 320 in III), Layer I's 4-BYTE-SLOT
    // length arithmetic ((12·kbps·1000/rate + pad)·4 vs
    // 144·kbps·1000/rate + pad), and the 384-vs-1152
    // samples-per-frame duration constant. The corpus cycles all
    // three layers with id-predicted bitrate/rate/padding; the oracle
    // restates every field through per-layer VALUES tables and the
    // per-layer duration arithmetic — one wrong table row or stride
    // desyncs a whole layer class. Scale: the q337
    // partition-preserving mapPartitions shape, O(header bytes).
    "q363_mp3_layer_census" -> Q(
      (s, d) => {
        val assets = graft.multimodal.Multimodal
          .synthesizeMp3LayerAssets(assetIds(s, d))
        graft.multimodal.Multimodal.walkMp3LayerCensus(assets)
          .orderBy(col("asset_id"))
      },
      Some("""WITH br(layer, i, k) AS (VALUES
             |  (1, 1, 32), (1, 2, 64), (1, 3, 96), (1, 4, 128), (1, 5, 160),
             |  (1, 6, 192), (1, 7, 224), (1, 8, 256), (1, 9, 288), (1, 10, 320),
             |  (1, 11, 352), (1, 12, 384), (1, 13, 416), (1, 14, 448),
             |  (2, 1, 32), (2, 2, 48), (2, 3, 56), (2, 4, 64), (2, 5, 80),
             |  (2, 6, 96), (2, 7, 112), (2, 8, 128), (2, 9, 160), (2, 10, 192),
             |  (2, 11, 224), (2, 12, 256), (2, 13, 320), (2, 14, 384),
             |  (3, 1, 32), (3, 2, 40), (3, 3, 48), (3, 4, 56), (3, 5, 64),
             |  (3, 6, 80), (3, 7, 96), (3, 8, 112), (3, 9, 128), (3, 10, 160),
             |  (3, 11, 192), (3, 12, 224), (3, 13, 256), (3, 14, 320)),
             |p AS (SELECT doc_id, (doc_id % 3 + 1)::BIGINT AS layer,
             |    (doc_id % 5 + 1)::BIGINT AS nf,
             |    (doc_id % 14 + 1)::BIGINT AS bi,
             |    CASE doc_id // 3 % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
             |      ELSE 32000 END::BIGINT AS rate
             |  FROM documents)
             |SELECT p.doc_id AS asset_id, 'mpeg_audio' AS codec, p.layer,
             |  p.rate AS sample_rate, br.k::BIGINT AS bitrate_kbps,
             |  p.nf AS n_frames,
             |  (p.nf * (CASE WHEN p.layer = 1 THEN 384 ELSE 1152 END)
             |    * 1000 // p.rate)::BIGINT AS duration_ms
             |FROM p JOIN br ON br.layer = p.layer AND br.i = p.bi
             |ORDER BY asset_id""".stripMargin)))

  /** All queries in catalog order. */
  val all: Seq[(String, Q)] =
    relational ++ textAndEvents ++ dedup ++ dedupResolve ++ similarity ++
      ivf ++ textAnalysis ++ parityPipeline ++ streamingAndMultimodal ++
      extendedSurface ++ roundFourSurface ++ analyticsSurface ++
      roundFiveSurface ++ roundSixSurface ++ roundEightSurface ++
      roundTenSurface ++ roundElevenSurface ++ roundTwelveSurface ++
      roundThirteenSurface ++ roundFourteenSurface ++ roundFifteenSurface ++
      roundSixteenSurface ++ roundSeventeenSurface
}
