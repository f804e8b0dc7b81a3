package graft.operators

import graft.{Op, Tables}
import org.apache.spark.sql.functions._

/** Remaining SURVEY §2.1 operators: type dispatch, laziness/fusion,
  * subquery sharing, expression-level rewrites, nested-query unnesting,
  * multiset semantics. Reference citations are files under
  * /root/reference/src/main/scala.
  */
object Extended {

  /** indexBy + addIndex (traversableOps.scala:39; Optimization.scala:31):
    * the reference replaces scans with precomputed index lookups; on Spark
    * the index is the broadcast side of a hash join — every probe is a
    * map-side hash lookup, no shuffle of the probe side.
    */
  val indexByLookup: Op = Op(
    "q_indexby_lookup",
    """SELECT n_name, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin,
  ) { (spark, dir) =>
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("sum_bal"))
  }

  /** typeFilter (traversableOps.scala:54, TypeFilterOptim.scala): the
    * heterogeneous collection is the events table, the runtime type is the
    * tag column; the filter is partition-prunable at scale.
    */
  val typeFilter: Op = Op(
    "q_typefilter",
    """SELECT event_id, user_id, value FROM events WHERE event_type = 'click'""",
  ) { (spark, dir) =>
    Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select("event_id", "user_id", "value")
  }

  /** typeCase multi-way dispatch (traversableOps.scala:72 TypeCaseExp). */
  val typeCase: Op = Op(
    "q_typecase",
    """SELECT event_id,
      |  CASE event_type WHEN 'purchase' THEN value
      |                  WHEN 'click' THEN 1.0
      |                  WHEN 'view' THEN 0.1
      |                  ELSE 0.0 END AS weight,
      |  CASE WHEN event_type IN ('purchase','signup') THEN 'conversion'
      |       WHEN event_type = 'error' THEN 'failure'
      |       ELSE 'engagement' END AS kind
      |FROM events""".stripMargin,
  ) { (spark, dir) =>
    Tables.events(spark, dir).select(
      col("event_id"),
      when(col("event_type") === "purchase", col("value"))
        .when(col("event_type") === "click", lit(1.0))
        .when(col("event_type") === "view", lit(0.1))
        .otherwise(lit(0.0)).as("weight"),
      when(col("event_type").isin("purchase", "signup"), lit("conversion"))
        .when(col("event_type") === "error", lit("failure"))
        .otherwise(lit("engagement")).as("kind"))
  }

  /** flatten (traversableOps.scala:76): nested array column exploded. */
  val flattenArrays: Op = Op(
    "q_flatten",
    """SELECT vec_id, CAST(t.i AS BIGINT) AS pos, v[t.i] AS component
      |FROM (SELECT vec_id, embedding AS v FROM embeddings),
      |     UNNEST(generate_series(1, len(v))) AS t(i)""".stripMargin,
  ) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("component"))
  }

  /** unzip (traversableOps.scala:77): pairs → tuple of collections,
    * represented as two sorted arrays per group (deterministic).
    */
  val unzipPairs: Op = Op(
    "q_unzip",
    """SELECT lang,
      |  array_to_string(list_sort(list(doc_id)), ',') AS ids,
      |  array_to_string(list_sort(list(source)), ',') AS sources
      |FROM documents GROUP BY lang""".stripMargin,
  ) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        array_join(expr("transform(sort_array(collect_list(doc_id)), x -> cast(x as string))"), ",")
          .as("ids"),
        array_join(sort_array(collect_list(col("source"))), ",").as("sources"))
  }

  /** view/force lazy pipelines (traversableOps.scala:37,89,272): a chain of
    * filter∘map∘filter stays one WholeStageCodegen span — Spark's laziness
    * is the reference's view semantics, fusion included (Fusion.scala).
    */
  val viewFusion: Op = Op(
    "q_view_fusion",
    """SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS disc_price
      |FROM lineitem
      |WHERE l_quantity > 10 AND l_extendedprice * (1 - l_discount) > 1000""".stripMargin,
  ) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 10)
      .withColumn("disc_price", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .filter(col("disc_price") > 1000)
      .select("l_orderkey", "l_linenumber", "disc_price")
  }

  /** Subquery sharing / CSE (SubquerySharing.scala): one filtered
    * subquery consumed twice. The ORACLE keeps the reference's naive
    * shape (hv self-joined on the customer, counting ordered pairs per
    * priority); the registered plan computes the same counts WITHOUT
    * materializing pairs — per row, a window count of the same
    * customer's later orders, summed per priority. The self-join is
    * key-quadratic in the hottest customer's high-value order count
    * (the r6 skew sweep measured it unbounded: ~1e11 intermediate pairs
    * when 90% of orders collapse onto one customer), while the window
    * form is one keyed exchange + per-key sort — the only formulation
    * that survives a skewed 100 TB corpus. Catalyst's exchange-reuse on
    * the naive two-consumer shape (the reference feature this op is
    * named for) is pinned separately in PlanSpec via
    * [[subquerySharingNaive]].
    */
  def subquerySharingNaive(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // both sides are the IDENTICAL subplan — self-alias, and both
    // consumers read the same three columns so pruning can't
    // differentiate them — hence their shuffle exchanges canonicalize
    // equal and Catalyst's ReuseExchange fires: the CSE the reference
    // implements by sharing the reified subquery node. (Grouping by the
    // pair's two priorities is what keeps the b side's projection
    // identical; summing n_pairs over b_priority gives exactly the
    // registered op's per-a-priority counts.)
    val hv = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 300000)
      .select("o_orderkey", "o_custkey", "o_orderpriority")
    hv.alias("a")
      .join(hv.alias("b"), col("a.o_custkey") === col("b.o_custkey") &&
        col("a.o_orderkey") < col("b.o_orderkey"))
      .groupBy(col("a.o_orderpriority").as("o_orderpriority"),
        col("b.o_orderpriority").as("b_priority"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val subquerySharing: Op = Op(
    "q_subquery_sharing",
    """WITH hv AS (SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
      |            WHERE o_totalprice > 300000)
      |SELECT a.o_orderpriority, COUNT(*) AS n_pairs
      |FROM hv a JOIN hv b ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
      |GROUP BY a.o_orderpriority""".stripMargin,
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val hv = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 300000)
      .select("o_orderkey", "o_custkey", "o_orderpriority")
    // Pair counts WITHOUT pairs and WITHOUT a per-key window: per row,
    // n_later = cnt(cust) − rank(cust, orderkey), so per (cust, prio)
    // the contribution is Σ(cnt − off_b − lrn) = n·(cnt − off_b) − Σlrn
    // over each orderkey BLOCK b. Every per-row stage partitions on
    // (cust, block): a block-local row_number and a (cust, block, prio)
    // aggregate — a hot customer's orders rank in parallel across
    // blocks (the r6 skew fix's first cut kept one count+row_number
    // window per customer, which put 90% of high-value orders into a
    // single sort task). The only per-key serial pass and the only
    // joins are over block SUMMARIES (rows = #(cust, block)), the
    // sessionizeBlocks renumbering pattern applied to ranking.
    // o_orderkey is unique, so blocks of it are a total-order split and
    // local rank + prior-block counts ≡ the per-key row_number exactly.
    val blockW = 1000000L
    val blocked = hv.withColumn("_b", floor(col("o_orderkey") / blockW))
    val wLoc = Window.partitionBy(col("o_custkey"), col("_b"))
      .orderBy(col("o_orderkey"))
    val perBlockPrio = blocked
      .withColumn("_lrn", row_number().over(wLoc).cast("long"))
      .groupBy(col("o_custkey"), col("_b"), col("o_orderpriority"))
      .agg(count(lit(1)).as("_n"), sum(col("_lrn")).as("_slrn"))
    val blockCounts = perBlockPrio.groupBy(col("o_custkey"), col("_b"))
      .agg(sum(col("_n")).as("_bn"))
    val wKey = Window.partitionBy(col("o_custkey")).orderBy(col("_b"))
    val offs = blockCounts
      .withColumn("_off", coalesce(sum(col("_bn"))
        .over(wKey.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_cnt", sum(col("_bn")).over(wKey.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("o_custkey"), col("_b"), col("_off"), col("_cnt"))
    perBlockPrio.join(offs, Seq("o_custkey", "_b"))
      .groupBy(col("o_orderpriority"))
      .agg(sum((col("_cnt") - col("_off")) * col("_n") - col("_slrn"))
        .as("n_pairs"))
      // the join-shaped oracle has no group for a priority with zero
      // pairs; drop those instead of emitting 0 rows it never produces
      .filter(col("n_pairs") > 0)
  }

  /** Arithmetic reassociation + constant folding
    * (NumericOptimTransforms.scala reassociateOps/buildSum): Catalyst folds
    * the constant chains at plan time; quantities are integral so the
    * double arithmetic is exact.
    */
  val arithReassoc: Op = Op(
    "q_arith_reassoc",
    """SELECT l_orderkey, l_linenumber,
      |  l_quantity * 2 * 3 AS q6,
      |  ((l_linenumber + 1) + 2) + 3 AS ln6,
      |  l_quantity * 0 + 42 AS const42,
      |  -l_quantity AS negq,
      |  CAST(l_quantity AS BIGINT) % 7 AS qmod7,
      |  CAST(CAST(l_quantity AS BIGINT) // 4 AS BIGINT) AS qdiv4
      |FROM lineitem WHERE l_quantity <= 5""".stripMargin,
  ) { (spark, dir) =>
    // full numericOps surface (reference numericOps.scala Plus/Times/
    // Negate/Div/Mod); integer div/mod are exact cross-engine
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") <= 5)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") * 2 * 3).as("q6"),
        (((col("l_linenumber") + 1) + 2) + 3).as("ln6"),
        (col("l_quantity") * 0 + 42).as("const42"),
        (-col("l_quantity")).as("negq"),
        (col("l_quantity").cast("long") % 7).as("qmod7"),
        (col("l_quantity").cast("long") / 4).cast("long").as("qdiv4"))
  }

  /** String operators (StringConcat.scala, ToString.scala). */
  val stringOps: Op = Op(
    "q_string_ops",
    """SELECT c_custkey, UPPER(c_name) AS uname, LENGTH(c_name) AS name_len,
      |  SUBSTRING(c_name, 1, 9) AS prefix,
      |  c_name || '/' || c_mktsegment AS tagged
      |FROM customer""".stripMargin,
  ) { (spark, dir) =>
    Tables.customer(spark, dir).select(
      col("c_custkey"), upper(col("c_name")).as("uname"),
      length(col("c_name")).cast("long").as("name_len"),
      substring(col("c_name"), 1, 9).as("prefix"),
      concat(col("c_name"), lit("/"), col("c_mktsegment")).as("tagged"))
  }

  /** Numeric conversions (NumConvOps.scala): cast lattice int↔long↔double
    * ↔decimal↔string, plus date formatting. The double→int leg goes
    * through an explicit floor() on BOTH sides: a bare CAST rounds in
    * DuckDB (2.5 → 3) but truncates in Spark (2.5 → 2) — a divergence
    * invisible while the generator emits whole quantities, and a silent
    * disagreement for any library user with fractional ones.
    */
  val numericConv: Op = Op(
    "q_numeric_conv",
    """SELECT l_orderkey, l_linenumber,
      |  CAST(floor(l_quantity) AS INTEGER) AS qty_int,
      |  CAST(l_linenumber AS DOUBLE) AS ln_dbl,
      |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec,
      |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_str
      |FROM lineitem WHERE l_orderkey < 100""".stripMargin,
  ) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_quantity")).cast("int").as("qty_int"),
        col("l_linenumber").cast("double").as("ln_dbl"),
        col("l_extendedprice").cast("decimal(12,2)").cast("double").as("price_dec"),
        col("l_shipdate").cast("date").cast("string").as("ship_str"))
  }

  /** Option semantics (removeRedundantOption, OptionLifting): null algebra
    * via nullif/coalesce.
    */
  val optionOps: Op = Op(
    "q_option_ops",
    """SELECT l_orderkey, l_linenumber,
      |  COALESCE(NULLIF(l_discount, 0.0), -1.0) AS disc_or_flag,
      |  NULLIF(l_tax, 0.0) IS NULL AS tax_free
      |FROM lineitem WHERE l_orderkey < 200""".stripMargin,
  ) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") < 200)
      .select(col("l_orderkey"), col("l_linenumber"),
        coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0)).as("disc_or_flag"),
        nullif(col("l_tax"), lit(0.0)).isNull.as("tax_free"))
  }

  /** Let-bindings + inlining (Inlining.scala, letTransformer): named
    * intermediates via withColumn; Catalyst's CollapseProject inlines them.
    */
  val letBinding: Op = Op(
    "q_let_binding",
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1 - l_discount) AS disc_price,
      |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
      |FROM lineitem WHERE l_quantity >= 45""".stripMargin,
  ) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 45)
      .withColumn("disc_price", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .withColumn("charge", col("disc_price") * (lit(1.0) + col("l_tax")))
      .select("l_orderkey", "l_linenumber", "disc_price", "charge")
  }

  /** Nested-query unnesting (Unnesting.scala generalUnnesting,
    * existsUnnester): written as a correlated scalar subquery through the
    * DataFrame subquery API (`outer()` + `scalar()`); Catalyst decorrelates
    * it into an aggregate+join — the reference's unnesting rewrite.
    */
  val nestedUnnest: Op = Op(
    "q_nested_unnest",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM orders o
      |WHERE o_totalprice = (SELECT MAX(o2.o_totalprice) FROM orders o2
      |                      WHERE o2.o_custkey = o.o_custkey)""".stripMargin,
  ) { (spark, dir) =>
    val maxOfCustomer = Tables.orders(spark, dir).as("o2")
      .where(col("o2.o_custkey") === col("o.o_custkey").outer())
      .select(max(col("o2.o_totalprice")))
      .scalar()
    Tables.orders(spark, dir).as("o")
      .where(col("o.o_totalprice") === maxOfCustomer)
      .select("o_custkey", "o_orderkey", "o_totalprice")
  }

  /** TypeMapping (collections/TypeMapping.scala): one scan partitioned into
    * per-type groups — conditional aggregation, a single pass, no per-type
    * rescans.
    */
  val typeMappingPartition: Op = Op(
    "q_typemapping_partition",
    """SELECT user_id,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS views,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signups
      |FROM events GROUP BY user_id""".stripMargin,
  ) { (spark, dir) =>
    def cnt(t: String) = count(when(col("event_type") === t, 1))
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(cnt("click").as("clicks"), cnt("view").as("views"),
        cnt("purchase").as("purchases"), cnt("error").as("errors"),
        cnt("signup").as("signups"))
  }

  /** Bag/multiset (collections/Bag.scala): element → multiplicity. */
  val bagMultiset: Op = Op(
    "q_bag_multiset",
    """SELECT l_quantity AS element, COUNT(*) AS multiplicity
      |FROM lineitem GROUP BY l_quantity""".stripMargin,
  ) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupBy(col("l_quantity").as("element"))
      .agg(count(lit(1)).as("multiplicity"))
  }

  /** Bag ALGEBRA (collections/Bag.scala): multiset union/intersection/
    * difference over two bags, computed as ONE conditional aggregation
    * pass — union adds multiplicities, intersection takes the min,
    * difference saturates at zero. No join: both bags ride the same scan
    * with a membership tag.
    */
  val bagAlgebra: Op = Op(
    "q_bag_algebra",
    """SELECT element, cnt_r, cnt_a,
      |  cnt_r + cnt_a AS union_cnt,
      |  LEAST(cnt_r, cnt_a) AS inter_cnt,
      |  GREATEST(cnt_r - cnt_a, 0) AS diff_cnt
      |FROM (
      |  SELECT l_quantity AS element,
      |    COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS cnt_r,
      |    COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS cnt_a
      |  FROM lineitem WHERE l_returnflag IN ('R','A')
      |  GROUP BY l_quantity)""".stripMargin,
  ) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag").isin("R", "A"))
      .groupBy(col("l_quantity").as("element"))
      .agg(
        count(when(col("l_returnflag") === "R", 1)).as("cnt_r"),
        count(when(col("l_returnflag") === "A", 1)).as("cnt_a"))
      .select(col("element"), col("cnt_r"), col("cnt_a"),
        (col("cnt_r") + col("cnt_a")).as("union_cnt"),
        least(col("cnt_r"), col("cnt_a")).as("inter_cnt"),
        greatest(col("cnt_r") - col("cnt_a"), lit(0L)).as("diff_cnt"))
  }

  /** The paper's Fig.2 query shape (tests/PaperTutorial.scala:24-28):
    * filter on the outer entity, flatMap its children, yield
    * (outer key, child attr, sibling count - 1) — the "number of coauthors"
    * analog computed without a second scan via a window count.
    */
  val paperTutorial: Op = Op(
    "q_paper_tutorial",
    """SELECT o_orderkey, l_partkey,
      |  COUNT(*) OVER (PARTITION BY o_orderkey) - 1 AS n_colines
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'""".stripMargin,
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
      .join(Tables.lineitem(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("l_partkey"),
        (count(lit(1)).over(Window.partitionBy(col("o_orderkey"))) - 1).as("n_colines"))
  }

  /** mkString (reference ToString.scala/StringConcat.scala over
    * collections): deterministic per-group concatenation of sorted
    * elements.
    */
  val mkStringAgg: Op = Op(
    "q_mkstring",
    """SELECT o_orderstatus,
      |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities
      |FROM orders GROUP BY o_orderstatus""".stripMargin,
  ) { (spark, dir) =>
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(array_join(sort_array(collect_set(col("o_orderpriority"))), ",")
        .as("priorities"))
  }

  /** Hierarchical aggregation (ROLLUP): the multi-granularity face of
    * groupBySel — detail rows, per-flag subtotals, and a grand total in
    * ONE pass (Spark expands grouping sets map-side; no rescan per
    * level). NULL marks the aggregated-out level, as in standard SQL.
    */
  val rollupAgg: Op = Op(
    "q_rollup_agg",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
  ) { (spark, dir) =>
    // exact long-cents accumulator — Relational.cents itself, so the
    // round-then-cast money discipline is single-sourced; stays in
    // codegen where a >18-digit decimal sum would box per row
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg((sum(Relational.cents(col("l_quantity"))).cast("double") / 100.0)
        .as("sum_qty"),
        count(lit(1)).as("n"))
  }

  /** CUBE: all 2^k grouping-set combinations in one pass — the rollup's
    * sibling for cross-dimensional summaries (Spark expands grouping
    * sets map-side; the shuffle carries per-set partials, never a rescan
    * per set). NULL marks each aggregated-out dimension.
    */
  val cubeAgg: Op = Op(
    "q_cube_agg",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
  ) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg((sum(Relational.cents(col("l_quantity"))).cast("double") / 100.0)
        .as("sum_qty"),
        count(lit(1)).as("n"))
  }

  /** GROUPING SETS: arbitrary set lists — here the two independent
    * marginals WITHOUT the pair or the grand total, the combination
    * neither ROLLUP nor CUBE can express. Same one-pass execution as its
    * siblings (map-side expansion, per-set partials in one shuffle — two
    * scans' worth of aggregation for one scan's IO); same long-cents
    * exact accumulator.
    */
  val groupingSetsAgg: Op = Op(
    "q_groupingsets_agg",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,
  ) { (spark, dir) =>
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg((sum(Relational.cents(col("l_quantity"))).cast("double") / 100.0)
        .as("sum_qty"),
        count(lit(1)).as("n"))
  }

  /** Cross-stage persistence of compiled queries
    * (ivm/expressiontree/CrossStagePersistence.scala, Compile.scala:1-):
    * the reference compiles a query once and rebinds its embedded
    * constants across stages instead of recompiling. Here
    * [[graft.api.Prepared]] persists the ANALYZED plan and each `bind`
    * is one literal-swap transform — the same skeleton executes at two
    * thresholds below, and because binding produces plain literals both
    * executions keep full predicate pushdown into the parquet scan
    * (pinned in PreparedSpec).
    */
  val preparedParam: Op = Op(
    "q_prepared_param",
    """SELECT CAST(150000.0 AS DOUBLE) AS cut, o_orderpriority, COUNT(*) AS n
      |FROM orders WHERE o_totalprice > 150000.0 GROUP BY o_orderpriority
      |UNION ALL
      |SELECT CAST(250000.0 AS DOUBLE) AS cut, o_orderpriority, COUNT(*) AS n
      |FROM orders WHERE o_totalprice > 250000.0 GROUP BY o_orderpriority""".stripMargin,
  ) { (spark, dir) =>
    val p = graft.api.Prepared.compile(
      Tables.orders(spark, dir)
        .filter(col("o_totalprice") > graft.api.Prepared.param("cut", 0.0))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n")))
    def run(c: Double) = p.bind("cut" -> c)
      .select(lit(c).as("cut"), col("o_orderpriority"), col("n"))
    run(150000.0).unionAll(run(250000.0))
  }

  val ops: Seq[Op] = Seq(
    indexByLookup, typeFilter, typeCase, flattenArrays, unzipPairs, mkStringAgg,
    viewFusion, subquerySharing, arithReassoc, stringOps, numericConv,
    optionOps, letBinding, nestedUnnest, typeMappingPartition, bagMultiset,
    bagAlgebra, paperTutorial, rollupAgg, cubeAgg, groupingSetsAgg,
    preparedParam,
  )
}
