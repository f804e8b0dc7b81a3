package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sfTiny = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    // session shared across suites in one JVM; don't stop it per-suite
    super.afterAll()
  }

  /** Write rows as a parquet table layout Tables.load understands, so ops
    * can be driven on synthetic inputs through their public signature.
    */
  def writeTable(dir: String, name: String, df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_spec").toString

  /** Every root-to-node path from the plan root down to a node matching
    * `hit`, descending through AQE stages and InMemoryRelation cached
    * plans (where CacheRegistry materializations hide their stages).
    * Each returned path has the matching node at the HEAD and its
    * ancestors following nearest-first — so
    * `path.takeWhile(!isJoin(_))` is the scan→first-join segment the
    * zero-exchange serve specs assert over (VERDICT r13 #7).
    */
  def scanPaths(root: org.apache.spark.sql.execution.SparkPlan)(
      hit: org.apache.spark.sql.execution.SparkPlan => Boolean)
      : Seq[List[org.apache.spark.sql.execution.SparkPlan]] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def go(p: SparkPlan, acc: List[SparkPlan],
        seen: Set[Int]): Seq[List[SparkPlan]] = {
      if (seen(System.identityHashCode(p))) return Nil
      val seen2 = seen + System.identityHashCode(p)
      val here = p :: acc
      val extra = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan, a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
        case _ => Nil
      }
      val hits = if (hit(p)) Seq(here) else Nil
      hits ++ (p.children ++ extra).flatMap(go(_, here, seen2))
    }
    go(root, Nil, Set.empty)
  }

  /** The word n-gram builders of `df`'s optimized plan that Spark
    * interprets element by element: `transform` lambdas whose body joins
    * words with `concat_ws(' ', …)`. Walks subqueries and the physical
    * plans of cached relations (where CacheRegistry materializations
    * hide their projections). Returns each hit's SQL.
    */
  def lambdaNgramBuilders(df: org.apache.spark.sql.DataFrame): Seq[String] =
    lambdaNgramBuilders(df.queryExecution.optimizedPlan)

  /** [[lambdaNgramBuilders]] over any logical plan — e.g. a streaming
    * query's `lastExecution.optimizedPlan`, the plan of one micro-batch.
    */
  def lambdaNgramBuilders(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, ConcatWs, Expression, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    def isSpaceJoin(e: Expression): Boolean = e match {
      case c: ConcatWs => c.children.headOption.exists {
        case Literal(v, _) => v != null && v.toString == " "
        case _ => false
      }
      case _ => false
    }
    def hits(es: Seq[Expression]): Seq[String] = es.flatMap(_.collect {
      case t: ArrayTransform if t.function.find(isSpaceJoin).isDefined => t.sql
    })
    def physical(p: SparkPlan): Seq[String] = p.flatMap { n =>
      hits(n.expressions) ++ (n match {
        case a: AdaptiveSparkPlanExec => physical(a.inputPlan)
        case s: QueryStageExec => physical(s.plan)
        case i: InMemoryTableScanExec => physical(i.relation.cachedPlan)
        case _ => Nil
      })
    }
    def logical(p: LogicalPlan): Seq[String] = p.flatMap { n =>
      hits(n.expressions) ++ n.subqueries.flatMap(logical) ++ (n match {
        case m: InMemoryRelation => physical(m.cachedPlan)
        case _ => Nil
      })
    }
    logical(plan).distinct
  }

  /** Assert the `hit` scans exist in `df`'s plan and that none of them
    * crosses a ShuffleExchange before reaching its first join — the
    * bucketed/broadcast serve contract for persisted index state.
    */
  def assertZeroExchangeToJoin(df: org.apache.spark.sql.DataFrame,
      what: String, minScans: Int)(
      hit: org.apache.spark.sql.execution.SparkPlan => Boolean): Unit = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val paths = scanPaths(df.queryExecution.executedPlan)(hit)
    assert(paths.size >= minScans,
      s"expected ≥$minScans $what scans reachable in the serve plan:\n" +
        df.queryExecution.executedPlan.toString.take(4000))
    paths.foreach { path =>
      val toJoin = path.takeWhile(!_.isInstanceOf[BaseJoinExec])
      val shuffled = toJoin.filter(_.isInstanceOf[ShuffleExchangeExec])
      assert(shuffled.isEmpty,
        s"$what re-shuffled between its scan and its join:\n" +
          path.take(6).map(_.nodeName).mkString(" <- "))
    }
  }
}
