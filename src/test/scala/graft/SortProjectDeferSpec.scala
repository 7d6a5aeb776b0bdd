package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, RepartitionByExpression, Sort}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** SortProjectDeferRule: expensive kernel projections move above a global
  * sort (so range-exchange sampling no longer double-executes them and the
  * shuffle carries only narrow inputs), with byte-identical results, and the
  * deferred sort's range exchange keeps one partition per core. */
class SortProjectDeferSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  /** True when any node of `p`'s subtree holds a graft expression. */
  private def hasGraftExpr(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(_.exists(_.getClass.getName.startsWith("graft."))))

  private def sortOf(df: DataFrame): Sort =
    df.queryExecution.optimizedPlan.collect { case s: Sort => s }.head

  private def rowsOff(sql: String) =
    TestFiles.withConfs("spark.graft.sortDefer.enabled" -> "false")(spark.sql(sql).collect().toSeq)

  /** Plan walks that descend into AQE's query stages. */
  private object Aqe extends AdaptiveSparkPlanHelper

  /** One partition per core, as the rule sizes the deferred range exchange. */
  private def perCore: Int =
    math.min(spark.sparkContext.defaultParallelism, spark.sessionState.conf.numShufflePartitions)

  private val q = """
    SELECT id * 10 AS k,
           st_astext(st_point(cast(id % 40 AS DOUBLE), cast(id % 30 AS DOUBLE))) AS wkt,
           st_area(st_buffer(st_point(cast(id % 40 AS DOUBLE), cast(id % 30 AS DOUBLE)),
                             cast(1 + id % 3 AS DOUBLE), 8)) AS ba
    FROM range(500) ORDER BY k"""

  test("kernel aliases defer above the global sort; key stays below") {
    Graft.register(spark)
    val df = spark.sql(q)
    val op = df.queryExecution.optimizedPlan
    val sort = sortOf(df)
    assert(!hasGraftExpr(sort.child),
      s"kernel exprs still below the sort:\n${sort.child}")
    op match {
      case Project(list, _: Sort) =>
        assert(list.exists(_.exists(_.getClass.getName.startsWith("graft."))),
          s"kernel exprs missing from the deferred project:\n$op")
      case other => fail(s"expected Project over Sort at the root, got:\n$other")
    }
  }

  test("results identical (including order) with the rule off") {
    Graft.register(spark)
    val deferred = spark.sql(q).collect().toSeq
    spark.conf.set("spark.graft.sortDefer.enabled", "false")
    val plain =
      try spark.sql(q).collect().toSeq
      finally spark.conf.unset("spark.graft.sortDefer.enabled")
    assert(deferred == plain)
  }

  test("does not fire when the sort key is the expensive alias") {
    Graft.register(spark)
    val df = spark.sql("""
      SELECT st_astext(st_point(cast(id % 5 AS DOUBLE), 0.0d)) AS wkt
      FROM range(100) ORDER BY wkt, id""")
    assert(hasGraftExpr(sortOf(df).child), "sort-key alias must stay below the sort")
  }

  test("does not fire for kernels fed by non-primitive columns") {
    // g is built one projection below and referenced twice, so CollapseProject
    // keeps it a real binary column of a two-Project stack; the whole stack
    // defers, so g is rebuilt after the sort from the narrow id and no binary
    // or string column crosses the sort's exchange (the property that kept
    // binary-fed kernels below: never ship wider values than the kernels' own)
    Graft.register(spark)
    val sql = """
      SELECT k, st_npoints(g) AS np, st_astext(st_boundary(g)) AS bd
      FROM (SELECT id AS k, st_makeenvelope(0.0d, 0.0d, cast(id % 9 AS DOUBLE) + 1.0d, 2.0d) AS g
            FROM range(100))
      ORDER BY k"""
    val df = spark.sql(sql)
    val shipped = sortOf(df).child.output
    assert(!shipped.exists(a => a.dataType == BinaryType || a.dataType == StringType),
      s"wide column crosses the sort's exchange: $shipped")
    assert(!hasGraftExpr(sortOf(df).child))
    assert(df.collect().toSeq == rowsOff(sql))
  }

  test("a kernel fed by a binary base column stays below the sort") {
    Graft.register(spark)
    val dir = tempDir("graft_sortdefer").resolve("t").toString
    spark.range(100).selectExpr("id AS k",
      "st_aswkb(st_makeenvelope(0.0d, 0.0d, cast(id % 9 AS DOUBLE) + 1.0d, 2.0d)) AS g")
      .write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("sortdefer_wkb")
    // single Project and a two-Project stack over the scan's binary g: moving
    // either kernel above would ship the raw WKB through the exchange
    for (sql <- Seq(
        "SELECT k, st_npoints(g) AS np, st_astext(st_boundary(g)) AS bd FROM sortdefer_wkb ORDER BY k",
        """SELECT k, st_npoints(b) AS np, st_astext(b) AS bt
           FROM (SELECT k, st_boundary(g) AS b FROM sortdefer_wkb) ORDER BY k""")) {
      val df = spark.sql(sql)
      val sort = sortOf(df)
      assert(hasGraftExpr(sort.child), s"binary-fed kernel left the sort's input:\n$sort")
      assert(!sort.child.output.exists(_.dataType == BinaryType), s"raw WKB ships:\n$sort")
      assert(df.collect().toSeq == rowsOff(sql))
    }
  }

  test("ORDER BY ... LIMIT still plans TakeOrderedAndProject, same rows") {
    Graft.register(spark)
    val lq = q + " LIMIT 7"
    val df = spark.sql(lq)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("TakeOrderedAndProject"), s"limit+sort lost its top-k plan:\n$phys")
    assert(Aqe.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.isEmpty,
      s"limit+sort gained a shuffle:\n$phys")
    val got = df.collect().toSeq
    spark.conf.set("spark.graft.sortDefer.enabled", "false")
    val plain =
      try spark.sql(lq).collect().toSeq
      finally spark.conf.unset("spark.graft.sortDefer.enabled")
    assert(got == plain)
  }

  test("non-deterministic and cheap aliases stay below") {
    Graft.register(spark)
    val df = spark.sql("""
      SELECT id AS k, rand() AS r, id + 1 AS c,
             st_astext(st_point(cast(id AS DOUBLE), 1.0d)) AS wkt
      FROM range(50) ORDER BY k""")
    val sort = sortOf(df)
    assert(!hasGraftExpr(sort.child))
    assert(sort.child.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Rand]))),
      "rand() must not move above the sort")
    // schema and values still line up column-for-column
    val rows = df.collect()
    assert(df.schema.fieldNames.toSeq == Seq("k", "r", "c", "wkt"))
    assert(rows.forall(r => r.getString(3) == s"POINT (${r.getLong(0)} 1)"))
  }

  test("a deferred sort keeps one range partition per core; AQE does not coalesce it") {
    Graft.register(spark)
    val n = perCore
    assert(n > 1, s"needs more than one core to tell coalesced from not: $n")
    val df = spark.sql(q)
    assert(sortOf(df).child.isInstanceOf[RepartitionByExpression])
    df.collect()
    val fin = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].executedPlan
    assert(Aqe.collect(fin) { case r: AQEShuffleReadExec => r }.isEmpty, s"coalesced:\n$fin")
    val stages = Aqe.collect(fin) { case s: ShuffleQueryStageExec => s }
    assert(stages.map(_.outputPartitioning.numPartitions) == Seq(n), s"\n$fin")
    assert(stages.map(_.shuffle.shuffleOrigin) == Seq(REPARTITION_BY_NUM))
  }

  test("over the size estimate gate the range exchange is left to AQE") {
    Graft.register(spark)
    TestFiles.withConfs("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16b") {
      val df = spark.sql(q)
      val op = df.queryExecution.optimizedPlan
      assert(op.collect { case r: RepartitionByExpression => r }.isEmpty, s"\n$op")
      assert(!hasGraftExpr(sortOf(df).child), "the kernels still defer")
      assert(df.collect().toSeq == rowsOff(q))
    }
  }

  // vgrid's shape: a point built one projection below, two transforms over
  // it, each read three times (so neither collapses into the top Project)
  private val stacked = """
    SELECT k,
           round(st_x(fw), 6) AS fx, round(st_y(fw), 6) AS fy, round(st_z(fw), 6) AS fz,
           round(st_x(bw), 6) AS bx, round(st_y(bw), 6) AS by, round(st_z(bw), 6) AS bz
    FROM (SELECT k,
                 st_transform(pt, 'OGC:CRS84', 'EPSG:3857') AS fw,
                 st_transform(pt, 'OGC:CRS84', 'EPSG:4326') AS bw
          FROM (SELECT (id * 7) % 600 AS k,
                       st_force3dz(st_point(cast(id % 40 AS DOUBLE) / 4.0d - 110.0d,
                                            cast(id % 30 AS DOUBLE) / 4.0d + 30.0d),
                                   cast(id % 50 AS DOUBLE)) AS pt
                FROM range(600)))
    ORDER BY k"""

  test("a Project stack defers whole: each kernel runs once per row, same rows") {
    Graft.register(spark)
    val df = spark.sql(stacked)
    val sort = sortOf(df)
    assert(!hasGraftExpr(sort.child), s"kernel left below the sort:\n$sort")
    assert(sort.child.output.forall(a => a.dataType != BinaryType), s"WKB ships:\n$sort")
    def lookups(run: => Any): Long = {
      def n = { val c = LruCache.counters; c("kernelMemo.hits") + c("kernelMemo.misses") }
      val before = n
      run
      n - before
    }
    var got: Seq[org.apache.spark.sql.Row] = Nil
    val on = lookups { got = spark.sql(stacked).collect().toSeq }
    var plain: Seq[org.apache.spark.sql.Row] = Nil
    val off = lookups { plain = rowsOff(stacked) }
    assert(got == plain)
    assert(got.map(_.getLong(0)) == (0L until 600L))
    // two memoized transforms per row: once after the sort, against twice
    // (range sampling + shuffle map) with the rule off
    assert(on == 2 * 600, s"memo lookups with the rule on: $on")
    assert(off == 2 * on, s"memo lookups with the rule off: $off")
  }

  test("under a LIMIT a Project stack keeps its top-k plan and gains no shuffle") {
    Graft.register(spark)
    val lq = stacked + " LIMIT 5"
    val df = spark.sql(lq)
    val phys = df.queryExecution.executedPlan
    assert(phys.toString.contains("TakeOrderedAndProject"), s"\n$phys")
    assert(Aqe.collect(phys) { case e: ShuffleExchangeExec => e }.isEmpty, s"\n$phys")
    assert(df.collect().toSeq == rowsOff(lq))
  }
}
