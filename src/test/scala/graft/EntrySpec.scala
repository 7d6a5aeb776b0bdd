package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver smoke contract: entry() on sf0.001 must return rows. */
class EntrySpec extends AnyFunSuite with TempDirs {
  test("entry returns rows on sf0.001") {
    val df = SparkEntry.entry(SparkTestSession.spark)
    val rows = df.collect()
    assert(rows.length > 0)
    assert(rows.forall(_.getLong(1) > 0))   // n
    assert(rows.forall(!_.isNullAt(2)))     // extent wkt
    assert(rows.forall(_.getDouble(3) > 0)) // union area
  }

  test("fixture cache (bench job-floor lever) leaves query results bit-identical") {
    val spark = SparkTestSession.spark
    val dir = "/root/testdata/sf0.001"
    // representative mix: agg over lineitem, window over events, join
    val names = Seq("q_tpch_q1", "q_sessionize", "q_spatial_join")
    def run(): Map[String, Seq[String]] = names.map { n =>
      n -> SparkEntry.queries(n)(spark, dir).collect().map(_.toString).toSeq
    }.toMap
    val plain = run()
    spark.conf.set("spark.graft.fixtureCache.enabled", "true")
    try {
      val cached = run()
      val again = run() // second pass actually reads the persisted tables
      names.foreach { n =>
        assert(cached(n) == plain(n), s"$n changed under the fixture cache")
        assert(again(n) == plain(n), s"$n changed on the warm cached read")
      }
    } finally spark.conf.set("spark.graft.fixtureCache.enabled", "false")
  }

  test("fixture cache is keyed by data signature: a rewritten fixture is re-read") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = tempDir("graft_fixture_sig").toString
    def write(hi: Int): Unit = {
      (0 until hi).map(i => (i.toLong * 10 + 1, 1L, 1.0, "N"))
        .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .withColumn("l_extendedprice", org.apache.spark.sql.functions.lit(1.0))
        .withColumn("l_discount", org.apache.spark.sql.functions.lit(0.0))
        .withColumn("l_tax", org.apache.spark.sql.functions.lit(0.0))
        .withColumn("l_linestatus", org.apache.spark.sql.functions.lit("O"))
        .withColumn("l_shipdate", org.apache.spark.sql.functions.lit(java.sql.Date.valueOf("1995-01-01")))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      spark.catalog.refreshByPath(s"$dir/lineitem.parquet")
    }
    spark.conf.set("spark.graft.fixtureCache.enabled", "true")
    try {
      write(100)
      val n1 = SparkEntry.queries("q_tpch_q1")(spark, dir).agg(
        org.apache.spark.sql.functions.sum("sum_qty")).collect()(0).getDouble(0)
      assert(n1 == 100.0, s"generation 1 should sum 100 rows, got $n1")
      // rewrite the SAME path with different data: the cached persist must
      // not be served (key folds leaf-file lengths + mtimes)
      write(40)
      val n2 = SparkEntry.queries("q_tpch_q1")(spark, dir).agg(
        org.apache.spark.sql.functions.sum("sum_qty")).collect()(0).getDouble(0)
      assert(n2 == 40.0, s"rewritten fixture must be re-read (stale cache served: $n2)")
    } finally {
      spark.conf.set("spark.graft.fixtureCache.enabled", "false")
    }
  }
}
