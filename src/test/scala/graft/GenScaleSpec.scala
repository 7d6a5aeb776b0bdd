package graft

import org.scalatest.funsuite.AnyFunSuite

/** The sf1 generator's contract: an N× replica that preserves every
  * relationship the contract queries join on (CORRECTNESS_SF1.md documents
  * the construction). Checked here at copies=3 over sf0.001 so the guard
  * runs in seconds. */
class GenScaleSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark
  private lazy val outDir = {
    val d = suiteTempDir("graft_genscale").toString
    // run the generator in-process against the smallest fixture
    tools.GenScale.genscale(spark, "/root/testdata/sf0.001", d, 3)
    d
  }
  private def t(name: String) = spark.read.parquet(s"$outDir/$name.parquet")

  test("row counts scale exactly N× (dimensions excepted)") {
    def base(name: String) =
      spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet").count()
    for (n <- Seq("customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"))
      assert(t(n).count() == 3 * base(n), n)
    for (n <- Seq("region", "nation"))
      assert(t(n).count() == base(n), n)
  }

  test("key spaces stay dense and unique after offsetting") {
    for ((n, k) <- Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
                       "part" -> "p_partkey", "documents" -> "doc_id",
                       "embeddings" -> "vec_id", "events" -> "event_id")) {
      val df = t(n)
      assert(df.select(k).distinct().count() == df.count(), s"$n.$k not unique")
    }
  }

  test("every foreign key still resolves (no orphans)") {
    t("orders").createOrReplaceTempView("gs_o")
    t("customer").createOrReplaceTempView("gs_c")
    t("lineitem").createOrReplaceTempView("gs_l")
    t("part").createOrReplaceTempView("gs_p")
    t("supplier").createOrReplaceTempView("gs_s")
    t("embeddings").createOrReplaceTempView("gs_e")
    t("documents").createOrReplaceTempView("gs_d")
    def orphans(sql: String): Long = spark.sql(sql).collect()(0).getLong(0)
    assert(orphans("""SELECT count(*) FROM gs_o LEFT ANTI JOIN gs_c
                      ON o_custkey = c_custkey""") == 0, "orders→customer")
    assert(orphans("""SELECT count(*) FROM gs_l LEFT ANTI JOIN gs_o
                      ON l_orderkey = o_orderkey""") == 0, "lineitem→orders")
    assert(orphans("""SELECT count(*) FROM gs_l LEFT ANTI JOIN gs_p
                      ON l_partkey = p_partkey""") == 0, "lineitem→part")
    assert(orphans("""SELECT count(*) FROM gs_l LEFT ANTI JOIN gs_s
                      ON l_suppkey = s_suppkey""") == 0, "lineitem→supplier")
    // shared doc/vec id stride: every embedding still points at a document
    assert(orphans("""SELECT count(*) FROM gs_e LEFT ANTI JOIN gs_d
                      ON vec_id = doc_id""") == 0, "embeddings→documents")
  }

  test("copy 0 is byte-identical; text rotation preserves n_chars") {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val docs = t("documents")
    val nBase = base.count()
    // copy 0 rows (ids below the stride) equal the base rows exactly
    assert(docs.where(s"doc_id < $nBase").exceptAll(base).count() == 0)
    // all copies: n_chars stays the length invariant
    assert(docs.where("n_chars <> length(text)").count() == 0)
    // copies differ in text (rotation) but not in length distribution
    val rotated = docs.where(s"doc_id >= $nBase")
    assert(rotated.count() == 2 * nBase)
  }
}
