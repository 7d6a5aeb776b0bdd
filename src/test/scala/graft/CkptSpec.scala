package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class CkptSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkTestSession.spark

  private def backingRdd(df: DataFrame) =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  test("no checkpoint dir -> executor-local path (blocks, no checkpoint files)") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "test ordering: another suite must not leave a checkpoint dir set")
    val df = spark.range(100).selectExpr("id", "id * 2 AS v")
    val ck = Ckpt.stage(df, eager = true)
    assert(ck.count() == 100)
    val rdd = backingRdd(ck).getOrElse(fail("expected a LogicalRDD-backed frame"))
    assert(rdd.getCheckpointFile.isEmpty, "local path must not write checkpoint files")
    assert(rdd.isCheckpointed, "stage must be materialized eagerly")
    // results identical to the uncheckpointed frame
    assert(ck.collect().map(_.getLong(1)).sorted.sameElements(
      df.collect().map(_.getLong(1)).sorted))
  }

  test("checkpoint dir set -> reliable Dataset.checkpoint writes to it") {
    val dir = tempDir("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val df = spark.range(50).selectExpr("id", "id + 1 AS v")
      val ck = Ckpt.stage(df, eager = true)
      assert(ck.count() == 50)
      val rdd = backingRdd(ck).getOrElse(fail("expected a LogicalRDD-backed frame"))
      assert(rdd.getCheckpointFile.isDefined,
        "reliable path must record a checkpoint file")
      assert(rdd.getCheckpointFile.get.contains(dir.stripPrefix("/")) ||
        rdd.getCheckpointFile.get.startsWith("file:" + dir),
        s"checkpoint file ${rdd.getCheckpointFile.get} not under $dir")
      assert(ck.collect().map(_.getLong(1)).sorted.sameElements(
        df.collect().map(_.getLong(1)).sorted))
    } finally {
      // SparkContext has no unset API; clear via the conf the getter reads so
      // later suites (and the first test when re-run) see the local default.
      val f = spark.sparkContext.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(spark.sparkContext, None)
    }
  }
}
