package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for declared queries to files.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> [q_name,q_name,...]
  * With no filter, dumps every SparkEntry query. One file per query:
  * <outDir>/<name>.txt. The FINAL query is not executed (explain of the
  * analyzed plan), so IO-roundtrip queries still show their read-side plan
  * shape — but constructing a qShared query DOES execute its shared stages
  * (eager localCheckpoint), which is why those dumps show checkpoint-RDD
  * scans in place of the materialized stage subtrees.
  *
  * Dumps are diffable between runs and builds: [[stable]] masks what changes
  * from run to run, so two dumps differ only where a plan does.
  */
object PlanDump {

  /** `plan` with its run-to-run noise masked: expression, exchange plan and
    * RDD ids renumbered per plan in order of first use (so references still
    * line up), the HTTP fixture server's ephemeral port, and JVM lambda class
    * names with their identity hashes. */
  def stable(plan: String): String = {
    def renumber(s: String, prefix: String): String = {
      val ids = scala.collection.mutable.HashMap.empty[String, Int]
      (java.util.regex.Pattern.quote(prefix) + "\\d+").r
        .replaceAllIn(s, m => prefix + ids.getOrElseUpdate(m.matched, ids.size))
    }
    Seq("#", "plan_id=", "RDD[").foldLeft(plan)(renumber)
      .replaceAll("127\\.0\\.0\\.1:\\d+", "127.0.0.1:<port>")
      .replaceAll("\\$\\$Lambda[^@\\s]*@[0-9a-f]+", "\\$\\$Lambda")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "plans/r16"
    val only = if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.register(spark)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val selected = only match {
      case Some(names) => graft.SparkEntry.queries.filter { case (k, _) => names(k) }
      case None => graft.SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          stable(plan).getBytes("UTF-8"))
        System.err.println(s"[plandump] $name ok")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
