package graft

import graft.tools.PlanDump
import org.scalatest.funsuite.AnyFunSuite

/** PlanDump's masking: two dumps of one plan taken in different runs compare
  * equal, and ids still tell one attribute or exchange from another. */
class PlanDumpSpec extends AnyFunSuite {

  test("stable renumbers ids per plan and masks ports and lambda names") {
    val run1 = """Project [k#12L, wkt#40]
      |+- Exchange rangepartitioning(k#12L ASC NULLS FIRST, 4), REPARTITION_BY_NUM, [plan_id=490]
      |   +- Scan geo http://127.0.0.1:40123/fixture.geojson [k#12L]
      |   +- Scan ExistingRDD MapPartitionsRDD[399] at localCheckpoint, [k#12L]
      |      +- MapPartitions graft.operators.KnnJoin$$$Lambda/0x00007f3c5c4a1234@5e1d2f3a, obj#77""".stripMargin
    val run2 = run1.replace("#12L", "#812L").replace("#40", "#841").replace("#77", "#799")
      .replace("plan_id=490", "plan_id=17").replace("RDD[399]", "RDD[401]").replace(":40123", ":35001")
      .replace("$$Lambda/0x00007f3c5c4a1234@5e1d2f3a", "$$Lambda/0x00007f11aa000042@1b2c3d")
    assert(PlanDump.stable(run1) == PlanDump.stable(run2))
    val s = PlanDump.stable(run1)
    assert(s.startsWith("Project [k#0L, wkt#1]"), s)
    assert(s.contains("rangepartitioning(k#0L ASC") && s.contains("[plan_id=0]"), s)
    assert(s.contains("http://127.0.0.1:<port>/fixture.geojson"), s)
    assert(s.contains("MapPartitionsRDD[0] at localCheckpoint"), s)
    assert(s.contains("KnnJoin$$$Lambda, obj#2"), s)
  }
}
