package kgbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GroupMeterSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a job is attributed to the job group it ran under, task by task") {
    val sc = spark.sparkContext
    val meter = new GroupMeter
    sc.addSparkListener(meter)
    sc.setJobGroup("g7", "seven tasks")
    assert(sc.parallelize(1 to 100, 7).map(_ * 2).count() == 100)
    sc.setJobGroup("g3", "three tasks, two jobs")
    sc.parallelize(1 to 10, 3).count()
    sc.parallelize(1 to 10, 3).collect()
    sc.clearJobGroup()
    sc.parallelize(1 to 10, 5).count() // no group: not attributed
    meter.drain(sc)
    sc.removeSparkListener(meter)
    assert(meter.of("g7").jobs == 1)
    assert(meter.of("g7").tasks == 7)
    assert(meter.of("g3").jobs == 2)
    assert(meter.of("g3").tasks == 6)
    assert(meter.of("nope") == GroupTotals())
  }

  test("spans nest, carry their parent, and total their subtree's work") {
    val sc = spark.sparkContext
    val meter = new GroupMeter
    sc.addSparkListener(meter)
    val tr = new Tracer(sc, "run-1")
    tr.span("outer") {
      sc.parallelize(1 to 4, 2).count()
      tr.span("inner")(sc.parallelize(1 to 4, 4).count())
    }
    meter.drain(sc)
    sc.removeSparkListener(meter)
    val Seq(inner, outer) = tr.spans
    assert(outer.name == "outer" && outer.parent == 0 && inner.parent == outer.id)
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    assert(meter.of(tr.group(outer.id)).tasks == 2)
    assert(tr.totals(meter, outer).tasks == 6)
    assert(tr.totals(meter, inner).jobs == 1)
    assert(tr.toJson.contains("\"run_id\":\"run-1\""))
  }
}
