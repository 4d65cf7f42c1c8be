package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a job belongs to the innermost graft.<module> frame of its call site") {
    val site = Seq(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)",
      "graft.sources.DeltaLog$.$anonfun$mergeInto$7(DeltaLog.scala:5600)",
      "graft.cdc.Cdc$.latestPerKey(Cdc.scala:34)",
      "graft.Pipeline$.run(Pipeline.scala:45)").mkString("\n")
    assert(Attribution.moduleOf(site) === Some("sources"))
  }

  test("frames of a top-level engine object name the object") {
    assert(Attribution.moduleOf(
      "graft.Pipeline$.$anonfun$run$1(Pipeline.scala:45)\n" +
        "scala.concurrent.Future$.apply(Future.scala:1)") === Some("pipeline"))
    assert(Attribution.moduleOf("\tat graft.Tables$.load(Tables.scala:40)") ===
      Some("tables"))
  }

  test("a call site without engine frames has no module") {
    assert(Attribution.moduleOf(
      "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1504)\n" +
        "perfbench.Run.op(Main.scala:170)") === None)
    assert(Attribution.moduleOf("") === None)
  }

  test("modules outside the reported set count as other") {
    assert(Attribution.bucket("gold") === "gold")
    assert(Attribution.bucket("tables") === "other")
    assert(Attribution.bucket("unattributed") === "other")
  }

  test("a write job belongs to the lake directory its command writes") {
    val line = "Execute InsertIntoHadoopFsRelationCommand " +
      "file:/w/pipeline/pass_3/gold/daily_sales_summary/v=1, false, Parquet, " +
      "[path=file:/w/pipeline/pass_3/gold/daily_sales_summary/v=1], Append"
    val path = Attribution.writeTarget(line)
    assert(path === Some("file:/w/pipeline/pass_3/gold/daily_sales_summary/v=1"))
    assert(path.flatMap(Attribution.lakeDirOf) === Some("gold"))
    assert(Attribution.lakeDirOf("file:/w/pipeline/pass_0/silver/events_state") ===
      Some("silver"))
    assert(Attribution.writeTarget("Scan parquet [a#1] file:/w/x") === None)
    assert(Attribution.lakeDirOf("file:/w/cdc/base_0/part-0.parquet") === None)
  }

  test("covered time is the union of job intervals, clipped to the span") {
    val jobs = Seq((0L, 10L), (5L, 15L), (20L, 30L))
    assert(Trace.covered(jobs, 0, 100) === 25)
    assert(Trace.covered(jobs, 8, 25) === 12)
    assert(Trace.covered(Seq.empty, 0, 10) === 0)
  }

  test("the digest ignores row and column order and numeric spelling") {
    val a = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType)))
    val b = StructType(Seq(StructField("v", DecimalType(10, 2)), StructField("k", IntegerType)))
    val ra = Array(Row(1L, 2.5), Row(2L, 3.0))
    val rb = Array(Row(new java.math.BigDecimal("3.00"), 2), Row(new java.math.BigDecimal("2.50"), 1))
    assert(Digest.of(a, ra) === Digest.of(b, rb))
    assert(Digest.of(a, ra) !== Digest.of(a, Array(Row(1L, 2.5), Row(2L, 3.01))))
    assert(Digest.of(a, ra) !== Digest.of(a, ra.take(1)))
  }
}
