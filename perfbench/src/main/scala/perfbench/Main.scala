package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, LinkOption, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{cdc, gold, ops, sources, warehouse}

/** The benchmark's measuring process. One run drives one workload with a
  * single closed-loop client and writes its raw samples as JSON; run.py
  * generates the inputs, computes the expected results and turns the
  * samples into metrics.
  *
  *   Main oracle-sql <out.json>
  *   Main run key=value ...   (workload, data, work, expected, batches,
  *                             seconds, trace, seed, cores, out)
  */
object Main {

  /** The dashboard mix: five reference-parity gold/warehouse rollups and
    * five TPC-H-style relational/OLAP queries, each with its module. Ten
    * keep a cold pass, the warm-up and two measured passes inside one
    * run's time budget on four cores; cache builders, streaming queries and the composed
    * pipeline stay out. */
  val Dashboard: Seq[(String, String, (SparkSession, String) => DataFrame)] = Seq(
    ("q03_daily_sales_summary", "gold", gold.Summaries.dailySalesSummary _),
    ("q04_customer_segments", "gold", gold.Summaries.customerSegments _),
    ("q05_product_performance", "gold", gold.Summaries.productPerformance _),
    ("q14_mv_daily_revenue", "warehouse", warehouse.Views.mvDailyRevenue _),
    ("q16_mv_nation_revenue", "warehouse", warehouse.Views.mvNationRevenue _),
    ("q21_top_orders", "ops", ops.Relational.topOrders _),
    ("q46_rollup_revenue", "ops", ops.Analytics.rollupRevenue _),
    ("q113_pricing_summary", "ops", ops.Olap.pricingSummary _),
    ("q115_local_volume", "ops", ops.Olap.localSupplierVolume _),
    ("q137_market_share", "ops", ops.Olap.marketShare _))

  /** Pipeline output tables whose row counts are checked, with the
    * declared query whose oracle gives the expected count. */
  val PipelineCounts: Seq[(String, String)] = Seq(
    "silver/events_state" -> "q12_silver_compaction",
    "gold/orders_enriched" -> "q06_orders_enriched",
    "gold/daily_sales_summary" -> "q03_daily_sales_summary",
    "gold/customer_segments" -> "q04_customer_segments",
    "gold/product_performance" -> "q05_product_performance",
    "warehouse/dim_order_status" -> "q19_dim_order_status",
    "warehouse/dim_time" -> "q18_dim_time",
    "warehouse/fact_order_lines" -> "q08_fact_order_lines",
    "warehouse/mv_daily_revenue" -> "q14_mv_daily_revenue",
    "warehouse/mv_monthly_revenue" -> "q15_mv_monthly_revenue",
    "warehouse/mv_nation_revenue" -> "q16_mv_nation_revenue",
    "warehouse/mv_hourly_pattern" -> "q17_mv_hourly_pattern")

  /** Tables the pipeline reads (its input bytes). */
  val PipelineInputs: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events")

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("oracle-sql") =>
      def sqls(names: Seq[String]) = {
        val m = new java.util.TreeMap[String, String]()
        names.foreach(n => m.put(n, graft.SparkEntry.oracleSql(n)))
        m
      }
      val m = new java.util.TreeMap[String, Any]()
      m.put("dashboard", sqls(Dashboard.map(_._1)))
      m.put("pipeline_counts", sqls(PipelineCounts.map(_._2)))
      new ObjectMapper().writeValue(new File(args(1)), m)
    case Some("run") =>
      val kv = args.tail.map { a =>
        val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
      new Run(kv).execute()
    case _ =>
      System.err.println("usage: Main oracle-sql <out> | Main run k=v ...")
      sys.exit(2)
  }
}

/** File bytes the scans of an executed query selected, after pruning. */
object Scans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def fileBytes(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
}

/** One operation's record: what ran, how long, whether its output was
  * right, and (traced operations) its layer metrics. */
final case class Op(kind: String, name: String, phase: String, ms: Double,
                    ok: Boolean, extra: Map[String, Double],
                    layers: Option[Map[String, Double]])

object Run {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Warm passes end when two in a row differ by at most this share. */
  val WarmTolerance = 0.20
  /** At most this many warm passes run, settled or not. */
  val MaxWarm = 3
}

final class Run(kv: Map[String, String]) {
  private val workload = kv("workload")
  private val data = kv("data")
  private val work = kv("work")
  private val expected = kv("expected")
  private val seconds = kv("seconds").toDouble
  private val traced = kv("trace") == "1"
  private val seed = kv("seed").toLong
  private val cores = kv("cores").toInt
  private val records = mutable.ArrayBuffer[Op]()
  private val notes = new java.util.LinkedHashMap[String, Any]()
  private var spark: SparkSession = _
  private var trace: Trace = _
  private var heapPeak = 0L

  private def now = System.currentTimeMillis()
  private def ms(t0: Long) = (System.nanoTime() - t0) / 1e6

  private def session(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` as a call into `layer`: jobs whose call site has no
    * engine frame are attributed to it, and a span is recorded. */
  private def layer[T](name: String, module: String, spans: mutable.Buffer[Span])
                      (body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Attribution.LayerProperty, module)
    val s0 = now
    try body finally {
      spans += Span(name, s0, now)
      sc.setLocalProperty(Attribution.LayerProperty, null)
    }
  }

  /** Times one operation. A traced operation attaches the listeners for
    * its duration and records its layer metrics. */
  private def op(kind: String, name: String, phase: String, withTrace: Boolean)
                (body: mutable.Buffer[Span] => (Boolean, Map[String, Double])): Op = {
    val spans = mutable.ArrayBuffer[Span]()
    if (withTrace) trace.attach()
    val cg0 = if (withTrace) trace.codegenMark() else (0L, 0.0)
    val w0 = now
    val t0 = System.nanoTime()
    val (ok, extra) = try body(spans) catch { case e: Exception =>
      System.err.println(s"[perfbench] $kind $name failed: $e")
      e.printStackTrace()
      (false, Map.empty[String, Double])
    }
    val took = ms(t0)
    val layers = if (!withTrace) None else {
      val w1 = now
      trace.settle(w0)
      trace.detach()
      Some(trace.summarize(w0, w1, spans.toSeq, cg0, cores))
    }
    heapPeak = math.max(heapPeak, ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)
    val o = Op(kind, name, phase, took, ok, extra, layers)
    records += o
    o
  }

  private def readExpected(name: String): String = {
    val df = spark.read.parquet(s"$expected/$name.parquet")
    Digest.of(df.schema, df.collect())
  }

  private def expectedCounts: Map[String, Long] = {
    val n = new ObjectMapper().readTree(new File(s"$expected/counts.json"))
    n.fieldNames().asScala.map(k => k -> n.get(k).asLong).toMap
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  private def dirStats(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return (0L, 0L)
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p, LinkOption.NOFOLLOW_LINKS)).toSeq
    (files.size.toLong, files.map(p => Files.size(p)).sum)
  }

  private def delete(dir: String): Unit =
    graft.util.Fs.deleteRecursively(new File(dir))

  def execute(): Unit = {
    val prepare: Int => Unit = workload match {
      case "pipeline_build" => _ =>
        Main.PipelineInputs.foreach(t => graft.Tables.load(spark, data, t))
      case "dashboard_queries" => _ => graft.Tables.registerViews(spark, data)
      case "cdc_merge" => i => cdcBase(s"$work/cdc/base_$i")
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // set-up, several times: a fresh session and the workload's fixtures
    val setups = (0 until Run.Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      spark.range(1).count()
      prepare(i)
      ms(t0) / 1000.0
    }
    trace = new Trace(spark)
    val gc0 = gcMs
    workload match {
      case "pipeline_build" => pipeline()
      case "dashboard_queries" => dashboard()
      case "cdc_merge" => cdcMerge()
    }
    notes.put("gc_ms", gcMs - gc0)
    notes.put("heap_peak_bytes", heapPeak)
    notes.put("jvm_args", ManagementFactory.getRuntimeMXBean.getInputArguments)
    notes.put("master", spark.sparkContext.master)
    notes.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    notes.put("scheduler_mode", spark.sparkContext.getConf.get("spark.scheduler.mode", "FIFO"))
    notes.put("heap_max_bytes", Runtime.getRuntime.maxMemory)
    spark.stop()
    write(setups)
  }

  private def write(setups: Seq[Double]): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("workload", workload)
    val s = root.putArray("setup_s")
    setups.foreach(v => s.add(v))
    val arr = root.putArray("ops")
    records.foreach { o =>
      val n = arr.addObject()
      n.put("kind", o.kind); n.put("name", o.name); n.put("phase", o.phase)
      n.put("ms", o.ms); n.put("ok", o.ok)
      val e = n.putObject("extra")
      o.extra.foreach { case (k, v) => e.put(k, v) }
      o.layers.foreach { l =>
        val t = n.putObject("layers")
        l.toSeq.sortBy(_._1).foreach { case (k, v) => t.put(k, v) }
      }
    }
    root.set[com.fasterxml.jackson.databind.JsonNode]("notes",
      mapper.valueToTree(notes))
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(kv("out")), root)
  }

  // ---- warm-up and traced passes ---------------------------------------

  /** Untimed warm passes (each returns its ms) until two in a row agree
    * within [[Run.WarmTolerance]], at most [[Run.MaxWarm]]; records how
    * many ran, their times and whether they settled. */
  private def warmUp(pass: () => Double): Unit = {
    val times = mutable.ArrayBuffer(pass(), pass())
    def settled = {
      val a = times(times.size - 2)
      val b = times.last
      math.abs(a - b) <= Run.WarmTolerance * math.min(a, b)
    }
    while (!settled && times.size < Run.MaxWarm) times += pass()
    notes.put("warm_passes", times.size)
    notes.put("warm_settled", settled)
    notes.put("warm_ms", times.map(Double.box).asJava)
  }

  /** In a traced run, measured passes go in pairs with one traced and
    * one untraced; which of the two is traced alternates by pair and by
    * seed, so a drift across passes does not load one side. */
  private def tracedAt(i: Int): Boolean =
    traced && i % 2 == Math.floorMod(i / 2 + seed, 2L).toInt

  // ---- pipeline_build -------------------------------------------------

  /** Every table a pass writes whose row count is checked, with its
    * expected count: the layers the oracle covers, bronze (the events)
    * and the customer dimension. */
  private def pipelineTables(counts: Map[String, Long]): Seq[(String, Long)] =
    Main.PipelineCounts.map { case (t, q) => t -> counts(q) } ++ Seq(
      "bronze/events" -> counts("events"),
      "warehouse/dim_customer" -> counts("customer"))

  private def pipeline(): Unit = {
    val inputBytes = Main.PipelineInputs.map(t =>
      new File(graft.Tables.path(data, t)).length).sum
    notes.put("input_bytes", inputBytes)
    val q03 = readExpected("q03_daily_sales_summary")
    val tables = pipelineTables(expectedCounts)
    var pass = 0
    def run(phase: String, withTrace: Boolean): Double = {
      val out = s"$work/pipeline/pass_$pass"
      pass += 1
      delete(out)
      val o = op("pass", s"pass_${pass - 1}", phase, withTrace) { spans =>
        layer("pipeline.run", "pipeline", spans) {
          graft.Pipeline.run(spark, data, out)
        }
        (true, Map.empty)
      }
      // the engine's own record of the pass: each table's build time and
      // the rows its write job observed
      val built = graft.Pipeline.lastRunMetrics.toMap
      // after the pass, outside its time: every layer's row count (the
      // bronze sink read back, the others as their writes observed
      // them), the recent-revenue MV's month range, and the gold
      // daily_sales_summary read back (five times after a measured
      // pass), timed, against q03
      val counts = tables.map { case (t, want) =>
        val name = t.split('/').last
        val got = if (t == "bronze/events") spark.read.parquet(s"$out/$t").count()
          else built.getOrElse(name, -1L)
        (t, got == want)
      }
      val recent = built.getOrElse("mv_recent_revenue", -1L)
      val reads = (0 until (if (phase == "measured") 5 else 1)).map { _ =>
        val t0 = System.nanoTime()
        val back = sources.Snapshots.read(spark, s"$out/gold/daily_sales_summary")
        val rows = back.collect()
        (ms(t0), Digest.of(back.schema, rows) == q03)
      }
      val goldOk = reads.forall(_._2)
      val countsOk = counts.forall(_._2) && recent >= 1 &&
        recent <= graft.Pipeline.RecentMonths
      if (!countsOk || !goldOk)
        System.err.println(s"[perfbench] pass ${pass - 1}: gold ok=$goldOk, " +
          s"count mismatches ${counts.filterNot(_._2).map(_._1)}, recent=$recent")
      val (files, bytes) = dirStats(out)
      delete(out)
      records(records.size - 1) = o.copy(ok = o.ok && goldOk && countsOk,
        extra = Map("out_bytes" -> bytes.toDouble, "out_files" -> files.toDouble,
          "input_bytes" -> inputBytes.toDouble) ++
          reads.zipWithIndex.map { case ((m, _), k) => s"read_ms:$k" -> m } ++
          tables.map(_._1.split('/').last).flatMap(n =>
            built.get(s"${n}_ms").map(v => s"build:$n" -> v.toDouble)))
      o.ms
    }
    // the first pass in a fresh JVM is the cold pass; untimed warm passes
    // follow until the pass time settles, then whole passes are measured
    run("cold", traced)
    warmUp(() => run("warm", withTrace = false))
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2 || ms(t0) < seconds * 1000) {
      run("measured", tracedAt(i))
      i += 1
    }
  }

  // ---- dashboard_queries ----------------------------------------------

  private def dashboard(): Unit = {
    notes.put("input_bytes", Main.PipelineInputs.map(t =>
      new File(graft.Tables.path(data, t)).length).sum)
    val expectedDigest = Main.Dashboard.map { case (n, _, _) =>
      n -> readExpected(n) }.toMap
    var k = 0
    def pass(phase: String, withTrace: Boolean): Double = {
      val order = new scala.util.Random(seed * 1000003L + k)
        .shuffle(Main.Dashboard)
      k += 1
      order.map { case (name, module, fn) =>
        var df: DataFrame = null
        var rows = Array.empty[Row]
        val o = op("query", name, phase, withTrace) { spans =>
          df = layer("ops.build", module, spans)(fn(spark, data))
          rows = layer("collect", module, spans)(df.collect())
          (true, Map.empty)
        }
        val digest = if (df == null) "" else Digest.of(df.schema, rows)
        val ok = o.ok && digest == expectedDigest(name)
        if (!ok)
          System.err.println(s"[perfbench] $name digest $digest != ${expectedDigest(name)}")
        records(records.size - 1) = o.copy(ok = ok,
          extra = Map("scan_file_bytes" ->
            (if (df == null) 0.0 else Scans.fileBytes(df).toDouble)))
        o.ms
      }.sum
    }
    pass("cold", traced)
    warmUp(() => pass("warm", withTrace = false))
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2 || ms(t0) < seconds * 1000) {
      pass("measured", tracedAt(i))
      i += 1
    }
  }

  // ---- cdc_merge ------------------------------------------------------

  private val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  private var cdcTable: String = _

  /** The silver target: a Delta copy of `orders`, range-clustered on the
    * order key into 16 files. */
  private def cdcBase(dir: String): Unit = {
    delete(dir)
    val o = graft.Tables.load(spark, data, "orders")
    sources.DeltaLog.commitOverwrite(
      o.repartitionByRange(16, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"), dir)
    cdcTable = dir
  }

  private def commitStats(v: Long): Map[String, Double] = {
    val f = new File(f"$cdcTable/_delta_log/$v%020d.json")
    val mapper = new ObjectMapper()
    var added, removed = 0
    var addedBytes = 0L
    val src = scala.io.Source.fromFile(f)
    try src.getLines().filter(_.nonEmpty).foreach { l =>
      val n = mapper.readTree(l)
      if (n.has("add")) { added += 1; addedBytes += n.get("add").get("size").asLong }
      if (n.has("remove")) removed += 1
    } finally src.close()
    Map("files_added" -> added.toDouble, "files_removed" -> removed.toDouble,
      "bytes_added" -> addedBytes.toDouble)
  }

  private def cdcMerge(): Unit = {
    val batchDir = kv("batches")
    val batches = new File(batchDir).listFiles()
      .filter(_.getName.startsWith("batch_")).map(_.getPath).sorted
    val exp = new ObjectMapper().readTree(new File(s"$batchDir/expected.json"))
    val expCounts = exp.get("status_counts")
    var applied = 0
    def merge(phase: String, withTrace: Boolean): Double = {
      val i = applied
      val path = batches(i)
      var version = -1L
      var counts = Map.empty[String, Long]
      val o = op("merge", s"batch_$i", phase, withTrace) { spans =>
        val batch = spark.read.parquet(path)
        val latest = layer("cdc.dedup", "cdc", spans) {
          cdc.Cdc.latestPerKey(batch, Seq("o_orderkey"), Seq(col("seq").desc))
        }
        version = layer("sources.merge", "sources", spans) {
          sources.DeltaLog.mergeInto(spark, cdcTable, latest, Seq("o_orderkey"),
            Some(col("op") === "d"))
        }
        (true, Map.empty)
      }
      // the read that follows every merge, timed on its own
      val r = op("read", s"batch_$i", phase, withTrace) { spans =>
        val df = layer("sources.read_build", "sources", spans) {
          sources.DeltaLog.read(spark, cdcTable)
        }
        counts = layer("read", "sources", spans) {
          df.groupBy("o_orderstatus").count().collect()
        }.map(row => row.getString(0) -> row.getLong(1)).toMap
        (true, Map.empty)
      }
      val want = expCounts.get(i)
      val wantMap = want.fieldNames().asScala.map(k => k -> want.get(k).asLong).toMap
      val readOk = r.ok && counts == wantMap
      if (!readOk)
        System.err.println(s"[perfbench] batch $i counts $counts != $wantMap")
      records(records.size - 1) = r.copy(ok = readOk)
      val stats = if (version >= 0) commitStats(version) else Map.empty[String, Double]
      records(records.size - 2) = o.copy(ok = o.ok && readOk, extra = stats ++ Map(
        "change_rows" -> exp.get("rows_per_batch").asDouble,
        "change_bytes" -> new File(path).length.toDouble,
        "read_ms" -> r.ms))
      applied += 1
      o.ms
    }
    (0 until 3).foreach(_ => merge("cold", traced))
    warmUp(() => merge("warm", withTrace = false))
    val t0 = System.nanoTime()
    var k = 0
    while (applied < batches.length && (k < 2 || ms(t0) < seconds * 1000)) {
      merge("measured", tracedAt(k))
      k += 1
    }
    notes.put("batches_applied", applied)
    notes.put("batches_available", batches.length)
    notes.put("cdc_mix", new ObjectMapper().treeToValue(exp.get("mix"),
      classOf[java.util.Map[String, Any]]))
    notes.put("final_ok", cdcFinalOk(batches.take(applied)))
  }

  /** The merged table equals one dedup over base ∪ every applied batch,
    * with deletes removed. */
  private def cdcFinalOk(applied: Seq[String]): Boolean = {
    val base = graft.Tables.load(spark, data, "orders")
      .withColumn("op", lit("i")).withColumn("seq", lit(0L))
    val all = (if (applied.isEmpty) base
      else base.unionByName(spark.read.parquet(applied: _*)))
    val want = cdc.Cdc.latestPerKey(all, Seq("o_orderkey"), Seq(col("seq").desc))
      .filter(col("op") =!= "d").select(orderCols.map(col): _*)
    val got = sources.DeltaLog.read(spark, cdcTable).select(orderCols.map(col): _*)
    got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty
  }
}
