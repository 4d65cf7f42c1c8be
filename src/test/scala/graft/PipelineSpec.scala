package graft

import java.nio.file.Files

/** The composed pipeline writes every layer, with the layouts the
  * scale design promises (bronze partitioned by source table, fact
  * partitioned monthly). */
class PipelineSpec extends SparkSuite {

  /** One pipeline output shared by the specs below; the first to touch
    * it runs the pipeline. */
  private lazy val out: String = {
    val o = Files.createTempDirectory("pipeline_out").toString
    Pipeline.run(spark, sfDir, o)
    o
  }

  test("pipeline writes all layers with expected layouts and rows") {
    val tables = Seq(
      "bronze/events", "silver/events_state",
      "warehouse/dim_customer", "warehouse/dim_order_status",
      "warehouse/dim_time",
      "warehouse/mv_daily_revenue", "warehouse/mv_monthly_revenue",
      "warehouse/mv_nation_revenue", "warehouse/mv_hourly_pattern",
      "warehouse/mv_recent_revenue")
    tables.foreach { t =>
      assert(spark.read.parquet(s"$out/$t").count() > 0, s"$t is empty")
    }
    // gold publishes as versioned snapshot tables
    val goldTables = Seq("gold/orders_enriched", "gold/daily_sales_summary",
      "gold/customer_segments", "gold/product_performance")
    goldTables.foreach { t =>
      assert(sources.Snapshots.read(spark, s"$out/$t").count() > 0,
        s"$t is empty")
    }

    // layout contracts
    assert(new java.io.File(s"$out/bronze/events/_source_table=events")
      .isDirectory, "bronze not partitioned by source table")
    // the fact is a stats-committed snapshot clustered on
    // (month_key, l_orderkey): per-file month spans must be narrow
    // (the range layout), and the in-DAG recent-revenue branch must
    // have scanned a strict subset of its files through the manifest
    val factDir = s"$out/warehouse/fact_order_lines"
    val factV = sources.Snapshots.versions(factDir).last
    val manifest = sources.Snapshots.statsManifest(spark, factDir, factV)
    assert(manifest.count() > 1, "fact should land as multiple files")
    // span comparisons stay in yyyymm KEY units (a year boundary is a
    // jump of ~89, not 1) — per-file spans vs the global key span
    val spans = manifest.agg(
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col("max_month_key") -
          org.apache.spark.sql.functions.col("min_month_key")),
      org.apache.spark.sql.functions.max("max_month_key"),
      org.apache.spark.sql.functions.min("min_month_key")).head()
    val (fileSpan, globalSpan) =
      (spans.getLong(0), spans.getLong(1) - spans.getLong(2))
    assert(fileSpan < globalSpan / 4,
      s"a fact file spans $fileSpan of $globalSpan key units — not clustered")
    val metrics0 = Pipeline.lastRunMetrics
    assert(metrics0("fact_files_scanned") < metrics0("fact_files_total"),
      s"recent branch scanned ${metrics0("fact_files_scanned")}/" +
        s"${metrics0("fact_files_total")} files — pruning did nothing")
    // the pruned rollup equals the same rollup over the FULL fact
    val fullFact = sources.Snapshots.read(spark, factDir)
    val maxMonth = fullFact
      .agg(org.apache.spark.sql.functions.max("month_key")).head().getInt(0)
    // the window lower bound re-derived INDEPENDENTLY (java.time), so
    // a year-boundary arithmetic bug in the product code cannot hide
    // behind an identical bug here
    val loYm = java.time.YearMonth.of(maxMonth / 100, maxMonth % 100)
      .minusMonths(Pipeline.RecentMonths - 1)
    val recompute = fullFact
      .filter(org.apache.spark.sql.functions.col("month_key")
        .between(loYm.getYear * 100 + loYm.getMonthValue, maxMonth))
      .groupBy("month_key")
      .agg(util.Cols.dsum(org.apache.spark.sql.functions.col("net_amount"), 4)
        .as("net_revenue"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_lines"))
    val recent = spark.read.parquet(s"$out/warehouse/mv_recent_revenue")
    assert(recent.exceptAll(recompute).isEmpty &&
      recompute.exceptAll(recent).isEmpty,
      "pruned recent-revenue branch diverges from the full-fact rollup")
    // year-boundary month arithmetic: 4 months back from 1999-02 is
    // 1998-11, never the nonexistent key 199899
    assert(Pipeline.monthsBack(199902L, Pipeline.RecentMonths - 1) == 199811L)
    assert(Pipeline.monthsBack(200101L, 1) == 200012L)
    assert(Pipeline.monthsBack(200108L, 3) == 200105L)

    // lineage: the bronze-sourced silver state must equal compacting
    // the raw log directly (stream→bronze→silver ≡ batch path)
    val viaBronze = spark.read.parquet(s"$out/silver/events_state")
    val direct = cdc.Cdc.silverCompaction(spark, sfDir)
    assert(viaBronze.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaBronze).isEmpty,
      "bronze-sourced silver diverges from direct compaction")

    // the fact's l_orderkey bloom serves point lookups the month-major
    // layout cannot: a single order's lines read from a strict subset
    // of files, with exact parity against the full-table filter
    val someOrder = sources.Snapshots.read(spark, factDir)
      .select("l_orderkey").head().getLong(0)
    val (bloomKept, bloomTotal) = sources.Snapshots.pruneFilesPoint(
      spark, factDir, factV, "l_orderkey", Seq(someOrder))
    assert(bloomKept.size < bloomTotal,
      s"order-key bloom pruned nothing: ${bloomKept.size}/$bloomTotal")
    val viaBloom = sources.Snapshots.readPrunedPoint(
        spark, factDir, factV, "l_orderkey", Seq(someOrder))
      .filter(org.apache.spark.sql.functions.col("l_orderkey") === someOrder)
    val viaFull = sources.Snapshots.read(spark, factDir)
      .filter(org.apache.spark.sql.functions.col("l_orderkey") === someOrder)
    assert(viaBloom.count() == viaFull.count() && viaFull.count() > 0)

    // referential sanity: every fact row's order exists in gold
    val fact = sources.Snapshots.read(spark, factDir)
    val gold = sources.Snapshots.read(spark, s"$out/gold/orders_enriched")
    assert(fact.join(gold, fact("l_orderkey") === gold("o_orderkey"),
      "left_anti").count() == 0, "fact rows reference missing orders")

    // rerun: the checkpointed bronze ingest must not re-append; gold
    // gains a version whose LATEST content is unchanged (and v0 stays
    // readable — time travel)
    val bronzeRows = spark.read.parquet(s"$out/bronze/events").count()
    Pipeline.run(spark, sfDir, out)
    assert(spark.read.parquet(s"$out/bronze/events").count() == bronzeRows,
      "pipeline rerun duplicated bronze rows")
    val goldDir = s"$out/gold/orders_enriched"
    assert(sources.Snapshots.versions(goldDir) == Seq(0, 1))
    val v0 = sources.Snapshots.readVersion(spark, goldDir, 0)
    val v1 = sources.Snapshots.read(spark, goldDir)
    assert(v0.exceptAll(v1).isEmpty && v1.exceptAll(v0).isEmpty,
      "gold rerun changed content")

    // observe-based write metrics rode the write jobs (no extra scans)
    val metrics = Pipeline.lastRunMetrics
    assert(metrics("events_state") ==
      spark.read.parquet(s"$out/silver/events_state").count())
    assert(metrics.get("mv_daily_revenue").exists(_ > 0))
  }

  test("every gold/warehouse sink holds exactly its declared query's rows") {
    // the sinks call the rollup cores with their own scan (fanned or
    // plain) and no sort; as multisets they must equal the declared
    // queries, which use the plain scan and sort
    def snapshot(t: String) = sources.Snapshots.read(spark, s"$out/$t")
    def parquet(t: String) = spark.read.parquet(s"$out/$t")
    val pairs = Seq(
      ("gold/orders_enriched", snapshot _, "q06_orders_enriched"),
      ("gold/daily_sales_summary", snapshot _, "q03_daily_sales_summary"),
      ("gold/customer_segments", snapshot _, "q04_customer_segments"),
      ("gold/product_performance", snapshot _, "q05_product_performance"),
      ("warehouse/fact_order_lines",
        (t: String) => snapshot(t).drop("month_key"), "q08_fact_order_lines"),
      ("warehouse/mv_daily_revenue", parquet _, "q14_mv_daily_revenue"),
      ("warehouse/mv_monthly_revenue", parquet _, "q15_mv_monthly_revenue"),
      ("warehouse/mv_nation_revenue", parquet _, "q16_mv_nation_revenue"),
      ("warehouse/mv_hourly_pattern", parquet _, "q17_mv_hourly_pattern"),
      ("warehouse/dim_time", parquet _, "q18_dim_time"),
      ("warehouse/dim_order_status", parquet _, "q19_dim_order_status"),
      ("warehouse/dim_customer", parquet _, "q27_dim_customer"))
    pairs.foreach { case (t, read, q) =>
      val declared = SparkEntry.queries(q)(spark, sfDir)
      val sink = read(t)
      assert(sink.columns.toSet == declared.columns.toSet,
        s"$t columns ${sink.columns.mkString(",")} vs $q")
      val aligned = sink.select(declared.columns.map(sink.col): _*)
      assert(declared.count() > 0, s"$q is empty")
      assert(aligned.exceptAll(declared).isEmpty &&
        declared.exceptAll(aligned).isEmpty, s"$t diverges from $q")
    }
  }
}
