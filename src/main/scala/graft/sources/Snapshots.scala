package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** Versioned-snapshot tables on a plain filesystem — the Delta-free
  * answer to the transaction-log behaviors the environment's missing
  * lake-format jars would otherwise provide (reference:
  * spark/batch_gold.py:156-157 relies on Delta's atomic overwrite;
  * SURVEY §8 S5 note). Pure Spark + POSIX primitives:
  *
  *  - **Commit claim**: a writer claims version n with an atomic
  *    create-if-absent slot claim through [[LogStore.current]]
  *    (mkdir on POSIX, a conditional PUT of a marker object on an
  *    object store — the same CAS a Delta writer does on
  *    `_delta_log/n.json`); losing a race just means retrying with
  *    n+1. No locks, no coordinator.
  *  - **Visibility = completeness**: a version exists for readers
  *    only once Spark's `_SUCCESS` marker lands (written last by the
  *    commit protocol of the parquet job). A crashed writer leaves a
  *    claimed-but-unfinished dir that every reader ignores forever —
  *    torn reads are structurally impossible.
  *  - **Snapshot isolation / time travel**: versions are immutable
  *    dirs; a reader that resolved version n keeps reading n's files
  *    regardless of later commits ([[readVersion]] pins explicitly).
  *
  * At 100 TB the same protocol holds on any store with an atomic
  * create-if-absent ([[LogStore]]: HDFS rename/mkdir via
  * [[PosixLogStore]], S3/MinIO conditional PUT via
  * [[ConditionalPutStore]]) — the data volume never touches the
  * protocol, which claims one slot and one zero-byte marker per
  * commit.
  */
object Snapshots {

  private def versionDir(tableDir: String, v: Int) = s"$tableDir/v=$v"

  private def isComplete(tableDir: String, v: Int): Boolean =
    new File(versionDir(tableDir, v), "_SUCCESS").isFile

  /** All committed (reader-visible) versions, ascending. listFiles is
    * null on a vanished dir or an IO error — treated as "no versions"
    * rather than an NPE (the dir can disappear between the isDirectory
    * check and the listing under concurrent cleanup). */
  def versions(tableDir: String): Seq[Int] = {
    Option(new File(tableDir).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toInt)
      .filter(isComplete(tableDir, _))
      .sorted
  }

  /** Commit `df` as the next version; returns the committed version
    * number. Safe under concurrent committers: claims race on mkdir
    * and the loser retries the next number. */
  def commit(df: DataFrame, tableDir: String): Int = {
    new File(tableDir).mkdirs()
    var v = nextCandidate(tableDir)
    // the slot claim is the atomic CAS; exhaustion bound only guards
    // a pathological FS (the loop advances past every claimed number)
    while (!LogStore.current.claimSlot(
      java.nio.file.Paths.get(versionDir(tableDir, v)))) v += 1
    df.write.mode(SaveMode.Append).parquet(versionDir(tableDir, v))
    v
  }

  private def nextCandidate(tableDir: String): Int = {
    val base = new File(tableDir)
    val claimed = Option(base.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toInt)
    if (claimed.isEmpty) 0 else claimed.max + 1
  }

  /** Latest committed snapshot. */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no committed versions under $tableDir")
    readVersion(spark, tableDir, vs.last)
  }

  /** Time travel: pin an explicit committed version. */
  def readVersion(spark: SparkSession, tableDir: String, v: Int): DataFrame = {
    require(isComplete(tableDir, v), s"version $v is not committed")
    spark.read.parquet(versionDir(tableDir, v))
  }

  /** Idempotent commit at a CALLER-CHOSEN version — the
    * exactly-once `foreachBatch` sink: pass the micro-batch id as the
    * version and a replayed batch after restart becomes a no-op
    * (Delta's `txnAppId`/`txnVersion` pattern). Returns true iff this
    * call wrote the version.
    *
    * A claimed-but-incomplete dir (writer crashed mid-batch) is
    * rewritten: after a streaming restart the single owning query is
    * the only writer of that batch id, so the rewrite races nobody. */
  def commitIfAbsent(df: DataFrame, tableDir: String, v: Int): Boolean = {
    if (isComplete(tableDir, v)) false
    else {
      new File(tableDir).mkdirs()
      // may already be claimed — the single owning query rewrites
      LogStore.current.claimSlot(
        java.nio.file.Paths.get(versionDir(tableDir, v)))
      df.write.mode(SaveMode.Overwrite).parquet(versionDir(tableDir, v))
      true
    }
  }

  /** Underscore-prefixed so Spark's file listing treats the manifest
    * as hidden: a plain [[readVersion]] scan never sees it. */
  val StatsDir = "_stats"

  /** Commit `df` as the next version WITH a per-file min/max stats
    * manifest over `statsCols` — the data-skipping metadata of the
    * lake formats (Delta's per-file `stats` JSON, Iceberg's manifest
    * min/max, ClickHouse's sparse index over the MergeTree ORDER BY:
    * reference clickhouse_init/03_fact_tables.sql:54-55). Combined
    * with a clustered layout ([[graft.ops.Scale.zOrderedOrders]]) the
    * manifest is what converts the sort into scan-time file pruning.
    *
    * Stats columns are captured as longs (integral/date keys — the
    * clustering-key case); the manifest is one small parquet under
    * `v=n/_stats`, hidden from data reads. Visibility discipline:
    * `_SUCCESS` is withheld until the manifest lands, so readers can
    * never observe a version whose stats are missing — the same
    * stage-then-publish move [[mergeCommit]] makes. Cost: one extra
    * scan of the just-written files (what Delta's stats collection
    * pays), aggregated per-file with no shuffle wider than the file
    * count. */
  def commitWithStats(df: DataFrame, tableDir: String,
                      statsCols: Seq[String]): Int =
    commitWithStats(df, tableDir, statsCols, Seq.empty)

  /** [[commitWithStats]] plus per-file BLOOM FILTERS over `bloomCols`
    * — the point-lookup half of data skipping (Delta's
    * `delta.bloomFilter` column option, ClickHouse's `bloom_filter`
    * skip index): min/max spans prune RANGE predicates but are
    * useless for a selective key equality over a layout not sorted by
    * that key; the bloom answers "could file F hold key k?" from a
    * per-file bit array sized to the data.
    *
    * Build: each row's key hashes to [[BloomHashes]] positions via
    * `xxhash64(key, i)` (codegen'd, distributed, one explode +
    * one (file, word) aggregation — no driver work); the filter is
    * stored as (file, colname, word, bits) rows beside the stats
    * manifest. Probe ([[readPrunedPoint]]): the driver recomputes the
    * same positions with catalyst's own XXH64 and keeps files whose
    * bits are all set — a superset by construction (false positives
    * read harmlessly; false negatives are impossible, and a file
    * absent from the bloom manifest is never pruned). The filter is
    * SIZED FROM THE DATA at ~8 bits per row of the largest file
    * (Delta's `numItems` knob, [[bloomSizeFor]]), recorded in the
    * manifest so readers probe with the writer's geometry — the
    * manifest grows linearly in files either way, metadata not
    * data. */
  def commitWithStats(df: DataFrame, tableDir: String,
                      statsCols: Seq[String], bloomCols: Seq[String]): Int = {
    require(statsCols.nonEmpty, "statsCols must name at least one column")
    new File(tableDir).mkdirs()
    var v = nextCandidate(tableDir)
    while (!LogStore.current.claimSlot(
      java.nio.file.Paths.get(versionDir(tableDir, v)))) v += 1
    val dir = versionDir(tableDir, v)
    // SUPPRESS the job's own _SUCCESS: letting the parquet commit drop
    // the marker and deleting it afterwards leaves a window (or, if the
    // process dies inside it, a permanent state) where isComplete is
    // true with no stats manifest — readers would observe a committed
    // version that readPruned cannot serve. Write options land on the
    // job's hadoop conf, so the suppression is per-write, not global.
    df.write.mode(SaveMode.Append)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(dir)
    onDataBeforeStats()
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    // Stats come from the PARQUET FOOTERS the data job just wrote —
    // O(files) driver-side metadata reads, no second data scan (what
    // Delta's stats collection does on the write path; round 17). The
    // footer min/max of an integral column IS min/max(cast(c as
    // long)) and footer row counts ARE count(*), so the manifest is
    // bit-identical to the old scan-derived one (SnapshotsSpec). A
    // commit whose stats columns aren't integral — or whose footers
    // lack stats — falls back to the original one-scan aggregation.
    val fromFooters = footerStats(spark, dir, statsCols)
    def writeStatsManifest(): Unit = fromFooters match {
      case Some(rows) =>
        val schema = org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("file",
            org.apache.spark.sql.types.StringType, nullable = true) +:
            statsCols.flatMap(c => Seq(
              org.apache.spark.sql.types.StructField(s"min_$c",
                org.apache.spark.sql.types.LongType, nullable = true),
              org.apache.spark.sql.types.StructField(s"max_$c",
                org.apache.spark.sql.types.LongType, nullable = true))) :+
            org.apache.spark.sql.types.StructField("n_rows",
              org.apache.spark.sql.types.LongType, nullable = false))
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$StatsDir")
      case None =>
        val aggs = statsCols.flatMap(c => Seq(
          min(col(c).cast("long")).as(s"min_$c"),
          max(col(c).cast("long")).as(s"max_$c"))) :+
          count(lit(1)).as("n_rows")
        spark.read.parquet(dir)
          .groupBy(regexp_extract(input_file_name(), "[^/]+$", 0).as("file"))
          .agg(aggs.head, aggs.tail: _*)
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$StatsDir")
    }
    def writeBloomManifest(): Unit = {
      // SIZE the filter from the data (Delta's numItems knob): a fixed
      // m saturates on big files — at 47k rows/file a 16k-bit bloom is
      // ~100% full and prunes nothing while looking committed. ~8 bits
      // per row keeps FPR ≈ 2-3% at every file size; the row counts
      // come from the footer pass (or the manifest just written on the
      // fallback path). m rides along in the manifest so readers probe
      // with the writer's exact geometry.
      val maxRows = fromFooters match {
        case Some(rows) =>
          if (rows.isEmpty) 0L
          else rows.map(_.getLong(rows.head.length - 1)).max
        case None =>
          val maxRowsRow = spark.read.parquet(s"$dir/$StatsDir")
            .agg(max(col("n_rows"))).head()
          if (maxRowsRow.isNullAt(0)) 0L else maxRowsRow.getLong(0)
      }
      val mBits = bloomSizeFor(maxRows)
      val reread = spark.read.parquet(dir)
      // ONE bitmap aggregate per file (graft.functions.BloomWords):
      // the old explode(positions)+groupBy(file, word) tripled the
      // row count and probed a string-keyed hash agg per PROBE
      // POSITION — ~13 CPU-seconds on the q84 fact commit (round 18
      // stack samples). The aggregate folds each key's positions
      // into the dense word array directly; posexplode + bits≠0
      // reproduces EXACTLY the sparse (file, word, bits) rows the old
      // plan emitted (a word row existed iff some key set a bit in
      // it), and the positions come from the same xxhash64 chain the
      // reader probes with. substring_index is the regex-free
      // basename (same value as the old regexp_extract).
      bloomCols.map { c =>
        reread.filter(col(c).isNotNull)
          .select(substring_index(input_file_name(), "/", -1).as("file"),
            col(c).cast("long").as("_key"))
          .groupBy(col("file"))
          .agg(graft.functions.AggExprs.bloomWords(col("_key"), mBits)
            .as("words"))
          .select(col("file"), posexplode(col("words")).as(Seq("word", "bits")))
          .filter(col("bits") =!= 0L)
          .withColumn("colname", lit(c))
          .withColumn("m_bits", lit(mBits))
      }.reduce(_.unionByName(_))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/$BloomDir")
    }
    if (bloomCols.isEmpty) writeStatsManifest()
    else if (fromFooters.isEmpty) {
      // fallback path: the bloom sizes itself from the stats manifest
      // it is about to read — the order is a real dependency
      writeStatsManifest(); writeBloomManifest()
    } else {
      // footer path: both sidecars derive from the already-written
      // data + footer rows and target disjoint subdirs — run their
      // write jobs CONCURRENTLY (round 18: the stats write and the
      // bloom's column-pruned reread+aggregate were serialized on the
      // q84 critical path for no data reason; _SUCCESS still lands
      // only after BOTH complete, so the visibility contract holds)
      concurrently(writeStatsManifest(), writeBloomManifest())
    }
    onStatsBeforePublish()
    LogStore.current.claimMarker(
      java.nio.file.Paths.get(dir, "_SUCCESS"))
    v
  }

  /** Run two independent commit-sidecar jobs concurrently and barrier
    * on both (failures propagate — the commit must not publish if
    * either sidecar failed). Pool-per-call for the same nesting
    * reason as Pipeline.inParallel: callers already sit on blocked
    * branch threads. */
  private def concurrently(a: => Unit, b: => Unit): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(Seq(Future(a), Future(b))), 30.minutes)
    finally pool.shutdown()
    ()
  }

  /** Per-file (min, max, n_rows) from the just-written parquet FOOTERS
    * — the no-second-scan stats source. Returns None (caller falls
    * back to the scan-based aggregation) when any stats column is not
    * integral in every footer's schema (timestamp/string casts don't
    * equal footer bounds), any footer lacks recorded statistics, or a
    * footer can't be read. Zero-row files are skipped to match the
    * scan path exactly (a groupBy over rows emits no group for them —
    * and pruneFiles never reads a file absent from the manifest).
    * Row layout matches the manifest schema: (file, min_c1, max_c1, …,
    * n_rows). */
  private[graft] def footerStats(spark: SparkSession, dir: String,
                                 statsCols: Seq[String]): Option[Seq[Row]] = {
    import scala.jdk.CollectionConverters._
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    // An empty listing means java.io.File could not enumerate the dir
    // (scheme-prefixed URI, non-local path, IO error) — NOT that the
    // commit wrote zero files (Spark always writes ≥1 part file, even
    // for an empty df). Returning Some(empty) here would publish an
    // EMPTY stats manifest and pruneFiles would prune every file of a
    // version that has data: fall back to the scan aggregation, which
    // resolves the path through Spark's own FileSystem.
    if (files.isEmpty) return None
    val conf = spark.sessionState.newHadoopConf()
    // one blocking metadata read per file — PARALLEL (round 18): the
    // reads are independent and each pays open+seek latency, so a
    // 32-file commit was 32 serial round trips on the q84 critical
    // path. Order is preserved (futures collected in submit order);
    // any per-file failure propagates out of .get() and lands in the
    // NonFatal fallback exactly as the serial loop did.
    def statsOf(f: File): Option[Row] = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val footer = r.getFooter
          val fschema = footer.getFileMetaData.getSchema
          val blocks = footer.getBlocks.asScala.toSeq
          val nRows = blocks.map(_.getRowCount).sum
          if (nRows == 0L) None
          else {
            val bounds = statsCols.flatMap { c =>
              // top-level primitive integral column, else bail to scan
              val idx = fschema.getFields.asScala.indexWhere(_.getName == c)
              require(idx >= 0, s"stats column $c absent from footer")
              val field = fschema.getFields.asScala(idx)
              require(field.isPrimitive, s"stats column $c not primitive")
              val prim = field.asPrimitiveType().getPrimitiveTypeName
              val lt = field.getLogicalTypeAnnotation
              val integral =
                (prim == org.apache.parquet.schema.PrimitiveType
                  .PrimitiveTypeName.INT32 ||
                  prim == org.apache.parquet.schema.PrimitiveType
                    .PrimitiveTypeName.INT64) &&
                  (lt == null || lt.isInstanceOf[
                    org.apache.parquet.schema.LogicalTypeAnnotation
                      .IntLogicalTypeAnnotation])
              require(integral, s"stats column $c not integral ($prim/$lt)")
              val chunks = blocks.map { b =>
                b.getColumns.asScala.find(_.getPath.toDotString == c)
                  .getOrElse(sys.error(s"no chunk for $c"))
              }
              val stats = chunks.map(_.getStatistics)
              require(stats.forall(s => s != null && !s.isEmpty),
                s"footer stats missing for $c")
              val nonNull = stats.filter(_.hasNonNullValue)
              if (nonNull.isEmpty) Seq(null, null) // all-null column
              else Seq(
                java.lang.Long.valueOf(nonNull
                  .map(_.genericGetMin.asInstanceOf[Number].longValue).min),
                java.lang.Long.valueOf(nonNull
                  .map(_.genericGetMax.asInstanceOf[Number].longValue).max))
            }
            Some(Row.fromSeq(f.getName +: bounds :+ nRows))
          }
        } finally r.close()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, files.length))
    try {
      val futs = files.toSeq.map(f =>
        pool.submit(new java.util.concurrent.Callable[Option[Row]] {
          def call(): Option[Row] = statsOf(f)
        }))
      Some(futs.flatMap(_.get()))
    } catch { case scala.util.control.NonFatal(_) => None }
    finally pool.shutdown()
  }

  /** Bloom geometry: [[BloomHashes]] probe positions per key; filter
    * size scales with the largest file's row count at ~8 bits/row
    * (FPR ≈ (1−e^(−kn/m))^k ≈ 2-3% for any n), clamped to
    * [[BloomMinBits]]..[[BloomMaxBits]] (2 KiB..2 MiB per file —
    * manifest metadata, linear in file count). */
  val BloomMinBits = 16384
  val BloomMaxBits = 1 << 24
  val BloomHashes = 3
  val BloomDir = "_bloom"

  private[graft] def bloomSizeFor(maxRowsPerFile: Long): Int = {
    val target = math.max(BloomMinBits.toLong, 8L * maxRowsPerFile)
    var m = BloomMinBits
    while (m < target && m < BloomMaxBits) m <<= 1
    m
  }

  /** The probe positions for `value` in an `mBits`-bit filter —
    * REPLICATES Spark's `xxhash64(key_as_long, i_as_long)` bit-for-bit
    * on the driver (seed 42, left-fold over children with seed
    * chaining), so the reader agrees with the writer about every bit.
    * ScaleSpec holds this equality against the engine's own xxhash64
    * column. */
  private[graft] def bloomPositions(value: Long, mBits: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    (0 until BloomHashes).map { i =>
      val h = XXH64.hashLong(i.toLong, XXH64.hashLong(value, 42L))
      (((h % mBits) + mBits) % mBits).toInt
    }
  }

  /** Test seam: (file, word, bits) rows the last [[pruneFilesPoint]]
    * call collected to the driver — ScaleSpec asserts the count is
    * bounded by files × probe positions, never by bloom SIZE (the
    * round-7 flag: collecting full per-file blooms is ~2 MiB/file,
    * a multi-GB driver materialization at 10k files). */
  @volatile private[graft] var lastBloomRowsCollected: Long = 0L

  /** Test seam: stats-manifest rows the last [[pruneFiles]] pulled to
    * the driver — one per file, the O(files) metadata bound ScaleSpec
    * pins with an explicit ceiling (the skipping decision must read
    * manifests, never data). */
  @volatile private[graft] var lastStatsRowsCollected: Long = 0L

  /** Files of version `v` that might contain ANY of `values` in
    * `keyCol` per the per-file blooms, plus the total file count. A
    * file with no bloom rows (older commit, all-null column) is never
    * pruned — the same superset contract as [[pruneFiles]].
    *
    * DISTRIBUTED probe: the driver never sees full blooms. The probe
    * touches at most |values| × [[BloomHashes]] word indices, so the
    * word filter is PUSHED INTO the manifest scan and the collect is
    * bounded by files × needed-words tiny rows (the same O(files)
    * metadata class as [[statsManifest]]) — at 10k files that is a
    * few hundred KB where collecting whole blooms would be ~20 GB.
    * Two driver round trips: (a) one (file, m_bits) row per bloomed
    * file — the existence set a word-filtered scan cannot carry
    * (a file whose needed words are ABSENT rows means those bits are
    * zero → prunable, which is indistinguishable from a never-bloomed
    * file without the existence set) — doubling as the geometry check
    * (mixed m_bits in one version would silently probe with the wrong
    * modulus and mis-prune: required uniform, loudly); (b) the
    * needed-word bits themselves. */
  private[graft] def pruneFilesPoint(spark: SparkSession, tableDir: String,
      v: Int, keyCol: String, values: Seq[Long]): (Seq[String], Int) = {
    val dir = versionDir(tableDir, v)
    val allFiles = statsManifest(spark, tableDir, v)
      .select("file").collect().map(_.getString(0)).toSeq
    val parts = Option(new File(dir, BloomDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .map(_.getPath).sorted
    require(parts.nonEmpty, s"version $v has no bloom manifest")
    import org.apache.spark.sql.functions.col
    val manifest = spark.read.parquet(parts.toIndexedSeq: _*)
      .filter(col("colname") === keyCol)
    // (a) existence set + writer geometry — one tiny row per file
    val fileGeoms = manifest.select("file", "m_bits").distinct().collect()
    val geoms = fileGeoms.map(_.getInt(1)).distinct
    require(geoms.length <= 1,
      s"bloom manifest for '$keyCol' in version $v carries mixed " +
        s"geometries ${geoms.toSeq} — probing with one modulus would " +
        "mis-prune; recommit with a single m_bits")
    val bloomFiles = fileGeoms.map(_.getString(0)).toSet
    geoms.headOption match {
      case None => // no bloom rows for this column at all: cannot prune
        lastBloomRowsCollected = 0L
        (allFiles.map(f => s"$dir/$f"), allFiles.size)
      case Some(m) =>
        val probes = values.map(bloomPositions(_, m))
        val neededWords = probes.flatten.map(_ / 64).distinct
        // (b) only the probed words come back — the filter pushes to
        // the manifest's parquet scan
        val rows = manifest
          .filter(col("word").isin(neededWords.map(Int.box): _*))
          .select("file", "word", "bits").collect()
        lastBloomRowsCollected = rows.length.toLong
        val words: Map[String, Map[Int, Long]] =
          rows.groupBy(_.getString(0))
            .map { case (f, rs) =>
              f -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap
            }
        val kept = allFiles.filter { f =>
          if (!bloomFiles.contains(f)) true // never bloomed: keep
          else {
            val bits = words.getOrElse(f, Map.empty[Int, Long])
            probes.exists(_.forall { p =>
              (bits.getOrElse(p / 64, 0L) & (1L << (p % 64))) != 0L
            })
          }
        }.map(f => s"$dir/$f")
        (kept, allFiles.size)
    }
  }

  /** Point-lookup pruned scan: reads only the files whose bloom says
    * `keyCol` might hold one of `values`. Superset contract — callers
    * re-apply the exact predicate, false positives cost a file read,
    * false negatives cannot happen (ScaleSpec proves result parity
    * and measures the scanned fraction). */
  def readPrunedPoint(spark: SparkSession, tableDir: String, v: Int,
                      keyCol: String, values: Seq[Long]): DataFrame = {
    val (files, _) = pruneFilesPoint(spark, tableDir, v, keyCol, values)
    if (files.isEmpty) readVersion(spark, tableDir, v).limit(0)
    else spark.read.parquet(files: _*)
  }

  /** OPTIMIZE — file-level compaction (Delta's `OPTIMIZE`, the
    * bin-packing half of ClickHouse's background merges): rewrite
    * version `v`'s many small files into `ceil(bytes / targetBytes)`
    * size-targeted files and commit the result as a NEW version with
    * FRESH stats (+blooms) over the same columns. Readers of `v` are
    * untouched (immutable version dirs — the reader-pinning contract);
    * [[vacuum]] reclaims the fragmented version later.
    *
    * The rewrite re-clusters on `sortCols` (range partition + in-file
    * sort) rather than hash-scattering: compaction is exactly when the
    * layout gets to be restored for free, and the fresh manifest's
    * per-file spans stay narrow so data skipping keeps working after
    * the rewrite — an OPTIMIZE that destroyed clustering would pass a
    * row-equality gate while silently un-pruning every later scan
    * (ScaleSpec asserts the spans, not just the data).
    *
    * Scale: one distributed read + range-shuffle + write of the
    * version's data — the same cost Delta's OPTIMIZE pays; file sizing
    * derives from actual on-disk bytes, no sampling. Returns the new
    * version number. */
  def optimizeCompact(spark: SparkSession, tableDir: String, v: Int,
      targetBytes: Long, statsCols: Seq[String],
      bloomCols: Seq[String] = Seq.empty,
      sortCols: Seq[String] = Seq.empty): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val bytes = Option(new File(versionDir(tableDir, v)).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length()).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = readVersion(spark, tableDir, v)
    val keys = if (sortCols.nonEmpty) sortCols else statsCols
    import org.apache.spark.sql.functions.col
    val packed = df
      .repartitionByRange(nOut, keys.map(col): _*)
      .sortWithinPartitions(keys.map(col): _*)
    commitWithStats(packed, tableDir, statsCols, bloomCols)
  }

  /** Test seam: runs after data + stats are staged, before `_SUCCESS`
    * publishes the version — lets a spec pin that a writer crashing
    * here leaves NO reader-visible version (the stage-then-publish
    * contract of [[commitWithStats]]). */
  private[graft] var onStatsBeforePublish: () => Unit = () => ()

  /** Test seam: runs after the data job commits, before the stats job
    * starts — the window where the OLD implementation (delete the
    * job's `_SUCCESS` after the fact) could expose a stats-less
    * version. A spec crashes here and asserts no version is visible. */
  private[graft] var onDataBeforeStats: () => Unit = () => ()

  /** The stats manifest of a committed version: one row per data file
    * with `min_<col>`/`max_<col>` for every stats column. The part
    * files are listed explicitly: handing Spark the underscore-
    * prefixed dir trips the hidden-path filter's "all paths were
    * ignored" warning, and a glob trips the streaming-sink metadata
    * probe's logged stack trace — both harmless, both noise. */
  def statsManifest(spark: SparkSession, tableDir: String, v: Int): DataFrame = {
    require(isComplete(tableDir, v), s"version $v is not committed")
    val parts = Option(
      new File(versionDir(tableDir, v), StatsDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .map(_.getPath).sorted
    require(parts.nonEmpty, s"version $v has no stats manifest")
    spark.read.parquet(parts.toIndexedSeq: _*)
  }

  /** Files of version `v` whose [min,max] span INTERSECTS every range
    * in `ranges` (col, lo, hi), plus the total file count — the
    * data-skipping decision itself, exposed so specs can assert the
    * scanned fraction. Null stats (all-null file) never prune: the
    * contract is a superset — every file that COULD hold a matching
    * row is kept, exactly parquet row-group pruning's semantics one
    * level up. The manifest is a handful of rows per 1000 files, so
    * the driver-side filter is negligible at any table size (the lake
    * formats make the same call: skipping decisions read manifests,
    * not data). */
  private[graft] def pruneFiles(spark: SparkSession, tableDir: String, v: Int,
      ranges: Seq[(String, Long, Long)]): (Seq[String], Int) =
    pruneFilesFrom(tableDir, v,
      statsManifest(spark, tableDir, v).collect().toSeq, ranges)

  /** [[pruneFiles]] over ALREADY-COLLECTED manifest rows — for callers
    * that need several decisions (or a max/min bound AND a prune) off
    * one manifest: the manifest is a tiny parquet, but each read is a
    * whole Spark job, and the q84 recent-months branch was launching
    * three of them back to back for one decision (round 18). */
  private[graft] def pruneFilesFrom(tableDir: String, v: Int, m: Seq[Row],
      ranges: Seq[(String, Long, Long)]): (Seq[String], Int) = {
    val dir = versionDir(tableDir, v)
    lastStatsRowsCollected = m.size.toLong
    // Superset contract, extended to SCHEMA EVOLUTION: a version
    // committed before a column existed has no min_/max_ fields for it
    // in its manifest — "no stats" can never prove "no match", so an
    // absent stats column prunes nothing, exactly like an all-null
    // file's null stats.
    def stat(r: Row, name: String): Option[Long] = {
      if (!r.schema.fieldNames.contains(name)) None
      else {
        val i = r.fieldIndex(name)
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      }
    }
    val kept = m.filter { r =>
      ranges.forall { case (c, lo, hi) =>
        (stat(r, s"min_$c"), stat(r, s"max_$c")) match {
          case (Some(mn), Some(mx)) => mn <= hi && mx >= lo
          case _ => true
        }
      }
    }.map(r => s"$dir/${r.getAs[String]("file")}")
    (kept, m.size)
  }

  /** Stats-pruned snapshot scan: reads ONLY the files whose min/max
    * span can intersect `ranges`. Returns a superset of the exact
    * range result (callers re-apply the precise predicate — same
    * contract as partition pruning); over a Z-ordered layout the
    * superset is small in BOTH dimensions at once (ScaleSpec measures
    * the scanned-file fraction; the q104 gate proves result equality
    * with the unpruned scan). */
  def readPruned(spark: SparkSession, tableDir: String, v: Int,
                 ranges: Seq[(String, Long, Long)]): DataFrame = {
    val (files, _) = pruneFiles(spark, tableDir, v, ranges)
    if (files.isEmpty) readVersion(spark, tableDir, v).limit(0)
    else spark.read.parquet(files: _*)
  }

  /** LOG-table read: the union of ALL committed versions — for tables
    * where each version is an appended micro-batch (the bronze log),
    * not a full snapshot. One multi-path parquet read, so pruning and
    * pushdown work across the whole log. */
  def readLog(spark: SparkSession, tableDir: String): DataFrame = {
    val vs = versions(tableDir)
    require(vs.nonEmpty, s"no committed versions under $tableDir")
    spark.read.parquet(vs.map(versionDir(tableDir, _)): _*)
  }

  /** MERGE-commit: upsert `source` into the latest snapshot (or seed
    * with it) and commit the RESULT as the next version — Delta's
    * `merge` + transaction in one step, over [[graft.silver.Merge]]
    * semantics. Readers on the old version stay isolated; the merge
    * becomes visible atomically with the new version's _SUCCESS.
    *
    * CONCURRENCY CONTRACT: one writer per table. A merge is a
    * read-modify-write, so two concurrent mergeCommits would each
    * derive from the same base and the later one would silently drop
    * the earlier one's keys — [[commit]]'s claim race protects the
    * VERSION NUMBERS, not the merge lineage (Delta raises
    * ConcurrentAppendException here; a full conflict detector is out
    * of scope). As a best-effort guard, a version COMMITTED between
    * our base read and our claim is rejected — and, unlike a plain
    * [[commit]]+rollback, the stale merge is NEVER PUBLISHED even
    * transiently: the merged data is staged without its `_SUCCESS`
    * marker, the interleaved-version check runs while the version is
    * still invisible to every reader primitive, and only a clean
    * check creates `_SUCCESS`. A dirty check deletes the
    * never-visible dir and throws ConcurrentModificationException to
    * retry on. A racer that CLAIMED earlier but completes later is
    * not detectable this way — hence the single-writer contract. */
  def mergeCommit(spark: SparkSession, source: DataFrame, tableDir: String,
                  keys: Seq[String], versionCol: String): Int = {
    val base = versions(tableDir)
    val merged = base match {
      case Seq() => source
      case vs =>
        graft.silver.Merge.upsert(
          readVersion(spark, tableDir, vs.last), source, keys, versionCol)
    }
    // STAGE: run the (expensive) merge job into a hidden dir no reader
    // primitive lists; the plan reads the base version's files, which
    // stay immutable even while later versions land
    new File(tableDir).mkdirs()
    val staging =
      new File(tableDir, s".merge-${java.util.UUID.randomUUID}")
    merged.write.mode(SaveMode.Overwrite).parquet(staging.getPath)
    new File(staging, "_SUCCESS").delete() // stays unpublished below
    onMergeBeforeClaim()
    // CLAIM: mkdir-race a version slot, then move the staged data
    // files in (same-FS renames; the dir stays claimed-but-incomplete
    // — invisible — because _SUCCESS is withheld). A rename failing
    // mid-move must not strand a permanently-occupied version slot
    // holding partial data plus the leftover staging dir: both are
    // reclaimed before the failure propagates (the slot was never
    // published, so no reader can have observed it).
    var v = nextCandidate(tableDir)
    while (!LogStore.current.claimSlot(
      java.nio.file.Paths.get(versionDir(tableDir, v)))) v += 1
    try {
      Option(staging.listFiles()).getOrElse(Array.empty).foreach { f =>
        require(f.renameTo(new File(versionDir(tableDir, v), f.getName)),
          s"could not move staged ${f.getName} into version $v")
      }
      staging.delete()
    } catch { case e: Throwable =>
      graft.util.Fs.deleteRecursively(new File(versionDir(tableDir, v)))
      graft.util.Fs.deleteRecursively(staging)
      throw e
    }
    val interleaved = versions(tableDir)
      .filter(x => x > base.lastOption.getOrElse(-1) && x < v)
    if (interleaved.nonEmpty) {
      // never published: no _SUCCESS was ever created for v, so no
      // reader can have observed it — delete and signal retry
      graft.util.Fs.deleteRecursively(new File(versionDir(tableDir, v)))
      throw new java.util.ConcurrentModificationException(
        s"version(s) $interleaved committed under mergeCommit's base " +
          s"(read $base); unpublished stale merge $v discarded — retry")
    }
    // PUBLISH: _SUCCESS lands only after the check passes
    LogStore.current.claimMarker(
      java.nio.file.Paths.get(versionDir(tableDir, v), "_SUCCESS"))
    v
  }

  /** VACUUM: retention cleanup, the Delta `VACUUM` analog. Deletes
    * (a) committed versions older than the newest `keepLast`, and
    * (b) torn claims (dirs without `_SUCCESS`) strictly BELOW the
    * newest committed version — under the one-writer-per-table
    * contract such a claim's writer is gone and the slot can never
    * complete (a streaming `commitIfAbsent` writer re-claims its
    * batch id before any later batch commits, so a torn dir below
    * the committed frontier is structurally abandoned). A torn claim
    * ABOVE the newest committed version is an in-flight writer and is
    * never touched. Returns the version numbers removed.
    *
    * Readers pinned to a vacuumed version fail on their next
    * re-execution — the same contract as Delta: retention bounds time
    * travel. At 100 TB this is the operation that bounds storage; the
    * protocol cost is one directory listing plus the deletes. */
  def vacuum(tableDir: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the latest version")
    val committed = versions(tableDir)
    if (committed.isEmpty) return Seq.empty
    val dropCommitted = committed.dropRight(keepLast)
    val frontier = committed.last
    val tornBelow = Option(new File(tableDir).listFiles())
      .getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toInt)
      .filter(v => v < frontier && !isComplete(tableDir, v) &&
        !committed.contains(v))
    val gone = (dropCommitted ++ tornBelow).sorted
    gone.foreach(v => graft.util.Fs.deleteRecursively(new File(versionDir(tableDir, v))))
    gone
  }

  /** CHANGE DATA FEED between two committed versions — Delta CDF's
    * question ("what changed from v_a to v_b?") answered from the
    * immutable snapshots themselves: one full-outer join on the key.
    * Emits one row per changed key with `_change_type` ∈
    * {insert, update_postimage, delete}; insert/update carry the
    * post-image columns, delete the pre-image. Unchanged keys emit
    * nothing (compared as null-safe structs over every non-key
    * column).
    *
    * Scale: the join shuffles both snapshots on the key once —
    * identical cost to the MERGE that produced the newer version; a
    * log-structured implementation would read the delta files
    * instead, which is exactly what [[readLog]]-style tables give the
    * streaming path. */
  def changesBetween(spark: SparkSession, tableDir: String,
                     fromV: Int, toV: Int, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val pre = readVersion(spark, tableDir, fromV)
    val post = readVersion(spark, tableDir, toV)
    val nonKey = post.columns.toSeq.filterNot(keys.contains)
    // SCHEMA EVOLUTION: the change feed is served in the TO version's
    // schema (Delta CDF's contract); a column added between the two
    // versions reads as a typed null on the pre side, so "value
    // appeared" surfaces as update_postimage, and delete pre-images
    // carry null for columns the deleted row never had.
    def padded(df: DataFrame, c: String) =
      if (df.columns.contains(c)) col(c)
      else lit(null).cast(post.schema(c).dataType).as(c)
    val a = pre.select(
      keys.map(col) :+ struct(nonKey.map(padded(pre, _)): _*).as("_pre"): _*)
    val b = post.select(
      keys.map(col) :+ struct(nonKey.map(col): _*).as("_post"): _*)
    a.join(b, keys, "full_outer")
      .withColumn("_change_type",
        when(col("_pre").isNull, "insert")
          .when(col("_post").isNull, "delete")
          .when(not(col("_pre") <=> col("_post")), "update_postimage"))
      .filter(col("_change_type").isNotNull)
      .select(keys.map(col) ++ nonKey.map(c =>
        when(col("_change_type") === "delete", col(s"_pre.$c"))
          .otherwise(col(s"_post.$c")).as(c)) :+ col("_change_type"): _*)
  }

  /** Test seam: runs after the merge result is staged (still
    * invisible) and before the version claim — lets a spec inject a
    * racing commit deterministically into the detection window. */
  private[graft] var onMergeBeforeClaim: () => Unit = () => ()

}
