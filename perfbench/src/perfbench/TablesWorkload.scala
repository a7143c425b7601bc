package perfbench

import graft.store.{CommitLog, GraftSql}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.immutable.{HashMap, TreeMap}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `tables`: a long-lived logged fact table that takes writes beside
  * reads. Input generation ages it with the program's own verbs (data
  * appends plus property commits) to a long log; auto-compaction is on
  * and the log checkpoints every 10 commits. The timed mix, in a fixed
  * order: DataFrame appends, one trigger of a running Update-mode
  * streaming aggregation into a logged `totals` table, SQL MERGE INTO and
  * DELETE FROM (deletion vectors) over ``graftlog.`path` ``, latest
  * range reads and `versionAsOf` range reads.
  *
  * An in-memory model of the table (per version) and of the landed
  * stream batches checks every read and the table state. */
final class TablesWorkload(ctx: Ctx) extends Workload(ctx) {
  private val spark = ctx.spark
  private val rnd = new SplittableRandom(ctx.args.seed)
  private val smoke = ctx.args.smoke
  private val agingAppends = if (smoke) 3 else 4
  private val agingVersions = if (smoke) 30 else 100
  private val appendRows = 200
  private val mergeRows = 100
  private val deleteWidth = 40
  private val readWidth = 400
  private val batchRows = 50
  private val groups = 20

  private val facts = ctx.state("tables/facts")
  private val totals = ctx.state("tables/totals")
  private val inbox = ctx.state("stream/in")
  private val ckpt = ctx.state("stream/ckpt")
  private val tbl = s"graftlog.`$facts`"

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("grp", IntegerType),
    StructField("v", LongType), StructField("pad", StringType)))
  private type Rec = (Int, Long, String)

  private var cur = HashMap.empty[Long, Rec]
  private var history = TreeMap.empty[Long, HashMap[Long, Rec]]
  private var nextKey = 0L
  private val landed = mutable.HashMap.empty[Int, (Long, Long)]
  private var batchNo = 0
  private var query: StreamingQuery = _
  private var opsSinceCheck = 0
  private var timedStartV = 0L
  private var agedV = 0L
  private var agedKeys = 0L
  /** One cycle of the mix, always in this order: the seed varies the
    * data, not the interleaving. (Latency depends on what ran before —
    * an append right after a DV delete may trigger auto-compaction, a
    * read over DV-bearing files takes another scan path — so a per-seed
    * order would make each seed time a different mix of states.) */
  private val kinds =
    Seq("append", "read", "travel", "merge", "trigger", "append", "delete", "read", "travel")

  // traced figures
  private val folds = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]
  private val rewriteAmp = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val scanRatio = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var lastBatchId = -1L

  private def row(k: Long): (Long, Rec) =
    k -> ((rnd.nextInt(groups), rnd.nextLong(1000000L), f"p${rnd.nextInt(100000)}%08d"))

  private def frame(rows: Seq[(Long, Rec)]) =
    spark.createDataFrame(rows.map { case (k, (g, v, p)) => Row(k, g, v, p) }.asJava, schema)

  private def latest(): Long = CommitLog.latestVersion(spark, facts)

  /** Record the model at the table's latest version: after a data op,
    * that includes any compaction or checkpoint commit it set off, which
    * leave the rows as they were. */
  private def snapshot(): Unit = history += latest() -> cur

  private def appendRowsNow(n: Int): Seq[(Long, Rec)] = {
    val rows = (nextKey until nextKey + n).map(row)
    nextKey += n
    rows
  }

  def generate(): Unit = {
    Files.createDirectories(Paths.get(inbox))
    val first = appendRowsNow(appendRows)
    CommitLog.append(frame(first), facts)
    cur ++= first
    CommitLog.setProperties(spark, facts,
      Map("graft.autoCompact" -> "true", "graft.deletionVectors" -> "true"))
    snapshot()
    for (i <- 1 until agingAppends) {
      val rows = appendRowsNow(appendRows)
      CommitLog.append(frame(rows), facts)
      cur ++= rows
      snapshot()
      // property commits stretch the log between data commits
      val perGap = (agingVersions - agingAppends) / agingAppends
      (0 until perGap).foreach(j =>
        CommitLog.setProperties(spark, facts, Map("bench.aging" -> s"$i.$j")))
    }
    snapshot()
    agedV = latest()
    agedKeys = nextKey
  }

  def warmUp(): Unit = {
    query = spark.readStream.schema("grp INT, v BIGINT").json(inbox)
      .groupBy("grp").agg(sum("v").as("total"), count(lit(1)).as("n"))
      .writeStream.format("graftlog").outputMode("update")
      .option("keys", "grp").option("checkpointLocation", ckpt)
      .start(totals)
    // a whole cycle, so the first timed cycle starts from the state every
    // later one does (file census, deletion vectors, compaction phase)
    kinds.foreach(k => runOp(k, traced = false, record = false))
    fullCheck()
    timedStartV = latest()
  }

  override def cycle: Int = kinds.size
  def nominalCycleS: Double = 12.0

  def step(i: Int, traced: Boolean): Unit = {
    runOp(kinds(i % kinds.size), traced, record = true)
    opsSinceCheck += 1
    if (opsSinceCheck >= kinds.size) { fullCheck(); opsSinceCheck = 0 }
  }

  private def runOp(kind: String, traced: Boolean, record: Boolean): Unit = {
    if (traced) timeFolds()
    kind match {
      case "append" => append(traced, record)
      case "trigger" => trigger(traced, record)
      case "merge" => merge(traced, record)
      case "delete" => delete(traced, record)
      case "read" => read(traced, record)
      case "travel" => travel(traced, record)
    }
  }

  private def append(traced: Boolean, record: Boolean): Unit = {
    val rows = appendRowsNow(appendRows)
    val df = frame(rows)
    operate("append", traced, record) {
      ctx.tracer.layer("commitlog.append")(CommitLog.append(df, facts))
    }.foreach { _ => cur ++= rows; snapshot() }
  }

  private def trigger(traced: Boolean, record: Boolean): Unit = {
    batchNo += 1
    val batch = (0 until batchRows).map(_ => (rnd.nextInt(groups), rnd.nextLong(1000L)))
    val tmp = Paths.get(inbox, s".batch_$batchNo.json.tmp")
    Files.write(tmp, batch.map { case (g, v) => s"""{"grp":$g,"v":$v}""" }
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val dst = Paths.get(inbox, s"batch_$batchNo.json")
    operate("trigger", traced, record) {
      ctx.tracer.layer("streaming.trigger") {
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        query.processAllAvailable()
      }
    }.foreach { _ =>
      batch.foreach { case (g, v) =>
        val (t, n) = landed.getOrElse(g, (0L, 0L)); landed(g) = (t + v, n + 1) }
      if (traced) collectProgress()
    }
  }

  private def collectProgress(): Unit = {
    val ps = query.recentProgress.filter(p => p.batchId > lastBatchId && p.numInputRows > 0)
    ps.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val state = p.stateOperators.map(_.commitTimeMs.toDouble).sum
      progress += d + ("stateCommit" -> state)
    }
    if (query.recentProgress.nonEmpty) lastBatchId = query.recentProgress.map(_.batchId).max
  }

  /** A key a merge updates: among the 2 000 most recent keys. */
  private def recentKey(): Long = {
    val span = math.min(nextKey, 2000L)
    nextKey - 1 - rnd.nextLong(math.max(1L, span))
  }

  private def liveBytes(): Map[String, Long] = {
    val s = Files.walk(Paths.get(facts))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.toString.contains("_graft_log"))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  /** Bytes of files a DML op added ÷ bytes of the rows it changed. */
  private def recordRewrite(verb: String, before: Map[String, Long], rowsChanged: Int): Unit = {
    val after = liveBytes()
    val added = after.collect { case (p, b) if !before.contains(p) => b }.sum.toDouble
    val (_, live) = CommitLog.liveFiles(spark, facts)
    val liveSet = live.map(n => Paths.get(facts, n).toString).toSet
    val liveB = after.collect { case (p, b) if liveSet.contains(p) => b }.sum.toDouble
    val perRow = liveB / math.max(1, cur.size)
    if (rowsChanged > 0)
      rewriteAmp.getOrElseUpdate(verb, mutable.ArrayBuffer.empty) += added / (rowsChanged * perRow)
  }

  private def merge(traced: Boolean, record: Boolean): Unit = {
    val old = (0 until mergeRows * 7 / 10).map(_ => recentKey()).distinct
    val fresh = appendRowsNow(mergeRows - old.size).map(_._1)
    val src = (old ++ fresh).map(row)
    frame(src).createOrReplaceTempView("bench_merge_src")
    val before = if (traced) liveBytes() else Map.empty[String, Long]
    operate("merge", traced, record) {
      ctx.tracer.layer("sql.merge")(GraftSql.execute(spark,
        s"""MERGE INTO $tbl AS t USING bench_merge_src AS s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect())
    }.foreach { _ =>
      cur ++= src; snapshot()
      if (traced) recordRewrite("merge", before, src.size)
    }
  }

  private def delete(traced: Boolean, record: Boolean): Unit = {
    // anchored at a live key, so every delete removes rows (and attaches
    // a deletion vector) whatever the seed
    val live = cur.keysIterator.toIndexedSeq
    val lo = live(rnd.nextInt(live.size))
    val hi = lo + deleteWidth
    val before = if (traced) liveBytes() else Map.empty[String, Long]
    val gone = cur.keys.count(k => k >= lo && k < hi)
    operate("delete", traced, record) {
      ctx.tracer.layer("sql.delete")(GraftSql.execute(spark,
        s"DELETE FROM $tbl AS t WHERE t.k >= $lo AND t.k < $hi").collect())
    }.foreach { _ =>
      cur = cur.filterNot { case (k, _) => k >= lo && k < hi }; snapshot()
      if (traced) recordRewrite("delete", before, gone)
    }
  }

  /** A range of `readWidth` keys below `limit`. */
  private def rangeOf(limit: Long): (Long, Long) = {
    val lo = rnd.nextLong(math.max(1L, limit - readWidth))
    (lo, lo + readWidth)
  }

  private def rows(rs: Array[Row]): Map[Long, Rec] =
    rs.map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap

  private def expected(m: Map[Long, Rec], lo: Long, hi: Long): Map[Long, Rec] =
    m.filter { case (k, _) => k >= lo && k < hi }

  private def read(traced: Boolean, record: Boolean): Unit = {
    val (lo, hi) = rangeOf(nextKey)
    val df = spark.read.format("graftlog").load(facts)
      .where(col("k") >= lo && col("k") < hi).select("k", "grp", "v", "pad")
    operate("read", traced, record) {
      ctx.tracer.layer("sources.read")(df.collect())
    }.foreach { got =>
      ctx.checks.expect(rows(got) == expected(cur, lo, hi), s"range read [$lo,$hi) differs from the model")
      if (traced) recordScan("read", df, Long.MaxValue)
    }
  }

  private def travel(traced: Boolean, record: Boolean): Unit = {
    val (lo, hi) = rangeOf(agedKeys)
    // the aged table as of the end of input generation: a snapshot that a
    // cache of the latest one misses, the same one for every seed
    val v = agedV
    val df = spark.read.format("graftlog").option("versionAsOf", v).load(facts)
      .where(col("k") >= lo && col("k") < hi).select("k", "grp", "v", "pad")
    operate("travel", traced, record) {
      ctx.tracer.layer("sources.travel")(df.collect())
    }.foreach { got =>
      ctx.checks.expect(rows(got) == expected(history(v), lo, hi),
        s"versionAsOf $v read [$lo,$hi) differs from the model at that version")
      if (traced) recordScan("travel", df, v)
    }
  }

  private def recordScan(kind: String, df: org.apache.spark.sql.DataFrame, asOf: Long): Unit = {
    val live = CommitLog.liveFiles(spark, facts, asOf)._2.size
    scanRatio.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
      df.inputFiles.length.toDouble / math.max(1, live)
  }

  private val foldFns: Seq[(String, () => Any)] = Seq(
    "latestVersion" -> (() => CommitLog.latestVersion(spark, facts)),
    "liveFiles" -> (() => CommitLog.liveFiles(spark, facts)),
    "schemaAt" -> (() => CommitLog.schemaAt(spark, facts)),
    "propertiesAt" -> (() => CommitLog.propertiesAt(spark, facts)),
    "constraintsAt" -> (() => CommitLog.constraintsAt(spark, facts)))

  /** Each log fold timed at the current version (median of 3 calls). */
  private def timeFolds(): Unit =
    folds += latest() -> foldFns.map { case (n, f) =>
      n -> Stats.median((1 to 3).map(_ => Clock.timeMs(f())))
    }.toMap

  private def readAll(s: SparkSession, path: String, sch: StructType): Array[Row] =
    CommitLog.read(s, path, sch).collect()

  private val totalsSchema = StructType(Seq(StructField("grp", IntegerType),
    StructField("total", LongType), StructField("n", LongType)))

  private def totalsOf(s: SparkSession): Map[Int, (Long, Long)] =
    readAll(s, totals, totalsSchema).map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** Visible rows equal the model; totals equal the landed batches. */
  private def fullCheck(s: SparkSession = spark): Unit = {
    val got = rows(readAll(s, facts, schema))
    ctx.checks.expect(got == cur, s"table has ${got.size} rows, model ${cur.size}; contents differ")
    ctx.checks.expect(totalsOf(s) == landed.toMap, "totals differ from the landed batches")
  }

  def finish(): Unit = finalCheck {
    if (ctx.tracer.enabled) timeFolds() // the folds at the final version
    fullCheck()
    fullCheck(spark.newSession())
  }

  override def close(): Unit = if (query != null) query.stop()

  /** Bytes under the table dir ÷ its visible rows written once as parquet. */
  private lazy val spaceAmp: Double = {
    val once = ctx.state("space_amp_once")
    CommitLog.read(spark, facts, schema).coalesce(1).write.mode("overwrite").parquet(once)
    def bytes(dir: String) = {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(Files.size).sum.toDouble
      finally s.close()
    }
    bytes(facts) / bytes(once)
  }

  def report(): Seq[(String, Double, String)] =
    Seq("append", "trigger", "merge", "delete", "read", "travel")
      .map(k => (s"${k}_ms", ctx.rec.p50(k), "ms")) :+ (("space_amp", spaceAmp, "ratio"))

  def layers(): Map[String, Double] = {
    val tr = ctx.tracer
    def jobs(name: String) = Stats.median(tr.named(name).map(s => tr.jobsUnder(s).size.toDouble))
    val foldFigures = (folds.headOption.map("start" -> _) ++ folds.lastOption.map("end" -> _))
      .flatMap { case (at, (v, ms)) =>
        ms.map { case (n, t) => s"commitlog.fold_ms.$n.$at" -> t } + (s"commitlog.version.$at" -> v.toDouble)
      }.toMap
    val commits = CommitLog.history(spark, facts).where(col("version") > timedStartV)
      .groupBy("operation").count().collect()
      .map(r => s"commitlog.commits.${r.getString(0)}" -> r.getLong(1).toDouble).toMap
    val streaming = Seq("addBatch", "walCommit", "commitOffsets", "latestOffset",
      "queryPlanning", "stateCommit").map(k =>
      s"streaming.${k}_ms" -> Stats.median(progress.flatMap(_.get(k)).toSeq)).toMap
    foldFigures ++ commits ++ streaming ++ Map(
      "commitlog.jobs.append" -> jobs("commitlog.append"),
      "sql.jobs.merge" -> jobs("sql.merge"),
      "sql.jobs.delete" -> jobs("sql.delete"),
      "commitlog.rewrite_amp.merge" -> Stats.median(rewriteAmp.getOrElse("merge", Nil).toSeq),
      "commitlog.rewrite_amp.delete" -> Stats.median(rewriteAmp.getOrElse("delete", Nil).toSeq),
      "sources.scan_ratio.read" -> Stats.median(scanRatio.getOrElse("read", Nil).toSeq),
      "sources.scan_ratio.travel" -> Stats.median(scanRatio.getOrElse("travel", Nil).toSeq),
      "commitlog.space_amp" -> spaceAmp)
  }
}
