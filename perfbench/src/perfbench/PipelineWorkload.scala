package perfbench

import graft.core.Task
import graft.exec.Execute
import graft.ingest.Ingest
import graft.plan.{Plan, TemplateDef, Templates}
import graft.store.Store
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable

/** `pipeline`: the batch CLI path. Each round lands a seeded batch of new
  * files in a bucket tree, then runs `Ingest.run` (a full relist),
  * `Plan.run` and `Execute.run` — one timed operation.
  *
  * The tree goes down to depth 4 and ingest lists 3 levels, so some
  * files lie below the bound. Extensions mix mov/MOV/mp4/txt/none with a
  * small share of avi; an extra template sends avi files to the
  * `fail_stub` command, so those tasks land in the DLQ on purpose. Plan
  * skips tasks that are done or queued but not those in the DLQ, so every
  * round re-plans (retries) each earlier avi task, which fails again. */
final class PipelineWorkload(ctx: Ctx) extends Workload(ctx) {
  private val spark = ctx.spark
  private val seed = ctx.args.seed
  private val rnd = new SplittableRandom(seed)
  private val filesPerRound = if (ctx.args.smoke) 12 else 40
  private val depthBound = 3
  private val filter = "ext/mov/mp4/avi"
  // hooks tag "" is the no-op hook set, so the failing command itself runs
  private val aviTemplate = TemplateDef("", Seq("avi"), "graft/avi:1", "fail_stub", 60L)
  private val templates = Templates.registry :+ aviTemplate
  private val bucket = ctx.state(s"bucket/b$seed")
  private val store = Store(ctx.state("store"))
  private val objects = ctx.state("objects")

  private final case class FileGen(rel: String, depth: Int, ext: String)
  private val generated = mutable.ArrayBuffer.empty[FileGen]
  private var round = 0
  private var timedTasks = 0L
  private var expectDone = 0L
  private var expectDlq = 0L
  private var doneRows = 0L
  private var dlqRows = 0L

  // per traced round: (listed entries, resources added, plan tasks, dlq)
  private val keptRatio = mutable.ArrayBuffer.empty[(Double, Double)]
  private val planAdded = mutable.ArrayBuffer.empty[Double]
  private val dlqTotal = mutable.ArrayBuffer.empty[Double]

  private def inBound(f: FileGen) = f.depth <= depthBound
  private def lowerExt(f: FileGen) = f.ext.toLowerCase
  private def isMedia(f: FileGen) = Set("mov", "mp4").contains(lowerExt(f))
  private def isAvi(f: FileGen) = lowerExt(f) == "avi"
  /** Tasks a file fans out to: mov/mp4 → own template + thumb; avi → 1. */
  private def fanOut(f: FileGen): Int =
    if (!inBound(f)) 0 else if (isMedia(f)) 2 else if (isAvi(f)) 1 else 0

  /** Extension mix per 40 files. Every round has exactly this mix, and
    * each extension's files spread evenly over depths 1–4, so all seeds
    * do the same amount of work; the seed decides names, directories,
    * sizes and which file lies at which depth. */
  private val mix = Seq("mov" -> 12, "MOV" -> 4, "mp4" -> 10, "txt" -> 6, "" -> 6, "avi" -> 2)

  private def shuffled[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Land one round of new files, a few hundred bytes each. */
  private def landFiles(n: Int): Seq[FileGen] = {
    val scale = n / mix.map(_._2).sum.toDouble
    val files = mix.flatMap { case (e, w) =>
      shuffled((0 until math.max(1, (w * scale).round.toInt)).map(i => e -> (1 + i % 4)))
    }
    shuffled(files).zipWithIndex.map { case ((ext, depth), i) => land(i, ext, depth) }
  }

  private def land(i: Int, ext: String, depth: Int): FileGen = {
    val dirs = (1 until depth).map(_ => s"d${rnd.nextInt(4)}")
    val name = s"r${round}_f$i" + (if (ext.isEmpty) "" else s".$ext")
    val rel = (dirs :+ name).mkString("/")
    val p = Paths.get(bucket, rel)
    Files.createDirectories(p.getParent)
    val bytes = new Array[Byte](64 + rnd.nextInt(448))
    rnd.nextBytes(bytes)
    Files.write(p, bytes)
    FileGen(rel, depth, ext)
  }

  def generate(): Unit = Files.createDirectories(Paths.get(bucket))

  /** Two untimed rounds: after the first alone, round times are still
    * falling fast while the JIT compiles Spark's scheduling paths. */
  def warmUp(): Unit = (1 to 2).foreach(_ => runRound(traced = false, record = false))

  def nominalCycleS: Double = 4.0

  def step(i: Int, traced: Boolean): Unit = runRound(traced, record = true)

  private def count(path: String): Long =
    Store.readOrEmpty(spark, path, Encoders.product[Task].schema).count()

  private def runRound(traced: Boolean, record: Boolean): Unit = {
    round += 1
    val retries = generated.count(f => inBound(f) && isAvi(f)).toLong
    val fresh = landFiles(filesPerRound)
    generated ++= fresh
    val tr = ctx.tracer
    val out = operate("round", traced, record) {
      val n = tr.layer("ingest.run")(Ingest.run(spark, bucket, filter, depthBound, store))
      val added = tr.layer("plan.run")(Plan.run(spark, store, templates))
      val (ok, bad) = tr.layer("exec.run")(Execute.run(spark, store, objects))
      (n, added, ok, bad)
    }
    out.foreach { case (n, added, ok, bad) =>
      val expectBad = fresh.count(f => inBound(f) && isAvi(f)) + retries
      val expectTasks = fresh.map(fanOut).sum + retries
      expectDone += expectTasks - expectBad
      expectDlq += expectBad
      val c = ctx.checks
      c.expect(n == generated.count(f => inBound(f) && (isMedia(f) || isAvi(f))),
        s"round $round: resource_index has $n rows")
      c.expect(added == expectTasks, s"round $round: plan added $added, expected $expectTasks")
      c.expect(ok == expectTasks - expectBad && bad == expectBad,
        s"round $round: executed ok=$ok failed=$bad, expected ${expectTasks - expectBad}/$expectBad")
      c.expect(count(store.taskQueue) == 0, s"round $round: task_queue not empty")
      val doneNow = count(store.taskDone)
      val dlqNow = count(store.dlq)
      c.expect(doneNow - doneRows == ok && dlqNow - dlqRows == bad,
        s"round $round: done/dlq grew by ${doneNow - doneRows}/${dlqNow - dlqRows}")
      doneRows = doneNow
      dlqRows = dlqNow
      if (record && !traced) timedTasks += ok + bad
      if (traced) {
        val listed = generated.count(inBound).toDouble
        keptRatio += ((fresh.count(f => inBound(f) && (isMedia(f) || isAvi(f))).toDouble, listed))
        planAdded += added.toDouble
        dlqTotal += dlqNow.toDouble
      }
    }
  }

  def finish(): Unit = finalCheck {
    val c = ctx.checks
    import spark.implicits._
    val abs = Paths.get(bucket).toAbsolutePath.normalize.toString
    val want = generated.filter(f => inBound(f) && (isMedia(f) || isAvi(f)))
      .map(f => s"file://$abs/${f.rel}").toSet
    val got = spark.read.schema(Ingest.resourceSchema).parquet(store.resourceIndex)
      .select("url").as[String].collect().toSet
    c.expect(got == want, s"resource_index differs from the generated set " +
      s"(${(got -- want).size} extra, ${(want -- got).size} missing)")
    val dlqUrls = Store.readOrEmpty(spark, store.dlq, Encoders.product[Task].schema)
      .select(col("input.url")).as[String].collect()
    c.expect(dlqUrls.forall(_.toLowerCase.endsWith(".avi")), "a non-avi task is in the DLQ")
    c.expect(dlqUrls.toSet == want.filter(_.toLowerCase.endsWith(".avi")),
      "DLQ urls differ from the in-bound avi files")
    val done = count(store.taskDone)
    c.expect(done == expectDone && dlqUrls.length == expectDlq,
      s"done/DLQ rows $done/${dlqUrls.length}, expected $expectDone/$expectDlq")
    // sampled outputs exist under the object root
    val sample = generated.filter(f => inBound(f) && isMedia(f)).take(8)
    sample.foreach { f =>
      val out = Paths.get(objects, "mirror", "chyme", lowerExt(f), s"b$seed", f.rel, "manifest.mpd")
      val thumb = Paths.get(objects, "mirror", "chyme", "thumb", s"b$seed", f.rel, "thumb.jpg")
      c.expect(Files.exists(out) && Files.exists(thumb), s"missing output for ${f.rel}")
    }
  }

  override def workDone: Double = timedTasks.toDouble

  def report(): Seq[(String, Double, String)] = Seq(
    ("tasks_per_s", timedTasks / ctx.rec.busyS, "1/s"),
    ("round_s", ctx.rec.p50("round") / 1000.0, "s"))

  private def tableFiles(path: String): Double = {
    val d = Paths.get(path)
    if (!Files.isDirectory(d)) 0.0
    else {
      val s = Files.walk(d)
      try s.filter(p => p.toString.endsWith(".parquet")).count().toDouble finally s.close()
    }
  }

  def layers(): Map[String, Double] = {
    val tr = ctx.tracer
    def p50(name: String) = Stats.median(tr.named(name).map(_.ms))
    def jobs(name: String) = Stats.median(tr.named(name).map(s => tr.jobsUnder(s).size.toDouble))
    val execTaskMs = {
      val spans = tr.named("exec.run")
      val runMs = spans.flatMap(tr.stagesUnder).map(_.runMs).sum
      runMs / math.max(1.0, planAdded.sum)
    }
    Map(
      "ingest.run_ms" -> p50("ingest.run"),
      "ingest.kept_ratio" -> keptRatio.map(_._1).sum / math.max(1.0, keptRatio.map(_._2).sum),
      "plan.run_ms" -> p50("plan.run"),
      "plan.tasks_added" -> Stats.median(planAdded.toSeq),
      "exec.run_ms" -> p50("exec.run"),
      "exec.task_ms" -> execTaskMs,
      "exec.dlq" -> dlqTotal.lastOption.getOrElse(0.0),
      "spark.jobs.ingest" -> jobs("ingest.run"),
      "spark.jobs.plan" -> jobs("plan.run"),
      "spark.jobs.exec" -> jobs("exec.run"),
      "store.files.resource_index" -> tableFiles(store.resourceIndex),
      "store.files.task_queue" -> tableFiles(store.taskQueue),
      "store.files.task_done" -> tableFiles(store.taskDone),
      "store.files.dlq" -> tableFiles(store.dlq),
      "store.files.metadata" -> tableFiles(store.metadata))
  }
}
