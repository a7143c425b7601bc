package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into the program's layers, plus
  * the Spark jobs and stages those calls ran.
  *
  * A traced operation gets a root span named after its kind and an op
  * id; `sc.setJobGroup(opId)` tags every job it starts. Each call into a
  * layer (`layer("ingest.run")`) is a child span. After the operation
  * the listener bus is drained and each job of the op becomes a
  * `spark.job` span under the innermost layer span that was open when
  * it started. Spans stay in memory and are written out at the end.
  * Times are epoch milliseconds. Disabled, every method just runs its
  * body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String, op: String,
      start: Double, end: Double, attrs: Map[String, Double]) {
    def ms: Double = end - start
  }

  final case class StageRec(numTasks: Int, runMs: Double, shuffleBytes: Double,
      taskMs: Seq[Double], start: Double, end: Double)

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var open = List.empty[(Long, String, Double)]
  private var curOp: String = null
  private var opSeq = 0

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private final case class JobRec(group: String, start: Double,
      stageIds: Seq[Int], var end: Double)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val taskMs = new ConcurrentHashMap[Int, java.util.List[Double]]()
  private val jobStages = mutable.HashMap.empty[Long, Seq[StageRec]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).orNull
      jobs.put(e.jobId, JobRec(g, e.time.toDouble, e.stageIds, Double.NaN))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        taskMs.computeIfAbsent(e.stageId,
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Double]()))
          .add(e.taskInfo.duration.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val (run, sh) =
        if (m == null) (0.0, 0.0)
        else (m.executorRunTime.toDouble,
          (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten).toDouble)
      val ts = Option(taskMs.remove(i.stageId)).map(_.asScala.toSeq).getOrElse(Seq.empty)
      stages.put(i.stageId, StageRec(i.numTasks, run, sh, ts,
        i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble))
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** One closed-loop operation; traced ones become a root span. */
  def op[T](kind: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      opSeq += 1
      val opId = s"op-$opSeq"
      curOp = opId
      sc.setJobGroup(opId, kind, interruptOnCancel = false)
      val rootId = nextId
      try span(kind)(body)
      finally {
        sc.clearJobGroup()
        org.apache.spark.PerfbenchBus.drain(sc)
        attachJobs(opId, rootId)
        curOp = null
      }
    }

  /** A call into one layer of the program, inside a traced operation. */
  def layer[T](name: String)(body: => T): T =
    if (curOp == null) body else span(name)(body)

  private def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0L)
    open = (id, name, nowMs) :: open
    try body
    finally {
      val (_, _, start) = open.head
      open = open.tail
      spans += Span(id, parent, name, curOp, start, nowMs, Map.empty)
    }
  }

  private def attachJobs(opId: String, rootId: Long): Unit = {
    val mine = spans.filter(s => s.op == opId && s.name != "spark.job").toSeq
    jobs.asScala.toSeq.filter(_._2.group == opId).sortBy(_._1).foreach { case (jid, j) =>
      // innermost (latest-starting) span open when the job started
      val parent = mine.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(-_.start).headOption.map(_.id).getOrElse(rootId)
      val st = j.stageIds.flatMap(s => Option(stages.get(s)))
      jobStages(nextId) = st
      spans += Span(nextId, parent, "spark.job", opId, j.start,
        if (j.end.isNaN) j.start else j.end,
        Map("job_id" -> jid.toDouble, "stages" -> st.size.toDouble,
          "task_ms" -> st.map(_.runMs).sum,
          "shuffle_bytes" -> st.map(_.shuffleBytes).sum))
      nextId += 1
      jobs.remove(jid)
    }
  }

  // ── queries over the recorded spans ────────────────────────────────

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def childrenOf(id: Long): Seq[Span] = spans.filter(_.parent == id).toSeq

  def descendants(s: Span): Seq[Span] = {
    val kids = childrenOf(s.id)
    kids ++ kids.flatMap(descendants)
  }

  def jobsUnder(s: Span): Seq[Span] = descendants(s).filter(_.name == "spark.job")

  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Double = {
    val iv = childrenOf(s.id).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) { if (!cs.isNaN) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (!cs.isNaN) covered += ce - cs
    s.ms - covered
  }

  /** Stage records of the jobs under a span. */
  def stagesUnder(s: Span): Seq[StageRec] =
    jobsUnder(s).flatMap(j => jobStages.getOrElse(j.id, Seq.empty))

  /** Per layer: median self time per call (ms), over all traced ops. */
  def selfByLayer: Map[String, Double] =
    spans.filter(s => s.name != "spark.job" && s.parent != 0).groupBy(_.name)
      .map { case (n, ss) => n -> Stats.median(ss.map(selfMs).toSeq) }

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""op":${Json.str(s.op)},"start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},""" +
        s""""attrs":${Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) })}}""" + "\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
