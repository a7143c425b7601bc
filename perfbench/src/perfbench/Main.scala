package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Entry point of one benchmark run: one workload, one seed, one
  * process, one client thread (closed loop: the next operation is sent
  * only after the previous one returned).
  *
  * Phases: input generation (untimed, excluded from set-up) → untimed
  * warm-up → the timed loop, about `--seconds` of work → end-of-run
  * checks. The result goes to `--out` as JSON; `run.py` turns it into
  * the benchmark's output line. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, state: String, out: String, launchMs: Long,
      smoke: Boolean, cpus: Int)

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("state"), need("out"), need("launch-ms").toLong,
      kv.get("smoke").contains("1"),
      kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = graft.Sessions.local("perfbench", a.cpus.toString)
    val tracer = new Tracer(spark, a.trace)
    val ctx = Ctx(spark, a, tracer, new Recorder, new Checks)
    val wl: Workload = a.workload match {
      case "pipeline" => new PipelineWorkload(ctx)
      case "tables" => new TablesWorkload(ctx)
      case "corpus" => new CorpusWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val result =
      try {
        val sessionS = (System.currentTimeMillis() - a.launchMs) / 1000.0
        val genMs = Clock.timeMs(wl.generate())
        val warmMs = Clock.timeMs(wl.warmUp())
        val setupS = (System.currentTimeMillis() - a.launchMs - genMs) / 1000.0
        ctx.rec.startClock()
        val cycles = math.max(1L, math.round(a.seconds / wl.nominalCycleS)).toInt
        for (i <- 0 until cycles * wl.cycle)
          // traced runs alternate whole cycles traced and untraced
          wl.step(i, traced = tracer.enabled && (i / wl.cycle) % 2 == 0)
        ctx.rec.stopClock()
        val finishMs = Clock.timeMs(wl.finish())
        // the corpus layers are probed in every traced run of the others
        val probe =
          if (tracer.enabled && !wl.isInstanceOf[CorpusWorkload]) new CorpusWorkload(ctx).probe()
          else Map.empty[String, Double]
        Result.build(ctx, wl, setupS, probe, Map("session_s" -> sessionS,
          "generate_s" -> genMs / 1000, "warm_up_s" -> warmMs / 1000, "finish_s" -> finishMs / 1000))
      } finally {
        wl.close()
      }
    Files.write(Paths.get(a.out), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, args: Main.Args, tracer: Tracer,
    rec: Recorder, checks: Checks) {
  def state(sub: String): String = {
    val p = Paths.get(args.state, sub).toAbsolutePath.normalize
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** A closed-loop workload. `step(i)` runs the i-th timed operation and
  * records it; everything a step checks is checked outside its timing. */
abstract class Workload(ctx: Ctx) {
  /** Make the seeded inputs (and age state); excluded from set-up time. */
  def generate(): Unit
  /** Untimed operations, at least one of every kind. */
  def warmUp(): Unit
  /** Operations in one cycle of the workload's mix. */
  def cycle: Int = 1
  /** Seconds one cycle takes on a 4-core box. The timed loop runs
    * `round(--seconds / nominalCycleS)` whole cycles (at least one): a
    * fixed amount of work per `--seconds`, so two commits time the same
    * operations over the same table and tree states — with a time
    * limit, a faster commit would run more cycles and reach larger,
    * slower states. */
  def nominalCycleS: Double
  def step(i: Int, traced: Boolean): Unit
  /** End-of-run checks. */
  def finish(): Unit
  /** End-to-end figures named after the operation they time, for the
    * report (name → (value, unit)). */
  def report(): Seq[(String, Double, String)]
  /** Per-layer figures of this workload (traced runs only). */
  def layers(): Map[String, Double]
  /** Units of work done by untraced timed operations; by default the
    * operations themselves. */
  def workDone: Double = ctx.rec.samples.count(!_.traced).toDouble
  def close(): Unit = ()

  /** Run one operation: count it, time it, trace it when asked, and
    * turn an exception into a failed check. `record` = timed sample. */
  protected def operate[T](kind: String, traced: Boolean = false,
      record: Boolean = true)(body: => T): Option[T] = {
    ctx.rec.attempted += 1
    ctx.checks.currentOp = ctx.rec.attempted
    val t = System.nanoTime()
    try {
      val out = ctx.tracer.op(kind, traced)(body)
      if (record) ctx.rec.add(kind, (System.nanoTime() - t) / 1e6, traced)
      Some(out)
    } catch {
      case scala.util.control.NonFatal(e) =>
        ctx.checks.fail(s"$kind threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** End-of-run checks count as one more operation. */
  protected def finalCheck(body: => Unit): Unit = {
    ctx.rec.attempted += 1
    ctx.checks.currentOp = ctx.rec.attempted
    try body
    catch {
      case scala.util.control.NonFatal(e) =>
        ctx.checks.fail(s"end checks threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }
}

object Clock {
  def timeMs(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6
  }
}
