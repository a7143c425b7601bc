package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{broadcast, call_function, col, lit, typedLit}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `corpus`: repeated passes over the batch LLM-data queries, through
  * `SparkEntry.queries(name)`, over a seeded corpus shaped like the
  * sf fixtures (FIXTURES.md): `documents` with planted near-duplicate families and
  * `embeddings` drawn around ten label centroids with small noise.
  *
  * The untimed warm-up pass writes each query's result as parquet; after
  * the run, `oracle.py` compares them with the query's declared DuckDB
  * oracle SQL over the same generated inputs. Timed passes force each
  * query with a no-op write, as `graft.Bench` does. */
final class CorpusWorkload(ctx: Ctx) extends Workload(ctx) {
  private val spark = ctx.spark
  private val rnd = new SplittableRandom(ctx.args.seed)
  private val nDocs = if (ctx.args.smoke) 300 else 1000
  private val nEmb = if (ctx.args.smoke) 200 else 400
  private val dim = 64

  /** Query families; each family's figure is its queries' summed time.
    * One query per family keeps a run (cold pass included) inside the
    * benchmark's per-run budget. */
  val families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("dedup_minhash_lsh"),
    "sim" -> Seq("ann_ivf_pq_residual_refine"),
    "text" -> Seq("text_quality"),
    "curation" -> Seq("corpus_curation"))
  private val queries = families.flatMap(_._2)
  private val dir = ctx.state("corpus/in")
  private val outDir = ctx.state("corpus/out")
  private val run = graft.SparkEntry.queries
  private val passes = mutable.ArrayBuffer(mutable.LinkedHashMap.empty[String, Double])

  private val vocab = ("the a data spark table query value key row column filter group sort " +
    "join hash scan stream batch window merge order part line agg vector big small fast " +
    "slow customer index shard token model train eval").split(' ').toIndexedSeq
  private val langs = Seq("en" -> 41, "zh" -> 15, "de" -> 14, "fr" -> 15, "es" -> 15)

  private def pick(ws: Seq[(String, Int)]): String = {
    var r = rnd.nextInt(ws.map(_._2).sum)
    ws.find { case (_, w) => r -= w; r < 0 }.get._1
  }

  def generate(): Unit = {
    // documents: ~12 % are near-copies (1–3 words replaced) of an earlier one
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    val docs = (0 until nDocs).map { i =>
      val words =
        if (i > 0 && rnd.nextInt(100) < 12) {
          val w = texts(rnd.nextInt(i)).clone()
          (1 to 1 + rnd.nextInt(3)).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size)))
          w
        } else Array.fill(8 + rnd.nextInt(83))(vocab(rnd.nextInt(vocab.size)))
      texts += words
      val text = words.mkString(" ")
      Row(i.toLong, text, pick(langs), s"src${rnd.nextInt(20)}", text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    write(docs, docSchema, "documents")

    val centroids = Array.fill(10, dim)((rnd.nextDouble() * 2 - 1) * 0.2)
    val embs = (0 until nEmb).map { i =>
      val label = rnd.nextInt(10)
      val v = centroids(label).map(c => (c + (rnd.nextDouble() * 2 - 1) * 0.05).toFloat)
      Row(i.toLong, v.toSeq, label)
    }
    val embSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    write(embs, embSchema, "embeddings")
  }

  private def write(rows: Seq[Row], schema: StructType, name: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** The warm-up pass writes each result for the oracle check. */
  def warmUp(): Unit = {
    queries.foreach { q =>
      operate(q, record = false) {
        run(q)(spark, dir).write.mode("overwrite").parquet(s"$outDir/$q")
      }
    }
    val oracle = graft.SparkEntry.oracleSql
    Files.write(Paths.get(outDir, "oracle_sql.json"),
      Json.obj(queries.map(q => q -> Json.str(oracle.getOrElse(q, ""))))
        .getBytes(StandardCharsets.UTF_8))
  }

  override def cycle: Int = queries.size
  def nominalCycleS: Double = 4.0

  def step(i: Int, traced: Boolean): Unit = {
    val q = queries(i % queries.size)
    val t = System.nanoTime()
    operate(q, traced) {
      ctx.tracer.layer(s"query.$q") {
        run(q)(spark, dir).write.format("noop").mode("overwrite").save()
      }
    }.foreach { _ =>
      if (passes.last.contains(q)) passes += mutable.LinkedHashMap.empty
      passes.last(q) = (System.nanoTime() - t) / 1e9
    }
  }

  def finish(): Unit = finalCheck {
    ctx.checks.expect(passes.exists(_.size == queries.size), "no complete timed pass")
    if (ctx.tracer.enabled) timeKernels()
  }

  private def complete = passes.filter(_.size == queries.size).toSeq

  def report(): Seq[(String, Double, String)] = families.map { case (f, qs) =>
    (s"${f}_s", Stats.median(complete.map(p => qs.map(p).sum)), "s")
  }

  private val kernelRates = mutable.LinkedHashMap.empty[String, Double]

  /** Each native kernel over the corpus replicated `copies` times and
    * spread over every core, forced with a no-op write; median of three,
    * after one untimed call. */
  private def timeKernels(): Unit = {
    val copies = 20
    def rep(name: String) = spark.range(0, copies, 1, ctx.args.cpus).toDF("copy")
      .crossJoin(broadcast(graft.Tables.load(spark, dir, name)))
    val docs = rep("documents")
    val embs = rep("embeddings")
    val cb = graft.Tables.load(spark, dir, "embeddings").orderBy("vec_id").limit(16)
      .select(col("embedding").cast("array<double>")).collect().map(_.getSeq[Double](0)).toSeq
    val kernels: Seq[(String, DataFrame, Long)] = Seq(
      ("graft_word_shingles", docs.selectExpr("graft_word_shingles(text, 3) AS x"), nDocs),
      ("graft_minhash_bands", docs.selectExpr("graft_minhash_bands(text, 2, 12, 4) AS x"), nDocs),
      ("graft_rolling_fp", docs.selectExpr("graft_rolling_fp(text, 5) AS x"), nDocs),
      ("graft_pq_encode", embs.select(call_function("graft_pq_encode",
        col("embedding").cast("array<double>"), typedLit(cb), lit(4)).as("x")), nEmb),
      ("graft_cosine", embs.selectExpr("graft_cosine(embedding, embedding) AS x"), nEmb))
    kernels.foreach { case (k, df, n) =>
      def force(): Unit = df.write.format("noop").mode("overwrite").save()
      force()
      val ms = Stats.median((1 to 3).map(_ => Clock.timeMs(force())))
      kernelRates(k) = n * copies / 1e6 / (ms / 1000.0)
    }
  }

  /** Layer probe for the traced run of another workload: the corpus
    * queries' stage figures (second of two passes, traced) and the
    * kernels' rows/s, over this workload's generated inputs. */
  def probe(): Map[String, Double] = {
    generate()
    for (pass <- 1 to 2; q <- queries)
      operate(q, traced = pass == 2, record = false) {
        ctx.tracer.layer(s"query.$q") {
          run(q)(spark, dir).write.format("noop").mode("overwrite").save()
        }
      }
    timeKernels()
    layers()
  }

  def layers(): Map[String, Double] = {
    val tr = ctx.tracer
    val perQuery = queries.flatMap { q =>
      val spans = tr.named(s"query.$q")
      def med(f: tr.Span => Double) = Stats.median(spans.map(f))
      Seq(
        s"$q.s" -> med(_.ms / 1000.0),
        s"$q.stages" -> med(s => tr.stagesUnder(s).size.toDouble),
        s"$q.task_s" -> med(s => tr.stagesUnder(s).map(_.runMs).sum / 1000.0),
        s"$q.shuffle_mb" -> med(s => tr.stagesUnder(s).map(_.shuffleBytes).sum / 1e6),
        s"$q.skew" -> med { s =>
          val st = tr.stagesUnder(s).filter(_.taskMs.nonEmpty)
          if (st.isEmpty) Double.NaN
          else {
            val slowest = st.maxBy(x => x.end - x.start)
            slowest.taskMs.max / math.max(1.0, Stats.median(slowest.taskMs))
          }
        })
    }
    perQuery.toMap ++ kernelRates.map { case (k, r) => s"functions.$k.mrows_per_s" -> r }
  }
}
