package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.functions.TextFunctions.tokens
import graft.streaming.StreamingOps
import graft.wordcount.WordCountJob

/** One timed operation: a WordCountJob.run, a query, or a micro-batch. */
final case class Op(name: String, secs: Double, ok: Boolean, error: String = null,
    detail: Map[String, Double] = Map.empty)

/** A correctness verdict; `pass` -1 covers every pass. */
final case class Check(name: String, pass: Int, ok: Boolean, cause: String = null)

final case class PassOut(ops: Seq[Op], extra: Map[String, Double] = Map.empty)

trait Workload {
  def pass(spark: SparkSession, i: Int, t: Tracer): PassOut
  /** Layer-isolating calls, traced runs only. */
  def layers(spark: SparkSession, t: Tracer, ex: ExecListener, pl: PlanListener,
      barrier: () => Unit): Map[String, Double] = Map.empty
  /** Checks the JVM can make itself; the rest run in run.py. */
  def check(spark: SparkSession, passes: Int): Seq[Check] = Seq.empty
  /** Fields added to the result: what run.py's checks need, and the
    * readings of layers measured apart from the passes. */
  def record: Map[String, Any] = Map.empty
}

object Workload {
  /** The first warm pass: run and checked, but kept out of the steady
    * statistics, so its outputs are the ones the checks read. */
  val WarmPass = 1

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def op(name: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    try { body; Op(name, (System.nanoTime() - t0) / 1e9, ok = true) }
    catch { case e: Throwable => Op(name, (System.nanoTime() - t0) / 1e9, ok = false, error = e.toString) }
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def opsRecord(ops: Seq[Op]): Seq[Map[String, Any]] = ops.map(o => Map("name" -> o.name,
    "s" -> o.secs, "ok" -> o.ok, "error" -> o.error, "detail" -> o.detail))

  def checksRecord(cs: Seq[Check]): Seq[Map[String, Any]] =
    cs.map(c => Map("name" -> c.name, "pass" -> c.pass, "ok" -> c.ok, "cause" -> c.cause))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else f.length()

  /** Multiset equality of two small frames, compared on the driver. */
  def sameRows(got: DataFrame, want: DataFrame): Option[String] = {
    def bag(df: DataFrame) = df.collect().groupBy(identity).view.mapValues(_.length).toMap
    val g = bag(got.select(want.columns.toIndexedSeq.map(col): _*))
    val w = bag(want)
    val extra = g.map { case (r, c) => math.max(0, c - w.getOrElse(r, 0)) }.sum
    val missing = w.map { case (r, c) => math.max(0, c - g.getOrElse(r, 0)) }.sum
    if (extra == 0 && missing == 0) None
    else Some(s"$extra rows not in the batch result, $missing batch rows missing")
  }
}

import Workload._

/** The reference pipeline: text lines to a sorted single-file TSV. */
final class WordcountWorkload(in: String, work: String) extends Workload {
  private val outDirs = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]

  def pass(spark: SparkSession, i: Int, t: Tracer): PassOut = {
    val out = s"$work/wc_out/p$i"
    val o = op("wordcount.run")(t("wordcount.run")(WordCountJob.run(spark, in, out)))
    if (o.ok) outDirs += i -> out
    PassOut(Seq(o))
  }

  override def layers(spark: SparkSession, t: Tracer, ex: ExecListener, pl: PlanListener,
      barrier: () => Unit): Map[String, Double] = {
    val reps = 3
    def med(name: String)(body: => Unit): Double =
      median((1 to reps).map(_ => timed(t(name)(body))._2))
    val text = () => spark.read.text(in)
    val scan = med("sources.scan")(noop(text()))
    barrier()
    val gen0 = pl.generatedRows
    val tok = med("functions.tokenize")(noop(text().select(explode(tokens(col("value"))).as("word"))))
    barrier()
    val tokensOut = (pl.generatedRows - gen0) / reps
    val count = med("wordcount.count")(noop(WordCountJob.count(spark, text())))
    val lastRun = t.spans.filter(_.name == "wordcount.run").maxBy(_.id)
    barrier()
    val (_, lastOut) = outDirs.last
    val part = new File(lastOut).listFiles().filter(_.getName.startsWith("part-"))
    val lines = part.map(f => Files.readAllBytes(f.toPath).count(_ == '\n'.toByte).toLong).sum
    Map(
      "sources.scan_s" -> scan,
      "sources.input_mb" -> dirBytes(new File(in)) / 1048576.0,
      "functions.tokenize_s" -> (tok - scan),
      "functions.tokens_out" -> tokensOut.toDouble,
      "wordcount.count_s" -> count,
      "wordcount.sink_tasks" -> ex.lastStageTasks(lastRun.id.toString).toDouble,
      "wordcount.distinct_words" -> lines.toDouble,
      "wordcount.output_mb" -> part.map(_.length).sum / 1048576.0)
  }

  override def record: Map[String, Any] =
    Map("wordcount_outputs" -> outDirs.map { case (i, d) => Map("pass" -> i, "dir" -> d) }.toSeq)
}

/** A fixed, ordered mix of LLM-pipeline curation queries, each
  * materialized full-row through a `noop` sink. */
final class CurationWorkload(dir: String, work: String) extends Workload {
  import CurationWorkload.Mix

  /** Every query to `noop`; the warm pass writes parquet instead, for
    * run.py's oracle comparison. */
  def pass(spark: SparkSession, i: Int, t: Tracer): PassOut =
    PassOut(Mix.map { q =>
      op(s"ops.$q")(t(s"ops.$q") {
        // some queries run jobs while the frame is built (q137 checkpoints
        // every iteration eagerly), so the build is inside the op
        val df = SparkEntry.queries(q)(spark, dir)
        if (i == WarmPass) df.write.mode("overwrite").parquet(s"$work/cur_check/$q") else noop(df)
      })
    })

  private var stream = Map.empty[String, Any]

  /** Memo storage after the passes, then the streaming layer: the ingest
    * twins over `ingest/`, a cold and a steady pass on the warm session. */
  override def layers(spark: SparkSession, t: Tracer, ex: ExecListener, pl: PlanListener,
      barrier: () => Unit): Map[String, Double] = {
    val rdds = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    val storage = Map("ops.storage_mb" -> rdds.map(r => r.memSize + r.diskSize).sum / 1048576.0,
      "ops.cached_frames" -> rdds.length.toDouble)
    val ing = new IngestStreams(s"$dir/ingest", s"$work/ing")
    try {
      val indexS = timed(ing.prepare(spark, t))._2
      val passes = (0 until 2).map { i =>
        val (out, wall) = timed(t("streaming.pass")(ing.pass(spark, i, t)))
        Map("pass" -> i, "wall_s" -> wall, "ops" -> opsRecord(out.ops), "extra" -> out.extra)
      }
      stream = Map("index_build_s" -> indexS, "passes" -> passes,
        "checks" -> checksRecord(ing.check(spark, passes.size)))
    } finally ing.release()
    storage
  }

  /** The mix's oracle SQL, next to the warm pass's outputs. */
  override def check(spark: SparkSession, passes: Int): Seq[Check] = {
    val m = new java.util.LinkedHashMap[String, String]()
    Mix.foreach(q => m.put(q, SparkEntry.oracleSql(q)))
    new File(s"$work/cur_check").mkdirs()
    Files.writeString(Paths.get(s"$work/cur_check/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m))
    Seq.empty
  }

  override def record: Map[String, Any] =
    Map("curation_check_dir" -> s"$work/cur_check", "stream" -> stream)
}

object CurationWorkload {
  /** Dedup and similarity ops that run on documents + embeddings alone:
    * memo-backed (q32 LSH signatures, q48 IVF quantizer), an iterative
    * driver loop with a fixed iteration count (q137), a join-heavy query
    * (q113) and an md5 text kernel (q30). An odd count keeps the median op
    * inside one query's samples (q48's) instead of between two. q147's
    * iteration count depends on the seeded graph (2 to 8 s a pass), and
    * q26, q71, q119, q122, q139, q158 and q174 do not fit a run's time
    * budget at local[4] (q174 alone: 22 s cold). */
  val Mix: Seq[String] = Seq(
    "q30_exact_dedup", "q32_minhash_lsh", "q113_containment_pairs",
    "q137_pagerank", "q48_ivf_ann")
}

/** A file-source stream, one parquet file per trigger, through three
  * ingest twins, each with its own sink and checkpoint. */
final class IngestStreams(dir: String, work: String) {
  import IngestStreams.Surfaces
  private var index: StreamingOps.CorpusDedupIndex = _
  private var grams: DataFrame = _
  private val streamDir = s"$dir/stream"

  def prepare(spark: SparkSession, t: Tracer): Unit = t("streaming.index_build") {
    index = StreamingOps.buildCorpusDedupIndex(spark.read.parquet(s"$dir/corpus.parquet"))
    // the index frames are lazy persists: force them, so set-up pays the build
    (index.exactRep :: index.bucketMin.values.toList).foreach(_.count())
    grams = StreamingOps.buildBenchGramIndex(spark.read.parquet(s"$dir/bench.parquet"))
  }

  def release(): Unit = {
    if (index != null) index.unpersist()
    if (grams != null) grams.unpersist()
  }

  private def start(spark: SparkSession, surface: String, out: String, ck: String): StreamingQuery = {
    val schema = spark.read.parquet(streamDir).schema
    val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(streamDir)
    def parquetSink(df: DataFrame) = df.writeStream.option("checkpointLocation", ck)
      .outputMode("append").format("parquet").option("path", out).start()
    surface match {
      case "quality" => parquetSink(StreamingOps.qualityScoreAtIngest(src))
      case "dedup" => parquetSink(StreamingOps.incrementalDedupStream(src, index))
      case "spans" => StreamingOps.contaminationSpansAtIngest(src, grams, out, ck)
    }
  }

  def pass(spark: SparkSession, i: Int, t: Tracer): PassOut = {
    val results = Surfaces.map { s =>
      val name = s"streaming.$s"
      t(name) {
        val t0 = System.nanoTime()
        try {
          val q = start(spark, s, s"$work/p$i/$s", s"$work/p$i/${s}_ckpt")
          try q.processAllAvailable() finally q.stop()
          val wall = (System.nanoTime() - t0) / 1e9
          val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
            def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
            Op(name, d("triggerExecution"), ok = true, detail = Map(
              "plan_s" -> d("queryPlanning"), "add_batch_s" -> d("addBatch"),
              "wal_s" -> d("walCommit")))
          }
          (batches, Map(s"$s.wall_s" -> wall))
        } catch {
          case e: Throwable =>
            (Seq(Op(name, (System.nanoTime() - t0) / 1e9, ok = false, error = e.toString)), Map.empty[String, Double])
        }
      }
    }
    PassOut(results.flatMap(_._1), results.flatMap(_._2).toMap)
  }

  /** Stream ≡ batch: the last pass's sinks against the same function
    * applied to the whole input as a static frame (q143 for the span
    * reports). A mismatch fails every micro-batch of that surface and pass. */
  def check(spark: SparkSession, passes: Int): Seq[Check] = {
    val static = spark.read.parquet(streamDir)
    val want = Map(
      "quality" -> StreamingOps.qualityScoreAtIngest(static),
      "dedup" -> StreamingOps.incrementalDedupStream(static, index),
      "spans" -> graft.ops.TextOps.q143ContaminationSpans(spark, dir)
        .select("train_doc", "bench_doc", "n_seeds", "longest_run"))
    val i = passes - 1
    Surfaces.map { s =>
      val got = s"$work/p$i/$s"
      val cause = try {
        if (!new File(got).exists()) Some("no sink output")
        else sameRows(spark.read.parquet(got), want(s))
      } catch { case e: Throwable => Some(e.toString) }
      Check(s"streaming.$s", i, cause.isEmpty, cause.orNull)
    }
  }
}

object IngestStreams {
  val Surfaces: Seq[String] = Seq("quality", "dedup", "spans")
}
