package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Bench
import graft.core.GraftSession

/** One benchmark run in one JVM: set-up several times, one cold pass,
  * [[WarmPasses]] warm passes, then steady passes in a closed loop until `--seconds` is
  * spent, and at least [[MinSteady]] of them. A
  * traced run (`--trace 1`) alternates untraced and traced steady passes,
  * with listeners and spans on the traced ones, then makes the
  * layer-isolating calls.
  * Raw readings go to `--out` as JSON; perfbench/run.py turns them into
  * metrics and runs the checks that need DuckDB.
  *
  * Usage: Main --workload W --input DIR --work DIR --seconds S --trace 0|1
  *             --n N --setups K --out FILE
  */
object Main {
  /** Steady passes a run makes even when `--seconds` has run out. Passes
    * still speed up a little after the warm ones, so a run whose speed
    * decides between two and three passes reads a different point of that
    * curve; at three, a curation run (about 4 s a pass) never makes that
    * choice. */
  val MinSteady = 3

  /** Passes after the cold one that are recorded but kept out of the
    * steady statistics. The JIT is still compiling the hot code through
    * them: with one, the first steady pass still read 10-30% slower than
    * the rest and held the slowest op of most runs. */
  val WarmPasses = 2

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val n = a("n").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val w: Workload = workload match {
      case "wordcount" => new WordcountWorkload(a("input") + "/input", work)
      case "curation" => new CurationWorkload(a("input"), work)
    }
    var spark: SparkSession = null
    val t = new Tracer(traced, () => spark)

    // set-up, repeated: the first build in a JVM also pays class loading,
    // so run.py reports the median
    var jitQuietS = 0.0
    val setups = (1 to a("setups").toInt).map { k =>
      val (s, sessionS) = Workload.timed(t("core.session_build")(
        GraftSession.builder(s"perfbench-$workload", s"local[$n]", shufflePartitions = n)
          .getOrCreate()))
      spark = s
      spark.sparkContext.setLogLevel("ERROR")
      if (k < a("setups").toInt) spark.stop()
      // the first set-up leaves the JIT compiling start-up code on every
      // core; the set-ups after it are timed once that has drained
      if (k == 1) jitQuietS = Jvm.awaitJitQuiet()
      sessionS
    }

    val ex = new ExecListener
    val pl = new PlanListener
    var listening = false
    def listen(on: Boolean): Unit = if (on != listening) {
      if (on) { spark.sparkContext.addSparkListener(ex); spark.listenerManager.register(pl) }
      else { spark.sparkContext.removeSparkListener(ex); spark.listenerManager.unregister(pl) }
      listening = on
      t.enabled = on
    }
    def barrier(): Unit = if (listening) {
      val want = ex.markers + 1
      spark.sparkContext.setLocalProperty(Tracer.Key, ExecListener.Marker)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setLocalProperty(Tracer.Key, null)
      val deadline = System.nanoTime() + 10000000000L
      while (ex.markers < want && System.nanoTime() < deadline) Thread.sleep(2)
    }
    listen(traced)

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPass(i: Int): Unit = {
      val load0 = Bench.loadSample()
      val probe0 = Bench.probe(spark)
      barrier()
      val e0 = ex.snapshot(); val p0 = pl.snapshot(); pl.takePeakMb()
      val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs; val cpu0 = Jvm.cpuTicks; val cg0 = Jvm.codegenCompiles
      val ms0 = System.currentTimeMillis()
      t.pass = i
      val (out, wall) = Workload.timed(t("pass")(w.pass(spark, i, t)))
      val ms1 = System.currentTimeMillis()
      val gc1 = Jvm.gcMs; val jit1 = Jvm.jitMs; val cpu1 = Jvm.cpuTicks; val cg1 = Jvm.codegenCompiles
      barrier()
      val rec = mutable.LinkedHashMap[String, Any](
        "pass" -> i, "traced" -> listening, "wall_s" -> wall,
        "ops" -> Workload.opsRecord(out.ops),
        "extra" -> out.extra,
        "gc_s" -> (gc1 - gc0) / 1e3, "jit_s" -> (jit1 - jit0) / 1e3,
        "codegen_classes" -> (cg1 - cg0),
        "probe_before_s" -> probe0, "load_before" -> load0._1, "mem_avail_mb_before" -> load0._2,
        "steal_share" -> (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1))
      if (listening) {
        val e1 = ex.snapshot(); val p1 = pl.snapshot()
        rec("exec") = Map(
          "jobs" -> (e1.jobs - e0.jobs), "stages" -> (e1.stages - e0.stages),
          "tasks" -> (e1.tasks - e0.tasks), "failed_tasks" -> (e1.failedTasks - e0.failedTasks),
          "task_run_s" -> (e1.runMs - e0.runMs) / 1e3, "task_cpu_s" -> (e1.cpuNs - e0.cpuNs) / 1e9,
          "gc_s" -> (e1.gcMs - e0.gcMs) / 1e3,
          "shuffle_write_mb" -> (e1.shWrite - e0.shWrite) / 1048576.0,
          "shuffle_read_mb" -> (e1.shRead - e0.shRead) / 1048576.0,
          "fetch_wait_s" -> (e1.fetchMs - e0.fetchMs) / 1e3,
          "spill_mb" -> (e1.spill - e0.spill) / 1048576.0,
          "job_gap_s" -> ex.jobGapMs(ms0, ms1) / 1e3,
          "stage_skew" -> ex.stageSkew(ms0, ms1))
        rec("plan") = p1.map { case (k, v) => k -> (v - p0.getOrElse(k, 0.0)) } +
          ("plan.peak_mem_mb" -> pl.takePeakMb())
      }
      passes += rec.toMap
    }

    runPass(0)
    (1 to WarmPasses).foreach(runPass)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run alternates untraced and traced steady passes, so the
    // tracing overhead compares passes at the same point of the run
    var k = 0
    while (elapsed < seconds || k < MinSteady) {
      listen(traced && k % 2 == 1)
      runPass(passes.size)
      k += 1
    }
    val probeEnd = Bench.probe(spark)
    val loadEnd = Bench.loadSample()
    val heapMb = Jvm.usedHeapMbAfterGc
    val codeCacheMb = Jvm.codeCacheMb
    // the last steady pass may have been an untraced one
    val layers = if (!traced) Map.empty[String, Double]
      else { listen(true); w.layers(spark, t, ex, pl, () => barrier()) }
    listen(false)
    val (checks, checkS) = Workload.timed(w.check(spark, passes.size))

    val spanExec = ex.bySpan.asScala.map { case (tag, acc) =>
      tag -> Map("jobs" -> acc.jobs, "tasks" -> acc.tasks, "task_run_s" -> acc.runMs / 1e3)
    }.toMap
    val result = Map(
      "workload" -> workload,
      "env" -> Map(
        "n" -> n, "nproc" -> Runtime.getRuntime.availableProcessors(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_driver_mem" -> sys.env.getOrElse("SPARK_DRIVER_MEM", ""),
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")),
      "setups" -> setups, "jit_quiet_wait_s" -> jitQuietS, "warm_passes" -> WarmPasses,
      "passes" -> passes,
      "probe_end_s" -> probeEnd, "load_end" -> loadEnd._1,
      "retained_heap_mb" -> heapMb, "code_cache_mb" -> codeCacheMb,
      "layers" -> layers, "check_s" -> checkS,
      "uptime_s" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3,
      "checks" -> Workload.checksRecord(checks),
      "spans" -> t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "pass" -> s.pass, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "exec" -> spanExec.getOrElse(s.id.toString, Map.empty)))) ++ w.record
    spark.stop()
    Files.writeString(Paths.get(a("out")),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(toJava(result)))
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case (x, y) => java.util.List.of(toJava(x), toJava(y))
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }
}
