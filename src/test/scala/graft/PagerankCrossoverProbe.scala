package graft

import org.apache.spark.sql.functions._
import graft.core.GraftSession
import graft.ops.Dedup

/** MEASUREMENT main (Test/runMain graft.PagerankCrossoverProbe [log2 edges...]):
  * the crossover behind [[Dedup.PagerankDriverMaxRows]]. For synthetic
  * rep graphs of 2^k directed edges (reps = edges / 4, copies 1–3,
  * persisted like the graph memo) it times [[Dedup.pagerankRanks]] on
  * both paths — the guard forced to 0 (distributed steps) and lifted
  * past the graph (driver arrays) — for q137's fixed 3 steps and q147's
  * residual stop, at local[3]. Prints one line per (size, rule) with
  * the median of three runs, the Spark jobs each path ran, and whether
  * the two paths agree bit for bit.
  */
object PagerankCrossoverProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("pagerank-crossover", 3)
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    })
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(12, 15, 18, 20, 21)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    for (k <- sizes) {
      val nReps = (1L << k) / 4
      // two pseudo-random neighbors per rep → ~4 directed edges per rep
      val pairs = spark.range(nReps)
        .select(col("id").as("a"), explode(array(lit(1L), lit(2L))).as("j"))
        .select(col("a"), pmod(xxhash64(col("a"), col("j")), lit(nReps)).as("b"))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("doc_a"),
          greatest(col("a"), col("b")).as("doc_b"))
        .distinct()
      val redges = Dedup.symmetrizeEdges(pairs).repartition(col("doc_a")).persist(lvl)
      val copies = spark.range(nReps)
        .select(col("id").as("rep"), (col("id") % 3 + 1).as("copies"))
      val repInfo = Dedup.pagerankRepInfo(redges, copies).persist(lvl)
      val nEdges = redges.count()
      val n = repInfo.agg(sum("copies")).head().getLong(0)
      for ((rule, iters, tolDiv) <- Seq(("fixed3", 3, None), ("resid", 12, Some(10L)))) {
        def run(guard: Int): (Double, Int, Int, Array[(Long, Long)]) = {
          val runs = (1 to 3).map { _ =>
            System.gc()
            val j0 = jobs
            val t0 = System.nanoTime()
            val (pr, it) = Dedup.pagerankRanks(redges, repInfo, n, iters, tolDiv, guard)
            pr.write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            (sec, jobs - j0, it, pr)
          }
          val last = runs.last
          val ranks = last._4.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
          Dedup.releaseCheckpoint(last._4)
          (runs.map(_._1).sorted.apply(1), last._2, last._3, ranks)
        }
        val (dist, distJobs, distIt, distRanks) = run(0)
        val (drv, drvJobs, drvIt, drvRanks) = run(Int.MaxValue - 1)
        val agree = distIt == drvIt && distRanks.sameElements(drvRanks)
        println(f"edges=2^$k%-2d ($nEdges%8d) reps=$nReps%7d $rule%-6s iters=$drvIt%2d  " +
          f"distributed=$dist%7.3f s ($distJobs%3d jobs)  driver=$drv%7.3f s ($drvJobs%2d jobs)  " +
          f"agree=$agree")
      }
      redges.unpersist(); repInfo.unpersist()
    }
    spark.stop()
  }
}
