package graft

import org.apache.spark.sql.SparkSession

/** The dev probe — NOT a bench. [[Bench]] stays the frozen measurement
  * contract; this main DECOMPOSES per-query wall time into
  * scheduler-visible parts (jobs, stages, tasks, executor task-time sum, GC
  * sum, shuffle bytes) so optimization targets the real cost. Session
  * config matches [[Bench]] exactly so the decomposition explains its
  * numbers. Layer timings of the KG build and dedup live in the
  * benchmark's traced run (`perfbench/run.py --trace 1`), not here.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.BenchExtra [--stages] [--plans dir] [--reps N] [query ...]"
  *
  *   --stages    also print the 12 costliest stages of each run
  *   --plans d   write each query's `explain("formatted")` plan to d/<query>.txt
  *               with run-varying ids normalized (the plan audit behind
  *               PLANS.md; `--reps 0` dumps without running)
  *   --reps N    run each query N times (a steady loop for a JFR recording
  *               passed in through SPARK_GC_OPTS)
  *
  * With no query args, every registered query runs. A query that throws
  * prints `FAILED <name>: <message>` and the rest still run; the process
  * then exits non-zero.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // order-independent flag parse: flags may appear in any order, anywhere
    // before the query names
    var plansDir: Option[String] = None
    var stageDetail = false
    var reps = 1
    var names0 = List.empty[String]
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      case "--plans" :: dir :: tail => plansDir = Some(dir); rest = tail
      case "--stages" :: tail => stageDetail = true; rest = tail
      case "--reps" :: n :: tail => reps = n.toInt; rest = tail
      case q :: tail => names0 = names0 :+ q; rest = tail
      case Nil => ()
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    SparkEntry.prestage(spark, sfDir)
    val ledger = StageLedger.attach(spark.sparkContext)

    val names =
      if (names0.nonEmpty) names0
      else SparkEntry.queries.keys.toSeq.sorted
    val failed = names.filterNot { name =>
      try { probe(spark, sfDir, ledger, name, plansDir, stageDetail, reps); true }
      catch { case e: Throwable =>
        println(s"FAILED $name: ${e.getMessage}")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** A plan string with the tokens that differ between two builds of one
    * plan made stable: expression ids (`#123`), exchange plan ids, generated
    * lambda-variable names (`x_12`), RDD and broadcast ids
    * (`MapPartitionsRDD[45]`, `Broadcast(7)`), identity hashes of array
    * literals (`[D@1b2c3d`) and the random suffix of `graft-*` temp dirs —
    * so two runs of one tree dump byte-identical files and a diff between
    * trees shows only plan changes.
    */
  private[graft] def normalizedPlan(plan: String): String =
    plan.replaceAll("#\\d+", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("\\b([xy])_\\d+\\b", "$1_N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("Broadcast\\(\\d+\\)", "Broadcast(N)")
      .replaceAll("\\[([A-Z])@[0-9a-f]+", "[$1@N")
      .replaceAll("(graft-[a-z-]+?)\\d+", "$1N")

  private def probe(spark: SparkSession, sfDir: String, ledger: StageLedger,
      name: String, plansDir: Option[String], stageDetail: Boolean, reps: Int): Unit = {
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
    plansDir.foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, s"$name.txt"), normalizedPlan(plan))
    }
    (1 to reps).foreach { _ =>
      spark.catalog.clearCache()
      val ((n, wall), s) = ledger.span(name) {
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[extra] $name%-36s wall=$wall%7.2f s rows=$n%7d " +
        f"jobs=${s.jobs}%3d stages=${s.stages.size}%4d tasks=${s.tasks}%5d " +
        f"taskSum=${s.taskRunMs / 1000.0}%8.2f s gc=${s.gcMs / 1000.0}%6.2f s " +
        f"shufR=${s.shuffleReadBytes / 1e6}%8.1f MB shufW=${s.shuffleWriteBytes / 1e6}%8.1f MB")
      if (stageDetail)
        s.stages.sortBy(-_.taskMetrics.executorRunTime).take(12).foreach { i =>
          // the short name is usually the AQE pool callsite; the long-form
          // details carry the user stack — surface the first graft frame
          val site = i.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("BenchExtra") && !l.contains("StageLedger"))
            .getOrElse(i.name).trim
          println(f"[stage]   ${i.taskMetrics.executorRunTime / 1000.0}%7.2f s  ${i.numTasks}%4d tasks  " +
            site.take(110))
        }
    }
  }
}
