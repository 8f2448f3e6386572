package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.kg.emit.TableIO
import graft.perfbench.Workload.timed

/** Benchmark entry point; see perfbench/WORKLOADS.md.
  *
  * {{{
  * Main --workload <kg_build|dedup_batch> --seed <n>
  *      --seconds <s> --trace <0|1> --work <scratch dir>
  *      --data <dir holding the sf0.1 documents.parquet>
  * }}}
  *
  * Untraced (`--trace 0`): set up `SetupReps` times (median reported as
  * `setup_s`), compute the output check's reference, run one discarded
  * warm-up operation, then timed operations
  * until `--seconds` have passed. Every operation's output is checked outside
  * its timed region.
  *
  * Traced (`--trace 1`): set up every workload once, run every workload's
  * layers one by one under the ledger, then time `KgBuild.probe` in
  * `OverheadPairs` alternating pairs without and with a ledger attached (the
  * median difference is `trace.overhead_s`).
  *
  * The last stdout line is the result JSON.
  */
object Main {

  val SetupReps = 3
  val OverheadPairs = 5

  final case class Metric(name: String, value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Workload.Names.contains(workload), s"unknown workload '$workload'")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val work = opts("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val env = Env(spark, work, opts("data"), opts("seed").toLong, cores)
    val (metrics, attempts) =
      try {
        if (opts("trace") == "1") traced(env)
        else untraced(env, Workload(workload, env), opts("seconds").toDouble)
      } finally spark.stop()
    val failed = attempts.count(!_.ok)
    val body = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${attempts.nonEmpty && failed == 0}, "attempted": ${attempts.size}, """ +
      s""""failed": $failed, "metrics": {${body.mkString(", ")}}}""")
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Runs `op`, recording a thrown exception as a failed attempt. */
  private def attempt(op: => Attempt): Attempt =
    try op catch { case e: Exception =>
      System.err.println(s"[perfbench] operation failed: $e")
      Attempt(Double.NaN, 0L, ok = false)
    }

  private def setupDir(env: Env, w: String): String = env.freshDir(s"setup-$w")

  /** Runs one phase of the traced run and reports its wall time. */
  private def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally println(f"[perfbench] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  def untraced(env: Env, w: Workload, seconds: Double): (Seq[Metric], Seq[Attempt]) = {
    val setups = (1 to SetupReps).map { i =>
      val dir = setupDir(env, w.name)
      val (_, secs) = timed(w.setup(dir))
      if (i < SetupReps) TableIO.deleteTree(dir)
      secs
    }
    val (_, refSecs) = timed(w.reference())
    // the first operation in a JVM runs ~1.6x slower (JIT, codegen caches):
    // it is run once here and discarded, charged to neither setup_s nor ops
    val warm = attempt(w.op())
    val attempts = Seq.newBuilder[Attempt]
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) attempts += attempt(w.op())
    val all = attempts.result()
    val ok = all.filter(_.ok)
    val perSec = median(ok.map(a => a.items / a.seconds))
    def secs(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    println(s"[perfbench] ${ok.size} ops of ${ok.headOption.map(_.items).getOrElse(0L)} " +
      s"${w.itemsName}, seconds ${secs(all.map(_.seconds))}; warm-up ${secs(Seq(warm.seconds))}; " +
      s"reference ${secs(Seq(refSecs))}; set-up seconds ${secs(setups)}")
    (Seq(
      Metric("items_per_s", perSec, "1/s"),
      Metric("setup_s", median(setups), "s")), all)
  }

  val Fields: Seq[(String, String, Ledger#Row => Double)] = Seq(
    ("wall_s", "s", _.wallS),
    ("jobs", "count", _.jobs.toDouble),
    ("tasks", "count", _.tasks.toDouble),
    ("exec_run_s", "s", _.execRunMs / 1000.0),
    ("gc_frac", "frac", r => if (r.execRunMs == 0) 0.0 else r.gcMs.toDouble / r.execRunMs),
    ("shuffle_write_mb", "MB", _.shuffleWriteBytes / 1048576.0),
    ("spill_mb", "MB", _.spillBytes / 1048576.0),
    ("idle_core_frac", "frac", _.idleCoreFrac),
    ("rows_out", "count", _.rowsOut.toDouble))

  val Layers: Seq[String] = Seq(
    "kg.extract.candidates", "kg.link.titles", "kg.Pipeline.triples_raw", "kg.emit.commit",
    "kg.canon.surfaces", "ops.Dedup.collapse", "ops.Dedup.shingles", "ops.Dedup.lsh",
    "ops.Dedup.verify", "kg.canon.cc", "ops.IncrementalDedup.fold",
    "ops.IncrementalDedup.decision")

  /** Every traced run reports every layer, so it runs both workloads' layer
    * passes whichever workload it names.
    */
  def traced(env: Env): (Seq[Metric], Seq[Attempt]) = {
    val sc = env.spark.sparkContext
    val kg = new KgBuild(env)
    val all = Seq(kg, new DedupBatch(env))
    all.foreach(w => phase(s"setup ${w.name}")(w.setup(setupDir(env, w.name))))
    // the layer pass runs first and doubles as the JVM warm-up of the pairs
    val layered = new Ledger(sc, env.cores)
    sc.addSparkListener(layered)
    val checks = all.flatMap(w => phase(s"layers of ${w.name}")(w.trace(layered)))
    sc.removeSparkListener(layered)

    // the same layer call, alternately without and with a ledger attached,
    // after one unpaired call (the first after the layer pass runs slower)
    kg.probe()
    val overheads = (1 to OverheadPairs).map { _ =>
      val (_, plain) = timed(kg.probe())
      val ledger = new Ledger(sc, env.cores)
      sc.addSparkListener(ledger)
      val (_, traced) = timed(ledger.span("probe")(kg.probe()))
      sc.removeSparkListener(ledger)
      traced - plain
    }
    println(s"[perfbench] overhead pairs (s): ${overheads.map(x => f"$x%.4f").mkString(" ")}")
    val layerMetrics = for {
      layer <- Layers
      r = layered.row(layer)
      (field, unit, value) <- Fields
    } yield Metric(s"$layer.$field", value(r), unit)
    val ratioMetrics = all.flatMap(_.ratios).map { case (n, v) =>
      Metric(n, v, if (n.endsWith("buckets")) "count" else "frac")
    }
    val traceAttempts = checks.map(ok => Attempt(Double.NaN, 0L, ok))
    (layerMetrics ++ ratioMetrics ++ Seq(
      Metric("trace.live_heap_mb", Ledger.liveHeapMb(), "MB"),
      Metric("trace.overhead_s", median(overheads), "s")),
      traceAttempts)
  }
}
