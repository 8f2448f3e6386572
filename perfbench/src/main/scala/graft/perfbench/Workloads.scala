package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ScalingBench
import graft.kg.Pipeline
import graft.kg.canon.ConnectedComponents
import graft.kg.emit.TableIO
import graft.kg.extract.Extractors
import graft.kg.graph.GraphOps
import graft.kg.io.SyntheticCorpus
import graft.kg.link.Linking
import graft.ops.{Dedup, IncrementalDedup}

/** What one run shares: the session, its own scratch directory, the seed,
  * and `data`, the directory holding the sf0.1 `documents.parquet`.
  */
final case class Env(spark: SparkSession, work: String, data: String, seed: Long, cores: Int) {
  private var n = 0
  def freshDir(tag: String): String = { n += 1; s"$work/$tag-$n" }
}

/** One timed operation: its seconds, the work items it completed, and
  * whether its output check (run outside the timed region) passed.
  */
final case class Attempt(seconds: Double, items: Long, ok: Boolean)

/** A workload: `setup` builds its inputs under a directory (repeatable),
  * `op` runs one timed operation and checks its output, `trace` runs the
  * layers it exercises one by one under the ledger and returns its checks.
  */
trait Workload {
  def env: Env
  def name: String
  def itemsName: String
  def setup(dir: String): Unit
  def op(): Attempt
  /** Computes what the output checks compare against, before any timing. */
  def reference(): Unit = ()
  def trace(ledger: Ledger): Seq[Boolean]
  /** Per-layer ratio metrics of the last trace, by full metric name. */
  def ratios: Seq[(String, Double)]

  protected def spark: SparkSession = env.spark

  /** Eager DISK_ONLY checkpoint: forces a layer's output inside its span and
    * makes it the materialized input of the next layer.
    */
  protected def pin(df: DataFrame): DataFrame = GraphOps.pin(df)

  /** Runs a layer under `ledger` with its output pinned; records rows out. */
  protected def layer(ledger: Ledger, span: String)(body: => DataFrame): DataFrame = {
    val out = ledger.span(span)(pin(body))
    ledger.row(span).rowsOut += out.count()
    out
  }
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Rows of the sf0.1 `documents` table; the generators' doc_ids are
    * `doc_id * repl + r` over it, so they fill [0, SourceDocs * repl).
    */
  val SourceDocs = 5000L

  val Names: Seq[String] = Seq("kg_build", "dedup_batch")

  def apply(name: String, env: Env): Workload = name match {
    case "kg_build" => new KgBuild(env)
    case "dedup_batch" => new DedupBatch(env)
  }
}

/** `kg_build`: postings table -> `Pipeline.allTriplesRaw` ->
  * `TableIO.writeTriplesDeduped` -> `Pipeline.canonicalSurfaces`, the
  * composition `ScalingBench` times.
  */
final class KgBuild(val env: Env) extends Workload {
  val name = "kg_build"
  val Repl = 1
  val itemsName = "triples"

  private var postingsDir = ""
  private lazy val gaz = Pipeline.defaultGazetteers(spark)
  private def postings: DataFrame = spark.read.parquet(postingsDir)

  def setup(dir: String): Unit = {
    val docs = ScalingBench.replicatedDocs(spark, env.data, Repl, env.cores)
    SyntheticCorpus.fromDocuments(
      Inputs.permuted(docs, Inputs.Bijection(env.seed, Workload.SourceDocs * Repl)))
      .write.mode("overwrite").parquet(s"$dir/postings")
    postingsDir = s"$dir/postings"
    gaz.prep
  }

  /** (pred, bucket) -> (rows, checksum) of `Pipeline.allTriplesMultiPass`
    * on the same postings, in the store's bucket layout and checksum.
    */
  private lazy val expected: Map[(String, Int), (Long, Long)] =
    Pipeline.allTriplesMultiPass(postings, gaz)
      .withColumn("bucket", TableIO.bucketCol(TableIO.BucketsDefault))
      .groupBy(col("pred"), col("bucket"))
      .agg(count(lit(1)), sum(hash(col("subj"), col("obj")).cast("long")))
      .collect().map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3)))).toMap

  override def reference(): Unit = expected

  private def matches(manifests: Seq[graft.kg.emit.PartitionManifest]): Boolean =
    manifests.map(m => ((m.pred, m.bucket), (m.rows, m.checksum))).toMap == expected

  def op(): Attempt = {
    val out = env.freshDir("store")
    val (manifests, secs) = Workload.timed {
      val m = TableIO.writeTriplesDeduped(spark, Pipeline.allTriplesRaw(postings, gaz), out)
      Pipeline.canonicalSurfaces(Extractors.textSpans(postings), gaz.titles)
        .write.format("noop").mode("overwrite").save()
      m
    }
    TableIO.deleteTree(out)
    Attempt(secs, manifests.map(_.rows).sum, matches(manifests))
  }

  private var acceptFrac, dedupFrac = 0.0
  def ratios: Seq[(String, Double)] = Seq(
    "kg.link.titles.accept_frac" -> acceptFrac,
    "kg.emit.commit.dedup_frac" -> dedupFrac)

  private var titleCands: DataFrame = _
  /** One short layer call (`kg.link.titles`) on the title candidates the
    * last trace materialized; timed with and without a ledger for
    * `trace.overhead_s`.
    */
  def probe(): Unit =
    Linking.linkCandidates(titleCands, gaz.titles).write.format("noop").mode("overwrite").save()

  def trace(ledger: Ledger): Seq[Boolean] = {
    val spans = pin(Extractors.textSpans(postings))
    val cands = layer(ledger, "kg.extract.candidates")(Extractors.candidates(
      spans, gaz.prep.mentionTwoGramKinds, gaz.mentionDims.map(_._1)))

    titleCands = pin(cands.where(col("ctype") === "title")
      .select(col("doc_id"), col("payload").as("candidate"), col("offset")))
    val linked = layer(ledger, "kg.link.titles")(Linking.linkCandidates(titleCands, gaz.titles))
    acceptFrac = linked.select(col("doc_id"), col("offset")).distinct().count().toDouble /
      math.max(1L, titleCands.count())

    val raw = layer(ledger, "kg.Pipeline.triples_raw")(Pipeline.allTriplesRaw(postings, gaz))
    val out = env.freshDir("store")
    val manifests = ledger.span("kg.emit.commit")(TableIO.writeTriplesDeduped(spark, raw, out))
    TableIO.deleteTree(out)
    val committed = manifests.map(_.rows).sum
    ledger.row("kg.emit.commit").rowsOut += committed
    dedupFrac = 1.0 - committed.toDouble / math.max(1L, raw.count())

    layer(ledger, "kg.canon.surfaces")(Pipeline.canonicalSurfaces(spans, gaz.titles))
    Seq(matches(manifests))
  }
}

/** `dedup_batch`: `Dedup.dupClusters` at the production 16x2 geometry over
  * the family-structured `ScalingBench.dedupStressCorpus`. Its trace also
  * drives `IncrementalDedup` over a seeded base/shard split of the corpus.
  */
final class DedupBatch(val env: Env) extends Workload {
  val name = "dedup_batch"
  val Repl = 4
  val itemsName = "docs"

  /** Dup count and cluster-size histogram (size -> clusters, sizes >= 2) of
    * `dupClusters(16x2)` on this corpus, as measured. Each sf0.1 doc gives an
    * exact copy, a one-token near-dup and two copies with every third token
    * replaced; the larger clusters come from sf0.1 texts that are themselves
    * near-duplicates. Both values depend on text only, not on doc_ids, so
    * they hold for every seed.
    */
  val PinnedDups = 5732L
  val PinnedHistogram: Map[Long, Long] =
    Map(2L -> 4969L, 3L -> 18L, 4L -> 225L, 6L -> 9L, 8L -> 1L)

  /** Incremental probe on half the corpus: of 1000 seeded hash parts of the
    * doc_id, parts below 450 form the committed base and parts 450 to 499
    * one daily shard. One fold on half the corpus is what fits the traced
    * run's time limit.
    */
  val BaseParts = 450
  val ShardParts = 50

  private var dir = ""
  private def corpus: DataFrame = spark.read.parquet(s"$dir/corpus")
  private var nDocs = 0L

  def setup(d: String): Unit = {
    dir = d
    Inputs.permuted(ScalingBench.dedupStressCorpus(spark, env.data, Repl, env.cores),
      Inputs.Bijection(env.seed, Workload.SourceDocs * Repl))
      .write.mode("overwrite").parquet(s"$dir/corpus")
    nDocs = corpus.count()
  }

  def op(): Attempt = {
    val out = env.freshDir("decisions")
    val (_, secs) = Workload.timed(Dedup.dupClusters(corpus, bands = 16, rows = 2)
      .write.mode("overwrite").parquet(out))
    val dec = spark.read.parquet(out)
    val r = dec.agg(count(lit(1)), sum(col("is_dup"))).head()
    val hist = dec.groupBy(col("keep_id")).count().where(col("count") >= 2)
      .groupBy(col("count")).count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    TableIO.deleteTree(out)
    val ok = r.getLong(0) == nDocs && r.getLong(1) == PinnedDups && hist == PinnedHistogram
    if (!ok) System.err.println(s"[perfbench] dedup_batch check failed: docs ${r.getLong(0)} " +
      s"of $nDocs, dups ${r.getLong(1)}, histogram ${hist.toSeq.sorted.mkString(" ")}")
    Attempt(secs, r.getLong(0), ok)
  }

  private var repsFrac, capDropped, precision = 0.0
  def ratios: Seq[(String, Double)] = Seq(
    "ops.Dedup.collapse.reps_frac" -> repsFrac,
    "ops.Dedup.lsh.cap_dropped_buckets" -> capDropped,
    "ops.Dedup.verify.precision" -> precision)

  def trace(ledger: Ledger): Seq[Boolean] = {
    val docs = pin(corpus)
    val reps = ledger.span("ops.Dedup.collapse") {
      val (r, m) = Dedup.exactCollapse(docs)
      pin(m)
      pin(r)
    }
    val nReps = reps.count()
    ledger.row("ops.Dedup.collapse").rowsOut += nReps
    repsFrac = nReps.toDouble / math.max(1L, docs.count())

    val sh = layer(ledger, "ops.Dedup.shingles")(
      Dedup.shingles(reps.select(col("rep_id").as("doc_id"), col("text"))))
    val maxBucket = 1000
    val cands = layer(ledger, "ops.Dedup.lsh")(
      Dedup.lshCandidates(sh, 16, 2, portable = false, maxBucket))
    capDropped = Dedup.bandBuckets(sh, 16, 2, portable = false)
      .groupBy(col("band"), col("bucket")).count()
      .where(col("count") > maxBucket).count().toDouble
    val pairs = layer(ledger, "ops.Dedup.verify")(Dedup.verifyJaccard(cands, sh, 1, 2))
    precision = pairs.count().toDouble / math.max(1L, cands.count())
    layer(ledger, "kg.canon.cc")(ConnectedComponents.run(
      pairs.select(col("a").as("src"), col("b").as("dst"))))

    Seq(incremental(ledger))
  }

  /** Commits the base state, folds the shard with `commitIncrement` and
    * reads `decisionAsOf`. Checks the decision against `dupClusters` (32x1,
    * the incremental geometry) on base ∪ shard: the documented incremental ≡
    * from-scratch identity.
    */
  private def incremental(ledger: Ledger): Boolean = {
    val parts = corpus.withColumn("part", Inputs.part(env.seed))
    parts.where(col("part") < BaseParts).drop("part")
      .write.mode("overwrite").parquet(s"$dir/inc_base")
    parts.where(col("part") >= BaseParts && col("part") < BaseParts + ShardParts).drop("part")
      .write.mode("overwrite").parquet(s"$dir/inc_shard")
    val base = spark.read.parquet(s"$dir/inc_base")
    val shard = spark.read.parquet(s"$dir/inc_shard")
    val state = s"$dir/inc_state"
    IncrementalDedup.commitState(spark, base, state)
    ledger.span("ops.IncrementalDedup.fold")(
      IncrementalDedup.commitIncrement(spark, state, shard, "day00"))
    ledger.row("ops.IncrementalDedup.fold").rowsOut += shard.count()
    val decision = layer(ledger, "ops.IncrementalDedup.decision")(
      IncrementalDedup.decisionAsOf(spark, state))
    val expected = pin(Dedup.dupClusters(base.unionByName(shard)))
    val ok = decision.exceptAll(expected).isEmpty && expected.exceptAll(decision).isEmpty
    TableIO.deleteTree(state)
    ok
  }
}
