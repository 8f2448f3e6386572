package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.Pipeline
import graft.kg.emit.TableIO
import graft.kg.io.SyntheticCorpus

/** Scaling-efficiency evidence for the north rule (BASELINE.json:2/14): the
  * N→4N-executor criterion, evidenced in this single-host sandbox by running
  * the IDENTICAL job on the IDENTICAL input at two parallelism levels
  * (BASELINE.md methodology): `local[8]` vs `local[32]`, shuffle partitions
  * scaled to match. Reports triples/sec; efficiency = (thru_4N/thru_N)/4.
  *
  * Env:
  *   SPARK_GRAFT_CPUS   parallelism (default 8)
  *   SPARK_GRAFT_SF_DIR input documents dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_REPL   deterministic input replication factor (default 20)
  *   SPARK_GRAFT_RUNS   timed runs, median reported (default 3)
  *
  * One timed run = parquet scan → span derivation → full extraction +
  * linking → triple union/dedup → partitioned write with lineage manifests
  * (TableIO, Iceberg-shaped parquet — no Iceberg jar in this sandbox).
  */
object ScalingBench {

  /** Deterministic input blow-up: replicate each document R times with
    * distinct doc_ids (d*R + r). Same token bodies, different enrichment
    * (enrichment is doc_id arithmetic), so the workload composition is
    * stable across R.
    */
  def replicatedDocs(spark: SparkSession, sfDir: String, repl: Int, partitions: Int): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("r", explode(sequence(lit(0), lit(repl - 1))))
      .select((col("doc_id") * repl + col("r")).as("doc_id"), col("text"))
      // the source is one small parquet file (1-2 scan splits) and explode
      // preserves partitioning — without this explicit repartition the entire
      // derivation+extraction (no shuffle until the final agg) runs in 1-2
      // tasks and cores go idle (SURVEY.md §4: explicit repartition before
      // expensive stages). The doc table is tiny pre-derivation, so the
      // shuffle is cheap.
      .repartition(partitions, col("doc_id"))

  /** Replica block size of [[dedupStressCorpus]]: each block of `FamilyBlock`
    * replicas is an INDEPENDENT duplicate family, so duplicate-cluster sizes
    * are CONSTANT (20 exact + 20 near-dup members) no matter how large
    * `repl` grows — growing the corpus adds families, it does not inflate
    * clusters. Without this, near-dup replicas of one base doc all derive
    * from the same text and pair with EACH OTHER: the verified-pair graph
    * grows as repl² (measured: repl 200→600 took local[8] 170→863 s, 5.1×
    * wall for 3× docs) — a corpus artifact the real web's bounded duplicate
    * clusters don't have, and one that breaks the "grow input, amortize
    * stage boundaries" scaling experiment the N→4N evidence needs.
    */
  val FamilyBlock: Int = 200

  /** Web-mix dedup stress corpus: each source doc replicated `repl` ways in
    * independent families of [[FamilyBlock]] — family canonical text = the
    * source text with every 3rd token family-tagged (families share no
    * shingles: every trigram crosses a tagged position); per replica within
    * its family: rb%10==0 exact copy of the family text (exercises the
    * exact-collapse), rb%10==1 near-dup (ONE token replaced → trigram
    * J ≈ 0.9, exercises LSH candidate generation + verify), else unique
    * (every 3rd token replica-tagged → J = 0 to everything). 10/10/80 dup
    * mix, duplicate clusters of 40 docs regardless of repl — the shape
    * [[graft.ops.Dedup.dupClusters]] must scale on. (An earlier variant
    * replaced every 5th token, leaving same-base uniques at J ≈ 0.25 to each
    * other — the same repl² clique artifact described at [[FamilyBlock]].)
    */
  def dedupStressCorpus(spark: SparkSession, sfDir: String, repl: Int,
      partitions: Int): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .withColumn("r", explode(sequence(lit(0), lit(repl - 1))))
      .select((col("doc_id") * repl + col("r")).as("doc_id"), col("r"), col("text"))
      .withColumn("f", expr(s"r div $FamilyBlock"))
      .withColumn("rb", expr(s"r % $FamilyBlock"))
      // family canonical text (f = 0 keeps the source text, so repl <= 200
      // reproduces the earlier corpus exactly)
      .withColumn("text", when(col("f") === 0, col("text")).otherwise(expr(
        "array_join(transform(split(text, ' '), (t, i) -> " +
          "case when i % 3 = 0 then concat('f', cast(f as string), 'x', cast(i as string)) " +
          "else t end), ' ')")))
      .withColumn("text",
        when(col("rb") % 10 === 0, col("text"))
          // replaced index capped by the doc's own token count so EVERY
          // near-dup replica differs from its base (pmod(rb, 41) alone left
          // short docs unmodified — exact copies mislabeled as near-dups)
          .when(col("rb") % 10 === 1, expr(
            "array_join(transform(split(text, ' '), (t, i) -> " +
              "case when i = pmod(rb, least(41, size(split(text, ' ')))) " +
              "then concat('nd', cast(r as string)) " +
              "else t end), ' ')"))
          .otherwise(expr(
            "array_join(transform(split(text, ' '), (t, i) -> " +
              "case when i % 3 = 0 then concat('u', cast(r as string), 'x', cast(i as string)) " +
              "else t end), ' ')")))
      .select(col("doc_id"), col("text"))
      .repartition(partitions, col("doc_id"))

  /** Synthetic doc→entity mention table for the GRAPH scaling phase. The
    * pipeline's own synthetic KG has a FIXED entity vocabulary (~92
    * entities from doc_id arithmetic), so its co-occurrence graph stays
    * metadata-sized no matter how large the corpus grows — fine for
    * correctness, useless as scaling evidence for an iterated graph
    * operator. Here the entity space scales with the corpus
    * (nEnt = max(1000, nDocs/20)) and carries deliberate skew: each doc
    * mentions 1 of 50 HUB entities (hub degree grows with the corpus — the
    * hot-key case the degree-ordered/pinned plans must survive) plus 5
    * long-tail entities (multiplicative doc_id mixing). Deterministic in
    * (sfDir, repl): every parallelism level reads identical files.
    */
  def graphMentions(spark: SparkSession, sfDir: String, repl: Int,
      partitions: Int): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val nEnt = math.max(1000L, base * repl / 20)
    replicatedDocs(spark, sfDir, repl, partitions)
      .selectExpr("doc_id", "explode(sequence(0, 5)) AS j")
      .selectExpr("concat('D', doc_id) AS subj", "'mentions' AS pred",
        "CASE WHEN j = 0 THEN concat('H', pmod(doc_id, 50)) " +
        s"ELSE concat('E', pmod(doc_id * 31 + j * 7919, ${nEnt}L)) END AS obj")
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repl = sys.env.getOrElse("SPARK_GRAFT_REPL", "20").toInt
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val phase = sys.env.getOrElse("SPARK_GRAFT_PHASE", "kg")
    val waves = sys.env.getOrElse("SPARK_GRAFT_WAVES", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scaling-bench")
      // several task waves per stage: doc sizes vary ~10x, so 1-wave stages
      // (one partition per core) leave cores idle behind stragglers; waves
      // per core is identical at both parallelism levels so the comparison
      // stays fair
      .config("spark.sql.shuffle.partitions", cpus * waves)
      // the dedup stress corpus is only ~50 MB in 64 files: at the default
      // 128m split size + 4m file-open cost the whole scan bins into ~3
      // splits, so the scan-side map stages (shingle explode, md5
      // signatures — the op's heaviest CPU work) run on 3 tasks and starve
      // the 8-core level while fully feeding the 2-core one (measured: 2.4×
      // instead of 4× on exactly those stages, 0.65 whole-run efficiency).
      // 4m makes every file its own split (64 splits = full waves at both
      // levels, identical files read either way). The KG phase's postings
      // table is ~40× larger and correctly split at the default — keep it.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAXPART",
          if (phase == "dedup" || phase == "graph") "4m" else "128m"))
      .config("spark.sql.adaptive.enabled", "true")
      // dedup: 16m measured ~5% better than 64m at local[8] — the coalesced
      // shingle/verify stages land at ~10 partitions under 64m, i.e. 1.2
      // ragged waves on 8 cores; 16m keeps 4 even waves at both levels
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY",
          if (phase == "dedup" || phase == "graph") "16m" else "64m"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_STAGELOG=1: per-stage wall + task-time sums of each run on
    // stderr — the decomposition tool behind the efficiency analyses in
    // BENCH.md (which stages lose N->4N efficiency: ragged waves show wall >>
    // taskSum/cpus; memory-subsystem inflation shows taskSum itself growing
    // with cpus; pure scheduler idle shows neither)
    val stageLog =
      if (sys.env.get("SPARK_GRAFT_STAGELOG").contains("1"))
        Some(StageLedger.attach(spark.sparkContext))
      else None
    def logged[T](body: => T): T = stageLog.fold(body) { ledger =>
      val (r, run) = ledger.span("scaling-run")(body)
      run.stages.foreach { si =>
        val wall = (for {t1 <- si.completionTime; t0 <- si.submissionTime}
          yield (t1 - t0) / 1000.0).getOrElse(-1.0)
        System.err.println(f"[stage] id=${si.stageId} tasks=${si.numTasks} " +
          f"wall=$wall%.1f taskSum=${si.taskMetrics.executorRunTime / 1000.0}%.1f " +
          f"gcSum=${si.taskMetrics.jvmGCTime / 1000.0}%.1f " +
          f"cpuSum=${si.taskMetrics.executorCpuTime / 1e9}%.1f " +
          f"spillMB=${si.taskMetrics.memoryBytesSpilled / 1048576} " +
          f"name=${si.name.takeWhile(_ != '(').take(50)}")
      }
      r
    }

    if (phase == "graph") {
      // graph-scaling phase: 3-iteration integer PageRank over the scaled
      // skewed co-occurrence graph — the iterated-operator evidence the
      // kg/dedup phases don't cover. Same two-parallelism methodology,
      // same cached deterministic input files at both levels.
      def mentionsDirFor(r: Int): String = {
        val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
        val dir = s"/tmp/graft-graphmentions-$tag-x$r-v1"
        val target = java.nio.file.Paths.get(dir)
        if (!Files.exists(target.resolve("_SUCCESS"))) {
          val tmp = Files.createTempDirectory(target.getParent, "graft-graphmentions-build")
          graphMentions(spark, sfDir, r, 64)
            .write.mode("overwrite").parquet(tmp.toString)
          try Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            case _: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.DirectoryNotEmptyException
                if Files.exists(target) =>
              graft.kg.emit.TableIO.deleteTree(tmp.toString)
          }
        }
        dir
      }
      val mentionsDir = mentionsDirFor(repl)
      // one timed run = derive co-occurrence edges -> write them as the
      // PRODUCTION layout (64-bucket sorted-by-x parquet table — 64 at BOTH
      // levels so the file layout is parallelism-independent; one file per
      // bucket via the matching repartition) -> 3 pagerank iterations
      // against the bucketed table. This is the documented 100 TB shape:
      // the edge side of every iteration's join arrives hash-partitioned
      // (and bucket-sorted) FROM THE SCAN — no per-iteration edge exchange;
      // only the node-cardinality rank relation moves. (The sf-scale
      // library default, pinnedEdges/localCheckpoint, re-exchanges edges
      // every iteration: measured at repl=800 it scales at 0.47 N->4N while
      // the bucketed path's iterations scale cleanly — the bench runs the
      // shape we tell users to run at scale.)
      // SPARK_GRAFT_GRAPH_PATH=pinned times the in-session pinnedEdges
      // entry instead (derive = eager checkpoint of the edge relation,
      // iterations re-exchange edges per round) — the exploration-scale
      // contrast to the bucketed-table production default
      val graphPath = sys.env.getOrElse("SPARK_GRAFT_GRAPH_PATH", "bucketed")
      def oneRun(dir: String, tag: String): (Long, Long, Double, Double, Double) = {
        def encoded = spark.read.parquet(dir).select(
          xxhash64(col("subj")).as("subj"), col("pred"),
          xxhash64(col("obj")).as("obj"))
        // dictionary-encode entities to 64-bit ids INSIDE the timed run —
        // the production sequence (at scale, canonicalization has already
        // assigned integer ids; xxhash64 stands in for that dictionary:
        // 200k entities → collision odds ~1e-9, and GraphOps is
        // key-type-generic so the same plan runs on either). Long keys
        // carry ~4× less row weight through the pair-distinct and hash
        // with no string traversal.
        val tbl = s"graft_scaling_edges_$tag"
        val pinnedPath = graphPath == "pinned"
        val out = if (pinnedPath) "" else Files.createTempDirectory("graft-edges").toString
        val t0 = System.nanoTime()
        val edges =
          if (pinnedPath)
            graft.kg.graph.GraphOps.pinnedEdges(encoded) // eager: derive ends here
          else {
            spark.sql(s"DROP TABLE IF EXISTS $tbl")
            graft.kg.graph.GraphOps.coocEdges(encoded)
              .repartition(64, col("x"))
              .write.bucketBy(64, "x").sortBy("x")
              .option("path", s"$out/edges").format("parquet").saveAsTable(tbl)
            spark.table(tbl)
          }
        val t1 = System.nanoTime()
        val ranks = graft.kg.graph.GraphOps.pagerankOnEdges(edges, iters = 3)
        // sum of final ranks forces every iteration; also a cross-run
        // determinism witness (integer arithmetic -> identical at any cpus)
        val row = ranks.agg(count(lit(1)).as("n"), sum(col("rank_e6")).as("m")).head()
        val t2 = System.nanoTime()
        val (wall, derive, iterate) =
          ((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
        System.err.println(f"[scaling-graph] path=$graphPath " +
          f"nodes=${row.getLong(0)} rankMass=${row.getLong(1)} " +
          f"derive=$derive%.1f s iterate=$iterate%.1f s wall=$wall%.1f s")
        if (!pinnedPath) {
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          TableIO.deleteTree(out)
        }
        spark.catalog.clearCache()
        (row.getLong(0), row.getLong(1), wall, derive, iterate)
      }
      logged(oneRun(mentionsDirFor(math.min(repl, 10)), "warm")) // small warm-up, discarded
      val runs = (1 to nRuns).map(_ => logged(oneRun(mentionsDir, "timed")))
      def med(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }
      val walls = runs.map(_._3).sorted
      val median = walls(walls.length / 2)
      println(
        s"""{"metric":"graph_nodes_per_sec","value":${runs.head._1 / median},""" +
        s""""unit":"nodes/sec","cpus":$cpus,"path":"$graphPath","nodes":${runs.head._1},""" +
        s""""rank_mass":${runs.head._2},"wall_sec_median":$median,""" +
        s""""derive_sec_median":${med(runs.map(_._4))},""" +
        s""""iterate_sec_median":${med(runs.map(_._5))},""" +
        s""""wall_sec_all":[${walls.mkString(",")}],"sf":"$sfDir","repl":$repl}""")
      spark.stop()
      return
    }

    if (phase == "dedup") {
      // dedup-scaling phase (north-rule evidence for the LLM-pipeline ops):
      // dupClusters = exact-collapse + minhash-LSH + connected components in
      // one operator — the compound 100 TB dedup path. Same two-parallelism
      // methodology as the KG phase; same cached deterministic input.
      def corpusDirFor(r: Int): String = {
        val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
        // v4: family-block structure (constant cluster sizes under repl
        // growth) + near-dup index cap — older caches must not be reused
        val dir = s"/tmp/graft-dedupcorpus-$tag-x$r-v4"
        val target = java.nio.file.Paths.get(dir)
        if (!Files.exists(target.resolve("_SUCCESS"))) {
          val tmp = Files.createTempDirectory(target.getParent, "graft-dedupcorpus-build")
          dedupStressCorpus(spark, sfDir, r, 64)
            .write.mode("overwrite").parquet(tmp.toString)
          try Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            case _: java.nio.file.FileAlreadyExistsException |
                 _: java.nio.file.DirectoryNotEmptyException
                if Files.exists(target) =>
              graft.kg.emit.TableIO.deleteTree(tmp.toString)
          }
        }
        dir
      }
      val corpusDir = corpusDirFor(repl)
      def oneRun(dir: String): (Long, Long, Double) = {
        val t0 = System.nanoTime()
        // production LSH geometry (16 bands x 2 rows): at web scale the 32x1
        // default's per-band candidate probability ~J makes low-J noise
        // quadratic (measured: 55k unique shared-vocab texts -> 11.8M
        // candidates at 32x1 vs ~20k at 16x2); 16x2 keeps P(candidate|J=0.9)
        // at 1 - 3e-12, so the planted dups are all found
        val decisions = graft.ops.Dedup.dupClusters(
          spark.read.parquet(dir), bands = 16, rows = 2)
        val row = decisions.agg(count(lit(1)).as("n"), sum(col("is_dup")).as("d")).head()
        val wall = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[scaling-dedup] docs=${row.getLong(0)} " +
          f"dups=${row.getLong(1)} wall=$wall%.1f s")
        spark.catalog.clearCache()
        (row.getLong(0), row.getLong(1), wall)
      }
      // warm-up on a SMALL corpus (same operator, same plan shape): JIT +
      // codegen + classloading warm without paying a full-size discarded run
      // — at multi-million-doc timed inputs that run would dominate the
      // invocation's wall clock without adding evidence
      logged(oneRun(corpusDirFor(math.min(repl, 40))))
      val runs = (1 to nRuns).map(_ => logged(oneRun(corpusDir)))
      val walls = runs.map(_._3).sorted
      val median = walls(walls.length / 2)
      println(
        s"""{"metric":"dedup_docs_per_sec","value":${runs.head._1 / median},""" +
        s""""unit":"docs/sec","cpus":$cpus,"docs":${runs.head._1},""" +
        s""""dups":${runs.head._2},"wall_sec_median":$median,""" +
        s""""wall_sec_all":[${walls.mkString(",")}],"sf":"$sfDir","repl":$repl}""")
      spark.stop()
      return
    }

    // corpus PREP (untimed): the span derivation stands in for the upstream
    // HTML→spans flattening (SURVEY.md §2.1 R1) — the pipeline's input is the
    // postings TABLE (input_hint), so the timed job starts at its scan
    // The derived table is deterministic in (sfDir, repl), so it is written
    // ONCE to a deterministic path and shared across bench invocations:
    // every parallelism level reads the IDENTICAL files (64 fixed prep
    // partitions — file layout independent of cpus keeps the comparison fair).
    val postingsDir = {
      val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      // keyed by the derivation VERSION too: a cache written by older code
      // must never be silently reused after the derivation changes
      val dir = s"/tmp/graft-postings-$tag-x$repl-v${SyntheticCorpus.DerivationVersion}"
      val target = java.nio.file.Paths.get(dir)
      if (!Files.exists(target.resolve("_SUCCESS"))) {
        // write to a private dir IN THE TARGET'S PARENT (same filesystem —
        // staging in java.io.tmpdir would make ATOMIC_MOVE throw when TMPDIR
        // points elsewhere), publish with an atomic rename: a concurrent
        // bench either wins the rename or reads the winner's table — never a
        // half-written directory
        val tmp = Files.createTempDirectory(target.getParent, "graft-postings-build")
        val docs = replicatedDocs(spark, sfDir, repl, 64)
        SyntheticCorpus.fromDocuments(docs).write.mode("overwrite").parquet(tmp.toString)
        try Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          // ONLY the lost-the-race shapes are swallowed; any other move
          // failure (permissions, cross-device, IO) must surface, else the
          // subsequent read of a nonexistent target fails confusingly
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.DirectoryNotEmptyException
              if Files.exists(target.resolve("_SUCCESS")) ||
                 Files.exists(target) =>
            graft.kg.emit.TableIO.deleteTree(tmp.toString)
        }
      }
      dir
    }
    val rowsIn = spark.read.parquet(postingsDir).count()
    val gaz = Pipeline.defaultGazetteers(spark)

    def oneRun(): (Long, Double) = {
      val out = Files.createTempDirectory("graft-bench-out").toString
      val t0 = System.nanoTime()
      val postings = spark.read.parquet(postingsDir)
      // fused write: dedup agg + (pred, bucket) layout share ONE shuffle
      val manifests = TableIO.writeTriplesDeduped(
        spark, Pipeline.allTriplesRaw(postings, gaz), out,
        inputLineage = s"$sfDir x$repl postings")
      val t1 = System.nanoTime()
      // canonicalization (iterative CC over linked surface forms) is part of
      // the north-rule pipeline: fuzzy candidates from the full corpus, CC
      // itself gazetteer-sized
      Pipeline.canonicalSurfaces(
        graft.kg.extract.Extractors.textSpans(postings), gaz.titles).count()
      val t2 = System.nanoTime()
      // triple count from the commit manifests (their row counts are computed
      // from the data on disk) — no extra full-output read
      val nTriples = manifests.map(_.rows).sum
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scaling] extract+write ${(t1 - t0) / 1e9}%.1f s, " +
        f"canonical ${(t2 - t1) / 1e9}%.1f s, count ${(System.nanoTime() - t2) / 1e9}%.1f s")
      TableIO.deleteTree(out)
      spark.catalog.clearCache()
      (nTriples, wall)
    }

    logged(oneRun()) // warm-up, discarded
    val runs = (1 to nRuns).map(_ => logged(oneRun()))
    val nTriples = runs.head._1
    val walls = runs.map(_._2).sorted
    val median = walls(walls.length / 2)
    val thru = nTriples / median
    println(
      s"""{"metric":"triples_per_sec","value":$thru,"unit":"triples/sec","cpus":$cpus,""" +
      s""""docs":$rowsIn,"triples":$nTriples,"wall_sec_median":$median,""" +
      s""""wall_sec_all":[${walls.mkString(",")}],"sf":"$sfDir","repl":$repl,""" +
      s""""note":"parquet TableIO substitutes for Iceberg (no jar in sandbox)"}""")
    spark.stop()
  }
}
