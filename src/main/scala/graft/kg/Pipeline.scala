package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.kg.canon.ConnectedComponents
import graft.kg.extract.Extractors
import graft.kg.io.{Dictionaries, GazetteerIO}
import graft.kg.link.{Linking, Salting}
import graft.kg.schema.Schemas.Pred

/** End-to-end wiring of the KG-construction pipeline (SURVEY.md §3.2).
  * Every stage returns (subj, pred, obj, score, src_offset) triples;
  * [[allTriples]] unions them and deduplicates deterministically.
  */
object Pipeline {

  /** Prep-pass facts about a gazetteer set (SURVEY.md §3.1's resource-load
    * path): computed ONCE per instance (lazy), never inside plan
    * construction. `mentionTwoGramKinds` = span kinds whose mention gazetteer
    * contains multi-token surfaces (drives 2-gram generation); validation of
    * the uppercase-surface contract runs here too.
    */
  case class GazPrep(mentionTwoGramKinds: Seq[String])

  case class Gazetteers(
      titles: DataFrame,
      skills: DataFrame,
      languages: DataFrame,
      locations: DataFrame,
      companies: DataFrame) {
    /** (kind, mention gazetteer, predicate) for the fused R4/R6/R9 join. */
    def mentionDims: Seq[(String, DataFrame, String)] = Seq(
      ("li", skills, Pred.requiresSkill),
      ("p", languages, Pred.requiresLanguage),
      ("footer", locations, Pred.locatedIn))

    lazy val prep: GazPrep = {
      mentionDims.foreach { case (kind, g, _) => GazetteerIO.validated(g, s"$kind gazetteer") }
      GazetteerIO.validated(titles, "titles gazetteer")
      GazPrep(mentionTwoGramKinds = mentionDims.collect {
        case (kind, g, _) if GazetteerIO.hasMultiTokenSurface(g) => kind
      })
    }
  }

  def defaultGazetteers(spark: SparkSession): Gazetteers = Gazetteers(
    Dictionaries.titlesDf(spark),
    Dictionaries.skillsDf(spark),
    Dictionaries.languagesDf(spark),
    Dictionaries.locationsDf(spark),
    Dictionaries.companiesDf(spark))

  /** Shared R11 per-doc argmax (score desc, entity_id/offset asc tie-break)
    * as one hash-agg with map-side partial aggregation — cheaper than a
    * ranking window (shuffle + sort) for top-1 (SURVEY.md R11).
    */
  private def bestTitle(linked: DataFrame): DataFrame =
    linked
      .groupBy(col("doc_id"))
      .agg(min_by(
        struct(col("entity_id"), col("score"), col("offset")),
        struct((-col("score")).as("ns"), col("entity_id"), col("offset"))).as("best"))
      .select(col("doc_id"), lit(Pred.hasTitle).as("pred"), col("best.entity_id").as("obj"),
        col("best.score").as("score"), col("best.offset").cast("int").as("src_offset"))

  /** R3+R10+R11: title candidates from h1 spans, exact + Jaro-Winkler fuzzy
    * linking, one best title per doc.
    */
  def titleTriples(spans: DataFrame, titlesGaz: DataFrame): DataFrame =
    bestTitle(Linking.linkCandidates(Extractors.titleCandidates(spans), titlesGaz))

  /** [[titleTriples]] through the R10 Levenshtein scoring path (built-in
    * `levenshtein`, normalized): same extraction, same argmax — on the
    * synthetic corpus both paths pick identical winners (shared oracle).
    */
  def titleTriplesLev(spans: DataFrame, titlesGaz: DataFrame): DataFrame =
    bestTitle(Linking.linkCandidatesLev(Extractors.titleCandidates(spans), titlesGaz))

  /** R3 with tag-weight + position scoring: link score multiplied by the
    * candidate's feature weight (h1 > title > h2, early > late) before the
    * argmax. Corpus titles are h1 at offset 0 (weight 1.0) so this shares
    * kg_title's oracle; the feature semantics are pinned by golden fixtures.
    */
  def titleTriplesScored(spans: DataFrame, titlesGaz: DataFrame): DataFrame = {
    val cands = Extractors.titleCandidatesScored(spans)
    val linked = Linking
      .linkCandidates(cands.select(col("doc_id"), col("candidate"), col("offset")), titlesGaz)
      .join(cands.select(col("doc_id"), col("offset"), col("w")), Seq("doc_id", "offset"))
      .withColumn("score", col("score") * col("w"))
      .drop("w")
    bestTitle(linked)
  }

  /** Gazetteer mention triples (R4/R6/R7/R9 share this shape). */
  private def mentionTriples(
      mentions: DataFrame, pred: String): DataFrame =
    mentions
      .groupBy(col("doc_id"), col("entity_id"))
      .agg(min(col("offset")).as("src_offset"))
      .select(col("doc_id"), lit(pred).as("pred"), col("entity_id").as("obj"),
        lit(1.0).as("score"), col("src_offset").cast("int").as("src_offset"))

  def skillTriples(spans: DataFrame, skillsGaz: DataFrame): DataFrame =
    mentionTriples(
      Extractors.ngramMentions(spans.where(col("kind") === "li"), skillsGaz),
      Pred.requiresSkill)

  /** Measured salt factors memoized per (canonicalized-plan digest, key,
    * partitions): the prep-pass aggregation runs ONCE per distinct fact
    * shape per JVM — honoring measuredSalts' "never per plan build" contract
    * without persisting the fact relation (nothing to unpersist, nothing for
    * a library caller to leak; CacheHygieneSpec asserts it). The memo key is
    * an md5 over the full canonicalized plan string (not the 32-bit
    * semanticHash — a birthday collision between distinct fact shapes would
    * silently reuse a wrong salt factor). Salting is correctness-neutral, so
    * the remaining staleness window (same source path, data replaced under it
    * in a long-lived JVM) costs at most a mis-tuned salt, never a wrong row.
    */
  private val saltMemo = scala.collection.concurrent.TrieMap.empty[(String, String, Int), Int]

  private def planDigest(df: DataFrame): String = {
    val canonical = df.queryExecution.analyzed.canonicalized.toString
    java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Same result as [[skillTriples]] but through the skew-salted shuffle-join
    * path (hot key "Java"): correctness of salting is asserted by this and
    * the broadcast plan sharing one oracle. `salts = None` uses the
    * memoized prep-pass measurement of the fact side's key-frequency stats
    * (SURVEY.md §4) — the registered query runs that path. The measurement
    * pass recomputes the gram explode once (first invocation only); the
    * explode is cheaper than keeping the whole gram relation pinned in
    * executor memory across unrelated queries.
    */
  def skillTriplesSalted(spans: DataFrame, skillsGaz: DataFrame,
      salts: Option[Int] = None): DataFrame = {
    val li = spans.where(col("kind") === "li")
    // tokens projected before the gram lambdas (the Extractors.ngramMentions
    // hoist: no split() inside an interpreted lambda body)
    val tokens = col("ts")
    val grams: Seq[org.apache.spark.sql.Column] = (1 to 2).map { n =>
      when(size(tokens) >= n,
        transform(sequence(lit(1), size(tokens) - (n - 1)), k =>
          array_join(slice(tokens, k, lit(n)), " ")))
        .otherwise(typedLit(Seq.empty[String]))
    }
    val gramRows = li
      .select(col("doc_id"), col("offset"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("offset"),
        explode(flatten(array(grams: _*))).as("gram"))
    val s = salts.getOrElse {
      val parts = spans.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
      saltMemo.getOrElseUpdate(
        (planDigest(gramRows), "gram", parts),
        Salting.measuredSalts(gramRows, "gram", parts))
    }
    val joined = Salting.saltedJoin(
      gramRows, skillsGaz.hint("shuffle_hash"), "gram", "surface", "doc_id", s)
    mentionTriples(
      joined.select(col("doc_id"), col("surface"), col("entity_id"), col("offset")),
      Pred.requiresSkill)
  }

  def languageTriples(spans: DataFrame, languagesGaz: DataFrame): DataFrame =
    mentionTriples(
      Extractors.ngramMentions(spans.where(col("kind") === "p"), languagesGaz),
      Pred.requiresLanguage)

  /** R6 depth — (doc, languageProficiency, "LANGxx=qualifier") triples. */
  def languageProficiencyTriples(spans: DataFrame, languagesGaz: DataFrame): DataFrame =
    Extractors.languageProficiency(spans, languagesGaz)
      .groupBy(col("doc_id"),
        concat(col("entity_id"), lit("="), col("qualifier")).as("obj"))
      .agg(min(col("offset")).as("src_offset"))
      .select(col("doc_id"), lit(Pred.languageProficiency).as("pred"), col("obj"),
        lit(1.0).as("score"), col("src_offset").cast("int").as("src_offset"))

  def locationTriples(spans: DataFrame, locationsGaz: DataFrame): DataFrame =
    mentionTriples(
      Extractors.ngramMentions(spans.where(col("kind") === "footer"), locationsGaz),
      Pred.locatedIn)

  def workloadTriples(spans: DataFrame): DataFrame =
    Extractors.workload(spans)
      .select(col("doc_id"), col("pred"), col("obj"), col("score"), col("src_offset"))

  def companyTriples(spans: DataFrame, companiesGaz: DataFrame): DataFrame =
    Extractors.company(spans, companiesGaz)

  /** R12 — union of all predicate stages, deterministic dedup.
    *
    * Single-pass design: ONE scan+explode of the corpus emits every
    * candidate row (title candidates, workload literals, company candidates,
    * uppercase-filtered grams) as a small typed relation, which is persisted
    * (it is ~10 rows/doc of short strings — orders of magnitude smaller than
    * the span corpus) and then routed to the per-predicate
    * joins/aggregations. The corpus is read exactly once however many
    * predicates are extracted — the only shape that holds at 10^12 docs.
    */
  def allTriples(postings: DataFrame, gaz: Gazetteers): DataFrame =
    dedupTriples(allTriplesRaw(postings, gaz))

  /** The deterministic (subj, pred, obj) dedup the per-branch union needs:
    * branches emit DISJOINT predicates, so this only merges repeated mentions
    * of one entity within a doc (max score, min evidence offset).
    */
  def dedupTriples(raw: DataFrame): DataFrame =
    raw
      .groupBy(col("subj"), col("pred"), col("obj"))
      .agg(max(col("score")).as("score"), min(col("src_offset")).cast("int").as("src_offset"))

  /** Pre-dedup union of all predicate branches (single corpus scan; see
    * [[allTriples]]). The hot write path feeds this STRAIGHT into
    * `TableIO.writeTriplesDeduped`, which fuses the dedup aggregation with
    * the (pred, bucket) layout shuffle — one exchange instead of two.
    */
  def allTriplesRaw(postings: DataFrame, gaz: Gazetteers): DataFrame = {
    val prep = gaz.prep // prep-pass facts + validation, once per gaz instance
    val spans = Extractors.textSpans(postings)
    val cands = graft.kg.graph.GraphOps.pin(Extractors
      .candidates(spans, prep.mentionTwoGramKinds, gaz.mentionDims.map(_._1)))
    // pin, not persist: an
    // InMemoryRelation keeps its full child plan under every one of the
    // four consuming branches, so each downstream stage's task closure
    // carried the whole scan+explode subtree — measured ~25% of worker CPU
    // on this query family was java.io.ObjectInputStream deserializing
    // those task binaries. The checkpoint truncates lineage to a LogicalRDD
    // (small closures for every consumer and every follow-up action), costs
    // one eager job over the same ~10-short-rows/doc relation the cache
    // held anyway, and is auto-released by the ContextCleaner — the same
    // trade as the graph family's pin.

    val workload = cands.where(col("ctype") === "workload")
      .select(col("doc_id"), lit(Pred.hasWorkload).as("pred"), col("payload").as("obj"),
        lit(1.0).as("score"), col("offset").cast("int").as("src_offset"))

    val fusedDim = gaz.mentionDims.map { case (kind, g, pred) =>
      g.select(lit(kind).as("gkind"), col("surface"), col("entity_id"), lit(pred).as("pred"))
    }.reduce(_ unionByName _)
    val mentions = cands.where(col("ctype") === "gram")
      .join(broadcast(fusedDim),
        col("payload") === col("surface") && col("kind") === col("gkind"))
      .select(col("doc_id"), col("pred"), col("entity_id").as("obj"),
        lit(1.0).as("score"), col("offset").cast("int").as("src_offset"))

    val titles = {
      val tc = cands.where(col("ctype") === "title")
        .select(col("doc_id"), col("payload").as("candidate"), col("offset"))
      val linked = Linking.linkCandidates(tc, gaz.titles)
      linked.groupBy(col("doc_id"))
        .agg(min_by(
          struct(col("entity_id"), col("score"), col("offset")),
          struct((-col("score")).as("ns"), col("entity_id"), col("offset"))).as("best"))
        .select(col("doc_id"), lit(Pred.hasTitle).as("pred"), col("best.entity_id").as("obj"),
          col("best.score").as("score"), col("best.offset").cast("int").as("src_offset"))
    }

    val companies = {
      val cc = cands.where(col("ctype") === "company")
        .groupBy(col("doc_id"), col("payload").as("candidate"))
        .agg(count(lit(1)).as("freq"), min(col("offset")).as("src_offset"))
      cc.groupBy(col("doc_id"))
        .agg(min_by(struct(col("candidate"), col("freq"), col("src_offset")),
          struct((-col("freq")).as("nf"), col("candidate"))).as("best"))
        .select(col("doc_id"), col("best.candidate").as("candidate"),
          col("best.freq").as("freq"), col("best.src_offset").as("src_offset"))
        .join(broadcast(gaz.companies), col("candidate") === col("surface"))
        .select(col("doc_id"), lit(Pred.postedBy).as("pred"), col("entity_id").as("obj"),
          col("freq").cast("double").as("score"), col("src_offset").cast("int").as("src_offset"))
    }

    Seq(workload, mentions, titles, companies).reduce(_.unionByName(_))
      .select(col("doc_id").as("subj"), col("pred"), col("obj"), col("score"),
        col("src_offset").cast("int").as("src_offset"))
  }

  /** Pre-single-pass reference wiring (kept for A/B comparison in tests:
    * must produce identical triples to [[allTriples]]).
    */
  def allTriplesMultiPass(postings: DataFrame, gaz: Gazetteers): DataFrame = {
    // spans are a cheap posexplode of the postings scan (derivation is
    // corpus prep) — re-reading the parquet per branch is cheaper and scales
    // better than caching 10s of millions of deserialized rows, and the
    // branches prune to disjoint span kinds at the scan
    val spans = Extractors.textSpans(postings)
    // skills/languages/locations share one gram pass + one broadcast join
    // (fusedMentions); results are identical to the per-predicate paths the
    // individual harness queries run (same oracles check both). Mention rows
    // flow straight into the final (subj, pred, obj) agg — no intermediate
    // per-predicate shuffle.
    val fused = Extractors.fusedMentions(spans, gaz.mentionDims, gaz.prep.mentionTwoGramKinds)
      .select(col("doc_id"), col("pred"), col("entity_id").as("obj"),
        lit(1.0).as("score"), col("offset").cast("int").as("src_offset"))
    val parts = Seq(
      titleTriples(spans, gaz.titles),
      fused,
      workloadTriples(spans),
      companyTriples(spans, gaz.companies))
    parts.reduce(_.unionByName(_))
      .groupBy(col("doc_id"), col("pred"), col("obj"))
      .agg(max(col("score")).as("score"), min(col("src_offset")).cast("int").as("src_offset"))
      .select(col("doc_id").as("subj"), col("pred"), col("obj"), col("score"), col("src_offset"))
  }

  /** R13 — canonicalization: cluster gazetteer surfaces with the fuzzy-linked
    * corpus surfaces (typos) via connected components; representative = the
    * lexicographically-smallest surface of each cluster.
    * Output: (surface, canonical).
    */
  def canonicalSurfaces(spans: DataFrame, titlesGaz: DataFrame): DataFrame =
    ConnectedComponents.run(gazEdges(titlesGaz).union(typoEdges(spans, titlesGaz)))
      .select(col("node").as("surface"), col("component").as("canonical"))

  /** [[canonicalSurfaces]] computed INCREMENTALLY: the gazetteer's own
    * surface→canonical clusters are the COMMITTED state (at production the
    * label table from yesterday's run); the corpus-discovered fuzzy-linked
    * typo surfaces are the shard folded in via
    * [[ConnectedComponents.incremental]] — base clusters are never
    * re-traversed (one semi + one anti join against the label table; only
    * typo-touched components re-enter CC). Result-equal to
    * [[canonicalSurfaces]] by the incremental identity — the driver pairs
    * both queries with the SAME recursive-CTE oracle.
    */
  def canonicalSurfacesIncremental(spans: DataFrame, titlesGaz: DataFrame): DataFrame =
    ConnectedComponents.incremental(
      ConnectedComponents.run(gazEdges(titlesGaz)), typoEdges(spans, titlesGaz))
      .select(col("node").as("surface"), col("component").as("canonical"))

  private def gazEdges(titlesGaz: DataFrame): DataFrame =
    titlesGaz
      .where(col("surface") =!= col("canonical"))
      .select(col("surface").as("src"), col("canonical").as("dst"))

  private def typoEdges(spans: DataFrame, titlesGaz: DataFrame): DataFrame = {
    val cands = Extractors.titleCandidates(spans)
    val misses = cands.join(broadcast(titlesGaz), col("candidate") === col("surface"), "left_anti")
    Linking.fuzzyLink(misses, titlesGaz)
      .select(col("candidate").as("src"), col("surface").as("dst"))
      .distinct()
  }
}
