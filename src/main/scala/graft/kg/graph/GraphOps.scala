package graft.kg.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph analytics over the MATERIALIZED knowledge graph — the consumption
  * side of KG construction (SURVEY.md §2: once (subj, pred, obj) triples are
  * emitted, ranking/structure queries over the entity graph are what users
  * run on them). Both operators work on the entity CO-OCCURRENCE graph:
  * entities are linked when they appear in the same posting (the classic
  * bipartite-projection construction — doc→entity triples projected onto the
  * entity side). All arithmetic is exact integer fixed-point (e6) so the
  * DuckDB oracles compare bit-identically, and every iteration is unrolled
  * identically on both sides.
  */
object GraphOps {

  /** Symmetric distinct entity co-occurrence edges (x, y), x ≠ y, from
    * doc→entity triples. Shape: ONE hash-agg groups mentions per doc
    * (collect_set dedups in the agg buffer — no separate pre-distinct
    * shuffle), per-doc ordered pairs are generated from the ≤ ~10-element
    * entity array (bounded by the extraction schema, never
    * corpus-quadratic), and only the x < y HALF of the symmetric relation
    * flows through the cross-doc distinct — the mirror is emitted after.
    * vs the earlier self-join formulation this removes a (d, e) distinct
    * shuffle and two sort-merge sorts and halves the rows through the
    * heavy pair-distinct — measured ~2.3× on the dominant scaling-bench
    * stage (taskSum 418 → 183 s, repl=800 local[8]). Hot entities (a skill present in most docs) produce heavy
    * DUPLICATE pairs, not heavy groups; the distinct's partial aggregation
    * collapses them map-side before the shuffle.
    */
  def coocEdges(triples: DataFrame): DataFrame = {
    val half = halfCoocEdges(triples)
    half.union(half.select(col("y").as("x"), col("x").as("y")))
  }

  /** The x < y HALF of [[coocEdges]] — the canonical STORED form of the
    * graph (each undirected edge once; TableIO-bucket it by `x` at scale
    * and mirror on read). Also the state relation of
    * [[incrementalCoocEdges]].
    */
  def halfCoocEdges(triples: DataFrame): DataFrame =
    triples.select(col("subj").as("d"), col("obj").as("e"))
      .groupBy(col("d")).agg(collect_set(col("e")).as("es"))
      // value-ordered (least, greatest) pairs over distinct set elements:
      // position pairs i < j map 1:1 to unique unordered value pairs
      .select(explode(expr(
        "flatten(transform(es, (a, i) -> " +
          "transform(slice(es, i + 2, size(es)), b -> " +
          "struct(least(a, b) AS x, greatest(a, b) AS y))))")).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .distinct()

  /** Incremental edge maintenance — the daily-shard path of the graph
    * family (the [[graft.ops.IncrementalDedup]] discipline applied to the
    * co-occurrence graph). Co-occurrence is PER-DOC, so a new shard's
    * candidate edges derive from the shard alone — the base corpus is
    * never rescanned; the only contact with committed state is ONE
    * left-anti equi-join of the shard's (graph-sized) half-pairs against
    * the stored half relation. Returns the increment to append:
    * `stored ∪ increment = halfCoocEdges(base ∪ shard)` exactly
    * (GraphOpsSpec pins the identity; the kg_cooc_increment oracle states
    * it declaratively as EXCEPT over the two derivations).
    */
  def incrementalCoocEdges(storedHalf: DataFrame, shardTriples: DataFrame): DataFrame =
    halfCoocEdges(shardTriples).join(storedHalf, Seq("x", "y"), "left_anti")

  /** Weighted co-occurrence edges (x, y, w): w = number of distinct docs
    * co-mentioning the pair — the edge-strength signal consumers rank by.
    * Same derivation as [[halfCoocEdges]] with the cross-doc distinct
    * replaced by a count (still partial-aggregatable map-side), mirrored
    * after so both directions carry the weight.
    */
  def coocEdgesWeighted(triples: DataFrame): DataFrame = {
    val half = halfCoocEdgesWeighted(triples)
    half.union(half.select(col("y").as("x"), col("x").as("y"), col("w")))
  }

  /** The x < y HALF of [[coocEdgesWeighted]] — the canonical stored form
    * (each undirected edge once with its co-mention count).
    */
  def halfCoocEdgesWeighted(triples: DataFrame): DataFrame =
    triples.select(col("subj").as("d"), col("obj").as("e"))
      .groupBy(col("d")).agg(collect_set(col("e")).as("es"))
      .select(explode(expr(
        "flatten(transform(es, (a, i) -> " +
          "transform(slice(es, i + 2, size(es)), b -> " +
          "struct(least(a, b) AS x, greatest(a, b) AS y))))")).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("w"))

  /** LIFT-scored co-occurrence edges — the association-strength signal that
    * separates "co-mentioned because both are everywhere" (a stop-skill
    * next to anything: lift ≈ 1e6) from "co-mentioned because genuinely
    * related" (lift ≫ 1e6): lift = P(x,y) / (P(x)·P(y)) over docs, i.e.
    * (nDocs · w) / (m_x · m_y) with w = co-mentioning docs and m_e =
    * docs mentioning e — exact integer fixed-point (e6, floor), so the
    * oracle hash-matches bit-identically (the log-free core of PMI; rank
    * order under log is unchanged, and the integer discipline beats a
    * float log at oracle parity). The classic use is PRUNING the graph
    * before the iterated analytics: hub-entity edges with lift ≤ 1e6
    * carry no signal and are the exact edges that make [[pagerank]] /
    * [[triangles]] expensive.
    *
    * Shape: per-entity doc counts and the total are one hash-agg each
    * over the distinct (doc, entity) relation; the scalar total joins by
    * broadcast; edge scoring is two entity-keyed equi-joins onto the
    * half relation — nothing pairwise beyond the bounded per-doc pair
    * expansion [[halfCoocEdgesWeighted]] already does. Long envelope
    * (ANSI throws, never corrupts): safe while nDocs·w < 2^63/1e6 ≈
    * 9.2e12 — promote the numerator to DECIMAL(38,0) on both engine and
    * oracle past that.
    * Output: (x, y, w, lift_e6), x < y half relation.
    */
  def edgeLift(triples: DataFrame): DataFrame = {
    val ent = triples.select(col("subj").as("d"), col("obj").as("e")).distinct()
    val m = ent.groupBy(col("e")).agg(count(lit(1)).as("m"))
    val n = ent.agg(countDistinct(col("d")).as("nd"))
    halfCoocEdgesWeighted(triples)
      .join(m.select(col("e").as("x"), col("m").as("mx")), "x")
      .join(m.select(col("e").as("y"), col("m").as("my")), "y")
      .crossJoin(broadcast(n))
      .select(col("x"), col("y"), col("w"),
        expr("(nd * w * 1000000L) div (mx * my)").as("lift_e6"))
  }

  /** WEIGHTED integer PageRank: per-edge contribution
    * (85 · r_src · w) div (100 · wdeg_src), wdeg = Σ w over the source's
    * edges — rank flows proportionally to co-occurrence strength. Same
    * static unrolling, same single pinned action, same bit-exact integer
    * oracle discipline as [[pagerank]]; hub entities (huge wdeg) are
    * plain hash-agg groups, never driver state. Long-arithmetic envelope
    * (ANSI mode throws on overflow rather than corrupting): safe while
    * max(r)·max(w) < 2^63/85 ≈ 1.1e17 — e.g. ranks ≤ 1e9 (total mass of a
    * 1000-node community) × weights ≤ 1e8; past that promote the
    * contribution expression to DECIMAL(38,0) on both engine and oracle.
    * Output: (entity, rank_e6).
    */
  def pagerankWeighted(triples: DataFrame, iters: Int = 3): DataFrame =
    pagerankWeightedOnEdges(pin(coocEdgesWeighted(triples)), iters)

  /** [[pagerankWeighted]] over an already-materialized symmetric weighted
    * edge relation (x, y, w) — the [[materializedWeightedEdgeTable]]
    * production entry.
    */
  def pagerankWeightedOnEdges(edges: DataFrame, iters: Int = 3): DataFrame = {
    val wdeg = edges.groupBy(col("x")).agg(sum(col("w")).as("wdeg"))
    val ed = edges.join(wdeg, "x")
    val init = wdeg.select(col("x").as("n"), lit(1000000L).as("r"))
    val fin = (1 to iters).foldLeft(init) { (ranks, _) =>
      ed.join(ranks, col("x") === col("n"))
        .select(col("y"), expr("(85 * r * w) div (100 * wdeg)").as("c"))
        .groupBy(col("y")).agg((sum(col("c")) + lit(150000L)).as("r"))
        .select(col("y").as("n"), col("r"))
    }
    fin.select(col("n").as("entity"), col("r").as("rank_e6"))
  }

  /** Both analytics consume the edge set MANY times (once per rank
    * iteration / three times in the triangle join). Without pinning, every
    * consumer re-derives edges from the corpus-sized triple relation —
    * measured on the unpinned plan: 1080 physical nodes, the triple
    * pipeline replicated ~8× inside one action. A [[pin]] cuts the
    * re-derivation: the checkpoint is GRAPH-sized (distinct entity pairs),
    * far below the corpus-sized input it would otherwise recompute, so
    * unlike the size-aware shingle checkpoint this one is the right trade at
    * every scale.
    *
    * SCOPE: this is the EXPLORATION-scale entry (one-shot sessions, no
    * standing tables). Every ITERATED consumer — pagerank/LPA/BFS/walk
    * steps, k-core/k-truss peel rounds — re-joins edges on `x` each round,
    * and against an in-session pin that join re-exchanges the edge side
    * every iteration; the production default is [[materializedEdgeTable]]
    * (bucketed+sorted by `x`: edges arrive partitioned from the scan, only
    * node-cardinality state moves per round — measured, see BENCH.md
    * workload 3). The registered `kg_entity_*` iterated queries read the
    * table; single-pass consumers (triangles, support, lift) stay here.
    */
  def pinnedEdges(triples: DataFrame): DataFrame = pin(coocEdges(triples))

  /** The library's one pin: an eager DISK_ONLY localCheckpoint of a
    * relation consumed more than once — across actions, where exchange
    * reuse cannot reach, or inside one plan (iterated joins, self-joins,
    * peel rounds). The blocks are released by the ContextCleaner once the
    * relation is unreachable, so callers carry no cache contract. DISK_ONLY:
    * a pinned relation can exceed the storage-memory pool (a 1M-doc dedup
    * holds ~47M shingle rows), and a MEMORY_AND_DISK pin would compete with
    * join/agg execution memory; executor-local disk behaves like one extra
    * shuffle write and the OS page cache serves the re-reads.
    *
    * CLUSTER CAVEAT: a local checkpoint truncates lineage, so a pinned block
    * lost with its executor cannot be recomputed and every downstream
    * action over it fails. On a cluster where executors can be lost, swap
    * this body for a reliable `checkpoint` (with a checkpoint directory on
    * shared storage).
    */
  private[graft] def pin(df: DataFrame): DataFrame =
    df.localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)

  /** Integer PageRank over the co-occurrence graph, `iters` synchronous
    * iterations statically unrolled (damping 85/100, jump mass 0.15e6;
    * rank_e6 starts at 1e6 per node). Per-edge contribution is the exact
    * floor (85·r_src) div (100·deg_src) — deterministic, so the oracle's
    * identically-unrolled loop hash-matches. Every node of a symmetric
    * graph has deg ≥ 1 and at least one in-edge, so there is no dangling
    * mass and no disappearing node.
    *
    * Shape per iteration: edges ⋈ ranks on the source key → hash-agg by
    * destination — the canonical Pregel-as-DataFrame step. The edge+degree
    * relation is loop-invariant: at production scale it is written once
    * bucketed by `x` (TableIO bucketing) so every iteration's join reuses
    * the layout without re-shuffling edges; ranks (node-cardinality, tiny
    * next to edges) are what move each round. Static unrolling needs no
    * per-iteration driver round-trip ([[graft.kg.canon.ConnectedComponents]]
    * pays one per round only for its convergence test; a fixed-K rank loop
    * does not) — the whole computation is the one [[pinnedEdges]] action
    * plus one final action.
    * Output: (entity, rank_e6).
    */
  def pagerank(triples: DataFrame, iters: Int = 3): DataFrame =
    pagerankOnEdges(pinnedEdges(triples), iters)

  /** [[pagerank]] over an already-materialized symmetric edge relation
    * (x, y) — for callers that maintain the co-occurrence graph as a table
    * (the production shape: TableIO bucketed by `x`) or need to time /
    * reuse the derivation separately.
    */
  def pagerankOnEdges(edges: DataFrame, iters: Int = 3): DataFrame = {
    val deg = edges.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, "x")
    val init = deg.select(col("x").as("n"), lit(1000000L).as("r"))
    val fin = (1 to iters).foldLeft(init) { (ranks, _) =>
      ed.join(ranks, col("x") === col("n"))
        .select(col("y"), expr("(85 * r) div (100 * deg)").as("c"))
        .groupBy(col("y")).agg((sum(col("c")) + lit(150000L)).as("r"))
        .select(col("y").as("n"), col("r"))
    }
    fin.select(col("n").as("entity"), col("r").as("rank_e6"))
  }

  /** PERSONALIZED integer PageRank (random walk with restart): teleport
    * mass returns ONLY to the `seeds` — the "entities related to X" ranking
    * consumers ask of a KG (seed a skill, get the skills/titles/locations
    * its postings gravitate around). Same statically-unrolled bit-exact
    * integer discipline as [[pagerank]]: r0 = 1e6 on seeds / 0 elsewhere,
    * per-iteration r(n) = seedJump(n) + Σ (85·r_src) div (100·deg_src)
    * with seedJump = 150000 on seeds / 0 elsewhere (0.15 of the |S|·1e6
    * total mass split equally over the seed set). The seed set is a
    * driver-held literal IN-list — seeds are a user query parameter
    * (metadata-scale), never a relation. Output: (entity, rank_e6); rank 0
    * marks nodes unreached within `iters` hops.
    */
  def pagerankPersonalized(triples: DataFrame, seeds: Seq[String],
      iters: Int = 3): DataFrame =
    pagerankPersonalizedOnEdges(pinnedEdges(triples), seeds, iters)

  /** [[pagerankPersonalized]] over an already-materialized symmetric edge
    * relation — same table-backed production entry as [[pagerankOnEdges]].
    */
  def pagerankPersonalizedOnEdges(edges: DataFrame, seeds: Seq[String],
      iters: Int = 3): DataFrame = {
    require(seeds.nonEmpty, "personalized pagerank needs a seed set")
    val deg = edges.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, "x")
    def onSeeds(n: org.apache.spark.sql.Column, v: Long) =
      when(n.isin(seeds: _*), lit(v)).otherwise(lit(0L))
    val init = deg.select(col("x").as("n"), onSeeds(col("x"), 1000000L).as("r"))
    val fin = (1 to iters).foldLeft(init) { (ranks, _) =>
      ed.join(ranks, col("x") === col("n"))
        .select(col("y"), expr("(85 * r) div (100 * deg)").as("c"))
        .groupBy(col("y")).agg(sum(col("c")).as("flow"))
        .select(col("y").as("n"),
          (col("flow") + onSeeds(col("y"), 150000L)).as("r"))
    }
    fin.select(col("n").as("entity"), col("r").as("rank_e6"))
  }

  /** k-CORE peeling over the co-occurrence graph: iteratively remove nodes
    * with degree < k until the k-core remains — the standard dense-substructure
    * filter (which entities sit in robustly-connected neighborhoods vs hang
    * off sparse tendrils). CONVERGENCE-CHECKED (the
    * [[graft.kg.canon.ConnectedComponents.run]] discipline): the peel runs
    * until a round removes nothing — the returned edges ARE the k-core on
    * any input, however deep its cascades; there is no silent fixed-round
    * truncation (the defect class a statically-unrolled peel has: a 100×
    * corpus with longer tendrils would quietly return a superset). A peel
    * never adds edges, so an unchanged edge COUNT is a sound fixpoint test
    * — one metadata-scale count action per round, each round's survivor
    * set pinned (graph-sized, referenced 3× by the next round).
    * `maxRounds` is a runaway bound, not a semantic knob: exceeding it
    * THROWS rather than returning the truncated superset (a peel halves
    * nothing per round in the worst case, but real graphs converge in ≤
    * longest-cascade-length rounds; raise the bound if a legitimate input
    * ever trips it).
    * Shape per round: one hash-agg (degrees ≥ k → survivors) + two LEFT
    * SEMI joins restricting edges to surviving endpoints — all equi-keyed,
    * hub nodes are ordinary hash-agg groups.
    * Output: (entity, deg_in_core) for k-core members at the fixpoint.
    */
  def kcore(triples: DataFrame, k: Int = 2, maxRounds: Int = 1024): DataFrame =
    kcoreOnEdges(pinnedEdges(triples), k, maxRounds)

  /** [[kcore]] over an already-materialized symmetric edge relation (the
    * OnEdges contract: a bucketed table scan or an already-pinned
    * relation — the input is deliberately NOT re-pinned, which would copy
    * a whole bucketed table per run and discard its scan layout; round 1
    * re-reads it 2–3×, every later round reads the pinned survivor set).
    * An empty survivor set converges immediately (the empty core is fully
    * determined — it must never trip the runaway throw).
    */
  def kcoreOnEdges(edges: DataFrame, k: Int = 2, maxRounds: Int = 1024): DataFrame = {
    var e = edges.select(col("x"), col("y"))
    var n = e.count()
    var converged = n == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      val surv = e.groupBy(col("x")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("x"))
      val next = pin(e.join(surv, Seq("x"), "left_semi")
        .join(surv.select(col("x").as("y")), Seq("y"), "left_semi"))
      val m = next.count()
      converged = m == n || m == 0L
      n = m
      e = next
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"k-core peel not converged after $maxRounds rounds ($n edges left) — " +
        "raise maxRounds; refusing to return a truncated superset")
    e.groupBy(col("x")).agg(count(lit(1)).as("deg_in_core"))
      .select(col("x").as("entity"), col("deg_in_core"))
  }

  /** Log2-bucketed DEGREE HISTOGRAM of the co-occurrence graph — the skew
    * diagnostic run before the iterated analytics (how heavy are the hub
    * entities the salting / lift-pruning decisions are about): bucket =
    * floor(log2(deg)) computed exactly as `length(bin(deg)) - 1` (binary
    * digit count — identical integer semantics on both engines, no float
    * log). Two hash-aggs: entity degrees, then per-bucket count + degree
    * range. Output: (bucket, n_entities, min_deg, max_deg).
    */
  def degreeHistogram(triples: DataFrame): DataFrame =
    pinnedEdges(triples).groupBy(col("x")).agg(count(lit(1)).as("deg"))
      .select(col("deg"), (length(bin(col("deg"))) - 1).cast("bigint").as("bucket"))
      .groupBy(col("bucket")).agg(
        count(lit(1)).as("n_entities"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))

  /** Multi-source BFS hop distance from a seed entity set — the
    * "how far is every entity from X" neighborhood query consumers run on
    * a KG (seed a skill, get its 1-hop/2-hop halo; the exploration dual of
    * [[pagerankPersonalized]]'s soft ranking). `rounds` rounds statically
    * unrolled under the [[pagerank]] discipline: no per-round driver
    * round-trip, and the oracle unrolls the identical rounds so the hash
    * match is exact; entities unreached within `rounds` hops are absent
    * (an R-round BFS is the honest semantics — it IS the radius-R
    * neighborhood).
    *
    * Shape per round: the unrolling makes the FRONTIER a static predicate
    * (`d = round − 1` — BFS discovers a node only from distance-(i−1)
    * nodes, so propagating from the full reached set would be wasted
    * work), so each round is one equi-join of edges against the
    * frontier + one min hash-agg + one left join back into the
    * node-cardinality distance relation. Edges never re-shuffle across
    * rounds at production (bucketed edge table, see
    * [[materializedEdgeTable]]); only distances move.
    * Output: (entity, dist), seeds at 0, reached entities only.
    */
  def bfs(triples: DataFrame, seeds: Seq[String], rounds: Int = 4): DataFrame =
    bfsOnEdges(pinnedEdges(triples), seeds, rounds)

  /** [[bfs]] over an already-materialized symmetric edge relation. */
  def bfsOnEdges(edges: DataFrame, seeds: Seq[String],
      rounds: Int = 4): DataFrame = {
    require(seeds.nonEmpty, "bfs needs a seed set")
    val init = edges.select(col("x").as("n")).distinct()
      .select(col("n"), when(col("n").isin(seeds: _*), lit(0L)).as("d"))
    val fin = (1 to rounds).foldLeft(init) { (dist, i) =>
      val frontier = dist.where(col("d") === lit((i - 1).toLong))
      val prop = edges.join(frontier, col("x") === col("n"))
        .groupBy(col("y")).agg(min(col("d") + 1).as("nd"))
      // least() skips nulls on both engines: an already-reached node keeps
      // its (strictly smaller) distance, an unreached one takes nd or
      // stays null
      dist.join(prop, col("n") === col("y"), "left")
        .select(col("n"), least(col("d"), col("nd")).as("d"))
    }
    fin.where(col("d").isNotNull)
      .select(col("n").as("entity"), col("d").as("dist"))
  }

  /** WEIGHTED shortest paths from a seed set — [[bfs]]'s weighted dual:
    * hop cost = 1e6 div w (stronger co-occurrence = cheaper hop, exact
    * integer floor; w ≥ 1e6 co-mentions → cost 0 is fine for a
    * nonnegative relaxation), dist = min cost over ALL paths.
    * CONVERGENCE-CHECKED Bellman–Ford (the [[kcore]]/CC discipline):
    * relaxation rounds run until none improves any node's distance — true
    * shortest paths at any graph diameter, with `maxRounds` a THROWING
    * runaway bound, never a silent hop truncation (the radius-limited
    * semantics lives in [[hopBoundedShortestPaths]] under its honest
    * name). Distances are monotone nonincreasing and bounded, so an
    * unchanged (reached-count, distance-SUM) signature is a sound
    * fixpoint test — any improvement strictly grows the count or shrinks
    * the sum (a hash-based signature would not be: colliding or
    * cancelling hash deltas could declare convergence mid-relaxation);
    * the sum is DECIMAL(38,0) so no distance scale can overflow it.
    * One metadata-scale agg action per round, the
    * node-cardinality distance relation pinned per round to cut the
    * iterated lineage. Unlike BFS there is no static frontier predicate —
    * a cheaper path can re-relax an already-reached node, so each round
    * joins edges against the full reached set: one equi-join + min
    * hash-agg + left join, edges loop-invariant
    * ([[materializedEdgeTable]] layout at production).
    * Output: (entity, dist_e6), seeds at 0, reached entities only.
    */
  def shortestPaths(triples: DataFrame, seeds: Seq[String],
      maxRounds: Int = 1024): DataFrame =
    shortestPathsOnWeightedEdges(pin(coocEdgesWeighted(triples)), seeds, maxRounds)

  /** [[shortestPaths]] over an already-materialized symmetric weighted
    * edge relation (x, y, w) — the [[materializedWeightedEdgeTable]]
    * production entry (hop costs derived from w inside).
    */
  def shortestPathsOnWeightedEdges(wEdges: DataFrame, seeds: Seq[String],
      maxRounds: Int = 1024): DataFrame = {
    require(seeds.nonEmpty, "shortestPaths needs a seed set")
    val edges = wEdges.select(col("x"), col("y"), expr("1000000 div w").as("c"))
    var dist = pin(edges.select(col("x").as("n")).distinct()
      .select(col("n"), when(col("n").isin(seeds: _*), lit(0L)).as("d")))
    def signature(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(
        count(col("d")).as("n"),
        coalesce(sum(col("d").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)).as("s"))
        .head()
      (r.getLong(0), r.getDecimal(1))
    }
    var sig = signature(dist)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val prop = edges.join(dist.where(col("d").isNotNull), col("x") === col("n"))
        .groupBy(col("y")).agg(min(col("d") + col("c")).as("nd"))
      val next = pin(dist.join(prop, col("n") === col("y"), "left")
        .select(col("n"), least(col("d"), col("nd")).as("d")))
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      dist = next
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"shortest-path relaxation not converged after $maxRounds rounds — " +
        "raise maxRounds; refusing to return hop-truncated distances")
    dist.where(col("d").isNotNull)
      .select(col("n").as("entity"), col("d").as("dist_e6"))
  }

  /** Min-cost paths WITHIN a hop radius — the radius-R semantics the
    * fixed-unroll used to (mis)serve under the shortest-paths name: dist =
    * min cost over paths of ≤ `rounds` hops, the weighted analog of
    * [[bfs]]'s radius-R halo (and like it, honest fixed-R semantics: the
    * rounds ARE the contract, statically unrolled with no per-round driver
    * action). Use [[shortestPaths]] when you mean the true fixpoint.
    */
  def hopBoundedShortestPaths(triples: DataFrame, seeds: Seq[String],
      rounds: Int = 4): DataFrame = {
    require(seeds.nonEmpty, "hopBoundedShortestPaths needs a seed set")
    val edges = pin(coocEdgesWeighted(triples)
      .select(col("x"), col("y"), expr("1000000 div w").as("c")))
    val init = edges.select(col("x").as("n")).distinct()
      .select(col("n"), when(col("n").isin(seeds: _*), lit(0L)).as("d"))
    val fin = (1 to rounds).foldLeft(init) { (dist, _) =>
      val prop = edges.join(dist.where(col("d").isNotNull), col("x") === col("n"))
        .groupBy(col("y")).agg(min(col("d") + col("c")).as("nd"))
      dist.join(prop, col("n") === col("y"), "left")
        .select(col("n"), least(col("d"), col("nd")).as("d"))
    }
    fin.where(col("d").isNotNull)
      .select(col("n").as("entity"), col("d").as("dist_e6"))
  }

  private val materializedEdgeTbl =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Materialize the symmetric co-occurrence edge relation as the
    * PRODUCTION layout: a parquet table bucketed AND sorted by `x`
    * (`buckets` files via the matching repartition), registered in the
    * session catalog. Downstream iterated consumers
    * ([[pagerankOnEdges]] via `spark.table(name)`) then get the edge side
    * of every per-iteration equi-join on `x` partitioned (and ordered)
    * FROM THE SCAN — no per-iteration edge exchange or sort; only the
    * node-cardinality rank relation moves. Build-once per (tag, buckets)
    * with the [[graft.ops.Similarity.materializedIndex]] revalidation
    * discipline; returns the catalog table name.
    *
    * SCALING CONTRACT — what is measured vs what is inferred (BENCH.md
    * workload 3, 800-replica corpus, this single box):
    *  - PROVEN: the bucketed path is strictly cheaper in ABSOLUTE cost at
    *    every parallelism level measured — iterate segment 28.2 s at
    *    local[8] and 13.9 s at local[32], vs 64.2/19.8 s for the pinned
    *    in-session path on the same inputs with bit-identical results.
    *    Prefer it at any scale; that claim needs no cluster.
    *  - MEASURED BUT MACHINE-BOUND: the bucketed iterate's own N→4N
    *    ratio on this box is 0.507. Probe isolation attributes the gap to
    *    the shared 260 MB L3 (32 MB/thread at 8 threads vs 8 MB at 32;
    *    DRAM bandwidth, frequency scaling, and GC were each exonerated by
    *    direct measurement), and the pinned path "scales" 0.81 only by
    *    doing strictly more streaming work per round.
    *  - INFERRED, NOT PROVEN: on a real cluster, executors do not share
    *    one L3, so per-core cache capacity — and with it the ratio — is
    *    expected to recover toward the workload's 0.82+ gates. No
    *    multi-memory-domain measurement exists in this sandbox; treat the
    *    cluster ratio as an expectation, not a result.
    */
  def materializedEdgeTable(spark: org.apache.spark.sql.SparkSession,
      triples: DataFrame, tag: String, buckets: Int = 64): String = {
    val name = ("graft_cooc_edges_" + tag + "_b" + buckets)
      .replaceAll("[^A-Za-z0-9_]", "_")
    def build(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-cooc-edges").toString
      spark.sql(s"DROP TABLE IF EXISTS $name")
      coocEdges(triples).repartition(buckets, col("x"))
        .write.bucketBy(buckets, "x").sortBy("x")
        .option("path", s"$dir/edges").format("parquet").saveAsTable(name)
      name
    }
    val key = s"$tag/$buckets"
    val cached = materializedEdgeTbl.getOrElseUpdate(key, build())
    if (spark.catalog.tableExists(cached)) cached
    else { val fresh = build(); materializedEdgeTbl.put(key, fresh); fresh }
  }

  private val materializedWeightedEdgeTbl =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** [[materializedEdgeTable]] for the WEIGHTED relation (x, y, w) — the
    * standing table the weighted iterated consumers
    * ([[pagerankWeightedOnEdges]], [[shortestPathsOnWeightedEdges]]) read;
    * same bucketed+sorted-by-`x` layout and build-once revalidation.
    */
  def materializedWeightedEdgeTable(spark: org.apache.spark.sql.SparkSession,
      triples: DataFrame, tag: String, buckets: Int = 64): String = {
    val name = ("graft_cooc_wedges_" + tag + "_b" + buckets)
      .replaceAll("[^A-Za-z0-9_]", "_")
    def build(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-cooc-wedges").toString
      spark.sql(s"DROP TABLE IF EXISTS $name")
      coocEdgesWeighted(triples).repartition(buckets, col("x"))
        .write.bucketBy(buckets, "x").sortBy("x")
        .option("path", s"$dir/edges").format("parquet").saveAsTable(name)
      name
    }
    val key = s"$tag/$buckets"
    val cached = materializedWeightedEdgeTbl.getOrElseUpdate(key, build())
    if (spark.catalog.tableExists(cached)) cached
    else { val fresh = build(); materializedWeightedEdgeTbl.put(key, fresh); fresh }
  }

  /** Entity COMMUNITIES: connected components over the co-occurrence graph
    * — which entities are transitively linked through shared postings (the
    * coarse community structure consumers segment the KG by). Reuses the
    * R13 large-star/small-star engine ([[graft.kg.canon.ConnectedComponents]]
    * — O(log n) rounds, groupBy-min + equi-joins only); entities mentioned
    * in the corpus but co-occurring with nothing keep themselves as
    * singleton components via one left join (no extra iteration).
    * Output: (entity, component) for EVERY distinct entity, component = min
    * member under the id ordering.
    */
  def components(triples: DataFrame): DataFrame = {
    val cc = graft.kg.canon.ConnectedComponents.run(
      pinnedEdges(triples).select(col("x").as("src"), col("y").as("dst")))
      .select(col("node").as("entity"), col("component"))
    triples.select(col("obj").as("entity")).distinct()
      .join(cc, Seq("entity"), "left")
      .select(col("entity"),
        coalesce(col("component"), col("entity")).as("component"))
  }

  /** Per-entity triangle counts over the co-occurrence graph — the local
    * clustering signal (how interlinked an entity's neighborhood is).
    * Enumeration uses the DEGREE-ORDERED orientation (each undirected edge
    * points from its lower (deg, id) endpoint): every triangle is counted
    * exactly once via its smallest vertex, and — the scale property — a hot
    * entity of degree d contributes join groups bounded by its ORIENTED
    * out-degree (≤ the number of HIGHER-degree neighbors, O(√m) for any
    * graph), not d² — the standard mitigation for power-law entity graphs.
    * The oracle counts the same triangles from the plain x<y orientation;
    * the per-node counts are provably identical, which is exactly the
    * orientation-independence the pairing verifies.
    * Output: (entity, n_tri) for entities in ≥ 1 triangle.
    */
  def triangles(triples: DataFrame): DataFrame =
    trianglesOnEdges(pinnedEdges(triples))

  /** The degree-ordered triangle enumeration shared by [[trianglesOnEdges]]
    * and [[edgeSupportOnEdges]]: every triangle exactly once as (a, b, c)
    * in (deg, id) order — NOT value order (normalize with least/greatest
    * when value-ordered edges are needed).
    */
  private def triangleTriples(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val und = edges.where(col("x") < col("y"))
    val ord = und
      .join(deg.select(col("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("x").as("y"), col("deg").as("dy")), Seq("y"))
      .select(
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")), col("x"))
          .otherwise(col("y")).as("src"),
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")), col("y"))
          .otherwise(col("x")).as("dst"))
    ord.as("e1")
      .join(ord.as("e2"), col("e1.dst") === col("e2.src"))
      .join(ord.as("e3"),
        col("e3.src") === col("e1.src") && col("e3.dst") === col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
  }

  /** [[triangles]] over an already-materialized symmetric edge relation. */
  def trianglesOnEdges(edges: DataFrame): DataFrame =
    triangleTriples(edges)
      .select(explode(array(col("a"), col("b"), col("c"))).as("entity"))
      .groupBy(col("entity")).agg(count(lit(1)).as("n_tri"))

  /** Per-edge triangle SUPPORT and EMBEDDEDNESS — the edge-strength dual
    * of [[clusteringCoefficient]] and the building block of k-truss
    * decompositions: supp = triangles through the edge (= common
    * neighbors of its endpoints), emb_e6 = supp·1e6 div
    * (deg_x + deg_y − 2 − supp) — the exact-integer Jaccard of the two
    * neighborhoods (minus the endpoints themselves): 1e6 = the edge lives
    * entirely inside a clique, 0 = a pure bridge. Bridges with high lift
    * but zero embeddedness are the classic "spurious co-occurrence"
    * signature. Enumeration is the same degree-ordered join as
    * [[triangles]] (hot entities bounded at O(√m) join groups); each
    * triangle credits its three value-normalized edges through one
    * explode + hash-agg. Output: (x, y, supp, emb_e6) for every x < y
    * edge, zero-support edges included via left join.
    */
  def edgeSupport(triples: DataFrame): DataFrame =
    edgeSupportOnEdges(pinnedEdges(triples))

  /** Per-(x<y)-edge triangle counts over a symmetric edge relation —
    * shared by [[edgeSupportOnEdges]] and the [[ktruss]] peel rounds.
    */
  private def edgeTriangleSupport(edges: DataFrame): DataFrame =
    triangleTriples(edges)
      .select(explode(array(
        struct(least(col("a"), col("b")).as("x"), greatest(col("a"), col("b")).as("y")),
        struct(least(col("b"), col("c")).as("x"), greatest(col("b"), col("c")).as("y")),
        struct(least(col("a"), col("c")).as("x"), greatest(col("a"), col("c")).as("y"))))
        .as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("supp"))

  /** [[edgeSupport]] over an already-materialized symmetric edge relation. */
  def edgeSupportOnEdges(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val supp = edgeTriangleSupport(edges)
    edges.where(col("x") < col("y"))
      .join(deg.select(col("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("x").as("y"), col("deg").as("dy")), Seq("y"))
      .join(supp, Seq("x", "y"), "left")
      .select(col("x"), col("y"), coalesce(col("supp"), lit(0L)).as("supp"),
        col("dx"), col("dy"))
      .select(col("x"), col("y"), col("supp"),
        when(col("dx") + col("dy") - 2 - col("supp") <= 0, lit(0L)).otherwise(
          expr("(supp * 1000000) div (dx + dy - 2 - supp)")).as("emb_e6"))
  }

  /** k-TRUSS peel — the edge-level dense-substructure filter one notch
    * above [[kcore]] (every surviving edge sits in ≥ k−2 triangles WITHIN
    * the truss; a k-truss is the standard community-core definition that
    * a hub-spoke star can't fake, since spokes have zero support).
    * CONVERGENCE-CHECKED like [[kcore]]: support-filter rounds run until
    * one removes no edge — the result IS the k-truss at any cascade depth,
    * never a fixed-round truncated superset; `maxRounds` is a runaway
    * bound that THROWS when exceeded. The fixpoint round's support relation
    * doubles as the survivor labeling (the set didn't change, so its
    * within-truss supports are already computed) — convergence costs no
    * extra triangle pass over the old truncated unroll.
    * Each round is one degree-ordered triangle enumeration over the
    * surviving edges (the [[triangles]] join, O(√m)-bounded hot groups) +
    * one explode/hash-agg + one left-join filter — all equi-keyed.
    * Output: (x, y, supp) for x < y edges of the truss, supp counted
    * within it.
    */
  def ktruss(triples: DataFrame, k: Int = 3, maxRounds: Int = 1024): DataFrame =
    ktrussOnEdges(pinnedEdges(triples), k, maxRounds)

  /** [[ktruss]] over an already-materialized symmetric edge relation.
    * Each round's surviving half (with supports) is eagerly checkpointed
    * (graph-sized, the [[pinnedEdges]] discipline) — load-bearing, not
    * hygiene: the triangle enumeration self-joins its input 3×, so an
    * un-materialized round-i half would re-execute the whole round-(i−1)
    * computation per reference (3^rounds plan blow-up; measured 24 s →
    * ~7 s at sf0.1 when pinned).
    */
  def ktrussOnEdges(edges: DataFrame, k: Int = 3, maxRounds: Int = 1024): DataFrame = {
    def sym(half: DataFrame) =
      half.union(half.select(col("y").as("x"), col("x").as("y")))
    // input deliberately not re-pinned (the kcoreOnEdges contract): round 1
    // re-reads the caller's materialized relation a few times, later rounds
    // read the pinned per-round survivor relation
    var half = edges.where(col("x") < col("y")).select(col("x"), col("y"))
    var n = half.count()
    var labeled: DataFrame = null
    var round = 0
    while (labeled == null && round < maxRounds) {
      val withSupp = pin(
        half.join(edgeTriangleSupport(sym(half)), Seq("x", "y"), "left")
          .select(col("x"), col("y"),
            coalesce(col("supp"), lit(0L)).as("supp")))
      val next = withSupp.where(col("supp") >= k - 2)
      val m = next.count()
      // m == n: fixpoint, supports already counted within it; m == 0: the
      // empty truss is fully determined — converge now, don't burn a
      // confirmation round (or the runaway throw at the cap boundary)
      if (m == n || m == 0L) labeled = next
      else {
        half = next.select(col("x"), col("y")) // filter over the pinned relation
        n = m
      }
      round += 1
    }
    if (labeled == null) throw new IllegalStateException(
      s"k-truss peel not converged after $maxRounds rounds ($n edges left) — " +
        "raise maxRounds; refusing to return a truncated superset")
    labeled
  }

  /** Local CLUSTERING COEFFICIENT per entity — how interlinked an entity's
    * neighborhood is, normalized: lcc = 2·tri / (deg·(deg−1)) in exact
    * integer fixed-point (e6, floor) — 1e6 means "my neighbors all know
    * each other" (a tight skill cluster), 0 a pure star hub. Composes the
    * degree-ordered [[triangles]] enumeration with the degree agg over ONE
    * pinned edge relation (no second derivation); entities in no triangle
    * left-join to 0. Long envelope: safe while n_tri < 2^63/2e6 ≈ 4.6e12
    * per entity (a degree-3e6 clique member) — DECIMAL past that.
    * Output: (entity, deg, n_tri, lcc_e6) for every connected entity.
    */
  def clusteringCoefficient(triples: DataFrame): DataFrame = {
    val edges = pinnedEdges(triples)
    val deg = edges.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    deg.join(trianglesOnEdges(edges).withColumnRenamed("entity", "x"),
        Seq("x"), "left")
      .select(col("x").as("entity"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .select(col("entity"), col("deg"), col("n_tri"),
        when(col("deg") < 2, lit(0L)).otherwise(
          expr("(2 * n_tri * 1000000) div (deg * (deg - 1))")).as("lcc_e6"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007, made
    * DETERMINISTIC): community detection that — unlike [[components]] —
    * respects density, not mere reachability (a single bridge edge does
    * not merge two tight clusters). Labels start as the node's own id;
    * each of `rounds` statically-unrolled synchronous rounds every node
    * adopts the most frequent label among its neighbors, ties broken by
    * MIN label (the published algorithm breaks ties randomly; the
    * deterministic tie-break is what makes the identically-unrolled
    * oracle hash-exact and reruns reproducible — a production requirement
    * anyway).
    *
    * Shape per round: edges ⋈ labels on the source key → (dst, label)
    * count hash-agg → per-dst max-count hash-agg → join back + min-label
    * hash-agg. All equi-keyed, all partial-aggregatable map-side; like
    * [[pagerankOnEdges]] the edge relation is loop-invariant (bucket it
    * at production scale) and only the node-cardinality label relation
    * moves per round. No driver round-trips (fixed K; convergence-checked
    * LPA would add the CC-style signature test).
    *
    * The per-round label relation is deliberately NOT checkpointed: its
    * doubly-referenced subtrees (cnt feeds both the max agg and the
    * tie-break join) are node-cardinality hash-aggs whose exchanges are
    * reused within the one action — measured at sf0.1, per-round
    * DISK_ONLY pins bought nothing (4.8 → 4.2 s, noise) while the same
    * experiment REGRESSED the walk family (see [[randomWalksOnEdges]]);
    * contrast [[ktrussOnEdges]], whose rounds re-execute a triangle
    * SELF-JOIN and measured 24 → 4.6 s pinned.
    * Output: (entity, label).
    */
  def labelPropagation(triples: DataFrame, rounds: Int = 3): DataFrame =
    labelPropagationOnEdges(pinnedEdges(triples), rounds)

  /** [[labelPropagation]] over an already-materialized symmetric edge
    * relation. The ROUNDS ARE THE CONTRACT (the [[bfs]] radius
    * precedent, stated honestly): synchronous LPA can oscillate forever
    * between two label states (a single edge already 2-cycles), so an
    * unconditional run-to-fixpoint loop is not total — this operator is
    * the bounded fixed-R variant, and
    * [[labelPropagationConvergedOnEdges]] is the fixpoint variant with
    * the oscillation guard.
    */
  def labelPropagationOnEdges(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val fin = (1 to rounds).foldLeft(lpaInit(edges))((labs, _) => lpaStep(edges, labs))
    fin.select(col("n").as("entity"), col("lab").as("label"))
  }

  private def lpaInit(edges: DataFrame): DataFrame =
    edges.select(col("x").as("n")).distinct()
      .select(col("n"), col("n").as("lab"))

  /** One synchronous LPA round: neighbor-label count → per-node max
    * count → min label among the tied argmax (the deterministic
    * tie-break every LPA oracle replicates).
    */
  private def lpaStep(edges: DataFrame, labs: DataFrame): DataFrame = {
    val cnt = edges
      .join(labs.select(col("n").as("x"), col("lab")), "x")
      .groupBy(col("y"), col("lab")).agg(count(lit(1)).as("c"))
    val mx = cnt.groupBy(col("y")).agg(max(col("c")).as("mc"))
    cnt.join(mx, "y").where(col("c") === col("mc"))
      .groupBy(col("y")).agg(min(col("lab")).as("lab"))
      .select(col("y").as("n"), col("lab"))
  }

  /** CONVERGENCE-CHECKED label propagation with a 2-CYCLE DETECTOR — the
    * fixpoint dual of [[labelPropagationOnEdges]]. Synchronous LPA is
    * not guaranteed to reach a fixpoint: bipartite-ish structures
    * oscillate between two label states forever (a single edge already
    * does), which is why a bare "iterate until no change" loop is
    * unsound as an operator. This variant stops at the first repeated
    * state, detected exactly (the CC full-outer set-equality probe, no
    * hash signatures):
    *  - next = cur         → true fixpoint, return it;
    *  - next = state TWO rounds back → 2-cycle; the two alternating
    *    states are (cur, next), and the result is their elementwise
    *    min-label merge — deterministic, and exactly where a
    *    semi-synchronous scheduler would settle the oscillating pair
    *    (Raghavan et al. 2007 prescribe asynchrony for the same reason).
    * Periods > 2 are not detected (rare in practice; guarded by the
    * THROWING `maxRounds` runaway bound — never a silent truncation).
    * Per round: one labs pin + up to two emptiness probes, all
    * node-cardinality.
    * Output: (entity, label).
    */
  def labelPropagationConverged(triples: DataFrame, maxRounds: Int = 64): DataFrame =
    labelPropagationConvergedOnEdges(pinnedEdges(triples), maxRounds)

  /** [[labelPropagationConverged]] over a materialized symmetric edge
    * relation.
    */
  def labelPropagationConvergedOnEdges(edges: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.withColumn("l", lit(1))
        .join(b.withColumn("r", lit(1)), Seq("n", "lab"), "full_outer")
        .where(col("l").isNull || col("r").isNull)
        .isEmpty
    var prev2: DataFrame = null
    var cur = pin(lpaInit(edges))
    var result: DataFrame = null
    var round = 0
    while (result == null && round < maxRounds) {
      val next = pin(lpaStep(edges, cur))
      if (same(next, cur)) result = next
      else if (prev2 != null && same(next, prev2))
        result = cur.select(col("n"), col("lab").as("la"))
          .join(next.select(col("n"), col("lab").as("lb")), "n")
          .select(col("n"), least(col("la"), col("lb")).as("lab"))
      else { prev2 = cur; cur = next; round += 1 }
    }
    require(result != null,
      s"labelPropagationConverged: no fixpoint or 2-cycle within $maxRounds " +
        "rounds — raise maxRounds (a longer-period oscillation is possible " +
        "but pathological); refusing to return a mid-oscillation state")
    result.select(col("n").as("entity"), col("lab").as("label"))
  }

  /** Deterministic random-walk corpus over the co-occurrence graph — the
    * DeepWalk/node2vec PREPROCESSING step (Perozzi et al. 2014): emit
    * `walksPerNode` length-`steps` walks per entity (DeepWalk's γ
    * parameter — one walk per node under-samples every neighborhood;
    * walk r of node n has walk_id `len(n):n#r` — the LENGTH PREFIX makes
    * the (node, r) encoding injective for arbitrary string entity ids
    * (without it, ids containing '#' could collide two different walks
    * into one id and silently merge them) and keeps the downstream
    * `walk_id|step|y` hash input unambiguous; since the next-hop hash is
    * keyed on walk_id, the r walks of one node genuinely diverge);
    * downstream embedding training consumes the walks as sentences.
    * "Random" is a hash: from node `cur` at step `i`, the walk moves to
    * the neighbor `y` minimizing the portable 60-bit md5 hash of
    * `walk_id|i|y` — fully deterministic (reruns and the oracle reproduce
    * the corpus bit-exactly; a different corpus = different walksPerNode
    * or a walk_id salt), yet distributed like a uniform pick over
    * neighbors.
    *
    * Shape per step: frontier (one row per walk) ⋈ edges on cur = x →
    * per-walk min-hash hash-agg → join back + min-y hash-agg (the
    * two-agg tie-break discipline of [[labelPropagationOnEdges]]; a
    * 60-bit tie among a node's neighbors is ~impossible but the oracle
    * must not depend on engine arg-min tie order). Per-step cost is one
    * pass over the frontier's adjacency — the same envelope as a
    * PageRank iteration restricted to the frontier; hub-degree fan-out
    * collapses map-side in the partial min agg.
    *
    * The per-step frontier is deliberately NOT checkpointed even though
    * each step's relations are referenced twice (cand by the min agg +
    * the tie-break join; next by the output union + the next frontier):
    * the repeats are walk-cardinality aggs whose exchanges are reused
    * within the one action — MEASURED at sf0.1: per-step DISK_ONLY pins
    * left kg_random_walks flat (10.2 → 10.6 s) and regressed
    * kg_walk_pairs 6.8 → 10.7 s (eager-action overhead exceeds any reuse
    * win). Contrast [[ktrussOnEdges]] (triangle SELF-JOIN per round,
    * 24 → 4.6 s pinned) — pin when the repeated subtree multiplies work,
    * not merely when it is referenced twice.
    * Output: (walk_id, step, node), steps+1 rows per walk.
    */
  def randomWalks(triples: DataFrame, steps: Int = 3,
      walksPerNode: Int = 1): DataFrame =
    randomWalksOnEdges(pinnedEdges(triples), steps, walksPerNode)

  /** [[randomWalks]] over an already-materialized symmetric edge relation. */
  def randomWalksOnEdges(edges: DataFrame, steps: Int = 3,
      walksPerNode: Int = 1): DataFrame = {
    def hash60(s: Column): Column =
      conv(substring(md5(s), 1, 15), 16, 10).cast("long")
    val init = edges.select(col("x")).distinct()
      .select(col("x"), explode(expr(s"sequence(0, ${walksPerNode - 1})")).as("r"))
      // length-prefixed walk id: injective over arbitrary string node ids
      // (see scaladoc); r is digits and terminates the id unambiguously
      .select(concat(length(col("x")).cast("string"), lit(":"), col("x"),
        lit("#"), col("r").cast("string")).as("walk_id"), col("x").as("cur"))
    val (rows, _) = (1 to steps).foldLeft(
      (init.select(col("walk_id"), lit(0L).as("step"), col("cur").as("node")),
        init)) { case ((acc, frontier), i) =>
      val cand = frontier
        .join(edges.withColumnRenamed("x", "cur"), "cur")
        .select(col("walk_id"), col("y"),
          hash60(concat_ws("|", col("walk_id"), lit(i), col("y"))).as("h"))
      val mh = cand.groupBy(col("walk_id")).agg(min(col("h")).as("mh"))
      val next = cand.join(mh, "walk_id").where(col("h") === col("mh"))
        .groupBy(col("walk_id")).agg(min(col("y")).as("cur"))
      (acc.union(next.select(col("walk_id"), lit(i.toLong).as("step"),
        col("cur").as("node"))), next)
    }
    rows
  }

  /** NEIGHBORHOOD-FUNCTION sketch — per-entity estimated reach at a hop
    * radius, the HyperBall computation (Boldi & Vigna 2013: "how many
    * nodes are within r hops of v", the primitive behind effective-
    * diameter, harmonic-centrality and reachability profiling on
    * web-scale graphs) restated with KMV bottom-k sketches instead of
    * HyperLogLog registers — KMV merge is EXACT
    * (`bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B))`, the
    * [[graft.kg.query.TripleStore.mergeKminSketches]] identity), which is
    * what makes a bit-exact oracle possible; estimator and error envelope
    * are the catalog sketch's ((k−1)·2^60 div h_k, ≈ 1/√(k−2)).
    *
    * Per round every node merges its own sketch with its neighbors'
    * (N(v, r+1) = {v} ∪ ⋃ N(u, r)): the sketch relation is (node, h)
    * rows — ≤ k per node — so a round is one edges⋈sketch equi-join
    * (fan-out ≤ m·k) + a TWO-LEVEL bottom-k (group by (node, pmod(h,
    * salts)) → per-bucket bottom-k → re-group by node), the salted-
    * ranking discipline with a twist: the salt is the HASH VALUE itself,
    * uniform by construction, so a degree-d hub's first-level group state
    * is (d+1)·k/salts with NO adversarial skew possible; `salts` is the
    * knob that bounds per-group state at web scale. `radius` is a
    * semantic parameter (the r of the neighborhood function), not a
    * convergence loop — radius-R is the contract, like [[bfs]].
    * Output: (entity, reach_est) — exact |N(v, radius)| below k, the KMV
    * estimate at ≥ k.
    */
  def reachSketch(triples: DataFrame, radius: Int = 2, k: Int = 8,
      salts: Int = 16): DataFrame =
    reachSketchOnEdges(pinnedEdges(triples), radius, k, salts)

  /** The pinned (node, h) sketch relations at radii 1..`radius` — shared
    * by [[reachSketchOnEdges]] and [[harmonicCentralityOnEdges]].
    */
  private def sketchRounds(edges: DataFrame, radius: Int, k: Int,
      salts: Int): Seq[DataFrame] = {
    def hash60(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    def bottomK(rel: DataFrame): DataFrame =
      rel.groupBy(col("node"), pmod(col("h"), lit(salts)).as("s"))
        .agg(slice(array_sort(collect_set(col("h"))), 1, k).as("hs"))
        .select(col("node"), explode(col("hs")).as("h"))
        .groupBy(col("node"))
        .agg(slice(array_sort(collect_set(col("h"))), 1, k).as("hs"))
        .select(col("node"), explode(col("hs")).as("h"))
    // r = 0: every node holds the sketch of {itself}
    var r = pin(edges.select(col("x")).distinct()
      .select(col("x").as("node"), hash60(col("x")).as("h")))
    (1 to radius).map { _ =>
      r = pin(bottomK(r.unionByName(
        edges.join(r, col("x") === col("node"))
          .select(col("y").as("node"), col("h")))))
      r
    }
  }

  private val M60 = 1152921504606846976L // 2^60, the hash range

  /** The KMV estimate of a (node, h) sketch relation as column `name`:
    * exact count below k, (k−1)·2^60 div h_k at ≥ k. The divisor is
    * clamped to ≥ 1 so the estimator is total: a 60-bit hash CAN be 0
    * (probability 2^-60 per value — adversarial/astronomical, but a
    * division-by-zero crash is the wrong failure mode for an estimator);
    * the DuckDB oracles clamp identically.
    */
  private def sketchEstimate(sketch: DataFrame, k: Int, name: String): DataFrame =
    sketch.groupBy(col("node"))
      .agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
      .select(col("node"),
        when(col("n") < k, col("n").cast("long")).otherwise(
          expr(s"cast(${k - 1} as decimal(38,0)) * ${M60}L div greatest(hk, 1L)"))
          .as(name))

  /** [[reachSketch]] over an already-materialized symmetric edge relation. */
  def reachSketchOnEdges(edges: DataFrame, radius: Int = 2, k: Int = 8,
      salts: Int = 16): DataFrame = {
    require(radius >= 1, s"reachSketch needs radius >= 1 (got $radius)")
    sketchEstimate(sketchRounds(edges, radius, k, salts).last, k, "reach_est")
      .withColumnRenamed("node", "entity")
  }

  /** HARMONIC CENTRALITY estimated from the neighborhood-function profile
    * — HyperBall's headline application (Boldi & Vigna 2013: centrality =
    * Σ_u 1/d(v,u), computed radius-by-radius as Σ_r (|N(v,r)| −
    * |N(v,r−1)|)/r without ever materializing distances): per-radius KMV
    * estimates (exact below k) feed the same telescoping sum in integer
    * e6 fixed-point, each shell term floor-divided and clamped at 0 (a
    * shell estimate can regress when the sketch crosses the exact→
    * estimated boundary; the clamp is part of the operator's definition
    * and the oracle states it identically). Truncated at `radius` — the
    * r-bounded harmonic centrality, the published practice (shells beyond
    * the effective diameter contribute ~0 mass).
    * Output: (entity, est_r1, est_r2, …, harm_e6).
    */
  def harmonicCentrality(triples: DataFrame, radius: Int = 2, k: Int = 8,
      salts: Int = 16): DataFrame =
    harmonicCentralityOnEdges(pinnedEdges(triples), radius, k, salts)

  /** [[harmonicCentrality]] over a materialized symmetric edge relation. */
  def harmonicCentralityOnEdges(edges: DataFrame, radius: Int = 2,
      k: Int = 8, salts: Int = 16): DataFrame = {
    require(radius >= 1, s"harmonicCentrality needs radius >= 1 (got $radius)")
    val ests = sketchRounds(edges, radius, k, salts).zipWithIndex.map {
      case (s, i) => sketchEstimate(s, k, s"est_r${i + 1}")
    }
    val joined = ests.reduce((a, b) => a.join(b, "node"))
    val terms = (1 to radius).map { r =>
      val prev = if (r == 1) "1L" else s"est_r${r - 1}"
      s"cast(greatest(0L, est_r$r - $prev) as decimal(38,0)) * 1000000 div $r"
    }
    joined.withColumn("harm_e6", expr(terms.mkString(" + ")))
      .withColumnRenamed("node", "entity")
  }

  /** LINK PREDICTION by resource allocation (Zhou, Lü & Zhang 2009 — the
    * log-free member of the common-neighbor family, exact in integer
    * fixed-point unlike Adamic–Adar's 1/log): score every NON-adjacent
    * pair that shares ≥1 common neighbor, ra_e6 = Σ_z 1e6 div deg(z) over
    * the common neighbors z. On the KG this is "suggest the missing
    * co-occurrence edges" — candidate (skill, skill) facts no posting
    * asserts yet but the neighborhood structure implies.
    *
    * `maxDeg` caps the wedge CENTERS: a hub z contributes deg(z)² candidate
    * pairs (the quadratic that kills naive 2-hop enumeration at web scale)
    * while contributing the LEAST score mass (1/deg) — dropping
    * deg > maxDeg centers is the published practice and makes the
    * enumeration Σ_z min(deg, maxDeg)² ≤ m·maxDeg, linear in edges. The
    * cap is part of the operator's definition (the oracle states the same
    * cap); callers tune it to their hub profile.
    *
    * Shape: one degree hash-agg → capped wedge self-equi-join on the
    * center → (a, b) count+sum hash-agg → one left-anti equi-join drops
    * existing edges. All equi-keyed.
    * Output: (x, y, common, ra_e6), x < y, non-adjacent, common ≥ 1.
    */
  def linkPredictionRA(triples: DataFrame, maxDeg: Long = 64): DataFrame = {
    val edges = pinnedEdges(triples)
    val deg = edges.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val byZ = edges.select(col("x").as("z"), col("y").as("n"))
      .join(deg.select(col("x").as("z"), col("deg")), "z")
      .where(col("deg") <= maxDeg)
    val cand = byZ.select(col("z"), col("n").as("a"), col("deg"))
      .join(byZ.select(col("z"), col("n").as("b")), "z")
      .where(col("a") < col("b"))
    cand.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"),
        sum(expr("1000000 div deg")).as("ra_e6"))
      .join(edges.select(col("x").as("a"), col("y").as("b")),
        Seq("a", "b"), "left_anti")
      .select(col("a").as("x"), col("b").as("y"), col("common"), col("ra_e6"))
  }
}
