package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Iterative graph analytics over edge DataFrames. Companion to the
  * connected-components loop in [[Dedup]]: components answer "which docs
  * are the same", PageRank answers "which docs are central" — the
  * graph-centrality quality signal over a KNN/similarity graph (a
  * SemDeDup-style pipeline keeps the highest-centrality representative of
  * each near-dup neighborhood rather than an arbitrary member).
  */
object Graph {

  /** Damped PageRank with a FIXED iteration count, engineered for
    * cross-engine replay: per-edge contributions `pr(src)/outdeg(src)` are
    * single correctly-rounded divisions, each rounds to DECIMAL(38,18)
    * before the exact per-node sum (accumulation-order-proof), and the
    * damping update `(1-d)/N + d·s` is straight-line double arithmetic —
    * so every iteration's scores are bit-identical in Spark and DuckDB and
    * the final top-k cut is deterministic.
    *
    * Dangling nodes (no out-edges) leak their mass — the conventional
    * simplification for a relevance REPORT (both engines leak identically);
    * redistribute before using scores as true probabilities.
    *
    * Scale shape: rank state is one row per node; each iteration is one
    * src-keyed broadcast-or-shuffle join plus one dst-keyed partial
    * aggregate — identical to the pointer-jumping loop's cost model. The
    * iteration count is a constant (default 3), so plan depth is bounded;
    * for tens of iterations on a 100 TB graph, `localCheckpoint` each
    * round the way [[Dedup.componentsWithRounds]]' pointer-jumping loop
    * does.
    *
    * @param nodes one column `id` (every vertex, edge-less ones included)
    * @param edges columns `src`, `dst` (directed)
    */
  def pageRank(nodes: DataFrame, edges: DataFrame,
               iters: Int = 3, damping: Double = 0.85,
               scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // Materialize the loop inputs under the caller's conf (the candidate
    // pipeline behind `edges` is often an LSH/KNN pipeline — q113 — and
    // wants AQE), then run the fixed iterations on a loop session with AQE
    // off at the materialized width and drain them there — the
    // componentsWithRounds/BPE-loop discipline. Left lazy, the caller's
    // single drain plans every per-iteration exchange as its own AQE
    // stage-job (~4 sub-50 ms driver round-trips per iteration in the
    // round-17 q113 profile) even though the inputs already carry AQE's
    // data-proportional width, so there is nothing left to adapt.
    // CHECKPOINT the inputs rather than cache them: a cached input carries
    // accurate size stats, and under the static (AQE-off) planner a
    // small-looking round output then plans as a BroadcastExchange — whose
    // child subtree RE-EXECUTES per round (measured: the first cut of this
    // loop cached the inputs and q178 DOUBLED). LogicalRDD inputs plan the
    // whole fixed-depth loop as one linear sort-merge chain, executed as
    // ONE job; the final checkpoint hands the caller materialized rows.
    val e = scope.checkpointed(edges.select(col("src"), col("dst")))
    val n1 = nodes.agg(count(lit(1)).as("n_total"))
    val outdeg = scope.checkpointed(
      e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    val base = scope.checkpointed(nodes.crossJoin(broadcast(n1)))
    // loop width from the AQE-sized AGGREGATE outputs (outdeg's shuffle was
    // byte-coalesced by AQE, so the width is data-proportional at any
    // scale), NOT from `e`: the edge frame inherits the candidate
    // pipeline's explicit anchor-keyed fan width, which is a CPU-widening
    // choice for the scoring stage, not a measure of rank-state volume —
    // iterating one-row-per-node state at that width was the round-17
    // q113 loss mode
    val loopWidth = math.max(1,
      math.max(outdeg.rdd.getNumPartitions, base.rdd.getNumPartitions))
    graft.GraftSession.withLoopSession(nodes.sparkSession, loopWidth,
      e, outdeg, base) { case Seq(e, outdeg, base) =>
      var ranks = base.select(col("id"), col("n_total"),
        (lit(1.0) / col("n_total")).as("pr"))
      var i = 0
      while (i < iters) {
        val contrib = e
          .join(outdeg, Seq("src"))
          .join(ranks.select(col("id").as("src"), col("pr")), Seq("src"))
          .select(col("dst").as("id"),
            (col("pr") / col("outdeg")).cast(DecimalType(38, 18)).as("c"))
          .groupBy(col("id"))
          .agg(sum(col("c")).as("s"))
        ranks = base
          .join(contrib, Seq("id"), "left_outer")
          .select(col("id"), col("n_total"),
            (lit(1.0 - damping) / col("n_total") +
              lit(damping) * coalesce(col("s"), lit(0)).cast("double")).as("pr"))
        i += 1
      }
      val settled = scope.checkpointed(ranks)
      settled
        .join(outdeg.withColumnRenamed("src", "id"), Seq("id"), "left_outer")
        .select(col("id"), col("pr").as("pagerank"),
          coalesce(col("outdeg"), lit(0L)).as("n_out"))
    }
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with a FIXED
    * iteration count and deterministic tie-break: each round every node
    * adopts its neighbors' most frequent label, ties to the SMALLEST
    * label, isolated nodes keep their own. Detects dense communities the
    * connected-components view can't separate (components merge through
    * any single bridge edge; LPA keeps weakly-bridged cliques apart) —
    * the finer-grained SemDeDup neighborhood structure.
    *
    * Determinism: frequency + min-label argmax via one row_number window
    * per round — no randomized update order (the classic async variant is
    * run-dependent; this synchronous form replays bit-for-bit in DuckDB).
    * Scale shape per round: one dst-keyed join (label attach), one
    * (node, label) aggregate, one node-partitioned window — all
    * hash-partitioned by node id, state one row per node.
    *
    * @param nodes one column `id`
    * @param edges columns `src`, `dst` (made undirected internally)
    */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
                       iters: Int = 3,
                       scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same loop discipline as [[pageRank]] (q178's edges are an LSH/KNN
    // pipeline): checkpoint the inputs under the caller's conf, run the
    // fixed rounds on a loop session, hand back checkpointed rows
    val und = scope.checkpointed(edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val nn = scope.checkpointed(nodes.select(col("id")))
    val loopWidth = math.max(1,
      math.max(und.rdd.getNumPartitions, nn.rdd.getNumPartitions))
    graft.GraftSession.withLoopSession(nodes.sparkSession, loopWidth,
      und, nn) { case Seq(und, nn) =>
      var labels = nn.select(col("id"), col("id").as("label"))
      var i = 0
      while (i < iters) {
        val gathered = und
          .join(labels.select(col("id").as("dst"), col("label")), Seq("dst"))
          .groupBy(col("src"), col("label"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("src")).orderBy(col("cnt").desc, col("label"))
        val newLabels = gathered.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("src").as("id"), col("label"))
        labels = nn
          .join(newLabels, Seq("id"), "left_outer")
          .select(col("id"), coalesce(col("label"), col("id")).as("label"))
        i += 1
      }
      scope.checkpointed(labels)
    }
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected edge list (`aCol` < `bCol`, already deduplicated — the
    * shape [[Dedup.minhashNearDups]] emits; NOTE
    * [[graft.operators.Similarity]]'s KNN graph does NOT — it is directed
    * per-node top-k, so canonicalize with least/greatest + distinct
    * before calling). For a near-dup graph this is the cluster-density
    * audit: a node whose neighborhood closes into triangles sits inside a
    * genuine dup clique; a high-degree node with NO triangles is a hub of
    * coincidental collisions (template boilerplate) and a candidate for
    * bucket-cap tuning.
    *
    * Algorithm: node-iterator over the id-oriented edge list — wedges
    * (a→b, b→c with a<b<c) close against a third oriented edge (a→c), so
    * each triangle is found exactly once (the classic compact-forward
    * counting scheme; id-orientation keeps wedge fanout C(outdeg,2)
    * bounded by upstream bucket caps rather than raw degree). Three
    * equi-joins and two aggregates, no driver state; at 100 TB orient by
    * (degree, id) instead of raw id to flatten skew further.
    *
    * clustering = 2·triangles / (degree·(degree−1)) — one double division
    * of exact longs, bit-identical cross-engine. */
  def triangleCensus(pairs: DataFrame, aCol: String = "a_id",
                     bCol: String = "b_id",
                     scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // checkpointed, not cached (round 18): the undirected edge list feeds
    // the degree count plus the orientation join, and when pairs is a
    // MinHash pipeline output (q164) a .cache() keeps the WHOLE pipeline
    // in the InMemoryRelation's recompute lineage — every downstream task
    // then deserializes that multi-MB RDD DAG (~100 ms/task measured on a
    // 57 KB edge cache; dominates the census at small scale and is pure
    // overhead at any scale). localCheckpoint truncates the lineage so
    // consumers scan a LogicalRDD leaf.
    val und = scope.checkpointed(
      pairs.select(col(aCol).as("a"), col(bCol).as("b")).distinct())
    // checkpointed: degrees feed BOTH orientation attach joins and the
    // final census join (one narrow row per node)
    val deg = scope.checkpointed(und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree")))
    // Orient every edge from its (degree, id)-smaller endpoint to the
    // larger (round 18, the scaladoc's own prescription): wedge fanout at
    // a node is C(outdeg, 2), and under id-orientation a low-id HUB keeps
    // its full raw degree as outdeg — the classic skew bomb on a
    // boilerplate-collision hub. Degree-ordering bounds every outdeg by
    // O(sqrt(m)) regardless of hubs (compact-forward / Latapy 2008), so
    // no reducer key explodes quadratically at corpus scale. Each edge
    // carries its dst's order key (dd, dst) so the wedge pair (v, w) can
    // be emitted in total order without re-attaching degrees. Exact same
    // triangles, found exactly once each at their order-minimal vertex —
    // values unchanged by construction (oracle hash-pinned).
    val o = scope.checkpointed(und
      .join(deg.select(col("node").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("dst"),
        greatest(col("da"), col("db")).as("dd")))
    // wedges at the order-minimal vertex, dst pair in total order; a
    // triangle closes iff the oriented edge (v, w) exists (orientation is
    // consistent with one global total order, so {v,w} can only appear
    // as v→w when (dv,v) < (dw,w))
    val tri = o.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
      .join(o.select(col("src"), col("dst").as("w"), col("dd").as("dw")),
        Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val perNode = tri
      .select(explode(array(col("src"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left_outer")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2,
          (lit(2.0) * col("n_triangles")) /
            (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)))
  }
}
