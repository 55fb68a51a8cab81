package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Near-duplicate detection for large corpora (extension surface, SURVEY §7
  * step 8): exact (hash-groupBy), MinHash+LSH banding, and 64-bit SimHash
  * with pigeonhole bucketing.
  *
  * Scale design: every stage is a hash-partitioned groupBy/self-equi-join on
  * a bucket key — no driver-side collection, no cross join. At 100 TB the
  * candidate generation is the band/chunk bucket join (shuffle on bucket id,
  * skew-tolerant under AQE), and verification only touches candidate pairs.
  */
object Dedup {

  val NumHashes = 32
  val Bands = 8
  val RowsPerBand: Int = NumHashes / Bands

  /** Corpus size (logical-plan stats bytes — file size for a parquet
    * read, free to ask on the driver) past which the exact containment
    * census pre-exchanges its pair stream before aggregation (see
    * [[containmentPairs]]): below it the partial-aggregation maps fit and
    * map-side combine wins (measured sf0.1 @0.6 MB: 2.33 s vs 3.4 s
    * exchanged, interleaved min-of-3); above it the never-collapsing
    * groups thrash 32-partition spill (measured x100 probe @~60 MB: wall
    * exponent 1.34 unexchanged). The 2 MB cut sits ≥3× from both measured
    * regimes (sf0.1 0.6 MB below, the 10× probe ~6 MB above). */
  val ContainmentExchangeThresholdBytes: BigInt = BigInt(2L << 20)

  /** Dedup-key normalization: casefold + whitespace collapse + trim, so
    * documents that differ only by case drift or re-wrapped whitespace
    * (the two most common ingestion artifacts) hash to the same key before
    * exact or MinHash dedup. Restricted to the ASCII-expressible subset
    * (`lower` + `\s+`→' ') that Spark and the DuckDB oracle evaluate
    * identically; full Unicode NFC + casefold (java.text.Normalizer on the
    * JVM) has no cross-engine SQL twin, so it is deliberately out of the
    * oracle-checked surface — at 100 TB you would put NFC in front of this
    * key as a one-pass map with no shuffle, leaving the pipeline shape
    * unchanged. */
  def normalizeKey(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Full-Unicode variant of [[normalizeKey]]: NFC canonical composition
    * (precomposed vs combining-mark spellings of the same text collapse)
    * + Root-locale casefold + whitespace collapse, via the native
    * [[graft.functions.NfcNormalizeKey]] expression. Agrees exactly with
    * [[normalizeKey]] on ASCII input (the q127 oracle-checked core);
    * documented JVM-side extension beyond the cross-engine subset — NFC
    * is not expressible in the DuckDB differential oracle's SQL dialect
    * surface we replay (NfcNormalizeSpec pins the Unicode behavior). */
  def normalizeKeyUnicode(c: Column): Column =
    graft.functions.GraftFunctions.nfcNormalizeKey(c)

  /** Word k-shingles of a text column, deduplicated — the native codegen'd
    * [[graft.functions.WordNgrams]] (texts shorter than k tokens carry one
    * truncated window, matching the composed HOF formulation this
    * replaced, which evaluated interpreted at ~10× the cost). The MinHash
    * pipeline itself skips this materialization entirely
    * (minhash_text_signature hashes shingles as byte ranges); this stays
    * for exact shingle-set operators (q66). */
  def shingles(textCol: String, k: Int = 3): Column =
    array_distinct(graft.functions.GraftFunctions.wordNgrams(col(textCol), k))

  /** doc_id → MinHash signature (`sig` = array of [[NumHashes]] longs),
    * computed per-row by the native [[graft.functions.MinHashSignature]]
    * expression — no explode, no shuffle: the composed alternative
    * (explode → 32 min-aggregates → groupBy) shuffles one row per shingle,
    * which at corpus scale is the dominant cost of the whole pipeline. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    // fan-out: per-row signature work is CPU-heavy and a narrow source
    // (few file splits / one row group) would serialize it — conditional
    // since round 17, so a real multi-split corpus no longer pays an
    // unconditional full-text exchange here.
    // minhash_text_signature shingles at the byte level inside the
    // expression — the composed HOF chain (split→sequence→slice→concat_ws→
    // array_distinct) allocated its way to ~400µs/row
    Par.fanOutIfNarrow(docs)
      .select(col(idCol),
        expr(s"minhash_text_signature($textCol, $k, $NumHashes)").as("sig"))
  }

  /** LSH banding: (id, sig) → distinct candidate id pairs (a_id < b_id)
    * sharing ≥1 band. The distinct runs on narrow (a_id, b_id) rows *before*
    * signatures are re-attached — the bucket join's fanout never shuffles
    * signature arrays. Buckets over `maxBucketSize` are dropped first
    * (frequent-bucket mitigation: a mega-bucket of near-identical docs is
    * quadratic fanout; at corpus scale exact-dup them first, then LSH). */
  /** Banded, cap-filtered bucket rows for (id [, extra]) — the ONE
    * definition of band-key arithmetic and bucket-cap semantics, shared by
    * the batch self-join ([[lshCandidatePairs]]) and the incremental
    * side-filtered join ([[incrementalNearDups]]) so the two paths (and
    * the oracle's "identical buckets and caps" premise) can never diverge.
    * Band key = '/'-joined slot values (not a rehash): exactly replayable
    * in the DuckDB oracle, and the join key stays narrow (≤ 4×10+3 chars).
    * The bucket-size cap is a count-window over the band key — ONE shuffle
    * that also pre-partitions both sides of the subsequent join. */
  private def bandedBuckets(sigs: DataFrame, idCol: String,
                            extra: Seq[org.apache.spark.sql.Column],
                            maxBucketSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("bandhash"))
    sigs.select((col(idCol) +: extra) :+
      posexplode(array((0 until Bands).map { b =>
        val slice = (0 until RowsPerBand)
          .map(r => col("sig").getItem(b * RowsPerBand + r).cast("string"))
        concat_ws("/", slice: _*)
      }: _*)).as(Seq("band", "bandhash")): _*)
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("n") <= maxBucketSize)
      .drop("n")
  }

  def lshCandidatePairs(sigs: DataFrame, idCol: String,
                        maxBucketSize: Int = 1000,
                        scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // Group the capped buckets' ids per (band, bandhash) INSIDE the cap
    // window's partitioning and expand ordered pairs in-row (round 18):
    // the previous cached self-join scanned the bucket relation twice and
    // re-exchanged BOTH sides on the band key — the cache boundary (an
    // AQE InMemoryRelation) hides the window's partitioning from the
    // planner, so the join could not reuse it (the same pathology the
    // rare-containment cache fix removed). The groupBy here reuses the
    // window's exchange directly — ONE band-keyed shuffle total — and the
    // two-step O(n)-per-row expansion keeps per-row state linear in the
    // bucket (≤ maxBucketSize ids collected per group, the same bound the
    // window cap already enforces; a mega-bucket is filtered before it
    // reaches the aggregate). Pair multiset is identical: each bucket
    // holds each id once, the join emitted every (a < b) bucket co-member
    // pair, and so does the expansion; the distinct collapses both the
    // same way.
    bandedBuckets(sigs, idCol, Nil, maxBucketSize)
      .groupBy(col("band"), col("bandhash"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .transform(g => expandPairs(g))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: docs → pairs with est. similarity
    * ≥ `threshold`. Signatures join back onto the (small) candidate set. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.5, k: Int = 3,
                      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // cached: re-read by banding and by both signature re-attach joins
    val sigs = scope.cached(minhashSignatures(docs, idCol, textCol, k))
    lshCandidatePairs(sigs, idCol, scope = scope)
      .join(sigs.select(col(idCol).as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
      .join(sigs.select(col(idCol).as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
      // native sig_agree: one generated loop per candidate pair (the
      // zip_with/filter HOF chain allocated two arrays and ran interpreted)
      .withColumn("est_jaccard",
        expr("sig_agree(a_sig, b_sig)").cast("double") / NumHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
  }

  /** Incremental near-dup dedup — the rolling-ingestion flow: which
    * `incoming` docs (a new crawl batch) near-duplicate the `existing`
    * corpus, or an earlier (smaller-id) doc of their own batch. Returns
    * one row per dropped incoming doc: (id, killed_by, est_jaccard,
    * n_matches) with `killed_by` the minimum qualifying partner id
    * (deterministic) and `est_jaccard` that pair's signature agreement.
    * Id spaces of the two frames must be disjoint.
    *
    * Scale shape: both sides band into ONE union frame — a single shuffle
    * that also computes the bucket cap over the combined corpus, same cap
    * semantics as [[lshCandidatePairs]] run on the union — but the pair
    * join is side-filtered: only incoming rows probe it, so
    * EXISTING x EXISTING pairs (the quadratic bulk when the corpus dwarfs
    * the batch) are never formed, and the within-batch direction keeps
    * only smaller-id killers. Signatures re-attach to the narrow surviving
    * candidate pairs, never to the bucket fanout. */
  def incrementalNearDups(existing: DataFrame, incoming: DataFrame,
                          idCol: String, textCol: String,
                          threshold: Double = 0.5, k: Int = 3,
                          maxBucketSize: Int = 1000,
                          scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    val sigs = scope.cached(
      minhashSignatures(existing, idCol, textCol, k).withColumn("inc", lit(false))
        .unionByName(
          minhashSignatures(incoming, idCol, textCol, k).withColumn("inc", lit(true))))
    val bounded = bandedBuckets(sigs, idCol, Seq(col("inc")), maxBucketSize)
    scope.cached(bounded)
    val victims = bounded.filter(col("inc"))
      .select(col(idCol).as("v_id"), col("band"), col("bandhash"))
    val partners = bounded.select(col(idCol).as("p_id"), col("inc").as("p_inc"),
      col("band"), col("bandhash"))
    victims.join(partners, Seq("band", "bandhash"))
      // p_id =!= v_id guards the contract violation of overlapping id
      // spaces: without it an existing doc with an incoming doc's id kills
      // that doc via a self-pair at est 1.0 — pointing --existing at the
      // source dir silently empties the whole batch
      .filter(col("p_id") =!= col("v_id") &&
        (!col("p_inc") || (col("p_id") < col("v_id"))))
      .select(col("v_id"), col("p_id")).distinct()
      .join(sigs.select(col(idCol).as("v_id"), col("sig").as("v_sig")), Seq("v_id"))
      .join(sigs.select(col(idCol).as("p_id"), col("sig").as("p_sig")), Seq("p_id"))
      .withColumn("est_jaccard",
        expr("sig_agree(v_sig, p_sig)").cast("double") / NumHashes)
      .filter(col("est_jaccard") >= threshold)
      .groupBy(col("v_id"))
      .agg(min(struct(col("p_id"), col("est_jaccard"))).as("mk"),
        count(lit(1)).as("n_matches"))
      .select(col("v_id").as(idCol), col("mk.p_id").as("killed_by"),
        col("mk.est_jaccard").as("est_jaccard"), col("n_matches"))
    // no terminal sort: the common consumers (anti-join in the CLI verb,
    // per-lang aggregate in analyze) immediately destroy row order — the
    // oracle query adds its own ORDER BY
  }

  /** Connected components over near-dup pairs — the cluster-formation step
    * that turns pairwise candidates into dedup groups (keep one
    * representative per group). One row per node: `node` and `label`, the
    * minimum id in its component — a deterministic canonical
    * representative. A null endpoint contributes no edge: it is one
    * `(null, null)` row, and the other endpoint stays a node.
    *
    * Two jobs when the graph is small enough for the driver: the input
    * pairs are checkpointed (the caller's pipeline runs once, under the
    * session conf), then one `collect` job runs a union-find inside each
    * partition and returns its star rows — every node with the minimum id
    * of its component within the partition (the local-contraction step of
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014). The driver unions the stars and hands the labels back as
    * an RDD-backed frame, so the caller's plan starts at `Scan
    * ExistingRDD` and runs no further job here.
    *
    * The driver's budget is Spark's own broadcast budget,
    * `spark.sql.autoBroadcastJoinThreshold`: each partition may send its
    * share of it (16 bytes per star row), and a partition past its share
    * stops reading and reports overflow. On any overflow, or with the
    * threshold ≤ 0, the labels come from the distributed pointer-jumping
    * loop instead: each round is a neighbor-min step (join + partial-min
    * aggregate on narrow (long, long) rows) followed by a pointer-jumping
    * shortcut (label := label of label), so flood distance doubles per
    * round — O(log diameter) rounds even on chain-shaped graphs, verified
    * by the 64-node-chain scale probe. `maxIter` bounds the loop's worst
    * case (2^20-diameter graphs at the default).
    */
  def components(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
                 maxIter: Int = 20): DataFrame =
    componentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** [[components]] plus the number of pointer-jumping rounds it ran: 0
    * when the driver finished the components, else the loop's rounds — the
    * O(log diameter) claim as a measurable quantity. The scale probe
    * asserts on the round count (work-proportional, throttle-immune)
    * instead of wall-clock, which on this host can inflate 40-70x under
    * intermittent CPU throttling. */
  def componentsWithRounds(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
                           maxIter: Int = 20): (DataFrame, Int) = {
    val run = componentsRun(pairs, aCol, bCol, maxIter)
    (run.labels, run.rounds)
  }

  /** How [[componentsWithRounds]] found its labels: `collectedBytes` is
    * the star rows' size when the driver finished them, `None` when the
    * loop ran; `budgetBytes` is the threshold the stars were held to. */
  private[graft] final case class ComponentsRun(labels: DataFrame, rounds: Int,
                                                collectedBytes: Option[Long],
                                                budgetBytes: Long) {
    def describe: String = collectedBytes match {
      case Some(b) =>
        s"components: driver finish, $b bytes of star rows collected (budget $budgetBytes)"
      case None if budgetBytes <= 0 =>
        s"components: pointer-jumping loop, $rounds rounds (driver finish off: " +
          s"autoBroadcastJoinThreshold $budgetBytes)"
      case None =>
        s"components: pointer-jumping loop, $rounds rounds " +
          s"(star rows exceeded the $budgetBytes-byte budget)"
    }
  }

  /** [[componentsWithRounds]], reporting which path found the labels. */
  private[graft] def componentsRun(pairs: DataFrame, aCol: String = "a_id",
                                   bCol: String = "b_id",
                                   maxIter: Int = 20): ComponentsRun = {
    // The input pairs are checkpointed FIRST, under the session conf: the
    // star collect, the loop after an overflow and the loop's symmetrize
    // union all read them, and a pairs argument that is itself an
    // expensive pipeline (MinHash-LSH candidate generation) would
    // otherwise run end-to-end once per read.
    val p = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .localCheckpoint(true)
    val budget = p.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val rows = p.queryExecution.toRdd
    val slices = math.max(1, rows.getNumPartitions)
    (if (budget > 0) localStars(rows, budget / slices) else None) match {
      case Some(stars) =>
        val bytes = stars.map(_.nodes.length.toLong * StarRowBytes).sum
        ComponentsRun(finishOnDriver(p, stars, slices), 0, Some(bytes), budget)
      case None =>
        val (labels, rounds) = pointerJumping(p, maxIter)
        ComponentsRun(labels, rounds, None, budget)
    }
  }

  /** One (node, local root) pair of longs. */
  private val StarRowBytes = 16L

  /** One partition's contraction: each node it saw and the minimum id of
    * its component within the partition. */
  private final case class Star(nodes: Array[Long], roots: Array[Long], sawNull: Boolean)

  /** One job: a union-find per partition of the checkpointed pairs. A
    * partition whose star rows pass `share` bytes stops reading, and the
    * result is `None`. */
  private def localStars(rows: RDD[InternalRow], share: Long): Option[Array[Star]] = {
    val parts = rows.mapPartitions { it =>
      val uf = new LongUnionFind(64)
      var sawNull = false
      var overflow = false
      while (!overflow && it.hasNext) {
        val r = it.next()
        if (r.isNullAt(0) || r.isNullAt(1)) {
          sawNull = true
          if (!r.isNullAt(0)) uf.index(r.getLong(0))
          if (!r.isNullAt(1)) uf.index(r.getLong(1))
        } else uf.union(r.getLong(0), r.getLong(1))
        overflow = uf.size * StarRowBytes > share
      }
      Iterator.single(
        if (overflow) None
        else Some(Star(java.util.Arrays.copyOf(uf.ids, uf.size),
          Array.tabulate(uf.size)(uf.root), sawNull)))
    }.collect()
    if (parts.forall(_.isDefined)) Some(parts.flatten) else None
  }

  /** Unions the partitions' stars on the driver and returns the labels as
    * an RDD-backed frame over `slices` partitions. */
  private def finishOnDriver(p: DataFrame, stars: Array[Star], slices: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val uf = new LongUnionFind(math.max(64, stars.map(_.nodes.length).sum))
    stars.foreach { s =>
      var i = 0
      while (i < s.nodes.length) { uf.union(s.nodes(i), s.roots(i)); i += 1 }
    }
    val n = uf.size
    val nodes = java.util.Arrays.copyOf(uf.ids, n)
    val labels = Array.tabulate(n)(uf.root)
    val step = math.max(1, (n + slices - 1) / slices)
    val chunks = (0 until n by step).map(lo =>
      (nodes.slice(lo, lo + step), labels.slice(lo, lo + step), false)) ++
      (if (stars.exists(_.sawNull)) Seq((Array.emptyLongArray, Array.emptyLongArray, true))
       else Nil)
    val rows = p.sparkSession.sparkContext
      .parallelize(chunks, math.max(1, chunks.size))
      .flatMap { case (ns, ls, nullRow) =>
        if (nullRow) Iterator.single(Row(null, null))
        else ns.indices.iterator.map(i => Row(ns(i), ls(i)))
      }
    p.sparkSession.createDataFrame(rows, StructType(Seq(
      StructField("node", LongType), StructField("label", LongType))))
  }

  /** The distributed fallback: iterative min-label propagation with
    * pointer jumping over the checkpointed pairs `p` (`src`, `dst`). */
  private def pointerJumping(p: DataFrame, maxIter: Int): (DataFrame, Int) = {
    // localCheckpoint (not cache): truncates the logical plan each round —
    // the iterated self-join otherwise deepens the plan tree and Catalyst
    // re-analysis time grows super-linearly with iteration count.
    val edges = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val start = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")).localCheckpoint(true)
    // The loop's per-round state is one row per node/edge, materialized
    // above; from here every round is a fixed join+aggregate shape whose
    // EXCHANGES each surface as their own AQE job — measured ~35 sub-50ms
    // stages of pure job latency behind the two real minhash stages in the
    // q70/q114/q145 profiles. AQE has nothing left to adapt (the
    // checkpoints already carry its data-proportional width), so the
    // rounds run on a loop session with AQE off at exactly that width —
    // scale-honest at any corpus size (the BPE-loop discipline).
    val loopWidth = math.max(1,
      math.max(edges.rdd.getNumPartitions, start.rdd.getNumPartitions))
    var iter = 0
    val labels = graft.GraftSession.withLoopSession(edges.sparkSession, loopWidth,
      edges, start) { case Seq(edges, start) =>
      var labels = start
      var converged = false
      // convergence probe: labels only ever DECREASE, so the label sum is
      // strictly monotone while anything changes — an equal sum means a
      // fixpoint. One aggregate job per round, vs the join+filter+count
      // formulation's extra shuffle; decimal sum so 2^63-adjacent ids can't
      // overflow (ANSI mode would throw mid-round)
      var prevSum: java.math.BigDecimal = null
      while (!converged && iter < maxIter) {
        val nbrMin = edges
          .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy("src").agg(min("label").as("nbr"))
          .withColumnRenamed("src", "node")
        val prop = labels.join(nbrMin, Seq("node"), "left_outer")
          .select(col("node"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
        // pointer jumping: follow the label's own label (labels are node
        // ids, so this is a self-join) — doubles flood distance per round.
        // LAZY checkpoint: the convergence aggregate below materializes it,
        // storing the blocks in the same job — eager ran a separate one
        val next = prop
          .join(prop.select(col("node").as("label"), col("label").as("parent")),
            Seq("label"), "left_outer")
          .select(col("node"),
            least(col("label"), coalesce(col("parent"), col("label"))).as("label"))
          .localCheckpoint(false)
        val s = next.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
        labels = next
        converged = (s == null && prevSum == null && iter > 0) ||
          (s != null && prevSum != null && s.compareTo(prevSum) == 0)
        prevSum = s
        iter += 1
      }
      // the last round's lazy checkpoint was materialized by its
      // convergence aggregate: the caller reads checkpointed blocks
      labels
    }
    (labels, iter)
  }

  /** Union-find over long ids in primitive arrays: an open-addressing
    * table maps each id to a dense index, `parent` links the indices, and
    * a union hangs the larger id's root under the smaller id's, so every
    * root is its component's minimum id. */
  private final class LongUnionFind(capacity: Int) {
    private var slots = Array.fill(Integer.highestOneBit(capacity) * 4)(-1)
    var ids = new Array[Long](capacity)
    private var parent = new Array[Int](capacity)
    var size = 0

    private def home(id: Long, mask: Int): Int = {
      val h = id * 0x9E3779B97F4A7C15L
      (h ^ (h >>> 32)).toInt & mask
    }

    /** The dense index of `id`, added as its own root when new. */
    def index(id: Long): Int = {
      val mask = slots.length - 1
      var s = home(id, mask)
      while (slots(s) >= 0) {
        if (ids(slots(s)) == id) return slots(s)
        s = (s + 1) & mask
      }
      if (size == ids.length) {
        ids = java.util.Arrays.copyOf(ids, size * 2)
        parent = java.util.Arrays.copyOf(parent, size * 2)
      }
      ids(size) = id
      parent(size) = size
      slots(s) = size
      size += 1
      if (size * 2 > slots.length) grow()
      size - 1
    }

    private def grow(): Unit = {
      val next = Array.fill(slots.length * 2)(-1)
      val mask = next.length - 1
      var i = 0
      while (i < size) {
        var s = home(ids(i), mask)
        while (next(s) >= 0) s = (s + 1) & mask
        next(s) = i
        i += 1
      }
      slots = next
    }

    private def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) {
        parent(i) = parent(parent(i)) // path halving
        i = parent(i)
      }
      i
    }

    def union(a: Long, b: Long): Unit = {
      val ra = find(index(a))
      val rb = find(index(b))
      if (ra != rb) {
        if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }

    /** The minimum id in the component of dense index `i`. */
    def root(i: Int): Long = ids(find(i))
  }

  /** 64-bit SimHash of a space-tokenized text column, computed per-row by
    * the native [[graft.functions.SimHash64]] expression (codegen'd vote
    * loop) — replaces an explode + 64-vote-aggregate shuffle of one row per
    * token. */
  def simhashes(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    // conditional since round 17: a real multi-split corpus no longer pays
    // an unconditional full-text exchange before the per-row hash
    Par.fanOutIfNarrow(docs)
      .select(col(idCol), expr(s"simhash_text($textCol)").as("simhash"))
  }

  /** SimHash pairs within `maxHamming` (≤3 with 4 chunks by pigeonhole):
    * bucket on 16-bit fingerprint chunks, verify with bit_count(xor).
    *
    * Skew control for 100 TB corpora: buckets larger than `maxBucketSize`
    * are dropped before the self-join (the standard frequent-bucket LSH
    * mitigation — a hot bucket is quadratic fanout; e.g. the sf0.1 fixture
    * has one 830-doc bucket = 344k pairs from a single key). The hamming
    * filter runs *before* the distinct so the dedup shuffle only carries
    * surviving pairs. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucketSize: Int = 1000,
                      scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = simhashes(docs, idCol, textCol)
    // bucket-size cap as a count-window over the chunk key (one shuffle,
    // pre-partitions the self-join); cached for the two join sides.
    // NOT rewritten to the lshCandidatePairs group-and-expand shape
    // (round-18 interleaved A/B: 1.39 -> 1.68 s median): 16-bit chunk
    // buckets run big (an 830-doc bucket at sf0.1), and the two-step
    // expansion's per-member slice copies O(n-i) structs — quadratic
    // struct building per big bucket — where the hash join streams the
    // probe side. The cached-join shape is the right one when buckets
    // are large and the pair filter (hamming) is selective.
    val w = Window.partitionBy(col("chunk_idx"), col("chunk"))
    val bounded = sh.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map { i =>
        shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL))
      }: _*)).as(Seq("chunk_idx", "chunk")))
      .withColumn("bucket_n", count(lit(1)).over(w))
      .filter(col("bucket_n") <= maxBucketSize)
      .drop("bucket_n")
    scope.cached(bounded)
    val a = bounded.select(col(idCol).as("a_id"), col("simhash").as("a_fp"),
      col("chunk_idx"), col("chunk"))
    val b = bounded.select(col(idCol).as("b_id"), col("simhash").as("b_fp"),
      col("chunk_idx"), col("chunk"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("hamming", bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .distinct()
  }

  /** Pair expansion from per-shingle inverted lists — expects an
    * id-ascending array column `ids`, plus an int column `rare` when
    * `keepRare` (0/1, precomputed by the caller as `df <= maxDf`).
    *
    * Pairs expand from the sorted id list in TWO bounded steps (posexplode
    * each element, then one ≤df-struct slice per row) so the per-row
    * materialization is O(df) — never the C(df,2) ≈ 500k structs a
    * near-cap group would otherwise build inside a single row. The two
    * Generates fuse into one codegen stage, so the O(df²) pair stream
    * flows without ever materializing per-group. Multiset expansion
    * matches join semantics exactly: a duplicated (id, shingle) row yields
    * the same doubled pair count either way.
    *
    * The `rare` flag rides instead of the raw df because this is the
    * pipeline's widest exchange (one row per candidate pair, ~no same-key
    * combining): every byte per row is paid fanout times, and dropping the
    * 8-byte df for a 1-int flag measured −38 CPU s at the 100× probe
    * (355 vs 393) with bit-identical census output. */
  /** Ordered in-row pair expansion over a sorted distinct `ids` array
    * column: one row per (ids(i), ids(j)), i < j — a_id < b_id holds by
    * the sort; the filter stays as a no-op guard for degenerate input.
    * Native [[graft.functions.SortedIdPairs]] (round 18): callers are
    * df-capped (≤ maxDf ids per list), so the per-row struct array is
    * ≤ C(20,2); the interpreted transform/slice lambda this replaces
    * evaluated per element. Shared with [[Winnow]]'s pair census. */
  private[operators] def expandSortedIdPairs(groups: DataFrame): DataFrame =
    groups
      .select(explode(
        graft.functions.GraftFunctions.sortedIdPairs(col("ids"))).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .filter(col("a_id") < col("b_id"))

  /** `smallLists = true` (the capped/rare censuses, list length bounded by
    * listCap/maxDf): ONE native generated-code expansion
    * ([[graft.functions.SortedIdPairs]], ≤ C(64,2) ≈ 2k structs per row)
    * replaces the interpreted transform/slice lambda that dominated the
    * pair stage's CPU. The exact census keeps the two-step O(df)-per-row
    * form: its heavyCap band would otherwise materialize C(heavyCap,2)
    * structs inside a single row. */
  private def expandPairs(groups: DataFrame, keepRare: Boolean = false,
                          smallLists: Boolean = false): DataFrame = {
    val cols = if (keepRare) Seq(col("p.a_id"), col("p.b_id"), col("rare"))
               else Seq(col("p.a_id"), col("p.b_id"))
    val src = if (keepRare) groups.select(col("ids"), col("rare"))
              else groups.select(col("ids"), lit(0).as("rare"))
    val expanded =
      if (smallLists)
        src.select(col("rare"), explode(
          graft.functions.GraftFunctions.sortedIdPairs(col("ids"))).as("p"))
      else
        src
          .select(col("ids"), col("rare"), posexplode(col("ids")).as(Seq("i", "x")))
          .select(col("rare"), explode(expr(
            "transform(slice(ids, i + 2, size(ids) - i - 1), " +
              "y -> struct(x AS a_id, y AS b_id))")).as("p"))
    expanded
      .select(cols: _*)
      .filter(col("a_id") < col("b_id"))
  }

  /** The containment censuses' pre-aggregation pair exchange, engaged only
    * past [[ContainmentExchangeThresholdBytes]] (plan-stats bytes of the
    * doc corpus — a driver-side lookup, zero extra jobs). Below the thrash
    * regime map-side combine wins; above it the never-collapsing pair
    * groups spill-thrash unless exchanged first at 8x default
    * parallelism (round-13 A/B at the x100 probe, interleaved in one JVM:
    * factor 8 spilled 7.8 GiB/2.3 GiB mem/disk per run; see SCALE.md). */
  private def maybeExchangePairs(docs: DataFrame, pairs: DataFrame): DataFrame =
    if (docs.queryExecution.optimizedPlan.stats.sizeInBytes >=
        ContainmentExchangeThresholdBytes)
      pairs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism * 8,
        col("a_id"), col("b_id"))
    else pairs

  /** Asymmetric containment census (Broder 1997's second resemblance
    * measure): containment(A,B) = |sh(A) ∩ sh(B)| / min(|sh(A)|,|sh(B)|).
    * Catches doc-in-doc duplication — a short document quoted wholesale
    * inside a long one has near-1 containment but low Jaccard, so the
    * MinHash pipeline (which estimates Jaccard) never surfaces the pair.
    *
    * Candidate generation is rare-shingle blocking (the prefix-filter idea
    * from set-similarity joins): a pair is surfaced only if it shares at
    * least one shingle with document frequency 2..`maxDf` (for real
    * corpora, any non-boilerplate sentence qualifies), so a stop-shingle
    * ("in the") never drives a quadratic self-join. Intersections count
    * every shared shingle up to df ≤ `heavyCap`, expanded in-row from
    * sorted inverted lists (fanout Σ_{df≤heavyCap} C(df,2)), exchanged
    * once on the pair key at 8× parallelism, and aggregated with the
    * rare-block flag folded in. The wide explicit repartition is the
    * scale mechanism: pair groups barely collapse (state ≈ one group per
    * streamed pair), so what kills a narrow plan is spill churn in
    * corpus-wide partial-aggregation maps, not the linear exchange —
    * moving the exchange before any aggregation and widening it keeps
    * every reducer's map in memory. (Rejected formulations, all measured
    * at the 100× probe: candidate re-join — |pairs|·|sh(A)| ≈ 58M rows at
    * sf0.1, 16-24s; candidate semi-joins — corpus-scale sort (90s) or
    * re-shuffle (124s); Bloom-pruning the stream — 204s, because
    * rare-shingle blocking is non-selective on a dense corpus (99% of
    * pair occurrences here come from df≤20 shingles), so the "candidate
    * set" IS the stream. Shingles collapse to 60-bit md5-prefix longs
    * before the shuffle so the exchange keys are 8 bytes; the DuckDB twin
    * replays the same hash, so a ≈n²/2⁶¹ collision perturbs both engines
    * identically.)
    * Shingles above heavyCap are invisible: at 100 TB a df-10⁶ boilerplate
    * line neither blocks nor counts — the pigeonhole argument says a
    * genuinely contained doc still shares plenty of sub-cap shingles.
    *
    * Output: (a_id, b_id, inter_cnt, a_n, b_n, containment, jaccard) for
    * pairs with containment ≥ `minContainment`, a_id < b_id. The ratios
    * are single double divisions of exact longs — bit-identical across
    * engines. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, maxDf: Int = 20,
                       minContainment: Double = 0.8,
                       heavyCap: Int = 1000,
                       scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    // fan a narrow scan out first (round 17): shingling is the pipeline's
    // per-row heavy step and a single-row-group source otherwise runs it
    // on one task; no-op on any real multi-split corpus
    val d = Par.fanOutIfNarrow(docs.select(col(idCol), col(textCol)))
    // shingle_hash60 fuses shingling + MD5-prefix + distinct into one
    // generated call — the explode then carries 8-byte longs, never the
    // shingle strings or their hex digests (values bit-identical to the
    // composed chain the oracle replays)
    val sh = d.select(col(idCol).as("id"),
      explode(graft.functions.GraftFunctions.shingleHash60(col(textCol), k)).as("sh"))
    // per-doc set size is an in-row expression — no shuffle, no explode —
    // but CACHED (round 11): sz feeds the two size joins AND the global-min
    // prefilter, and uncached each consumer re-shingles the whole corpus
    // (shingling is the pipeline's per-row heavy step; sz itself is one
    // narrow row per doc)
    val sz = scope.cached(d.select(col(idCol).as("id"),
      size(shingles(textCol, k)).cast("long").as("n")))
    val byShingle = sh.groupBy(col("sh"))
      .agg(sort_array(collect_list(col("id"))).as("ids"), count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= heavyCap)
    // The pair aggregate's state is nearly one group per streamed pair
    // (dup pairs share few shingles), so the scale limiter is SPILL
    // GRANULARITY, not data volume: under the session's 32 shuffle
    // partitions each partial-aggregation map holds millions of
    // never-collapsing groups and thrashes through spill-sort-merge (the
    // measured x100 wall exponent read 1.34). The explicit repartition on
    // the grouping keys moves the (unavoidable, linear) exchange BEFORE
    // any aggregation — no more corpus-wide pre-exchange partial maps —
    // and widens it to 8× parallelism so each reducer's hash map stays
    // comfortably in memory; on a cluster the same factor tracks executor
    // count. Candidate-set alternatives were all measured WORSE at the
    // 100× probe, because rare-shingle blocking is non-selective on a
    // dense corpus (measured: 99% of pair occurrences come from df≤20
    // shingles here): sort-merge semi-join 90s (sorts the stream),
    // shuffled-hash semi-join 124s, Bloom-prune 204s (building bits over
    // a candidate set that IS the stream) — vs 44s for aggregate-then-
    // filter at 32 partitions, and the repartitioned form below beats
    // that by removing the spill churn rather than the groups.
    //
    // ADAPTIVE (round 12): that pre-aggregation exchange is a pure tax
    // below the thrash regime — interleaved same-session A/B at sf0.1
    // (min-of-3 each): shipped-with-exchange wall 3.39-3.44 s vs
    // without 2.33-2.35 s, CPU 4.5 vs 3.0 — this was the real half of the
    // r10→r11 q163 bench regression (2.23→4.00 s). Small corpora keep
    // map-side combine; the exchange engages past a corpus-size threshold
    // read from the optimizer's own size estimate — a driver-side lookup
    // (file bytes for a parquet corpus), zero extra jobs (a first cut
    // counted shingles off the cached `sz`, correct but +0.6 s of
    // serialized job latency per run).
    // Below the big-corpus exchange threshold the inverted-list relation
    // is small enough that AQE coalesces its exchange to ONE partition —
    // and the C(df,2) pair fanout downstream then runs on a single task
    // (round-17 profile: 1.6 s of the query's 2.5 s wall on one core).
    // Spreading the tiny list relation costs one ~MB-scale exchange; past
    // the threshold the lists are wide already and maybeExchangePairs
    // handles the pair stream, so the spread stays off.
    val lists =
      if (docs.queryExecution.optimizedPlan.stats.sizeInBytes <
          ContainmentExchangeThresholdBytes)
        byShingle.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      else byShingle
    val inter = maybeExchangePairs(docs,
        expandPairs(
          lists.withColumn("rare", (col("df") <= maxDf).cast("int")),
          keepRare = true))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter_cnt"),
        max(col("rare")).as("has_rare"))
      .filter(col("has_rare") === 1)
      .drop("has_rare")
    // lossless global count-bound prefilter before the size joins — see
    // the proof in containmentPairsCapped (inter_cnt is an integer and
    // min(a_n,b_n) ≥ the global minimum, so floor(t·min_global) can never
    // drop a qualifying pair); it spares the size joins the full
    // nearly-uncombined pair census stream
    val minSz = broadcast(sz.agg(min(col("n")).as("min_n")))
    inter
      .crossJoin(minSz)
      .filter(col("inter_cnt") >= floor(lit(minContainment) * col("min_n")))
      .drop("min_n")
      .join(sz.select(col("id").as("a_id"), col("n").as("a_n")), Seq("a_id"))
      .join(sz.select(col("id").as("b_id"), col("n").as("b_n")), Seq("b_id"))
      .withColumn("containment",
        col("inter_cnt").cast("double") / least(col("a_n"), col("b_n")))
      .withColumn("jaccard",
        col("inter_cnt").cast("double") / (col("a_n") + col("b_n") - col("inter_cnt")))
      .filter(col("containment") >= minContainment)
      .select(col("a_id"), col("b_id"), col("inter_cnt"),
        col("a_n"), col("b_n"), col("containment"), col("jaccard"))
  }

  /** State-bounded ("capped") containment census — the 100-TB-scale mode
    * beside the exact [[containmentPairs]], whose pair stream is
    * Σ_sh C(df,2) and therefore grows ~quadratically when duplication
    * density holds as the corpus grows (measured 1.49 wall exponent at
    * the 100× probe; every candidate-set alternative measured worse —
    * see the Scaladoc above). This mode bounds the census at the STATE
    * level instead: each shingle's inverted list is truncated to the
    * `listCap` documents with the smallest salt-hash rank
    * (md5(shingle:id) — deterministic, uniform, id-independent), via the
    * bounded [[graft.functions.BottomKIdsAggregator]] whose partial
    * buffers never exceed 2·cap entries. The pair stream is then
    * ≤ #shingles · C(listCap,2) — LINEAR in the corpus — and no
    * aggregation map ever holds an unbounded group.
    *
    * Semantics (documented approximation, exactly replayable by the
    * oracle): the census is the EXACT containment census over the
    * cap-retained (shingle, doc) relation — truncation removes the same
    * occurrences from intersections and from the per-doc set sizes, so
    * containment/jaccard stay internally consistent. A shingle with
    * df ≤ listCap is untouched, so any pair whose shared shingles are all
    * sub-cap (every genuinely contained doc pair in a non-boilerplate
    * corpus: rare shingles dominate the intersection) gets its EXACT
    * inter_cnt; only ubiquitous boilerplate lists are sampled down.
    * `listCap ≥ maxDf` is required so the rare-blocking flag (df ≤ maxDf)
    * is identical on the retained relation — rare lists are never
    * truncated.
    *
    * Output matches [[containmentPairs]]: (a_id, b_id, inter_cnt, a_n,
    * b_n, containment, jaccard), a_id < b_id, containment ≥
    * `minContainment` — with a_n/b_n the RETAINED set sizes. Ids must be
    * numeric (the bounded aggregator is typed on long). */
  def containmentPairsCapped(docs: DataFrame, idCol: String, textCol: String,
                             k: Int = 3, listCap: Int = 64, maxDf: Int = 20,
                             minContainment: Double = 0.8,
                             scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    require(listCap >= maxDf,
      s"listCap ($listCap) must be >= maxDf ($maxDf) so rare lists never truncate")
    // salt rank: a modular integer mix of (shingle-hash, id) — uniform
    // enough to make retention id-independent, exactly replayable in any
    // engine with BIGINT arithmetic, and ~free next to the md5 the
    // shingle hash itself costs (an md5-of-concat rank measured +870 CPU
    // seconds at the 100x probe — one extra digest per occurrence).
    // P = 4294967291 (largest 32-bit prime) keeps every intermediate
    // below 2^52, so the arithmetic never overflows in either engine.
    // NOT fanned out (round-17 measurement: 1.71 -> 2.91 s wall, CPU
    // 14 -> 42): the capped path's cached lists/nret frames are re-read by
    // several consumers, and a fanned head multiplies the fixed per-task
    // cost through every 32-wide downstream stage
    val sh = docs.select(col(idCol).cast("long").as("id"),
        explode(graft.functions.GraftFunctions.shingleHash60(col(textCol), k)).as("sh"))
      .withColumn("rk", expr(
        "((sh % 4294967291L) * 1000003L + (id % 4294967291L) * 999983L) " +
          "% 4294967291L"))
    // ONE shingle-keyed exchange; the cap is a window row_number over
    // (rk, id) — WindowExec external-sorts, so per-group state is O(cap)
    // and a df-10⁶ boilerplate list spills instead of ballooning a hash
    // map. The groupBy(sh) right after REUSES the window's partitioning
    // (no second exchange) and its collect_list is ≤ listCap by
    // construction. (A typed bounded aggregator — see
    // graft.functions.BottomKIdsAggregator — does this in one hash pass
    // with 2·cap buffers, but its object-encoded buffers measured ~2x
    // the CPU of the sort-based window at the 100x probe; it remains the
    // right shape when the downstream doesn't need the lists grouped.)
    // The cap applies before the df>=2 filter, so df-1 shingles pass
    // through untouched and the retained relation is well-defined for
    // every document.
    import org.apache.spark.sql.expressions.Window
    // cached: `lists` feeds BOTH the pair expansion and the retained-size
    // branch, and `nret` joins twice (a-side, b-side) — without the cache
    // the plan re-shingles and re-shuffles the corpus once per consumer
    // (measured: 5 shingle exchanges in the uncached plan, 1 cached).
    // Both frames are linear and narrow: lists ≤ one row per distinct
    // shingle with a ≤cap id array, nret one row per doc.
    val lists = scope.cached(sh
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("sh")).orderBy(col("rk"), col("id"))))
      .filter(col("rn") <= listCap)
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(col("id"))).as("ids")))
    // retained per-doc set sizes: the capped relation's denominators
    // (exact n minus the occurrences truncation removed)
    val nret = scope.cached(lists.select(explode(col("ids")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n")))
    val byShingle = lists.filter(size(col("ids")) >= 2)
      .withColumn("df", size(col("ids")).cast("long"))
    // same size-adaptive pre-aggregation exchange as the exact census
    // (see the spill-granularity analysis in containmentPairs)
    val inter = maybeExchangePairs(docs,
        expandPairs(
          byShingle.withColumn("rare", (col("df") <= maxDf).cast("int")),
          keepRare = true, smallLists = true))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter_cnt"),
        max(col("rare")).as("has_rare"))
      .filter(col("has_rare") === 1)
      .drop("has_rare")
    // Global count-bound prefilter (round-10 profiling): the census's pair
    // aggregate emits one row per candidate pair with ~no same-key
    // combining (measured 112M of 126.6M expanded pairs at the 100× probe
    // survive to this point, of which 25.6k pass the containment
    // threshold), so the nret joins below would exchange-and-sort a
    // 112M-row stream to score pairs that cannot qualify. A pair passes
    // containment ≥ t only if inter_cnt ≥ t·min(a_n,b_n) ≥ t·min_global,
    // and inter_cnt is an integer — so inter_cnt ≥ floor(t·min_global) is
    // a PROVABLY lossless prefilter (floor, not ceil, so floating-point
    // rounding can only keep extra rows, never drop a qualifying one).
    // The 1-row global minimum rides a broadcast cross-join; after the
    // filter AQE broadcasts the surviving pairs into both nret joins
    // instead of sort-merging the full stream.
    // Effectiveness degrades gracefully, never wrongly: a corpus with a
    // degenerate document (1 retained shingle) drives the bound to 0 and
    // the filter keeps everything — correctly, because a 1-shingle doc
    // really can qualify at inter_cnt 1 — at the cost of one broadcast
    // compare per row (measured indistinguishable from no filter). Sub-k
    // fragments should be dropped by the quality funnel upstream, which
    // is also what restores the bound.
    val minRet = broadcast(nret.agg(min(col("n")).as("min_n")))
    inter
      .crossJoin(minRet)
      .filter(col("inter_cnt") >= floor(lit(minContainment) * col("min_n")))
      .drop("min_n")
      .join(nret.select(col("id").as("a_id"), col("n").as("a_n")), Seq("a_id"))
      .join(nret.select(col("id").as("b_id"), col("n").as("b_n")), Seq("b_id"))
      .withColumn("containment",
        col("inter_cnt").cast("double") / least(col("a_n"), col("b_n")))
      .withColumn("jaccard",
        col("inter_cnt").cast("double") / (col("a_n") + col("b_n") - col("inter_cnt")))
      .filter(col("containment") >= minContainment)
      .select(col("a_id"), col("b_id"), col("inter_cnt"),
        col("a_n"), col("b_n"), col("containment"), col("jaccard"))
  }

  /** Rare-shingle containment census — the third containment regime and
    * the cheapest at corpus scale: both intersections AND set sizes are
    * computed over ONLY the shingles with document frequency ≤ `maxDf`.
    * The round-10 boilerplate stressor showed WHY this is the better
    * signal, not just the cheaper one: template shingles inflate the
    * exact census's full-set denominators and drag genuine doc-in-doc
    * pairs below threshold (it lost 62 of 253 planted pairs on a df-800
    * template corpus), while rare-shingle intersections carry ~99% of
    * true pair evidence (measured via DuckDB replay, SCALE.md). Pair
    * stream ≤ #shingles·C(maxDf,2) — with maxDf=20 that is ≤190 pairs
    * per shingle, two orders below the capped census's bound and four
    * below the exact census's heavyCap band.
    *
    * Shape: ONE shingle-keyed exchange — the df count is a window
    * aggregate over the shingle partitioning, NOT a count-then-join-back
    * (the join formulation recomputed the shingle stream for both sides
    * and sort-merge-joined 3M rows: measured 5.6s of an 11.6s total at
    * the x10 boilerplate probe, vs 0.5s for each aggregation) — then a
    * collect_list that is ≤ maxDf by construction. No unbounded
    * aggregation state anywhere. df-1 shingles count in the denominators
    * (they are maximal evidence of NON-containment) but expand no
    * pairs. Output matches [[containmentPairs]] minus jaccard semantics
    * (jaccard here is over rare shingle sets). */
  def containmentPairsRare(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 3, maxDf: Int = 20,
                           minContainment: Double = 0.8,
                           scope: CacheScope = CacheScope.unmanaged): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = Par.fanOutIfNarrow(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        explode(graft.functions.GraftFunctions.shingleHash60(col(textCol), k)).as("sh"))
    // window df count, then group the retained occurrences per shingle
    // IN THE SAME partitioning (the groupBy(sh) reuses the window's
    // exchange) and cache the GROUPED lists — one compact row per
    // retained shingle with ≤ maxDf ids, never the per-occurrence
    // stream. Round 18: caching the occurrence stream put the cache
    // boundary (an AQE InMemoryRelation, whose runtime partitioning the
    // planner can't see) BETWEEN the window and the list aggregate, so
    // every consumer paid a second full shingle exchange on top of the
    // window's; grouping before the cache removes that exchange and
    // shrinks the cached bytes by the per-shingle df factor. Lists stay
    // bounded (the window filter runs first), and both downstream
    // consumers — pair expansion and the per-doc rare-set sizes — read
    // the same cached relation. (id, sh) is unique per doc (shingle_hash60
    // dedups), so exploding the lists back reproduces kept exactly.
    val lists = scope.cached(sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("df") <= maxDf)
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(col("id"))).as("ids")))
    val nrare = scope.cached(lists.select(explode(col("ids")).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n")))
    val byShingle = lists.filter(size(col("ids")) >= 2)
    val inter = maybeExchangePairs(docs,
      expandPairs(byShingle, smallLists = true))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter_cnt"))
    inter
      .join(nrare.select(col("id").as("a_id"), col("n").as("a_n")), Seq("a_id"))
      .join(nrare.select(col("id").as("b_id"), col("n").as("b_n")), Seq("b_id"))
      .withColumn("containment",
        col("inter_cnt").cast("double") / least(col("a_n"), col("b_n")))
      .withColumn("jaccard",
        col("inter_cnt").cast("double") / (col("a_n") + col("b_n") - col("inter_cnt")))
      .filter(col("containment") >= minContainment)
      .select(col("a_id"), col("b_id"), col("inter_cnt"),
        col("a_n"), col("b_n"), col("containment"), col("jaccard"))
  }
}
