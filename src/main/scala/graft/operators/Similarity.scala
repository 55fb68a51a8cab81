package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Vector-similarity search over an embedding column (`array<float>`):
  * exact cosine (scaled-long accumulated so results are bit-identical
  * across engines and partitionings), brute-force top-k as the correctness
  * baseline, and random-hyperplane LSH bucketing as the 100 TB scale path.
  *
  * Arithmetic discipline: all dots go through the native codegen'd
  * [[graft.functions.FloatVectorScaledDot]] — `Σ floor(x·y·2^36)` as a
  * long. Exact float products, a power-of-two scale, and floor make the
  * sum order-independent AND replayable in DuckDB SQL, at primitive-loop
  * speed (the earlier DECIMAL(38,18) lambda fold had the same determinism
  * but allocated a BigDecimal per element in an interpreted lambda — it
  * cost seconds per 2000-row stage). */
object Similarity {

  /** 2^36: element products are exact doubles; scaling shifts the exponent
    * only; 64-dim sums stay far under 2^63. */
  val ScaledShift = 36
  private val ScaleLit = "68719476736.0" // 2^36 as a double literal

  /** Exact order-independent scaled dot (long). Registers the native
    * function lazily via the query that uses it — callers must have run
    * [[GraftFunctions.register]] on the session (all operators here do). */
  def scaledDot(a: String, b: String): Column =
    expr(s"fvec_scaled_dot($a, $b, $ScaledShift)")

  /** Matching DuckDB fragment for [[scaledDot]]. */
  def scaledDotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), p -> " +
      s"CAST(FLOOR(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * $ScaleLit) AS BIGINT))) AS BIGINT)"

  /** Norm in the scaled domain: sqrt of the scaled self-dot (double). The
    * 2^36 scale cancels in cosine = scaledDot / (scaledNorm_a * scaledNorm_b). */
  def scaledNorm(a: String): Column =
    sqrt(expr(s"CAST(fvec_scaled_dot($a, $a, $ScaledShift) AS DOUBLE)"))

  def scaledNormSql(a: String): String =
    s"sqrt(CAST(${scaledDotSql(a, a)} AS DOUBLE))"

  /** Symmetric per-vector int8 quantization — the embedding storage scale
    * path (4× smaller vectors, integer-SIMD dot products at serving time):
    * `qscale = max|x| / 127` (ε-guarded against all-zero vectors),
    * `q_i = floor(x_i / qscale + 0.5)` clamped to ±127. `floor(x + 0.5)`,
    * never `round`: Java rounds ties half-up, DuckDB half-away-from-zero —
    * the floor form is identical in both. Adds `qscale` (double) and
    * `qvec` (array<int>) columns. */
  def int8Quantize(df: org.apache.spark.sql.DataFrame, vecCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn("qscale", expr(
        s"greatest(array_max(transform($vecCol, x -> abs(cast(x AS double)))), 1e-30d) / 127.0d"))
      .withColumn("qvec", expr(
        s"transform($vecCol, x -> cast(greatest(least(" +
          s"floor(cast(x AS double) / qscale + 0.5d), 127.0d), -127.0d) AS int))"))

  /** Integer dot of two quantized vectors — exact in any engine (≤ 64·127²
    * fits a long with room to spare); rescale by `a_scale·b_scale` to
    * approximate the original-unit dot. */
  def int8Dot(qa: String, qb: String): Column =
    expr(s"aggregate(zip_with($qa, $qb, (x, y) -> cast(x AS bigint) * y), 0L, (acc, v) -> acc + v)")

  /** Matching DuckDB fragments for [[int8Quantize]]/[[int8Dot]]. */
  def int8ScaleSql(vecCol: String): String =
    s"greatest(list_max(list_transform($vecCol, x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0"

  def int8QuantizeSql(vecCol: String, scaleExpr: String): String =
    s"list_transform($vecCol, x -> CAST(greatest(least(" +
      s"floor(CAST(x AS DOUBLE) / $scaleExpr + 0.5), 127.0), -127.0) AS INT))"

  def int8DotSql(qa: String, qb: String): String =
    s"CAST(list_sum(list_transform(list_zip($qa, $qb), p -> CAST(p[1] AS BIGINT) * p[2])) AS BIGINT)"

  /** Exact dot product via DECIMAL(38,18) accumulation — the reference
    * formulation kept for cross-checks (ScalaTest pins it against the
    * scaled path); prefer [[scaledDot]] in query plans. */
  def dotExact(a: String, b: String): Column =
    expr(s"CAST(aggregate(zip_with($a, $b, (x, y) -> " +
      "CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(38,18))), " +
      // re-cast each partial sum: Spark decimal + drops to scale 17, but all
      // operands are exact multiples of 1e-18, so the cast is lossless
      "CAST(0 AS DECIMAL(38,18)), (acc, v) -> CAST(acc + v AS DECIMAL(38,18))) AS DOUBLE)")

  /** Matching DuckDB fragment for [[dotExact]]. */
  def dotExactSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), x -> " +
      "CAST(CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) AS DECIMAL(38,18)))) AS DOUBLE)"

  def normExact(a: String): Column = sqrt(dotExact(a, a))

  /** Brute-force cosine top-k: broadcast the (small) query set against the
    * corpus, rank per query. Scaled-exact cosine for oracle comparability. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    val c = corpus.select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      .withColumn("cnorm", scaledNorm("cvec"))
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .withColumn("qnorm", scaledNorm("qvec"))
    val scored = c.join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("cosine",
        scaledDot("qvec", "cvec").cast("double") / (col("qnorm") * col("cnorm")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("cosine"), col("rank"))
  }

  /** ANN recall audit: for each query, the fraction of its exact cosine
    * top-`k` neighbors ([[bruteForceTopK]] ground truth) that the
    * `bits`-bit LSH bucketing would surface as candidates (same bucket as
    * the query). The go/no-go evaluation every pipeline runs before
    * trusting an approximate index — recall too low means more bands /
    * fewer bits, not a bigger corpus scan.
    *
    * Scale shape: ground truth is |queries|·k rows and rides the join
    * broadcast; the bucket table is corpus-sized but joined only on ids
    * present in the truth set, so the output stays |queries| rows. */
  def annRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                bits: Int = 16): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val truth = bruteForceTopK(corpus, queries, k).select(col("qid"), col("cid"))
    val buckets = corpus.select(col("vec_id"), lshSignature("embedding", bits).as("bucket"))
    truth
      .join(buckets.select(col("vec_id").as("qid"), col("bucket").as("q_bucket")), Seq("qid"))
      .join(buckets.select(col("vec_id").as("cid"), col("bucket").as("c_bucket")), Seq("cid"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("q_bucket") === col("c_bucket"), 1L).otherwise(0L)).as("n_candidates"))
      .withColumn("recall_at_k",
        col("n_candidates").cast("double") / col("n_truth").cast("double"))
  }

  /** Default embedding dimensionality of the fixtures; hyperplanes are
    * materialized at this width (extra dims would need a wider table). */
  val LshDims = 64

  /** Hyperplane j, component i — the integer md5-prefix hash of "j_i" mod
    * 1000, centered to [-500, 500): no RNG state, reproducible across runs,
    * cluster sizes, AND engines (DuckDB: `('0x'||substr(md5(j||'_'||i),1,8))
    * ::BIGINT % 1000 - 500`). Scaling by 1/1000 can't change a dot-product
    * sign, so the integer components are used directly (exactly
    * representable as floats). */
  def hyperplane(j: Int, dims: Int = LshDims): IndexedSeq[Long] =
    (0 until dims).map { i =>
      graft.functions.HashUtils.md5Prefix32(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"${j}_$i")) % 1000 - 500
    }

  /** Random-hyperplane LSH signature: `bits` sign-bits of scaled-exact dot
    * products with [[hyperplane]] vectors, computed by the native
    * [[graft.functions.FvecLshBucket]] expression — the planes ride as a
    * codegen reference object, not bits×dims plan literals (literal-array
    * composition cost seconds of Janino compile per query and would ship
    * the constants to every task in the serialized plan). Bucket
    * assignment is bit-identical in the differential oracle. */
  def lshSignature(vecCol: String, bits: Int = 16): Column =
    expr(s"fvec_lsh_bucket($vecCol, $bits, $ScaledShift)")

  /** Matching DuckDB fragment for [[lshSignature]] — bucket id of `vecCol`
    * as an unrolled sum of sign-bit terms over the same literal
    * hyperplanes (scalar expression, no lateral unnest needed). */
  def lshBucketSql(vecCol: String, bits: Int = 16): String =
    (0 until bits).map { j =>
      // integer components ride as BIGINTs; scaledDotSql casts each side
      // to DOUBLE, which is exact for ints < 2^53 and for floats alike
      val hyper = s"[${hyperplane(j).mkString(",")}]"
      s"""(CASE WHEN ${scaledDotSql(vecCol, hyper)} > 0
         |  THEN ${1L << j} ELSE 0 END)""".stripMargin
    }.mkString("(", " + ", ")")

  /** Deterministic, id-independent rank for per-bucket cap retention: a
    * modular mix of (vec_id, band, bucket), every intermediate < 2^63,
    * exactly replayable in any BIGINT engine (same discipline as the
    * capped containment census's salt rank — `Dedup.containmentPairsCapped`).
    * P = 4294967291, the largest 32-bit prime. */
  private val CapSaltP = 4294967291L
  private def capSaltRank(mask: Long): Column =
    ((col("vec_id") % CapSaltP) * 1000003L +
      (col("band") * (mask + 1) + col("bucket")) * 999983L) % CapSaltP

  /** [[capSaltRank]] as SQL text for the DuckDB oracle twins (8-bit bands:
    * 256 buckets per band). */
  def capSaltRankSql(idExpr: String = "vec_id", bandExpr: String = "band",
                     bucketExpr: String = "bucket", buckets: Long = 256L): String =
    s"((($idExpr % 4294967291) * 1000003 + " +
      s"($bandExpr * $buckets + $bucketExpr) * 999983) % 4294967291)"

  /** KNN graph via banded LSH: ONE `bands × bandBits`-bit hyperplane
    * signature per vector, split into `bands` independent buckets by
    * shift/mask (near vectors agree on at least one band with much higher
    * probability than on the full signature). Candidates share a (band,
    * bucket); each candidate pair is scored with the exact scaled-long
    * cosine; every node keeps its top `k`. The per-bucket `cap` bounds a
    * viral bucket the same way [[Dedup.lshCandidatePairs]] caps LSH bands, so no
    * reducer ever sees a quadratic bucket at corpus scale. Cap retention
    * is ID-INDEPENDENT (round-10 advice): the window orders by a
    * deterministic modular mix of (vec_id, band, bucket), not by raw id —
    * ordering by id would bias every saturated bucket toward the oldest
    * vectors (ids usually correlate with ingest time), and in the scale
    * curve's id-offset synthesis it froze the edge set at the first
    * copy's vectors, under-reporting the growth exponent. Every stage is
    * deterministic and the graph replays bit-for-bit in the differential
    * oracle (the same mix expression runs in DuckDB BIGINTs). */
  def knnGraph(corpus: DataFrame, k: Int, bands: Int = 3, bandBits: Int = 8,
               cap: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    val mask = (1L << bandBits) - 1
    // conditional since round 17: a real multi-split corpus no longer pays
    // an unconditional exchange before the per-row signature work
    val sig = Par.fanOutIfNarrow(corpus.select(col("vec_id"), col("embedding")))
      .withColumn("sig", lshSignature("embedding", bands * bandBits))
      .withColumn("nrm", scaledNorm("embedding"))
    val withBucket = sig.select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("sig"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "bucket")))
    val capped = withBucket
      .withColumn("rk", capSaltRank(mask))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("band"), col("bucket"))
          .orderBy(col("rk"), col("vec_id"))))
      .filter(col("rn") <= cap)
      .drop("rn", "rk")
    val a = capped.select(col("band"), col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("a_vec"), col("nrm").as("a_nrm"))
    val b = capped.select(col("band"), col("bucket"), col("vec_id").as("b_id"),
      col("embedding").as("b_vec"), col("nrm").as("b_nrm"))
    // the dot runs per band co-occurrence and the NARROW (ids, cosine)
    // stream is deduplicated after. Deduplicating the id pairs first would
    // run one dot per pair but ship both vectors through the exchange:
    // measured (round 15, interleaved, sf0.1, min-of-4) 0.93-1.01 s wall /
    // 2.3-3.0 s CPU against 0.73-0.98 s / 1.4-1.9 s for this form, whose
    // ≤`bands`× redundant dots are nearly free in whole-stage codegen
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cosine",
        scaledDot("a_vec", "b_vec").cast("double") / (col("a_nrm") * col("b_nrm")))
      .select(col("a_id"), col("b_id"), col("cosine"))
      // ONE anchor-keyed exchange serves both downstream operators:
      // HashPartitioning(a_id) satisfies the distinct's (a_id, b_id,
      // cosine) clustering AND the rank window's a_id clustering, so
      // neither inserts its own exchange; without it AQE coalesces the
      // byte-small distinct exchange to one partition and the dedup +
      // window + downstream loop-input checkpoints all run serially.
      // Round-18 A/B (BenchOne, adjacent windows): removing this exchange
      // cost q113 2.01→2.95 s and q178 2.23→3.12 s (their loop inputs
      // checkpoint this stream) with q95/q135 flat (1.00→1.10 /
      // 0.95→0.99) — kept. Per-key fanout is cap-bounded (≤ bands·cap
      // rows per anchor), so a_id cannot hot-spot.
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("a_id"))
      .distinct()
    val w = Window.partitionBy(col("a_id")).orderBy(col("cosine").desc, col("b_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: for every anchor, the
    * `k` most-similar vectors with a DIFFERENT label — the "confusable
    * neighbor" set a retrieval/embedding trainer feeds back as negatives
    * (random negatives stop teaching once the model separates easy pairs).
    *
    * Same banded-LSH candidate generation as [[knnGraph]] (bands ×
    * bandBits signature, per-bucket cap, exact scaled-long rescoring) with
    * the label carried through the join: the cross-label filter runs on
    * candidate pairs BEFORE the per-anchor rank, so the result is the
    * nearest cross-label candidate — not a cross-label survivor of a
    * label-blind top-k. Anchors whose buckets hold no cross-label mate
    * simply don't emit (the approximate trade the banding already makes).
    *
    * Scale shape: identical to [[knnGraph]] — the per-bucket cap bounds
    * every reducer, the rank partitions by anchor, nothing corpus-sized
    * is collected or broadcast. Deterministic end-to-end (md5 hyperplanes,
    * exact integer dots, id tie-breaks) — bit-replayable in DuckDB. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
                    k: Int = 1, bands: Int = 3, bandBits: Int = 8,
                    cap: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(corpus.sparkSession)
    val mask = (1L << bandBits) - 1
    val sig = Par.fanOutIfNarrow(corpus
        .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
          col(labelCol).as("label")))
      .withColumn("sig", lshSignature("embedding", bands * bandBits))
      .withColumn("nrm", scaledNorm("embedding"))
    val withBucket = sig.select(col("vec_id"), col("embedding"), col("label"), col("nrm"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sig"), b * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bucket")))
    val capped = withBucket
      .withColumn("rk", capSaltRank(mask))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("band"), col("bucket"))
          .orderBy(col("rk"), col("vec_id"))))
      .filter(col("rn") <= cap)
      .drop("rn", "rk")
    val a = capped.select(col("band"), col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("a_vec"), col("label").as("a_label"), col("nrm").as("a_nrm"))
    val b = capped.select(col("band"), col("bucket"), col("vec_id").as("neg_id"),
      col("embedding").as("b_vec"), col("label").as("neg_label"), col("nrm").as("b_nrm"))
    // same dedup discipline as [[knnGraph]]'s default: score the cheap
    // codegen'd dot per band co-occurrence and distinct the NARROW
    // (ids, labels, cosine) stream — the round-15 interleaved A/B showed
    // the early wide dedup ships ~20× more exchange bytes than the ≤3×
    // redundant dots cost (see knnGraph)
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("a_label") =!= col("neg_label"))
      .withColumn("cosine",
        scaledDot("a_vec", "b_vec").cast("double") / (col("a_nrm") * col("b_nrm")))
      .select(col("a_id"), col("a_label"), col("neg_id"), col("neg_label"), col("cosine"))
      // one anchor-keyed exchange for both the distinct and the rank
      // window — see the knnGraph note (round-18 A/B kept it)
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("a_id"))
      .distinct()
    val w = Window.partitionBy(col("a_id")).orderBy(col("cosine").desc, col("neg_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** LSH-bucketed ANN: only pairs sharing a signature bucket are scored —
    * the candidate join shuffles on the 16-bit bucket, never cross-joining
    * the corpus. Returns candidate pairs with exact cosine ≥ `threshold`. */
  def lshNearNeighbors(corpus: DataFrame, threshold: Double, bits: Int = 16): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    // norms computed once per vector, not once per candidate pair; cached
    // because both join sides consume it (16 hyperplane dots per row).
    // repartition first: the signature pass is CPU-bound per row and a
    // small parquet source arrives as 1-2 splits
    val sig = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("embedding"))
      .withColumn("bucket", lshSignature("embedding", bits))
      .withColumn("nrm", scaledNorm("embedding"))
      .cache()
    val a = sig.select(col("vec_id").as("a_id"), col("embedding").as("a_vec"),
      col("nrm").as("a_nrm"), col("bucket"))
    val b = sig.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"),
      col("nrm").as("b_nrm"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine",
        scaledDot("a_vec", "b_vec").cast("double") / (col("a_nrm") * col("b_nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"))
      .distinct()
  }

  /** Per-label centroid quality report: for every label, the exact per-dim
    * mean vector (the class centroid), then each member's cosine to its own
    * centroid, rolled up as count / mean / min cosine. This is the
    * embedding-space audit of a labeled corpus — low mean cosine means the
    * label is diffuse, a low min flags probable mislabels/outliers (the
    * rows a curation pass re-examines first).
    *
    * Determinism: per-dim means are exact DECIMAL(38,18) sums over the
    * float values (identical rounding both engines), and the centroid is
    * rounded to float BEFORE the cosine so both engines feed the same
    * 2^36-scaled integer dot ([[scaledDot]]). Per-row cosines are then
    * bit-identical, and the mean re-enters the exact-decimal discipline.
    *
    * Scale shape: one (label, dim)-keyed shuffle with map-side combine —
    * aggregate state is #labels × dims rows regardless of corpus size;
    * centroids broadcast back (bounded by the label vocabulary); the final
    * rollup is a #labels-group partial aggregate. No driver-side math.
    */
  def labelCentroidQuality(emb: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    GraftFunctions.register(emb.sparkSession)
    // NOT fanned out (round-17 measurement: 0.49 -> 0.71 s wall): the
    // per-dim decimal mean combines map-side into label-bounded state
    val e = emb.select(col(labelCol), col(vecCol))
    val dims = e
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast("double").cast(DecimalType(38, 18))).cast("double") /
        count(lit(1))).as("c"))
    val centroids = dims.groupBy(col("label"))
      .agg(expr("cast(transform(array_sort(collect_list(struct(pos, c))), s -> s.c) " +
        "as array<float>)").as("centroid"))
    e.select(col(labelCol).as("label"), col(vecCol).as("vec"))
      .join(broadcast(centroids), Seq("label"))
      .select(col("label"),
        (scaledDot("vec", "centroid").cast("double") /
          (scaledNorm("vec") * scaledNorm("centroid"))).as("cosine"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("cosine").cast(DecimalType(38, 18))).cast("double") /
          count(lit(1))).as("mean_cosine"),
        min(col("cosine")).as("min_cosine"))
      .orderBy(col("label"))
  }

  /** Embedding-space decontamination: for every train vector, its maximum
    * cosine against the (small) eval/benchmark set, plus how many eval
    * vectors clear `threshold` — the semantic counterpart to the n-gram
    * overlap decontamination in [[TextAnalysis.ngramOverlap]] (paraphrased
    * leakage that shares no 13-gram still lands next to the benchmark in
    * embedding space).
    *
    * Scale shape: the eval set is broadcast (benchmarks are thousands of
    * rows; the corpus is the big side), so this is one corpus scan with a
    * per-row loop over eval — no shuffle at all until the caller
    * aggregates. Scaled-exact dots keep max/count deterministic, so the
    * flag replays bit-for-bit in the oracle.
    *
    * `broadcastEval = false` (mirroring [[TextAnalysis.ngramOverlap]])
    * drops the broadcast hint for an eval side too big to ship to every
    * executor — the cross join then runs partition-wise instead of
    * OOM-ing the driver; the CLI verb auto-selects via a row-count guard.
    *
    * Reference scope: extension surface beyond reference parity (the
    * similarity family of SURVEY §7 step 8; no reference counterpart). */
  def semanticDecontaminate(train: DataFrame, eval: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double,
                            broadcastEval: Boolean = true): DataFrame = {
    GraftFunctions.register(train.sparkSession)
    val ev = eval.select(col(idCol).as("eval_id"), col(vecCol).as("evec"))
      .withColumn("enorm", scaledNorm("evec"))
    val tr = train.select(col(idCol).as("train_id"), col(vecCol).as("tvec"))
      .withColumn("tnorm", scaledNorm("tvec"))
    tr.crossJoin(if (broadcastEval) broadcast(ev) else ev) // bounded fanout: |eval| rows per train row
      .withColumn("cosine",
        scaledDot("tvec", "evec").cast("double") / (col("tnorm") * col("enorm")))
      .groupBy(col("train_id"))
      .agg(max(col("cosine")).as("max_cosine"),
        sum(when(col("cosine") >= threshold, 1L).otherwise(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0L)
  }
}
