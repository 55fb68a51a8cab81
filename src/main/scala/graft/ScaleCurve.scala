package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale curve for the heavy document pipelines (round-5 verdict
  * item 5): measure q23 (MinHash-LSH pairs), q70 (dedup clusters), q93
  * (line dedup), q96 (Bloom decontamination) and q105 (incremental
  * batch-vs-corpus dedup) at 1x/10x/100x the sf0.1 documents corpus and
  * report the observed growth exponent, converting the 100 TB design
  * claims (bucket caps, O(log d) rounds, bounded broadcast) from argued
  * to measured.
  *
  * Corpus synthesis: a verbatim m-fold copy would hand every document m
  * identical twins, growing the near-dup pair count m^2-fold BY
  * CONSTRUCTION — the measurement would report "quadratic" about the data,
  * not the algorithm. Instead each copy applies a per-copy bijective
  * character rotation to the text: shingle-set Jaccard is invariant under a
  * character bijection, so every copy keeps the fixture's internal near-dup
  * structure (duplicate DENSITY constant — the property real corpus growth
  * has), while cross-copy shingles collide no more than random. Each scale
  * is materialized to parquet first so the timed region is read→pipeline,
  * same as the bench.
  *
  * Isolation: every (pipeline, scale) measurement runs in its OWN
  * SparkContext (stop + rebuild between measurements). A shared session
  * contaminates the curve in both directions: unmanaged pipeline caches
  * from an earlier invocation are matched by canonicalized PLAN, so a
  * later structurally-identical stage reads cached signatures it never
  * paid for (observed: full q70 at x100 in 1.2s right after q23 drained
  * the same MinHash pairs), while accumulated session state inflates late
  * measurements (observed: q93 at x100 took 38.7s as the 12th measurement
  * of a session vs 3.2-3.9s steady-state fresh). Per-measurement contexts
  * cost ~3s each and make the samples order-independent.
  *
  * Throttle guard: the same fixed-work SERIAL calibration loop as
  * [[Bench]] runs before every timed sample, PLUS the parallel probe
  * (Measure.calibParallelSecs) — round 10 recorded a full-curve session
  * whose q107/q126 samples ran 3-4x inflated with clean serial probes
  * (core-stealing by a concurrent multi-core process, invisible to a
  * single-threaded probe). A sample with EITHER probe >3x its run median
  * is flagged in `throttled_scales`. Each
  * measurement is one untimed warmup (codegen + page cache) then two timed
  * runs, reporting the MIN — under intermittent throttling the faster run
  * is the honest one. The 0.08s probe cannot see a throttle that begins
  * MID-run, though (one recording shows a 340s q93 sample bracketed by
  * clean probes), so each run also sums `executorCpuTime` from Spark's
  * task metrics: a throttled process is descheduled, not busier — CPU
  * consumed stays proportional to work while wall inflates — so the
  * CPU-seconds exponent is the throttle-immune headline number and wall
  * clock the corroborating one.
  *
  * Usage: `runMain graft.ScaleCurve [sfDir] [outJson]`; prints one JSON
  * line, also written to outJson if given.
  */
object ScaleCurve {
  // shared with Bench (Measure): the two tools' calibration samples are
  // compared against the same 3x-median threshold
  private def calibSecs(): Double = Measure.calibSecs()
  private def fmt(v: Double): String = Measure.fmt(v)

  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  /** A distinct alphabet permutation per copy (deterministic Fisher-Yates
    * over an LCG seeded by the copy index). A mere rotation has only 25
    * distinct forms, so at m=100 four copies would share each rotation and
    * be VERBATIM twins — the first recording of this curve did exactly
    * that and measured a 124x pair blowup from x10 to x100 that was pure
    * synthetic-data artifact (the quadratic-by-construction trap described
    * above, sneaking back in through the modulus). 26! permutations cannot
    * repeat for any feasible m. */
  private def permutation(seed: Int): String = {
    val a = Alpha.toCharArray
    var s = seed.toLong * 6364136223846793005L + 1442695040888963407L
    var i = a.length - 1
    while (i > 0) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val k = (((s >>> 33) % (i + 1)) + (i + 1)) % (i + 1)
      val tmp = a(i); a(i) = a(k.toInt); a(k.toInt) = tmp
      i -= 1
    }
    new String(a)
  }

  /** m text-disjoint copies of the corpus, ids offset per copy. The
    * `source` column (when present) rides along unchanged, so per-source
    * structure — and with it the q109 overlap-matrix workload — scales
    * with the corpus instead of collapsing to one label.
    *
    * `boilerplate` (SPARK_GRAFT_CURVE_BOILERPLATE=1) appends a df-800
    * template sentence to every document: 8 tokens keyed by
    * floor(doc_id/800), so each sentence is shared by exactly 800
    * docs — the mid-frequency band real corpora grow into (under the
    * exact containment census's heavyCap=1000 drop, over its maxDf=20
    * rare-blocking), where each boilerplate shingle streams C(800,2)
    * candidate pairs through the exact census while the capped census
    * streams C(64,2). Sentence count scales linearly (copy id offsets
    * make keys copy-disjoint), so duplicate DENSITY stays constant —
    * the synthesis invariant the curve depends on. */
  def synthesize(docs: DataFrame, m: Int, boilerplate: Boolean = false): DataFrame = {
    val extra = docs.columns.filter(_ == "source").toSeq.map(col)
    val base = (0 until m).map { j =>
      if (j == 0) docs.select(col("doc_id") +: col("text") +: extra: _*)
      else docs.select(
        (col("doc_id") + lit(j * 100000000L)).as("doc_id") +:
          translate(col("text"), Alpha, permutation(j)).as("text") +: extra: _*)
    }.reduce(_ unionByName _)
    if (!boilerplate) base
    else base.withColumn("text", expr(
      "concat(text, ' ', concat_ws(' ', transform(sequence(1, 8), " +
        "j -> concat('bp', cast(cast(floor(doc_id / 800) AS bigint) AS string), " +
        "'x', cast(j AS string)))))"))
  }

  /** m structure-preserving copies of the embedding corpus, ids offset per
    * copy. The synthesis invariant mirrors [[synthesize]]'s alphabet
    * permutation: each copy applies a per-copy PERMUTATION OF THE 64
    * DIMENSIONS — cosine is invariant under a fixed coordinate permutation
    * applied to every vector, so each copy keeps the fixture's internal KNN
    * structure exactly (neighbor density constant), while cross-copy
    * vectors decorrelate (a dimension-shuffled vector is as close to a
    * foreign vector as a random one). A verbatim m-fold copy would give
    * every vector m identical twins and hand the KNN/LSH stages an m²
    * candidate blowup that is an artifact of the synthesis, not the
    * algorithm. 64! permutations cannot repeat for any feasible m. */
  def synthesizeEmb(emb: DataFrame, m: Int): DataFrame =
    (0 until m).map { j =>
      if (j == 0) emb.select(col("vec_id"), col("embedding"), col("label"))
      else {
        val perm = {
          // same LCG-driven Fisher-Yates as permutation(), over 0..63
          val a = Array.tabulate(64)(identity)
          var s = j.toLong * 6364136223846793005L + 1442695040888963407L
          var i = a.length - 1
          while (i > 0) {
            s = s * 6364136223846793005L + 1442695040888963407L
            val k = ((((s >>> 33) % (i + 1)) + (i + 1)) % (i + 1)).toInt
            val tmp = a(i); a(i) = a(k); a(k) = tmp
            i -= 1
          }
          a.toSeq
        }
        emb.select(
          (col("vec_id") + lit(j * 100000000L)).as("vec_id"),
          array(perm.map(i => col("embedding").getItem(i)): _*).as("embedding"),
          col("label"))
      }
    }.reduce(_ unionByName _)

  private def drain(df: DataFrame): Unit = Measure.drain(df)

  private def session(shufflePartitions: Int = 32): SparkSession =
    GraftSession(shufflePartitions = Some(shufflePartitions))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = args.lift(1)

    // SPARK_GRAFT_CURVE_SCALES=1,10 subsets the corpus multiples (the
    // exponent is computed over the two largest present) — needed for
    // the boilerplate stressor, where the exact census's x100 cost is
    // deliberately quadratic-band and a full run would take tens of
    // minutes; SPARK_GRAFT_CURVE_BOILERPLATE=1 switches the synthesis
    // to the df-800 template corpus (see synthesize).
    val scales = sys.env.get("SPARK_GRAFT_CURVE_SCALES")
      .map(_.split(',').map(_.trim.toInt).toSeq.sorted)
      .getOrElse(Seq(1, 10, 100))
    require(scales.size >= 2, "need at least two scales for an exponent")
    val boiler = sys.env.get("SPARK_GRAFT_CURVE_BOILERPLATE").contains("1")
    val work = java.nio.file.Files.createTempDirectory("graft_scale").toString
    val baseRows = {
      val spark = session()
      val base = graft.sources.Tables.load(spark, sfDir, "documents")
      val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      scales.foreach { m =>
        synthesize(base, m, boiler).repartition(32)
          .write.mode("overwrite").parquet(s"$work/docs_x$m")
        synthesizeEmb(emb, m).repartition(32)
          .write.mode("overwrite").parquet(s"$work/emb_x$m")
      }
      val n = base.count()
      spark.stop()
      n
    }

    val pipelines: Seq[(String, DataFrame => DataFrame)] = Seq(
      "q23_minhash_pairs" -> { docs =>
        graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      },
      "q70_dedup_clusters" -> { docs =>
        val pairs = graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text",
          threshold = 0.5)
        graft.operators.Dedup.components(pairs)
          .groupBy(col("label")).agg(count(lit(1)).as("n"))
      },
      "q93_line_dedup" -> { docs =>
        graft.operators.LineDedup.dedupLines(docs, "doc_id", "text", lineTokens = 10)
      },
      "q96_bloom_decontaminate" -> { docs =>
        graft.operators.TextAnalysis.bloomNgramOverlap(
          docs.filter(col("doc_id") % 40 =!= 0),
          docs.filter(col("doc_id") % 40 === 0),
          "doc_id", "text", k = 4)
      },
      "q105_incremental_dedup" -> { docs =>
        graft.operators.Dedup.incrementalNearDups(
          docs.filter(col("doc_id") % 4 =!= 0),
          docs.filter(col("doc_id") % 4 === 0),
          "doc_id", "text", threshold = 0.5)
      },
      "q107_repeated_ngrams" -> { docs =>
        graft.operators.TextAnalysis.repeatedNgramCensus(docs, "doc_id", "text",
          k = 8, topN = 50)
      },
      "q109_source_overlap" -> { docs =>
        graft.operators.TextAnalysis.crossSourceNgramOverlap(docs, "source", "text",
          k = 5)
      },
      // round 7: the corpus-LM gate (the suite's heaviest per-token join
      // chain) and the DSIR weight scan (bounded bucket tables broadcast)
      "q118_perplexity_gate" -> { docs =>
        graft.operators.TextAnalysis.ngramLmCrossEntropy(docs, docs,
          "doc_id", "text")
      },
      // the synthesized corpus carries no lang column; a 1-in-5 id slice
      // is an equivalent target for the scaling shape (the bucket tables
      // stay 1024 rows whatever the predicate selects)
      "q119_dsir_weights" -> { docs =>
        graft.operators.TextAnalysis.dsirWeights(docs, "doc_id", "text",
          col("doc_id") % 5 === 0)
      },
      // round 8: exact-substring kill spans — the q107-class window shuffle
      // plus a per-doc interval merge; the per-copy alphabet permutation
      // keeps cross-copy 8-token windows collision-free, so duplicate
      // density stays constant as the corpus grows
      "q126_substring_dedup" -> { docs =>
        graft.operators.SubstringDedup.killSpans(docs, "doc_id", "text", k = 8)
      },
      // round 8: per-character explode with a charset²-bounded aggregate —
      // wall should track the scan, not the key space
      "q129_bpe_pair_census" -> { docs =>
        graft.operators.TextAnalysis.bpePairCensus(docs, "text", topN = 30)
      },
      // round 8: vocabulary-bounded count shuffles + broadcast totals
      "q131_pmi_collocations" -> { docs =>
        graft.operators.TextAnalysis.pmiCollocations(docs, "text")
      },
      // round 8: ngram-keyed min-aggregate + same-key join-back — the
      // novelty share must stay flat as copies multiply, not the runtime
      "q132_novelty_census" -> { docs =>
        graft.operators.TextAnalysis.noveltyCensus(docs, "doc_id", "text",
          "source", k = 8)
      },
      // round 8b: containment census — rare-shingle blocking must keep the
      // candidate set linear in the corpus: each synthesized copy's
      // shingles are alphabet-permuted, so blocking shingles stay rare
      // within a copy and never collide across copies
      "q163_containment" -> { docs =>
        graft.operators.Dedup.containmentPairs(docs, "doc_id", "text",
          k = 3, maxDf = 20, minContainment = 0.8)
      },
      // round 10: the state-bounded census — the capped inverted lists
      // must flatten q163's 1.49 wall exponent toward linear, because the
      // pair stream is <= #shingles * C(cap,2) regardless of duplication
      // density
      "q186_containment_capped" -> { docs =>
        graft.operators.Dedup.containmentPairsCapped(docs, "doc_id", "text",
          k = 3, listCap = 64, maxDf = 20, minContainment = 0.8)
      },
      // round 10: the rare-only regime — df<=20 both sides, so the
      // boilerplate band vanishes from the stream entirely; expected to
      // track the corpus scan
      "q187_containment_rare" -> { docs =>
        graft.operators.Dedup.containmentPairsRare(docs, "doc_id", "text",
          k = 3, maxDf = 20, minContainment = 0.8)
      })

    // round 10 (verdict item 5): the ITERATIVE graph family — their
    // O(log d)/fixed-iteration claims were asserted only at fixture scale.
    // Each iteration is one edge join + one node-keyed aggregate over
    // state that is one row per node, so the family should track the
    // corpus like the other linear pipelines. q113/q178 run over the
    // synthesized embedding corpus (banded-LSH KNN graph is the edge
    // source), q164 over the document corpus (MinHash pair graph).
    //
    // Round-10 advice: the first graph recording (0.26-0.29 exponents)
    // was a cap-truncation artifact — id-ordered bucket retention let the
    // first copy monopolize every saturated bucket, so the edge set
    // barely grew with the corpus. Two fixes: knnGraph's cap retention is
    // now salt-hash-ordered (copies compete fairly), and the curve SCALES
    // THE LSH GEOMETRY with the corpus — bandBits grows by ~log2(m) so
    // expected bucket occupancy stays constant, which is how the operator
    // is meant to be deployed as the corpus grows (more buckets, same
    // cap), exactly as a cluster holds per-executor volume by adding
    // executors. A fixed geometry saturates at cap·buckets retained
    // occurrences and the measurement would report the saturation plateau
    // (flat, ~constant work), not the operator's scaling law.
    def knnBits(m: Int): Int =
      math.min(16, 8 + (math.log(m.toDouble) / math.log(2)).round.toInt)
    val graphPipelines: Seq[(String, String, (DataFrame, Int) => DataFrame)] = Seq(
      ("q113_knn_pagerank", "emb", { (emb: DataFrame, m: Int) =>
        val edges = graft.operators.Similarity.knnGraph(emb, k = 5,
            bandBits = knnBits(m))
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        graft.operators.Graph.pageRank(
          emb.select(col("vec_id").as("id")), edges, iters = 3)
      }),
      ("q178_knn_communities", "emb", { (emb: DataFrame, m: Int) =>
        val edges = graft.operators.Similarity.knnGraph(emb, k = 5,
            bandBits = knnBits(m))
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        graft.operators.Graph.labelPropagation(
          emb.select(col("vec_id").as("id")), edges, iters = 3)
      }),
      ("q164_dup_triangles", "docs", { (docs: DataFrame, _: Int) =>
        val pairs = graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text",
          threshold = 0.3)
        graft.operators.Graph.triangleCensus(pairs)
      }))

    val allPipelines: Seq[(String, String, (DataFrame, Int) => DataFrame)] =
      pipelines.map { case (n, f) =>
        (n, "docs", { (d: DataFrame, _: Int) => f(d) })
      } ++ graphPipelines

    // Local-iteration knobs (the canonical recording uses neither):
    // SPARK_GRAFT_CURVE_ONLY=q107,q126 runs a pipeline subset;
    // SPARK_GRAFT_CURVE_PARTS=scaled multiplies shuffle partitions by the
    // corpus multiple — holding PER-PARTITION volume constant the way a
    // cluster holds per-executor volume constant by adding executors,
    // which isolates the single-host memory wall from true algorithmic
    // superlinearity in the fixed-partition recording.
    val only = sys.env.get("SPARK_GRAFT_CURVE_ONLY").map(_.split(',').toSeq)
    val scaledParts = sys.env.get("SPARK_GRAFT_CURVE_PARTS").contains("scaled")

    case class Sample(pipeline: String, m: Int, secs: Double, cpuSecs: Double,
                      calib: Double, calibPar: Double, outRows: Long)
    val samples = for {
      (name, tbl, p) <- allPipelines
      if only.forall(_.exists(name.startsWith))
      m <- scales
    } yield {
      // fresh context per measurement: no cross-measurement plan-cache
      // hits, no accumulated session state (see Scaladoc)
      val spark = session(if (scaledParts) 32 * m else 32)
      val cpu = new CpuMeter
      spark.sparkContext.addSparkListener(cpu)
      val docs = spark.read.parquet(s"$work/${tbl}_x$m")
      // warmup doubles as the WORK metric: output cardinality is
      // throttle-immune, so a super-linear candidate blowup shows in the
      // row counts even when wall-clock is hostage to the host
      val outRows = p(docs, m).count()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      val runs = (1 to 2).map { _ =>
        // serial AND parallel probes: round 10 recorded a full-curve
        // session whose q107/q126 samples ran 3-4x inflated with CLEAN
        // serial probes — the contention was core-stealing (another
        // multi-core process), which only a parallel probe can see
        // (same lesson as Bench's calib_par, round 9)
        val c = calibSecs()
        val cp = Measure.calibParallelSecs()
        cpu.reset()
        val t0 = System.nanoTime()
        drain(p(docs, m))
        val s = (System.nanoTime() - t0) / 1e9
        val cs = cpu.quiesce()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        (s, cs, c, cp)
      }
      spark.stop()
      // wall and CPU each take their own min: under a mid-run throttle the
      // two runs' CPU agree while wall diverges, and the faster of each is
      // the honest sample
      val (s, _, c, cp) = runs.minBy(_._1)
      Sample(name, m, s, runs.map(_._2).min, c, cp, outRows)
    }

    val calibMed = samples.map(_.calib).sorted.apply(samples.size / 2)
    val calibParMed = samples.map(_.calibPar).sorted.apply(samples.size / 2)
    val rows = allPipelines
      .filter { case (name, _, _) => only.forall(_.exists(name.startsWith)) }
      .map { case (name, _, _) =>
      val byScale = samples.filter(_.pipeline == name).map(s => s.m -> s).toMap
      // exponent over the top decade (the two largest scales present —
      // x10 -> x100 in the canonical recording): overheads amortized away
      val Seq(mid, top) = scales.takeRight(2)
      val logRatio = math.log(top.toDouble / mid)
      val expTop = math.log(byScale(top).secs / byScale(mid).secs) / logRatio
      val expCpu =
        math.log(byScale(top).cpuSecs / byScale(mid).cpuSecs) / logRatio
      // a sample is suspect when EITHER probe degraded: serial catches
      // CPU-frequency throttling, parallel catches core-stealing
      val flagged = byScale.values.filter(s =>
          (calibMed > 0 && s.calib > 3 * calibMed) ||
          (calibParMed > 0 && s.calibPar > 3 * calibParMed))
        .map(_.m).toSeq.sorted
      (name, byScale, expTop, expCpu, flagged)
    }

    val json = "{" + rows.map { case (name, byScale, expTop, expCpu, flagged) =>
      val secsJson = scales.map(m => s""""x$m":${fmt(byScale(m).secs)}""").mkString(",")
      val cpuJson = scales.map(m => s""""x$m":${fmt(byScale(m).cpuSecs)}""").mkString(",")
      val calJson = scales.map(m => s""""x$m":${fmt(byScale(m).calib)}""").mkString(",")
      val calParJson =
        scales.map(m => s""""x$m":${fmt(byScale(m).calibPar)}""").mkString(",")
      val rowsJson = scales.map(m => s""""x$m":${byScale(m).outRows}""").mkString(",")
      val Seq(mid, top) = scales.takeRight(2)
      s""""$name":{"secs":{$secsJson},"exponent_${mid}x_to_${top}x":${fmt(expTop)},""" +
        s""""cpu_secs":{$cpuJson},"exponent_cpu_${mid}x_to_${top}x":${fmt(expCpu)},""" +
        s""""out_rows":{$rowsJson},""" +
        s""""calib":{$calJson},"calib_par":{$calParJson},""" +
        s""""throttled_scales":[${flagged.mkString(",")}]}"""
    }.mkString(",") + s""","calib_median":${fmt(calibMed)},""" +
      s""""calib_par_median":${fmt(calibParMed)},"base_rows":$baseRows}"""
    println(json)
    outJson.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
  }
}
