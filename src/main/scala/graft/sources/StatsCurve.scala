package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Measure

/** Scale curve for the DISTRIBUTED stats-planning path (round-16 verdict
  * item 5): past `snapshotMaxBytes` the stats-answering rules run their
  * classify+fold planning as Spark jobs over the manifest — this tool
  * measures that planning cost's growth on synthetic manifests of
  * 10^4 / 10^5 / 10^6 rows (1×/10×/100×), all far past the 8 MiB snapshot
  * cap at the top scales, reporting wall seconds AND the rows the driver
  * actually holds afterwards (the round-15 item-1 regression guard: the
  * old path held one FStat per file; the fold must hold one summary plus
  * capped lists, whatever the catalog size).
  *
  * The four measured shapes are the roster's metadata-rule families, and
  * the classification/fold code is the PRODUCTION code, not a model:
  * conjuncts compile through [[Coverage.compile]] (the classifier every
  * manifest rule shares), files classify through [[Coverage.and]], and
  * the folds run through the
  * stats core's distributed executor ([[ManifestStats.distributed]]) —
  * the agg rule's `StatsSummary`/`GroupedSummary` folds and the top-k
  * rule's [[TopKSweep]], as they run at planning time:
  *  - q198 shape: unfiltered global fold (every file covered);
  *  - q201 shape: a range straddling two file boundaries (hybrid —
  *    covered fold + a 2-entry partial list);
  *  - q202 shape: GROUP BY a single-valued-per-file key (per-group fold,
  *    group map file-bounded under the driver cap);
  *  - q203 shape: filtered top-k guarantees (per-partition top-n, driver
  *    merge of ≤ n) plus the capped keep fold.
  * The completeness except-probe is measured once per scale as its own
  * row (its input — the relation's file listing — is synthesized as the
  * manifest's own path set).
  *
  * Each (shape, scale) runs one untimed warm pass then two timed passes
  * reporting the MIN, with [[Measure]]'s serial + parallel calibration
  * probes; the memo is cleared around every pass so no pass serves
  * another's cached fold. Synthetic manifests carry REAL per-file stats
  * (typed zone maps, zero null counts, exact per-file sums), so the folds
  * do full work per row.
  *
  * Usage: `runMain graft.sources.StatsCurve [outJson]`;
  * `SPARK_GRAFT_STATSCURVE_SCALES=10000,100000` subsets the scales.
  */
object StatsCurve {

  private def session(): SparkSession = graft.GraftSession()

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption
    val scales = sys.env.get("SPARK_GRAFT_STATSCURVE_SCALES")
      .map(_.split(',').map(_.trim.toInt).toSeq.sorted)
      .getOrElse(Seq(10000, 100000, 1000000))
    require(scales.size >= 2, "need at least two scales for an exponent")
    val work = java.nio.file.Files.createTempDirectory("graft_statscurve").toString

    // rows-per-file 100, key k range [id*100, id*100+99], group key g =
    // id/100 (100 files per group), exact per-file sums of k
    def synthManifest(spark: SparkSession, n: Int, mp: String): Unit = {
      val df = spark.range(n.toLong).select(
        concat(lit("file:///synthetic/"),
          lpad(col("id").cast("string"), 9, "0"), lit(".parquet")).as("path"),
        lit("t").as("table"),
        lit(100L).as("rows"),
        lit(1000000L).as("bytes"),
        struct((col("id") * 100).as("k"),
          expr("id div 100").as("g")).as("mins"),
        struct((col("id") * 100 + 99).as("k"),
          expr("id div 100").as("g")).as("maxs"),
        struct(lit(0L).as("k"), lit(0L).as("g")).as("nulls"),
        struct((col("id") * 10000 + 4950).as("k"),
          expr("(id div 100) * 100").as("g")).as(Manifest.SumsColumn))
      Manifest.write(df, mp)
    }

    case class Shape(name: String, run: (SparkSession, String, Int) => Long)

    val kAttr = AttributeReference("k", LongType)()
    val relOut = AttributeSet(Seq(kAttr))
    def classifiers(keyFields: Map[String, String],
                    conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : FStat => Cover =
      Coverage.and(conjuncts.map(Coverage.compile(_, relOut, keyFields).filter(_.provesAll)
        .getOrElse(sys.error("conjunct must compile")).cover))

    def folded[A](o: Option[A]): A =
      o.getOrElse(sys.error("the catalog moved during a measured fold"))
    val shapes = Seq(
      // q198: unfiltered global COUNT/MIN/MAX/SUM fold
      Shape("q198_global_fold", { (spark, mp, _) =>
        val src = ManifestStats.distributed(spark, mp, "t")
        val cap = src.cap
        folded(src.fold("q198")(StatsSummary())(
          (s, st) => s.add(st, CoverAll, Seq("k"), cap), _.merge(_, cap)))
          .partialFiles.size.toLong
      }),
      // q201: a range straddling two file boundaries — classify + fold
      Shape("q201_hybrid_fold", { (spark, mp, n) =>
        val src = ManifestStats.distributed(spark, mp, "t")
        val cap = src.cap
        val lo = n.toLong / 4 * 100 + 50
        val hi = n.toLong * 3 / 4 * 100 + 50
        val coverOf = classifiers(src.keyFields, Seq(
          GreaterThanOrEqual(kAttr, Literal(lo)), LessThanOrEqual(kAttr, Literal(hi))))
        folded(src.fold("q201")(StatsSummary())(
          (s, st) => s.add(st, coverOf(st), Seq("k"), cap), _.merge(_, cap)))
          .partialFiles.size.toLong
      }),
      // q202: GROUP BY the single-valued g key — per-group fold
      Shape("q202_grouped_fold", { (spark, mp, _) =>
        val src = ManifestStats.distributed(spark, mp, "t")
        val cap = src.cap
        val summary = folded(src.fold("q202")(GroupedSummary())(
          (s, st) => s.add(st, CoverAll, Seq("g"), Seq("k"), cap), _.merge(_, cap)))
        (summary.groups.size + summary.scanFiles.size).toLong
      }),
      // q203: filtered top-k — the top-k rule's own sweep: guarantee top-n
      // (per-partition heaps, driver merge of ≤ n) plus the capped keep fold
      Shape("q203_topk_sweep", { (spark, mp, n) =>
        val src = ManifestStats.distributed(spark, mp, "t")
        val lo = n.toLong / 2 * 100 + 50
        val coverOf = classifiers(src.keyFields,
          Seq(GreaterThanOrEqual(kAttr, Literal(lo))))
        val topN = 100
        // a declined sweep (guarantees short of n — only reachable under
        // tiny override scales) holds just the guarantees
        topN + TopKSweep("k", desc = true, nullsFirst = false)
          .survivors(src, coverOf, topN, "q203")
          .fold(0L)(_.size.toLong)
      }),
      // the completeness except-probe over the relation's own listing
      Shape("completeness_probe", { (spark, mp, n) =>
        val relFiles = Array.tabulate(n)(i =>
          f"file:///synthetic/$i%09d.parquet")
        if (ManifestStats.complete(spark, mp, "t", relFiles)) 1L else 0L
      }))

    case class Sample(shape: String, n: Int, secs: Double, held: Long,
                      calib: Double, calibPar: Double)
    val samples = for {
      n <- scales
      sh <- shapes
    } yield {
      val spark = session()
      val mp = s"$work/m_$n"
      if (!new java.io.File(mp).exists()) synthManifest(spark, n, mp)
      // the snapshot cap must be BELOW the smallest manifest so every
      // scale runs the distributed path under measurement
      spark.conf.set(ManifestSnapshot.MaxBytesConf, "1")
      ManifestStats.memoClear()
      sh.run(spark, mp, n) // warm (codegen + page cache), untimed
      val runs = (1 to 2).map { _ =>
        val c = Measure.calibSecs()
        val cp = Measure.calibParallelSecs()
        ManifestStats.memoClear()
        val t0 = System.nanoTime()
        val held = sh.run(spark, mp, n)
        ((System.nanoTime() - t0) / 1e9, held, c, cp)
      }
      spark.stop()
      val best = runs.minBy(_._1)
      Sample(sh.name, n, best._1, best._2, best._3, best._4)
    }

    val calibMed = samples.map(_.calib).sorted.apply(samples.size / 2)
    val calibParMed = samples.map(_.calibPar).sorted.apply(samples.size / 2)
    val Seq(mid, top) = scales.takeRight(2)
    val json = "{" + shapes.map { sh =>
      val byScale = samples.filter(_.shape == sh.name).map(s => s.n -> s).toMap
      val exp = math.log(byScale(top).secs / byScale(mid).secs) /
        math.log(top.toDouble / mid)
      val secsJson = scales.map(n => s""""x$n":${Measure.fmt(byScale(n).secs)}""").mkString(",")
      val heldJson = scales.map(n => s""""x$n":${byScale(n).held}""").mkString(",")
      s""""${sh.name}":{"secs":{$secsJson},"driver_held_rows":{$heldJson},""" +
        s""""exponent_${mid}_to_$top":${Measure.fmt(exp)}}"""
    }.mkString(",") +
      s""","calib_median":${Measure.fmt(calibMed)}""" +
      s""","calib_par_median":${Measure.fmt(calibParMed)}""" +
      s""","scales":[${scales.mkString(",")}]}"""
    println(json)
    outJson.foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
  }
}
