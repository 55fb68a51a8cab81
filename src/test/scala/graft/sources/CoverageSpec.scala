package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** Soundness of the one zone-map coverage compiler ([[Coverage.compile]])
  * that every manifest rule classifies files through. Random small files
  * (NULLs, -0.0, NaN, -Infinity, non-BMP strings, dates, timestamps)
  * land under a real manifest, random conjuncts from the compiler's
  * grammar (monotone wrappers, the comparisons, IN lists past 64 members,
  * InSet, LIKE prefixes, IS [NOT] NULL, OR) classify every file, and
  * Catalyst's own evaluation of each row must agree: [[CoverNone]] means
  * no row passes, [[CoverAll]] means every row does. Both executors — the
  * driver snapshot and the distributed fold (`snapshotMaxBytes=0`) — must
  * classify identically. */
class CoverageSpec extends SparkSpec {

  private val base = java.nio.file.Files.createTempDirectory("graft_coverage").toString
  private val trial = new java.util.concurrent.atomic.AtomicInteger()
  private val k = AttributeReference("k", LongType)()
  private val utc = Some("UTC")

  /** A key type: its value pool, a filler for long IN lists and the
    * monotone wrappers the compiler sees through. */
  private case class KeyType(dt: DataType, pool: Seq[Any], filler: Int => Any,
                             wrappers: Seq[Expression => Expression])

  private def date(s: String) = java.sql.Date.valueOf(s)
  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private val types = Seq(
    KeyType(LongType, Seq(Long.MinValue, 0L, 1L, 7L, Long.MaxValue),
      i => 1000L + i, Seq(Cast(_, DoubleType, utc), Cast(_, DecimalType(20, 1), utc))),
    KeyType(DoubleType, Seq(-0.0, 0.0, 1.5, Double.NaN, Double.NegativeInfinity),
      i => 1000.0 + i, Nil),
    KeyType(StringType, Seq("", "a", "ab", "b", "\uD83D\uDE00", "\uE000", "a\uD7FF", "zz"),
      i => f"m$i%03d", Nil),
    KeyType(DateType, Seq(date("2019-12-31"), date("2020-01-01"), date("2020-06-15"),
      date("2021-03-01")), i => java.sql.Date.valueOf(date("2030-01-01").toLocalDate.plusDays(17L * i)),
      Seq(Year(_), Cast(_, TimestampType, utc), TruncDate(_, Literal("month")))),
    KeyType(TimestampType, Seq(ts("2019-12-31 23:59:59"), ts("2020-01-01 00:00:00"),
      ts("2020-02-29 12:30:00"), ts("2021-03-01 08:00:00")),
      i => java.sql.Timestamp.valueOf(ts("2030-01-01 00:00:00").toLocalDateTime.plusHours(37L * i)),
      Seq(Cast(_, DateType, utc), e => TruncTimestamp(Literal("month"), e, utc),
        e => Year(Cast(e, DateType, utc)))))

  /** `v`'s value as the key expression `view` sees it, as a literal. */
  private def literal(view: Expression, key: AttributeReference, v: Any): Literal = {
    val bound = view.transform { case a: AttributeReference if a == key =>
      Literal.create(v, key.dataType) }
    Literal(bound.eval(InternalRow.empty), view.dataType)
  }

  private def leaf(kt: KeyType, key: AttributeReference): Gen[Expression] = for {
    wrap <- Gen.oneOf(((e: Expression) => e) +: kt.wrappers)
    view = wrap(key)
    lit <- Gen.oneOf(kt.pool).map(literal(view, key, _))
    members <- Gen.oneOf(
      Gen.choose(1, 3).flatMap(Gen.pick(_, kt.pool)).map(_.toSeq),
      Gen.choose(65, 70).map(n => kt.pool.take(1) ++ (0 until n).map(kt.filler)))
    prefix <- Gen.oneOf("a", "b", "ab", "\uD83D\uDE00", "a\uD7FF", "\uE000", "z")
    shape <- Gen.choose(0, if (kt.dt == StringType) 10 else 9)
  } yield shape match {
    case 0 => EqualTo(view, lit)
    case 1 => EqualNullSafe(lit, view)
    case 2 => LessThan(view, lit)
    case 3 => LessThanOrEqual(lit, view)
    case 4 => GreaterThan(view, lit)
    case 5 => GreaterThanOrEqual(view, lit)
    case 6 => IsNull(view)
    case 7 => IsNotNull(view)
    case 8 => In(view, members.map(literal(view, key, _)))
    case 9 => InSet(view, members.map(literal(view, key, _).value).toSet)
    case _ => StartsWith(key, Literal(prefix))
  }

  private def conjunct(kt: KeyType, key: AttributeReference): Gen[Expression] =
    Gen.frequency(
      6 -> leaf(kt, key),
      1 -> Gen.zip(leaf(kt, key), leaf(kt, key)).map { case (a, b) => Or(a, b) },
      1 -> Gen.zip(leaf(kt, key), leaf(kt, key), leaf(kt, key))
        .map { case (a, b, c) => Or(And(a, b), c) })

  private case class Table(kt: KeyType, files: Seq[Seq[Any]], build: Boolean,
                           conjuncts: Seq[Expression])

  private val tables: Gen[Table] = for {
    kt <- Gen.oneOf(types)
    value = Gen.frequency(1 -> Gen.const(null), 5 -> Gen.oneOf(kt.pool))
    files <- Gen.choose(2, 4).flatMap(Gen.listOfN(_, Gen.choose(0, 4).flatMap(Gen.listOfN(_, value))))
    build <- Gen.oneOf(true, false)
    key = k.withDataType(kt.dt)
    conjuncts <- Gen.listOfN(12, conjunct(kt, key))
  } yield Table(kt, files, build, conjuncts)

  private var covered, excluded = 0

  /** Per file (normalized path) the compiled classifications, on the
    * executor `snapshotMaxBytes` selects. */
  private def classify(mp: String, key: AttributeReference, conjuncts: Seq[Expression],
                       maxBytes: String): Map[String, Seq[Option[Cover]]] =
    withConf(ManifestSnapshot.MaxBytesConf, maxBytes) {
      ManifestStats.open(spark, mp, "t") { src =>
        val compiled = conjuncts.map(Coverage.compile(_, AttributeSet(key), src.keyFields))
        src.fold(("coverage-spec", conjuncts))(Vector.empty[(String, Seq[Option[Cover]])])(
          (acc, st) => acc :+ (st.path -> compiled.map(_.map(_.cover(st)))), _ ++ _)
      }.get.map { case (p, cs) => ManifestSql.normPath(p) -> cs }.toMap
    }

  private def sound(t: Table): Boolean = {
    val dir = s"$base/d${trial.incrementAndGet()}"
    val schema = StructType(Seq(StructField("k", t.kt.dt)))
    withConf("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS") {
      t.files.foreach { rows =>
        spark.createDataFrame(java.util.Arrays.asList(rows.map(Row(_)): _*), schema)
          .coalesce(1).write.mode("append").parquet(s"$dir/t.parquet")
      }
    }
    val mp = s"$dir/manifest"
    if (t.build) Manifest.write(Manifest.build(spark, dir, "t", Seq("k")), mp)
    else Manifest.update(spark, dir, "t", Seq("k"), mp)
    val key = k.withDataType(t.kt.dt)
    val rowsOf: Map[String, Seq[Any]] = spark.read.parquet(s"$dir/t.parquet")
      .select(col("_metadata.file_path"), col("k")).collect().toSeq
      .groupBy(r => ManifestSql.normPath(r.getString(0)))
      .map { case (p, rs) => p -> rs.map(_.get(1)) }
    val snapshot = classify(mp, key, t.conjuncts, Long.MaxValue.toString)
    val distributed = classify(mp, key, t.conjuncts, "0")
    assert(snapshot === distributed, "the two executors must classify identically")
    t.conjuncts.zipWithIndex.foreach { case (e, i) =>
      val pred = BindReferences.bindReference(e, Seq(key))
      snapshot.foreach { case (path, covers) =>
        val passed = rowsOf.getOrElse(path, Nil).map(v =>
          pred.eval(InternalRow(CatalystTypeConverters.convertToCatalyst(v))) == true)
        covers(i).foreach { c =>
          val ctx = s"$e over ${rowsOf.getOrElse(path, Nil)} (${t.kt.dt}, build=${t.build})"
          if (c == CoverNone) {
            excluded += 1
            assert(!passed.contains(true), s"CoverNone but a row passes: $ctx")
          }
          if (c == CoverAll) {
            if (passed.nonEmpty) covered += 1
            assert(!passed.contains(false), s"CoverAll but a row fails: $ctx")
          }
        }
      }
    }
    true
  }

  test("CoverNone holds no passing row and CoverAll no failing row, on both executors") {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20),
      Prop.forAll(tables)(sound))
    assert(res.passed, res.status.toString)
    assert(excluded > 0 && covered > 0,
      s"the property never exercised both verdicts: $excluded excluded, $covered covered")
  }

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    super.afterAll()
  }
}
