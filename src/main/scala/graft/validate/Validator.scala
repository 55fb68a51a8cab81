package graft.validate

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Result of one validation check — mirrors `CheckResult`
  * (`snowflake_to_postgres/validator.py:18-35`). */
final case class CheckResult(
    name: String,
    passed: Option[Boolean],
    sourceValue: String = "",
    targetValue: String = "",
    message: String = "",
    details: Seq[String] = Nil)

final case class TableValidationResult(
    tableName: String,
    checks: Seq[CheckResult]) {
  def passed: Boolean = checks.forall(_.passed.getOrElse(true))
}

/** The reference's 5-layer validation suite (`validator.py:83-470`),
  * re-expressed as distributed DataFrame computation. Where the reference
  * issues paired SQL to two remote engines and diffs dicts in Python, here
  * both sides are DataFrames in one session, so every comparison is a join:
  * partition diffs become full-outer joins, row-sample lookups become a
  * target scan joined against the broadcast sample (SURVEY §2.3 J2/J3).
  *
  * Scale notes: no monthly chunking (validator.py:515-570) — a single
  * distributed groupBy replaces 1,200 chunked round-trips; no 50-column
  * statement caps (validator.py:59-61) — one wide agg pass computes every
  * column's stats in a single scan.
  */
class Validator(
    source: DataFrame,
    target: DataFrame,
    mismatchCap: Int = 25) {

  import Validator._

  /** The source's row count, counted once: layer 1 reports it and layer 5
    * sizes its sample by it. */
  private lazy val sourceRows: Long = source.count()

  /** Layer 1: exact row count (validator.py:193-215). */
  def checkRowCount(): CheckResult = {
    val s = sourceRows
    val t = target.count()
    CheckResult("row_count", Some(s == t), s.toString, t.toString,
      if (s == t) s"row counts match ($s)" else s"row count mismatch: $s vs $t")
  }

  /** Layer 2: per-date-partition counts via full-outer join diff
    * (validator.py:217-277). */
  def checkPartitionCounts(dateCol: String): CheckResult = {
    val sc = source.groupBy(to_date(col(dateCol)).as("d")).agg(count(lit(1)).as("s_cnt"))
    val tc = target.groupBy(to_date(col(dateCol)).as("d")).agg(count(lit(1)).as("t_cnt"))
    val diff = sc.join(tc, Seq("d"), "full_outer")
      .select(col("d"),
        coalesce(col("s_cnt"), lit(0L)).as("s_cnt"),
        coalesce(col("t_cnt"), lit(0L)).as("t_cnt"))
      .filter(col("s_cnt") =!= col("t_cnt"))
      .orderBy(col("d"))
    val mismatches = diff.limit(mismatchCap + 1).collect()
    val passed = mismatches.isEmpty
    CheckResult("partition_counts", Some(passed),
      message =
        if (passed) s"all per-$dateCol partition counts match"
        else s"${mismatches.length}${if (mismatches.length > mismatchCap) "+" else ""} partitions differ",
      details = mismatches.take(mismatchCap).map(r =>
        s"${r.get(0)}: source=${r.getLong(1)} target=${r.getLong(2)}").toSeq)
  }

  /** Layer 3: NULL counts + MIN/MAX for every column, one scan per side
    * (validator.py:279-324, 633-718 — without the chunking). */
  def checkColumnStats(): Seq[CheckResult] = {
    val cols = source.schema.fields.filter(f => target.schema.fieldNames.contains(f.name))
    val nullExprs = cols.map(f =>
      sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"null_${f.name}"))
    val mmExprs = cols.filter(f => isMinMaxable(f.dataType)).flatMap(f => Seq(
      min(normalized(f)).as(s"min_${f.name}"),
      max(normalized(f)).as(s"max_${f.name}")))
    val exprs = nullExprs ++ mmExprs
    if (exprs.isEmpty) return Seq(CheckResult("column_stats", None, message = "no comparable columns"))
    val sRow = source.agg(exprs.head, exprs.tail: _*).collect()(0)
    val tRow = target.agg(exprs.head, exprs.tail: _*).collect()(0)
    val names = sRow.schema.fieldNames
    val diffs = names.zipWithIndex.collect {
      case (n, i) if !valuesEqual(sRow.get(i), tRow.get(i)) =>
        s"$n: source=${sRow.get(i)} target=${tRow.get(i)}"
    }
    Seq(CheckResult("column_stats", Some(diffs.isEmpty),
      message =
        if (diffs.isEmpty) s"null-counts and min/max match across ${names.length} stats"
        else s"${diffs.length} column stats differ",
      details = diffs.take(mismatchCap).toSeq))
  }

  /** Layer 4: per-date SUM fingerprint over ≤`maxNumericCols` numeric
    * columns (validator.py:326-405; cap mirrors `numeric_cols[:10]`). */
  def checkAggregateFingerprint(dateCol: String, maxNumericCols: Int = 10): CheckResult = {
    val numCols = source.schema.fields
      .filter(f => isNumeric(f.dataType) && target.schema.fieldNames.contains(f.name))
      .take(maxNumericCols)
    if (numCols.isEmpty)
      return CheckResult("aggregate_fingerprint", None, message = "no numeric columns")
    def sums(df: DataFrame, pfx: String) = {
      val aggs = numCols.map(f =>
        sum(col(f.name).cast(DecimalType(38, 6))).as(s"$pfx${f.name}")).toSeq
      df.groupBy(to_date(col(dateCol)).as("d")).agg(aggs.head, aggs.tail: _*)
    }
    val sAgg = sums(source, "s_")
    val tAgg = sums(target, "t_")
    val cmp = numCols.map(f =>
      (col(s"s_${f.name}") =!= col(s"t_${f.name}")) ||
        col(s"s_${f.name}").isNull =!= col(s"t_${f.name}").isNull)
    val diff = sAgg.join(tAgg, Seq("d"), "full_outer")
      .filter(cmp.reduce(_ || _))
      .orderBy(col("d"))
    val mismatches = diff.limit(mismatchCap + 1).collect()
    CheckResult("aggregate_fingerprint", Some(mismatches.isEmpty),
      message =
        if (mismatches.isEmpty) s"per-$dateCol SUM fingerprints match (${numCols.length} cols)"
        else s"${mismatches.length}${if (mismatches.length > mismatchCap) "+" else ""} fingerprint rows differ",
      details = mismatches.take(mismatchCap).map(_.toString).toSeq)
  }

  /** Layer 5: row sampling via PK lookup (validator.py:407-470, 786-802).
    *
    * The ≤`sampleSize`-row sample is the broadcast build side; the full
    * target is only ever scanned — `target ⋈ broadcast(sample)` — so the
    * check stays O(|target| scan + |sample|) at any target size. (The
    * reference pulls each sampled row with a point SELECT; an earlier
    * version here broadcast the whole target, which OOMs the driver at
    * scale.) Missing rows are derived by subtraction from one combined
    * present/mismatch aggregate — a single pass over the join. The sample
    * holds min(`sampleSize`, source rows) rows, so its size comes from
    * the source count layer 1 already took — the sample itself is built
    * once, inside the join.
    */
  def checkRowSample(pkCols: Seq[String], sampleSize: Int = 100): CheckResult = {
    if (pkCols.isEmpty)
      return CheckResult("row_sample", None, message = "no primary key; skipped")
    val dataCols = source.columns.filterNot(pkCols.contains).toSeq
    val sampleCount = math.min(sampleSize.toLong, sourceRows)
    val joined = joinTargetAgainst(buildSample(pkCols, sampleSize), pkCols)
    val fieldNeq: Column = dataCols
      .map(c => !(col(c) <=> col(s"s_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    // DISTINCT sample keys, not join rows: a duplicate PK in the target
    // (exactly what an at-least-once chunked resume can produce) would
    // inflate a plain count and mask a genuinely missing sampled row
    val row = joined.agg(
      countDistinct(pkCols.head, pkCols.tail: _*).as("present"),
      sum(when(fieldNeq, 1L).otherwise(0L)).as("mismatched")).collect()(0)
    val present = row.getLong(0)
    val mismatched = if (row.isNullAt(1)) 0L else row.getLong(1)
    val missing = math.max(0L, sampleCount - present)
    val passed = missing == 0 && mismatched == 0
    CheckResult("row_sample", Some(passed),
      message =
        if (passed) s"all sampled rows present and equal"
        else s"$missing missing rows, $mismatched rows with field mismatches")
  }

  /** ORDER BY pk LIMIT n with data columns renamed `s_*` — deterministic
    * like the reference's sample (validator.py:419-424). */
  private def buildSample(pkCols: Seq[String], sampleSize: Int): DataFrame = {
    val dataCols = source.columns.filterNot(pkCols.contains).toSeq
    val sample = source.orderBy(pkCols.map(col).toSeq: _*).limit(sampleSize)
    dataCols.foldLeft(sample)((df, c) => df.withColumnRenamed(c, s"s_$c"))
  }

  /** Full target (probe) inner-joined against the broadcast sample (build). */
  private def joinTargetAgainst(sample: DataFrame, pkCols: Seq[String]): DataFrame =
    target.join(broadcast(sample), pkCols, "inner")

  /** The layer-5 join, exposed so specs can pin its executed shape. */
  private[validate] def rowSampleJoin(pkCols: Seq[String], sampleSize: Int): DataFrame =
    joinTargetAgainst(buildSample(pkCols, sampleSize), pkCols)

  /** CHECK-constraint layer (SURVEY §1.1: CHECK → validation filter pass;
    * the reference discovers the clauses at discovery.py:276-287 and only
    * re-emits them in DDL — here each clause is actually evaluated against
    * the TARGET data). SQL CHECK semantics: a row violates only when the
    * clause evaluates to FALSE — NULL passes — so the violation predicate
    * is `NOT coalesce(clause, true)`.
    *
    * All translatable clauses ride ONE aggregate scan (a sum(when(...))
    * per clause), not a filter().count() job each — at 100 TB the second
    * clause would otherwise double the cost. Clauses Spark cannot parse or
    * resolve against the target schema degrade to an indeterminate result
    * (passed = None) instead of failing the run: check clauses arrive as
    * free dialect text from the source catalog. */
  def checkConstraintClauses(
      checks: Seq[graft.meta.ConstraintMeta]): Seq[CheckResult] = {
    val named = checks.flatMap(c => c.checkClause.map(cl => (c.name, cl)))
    if (named.isEmpty)
      return Seq(CheckResult("check_constraints", None, message = "no CHECK constraints"))
    def violation(clause: String): Column = !coalesce(expr(clause), lit(true))
    // analyzability probe: plan-only (no job) — resolves the clause against
    // the target schema so one bad clause can't sink the combined agg
    val (ok, bad) = named.partition { case (_, cl) =>
      scala.util.Try(target.filter(violation(cl)).queryExecution.analyzed).isSuccess
    }
    // the analyzability probe can't catch clauses that resolve but error
    // at RUNTIME (e.g. a cast/division error under ANSI mode) — those
    // would sink the combined agg for every clause, so on failure fall
    // back to one agg per clause and degrade only the offender(s) to
    // indeterminate, as promised above
    def countViolations(clauses: Seq[(String, String)]): Map[String, Long] = {
      val aggs = clauses.map { case (n, cl) =>
        sum(when(violation(cl), 1L).otherwise(0L)).as(s"v_$n") }
      val row = target.agg(aggs.head, aggs.tail: _*).collect()(0)
      clauses.zipWithIndex.map { case ((n, _), i) =>
        n -> (if (row.isNullAt(i)) 0L else row.getLong(i)) }.toMap
    }
    val counts: Map[String, Option[Long]] =
      if (ok.isEmpty) Map.empty
      else scala.util.Try(countViolations(ok)) match {
        case scala.util.Success(m) => m.view.mapValues(Some(_): Option[Long]).toMap
        case scala.util.Failure(_) =>
          ok.map { case (n, cl) =>
            n -> scala.util.Try(countViolations(Seq((n, cl)))).toOption.flatMap(_.get(n))
          }.toMap
      }
    ok.map { case (n, cl) =>
      counts(n) match {
        case Some(v) =>
          CheckResult(s"check_$n", Some(v == 0),
            message =
              if (v == 0) s"CHECK ($cl) holds"
              else s"$v rows violate CHECK ($cl)")
        case None =>
          CheckResult(s"check_$n", None,
            message = s"CHECK clause failed to evaluate, skipped: $cl")
      }
    } ++ bad.map { case (n, cl) =>
      CheckResult(s"check_$n", None,
        message = s"untranslatable CHECK clause, skipped: $cl")
    }
  }

  /** All layers with auto-detection (validator.py:83-187 orchestration). */
  def validateTable(tableName: String, pkCols: Seq[String] = Nil,
                    rowSample: Boolean = false,
                    checks: Seq[graft.meta.ConstraintMeta] = Nil): TableValidationResult = {
    val dateCol = Validator.detectDateColumn(source)
    val layers = Seq(checkRowCount()) ++
      dateCol.map(checkPartitionCounts).toSeq ++
      checkColumnStats() ++
      dateCol.map(d => checkAggregateFingerprint(d)).toSeq ++
      (if (rowSample) Seq(checkRowSample(pkCols)) else Nil) ++
      (if (checks.nonEmpty) checkConstraintClauses(checks) else Nil)
    TableValidationResult(tableName, layers)
  }
}

object Validator {

  /** Date-column heuristic (validator.py:808-829): name hints first, then
    * first date/timestamp-typed column. */
  private val nameHints = Seq("date", "day", "period", "month", "week", "year")

  def detectDateColumn(df: DataFrame): Option[String] = {
    val dateTyped = df.schema.fields.filter(f => f.dataType match {
      case DateType | TimestampType | TimestampNTZType => true
      case _ => false
    })
    dateTyped.find(f => nameHints.exists(h => f.name.toLowerCase.contains(h)))
      .orElse(dateTyped.headOption)
      .map(_.name)
  }

  def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  def isMinMaxable(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType | StringType => true
    case _ => false
  }

  /** Value normalization for comparison (validator.py:880-896): decimals to
    * a common scale; everything else native. */
  private def normalized(f: StructField): Column = f.dataType match {
    case _: DecimalType => col(f.name).cast(DecimalType(38, 18))
    case _ => col(f.name)
  }

  private def valuesEqual(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    // the reference compares strings stripped (validator.py:894-896)
    case (x: String, y: String) => x.trim == y.trim
    case (x, y) => x == y
  }
}
