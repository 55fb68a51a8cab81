package graft.transfer

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.StructType

/** Per-table transfer statistics (`data_transfer.py:60-69`). */
final case class TransferStats(
    tableName: String,
    rowsTransferred: Long,
    transferTimeSec: Double,
    rowsPerSecond: Double,
    success: Boolean,
    errorMessage: Option[String] = None)

/** Pluggable table source/sink pair. The reference hard-wires
  * Snowflake→CSV→COPY→PostgreSQL through one driver process
  * (`data_transfer.py:210-520`); here both ends are Spark connectors, so
  * executors move the data and the driver only plans.
  */
trait TableSource { def read(spark: SparkSession, table: String): DataFrame }
trait TableSink {
  def write(df: DataFrame, table: String): Unit

  /** Append one committed chunk of a chunked transfer (`firstChunk` marks a
    * fresh start — overwrite-capable sinks clear leftovers from a dead
    * uncheckpointed run there). Default: plain write (append-mode sinks
    * like JDBC need no distinction). A sink that commits each partition of
    * `df` on its own throws [[PartialWrite]] when only some of them
    * landed. */
  def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit =
    write(df, table)

  /** Called once after the LAST chunk of a chunked transfer lands —
    * per-table epilogue work (catalog maintenance) belongs here, not in
    * [[writeChunk]] (round-12 advice: a per-chunk manifest update re-diffed
    * the whole table directory O(chunks) times and fragmented the manifest
    * into one tiny parquet file per chunk). A transfer killed mid-chunks
    * resumes, finishes the remaining chunks and runs this once — the diff
    * then catches up every chunk in one pass. Default: nothing. */
  def finish(spark: SparkSession, table: String): Unit = ()

  /** Count the rows just written, if the sink can do so cheaply — lets the
    * transfer stats avoid a second full source scan (a parquet count is
    * footer metadata; a JDBC count is one aggregate query). */
  def countRows(spark: SparkSession, table: String): Option[Long] = None
}

/** A write that failed after some partitions of its frame committed, each
  * in its own transaction. The `committed` partitions have landed and stay;
  * every other partition left nothing behind. The indexes are into the
  * partitions of the frame the caller passed in, so a sink that
  * repartitions before writing may not pass an inner sink's indexes on. */
final class PartialWrite(val committed: Set[Int], cause: Throwable)
  extends RuntimeException(cause.getMessage, cause)

final class ParquetSource(dir: String) extends TableSource {
  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")
}

/** `partitionColumns` writes a Hive-style directory layout
  * (`col=value/…`) — the 100 TB target layout: date-partitioned tables get
  * directory-level partition pruning on every downstream date-range scan
  * (pinned by PartitionPruningSpec for the read side). `compression`
  * picks the parquet codec (`snappy` default; `zstd` trades ~30% size for
  * CPU — at 100 TB the storage/scan-bandwidth win usually dominates).
  *
  * `manifestKeys` (round-11 verdict item 2) keeps a
  * [[graft.sources.Manifest]] file catalog current AT WRITE TIME — the only
  * moment the stats are free: after each plain write, and after the last
  * chunk of a chunked one, the sink runs [[graft.sources.Manifest.commitDir]]
  * on the table directory against `dir/_manifest/table` — a constant
  * handful of Spark jobs (four for a flat table directory, whatever its
  * file count) that footer-scans only the files this write produced and
  * folds their key sums from the same open (zero full-table scans), so a
  * growing corpus never pays the full-rescan bootstrap. Overwrite rewrites
  * drop the stale rows the same pass. [[countRows]] then answers with the
  * row total that update committed for the table, without listing or
  * counting the directory again. Keys must live in the data files, so
  * they may not be Hive partition columns (those live in directory names,
  * not footers — and directory pruning already covers them). */
final class ParquetSink(dir: String, mode: SaveMode = SaveMode.Overwrite,
                        partitionColumns: Seq[String] = Nil,
                        compression: Option[String] = None,
                        manifestKeys: Option[Seq[String]] = None) extends TableSink {
  manifestKeys.foreach(ks => require(!ks.exists(partitionColumns.contains),
    s"manifest keys ${ks.mkString(",")} may not be Hive partition columns " +
      "(partition values live in directory names, not parquet footers)"))

  /** Row total per table from its latest manifest commit, taken once by
    * [[countRows]]; tables may transfer on parallel workers. */
  private val committedRows =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def manifestPath(table: String) = s"$dir/_manifest/$table"

  // NOT fanned before the encode (round-18 A/B, same window, lineitem
  // single split): parquet encode is light enough that the round-robin
  // exchange + 32-shard commit cost MORE than the serial write saved
  // (373,973 -> 337,941 rows/s); the CSV sink, whose per-row formatting
  // dominates, fans instead (see CsvBulkSink.writeLines).
  private def writer(df: DataFrame, m: SaveMode) = {
    val w0 = df.write.mode(m)
    val w = compression.fold(w0)(c => w0.option("compression", c))
    if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*) else w
  }

  /** Incremental manifest maintenance after a committed write. */
  private def updateManifest(spark: SparkSession, table: String): Unit =
    manifestKeys.foreach { ks =>
      committedRows.remove(table)
      graft.sources.Manifest.commitDir(spark, s"$dir/$table.parquet", table, ks,
        manifestPath(table)).tableRows.foreach(n => committedRows.put(table, n))
    }

  /** Drop the table's catalog BEFORE an overwrite deletes its files
    * (round-13 review): an Overwrite removes every old part file up
    * front, and until the post-write update lands the old manifest
    * points at vanished paths — a prunable query planned in that window
    * would fail or silently miss rows. No catalog beats a wrong catalog:
    * readers (Tables.load probe, ManifestPruneRule) degrade to the
    * unpruned-but-current scan, which is lossless, and the end-of-write
    * update rebuilds from footers. The drop is a committed, version-
    * stamped catalog mutation ([[graft.sources.Manifest.clear]]), so a
    * concurrent update's claim sees it and re-diffs. */
  private def clearManifest(spark: SparkSession, table: String): Unit =
    manifestKeys.foreach(_ => graft.sources.Manifest.clear(spark, manifestPath(table)))

  def write(df: DataFrame, table: String): Unit = {
    if (mode == SaveMode.Overwrite) clearManifest(df.sparkSession, table)
    writer(df, mode).parquet(s"$dir/$table.parquet")
    updateManifest(df.sparkSession, table)
  }

  override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit = {
    if (firstChunk) clearManifest(df.sparkSession, table)
    writer(df, if (firstChunk) SaveMode.Overwrite else SaveMode.Append)
      .parquet(s"$dir/$table.parquet")
  }

  /** One manifest diff per chunked transfer, after the last chunk — not
    * per chunk (round-12 advice: O(chunks) full directory diffs and a
    * fragmented manifest for a catalog that only needs to be current once
    * the table write completes). */
  override def finish(spark: SparkSession, table: String): Unit =
    updateManifest(spark, table)

  /** The row total the manifest update just committed for `table` (the
    * catalog's rows for every file in the directory); without a manifest,
    * or when a cataloged row count is unknown, a parquet count. */
  override def countRows(spark: SparkSession, table: String): Option[Long] =
    Option(committedRows.remove(table)).map(_.longValue)
      .orElse(Some(spark.read.parquet(s"$dir/$table.parquet").count()))
}

/** ORC endpoints — Spark's other built-in columnar format (the lake
  * standard in Hive/Trino shops). Same layout contract as [[ParquetSink]]:
  * `dir/table.orc`, Hive-style partition directories, per-codec option
  * (zlib/snappy/zstd), footer-metadata row counts. */
final class OrcSource(dir: String) extends TableSource {
  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.orc(s"$dir/$table.orc")
}

final class OrcSink(dir: String, mode: SaveMode = SaveMode.Overwrite,
                    partitionColumns: Seq[String] = Nil,
                    compression: Option[String] = None) extends TableSink {
  private def writer(df: DataFrame, m: SaveMode) = {
    val w0 = df.write.mode(m)
    val w = compression.fold(w0)(c => w0.option("compression", c))
    if (partitionColumns.nonEmpty) w.partitionBy(partitionColumns: _*) else w
  }

  def write(df: DataFrame, table: String): Unit =
    writer(df, mode).orc(s"$dir/$table.orc")

  override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit =
    writer(df, if (firstChunk) SaveMode.Overwrite else SaveMode.Append)
      .orc(s"$dir/$table.orc")

  override def countRows(spark: SparkSession, table: String): Option[Long] =
    Some(spark.read.orc(s"$dir/$table.orc").count())
}

/** JSONL endpoints — the training-data interchange format (datasets ship
  * as newline-delimited JSON shards). The sink writes `dir/table.jsonl`
  * shard directories (optionally gzip'd — text JSON compresses ~10×); the
  * source reads them back with schema inference upgraded to parse
  * timestamps. Fidelity caveat vs columnar formats: JSON has no
  * int32/int64 or float/double distinction and no binary type — lossless
  * for the long/double/string/bool/date/timestamp core, which the
  * round-trip spec pins. */
final class JsonLinesSource(dir: String) extends TableSource {
  def read(spark: SparkSession, table: String): DataFrame =
    spark.read
      .option("inferTimestamp", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(s"$dir/$table.jsonl")
}

final class JsonLinesSink(dir: String, mode: SaveMode = SaveMode.Overwrite,
                          gzip: Boolean = false) extends TableSink {
  private def writer(df: DataFrame, m: SaveMode) = {
    val w = df.write.mode(m)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
    if (gzip) w.option("compression", "gzip") else w
  }

  def write(df: DataFrame, table: String): Unit =
    writer(df, mode).json(s"$dir/$table.jsonl")

  override def writeChunk(df: DataFrame, table: String, firstChunk: Boolean): Unit =
    writer(df, if (firstChunk) SaveMode.Overwrite else SaveMode.Append)
      .json(s"$dir/$table.jsonl")

  override def countRows(spark: SparkSession, table: String): Option[Long] =
    Some(spark.read.json(s"$dir/$table.jsonl").count())
}

/** JDBC endpoints — the production path. Partitioned reads give the
  * intra-table parallelism the reference lacks (SURVEY §4); `batchsize` is
  * the analogue of `--batch-size` and `fetchsize` of the fetchmany loop
  * (data_transfer.py:294-301). Round-tripped against embedded Derby in
  * JdbcTransferSpec (the only JDBC engine in this offline image). */
final class JdbcSource(
    url: String,
    options: Map[String, String] = Map.empty,
    partitionColumn: Option[String] = None,
    bounds: Option[(Long, Long)] = None,
    numPartitions: Int = 32) extends TableSource {
  def read(spark: SparkSession, table: String): DataFrame = {
    var r = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("fetchsize", "10000")
      .options(options)
    for (pc <- partitionColumn; (lo, hi) <- bounds) {
      r = r.option("partitionColumn", pc)
        .option("lowerBound", lo.toString).option("upperBound", hi.toString)
        .option("numPartitions", numPartitions.toString)
    }
    r.load()
  }
}

// countRows stays None here: the sink appends, so a post-write table count
// would include pre-existing rows — stats fall back to counting the source.
final class JdbcSink(
    url: String,
    options: Map[String, String] = Map.empty,
    batchSize: Int = 10000) extends TableSink {
  def write(df: DataFrame, table: String): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .options(options)
      .mode(SaveMode.Append).save()
}

/** Schema transfer orchestration — re-expresses `DataTransferEngine`
  * (`data_transfer.py:98-208, 536-670`): optional WHERE pushdown, LIMIT,
  * checkpointed skip/resume, table-level parallelism (the `--workers`
  * thread pool), per-table stats, continue-on-error.
  *
  * Each table is one declarative Spark job — filter/limit push into the
  * source scan via Catalyst, executors write directly to the sink, and a
  * failed table is retried whole (idempotent overwrite) rather than resumed
  * at a row offset: offset-resume is order-unstable, which the reference
  * itself concedes (data_transfer.py:33-36).
  *
  * Exception: tables registered in `chunkColumns` transfer in `chunkCount`
  * key-range chunks with per-chunk checkpoint commits — the distributed
  * re-expression of the reference's mid-table resume
  * (checkpoint.py:60-74 + data_transfer.py:300-323). Where the reference
  * checkpoints a *row offset* into an unordered result set (and concedes
  * the instability), the chunk key ranges are value-stable: the checkpoint
  * stores the number of committed chunks, so a rerun after a mid-table
  * crash stages only the un-committed key ranges. The chunk column must be
  * non-null integral (a PK/partition key, same contract as the JDBC
  * partitionColumn) — enforced up front, since a null or fractional key
  * would silently fall outside every chunk's range. A crash between a
  * chunk's commit and its checkpoint write re-appends that one chunk
  * (at-least-once, same window as the reference's commit-then-callback
  * ordering). A sink that commits each partition of a chunk on its own
  * ([[CopyManagerSink]]: one COPY transaction per partition) reports the
  * partitions that landed when the chunk fails part-way ([[PartialWrite]]);
  * the checkpoint records them with the chunk's partition count, and the
  * rerun stages over that count and sends only the other partitions.
  * [[JdbcSink]] also commits per partition but cannot say which landed, so
  * a chunk it fails part-way re-appends the partitions that had committed.
  *
  * The source of a chunked table is read once per run, not once per chunk:
  * [[StagedChunks]] scans the pending key range and shuffles it by chunk,
  * and each chunk the sink gets is a frame over that chunk's own shuffle
  * partitions. A per-chunk range filter over the source would decode the
  * whole source for every chunk whenever its row groups are too few to
  * skip (a one-file table holds one), and would leave each chunk's rows on
  * the one task that read them. The cost is one shuffle of the pending
  * range, held on executor local disk until the last chunk lands: a wide
  * source already clustered by the chunk key, whose row groups each chunk
  * filter could have skipped, now pays that shuffle too.
  */
final class TransferEngine(
    source: TableSource,
    sink: TableSink,
    checkpoint: Option[CheckpointManager] = None,
    where: Option[String] = None,
    limit: Option[Int] = None,
    chunkColumns: Map[String, String] = Map.empty,
    chunkCount: Int = 8) {

  def transferTable(spark: SparkSession, table: String): TransferStats = {
    val t0 = System.nanoTime()
    Try {
      var df = source.read(spark, table)
      where.foreach(w => df = df.filter(expr(w)))
      limit.foreach(n => df = df.limit(n))
      chunkColumns.get(table) match {
        case Some(keyCol) if checkpoint.nonEmpty && limit.isEmpty =>
          transferChunked(spark, df, table, keyCol)
        case _ =>
          // write first, then count the SINK (parquet footers / one JDBC
          // agg): a pre-count would scan the whole source twice per table
          sink.write(df, table)
          sink.countRows(spark, table).getOrElse(df.count())
      }
    } match {
      case Success(rows) =>
        val secs = (System.nanoTime() - t0) / 1e9
        checkpoint.foreach(_.markCompleted(table))
        TransferStats(table, rows, secs, if (secs > 0) rows / secs else 0, success = true)
      case Failure(e) =>
        val secs = (System.nanoTime() - t0) / 1e9
        TransferStats(table, 0, secs, 0, success = false, Some(e.getMessage))
    }
  }

  /** Key-range-chunked transfer with per-chunk checkpoint commits; returns
    * rows written. Chunk boundaries derive from the table's full [min,max]
    * key span so they are identical across runs. The checkpoint stores the
    * COUNT of committed chunks (1-based), not a key bound — a key watermark
    * would collide with the checkpoint's "0 = never started" convention
    * for tables whose chunk keys are negative or cross zero.
    *
    * One scan finds the bounds and counts the rows (the key column only);
    * one more reads the pending chunks' rows into a [[StagedChunks]]
    * shuffle. The sink then
    * gets one `writeChunk` per chunk, in key order, each followed by its
    * checkpoint commit. */
  private def transferChunked(spark: SparkSession, df: DataFrame,
                              table: String, keyCol: String): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, when}
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    val cp = checkpoint.get
    // chunks are ranges of the RAW key, so the key type must be
    // integral (a fractional key above the truncated max would fall outside
    // the last chunk) and null keys must be rejected (they match no chunk's
    // range) — either would otherwise drop rows with success=true.
    // DecimalType(p, 0) counts as integral: it is what JDBC sources commonly
    // report for integer PKs (Oracle NUMBER, PG NUMERIC) — scale 0 means no
    // fractional values exist, and the bounds check below verifies the
    // actual value span fits in Long before any chunk arithmetic.
    val keyType = df.schema(df.schema.fieldIndex(keyCol)).dataType
    val integral = keyType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType if d.scale == 0 => true
      case _ => false
    }
    require(integral,
      s"chunk column $keyCol of $table must be integral (or decimal scale 0), " +
        s"got ${keyType.simpleString}")
    // null and row counts ride the same scan as the bounds — no extra pass;
    // bounds computed at decimal(38,0) so a wide-decimal key can't wrap
    // through a long cast before the range check
    val bounds = df.agg(
      min(col(keyCol).cast(DecimalType(38, 0))), max(col(keyCol).cast(DecimalType(38, 0))),
      count(when(col(keyCol).isNull, 1)), count(lit(1))).head()
    require(bounds.getLong(2) == 0L,
      s"chunk column $keyCol of $table has ${bounds.getLong(2)} NULL keys; " +
        "rows with NULL chunk keys would be silently skipped")
    if (bounds.isNullAt(0)) { // empty table: one empty write, no chunks
      sink.write(df, table)
      return 0L
    }
    val (loD, hiD) = (bounds.getDecimal(0), bounds.getDecimal(1))
    val longMin = java.math.BigDecimal.valueOf(Long.MinValue)
    val longMax = java.math.BigDecimal.valueOf(Long.MaxValue)
    require(loD.compareTo(longMin) >= 0 && hiD.compareTo(longMax) <= 0,
      s"chunk column $keyCol of $table spans [$loD, $hiD], outside Long range — " +
        "chunk boundaries cannot be computed")
    val (lo, hi) = (loD.longValueExact(), hiD.longValueExact())
    // chunk arithmetic in BigInt: a key span near the Long extremes
    // (hi - lo + 1, lo + k*width) would otherwise wrap
    val span = BigInt(hi) - BigInt(lo) + 1
    val width = (span + chunkCount - 1) / chunkCount max BigInt(1)
    val totalChunks = ((span + width - 1) / width).toLong
    // a checkpoint recording more chunks than this table can have is stale
    // or from a different chunking config — restart cleanly rather than
    // skipping past the data
    val recorded = math.max(0L, cp.resumeOffset(table))
    val doneChunks = if (recorded > totalChunks) 0L else recorded
    val pending = (totalChunks - doneChunks).toInt
    // partitions of the first pending chunk that landed before it failed;
    // the rerun stages over the same partition count and skips them
    val landed = cp.committedPartitions(table).filter(_ => doneChunks == recorded)
    if (pending > 0) {
      val staged = StagedChunks(df, keyCol,
        (BigInt(lo) + BigInt(doneChunks) * width).toLong, hi, width, pending, landed.map(_._1))
      try (0 until pending).foreach { i =>
        val chunkNo = doneChunks + i
        val skip = landed.filter(_ => i == 0).fold(Set.empty[Int])(_._2)
        val parts = (0 until staged.partitions).filterNot(skip)
        try sink.writeChunk(staged.chunk(i, parts), table, firstChunk = chunkNo == 0 && skip.isEmpty)
        catch {
          case e: PartialWrite =>
            if (e.committed.nonEmpty)
              cp.updatePartitions(table, staged.partitions, skip ++ e.committed.map(parts))
            throw e
        }
        cp.updateProgress(table, chunkNo + 1) // commit progress AFTER the chunk lands
      } finally staged.release()
    }
    sink.finish(spark, table)
    // a sink that cannot count (a resume in a fresh engine) reports the
    // source rows the bounds pass counted, not a second read of the source
    sink.countRows(spark, table).getOrElse(bounds.getLong(3))
  }

  /** Transfer all tables, skipping checkpointed-complete ones; `workers`
    * parallel table jobs via a dedicated pool (FAIR-scheduler friendly). */
  def transferSchema(spark: SparkSession, tables: Seq[String], workers: Int = 1): Seq[TransferStats] = {
    val pending = tables.filterNot(t => checkpoint.exists(_.isCompleted(t)))
    val skipped = tables.diff(pending).map(t =>
      TransferStats(t, 0, 0, 0, success = true, Some("skipped (checkpoint)")))
    val results =
      if (workers <= 1 || pending.sizeIs <= 1) pending.map(transferTable(spark, _))
      else {
        val pool = Executors.newFixedThreadPool(workers)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try {
          val fs = pending.map(t => Future(transferTable(spark, t)))
          Await.result(Future.sequence(fs), Duration.Inf)
        } finally pool.shutdown()
      }
    // results re-ordered to input order like the reference (data_transfer.py:664-670)
    val byName = (skipped ++ results).map(s => s.tableName -> s).toMap
    tables.flatMap(byName.get)
  }
}

/** The pending key range `[base, hi]` of a chunked transfer, read from the
  * source once and staged by chunk in one shuffle. Pending chunk `i` holds
  * the keys in `[base + i·width, base + (i+1)·width)` (the last one runs
  * through `hi`) and owns shuffle partitions `[i·p, (i+1)·p)`, where `p`
  * ([[partitions]]) is the number of partitions Spark plans for the source
  * scan (at least 1), or the count a partly landed chunk was staged over.
  * Inside its chunk a row's partition is its key's hash mod `p`, so rows
  * sharing a key stay together and a rerun over the same `p` puts every
  * row back in the same partition.
  *
  * A row's chunk is found by comparing its raw key with the pending
  * chunks' lower edges, computed exactly on the driver: no division, so
  * no rounding can move a key just below an edge into the next chunk,
  * past a checkpoint that a resume trusts.
  *
  * Building the staged plan's RDD runs the shuffle's map stage (Spark's
  * adaptive execution materializes it there); every [[chunk]] job after it
  * reads that map output, so the source is read once per run whatever its
  * row-group layout. The staged copy occupies executor local disk until
  * [[release]]. */
private[transfer] final class StagedChunks private (
    spark: SparkSession,
    rows: RDD[InternalRow],
    schema: StructType,
    val partitions: Int,
    chunkBytes: BigInt) {

  /** Pending chunk `i` as a frame over the staged partitions `parts` of
    * that chunk (each in `[0, partitions)`, ascending). Its size estimate is
    * the source's, split evenly over the pending chunks, so a size-gated
    * sink (`CsvBulkSink`'s fan-out) sees a chunk, not Spark's unknown-size
    * default. */
  def chunk(i: Int, parts: Seq[Int]): DataFrame = {
    val (q, keep) = (partitions, parts.toSet) // locals, so the filter never closes over this staging
    PlanBridge.ofRdd(spark,
      PartitionPruningRDD.create(rows, s => s / q == i && keep(s % q)), schema, chunkBytes)
  }

  /** Drop the staged shuffle output once the chunks have landed (or failed). */
  def release(): Unit = PlanBridge.releaseShuffles(rows)
}

private[transfer] object StagedChunks {
  private val ChunkPartition = "__graft_chunk_partition"

  def apply(df: DataFrame, keyCol: String, base: Long, hi: Long, width: BigInt,
            pending: Int, partitions: Option[Int]): StagedChunks = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod, when}
    val key = col(keyCol)
    val src = df.filter(key >= base && key <= hi)
    val p = partitions.getOrElse(math.max(1, src.queryExecution.toRdd.getNumPartitions))
    require(pending.toLong * p <= Int.MaxValue,
      s"$pending chunks x $p partitions exceed the shuffle's partition range")
    // pending chunk i's lower edge; each lies in [base, hi], so in Long range
    def edge(i: Int) = (BigInt(base) + width * i).toLong
    val index =
      if (pending == 1) lit(0)
      else (2 until pending).foldLeft(when(key < edge(1), 0))((c, i) => c.when(key < edge(i), i - 1))
        .otherwise(pending - 1)
    val staged = src.withColumn(ChunkPartition, index * p + pmod(hash(key), lit(p)))
      .repartitionById(pending * p, col(ChunkPartition)).drop(ChunkPartition)
    val rows = staged.queryExecution.toRdd
    require(rows.getNumPartitions == pending * p,
      s"staged ${rows.getNumPartitions} partitions, expected ${pending * p}")
    val bytes = src.queryExecution.optimizedPlan.stats.sizeInBytes / pending
    new StagedChunks(df.sparkSession, rows, staged.schema, p, bytes max 1)
  }
}
