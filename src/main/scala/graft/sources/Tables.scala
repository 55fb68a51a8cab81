package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed table catalog over a scale-factor directory.
  *
  * Mirrors the discovery surface of the reference
  * (`snowflake_to_postgres/discovery.py:200-248`: table listing + column
  * introspection) against local parquet fixtures, Spark-side. Schemas come
  * from parquet footers — never `inferSchema` over text (SURVEY §1.3).
  *
  * Manifest auto-wiring (round-12 verdict item 2): `migrate
  * --manifest-keys` maintains a [[Manifest]] file catalog at
  * `dir/_manifest/table`, but nothing consumed it on the read side — a
  * translated view over a manifest-maintained table scanned every file
  * unless the user hand-called [[ManifestSql.readTable]]. [[load]] now
  * probes for that catalog and, when present, registers the read as a
  * manifest-backed relation, so `build-views` output and every
  * `spark.sql` over [[registerAll]]'s views file-skips automatically —
  * the same always-current-catalog behavior the reference gets from
  * INFORMATION_SCHEMA. Directories without a manifest (the driver's test
  * fixtures) read exactly as before.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Write-side catalog location for one table ([[graft.transfer.ParquetSink]]
    * and the CLI `manifest` verb share this layout). */
  def manifestPath(dir: String, name: String): String = s"$dir/_manifest/$name"

  private def hasManifest(spark: SparkSession, dir: String, name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(manifestPath(dir, name))
    // a probe failure (bad scheme, perms) means "no catalog", never an error
    scala.util.Try(
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
      .getOrElse(false)
  }

  /** Load one fixture table. `events.ts` is written as parquet
    * TIMESTAMP(NANOS), which Spark's vectorized reader surfaces as a long
    * when `spark.sql.legacy.parquet.nanosAsLong` is set — normalize it back
    * to a microsecond TimestampType column so downstream operators see a
    * timestamp, matching what DuckDB sees.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loadWith(spark, dir, name,
      if (hasManifest(spark, dir, name)) Some(manifestPath(dir, name)) else None)

  /** [[load]] WITHOUT the fixture-specific `ts` long→timestamp rewrite:
    * manifest auto-wiring only. The validate surface reads arbitrary
    * user tables — a genuine BIGINT column that happens to be named `ts`
    * (an epoch-millis or sequence column) must reach the comparison
    * layers untouched (round-17 review), while still getting the
    * catalog-speed count/group/fingerprint answers a maintained manifest
    * provides. */
  def loadRaw(spark: SparkSession, dir: String, name: String): DataFrame =
    loadWith(spark, dir, name,
      if (hasManifest(spark, dir, name)) Some(manifestPath(dir, name)) else None,
      normalizeTs = false)

  private def loadWith(spark: SparkSession, dir: String, name: String,
                       manifest: Option[String],
                       normalizeTs: Boolean = true): DataFrame = {
    // Spark's parquet reader rejects TIMESTAMP(NANOS) outright
    // (PARQUET_TYPE_ILLEGAL) unless told to surface it as a raw long.
    scala.util.Try(spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
    val reader = manifest match {
      case Some(mp) =>
        graft.plans.GraftExtensions.install(spark)
        spark.read
          .option(ManifestSql.PathOption, mp)
          .option(ManifestSql.TableOption, name)
      case None => spark.read
    }
    val df = reader.parquet(path(dir, name))
    df.schema.find(f => normalizeTs &&
        f.name == "ts" && f.dataType.typeName == "long") match {
      // integer `div`, not `/`: epoch-nanos (~1.7e18) exceed double's exact
      // range, so float division would drift some timestamps by ±1µs
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None    => df
    }
  }

  // Resolved-plan memo for the declared-query surface (round 17, guide
  // §1/§5 "the driver should do almost no data work"): every `spark.read
  // .parquet` call pays a file-listing plus a footer-read JOB (~20-40 ms
  // driver latency), and the bench repeats each query 3+ times — per-query
  // profiles showed up to four such jobs per repetition. The memo returns
  // the SAME resolved DataFrame (an immutable logical plan) for repeated
  // loads of one (session, dir, table), so repetitions re-execute the scan
  // without re-planning it. Data is still read from parquet on every
  // action — this caches no rows, only the plan. Manifest-backed loads are
  // NEVER memoized (their relation re-reads catalog state at planning
  // time, and a manifest can gain entries mid-session), and the CLI /
  // validate surfaces don't come through here ([[load]] stays un-memoized
  // for them: a user table can be overwritten between two loads in one
  // session, and a memoized listing would silently serve the old files).
  private val planCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  /** [[load]] with plan memoization for immutable fixture tables — the
    * declared-query surface ([[graft.queries.Q.t]]). Falls through to an
    * un-memoized [[load]] whenever a manifest catalog is present. */
  def loadCached(spark: SparkSession, dir: String, name: String): DataFrame =
    if (hasManifest(spark, dir, name)) load(spark, dir, name)
    else planCache.computeIfAbsent((spark, dir, name),
      _ => loadWith(spark, dir, name, None))

  // last directory registered per session — registering re-reads all ten
  // parquet footers, which costs ~1s per dialect query when repeated. The
  // cache key folds in which tables currently have a manifest, so a
  // `migrate --manifest-keys` landing between two registerAll calls in one
  // session upgrades the views instead of serving the stale unpruned ones.
  private val registered = new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Register every fixture table as a temp view (idempotent, cached per
    * session+dir+manifest-set) so dialect-translated SQL can resolve bare
    * table names — with manifest file-skipping wherever `dir/_manifest/
    * table` exists. The manifest set is probed ONCE per call and shared
    * between the cache key and the loads (round-13 review: probing again
    * inside each load doubled the filesystem RPCs on the path every
    * dialect query warms). */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val withManifest = all.filter(hasManifest(spark, dir, _)).toSet
    val key = dir + "#" + withManifest.toSeq.sorted.mkString(",")
    if (registered.get(spark) != key) {
      all.foreach(n => loadWith(spark, dir, n,
        if (withManifest(n)) Some(manifestPath(dir, n)) else None)
        .createOrReplaceTempView(n))
      registered.put(spark, key)
    }
  }
}
