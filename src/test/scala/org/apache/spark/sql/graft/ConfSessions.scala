package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Sessions built the way a config-only deployment builds them. */
object ConfSessions {

  /** A new session on `spark`'s running context whose extensions come from
    * `spark.sql.extensions` alone, as with `--conf
    * spark.sql.extensions=<classes>`. Spark reads that key from the
    * context's conf when it builds a session, so it is set there for the
    * build only; the caller's session stays the default and active one. */
  def withExtensions(spark: SparkSession, classes: String): SparkSession = {
    val sc = spark.sparkContext
    val key = "spark.sql.extensions"
    val prev = sc.conf.getOption(key)
    sc.conf.set(key, classes)
    try org.apache.spark.sql.classic.SparkSession.builder().sparkContext(sc).create()
    finally {
      prev.fold(sc.conf.remove(key))(sc.conf.set(key, _))
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
