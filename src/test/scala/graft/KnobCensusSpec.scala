package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** README.md lists every knob the program reads: each `graft.manifest.*` /
  * `graft.containment.*` session conf and each `SPARK_GRAFT_*` environment
  * variable named as a string literal under `src/main`, and none that the
  * code no longer reads. The reader option keys `ManifestSql.PathOption` /
  * `TableOption` are per-read options, not knobs, and are left out.
  * `src/main` writes session conf only where no caller's session sees a
  * surprise.
  */
class KnobCensusSpec extends AnyFunSuite {

  private val knob = raw"graft\.(?:manifest|containment)\.[A-Za-z]+|SPARK_GRAFT_[A-Z_]*[A-Z]".r
  private val options = Set(graft.sources.ManifestSql.PathOption, graft.sources.ManifestSql.TableOption)

  private def read(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Knobs the main tree reads: the ones named inside string literals. */
  private def sources: List[Path] = Files.walk(Paths.get("src/main")).iterator.asScala
    .filter(_.toString.endsWith(".scala")).toList

  private def codeKnobs: Set[String] = {
    val literal = "\"([^\"\\n]*)\"".r
    sources.flatMap(p => literal.findAllMatchIn(read(p)).map(_.group(1)))
      .flatMap(knob.findAllIn).toSet -- options
  }

  test("README names every knob the code reads, and no other") {
    val code = codeKnobs
    assert(code.exists(_.startsWith("graft.manifest.")) && code.exists(_.startsWith("SPARK_GRAFT_")),
      s"the census found no knobs: $code")
    val readme = knob.findAllIn(read(Paths.get("README.md"))).toSet -- options
    assert((code -- readme).isEmpty, s"read by src/main but missing from README.md: ${code -- readme}")
    assert((readme -- code).isEmpty, s"named in README.md but read nowhere: ${readme -- code}")
  }

  test("src/main writes session conf only on a loop session, in Tables.loadWith and in StatsCurve") {
    // (file, a fragment of the line): the loop session's two confs, the
    // parquet nanos switch every table read needs, and the snapshot cap
    // on the session StatsCurve builds for itself
    val sites = Seq(
      "GraftSession.scala" -> "loop.conf.set(\"spark.sql.adaptive.enabled\"",
      "GraftSession.scala" -> "loop.conf.set(\"spark.sql.shuffle.partitions\"",
      "Tables.scala" -> "spark.conf.set(\"spark.sql.legacy.parquet.nanosAsLong\"",
      "StatsCurve.scala" -> "spark.conf.set(ManifestSnapshot.MaxBytesConf")
    val write = raw"\bconf\.(?:set|unset)\w*\(".r
    val writes = for {
      p <- sources
      line <- read(p).linesIterator
      if write.findFirstIn(line).isDefined
    } yield (p.getFileName.toString, line.trim)
    def at(w: (String, String), site: (String, String)) = w._1 == site._1 && w._2.contains(site._2)
    val stray = writes.filterNot(w => sites.exists(at(w, _)))
    assert(stray.isEmpty, s"session-conf writes outside the known sites: $stray")
    val missing = sites.filterNot(site => writes.exists(at(_, site)))
    assert(missing.isEmpty, s"known sites the census no longer finds: $missing")
    assert(writes.size === sites.size, s"a known site writes more than once: $writes")
  }
}
