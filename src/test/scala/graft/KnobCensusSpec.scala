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
  */
class KnobCensusSpec extends AnyFunSuite {

  private val knob = raw"graft\.(?:manifest|containment)\.[A-Za-z]+|SPARK_GRAFT_[A-Z_]*[A-Z]".r
  private val options = Set(graft.sources.ManifestSql.PathOption, graft.sources.ManifestSql.TableOption)

  private def read(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Knobs the main tree reads: the ones named inside string literals. */
  private def codeKnobs: Set[String] = {
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
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
}
