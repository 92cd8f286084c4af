package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the program's entry points and environment reads where they
  * belong: profiling lives in perfbench/, outside the program, so a new
  * `main` or env flag in `src/main/scala` has to be added here on purpose.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val mains = Set("Bench", "Verify", "ScaleRehearsal", "ScaleUp", "AnnSampleFit")
  private val envReaders = Set("SessionConf", "Bench")

  private lazy val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    val st = Files.walk(root)
    try st.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      .map((p: Path) => p.getFileName.toString.stripSuffix(".scala") -> Files.readString(p))
    finally st.close()
  }

  private def offenders(pattern: String, allowed: Set[String]): Seq[String] =
    sources.collect { case (name, text) if pattern.r.findFirstIn(text).nonEmpty => name }
      .filterNot(allowed).sorted

  test("the source tree is where the guard looks") {
    assert(sources.exists(_._1 == "SparkEntry"))
  }

  test("def main only in the five supported mains") {
    assert(offenders("""\bdef\s+main\s*\(""", mains).isEmpty)
  }

  test("environment variables are read only by SessionConf and Bench") {
    assert(offenders("""\bsys\.env\b|\bSystem\.getenv\b""", envReaders).isEmpty)
  }
}
