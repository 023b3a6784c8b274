package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The dev mains' shared pieces, and the rule that only they read the
  * process environment. */
class HarnessSpec extends AnyFunSuite {

  test("Bench.childMedian reads the child's queries map, not out_rows") {
    val line = """{"metric":"total","value":1.25,"unit":"sec","bench_suspect":false,""" +
      """"out_rows":{"grouping_by_session":4096},"band_slow_n":0,"band_fast_n":0,""" +
      """"band_compared_n":0,"queries":{"grouping_by_session":1.25},""" +
      """"queries_insuite":{"grouping_by_session":1.25},"queries_isolated":{}}"""
    assert(Bench.childMedian(line, "grouping_by_session").contains(1.25))
    // the first "<name>":<number> on the line is the row count
    val firstMatch = "\"grouping_by_session\":([0-9.Ee+-]+)".r
    assert(firstMatch.findFirstMatchIn(line).map(_.group(1)).contains("4096"))
    assert(Bench.childMedian(line, "suppress").isEmpty)
    assert(Bench.childMedian("""{"metric":"total"}""", "grouping_by_session").isEmpty)
  }

  test("Bench names the SPARK_GRAFT_ONLY entries it would not time") {
    val benched = Bench.benchedQueries.map(_._1)
    assert(Bench.unbenched(Set("agg_stats", "grouping_by_session"), benched).isEmpty)
    assert(Bench.unbenched(Set("grouping_by_sesion", "agg_stats", "a_typo"),
      benched) == Seq("a_typo", "grouping_by_sesion"))
    // an oracle-only form is in the registry but not benched
    assert(SparkEntry.queries.contains("dedup_simhash"))
    assert(Bench.unbenched(Set("dedup_simhash"), benched) == Seq("dedup_simhash"))
  }

  test("only the dev mains read environment variables or system " +
      "properties") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    val mains = Set("Bench", "Verify", "Explain", "ScaleGen", "SkewGen",
      "TextSkewGen").map(n => s"graft/$n.scala")
    // the reference's own env semantics: `backtick` substitution in the
    // config lexer and the $(env) template function
    val allowed = mains ++ Set("graft/config/CfgLexerSubst.scala",
      "graft/template/TemplateFunctions.scala")
    val reads = "sys\\.env|System\\.getenv|System\\.getProperty".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offenders = for {
      f <- files(root) if f.getName.endsWith(".scala")
      rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      if !allowed(rel)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if reads.findFirstIn(line).isDefined
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
