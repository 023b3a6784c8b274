package graft

import graft.dsl.LogPath
import graft.dsl.LogPath._
import org.apache.spark.sql.functions._

class LogPathSpec extends GraftSuite {
  import spark.implicits._

  private lazy val df = Seq(
    (1, "error", 10), (2, "warn", 200), (3, "error", 300), (4, "info", 5))
    .toDF("id", "level", "size")

  test("sequence compile: filter then transform") {
    val out = LogPath.compile(df, Seq(
      Filter(col("size") > 50),
      Transform(_.withColumn("big", lit(true)))))
    assert(out.select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))
  }

  test("junction: final blocks later channels, fallback catches the rest") {
    val out = LogPath.compileJunction(df, Seq(
      Channel("errs", Seq(Filter(col("level") === "error")), Set(Final)),
      Channel("big", Seq(Filter(col("size") > 100)), Set(Final)),
      Channel("rest", Seq.empty, Set(Fallback))))
    val got = out.select("id", "__channel").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    // id=3 is error AND big: final on errs wins; id=4 matches nothing → rest
    assert(got == Set((1, "errs"), (3, "errs"), (2, "big"), (4, "rest")))
  }

  test("junction without final: multi-delivery like plain fan-out") {
    val out = LogPath.compileJunction(df, Seq(
      Channel("errs", Seq(Filter(col("level") === "error"))),
      Channel("big", Seq(Filter(col("size") > 100)))))
    val got = out.select("id", "__channel").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "errs"), (3, "errs"), (2, "big"), (3, "big")))
  }

  test("junction branches with different schemas union by name") {
    val out = LogPath.compileJunction(df, Seq(
      Channel("a", Seq(Filter(col("level") === "error"),
        Transform(_.withColumn("extra", lit("x")))), Set(Final)),
      Channel("b", Seq.empty, Set(Fallback))))
    val cols = out.columns.toSet
    assert(cols.contains("extra"))
    val b = out.filter(col("__channel") === "b").select("extra").collect()
    assert(b.forall(_.isNullAt(0)))
  }

  test("nested junction fuses into one route with widened, null-filled columns") {
    // an elif nests a junction in the fallback channel: the outer fused
    // plan routes to the inner channels directly, so `n` (int in two
    // channels, bigint in one) and `extra` (one channel only) must still
    // come out as the union compile types and fills them
    val inner = (d: org.apache.spark.sql.DataFrame) => LogPath.compileJunction(d, Seq(
      Channel("big", Seq(Filter(col("size") > 100),
        Transform(_.withColumn("n", lit(2L)).withColumn("extra", lit("x")))), Set(Final)),
      Channel("info", Seq(Filter(col("level") === "info"),
        Transform(_.withColumn("n", lit(1)))), Set(Final)),
      Channel("rest", Seq.empty, Set(Fallback))))
    val out = LogPath.compileJunction(df, Seq(
      Channel("errs", Seq(Filter(col("level") === "error"),
        Transform(_.withColumn("n", lit(0)))), Set(Final)),
      Channel("else", Seq(Transform(inner)), Set(Fallback))))
    assert(out.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.isEmpty)
    assert(out.schema("n").dataType == org.apache.spark.sql.types.LongType)
    val got = out.select("id", "__channel", "n", "extra").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), Option(r.getString(3)))).toSet
    assert(got == Set((1, "errs", 0L, None), (3, "errs", 0L, None),
      (2, "big", 2L, Some("x")), (4, "info", 1L, None)))
  }

  test("appParser: detect + parse per app, unknown fallback") {
    val logs = Seq(
      (1, "GET /idx HTTP/1.1 200"), (2, "sshd[9]: Accepted password"),
      (3, "whatever else")).toDF("id", "line")
    val out = LogPath.appParser(logs, Seq(
      ("http", col("line").rlike("HTTP/\\d"),
        _.withColumn("status", regexp_extract(col("line"), "(\\d+)$", 1))),
      ("sshd", col("line").contains("sshd"),
        _.withColumn("auth", regexp_extract(col("line"), "(Accepted|Failed)", 1)))))
    val got = out.select("id", "__channel").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set((1, "http"), (2, "sshd"), (3, "unknown")))
    assert(out.filter(col("id") === 1).select("status").head.getString(0) == "200")
    assert(out.filter(col("id") === 2).select("auth").head.getString(0) == "Accepted")
  }

  test("junction fusion never re-draws a nondeterministic route per column") {
    // each channel stamps its name into two columns; the union compile
    // evaluates rand() once per branch row, so every output row carries
    // one channel's name in both. A fused plan that re-evaluated the
    // delivery predicate per column could leave them unset or split.
    val rows = spark.range(0, 4000).toDF("id")
    def stamp(name: String): Transform =
      Transform(_.withColumn("a", lit(name)).withColumn("b", lit(name)))
    def coinJunction(d: org.apache.spark.sql.DataFrame, heads: String,
        tails: String, tailsBody: Seq[Element]) =
      LogPath.compileJunction(d, Seq(
        Channel(heads, Seq(Filter(rand() < 0.5), stamp(heads)), Set(Final)),
        Channel(tails, tailsBody, Set(Fallback))))
    val flat = coinJunction(rows, "heads", "tails", Seq(stamp("tails")))
    // if/elif/else: the elif junction nests inside the else channel
    val nested = coinJunction(rows, "if", "else", Seq(
      Transform(d => coinJunction(d, "elif", "else", Seq(stamp("else"))))))
    for ((label, out) <- Seq("flat" -> flat, "nested" -> nested)) {
      val got = out.select("a", "b").collect()
      assert(got.nonEmpty, label)
      val bad = got.filter(r => r.isNullAt(0) || r.getString(0) != r.getString(1))
      assert(bad.isEmpty,
        s"$label: ${bad.length} of ${got.length} rows split: ${bad.take(3).toSeq}")
    }
  }
}
