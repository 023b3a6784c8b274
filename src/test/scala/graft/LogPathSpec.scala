package graft

import graft.dsl.LogPath
import graft.dsl.LogPath._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

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

  test("fallback pass: a fallback's own filter applies and a matching " +
      "final fallback stops later fallbacks (lib/logmpx.c:88-109)") {
    val out = LogPath.compileJunction(df, Seq(
      Channel("errs", Seq(Filter(col("level") === "error")), Set(Final)),
      Channel("big", Seq(Filter(col("size") > 100)), Set(Fallback, Final)),
      Channel("warn", Seq(Filter(col("level") === "warn")), Set(Fallback)),
      Channel("rest", Seq.empty, Set(Fallback))))
    val got = out.select("id", "__channel").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    // id=2 (warn, 200) is big: the final `big` fallback keeps it from
    // `warn` and `rest`; id=4 matches no filter but `rest`'s
    assert(got == Set((1, "errs"), (3, "errs"), (2, "big"), (4, "rest")))
  }

  test("a filter after a rewrite reads the rewritten row") {
    val out = LogPath.compileJunction(df, Seq(
      Channel("a", Seq(Filter(col("size") > 50),
        Transform(_.withColumn("size", col("size") * 10)),
        Filter(col("size") > 2500))),
      Channel("b", Seq(Transform(_.withColumn("level", lit("x"))),
        Filter(col("level") === "x")))))
    val got = out.select("id", "size", "__channel").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    // a: 200 and 300 pass the leading filter, only 3000 the late one;
    // b's late filter matches every rewritten row
    assert(got == Set((3, 3000, "a"), (1, 10, "b"), (2, 200, "b"),
      (3, 300, "b"), (4, 5, "b")))
  }

  test("a late filter that would decide final/fallback delivery fails " +
      "the compile, naming its channel") {
    val input = Seq(0, 0, 0, 0).toDF("x")
    val e = intercept[IllegalArgumentException](LogPath.compileJunction(input,
      Seq(Channel("a", Seq(Transform(_.withColumn("x", lit(1))),
          Filter(col("x") === 1)), Set(Final)),
        Channel("b", Nil, Set(Fallback)))))
    assert(e.getMessage.contains("channel a"), e.getMessage)
    // the last final channel of its pass, with no fallback: nothing reads
    // its match, so the late filter just runs in its body
    val last = LogPath.compileJunction(input, Seq(
      Channel("a", Seq(Filter(col("x") === 1)), Set(Final)),
      Channel("c", Seq(Transform(_.withColumn("x", lit(1))),
        Filter(col("x") === 1)), Set(Final))))
    assert(last.select("__channel").as[String].collect().toSeq ==
      Seq.fill(4)("c"))
  }

  // ---- random junctions against a model of the mpx rules -------------

  /** One input row: the nullable `i` (int) and `d` (double) columns. */
  private final case class In(id: Long, i: Option[Int], d: Option[Double])

  /** A predicate as a Spark column and as its SQL three-valued value on
    * a row (None = NULL). */
  private final case class Pred(col: Column, eval: In => Option[Boolean],
      text: String)

  /** A channel body step: overwrite `i`, overwrite `d`, add `tag`. */
  private final case class Step(f: DataFrame => DataFrame, model: Out => Out,
      text: String)

  private final case class Out(id: Long, i: Option[Int], d: Option[Double],
      tag: Option[String]) {
    def key(channel: String): String = Seq(id, i,
      d.map(java.lang.Double.doubleToLongBits), tag, channel).mkString("|")
  }

  private final case class Ch(name: String, filter: Option[Pred],
      steps: Seq[Step], isFinal: Boolean, isFallback: Boolean) {
    def channel(extra: Seq[Element] = Nil): Channel =
      Channel(name, filter.map(p => Filter(p.col)).toSeq ++
        steps.map(s => Transform(s.f)) ++ extra,
        Set[Flag]() ++ (if (isFinal) Set(Final) else Set()) ++
          (if (isFallback) Set(Fallback) else Set()))
    override def toString: String =
      s"$name(${filter.fold("*")(_.text)}; ${steps.map(_.text).mkString(", ")}" +
        s"${if (isFinal) "; final" else ""}${if (isFallback) "; fallback" else ""})"
  }

  // Spark's double comparison (SQLOrderingUtil.compareDoubles): -0.0
  // equals 0.0, NaN equals NaN and sorts above every other value
  private def cmpDouble(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private val intVals = Seq(-1, 0, 1, 2)
  private val doubleVals = Seq(0.0, -0.0, Double.NaN, 1.5, -2.0)
  private val cmpOps: Seq[(String, (Column, Column) => Column, Int => Boolean)] =
    Seq(("=", _ === _, _ == 0), ("!=", _ =!= _, _ != 0), ("<", _ < _, _ < 0),
      (">", _ > _, _ > 0), ("<=", _ <= _, _ <= 0), (">=", _ >= _, _ >= 0))

  private val atom: Gen[Pred] = Gen.oneOf(
    for (op <- Gen.oneOf(cmpOps); v <- Gen.oneOf(intVals)) yield
      Pred(op._2(col("i"), lit(v)),
        r => r.i.map(x => op._3(Integer.compare(x, v))), s"i ${op._1} $v"),
    for (op <- Gen.oneOf(cmpOps); v <- Gen.oneOf(doubleVals)) yield
      Pred(op._2(col("d"), lit(v)),
        r => r.d.map(x => op._3(cmpDouble(x, v))), s"d ${op._1} $v"),
    Gen.const(Pred(col("i").isNull, r => Some(r.i.isEmpty), "i is null")),
    Gen.const(Pred(col("d").isNull, r => Some(r.d.isEmpty), "d is null")))

  private val pred: Gen[Pred] = Gen.frequency(
    3 -> atom,
    1 -> Gen.zip(atom, atom).map { case (a, b) => Pred(a.col && b.col,
      r => (a.eval(r), b.eval(r)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true)) => Some(true)
        case _ => None
      }, s"(${a.text} and ${b.text})") },
    1 -> Gen.zip(atom, atom).map { case (a, b) => Pred(a.col || b.col,
      r => (a.eval(r), b.eval(r)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false)) => Some(false)
        case _ => None
      }, s"(${a.text} or ${b.text})") },
    1 -> atom.map(a => Pred(!a.col, r => a.eval(r).map(!_), s"not ${a.text}")))

  private def step(k: Int): Gen[Step] = Gen.oneOf(
    Step(_.withColumn("i", lit(10 + k)), _.copy(i = Some(10 + k)), s"i := ${10 + k}"),
    Step(_.withColumn("d", col("d") * 2), o => o.copy(d = o.d.map(_ * 2)), "d := d * 2"),
    Step(_.withColumn("tag", lit(s"t$k")), _.copy(tag = Some(s"t$k")), s"tag := t$k"))

  private val junction: Gen[Seq[Ch]] = for {
    n <- Gen.choose(1, 4)
    chans <- Gen.sequence[Seq[Ch], Ch]((0 until n).map(k => for {
      filter <- Gen.option(pred)
      nSteps <- Gen.choose(0, 2)
      steps <- Gen.listOfN(nSteps, step(k))
      isFinal <- Gen.oneOf(true, false)
      isFallback <- Gen.frequency(3 -> false, 1 -> true)
    } yield Ch(s"c$k", filter, steps, isFinal, isFallback)))
  } yield chans

  private val rows: Gen[Seq[In]] = {
    val edges = Seq((None, None), (Some(0), Some(-0.0)), (Some(1), Some(Double.NaN)),
      (Some(-1), Some(0.0)), (Some(2), Some(1.5)), (None, Some(Double.NaN)),
      (Some(0), None))
    val random = Gen.listOf(Gen.zip(Gen.option(Gen.oneOf(intVals)),
      Gen.option(Gen.oneOf(doubleVals)))).map(_.take(8))
    random.map(r => (edges ++ r).zipWithIndex.map { case ((i, d), id) =>
      In(id.toLong, i, d) })
  }

  /** The multiplexer (`lib/logmpx.c:88-109`) row by row: the channels
    * each row reaches, in two passes — non-fallback channels in order,
    * then, if none matched, the fallback channels in order — each pass
    * stopping at the first final channel that matched. A NULL match
    * does not match. */
  private def mpx(chans: Seq[Ch], r: In): Seq[Ch] = {
    def matches(c: Ch) = c.filter.forall(_.eval(r).contains(true))
    def pass(cs: Seq[Ch]): Seq[Ch] = {
      val hit = cs.filter(matches)
      hit.indexWhere(_.isFinal) match {
        case -1 => hit
        case f => hit.take(f + 1)
      }
    }
    val normal = pass(chans.filterNot(_.isFallback))
    if (normal.nonEmpty) normal else pass(chans.filter(_.isFallback))
  }

  private def keys(out: DataFrame): Seq[String] = {
    val hasTag = out.columns.contains("tag")
    out.select(col("id"), col("i"), col("d"),
        if (hasTag) col("tag") else lit(null).cast("string"), col("__channel"))
      .collect().toSeq.map(r => Out(r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        Option(r.getString(3))).key(r.getString(4)))
      .sorted
  }

  test("random junctions: compileJunction == the mpx model == the union " +
      "compile, over NULL, NaN and -0.0; a rand() body keeps the union") {
    val prop = Prop.forAll(junction, rows) { (chans, in) =>
      val input = in.map(r => (r.id, r.i, r.d)).toDF("id", "i", "d")
      val expected = in.flatMap(r => mpx(chans, r).map(c =>
        c.steps.foldLeft(Out(r.id, r.i, r.d, None))((o, s) => s.model(o))
          .key(c.name))).sorted
      val channels = chans.map(_.channel())
      val compiled = LogPath.compileJunction(input, channels)
      val union = channels.zip(LogPath.deliveryPredicates(channels)).map {
        case (ch, deliver) => LogPath.compile(input.filter(deliver), ch.body)
          .withColumn("__channel", lit(ch.name))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      // the first channel also draws a random column: the union must stay
      val drawn = LogPath.compileJunction(input, chans.head.channel(
        Seq(Transform(_.withColumn("r", rand())))) +: channels.tail)
      def unions(d: DataFrame) =
        d.queryExecution.analyzed.collect { case u: Union => u }.size
      val nonFallback = chans.filterNot(_.isFallback)
      val disjoint = chans.count(_.isFallback) <= 1 &&
        nonFallback.dropRight(1).forall(_.isFinal)
      (s"junction ${chans.mkString(" | ")}" +
        s" over ${in.map(r => (r.i, r.d)).mkString(" ")}") |: Prop.all(
        ("model" |: keys(compiled) == expected),
        ("union compile" |: keys(union) == expected),
        ("rand() rows" |: keys(drawn) == expected),
        ("rand() keeps the union" |: (chans.size == 1 || unions(drawn) > 0)),
        ("disjoint fuses" |: (!disjoint || unions(compiled) == 0)))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }
}
