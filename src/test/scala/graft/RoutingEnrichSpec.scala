package graft

import graft.dsl.LogPath.{Channel, Fallback, Filter, Final, Transform, compileJunction}
import graft.operators.Enrich
import org.apache.spark.sql.functions._

class RoutingEnrichSpec extends GraftSuite {
  import spark.implicits._

  private def logs = Seq(
    (1, "err", 3), (2, "warn", 4), (3, "info", 6), (4, "debug", 7)
  ).toDF("id", "label", "severity")

  test("junction fan-out: message goes to every matching branch") {
    val out = compileJunction(logs, Seq(
      Channel("lowsev", Seq(Filter(col("severity") <= 4))),
      Channel("all", Nil)))
    // 2 rows match lowsev, 4 match all
    assert(out.count() == 6)
  }

  test("flags(final) stops later branches") {
    val out = compileJunction(logs, Seq(
      Channel("critical", Seq(Filter(col("severity") <= 3)), Set(Final)),
      Channel("rest", Nil)))
    assert(out.count() == 4)
    assert(out.filter(col("__channel") === "critical").count() == 1)
    assert(out.filter(col("__channel") === "rest").count() == 3)
  }

  test("flags(fallback) sees only unmatched rows") {
    val out = compileJunction(logs, Seq(
      Channel("err", Seq(Filter(col("label") === "err"))),
      Channel("warn", Seq(Filter(col("label") === "warn"))),
      Channel("other", Nil, Set(Fallback))))
    assert(out.filter(col("__channel") === "other").select("id")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(3, 4))
  }

  test("NULL predicates route to fallback, not a black hole") {
    import spark.implicits._
    // col("k") === "x" is SQL NULL for the null-valued row; it must land
    // in the fallback branch, not vanish from every branch
    val df = Seq(("a", null.asInstanceOf[String]), ("b", "x")).toDF("id", "k")
    val out = compileJunction(df, Seq(
      Channel("hit", Seq(Filter(col("k") === "x")), Set(Final)),
      Channel("rest", Nil, Set(Fallback))))
      .select("id", "__channel").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("a", "rest"), ("b", "hit")))
  }

  test("ifElse routes disjointly") {
    // `if (cond) { then } else { else }` (lib/cfg-tree.c:399-409): a
    // final `then` channel and an unfiltered `else` channel
    val out = compileJunction(logs, Seq(
      Channel("then", Seq(Filter(col("severity") <= 4),
        Transform(_.withColumn("route", lit("low")))), Set(Final)),
      Channel("else", Seq(Transform(_.withColumn("route", lit("high")))))))
    assert(out.count() == 4)
    assert(out.filter(col("route") === "low").count() == 2)
  }

  test("branch transforms with different columns union by name") {
    val out = compileJunction(logs, Seq(
      Channel("a", Seq(Filter(col("severity") <= 3),
        Transform(_.withColumn("extra", lit("x"))))),
      Channel("b", Seq(Filter(col("severity") > 3)))))
    assert(out.columns.contains("extra"))
    assert(out.filter(col("extra").isNull).count() == 3)
  }

  test("addContextualData broadcast lookup with prefix and default") {
    val db = Seq(
      ("sshd", "team", "infra"), ("sshd", "tier", "1"),
      ("nginx", "team", "web"),
      ("__default", "team", "unknown")).toDF("selector", "name", "value")
    val df = Seq(("sshd", 1), ("nginx", 2), ("cron", 3)).toDF("program", "id")
    val out = Enrich.addContextualData(df, db, col("program"),
      prefix = "ctx.", defaultSelector = Some("__default"))
    val rows = out.select(col("id"), element_at(col("values"), "ctx.team"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows == Map(1 -> "infra", 2 -> "web", 3 -> "unknown"))
    val tier = out.filter(col("id") === 1)
      .select(element_at(col("values"), "ctx.tier")).head.getString(0)
    assert(tier == "1")
  }

  test("addContextualData merges into existing values map, db wins") {
    val db = Seq(("a", "k", "new")).toDF("selector", "name", "value")
    val df = Seq(("a", 1)).toDF("sel", "id")
      .withColumn("values", map(lit("k"), lit("old"), lit("other"), lit("keep")))
    val out = Enrich.addContextualData(df, db, col("sel"))
    val m = out.select("values").head.getMap[String, String](0)
    assert(m("k") == "new" && m("other") == "keep")
  }

  test("ipRangeLookup finds blocks via prefix equi-join") {
    val ranges = Seq(
      (graft.functions.Ipv4ToInt.toLong(org.apache.spark.unsafe.types.UTF8String.fromString("10.0.0.0")),
        graft.functions.Ipv4ToInt.toLong(org.apache.spark.unsafe.types.UTF8String.fromString("10.0.255.255")), "net-a"),
      (graft.functions.Ipv4ToInt.toLong(org.apache.spark.unsafe.types.UTF8String.fromString("192.168.0.0")),
        graft.functions.Ipv4ToInt.toLong(org.apache.spark.unsafe.types.UTF8String.fromString("192.168.0.255")), "net-b")
    ).toDF("lo", "hi", "net")
    val df = Seq("10.0.3.7", "192.168.0.9", "8.8.8.8").toDF("ip")
    val out = Enrich.ipRangeLookup(df, ranges, col("ip"))
    val got = out.select("ip", "net").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("10.0.3.7" -> "net-a", "192.168.0.9" -> "net-b", "8.8.8.8" -> null))
  }

  test("asof join: latest right row at or before each left timestamp") {
    import spark.implicits._
    val left = Seq((1L, "k1", 10L), (2L, "k1", 25L), (3L, "k1", 5L),
      (4L, "k2", 50L), (5L, "k3", 7L))
      .toDF("eid", "key", "t")
    val right = Seq(("k1", 10L, "a"), ("k1", 20L, "b"), ("k2", 60L, "c"))
      .toDF("key", "t", "v")
    val out = graft.operators.Enrich.asofJoin(
        left, col("key"), col("t"), right, col("key"), col("t"),
        struct(col("v"), col("t").as("rt")))
      .select(col("eid"), col("asof.v").as("v"))
      .orderBy("eid").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // eid1 t=10: right k1@10 matches (ties hit); eid2 t=25: k1@20 -> b;
    // eid3 t=5: nothing yet -> null; eid4 t=50: k2@60 is later -> null;
    // eid5: no k3 rows -> null
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, null), (4L, null), (5L, null)))
    // SQL equality semantics: NULL keys never match (either side)
    val lNull = Seq((1L, null.asInstanceOf[String], 10L), (2L, "k1", 10L))
      .toDF("eid", "key", "t")
    val rNull = Seq((null.asInstanceOf[String], 5L, "x"), ("k1", 5L, "y"))
      .toDF("key", "t", "v")
    val outN = graft.operators.Enrich.asofJoin(
        lNull, col("key"), col("t"), rNull, col("key"), col("t"),
        struct(col("v")))
      .select(col("eid"), col("asof.v").as("v"))
      .orderBy("eid").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(outN == Seq((1L, null), (2L, "y")))
  }

  test("in-list file form loads one key per line") {
    import spark.implicits._
    val f = java.nio.file.Files.createTempFile("inlist", ".txt")
    java.nio.file.Files.write(f, java.util.Arrays.asList("alpha", "beta", ""))
    val out = Seq("alpha", "gamma", "beta").toDF("v")
      .filter(graft.operators.Filters.inListFile(f.toString, col("v")))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("alpha", "beta"))
  }
}
