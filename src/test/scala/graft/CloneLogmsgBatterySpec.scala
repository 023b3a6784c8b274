package graft

import graft.functions.SyslogLineParser
import graft.dsl.LogPath.{Channel, Transform, compileJunction}
import graft.operators.Rewrites
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Verbatim-semantics port of the reference's COW-clone battery
  * (`/root/reference/tests/unit/test_clone_logmsg.c`). The C suite
  * parses two RFC5424 messages under LP_SYSLOG_PROTOCOL, clones one
  * with `log_msg_clone_cow`, writes every builtin handle plus a new
  * name-value and a tag on the CLONE, and asserts the write-protect
  * guarantee: the clone reads back the new values while the source
  * message is bit-identical to an untouched twin
  * (assert_log_messages_equal compares values, not tags — the tag set
  * BEFORE cloning travels onto the clone: :112-122).
  *
  * The engine's clone is the routing fan-out: a junction branch holds
  * an immutable DataFrame lineage, so a rewrite chain applied on one
  * channel must never leak into a sibling. That is the same
  * engine-visible contract COW write-protect gives the reference's
  * single-pass pipeline, and it is exercised here twice: through the
  * LogPath.compileJunction API directly, and end-to-end through config text
  * (the compiled `log {}` fan-out that r11's channel-destination fix
  * routes).
  */
class CloneLogmsgBatterySpec extends GraftSuite {
  import spark.implicits._

  /** The two parameterized messages (test_clone_logmsg.c:88-92). */
  private val messages = Seq(
    "<7>1 2006-10-29T01:59:59.156+01:00 mymachine.example.com evntslog - " +
      "ID47 [exampleSDID@0 iut=\"3\" eventSource=\"Application\" " +
      "eventID=\"1011\"][examplePriority@0 class=\"high\"] " +
      "BOMAn application event log entry...",
    "<132>1 2006-10-29T01:59:59.156+01:00 mymachine evntslog - - " +
      "[exampleSDID@0 iut=\"3\"] [eventSource=\"Application\" " +
      "eventID=\"1011\"][examplePriority@0 class=\"high\"] " +
      "BOMAn application event log entry...")

  /** log_msg_new(msg, parse_options) with LP_SYSLOG_PROTOCOL: the strict
    * RFC5424 parse, one row per message; saddr 10.10.10.10 supplies
    * HOST_FROM before any rewrite (log_msg_set_saddr). */
  private def parsed: DataFrame = {
    val rows = messages.zipWithIndex.map { case (m, i) =>
      val p = SyslogLineParser.parse(m, 2019, noParse = false,
        expectHostname = true, noHostname = false, noParseDate = false,
        refMon = -1, badHostname = null, syslogProtocol = true,
        checkHostname = false, noHeader = false)
      val sd = if (p.sdataKeys == null) Map.empty[String, String]
               else p.sdataKeys.zip(p.sdataVals).toMap
      (i.toLong, p.host, "10.10.10.10", p.program,
        Option(p.pid).getOrElse(""), Option(p.msgid).getOrElse(""),
        p.message, "", sd, Seq.empty[String])
    }
    rows.toDF("id", "host", "host_from", "program", "pid", "msgid",
      "message", "source", "values", "tags")
  }

  private val valueCols = Seq("host", "host_from", "program", "pid",
    "msgid", "message", "source", "values")

  /** set_new_log_message_attributes (:56-67) as a rewrite chain. */
  private def mutate(df: DataFrame): DataFrame = {
    val chain = Seq("host" -> "newhost", "host_from" -> "newhost",
      "message" -> "newmsg", "program" -> "newprogram", "pid" -> "newpid",
      "msgid" -> "newmsgid", "source" -> "newsource")
    val builtins = chain.foldLeft(df) { case (d, (f, v)) =>
      Rewrites.set(d, f, lit(v)) }
    // log_msg_set_value_by_name(msg, "newvalue", "newvalue"): a user NV
    // lands in the name-value map
    builtins.withColumn("values",
      map_concat(col("values"), map(lit("newvalue"), lit("newvalue"))))
  }

  private def fields(df: DataFrame): Seq[Row] =
    df.select("id", valueCols: _*).orderBy("id").collect().toSeq

  test("test_cloning_with_log_message: a clone equals its source before " +
      "mutation, carries pre-clone tags, and mutating it never writes " +
      "back through the fan-out (log_msg_clone_cow write-protect)") {
    val original = parsed                       // original_log_message
    val logMessage = Rewrites.setTag(parsed, "newtag") // log_message (:112)

    // log_msg_clone_cow: fork the lineage into two channels; the clone
    // channel applies set_new_log_message_attributes, the source channel
    // is untouched
    val fanned = compileJunction(logMessage, Seq(
      Channel("source", Nil),
      Channel("clone", Seq(Transform(mutate)))))

    // assert_log_messages_equal(cloned, original) BEFORE mutation (:116):
    // an identity clone branch reads back the source values
    val identityClone = compileJunction(logMessage, Seq(
      Channel("source", Nil),
      Channel("clone", Nil)))
    assert(fields(identityClone.filter($"__channel" === "clone")) ==
      fields(original))

    // assert_log_messages_equal(log_message, original) AFTER the clone
    // was mutated (:120): the write-protect guarantee
    assert(fields(fanned.filter($"__channel" === "source")) ==
      fields(original))

    // assert_new_log_message_attributes(cloned) (:121)
    val clone = fanned.filter($"__channel" === "clone").orderBy("id")
    val got = clone.select("host", "host_from", "message", "program",
      "pid", "msgid", "source").distinct().collect()
    assert(got.length == 1 && got.head == Row("newhost", "newhost",
      "newmsg", "newprogram", "newpid", "newmsgid", "newsource"))
    assert(clone.select(element_at(col("values"), "newvalue")).as[String]
      .collect().forall(_ == "newvalue"))
    // SDATA values set at parse time survive the builtin writes
    assert(clone.select(element_at(col("values"), "exampleSDID@0.iut"))
      .as[String].collect().forall(_ == "3"))
    // assert_log_message_has_tag(cloned, "newtag") (:122): the tag set on
    // the SOURCE before cloning travels onto the clone
    assert(clone.select(array_contains(col("tags"), "newtag")).as[Boolean]
      .collect().forall(identity))
  }

  test("clone write-protect end-to-end through the compiled config " +
      "fan-out (cfg-tree junction channels)") {
    val cfg = """
      source s_net { network(); };
      rewrite r_tag { set-tag("newtag"); };
      rewrite r_new {
        set("newhost" value("HOST"));
        set("newmsg" value("MESSAGE"));
        set("newprogram" value("PROGRAM"));
        set("newpid" value("PID"));
        set("newmsgid" value("MSGID"));
      };
      destination d_clone { file("/out/clone.log"); };
      destination d_orig { file("/out/orig.log"); };
      log {
        source(s_net);
        rewrite(r_tag);
        log { rewrite(r_new); destination(d_clone); };
        log { destination(d_orig); };
      };
    """
    val routes = graft.config.ConfigCompiler.compile(
      graft.config.ConfigParser.parse(cfg), Map("s_net" -> parsed))
    val byDest = routes.groupBy(_.destination)
      .map { case (n, rs) => n -> rs.map(_.df).reduce(_ unionByName _) }

    // the untouched channel reads back the parse-time values…
    assert(fields(byDest("d_orig")) == fields(parsed))
    // …while the sibling channel saw every rewrite (and both kept the
    // pre-fork tag)
    val clone = byDest("d_clone")
    val got = clone.select("host", "message", "program", "pid", "msgid")
      .distinct().collect()
    assert(got.length == 1 &&
      got.head == Row("newhost", "newmsg", "newprogram", "newpid", "newmsgid"))
    Seq(byDest("d_orig"), clone).foreach { d =>
      assert(d.select(array_contains(col("tags"), "newtag")).as[Boolean]
        .collect().forall(identity))
    }
  }
}
