package graft

import graft.config.{ConfigCompiler, ConfigParser}
import graft.operators.VendorParsers
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vendor scl parsers against the reference's own golden inputs —
  * cisco examples from `/root/reference/scl/cisco/plugin.conf`,
  * checkpoint/panos lines from the reference python functional tests
  * (`tests/python_functional/functional_tests/parsers/{checkpoint,panos}`).
  * Each vendor is driven end-to-end from CONFIG TEXT, like the scl. */
class VendorParsersSpec extends GraftSuite {
  import spark.implicits._

  private def viaConfig(parserStmt: String, lines: Seq[String]) = {
    val df = lines.toDF("message")
      .withColumn("tags", array().cast("array<string>"))
    val conf = s"""
      source s { file("/x"); };
      destination d { file("/out"); };
      parser p { $parserStmt; };
      log { source(s); parser(p); destination(d); };
    """
    ConfigCompiler.compile(ConfigParser.parse(conf), Map("s" -> df)).head.df
  }

  test("cisco-parser: scl plugin.conf example lines") {
    val out = viaConfig("cisco-parser()", Seq(
      "<189>29: foo: *Apr 29 13:58:40.411: %SYS-5-CONFIG_I: Configured from console by console",
      "<190>30: foo: *Apr 29 13:58:46.411: %SYS-6-LOGGINGHOST_STARTSTOP: Logging to host 192.168.1.239 stopped - CLI initiated",
      "<189>35: *Apr 29 14:00:16.059: %SYS-5-CONFIG_I: Configured from console by console",
      "<190>32: foo: *Apr 29 13:58:46.411: %SYSMGR-STANDBY-3-SHUTDOWN_START: The System Manager has started the shutdown procedure."))
    val rows = out.select(col("host"), col("message"), col("facility"), col("severity"),
        element_at(col("values"), ".cisco.facility").as("cf"),
        element_at(col("values"), ".cisco.severity").as("cs"),
        element_at(col("values"), ".cisco.mnemonic").as("cm"),
        date_format(col("ts"), "MMM dd HH:mm:ss.SSS").as("t"))
      .collect()
    // <189> = facility 23, severity 5
    assert(rows(0).getString(0) == "foo")
    assert(rows(0).getString(1) == "%SYS-5-CONFIG_I: Configured from console by console")
    assert(rows(0).getInt(2) == 23 && rows(0).getInt(3) == 5)
    assert((rows(0).getString(4), rows(0).getString(5), rows(0).getString(6)) ==
      ("SYS", "5", "CONFIG_I"))
    assert(rows(0).getString(7) == "Apr 29 13:58:40.411")
    assert((rows(1).getString(4), rows(1).getString(6)) == ("SYS", "LOGGINGHOST_STARTSTOP"))
    // no-host form: timestamp right after seqno
    assert(rows(2).getString(0) == null)
    assert(rows(2).getString(7) == "Apr 29 14:00:16.059")
    // 4-part triplet folds STANDBY into the facility
    assert((rows(3).getString(4), rows(3).getString(5), rows(3).getString(6)) ==
      ("SYSMGR-STANDBY", "3", "SHUTDOWN_START"))
  }

  test("cisco-parser: ': %' after a newline does not classify as cisco") {
    // the structural check mirrors rlike("^<\\d{1,3}>.*: %") where '.'
    // does not cross '\n' — a multiline message whose marker sits on a
    // later line stays unclassified
    val multiline = "<189>29: foo bar\nbaz: %SYS-5-CONFIG_I: nope"
    val onFirstLine = "<189>29: foo: %SYS-5-CONFIG_I: yes\ntrailing line"
    val out = viaConfig("cisco-parser()", Seq(multiline, onFirstLine))
      .select(col("message"),
        element_at(col("values"), ".cisco.mnemonic").as("cm"))
      .collect()
    assert(out(0).getString(0) == multiline) // untouched
    assert(out(0).getString(1) == null)
    assert(out(1).getString(1) == "CONFIG_I")
  }

  test("checkpoint-parser: functional-test golden lines, both date forms") {
    val syslogT = """<134>1 2018-03-21T17:25:25 MDS-72 CheckPoint 13752 - [action:"Update"; flags:"150784"; ifdir:"inbound"; origin:"192.168.32.91"; auth_method:"Machine Authentication (Active Directory)"; src:"192.168.32.69";]"""
    val syslogSpace = syslogT.replace("2018-03-21T17:25:25", "2018-03-21 17:25:25")
    val syslogZ = """<134>1 2019-11-27T02:58:25Z ABDP-CPLOG01 CheckPoint 22103 - [action:"Accept"; __policy_id_tag:"product=VPN-1 & FireWall-1[db_tag={12D7A082};mgmt=ABDP-MGT01;date=1573204576;policy_name=Cutover_Final_V3_20161031]"; proto:"6"; src:"10.7.79.7";]"""
    val splunk = """time=1521645925|hostname=gw-da58d3|product=Firewall|action=Drop|src=10.1.1.1"""
    val out = viaConfig("checkpoint-parser()",
      Seq(syslogT, syslogSpace, syslogZ, splunk))
    val rows = out.select(col("host"), col("program"),
        date_format(col("ts"), "MMM d HH:mm:ss").as("sdate"),
        element_at(col("values"), ".checkpoint.action").as("action"),
        element_at(col("values"), ".checkpoint.src").as("src"),
        element_at(col("values"), ".checkpoint.auth_method").as("auth"),
        element_at(col("values"), ".checkpoint.hostname").as("spl_host"))
      .collect()
    // golden: <CheckPoint><MDS-72><Mar 21 17:25:25> for BOTH date forms
    assert((rows(0).getString(0), rows(0).getString(1), rows(0).getString(2)) ==
      ("MDS-72", "CheckPoint", "Mar 21 17:25:25"))
    assert((rows(1).getString(0), rows(1).getString(1), rows(1).getString(2)) ==
      ("MDS-72", "CheckPoint", "Mar 21 17:25:25"))
    assert(rows(0).getString(3) == "Update")
    assert(rows(0).getString(4) == "192.168.32.69")
    // quoted values keep spaces and embedded semicolons
    assert(rows(0).getString(5) == "Machine Authentication (Active Directory)")
    assert((rows(2).getString(0), rows(2).getString(2)) ==
      ("ABDP-CPLOG01", "Nov 27 02:58:25"))
    assert(rows(2).getString(3) == "Accept")
    // splunk form: kv over |-separated pairs
    assert(rows(3).getString(3) == "Drop" && rows(3).getString(6) == "gw-da58d3")
  }

  test("panos-parser: functional-test golden lines, SYSTEM and CONFIG branches") {
    val system = """<12>Apr 14 16:48:54 paloalto.test.net 1,2020/04/14 16:48:54,unknown,SYSTEM,auth,0,2020/04/14 16:48:54,,auth-fail,,0,0,general,medium,failed authentication for user 'admin'. Reason: Invalid username/password. From: 10.0.10.55.,1718,0x0,0,0,0,0,,paloalto"""
    val systemExtra = system + ",foo,bar"
    val config = """<14>Apr 14 16:54:18 paloalto.test.net 1,2020/04/14 16:54:18,unknown,CONFIG,0,0,2020/04/14 16:54:18,10.0.10.55,,set,admin,Web,Succeeded,deviceconfig system,127,0x0,0,0,0,0,,paloalto"""
    val configCustom = config.replace("deviceconfig system,127",
      "deviceconfig system,before,after,127")
    val out = viaConfig("panos-parser()", Seq(system, systemExtra, config, configCustom))
    val rows = out.select(col("program"), col("host"),
        element_at(col("values"), ".panos.type").as("type"),
        element_at(col("values"), ".panos.eventid").as("eventid"),
        element_at(col("values"), ".panos.path").as("path"),
        element_at(col("values"), ".panos.device_name").as("dev"),
        element_at(col("values"), ".panos.before_change_detail").as("before"))
      .collect()
    // golden: <paloalto_panos><SYSTEM><auth-fail><paloalto>
    for (i <- 0 to 1) {
      assert(rows(i).getString(0) == "paloalto_panos")
      assert((rows(i).getString(2), rows(i).getString(3), rows(i).getString(5)) ==
        ("SYSTEM", "auth-fail", "paloalto"), s"row $i")
    }
    assert(rows(0).getString(1) == "paloalto.test.net")
    // golden: <paloalto_panos><CONFIG><deviceconfig system><paloalto>
    for (i <- 2 to 3) {
      assert((rows(i).getString(2), rows(i).getString(4), rows(i).getString(5)) ==
        ("CONFIG", "deviceconfig system", "paloalto"), s"row $i")
    }
    assert(rows(2).getString(6) == null)
    assert(rows(3).getString(6) == "before")
  }

  test("application registry: app-parser auto-detects vendor and parses") {
    // the scl application blocks' detection predicates, end-to-end
    // through the junction-of-final-channels app-parser
    val rows = Seq(
      // (message, program, facility)
      ("IN=eth0 OUT= SRC=10.0.0.1 DST=10.0.0.2 PROTO=TCP SPT=1 DPT=2",
        "kernel", 0),
      ("  nobody : TTY=pts/13 ; PWD=/home/nobody ; USER=root ; COMMAND=/bin/ls",
        "sudo", 10),
      ("""<189>date=2021-01-15 time=12:58:59 devname="FORTI_111" action="deny"""",
        null, 5),
      ("just some message", "other", 1))
      .toDF("message", "program", "facility")
    // the scl `application name[topic] { filter; parser }` blocks
    // (scl/iptables/iptables.conf, scl/sudo/sudo.conf,
    // scl/fortigate/fortigate.conf) as (name, detect, parse) triples:
    // detection reads the post-syslog-parse columns, fortigate the raw
    // `<pri>date=` form like its syslog-raw topic
    val applications: Seq[(String, Column, DataFrame => DataFrame)] = Seq(
      ("iptables",
        col("facility") === 0 && col("program") === "kernel" &&
          col("message").contains("PROTO="),
        VendorParsers.iptables(_)),
      ("sudo", col("program") === "sudo", VendorParsers.sudo(_)),
      ("fortigate", col("message").rlike("^<[0-9]+>date="),
        VendorParsers.fortigate(_)))
    val out = graft.dsl.LogPath.appParser(rows, applications)
      .select(col("__channel"), col("program"),
        element_at(col("values"), ".iptables.PROTO").as("proto"),
        element_at(col("values"), ".sudo.COMMAND").as("cmd"),
        element_at(col("values"), ".fortigate.devname").as("dev"))
      .collect().map(r => (r.getString(0), r.getString(2), r.getString(3),
        r.getString(4))).toSet
    assert(out.contains(("iptables", "TCP", null, null)))
    assert(out.contains(("sudo", null, "/bin/ls", null)))
    assert(out.contains(("fortigate", null, null, "FORTI_111")))
    assert(out.exists(t => t._1 == "unknown" && t._2 == null && t._3 == null))
  }

  test("iptables-parser: netfilter kv from the reference's snmptrap fixture") {
    // the kv payload inside tests/python_functional .../test_topic_syslog.py:27
    val line = "IN=eth0 OUT= MAC=08:00:27:d5:33:1e:34:e6:d7:1f:04:58:08:00 " +
      "SRC=10.30.0.35 DST=10.30.35.100 LEN=60 TOS=0x00 PREC=0x00 TTL=1 " +
      "ID=62309 DF PROTO=TCP SPT=52988 DPT=5355 WINDOW=29200 RES=0x00 SYN URGP=0"
    val out = viaConfig("iptables-parser()", Seq(line, "no netfilter here"))
      .select(element_at(col("values"), ".iptables.SRC").as("src"),
        element_at(col("values"), ".iptables.PROTO").as("proto"),
        element_at(col("values"), ".iptables.DPT").as("dpt"),
        element_at(col("values"), ".iptables.OUT").as("out"))
      .collect()
    assert((out(0).getString(0), out(0).getString(1), out(0).getString(2)) ==
      ("10.30.0.35", "TCP", "5355"))
    assert(out(0).getString(3) == "") // OUT= present but empty
    assert(out(1).getString(1) == null) // non-matching line untouched
  }

  test("sudo-parser: functional-test golden line, greedy command value") {
    // MESSAGE part of tests/python_functional .../test_topic_syslog.py:29
    val out = viaConfig("sudo-parser()", Seq(
        "  nobody : TTY=pts/13 ; PWD=/home/nobody ; USER=root ; COMMAND=/bin/ls",
        "jdoe : TTY=pts/0 ; PWD=/tmp ; USER=root ; COMMAND=/usr/bin/find / -name x y",
        "pam_unix(sudo:session): session closed for user root"))
      .select(element_at(col("values"), ".sudo.SUBJECT").as("subj"),
        element_at(col("values"), ".sudo.USER").as("user"),
        element_at(col("values"), ".sudo.COMMAND").as("cmd"))
      .collect()
    assert((out(0).getString(0), out(0).getString(1), out(0).getString(2)) ==
      ("nobody", "root", "/bin/ls"))
    // pair-separator(';') semantics: the command keeps its spaces
    assert(out(1).getString(2) == "/usr/bin/find / -name x y")
    // pam noise has no COMMAND pair — the app-level filter's signal
    assert(out(2).getString(2) == null)
  }

  test("fortigate-parser: functional-test golden line, date+time -> ts") {
    val line = """<189>date=2021-01-15 time=12:58:59 devname="FORTI_111" """ +
      """devid="FG100D3G12801312" logid="0001000014" type="traffic" """ +
      """subtype="local" level="notice" vd="root" srcip=91.234.154.139 """ +
      """srcport=45295 proto=17 action="deny" policyid=0 duration=0"""
    val out = viaConfig("fortigate-parser()", Seq(line))
      .select(element_at(col("values"), ".fortigate.devname").as("devname"),
        element_at(col("values"), ".fortigate.action").as("action"),
        element_at(col("values"), ".fortigate.srcip").as("srcip"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
      .collect()
    assert((out(0).getString(0), out(0).getString(1), out(0).getString(2)) ==
      ("FORTI_111", "deny", "91.234.154.139"))
    assert(out(0).getString(3) == "2021-01-15 12:58:59")
  }

  test("apache-accesslog-parser: all four scl LogFormat examples") {
    // the exact example lines from scl/apache/apache.conf's comments
    val vhostCombined = """virtualhost:443 127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326 "http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)""""
    val vhostCommon = """virtualhost:443 127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326"""
    val combined = """127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326 "http://www.example.com/start.html" "Mozilla/4.08 [en] (Win98; I ;Nav)""""
    val common = """127.0.0.1 - frank [10/Oct/2000:13:55:36 -0700] "GET /apache_pb.gif HTTP/1.0" 200 2326"""
    val out = viaConfig("apache-accesslog-parser()",
        Seq(vhostCombined, vhostCommon, combined, common))
      .select(element_at(col("values"), ".apache.clientip").as("ip"),
        element_at(col("values"), ".apache.verb").as("verb"),
        element_at(col("values"), ".apache.request").as("req"),
        element_at(col("values"), ".apache.httpversion").as("http"),
        element_at(col("values"), ".apache.response").as("resp"),
        element_at(col("values"), ".apache.agent").as("agent"),
        element_at(col("values"), ".apache.vhost").as("vhost"),
        element_at(col("values"), ".apache.port").as("port"),
        unix_timestamp(col("ts")).as("ts"))
      .collect()
    for (i <- 0 to 3) {
      val r = out(i)
      assert((r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getString(4)) == ("127.0.0.1", "GET", "/apache_pb.gif", "1.0", "200"), s"row $i")
      // 10/Oct/2000:13:55:36 -0700 = 2000-10-10T20:55:36Z
      assert(r.getLong(8) == 971211336L, s"row $i ts")
    }
    assert(out(0).getString(6) == "virtualhost" && out(0).getString(7) == "443")
    assert(out(0).getString(5) == "Mozilla/4.08 [en] (Win98; I ;Nav)")
    assert(out(2).getString(6) == null) // no vhost on the bare forms
    assert(out(3).getString(5) == null) // common: no agent captured
  }

  test("extract-solaris-msgid: Sun msgid block peeled, others pass through") {
    // scl/solaris/plugin.conf: '[ID <msgid> <fac.level>] rest' →
    // .solaris.msgid + MESSAGE without the block
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "[ID 702911 mail.info] sendmail shutdown succeeded"),
      (2L, "[ID 123 kern.notice] panic imminent"),
      (3L, "plain message, no sun header")
    ).toDF("id", "message")
      .withColumn("values", map(lit("pre"), lit("x")))
    val out = graft.operators.Scl.extractSolarisMsgid(df)
      .select(col("id"), col("message"),
        element_at(col("values"), ".solaris.msgid").as("msgid"),
        element_at(col("values"), "pre").as("pre"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "sendmail shutdown succeeded")
    assert(out(0).getString(2) == "702911")
    assert(out(1).getString(1) == "panic imminent")
    assert(out(1).getString(2) == "123")
    assert(out(2).getString(1) == "plain message, no sun header")
    assert(out(2).getString(2) == null)
    // pre-existing values survive on every row
    assert(out.forall(_.getString(3) == "x"))
  }
}
