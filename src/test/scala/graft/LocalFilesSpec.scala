package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.util.EnumSet

import graft.config.{ConfigCompiler, ConfigParser}
import graft.streaming.LocalFiles
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** [[LocalFiles]] against Hadoop's stock local classes: the same
  * operations leave the same files, modes and bytes, and a compiled
  * streaming pipeline installs it without breaking older checkpoints. */
class LocalFilesSpec extends GraftSuite {

  private val root = URI.create("file:///")

  /** Hadoop's stock local classes, or the engine's, under one umask. */
  private def hadoopConf(umask: String, engine: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (engine) LocalFiles.SessionDefaults.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** relative path -> (mode, bytes; empty for a directory) */
  private def tree(base: JPath): Map[String, (Int, Seq[Byte])] = {
    val s = Files.walk(base)
    try s.iterator.asScala.filter(_ != base).map { p =>
      base.relativize(p).toString -> (mode(p),
        if (Files.isDirectory(p)) Seq.empty[Byte] else Files.readAllBytes(p).toSeq)
    }.toMap
    finally s.close()
  }

  private def write(out: java.io.OutputStream, text: String): Unit =
    try out.write(text.getBytes(UTF_8)) finally out.close()

  /** What a checkpoint and a file sink do: FileSystem create and nested
    * mkdirs, FileContext mkdir, create and rename with OVERWRITE, both
    * onto a fresh name and onto an existing file. */
  private def operate(c: Configuration, base: JPath): Unit = {
    val fs = FileSystem.newInstance(root, c)
    try {
      write(fs.create(new Path(base.toUri.resolve("sink/part=1/f.txt"))), "sink bytes\n")
      assert(fs.mkdirs(new Path(base.toUri.resolve("x/y/z"))))
    } finally fs.close()
    val fc = FileContext.getFileContext(root, c)
    val offsets = new Path(base.toUri.resolve("cp/offsets"))
    fc.mkdir(offsets, FsPermission.getDirDefault, true)
    for ((tmp, text) <- Seq(".0.tmp" -> "first\n", ".1.tmp" -> "second, longer\n")) {
      write(fc.create(new Path(offsets, tmp),
        EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)), text)
      fc.rename(new Path(offsets, tmp), new Path(offsets, "0"),
        Options.Rename.OVERWRITE)
    }
  }

  for (umask <- Seq("022", "077")) {
    test(s"umask $umask: same files, modes and bytes as Hadoop's local classes") {
      val stock = Files.createTempDirectory("graft_lf_stock")
      val engine = Files.createTempDirectory("graft_lf_engine")
      operate(hadoopConf(umask, engine = false), stock)
      operate(hadoopConf(umask, engine = true), engine)
      val want = tree(stock)
      assert(want.keySet.contains("sink/part=1/.f.txt.crc") &&
        want.keySet.contains("cp/offsets/.0.crc") &&
        !want.keySet.exists(_.contains(".tmp")), want.keySet)
      assert(new String(want("cp/offsets/0")._2.toArray, UTF_8) == "second, longer\n")
      val got = tree(engine)
      assert(got.keySet == want.keySet)
      for ((rel, (m, bytes)) <- want) {
        assert(got(rel)._1 == m, f"$rel: mode ${got(rel)._1}%o, Hadoop $m%o")
        assert(got(rel)._2 == bytes, rel)
      }
      val fileMode = if (umask == "022") 0x1a4 else 0x180 // 0644, 0600
      assert(want("cp/offsets/0")._1 == fileMode)
    }
  }

  test("sticky and setgid bits: setPermission ends like Hadoop's chmod") {
    def run(engine: Boolean): (Int, Int) = {
      val base = Files.createTempDirectory("graft_lf_bits")
      val sticky = Files.createDirectory(base.resolve("sticky"))
      val setgid = Files.createDirectory(base.resolve("setgid"))
      // Hadoop's `chmod 0750` keeps a directory's setgid bit
      assert(new ProcessBuilder("chmod", "2755", setgid.toString).start().waitFor() == 0)
      val fs = FileSystem.newInstance(root, hadoopConf("022", engine))
      try {
        fs.setPermission(new Path(sticky.toUri), new FsPermission(0x3ff.toShort)) // 01777
        fs.setPermission(new Path(setgid.toUri), new FsPermission(0x1e8.toShort)) // 0750
      } finally fs.close()
      (mode(sticky), mode(setgid))
    }
    val want = run(engine = false)
    assert(want._1 == 0x3ff) // 01777
    assert(run(engine = true) == want)
  }

  test("getFileLinkStatus: links, files and missing paths as Hadoop reports them") {
    val base = Files.createTempDirectory("graft_lf_link")
    val target = Files.writeString(base.resolve("target.txt"), "t")
    val link = Files.createSymbolicLink(base.resolve("link"), target)
    val paths = Seq(new Path(link.toString), new Path(link.toUri),
      new Path(target.toString))
    def statuses(engine: Boolean) = {
      val c = hadoopConf("022", engine)
      val fs = FileSystem.newInstance(root, c)
      val fc = FileContext.getFileContext(root, c)
      try paths.flatMap { p =>
        Seq(fs.getFileLinkStatus(p), fc.getFileLinkStatus(p)).map(s =>
          (s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "", s.getLen))
      } finally fs.close()
    }
    val want = statuses(engine = false)
    // the unqualified link path is the one Hadoop's readlink resolves
    assert(want.take(2).forall(_._1) && want.drop(4).forall(!_._1), want)
    assert(statuses(engine = true) == want)
    val missing = new Path(base.resolve("missing").toString)
    for (engine <- Seq(false, true)) {
      val fs = FileSystem.newInstance(root, hadoopConf("022", engine))
      try intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(missing))
      finally fs.close()
    }
  }

  private def session(): SparkSession = {
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    s
  }

  private def compile(s: SparkSession, inDir: JPath) =
    ConfigCompiler.compileStreamingPipeline(ConfigParser.parse(s"""
      source s_in { file("$inDir/*.log"); };
      destination d { file("/out/lf.log"); };
      log { source(s_in); destination(d); };
    """), s, Files.createTempDirectory("graft_lf_spool").toString)._1.head.df

  private def classes(s: SparkSession, dir: JPath): (Class[_], Class[_]) = {
    val hc = s.sessionState.newHadoopConf()
    (FileContext.getFileContext(dir.toUri, hc).getDefaultFileSystem.getClass,
      new Path(dir.toUri).getFileSystem(hc).getClass)
  }

  test("a compiled streaming pipeline resolves file: to LocalFiles") {
    val s = session()
    val dir = Files.createTempDirectory("graft_lf_install")
    assert(classes(s, dir)._1 != classOf[LocalFiles.Fs])
    compile(s, dir)
    assert(classes(s, dir) == (classOf[LocalFiles.Fs], classOf[LocalFiles.Local]))
  }

  test("a user-set fs.AbstractFileSystem.file.impl wins over the default") {
    val s = session()
    val dir = Files.createTempDirectory("graft_lf_user")
    s.conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    compile(s, dir)
    assert(classes(s, dir) ==
      (classOf[org.apache.hadoop.fs.local.LocalFs], classOf[LocalFiles.Local]))
  }

  test("fs.file.impl set in the context's Hadoop configuration wins too") {
    // where `spark.hadoop.fs.file.impl` or core-site.xml would set it
    val hadoop = spark.sparkContext.hadoopConfiguration
    val before = Option(hadoop.get("fs.file.impl"))
    hadoop.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    try {
      val s = session()
      val dir = Files.createTempDirectory("graft_lf_site")
      compile(s, dir)
      assert(classes(s, dir) ==
        (classOf[LocalFiles.Fs], classOf[org.apache.hadoop.fs.LocalFileSystem]))
    } finally before.fold(hadoop.unset("fs.file.impl"))(hadoop.set("fs.file.impl", _))
  }

  test("a checkpoint written by Hadoop's classes resumes under LocalFiles") {
    val inDir = Files.createTempDirectory("graft_lf_in")
    val out = Files.createTempDirectory("graft_lf_out").toString
    val cp = Files.createTempDirectory("graft_lf_cp").toString
    def send(name: String): Unit = Files.writeString(inDir.resolve(name),
      (1 to 50).map(i => s"<13>Jan 12 03:04:05 h app: $name-$i").mkString("", "\n", "\n"))
    def run(s: SparkSession): Unit = {
      val q = compile(s, inDir).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
    }
    val stock = session()
    stock.conf.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    stock.conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    send("a.log")
    run(stock)
    assert(classes(stock, inDir)._1 == classOf[org.apache.hadoop.fs.local.LocalFs])
    assert(Files.exists(JPath.of(cp, "commits", ".0.crc")))
    val engine = session()
    send("b.log")
    run(engine)
    assert(classes(engine, inDir)._1 == classOf[LocalFiles.Fs])
    send("c.log")
    run(engine)
    val rows = spark.read.parquet(out).select("message").collect().map(_.getString(0))
    val want = for (f <- Seq("a", "b", "c"); i <- 1 to 50) yield s"$f.log-$i"
    assert(rows.sorted.toSeq == want.sorted)
  }
}
