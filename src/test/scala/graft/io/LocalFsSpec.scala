package graft.io

import graft.{DetectionPipeline, GraftSession}
import graft.flow.{FlowFeatures, PacketRow}
import graft.ingest.PacketReplay
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.feature.SQLTransformer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The fork-free `file://` classes against Hadoop's stock
  * `LocalFileSystem` and `LocalFs`: the same permissions, link
  * statuses and rename results, no process starts, registration on a
  * SparkContext that already exists, and detector checkpoints that
  * restart across the two in either direction.
  */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val LocalUri = URI.create("file:///")
  // Spelled out: the service-loaded default for file:// on this Spark
  // install is Hive's ProxyLocalFileSystem, a wrapper around these.
  private val Stock = Seq(
    "fs.file.impl" -> classOf[org.apache.hadoop.fs.LocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[org.apache.hadoop.fs.local.LocalFs].getName)

  private val roots = scala.collection.mutable.Buffer.empty[JPath]
  private def tmp(prefix: String): JPath = { val d = Files.createTempDirectory(prefix); roots += d; d }
  override def afterAll(): Unit = roots.foreach(r => org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
  private def hpath(root: JPath, name: String) = new Path(root.resolve(name).toString)

  /** Fresh (uncached) FileSystem and FileContext over a conf carrying `impls`. */
  private def withFs[A](impls: Seq[(String, String)], umask: String = "022")(
      body: (FileSystem, FileContext) => A): A = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    impls.foreach { case (k, v) => conf.set(k, v) }
    val fs = FileSystem.newInstance(LocalUri, conf)
    try body(fs, FileContext.getFileContext(LocalUri, conf)) finally fs.close()
  }

  /** Process starts made by this thread while `body` runs. */
  private def processStarts(body: => Unit): Long = {
    Class.forName("org.apache.hadoop.util.Shell") // its initializer forks `setsid` once per JVM
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      val dump = Files.createTempFile("process_starts", ".jfr")
      try {
        rec.dump(dump)
        val me = Thread.currentThread.getId
        RecordingFile.readAllEvents(dump).asScala
          .count(e => e.getThread != null && e.getThread.getJavaThreadId == me).toLong
      } finally Files.deleteIfExists(dump)
    } finally rec.close()
  }

  test("the conf keys resolve to the graft classes, and to the stock ones when spelled out") {
    withFs(LocalFs.Impls) { (fs, fc) =>
      assert(fs.getClass == classOf[LocalFileSystem])
      assert(fc.getDefaultFileSystem.getClass == classOf[LocalFs])
    }
    withFs(Stock) { (fs, fc) =>
      assert(fs.getClass == classOf[org.apache.hadoop.fs.LocalFileSystem])
      assert(fc.getDefaultFileSystem.getClass == classOf[org.apache.hadoop.fs.local.LocalFs])
    }
  }

  test("create and mkdir permissions match the stock classes under umask 022 and 077") {
    def createAll(fs: FileSystem, fc: FileContext): Map[String, String] = {
      val root = tmp("perm")
      fs.create(hpath(root, "fs_file")).close()
      fs.mkdirs(hpath(root, "fs_dir/sub"))
      fc.create(hpath(root, "fc_file"), EnumSet.of(CreateFlag.CREATE)).close()
      fc.mkdir(hpath(root, "fc_dir/sub"), FsPermission.getDirDefault, true)
      Files.walk(root).iterator.asScala.filter(_ != root).map(f =>
        root.relativize(f).toString ->
          PosixFilePermissions.toString(Files.getPosixFilePermissions(f))).toMap
    }
    for (umask <- Seq("022", "077")) {
      val stock = withFs(Stock, umask)(createAll)
      val graft = withFs(LocalFs.Impls, umask)(createAll)
      assert(graft == stock, s"umask $umask")
      assert(stock.keySet == Set("fs_file", ".fs_file.crc", "fs_dir", "fs_dir/sub",
        "fc_file", ".fc_file.crc", "fc_dir", "fc_dir/sub"))
      val (file, dir) = if (umask == "022") ("rw-r--r--", "rwxr-xr-x") else ("rw-------", "rwx------")
      assert(stock("fs_file") == file && stock("fc_file") == file && stock(".fs_file.crc") == file)
      assert(stock("fs_dir/sub") == dir && stock("fc_dir/sub") == dir)
    }
  }

  test("a sticky-bit mode falls back to Hadoop's chmod") {
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    def chmod(impls: Seq[(String, String)]): (Int, Long) = withFs(impls) { (fs, _) =>
      val dir = tmp("sticky")
      val forks = processStarts(fs.setPermission(new Path(dir.toString), sticky))
      (Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0xfff, forks)
    }
    val (stockMode, _) = chmod(Stock)
    val (graftMode, graftForks) = chmod(LocalFs.Impls)
    assert(stockMode == Integer.parseInt("1777", 8))
    assert(graftMode == stockMode)
    assert(graftForks > 0, "the sticky bit must go through Hadoop's own setPermission")
  }

  test("getFileLinkStatus matches the stock classes on files, dirs, symlinks and missing paths") {
    val root = tmp("links")
    Files.write(root.resolve("file"), "abc".getBytes(UTF_8))
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val names = Seq("file", "dir", "link", "dangling", "missing")
    def summary(st: => FileStatus) = Try(st).toEither.left.map(_.getClass.getName).map(s =>
      (s.getPath.toString, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink.toString else "", s.getLen))
    def statuses(impls: Seq[(String, String)]) = withFs(impls) { (fs, fc) =>
      names.map(n => n -> (summary(fs.getFileLinkStatus(hpath(root, n))),
        summary(fc.getFileLinkStatus(hpath(root, n))))).toMap
    }
    val stock = statuses(Stock)
    assert(statuses(LocalFs.Impls) == stock)
    assert(stock("link")._1.exists(_._4), "the FileSystem API reports the symlink")
    assert(stock("dangling")._1.exists(_._4))
    assert(stock("file")._1.exists(s => s._2 && s._6 == 3L))
    assert(stock("dir")._1.exists(_._3))
    val fnfe = Left(classOf[java.io.FileNotFoundException].getName)
    assert(stock("missing") == ((fnfe, fnfe)))
  }

  test("FileContext.rename: OVERWRITE replaces the target, NONE throws") {
    def renames(impls: Seq[(String, String)]) = withFs(impls) { (_, fc) =>
      val root = tmp("rename")
      def write(name: String, body: String): Unit = {
        val out = fc.create(hpath(root, name), EnumSet.of(CreateFlag.CREATE))
        try out.write(body.getBytes(UTF_8)) finally out.close()
      }
      def read(name: String): String = {
        val in = fc.open(hpath(root, name))
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      write("a", "first"); write("b", "second"); write("c", "third")
      fc.rename(hpath(root, "a"), hpath(root, "b"), Options.Rename.OVERWRITE)
      val none = Try(fc.rename(hpath(root, "c"), hpath(root, "b"), Options.Rename.NONE))
        .failed.toOption.map(_.getClass.getName)
      (read("b"), read("c"), none, root.toFile.list().toSet)
    }
    val stock = renames(Stock)
    assert(renames(LocalFs.Impls) == stock)
    assert(stock == (("first", "third",
      Some(classOf[org.apache.hadoop.fs.FileAlreadyExistsException].getName),
      Set("b", ".b.crc", "c", ".c.crc"))))
  }

  test("create, mkdirs and rename through both APIs start no process") {
    def ops(fs: FileSystem, fc: FileContext): Unit = {
      val root = tmp("forks")
      fs.create(hpath(root, "a")).close()
      fs.mkdirs(hpath(root, "d/e"))
      fs.rename(hpath(root, "a"), hpath(root, "b"))
      fc.create(hpath(root, "c"), EnumSet.of(CreateFlag.CREATE)).close()
      fc.mkdir(hpath(root, "f/g"), FsPermission.getDirDefault, true)
      fc.rename(hpath(root, "c"), hpath(root, "b"), Options.Rename.OVERWRITE)
    }
    assert(withFs(LocalFs.Impls)((fs, fc) => processStarts(ops(fs, fc))) == 0L)
    // the same block on the stock classes forks, so the count above can fail
    assert(withFs(Stock)((fs, fc) => processStarts(ops(fs, fc))) > 0L)
  }

  // ---- through Spark ----

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("GraftSession registers the classes on a SparkContext that already exists") {
    val existing = spark.sparkContext
    val conf = GraftSession.getOrCreate().sparkContext.hadoopConfiguration
    assert(GraftSession.getOrCreate().sparkContext eq existing)
    LocalFs.Impls.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(FileContext.getFileContext(LocalUri, conf).getDefaultFileSystem.getClass == classOf[LocalFs])
    val fs = FileSystem.newInstance(LocalUri, conf)
    try assert(fs.getClass == classOf[LocalFileSystem]) finally fs.close()
  }

  /** Run `body` with the SparkContext's `file://` classes set to
    * `impls`, uncached, so every FileSystem and FileContext the stream
    * opens follows them.
    */
  private def withImpls[A](impls: Seq[(String, String)])(body: => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = impls.map(_._1) :+ "fs.file.impl.disable.cache"
    val prior = keys.map(k => k -> Option(conf.get(k)))
    (impls :+ ("fs.file.impl.disable.cache" -> "true")).foreach { case (k, v) => conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  // Six flows, every one with packets in both parts: flows 0-2 total 6
  // forward packets, flows 3-5 total 4. The stand-in model labels
  // `total_fwd_packets >= 5` DDoS, so a flow whose part-1 state was
  // lost across a restart would come out Normal.
  private def packets(flow: Int, from: Int, until: Int): Seq[String] =
    (from until until).map(i => PacketReplay.toJson(PacketRow(flow * 100L + i, 1000000L * i,
      6, 100, s"10.9.0.$flow", "10.9.1.1", 4000 + flow, 80, 40, 0,
      0, if (i == 0) 1 else 0, 0, 0, 1, 0, 0, 0)))
  private val part1 = (0 until 6).flatMap(f => packets(f, 0, 3))
  private val part2 = (0 until 6).flatMap(f => packets(f, 3, if (f < 3) 6 else 4))
  private val expected = (0 until 6).map(f =>
    (s"10.9.0.$f:${4000 + f}-10.9.1.1:80-6_TIMEOUT", if (f < 3) "DDoS" else "Normal")).toSet

  private lazy val model = {
    import spark.implicits._
    new Pipeline().setStages(Array[PipelineStage](new SQLTransformer().setStatement(
      "SELECT *, CAST(total_fwd_packets >= 5 AS DOUBLE) AS prediction FROM __THIS__")))
      .fit(spark.emptyDataset[FlowFeatures].toDF())
  }

  /** Stage a part file atomically into the text source directory. */
  private def stage(src: JPath, name: String, lines: Seq[String]): Unit = {
    val staged = Files.write(src.resolveSibling(s"$name.tmp"), lines.asJava)
    Files.move(staged, src.resolve(s"$name.json"))
  }

  private val FlowLabel = "\"flow_id\":\"([^\"]+)\".*\"Label\":\"([^\"]+)\"".r.unanchored

  /** (flow_id, Label) pairs in the committed sink part files under `out`. */
  private def verdicts(out: JPath): Set[(String, String)] = Try {
    Files.walk(out).iterator.asScala
      .filter(f => f.getFileName.toString.startsWith("part-") && !f.toString.contains("_temporary"))
      .flatMap(f => Files.readAllLines(f).asScala)
      .collect { case FlowLabel(id, label) => (id, label) }.toSet
  }.getOrElse(Set.empty)

  /** Runs the detector on `root/src` until `done`, then stops it. */
  private def detect(root: JPath, timeoutMs: Long)(done: StreamingQuery => Unit): Unit = {
    val q = GraftSession.withStreamingShuffle(spark, 2) {
      DetectionPipeline.start(spark.readStream.text(root.resolve("src").toString), model,
        root.resolve("out").toString, root.resolve("ckpt").toString, timeoutMs, "200 milliseconds")
    }
    try done(q) finally q.stop()
  }

  // Processing-time timeouts make every trigger run a batch, so
  // `processAllAvailable` never returns on this query: poll instead.
  private def await(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(200)
  }
  private def untilInput(rows: Int)(q: StreamingQuery): Unit =
    await(q.recentProgress.map(_.numInputRows).sum >= rows)
  private def untilAllFlows(root: JPath)(q: StreamingQuery): Unit =
    await(verdicts(root.resolve("out")).size >= expected.size)

  private def newRun(prefix: String): JPath = {
    val root = tmp(prefix)
    Files.createDirectories(root.resolve("src"))
    Files.createDirectories(root.resolve("out"))
    root
  }

  /** Part 1 under `first` with a timeout no flow reaches, stop, then
    * part 2 from the same checkpoint under `second`.
    */
  private def restartAcross(first: Seq[(String, String)], second: Seq[(String, String)])
      : Set[(String, String)] = {
    val root = newRun("ckpt_compat")
    stage(root.resolve("src"), "part1", part1)
    withImpls(first)(detect(root, timeoutMs = 600000)(untilInput(part1.size)))
    assert(verdicts(root.resolve("out")).isEmpty, "no flow may time out before the restart")
    stage(root.resolve("src"), "part2", part2)
    withImpls(second)(detect(root, timeoutMs = 500)(untilAllFlows(root)))
    verdicts(root.resolve("out"))
  }

  test("a detector checkpoint restarts across the stock and graft classes in both directions") {
    val root = newRun("ckpt_whole")
    stage(root.resolve("src"), "part1", part1)
    stage(root.resolve("src"), "part2", part2)
    detect(root, timeoutMs = 500)(untilAllFlows(root))
    val uninterrupted = verdicts(root.resolve("out"))
    assert(uninterrupted == expected)
    assert(restartAcross(Stock, LocalFs.Impls) == uninterrupted, "stock → graft")
    assert(restartAcross(LocalFs.Impls, Stock) == uninterrupted, "graft → stock")
  }
}
