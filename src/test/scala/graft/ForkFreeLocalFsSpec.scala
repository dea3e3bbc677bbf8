package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path => NioPath}
import java.sql.Timestamp
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkInternals
import org.apache.spark.sql.{Dataset, SparkSessionExtensions}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{StatefulExec, StatefulLogic}
import graft.sinks.StatefulParquetSink
import graft.sources.KafkaShim

/** graft's fork-free `file:` filesystem: a checkpointed stateful
  * micro-batch, its sink and a KafkaShim write start no OS process
  * through Hadoop, and every operation it overrides leaves the same
  * files, modes and statuses as Hadoop's stock local filesystem under
  * the same umask. */
class ForkFreeLocalFsSpec extends AnyFunSuite with SparkFixture {

  private val local = new URI("file:///")
  private val stock = Seq(
    "fs.file.impl" -> "org.apache.hadoop.fs.LocalFileSystem",
    "fs.AbstractFileSystem.file.impl" -> "org.apache.hadoop.fs.local.LocalFs")

  private def conf(keys: Seq[(String, String)]): Configuration = {
    val c = new Configuration()
    keys.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]

  /** Run `body` once on the stock and once on the fork-free filesystem,
    * each in a fresh root, and return both results. The filesystems come
    * from `FileSystem.newInstance`, which bypasses the JVM-wide cache. */
  private def stockAndForkFree[A](body: (FileSystem, FileContext, NioPath) => A): (A, A) = {
    def run(keys: Seq[(String, String)], cls: Class[_], afsCls: Class[_]): A = {
      val c = conf(keys)
      val fs = FileSystem.newInstance(local, c)
      val fc = FileContext.getFileContext(local, c)
      assert(fs.getClass == cls && fc.getDefaultFileSystem.getClass == afsCls)
      try body(fs, fc, tempDir("graft_forkfree_parity_"))
      finally fs.close()
    }
    (run(stock, classOf[org.apache.hadoop.fs.LocalFileSystem], classOf[org.apache.hadoop.fs.local.LocalFs]),
      run(HadoopFs.forkFreeLocal, classOf[ForkFreeLocalFileSystem], classOf[ForkFreeLocalFs]))
  }

  /** Every entry under `root`, relative, with its full mode and size. */
  private def tree(root: NioPath): Seq[(String, Int, Long)] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(_ != root).map { p =>
      (root.relativize(p).toString, mode(p), if (Files.isDirectory(p)) 0L else Files.size(p))
    }.toSeq.sortBy(_._1)
    finally st.close()
  }

  /** A FileStatus with its root-relative path, field by field. */
  private def fields(st: FileStatus, root: NioPath): Seq[Any] = {
    def rel(p: Path) = p.toUri.getPath.stripPrefix(root.toString)
    Seq(rel(st.getPath), st.isDirectory, st.isSymlink, st.getLen, st.getReplication,
      st.getBlockSize, st.getPermission, st.getOwner, st.getGroup,
      if (st.isSymlink) rel(st.getSymlink) else "")
  }

  /** The `jdk.ProcessStart` events recorded while `body` runs whose
    * stack passes through Hadoop: the processes graft's filesystem
    * replaces. The recording covers the whole JVM, so a start from
    * outside Hadoop (Spark's `Cleaner` running `rm -rf` on the artifact
    * dir of a session an earlier suite dropped, its once-per-JVM
    * `getconf PAGESIZE` probe) can land in it and is not counted. */
  private def hadoopProcessStarts(root: NioPath)(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val jfr = Files.createTempFile(root, "process-starts", ".jfr")
    rec.dump(jfr)
    rec.close()
    RecordingFile.readAllEvents(jfr).asScala.toSeq.filter { e =>
      e.getEventType.getName == "jdk.ProcessStart" && Option(e.getStackTrace).exists(
        _.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.")))
    }
  }

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  test("create and nested mkdirs leave the stock modes, .crc files and FileStatus") {
    val (want, got) = stockAndForkFree { (fs, _, root) =>
      val r = new Path(root.toString)
      fs.mkdirs(new Path(r, "a/b/c"), perm("750"))
      fs.mkdirs(new Path(r, "d/e"))
      val out = fs.create(new Path(r, "a/b/c/part-00000"), true)
      try out.write("rows".getBytes(UTF_8)) finally out.close()
      fs.create(new Path(r, "x/y/_SUCCESS"), perm("600"), true, 4096, 1.toShort, 1L << 25, null).close()
      fs.setPermission(new Path(r, "d"), perm("700"))
      fs.setPermission(new Path(r, "a/b/c/part-00000"), perm("000"))
      val statuses = Seq("a", "a/b/c", "a/b/c/part-00000", "d", "d/e", "x/y/_SUCCESS")
        .map(s => fields(fs.getFileStatus(new Path(r, s)), root))
      (tree(root), statuses)
    }
    assert(want._1.exists(_._1 == "a/b/c/.part-00000.crc"), s"no checksum file: ${want._1}")
    assert(got == want)
  }

  test("FileContext create then rename(OVERWRITE) over an existing file matches stock") {
    val (want, got) = stockAndForkFree { (_, fc, root) =>
      val dst = new Path(s"$root/offsets/0")
      val tmp = new Path(s"$root/offsets/.0.tmp")
      write(fc, dst, "old offsets")
      write(fc, tmp, "new offsets, longer")
      fc.rename(tmp, dst, Options.Rename.OVERWRITE)
      (tree(root), fields(fc.getFileStatus(dst), root), fields(fc.getFileLinkStatus(dst), root))
    }
    assert(want._1.map(_._1) == Seq("offsets", "offsets/.0.crc", "offsets/0"), want._1)
    assert(got == want)
  }

  test("a symlink's getFileLinkStatus still reports the link and its target") {
    val (want, got) = stockAndForkFree { (fs, fc, root) =>
      val target = Files.write(root.resolve("target"), "x".getBytes(UTF_8))
      val link = Files.createSymbolicLink(root.resolve("link"), target)
      val p = new Path(link.toString)
      (fields(fs.getFileLinkStatus(p), root), fields(fc.getFileLinkStatus(p), root))
    }
    assert(want._1(2) == true && want._1.last == "/target", s"stock saw no link: $want")
    assert(got == want)
  }

  test("a sticky-bit setPermission and a setgid parent give the stock result") {
    val (want, got) = stockAndForkFree { (fs, _, root) =>
      val shared = new Path(s"$root/shared")
      fs.mkdirs(shared)
      fs.setPermission(shared, perm("1777"))
      val group = root.resolve("group")
      Files.createDirectory(group)
      Files.setAttribute(group, "unix:mode", Integer.parseInt("2775", 8))
      fs.mkdirs(new Path(s"$group/child"), perm("750"))
      tree(root)
    }
    val special = want.map(m => m._1 -> (m._2 & 0xE00)).toMap // setuid, setgid, sticky
    assert(special == Map("group" -> 0x400, "group/child" -> 0x400, "shared" -> 0x200), want)
    assert(got == want)
  }

  test("install rules: a user's key stays, and no context is created or needed") {
    val user = conf(Seq(stock.head))
    HadoopFs.useForkFreeLocal(user)
    assert(user.get("fs.file.impl") == stock.head._2)
    assert(user.get("fs.AbstractFileSystem.file.impl") == classOf[ForkFreeLocalFs].getName)
    val fresh = new Configuration()
    HadoopFs.useForkFreeLocal(fresh)
    HadoopFs.forkFreeLocal.foreach { case (k, v) => assert(fresh.get(k) == v, k) }

    SparkInternals.withNoActiveContext {
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(SparkInternals.activeContext.isEmpty, "the extension created a SparkContext")
    }

    // With a context, the extension replaces keys that hold Hadoop's
    // defaults (what a session built without the `spark.hadoop.*` keys carries).
    val hc = spark.sparkContext.hadoopConfiguration
    try {
      stock.foreach { case (k, v) => hc.set(k, v, "core-default.xml") }
      new GraftExtensions().apply(new SparkSessionExtensions)
      HadoopFs.forkFreeLocal.foreach { case (k, v) => assert(hc.get(k) == v, k) }
    } finally HadoopFs.forkFreeLocal.foreach { case (k, v) => hc.set(k, v) }
  }

  test("a checkpointed stateful micro-batch, its sink and a KafkaShim write start no OS process") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(FileSystem.get(local, spark.sparkContext.hadoopConfiguration).getClass ==
      classOf[ForkFreeLocalFileSystem], "the JVM's cached file: FileSystem is not graft's")
    val root = tempDir("graft_forkfree_guard_")
    val sum = new StatefulLogic[Long, SEvent, Long, STotal] {
      def zero = 0L
      def update(k: Long, v: SEvent, s: Long): (Long, IterableOnce[STotal]) =
        (s + v.v, Iterator.single(STotal(k, s + v.v)))
    }
    val input = MemoryStream[SEvent]
    val sink = StatefulParquetSink(root.resolve("out").toString)
    val toSink: (Dataset[STotal], Long) => Unit = (df, id) => sink.write(df.toDF(), id)

    val starts = hadoopProcessStarts(root) {
      val q = StatefulExec.stream[Long, SEvent, Long, STotal](input.toDS(), _.k, sum)
        .writeStream.option("checkpointLocation", root.resolve("ckpt").toString)
        .outputMode("append").foreachBatch(toSink).start()
      try {
        input.addData(SEvent(1, 10), SEvent(2, 5))
        q.processAllAvailable()
        input.addData(SEvent(1, 7))
        q.processAllAvailable()
      } finally q.stop()
      KafkaShim.write(
        Seq((0, "k", "v", Timestamp.valueOf("2026-01-01 00:00:00"))).toDF("partition", "key", "value", "ts"),
        root.resolve("kafka").toString, "events", orderCols = Seq("ts"))
    }
    assert(starts.isEmpty, s"${starts.size} processes started:\n" + starts.map { e =>
      val top = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.take(6))
        .map(f => s"    at ${f.getMethod.getType.getName}.${f.getMethod.getName}")
      (e.getString("command") +: top).mkString("\n")
    }.mkString("\n"))
    assert(sink.committedEpoch.contains(1L))
    assert(spark.read.parquet(root.resolve("out").toString).as[STotal].collect().toSeq == Seq(STotal(1, 17)))

    // Negative control: the same filter sees the `chmod` that Hadoop's
    // stock filesystem starts for a setPermission.
    val stockFs = FileSystem.newInstance(local, conf(stock))
    val file = Files.createFile(root.resolve("control"))
    val control =
      try hadoopProcessStarts(root)(stockFs.setPermission(new Path(file.toString), perm("600")))
      finally stockFs.close()
    assert(control.nonEmpty, "the filter missed the stock setPermission's process")
  }
}
