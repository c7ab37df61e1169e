package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Engine, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The in-process local filesystem answers exactly as Hadoop's
  * shell-based `RawLocalFileSystem` does, and the engine's local file
  * work starts no process once it is pinned. */
class LocalFsSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private def init[F <: org.apache.hadoop.fs.FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
  private lazy val nio = init(new NioRawLocalFileSystem)
  private lazy val hadoop = init(new RawLocalFileSystem)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff

  private def fields(st: FileStatus) =
    (st.getPath, st.getLen, st.isDirectory, st.isSymlink, st.getModificationTime,
      st.getPermission, st.getOwner, st.getGroup)

  /** A file, a directory, a sticky-bit directory, a link to the file, a
    * link to the directory and a dangling link under a fresh dir. */
  private def fixture(): JPath = {
    val d = Files.createTempDirectory("localfs_spec")
    Files.writeString(d.resolve("file.txt"), "twelve bytes")
    Files.createDirectory(d.resolve("dir"))
    Files.setAttribute(Files.createDirectory(d.resolve("sticky")), "unix:mode", Integer.valueOf(0x3ff))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("file.txt"))
    Files.createSymbolicLink(d.resolve("dirlink"), d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("missing"))
    d
  }

  test("getFileStatus and listStatus equal Hadoop's RawLocalFileSystem, sticky bit and links included") {
    val d = fixture()
    try {
      assert(mode(d.resolve("sticky")) == 0x3ff)
      for (name <- Seq("file.txt", "dir", "sticky", "link", "dirlink")) {
        val p = new Path(d.resolve(name).toUri)
        assert(fields(nio.getFileStatus(p)) == fields(hadoop.getFileStatus(p)), name)
      }
      assert(nio.getFileStatus(new Path(d.resolve("sticky").toUri)).getPermission.getStickyBit)
      for (name <- Seq("missing", "dangling")) {
        val p = new Path(d.resolve(name).toUri)
        val e = intercept[FileNotFoundException](nio.getFileStatus(p))
        assert(e.getMessage == intercept[FileNotFoundException](hadoop.getFileStatus(p)).getMessage)
        intercept[FileNotFoundException](nio.listStatus(p))
      }
      for (p <- Seq(new Path(d.toUri), new Path(d.resolve("file.txt").toUri), new Path(d.toString)))
        assert(nio.listStatus(p).map(fields).toSeq == hadoop.listStatus(p).map(fields).toSeq, p)
    } finally graft.streaming.EventStreams.deleteTree(d)
  }

  test("getFileLinkStatus reports links with their target, for plain and qualified paths") {
    val d = fixture()
    try {
      for (name <- Seq("link", "dirlink", "dangling")) {
        val plain = new Path(d.resolve(name).toString)
        val ours = nio.getFileLinkStatus(plain)
        // Hadoop's readlink of an unqualified path works, so it is the reference
        val ref = hadoop.getFileLinkStatus(plain)
        assert(ref.isSymlink && ours.isSymlink, name)
        assert(ours.getSymlink == ref.getSymlink, name)
        assert((ours.getPath, ours.getLen, ours.isDirectory, ours.getPermission) ==
          (ref.getPath, ref.getLen, ref.isDirectory, ref.getPermission), name)
        val qualified = nio.getFileLinkStatus(new Path(d.resolve(name).toUri))
        assert(qualified.isSymlink && qualified.getSymlink == ours.getSymlink, name)
        assert(nio.getLinkTarget(plain) == hadoop.getLinkTarget(plain), name)
      }
      val file = new Path(d.resolve("file.txt").toUri)
      assert(fields(nio.getFileLinkStatus(file)) == fields(hadoop.getFileStatus(file)))
    } finally graft.streaming.EventStreams.deleteTree(d)
  }

  test("setPermission round-trips 0644, 0755, 0700 and 1777 without a shell") {
    val d = fixture()
    try {
      for (name <- Seq("file.txt", "dir"); perm <- Seq(0x1a4, 0x1ed, 0x1c0, 0x3ff)) {
        val p = new Path(d.resolve(name).toUri)
        nio.setPermission(p, new FsPermission(perm.toShort))
        assert(hadoop.getFileStatus(p).getPermission.toShort == perm, f"$name $perm%o")
        assert(nio.getFileStatus(p).getPermission.toShort == perm, f"$name $perm%o")
        assert(mode(d.resolve(name)) == perm, f"$name $perm%o")
      }
      intercept[FileNotFoundException](
        nio.setPermission(new Path(d.resolve("missing").toUri), FsPermission.getFileDefault))
    } finally graft.streaming.EventStreams.deleteTree(d)
  }

  test("the checksummed wrappers keep their .crc files") {
    val d = Files.createTempDirectory("localfs_spec_crc")
    try {
      val fs = init(new NioLocalFileSystem)
      val out = fs.create(new Path(d.resolve("a.bin").toUri))
      out.write(Array[Byte](1, 2, 3))
      out.close()
      assert(Files.exists(d.resolve(".a.bin.crc")))
      val fc = FileContext.getFileContext(new NioLocalFs(URI.create("file:///"), conf), conf)
      val tmp = new Path(d.resolve("b.tmp").toUri)
      val s = fc.create(tmp, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      s.write(Array[Byte](4, 5))
      s.close()
      fc.rename(tmp, new Path(d.resolve("b.bin").toUri), Options.Rename.OVERWRITE)
      assert(Files.exists(d.resolve(".b.bin.crc")) && !Files.exists(d.resolve(".b.tmp.crc")))
      assert(Files.readAllBytes(d.resolve("b.bin")).toSeq == Seq[Byte](4, 5))
    } finally graft.streaming.EventStreams.deleteTree(d)
  }

  test("a windowed-counts drain, a CSV write and a table read start no filesystem process (child JVM)") {
    val forks = CodegenReuse.childJvmOutput("graft.ForkCensus", "perfbench/data/sf0.01")
    val line = """FORKS n=(\d+) (.*)""".r
    line.findFirstMatchIn(forks) match {
      case Some(m) => assert(m.group(1).toInt == 0, s"processes started: ${m.group(2)}")
      case None => fail(s"child JVM printed no FORKS line:\n${forks.takeRight(4000)}")
    }
  }
}

/** Counts the processes the engine starts for local file work, with a
  * JFR recording of `jdk.ProcessStart`, in a JVM whose first `file:`
  * filesystem an [[Engine.session]] created (Hadoop caches one per
  * scheme and user, whatever the conf). Prints
  * `FORKS n=<count> <command@caller:count,...> (Spark: <the same>)`. */
object ForkCensus {
  def main(args: Array[String]): Unit = {
    val Array(sf) = args
    val spark = Engine.session("local[2]", "fork-census", 2)
    val out = Files.createTempDirectory("fork_census")
    def work(round: Int): Unit = {
      spark.catalog.dropTempView("fork_census_stream")
      graft.streaming.EventStreams.runToMemory(spark, s"$sf/events.parquet",
        graft.streaming.EventStreams.windowedCounts, "fork_census_stream").collect()
      spark.range(100).selectExpr("id", "id * 2 AS v").write.csv(out.resolve(s"csv$round").toString)
      Engine.table(spark, sf, "orders").count()
    }
    try {
      // the first round loads classes whose static set-up may start a
      // process once per JVM; the second is what every run pays
      work(0)
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      work(1)
      rec.stop()
      val dump = out.resolve("forks.jfr")
      rec.dump(dump)
      rec.close()
      // each start as its command and the first caller outside the JDK
      // and Hadoop's Shell. Counted are the starts from Hadoop code (the
      // filesystem); Spark's own are reported apart: its ArtifactManager
      // cleans up each released session (a stream's clone too) with
      // `rm -rf`, and its executor metrics run `getconf` once per JVM,
      // both when a GC or a heartbeat comes round
      val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          val caller = frames.find(m => !m.startsWith("java.") && !m.startsWith("jdk.") &&
            !m.startsWith("org.apache.hadoop.util.Shell"))
          (s"${e.getString("command").split(' ').head}@${caller.getOrElse("?")}",
            frames.exists(_.startsWith("org.apache.hadoop.")))
        }
      def summary(xs: Iterable[(String, Boolean)]) =
        xs.groupBy(_._1).map { case (c, n) => s"$c:${n.size}" }.mkString(",")
      val (fromHadoop, fromSpark) = starts.partition(_._2)
      println(s"FORKS n=${fromHadoop.size} ${summary(fromHadoop)} (Spark: ${summary(fromSpark)})")
    } finally {
      spark.stop()
      graft.streaming.EventStreams.deleteTree(out)
    }
  }
}
