package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite

/** The fork-free `file:` filesystem against Hadoop's stock one: the same
  * modes, the same link statuses, the same bytes on disk (data and `.crc`
  * sidecars), checksums still enforced, and no `chmod`/`readlink`/`ls`/
  * `stat` process for a checkpointed micro-batch.
  */
class LocalFsSpec extends AnyFunSuite with SparkSpec {
  private val root = URI.create("file:///")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(root, new Configuration())
    fs
  }
  private lazy val stock = raw(new RawLocalFileSystem)
  private lazy val nio = raw(new NioRawLocalFileSystem)

  /** The full st_mode, file type and sticky bit included. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  private def hp(p: JPath) = new Path(p.toString)

  test("setPermission leaves the same mode as chmod") {
    val dir = Files.createTempDirectory("localfs-perm")
    // 0600, 0644, 0755, and each of the nine bits on its own
    val modes = Seq(0x180, 0x1a4, 0x1ed) ++ (0 until 9).map(1 << _)
    for (m <- modes; dirs <- Seq(false, true)) {
      def made(name: String) =
        if (dirs) Files.createDirectory(dir.resolve(name))
        else Files.createFile(dir.resolve(name))
      val a = made(s"stock-$m-$dirs")
      val b = made(s"nio-$m-$dirs")
      // start both from a mode the target has to change
      Files.setPosixFilePermissions(a, LocalFs.posix(0x1ff))
      Files.setPosixFilePermissions(b, LocalFs.posix(0x1ff))
      stock.setPermission(hp(a), new FsPermission(m.toShort))
      nio.setPermission(hp(b), new FsPermission(m.toShort))
      assert(mode(b) === mode(a), f"mode $m%o, directory $dirs")
      assert((mode(b) & 0xfff) === m)
    }
  }

  test("the sticky bit takes Hadoop's own path") {
    val dir = Files.createTempDirectory("localfs-sticky")
    val a = Files.createDirectory(dir.resolve("stock"))
    val b = Files.createDirectory(dir.resolve("nio"))
    val sticky = new FsPermission(0x3ed.toShort) // 01755
    stock.setPermission(hp(a), sticky)
    nio.setPermission(hp(b), sticky)
    // java.nio cannot set the sticky bit: only the fallback leaves it
    assert((mode(b) & 0xfff) === 0x3ed)
    assert(mode(b) === mode(a))
  }

  private def same(a: FileStatus, b: FileStatus): Unit = {
    assert(b.getPath === a.getPath)
    assert(b.isFile === a.isFile)
    assert(b.isDirectory === a.isDirectory)
    assert(b.isSymlink === a.isSymlink)
    if (a.isSymlink) assert(b.getSymlink === a.getSymlink)
    assert(b.getLen === a.getLen)
    assert(b.getModificationTime === a.getModificationTime)
    assert(b.getPermission === a.getPermission)
    assert(b.getOwner === a.getOwner)
    assert(b.getGroup === a.getGroup)
  }

  test("getFileLinkStatus agrees on a file, a directory, a symlink and a missing path") {
    val dir = Files.createTempDirectory("localfs-link")
    val file = Files.writeString(dir.resolve("f"), "bytes")
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    for (p <- Seq(file, sub, link)) {
      same(stock.getFileLinkStatus(hp(p)), nio.getFileLinkStatus(hp(p)))
      // qualified as Spark passes them
      val q = stock.makeQualified(hp(p))
      same(stock.getFileLinkStatus(q), nio.getFileLinkStatus(q))
    }
    assert(nio.getFileLinkStatus(hp(link)).isSymlink)
    assert(nio.getFileLinkStatus(hp(link)).getSymlink ===
      stock.makeQualified(hp(file)))
    val missing = hp(dir.resolve("missing"))
    val e1 = intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    val e2 = intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
    assert(e2.getMessage === e1.getMessage)
  }

  /** FileContext's atomic publish (create a temp file, rename it over the
    * target), as Spark's checkpoint manager does it. */
  private def publish(fc: FileContext, dir: Path, body: String): Path = {
    val target = new Path(dir, "log")
    for ((name, text) <- Seq("first" -> "old", "next" -> body)) {
      val tmp = new Path(dir, s".$name.tmp")
      val out = fc.create(tmp,
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(text.getBytes("UTF-8")) finally out.close()
      fc.rename(tmp, target, Options.Rename.OVERWRITE)
    }
    target
  }

  private def context(afs: String): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", afs)
    FileContext.getFileContext(root, conf)
  }

  test("FileContext rename-with-overwrite writes the same files; a flipped byte fails the read") {
    val base = Files.createTempDirectory("localfs-fc")
    val stockFc = context("org.apache.hadoop.fs.local.LocalFs")
    val nioFc = context(classOf[NioLocalFs].getName)
    assert(nioFc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val body = "x" * 1500 // more than one 512-byte checksum chunk
    val dirs = Seq("stock" -> stockFc, "nio" -> nioFc).map { case (name, fc) =>
      val d = Files.createDirectory(base.resolve(name))
      publish(fc, hp(d), body)
      d
    }
    def files(d: JPath) = Files.list(d).iterator.asScala
      .map(p => p.getFileName.toString -> (Files.readAllBytes(p).toSeq, mode(p)))
      .toMap
    // the data file and its .crc sidecar, byte for byte and mode for mode
    assert(files(dirs(0)).keySet === Set("log", ".log.crc"))
    assert(files(dirs(1)) === files(dirs(0)))

    // open(path, bufferSize) reads through ChecksumFs; Hadoop's
    // FilterFs.open(path) skips it on either filesystem
    def read(fc: FileContext, d: JPath) = {
      val in = fc.open(hp(d.resolve("log")), 4096)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    for ((fc, d) <- Seq(stockFc, nioFc).zip(dirs)) {
      assert(read(fc, d) === body)
      val bytes = Files.readAllBytes(d.resolve("log"))
      bytes(700) = 'y'.toByte
      Files.write(d.resolve("log"), bytes)
      intercept[ChecksumException](read(fc, d))
    }
  }

  test("the shared session's file: paths use the fork-free filesystem") {
    val hconf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, hconf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, hconf).getDefaultFileSystem
      .isInstanceOf[NioLocalFs])
  }

  test("fork guard: three checkpointed micro-batches start no chmod, " +
      "readlink, ls or stat") {
    import graft.streaming.AnalysisStream._
    val dir = Files.createTempDirectory("localfs-forks")
    val inDir = Files.createDirectories(dir.resolve("in"))
    val out = dir.resolve("stats.json").toString
    val ckpt = dir.resolve("ckpt")
    val enc = Encoders.product[StatEvent]
    def feed(batch: Int): Unit = {
      val body = (0 until 40).map { i =>
        val t = f"2021-01-16T17:$batch%02d:$i%02dZ"
        s"""{"host":"h${i % 7}.org","event_ts":"$t",""" +
          s""""status_code":${if (i % 5 == 0) 404 else 200},"mimetype":"text/html"}"""
      }.mkString("", "\n", "\n")
      val tmp = Files.writeString(dir.resolve(s"b$batch.json"), body)
      Files.move(tmp, inDir.resolve(s"b$batch.json"), StandardCopyOption.ATOMIC_MOVE)
    }

    val events = spark.readStream.schema(enc.schema).json(inDir.toString).as(enc)
    val q = snapshotQuery(hostStats(events), out, topN = 500,
      intervalMs = 100L, checkpoint = ckpt.toString)(spark)
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    val query = try {
      val query = q.start()
      try for (b <- 1 to 3) { feed(b); query.processAllAvailable() }
      finally query.stop()
      // control: the recording does see a process start
      new ProcessBuilder("true").start().waitFor()
      query
    } finally recording.stop()
    val jfr = Files.createTempFile(dir, "forks", ".jfr")
    recording.dump(jfr)
    recording.close()

    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command")).toSeq
    def program(cmd: String) = cmd.trim.split("\\s+").head.split('/').last
    assert(commands.map(program).contains("true"), commands)
    val forked = commands.filter(c =>
      Set("chmod", "readlink", "ls", "stat")(program(c)))
    assert(forked.isEmpty, s"${forked.size} forks, e.g. ${forked.take(3)}")

    // the three batches ran and committed a checksummed checkpoint
    assert(query.recentProgress.count(_.numInputRows > 0) === 3)
    assert(Files.exists(ckpt.resolve("commits").resolve("2")))
    assert(Files.exists(ckpt.resolve("commits").resolve(".2.crc")))
    assert(rehydrateHostStats(spark, ckpt.toString).collect()
      .map(_.total).sum === 120L)
  }
}
