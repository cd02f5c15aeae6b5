package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.StoreCommit
import graft.streaming.StreamingIngest

/** The session's `file:` filesystem starts no process on the write path,
  * and answers every question the way stock `LocalFileSystem` / `LocalFs`
  * do: permissions, `.crc` sidecars, no-overwrite renames, link probes. */
class SpawnFreeLocalFsSpec extends AnyFunSuite with SparkSuite {

  private var base: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    base = Files.createTempDirectory("graft_localfs").toString
  }

  private val root = URI.create("file:///")

  /** Stock and spawn-free, as FileSystem (uncached) and as FileContext. */
  private def fileSystems: Seq[(String, FileSystem)] = Seq(
    "stock" -> new LocalFileSystem, "spawn-free" -> new SpawnFreeLocalFileSystem)
    .map { case (n, fs) => fs.initialize(root, new Configuration()); n -> fs }

  private def fileContexts: Seq[(String, FileContext)] = {
    val conf = new Configuration()
    Seq("stock" -> FileContext.getLocalFSFileContext(conf),
      "spawn-free" -> FileContext.getFileContext(new SpawnFreeLocalFs(root, conf), conf))
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0x0fff

  private def writeString(out: java.io.OutputStream, s: String): Unit =
    try out.write(s.getBytes("UTF-8")) finally out.close()

  test("the factory session resolves file: to the spawn-free classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(root, conf).isInstanceOf[SpawnFreeLocalFileSystem])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.isInstanceOf[SpawnFreeLocalFs])
  }

  test("an ingest drain and a store publish start no chmod, readlink, ls or stat process") {
    val landing = s"$base/landing"
    Files.createDirectories(Paths.get(landing))
    new java.io.File(graft.queries.PipelineQueries.SamplesDir).listFiles()
      .filter(_.getName.endsWith(".json"))
      .foreach(f => Files.copy(f.toPath, Paths.get(landing, f.getName)))
    val store = new Path(s"$base/store")
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      StreamingIngest.start(spark, landing, s"$base/events", s"$base/ckpt", Trigger.AvailableNow(),
        dedupWatermark = Some("10 minutes")).awaitTermination(180000)
      val fs = StoreCommit.fsOf(spark, store)
      StoreCommit.publish(fs, store)(tmp => writeString(fs.create(new Path(tmp, "part")), "v1"))
      // the recording sees a process start
      new ProcessBuilder("true").start().waitFor()
    } finally recording.stop()
    val dump = Files.createTempFile(Paths.get(base), "spawns", ".jfr")
    try recording.dump(dump) finally recording.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
      .map(_.getString("command"))
    def program(command: String) = command.split(" ").head.split("/").last
    assert(spark.read.parquet(s"$base/events").count() == 5, "test setup: the samples did not land")
    assert(new java.io.File(s"$base/store/part").exists(), "test setup: the store was not published")
    assert(commands.map(program).contains("true"), s"test setup: the recording saw no process start: $commands")
    val forked = commands.filter(c => Set("chmod", "readlink", "ls", "stat")(program(c)))
    assert(forked.size == 0, s"process starts on the write path, first: ${forked.take(5)}")
  }

  test("created files and dirs get the stock permissions; a sticky bit too") {
    val viaFs = fileSystems.map { case (n, fs) =>
      val d = s"$base/perm_fs_$n"
      fs.mkdirs(new Path(s"$d/a/b"))
      fs.mkdirs(new Path(s"$d/c"), new FsPermission("750"))
      fs.create(new Path(s"$d/a/b/f")).close()
      fs.create(new Path(s"$d/g"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
      fs.setPermission(new Path(s"$d/c"), new FsPermission("1777"))
      n -> Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "c", "g", ".g.crc").map(p => mode(s"$d/$p"))
    }.toMap
    val viaFc = fileContexts.map { case (n, fc) =>
      val d = s"$base/perm_fc_$n"
      fc.mkdir(new Path(s"$d/a/b"), FsPermission.getDirDefault, true)
      fc.create(new Path(s"$d/a/b/f"), EnumSet.of(CreateFlag.CREATE)).close()
      fc.setPermission(new Path(s"$d/a/b/f"), new FsPermission("600"))
      n -> Seq("a", "a/b", "a/b/f", "a/b/.f.crc").map(p => mode(s"$d/$p"))
    }.toMap
    assert(viaFs("spawn-free") == viaFs("stock"))
    assert(viaFc("spawn-free") == viaFc("stock"))
    // the settings reached the files: an explicit mode, the sticky bit
    def octal(s: String) = Integer.parseInt(s, 8)
    assert(viaFs("stock")(4) == octal("1777") && viaFs("stock")(5) == octal("640"))
    assert(viaFc("stock")(2) == octal("600"))
  }

  test(".crc sidecars are written; a flipped byte fails a FileSystem read, as stock") {
    /** Writes `data`, checks its sidecar, flips a byte behind the checksum
      * and reads it back: the exception class, or the content read. */
    def flipAndRead(n: String, data: String, create: Path => java.io.OutputStream,
        open: Path => java.io.InputStream): String = {
      val p = new Path(data)
      writeString(create(p), "the quick brown fox jumps over the lazy dog")
      assert(new java.io.File(p.getParent.toString, s".${p.getName}.crc").exists(), s"$n: no .crc sidecar")
      val raf = new RandomAccessFile(data, "rw")
      try { raf.seek(4); raf.write('Q') } finally raf.close()
      scala.util.Try { val in = open(p); try new String(in.readAllBytes(), "UTF-8") finally in.close() }
        .fold(_.getClass.getSimpleName, identity)
    }
    val viaFs = fileSystems.map { case (n, fs) =>
      n -> flipAndRead(s"FileSystem $n", s"$base/crc_fs_$n/f", fs.create(_), fs.open(_))
    }.toMap
    val viaFc = fileContexts.map { case (n, fc) =>
      n -> flipAndRead(s"FileContext $n", s"$base/crc_fc_$n/f",
        fc.create(_, EnumSet.of(CreateFlag.CREATE), org.apache.hadoop.fs.Options.CreateOpts.createParent()),
        fc.open(_))
    }.toMap
    assert(viaFs == Map("stock" -> "ChecksumException", "spawn-free" -> "ChecksumException"))
    // FileContext's stock read does not verify the sidecar (Hadoop 3.4
    // returns the flipped bytes); whatever it does, the spawn-free one must
    // do the same
    assert(viaFc("spawn-free") == viaFc("stock"))
  }

  test("createAtomic without overwrite still refuses an existing file") {
    Seq("stock" -> new Configuration(), "spawn-free" -> spark.sparkContext.hadoopConfiguration)
      .foreach { case (n, conf) =>
        val target = new Path(s"$base/atomic_$n/f")
        val cfm = CheckpointFileManager.create(target.getParent, conf)
        cfm.mkdirs(target.getParent)
        writeString(cfm.createAtomic(target, overwriteIfPossible = false), "v1")
        intercept[FileAlreadyExistsException](
          writeString(cfm.createAtomic(target, overwriteIfPossible = false), "v2"))
        assert(new String(Files.readAllBytes(Paths.get(target.toString)), "UTF-8") == "v1", n)
      }
  }

  test("getFileLinkStatus gives the stock answer on a real link and on a qualified file: path") {
    val target = Files.createFile(Paths.get(base, "link_target"))
    Files.writeString(target, "x" * 7)
    val link = Files.createSymbolicLink(Paths.get(base, "link"), target)
    val plain = new Path(link.toString)
    val qualified = new Path(s"file:$link")
    def answer(s: FileStatus) = (s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "",
      s.getPath.toString, s.getLen, s.isDirectory)
    val raw = Seq("stock" -> new RawLocalFileSystem, "spawn-free" -> new SpawnFreeRawLocalFileSystem)
      .map { case (n, fs) => fs.initialize(root, new Configuration()); n -> fs }
    val answers = (raw ++ fileSystems).groupBy(_._1).map { case (n, fss) =>
      n -> fss.flatMap { case (_, fs) => Seq(plain, qualified).map(p => answer(fs.getFileLinkStatus(p))) }
    } ++ fileContexts.map { case (n, fc) =>
      s"fc $n" -> Seq(plain, qualified).map(p => answer(fc.getFileLinkStatus(p)))
    }
    assert(answers("spawn-free") == answers("stock"))
    assert(answers("fc spawn-free") == answers("fc stock"))
    // the stock answers being kept: a link on the plain path, none on the
    // qualified one (`readlink` is run on the literal "file:/..." string)
    assert(answers("stock").map(_._1) == Seq(true, false, true, false))
  }
}
