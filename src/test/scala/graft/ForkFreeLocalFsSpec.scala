package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.core.{ForkFreeLocalFileSystem, ForkFreeLocalFs, GraftSession}
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** [[ForkFreeLocalFileSystem]] and [[ForkFreeLocalFs]] against Hadoop's
  * forking local filesystems: the same files, checksums, permissions,
  * link statuses and renames, without the processes — and a stateful
  * micro-batch under the graft settings starts none between snapshots.
  */
class ForkFreeLocalFsSpec extends SparkSpec {

  private val LocalUri = URI.create("file:///")

  /** Hadoop configuration for `file`: the graft settings' fork-free
    * implementations, or Hadoop's forking `LocalFileSystem` and `LocalFs`.
    */
  private def conf(forkFree: Boolean, umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (forkFree) GraftSession.StatefulStreamingSettings.collect {
      case (k, v) if k.startsWith("spark.hadoop.") => c.set(k.stripPrefix("spark.hadoop."), v)
    }
    else {
      c.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
      c.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    }
    c
  }

  /** A `FileSystem` and a `FileContext` for `file`, outside Hadoop's
    * FileSystem cache, so each side gets the implementation it names.
    */
  private def local(forkFree: Boolean, umask: String = "022"): (FileSystem, FileContext) = {
    val c = conf(forkFree, umask)
    (FileSystem.newInstance(LocalUri, c), FileContext.getFileContext(LocalUri, c))
  }

  private def tmp(prefix: String): Path = new Path(Files.createTempDirectory(prefix).toUri)

  private def jpath(p: Path): JPath = java.nio.file.Paths.get(p.toUri)

  /** Permission bits, sticky bit included. */
  private def mode(p: JPath): String = Integer.toOctalString(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  private def write(fc: FileContext, p: Path, bytes: Array[Byte]): Unit = {
    val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE), Options.CreateOpts.createParent())
    try out.write(bytes)
    finally out.close()
  }

  private def read(fc: FileContext, p: Path): Array[Byte] = {
    val in = fc.open(p)
    try in.readAllBytes()
    finally in.close()
  }

  /** Process starts recorded by JFR while `body` runs, as command lines. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body
    finally rec.stop()
    val dump = Files.createTempFile("graft_jfr", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile
        .readAllEvents(dump)
        .asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .toSeq
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  /** The value of `body`, or the simple name of what it threw. */
  private def outcome(body: => Any): Any = try body catch { case e: Exception => e.getClass.getSimpleName }

  test("the graft settings replace only the file scheme's two implementations") {
    assert(GraftSession.StatefulStreamingSettings.collect { case (k, _) if k.startsWith("spark.hadoop.") => k } ==
      Seq("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl"))
    val (fs, fc) = local(forkFree = true)
    assert(fs.getClass == classOf[ForkFreeLocalFileSystem])
    assert(fc.getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
    fs.close()
  }

  test(".crc files are still written, and a flipped byte fails the read with ChecksumException") {
    def run(forkFree: Boolean): Seq[Any] = {
      val (fs, fc) = local(forkFree)
      val dir = tmp("graft_crc")
      val payload = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
      val viaFc = new Path(dir, "fc/1.delta")
      val viaFs = new Path(dir, "fs/1.delta")
      write(fc, viaFc, payload)
      val out = fs.create(viaFs)
      try out.write(payload)
      finally out.close()
      try Seq(viaFc, viaFs).flatMap { p =>
        val crc = Files.exists(jpath(new Path(p.getParent, s".${p.getName}.crc")))
        val intact = read(fc, p).sameElements(payload)
        val raf = new RandomAccessFile(jpath(p).toFile, "rw")
        try { raf.seek(100); val b = raf.read(); raf.seek(100); raf.write(b ^ 0xff) }
        finally raf.close()
        def readFs() = { val in = fs.open(p); try in.readAllBytes().length finally in.close() }
        Seq(crc, intact, outcome(read(fc, p).length), outcome(readFs()))
      } finally fs.close()
    }
    // per file: .crc written, intact read, then the flipped byte read
    // through FileContext and through FileSystem. Hadoop's LocalFs does
    // not check a local file's .crc on FileContext.open(Path), so there
    // the flipped byte reads back silently; ForkFreeLocalFs checks it.
    assert(run(forkFree = true) == Seq.fill(2)(Seq(true, true, "ChecksumException", "ChecksumException")).flatten)
    assert(run(forkFree = false) == Seq.fill(2)(Seq(true, true, 4096, "ChecksumException")).flatten)
  }

  test("a flipped byte in a stopped firstWinsDedup checkpoint's offset log fails the restart, naming the file") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_crc_ckpt")
    val input = MemoryStream[Event]
    def start() = StreamingOps
      .firstWinsDedup(input.toDS(), windowSec = 900)
      .writeStream
      .format("noop")
      .option("checkpointLocation", ckpt.toString)
      .start()
    def append(q: StreamingQuery, i: Int): Unit = {
      input.addData((0 until 20).map(j => Event(i * 20L + j, new Timestamp(1700000000000L + (i * 20L + j) * 1000L), j % 5, "click", j)))
      q.processAllAvailable()
    }
    withStatefulStreamingSettings {
      val q = start()
      try (0 until 3).foreach(append(q, _))
      finally q.stop()
      val offsets = ckpt.resolve("offsets")
      val latest = Files.list(offsets).iterator().asScala.map(_.getFileName.toString).filter(_.forall(_.isDigit)).maxBy(_.toLong)
      val file = offsets.resolve(latest)
      assert(Files.exists(offsets.resolve(s".$latest.crc")))
      // the source offset's last digit becomes another digit: still a
      // well-formed offset log, which without the .crc check reads back
      val bytes = Files.readAllBytes(file)
      val at = bytes.lastIndexWhere(b => b >= '0' && b <= '9')
      bytes(at) = (bytes(at) ^ 1).toByte
      Files.write(file, bytes)
      val restarted = start()
      val error =
        try intercept[StreamingQueryException](append(restarted, 3))
        finally restarted.stop()
      val messages = Iterator.iterate[Throwable](error)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
      assert(messages.exists(m => m != null && m.contains("Checksum error") && m.contains(s"offsets/$latest")), messages)
    }
  }

  test("permissions after create and mkdirs match the forking implementation's, under the same umask") {
    for (umask <- Seq("022", "027", "077")) {
      def layout(forkFree: Boolean): Seq[(String, String)] = {
        val (fs, fc) = local(forkFree, umask)
        val root = tmp("graft_perm")
        fs.mkdirs(new Path(root, "a/b"))
        fs.mkdirs(new Path(root, "c"), new FsPermission("750"))
        fs.create(new Path(root, "a/b/f")).close()
        fs.create(new Path(root, "c/g"), new FsPermission("640"), false, 4096, 1.toShort, 1L << 20, null).close()
        fc.mkdir(new Path(root, "d/e"), FsPermission.getDirDefault, true)
        write(fc, new Path(root, "d/e/h"), Array[Byte](1, 2, 3))
        fs.mkdirs(new Path(root, "s"))
        fs.setPermission(new Path(root, "s"), new FsPermission("1777"))
        fs.setPermission(new Path(root, "a/b/f"), new FsPermission("604"))
        fs.close()
        Files
          .walk(jpath(root))
          .iterator()
          .asScala
          .map(p => jpath(root).relativize(p).toString -> mode(p))
          .toSeq
          .sorted
      }
      val forkFree = layout(forkFree = true)
      assert(forkFree == layout(forkFree = false), s"umask $umask")
      assert(forkFree.size == 13, forkFree) // root, 6 directories, 3 files and their .crc files
      assert(forkFree.toMap.apply("s") == "1777")
    }
  }

  test("link status is unchanged for files, directories, symlinks and missing paths") {
    val (fs, fc) = local(forkFree = true)
    val (stockFs, stockFc) = local(forkFree = false)
    val dir = tmp("graft_link")
    val file = new Path(dir, "target")
    write(fc, file, Array[Byte](1, 2, 3))
    val link = new Path(dir, "link")
    Files.createSymbolicLink(jpath(link), jpath(file))
    val dangling = new Path(dir, "dangling")
    Files.createSymbolicLink(jpath(dangling), jpath(new Path(dir, "missing")))
    def view(s: org.apache.hadoop.fs.FileStatus) =
      (s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.isDirectory, s.getLen, s.getPermission)
    val paths = Seq(file, dir, link, dangling, new Path(dir, "none"))
    // qualified (file:/...) and bare (/...) spellings of each path
    for (p <- paths ++ paths.map(p => new Path(p.toUri.getPath))) {
      assert(outcome(view(fs.getFileLinkStatus(p))) == outcome(view(stockFs.getFileLinkStatus(p))), p)
      assert(outcome(view(fc.getFileLinkStatus(p))) == outcome(view(stockFc.getFileLinkStatus(p))), p)
    }
    // Hadoop reports a symlink only for a bare path (it runs readlink
    // on the path string); the comparison above covers both spellings
    assert(Seq(link, dangling, file).map(p => fs.getFileLinkStatus(new Path(p.toUri.getPath)).isSymlink) ==
      Seq(true, true, false))
    Seq(fs, stockFs).foreach(_.close())
  }

  test("rename with and without overwrite behaves as the forking implementation does") {
    def run(forkFree: Boolean): Seq[Any] = {
      val (_, fc) = local(forkFree)
      val dir = tmp("graft_rename")
      val (src, dst) = (new Path(dir, "tmp.delta"), new Path(dir, "1.delta"))
      write(fc, dst, "old".getBytes)
      write(fc, src, "new".getBytes)
      val refused = intercept[FileAlreadyExistsException](fc.rename(src, dst)).getClass.getSimpleName
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      Seq(
        refused,
        new String(read(fc, dst)),
        fc.util.exists(src),
        Files.exists(jpath(new Path(dir, ".tmp.delta.crc"))),
        Files.exists(jpath(new Path(dir, ".1.delta.crc")))
      )
    }
    val forkFree = run(forkFree = true)
    assert(forkFree == run(forkFree = false))
    assert(forkFree == Seq("FileAlreadyExistsException", "new", false, false, true))
  }

  test("checkpoint-style file operations start no process; the forking filesystem starts one per call") {
    def ops(forkFree: Boolean): Seq[String] = {
      val (fs, fc) = local(forkFree)
      val dir = tmp("graft_ops")
      try processStarts {
        for (i <- 0 until 5) {
          val tmpFile = new Path(dir, s"offsets/.$i.tmp")
          write(fc, tmpFile, s"v$i".getBytes)
          fc.rename(tmpFile, new Path(dir, s"offsets/$i"), Options.Rename.OVERWRITE)
          fs.mkdirs(new Path(dir, s"state/$i"))
          fs.create(new Path(dir, s"state/$i/1.delta")).close()
        }
      } finally fs.close()
    }
    assert(ops(forkFree = true).isEmpty)
    // the control: the same calls on Hadoop's filesystem do fork, so the
    // recording above can see a process start
    assert(ops(forkFree = false).size >= 5 * 4)
  }

  test("steady-state micro-batches of firstWinsDedup start no process between RocksDB snapshots") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (warm, measured, rows) = (3, 6, 50)
    val events = (0 until (warm + measured) * rows).map { i =>
      Event(i.toLong, new Timestamp(1700000000000L + i * 2000L), (i % 17).toLong, if (i % 3 == 0) "click" else "view", i)
    }

    // graftSettings = false replays the settings before the fork-free
    // filesystems: RocksDB with a snapshot per commit on Hadoop's
    // local filesystem
    // returns the process starts over the measured batches, the number
    // of batches with input, and the number of batches (store versions)
    def run(graftSettings: Boolean): (Seq[String], Int, Long) = withStatefulStreamingSettings {
      if (!graftSettings) {
        spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "false")
        spark.sparkContext.hadoopConfiguration.unset("fs.file.impl")
        spark.sparkContext.hadoopConfiguration.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
      }
      val ckpt = Files.createTempDirectory("graft_jfr_ckpt").toString
      val input = MemoryStream[Event]
      val q = StreamingOps
        .firstWinsDedup(input.toDS(), windowSec = 900)
        .writeStream
        .format("noop")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        def batch(i: Int): Unit = { input.addData(events.slice(i * rows, (i + 1) * rows)); q.processAllAvailable() }
        (0 until warm).foreach(batch)
        val starts = processStarts((warm until warm + measured).foreach(batch))
        (starts, q.recentProgress.count(_.numInputRows > 0), q.lastProgress.batchId + 1)
      } finally q.stop()
    }

    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val minDeltas = spark.conf.get("spark.sql.streaming.stateStore.minDeltasForSnapshot").toInt
    val (graft, dataBatches, versions) = run(graftSettings = true)
    assert(dataBatches == warm + measured)
    // changelog checkpointing snapshots each store (one per partition
    // here) once per minDeltasForSnapshot versions; removing a
    // snapshot's local copy is the one process a commit may still start
    val snapshots = partitions * math.ceil(versions.toDouble / minDeltas).toInt
    info(s"graft settings: ${graft.size} process starts over $measured micro-batches ($partitions partitions, $versions versions)")
    assert(graft.forall(_.startsWith("rm ")), graft.distinct)
    assert(graft.size <= snapshots, s"${graft.size} process starts > $snapshots snapshots")
    val (stock, _, _) = run(graftSettings = false)
    info(s"Hadoop's local filesystem, snapshot per commit: ${stock.size} process starts over $measured micro-batches")
    assert(stock.size >= 10 * measured, s"control recorded only ${stock.size} process starts")
  }
}
