package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{LocalCheckpointFs, StatefulDau, StreamReplay, StreamingQueries}

class LocalCheckpointFsSpec extends SparkSuite {

  private val Key = "fs.AbstractFileSystem.file.impl"

  private def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val ours = init(new LocalCheckpointFs.Raw)

  private def deleteTree(f: File): Unit = {
    if (!Files.isSymbolicLink(f.toPath)) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Both path forms Hadoop sees: qualified `file:/…` and bare `/…`. */
  private def forms(p: JPath): Seq[Path] = Seq(new Path(p.toUri), new Path(p.toString))

  test("getFileLinkStatus matches stock RawLocalFileSystem on a file, a directory, a missing path and a symlink") {
    val dir = Files.createTempDirectory("graft_lcfs_")
    try {
      val file = Files.write(dir.resolve("f"), Array.fill[Byte](10)(7))
      val sub = Files.createDirectory(dir.resolve("d"))
      val link = Files.createSymbolicLink(dir.resolve("l"), file)
      def view(st: FileStatus) = (st.getPath, st.isDirectory, st.getLen, st.isSymlink,
        if (st.isSymlink) Some(st.getSymlink) else None)
      val seen = for (p <- Seq(file, sub, link); f <- forms(p)) yield {
        val (a, b) = (view(ours.getFileLinkStatus(f)), view(stock.getFileLinkStatus(f)))
        assert(a == b, s"$f")
        a
      }
      assert(seen.exists(_._4), "no form of the symlink was reported as one: the symlink case went untested")
      for (f <- forms(dir.resolve("missing"))) {
        intercept[FileNotFoundException](stock.getFileLinkStatus(f))
        intercept[FileNotFoundException](ours.getFileLinkStatus(f))
      }
    } finally deleteTree(dir.toFile)
  }

  test("setPermission leaves the same POSIX permissions as stock RawLocalFileSystem") {
    val dir = Files.createTempDirectory("graft_lcfs_")
    try for (mode <- Seq("644", "755", "700", "1777"); kind <- Seq("file", "dir")) {
      def make(side: String) = {
        val p = dir.resolve(s"$side-$kind-$mode")
        if (kind == "file") Files.createFile(p) else Files.createDirectory(p)
      }
      val (a, b) = (make("stock"), make("ours"))
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      stock.setPermission(new Path(a.toUri), perm)
      ours.setPermission(new Path(b.toUri), perm)
      assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a), s"$kind $mode")
    } finally deleteTree(dir.toFile)
  }

  test("readStream installs the filesystem only over the stock LocalFs") {
    val fresh = spark.newSession()
    LocalCheckpointFs.readStream(fresh)
    assert(fresh.conf.get(Key) == classOf[LocalCheckpointFs].getName)
    assert(fresh.conf.getAll.keys.filter(_.startsWith("fs.")).toSet == Set(Key),
      "no other filesystem key may change")
    val custom = spark.newSession()
    custom.conf.set(Key, "example.OtherFs")
    LocalCheckpointFs.readStream(custom)
    assert(custom.conf.get(Key) == "example.OtherFs")
  }

  /** The jittered sf0.001 replay in `n` files, modification times in part
    * order so the file source reads them in that order. */
  private def replay(n: Int): Seq[File] = {
    val dir = StreamReplay.rewriteJittered(spark, sf0001, n)
    val parts = new File(dir).listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val t0 = System.currentTimeMillis() - 1000L * (parts.length + 1)
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + 1000L * i) }
    parts
  }

  /** Drains DAU over `events` into the checkpoint `chk`; returns the
    * micro-batches run. */
  private def drainDau(events: DataFrame, chk: String): Int = {
    val q = StatefulDau.dauStream(events.withWatermark("ts", "10 minutes")).toDF()
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (b: DataFrame, _: Long) => b.collect(); () }
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    q.recentProgress.length
  }

  test("a stateful drain starts no chmod or readlink process") {
    val parts = replay(3)
    val chk = Files.createTempDirectory("graft_lcfs_chk_")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val jfr = Files.createTempFile("graft_forks_", ".jfr")
    try {
      rec.start()
      val batches = try drainDau(StreamingQueries.eventsStream(spark, parts.head.getParent, Some(1)),
        chk.toString) finally rec.stop()
      assert(batches >= 3, s"only $batches micro-batches ran")
      rec.dump(jfr)
      val commands = RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      val forks = commands.filter(_.matches("""^(\S*/)?(chmod|readlink)\b.*"""))
      assert(forks.size == 0, s"chmod/readlink starts, e.g. ${forks.take(3).mkString("; ")}")
    } finally {
      rec.close()
      Files.deleteIfExists(jfr)
      deleteTree(chk.toFile)
      deleteTree(parts.head.getParentFile)
    }
  }

  /** Drains DAU over two of three replay files, flips one byte of a state
    * delta, adds the third file and restarts from the same checkpoint;
    * returns the restart's failure. Every checkpoint file must have its
    * CRC beside it. */
  private def restartOnCorruptDelta(events: String => DataFrame): Throwable = {
    val parts = replay(3)
    val feed = Files.createTempDirectory("graft_lcfs_feed_")
    val chk = Files.createTempDirectory("graft_lcfs_chk_")
    def add(f: File): Unit = {
      val dst = feed.resolve(f.getName)
      Files.copy(f.toPath, dst)
      dst.toFile.setLastModified(f.lastModified)
    }
    try {
      parts.take(2).foreach(add)
      assert(drainDau(events(feed.toString), chk.toString) >= 2)
      def files(d: File): Seq[File] =
        Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
      val written = files(chk.toFile).filterNot(_.getName.endsWith(".crc"))
      val noCrc = written.filterNot(f => new File(f.getParentFile, s".${f.getName}.crc").isFile)
      assert(noCrc.isEmpty, s"checkpoint files without a CRC: ${noCrc.mkString(", ")}")
      val delta = written.filter(_.getName.endsWith(".delta")).maxBy(_.length)
      val bytes = Files.readAllBytes(delta.toPath)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
      Files.write(delta.toPath, bytes)
      add(parts(2))
      intercept[Exception](drainDau(events(feed.toString), chk.toString))
    } finally {
      deleteTree(feed.toFile)
      deleteTree(chk.toFile)
      deleteTree(parts.head.getParentFile)
    }
  }

  /** The error conditions along a failure's cause chain. */
  private def conditions(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20).collect {
      case t: SparkThrowable if t.getCondition != null => t.getCondition
    }.toSeq

  // Hadoop writes the CRCs but does not check them on this path: Spark
  // reads checkpoint files through FileContext.open(path), which FilterFs
  // hands straight to the raw filesystem, past ChecksumFs. Spark's own
  // checkpoint file checksum is what catches the corruption, on both.
  test("a corrupted state delta fails the restart exactly as on stock LocalFs") {
    val graftErr = restartOnCorruptDelta(StreamingQueries.eventsStream(spark, _, Some(1)))
    assert(spark.conf.get(Key) == classOf[LocalCheckpointFs].getName)

    // the same restart on a session that never installed the filesystem
    val plain = spark.newSession()
    val stockErr = restartOnCorruptDelta(dir =>
      plain.readStream.schema(plain.read.parquet(dir).schema).option("maxFilesPerTrigger", 1)
        .parquet(dir).withColumn("ts", expr("timestamp_micros(ts div 1000)")))
    assert(Try(plain.conf.get(Key)).isFailure, "the stock session must keep Hadoop's LocalFs")

    assert(conditions(graftErr).contains("CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED"), graftErr)
    assert(conditions(graftErr) == conditions(stockErr), s"graft: $graftErr\nstock: $stockErr")
  }
}
