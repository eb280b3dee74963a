package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.sources.Ingest

class ArtifactStoreSpec extends SparkSuite {

  test("builds nest and run once: eight concurrent callers share one instance") {
    val id = UUID.randomUUID().toString
    val outerRuns = new AtomicInteger()
    val innerRuns = new AtomicInteger()
    // enough nested keys that a build forced inside one map operation would
    // meet its own reservation (a shared bin or a resize) and throw
    val nested = 256
    def inner(i: Int): AnyRef = ArtifactStore(spark, ("store-spec-inner", id, i)) {
      innerRuns.incrementAndGet()
      new Object
    }
    def outer(): (AnyRef, Seq[AnyRef]) = ArtifactStore(spark, ("store-spec-outer", id)) {
      outerRuns.incrementAndGet()
      Thread.sleep(100) // hold the build open so every caller arrives during it
      (new Object, (0 until nested).map(inner))
    }
    val threads = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map(_ => pool.submit(new Callable[(AnyRef, Seq[AnyRef])] {
        def call(): (AnyRef, Seq[AnyRef]) = { start.await(); outer() }
      }))
      start.countDown()
      val got = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(outerRuns.get == 1 && innerRuns.get == nested,
        s"outer built ${outerRuns.get}×, inner ${innerRuns.get}× for $nested keys")
      assert(got.forall(_ eq got.head), "callers got different instances")
      assert(got.head._2(7) eq inner(7), "the nested entry is not the stored one")
    } finally pool.shutdownNow()
  }

  test("a build that throws leaves no entry; the next call builds again") {
    val key = ("store-spec-throw", UUID.randomUUID().toString)
    val runs = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      ArtifactStore(spark, key) { runs.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    val v = ArtifactStore(spark, key) { runs.incrementAndGet(); "built" }
    assert(v == "built" && runs.get == 2)
    assert(ArtifactStore(spark, key) { runs.incrementAndGet(); "rebuilt" } == "built")
    assert(runs.get == 2)
  }

  test("rotate keeps one live checkpoint per site and session") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val tag = s"store-spec-rotate-${UUID.randomUUID()}"
    val first = ArtifactStore.rotate(tag)(spark.range(100).toDF())
    assert(first.count() == 100)
    val live1 = sc.getPersistentRDDs.keySet -- before
    assert(live1.size == 1, s"one pin expected after the first call, got $live1")
    val second = ArtifactStore.rotate(tag)(spark.range(50).toDF())
    val live2 = sc.getPersistentRDDs.keySet -- before
    assert(live2.size == 1 && live2 != live1, s"the first pin was not released: $live1 -> $live2")
    assert(second.count() == 50)
  }

  test("stopping a session frees every entry (child JVM)") {
    // the shared test session cannot be stopped, so a child JVM on the same
    // classpath runs its own session through the store and stops it
    val work = Files.createTempDirectory("graft-store-stop")
    try {
      val self = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms") ||
          a.startsWith("-agentlib") || a.startsWith("-Djava.io.tmpdir"))
      val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ self ++ Seq(
        "-Xmx1g", s"-Djava.io.tmpdir=$work",
        "-cp", sys.props("java.class.path"),
        ArtifactStoreStopCheck.getClass.getName.stripSuffix("$"),
        sf0001, work.resolve("ingest").toString)
      val log = work.resolve("child.log").toFile
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start()
      val done = p.waitFor(300, TimeUnit.SECONDS)
      if (!done) p.destroyForcibly()
      val out = new String(Files.readAllBytes(log.toPath), StandardCharsets.UTF_8)
      assert(done && p.exitValue == 0, s"child exit ${if (done) p.exitValue else "timeout"}:\n" +
        out.linesIterator.toSeq.takeRight(40).mkString("\n"))
      assert(out.contains("[store-stop] ok"), out)
    } finally deleteTree(work.toFile)
  }

  // Source scans: each mechanism has one owner file in src/main/scala, and
  // its code forms (not prose about it) may appear nowhere else.
  // (test name, pattern, owner file, failure message)
  private val owners = Seq(
    ("src/main/scala keeps one cache mechanism: concurrent maps only in ArtifactStore",
      "TrieMap|ConcurrentHashMap|newSetFromMap", "ArtifactStore.scala", "a second cache mechanism"),
    ("src/main/scala keeps one keyed-state mechanism: GroupState and *WithState calls only in SealedFold",
      """GroupState\[|\.(flatMapGroupsWithState|mapGroupsWithState|transformWithState)\(""",
      "SealedFold.scala", "keyed streaming state outside the sealed fold"),
    ("src/main/scala keeps one stream reader: .readStream only in LocalCheckpointFs",
      """(?<!LocalCheckpointFs)\.readStream\b""",
      "LocalCheckpointFs.scala", "a stream reader that skips the checkpoint filesystem"))

  for ((name, pattern, owner, what) <- owners) test(name) {
    val main = new File("src/main/scala")
    assert(main.isDirectory, s"run from the repository root (cwd ${new File(".").getAbsolutePath})")
    def files(d: File): Seq[File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val banned = pattern.r
    val hits = files(main).filter(f => f.getName.endsWith(".scala") && f.getName != owner)
      .flatMap { f =>
        val text = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        text.linesIterator.zipWithIndex.collect {
          case (l, i) if banned.findFirstIn(l).isDefined => s"${f.getPath}:${i + 1}: ${l.trim}"
        }
      }
    assert(hits.isEmpty, s"$what; route it through ${owner.stripSuffix(".scala")}:\n" +
      hits.mkString("\n"))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Child-JVM body of the session-stop test: fills the store through every
  * kind of artifact, stops the session, and exits non-zero unless the
  * store is empty afterwards. Args: test-data scale dir, ingest root. */
object ArtifactStoreStopCheck {
  def main(args: Array[String]): Unit = {
    val Array(sf, root) = args
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-store-stop")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(s, sf)
    Multimodal.syntheticImages(s, sf)
    Dedup.sketchSliced(docs, "doc_id", "text", numHashes = 16)
    Similarity.ivfIndex(Tables.embeddings(s, sf), "vec_id", "embedding", k = 4, iters = 1)
    Ingest.eventsByDay(s, sf, root)
    ArtifactStore.rotate("store_stop_check")(s.range(10).toDF())
    val filled = ArtifactStore.size
    s.stop()
    val left = ArtifactStore.size
    println(s"[store-stop] filled=$filled left=$left")
    // functions, 3 tables, images, sketch, index, layout, rotate slot
    if (filled >= 9 && left == 0) println("[store-stop] ok")
    sys.exit(if (filled >= 9 && left == 0) 0 else 1)
  }
}
