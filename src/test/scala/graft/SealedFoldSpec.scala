package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState, Trigger}

import graft.streaming._
import graft.streaming.SealedFold.{Hold, Next, Rearm, RearmAt, Remove, Untouched}

class SealedFoldSpec extends SparkSuite {

  private val wmMs = 5000L

  private def groupState[S](prev: Option[S]): TestGroupState[S] =
    TestGroupState.create[S](prev.fold(Optional.empty[S]())(Optional.of(_)),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(wmMs), false)

  /** (updated, removed, timer ms) of a group state after one fold call. */
  private def written[S](st: TestGroupState[S]): (Boolean, Boolean, Option[Long]) = {
    val t = st.getTimeoutTimestampMs
    (st.isUpdated, st.isRemoved, if (t.isPresent) Some(t.get.asInstanceOf[Long]) else None)
  }

  /** Runs a step that returns `next` on a key whose state is 1. */
  private def settle(next: Next[Int]): (TestGroupState[Int], List[Int]) = {
    val st = groupState(Some(1))
    val out = SealedFold.run[String, Long, Int, Int](0, (k, s, rows, wmUs) => {
      assert((k, s, rows.toList, wmUs) == (("k", 1, List(3L), wmMs * 1000)))
      (next, Iterator.single(7))
    })("k", Iterator(3L), st)
    (st, out.toList)
  }

  test("each outcome applies exactly its state write and timer") {
    val cases = Seq[(Next[Int], (Boolean, Boolean, Option[Long]))](
      Rearm(2) -> ((true, false, Some(wmMs + 1))),
      RearmAt(2, wmMs + 60000) -> ((true, false, Some(wmMs + 60000))),
      RearmAt(2, wmMs - 60000) -> ((true, false, Some(wmMs + 1))), // clamped above the watermark
      Hold(2) -> ((true, false, None)),
      Remove -> ((false, true, None)),
      Untouched -> ((false, false, None)))
    cases.foreach { case (next, want) =>
      val (st, out) = settle(next)
      assert(written(st) == want, s"$next")
      assert(out == List(7), s"$next emitted $out")
      val value = if (st.exists) Some(st.get) else None
      assert(value == (next match {
        case Remove => None
        case Untouched => Some(1)
        case _ => Some(2)
      }), s"$next left $value")
    }
    // a key with no state starts from `init`
    val fresh = groupState[Int](None)
    SealedFold.run[String, Long, Int, Int](42, (_, s, _, _) => (Rearm(s + 1), Iterator.empty))(
      "k", Iterator.empty, fresh)
    assert(fresh.get == 43)
  }

  test("a sealed FirstSeen or Dau key writes nothing and sets no timer when rows arrive") {
    import StatefulDau.{DauState, DayUsers}
    import StatefulFirstSeen.{FirstSeen, FirstState}
    type Ts = java.sql.Timestamp
    val ts = new Ts(0L)
    def firstSeen(key: Long, rows: Iterator[(Long, Ts, Long)], st: TestGroupState[FirstState]) =
      SealedFold.run[Long, (Long, Ts, Long), FirstState, FirstSeen](
        FirstState(isSealed = false, Long.MaxValue), StatefulFirstSeen.screen)(key, rows, st)
    val fs = groupState(Some(FirstState(isSealed = true, 10L)))
    val fsOut = firstSeen(7L, Iterator((7L, ts, 1L)), fs)
    assert(fsOut.isEmpty && written(fs) == ((false, false, None)))
    assert(fs.get == FirstState(isSealed = true, 10L))

    val dau = groupState(Some(DauState(isSealed = true, Set.empty)))
    val dauOut = SealedFold.run[Long, (Long, Long, Ts), DauState, DayUsers](
      DauState(isSealed = false, Set.empty), StatefulDau.seal)(0L, Iterator((0L, 9L, ts)), dau)
    assert(dauOut.isEmpty && written(dau) == ((false, false, None)))

    // the sealing call itself stores the flag without a timer
    val open = groupState(Some(FirstState(isSealed = false, 10L)))
    val sealedOut = firstSeen(7L, Iterator((7L, ts, 20L)), open)
    assert(sealedOut.toList == List(FirstSeen(7L, 10L)))
    assert(written(open) == ((true, false, None)) && open.get == FirstState(isSealed = true, 10L))
  }

  /** The jittered sf0.001 replay, one file per micro-batch in part order,
    * plus a last file with two heartbeat events of user -1 a day after the
    * last event: a signup and a click, so both sides of the as-of join
    * advance their watermark past every real event. */
  private def replayWithHeartbeat(): String = {
    val dir = StreamReplay.rewriteJittered(spark, sf0001, 6)
    val parts = new File(dir).listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).sortBy(_.getName)
    val t0 = System.currentTimeMillis() - 1000L * (parts.length + 2)
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + 1000L * i) }
    val last = spark.read.parquet(dir).orderBy(desc("ts"), desc("event_id")).limit(1)
    val hb = Files.createTempDirectory("graft_heartbeat_").toString
    Seq("signup", "click").zipWithIndex.map { case (t, i) =>
      last.select((col("event_id") + 1 + i).as("event_id"), (col("ts") + 86400L * 1000000000L).as("ts"),
        lit(-1L).as("user_id"), lit(t).as("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _).coalesce(1).write.mode("overwrite").parquet(hb)
    val f = new File(hb).listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = new File(dir, "part-99999-heartbeat.parquet")
    assert(f.renameTo(dst), s"cannot move the heartbeat into $dir")
    dst.setLastModified(t0 + 1000L * (parts.length + 1))
    dir
  }

  /** State rows the fold holds after draining the replay. */
  private def stateRowsLeft(fold: DataFrame, name: String): Long = {
    val q = fold.writeStream.format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.lastProgress.stateOperators.map(_.numRowsTotal).sum
  }

  test("state drains once the watermark passes every event") {
    val dir = replayWithHeartbeat()
    def events = StreamingQueries.eventsStream(spark, dir, Some(1)).withWatermark("ts", "10 minutes")
    val src = StreamingQueries.eventsStream(spark, dir, Some(1))
    val ev = Tables.events(spark, sf0001)
    val types = ev.select("event_type").distinct().count()
    val referenced = ev.filter(col("event_type") === "signup").select("user_id").distinct().count()
    val left = Map(
      "sessions" -> stateRowsLeft(StatefulSessions.sessionsStream(events).toDF(), "drain_sessions"),
      "twa" -> stateRowsLeft(StatefulTwa.twaStream(events).toDF(), "drain_twa"),
      "rate_limit" -> stateRowsLeft(StatefulRateLimit.rateLimitStream(events).toDF(), "drain_rl"),
      "gaps" -> stateRowsLeft(StatefulGaps.gapsStream(events).toDF(), "drain_gaps"),
      "asof" -> stateRowsLeft(StreamAsof.asofEnrich(
        src.filter(col("event_type") =!= "signup"),
        src.filter(col("event_type") === "signup").select("user_id", "ts", "value"),
        "10 minutes").toDF(), "drain_asof"))
    // The heartbeat's own user (or (user, day)) is the one key still open.
    // Gaps keeps one carry per series, the left end of its next gap, and
    // as-of keeps each referenced user's latest reference row for its
    // next probe; every other key is gone.
    assert(left == Map("sessions" -> 1L, "twa" -> 1L, "rate_limit" -> 1L,
      "gaps" -> types, "asof" -> (referenced + 1)))
  }
}
