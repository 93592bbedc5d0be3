package graft

import graft.streaming.FkJoin
import graft.streaming.FkJoin._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** JVM-singleton probe for the restart test (closures serialize). */
object FkRestartProbe {
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[FkJoin.FkJoined]()
}

/** Streaming KTable FK-join parity (ResponsiveForeignKeyJoinIntegrationTest
  * analog): replay left/right changelogs, assert the final joined state
  * equals the batch answer, including right-update fan-out and FK-change
  * retraction.
  */
class FkJoinSpec extends SparkSpecBase {
  import spark.implicits._

  private def finalState(rows: Seq[FkJoined]): Map[Long, (Long, String, String)] = {
    // changelog → final state: last row per pk; an FK change emits
    // (retract old-fk, upsert new-fk) under one seq, and the upsert is
    // the logically-later half, so it wins the tie
    rows.groupBy(_.pk).flatMap { case (pk, rs) =>
      val last = rs.maxBy(r => (r.seq, !r.retracted))
      if (last.retracted) None else Some(pk -> ((last.fk, last.lval, last.rval)))
    }
  }

  test("streaming FK join: upserts, right fan-out, and FK-change retraction") {
    implicit val sq = spark.sqlContext
    val lms = MemoryStream[LeftRow]
    val rms = MemoryStream[RightRow]
    val q = FkJoin.fkJoinStream(lms.toDS(), rms.toDS())
      .toDF().writeStream.format("memory").queryName("fksink")
      .outputMode("update").start()
    try {
      // batch 1: two lefts pointing at fk=10 before the right exists
      lms.addData(Seq(LeftRow(1, 10, "a1", 1), LeftRow(2, 10, "b1", 2)))
      q.processAllAvailable()
      // batch 2: right 10 arrives -> fan-out to both; right 20 arrives unused
      rms.addData(Seq(RightRow(10, "M10", 3), RightRow(20, "M20", 4)))
      q.processAllAvailable()
      // batch 3: left 1 changes FK 10 -> 20 (retraction + re-subscribe);
      // left 3 joins fk 20; left 2 updates value in place
      lms.addData(Seq(LeftRow(1, 20, "a2", 5), LeftRow(3, 20, "c1", 6), LeftRow(2, 10, "b2", 7)))
      q.processAllAvailable()
      // batch 4: right 10 updates -> only pk 2 re-emits
      rms.addData(Seq(RightRow(10, "M10v2", 8)))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("fksink").as[FkJoined].collect().toSeq
    val got = finalState(rows)
    assert(got == Map(
      1L -> ((20L, "a2", "M20")),
      2L -> ((10L, "b2", "M10v2")),
      3L -> ((20L, "c1", "M20"))))

    // pre-right join emitted null rval (left-join semantics before match)
    assert(rows.exists(r => r.pk == 1 && r.seq == 1 && r.rval == null))
    // fk-change produced a retraction on the old fk
    assert(rows.exists(r => r.pk == 1 && r.retracted))
    // right-update fan-out re-emitted exactly the subscribed lefts
    assert(rows.filter(_.seq == 8).map(_.pk).toSet == Set(2L))
    assert(rows.filter(_.seq == 3).map(_.pk).toSet == Set(1L, 2L))
  }

  test("FK join tombstones: left delete retracts, right delete fans out nulls") {
    implicit val sq = spark.sqlContext
    val lms = MemoryStream[LeftRow]
    val rms = MemoryStream[RightRow]
    val q = FkJoin.fkJoinStream(lms.toDS(), rms.toDS())
      .toDF().writeStream.format("memory").queryName("fksink3")
      .outputMode("update").start()
    try {
      lms.addData(Seq(LeftRow(1, 10, "a1", 1), LeftRow(2, 10, "b1", 2)))
      rms.addData(Seq(RightRow(10, "M10", 3)))
      q.processAllAvailable()
      // left 1 deleted; right 10 deleted afterwards
      lms.addData(Seq(LeftRow(1, 0, null, 4)))
      q.processAllAvailable()
      rms.addData(Seq(RightRow(10, null, 5)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("fksink3").as[FkJoined].collect().toSeq
    val got = finalState(rows)
    // pk 1 gone (tombstoned); pk 2 survives with null rval (right deleted)
    assert(got == Map(2L -> ((10L, "b1", null: String))))
    // the left tombstone produced a retraction
    assert(rows.exists(r => r.pk == 1 && r.seq == 4 && r.retracted))
    // the right delete fanned out ONLY to the still-subscribed left
    assert(rows.filter(_.seq == 5).map(_.pk).toSet == Set(2L))
  }

  test("streaming FK join final state == batch join on random replay (with tombstones)") {
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(42)
    var seq = 0L
    val leftUpdates = (1 to 120).map { _ =>
      seq += 1
      val lval = if (rnd.nextInt(10) == 0) null else s"v$seq" // ~10% deletes
      LeftRow(rnd.nextInt(20).toLong, rnd.nextInt(5).toLong, lval, seq)
    }
    val rightUpdates = (1 to 30).map { _ =>
      seq += 1
      val rval = if (rnd.nextInt(10) == 0) null else s"m$seq"
      RightRow(rnd.nextInt(5).toLong, rval, seq)
    }
    val lms = MemoryStream[LeftRow]
    val rms = MemoryStream[RightRow]
    val q = FkJoin.fkJoinStream(lms.toDS(), rms.toDS())
      .toDF().writeStream.format("memory").queryName("fksink2")
      .outputMode("update").start()
    try {
      // replay the unified changelog in causal (seq) order — both sides
      // advance together, as two topics consumed by one app would; the
      // last-writer-wins-by-seq reconstruction below is only meaningful
      // under causal replay (a right update fed "from the future" would
      // legitimately fan out stale-but-then-current left values)
      val unified: Seq[Either[LeftRow, RightRow]] =
        (leftUpdates.map(Left(_)) ++ rightUpdates.map(Right(_)))
          .sortBy(_.fold(_.seq, _.seq))
      unified.grouped(50).foreach { chunk =>
        val (ls, rs) = chunk.partition(_.isLeft)
        if (ls.nonEmpty) lms.addData(ls.collect { case Left(l) => l })
        if (rs.nonEmpty) rms.addData(rs.collect { case Right(r) => r })
        q.processAllAvailable()
      }
    } finally q.stop()

    val got = finalState(spark.table("fksink2").as[FkJoined].collect().toSeq)
    // batch oracle: latest left per pk joined to latest right per rk;
    // a pk whose latest update is a tombstone is absent, a tombstoned
    // right key contributes null rval
    val latestLeft = leftUpdates.groupBy(_.pk).view.mapValues(_.maxBy(_.seq)).toMap
      .filter { case (_, l) => l.lval != null }
    val latestRight = rightUpdates.groupBy(_.rk).view.mapValues(_.maxBy(_.seq)).toMap
    val want = latestLeft.map { case (pk, l) =>
      pk -> ((l.fk, l.lval, latestRight.get(l.fk).filter(_.rval != null).map(_.rval).orNull))
    }
    assert(got == want)
  }

  test("FK join state survives a checkpoint restart mid-changelog") {
    // the chained router/joiner pipeline holds TWO stateful operators;
    // both must recover: post-restart right updates fan out to
    // subscriptions recorded before the stop, FK changes retract
    // pre-stop subscriptions
    implicit val sq = spark.sqlContext
    FkRestartProbe.rows.clear()
    val ckpt = tempDir("graft-fk-ckpt").toString
    val lms = MemoryStream[LeftRow]
    val rms = MemoryStream[RightRow]
    def start() = FkJoin.fkJoinStream(lms.toDS(), rms.toDS())
      .toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.as[FkJoined](org.apache.spark.sql.Encoders.product[FkJoined])
          .collect().foreach(FkRestartProbe.rows.add)
      }
      .outputMode("update").option("checkpointLocation", ckpt).start()

    val q1 = start()
    try {
      lms.addData(Seq(LeftRow(1, 10, "a1", 1), LeftRow(2, 10, "b1", 2), LeftRow(3, 20, "c1", 3)))
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = start()
    try {
      // right arrives only AFTER the restart: fan-out must reach the
      // pre-restart subscribers of fk 10
      rms.addData(Seq(RightRow(10, "M10", 4)))
      q2.processAllAvailable()
      // FK change recorded before restart must be retracted correctly
      lms.addData(Seq(LeftRow(1, 20, "a2", 5)))
      q2.processAllAvailable()
      rms.addData(Seq(RightRow(10, "M10v2", 6)))
      q2.processAllAvailable()
    } finally q2.stop()

    import scala.jdk.CollectionConverters._
    val rows = FkRestartProbe.rows.iterator().asScala.toSeq
    val got = finalState(rows)
    assert(got == Map(
      1L -> ((20L, "a2", null: String)),
      2L -> ((10L, "b1", "M10v2")),
      3L -> ((20L, "c1", null: String))))
    // post-restart fan-out reached both pre-restart subscribers
    assert(rows.filter(_.seq == 4).map(_.pk).toSet == Set(1L, 2L))
    // post-restart right update reached only the remaining subscriber
    assert(rows.filter(_.seq == 6).map(_.pk).toSet == Set(2L))
    // the pre-restart fk-10 subscription of pk 1 was retracted after restart
    assert(rows.exists(r => r.pk == 1 && r.seq == 5 && r.retracted && r.fk == 10))
  }

  test("FK join state TTL: an expired subscription stops fanning out") {
    // reference TtlProvider analog: with ttl set, a subscription idle
    // past the TTL falls out of the joiner's state, so a later right
    // update no longer fans out to it — while a fresh subscription on
    // the same fk still receives the update. (The no-TTL suites above
    // pin the contrast: there, BOTH subscribers get the fan-out.)
    // Expiry is driven by the manual clock — deterministic, no sleeps.
    implicit val sq = spark.sqlContext
    ManualTtlClock.nowMs.set(1000L)
    val ttl = Some(graft.streaming.StateTtl(5000L, ManualTtlClock.clock))
    val lms = MemoryStream[LeftRow]
    val rms = MemoryStream[RightRow]
    val q = FkJoin.fkJoinStream(lms.toDS(), rms.toDS(), ttl = ttl)
      .toDF().writeStream.format("memory").queryName("fksink_ttl")
      .outputMode("update").start()
    try {
      // pk 1 subscribes to fk 10, then goes idle past the TTL
      lms.addData(Seq(LeftRow(1, 10, "a1", 1)))
      q.processAllAvailable()
      ManualTtlClock.nowMs.addAndGet(10000L) // > ttl since pk 1's write
      // pk 2 subscribes to the same fk, fresh (inside its TTL window)
      lms.addData(Seq(LeftRow(2, 10, "b1", 2)))
      q.processAllAvailable()
      // right 10 arrives: fan-out must reach only the live subscription
      rms.addData(Seq(RightRow(10, "M10", 3)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("fksink_ttl").as[FkJoined].collect().toSeq
    assert(rows.filter(_.seq == 3).map(_.pk).toSet == Set(2L),
      s"expired pk-1 subscription must not fan out; got ${rows.filter(_.seq == 3)}")
    // pk 1 did subscribe (pre-expiry emission with no right yet)
    assert(rows.exists(r => r.pk == 1 && r.seq == 1 && r.rval == null && !r.retracted))
  }
}
