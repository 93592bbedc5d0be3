package graft

import graft.streaming.{StreamOps, Topic, Topics}
import org.apache.spark.sql.functions._

/** The topic seam: file-transport round trip end-to-end (the replayable
  * broker analog), kafka option assembly (no broker/connector in this
  * sandbox), and stream/batch duality through one Topic definition. */
class TopicsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val schema = Tables.events(spark, sfDir).schema

  test("kafka reader/writer options assemble the canonical connector config") {
    val t = Topic("orders", "kafka",
      Map("bootstrap.servers" -> "broker1:9092,broker2:9092",
        "kafka.security.protocol" -> "SASL_SSL",
        "startingOffsets" -> "latest"))
    val r = Topics.kafkaReaderOptions(t)
    assert(r("subscribe") == "orders")
    assert(r("kafka.bootstrap.servers") == "broker1:9092,broker2:9092")
    assert(r("startingOffsets") == "latest")
    assert(r("kafka.security.protocol") == "SASL_SSL")
    val w = Topics.kafkaWriterOptions(t)
    assert(w("topic") == "orders")
    assert(w("kafka.bootstrap.servers") == "broker1:9092,broker2:9092")
  }

  test("file topic: write stream through .to(topic), read back, equals batch") {
    val dir = tempDir("graft-topic").toString
    val out = Topic("agg-out", "file", Map("path" -> s"$dir/out"))
    val in = Topic("events-in", "file", Map("path" -> s"$dir/in"))

    // produce: land the fixture as one file "batch" on the input topic
    Tables.events(spark, sfDir).write.mode("append").parquet(s"$dir/in")

    // consume → transform → produce through the factory
    val q = Topics.writeStream(
      StreamOps.tumblingAgg(Topics.readStream(spark, in, schema)), out)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // append-mode windows close only up to the watermark; assert the
    // emitted prefix matches the batch answer exactly
    val streamed = Topics.read(spark, out,
      StreamOps.tumblingAgg(Tables.events(spark, sfDir)).schema)
    val batch = StreamOps.tumblingAgg(Tables.events(spark, sfDir))
    val got = streamed.collect().map(_.toSeq).toSet
    val want = batch.collect().map(_.toSeq).toSet
    assert(got.subsetOf(want))
    assert(got.nonEmpty)
  }

  test("unknown format fails fast") {
    intercept[IllegalArgumentException] {
      Topics.readStream(spark, Topic("t", "carrier-pigeon"), schema)
    }
  }

  test("file sink exactly-once: restart mid-stream yields no duplicate windows") {
    // the .to(topic) parquet sink commits through _spark_metadata: batch
    // reads of the same path see only committed files, so a stop with
    // pending data + checkpoint restart re-emits nothing twice
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tempDir("graft-eos").toString
    val out = Topic("agg-eos", "file",
      Map("path" -> s"$dir/out", "checkpointLocation" -> s"$dir/chk"))
    val events = Tables.events(spark, sfDir).as[graft.streaming.Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id)).toVector
    val maxTs = events.map(_.ts.getTime).max
    val sentinel = graft.streaming.Event(-1L,
      new java.sql.Timestamp(maxTs + 7L * 24 * 3600 * 1000), -1L, "view", 0.0, "{}")

    val ms = MemoryStream[graft.streaming.Event]
    def start() = Topics.writeStream(
      graft.streaming.StreamOps.tumblingAgg(ms.toDF()), out)
      .outputMode("append").start()

    val chunks = events.grouped(250).toVector
    val q1 = start()
    try {
      chunks.take(2).foreach { c => ms.addData(c); q1.processAllAvailable() }
      ms.addData(chunks(2)) // pending, never processed by q1
    } finally q1.stop()

    val q2 = start()
    try {
      q2.processAllAvailable() // drains the pending chunk from the checkpoint
      chunks.drop(3).foreach { c => ms.addData(c); q2.processAllAvailable() }
      ms.addData(Seq(sentinel)); q2.processAllAvailable()
    } finally q2.stop()

    val got = Topics.read(spark, out,
      graft.streaming.StreamOps.tumblingAgg(Tables.events(spark, sfDir)).schema)
      .filter(col("user_id") =!= -1L)
      .collect().map(_.toSeq)
    val want = graft.streaming.StreamOps.tumblingAgg(Tables.events(spark, sfDir))
      .collect().map(_.toSeq)
    // multiset equality: same windows, each exactly once
    assert(got.length == want.length, s"${got.length} rows vs batch ${want.length} — duplicates or loss")
    assert(got.toSet == want.toSet)
  }
}
