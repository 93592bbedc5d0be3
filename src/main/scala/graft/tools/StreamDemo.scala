package graft.tools

import graft.streaming._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Minimal end-to-end streaming example: replay events through the
  * KvStoreProcessor (last-write-wins KV store) and a tumbling-window
  * aggregation, printing the sink contents. Doubles as the runnable
  * sample for the streaming API surface. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val events = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq

    val ms = MemoryStream[Event]
    val kv = ms.toDF().as[Event].groupByKey(_.user_id)
      .transformWithState(new KvStoreProcessor, TimeMode.None(), OutputMode.Update(),
        Encoders.product[KvRow])
    val q = kv.toDF().writeStream.format("memory").queryName("kvdemo")
      .outputMode("update").start()
    events.grouped(250).foreach { c => ms.addData(c); q.processAllAvailable() }
    q.stop()
    println("DEMO kv rows emitted: " + spark.table("kvdemo").count())
    spark.table("kvdemo").orderBy($"ts_sec".desc).show(5, false)

    val ms2 = MemoryStream[Event]
    val q2 = StreamOps.tumblingAgg(ms2.toDF()).writeStream
      .format("memory").queryName("windemo").outputMode("append").start()
    events.grouped(250).foreach { c => ms2.addData(c); q2.processAllAvailable() }
    ms2.addData(Seq(Event(-1, new java.sql.Timestamp(events.last.ts.getTime + 86400000L), -1, "x", 0, "")))
    q2.processAllAvailable()
    q2.stop()
    println("DEMO finalized windows: " + spark.table("windemo").count())
    spark.table("windemo").orderBy($"window_start".desc).show(5, false)
    spark.stop()
  }
}
