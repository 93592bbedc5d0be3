package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming FK-join probe at scale (VERDICT r12 #7): q24s oracle-
  * grades the router/joiner at sf0.1, but the router/joiner state
  * (subscriptions ∝ live left rows) was the one stateful engine with no
  * scale measurement. This probe streams a probe corpus's orders
  * through [[graft.streaming.FkJoin.fkJoinStream]] against the streamed
  * customer table (reference workload:
  * kafka-client/src/test/java/dev/responsive/kafka/integration/ResponsiveForeignKeyJoinIntegrationTest.java:150-157)
  * and records per-batch trigger time + state rows — the "bounded
  * per-batch cost" evidence — plus a final fold-vs-batch-join parity
  * check.
  *
  * Two passes over the SAME key set: pass 1 streams every order once
  * (state grows to live-keys); pass 2 re-streams the same orders as
  * re-upserts (the recurring-key workload). State rows must PLATEAU
  * across pass 2 — recurring keys update in place (router ValueState /
  * joiner MapState per pk), and with the read-side TTL refreshing their
  * stamps nothing expires mid-run. Per-batch cost must stay flat as
  * cumulative state grows — RocksDB point lookups, not scans.
  *
  * Parity: the update-mode changelog folded to final state (max-seq per
  * pk; rights carry the higher seq so a late fan-out beats its earlier
  * null-join row) must equal the BATCH orders⋈customer aggregate per
  * nation — exactly q24's shape at probe scale.
  *
  * Run: sbt "runMain graft.tools.FkScaleProbe [srcDir]" (default
  * /tmp/scale100d1 = 100× orders). Env: SPARK_GRAFT_INGEST_FILES
  * (files/trigger, default 4), SPARK_GRAFT_PROBE_OUT (artifact dir),
  * SPARK_GRAFT_CPUS (local cores = state shards, default nproc),
  * SPARK_GRAFT_ROCKS_MB (RocksDB native-memory bound, default 16384).
  * Artifact: $out/fk_scale.json.
  */
object FkScaleProbe {
  /** Per-pass deadline, seconds. */
  private val DeadlineSec = 1800L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/tmp/scale100d1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT", "/tmp")
    val mft = sys.env.getOrElse("SPARK_GRAFT_INGEST_FILES", "4")
    // RocksDB's NATIVE allocation stays bounded (rocksdbMemoryMB): a
    // 1000× run holds ~300M state rows, and an uncapped native
    // footprint next to a large JVM heap squeezed the box until a
    // RocksDB JNI thread SEGV'd
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = graft.Graft.session(master = s"local[$cores]", shufflePartitions = cores,
      appName = "FkScaleProbe",
      rocksdbMemoryMB = sys.env.get("SPARK_GRAFT_ROCKS_MB").map(_.toLong).getOrElse(16384L))
    // the stateRows plateau is this probe's evidence: keep the gauge on
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "true")
    // the per-batch series needs every batch's progress, not the last 100
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2000")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.streaming.{FkJoin, StateTtl}

    import graft.sources.Lakehouse.rmTree
    val staging = s"$outDir/fkprobe_left"
    val ckpt = s"$outDir/fkprobe_ckpt"
    val sink = s"$outDir/fkprobe_sink"
    Seq(staging, ckpt, sink).foreach(p => rmTree(new java.io.File(p)))
    new java.io.File(staging).mkdirs()

    val ordersPath = s"$src/orders.parquet"
    val ordersSchema = spark.read.parquet(ordersPath).schema
    def copyPass(pass: Int): Int = {
      val files = Option(new java.io.File(ordersPath).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      files.foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          new java.io.File(staging, s"pass${pass}_${f.getName}").toPath)
      }
      files.length
    }

    // rights: the customer table streamed whole in the first batch
    // (single dir, no trigger cap) — seq HIGHER than every left's so a
    // right-update fan-out row beats the null-join row a left emitted
    // before its right arrived (FkJoiner stamps fan-out with m.seq)
    val rights = spark.readStream
      .schema(spark.read.parquet(s"$src/customer.parquet").schema)
      .parquet(s"$src/customer.parquet")
      .select(col("c_custkey").cast("long"), col("c_nationkey").cast("long"))
      .as[(Long, Long)]
      .map { case (ck, nk) => FkJoin.RightRow(ck, nk.toString, 2L) }
    val lefts = spark.readStream
      .schema(ordersSchema)
      .option("maxFilesPerTrigger", mft)
      .parquet(staging)
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"),
        col("o_totalprice").cast("double"))
      .as[(Long, Long, Double)]
      .map { case (ok, ck, tp) => FkJoin.LeftRow(ok, ck, tp.toString, 1L) }

    // TTL on (recurring-key config): generous bound — nothing expires
    // mid-run, re-touches refresh stamps, abandoned keys would expire
    val joined = FkJoin.fkJoinStream(lefts, rights, ttl = Some(StateTtl(3600 * 1000L)))
    val q = joined.toDF().writeStream
      .foreachBatch((b: DataFrame, _: Long) => b.write.mode("append").parquet(sink))
      .option("checkpointLocation", ckpt).outputMode("update").start()

    def drain(name: String): (Double, String) = {
      val t0 = System.nanoTime()
      val startBatch = q.recentProgress.lastOption.map(_.batchId).getOrElse(-1L)
      val done = new java.util.concurrent.CountDownLatch(1)
      val w = new Thread(() => {
        try q.processAllAvailable() catch { case _: Throwable => () }
        finally done.countDown()
      })
      w.setDaemon(true); w.start()
      done.await(DeadlineSec, java.util.concurrent.TimeUnit.SECONDS)
      val wall = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress.toSeq
        .filter(p => p.numInputRows > 0 && p.batchId > startBatch).sortBy(_.batchId)
      val batches = prog.map { p =>
        val st = p.stateOperators.toSeq
        s"""{"batch":${p.batchId},"rows":${p.numInputRows},""" +
          s""""ms":${p.durationMs.getOrDefault("triggerExecution", 0L)},""" +
          s""""stateRows":${st.map(_.numRowsTotal).sum}}"""
      }.mkString(",")
      val lastState = prog.lastOption.map(_.stateOperators.toSeq.map(_.numRowsTotal).sum).getOrElse(0L)
      println(f"FKSCALE $name: ${prog.map(_.numInputRows).sum}%,d input rows, " +
        f"${prog.size} batches, $wall%.1f s, state rows (last batch) $lastState%,d")
      (wall, s""""$name":{"wall_sec":${math.round(wall * 10) / 10.0},""" +
        s""""rows":${prog.map(_.numInputRows).sum},"n_batches":${prog.size},""" +
        s""""state_rows_final":$lastState,"batches":[$batches]}""")
    }

    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    // Crash-durable artifact: RocksDB's JNI teardown SEGV'd a 1000×
    // run AFTER pass 1's measurements were complete and lost them —
    // flush the partial artifact (finished:false) after every pass so
    // a native crash costs only the phases that never ran.
    def flush(finished: Boolean): Unit = {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      val shufParts = spark.conf.get("spark.sql.shuffle.partitions")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/fk_scale.json"),
        s"""{"src":"$src","files_per_trigger":$mft,"shuffle_partitions":$shufParts,"finished":$finished,${parts.mkString(",")}}\n""")
      ()
    }
    try {
      val n1 = copyPass(1)
      println(s"FKSCALE pass1: $n1 order files staged")
      parts += drain("pass1")._2
      flush(finished = false)
      val n2 = copyPass(2)
      println(s"FKSCALE pass2 (recurring keys): $n2 files re-staged")
      parts += drain("pass2")._2
      flush(finished = false)
    } finally q.stop()

    // parity: fold the changelog to final state, aggregate per nation,
    // compare against the batch join — q24's shape
    // counts compare exactly; double sums compare within 1e-6 relative
    // (summation order differs between the per-batch stream fold and
    // the batch join — bit-equality would test float association, not
    // the join)
    val folded = spark.read.parquet(sink).groupBy(col("pk"))
      .agg(expr("max_by(struct(lval, rval, retracted), struct(seq, IF(retracted, 0, 1))) AS f"))
      .select(col("pk"), col("f.lval").as("lval"), col("f.rval").as("rval"), col("f.retracted").as("retracted"))
      .filter(!col("retracted") && col("rval").isNotNull)
      .groupBy(col("rval").cast("long").as("nk"))
      .agg(count(lit(1)).as("n_orders"), sum(col("lval").cast("double")).as("total"))
    val batch = spark.read.parquet(ordersPath)
      .join(spark.read.parquet(s"$src/customer.parquet"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").cast("long").as("nk"))
      .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice").cast("double")).as("total"))
    val cmp = folded.as("f").join(batch.as("b"), Seq("nk"), "full_outer")
      .select(
        (col("f.n_orders") === col("b.n_orders") &&
          abs(col("f.total") - col("b.total")) <= abs(col("b.total")) * 1e-6).as("ok"))
    val bad = cmp.filter(!col("ok") || col("ok").isNull).count()
    val (fn, bn) = (folded.count(), batch.count())
    println(s"FKSCALE parity: folded nations=$fn batch nations=$bn mismatched=$bad " +
      (if (bad == 0 && fn == bn) "MATCH" else "MISMATCH"))
    parts += s""""parity":{"nations":$fn,"batch_nations":$bn,"mismatched":$bad,"match":${bad == 0 && fn == bn}}"""

    flush(finished = true)
    println(s"FKSCALE artifact $outDir/fk_scale.json")
    Seq(staging, ckpt, sink).foreach(p => rmTree(new java.io.File(p)))
    spark.stop()
  }
}
