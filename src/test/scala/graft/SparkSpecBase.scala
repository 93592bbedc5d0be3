package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite, built through the engine facade
  * (UTC, AQE+skew, RocksDB state store, SQL functions registered). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Graft.session(master = "local[8]", shufflePartitions = 8)

  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh temp dir, deleted with everything under it after the suite. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(p.toFile)
    p
  }

  override protected def afterAll(): Unit =
    try {
      // a stopped query's state stores stay loaded, and their background
      // maintenance can still write a snapshot into a deleted checkpoint
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      tempDirs.forEach(graft.sources.Lakehouse.rmTree(_))
    } finally super.afterAll()
}

/** JVM-global manual clock for [[graft.streaming.StateTtl]] tests:
  * local-mode executors share the JVM, so processors observe `nowMs`
  * updates made by the test thread between micro-batches — expiry
  * becomes deterministic, no sleeps. */
object ManualTtlClock {
  val nowMs = new java.util.concurrent.atomic.AtomicLong(0L)
  val clock: () => Long = () => nowMs.get()
}
