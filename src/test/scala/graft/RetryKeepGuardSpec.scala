package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sinks.{CowConcurrentCommitException, CowTable}

/** The `_retrykeep` freshness guard on EVERY batch-dir-writing path
  * (r19 review): a fresh marker means an in-flight retry (or a
  * re-pointed WAP stage) parked its ONLY data under `batch-<id>` —
  * explicit-id appends AND the DML/full-rewrite path
  * (commitPartitionsFrom: upsert, applyCdc, deleteWhere, commitFull)
  * must refuse loudly instead of overwriting it. A STALE marker is a
  * crashed retry's leftover and is ignored (vacuum sweeps it on the
  * same grace clock).
  */
class RetryKeepGuardSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("retrykeepguard").toString

  test("a fresh _retrykeep marker refuses explicit-id appends and DML " +
      "rewrites at that id; a stale marker is ignored") {
    import spark.implicits._
    val root = s"${tmp()}/t"
    CowTable.commitFull(Seq((0L, "base")).toDF("id", "v"), root, 1L, Nil)
    val fs = new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf())
    val marker = new Path(root, "_retrykeep-2")
    fs.create(marker, false).close()

    val batch = Seq((10L, "w")).toDF("id", "v")
    // explicit-id append path (appendCommit, protectStage = false)
    intercept[CowConcurrentCommitException] {
      CowTable.commitAppend(batch, root, 2L, Nil)
    }
    // DML / full-rewrite path (commitPartitionsFrom via upsert)
    intercept[CowConcurrentCommitException] {
      CowTable.upsert(spark, root, 2L, batch, Seq("id"), Nil)
    }
    // nothing landed, the marker survives both refusals
    assert(CowTable.committedIds(spark, root) == Seq(1L))
    assert(fs.exists(marker))

    // age the marker past the grace window: both paths proceed
    fs.setTimes(marker, System.currentTimeMillis() - 2L * 3600000L, -1)
    assert(CowTable.commitAppend(batch, root, 2L, Nil))
    assert(CowTable.read(spark, root).get.count() == 2)
  }
}
