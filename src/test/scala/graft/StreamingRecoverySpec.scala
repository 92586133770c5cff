package graft

import java.nio.file.Files

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{Dataset, Row}

import graft.queries.{Portable, StreamingQueries}

/** Checkpoint recovery — the property that makes Structured Streaming
  * production-grade and that no single-run test can see: a stateful
  * query stopped mid-stream and restarted FROM ITS CHECKPOINT must
  *
  *   1. carry its state store forward (per-key counts continue from the
  *      pre-restart totals, they do not reset),
  *   2. not re-run batches whose commit is already in the checkpoint's
  *      commit log (the restarted sink observes only post-restart
  *      batch ids — exactly-once at the sink boundary),
  *   3. process input that arrived WHILE STOPPED exactly once, and
  *   4. continue the batch numbering from the offset log rather than
  *      restarting at 0 (the observable witness that the restart
  *      replayed the logs instead of starting a fresh query).
  *
  * The sink is `foreachBatch` — the production recovery pattern (the
  * memory sink refuses existing checkpoints by design). Both
  * state-store providers are pinned: the default HDFS-backed store and
  * RocksDB (the at-scale choice, whose checkpoint format is a different
  * code path — SST files + changelog, not delta files). Every streaming
  * query in the engine ([[graft.streaming.StreamingPresence]],
  * st01–st15) relies on this contract for failure recovery; a Spark
  * upgrade that breaks state reload or commit-log skipping fails HERE
  * by name rather than as a silent correctness drift in a restarted
  * pipeline. */
class StreamingRecoverySpec extends SparkSpec {

  /** One observed microbatch: (batchId, updated (k, count) rows). */
  private type Batch = (Long, Set[(Long, Long)])

  private def recoveryScenario(tag: String): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ckpt = Files.createTempDirectory(Portable.scratchRoot, s"graft_recovery_$tag").toString
    val in = MemoryStream[Long]
    val counts = in.toDF().toDF("k").groupBy($"k").count()
    // a fresh buffer per query life: replayed batches would surface as
    // pre-restart batch ids in the SECOND life's log
    def start(log: ListBuffer[Batch]) = counts.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        val rows = batch.collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        log.synchronized { log += ((id, rows)) }
        ()
      }
      .start()

    // ── first life: two committed batches ──
    val log1 = ListBuffer.empty[Batch]
    val q1 = start(log1)
    try {
      in.addData(1L, 1L, 2L); q1.processAllAvailable() // b0: k1→2, k2→1
      in.addData(2L); q1.processAllAvailable()         // b1: k2→2
    } finally q1.stop()
    val seen1 = log1.synchronized(log1.toList).filter(_._2.nonEmpty)
    assert(seen1 == List((0L, Set((1L, 2L), (2L, 1L))), (1L, Set((2L, 2L)))),
      s"pre-restart batches wrong: $seen1")

    // ── input lands while the query is down ──
    in.addData(1L)

    // ── second life: same checkpoint, fresh observer ──
    val log2 = ListBuffer.empty[Batch]
    val q2 = start(log2)
    try {
      q2.processAllAvailable()                         // b2: k1→3
      in.addData(2L); q2.processAllAvailable()         // b3: k2→3
      val seen2 = log2.synchronized(log2.toList).filter(_._2.nonEmpty)
      // (1) state carried: the while-stopped row lands on the OLD total
      //     (k1 resumes at 3, not 1);
      // (2)+(4) batch ids continue at 2 — committed b0/b1 never re-run;
      // (3) exactly-once on the while-stopped row: k1 is 3, not 4
      assert(seen2 == List((2L, Set((1L, 3L))), (3L, Set((2L, 3L)))),
        s"post-restart batches wrong (state reset, replay, or renumbering): $seen2")
      val read = q2.recentProgress.map(_.numInputRows).sum
      assert(read == 2L, s"restarted query re-read committed input: $read rows")
    } finally q2.stop()
  }

  test("stateful restart from checkpoint: state carries, commits skip, input exactly-once (HDFS store)") {
    recoveryScenario("hdfs")
  }

  test("stateful restart from checkpoint under RocksDB state store") {
    GraftSession.withConf(spark, StreamingQueries.RocksDbStateStore) {
      recoveryScenario("rocks")
    }
  }
}
