package graft.streaming

import graft.SparkSpec
import graft.model.{CdcEnvelope => E}
import graft.operators.Collapse
import graft.parsers.Wal2Json
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Full replication path end-to-end: wal2json wire messages -> parse ->
  * PK-change split -> collapse -> checkpointed foreachBatch MERGE.
  * The Spark rendering of `trcli replicate` over a PG logical slot
  * (reference: §3.2 — wal2json parser + change processor + sink merge).
  */
class ReplicationE2ESpec extends SparkSpec {
  import spark.implicits._

  private def tx(xid: Int, lsn: String, changes: String*) =
    s"""{"xid":$xid,"nextlsn":"$lsn","change":[${changes.mkString(",")}]}"""
  private def ins(id: Long, v: String) =
    s"""{"kind":"insert","schema":"public","table":"t","columnnames":["id","v"],"columnvalues":["$id","$v"]}"""
  private def upd(id: Long, v: String, oldId: Long) =
    s"""{"kind":"update","schema":"public","table":"t","columnnames":["id","v"],"columnvalues":["$id","$v"],"oldkeys":{"keynames":["id"],"keyvalues":["$oldId"]}}"""
  private def del(id: Long) =
    s"""{"kind":"delete","schema":"public","table":"t","columnnames":[],"columnvalues":[],"oldkeys":{"keynames":["id"],"keyvalues":["$id"]}}"""

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  test("wal2json stream replicates to consistent final state across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    val parsed = Wal2Json.receive(mem.toDF().toDF("value"), "value",
      rowSchema, pkCols = Seq("id"))
    val pipeline = parsed // transform chain entry point
    val base = tempDir("graft_repl")
    val state = base + "/state"
    val q = pipeline.writeStream
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val split = Collapse.splitUpdatedPKeys(batch, Seq("id"))
        CdcStream.mergeBatch(Collapse.collapse(split, Seq("id")),
          state, Seq("id"))
      }.start()
    try {
      // batch 1: two inserts + one update
      mem.addData(
        tx(1, "0/100", ins(1, "a"), ins(2, "b")),
        tx(2, "0/200", upd(1, "a2", 1)))
      q.processAllAvailable()
      // batch 2: pk-change 2 -> 20, delete 1, insert 3
      mem.addData(
        tx(3, "0/300", upd(20, "b", 2)),
        tx(4, "0/400", del(1), ins(3, "c")))
      q.processAllAvailable()
      val out = spark.read.parquet(state).select("id", "v")
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      assert(out == Seq((3L, "c"), (20L, "b")))
    } finally q.stop()
  }

  test("pg lsn text parses to a monotone long") {
    val out = Seq("0/16B6698", "1/0", "0/0").toDF("l")
      .select(Wal2Json.pgLsnToLong(col("l"))).as[Long].collect().toSeq
    assert(out == Seq(0x16B6698L, 4294967296L, 0L))
    assert(out(1) > out(0)) // higher segment sorts later
  }

  test("monotonic guard drops replayed and stale events per key across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("id", "v", E.Lsn)
    val guarded = CdcStream.monotonicGuard(stream, "id")
    val q = guarded.writeStream.format("memory").queryName("guard_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, "a", 10L), (1L, "b", 12L), (2L, "x", 5L))
      q.processAllAvailable()
      // batch 2 replays lsn 12 and delivers a stale lsn 11, plus fresh 13
      mem.addData((1L, "b", 12L), (1L, "stale", 11L), (1L, "c", 13L),
        (2L, "x", 5L))
      q.processAllAvailable()
      val out = spark.table("guard_out").select("id", "v", E.Lsn)
        .as[(Long, String, Long)].collect().toSeq.sorted
      assert(out == Seq((1L, "a", 10L), (1L, "b", 12L), (1L, "c", 13L),
        (2L, "x", 5L)))
    } finally q.stop()
  }

  test("monotonic guard runs on RocksDB state store and idle timeout drops a key's state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    // Isolated session with the cluster-scale state config
    // (GraftSession.scaleStreamingState). One shuffle partition: each
    // partition is a RocksDB instance paying a per-batch checkpoint
    // round-trip — more partitions multiply pure fixed cost here.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    s2.conf.set("spark.sql.shuffle.partitions", "1")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s2.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("id", "v", E.Lsn)
    val guarded = CdcStream.monotonicGuard(stream, "id",
      idleTimeout = Some("1 second"))
    // ProcessingTimeTimeout makes the engine schedule a batch every
    // trigger interval forever (deadline checks) — processAllAvailable
    // never reaches a "no further batch" state and would block, so the
    // assertions POLL the sink, and an explicit 1s trigger keeps the
    // deadline-check batches from busy-looping.
    val q = guarded.writeStream.format("memory").queryName("guard_rocks")
      .outputMode("append").trigger(Trigger.ProcessingTime("1 second"))
      .start()
    def sink(): Seq[(Long, String, Long)] =
      s2.table("guard_rocks").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    def await(want: (Long, String, Long)): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (!sink().contains(want)) {
        assert(System.nanoTime() < deadline,
          s"timed out waiting for $want; sink=${sink()}")
        Thread.sleep(250)
      }
    }
    try {
      mem.addData((1L, "a", 10L), (1L, "dup", 10L))
      await((1L, "a", 10L))
      // key 1 goes idle past its 1s deadline...
      Thread.sleep(2500)
      // ...and this batch's deadline sweep fires its timeout callback
      // (its timestamp is past the deadline), removing key 1's state
      mem.addData((2L, "x", 5L))
      await((2L, "x", 5L))
      // key 1's max-LSN state is gone: a replay BELOW the old max passes
      // through again (the contract: timeout sits past the replay
      // horizon, so such replays cannot occur in production)
      mem.addData((1L, "replay", 3L))
      await((1L, "replay", 3L))
      val out = sink()
      assert(!out.contains((1L, "dup", 10L)), s"in-batch dedup broken: $out")
    } finally q.stop()
  }
}
