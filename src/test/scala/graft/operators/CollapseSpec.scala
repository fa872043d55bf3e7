package graft.operators

import graft.SparkSpec
import graft.model.{CdcEnvelope => E}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Random

/** Collapse semantics tests: golden sequences mirroring the reference's
  * canon dumps (reference: tests/canon/sequences/dump/
  * 00_insert_update_delete.sql, 01_updatepk.sql) plus a randomized
  * property test against a naive in-memory reducer implementing
  * change_item_collapse.go:48-134 directly.
  */
class CollapseSpec extends SparkSpec {
  import spark.implicits._

  /** (key, value-or-null, kind, lsn, updatedCols-or-null) */
  private type Ev = (Long, java.lang.Long, String, Long, Seq[String])

  private def frame(evs: Seq[Ev]): DataFrame =
    evs.toDF("k", "v", E.Kind, E.Lsn, E.UpdatedCols)
      .withColumn(E.Counter, lit(0))
      .withColumn(E.UpdatedCols, col(E.UpdatedCols).cast(ArrayType(StringType)))

  private def collapsed(evs: Seq[Ev]): Seq[(Long, Option[Long], String)] =
    Collapse.collapse(frame(evs), Seq("k"))
      .select("k", "v", E.Kind).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getString(2)))
      .toSeq.sortBy(_._1)

  test("golden 00: insert+update+delete collapses to a single delete") {
    // INSERT (2,'b'); UPDATE t='c'; DELETE  (00_insert_update_delete.sql)
    val out = collapsed(Seq(
      (2L, 2L, "insert", 0L, null),
      (2L, 3L, "update", 1L, null),
      (2L, null, "delete", 2L, null)))
    assert(out == Seq((2L, None, "delete")))
  }

  test("golden 01: PK-changing update => delete(old) + insert(new) carrying later updates") {
    // INSERT (1,'a'); UPDATE 'b'; UPDATE pk 1->2; UPDATE 'c'  (01_updatepk.sql)
    val evs: Seq[Ev] = Seq(
      (1L, java.lang.Long.valueOf(10L), "insert", 0L, null),
      (1L, java.lang.Long.valueOf(11L), "update", 1L, null),
      // pk-change arrives as update of new key
      (2L, java.lang.Long.valueOf(11L), "update", 2L, null),
      (2L, java.lang.Long.valueOf(12L), "update", 3L, null))
    val pkChange = frame(evs)
      .withColumn(E.OldKeys,
        when(col(E.Lsn) === 2L, struct(lit(1L).as("k")))
          .otherwise(struct(col("k").as("k"))))
    val split = Collapse.splitUpdatedPKeys(pkChange, Seq("k"))
    val out = Collapse.collapse(split, Seq("k"))
      .select("k", "v", E.Kind).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getString(2)))
      .toSeq.sortBy(_._1)
    assert(out == Seq((1L, None, "delete"), (2L, Some(12L), "insert")))
  }

  test("golden 02: insert+delete+insert keeps the last insert") {
    val out = collapsed(Seq(
      (5L, 1L, "insert", 0L, null),
      (5L, null, "delete", 1L, null),
      (5L, 7L, "insert", 2L, null)))
    assert(out == Seq((5L, Some(7L), "insert")))
  }

  test("update after delete cancels the delete (reference: update clears toDelete)") {
    val out = collapsed(Seq(
      (9L, 1L, "insert", 0L, null),
      (9L, null, "delete", 1L, null),
      (9L, 4L, "update", 2L, null)))
    assert(out == Seq((9L, Some(4L), "update")))
  }

  test("updates only (no prior image) keep update kind") {
    val out = collapsed(Seq(
      (3L, 8L, "update", 0L, null),
      (3L, 9L, "update", 1L, null)))
    assert(out == Seq((3L, Some(9L), "update")))
  }

  test("partial (TOAST) update merges column sets; explicit null wins") {
    val df = Seq(
      (1L, java.lang.Long.valueOf(10L), "x1", "insert", 0L, null.asInstanceOf[Seq[String]]),
      // partial update touching only b
      (1L, null.asInstanceOf[java.lang.Long], "x2", "update", 1L, Seq("b")),
      // partial update setting a explicitly (a keeps null untouched b)
      (1L, java.lang.Long.valueOf(30L), null.asInstanceOf[String], "update", 2L, Seq("a")),
    ).toDF("k", "a", "b", E.Kind, E.Lsn, E.UpdatedCols)
      .withColumn(E.Counter, lit(0))
    val out = Collapse.collapse(df, Seq("k"))
      .select("k", "a", "b", E.Kind).collect().head
    assert(out.getLong(0) == 1L)
    assert(out.getLong(1) == 30L)      // from lsn2 partial
    assert(out.getString(2) == "x2")   // from lsn1 partial, not overwritten
    assert(out.getString(3) == "insert")
  }

  /** Naive driver-side reducer: direct transliteration of the reference
    * fold (rows map + pending deletes), used as the property-test oracle. */
  private def naive(evs: Seq[Ev]): Seq[(Long, Option[Long], String)] = {
    case class St(v: Option[Long], kind: String)
    val rows = scala.collection.mutable.LinkedHashMap[Long, St]()
    val dels = scala.collection.mutable.LinkedHashMap[Long, Unit]()
    evs.sortBy(_._4).foreach { case (k, v, kind, _, _) =>
      kind match {
        case "insert" =>
          dels.remove(k); rows(k) = St(Option(v).map(_.longValue), "insert")
        case "update" =>
          dels.remove(k)
          rows(k) = rows.get(k) match {
            case Some(st) => St(Option(v).map(_.longValue), st.kind)
            case None => St(Option(v).map(_.longValue), "update")
          }
        case "delete" =>
          rows.remove(k); dels(k) = ()
      }
    }
    (rows.map { case (k, st) => (k, st.v, st.kind) } ++
      dels.keys.map(k => (k, None, "delete"))).toSeq.sortBy(_._1)
  }

  test("property: collapse matches the naive reference fold on random changelogs") {
    val rnd = new Random(42)
    for (round <- 1 to 20) {
      val evs: Seq[Ev] = (0 until 60).map { i =>
        val k = rnd.nextInt(8).toLong
        rnd.nextInt(3) match {
          case 0 => (k, java.lang.Long.valueOf(rnd.nextInt(100)), "insert", i.toLong, null)
          case 1 => (k, java.lang.Long.valueOf(rnd.nextInt(100)), "update", i.toLong, null)
          case 2 => (k, null.asInstanceOf[java.lang.Long], "delete", i.toLong, null)
        }
      }
      assert(collapsed(evs) == naive(evs), s"mismatch in round $round")
    }
  }

  test("lastWriteWins keeps exactly the newest event per key") {
    val df = frame(Seq(
      (1L, 1L, "insert", 0L, null),
      (1L, 2L, "update", 5L, null),
      (2L, 9L, "insert", 1L, null)))
    val out = Collapse.lastWriteWins(df, Seq("k"))
      .select("k", "v").as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out == Seq((1L, 2L), (2L, 9L)))
  }

  test("splitUpdatedPKeys leaves non-pk-change rows untouched (counter doubled)") {
    val df = frame(Seq((1L, 5L, "update", 0L, null)))
      .withColumn(E.OldKeys, struct(col("k").as("k")))
    val out = Collapse.splitUpdatedPKeys(df, Seq("k"))
    assert(out.count() == 1)
    assert(out.select(E.Kind).as[String].head() == "update")
  }

  test("applyTruncates discards rows before the last truncate per table") {
    val df = Seq(
      ("t1", 1L, "insert", 0L), ("t1", 2L, "insert", 1L),
      ("t1", 0L, "truncate", 2L), ("t1", 3L, "insert", 3L),
      ("t2", 9L, "insert", 0L))
      .toDF(E.Table, "k", E.Kind, E.Lsn).withColumn(E.Counter, lit(0))
    val out = Collapse.applyTruncates(df)
      .select(E.Table, "k").as[(String, Long)].collect().toSeq.sorted
    // t1 rows before the truncate vanish; t2 untouched; control consumed
    assert(out == Seq(("t1", 3L), ("t2", 9L)))
  }

  test("golden 02 full sequence: composite pk, pk reuse after change, delete+reinsert") {
    // tests/canon/sequences/dump/02_insert_update_insert.sql verbatim:
    // INSERT (1,1,'1a'); UPDATE '1b'; UPDATE pk->(2,2);
    // INSERT (1,1,'2a'); UPDATE '2b';
    // INSERT (3,3,'3a'); UPDATE '3b'; DELETE; INSERT (3,3,'4a'); UPDATE '4b'
    val evs = Seq(
      (1L, 1L, "1a", "insert", 0L, (1L, 1L)),
      (1L, 1L, "1b", "update", 1L, (1L, 1L)),
      (2L, 2L, "1b", "update", 2L, (1L, 1L)),   // pk-changing update
      (1L, 1L, "2a", "insert", 3L, (1L, 1L)),
      (1L, 1L, "2b", "update", 4L, (1L, 1L)),
      (3L, 3L, "3a", "insert", 5L, (3L, 3L)),
      (3L, 3L, "3b", "update", 6L, (3L, 3L)),
      (3L, 3L, null.asInstanceOf[String], "delete", 7L, (3L, 3L)),
      (3L, 3L, "4a", "insert", 8L, (3L, 3L)),
      (3L, 3L, "4b", "update", 9L, (3L, 3L)))
    val df = evs.toDF("i1", "i2", "t", E.Kind, E.Lsn, "__ok")
      .withColumn(E.Counter, lit(0))
      .withColumn(E.OldKeys,
        struct(col("__ok._1").as("i1"), col("__ok._2").as("i2")))
      .drop("__ok")
    val split = Collapse.splitUpdatedPKeys(df, Seq("i1", "i2"))
    val out = Collapse.collapse(split, Seq("i1", "i2"))
      .select("i1", "i2", "t", E.Kind).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2), r.getString(3)))
      .toSeq.sortBy(x => (x._1, x._2))
    // net table state matches replaying the SQL: (1,1)='2b', (2,2)='1b', (3,3)='4b'
    assert(out == Seq(
      (1L, 1L, "2b", "insert"), (2L, 2L, "1b", "insert"),
      (3L, 3L, "4b", "insert")))
  }

  test("property: partial-update collapse matches a column-merging naive fold") {
    // events over two data columns a, b; updates may set only a subset
    case class PEv(k: Long, a: Option[Long], b: Option[Long], kind: String,
                   lsn: Long, cols: Option[Seq[String]])
    val rnd = new Random(7)
    def gen(n: Int): Seq[PEv] = (0 until n).map { i =>
      val k = rnd.nextInt(5).toLong
      rnd.nextInt(4) match {
        case 0 => PEv(k, Some(rnd.nextInt(50)), Some(rnd.nextInt(50)), "insert", i, None)
        case 1 => PEv(k, Some(rnd.nextInt(50)), Some(rnd.nextInt(50)), "update", i, None)
        case 2 => // partial update touching one random column
          if (rnd.nextBoolean()) PEv(k, Some(rnd.nextInt(50)), None, "update", i, Some(Seq("a")))
          else PEv(k, None, Some(rnd.nextInt(50)), "update", i, Some(Seq("b")))
        case 3 => PEv(k, None, None, "delete", i, None)
      }
    }
    def naivePartial(evs: Seq[PEv]): Seq[(Long, Option[Long], Option[Long], String)] = {
      case class St(a: Option[Long], b: Option[Long], kind: String)
      val rows = scala.collection.mutable.LinkedHashMap[Long, St]()
      val dels = scala.collection.mutable.LinkedHashMap[Long, Unit]()
      evs.sortBy(_.lsn).foreach { e =>
        e.kind match {
          case "insert" => dels.remove(e.k); rows(e.k) = St(e.a, e.b, "insert")
          case "update" =>
            dels.remove(e.k)
            val setsA = e.cols.forall(_.contains("a"))
            val setsB = e.cols.forall(_.contains("b"))
            rows(e.k) = rows.get(e.k) match {
              case Some(st) => St(if (setsA) e.a else st.a,
                if (setsB) e.b else st.b, st.kind)
              case None => St(if (setsA) e.a else None,
                if (setsB) e.b else None, "update")
            }
          case "delete" => rows.remove(e.k); dels(e.k) = ()
        }
      }
      (rows.map { case (k, st) => (k, st.a, st.b, st.kind) } ++
        dels.keys.map(k => (k, None, None, "delete"))).toSeq.sortBy(_._1)
    }
    for (round <- 1 to 10) {
      val evs = gen(40)
      val df = evs.map(e => (e.k, e.a.map(Long.box).orNull,
          e.b.map(Long.box).orNull, e.kind, e.lsn, e.cols.orNull))
        .toDF("k", "a", "b", E.Kind, E.Lsn, E.UpdatedCols)
        .withColumn(E.Counter, lit(0))
      val got = Collapse.collapse(df, Seq("k"))
        .select("k", "a", "b", E.Kind).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getString(3))).toSeq.sortBy(_._1)
      assert(got == naivePartial(evs), s"mismatch in round $round: $evs")
    }
  }

  test("property: collapsed batch applied to a table equals row-by-row replay (with pk changes)") {
    // the reference's CompareStorages-style contract: for a PK sink,
    // applying the collapsed batch must produce the same final table as
    // replaying every event in order — including pk-changing updates.
    val rnd = new Random(2024)
    for (round <- 1 to 10) {
      // simulate a table to generate valid event streams incl. pk changes
      val table = scala.collection.mutable.Map[Long, Long]()
      case class Ev2(k: Long, oldK: Long, v: Option[Long], kind: String, lsn: Long)
      val evs = scala.collection.mutable.ArrayBuffer[Ev2]()
      for (i <- 0 until 50) {
        val lsn = i.toLong
        rnd.nextInt(4) match {
          case 0 => // insert (possibly upsert)
            val k = rnd.nextInt(10).toLong
            val v = rnd.nextInt(100).toLong
            table(k) = v; evs += Ev2(k, k, Some(v), "insert", lsn)
          case 1 if table.nonEmpty => // plain update of existing key
            val k = table.keys.toSeq(rnd.nextInt(table.size))
            val v = rnd.nextInt(100).toLong
            table(k) = v; evs += Ev2(k, k, Some(v), "update", lsn)
          case 2 if table.nonEmpty => // pk-changing update
            val oldK = table.keys.toSeq(rnd.nextInt(table.size))
            val newK = rnd.nextInt(10).toLong + 100L  // disjoint key space
            val v = table(oldK)
            table.remove(oldK); table(newK) = v
            evs += Ev2(newK, oldK, Some(v), "update", lsn)
          case 3 if table.nonEmpty => // delete
            val k = table.keys.toSeq(rnd.nextInt(table.size))
            table.remove(k); evs += Ev2(k, k, None, "delete", lsn)
          case _ => ()
        }
      }
      val df = evs.toSeq.map(e => (e.k, e.v.map(Long.box).orNull, e.kind, e.lsn))
        .toDF("k", "v", E.Kind, E.Lsn)
        .withColumn(E.Counter, lit(0))
        .withColumn(E.OldKeys, struct(
          element_at(typedLit(evs.map(e => e.lsn -> e.oldK).toMap),
            col(E.Lsn)).as("k")))
      val collapsed = Collapse.collapse(
        Collapse.splitUpdatedPKeys(df, Seq("k")), Seq("k"))
        .select("k", "v", E.Kind).collect()
      // apply the collapsed batch to an empty table (all state came from
      // this batch) and compare with the simulated replay
      val applied = scala.collection.mutable.Map[Long, Long]()
      collapsed.foreach { r =>
        val k = r.getLong(0)
        if (r.getString(2) == "delete") applied.remove(k)
        else applied(k) = r.getLong(1)
      }
      assert(applied.toMap == table.toMap, s"round $round: events=$evs")
    }
  }

  test("lastWriteWins is a map-side-combined aggregation, not a window") {
    val df = Seq((1L, "a", "insert", 1L), (1L, "b", "update", 2L))
      .toDF("id", "v", E.Kind, E.Lsn).withColumn(E.Counter, lit(0))
    val out = Collapse.lastWriteWins(df, Seq("id"))
    assert(out.select("id", "v").as[(Long, String)].collect().toSeq ==
      Seq((1L, "b")))
    val plan = out.queryExecution.executedPlan.toString
    // hot keys partially reduce before the shuffle (skew robustness)
    assert(plan.contains("partial_max_by"), s"no partial aggregate:\n$plan")
    assert(!plan.contains("Window"), s"window in plan:\n$plan")
  }

  test("lastWriteWinsClustered equals lastWriteWins on clustered input, " +
    "with no Exchange and no aggregate of its own") {
    val rnd = new scala.util.Random(41)
    val df = (1 to 400).map(i => (rnd.nextInt(60).toLong, s"v$i",
        if (rnd.nextBoolean()) "update" else "insert", rnd.nextInt(50).toLong, i))
      .toDF("id", "v", E.Kind, E.Lsn, E.Counter)
    val clustered = df.repartition(4, col("id"))
    val out = Collapse.lastWriteWinsClustered(clustered, Seq("id"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "v", E.Lsn, E.Counter).as[(Long, String, Long, Int)].collect().toSet
    assert(rows(out) == rows(Collapse.lastWriteWins(df, Seq("id"))))
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1 && !plan.contains("Aggregate"), plan)
  }

  test("tagTransactions ranks tx ids without a single-partition window") {
    val df = Seq((1L, "t2"), (2L, "t1"), (3L, "t2"), (4L, "t3"))
      .toDF("id", E.TxId)
    val out = Collapse.tagTransactions(df)
    val m = out.select("id", "__tx_ord").as[(Long, Long)].collect().toMap
    assert(m == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // the scale guarantee: no global window, no single-partition funnel
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition exchange in plan:\n$plan")
    assert(!plan.contains("Window"), s"window in plan:\n$plan")
  }
}
