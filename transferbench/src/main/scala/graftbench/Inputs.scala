package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded input generators. Every input of every workload comes from
  * here: the same seed gives byte-identical inputs, and the engine sees
  * only what these functions produce. Shapes follow the sf0.1 fixtures
  * (lineitem, orders, documents) at the sizes [[Sizes]] fixes. */
object Inputs {

  /** One independent pseudo-random stream per (seed, input name), so
    * adding an input never shifts the values of another. */
  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  private val DayS = 86400L
  /** 1995-01-01 and 2001-12-31 as epoch days: the fixtures' date range. */
  private val FirstDay = 9131L
  private val LastDay = 11687L

  private def isoDay(epochS: Long): String =
    java.time.Instant.ofEpochSecond(epochS).toString.stripSuffix("Z") +
      ".000Z"

  // ---------------------------------------------------------------- lineitem

  final case class LineItem(orderkey: Long, partkey: Long, suppkey: Long,
                            linenumber: Int, quantity: Double,
                            extendedprice: Double, discount: Double,
                            tax: Double, returnflag: String,
                            linestatus: String, shipdateS: Long) {
    def toRow: Row = Row(orderkey, partkey, suppkey, linenumber, quantity,
      extendedprice, discount, tax, returnflag, linestatus,
      new java.sql.Timestamp(shipdateS * 1000L))
  }

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  def lineitem(seed: Long, rows: Int): IndexedSeq[LineItem] = {
    val r = rng(seed, "lineitem")
    val flags = Array("A", "N", "R")
    IndexedSeq.fill(rows) {
      LineItem(r.nextLong(rows / 4L max 1L), r.nextLong(20000L),
        r.nextLong(1000L), 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
        r.nextLong(90068L, 10499992L) / 100.0, r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, flags(r.nextInt(3)),
        if (r.nextBoolean()) "O" else "F",
        r.nextLong(FirstDay, LastDay + 1) * DayS)
    }
  }

  // ---------------------------------------------------------------- orders

  final case class Order(orderkey: Long, custkey: Long, status: String,
                         totalprice: Double, orderdateS: Long,
                         priority: String) {
    def toRow: Row = Row(orderkey, custkey, status, totalprice,
      new java.sql.Timestamp(orderdateS * 1000L), priority)
    def json: String =
      s"""{"o_orderkey":$orderkey,"o_custkey":$custkey,""" +
        s""""o_orderstatus":"$status","o_totalprice":$totalprice,""" +
        s""""o_orderdate":"${isoDay(orderdateS)}",""" +
        s""""o_orderpriority":"$priority"}"""
  }

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  private val Priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Statuses = Array("F", "O", "P")

  private def order(r: SplittableRandom, key: Long): Order =
    Order(key, r.nextLong(15000L), Statuses(r.nextInt(3)),
      r.nextLong(90000L, 50000000L) / 100.0,
      r.nextLong(FirstDay, LastDay + 1) * DayS, Priorities(r.nextInt(5)))

  def orders(seed: Long, rows: Int): IndexedSeq[Order] = {
    val r = rng(seed, "orders")
    (0 until rows).map(k => order(r, k.toLong))
  }

  // ---------------------------------------------------------------- change log

  /** One Debezium change event: `op` is c (insert), u (update) or d
    * (delete); `row` is the after image, or the before image of a
    * delete. LSNs increase strictly across the whole log. */
  final case class Event(lsn: Long, op: Char, row: Order) {
    def debeziumJson: String = {
      val (before, after) = if (op == 'd') (row.json, "null") else ("null", row.json)
      s"""{"before":$before,"after":$after,"op":"$op",""" +
        s""""ts_ms":${1700000000000L + lsn / 1000},""" +
        s""""source":{"lsn":$lsn,"txId":"t${lsn / 1000000}"}}"""
    }
  }

  /** Key distribution of a change log: uniform over the base keys, or a
    * Zipf(1)-skewed set of `n` hot keys. */
  sealed trait Keys
  case object Spread extends Keys
  final case class Hot(n: Int) extends Keys

  /** The hot set of a [[Hot]] log: `n` distinct base keys. */
  def hotKeys(seed: Long, baseKeys: Int, n: Int): IndexedSeq[Long] = {
    val r = rng(seed, "hotkeys")
    Iterator.continually(r.nextLong(baseKeys.toLong)).distinct.take(n).toIndexedSeq
  }

  /** Batch `b` of a change log over a base of `baseKeys` keys (0 until
    * baseKeys); each batch has its own random stream, so any batch can be
    * generated without the ones before it. Spread: 88% updates and 6%
    * deletes of uniformly drawn base keys, 6% inserts of new keys. Hot:
    * 92% updates, 4% deletes and 4% re-inserts, all on the hot set, drawn
    * Zipf(1). LSN of event i of batch b: (b + 1) * 10^6 + i. */
  def changeBatch(seed: Long, baseKeys: Int, b: Int, perBatch: Int,
                  keys: Keys): IndexedSeq[Event] = {
    require(perBatch < 1000000, "LSN layout fits 10^6 events per batch")
    val r = rng(seed, s"changelog-$keys-$b")
    val hot = keys match {
      case Hot(n) => hotKeys(seed, baseKeys, n)
      case Spread => IndexedSeq.empty[Long]
    }
    val cdf = {
      val w = hot.indices.map(i => 1.0 / (i + 1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    def hotKey(): Long = {
      val u = r.nextDouble()
      hot(cdf.indexWhere(u < _) match { case -1 => hot.length - 1; case i => i })
    }
    (0 until perBatch).map { i =>
      val lsn = (b + 1) * 1000000L + i
      val u = r.nextInt(100)
      keys match {
        case Spread =>
          if (u < 88) Event(lsn, 'u', order(r, r.nextLong(baseKeys.toLong)))
          else if (u < 94) Event(lsn, 'd', order(r, r.nextLong(baseKeys.toLong)))
          else Event(lsn, 'c', order(r, baseKeys.toLong + b.toLong * perBatch + i))
        case Hot(_) =>
          val op = if (u < 92) 'u' else if (u < 96) 'd' else 'c'
          Event(lsn, op, order(r, hotKey()))
      }
    }
  }

  /** Spool file name of batch `b`: zero-padded so name order is batch
    * order. */
  def spoolName(b: Int): String = f"batch-$b%05d.json"

  /** Write batch `b` as one file-queue spool file in `dir` (one Debezium
    * JSON document per line). */
  def writeSpool(dir: Path, b: Int, events: Seq[Event]): Path = {
    Files.createDirectories(dir)
    val p = dir.resolve(spoolName(b))
    Files.write(p, events.map(_.debeziumJson).mkString("", "\n", "\n")
      .getBytes(UTF_8))
    // the file source takes files in modification-time order: pin it to
    // batch order
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + b * 1000L))
    p
  }

  // ---------------------------------------------------------------- documents

  /** The fixture corpus's vocabulary: documents are word sequences over it. */
  private val Vocab = ("a the batch part spark line column order small sort " +
    "fast value scan hash slow group agg filter query big key window row " +
    "table stream merge data customer join vector").split(' ')
  private val Langs = Array("en", "en", "zh", "es", "fr", "de")

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def toRow: Row = Row(id, text, lang, source, text.length.toLong)
  }

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** `n` documents of 8 to 100 words. About one in six is a near copy of
    * an earlier document (a cut window of it, or it with two words
    * replaced), so both the band and the containment indexes find pairs. */
  def documents(seed: Long, n: Int): IndexedSeq[Doc] = {
    val r = rng(seed, "documents")
    val words = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until n).map { i =>
      val w: Array[String] =
        if (i > 0 && r.nextInt(6) == 0) {
          val src = words(r.nextInt(i))
          if (r.nextBoolean() && src.length > 12) {
            val len = src.length * 3 / 4
            val from = r.nextInt(src.length - len + 1)
            src.slice(from, from + len)
          } else {
            val c = src.clone()
            (0 until 2).foreach(_ => c(r.nextInt(c.length)) = Vocab(r.nextInt(Vocab.length)))
            c
          }
        } else Array.fill(8 + r.nextInt(93))(Vocab(r.nextInt(Vocab.length)))
      words += w
      Doc(i.toLong, w.mkString(" "), Langs(r.nextInt(Langs.length)), s"src${i % 20}")
    }
  }

  /** Seeded arrival order of doc ids 0 until n (Fisher-Yates). */
  def arrivalOrder(seed: Long, n: Int): IndexedSeq[Long] = {
    val r = rng(seed, "arrival")
    val a = Array.tabulate(n)(_.toLong)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
}
