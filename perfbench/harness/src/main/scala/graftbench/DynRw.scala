package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Fixtures
import graft.sources.dynamo.{AttrVal, DynamoColumnarIngest, DynamoMaintenance, IndexMeta, LocalKVStore}
import graft.sources.dynamo.Implicits._

/** Reads and writes on one private store. Set-up seeds `customer` and
  * `orders` from the fixtures, compacts them and builds a GSI on the
  * customer market segment. A cycle is three rounds; each round writes
  * one batch of upserts and then reads the merged view four ways
  * (pushed aggregate, point Query, range Query, GSI read). The second
  * round also runs a MERGE INTO that deletes a slice of customers and
  * re-inserts the slice the previous MERGE deleted; the third ends
  * with a compaction, so the journal backlog fills and folds once per
  * cycle. The seed picks the written items, their values and the read
  * keys. Every read is checked against the state the benchmark derives
  * from the writes it issued.
  */
final class DynRw(spark: SparkSession, runner: Runner, sfDir: String, work: Path)
    extends Workload {
  import DynRw._

  val root: Path = work.resolve("dyn_rw-store")
  private val rootS = root.toString
  private val catalog = "benchrw"

  private val live = mutable.HashMap.empty[Long, Cust]
  /** The slice the last MERGE deleted; the next MERGE re-inserts it. */
  private var deleted = Map.empty[Long, Cust]
  private var allKeys = Array.empty[Long]
  private var orders = Map.empty[Long, Array[(Long, Double)]]
  private var orderCusts = Array.empty[Long]
  private var orderBytes = 0L
  private var segments = Array.empty[String]

  def storeRoot: Option[Path] = Some(root)

  def seed(): Unit = {
    DirListing.wipe(root)
    // Narrow parquet splits so the scan carries the write parallelism
    // (the same session tweak the q_dyn seeds use).
    val clone = spark.newSession()
    clone.conf.set("spark.sql.files.maxPartitionBytes", (8L * 1024 * 1024).toString)
    DynamoColumnarIngest.ingest(Fixtures.customer(clone, sfDir).select(custCols.map(col): _*),
      rootS, "customer", "c_custkey")
    DynamoColumnarIngest.ingest(Fixtures.orders(clone, sfDir).select(orderCols.map(col): _*),
      rootS, "orders", "o_custkey", Some("o_orderkey"))
    new LocalKVStore(rootS).createIndex("customer", "by_segment",
      IndexMeta("c_mktsegment", None, Some(Seq("c_acctbal"))))
    // compaction folds the seed journal and builds the index copy
    DynamoMaintenance.compact(spark, rootS, "customer")
    DynamoMaintenance.compact(spark, rootS, "orders")
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.dynamo.DynamoCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.path", rootS)

    Fixtures.customer(spark, sfDir).select(custCols.map(col): _*).collect().foreach { r =>
      live(r.getLong(0)) = Cust(r.getString(1), r.getInt(2).toLong, r.getDouble(3), r.getString(4))
    }
    allKeys = live.keys.toArray.sorted
    segments = live.values.map(_.seg).toArray.distinct.sorted
    val ord = Fixtures.orders(spark, sfDir).select(orderCols.map(col): _*).collect()
    orderBytes = ord.iterator.map(r => itemBytes(Seq(
      "o_orderkey" -> n(r.getLong(0)), "o_custkey" -> n(r.getLong(1)),
      "o_orderstatus" -> AttrVal.S(r.getString(2)), "o_totalprice" -> n(r.getDouble(3))))).sum
    orders = ord.groupBy(_.getLong(1)).map { case (c, rs) =>
      c -> rs.map(r => (r.getLong(0), r.getDouble(3))).sortBy(_._1)
    }
    orderCusts = orders.keys.toArray.sorted
  }

  def unit(rng: Random): Unit = (0 until 3).foreach { round =>
    write(rng)
    if (round == 1) merge(rng)
    reads(rng)
    if (round == 2) compact()
  }

  private def balance(rng: Random): Double = (rng.nextInt(1100000) - 100000) / 100.0

  private def write(rng: Random): Unit = {
    val keys = rng.shuffle(live.keys.toSeq.sorted).take(BatchSize)
    val next = keys.map(k => k -> live(k).copy(bal = balance(rng)))
    val df = spark.createDataFrame(next.map { case (k, c) => c.row(k) }.asJava, custSchema)
    val ok = runner.action("write", "upsert_batch", root) {
      df.write.format("dynamo").option("path", rootS).option("tableName", "customer")
        .option("hashKey", "c_custkey").mode("append").save()
    }
    if (ok) {
      next.foreach { case (k, c) => live(k) = c }
      if (runner.traced) {
        runner.add("dynamo.write.items", next.size)
        runner.add("dynamo.write.user_bytes", next.map { case (k, c) => c.bytes(k) }.sum.toDouble)
      }
    }
  }

  private def merge(rng: Random): Unit = {
    val del = rng.shuffle(live.keys.toSeq.sorted).take(MergeSlice)
    val back = deleted.toSeq.sortBy(_._1)
    val rows = del.map(k => Row(k, "D", null, null, null, null)) ++
      back.map { case (k, c) => Row(k, "I", c.name, c.nation, c.bal, c.seg) }
    spark.createDataFrame(rows.asJava, mergeSchema).createOrReplaceTempView("bench_rw_slice")
    val ok = runner.action("merge", "merge_slice", root) {
      spark.sql(
        s"""MERGE INTO $catalog.customer t USING bench_rw_slice s
           |ON t.c_custkey = s.c_custkey
           |WHEN MATCHED AND s.op = 'D' THEN DELETE
           |WHEN NOT MATCHED AND s.op = 'I' THEN
           |  INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
           |  VALUES (s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment)
           |""".stripMargin)
      ()
    }
    if (ok) {
      val gone = del.map(k => k -> live(k)).toMap
      del.foreach(live.remove)
      back.foreach { case (k, c) => live(k) = c }
      if (runner.traced) {
        runner.add("dynamo.write.items", del.size + back.size)
        runner.add("dynamo.write.user_bytes",
          (del.map(k => itemBytes(Seq("c_custkey" -> n(k)))).sum +
            back.map { case (k, c) => c.bytes(k) }.sum).toDouble)
      }
      deleted = gone
    }
  }

  private def reads(rng: Random): Unit = {
    runner.query("agg_by_segment")(
      spark.read.dynamo(rootS, "customer").groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("c_acctbal").as("bal")))(identity) { rows =>
      val got = rows.map(r => r.getString(0) -> (r.getLong(1), num(r.get(2)).toDouble)).toMap
      val want = live.values.groupBy(_.seg).map { case (s, cs) =>
        s -> (cs.size.toLong, cs.iterator.map(_.bal).sum)
      }
      // a double sum depends on the order tasks add it in; 2-decimal
      // inputs make any difference below half a cent a rounding effect
      val bad = (got.keySet ++ want.keySet).filterNot { s =>
        (got.get(s), want.get(s)) match {
          case (Some((gn, gb)), Some((wn, wb))) => gn == wn && math.abs(gb - wb) < 0.005
          case _ => false
        }
      }
      if (bad.isEmpty) None else Some(s"segments ${bad.mkString(",")}: got " +
        s"${bad.map(got.get).mkString(",")} want ${bad.map(want.get).mkString(",")}")
    }

    val k = allKeys(rng.nextInt(allKeys.length))
    runner.query("point_query")(
      spark.read.dynamo(rootS, "customer").filter(col("c_custkey") === k)
        .select(custCols.map(col): _*))(identity) { rows =>
      val got = rows.map(r => Cust(r.getString(1), num(r.get(2)).toLong,
        num(r.get(3)).toDouble, r.getString(4))).toSeq
      val want = live.get(k).toSeq
      if (got == want) None else Some(s"key $k: got $got want $want")
    }

    val ck = orderCusts(rng.nextInt(orderCusts.length))
    val os = orders(ck)
    val i = rng.nextInt(os.length)
    val j = i + rng.nextInt(os.length - i)
    val (lo, hi) = (os(i)._1, os(j)._1)
    runner.query("range_query")(
      spark.read.dynamo(rootS, "orders")
        .filter(col("o_custkey") === ck && col("o_orderkey").between(lo, hi))
        .select("o_orderkey", "o_totalprice"))(identity) { rows =>
      val got = rows.map(r => (num(r.get(0)).toLong, num(r.get(1)).toDouble)).sortBy(_._1).toSeq
      val want = os.slice(i, j + 1).toSeq
      if (got == want) None else Some(s"custkey $ck [$lo, $hi]: ${got.size} rows, want ${want.size}")
    }

    val seg = segments(rng.nextInt(segments.length))
    runner.query("gsi_read")(
      spark.read.dynamoIndex(rootS, "customer", "by_segment")
        .filter(col("c_mktsegment") === seg).select("c_custkey", "c_acctbal"))(identity) { rows =>
      val got = rows.map(r => (num(r.get(0)).toLong, num(r.get(1)).toDouble)).sortBy(_._1).toSeq
      val want = live.iterator.collect { case (key, c) if c.seg == seg => (key, c.bal) }
        .toSeq.sortBy(_._1)
      if (got == want) None
      else Some(s"segment $seg: ${got.size} rows, want ${want.size}, " +
        s"${got.diff(want).take(3)} not expected")
    }
  }

  private def compact(): Unit = {
    if (runner.traced) {
      // the merged view at its largest journal backlog, without Spark
      val (ms, items) = StoreScan.table(root, "customer")
      runner.add("dynamo.store.scans", 1)
      runner.add("dynamo.store.scan_ms", ms)
      runner.add("dynamo.store.scan_items", items.toDouble)
    }
    runner.action("compact", "compact_customer", root)(
      DynamoMaintenance.compact(spark, rootS, "customer"))
  }

  /** Live user bytes by DynamoDB's item-size rule. */
  def liveBytes: Long = live.iterator.map { case (k, c) => c.bytes(k) }.sum + orderBytes

  override def report(samples: Seq[Sample]): Map[String, Double] = {
    def ms(kind: String) = samples.filter(_.kind == kind).map(_.ms)
    val w = ms("write")
    val store = DirListing.of(root)
    Map(
      "write_p50_ms" -> Stats.pct(w, 50), "write_p90_ms" -> Stats.pct(w, 90),
      "write_samples" -> w.size.toDouble,
      "merge_p50_ms" -> Stats.pct(ms("merge"), 50),
      "compact_s" -> Stats.pct(ms("compact"), 50) / 1000,
      "compactions" -> ms("compact").size.toDouble,
      "space_amp" -> store.bytes.toDouble / liveBytes,
      "store_bytes" -> store.bytes.toDouble,
      "live_user_bytes" -> liveBytes.toDouble)
  }

  /** Writes the state every acknowledged write should have left, for
    * the reopen check a fresh JVM runs after this one exits.
    */
  def writeExpected(): Unit = {
    val lines = live.toSeq.sortBy(_._1).map { case (k, c) =>
      s"$k\t${c.name}\t${c.nation}\t${c.bal}\t${c.seg}" } ++
      deleted.keys.toSeq.sorted.map(k => s"$k\t$Deleted")
    Files.write(expectedPath(work), lines.asJava, UTF_8)
  }
}

object StoreScan {
  /** (milliseconds, items) for a direct `LocalKVStore.scanSegment` over
    * every segment of `table`'s merged view: the store layer without
    * Spark.
    */
  def table(root: Path, table: String): (Double, Long) = {
    val store = new LocalKVStore(root.toString)
    val t0 = System.nanoTime()
    val n = store.describe(table).shards
    val items = (0 until n).map(seg => store.scanSegment(table, seg, n).size.toLong).sum
    ((System.nanoTime() - t0) / 1e6, items)
  }
}

object DynRw {
  val BatchSize = 200
  val MergeSlice = 50
  private val Deleted = "<deleted>"

  val custCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
  val custSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", LongType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))
  val mergeSchema = StructType(custSchema.fields.head +:
    StructField("op", StringType) +: custSchema.fields.tail)

  final case class Cust(name: String, nation: Long, bal: Double, seg: String) {
    def row(k: Long): Row = Row(k, name, nation, bal, seg)
    def bytes(k: Long): Long = itemBytes(Seq("c_custkey" -> n(k), "c_name" -> AttrVal.S(name),
      "c_nationkey" -> n(nation), "c_acctbal" -> n(bal), "c_mktsegment" -> AttrVal.S(seg)))
  }

  private def num(v: Any): BigDecimal = v match {
    case b: BigDecimal => b
    case b: java.math.BigDecimal => BigDecimal(b)
    case l: Long => BigDecimal(l)
    case i: Int => BigDecimal(i)
    case d: Double => BigDecimal(d)
    case n: Number => BigDecimal(n.toString)
    case other => sys.error(s"not a number: $other")
  }
  private def n(v: Any): AttrVal = AttrVal.N(num(v))

  /** DynamoDB's item size: per attribute, the UTF-8 length of its name
    * plus its value (strings: UTF-8 bytes; numbers: one byte per two
    * significant digits plus one).
    */
  def itemBytes(attrs: Seq[(String, AttrVal)]): Long = attrs.map { case (name, v) =>
    name.getBytes(UTF_8).length + (v match {
      case AttrVal.S(s) => s.getBytes(UTF_8).length
      case AttrVal.N(n) =>
        val digits = if (n.signum == 0) 1 else n.bigDecimal.stripTrailingZeros.precision
        (digits + 1) / 2 + 1
      case _ => 1
    })
  }.sum.toLong

  def expectedPath(work: Path): Path = work.resolve("dyn_rw-expected.tsv")

  /** Reopens the store in a JVM that never wrote to it and checks that
    * it serves exactly the state the writing run acknowledged. The
    * store writes without fsync, so this proves restart durability, not
    * crash durability. Returns (items checked, mismatch descriptions).
    */
  def reopen(work: Path): (Int, Seq[String]) = {
    val store = new LocalKVStore(work.resolve("dyn_rw-store").toString)
    val n = store.describe("customer").shards
    val got = (0 until n).iterator.flatMap(seg => store.scanSegment("customer", seg, n))
      .map { case (item, _) =>
        def s(a: String) = item.get(a).collect { case AttrVal.S(v) => v }.orNull
        def d(a: String) = item.get(a).collect { case AttrVal.N(v) => v }.orNull
        d("c_custkey").toLong ->
          Cust(s("c_name"), d("c_nationkey").toLong, d("c_acctbal").toDouble, s("c_mktsegment"))
      }.toMap
    val bad = mutable.ArrayBuffer.empty[String]
    val lines = Files.readAllLines(expectedPath(work), UTF_8).asScala.toSeq
    lines.foreach { line =>
      val f = line.split('\t')
      val k = f(0).toLong
      if (f(1) == Deleted) {
        if (got.contains(k)) bad += s"deleted key $k is readable"
      } else {
        val want = Cust(f(1), f(2).toLong, f(3).toDouble, f(4))
        if (!got.get(k).contains(want)) bad += s"key $k: read ${got.get(k)}, acknowledged $want"
      }
    }
    val liveCount = lines.count(!_.endsWith(Deleted))
    if (got.size != liveCount)
      bad += s"store holds ${got.size} customers, acknowledged state has $liveCount"
    (lines.size, bad.toSeq)
  }
}
