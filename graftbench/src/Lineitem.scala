package graftbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.codec.IntBlockCodec
import graft.jobs.DecodeJob

/** The integer and timestamp columns of TPC-H lineitem; money columns in cents. */
final case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
    l_quantity: Long, l_extendedprice: Long, l_discount: Long, l_tax: Long, l_shipdate: Timestamp)

/**
 * Seeded lineitem generator with the value ranges of the sf0.1 table: keys
 * uniform over 150k orders, 20k parts and 1k suppliers, 1-7 line numbers,
 * quantity 1-50, price 900.68-104999.91, discount 0-0.10, tax 0-0.08, ship dates
 * on whole days from 1995-01-02 to 2001-11-04, in no particular order. The row
 * stream is fixed; the seed only shifts the three key columns by one constant.
 */
object LineGen {
  val Rows = 600000
  val Cols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
  val Narrow: Seq[String] = Seq("l_orderkey", "l_shipdate")
  val Ddl = "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, " +
    "l_quantity bigint, l_extendedprice bigint, l_discount bigint, l_tax bigint, l_shipdate timestamp"
  /** Raw bytes of one row: eight 8-byte values and one 4-byte value. */
  val RowBytes = 68L
  val FirstDay = 9132L // 1995-01-02
  val Days = 2498L     // through 2001-11-04

  def shift(seed: Long): Long = Math.floorMod(Rng.mix(seed ^ 0x11E1L), 1000000L)

  def row(i: Long, sh: Long): LineRow = {
    val r0 = Rng.mix(i * 0x9E3779B97F4A7C15L + 0x1234567L)
    val r1 = Rng.mix(r0)
    val r2 = Rng.mix(r1)
    def u(r: Long, n: Long, bits: Int): Long = Math.floorMod(r >>> bits, n)
    val day = FirstDay + u(r2, Days, 20)
    LineRow(sh + u(r0, 150000L, 0), sh + u(r0, 20000L, 24), sh + u(r0, 1000L, 44),
      1 + u(r1, 7L, 0).toInt, 100L * (1 + u(r1, 50L, 4)), 90068L + u(r1, 10409924L, 12),
      u(r1, 11L, 40), u(r1, 9L, 48), new Timestamp(day * 86400000L))
  }

  def micros(t: Timestamp): Long = t.getTime * 1000L

  /** Values of every column as the engine stores them (timestamps as epoch micros). */
  def columns(r: LineRow): Array[Long] = Array(r.l_orderkey, r.l_partkey, r.l_suppkey,
    r.l_linenumber.toLong, r.l_quantity, r.l_extendedprice, r.l_discount, r.l_tax, micros(r.l_shipdate))

  /** Per-block decode used by the lineitem decode op: (column, values, wrapping sum). */
  def decodeBlocks(it: Iterator[(String, Array[Byte])]): Iterator[(String, Long, Long)] =
    it.map { case (c, enc) =>
      val (vs, valid) = IntBlockCodec.decodeNullable(enc)
      var s = 0L; var n = 0L; var i = 0
      while (i < vs.length) { if (valid == null || valid(i)) { s += vs(i); n += 1 }; i += 1 }
      (c, n, s)
    }
}

/** Driver-side lineitem oracle: every generated value, column-major. */
final class LineOracle(n: Int, sh: Long) {
  val cols: Array[Array[Long]] = Array.fill(LineGen.Cols.length)(new Array[Long](n))
  locally {
    var i = 0
    while (i < n) {
      val v = LineGen.columns(LineGen.row(i, sh))
      var c = 0
      while (c < v.length) { cols(c)(i) = v(c); c += 1 }
      i += 1
    }
  }
  /** (values, wrapping sum) per column, as the decode op reports them. */
  val sums: Map[String, (Long, Long)] =
    LineGen.Cols.zipWithIndex.map { case (c, j) => c -> (n.toLong, cols(j).sum) }.toMap

  /** (count, sum of column `v`) over rows matching `f`. */
  def agg(f: Int => Boolean, v: Int): (Long, Long) = {
    var k = 0L; var s = 0L; var i = 0
    while (i < n) { if (f(i)) { k += 1; s += cols(v)(i) }; i += 1 }
    (k, s)
  }
}

sealed trait LineLookup {
  def kind: String
  def frame(df: DataFrame): DataFrame
  def want(o: LineOracle): (Long, Long)
  def check(rows: Array[Row], o: LineOracle): Boolean = {
    val w = want(o)
    rows.length == 1 && rows(0).getLong(0) == w._1 && (if (rows(0).isNullAt(1)) 0L else rows(0).getLong(1)) == w._2
  }
}

object LineLookup {
  final case class OrderPoint(key: Long) extends LineLookup {
    def kind = "orderkey_point"
    def frame(df: DataFrame): DataFrame =
      df.where(col("l_orderkey") === key).agg(count(lit(1)), sum(col("l_extendedprice")))
    def want(o: LineOracle): (Long, Long) = o.agg(i => o.cols(0)(i) == key, 5)
  }

  final case class ShipRange(lo: Long, hi: Long) extends LineLookup {
    def kind = "shipdate_range"
    def frame(df: DataFrame): DataFrame =
      df.where(col("l_shipdate") >= lit(new Timestamp(lo / 1000L)) && col("l_shipdate") < lit(new Timestamp(hi / 1000L)))
        .agg(count(lit(1)), sum(col("l_quantity")))
    def want(o: LineOracle): (Long, Long) = o.agg(i => o.cols(8)(i) >= lo && o.cols(8)(i) < hi, 4)
  }
}

/**
 * Bulk write and read of integer columns: each iteration does CREATE TABLE and
 * INSERT through the graft catalog, then a full V2 scan, a narrow V2 scan
 * (l_orderkey, l_shipdate), a block decode and a burst of lookups.
 */
final class LineitemWorkload(ctx: Ctx) extends Workload {
  val Lookups = 3
  private val sh = LineGen.shift(ctx.args.seed)
  private val qRows = LineGen.Rows * ctx.nq / ctx.nproc
  private val bytes = LineGen.Rows * LineGen.RowBytes
  private var input: String = _
  private var qInput: String = _
  private var full: Digest = _
  private var narrow: Digest = _
  private var qFull: Digest = _
  private var oracle: LineOracle = _
  private var pool: Array[LineLookup] = _
  private val rng = new Rng(ctx.args.seed ^ 0x11EL)
  private var zipf: Rng.Zipf = _
  private var drawn = 0
  /** Quarter-leg stores: root, seconds, the paired parquet write's seconds,
    * and whether timed (the new session's first op is not). */
  private val qStores = ArrayBuffer.empty[(String, Double, Option[Double], Boolean)]
  private var lastStore: String = _
  private var i = 0

  def inputSizes: Seq[(String, Long)] = Seq("rows" -> LineGen.Rows.toLong, "quarter_rows" -> qRows.toLong,
    "bytes" -> bytes, "key_shift" -> sh)

  /** Write rows `0 until n` as parquet; returns the full and the narrow digest. */
  private def write(path: String, n: Int): (Digest, Digest) = {
    val spark = ctx.spark
    import spark.implicits._
    val s = sh
    spark.range(0L, n.toLong, 1L, math.max(1, ctx.nproc * 2)).map(i => LineGen.row(i, s))
      .write.mode("overwrite").parquet(path)
    val r = spark.read.parquet(path).agg(count(lit(1)),
      Digest.sums(LineGen.Cols) ++ Digest.sums(LineGen.Narrow): _*).head()
    (Digest(r.getLong(0), r.getLong(1), r.getLong(2)), Digest(r.getLong(0), r.getLong(3), r.getLong(4)))
  }

  def setupPass(pass: Int): Unit = {
    val d = ctx.dir(s"setup-$pass")
    input = d.resolve("lineitem").toString
    qInput = d.resolve("lineitem_q").toString
    val (f, nw) = write(input, LineGen.Rows)
    full = f
    narrow = nw
    qFull = write(qInput, qRows)._1
    oracle = new LineOracle(LineGen.Rows, sh)
    val r = new Rng(ctx.args.seed)
    pool = Array.tabulate[LineLookup](384) { i =>
      if (i % 2 == 0) LineLookup.OrderPoint(sh + r.nextInt(150000))
      else {
        val day = LineGen.FirstDay + r.nextInt(LineGen.Days.toInt - 7)
        LineLookup.ShipRange(day * 86400000000L, (day + 7) * 86400000000L)
      }
    }
    zipf = new Rng.Zipf(pool.length / 2, 1.1)
    if (pass > 0) Fs.delete(ctx.dir(s"setup-${pass - 1}"))
  }

  private def ident(root: String) = s"graftcat.`$root`"

  private def insert(root: String, src: String): Unit = {
    ctx.spark.sql(s"CREATE TABLE ${ident(root)} (${LineGen.Ddl}) USING graft")
    ctx.spark.sql(s"INSERT INTO ${ident(root)} SELECT ${LineGen.Cols.mkString(", ")} FROM parquet.`$src`")
  }

  private def decode(root: String): Map[String, (Long, Long)] = {
    val spark = ctx.spark
    import spark.implicits._
    DecodeJob.blocks(spark, root).select("column", "encoded").as[(String, Array[Byte])]
      .mapPartitions(LineGen.decodeBlocks).collect()
      .groupBy(_._1).map { case (c, xs) => c -> (xs.map(_._2).sum, xs.map(_._3).sum) }
  }

  def quarterLeg(deadlineNs: Long): Unit = {
    var j = 0
    do {
      val root = ctx.dir(s"q-store-$j").toString
      val (g, p) = Baseline.paired(j % 2 == 1)(
        ctx.op("ingest_q", "insert")(insert(root, qInput))(_ => Reads.manifest(root)._1 == qRows))(
        Baseline.op(ctx, "write_q")(ctx.spark.read.parquet(qInput).write.parquet(root + "-pq"))(_ => true))
      g.foreach { case (_, s) => qStores += ((root, s, p, j > 0)) }
      j += 1
    } while (ctx.before(deadlineNs))
  }

  def verifyQuarter(): Unit = qStores.foreach { case (root, s, p, timed) =>
    if (timed) ctx.rec.addPending(Seq("ingest_q_mbps" -> qRows * LineGen.RowBytes / 1e6 / s) ++
      p.map(q => "rel.write_q" -> q / s): _*)
    ctx.rec.settlePending(ctx.rec.expectOk(Digest.of(Reads.v2(ctx.spark, root), LineGen.Cols) == qFull))
    Fs.delete(java.nio.file.Paths.get(root))
    Fs.delete(java.nio.file.Paths.get(root + "-pq"))
  }

  def mainLoop(deadlineNs: Long): Unit = {
    do {
      ctx.tracer.active = ctx.args.trace && !ctx.rec.discard && i % 2 == 1
      if (lastStore != null) Seq(lastStore, lastStore + "-pq").foreach(d => Fs.delete(java.nio.file.Paths.get(d)))
      val root = ctx.dir(s"store-$i").toString
      val pqRoot = root + "-pq"
      lastStore = root
      val flip = i % 2 == 1
      val (ing, pw) = Baseline.paired(flip)(
        ctx.op("ingest", "insert")(insert(root, input))(_ => Reads.manifest(root)._1 == LineGen.Rows))(
        Baseline.op(ctx, "write")(ctx.spark.read.parquet(input).write.parquet(pqRoot))(_ => true))
      ing.foreach { case (_, s) =>
        val (_, orig, enc) = Reads.manifest(root)
        ctx.rec.addPending(Seq("ingest_mbps" -> bytes / 1e6 / s, "append_ms" -> s * 1e3,
          "compression_ratio" -> orig.toDouble / enc,
          "disk_bytes_per_user_byte" -> Fs.sizeOf(java.nio.file.Paths.get(root)).toDouble / bytes) ++
          pw.map(p => "rel.write" -> p / s): _*)
      }
      if (ing.isDefined) {
        ctx.rec.settlePending(Reads.round(ctx, root, pqRoot, flip, LineGen.Rows, bytes, LineGen.Cols, LineGen.Narrow,
          full, narrow)(ctx.op("scan", "decode_job")(decode(root))(_ == oracle.sums).map(_._2)))
        (0 until Lookups).foreach { _ =>
          // kinds in turn (points at even pool slots, ranges at odd), Zipf within a kind
          val l = pool(2 * zipf.draw(rng) + (drawn % 2))
          drawn += 1
          val (g, p) = Baseline.paired(flip)(
            ctx.op("lookup", l.kind)(Reads.planExec(ctx, l.frame(Reads.v2(ctx.spark, root)))(_.collect()))(
              rows => l.check(rows, oracle)).map(_._2))(
            Baseline.op(ctx, "lookup")(l.frame(ctx.spark.read.parquet(pqRoot)).collect())(
              rows => l.check(rows, oracle)))
          g.foreach { s =>
            ctx.rec.add("lookup_ms", s * 1e3)
            p.foreach(q => ctx.rec.add(s"rel.lookup.${l.kind}", s / q))
            if (ctx.tracer.active) ctx.rec.add("lookup_results", l.want(oracle)._1.toDouble)
          }
          Reads.groupsRead(ctx, root)
        }
      }
      i += 1
    } while (ctx.before(deadlineNs))
    ctx.tracer.active = false
  }

  def probes(p: Probes): Unit = {
    val n = 65536
    p.intKernels(oracle.cols.map(c => java.util.Arrays.copyOf(c, n)), LineGen.RowBytes.toDouble)
    if (lastStore != null) p.store(lastStore)
  }
}
