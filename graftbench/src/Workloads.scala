package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.{DecodeJob, EncodeJob, StoreMaintenance}
import graft.sources.{SnapshotStore, WebPage, Webtext}
import graft.sources.v2.GraftDataSource

/** Reads through the V2 source, with the plan and exec phases timed apart. */
object Reads {
  val PageCols: Seq[String] = Seq("url", "warc_ts", "html", "text", "lang")
  val WebNarrow: Seq[String] = Seq("url", "warc_ts", "lang")

  def v2(spark: SparkSession, root: String): DataFrame = spark.read.format("graft").load(root)

  /** Plan (`executedPlan`) then run `exec`; both phases are spans of the current op. */
  def planExec[T](ctx: Ctx, df: => DataFrame)(exec: DataFrame => T): T = {
    val d = ctx.tracer.phase("plan", "graft.sources.v2.plan") {
      val t0 = System.nanoTime()
      val d = df
      d.queryExecution.executedPlan
      ctx.rec.add("v2.plan_ms", (System.nanoTime() - t0) / 1e6)
      d
    }
    ctx.tracer.phase("exec", "spark.exec") {
      val t0 = System.nanoTime()
      val out = exec(d)
      ctx.rec.add("v2.exec_ms", (System.nanoTime() - t0) / 1e6)
      out
    }
  }

  /** Full or projected V2 scan reduced to its [[Digest]]. */
  def digest(ctx: Ctx, root: String, cols: Seq[String]): Digest =
    planExec(ctx, Digest.frame(v2(ctx.spark, root), cols))(d => Digest.read(d.head()))

  /**
   * A full V2 scan, a narrow V2 scan and the workload's decode of the store at
   * `root`, each checked against the expected digests, beside parquet scans
   * of its copy at `pqRoot`. The full parquet scan runs between the full V2
   * scan and the decode, so one parquet sample pairs with both. `decode` is
   * the timed, checked decode op. Returns whether the full V2 scan was right.
   */
  def round(ctx: Ctx, root: String, pqRoot: String, flip: Boolean, rows: Long, bytes: Long,
      cols: Seq[String], narrowCols: Seq[String], full: Digest, narrow: Digest)(
      decode: => Option[Double]): Boolean = {
    def pq(name: String, cs: Seq[String], want: Digest) =
      Baseline.op(ctx, name)(Digest.of(ctx.spark.read.parquet(pqRoot), cs))(_ == want)
    def scan() = ctx.op("scan", "full")(digest(ctx, root, cols))(_ == full).map(_._2)
    val (s, d, p) =
      if (flip) { val d = decode; val p = pq("scan", cols, full); (scan(), d, p) }
      else { val s = scan(); val p = pq("scan", cols, full); (s, decode, p) }
    s.foreach { t => ctx.rec.add("scan_mbps", bytes / 1e6 / t); p.foreach(q => ctx.rec.add("rel.scan", q / t)) }
    d.foreach { t => ctx.rec.add("decode_job_mbps", bytes / 1e6 / t); p.foreach(q => ctx.rec.add("rel.decode", q / t)) }
    val (n, pn) = Baseline.paired(flip)(
      ctx.op("scan", "narrow")(digest(ctx, root, narrowCols))(_ == narrow).map(_._2))(pq("narrow", narrowCols, narrow))
    n.foreach { t =>
      ctx.rec.add("scan_narrow_mrows_per_s", rows / 1e6 / t)
      pn.foreach(q => ctx.rec.add("rel.narrow", q / t))
    }
    s.isDefined
  }

  /** `DecodeJob.decode` of a webtext store, checked against its full digest. */
  def decodeJob(ctx: Ctx, root: String, full: Digest): Option[Double] =
    ctx.op("scan", "decode_job")(Digest.of(DecodeJob.decode(ctx.spark, root).toDF(), PageCols))(_ == full).map(_._2)

  /** Manifest totals of the current snapshot: (rows, original bytes, encoded bytes). */
  def manifest(root: String): (Long, Long, Long) = {
    val es = SnapshotStore.currentEntries(root)
    (es.map(_.nRows).sum, es.map(_.origBytes).sum, es.map(_.encBytes).sum)
  }

  /** Share of the store's block groups a planned read kept (1.0 when nothing was pruned). */
  def groupsRead(ctx: Ctx, root: String): Unit = {
    val total = SnapshotStore.currentEntries(root)
      .map(e => math.max(1L, (e.nRows + EncodeJob.BlockSize - 1) / EncodeJob.BlockSize)).sum
    GraftDataSource.planStatsFor(root).foreach { st =>
      val kept = st.prunedGroupKeys.map(_.toLong).getOrElse(total)
      if (total > 0) ctx.rec.add("v2.groups_read_ratio", kept.toDouble / total)
    }
  }
}

// ------------------------------------------------------------------ webtext data

/** Driver-side oracle over the pages a store holds, built from the generator. */
final class WebOracle {
  val urls = ArrayBuffer.empty[String]
  val crcs = ArrayBuffer.empty[Long]
  val hosts = ArrayBuffer.empty[Int]
  val langs = ArrayBuffer.empty[String]
  val ts = ArrayBuffer.empty[Long]
  var bytes = 0L
  private val idSet = new java.util.HashSet[java.lang.Long]()

  def add(pages: Array[WebPage], firstId: Long): Unit = {
    var i = 0
    while (i < pages.length) {
      val p = pages(i)
      idSet.add(firstId + i)
      urls += p.url
      crcs += WebOracle.crc(p.url)
      hosts += WebOracle.hostOf(p.url)
      langs += p.lang
      ts += WebOracle.micros(p.warc_ts)
      bytes += WebOracle.bytesOf(p)
      i += 1
    }
  }

  def contains(id: Long): Boolean = idSet.contains(id)

  /** (count, crc sum of url) over the pages matching `f`. */
  def agg(f: Int => Boolean): (Long, Long) = {
    var n = 0L; var s = 0L; var i = 0
    while (i < urls.length) { if (f(i)) { n += 1; s += crcs(i) }; i += 1 }
    (n, s)
  }
}

object WebOracle {
  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }
  def hostOf(url: String): Int = {
    val a = url.indexOf("host-") + 5
    url.substring(a, url.indexOf('.', a)).toInt
  }
  def micros(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  def ts(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
  /** User bytes of a page: its four string/binary values plus the 8-byte timestamp. */
  def bytesOf(p: WebPage): Long =
    p.url.getBytes(StandardCharsets.UTF_8).length + p.html.length +
      p.text.getBytes(StandardCharsets.UTF_8).length + p.lang.length + 8L

  /** Pages `lo until lo+n`, generated on the driver in parallel. */
  def pages(lo: Long, n: Int): Array[WebPage] = {
    val out = new Array[WebPage](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = Webtext.page(lo + i))
    out
  }

  /** Page-id offset picked by the seed: always 9 digits, so page sizes do not drift with it. */
  def offset(seed: Long): Long = 100000000L + Math.floorMod(Rng.mix(seed ^ 0x5EEDL), 800000000L)

  val Langs: Array[String] = Array("en", "zh", "de", "es", "fr", "ru", "ja", "pt", "it", "nl")
}

/** One lookup predicate over a webtext store, with its oracle check. */
sealed trait WebLookup {
  def kind: String
  def frame(df: DataFrame): DataFrame
  def check(rows: Array[Row], o: WebOracle): Boolean
  /** Result rows the oracle expects (for rows-read-per-result). */
  def expected(o: WebOracle): Long
}

object WebLookup {
  private def aggUrls(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(crc32(col("url").cast("binary"))))
  private def sameAgg(rows: Array[Row], want: (Long, Long)): Boolean =
    rows.length == 1 && rows(0).getLong(0) == want._1 &&
      (if (rows(0).isNullAt(1)) 0L else rows(0).getLong(1)) == want._2

  final case class UrlPoint(id: Long) extends WebLookup {
    val page: WebPage = Webtext.page(id)
    def kind = "url_point"
    def frame(df: DataFrame): DataFrame =
      df.where(col("url") === page.url).select("url", "warc_ts", "lang", "text")
    def check(rows: Array[Row], o: WebOracle): Boolean =
      if (!o.contains(id)) rows.isEmpty
      else rows.length == 1 && rows(0).getString(0) == page.url &&
        WebOracle.micros(rows(0).getTimestamp(1)) == WebOracle.micros(page.warc_ts) &&
        rows(0).getString(2) == page.lang && rows(0).getString(3) == page.text
    def expected(o: WebOracle): Long = if (o.contains(id)) 1L else 0L
  }

  final case class HostLang(host: Int, lang: String) extends WebLookup {
    def kind = "host_lang"
    private val prefix = s"https://host-$host.example.com/"
    def frame(df: DataFrame): DataFrame =
      aggUrls(df.where(col("url").startsWith(prefix) && col("lang") === lang))
    private def want(o: WebOracle) = o.agg(i => o.hosts(i) == host && o.langs(i) == lang)
    def check(rows: Array[Row], o: WebOracle): Boolean = sameAgg(rows, want(o))
    def expected(o: WebOracle): Long = want(o)._1
  }

  final case class TsRange(lo: Long, hi: Long) extends WebLookup {
    def kind = "ts_range"
    def frame(df: DataFrame): DataFrame =
      aggUrls(df.where(col("warc_ts") >= lit(WebOracle.ts(lo)) && col("warc_ts") < lit(WebOracle.ts(hi))))
    private def want(o: WebOracle) = o.agg(i => o.ts(i) >= lo && o.ts(i) < hi)
    def check(rows: Array[Row], o: WebOracle): Boolean = sameAgg(rows, want(o))
    def expected(o: WebOracle): Long = want(o)._1
  }

  /** One predicate of each kind around page `id`, for warm-up. */
  def warmSet(id: Long): Seq[WebLookup] = {
    val p = Webtext.page(id)
    val us = WebOracle.micros(p.warc_ts)
    Seq(UrlPoint(id), HostLang(WebOracle.hostOf(p.url), p.lang), TsRange(us - 3600000000L, us + 3600000000L))
  }

  /**
   * A pool of `size` predicates (a third of each kind) drawn from the seed. Url
   * points name ids in `[lo, hi)`; hosts and time windows follow the pages of
   * `sample`, so most predicates match something.
   */
  def pool(rng: Rng, size: Int, lo: Long, hi: Long, sample: WebOracle): Array[WebLookup] =
    Array.tabulate[WebLookup](size) { i =>
      val j = rng.nextInt(sample.urls.length)
      i % 3 match {
        case 0 => UrlPoint(lo + (rng.nextLong() & Long.MaxValue) % (hi - lo))
        case 1 => HostLang(sample.hosts(j), WebOracle.Langs(rng.nextInt(3)))
        case _ =>
          val w = 7200L * 1000000L
          TsRange(sample.ts(j) - w / 2, sample.ts(j) + w / 2)
      }
    }
}

/** Lookup bursts shared by the webtext-shaped workloads. */
final class WebLookups(ctx: Ctx, pool: Array[WebLookup], seed: Long) {
  private val rng = new Rng(seed ^ 0x100CL)
  private val kinds = pool.groupBy(_.kind).values.toArray.sortBy(_.head.kind)
  private val zipf = kinds.map(k => new Rng.Zipf(k.length, 1.1))
  private var n = 0

  /** Kinds in turn, so every seed runs the same mix; within a kind the pool is
    * in seeded order and drawn Zipf-skewed, so hot predicates repeat. */
  def next(): WebLookup = {
    val k = n % kinds.length
    n += 1
    kinds(k)(zipf(k).draw(rng))
  }

  def run(root: String, l: WebLookup, o: WebOracle): Option[Double] = {
    val res = ctx.op("lookup", l.kind)(Reads.planExec(ctx, l.frame(Reads.v2(ctx.spark, root)))(_.collect()))(
      rows => l.check(rows, o))
    res.foreach { case (_, s) =>
      ctx.rec.add("lookup_ms", s * 1e3)
      if (ctx.tracer.active) ctx.rec.add("lookup_results", l.expected(o).toDouble)
    }
    Reads.groupsRead(ctx, root)
    res.map(_._2)
  }

  /** The lookup on the store and on its parquet copy, back to back; their
    * time ratio is a `rel.lookup` sample. */
  def paired(root: String, pqRoot: String, flip: Boolean, l: WebLookup, o: WebOracle): Unit = {
    val (g, p) = Baseline.paired(flip)(run(root, l, o))(
      Baseline.op(ctx, "lookup")(l.frame(ctx.spark.read.parquet(pqRoot)).collect())(rows => l.check(rows, o)))
    for (gs <- g; ps <- p) ctx.rec.add(s"rel.lookup.${l.kind}", gs / ps)
  }
}

/** Spark's own parquet, written and read beside each graft op on the same
  * rows: the reference the end-to-end ratios are taken against. */
object Baseline {
  /** Seconds of a right baseline op; never traced. */
  def op[T](ctx: Ctx, name: String)(body: => T)(check: T => Boolean): Option[Double] = {
    val was = ctx.tracer.active
    ctx.tracer.active = false
    try ctx.op("parquet", name)(body)(check).map(_._2) finally ctx.tracer.active = was
  }

  /** Runs `g` and `p` back to back, `p` first when `flip`, so both see the
    * host at the same speed and neither always runs after the other. */
  def paired[A, B](flip: Boolean)(g: => A)(p: => B): (A, B) =
    if (flip) { val b = p; (g, b) } else { val a = g; (a, p) }
}

/** Materialized webtext input: parquet of pages `lo until lo+n` plus its digests. */
final class WebInput(ctx: Ctx, dir: Path, val lo: Long, val n: Int) {
  val path: String = dir.toString
  locally {
    val spark = ctx.spark
    import spark.implicits._
    spark.range(lo, lo + n, 1L, math.max(1, ctx.nproc * 2)).map(id => Webtext.page(id))
      .write.mode("overwrite").parquet(path)
  }
  def ds: Dataset[WebPage] = {
    val spark = ctx.spark
    import spark.implicits._
    spark.read.parquet(path).as[WebPage]
  }
  // both digests and the byte count in one pass over the parquet
  private val r = ds.toDF().agg(count(lit(1)), Digest.sums(Reads.PageCols) ++ Digest.sums(Reads.WebNarrow) :+
    sum(octet_length(col("url")) + octet_length(col("html")) + octet_length(col("text")) +
      octet_length(col("lang")) + lit(8L)): _*).head()
  val full: Digest = Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  val narrow: Digest = Digest(r.getLong(0), r.getLong(3), r.getLong(4))
  val bytes: Long = r.getLong(5)
}

// ------------------------------------------------------------------ webtext

/**
 * Bulk write then bulk read of the webtext payload: each iteration encodes the
 * seeded pages into a fresh store with `EncodeJob.run`, then reads it back with
 * a full V2 scan, a narrow V2 scan, `DecodeJob.decode` and a url-point lookup.
 */
final class WebtextWorkload(ctx: Ctx) extends Workload {
  val Pages = 8000
  /** Url-point lookups per iteration: one kind, so their median is not pulled
    * between the levels of different kinds. */
  val Lookups = 1
  private val lo = WebOracle.offset(ctx.args.seed)
  private val qPages = Pages * ctx.nq / ctx.nproc
  private var full: WebInput = _
  private var quarter: WebInput = _
  private var oracle: WebOracle = _
  private var lookups: WebLookups = _
  /** Quarter-leg stores: root, seconds, the paired parquet write's seconds,
    * and whether timed (the new session's first op is not). */
  private val qStores = ArrayBuffer.empty[(String, Double, Option[Double], Boolean)]
  private var lastStore: String = _
  private var i = 0

  def inputSizes: Seq[(String, Long)] = Seq("pages" -> Pages.toLong, "quarter_pages" -> qPages.toLong,
    "bytes" -> (if (full == null) 0L else full.bytes), "page_id_offset" -> lo)

  private def parts(threads: Int): Int = 2 * threads

  def setupPass(pass: Int): Unit = {
    val d = ctx.dir(s"setup-$pass")
    full = new WebInput(ctx, d.resolve("pages"), lo, Pages)
    quarter = new WebInput(ctx, d.resolve("pages_q"), lo, qPages)
    ctx.rec.values("input_bytes") = full.bytes.toDouble
    oracle = new WebOracle
    oracle.add(WebOracle.pages(lo, Pages), lo)
    lookups = new WebLookups(ctx, WebLookup.pool(new Rng(ctx.args.seed), 384, lo, lo + Pages, oracle)
      .filter(_.kind == "url_point"), ctx.args.seed)
    if (pass > 0) Fs.delete(ctx.dir(s"setup-${pass - 1}"))
  }

  def quarterLeg(deadlineNs: Long): Unit = {
    var j = 0
    do {
      val root = ctx.dir(s"q-store-$j").toString
      val (g, p) = Baseline.paired(j % 2 == 1)(ctx.op("ingest_q", "encode_job")(
        EncodeJob.run(ctx.spark, quarter.ds, root, parts(ctx.nq)))(_.nRows == qPages))(
        Baseline.op(ctx, "write_q")(quarter.ds.toDF().write.parquet(root + "-pq"))(_ => true))
      g.foreach { case (_, s) => qStores += ((root, s, p, j > 0)) }
      j += 1
    } while (ctx.before(deadlineNs))
  }

  def verifyQuarter(): Unit = qStores.foreach { case (root, s, p, timed) =>
    if (timed) ctx.rec.addPending(Seq("ingest_q_mbps" -> quarter.bytes / 1e6 / s) ++
      p.map(q => "rel.write_q" -> q / s): _*)
    ctx.rec.settlePending(ctx.rec.expectOk(Digest.of(Reads.v2(ctx.spark, root), Reads.PageCols) == quarter.full))
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
        ctx.op("ingest", "encode_job")(EncodeJob.run(ctx.spark, full.ds, root, parts(ctx.nproc)))(_.nRows == Pages))(
        Baseline.op(ctx, "write")(full.ds.toDF().write.parquet(pqRoot))(_ => true))
      ing.foreach { case (_, s) =>
        val (_, orig, enc) = Reads.manifest(root)
        ctx.rec.addPending(Seq("ingest_mbps" -> full.bytes / 1e6 / s, "append_ms" -> s * 1e3,
          "compression_ratio" -> orig.toDouble / enc,
          "disk_bytes_per_user_byte" -> Fs.sizeOf(java.nio.file.Paths.get(root)).toDouble / full.bytes) ++
          pw.map(p => "rel.write" -> p / s): _*)
      }
      if (ing.isDefined) {
        ctx.rec.settlePending(Reads.round(ctx, root, pqRoot, flip, Pages, full.bytes, Reads.PageCols, Reads.WebNarrow,
          full.full, full.narrow)(Reads.decodeJob(ctx, root, full.full)))
        (0 until Lookups).foreach(_ => lookups.paired(root, pqRoot, flip, lookups.next(), oracle))
      }
      i += 1
    } while (ctx.before(deadlineNs))
    ctx.tracer.active = false
  }

  def probes(p: Probes): Unit = {
    p.webKernels(WebOracle.pages(lo, 16384), full.bytes.toDouble / Pages)
    if (lastStore != null) p.store(lastStore)
  }
}

// ------------------------------------------------------------------ append_lookup

/**
 * Small appends beside selective reads on one store. Each loop starts from a
 * fresh copy of the base store and makes `Steps` appends of `Batch` pages,
 * each followed by a burst of lookups; `StoreMaintenance.run` compacts every
 * `Every` appends and once more after the last. Then, until the deadline (and
 * at least twice when timed), it reads the whole store in rounds of a full
 * scan, a narrow scan and `DecodeJob.decode`, each checked against the
 * oracle; the first round is not timed. Every loop therefore
 * writes and reads the same store shape however fast the host runs.
 */
final class AppendLookupWorkload(ctx: Ctx) extends Workload {
  val BasePages = 4000
  val Batch = 800
  val Steps = 6
  val Every = 3
  val Burst = 2
  /** At least this share of the loop's time is left for the read rounds:
    * a host too slow for `Steps` appends in the rest stops appending early. */
  val ReadShare = 0.35
  override def quarterShare: Double = 0.12
  override def warmSeconds: Double = 6.0
  /** The base store's parts: 2,000 rows each on any host. */
  val BaseParts = 2
  /** Compaction picks parts below this many rows: the appends' parts (at most
    * one batch), never the base's or an earlier compaction's. */
  val MinRows = 1000L
  private val lo = WebOracle.offset(ctx.args.seed)
  private val qBatch = Batch * ctx.nq / ctx.nproc
  private var baseRoot: String = _
  private var base: WebInput = _
  private var basePages: Array[WebPage] = _
  private var root: String = _
  /** The parquet copy of the store: the base pages plus every appended batch. */
  private var pqRoot: String = _
  /** Which of a pair runs first; flips after every pair kind. */
  private var flip = false
  private var oracle: WebOracle = _
  private var lookups: WebLookups = _
  private var expFull = Digest.Zero
  private var expNarrow = Digest.Zero
  private var nextId = 0L
  private var loops = 0

  def inputSizes: Seq[(String, Long)] = Seq("base_pages" -> BasePages.toLong, "batch_pages" -> Batch.toLong,
    "quarter_batch_pages" -> qBatch.toLong, "page_id_offset" -> lo)

  def setupPass(pass: Int): Unit = {
    val d = ctx.dir(s"setup-$pass")
    base = new WebInput(ctx, d.resolve("pages"), lo, BasePages)
    baseRoot = d.resolve("store").toString
    EncodeJob.run(ctx.spark, base.ds, baseRoot, BaseParts)
    basePages = WebOracle.pages(lo, BasePages)
    oracle = new WebOracle
    oracle.add(basePages, lo)
    lookups = new WebLookups(ctx,
      WebLookup.pool(new Rng(ctx.args.seed), 512, lo, lo + BasePages + 64L * Batch, oracle), ctx.args.seed)
    if (pass > 0) Fs.delete(ctx.dir(s"setup-${pass - 1}"))
  }

  /** Append `n` fresh pages to the store and, as a pair, to its parquet copy.
    * Returns the new parts, the batch's digest, the op's seconds and the
    * parquet append's seconds when the commit is right; its read-back
    * settles later. */
  private def append(n: Int, name: String): Option[(Set[Int], Digest, Long, Double, Option[Double])] = {
    val spark = ctx.spark
    import spark.implicits._
    val first = nextId
    nextId += n
    val pages = WebOracle.pages(first, n)
    val df = spark.createDataset(pages.toSeq).toDF()
    val r = df.agg(count(lit(1)), Digest.sums(Reads.PageCols) ++ Digest.sums(Reads.WebNarrow): _*).head()
    val dFull = Digest(r.getLong(0), r.getLong(1), r.getLong(2))
    val dNarrow = Digest(r.getLong(0), r.getLong(3), r.getLong(4))
    val bytes = pages.map(WebOracle.bytesOf).sum
    val wantRows = oracle.urls.length + n
    val before = SnapshotStore.committedPartIds(root)
    val (res, pq) = Baseline.paired(flip)(ctx.op("append", name)(df.write.format("graft").mode("append").save(root))(
      _ => Reads.manifest(root)._1 == wantRows))(
      Baseline.op(ctx, name)(df.write.mode("append").parquet(pqRoot))(_ => true))
    oracle.add(pages, first)
    expFull = expFull + dFull
    expNarrow = expNarrow + dNarrow
    res.map { case (_, s) =>
      if (ctx.tracer.active) ctx.rec.add("append_bytes", bytes.toDouble)
      (SnapshotStore.committedPartIds(root) -- before, dFull, bytes, s, pq)
    }
  }

  /** Quarter-leg appends: new parts and the batch's digest. */
  private var qParts = Set.empty[Int]
  private var qDigest = Digest.Zero

  /** Quarter-size appends, each beside the same parquet append; checked after
    * the leg. The new session's first append is checked but not timed. */
  def quarterLeg(deadlineNs: Long): Unit = {
    var j = 0
    do {
      append(qBatch, "append_q").foreach { case (parts, d, bytes, s, pq) =>
        ctx.rec.addPending((if (j == 0) Nil else Seq("ingest_q_mbps" -> bytes / 1e6 / s) ++
          pq.map(p => "rel.write_q" -> p / s)): _*)
        qParts ++= parts
        qDigest = qDigest + d
      }
      j += 1
    } while (ctx.before(deadlineNs))
  }

  /** The quarter-leg appends are checked together by decoding just their new
    * parts: digests add up, so the parts must hold exactly the batches. */
  def verifyQuarter(): Unit = ctx.rec.settlePending(ctx.rec.expectOk(
    Digest.of(DecodeJob.decodeParts(ctx.spark, root, qParts.toSeq).toDF(), Reads.PageCols) == qDigest))

  /** Compaction, checked by the store's row count; the next full scan checks
    * its content. */
  private def maintain(): Unit = {
    val before = SnapshotStore.currentEntries(root)
    val rows = oracle.urls.length
    ctx.op("maintenance", "store_maintenance")(
      StoreMaintenance.run(ctx.spark, root, MinRows, 1, 0L))(_ => Reads.manifest(root)._1 == rows)
      .foreach { case (_, s) =>
        ctx.rec.add("maintenance_s", s)
        val after = SnapshotStore.currentEntries(root).map(_.partId).toSet
        ctx.rec.add("bytes_rewritten", before.filterNot(e => after(e.partId)).map(_.encBytes).sum.toDouble)
      }
  }

  /** Full, narrow and decode reads that check the whole store; the full scan
    * settles the pending appends. An untimed round is checked as usual. */
  private def readRound(timed: Boolean): Unit = {
    val discard = ctx.rec.discard
    ctx.rec.discard = discard || !timed
    val scan = Reads.round(ctx, root, pqRoot, flip, oracle.urls.length, oracle.bytes, Reads.PageCols, Reads.WebNarrow,
      expFull, expNarrow)(Reads.decodeJob(ctx, root, expFull))
    ctx.rec.discard = discard
    ctx.rec.settlePending(scan)
    flip = !flip
    val (_, orig, enc) = Reads.manifest(root)
    ctx.rec.add("compression_ratio", orig.toDouble / enc)
  }

  /** One append and its lookup burst. */
  private def step(): Unit = {
    append(Batch, "append").foreach { case (_, _, bytes, s, pq) =>
      ctx.rec.addPending(Seq("ingest_mbps" -> bytes / 1e6 / s, "append_ms" -> s * 1e3) ++
        pq.map(p => "rel.write" -> p / s): _*)
    }
    ctx.rec.add("disk_bytes_per_user_byte", Fs.sizeOf(java.nio.file.Paths.get(root)).toDouble / oracle.bytes)
    (0 until Burst).foreach(_ => lookups.paired(root, pqRoot, flip, lookups.next(), oracle))
    flip = !flip
  }

  /** A fresh copy of the base store under a new path (so no memo keyed by
    * path carries over), with the oracle and expected digests reset to it. */
  private def resetStore(): Unit = {
    if (root != null) { Fs.delete(java.nio.file.Paths.get(root)); Fs.delete(java.nio.file.Paths.get(pqRoot)) }
    root = ctx.dir(s"store-$loops").toString
    pqRoot = root + "-pq"
    loops += 1
    Fs.copy(java.nio.file.Paths.get(baseRoot), java.nio.file.Paths.get(root))
    Fs.copy(java.nio.file.Paths.get(base.path), java.nio.file.Paths.get(pqRoot))
    oracle = new WebOracle
    oracle.add(basePages, lo)
    expFull = base.full
    expNarrow = base.narrow
    nextId = lo + BasePages
  }

  /** `Steps` steps with maintenance every `Every` and after the last, then
    * read rounds until the deadline. Each part runs at least once, so every
    * append is settled on return. */
  def mainLoop(deadlineNs: Long): Unit = {
    resetStore()
    val now = System.nanoTime()
    val readFrom = now + ((deadlineNs - now) * (1 - ReadShare)).toLong
    var k = 0
    do {
      ctx.tracer.active = ctx.args.trace && !ctx.rec.discard && k % 2 == 1
      step()
      k += 1
      if (k % Every == 0 && k < Steps) maintain()
    } while (k < Steps && ctx.before(readFrom))
    ctx.tracer.active = ctx.args.trace && !ctx.rec.discard
    maintain()
    var r = 0
    do {
      ctx.tracer.active = ctx.args.trace && !ctx.rec.discard && r % 2 == 1
      // the first round after the appends is not timed: the first
      // DecodeJob.decode of the store takes twice as long as the later ones,
      // and how many later rounds fit depends on the host's speed
      readRound(timed = r > 0)
      r += 1
    } while ((r < 2 && !ctx.rec.discard) || ctx.before(deadlineNs))
    ctx.tracer.active = false
  }

  def probes(p: Probes): Unit = {
    p.webKernels(WebOracle.pages(lo, 16384), oracle.bytes.toDouble / oracle.urls.length)
    p.store(root)
  }
}
