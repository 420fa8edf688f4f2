package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Benchmark main: one workload, one JVM, one driver thread issuing operations in
 * a closed loop. Prints `RESULT {json}` as its last stdout line; `run.py` turns
 * that into the benchmark's result line.
 *
 * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
 *        [--inject-wrong K]
 * (`--workload selftest` is the recorder self-test.)
 */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, injectWrong: Int)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      m.getOrElse("inject-wrong", "0").toInt)
  }

  def workload(ctx: Ctx): Workload = ctx.args.workload match {
    case "webtext" => new WebtextWorkload(ctx)
    case "lineitem" => new LineitemWorkload(ctx)
    case "append_lookup" => new AppendLookupWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val a = parse(argv)
    if (a.workload == "selftest") { SelfTest.run(a); return }
    val ctx = new Ctx(a)
    try {
      val result = Runner.run(ctx, workload(ctx))
      println("RESULT " + result)
    } finally ctx.stopSession()
  }
}

/** Shared run state: args, the current session, the recorder and the tracer. */
final class Ctx(val args: Main.Args) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val nq: Int = math.max(1, nproc / 4)
  val rec = new Recorder(args.injectWrong)
  val tracer = new Tracer
  private var session: SparkSession = _

  def spark: SparkSession = session

  def startSession(threads: Int): SparkSession = {
    stopSession()
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graftbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.default.parallelism", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.graftcat", "graft.sources.v2.GraftCatalog")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (args.trace) tracer.attach(s.sparkContext)
    session = s
    s
  }

  /** Stopping drains the listener bus, so every traced event is in by return. */
  def stopSession(): Unit = if (session != null) {
    session.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    session = null
  }

  def dir(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(p.getParent)
    p
  }

  /**
   * Time one operation. `body` runs under the clock; `check` runs after it and
   * decides whether the output was right. A thrown or wrong op is counted in
   * `failed` and its time is dropped. Returns the value and seconds when right.
   */
  def op[T](kind: String, name: String)(body: => T)(check: T => Boolean): Option[(T, Double)] = {
    rec.attempted += 1
    val r = tracer.beginOp(kind, name)
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    tracer.endOp(r)
    val ok = out match {
      case Right(v) =>
        try rec.expectOk(check(v)) catch {
          case e: Throwable => System.err.println(s"check of $kind/$name threw: $e"); false
        }
      case Left(e) =>
        System.err.println(s"op $kind/$name failed: $e")
        false
    }
    if (!ok) {
      rec.failed += 1
      System.err.println(s"op $kind/$name: wrong or failed output, not timed")
      None
    } else {
      rec.add(s"wall.$kind.$name.${if (tracer.active) "t" else "u"}", secs)
      Some((out.toOption.get, secs))
    }
  }

  /** Deadline helper: true while `deadlineNs` is in the future. */
  def before(deadlineNs: Long): Boolean = System.nanoTime() < deadlineNs
}

/** Samples per metric plus the attempted/failed op counts. */
final class Recorder(injectWrong: Int) {
  var attempted = 0L
  var failed = 0L
  private var checks = 0
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]

  /** While true (a loop's first, warm-up iteration) samples are dropped. */
  var discard = false

  def add(k: String, v: Double): Unit = if (!discard) samples.getOrElseUpdate(k, ArrayBuffer.empty) += v
  def get(k: String): Seq[Double] = samples.getOrElse(k, ArrayBuffer.empty).toSeq

  /** Samples of ops whose output is checked later (a write is right only once
    * a read of what it wrote agrees). Each pending op is one attempted op. */
  private val pending = ArrayBuffer.empty[Seq[(String, Double)]]
  def addPending(kv: (String, Double)*): Unit = pending += (if (discard) Nil else kv)
  def settlePending(ok: Boolean): Unit = {
    if (ok) pending.foreach(_.foreach { case (k, v) => add(k, v) })
    else {
      failed += pending.size
      if (pending.nonEmpty) System.err.println(s"${pending.size} write op(s) failed their read-back check, not timed")
    }
    pending.clear()
  }

  /** Self-test hook: with `--inject-wrong K`, every K-th check is forced to
    * disagree, as a wrong expected value would. */
  def expectOk(ok: Boolean): Boolean = {
    checks += 1
    if (injectWrong > 0 && checks % injectWrong == 0) false else ok
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least `min(10, n/4)` samples beyond it,
    * and its percentile rank. From 40 samples on this is the tail the metric
    * names: the highest percentile with ten samples beyond it. Below 40 it is
    * about the 75th percentile, and below four samples the maximum. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    if (xs.isEmpty) return (Double.NaN, Double.NaN)
    val s = xs.sorted
    val n = s.size
    val beyond = math.min(10, n / 4)
    (s(n - 1 - beyond), 100.0 * (n - beyond) / n)
  }
}

/** Order-insensitive content hash: row count plus two 32-bit halves of each
  * row's xxhash64, summed (no overflow below 2^31 rows). Computed by Spark over
  * the input in setup and over every read, so both sides use one definition. */
final case class Digest(rows: Long, lo: Long, hi: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, lo + o.lo, hi + o.hi)
}

object Digest {
  val Zero: Digest = Digest(0L, 0L, 0L)

  /** The two hash sums over `cols`; a digest is `count(*)` followed by these. */
  def sums(cols: Seq[String]): Seq[Column] = {
    val h = xxhash64(cols.map(col): _*)
    Seq(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftrightunsigned(h, 32)))
  }

  def frame(df: DataFrame, cols: Seq[String]): DataFrame = df.agg(count(lit(1)), sums(cols): _*)

  def read(r: org.apache.spark.sql.Row): Digest =
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))

  def of(df: DataFrame, cols: Seq[String]): Digest = read(frame(df, cols).head())
}

/** A seeded splitmix64 stream (the benchmark's only randomness). */
final class Rng(seed: Long) {
  private var x = seed
  def nextLong(): Long = { x += 0x9E3779B97F4A7C15L; Rng.mix(x) }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
}

object Rng {
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Zipf(s) rank sampler over `n` items: inverse CDF on a precomputed table. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { v => acc += v / tot; acc }
    }
    def draw(r: Rng): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
}

object Fs {
  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try {
        var t = 0L
        w.forEach(f => if (Files.isRegularFile(f)) t += Files.size(f))
        t
      } finally w.close()
    }

  def delete(p: Path): Unit = graft.jobs.LocalSession.deleteRecursively(p.toFile)

  /** Copy the tree at `src` to `dst`, which must not exist yet. */
  def copy(src: Path, dst: Path): Unit = {
    val w = Files.walk(src)
    try w.forEach(f => Files.copy(f, dst.resolve(src.relativize(f).toString)))
    finally w.close()
  }
}

/** What every workload provides to the runner. Each loop runs at least one
  * iteration. The quarter leg's first op, the first in its new session, is run
  * and checked but not timed. */
trait Workload {
  /** One setup pass into a fresh directory: inputs, expected digests, oracle. */
  def setupPass(pass: Int): Unit
  /** The main closed loop at local[nproc], until the deadline. */
  def mainLoop(deadlineNs: Long): Unit
  /** The write op at local[nq] on `nq/nproc` of the input, until the deadline. */
  def quarterLeg(deadlineNs: Long): Unit
  /** Read-back checks of the quarter leg's writes, which settle their timings. */
  def verifyQuarter(): Unit
  /** Kernel probes and store counters (traced runs only). */
  def probes(p: Probes): Unit
  /** Input sizes for the host record. */
  def inputSizes: Seq[(String, Long)]
  /** Share of `--seconds` given to the quarter leg. */
  def quarterShare: Double = 0.25
  /** Untimed warm-up before the timed main loop (at least one iteration). The
    * first iteration after setup is cold, about 9 s of `webtext` on a 4-vCPU
    * host, and the ops keep getting faster through the next one. */
  def warmSeconds: Double = 10.0
}

/** Runs a workload and assembles the result JSON (metrics + host record). */
object Runner {
  val SetupPasses = 3

  def run(ctx: Ctx, wl: Workload): String = {
    val a = ctx.args
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    ctx.startSession(ctx.nproc)
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    val setup = (0 until Runner.SetupPasses).map { i =>
      val s0 = System.nanoTime()
      wl.setupPass(i)
      (System.nanoTime() - s0) / 1e9
    }
    ctx.rec.values("setup_s") = Stats.median(setup)

    // warm-up: the main loop itself, run and checked but not timed, so JIT
    // compilation and lazy initialization happen at full input size
    val w0 = System.nanoTime()
    ctx.rec.discard = true
    wl.mainLoop(w0 + (wl.warmSeconds * 1e9).toLong)
    ctx.rec.discard = false
    val gcBefore = gcMs()
    val measure = (a.seconds * 1e9).toLong
    val qShare = (measure * wl.quarterShare).toLong
    val m0 = System.nanoTime()
    wl.mainLoop(m0 + measure - qShare)
    val m1 = System.nanoTime()
    // the quarter leg runs warm, in its own session, and is checked there
    ctx.startSession(ctx.nq)
    wl.quarterLeg(System.nanoTime() + qShare)
    ctx.tracer.active = false
    wl.verifyQuarter()
    val m2 = System.nanoTime()
    val gcS = (gcMs() - gcBefore) / 1e3
    if (a.trace) wl.probes(new Probes(ctx))
    ctx.stopSession()
    System.err.println(f"phases: spark ${sparkStartS}%.1f setup ${setup.map(s => f"$s%.2f").mkString("+")} " +
      f"warm ${(m0 - w0) / 1e9}%.1f main ${(m1 - m0) / 1e9}%.1f quarter+check ${(m2 - m1) / 1e9}%.1f " +
      f"probes+stop ${(System.nanoTime() - m2) / 1e9}%.1f s")
    ctx.rec.values("rss_peak_mb") = vmHwmMb()

    val host = hostRecord(ctx, wl, sparkStartS)
    val metrics = if (a.trace) Layers.perLayer(ctx, gcS) else EndToEnd.metrics(ctx)
    val trace = if (a.trace) {
      val f = a.work.resolve("trace.json")
      Files.write(f, ctx.tracer.toJson(s""""host":$host""").getBytes("UTF-8"))
      f.toString
    } else ""
    val ms = metrics.map { case (k, v, u) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    val notes = EndToEnd.notes(ctx).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
    val samples = ctx.rec.samples.map { case (k, xs) => s"${Json.str(k)}:${xs.map(Json.num).mkString("[", ",", "]")}" }
    s"""{"correct":${ctx.rec.failed == 0},"attempted":${ctx.rec.attempted},"failed":${ctx.rec.failed},""" +
      s""""metrics":{${ms.mkString(",")}},"host":$host,"notes":{${notes.mkString(",")}},""" +
      s""""samples":{${samples.mkString(",")}},"trace_file":${Json.str(trace)}}"""
  }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def vmHwmMb(): Double = {
    val st = Paths.get("/proc/self/status")
    if (!Files.exists(st)) return Double.NaN
    import scala.jdk.CollectionConverters._
    Files.readAllLines(st).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def hostRecord(ctx: Ctx, wl: Workload, sparkStartS: Double): String = {
    val memKb = {
      val p = Paths.get("/proc/meminfo")
      if (!Files.exists(p)) -1L
      else {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(p).asScala.find(_.startsWith("MemTotal:"))
          .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
      }
    }
    val fields = Seq(
      "nproc" -> ctx.nproc.toString,
      "mem_total_mb" -> (memKb / 1024).toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "seed" -> ctx.args.seed.toString,
      "local_n" -> Json.str(s"local[${ctx.nproc}]"),
      "local_n_quarter" -> Json.str(s"local[${ctx.nq}]"),
      "spark_start_s" -> Json.num(sparkStartS),
      "inputs" -> wl.inputSizes.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))
    fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }
}

/**
 * End-to-end metrics from the recorder's samples. Every speed is taken
 * against Spark's own parquet: each graft op runs back to back with the same
 * op on a parquet copy of the same rows, and the metric is the median of the
 * per-pair time ratios, so a host that runs slower for a while slows both
 * sides of a pair alike. The absolute figures are per-layer metrics
 * ([[EndToEnd.absolute]]).
 */
object EndToEnd {
  val Names: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ingest_vs_parquet" -> "ratio", "scaling_vs_parquet" -> "ratio",
    "compression_ratio" -> "ratio", "scan_vs_parquet" -> "ratio", "scan_narrow_vs_parquet" -> "ratio",
    "decode_job_vs_parquet" -> "ratio", "lookup_vs_parquet" -> "ratio", "disk_bytes_per_user_byte" -> "ratio",
    "rss_peak_mb" -> "MB")

  /** Absolute speeds and latencies, reported with the per-layer metrics. */
  val AbsoluteNames: Seq[(String, String)] = Seq(
    "ingest_mbps" -> "MB/s", "scaling_eff_n_4n" -> "ratio", "scan_mbps" -> "MB/s",
    "scan_narrow_mrows_per_s" -> "Mrows/s", "decode_job_mbps" -> "MB/s", "append_ms_p50" -> "ms",
    "append_ms_tail" -> "ms", "lookup_ms_p50" -> "ms", "lookup_ms_tail" -> "ms")

  def metrics(ctx: Ctx): Seq[(String, Double, String)] = {
    val r = ctx.rec
    def med(k: String) = Stats.median(r.get(k))
    val v = mutable.Map.empty[String, Double]
    v("setup_s") = r.values("setup_s")
    v("ingest_vs_parquet") = med("rel.write")
    // graft's scaling efficiency over parquet's, from the paired ratios of both legs
    v("scaling_vs_parquet") = med("rel.write") / med("rel.write_q")
    v("compression_ratio") = med("compression_ratio")
    v("scan_vs_parquet") = med("rel.scan")
    v("scan_narrow_vs_parquet") = med("rel.narrow")
    v("decode_job_vs_parquet") = med("rel.decode")
    // lookup kinds differ in level, so a median over a mix of them falls
    // between levels: the geometric mean of the per-kind medians
    val kinds = r.samples.keys.filter(_.startsWith("rel.lookup.")).toSeq
    v("lookup_vs_parquet") = math.exp(kinds.map(k => math.log(med(k))).sum / kinds.size)
    v("disk_bytes_per_user_byte") = med("disk_bytes_per_user_byte")
    v("rss_peak_mb") = r.values("rss_peak_mb")
    Names.map { case (k, u) => (k, v(k), u) }
  }

  /** The graft side of the pairs in absolute units, by [[AbsoluteNames]]. */
  def absolute(ctx: Ctx): Map[String, Double] = {
    val r = ctx.rec
    def med(k: String) = Stats.median(r.get(k))
    Map("ingest_mbps" -> med("ingest_mbps"),
      "scaling_eff_n_4n" -> med("ingest_mbps") / (ctx.nproc.toDouble / ctx.nq * med("ingest_q_mbps")),
      "scan_mbps" -> med("scan_mbps"),
      "scan_narrow_mrows_per_s" -> med("scan_narrow_mrows_per_s"), "decode_job_mbps" -> med("decode_job_mbps"),
      "append_ms_p50" -> med("append_ms"), "append_ms_tail" -> Stats.tail(r.get("append_ms"))._1,
      "lookup_ms_p50" -> med("lookup_ms"), "lookup_ms_tail" -> Stats.tail(r.get("lookup_ms"))._1)
  }

  /** Sample counts, the percentile each `_tail` metric is and the absolute
    * figures, for people reading the printed table. */
  def notes(ctx: Ctx): Seq[(String, String)] = {
    val r = ctx.rec
    val counts = r.samples.toSeq.map { case (k, xs) => s"n.$k" -> xs.size.toString }
    val tails = Seq("append_ms", "lookup_ms").map { k =>
      val (_, p) = Stats.tail(r.get(k))
      s"$k.tail" -> f"p$p%.1f of n=${r.get(k).size}"
    }
    val abs = absolute(ctx)
    counts ++ tails ++ AbsoluteNames.map { case (k, u) => k -> f"${abs(k)}%.4g $u" }
  }
}

/** Checks that a wrong output is counted as failed and never timed, for an op
  * checked at once and for a write settled by a later read. Exits non-zero on
  * the first broken expectation. */
object SelfTest {
  def run(a: Main.Args): Unit = {
    val ctx = new Ctx(a.copy(injectWrong = 0))
    val r = ctx.rec
    def expect(cond: Boolean, what: String): Unit =
      if (!cond) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }

    val right = ctx.op("scan", "right")(41 + 1)(_ == 42)
    expect(right.isDefined && r.failed == 0 && r.get("wall.scan.right.u").size == 1, "a right op is timed")
    val wrong = ctx.op("scan", "wrong")(41 + 1)(_ == 43) // deliberately wrong expected value
    expect(wrong.isEmpty && r.failed == 1 && r.attempted == 2, "a wrong op is counted as failed")
    expect(r.get("wall.scan.wrong.u").isEmpty, "a wrong op is never timed")
    val thrown = ctx.op("scan", "throws")(sys.error("boom"): Int)(_ => true)
    expect(thrown.isEmpty && r.failed == 2, "a throwing op is counted as failed")

    ctx.op("ingest", "write")(())(_ => true).foreach { case (_, s) => r.addPending("ingest_mbps" -> 1.0 / s) }
    r.settlePending(ok = false) // the read-back disagreed
    expect(r.failed == 3 && r.get("ingest_mbps").isEmpty, "a write whose read-back is wrong is failed, untimed")
    ctx.op("ingest", "write")(())(_ => true).foreach { case (_, s) => r.addPending("ingest_mbps" -> 1.0 / s) }
    r.settlePending(ok = true)
    expect(r.failed == 3 && r.get("ingest_mbps").size == 1, "a write whose read-back agrees is timed")

    val inj = new Recorder(2)
    expect(inj.expectOk(true) && !inj.expectOk(true), "--inject-wrong K fails every K-th check")
    println(s"selftest ok: attempted=${r.attempted} failed=${r.failed} failed_ops_ratio=${r.failed.toDouble / r.attempted}")
  }
}
