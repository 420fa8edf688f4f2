package graftbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.codec.{CodecChooser, ColumnStats, FsstLite, IntBlockCodec, StringBlockCodec}
import graft.core.{GolombCodec, PhysicalIntType}
import graft.jobs.{DecodeJob, EncodeJob}
import graft.sources.{SnapshotStore, WebPage}

/**
 * One-thread kernel probes, run after the timed ops on a sample of the
 * workload's own rows, and counters read from the last store. Every probe is
 * a call into a public engine function, timed from outside (median of `Reps`).
 */
final class Probes(ctx: Ctx) {
  val Reps = 5
  private val v = ctx.rec.values

  private def time(layer: String, name: String)(body: => Unit): Double = {
    body // warm
    val xs = (0 until Reps).map { _ =>
      val t0 = System.nanoTime()
      ctx.tracer.probe(name, layer)(body)
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(xs)
  }

  /** Exp-Golomb, int block codec, stats and chooser over int columns. */
  def intKernels(cols: Array[Array[Long]], bytesPerRow: Double): Unit = {
    val t = PhysicalIntType.I64
    val rawBytes = cols.map(_.length * 8.0).sum
    val prepared = cols.map { c =>
      val st = ColumnStats.collect(c, t)
      val res = c.map(_ - st.min)
      val k = ColumnStats.bestEg(st.residualHist, 64)._1
      (res, k, GolombCodec.encode(res, k, t), IntBlockCodec.encode(c, t))
    }
    val egEnc = time("graft.core", "eg_encode")(prepared.foreach { case (r, k, _, _) => GolombCodec.encode(r, k, t) })
    val egDec = time("graft.core", "eg_decode")(prepared.foreach { case (r, k, e, _) =>
      GolombCodec.decodeRange(e, 0, e.length, k, t, r.length) })
    val intEnc = time("graft.codec", "int_encode")(cols.foreach(c => IntBlockCodec.encode(c, t)))
    val intDec = time("graft.codec", "int_decode")(prepared.foreach { case (_, _, _, b) => IntBlockCodec.decode(b) })
    val stats = time("graft.codec", "stats")(cols.foreach(c => ColumnStats.collect(c, t)))
    val sts = cols.map(c => ColumnStats.collect(c, t))
    val choose = time("graft.codec", "choose")(sts.foreach(s => CodecChooser.choose(s, t)))
    v("core.eg_encode_mbps") = rawBytes / 1e6 / egEnc
    v("core.eg_decode_mbps") = rawBytes / 1e6 / egDec
    v("codec.int_encode_mbps") = rawBytes / 1e6 / intEnc
    v("codec.int_decode_mbps") = rawBytes / 1e6 / intDec
    v("codec.stats_mbps") = rawBytes / 1e6 / stats
    v("codec.choose_us") = choose * 1e6 / cols.length
    // the partition kernel of the lineitem write is stats + choose + encode per column
    v("kernel_s_per_mb") = (intEnc + stats + choose) / (cols.head.length * bytesPerRow / 1e6)
  }

  /** Int probes on warc_ts, string probes on url/html/text/lang and the encode
    * partition kernel on in-memory rows. */
  def webKernels(pages: Array[WebPage], bytesPerRow: Double): Unit = {
    intKernels(Array(pages.map(p => WebOracle.micros(p.warc_ts))), bytesPerRow)
    val strCols = Seq[WebPage => Array[Byte]](
      p => p.url.getBytes(StandardCharsets.UTF_8), _.html,
      p => p.text.getBytes(StandardCharsets.UTF_8), p => p.lang.getBytes(StandardCharsets.UTF_8))
      .map(f => pages.map(f))
    val strBytes = strCols.map(_.map(_.length.toLong).sum).sum.toDouble
    val encoded = strCols.map(c => StringBlockCodec.encode(c))
    val strEnc = time("graft.codec", "str_encode")(strCols.foreach(c => StringBlockCodec.encode(c)))
    val strDec = time("graft.codec", "str_decode")(encoded.foreach(b => StringBlockCodec.decode(b)))
    val texts = strCols(2)
    val textEnc = time("graft.codec", "str_encode_text")(StringBlockCodec.encode(texts))
    val train = time("graft.codec", "fsst_train")(FsstLite.train(texts.iterator))
    v("codec.str_encode_mbps") = strBytes / 1e6 / strEnc
    v("codec.str_decode_mbps") = strBytes / 1e6 / strDec
    v("codec.fsst_train_share") = train / textEnc
    val rows: Array[EncodeJob.EncRow] = pages.sortBy(_.url).map { p =>
      (0, p.url.getBytes(StandardCharsets.UTF_8), WebOracle.micros(p.warc_ts), true, p.html,
        p.text.getBytes(StandardCharsets.UTF_8), p.lang.getBytes(StandardCharsets.UTF_8))
    }
    val part = time("graft.jobs", "encode_partition")(EncodeJob.encodePartition(rows.iterator).foreach(_ => ()))
    val mb = pages.length * bytesPerRow / 1e6
    v("jobs.encode_partition_mbps") = mb / part
    v("kernel_s_per_mb") = part / mb
  }

  /** Store counters and per-codec block counts of the workload's last store. */
  def store(root: String): Unit = {
    val reads = (0 until 21).map { _ =>
      val t0 = System.nanoTime()
      ctx.tracer.probe("manifest_read", "graft.sources")(SnapshotStore.currentEntries(root))
      (System.nanoTime() - t0) / 1e6
    }
    v("sources.manifest_read_ms") = Stats.median(reads.drop(1))
    v("sources.snapshots") = SnapshotStore.snapshotIds(root).size
    v("sources.parts") = SnapshotStore.currentEntries(root).size
    v("sources.disk_bytes") = Fs.sizeOf(java.nio.file.Paths.get(root)).toDouble
    val blocks = DecodeJob.blocks(ctx.spark, root)
    blocks.groupBy(regexp_extract(col("codec"), "^[a-z_]+", 0)).count().collect()
      .foreach(r => v(s"codec.blocks.${Layers.outer(r.getString(0))}") =
        v.getOrElse(s"codec.blocks.${Layers.outer(r.getString(0))}", 0.0) + r.getLong(1))
    blocks.groupBy(col("column")).agg(sum(col("enc_bytes"))).collect()
      .foreach(r => v(s"codec.enc_bytes.${r.getString(0)}") = r.getLong(1).toDouble)
  }
}

/** Per-layer metrics of a traced run. */
object Layers {
  val OuterCodecs: Seq[String] = Seq("plain", "eg", "eg_adaptive", "bitpack", "for", "delta", "rle", "dict",
    "const", "str_plain", "str_dict", "str_fsst")
  def outer(c: String): String = if (OuterCodecs.contains(c)) c else "other"

  private val writeMetrics = Seq(
    "stage_wall_s.sample" -> "s", "stage_wall_s.map" -> "s", "stage_wall_s.reduce" -> "s",
    "stage_wall_s.rollup" -> "s", "exec_run_s" -> "s", "exec_cpu_s" -> "s", "gc_s" -> "s", "deser_s" -> "s",
    "shuffle_write_bytes" -> "bytes", "shuffle_write_s" -> "s", "shuffle_read_bytes" -> "bytes",
    "input_bytes" -> "bytes", "output_bytes" -> "bytes", "records_read" -> "count",
    "tasks" -> "count", "busy_ratio" -> "ratio", "task_skew" -> "ratio", "driver_s" -> "s")
  private val readMetrics = Seq(
    "stage_wall_s.scan" -> "s", "exec_run_s" -> "s", "exec_cpu_s" -> "s", "deser_s" -> "s",
    "shuffle_read_bytes" -> "bytes",
    "input_bytes" -> "bytes", "records_read" -> "count", "tasks" -> "count", "busy_ratio" -> "ratio",
    "task_skew" -> "ratio", "driver_s" -> "s")
  private val maintMetrics = Seq(
    "stage_wall_s.sample" -> "s", "stage_wall_s.map" -> "s", "stage_wall_s.reduce" -> "s",
    "exec_run_s" -> "s", "exec_cpu_s" -> "s", "gc_s" -> "s", "deser_s" -> "s", "shuffle_write_bytes" -> "bytes",
    "output_bytes" -> "bytes", "busy_ratio" -> "ratio", "driver_s" -> "s")
  val SparkMetrics: Seq[(String, Seq[(String, String)])] = Seq(
    "ingest" -> writeMetrics, "append" -> writeMetrics, "scan" -> readMetrics, "lookup" -> readMetrics,
    "maintenance" -> maintMetrics)
  val OpKinds: Seq[String] = SparkMetrics.map(_._1)

  /** Every per-layer metric of a workload, in output order. The `trace.*`
    * entries are filled in by `run.py`: the unattributed shares from the span
    * file, the overhead ratio from the untraced run of the same seed. */
  def names(workload: String): Seq[(String, String)] =
    EndToEnd.AbsoluteNames ++ Seq("core.eg_encode_mbps" -> "MB/s", "core.eg_decode_mbps" -> "MB/s",
      "codec.str_encode_mbps" -> "MB/s", "codec.str_decode_mbps" -> "MB/s", "codec.fsst_train_share" -> "ratio",
      "codec.int_encode_mbps" -> "MB/s", "codec.int_decode_mbps" -> "MB/s", "codec.stats_mbps" -> "MB/s",
      "codec.choose_us" -> "us") ++
    OuterCodecs.map(c => s"codec.blocks.$c" -> "count") ++
    (if (workload == "lineitem") LineGen.Cols else Reads.PageCols).map(c => s"codec.enc_bytes.$c" -> "bytes") ++
    Seq("jobs.encode_partition_mbps" -> "MB/s", "jobs.kernel_share" -> "ratio") ++
    SparkMetrics.flatMap { case (k, ms) => ms.map { case (m, u) => s"spark.$k.$m" -> u } } ++
    Seq("sources.manifest_read_ms" -> "ms", "sources.snapshots" -> "count", "sources.parts" -> "count",
      "sources.maintenance_s" -> "s", "sources.bytes_rewritten" -> "bytes", "sources.disk_bytes" -> "bytes",
      "v2.plan_ms" -> "ms", "v2.exec_ms" -> "ms", "v2.plan_jobs" -> "count", "v2.plan_hit_ratio" -> "ratio",
      "v2.groups_read_ratio" -> "ratio", "v2.rows_read_per_result" -> "ratio", "plans.arrange_s" -> "s",
      "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "trace.overhead_ratio" -> "ratio",
      "trace.unattributed_share" -> "ratio") ++
    OpKinds.map(k => s"trace.unattributed_share.$k" -> "ratio")

  /** Per-op values of the Spark metrics of one op kind. */
  private def opValues(ctx: Ctx, op: OpRec): Map[String, Double] = {
    val t = ctx.tracer
    val st = t.stagesOf(op.id)
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    st.foreach { s => m(s"stage_wall_s.${t.roleOf(op.kind, s, st)}") += s.wallS }
    m("reduce_run_s") = st.filter(s => t.roleOf(op.kind, s, st) == "reduce").map(_.runMs / 1e3).sum
    m("exec_run_s") = st.map(_.runMs / 1e3).sum
    m("exec_cpu_s") = st.map(_.cpuNs / 1e9).sum
    m("gc_s") = st.map(_.gcMs / 1e3).sum
    m("deser_s") = st.map(_.deserMs / 1e3).sum
    m("shuffle_write_bytes") = st.map(_.shufWriteBytes.toDouble).sum
    m("shuffle_write_s") = st.map(_.shufWriteNs / 1e9).sum
    m("shuffle_read_bytes") = st.map(_.shufReadBytes.toDouble).sum
    m("input_bytes") = st.map(_.inputBytes.toDouble).sum
    m("output_bytes") = st.map(_.outputBytes.toDouble).sum
    m("records_read") = st.map(_.recordsRead.toDouble).sum
    m("tasks") = st.map(_.tasks.toDouble).sum
    m("busy_ratio") = st.map(_.taskMs.sum / 1e3).sum / (op.wallS * ctx.nproc)
    m("task_skew") = if (st.isEmpty) 0.0 else {
      val big = st.maxBy(_.wallS).taskMs.map(_.toDouble).toSeq
      if (big.isEmpty) 0.0 else big.max / math.max(1.0, Stats.median(big))
    }
    // op wall covered by no stage: union of stage intervals clipped to the op
    val iv = st.map(s => (math.max(s.submitMs * 1000000L, op.startNs), math.min(s.endMs * 1000000L, op.endNs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b } else if (b > end) { covered += b - end; end = b }
    }
    m("driver_s") = (op.endNs - op.startNs - covered) / 1e9
    m("plan_jobs") = t.jobsOf(op.id).count(j => j.phaseSpan != 0L &&
      t.spans.exists(s => s.id == j.phaseSpan && s.name == "plan"))
    m.toMap
  }

  def perLayer(ctx: Ctx, gcS: Double): Seq[(String, Double, String)] = {
    val v = mutable.Map.empty[String, Double] ++ ctx.rec.values
    val byKind = ctx.tracer.ops.groupBy(_.kind).map { case (k, ops) => k -> ops.map(o => opValues(ctx, o)).toSeq }
    def med(kind: String, m: String): Double =
      byKind.get(kind).filter(_.nonEmpty).map(xs => Stats.median(xs.map(_.getOrElse(m, 0.0)))).getOrElse(0.0)
    for ((k, ms) <- SparkMetrics; (m, _) <- ms) v(s"spark.$k.$m") = med(k, m)

    val reads = byKind.getOrElse("scan", Nil) ++ byKind.getOrElse("lookup", Nil)
    val planned = reads.filter(_.contains("plan_jobs"))
    if (planned.nonEmpty) {
      v("v2.plan_jobs") = planned.map(_("plan_jobs")).sum / planned.size
      v("v2.plan_hit_ratio") = planned.count(_("plan_jobs") == 0.0).toDouble / planned.size
    }
    v("v2.plan_ms") = Stats.median(ctx.rec.get("v2.plan_ms"))
    v("v2.exec_ms") = Stats.median(ctx.rec.get("v2.exec_ms"))
    v("v2.groups_read_ratio") = Stats.median(ctx.rec.get("v2.groups_read_ratio"))
    val lookupRecords = byKind.getOrElse("lookup", Nil).map(_.getOrElse("records_read", 0.0)).sum
    v("v2.rows_read_per_result") = lookupRecords / math.max(1.0, ctx.rec.get("lookup_results").sum)
    // the arranged V2 write's boundary pass: the sample stages of each V2 write
    val v2Writes = if (ctx.args.workload == "webtext") Nil
      else byKind.getOrElse("append", Nil) ++ byKind.getOrElse("ingest", Nil)
    v("plans.arrange_s") = if (v2Writes.isEmpty) 0.0 else Stats.median(v2Writes.map(_.getOrElse("stage_wall_s.sample", 0.0)))
    v("sources.maintenance_s") = Stats.median(ctx.rec.get("maintenance_s"))
    v("sources.bytes_rewritten") = ctx.rec.get("bytes_rewritten").sum

    // probe kernel seconds scaled to one write's input, over that write's reduce-stage run time
    val writeKind = if (byKind.contains("ingest")) "ingest" else "append"
    val inputMb = ctx.args.workload match {
      case "lineitem" => LineGen.Rows * LineGen.RowBytes / 1e6
      case "webtext" => ctx.rec.values.getOrElse("input_bytes", 0.0) / 1e6
      case _ => Stats.median(ctx.rec.get("append_bytes")) / 1e6
    }
    val reduceRun = med(writeKind, "reduce_run_s")
    v("jobs.kernel_share") = if (reduceRun > 0) v.getOrElse("kernel_s_per_mb", 0.0) * inputMb / reduceRun else 0.0
    v("jvm.gc_s") = gcS
    v("jvm.heap_peak_mb") = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / (1024.0 * 1024.0)
    }
    v ++= EndToEnd.absolute(ctx)
    names(ctx.args.workload).filterNot(_._1.startsWith("trace.")).map { case (k, u) =>
      val x = v.getOrElse(k, 0.0)
      (k, if (x.isNaN) 0.0 else x, u)
    }
  }
}
