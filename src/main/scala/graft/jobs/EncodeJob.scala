package graft.jobs

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.codec.{IntBlockCodec, StringBlockCodec}
import graft.core.PhysicalIntType
import graft.sources.{SnapshotStore, WebPage, Webtext}
import graft.sources.v2.{GraftDataSource, GraftDataWriter, GraftWriteLayout, GraftWriterCommitMessage}

/**
 * One encoded block of one column of one work unit, with pruning metadata:
 *  - `block_min`/`block_max`: value bounds of integer blocks (None when the block
 *    holds no non-null value)
 *  - `block_dict`: all distinct values when cardinality <= 256 (dictionary metadata;
 *    None otherwise)
 *  - `block_str_min`/`block_str_max`: bounds for text-typed string blocks, emitted
 *    only when the bound string is <= 64 chars (None = no bound; truncating a max
 *    would be unsound)
 *  - `block_str_dict`: distinct strings when cardinality <= 64 (e.g. `lang`)
 *  - `n_nulls`: EXACT count of null values in the block — string bounds say
 *    nothing about nulls (they are computed over non-null values only), so
 *    order-sensitive planning (the V2 ORDER BY url LIMIT n group-prefix
 *    pruning) needs this to know whether a group can contribute null rows.
 *    Stores written before this column existed read it as null = unknown,
 *    which every consumer must treat as "may contain nulls" (sound).
 * [[graft.plans.BlockMinMaxPruneRule]] conjoins these onto decode filters so parquet
 * row-group stats skip blocks before any decompression.
 */
final case class BlockRow(
    part_id: Int,
    block_seq: Int,
    column: String,
    typ: String,
    codec: String,
    n: Int,
    n_nulls: Int,
    block_min: Option[Long],
    block_max: Option[Long],
    // exact sum of the block's non-null values (int family only): what makes
    // `SELECT sum(col)` answerable from metadata. None for string blocks, for
    // all-null blocks, and when the block's own sum overflows a signed 64-bit
    // (the pushdown then declines — sound; Spark computes with its own
    // overflow semantics). Stores written before this column read it as
    // null = sum unknown (decline)
    block_sum: Option[Long],
    block_dict: Option[Array[Long]],
    block_str_min: Option[String],
    block_str_max: Option[String],
    block_str_dict: Option[Array[String]],
    // per-dict-value occurrence counts, aligned with block_str_dict: what
    // makes grouped aggregates (`SELECT lang, count(*) GROUP BY lang`)
    // answerable from metadata alone. None whenever block_str_dict is None;
    // stores written before this column read it as null = counts unknown
    // (grouped pushdown then declines — sound)
    block_str_dict_counts: Option[Array[Long]],
    orig_bytes: Long,
    enc_bytes: Long,
    encoded: Array[Byte])

/**
 * Columnar encode job (SURVEY.md §3.4 lifecycle):
 *
 *  1. PLAN    — read input snapshot; keep only the wave's pending part ids
 *               (`part_id IN (wave)` against the committed manifest: resume from
 *               the last checkpoint, north_rule).
 *  2. PARTITION — range buckets on `url` from deterministic sampled boundaries
 *               persisted next to the store (same work units on re-run); a
 *               pass-through exchange (`repartitionById`) puts exactly part
 *               `lo + i` in shuffle partition `i`, sorted by url.
 *  3. ENCODE  — each task runs the V2 writer's kernel ([[BlockBuffer]] inside a
 *               [[graft.sources.v2.GraftDataWriter]]): per column slice, stats →
 *               codec auto-choice → self-describing block rows in the task's own
 *               parquet file, plus the part's lineage rollup (rows, bytes, codecs).
 *  4. COMMIT  — a task promotes its file only once Spark's output-commit
 *               coordinator authorizes the attempt; the driver sweeps unnamed
 *               files, builds entries from the commit messages and swaps the
 *               manifest atomically. Each commit is a checkpoint.
 *
 * Scale notes: the only wide exchange is the pass-through one on the range
 * bucket, so one task holds one contiguous url range (no hash-collision skew);
 * encode and metric rollup run inside that task, with no job after the write.
 * Work units are a pure function of (url, boundaries), so skew in `lang`/`host`
 * cannot skew tasks — urls are ~unique. Group-level skew is handled where
 * grouping happens (salted two-phase rollups in metrics queries).
 */
object EncodeJob {

  val BlockSize = 65536

  /**
   * Byte bound on one buffered block: 64Ki fat rows (multi-KB web pages) would
   * otherwise hold 100s of MB per in-flight task — 32 concurrent tasks × that is
   * an executor OOM at real page sizes. Blocks flush at whichever bound hits
   * first; the formats are self-describing, so variable block sizes cost nothing.
   */
  val MaxBlockBytes: Long = 64L << 20

  // ---------------- range boundaries (deterministic, persisted) ----------------

  /**
   * The one boundary sampler: ONE url-only pass yields the exact row count,
   * the partition count and the range boundaries. Used by the batch job, the
   * V2 write-arrange rule, compaction and the copy-on-write delete.
   *
   * Per partition: exact row count + a deterministic uniform reservoir of
   * SAMPLEABLE urls. Null, empty and newline-holding urls never become split
   * points (they still bucket fine as data): RangeBucketId buckets null as "",
   * a "" boundary vanishes in the persisted file's split/filter round-trip,
   * and an embedded newline splits into two bogus boundaries — a resumed run
   * would then re-bucket rows under a DIFFERENT layout than the one committed.
   * Driver side: the caller's sizing function turns the exact total into the
   * partition count, then [[weightedBoundaries]] places the split points over
   * the merged reservoirs (each sampled url stands for eligible_i/|sample_i|
   * rows — the public RangePartitioner scheme). Deterministic for a given
   * input partitioning and row order: the reservoir PRNG is seeded per
   * partition index, so an upstream whose row order varies between runs
   * (an unsorted shuffle) can yield other boundaries. The batch job persists
   * its boundaries, so a resume never re-samples.
   */
  def countAndUrlBoundaries(urls: Dataset[String],
                            partsFor: Long => Int): (Long, Int, Array[String]) = {
    val rdd = urls.rdd
    // driver-collect bound: a many-thousand-partition input must not collect
    // 4096 urls PER partition — scale the per-partition reservoir so the total
    // candidate collect stays ~2^18 strings at any width, with a floor so
    // every partition still contributes weighted candidates
    val ReservoirPerPartition =
      math.max(16, math.min(4096, (1 << 18) / math.max(1, rdd.getNumPartitions)))
    val partials = rdd.mapPartitionsWithIndex { (idx, it) =>
      val rng = new java.util.Random(scala.util.hashing.byteswap32(idx).toLong)
      val res = new Array[String](ReservoirPerPartition)
      var total = 0L
      var eligible = 0L
      while (it.hasNext) {
        val u = it.next()
        total += 1
        if (u != null && u.nonEmpty && u.indexOf('\n') < 0) {
          if (eligible < ReservoirPerPartition) res(eligible.toInt) = u
          else {
            val j = (rng.nextDouble() * (eligible + 1).toDouble).toLong
            if (j < ReservoirPerPartition) res(j.toInt) = u
          }
          eligible += 1
        }
      }
      Iterator.single((total, eligible,
        java.util.Arrays.copyOf(res, math.min(eligible, ReservoirPerPartition.toLong).toInt)))
    }.collect()
    val total = partials.iterator.map(_._1).sum
    val parts = partsFor(total)
    val candidates = partials.toSeq.flatMap { case (_, elig, sample) =>
      val w = elig.toDouble / math.max(1, sample.length)
      sample.map(u => (u, w))
    }
    (total, parts,
      weightedBoundaries(candidates, partials.iterator.map(_._2).sum.toDouble, parts))
  }

  /**
   * Weighted quantile split points: up to `parts - 1` strictly increasing
   * urls, the k-th where the running weight (in url order — the String
   * ordering RangeBucketId mirrors) first reaches k * totalWeight / parts.
   * After a split, the target advances past the running weight, so a
   * candidate heavier than one step (one big input partition's few samples
   * among many tiny partitions) yields one split, not a split at each of the
   * following candidates.
   */
  private[graft] def weightedBoundaries(candidates: Seq[(String, Double)],
      totalWeight: Double, parts: Int): Array[String] = {
    if (parts <= 1 || totalWeight <= 0.0) return Array.empty
    val sorted = candidates.sortBy(_._1)
    val step = totalWeight / parts
    val bounds = new scala.collection.mutable.ArrayBuffer[String](parts - 1)
    var cum = 0.0
    var target = step
    var k = 1 // index of the split point `target` stands for
    var last: String = null
    var i = 0
    while (i < sorted.length && k < parts) {
      cum += sorted(i)._2
      if (cum >= target) {
        val u = sorted(i)._1
        if (last == null || u.compareTo(last) > 0) { bounds += u; last = u }
        while (k < parts && target <= cum) { target += step; k += 1 }
      }
      i += 1
    }
    bounds.toArray
  }

  def loadOrCreateBoundaries(root: String, pages: Dataset[WebPage], parts: Int,
                             boundariesFile: String = "BOUNDARIES"): Array[String] = {
    val p = Paths.get(root, boundariesFile)
    if (!Files.exists(p)) {
      // persisted, then re-read on every resume: boundaries are never recomputed
      val (_, _, bs) = countAndUrlBoundaries(
        pages.select(col("url")).as(Encoders.STRING), _ => parts)
      SnapshotStore.writeSidecar(root, boundariesFile, bs.mkString("\n"))
    }
    // return what a RESUMED run parses back, not the in-memory array: create
    // and resume must bucket identically or the resume drops/duplicates rows
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8).split("\n").filter(_.nonEmpty)
  }

  /** part_id = range bucket of url (pure function of url + persisted boundaries).
    * Single source of truth: [[graft.functions.RangeBucketId.bucket]] — the same
    * search the codegen'd expression runs, so the invariant cannot drift. */
  def partIdFor(url: String, boundaries: Array[String]): Int =
    graft.functions.RangeBucketId.bucket(boundaries, url)

  // ---------------- encode kernel ----------------

  /** Max distinct values stored as dictionary metadata per block. */
  val IntDictCap = 256
  val StrDictCap = 64
  /** Max chars for a stored string bound (a truncated max would be unsound). */
  val StrBoundMaxLen = 64

  /** One string/binary column's buffered values -> encoded BlockRow with
    * bounds/dict/count metadata. `textual` = UTF-8 string columns where that
    * metadata is meaningful; opaque binary gets none (converting it to String
    * would be unsound). Shared by the webtext kernel and the generalized
    * schema-driven V2 writer. */
  private[graft] def strBlockRow(partId: Int, seq: Int, name: String,
      vs: java.util.ArrayList[Array[Byte]], textual: Boolean): BlockRow = {
    val arr = vs.toArray(new Array[Array[Byte]](vs.size))
    val enc = StringBlockCodec.encode(arr)
    var orig = 0L
    var nulls = 0
    arr.foreach(v => if (v != null) orig += v.length else nulls += 1)

    var mn: Array[Byte] = null
    var mx: Array[Byte] = null
    // TreeMap value -> occurrence count: the counts are the dict metadata
    // that lets grouped aggregates answer from blocks without decoding
    var dict: java.util.TreeMap[String, Long] =
      if (textual) new java.util.TreeMap[String, Long]() else null
    if (textual) {
      var i = 0
      while (i < arr.length) {
        val v = arr(i)
        if (v != null) {
          if (mn == null || java.util.Arrays.compareUnsigned(v, mn) < 0) mn = v
          if (mx == null || java.util.Arrays.compareUnsigned(v, mx) > 0) mx = v
          // dict metadata is for short low-cardinality columns (lang); a long
          // value disqualifies the block and stops the per-value String copies
          if (dict != null) {
            if (v.length > 128 || dict.size > StrDictCap) dict = null
            else dict.merge(new String(v, StandardCharsets.UTF_8), 1L, (a, b) => a + b)
          }
        }
        i += 1
      }
    }
    def bound(v: Array[Byte]): Option[String] =
      if (v == null) None
      else {
        val s = new String(v, StandardCharsets.UTF_8)
        if (s.length <= StrBoundMaxLen) Some(s) else None
      }
    val (strDict, strDictCounts) =
      if (dict != null && dict.size <= StrDictCap && mn != null) {
        val ds = new Array[String](dict.size)
        val cs = new Array[Long](dict.size)
        val it = dict.entrySet().iterator()
        var j = 0
        while (it.hasNext) { val e = it.next(); ds(j) = e.getKey; cs(j) = e.getValue; j += 1 }
        (Some(ds), Some(cs))
      } else (None, None)

    BlockRow(partId, seq, name, "str", StringBlockCodec.codecName(enc), arr.length,
      nulls, None, None, None, None, bound(mn), bound(mx), strDict, strDictCounts,
      orig, enc.length.toLong, enc)
  }

  /** One integer-family column's buffered values (epoch-micros timestamps,
    * longs, ints, ...) -> encoded BlockRow with exact min/max + dict metadata.
    * Values ride as Long regardless of width; `t` picks the physical codec
    * family and the original-bytes accounting. */
  private[graft] def intBlockRow(partId: Int, seq: Int, name: String,
      vals: Array[Long], valid: Array[Boolean], n: Int,
      t: PhysicalIntType): BlockRow = {
    val slice = java.util.Arrays.copyOf(vals, n)
    val validSlice = java.util.Arrays.copyOf(valid, n)
    val enc = IntBlockCodec.encodeNullable(slice, validSlice, t)
    var mn = Long.MaxValue; var mx = Long.MinValue
    var any = false
    var validN = 0
    var sum = 0L
    var sumOk = true // a block whose own sum overflows i64 carries no sum
    val distinct = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) {
      if (valid(i)) {
        val v = vals(i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        if (sumOk) {
          try sum = Math.addExact(sum, v)
          catch { case _: ArithmeticException => sumOk = false }
        }
        any = true
        validN += 1
        if (distinct.size <= IntDictCap) distinct.add(v)
      }
      i += 1
    }
    val intDict =
      if (any && distinct.size <= IntDictCap) {
        val out = new Array[Long](distinct.size)
        val it = distinct.iterator()
        var j = 0
        while (it.hasNext) { out(j) = it.next(); j += 1 }
        Some(out)
      } else None
    BlockRow(partId, seq, name, t.name, IntBlockCodec.info(enc).codecName, n,
      n - validN,
      if (any) Some(mn) else None, if (any) Some(mx) else None,
      if (any && sumOk) Some(sum) else None, intDict,
      None, None, None, None, n.toLong * (t.width / 8), enc.length.toLong, enc)
  }

  /** Kernel row: raw UTF-8 bytes and epoch micros (+ validity for null warc_ts).
    * Null byte arrays stay null end-to-end (null != ""). */
  type EncRow = (Int, Array[Byte], Long, Boolean, Array[Byte], Array[Byte], Array[Byte])

  /** [[BlockBuffer]] over in-memory webtext rows sorted by (part_id, url): the
    * kernel alone, with no Spark task or file around it. */
  def encodePartition(rows: Iterator[EncRow],
                      maxBlockBytes: Long = MaxBlockBytes): Iterator[BlockRow] = new Iterator[BlockRow] {
    private val out = new java.util.ArrayDeque[BlockRow]()
    private val blocks = new BlockBuffer(GraftDataSource.PageSchema, maxBlockBytes, out.add(_))
    private val utf8 = org.apache.spark.unsafe.types.UTF8String.fromBytes(_: Array[Byte])

    override def hasNext: Boolean = {
      while (out.isEmpty && rows.hasNext) {
        val (pid, url, tsUs, tsOk, html, text, lang) = rows.next()
        if (pid != blocks.partId) blocks.startPart(pid)
        blocks.add(new GenericInternalRow(Array[Any](
          utf8(url), if (tsOk) tsUs else null, html, utf8(text), utf8(lang))))
      }
      if (out.isEmpty) blocks.flush()
      !out.isEmpty
    }
    override def next(): BlockRow = { if (!hasNext) throw new NoSuchElementException; out.poll() }
  }

  // ---------------- job ----------------

  final case class RunResult(snapshotId: Long, partsEncoded: Int, nRows: Long,
      origBytes: Long, encBytes: Long, jobSecs: Double)

  /** Narrow pre-shuffle projection: codegen'd range-bucket part ids (a Scala
    * UDF here broke whole-stage codegen) plus the store columns cast to the
    * webtext schema — no case-class re-materialization. */
  def withPartIds(pages: DataFrame, boundaries: Array[String], offset: Int): DataFrame = {
    val partIdCol = org.apache.spark.sql.graftshim.Shim.column(
      graft.functions.RangeBucketId(
        org.apache.spark.sql.graftshim.Shim.expression(col("url")), boundaries, offset))
    pages.select(partIdCol.as("part_id") +: GraftDataSource.PageSchema.fields.toSeq
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /**
   * Shuffle-once encode of a [[withPartIds]] frame whose part ids all lie in
   * [lo, lo + width) into a fresh STAGED data dir — no commit; callers commit
   * (append for waves, replace for compaction and delete). The pass-through
   * exchange puts part `lo + i` alone in partition `i`; each non-empty task
   * runs one [[GraftDataWriter]] and returns its commit message, which already
   * carries the part's lineage rollup. An input with no rows stages nothing
   * and leaves no dir. Returns (entries, seconds in the distributed write).
   */
  def stageEncode(spark: SparkSession, prepared: DataFrame, lo: Int, width: Int,
                  root: String,
                  maxBlockBytes: Long = MaxBlockBytes): (Seq[SnapshotStore.PartEntry], Double) = {
    val arranged = prepared
      .repartitionById(width, col("part_id") - lit(lo))
      .sortWithinPartitions(col("url"))
      .select(GraftDataSource.PageSchema.fieldNames.toSeq.map(col): _*)
    val (relDir, absDir) = SnapshotStore.newDataDir(root)
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val t0 = System.nanoTime()
    val msgs =
      try {
        val rdd = arranged.queryExecution.toRdd
        // partition index IS the part id: a resized exchange would mislabel
        // blocks (adaptive execution drops an EMPTY exchange to 0 partitions)
        require(rdd.getNumPartitions == width || rdd.getNumPartitions == 0,
          s"encode exchange has ${rdd.getNumPartitions} partitions, expected $width")
        rdd.mapPartitionsWithIndex { (i, rows) =>
          if (!rows.hasNext) Iterator.empty
          else Iterator.single(encodeTask(absDir, lo + i, i, conf, maxBlockBytes, rows))
        }.collect()
      } catch {
        case NonFatal(e) =>
          // a still-running zombie may recreate a file mid-drop: keep the cause
          try GraftWriteLayout.dropStaging(absDir)
          catch { case NonFatal(d) => e.addSuppressed(d) }
          throw e
      }
    val secs = (System.nanoTime() - t0) / 1e9
    GraftWriteLayout.sweepStrays(absDir, msgs.iterator.map(_.fileName).toSet,
      dropDirIfEmpty = true)
    (GraftWriteLayout.entriesFrom(msgs, relDir), secs)
  }

  /** One batch task: the V2 writer over one part's rows. Its file is promoted
    * only once the output-commit coordinator authorizes this attempt (as
    * DataWritingSparkTask does for V2 writes), so a zombie or speculative
    * twin can never surface a second copy. */
  private def encodeTask(absDir: String, partId: Int, partition: Int,
      conf: SerializableConfiguration, maxBlockBytes: Long,
      rows: Iterator[InternalRow]): GraftWriterCommitMessage = {
    val tc = TaskContext.get()
    val w = new GraftDataWriter(absDir, partId, partition, tc.taskAttemptId(), conf,
      GraftDataSource.PageSchema, maxBlockBytes)
    try {
      rows.foreach(w.write)
      org.apache.spark.sql.graftshim.Shim.authorizeCommit(tc)
      w.commit()
    } catch { case t: Throwable => w.abort(); throw t }
    finally w.close()
  }

  /**
   * Encode all pending work units. `waves` splits the part range into that many
   * commit groups — each wave is one Spark job ending in an atomic manifest commit,
   * so a killed run loses at most one wave and the next run resumes behind the last
   * committed checkpoint. `maxWaves` exists for kill/resume tests.
   */
  def run(spark: SparkSession, pages: Dataset[WebPage], root: String, parts: Int,
          waves: Int = 1, maxWaves: Int = Int.MaxValue, partOffset: Long = 0L,
          maxBlockBytes: Long = MaxBlockBytes,
          boundariesFile: String = "BOUNDARIES"): RunResult = {
    // part ids are Int: a streaming batchId*parts namespace past Int.MaxValue
    // would wrap NEGATIVE (colliding with the compaction namespace and earlier
    // batches) and silently drop work on resume — fail fast
    require(partOffset >= 0 && partOffset + parts <= Int.MaxValue.toLong,
      s"part-id namespace [$partOffset, ${partOffset + parts}) exceeds the Int range")
    Files.createDirectories(Paths.get(root))
    val boundaries = loadOrCreateBoundaries(root, pages, parts, boundariesFile)
    // a smaller `parts` than the persisted range layout would leave buckets
    // >= partOffset+parts outside every wave's pending set: rows bucketed there
    // would be SILENTLY skipped (never encoded, never an error). Boundaries
    // define bucket count for the life of the store — fail fast instead.
    require(parts >= boundaries.length + 1,
      s"store at $root is range-partitioned into ${boundaries.length + 1} buckets " +
      s"($boundariesFile); parts=$parts would silently skip buckets " +
      s"${partOffset + parts}..${partOffset + boundaries.length} — " +
      s"pass parts >= ${boundaries.length + 1}")

    val withPart = withPartIds(pages.toDF(), boundaries, partOffset.toInt)

    // RESUME: drop work units already committed. Only REACHABLE ids can
    // pend: the bucket function yields 0..boundaries.length, so when a skewed
    // sample left fewer distinct boundaries than parts-1, ids past the bucket
    // count can never produce a row — treating them as pending would re-scan
    // the whole input on every call to a fully-encoded store, forever.
    val committed = SnapshotStore.committedPartIds(root)
    val reachable = partOffset.toInt until (partOffset + boundaries.length + 1).toInt
    val pendingParts = reachable.filterNot(committed)
    val waveSize = math.max(1, (pendingParts.size + waves - 1) / math.max(waves, 1))
    val groups = pendingParts.grouped(waveSize).take(maxWaves).toSeq

    var totalEntries = Seq.empty[SnapshotStore.PartEntry]
    var lastSnap = SnapshotStore.currentSnapshotId(root).getOrElse(0L)
    var jobSecs = 0.0

    for (group <- groups) {
      // the wave's group already excludes committed ids; a CONCURRENT writer
      // racing the same ids is refused loudly by commitReplacing's uniqueness
      // guard at commit time (a re-filter here would hide the race silently)
      val pending = withPart.where(col("part_id").isin(group: _*))
      val (entries, secs) = stageEncode(spark, pending, group.head,
        group.last - group.head + 1, root, maxBlockBytes)
      jobSecs += secs
      // a wave of genuinely empty ranges stages nothing: committing would bump
      // an identical empty snapshot per call (manifest churn, never converges)
      if (entries.nonEmpty) lastSnap = SnapshotStore.commit(root, entries)
      totalEntries ++= entries
    }

    RunResult(lastSnap, totalEntries.size, totalEntries.map(_.nRows).sum,
      totalEntries.map(_.origBytes).sum, totalEntries.map(_.encBytes).sum, jobSecs)
  }

  /** spark-submit main: generate webtext and encode it into a snapshot store. */
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 100000L
    val root = if (args.length > 1) args(1) else "/tmp/graft-store"
    val parts = if (args.length > 2) args(2).toInt else 32
    val waves = if (args.length > 3) args(3).toInt else 1
    val spark = LocalSession.create("graft-encode")
    val res = run(spark, Webtext.generate(spark, n, parts), root, parts, waves)
    println(s"encoded: $res ratio=${res.origBytes.toDouble / math.max(res.encBytes, 1)}")
    spark.stop()
  }
}

/**
 * The block-buffering kernel every write path shares: the batch job's tasks
 * and the V2 writer (both through [[GraftDataWriter]]) and
 * [[EncodeJob.encodePartition]]. Rows, in `schema`'s column order, buffer into
 * one block that flushes at [[EncodeJob.BlockSize]] rows or `maxBlockBytes`
 * bytes, whichever comes first; a flushed block is encoded column by column
 * and handed to `emit`. Memory is one block in flight. Columns are
 * schema-driven: strings get textual bounds/dict metadata, binary is opaque,
 * timestamps ride as epoch micros, and the integer family encodes through the
 * width-matched physical codec (i64/i32/i16/i8).
 */
private[graft] final class BlockBuffer(schema: StructType, maxBlockBytes: Long,
    emit: BlockRow => Unit) {
  import EncodeJob.BlockSize

  private val fields = schema.fields
  // per field: a byte-array buffer (string/binary) OR a long+valid buffer (ints)
  private val strBufs = new Array[java.util.ArrayList[Array[Byte]]](fields.length)
  private val textual = new Array[Boolean](fields.length)
  private val longBufs = new Array[Array[Long]](fields.length)
  private val validBufs = new Array[Array[Boolean]](fields.length)
  private val intKind = new Array[PhysicalIntType](fields.length)
  fields.zipWithIndex.foreach { case (f, i) =>
    def ints(t: PhysicalIntType): Unit = {
      longBufs(i) = new Array[Long](BlockSize); validBufs(i) = new Array[Boolean](BlockSize)
      intKind(i) = t
    }
    f.dataType match {
      case StringType =>
        strBufs(i) = new java.util.ArrayList[Array[Byte]](BlockSize); textual(i) = true
      case BinaryType => strBufs(i) = new java.util.ArrayList[Array[Byte]](BlockSize)
      case TimestampType | LongType => ints(PhysicalIntType.I64)
      case IntegerType => ints(PhysicalIntType.I32)
      case ShortType => ints(PhysicalIntType.I16)
      case ByteType => ints(PhysicalIntType.I8)
      case other => throw new IllegalArgumentException(
        s"unsupported graft column type ${f.name} ${other.simpleString}")
    }
  }
  private var part = -1
  private var blockSeq = 0
  private var n = 0
  private var bufBytes = 0L

  def partId: Int = part

  /** Rows in the open block. */
  def buffered: Int = n

  /** Flush the open block, then number blocks of part `pid` from 0. */
  def startPart(pid: Int): Unit = { flush(); part = pid; blockSeq = 0 }

  def add(row: InternalRow): Unit = {
    var i = 0
    while (i < fields.length) {
      if (strBufs(i) != null) {
        val v =
          if (row.isNullAt(i)) null
          else if (textual(i)) row.getUTF8String(i).getBytes
          else row.getBinary(i)
        strBufs(i).add(v)
        if (v != null) bufBytes += v.length
      } else {
        if (row.isNullAt(i)) { longBufs(i)(n) = 0L; validBufs(i)(n) = false }
        else {
          longBufs(i)(n) = fields(i).dataType match {
            case IntegerType => row.getInt(i).toLong
            case ShortType => row.getShort(i).toLong
            case ByteType => row.getByte(i).toLong
            case _ => row.getLong(i) // timestamp micros / bigint
          }
          validBufs(i)(n) = true
        }
        bufBytes += 8L
      }
      i += 1
    }
    n += 1
    bufBytes += 8L
    if (n == BlockSize || bufBytes >= maxBlockBytes) flush()
  }

  def flush(): Unit = {
    if (n == 0) return
    var i = 0
    while (i < fields.length) {
      emit(
        if (strBufs(i) != null)
          EncodeJob.strBlockRow(part, blockSeq, fields(i).name, strBufs(i), textual(i))
        else
          EncodeJob.intBlockRow(part, blockSeq, fields(i).name,
            longBufs(i), validBufs(i), n, intKind(i)))
      if (strBufs(i) != null) strBufs(i).clear()
      i += 1
    }
    n = 0; bufBytes = 0L; blockSeq += 1
  }
}
