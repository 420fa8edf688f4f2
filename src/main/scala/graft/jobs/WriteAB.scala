package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Interleaved same-JVM A/B attribution for the SQL-write throughput gap
 * (VERDICT r5 "What's wrong #1"): the V2 write's `Distributions.ordered`
 * makes Spark's range exchange run a SAMPLE job that computes the full
 * child a second time, while the batch EncodeJob routes rows by a
 * precomputed range-bucket id (url-only sample). This main isolates the
 * two suspects:
 *
 *   A  range exchange + sort -> noop        (Spark's ordered-distribution shape)
 *   B  bucket pass-through exchange + sort -> noop  (EncodeJob's shape, incl. boundary sample)
 *   C  full V2 write as shipped             (ordered distribution + block writer)
 *   D  full EncodeJob.run                   (bucket pass-through + block writer tasks)
 *
 * (C - A) vs (D - B) then brackets the writer-sink overhead with the
 * exchange shape factored out. Interleaved min-of-N per BASELINE.md
 * methodology (this host shows 2-3x minute-scale noise).
 */
object WriteAB {
  import LocalSession.deleteRecursively

  def main(args: Array[String]): Unit = {
    val pagesN = if (args.length > 0) args(0).toLong else 400000L
    val rounds = if (args.length > 1) args(1).toInt else 3
    val scratch = LocalSession.tmpfsScratchDir("graft-ab-")
    try {
      val spark = SparkSession.builder()
        .master("local[32]")
        .appName("graft-write-ab")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.functions.GraftExtensions")
        .config("spark.local.dir", s"$scratch/spark-local")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      import spark.implicits._

      val pagesParquet = s"$scratch/pages"
      graft.sources.Webtext.generate(spark, pagesN, 64)
        .write.mode("overwrite").parquet(pagesParquet)
      def pages: DataFrame = spark.read.parquet(pagesParquet)
      val origBytes = pages.select(
        sum(octet_length($"url") + octet_length($"html") + octet_length($"text") +
          octet_length($"lang") + lit(8L))).as[Long].head()

      def noop(df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()

      def timeIt(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }

      val shim = org.apache.spark.sql.graftshim.Shim
      def bucketCol(boundaries: Array[String]) = shim.column(
        graft.functions.RangeBucketId(shim.expression(col("url")), boundaries, 0))

      val variants: Seq[(String, () => Double)] = Seq(
        "A_range_sort_noop" -> (() => timeIt {
          noop(pages.repartitionByRange(128, $"url").sortWithinPartitions($"url"))
        }),
        "B_bucket_sort_noop" -> (() => timeIt {
          // boundary sample is PART of the arranged path's cost: inside the timer
          val (_, _, boundaries) = EncodeJob.countAndUrlBoundaries(
            pages.select($"url").as[String], _ => 128)
          noop(pages.withColumn("__b", bucketCol(boundaries))
            .repartitionById(128, $"__b").sortWithinPartitions($"url").drop("__b"))
        }),
        "C_v2_write_ordered" -> (() => {
          val store = s"$scratch/c-store-${System.nanoTime()}"
          spark.conf.set("spark.graft.write.partitions", "128")
          spark.conf.set("spark.graft.write.arrange", "false")
          val s = try timeIt {
            pages.write.format("graft").mode("append").save(store)
          } finally {
            spark.conf.unset("spark.graft.write.partitions")
            spark.conf.unset("spark.graft.write.arrange")
          }
          deleteRecursively(new java.io.File(store)); s
        }),
        "E_v2_write_arranged" -> (() => {
          val store = s"$scratch/e-store-${System.nanoTime()}"
          spark.conf.set("spark.graft.write.partitions", "128")
          val n0 = graft.plans.GraftWriteArrangeRule.arranged.get()
          val s = try timeIt {
            pages.write.format("graft").mode("append").save(store)
          } finally spark.conf.unset("spark.graft.write.partitions")
          require(graft.plans.GraftWriteArrangeRule.arranged.get() > n0,
            "arrange rule did not fire — E would silently measure the ordered path")
          deleteRecursively(new java.io.File(store)); s
        }),
        "D_encode_job_full" -> (() => {
          val store = s"$scratch/d-store-${System.nanoTime()}"
          val s = timeIt {
            EncodeJob.run(spark, pages.as[graft.sources.WebPage], store, parts = 128)
          }
          deleteRecursively(new java.io.File(store)); s
        }))

      // JIT/scan warmup
      noop(pages)
      val best = scala.collection.mutable.LinkedHashMap[String, Double]()
      for (r <- 0 until rounds; (name, f) <- variants) {
        val s = f()
        println(f"[ab] round=$r $name%-20s $s%7.2f s  (${origBytes / 1e9 / s}%.3f GB/s)")
        if (!best.contains(name) || s < best(name)) best(name) = s
      }
      println("=== mins ===")
      best.foreach { case (n, s) =>
        println(f"$n%-20s $s%7.2f s  ${origBytes / 1e9 / s}%.3f GB/s")
      }
      spark.stop()
    } finally deleteRecursively(new java.io.File(scratch))
  }
}
