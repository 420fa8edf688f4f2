package graft

import org.apache.spark.sql.SparkSession

/**
 * Optimization-round instrumentation (guide §1): NOT part of the driver
 * contract — `Bench` is the frozen round-of-record harness; this main exists
 * so plan shapes and phase timings can be captured and cited in
 * OPTIMIZATION_r07.md without touching the measured surface.
 *
 * Modes (args(0)):
 *  - `explain <suffix> <name>[,<name>...]` — write `plans/r07/<name>_<suffix>.txt`
 *    with the `.explain("formatted")` output of each declared query.
 *  - `time <name>[,<name>...] [rounds]` — per-query min-of-N noop timing with
 *    per-round samples printed (same methodology as Bench.timeQueries).
 * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench.
 */
object BenchExtra {

  private def newSession(threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graft-bench-extra-$threads")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = newSession(cpus)
    args(0) match {
      case "explain" =>
        val suffix = args(1)
        val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
        val dir = java.nio.file.Paths.get("plans/r07")
        java.nio.file.Files.createDirectories(dir)
        for (name <- names) {
          val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"wrote plans/r07/${name}_$suffix.txt")
        }
      case "explainexec" =>
        // like `explain`, but EXECUTES the query (noop sink) first and appends
        // the post-execution plan: with AQE, exchange/stage reuse only shows in
        // the final plan, not the initial one
        val suffix = args(1)
        val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
        val dir = java.nio.file.Paths.get("plans/r07")
        java.nio.file.Files.createDirectories(dir)
        val lastExecuted = new java.util.concurrent.atomic.AtomicReference[String]("")
        spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(f: String,
              qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
            lastExecuted.set(qe.executedPlan.toString)
          override def onFailure(f: String,
              qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
        })
        for (name <- names) {
          val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
          val df = fn(spark, sfDir)
          lastExecuted.set("")
          df.write.format("noop").mode("overwrite").save()
          // listener delivery is async; a short bounded wait suffices here
          var waited = 0
          while (lastExecuted.get().isEmpty && waited < 5000) { Thread.sleep(50); waited += 50 }
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode) +
            "\n\n== Post-execution (AQE final) plan of the noop write ==\n" +
            lastExecuted.get()
          java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
            txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"wrote plans/r07/${name}_$suffix.txt")
        }
      case "time" =>
        val names = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        val rounds = if (args.length > 2) args(2).toInt else 3
        val qs = SparkEntry.queries
        val samples = scala.collection.mutable.Map[String, List[Double]]()
        for (_ <- 0 until rounds; name <- names) {
          val fn = qs.getOrElse(name, sys.error(s"unknown query $name"))
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t0) / 1e9
          samples(name) = samples.getOrElse(name, Nil) :+ secs
        }
        for (name <- names)
          println(f"$name%-24s min=${samples(name).min}%.3f  samples=${samples(name).map(s => f"$s%.3f").mkString(",")}")
      case "microloop" =>
        // long-running single-thread codec loop (Bench.microBench workload
        // shape) for profiler attachment; prints per-iteration MB/s
        import graft.core.{GolombCodec, PhysicalIntType}
        val n = 16 * 1024 * 1024
        val values = new Array[Long](n)
        var x = 42L
        var i = 0
        while (i < n) {
          x = x * 6364136223846793005L + 1442695040888963407L
          val u = ((x >>> 11).toDouble + 1.0) / 9007199254740993.0
          val mag = math.min(math.pow(u, -1.0 / 1.3) - 1.0, Int.MaxValue.toDouble)
          x = x * 6364136223846793005L + 1442695040888963407L
          val sign = if ((x & 1L) == 0L) 1L else -1L
          values(i) = (sign * mag.toLong).max(Int.MinValue.toLong).min(Int.MaxValue.toLong)
          i += 1
        }
        val rounds = if (args.length > 1) args(1).toInt else 20
        val enc0 = GolombCodec.encode(values, 0, PhysicalIntType.I32)
        for (r <- 0 until rounds) {
          var t0 = System.nanoTime()
          val e = GolombCodec.encode(values, 0, PhysicalIntType.I32)
          val encS = (System.nanoTime() - t0) / 1e9
          t0 = System.nanoTime()
          val d = GolombCodec.decodeRange(enc0, 0, enc0.length, 0, PhysicalIntType.I32, n)
          val decS = (System.nanoTime() - t0) / 1e9
          println(f"micro $r: enc=${n * 4 / 1e6 / encS}%.1f MB/s dec=${n * 4 / 1e6 / decS}%.1f MB/s (${e.length} ${d.length})")
        }
        // string codec loop
        val texts = Array.tabulate(20000)(i =>
          sources.Webtext.page(i.toLong).text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var bytes = 0L
        texts.foreach(bytes += _.length)
        for (r <- 0 until rounds) {
          var t0 = System.nanoTime()
          val e = graft.codec.StringBlockCodec.encode(texts)
          val encS = (System.nanoTime() - t0) / 1e9
          t0 = System.nanoTime()
          val d = graft.codec.StringBlockCodec.decode(e)
          val decS = (System.nanoTime() - t0) / 1e9
          println(f"str $r: enc=${bytes / 1e6 / encS}%.1f MB/s dec=${bytes / 1e6 / decS}%.1f MB/s (${d.length})")
        }
      case "exprsql" =>
        // rt_expr_sql attribution: collect_list shuffle vs eg codec vs explode,
        // and group-count variants (result multiset identical for any grouping)
        graft.functions.GraftFunctions.registerAll(spark)
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .createOrReplaceTempView("lineitem_v")
        val rounds = if (args.length > 1) args(1).toInt else 5
        def timeSql(label: String, sql: String): Unit = {
          val ts = (0 until rounds).map { _ =>
            val t0 = System.nanoTime()
            spark.sql(sql).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"$label%-28s min=${ts.min}%.3f samples=${ts.map(t => f"$t%.3f").mkString(",")}")
        }
        timeSql("collect_list only (64)",
          "SELECT collect_list(l_suppkey) AS vals FROM lineitem_v GROUP BY l_orderkey % 64")
        timeSql("encode only (64)",
          "SELECT eg_encode(vals, 3, 'i64') FROM (SELECT collect_list(l_suppkey) AS vals " +
          "FROM lineitem_v GROUP BY l_orderkey % 64)")
        timeSql("full (64, declared)",
          "SELECT explode(eg_decode(eg_encode(vals, 3, 'i64'), 3, 'i64')) AS v " +
          "FROM (SELECT collect_list(l_suppkey) AS vals FROM lineitem_v GROUP BY l_orderkey % 64)")
        timeSql("full (256 groups)",
          "SELECT explode(eg_decode(eg_encode(vals, 3, 'i64'), 3, 'i64')) AS v " +
          "FROM (SELECT collect_list(l_suppkey) AS vals FROM lineitem_v GROUP BY l_orderkey % 256)")
        timeSql("full (32 groups)",
          "SELECT explode(eg_decode(eg_encode(vals, 3, 'i64'), 3, 'i64')) AS v " +
          "FROM (SELECT collect_list(l_suppkey) AS vals FROM lineitem_v GROUP BY l_orderkey % 32)")
      case "v2write" =>
        // attribute the arranged SQL write's analysis-time job (the one-pass
        // url count + boundary sample) against the full write
        import org.apache.spark.sql.functions.col
        import spark.implicits._
        val rounds = if (args.length > 1) args(1).toInt else 3
        val pagesParquet = "/dev/shm/graft-w-pages"
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(pagesParquet)))
          sources.Webtext.generate(spark, 400000, 64)
            .write.mode("overwrite").parquet(pagesParquet)
        val src = spark.read.parquet(pagesParquet)
        for (r <- 0 until rounds) {
          var t0 = System.nanoTime()
          val (_, _, b) = jobs.EncodeJob.countAndUrlBoundaries(
            src.select(col("url").as("url")).as[String], _ => 128)
          val sampleS = (System.nanoTime() - t0) / 1e9
          val wStore = java.nio.file.Files.createTempDirectory(
            java.nio.file.Paths.get("/dev/shm"), "graft-w-").toString
          spark.conf.set("spark.graft.write.partitions", "128")
          t0 = System.nanoTime()
          try src.write.format("graft").mode("append").save(wStore)
          finally spark.conf.unset("spark.graft.write.partitions")
          val writeS = (System.nanoTime() - t0) / 1e9
          jobs.LocalSession.deleteRecursively(new java.io.File(wStore))
          println(f"v2write round $r: count+sample=$sampleS%.3f (boundaries=${b.length}) write=$writeS%.3f")
        }
      case "v2scan" =>
        // row-path vs columnar-path V2 full scan A/B on a bench-shaped store
        import spark.implicits._
        val rounds = if (args.length > 1) args(1).toInt else 4
        val pagesParquet = "/dev/shm/graft-v2-pages"
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(pagesParquet)))
          sources.Webtext.generate(spark, 400000, 64)
            .write.mode("overwrite").parquet(pagesParquet)
        val store = "/dev/shm/graft-v2-store"
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(store)))
          jobs.EncodeJob.run(spark,
            spark.read.parquet(pagesParquet).as[graft.sources.WebPage], store, parts = 128)
        def scanOnce(columnar: Boolean): Double = {
          if (columnar) spark.conf.set("spark.graft.v2.columnar", "true")
          else spark.conf.unset("spark.graft.v2.columnar")
          val t0 = System.nanoTime()
          spark.read.format("graft").load(store)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        for (r <- 0 until rounds)
          println(f"v2scan round $r: row=${scanOnce(false)}%.3f s columnar=${scanOnce(true)}%.3f s")
        spark.conf.unset("spark.graft.v2.columnar")
      case "encodeloop" =>
        // repeated bench-shaped encode runs (pages from parquet, parts=128) so a
        // profiler can attach mid-run; prints per-run job seconds
        import spark.implicits._
        val n = if (args.length > 1) args(1).toInt else 6
        val pagesParquet = "/dev/shm/graft-prof-pages"
        if (!java.nio.file.Files.exists(java.nio.file.Paths.get(pagesParquet)))
          sources.Webtext.generate(spark, 400000, 64)
            .write.mode("overwrite").parquet(pagesParquet)
        val pages = spark.read.parquet(pagesParquet).as[graft.sources.WebPage]
        // per-stage wall attribution (guide §7.1 without a UI): stage id,
        // duration, shuffle read/write bytes
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val ms = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s)
              .getOrElse(-1L)
            stages.add(f"    stage ${si.stageId}%3d ${si.name.takeWhile(_ != '\n').take(50)}%-50s " +
              f"${ms / 1000.0}%6.2f s tasks=${si.numTasks} " +
              f"shufR=${si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6}%.0fMB " +
              f"shufW=${si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6}%.0fMB " +
              f"in=${si.taskMetrics.inputMetrics.bytesRead / 1e6}%.0fMB")
          }
        })
        for (i <- 0 until n) {
          stages.clear()
          val store = java.nio.file.Files.createTempDirectory(
            java.nio.file.Paths.get("/dev/shm"), "graft-prof-store-").toString
          val res = jobs.EncodeJob.run(spark, pages, store, parts = 128)
          println(f"encode run $i: job=${res.jobSecs}%.2f s")
          Thread.sleep(300) // let listener events drain
          stages.forEach(s => println(s))
          jobs.LocalSession.deleteRecursively(new java.io.File(store))
        }
      case "floor" =>
        // harness floor + component probes (guide §1.1): how much of each
        // query's wall time is irreducible plan+noop overhead at this scale
        import org.apache.spark.sql.functions._
        val rounds = if (args.length > 1) args(1).toInt else 5
        def timeIt(label: String)(f: => Unit): Unit = {
          val ts = (0 until rounds).map { _ =>
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          println(f"$label%-34s min=${ts.min}%.3f samples=${ts.map(t => f"$t%.3f").mkString(",")}")
        }
        timeIt("range(100) noop") {
          spark.range(100).write.format("noop").mode("overwrite").save() }
        timeIt("orders scan noop") {
          spark.read.parquet(s"$sfDir/orders.parquet")
            .write.format("noop").mode("overwrite").save() }
        timeIt("lineitem scan noop") {
          spark.read.parquet(s"$sfDir/lineitem.parquet")
            .write.format("noop").mode("overwrite").save() }
        timeIt("lineitem 4col agg (q1 core)") {
          spark.read.parquet(s"$sfDir/lineitem.parquet")
            .groupBy(col("l_returnflag"), col("l_linestatus"))
            .agg(count(lit(1)), sum(col("l_quantity")), min(col("l_extendedprice")),
              max(col("l_extendedprice")))
            .write.format("noop").mode("overwrite").save() }
        timeIt("orders join3 probe") {
          val o = spark.read.parquet(s"$sfDir/orders.parquet")
          val c = spark.read.parquet(s"$sfDir/customer.parquet")
          val nt = spark.read.parquet(s"$sfDir/nation.parquet")
          o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
            .join(broadcast(nt), col("c_nationkey") === col("n_nationkey"))
            .groupBy(col("n_name"))
            .agg(count(lit(1)), min(col("o_totalprice")), max(col("o_totalprice")))
            .write.format("noop").mode("overwrite").save() }
        timeIt("events window_rank core") {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          spark.read.parquet(s"$sfDir/events.parquet")
            .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
            .select(col("event_id"), col("rn"))
            .write.format("noop").mode("overwrite").save() }
      case "abminhash" =>
        // interleaved A/B (old vs new q_minhash form) to cancel host weather
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val rounds = if (args.length > 1) args(1).toInt else 5
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"))
        def corpus = docs.union(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" tail")).as("text")))
        def shingleDf = corpus.select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, tx) =>
            (id, operators.Dedup.distinctShingles(if (tx == null) "" else tx, 3)) })
          .toDF("doc_id", "s").cache()
        def verify(cand: org.apache.spark.sql.DataFrame, hint: Boolean) = {
          val sh = shingleDf
          val sa = sh.select(col("doc_id").as("a"), col("s").as("s_a"))
          val sb = sh.select(col("doc_id").as("b"), col("s").as("s_b"))
          val union = size(array_union(col("s_a"), col("s_b")))
          val j = size(array_intersect(col("s_a"), col("s_b"))).cast("double") /
            greatest(union, lit(1)).cast("double")
          val joined =
            if (hint) broadcast(broadcast(cand).join(sa, "a")).join(sb, "b")
            else cand.join(sa, "a").join(sb, "b")
          joined.where(j >= 0.6).select(col("a"), col("b"))
        }
        val variants: Seq[(String, () => Unit)] = Seq(
          "t0.3/nohint" -> (() => verify(operators.Dedup.minhashPairs(corpus, "doc_id",
            "text", 64, 32, 3, 0.3, Int.MaxValue), hint = false)
            .write.format("noop").mode("overwrite").save()),
          "t0.0/nohint" -> (() => verify(operators.Dedup.minhashPairs(corpus, "doc_id",
            "text", 64, 32, 3, 0.0, Int.MaxValue), hint = false)
            .write.format("noop").mode("overwrite").save()),
          "t0.3/hint  " -> (() => verify(operators.Dedup.minhashPairs(corpus, "doc_id",
            "text", 64, 32, 3, 0.3, Int.MaxValue), hint = true)
            .write.format("noop").mode("overwrite").save()),
          "t0.0/hint  " -> (() => verify(operators.Dedup.minhashPairs(corpus, "doc_id",
            "text", 64, 32, 3, 0.0, Int.MaxValue), hint = true)
            .write.format("noop").mode("overwrite").save()))
        val best = scala.collection.mutable.Map[String, List[Double]]()
        for (_ <- 0 until rounds; (nm, f) <- variants) {
          val t0 = System.nanoTime(); f(); val t = (System.nanoTime() - t0) / 1e9
          best(nm) = best.getOrElse(nm, Nil) :+ t
        }
        for ((nm, _) <- variants)
          println(f"$nm min=${best(nm).min}%.3f samples=${best(nm).map(x => f"$x%.3f").mkString(",")}")
      case "minhash" =>
        // phase breakdown for q_minhash_pairs (guide §1.1 empirical loop)
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val rounds = if (args.length > 1) args(1).toInt else 3
        def timeIt(label: String)(f: => Unit): Unit = {
          val ts = (0 until rounds).map { _ =>
            val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
          }
          println(f"$label%-36s min=${ts.min}%.3f samples=${ts.map(t => f"$t%.3f").mkString(",")}")
        }
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"))
        def corpus0 = docs.union(docs.select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" tail")).as("text")))
        timeIt("corpus noop (2 parts)") {
          corpus0.write.format("noop").mode("overwrite").save() }
        timeIt("corpus noop (repart 32)") {
          corpus0.repartition(32).write.format("noop").mode("overwrite").save() }
        timeIt("sig kernel (2 parts)") {
          operators.Dedup.withMinhashSignature(corpus0, "text", 64, 3)
            .write.format("noop").mode("overwrite").save() }
        timeIt("sig kernel (repart 32)") {
          operators.Dedup.withMinhashSignature(corpus0.repartition(32), "text", 64, 3)
            .write.format("noop").mode("overwrite").save() }
        timeIt("shingle kernel (2 parts)") {
          corpus0.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
            .mapPartitions(_.map { case (id, tx) =>
              (id, operators.Dedup.distinctShingles(if (tx == null) "" else tx, 3)) })
            .write.format("noop").mode("overwrite").save() }
        timeIt("minhashPairs only (2 parts)") {
          spark.catalog.clearCache()
          operators.Dedup.minhashPairs(corpus0, "doc_id", "text",
            numHashes = 64, bands = 32, shingleSize = 3, threshold = 0.3,
            maxBucket = Int.MaxValue).write.format("noop").mode("overwrite").save() }
        timeIt("full query (cold cache)") {
          spark.catalog.clearCache()
          SparkEntry.queries("q_minhash_pairs")(spark, sfDir)
            .write.format("noop").mode("overwrite").save() }
        timeIt("full query (warm cache)") {
          SparkEntry.queries("q_minhash_pairs")(spark, sfDir)
            .write.format("noop").mode("overwrite").save() }
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
