package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.Dedup
import graft.sources.Tables

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Prints the full record (every end-to-end metric that applies to the
  * workload, with its unit) and, as the last stdout line, one JSON object
  * `{"correct", "attempted", "failed", "metrics"}` holding the gated
  * end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`). Exits non-zero when any correctness check fails.
  */
object Main {

  /** The gated end-to-end metrics every workload reports, with units.
    * The rest of the record (index build, op latencies and tails, heap)
    * is printed but not gated: its run-to-run spread on a shared 4-core
    * machine is wider than any useful bound.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "recall" -> "ratio")

  /** Per-layer metrics the traced run reports; a layer the workload does
    * not call reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.rows" -> "count", "sources.input_bytes" -> "bytes",
    "expr.similarity_rows_per_s" -> "1/s", "expr.shingle_rows_per_s" -> "1/s",
    "Search.topKMany.call_s" -> "s", "Search.topKMany.exec_s" -> "s",
    "Search.topKMany.jobs" -> "count", "Search.topKMany.task_s" -> "s",
    "Search.topKMany.shuffle_write_bytes" -> "bytes",
    "KMeansIndex.build.fit_s" -> "s", "KMeansIndex.build.jobs" -> "count",
    "KMeansIndex.searchMany.exec_s" -> "s", "KMeansIndex.searchMany.task_s" -> "s",
    "KMeansIndex.searchMany.jobs" -> "count", "KMeansIndex.searchMany.max_task_share" -> "ratio",
    "KMeansIndex.searchMany.rows_scored_ratio" -> "ratio",
    "KMeansIndex.appendPersisted.call_s" -> "s",
    "KMeansIndex.appendPersisted.bytes_written" -> "bytes",
    "KMeansIndex.appendPersisted.files_written" -> "count",
    "KMeansIndex.compactPersisted.call_s" -> "s",
    "KMeansIndex.compactPersisted.bytes_rewritten" -> "bytes",
    "KMeansIndex.searchPersisted.exec_s" -> "s",
    "KMeansIndex.searchPersisted.dirs_scanned" -> "count",
    "KMeansIndex.searchPersisted.input_bytes" -> "bytes",
    "InvertedIndex.appendBatch.call_s" -> "s", "InvertedIndex.appendBatch.exec_s" -> "s",
    "InvertedIndex.appendBatch.bytes_written" -> "bytes",
    "InvertedIndex.compact.call_s" -> "s", "InvertedIndex.compact.exec_s" -> "s",
    "InvertedIndex.compact.bytes_written" -> "bytes",
    "InvertedIndex.search.call_s" -> "s", "InvertedIndex.search.exec_s" -> "s",
    "InvertedIndex.search.bytes_written" -> "bytes",
    "Dedup.minhashLshPairs.exec_s" -> "s", "Dedup.minhashLshPairs.pairs" -> "count",
    "Dedup.lsh_precision" -> "ratio",
    "Dedup.ngramJaccardPairs.exec_s" -> "s",
    "Dedup.ngramJaccardPairs.shuffle_write_bytes" -> "bytes",
    "Dedup.ngramJaccardPairs.spill_bytes" -> "bytes",
    "CorpusPipeline.clean.quality.stage_s" -> "s", "CorpusPipeline.clean.quality.rows" -> "count",
    "CorpusPipeline.clean.exact.stage_s" -> "s", "CorpusPipeline.clean.exact.rows" -> "count",
    "CorpusPipeline.clean.near_dup.stage_s" -> "s",
    "CorpusPipeline.clean.near_dup.rows" -> "count",
    "VectorFieldDB.addIGlyphsDF.call_s" -> "s", "VectorFieldDB.update.call_s" -> "s",
    "VectorFieldDB.delete.call_s" -> "s", "VectorFieldDB.search.call_s" -> "s",
    "VectorFieldDB.autoClusterPhiBatch.call_s" -> "s", "VectorFieldDB.verifyHash.call_s" -> "s",
    "VectorFieldDB.plan_nodes" -> "count",
    "spark.jobs" -> "count", "spark.eager_jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_s" -> "s", "spark.core_busy_ratio" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.caches_left" -> "count",
    "trace.overhead_s" -> "s", "trace.overhead_ratio" -> "ratio")

  /** Cycles run before the measured loop, as part of set-up. Ops keep
    * getting faster for a few more cycles while the JIT settles; per-op
    * medians over the loop discard those samples instead of paying for
    * more warm cycles in every run.
    */
  val WarmCycles = 1

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (percentile, value), or None with fewer than eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    if (s.size < 11) None
    else {
      val idx = s.size - 11 // ten samples lie above this one
      Some((100.0 * (idx + 1) / s.size, s(idx)))
    }
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  private def session(a: Args, cores: Int): SparkSession = {
    val local = s"${a.work}/spark-local"
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // the status store otherwise keeps every finished query and job on
      // the driver heap, so heap readings would grow with the op count
      .config("spark.sql.ui.retainedExecutions", "1")
      .config("spark.ui.retainedJobs", "1")
      .config("spark.ui.retainedStages", "1")
      .config("spark.ui.retainedTasks", "1")
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workload(a.workload)
    val cores = Runtime.getRuntime.availableProcessors
    val root = java.nio.file.Paths.get(a.work).toAbsolutePath
    deleteTree(root)
    java.nio.file.Files.createDirectories(root)
    val dataDir = s"$root/data"
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val g0 = System.nanoTime()
    wl.generate(a.seed, dataDir)
    val genS = (System.nanoTime() - g0) / 1e9

    // set-up: session start, a first index build and warm cycles of the
    // workload's own op mix (the JIT needs realistic sizes to settle),
    // timed from JVM start with input generation left out
    val spark = session(a, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = System.currentTimeMillis() / 1e3 - (jvmStart / 1e3 + genS)

    val tracer = new Tracer(spark)
    val h = new Harness(spark, tracer, a.seed)

    val w0 = System.nanoTime()
    wl.build(h)
    for (c <- 0 until WarmCycles) wl.cycle(h, c)
    val setupS = sessionS + (System.nanoTime() - w0) / 1e9

    val layer = LinkedHashMap[String, Double]()
    if (a.trace) probeLayers(h, wl, dataDir, layer)

    // the index build, timed on the warm JVM; this build serves the loop
    tracer.setEnabled(a.trace)
    val b0 = System.nanoTime()
    wl.build(h)
    val buildS = (System.nanoTime() - b0) / 1e9
    tracer.setEnabled(false)
    h.clearCaches()
    h.sampleHeap()

    // the closed loop: whole cycles until the time is up. A traced run
    // alternates traced and untraced cycles, and runs at least one of
    // each, so the tracing overhead compares like with like.
    h.measuring = true
    val loop0 = System.nanoTime()
    var c = 0
    def done = (System.nanoTime() - loop0) / 1e9 >= a.seconds &&
      (!a.trace || c >= 2)
    while (!done) {
      tracer.setEnabled(a.trace && c % 2 == 1)
      wl.cycle(h, WarmCycles + c)
      c += 1
    }
    tracer.setEnabled(false)
    h.measuring = false
    val loopOps = h.ops
    wl.finish(h)

    // traced layer probes after search_batch's loop, for the layers no
    // end-to-end workload calls: the persisted IVF and BM25 layouts and
    // the VectorFieldDB API. Build and one cycle of each, all traced;
    // their op samples are reported apart from the workload's own.
    val ingest = new IndexIngest
    val probes: Seq[Probe] =
      if (a.trace && wl.isInstanceOf[SearchBatch]) Seq(ingest, new VfdbSession) else Nil
    val loopSamples = h.samples.size
    h.measuring = a.trace
    for (p <- probes) {
      val dir = s"$dataDir/${p.name}"
      p.generate(a.seed, dir)
      tracer.setEnabled(true)
      p.build(h)
      p.cycle(h, 0)
      p.finish(h)
      tracer.setEnabled(false)
    }
    h.measuring = false
    val probeOk = h.samples.drop(loopSamples).filter(_.ok).toSeq

    val ok = h.samples.take(loopSamples).filter(_.ok)
    val untracedOk = ok.filter(!_.traced)
    def opP50(xs: Seq[Sample]) =
      geomean(xs.groupBy(_.op).values.map(s => median(s.map(_.seconds))).toSeq)
    val (hits, total) = h.quality.getOrElse(wl.recallTally, (0L, 0L))
    val recall = if (total == 0) Double.NaN else hits.toDouble / total
    // every op type weighs the same: with n types, halving one type's
    // latency raises items_per_s by 2^(1/n), however long the others take
    val e2e = Map(
      "setup_s" -> setupS,
      "items_per_s" -> geomean(untracedOk.groupBy(_.op).values
        .map(s => median(s.map(x => x.items / x.seconds).toSeq)).toSeq),
      "recall" -> recall)

    // the full record: every end-to-end metric that applies, with units
    val rec = ArrayBuffer[(String, Any, String)]()
    rec += (("setup_s", setupS, "s"))
    rec += (("index_build_s", buildS, "s"))
    def latencies(prefix: String, samples: Seq[Sample]): Unit =
      for (kind <- Seq("search", "write", "job", "maintenance")) {
        val xs = samples.filter(_.kind == kind).map(_.seconds)
        if (xs.nonEmpty) {
          rec += ((s"$prefix${kind}_p50_s", median(xs), "s"))
          tail(xs) match {
            case Some((p, v)) =>
              rec += ((s"$prefix${kind}_tail_s", v, "s"))
              rec += ((s"$prefix${kind}_tail_percentile", p, "%"))
            case None =>
              rec += ((s"$prefix${kind}_tail_s", "n/a (fewer than 11 samples)", "s"))
          }
          rec += ((s"$prefix${kind}_samples", xs.size, "count"))
        }
      }
    latencies("", untracedOk.toSeq)
    latencies("probe.", probeOk)
    rec += (("op_p50_s", opP50(untracedOk.toSeq), "s (geomean of per-op medians)"))
    rec += (("items_per_s", e2e("items_per_s"),
      s"1/s (${wl.itemsLabel}; geomean over op types of the median per-op rate)"))
    h.quality.foreach { case (k, (x, n)) =>
      rec += ((k, if (n == 0) Double.NaN else x.toDouble / n, s"ratio ($x of $n)"))
    }
    rec += (("failed_ops_ratio", h.failures.size.toDouble / math.max(1L, h.attempted), "ratio"))
    rec += (("peak_heap_mb", h.peakHeapMb, "MB"))
    if (probes.nonEmpty) rec += (("space_amp", ingest.spaceAmp, "bytes/byte"))
    rec += (("cycles", c, "count"))
    rec += (("ops", h.samples.size, "count"))
    println(s"# perfbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} cores=$cores")
    rec.foreach { case (k, v, u) =>
      val s = v match { case d: Double => f"$d%.6f"; case o => o.toString }
      println(f"# $k%-28s $s%s $u")
    }
    (ok ++ probeOk).groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, xs) =>
      println(f"#   op $op%-36s n=${xs.size}%3d p50=${median(xs.map(_.seconds).toSeq)}%.4f s " +
        xs.map(x => f"${x.seconds}%.2f").mkString("[", " ", "]"))
    }
    h.failures.take(20).foreach(f => println(s"# FAILED: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) EndToEnd.map { case (k, u) => (k, e2e(k), u) }
      else {
        layerMetrics(h, ok.toSeq, cores, loopOps, layer)
        val tracedOk = ok.filter(_.traced)
        if (tracedOk.nonEmpty && untracedOk.nonEmpty) {
          val on = opP50(tracedOk.toSeq); val off = opP50(untracedOk.toSeq)
          layer("trace.overhead_s") = on - off
          layer("trace.overhead_ratio") = on / off - 1.0
        }
        tracer.writeJson(root.resolve(s"spans-${a.workload}-${a.seed}.json"))
        PerLayer.map { case (k, u) => (k, layer.getOrElse(k, 0.0), u) }
      }
    if (a.trace) metrics.foreach { case (k, v, u) => println(f"# layer $k%-46s $v%.6f $u") }

    spark.stop()
    val correct = h.failures.isEmpty && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val body = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, h.attempted)}, """ +
      s""""failed": ${h.failures.size}, "metrics": {$body}}""")
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  /** Traced-run probes outside the loop: the source scan of the
    * workload's own tables, and projection-only passes of the two
    * expression families over small seeded tables.
    */
  private def probeLayers(h: Harness, wl: Workload, dataDir: String,
      layer: LinkedHashMap[String, Double]): Unit = {
    val spark = h.spark
    val tr = h.tracer
    tr.setEnabled(true)
    val scans = wl.sources(spark).map { df =>
      tr.exec("sources.scan")(h.noop(df))
      (tr.spans.last, df.count())
    }
    layer("sources.scan_s") = scans.map(_._1.seconds).sum
    layer("sources.rows") = scans.map(_._2).sum.toDouble
    layer("sources.input_bytes") = scans.map(_._1.work.inputBytes).sum.toDouble

    val probeDir = s"$dataDir/probe"
    val rng = new java.util.Random(h.seed ^ 0x5eedL)
    val pv = Gen.clustered(rng, Gen.centres(rng, 32, Workload.Dim), 20000, 0.1, 0L)
    Gen.writeVectors(pv, probeDir)
    Gen.writeDocs(Gen.corpus(rng, 2000, 0L).docs.toSeq, probeDir)
    val q = typedLit(pv.vecs(0).toSeq)
    def rate(df: org.apache.spark.sql.DataFrame, rows: Long): Double = {
      h.noop(df) // the first pass compiles; the median of the next three is timed
      val xs = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); h.noop(df); (System.nanoTime() - t0) / 1e9
      }
      rows / median(xs)
    }
    layer("expr.similarity_rows_per_s") = rate(
      Tables.embeddings(spark, probeDir)
        .select(VectorOps.similarity("cosine")(col("embedding"), q).as("s")), 20000)
    layer("expr.shingle_rows_per_s") = rate(
      Tables.documents(spark, probeDir).select(Dedup.shingleArray(col("text")).as("sh")), 2000)
    tr.setEnabled(false)
  }

  /** Per-layer metrics from the traced ops' spans and notes: medians per
    * call, Spark work summed per op.
    */
  private def layerMetrics(h: Harness, ok: Seq[Sample], cores: Int, loopOps: Int,
      layer: LinkedHashMap[String, Double]): Unit = {
    val spans = h.tracer.spans.toSeq.filter(_.opId > 0)
    def calls(name: String) = spans.filter(_.name == name).groupBy(_.opId).values.toSeq
    def med(name: String, f: Seq[Span] => Double): Option[Double] = {
      val xs = calls(name).map(f)
      if (xs.isEmpty) None else Some(median(xs))
    }
    def phase(ss: Seq[Span], p: String) = ss.filter(_.phase == p)
    def callS(ss: Seq[Span]) = phase(ss, "call").map(_.seconds).sum
    def execS(ss: Seq[Span]) =
      if (phase(ss, "exec").nonEmpty) phase(ss, "exec").map(_.seconds).sum
      else phase(ss, "call").map(_.work.jobWallS).sum
    def w(ss: Seq[Span]) = ss.map(_.work).foldLeft(Work())(_ + _)
    def put(k: String, v: Option[Double]): Unit = v.foreach(layer(k) = _)

    for (n <- Seq("Search.topKMany", "KMeansIndex.searchMany", "KMeansIndex.searchPersisted",
        "KMeansIndex.appendPersisted", "KMeansIndex.compactPersisted",
        "InvertedIndex.appendBatch", "InvertedIndex.compact", "InvertedIndex.search",
        "Dedup.minhashLshPairs", "Dedup.ngramJaccardPairs")) {
      put(s"$n.call_s", med(n, callS))
      put(s"$n.exec_s", med(n, execS))
      put(s"$n.jobs", med(n, ss => w(ss).jobs))
      put(s"$n.task_s", med(n, ss => w(ss).taskS))
      put(s"$n.shuffle_write_bytes", med(n, ss => w(ss).shuffleWriteBytes.toDouble))
      put(s"$n.spill_bytes", med(n, ss => w(ss).spillBytes.toDouble))
      put(s"$n.input_bytes", med(n, ss => w(ss).inputBytes.toDouble))
      put(s"$n.bytes_written", med(n, ss => w(ss).outputBytes.toDouble))
      put(s"$n.max_task_share", med(n, ss =>
        if (w(ss).taskS == 0) 0.0 else w(ss).maxTaskS / w(ss).taskS))
    }
    put("KMeansIndex.compactPersisted.bytes_rewritten",
      layer.get("KMeansIndex.compactPersisted.bytes_written"))
    // the workload's own index build (a layer probe may build another)
    h.tracer.spans.find(s => s.name == "KMeansIndex.build" && s.phase == "call").foreach { b =>
      layer("KMeansIndex.build.fit_s") = b.seconds
      layer("KMeansIndex.build.jobs") = b.work.jobs
    }
    for (n <- Seq("addIGlyphsDF", "update", "delete", "search", "autoClusterPhiBatch",
        "verifyHash")) {
      val all = h.tracer.spans.filter(_.name == s"VectorFieldDB.$n")
      if (all.nonEmpty) layer(s"VectorFieldDB.$n.call_s") = median(all.map(_.seconds).toSeq)
    }
    h.notes.foreach { case (k, xs) =>
      layer(k) = if (k == "spark.caches_left" || k == "VectorFieldDB.plan_nodes") xs.max
        else median(xs.toSeq)
    }

    // Spark work per traced op of the loop: medians over ops; busy share over all
    val perOp = spans.filter(_.opId <= loopOps).groupBy(_.opId).values.toSeq
    if (perOp.nonEmpty) {
      def m(f: Seq[Span] => Double) = median(perOp.map(f))
      layer("spark.jobs") = m(ss => w(ss).jobs)
      layer("spark.eager_jobs") = m(ss => w(phase(ss, "call")).jobs)
      layer("spark.stages") = m(ss => w(ss).stages)
      layer("spark.tasks") = m(ss => w(ss).tasks)
      layer("spark.task_s") = m(ss => w(ss).taskS)
      layer("spark.shuffle_write_bytes") = m(ss => w(ss).shuffleWriteBytes.toDouble)
      layer("spark.spill_bytes") = m(ss => w(ss).spillBytes.toDouble)
      val traced = ok.filter(_.traced)
      layer("spark.core_busy_ratio") =
        perOp.map(ss => w(ss).taskS).sum / (traced.map(_.seconds).sum * cores)
    }
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
}
