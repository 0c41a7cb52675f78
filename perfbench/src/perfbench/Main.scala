package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM:
  *
  *   session → setup (inputs from the seed, published) → warmup →
  *   untraced timed phase [→ traced timed phase → untraced half phase]
  *
  * and one result line, `PERFBENCH {json}`, with the raw per-class
  * latencies, the counts and the per-layer figures. `perfbench/run.py`
  * turns it into the benchmark's metrics. `--workload train` is the
  * build's training run instead.
  *
  * `curate_corpus` is not one of the timed workloads in BENCHMARK.json
  * (three workloads' runs do not fit the comparison's time budget at a
  * steady run length); its layers are traced at the end of
  * catalog_report's traced run instead ([[TracedAlso]]).
  *
  * Arguments (all required): --workload --seed --seconds --trace 0|1
  * --session FILE --dir WORKDIR --cores N --plant 0|1. */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "dropbox_ingest" -> Dropbox,
    "catalog_report" -> CatalogReport,
    "curate_corpus" -> CurateCorpus)

  /** Workloads whose layers a workload's traced run also measures. */
  val TracedAlso: Map[String, Workload] = Map("catalog_report" -> CurateCorpus)

  /** Training run of the build: every workload's setup and first
    * operations, untimed, so the class data archive holds every class a
    * run loads. */
  def train(a: Map[String, String]): Unit = {
    val spark = Session.build(a("session"), a("cores").toInt, a("dir"))
    Seq(Dropbox -> 3, CatalogReport -> CatalogReport.Block.size, CurateCorpus -> 1)
      .foreach { case (w, steps) =>
        val ctx = new Ctx(spark, 0L, 0.0, s"${a("dir")}/${w.getClass.getSimpleName}", false,
          a("cores").toInt)
        w.setup(ctx)
        (0 until steps).foreach(w.step(ctx, _))
        require(ctx.problems.isEmpty, ctx.problems.mkString("; "))
      }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a("workload") == "train") return train(a)
    val w = Workloads.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}"))
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = Session.build(a("session"), cores, a("dir"))
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toDouble, a("dir"),
      a("plant") == "1", cores)
    val t0 = System.nanoTime()
    w.setup(ctx)
    val dataS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    w.warm(ctx)
    val warmS = (System.nanoTime() - t1) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val jit0 = jitSeconds()
    val (next, wall) = ctx.loop(0, w)
    val jitS = jitSeconds() - jit0
    val units = ctx.units
    val heapMb = liveHeapMb()

    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> ctx.seed, "cores" -> cores,
      "setup_s" -> setupS, "session_s" -> sessionS, "data_s" -> dataS,
      "warm_s" -> warmS, "warm_capped" -> ctx.warmCapped, "timed_s" -> wall, "units" -> units,
      "live_heap_mb" -> heapMb, "jit_s" -> jitS)

    if (traced) {
      // untraced, traced, untraced again: the tracing overhead is the
      // traced throughput against the mean of the two untraced phases
      // around it, so a JIT still warming up does not pass for overhead
      val tr = ctx.trace
      tr.start()
      val gc0 = gcSeconds()
      val (next2, wall2) = ctx.loop(next, w)
      val gcS = gcSeconds() - gc0
      tr.drain()
      tr.stop()
      val tracedUnits = ctx.units - units
      val (_, wall3) = ctx.loop(next2, w, ctx.seconds / 2)
      val after = (ctx.units - units - tracedUnits) / wall3
      out("layers") = Layers.common(ctx, wall2, gcS,
        (tracedUnits / wall2) / ((units / wall + after) / 2)) ++ w.layerMetrics(ctx) ++
        TracedAlso.get(a("workload")).map(traceAlso(ctx, _)).getOrElse(Map.empty) ++
        Layers.persistedEnd(ctx)
    }
    out("samples") = ctx.samples.map { case (k, v) => k -> v.toSeq }
    out("attempted") = ctx.attempted
    out("failed") = ctx.failed
    out("warm_failures") = ctx.warmFailures
    out("problems") = ctx.problems.toSeq
    println("PERFBENCH " + Json(out))
    spark.stop()
  }

  /** Another workload's layer metrics, traced in this run: its setup,
    * one untimed operation to warm it, then a traced closed loop for half
    * the phase length. Its operations are checked and counted with the
    * run's own. */
  def traceAlso(ctx: Ctx, w: Workload): Map[String, (Double, String)] = {
    val c = new Ctx(ctx.spark, ctx.seed, ctx.seconds / 2, s"${ctx.dir}/also", false, ctx.cores)
    w.setup(c)
    w.step(c, 0)
    c.trace.start()
    c.loop(1, w)
    c.trace.drain()
    c.trace.stop()
    ctx.attempted += c.attempted
    ctx.failed += c.failed
    ctx.warmFailures += c.warmFailures
    ctx.problems ++= c.problems
    w.layerMetrics(c)
  }

  /** JIT compiler time so far (all compiler threads). */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** Heap in use after full collections, once the ContextCleaner has had
    * the chance to drop the blocks of unreferenced RDDs and broadcasts. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Per-layer figures every workload reports, from the traced phase. */
object Layers {
  def common(ctx: Ctx, wall: Double, gcS: Double,
             throughputRatio: Double): Map[String, (Double, String)] = {
    val tr = ctx.trace
    val ops = tr.spans.filter(_.parent < 0)
    val opIds = ops.map(_.op).toSet
    val n = math.max(ops.size, 1).toDouble
    val js = tr.jobsOfOps(opIds)
    val all = tr.totals(tr.jobs.toSeq)
    val mine = tr.totals(js)
    Map(
      "spark.plan_s" -> (tr.planSecondsOfOps(opIds) / n, "s"),
      "spark.exec_s" -> (js.map(j => (j.endMs - j.startMs) / 1000.0).sum / n, "s"),
      "spark.jobs_per_op" -> (js.size / n, "count"),
      "spark.tasks_per_op" -> (mine.tasks / n, "count"),
      "spark.shuffle_bytes_per_op" -> (mine.shuffleWriteBytes / n, "bytes"),
      "spark.spill_bytes" -> (all.spill.toDouble, "bytes"),
      "spark.cpu_busy_ratio" -> (all.cpuNs / 1e9 / (wall * ctx.cores), "ratio"),
      "jvm.gc_s" -> (gcS, "s"),
      "trace.throughput_ratio" -> (throughputRatio, "ratio"))
  }

  def persistedEnd(ctx: Ctx): Map[String, (Double, String)] = {
    Main.liveHeapMb()
    Map("core.persisted_rdds_end" ->
      (ctx.spark.sparkContext.getPersistentRDDs.size.toDouble, "count"))
  }

  /** Mean of `xs`, 0 when there are none (the layer did no work). */
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}
