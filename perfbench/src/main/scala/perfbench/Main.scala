package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.engine.{GraftEngine, GraftSession, Tables}

/** Everything a pass needs. `tr` is on only in traced passes. */
final class Ctx(val spark: SparkSession, val engine: GraftEngine, val tr: Tracer,
                val work: String, val seed: Long) {
  val streams = new StreamListener

  /** Times `body` and records it as one span of `layer`. */
  def call[T](layer: String, name: String)(body: => T): T = tr.span(layer, name)(body)

  def dir(rel: String): String = s"$work/$rel"
}

/** What one pass of a workload did. `ops` are the latencies of its unit
  * operations, `reads` those of its serving reads, `stages` the seconds of
  * its named stages; `layer` holds the per-layer values of the pass. */
final class PassOut {
  val ops = mutable.ArrayBuffer[Double]()
  val reads = mutable.ArrayBuffer[Double]()
  var items = 0L
  /** Digest of the pass outputs, evaluated after the pass is timed. */
  var digestOf: () => String = () => ""
  val stages = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.LinkedHashMap[String, Any]()
  /** Output checks of the warm-up pass; run after set-up is timed. */
  var verify: () => Unit = () => ()

  def stage(name: String, secs: Double): Unit =
    stages(name) = stages.getOrElse(name, 0.0) + secs
}

trait Workload {
  /** Warm-up passes, part of set-up. */
  def warmups: Int
  def pass(ctx: Ctx, i: Int, check: Boolean): PassOut
}

object Main {

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val trace = arg(args, "--trace").contains("1")
    val data = arg(args, "--data").getOrElse(sys.error("--data required"))
    val work = arg(args, "--work").getOrElse(sys.error("--work required"))
    val out = arg(args, "--out").getOrElse(sys.error("--out required"))

    val w: Workload = workload match {
      case "curate" => Curate
      case "index_ingest" => Ingest
      case other => sys.error(s"unknown workload $other")
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val root = GraftSession.local(Runtime.getRuntime.availableProcessors, "perfbench")
    val sc = root.sparkContext
    val bootS = (System.currentTimeMillis() - jvmStart) / 1e3

    // Setup, repeated: a fresh session, the table registration, the data
    // checksum. The last session is the one measured.
    val manifest = Files.readAllLines(Paths.get(s"$data/manifest.tsv")).asScala.toSeq
      .map(_.split('\t')).map(a => a(0) -> a(1))
    val setups = (1 to 3).map { _ =>
      val t = System.nanoTime()
      val s = root.newSession()
      Tables.register(s, data)
      verifyChecksums(data, manifest)
      val e = new GraftEngine(s)
      ((System.nanoTime() - t) / 1e9, s, e)
    }
    val (_, spark, engine) = setups.last
    val tracer = new Tracer(sc)
    val ctx = new Ctx(spark, engine, tracer, work, seed)
    spark.streams.addListener(ctx.streams)

    // Warm-up: the first pass also leaves the output-check artifacts, which
    // are checked (untimed) before a further warm-up pass overwrites them.
    def timedPass(check: Boolean): (PassOut, Double) = {
      val t = System.nanoTime()
      val p = w.pass(ctx, -1, check)
      (p, (System.nanoTime() - t) / 1e9)
    }
    val (warm, warm0S) = timedPass(check = true)
    val warmDigest = warm.digestOf()
    val tv = System.nanoTime()
    warm.verify()
    val verifyS = (System.nanoTime() - tv) / 1e9
    val warmS = warm0S +: (2 to w.warmups).map(_ => timedPass(check = false)._2)
    val setupS = bootS + warmS.sum + median(setups.map(_._1))

    val probeBefore = probe(spark)
    val exec = new ExecListener
    val plans = new PlanListener
    val passes = mutable.ArrayBuffer[(PassOut, Double, Boolean)]()
    val layerTotals = mutable.LinkedHashMap[String, Double]()
    val t0 = System.nanoTime()
    var i = 0
    // closed loop over a fixed number of whole passes, so every run of a
    // workload measures the same work: one pass. A traced run puts its
    // traced pass between two untraced ones, so the tracing overhead is not
    // confounded with the warming of later passes.
    val planned = if (trace) 3 else 1
    while (i < planned) {
      val traced = trace && i % 2 == 1
      if (traced) {
        PerfbenchBus.drain(sc)
        sc.addSparkListener(exec)
        spark.listenerManager.register(plans)
      }
      val jobs0 = exec.jobs.size
      val plan0 = plans.totals
      val trig0 = ctx.streams.snapshot.size
      val gc0 = gcMs
      tracer.spans.clear()
      val ps = System.nanoTime()
      val p = withTrace(ctx, traced)(w.pass(ctx, i, check = false))
      val wall = (System.nanoTime() - ps) / 1e9
      if (traced) {
        PerfbenchBus.drain(sc)
        Layers.collect(p, wall, tracer, exec.jobs.values.drop(jobs0).toSeq,
          plans.totals.minus(plan0), ctx.streams.snapshot.drop(trig0), gcMs - gc0,
          sc.defaultParallelism, sc)
        sc.removeSparkListener(exec)
        spark.listenerManager.unregister(plans)
        p.layer.foreach { case (k, v) => layerTotals(k) = layerTotals.getOrElse(k, 0.0) + v }
      }
      // every pass rewrites the same outputs; the last one is compared
      if (i == planned - 1) {
        val digest = p.digestOf()
        if (digest != warmDigest)
          sys.error(s"pass $i digest $digest differs from the warm-up pass $warmDigest")
      }
      passes += ((p, wall, traced))
      i += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val probeAfter = probe(spark)

    // retained heap: what the heap pools hold right after a full GC
    PerfbenchBus.drain(sc)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

    val plain = passes.filterNot(_._3)
    val traced = passes.filter(_._3)
    val ops = plain.flatMap(_._1.ops).toSeq
    val reads = plain.flatMap(_._1.reads).toSeq
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("wall_s") = (median(plain.map(_._2).toSeq), "s")
      metrics("items_per_s") = (median(plain.map(p => p._1.items / p._2).toSeq), "1/s")
      metrics("op_p50_s") = (pct(ops, 0.5), "s")
      metrics("read_p50_s") = (pct(reads, 0.5), "s")
      metrics("heap_retained_mb") = (heapMb, "MB")
    } else {
      val n = traced.size.toDouble
      Layers.declared.foreach { case (name, unit, _) =>
        metrics(name) = (layerTotals.getOrElse(name, 0.0) / n, unit)
      }
      // quality-of-result ratios come from the checked warm-up pass
      Seq("ops.lsh_pair_yield", "ops.ann_recall_at10", "store.fsck_findings").foreach { k =>
        warm.checks.get(k).foreach(v => metrics(k) = (v.asInstanceOf[Double], metrics(k)._2))
      }
      val overhead = median(traced.map(_._2).toSeq) / median(plain.map(_._2).toSeq) - 1.0
      metrics("trace.overhead_frac") = (overhead, "frac")
    }

    val record = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "passes" -> passes.size, "loop_s" -> loopS,
      "boot_s" -> bootS, "warmup_s" -> warmS, "verify_s" -> verifyS, "session_setups_s" -> setups.map(_._1),
      "pass_walls_s" -> passes.map(_._2).toSeq,
      "pass_traced" -> passes.map(_._3).toSeq,
      "ops_n" -> ops.size, "reads_n" -> reads.size, "ops_s" -> ops, "reads_s" -> reads,
      "op_tail" -> tail(ops), "read_tail" -> tail(reads),
      "probe_before_s" -> probeBefore, "probe_after_s" -> probeAfter,
      "probe_ratio" -> probeAfter / probeBefore,
      "digest" -> warmDigest,
      "checks" -> Json.obj(warm.checks.toSeq),
      "stages_s" -> Json.obj(plain.flatMap(_._1.stages.toSeq).groupBy(_._1)
        .map { case (k, v) => k -> median(v.map(_._2).toSeq) }.toSeq.sortBy(_._1)),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> v, "unit" -> u)) })))
    Files.writeString(Paths.get(out), record.s)
    root.stop()
  }

  private def withTrace[T](ctx: Ctx, on: Boolean)(body: => T): T = {
    ctx.tr.enabled = on
    try body finally ctx.tr.enabled = false
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Fixed read-only query, median of three, run before and after the
    * measured loop; its ratio tells contention from regression. */
  private def probe(spark: SparkSession): Double = median((1 to 3).map { _ =>
    val t = System.nanoTime()
    spark.sql("SELECT COUNT(*), SUM(l_quantity), MAX(l_shipdate) FROM lineitem").collect()
    (System.nanoTime() - t) / 1e9
  })

  private def verifyChecksums(data: String, manifest: Seq[(String, String)]): Unit =
    manifest.foreach { case (file, want) =>
      val crc = new java.util.zip.CRC32
      val in = new java.io.BufferedInputStream(new java.io.FileInputStream(new File(data, file)), 1 << 16)
      try {
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n > 0) { crc.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      if (crc.getValue.toString != want)
        sys.error(s"checksum mismatch for $file: ${crc.getValue} != $want")
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, with its
    * sample count; null when there are too few samples for any. */
  private def tail(xs: Seq[Double]): Any =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(p => xs.size * (1 - p) >= 10)
      .map(p => Json.obj(Seq("pct" -> p, "n" -> xs.size, "value_s" -> pct(xs, p)))).orNull

  /** Linear-interpolated percentile (the numpy default). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
}
