package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

final case class Metric(value: Double, unit: String)

/** What one workload run shares with its workload: the session, the
  * seed, where it may write, and — in the traced run — the listener
  * and the per-op phase timers.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int,
    val work: Path, val smoke: Boolean, val listener: Option[PhaseListener]) {
  def traced: Boolean = listener.isDefined

  /** Wall seconds per (op, phase), filled by [[phase]]. */
  val phaseWall = mutable.Map.empty[(Int, String), Double]
  val groups = mutable.Map.empty[Int, mutable.LinkedHashSet[String]]

  def tag(op: Int, phase: String): Unit = if (traced) {
    val g = s"op$op/$phase"
    groups.getOrElseUpdate(op, mutable.LinkedHashSet.empty) += g
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
  }

  /** Run `f` as phase `name` of op `op`: in the traced run its jobs are
    * tagged with the phase and its wall time is kept.
    */
  def phase[T](op: Int, name: String)(f: => T): T = {
    tag(op, name)
    val t0 = System.nanoTime()
    try f
    finally {
      phaseWall((op, name)) = phaseWall.getOrElse((op, name), 0.0) + (System.nanoTime() - t0) / 1e9
      tag(op, "main")
    }
  }

  /** Wait until the listener has every task event of op `op`. */
  def settle(op: Int): Unit = listener.foreach { l =>
    groups.getOrElse(op, Nil).foreach(l.await(spark.sparkContext, _))
  }

  /** Median over `ops` of the wall seconds of phase `name`. */
  def phaseMedian(ops: Seq[Int], name: String): Double =
    Stats.median(ops.map(o => phaseWall.getOrElse((o, name), 0.0)))

  /** Median over `ops` of a counter taken from phase `name`'s tasks. */
  def phaseCounter(ops: Seq[Int], name: String)(f: PhaseStats => Double): Double =
    Stats.median(ops.map(o => f(listener.get.sum(o, Some(name)))))
}

/** One timed operation's outcome. */
final case class Op(index: Int, wallS: Double, ok: Boolean)

/** A benchmark workload. A round is `roundSize` operations; runs only
  * ever attempt whole rounds, so every run fails the same share of its
  * operations.
  */
trait Workload {
  type Out
  def roundSize: Int
  /** Whole rounds run before timing starts, to let JIT and caches settle. */
  def warmupRounds: Int
  /** Drop the inputs of an earlier [[prepare]], outside any timer. */
  def discardInputs(): Unit
  /** Build and cache the inputs (timed as set-up). */
  def prepare(): Unit
  /** Operation `j` of a round, numbered `op` in this run. */
  def run(op: Int, j: Int): Out
  /** Check an output against the benchmark's own reference; throw if wrong. */
  def check(op: Int, j: Int, out: Out): Unit
  /** Free what an output holds (stores, caches), outside any timer. */
  def release(out: Out): Unit
  /** Workload-specific end-to-end metrics over the timed ops. */
  def endToEnd(ops: Seq[Op]): Map[String, Metric]
  /** Layer metrics of the traced run; names not given read 0. */
  def layers(ops: Seq[Op]): Map[String, Double]
  /** The make-up of the inputs, for the traced run's record. */
  def describe: Seq[(String, String)]
}

object Main {

  /** The per-layer metrics every traced run reports, with their units. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "session.start_s" -> "s", "session.input_s" -> "s", "session.warmup_s" -> "s",
    "meta.open_ms" -> "ms",
    "zarr.compress_MBps" -> "MB/s", "zarr.decompress_MBps" -> "MB/s", "zarr.ratio" -> "ratio",
    "zarr.files_written" -> "count", "zarr.put_ms" -> "ms", "zarr.shard_build_ms" -> "ms",
    "zarr.get_ms" -> "ms",
    "operators.downsample_s" -> "s", "operators.downsample_cpu_s" -> "s",
    "operators.downsample_shuffle_MB" -> "MB", "operators.levels" -> "count",
    "operators.write_s" -> "s", "operators.write_cpu_s" -> "s", "operators.write_shuffle_MB" -> "MB",
    "sources.plan_ms" -> "ms", "sources.partitions_per_read" -> "count",
    "sources.decoded_MB_per_read" -> "MB", "sources.useful_chunk_ratio" -> "ratio",
    "ops.minhash_s" -> "s", "ops.minhash_cpu_s" -> "s", "ops.cc_s" -> "s",
    "ops.lsh_candidates" -> "count", "ops.pairs_verified" -> "count",
    "ops.candidate_yield" -> "ratio", "ops.salted_armed" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.idle_core_s" -> "s", "spark.result_MB" -> "MB",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_MB" -> "MB", "spark.shuffle_write_records" -> "count",
    "spark.shuffle_read_MB" -> "MB", "spark.spill_MB" -> "MB",
    "spark.task_p50_ms" -> "ms", "spark.task_max_ms" -> "ms")

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = cpuBean.getProcessCpuTime / 1e9
  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  }

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMB(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble * 1024 / 1e6
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        // Spark's non-daemon threads would keep a failed JVM alive
        Runtime.getRuntime.halt(1)
    }

  private def run(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work required"))).toAbsolutePath
    val results = Paths.get(arg(args, "--results").getOrElse(work.toString)).toAbsolutePath
    val smoke = args.contains("--smoke")
    val inputReps = if (smoke) 1 else 3

    Files.createDirectories(work)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config(graft.zarr.SparkSessions.tunedLocalFs._1, graft.zarr.SparkSessions.tunedLocalFs._2)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.speculation", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val startS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val listener = if (traced) Some(new PhaseListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, seed, cores, work, smoke, listener)
    val w: Workload = workload match {
      case "pyramid_write" => new PyramidWrite(ctx)
      case "region_read" => new RegionRead(ctx)
      case "text_dedup" => new TextDedupWorkload(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }

    // set-up: inputs built `inputReps` times (median kept), then warm-up
    // rounds whose outputs are checked but not timed as operations
    val inputTimes = (0 until inputReps).map { r =>
      w.discardInputs()
      ctx.tag(-1, s"input$r")
      val t0 = System.nanoTime()
      w.prepare()
      (System.nanoTime() - t0) / 1e9
    }
    var correct = true
    var warmupS = 0.0
    var nextOp = -1000
    for (_ <- 0 until (if (smoke) 1 else w.warmupRounds); j <- 0 until w.roundSize) {
      val op = nextOp; nextOp += 1
      ctx.tag(op, "main")
      val t0 = System.nanoTime()
      val out = w.run(op, j)
      warmupS += (System.nanoTime() - t0) / 1e9
      try w.check(op, j, out)
      catch { case e: Throwable => correct = false; System.err.println(s"warm-up check failed: $e") }
      w.release(out)
    }
    val inputS = Stats.median(inputTimes)
    System.err.println(s"perfbench: start $startS s, inputs ${inputTimes.mkString(" ")} s, warm-up $warmupS s")
    val setupS = startS + inputS + warmupS

    // timed window: whole rounds until `seconds` have passed
    val ops = mutable.ArrayBuffer.empty[Op]
    val roundCpu = mutable.ArrayBuffer.empty[Double]
    val t0Window = System.nanoTime()
    var op = 0
    while (ops.isEmpty || (System.nanoTime() - t0Window) / 1e9 < seconds) {
      var cpuRound = 0.0
      for (j <- 0 until w.roundSize) {
        ctx.tag(op, "main")
        val c0 = processCpuS()
        val g0 = gcS()
        val t0 = System.nanoTime()
        val res = scala.util.Try(w.run(op, j))
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = processCpuS() - c0
        cpuRound += cpu
        val ok = res.map { out =>
          try { w.check(op, j, out); true }
          catch { case e: Throwable => System.err.println(s"op $op check failed: $e"); false }
          finally w.release(out)
        }.recover { case e: Throwable => System.err.println(s"op $op failed: $e"); false }.get
        ctx.settle(op)
        System.err.println(f"perfbench: op $op%d wall $wall%.4f s cpu $cpu%.3f s gc ${gcS() - g0}%.3f s ok $ok")
        ops += Op(op, wall, ok)
        op += 1
      }
      // process CPU time ticks at 10 ms; per round it resolves reads too
      roundCpu += cpuRound / w.roundSize
    }
    val good = ops.filter(_.ok).toSeq
    val timed = if (good.nonEmpty) good else ops.toSeq

    val e2e: Map[String, Metric] = Map(
      "setup_s" -> Metric(setupS, "s"),
      "op_cpu_s" -> Metric(Stats.median(roundCpu.toSeq), "s"),
    ) ++ w.endToEnd(timed) + ("peak_rss_MB" -> Metric(peakRssMB(), "MB"))

    val metrics: Map[String, Metric] = listener match {
      case None => e2e
      case Some(l) =>
        val per = timed.map(o => (o, l.sum(o.index)))
        def med(f: ((Op, PhaseStats)) => Double) = Stats.median(per.map(f))
        val sparkLayer = Map(
          "spark.jobs" -> med(_._2.jobs.toDouble),
          "spark.stages" -> med(_._2.stages.toDouble),
          "spark.tasks" -> med(_._2.tasks.toDouble),
          "spark.idle_core_s" -> med { case (o, s) => cores * o.wallS - s.executorRunMs / 1e3 },
          "spark.result_MB" -> med(_._2.resultBytes / 1e6),
          "spark.executor_cpu_s" -> med(_._2.executorCpuNs / 1e9),
          "spark.executor_run_s" -> med(_._2.executorRunMs / 1e3),
          "spark.gc_s" -> med(_._2.gcMs / 1e3),
          "spark.shuffle_write_MB" -> med(_._2.shuffleWriteBytes / 1e6),
          "spark.shuffle_write_records" -> med(_._2.shuffleWriteRecords.toDouble),
          "spark.shuffle_read_MB" -> med(_._2.shuffleReadBytes / 1e6),
          "spark.spill_MB" -> med(_._2.spillBytes / 1e6),
          "spark.task_p50_ms" -> med { case (_, s) =>
            if (s.taskMs.isEmpty) 0.0 else Stats.median(s.taskMs.map(_.toDouble).toSeq) },
          "spark.task_max_ms" -> med { case (_, s) =>
            if (s.taskMs.isEmpty) 0.0 else s.taskMs.max.toDouble })
        val session = Map("session.start_s" -> startS, "session.input_s" -> inputS,
          "session.warmup_s" -> warmupS)
        val all = session ++ sparkLayer ++ w.layers(timed)
        val unknown = all.keySet -- LayerUnits.map(_._1)
        require(unknown.isEmpty, s"layer metrics without a unit: $unknown")
        writeTraceFile(results, workload, seed, all, e2e, w.describe)
        LayerUnits.map { case (name, unit) => name -> Metric(all.getOrElse(name, 0.0), unit) }.toMap
    }

    val failed = ops.count(!_.ok)
    val line = Json.obj(Seq(
      "correct" -> Json.bool(correct),
      "attempted" -> ops.length.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
      })))
    if (!traced) {
      Files.createDirectories(results)
      Files.write(results.resolve(s"$workload.e2e.json"), line.getBytes(StandardCharsets.UTF_8))
    }
    println(line)
    System.out.flush()
    // everything is written; skip Spark's orderly shutdown (the caller
    // removes the scratch directory) so runs spend their time measuring
    Runtime.getRuntime.halt(0)
  }

  /** The traced run's record: every layer metric, this run's own
    * end-to-end metrics, and their overhead against the last untraced
    * run of the workload in the same results directory.
    */
  private def writeTraceFile(results: Path, workload: String, seed: Long,
      layers: Map[String, Double], e2e: Map[String, Metric], inputs: Seq[(String, String)]): Unit = {
    Files.createDirectories(results)
    val untracedFile = results.resolve(s"$workload.e2e.json")
    val untraced: Map[String, Double] =
      if (!Files.exists(untracedFile)) Map.empty
      else {
        val n = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(untracedFile.toFile).path("metrics")
        e2e.keys.flatMap(k => Option(n.get(k)).map(v => k -> v.path("value").asDouble())).toMap
      }
    val overhead = untraced.collect { case (k, v) if v != 0 => k -> (e2e(k).value / v - 1) }
    val doc = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "inputs" -> Json.obj(inputs.map { case (k, v) => k -> Json.str(v) }),
      "per_layer" -> Json.obj(LayerUnits.map { case (n, u) =>
        n -> Json.obj(Seq("value" -> Json.num(layers.getOrElse(n, 0.0)), "unit" -> Json.str(u))) }),
      "traced_end_to_end" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, m) => k -> Json.num(m.value) }),
      "untraced_end_to_end" -> Json.obj(untraced.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "tracing_overhead" -> Json.obj(overhead.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.write(results.resolve(s"$workload.trace.json"), doc.getBytes(StandardCharsets.UTF_8))
  }
}

/** Just enough JSON writing for flat metric records. */
object Json {
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) sys.error(s"metric value $d is not a number") else d.toString
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
}
