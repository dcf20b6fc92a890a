package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The measuring program: one workload, one seed, one mode per process.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --pins <file>
  * perfbench.Main --smoke --work <dir> --pins <file>
  * perfbench.Main --pin-seeds <a>-<b> --workload <name> [--tiny] --work <dir> --pins <file>
  * }}}
  *
  * Prints `perfbench.context`/`perfbench.spans` lines and, last, one
  * result JSON line. Every file it writes lives under `--work`.
  */
object Main {
  final case class Conf(
      workload: String = "", seed: Long = 0L, seconds: Double = 10.0, trace: Boolean = false,
      work: Path = Paths.get("perfbench-work"), pins: Path = Paths.get("pins.tsv"),
      smoke: Boolean = false, pinSeeds: Seq[Long] = Nil, tiny: Boolean = false) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
  }

  /** Corpus sizes of the measured runs; `--tiny` is the smoke size. */
  val Vectors = 2048
  val Queries = 100

  def parse(args: Array[String]): Conf = {
    @annotation.tailrec
    def go(c: Conf, rest: List[String]): Conf = rest match {
      case "--workload" :: v :: t => go(c.copy(workload = v), t)
      case "--seed" :: v :: t => go(c.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(c.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(c.copy(trace = v == "1"), t)
      case "--work" :: v :: t => go(c.copy(work = Paths.get(v).toAbsolutePath), t)
      case "--pins" :: v :: t => go(c.copy(pins = Paths.get(v).toAbsolutePath), t)
      case "--smoke" :: t => go(c.copy(smoke = true, tiny = true), t)
      case "--tiny" :: t => go(c.copy(tiny = true), t)
      case "--pin-seeds" :: v :: t =>
        val Array(a, b) = v.split("-").map(_.toLong)
        go(c.copy(pinSeeds = a to b), t)
      case Nil => c
      case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
    }
    go(Conf(), args.toList)
  }

  def env(c: Conf, workload: String, seed: Long, pins: Pins): Env =
    new Env(seed, c.work.resolve(s"$workload-$seed"), pins,
      if (c.tiny) s"$workload@tiny" else workload,
      if (c.tiny) CorridorScale.Tiny else CorridorScale.Full,
      if (c.tiny) 768 else Vectors, if (c.tiny) 8 else Queries)

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", c.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", c.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val c = parse(args)
        Files.createDirectories(c.work)
        if (c.smoke) smoke(c)
        else if (c.pinSeeds.nonEmpty) pin(c)
        else bench(c)
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  private def emit(tag: String, m: Map[String, Any]): Unit = println(s"$tag ${Json.render(m)}")

  /** One measured run: three set-ups (JVM/session start + warm-up pass;
    * setup_s is their median), then iterations until `--seconds` pass. */
  def bench(c: Conf): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val e = env(c, c.workload, c.seed, Pins.load(c.pins))
    val w = Workload(c.workload, e)
    val g0 = System.nanoTime()
    w.prepare()
    val genS = Util.seconds(g0)

    val setups = mutable.ArrayBuffer[Double]()
    val phases = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (round <- 0 until 3) {
      val t0 = System.nanoTime()
      if (spark != null) stop(spark)
      spark = session(c)
      phases += Util.seconds(t0)
      w.warmup(spark, round)
      phases += Util.seconds(t0)
      setups += (if (round == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS
        else Util.seconds(t0))
    }
    w.ready(spark)

    val ops = new Ops
    val tracer = if (c.trace) Some(new Tracer(spark)) else None
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    val t0 = System.nanoTime()
    var it = 0
    while (it == 0 || Util.seconds(t0) < c.seconds) {
      try tracer match {
        case Some(t) => layers += Layers.derive(w.traced(spark, t, ops, it))
        case None => w.iteration(spark, ops, it)
      } catch {
        case a: OpAborted =>
          System.err.println(s"perfbench: iteration $it aborted: ${a.getMessage}")
          spark.catalog.clearCache()
      }
      it += 1
    }
    val measureS = Util.seconds(t0)

    val metrics: Seq[(String, Double, String)] =
      if (c.trace) Layers.metrics.map { case (k, u) =>
        (k, Stats.median(layers.map(_.getOrElse(k, 0.0)).toSeq), u)
      }
      else Seq(
        ("setup_s", Stats.median(setups.toSeq), "s"),
        ("build_s", Stats.median(w.buildS.toSeq), "s"),
        ("query_s", Stats.median(w.queryS.toSeq), "s"),
        ("held_mb", Stats.median(w.heldMb.toSeq), "MB"))

    emit("perfbench.context", Map(
      "workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace,
      "nproc" -> c.cores, "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "spark_version" -> spark.version, "pinned" -> e.pins.has(e.pinKey, c.seed),
      "iterations" -> it, "measure_s" -> measureS, "generate_s" -> genS,
      "setup_samples_s" -> setups, "setup_phases_s" -> phases, "build_samples_s" -> w.buildS,
      "query_samples_s" -> w.queryS, "held_samples_mb" -> w.heldMb,
      "westward_pairs_missed" -> e.westwardMissed,
      "failures" -> ops.failures.take(20)))
    if (c.trace) emit("perfbench.spans", Map("iterations" -> layers))
    tracer.foreach(_.detach())
    stop(spark)
    Util.rmrf(e.work)

    val ok = ops.failed == 0 && ops.attempted > 0 && metrics.forall(_._2 > 0 || c.trace)
    println(Json.render(Map(
      "correct" -> ok, "attempted" -> ops.attempted, "failed" -> ops.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
    0
  }

  /** Record the expected per-seed results of the program at hand. */
  def pin(c: Conf): Int = {
    val spark = session(c)
    var bad = 0
    try c.pinSeeds.foreach { seed =>
      val e = env(c, c.workload, seed, new Pins(Map.empty))
      val w = Workload(c.workload, e)
      w.prepare()
      val ops = new Ops
      try w.iteration(spark, ops, 0)
      catch { case a: OpAborted => System.err.println(a.getMessage) }
      spark.catalog.clearCache()
      Util.rmrf(e.work)
      if (ops.failed > 0) {
        bad += 1
        ops.failures.foreach(f => System.err.println(s"seed $seed: $f"))
      } else e.observed.distinct.foreach(println)
    } finally stop(spark)
    if (bad > 0) 1 else 0
  }

  /** Every workload at tiny size, untraced and traced, with every output
    * check on and one planted wrong expectation (the pinned pipeline count
    * of corridor_bundled), which must be the only cause of failed ops. */
  def smoke(c: Conf): Int = {
    val planted = ("corridor_bundled@tiny", 0L, "default")
    val pins0 = Pins.load(c.pins)
    val missing = Workload.Names.filterNot(n => pins0.has(s"$n@tiny", 0L))
    require(missing.isEmpty, s"no tiny pins for seed 0 of ${missing.mkString(", ")}")
    val pins = pins0.corrupt(planted._1, planted._2, planted._3, 0)
    val spark = session(c)
    val ops = new Ops
    val tracer = new Tracer(spark)
    val layerKeys = mutable.Set[String]()
    try Workload.Names.foreach { name =>
      val e = env(c, name, 0L, pins)
      val w = Workload(name, e)
      w.prepare()
      w.warmup(spark, 0)
      try {
        w.iteration(spark, ops, 0)
        layerKeys ++= Layers.derive(w.traced(spark, tracer, ops, 1)).keySet
      } catch { case a: OpAborted => System.err.println(a.getMessage) }
      spark.catalog.clearCache()
      Util.rmrf(e.work)
    } finally { tracer.detach(); stop(spark) }
    val unknown = layerKeys.toSeq.filter(k => !Layers.metrics.exists(_._1 == k) &&
      !k.endsWith(".tasks") && !k.endsWith(".spill_mb") && !k.endsWith(".gc_s")).sorted
    // the planted value fails corridor_bundled's two analyses (untraced,
    // traced) and nothing else may fail
    val caught = ops.failed == 2 && ops.failures.forall(_.startsWith("analyze: nPipelines"))
    ops.failures.foreach(f => System.err.println(s"failure: $f"))
    println(Json.render(Map("smoke" -> (if (caught && unknown.isEmpty) "pass" else "fail"),
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "planted_failure_caught" -> caught, "unlisted_layer_metrics" -> unknown)))
    if (caught && unknown.isEmpty) 0 else 1
  }
}
