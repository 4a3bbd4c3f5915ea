package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation of a round. */
final case class OpRecord(round: Int, op: String, seconds: Double, rows: Long,
                          traced: Boolean, ok: Boolean)

/** What a workload sees while it runs: the session, the optional tracer,
  * and the op/call wrappers that time and trace the public calls. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer], val cores: Int,
                val workDir: Path, val benchDir: Path, val seed: Long) {
  val records: mutable.ArrayBuffer[OpRecord] = mutable.ArrayBuffer.empty
  var round = 0
  var traced = false
  /** True in the set-up's warm-up round, which the checks do not read. */
  var warmup = false
  /** Times one workload operation over `rows` input rows. A failure is
    * recorded and reported, not rethrown. */
  def op[A](name: String, rows: Long)(f: => A): Option[A] = {
    val t = tracer.filter(_ => traced)
    val t0 = System.nanoTime()
    val res =
      try {
        Some(t match {
          case Some(tr) => tr.span(name, "op", name)(f)
          case None => f
        })
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op $name failed: $e")
          None
      }
    records += OpRecord(round, name, (System.nanoTime() - t0) / 1e9, rows, t.isDefined,
      res.isDefined)
    res
  }

  /** A call into one of the program's public entry points. */
  def call[A](name: String)(f: => A): A =
    tracer.filter(_ => traced) match {
      case Some(tr) => tr.span(name, "call", tr.current.map(_.op).getOrElse(""))(f)
      case None => f
    }

  /** Marks the op just recorded as failed: it ran, but its output fails
    * `check`. Only for a known fault of the program that shows on every
    * round: the failure counts in `failed`, not in `correct`. */
  def fail(op: String, check: Check): Unit = {
    val i = records.lastIndexWhere(_.op == op)
    records(i) = records(i).copy(ok = false)
    if (!failures.contains(op)) System.err.println(s"[perfbench] op $op failed ${check.name}: ${check.detail}")
    failures(op) = check
  }
  val failures: mutable.LinkedHashMap[String, Check] = mutable.LinkedHashMap.empty

  /** True in a traced round. */
  def tracing: Boolean = traced && tracer.isDefined

  /** Sets a counter on the innermost open span of a traced round; `v` is
    * not evaluated in an untraced one. */
  def counter(name: String, v: => Double): Unit =
    if (tracing) tracer.foreach(_.counter(name, v))

  def partitions: Int = cores * 4
}

/** Ops, inputs, rounds and checks of a workload, or of one part of it. */
trait Part {
  /** The ops the end-to-end metrics are taken over, in round order. */
  def ops: Seq[String]
  /** Builds the inputs and clears the outputs kept for the checks. */
  def setUp(ctx: Ctx): Unit
  def round(ctx: Ctx): Unit
  /** Full rounds the set-up runs before any timing. */
  def warmupRounds: Int = 1
  /** Output checks; runs after the timed rounds. */
  def checks(ctx: Ctx): Seq[Check]
  /** Kernel and synthesis floors plus layer counters, for the traced run. */
  def layers(ctx: Ctx, tr: Tracer): Map[String, Double]
}

trait Workload extends Part {
  def name: String
}

/** The storage and serving workload: each round runs the tile-store part,
  * then the kNN part. */
final class StoreServe extends Workload {
  val name = "store_serve"
  private val parts = Seq(new TileStore, new KnnService)
  val ops: Seq[String] = parts.flatMap(_.ops)
  def setUp(ctx: Ctx): Unit = parts.foreach(_.setUp(ctx))
  def round(ctx: Ctx): Unit = parts.foreach(_.round(ctx))
  def checks(ctx: Ctx): Seq[Check] = parts.flatMap(_.checks(ctx))
  def layers(ctx: Ctx, tr: Tracer): Map[String, Double] = parts.map(_.layers(ctx, tr)).reduce(_ ++ _)
}

object Main {

  def usage(): Nothing = {
    System.err.println("usage: Main --workload <geotag|store_serve> --seed <n> " +
      "--seconds <s> --trace <0|1> --work-dir <dir> --bench-dir <dir>")
    sys.exit(2)
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def session(cores: Int, workDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.spark.H3Functions.register(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wlName = kv.getOrElse("workload", usage())
    val seed = kv.get("seed").flatMap(_.toLongOption).getOrElse(usage())
    val seconds = kv.get("seconds").flatMap(_.toDoubleOption).getOrElse(usage())
    val trace = kv.get("trace").contains("1")
    val workDir = Paths.get(kv.getOrElse("work-dir", usage())).toAbsolutePath
    val benchDir = Paths.get(kv.getOrElse("bench-dir", usage())).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val wl: Workload = wlName match {
      case "geotag" => new GeoTag
      case "store_serve" => new StoreServe
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }

    // Set-up: JVM start, session start, function registration, inputs and
    // full-size warm-up rounds, so the JIT, the codegen caches and the
    // program's lazy state are warm before any timing. setup_s is the JVM's
    // uptime when it ends.
    val spark = session(cores, workDir)
    System.err.println(f"[perfbench] session up at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    val warm = new Ctx(spark, None, cores, workDir, benchDir, seed)
    warm.warmup = true
    def runRound(c: Ctx, r: Int, label: String): Unit = {
      c.round = r
      val before = c.records.length
      wl.round(c)
      System.err.println(s"[perfbench] $label $r: " + c.records.drop(before)
        .map(x => f"${x.op} ${x.seconds}%.3f").mkString(", "))
    }
    wl.setUp(warm)
    (0 until wl.warmupRounds).foreach(runRound(warm, _, "warm-up round"))
    if (warm.records.exists(r => !r.ok && !warm.failures.contains(r.op)))
      throw new IllegalStateException("an op failed in the warm-up")
    wl.setUp(warm)
    val setupS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val tracer = if (trace) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    val ctx = new Ctx(spark, tracer, cores, workDir, benchDir, seed)

    // Timed rounds: whole rounds only, started while time remains. In a
    // traced run every second round is traced, so the untraced rounds of
    // the same run give the tracing overhead.
    val t0 = System.nanoTime()
    var r = 0
    // A traced run needs an untraced round beside a traced one.
    val minRounds = if (trace) 2 else 1
    while (r < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      ctx.traced = trace && r % 2 == 1
      runRound(ctx, r, "round")
      r += 1
    }
    val recs = ctx.records.toSeq
    val attempted = recs.length
    val failed = recs.count(!_.ok)

    val t1 = System.nanoTime()
    val checks = wl.checks(ctx)
    val correct = checks.forall(_.ok)
    System.err.println(f"[perfbench] set-up $setupS%.1f s, timed ${(t1 - t0) / 1e9}%.1f s, " +
      f"checks ${(System.nanoTime() - t1) / 1e9}%.1f s")

    val okRecs = recs.filter(_.ok)
    def opMedian(op: String, traced: Boolean) =
      median(okRecs.filter(x => x.op == op && x.traced == traced).map(_.seconds))
    def roundTimes(traced: Boolean) =
      okRecs.filter(x => x.traced == traced && wl.ops.contains(x.op))
        .groupBy(_.round).values.map(_.map(_.seconds).sum).toSeq
    def geomean(traced: Boolean) =
      math.exp(wl.ops.map(o => math.log(opMedian(o, traced))).sum / wl.ops.length)

    println(s"workload ${wl.name} seed $seed cores $cores rounds $r")
    wl.ops.foreach { o =>
      val xs = okRecs.filter(x => x.op == o && !x.traced)
      val rows = xs.headOption.map(_.rows).getOrElse(0L)
      println(f"  op $o%-12s n=${xs.length}%3d p50=${opMedian(o, false)}%.4f s rows=$rows%d" +
        f" (${rows / opMedian(o, false)}%.0f rows/s)")
    }
    checks.foreach(c => println(s"  check ${c.name}: ${if (c.ok) "PASS" else "FAIL"} (${c.detail})"))
    ctx.failures.foreach { case (o, c) =>
      println(s"  check ${c.name}: FAIL (${c.detail}); a known fault of the program: each of the " +
        s"${recs.count(x => x.op == o && !x.ok)} $o ops counts in failed, not in correct") }
    println(s"  attempted $attempted failed $failed")

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None =>
        Seq(("round_s", median(roundTimes(false)), "s"),
          ("op_geomean_s", geomean(false), "s"),
          ("setup_s", setupS, "s"))
      case Some(tr) =>
        tr.barrier(spark)
        val layer = Layers.all(wl, ctx, tr)
        val overhead = median(roundTimes(true)) / median(roundTimes(false))
        val extra = s""""workload":"${wl.name}","seed":$seed,"cores":$cores,""" +
          s""""round_s_untraced":${median(roundTimes(false))},"round_s_traced":${median(roundTimes(true))},""" +
          s""""tracing_overhead_ratio":$overhead,""" +
          "\"layers\":{" + layer.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",") + "}"
        val out = workDir.resolve("traces").resolve(s"${wl.name}-seed$seed.json")
        tr.write(out, extra)
        println(s"  trace: ${out.getFileName} (${tr.spans.length} spans), tracing overhead " +
          f"${(overhead - 1) * 100}%.1f%% of round_s")
        Layers.Names.map { case (n, unit) => (n, layer.getOrElse(n, 0.0), unit) } ++
          Seq(("trace.overhead_ratio", overhead, "ratio"))
    }
    metrics.filter(_._2 != 0).foreach { case (n, v, u) => println(f"  metric $n%-40s $v%.6g $u") }
    spark.stop()

    val m = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s"""${Json.str(n)}:{"value":$num,"unit":${Json.str(u)}}"""
    }.mkString(",")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$m}}""")
    sys.exit(0)
  }
}
