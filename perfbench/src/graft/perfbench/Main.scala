package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of the graft benchmark (see `perfbench/run.py`, which builds
  * the classes and launches this main).
  *
  *   graft.perfbench.Main --workload W --seed S --seconds T --trace 0|1
  *       --out DIR [--param key=value]...
  *
  * Every workload runs set-up, a timed region of about `T` seconds, then
  * its output checks. With `--trace 1` the timed region is run three
  * times — plain, under the [[Recorder]], plain again — and the per-layer
  * metrics come from the traced pass; the tracing overhead compares it
  * with the mean of the two plain passes around it. The full
  * record and the span trace go to files under `--out`; the LAST stdout
  * line is one compact JSON object (`correct`, `attempted`, `failed`,
  * `metrics`) so it survives any tail-capturing wrapper.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, out: Path, params: Map[String, String]) {
    def int(k: String): Int = param(k).toInt
    def dbl(k: String): Double = param(k).toDouble
    def str(k: String): String = param(k)
    private def param(k: String): String =
      params.getOrElse(k, sys.error(s"missing --param $k for workload $workload"))
  }

  def parse(argv: Array[String]): Args = {
    val it = argv.iterator
    var kv = Map.empty[String, String]
    var params = Map.empty[String, String]
    while (it.hasNext) {
      val k = it.next()
      require(k.startsWith("--") && it.hasNext, s"bad argument $k")
      val v = it.next()
      if (k == "--param") {
        val i = v.indexOf('=')
        require(i > 0, s"bad --param $v")
        params += v.take(i) -> v.drop(i + 1)
      } else kv += k.drop(2) -> v
    }
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", Paths.get(kv("out")), params)
  }

  /** What a timed region produced: the latency and throughput figures
    * every workload reports under the shared end-to-end names, the
    * workload's own named metrics (with units), and counts of checked
    * operations.
    */
  final case class Measured(
      p50Ms: Double, tailMs: Double, tailQ: Double, tailN: Int,
      ratePerS: Double,
      named: Seq[(String, Double, String)],
      attempted: Long, failed: Long,
      layers: Map[String, Double] = Map.empty)

  trait Workload {
    /** Everything before the timed region. */
    def setup(): Unit
    /** The timed region (`seconds` long); `rec` is set on a traced pass. */
    def measure(rec: Option[Recorder]): Measured
    /** Output checks after the timed region: (attempted, failed). */
    def check(): (Long, Long)
    def close(): Unit
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parse(argv)
    val cpus = args.int("cpus")
    val work = args.out.resolve(s"work-${args.workload}-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val spark = session(cpus, work)
    val wl: Workload = args.workload match {
      case "daemon_ingest" => new DaemonIngest(spark, args, work)
      case "daemon_query" => new DaemonQuery(spark, args, work)
      case "operator_suite" => new OperatorSuite(spark, args, work)
      case w => sys.error(s"unknown workload $w")
    }
    var exit = 0
    try {
      wl.setup()
      Log.info("setup done")
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val plain = wl.measure(None)
      val traced =
        if (!args.trace) None
        else {
          val rec = new Recorder(spark, cpus)
          val m = wl.measure(Some(rec))
          Some((rec, m, wl.measure(None)))
        }
      val heapMb = liveHeapMb()
      Log.info("timed region done")
      val (chkAttempted, chkFailed) = wl.check()
      val passes = plain +: traced.toSeq.flatMap(t => Seq(t._2, t._3))
      val attempted = passes.map(_.attempted).sum + chkAttempted
      val failed = passes.map(_.failed).sum + chkFailed

      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("p50_ms", plain.p50Ms, "ms"),
        ("tail_ms", plain.tailMs, "ms"),
        ("rate_per_s", plain.ratePerS, "1/s"),
        ("heap_live_mb", heapMb, "MB"))
      val layers: Seq[(String, Double, String)] = traced.toSeq.flatMap { case (rec, m, after) =>
        val overhead = m.p50Ms / ((plain.p50Ms + after.p50Ms) / 2) - 1.0
        Layers.all.map { case (name, unit) =>
          val v = name match {
            case "trace.overhead_ratio" => overhead
            case n => m.layers.getOrElse(n, 0.0)
          }
          (name, v, unit)
        }
      }
      val correct = failed == 0
      val record = Json.obj(
        "workload" -> Json.str(args.workload),
        "seed" -> Json.num(args.seed.toDouble),
        "seconds" -> Json.num(args.seconds.toDouble),
        "cpus" -> Json.num(cpus.toDouble),
        "params" -> Json.obj(args.params.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }: _*),
        "correct" -> Json.bool(correct),
        "attempted" -> Json.num(attempted.toDouble),
        "failed" -> Json.num(failed.toDouble),
        "end_to_end" -> metricsObj(e2e),
        "tail_quantile" -> Json.num(plain.tailQ),
        "tail_samples" -> Json.num(plain.tailN.toDouble),
        "named" -> metricsObj(plain.named),
        "traced_named" -> metricsObj(traced.toSeq.flatMap(_._2.named)),
        "plain_after_named" -> metricsObj(traced.toSeq.flatMap(_._3.named)),
        "per_layer" -> metricsObj(layers),
        "self_time_s" -> traced.fold(Json.obj())(t => Json.obj(
          t._1.selfTimes.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }: _*)))
      val stem = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
      Files.write(args.out.resolve(s"$stem.json"), (record + "\n").getBytes(UTF_8))
      traced.foreach(t => t._1.writeSpans(args.out.resolve(s"$stem.spans.jsonl")))
      val shown = if (args.trace) layers else e2e
      // the compact result line, LAST on stdout: under 2 KB for the
      // end-to-end metrics; the traced line carries every per-layer metric
      println(Json.obj(
        "correct" -> Json.bool(correct),
        "attempted" -> Json.num(attempted.toDouble),
        "failed" -> Json.num(failed.toDouble),
        "metrics" -> metricsObj(shown)))
      System.out.flush()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 1
    } finally {
      try wl.close() catch { case e: Throwable => e.printStackTrace() }
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(work.toFile)
    }
    System.exit(exit)
  }

  /** Metrics as JSON, each value to six significant digits. */
  private def metricsObj(ms: Seq[(String, Double, String)]): String =
    Json.obj(ms.map { case (n, v, u) =>
      n -> Json.obj("value" -> Json.num(sig6(v)), "unit" -> Json.str(u))
    }: _*)

  private def sig6(d: Double): Double =
    if (d.isNaN || d.isInfinite || d == 0) d
    else BigDecimal(d).round(new java.math.MathContext(6)).toDouble

  /** Heap still in use after a full collection at the end of the timed
    * region: what the workload retains (a sampled peak of the collector's
    * sawtooth varies with collection timing more than with the program).
    */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Latency summaries: median, and the tail — the highest percentile that
  * leaves at least ten samples beyond it (nearest rank), with its quantile
  * and sample count.
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (value, quantile) of the tail. Below 20 samples that percentile
    * would fall under the median, so the median is reported instead.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n < 20) (median(xs), 0.5)
    else (s(n - 11), (n - 10).toDouble / n)
  }
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
  def info(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1000.0}%7.2fs] $msg")
}

/** The small JSON writer the record and the result line need. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def bool(b: Boolean): String = b.toString
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)

  def fields(n: com.fasterxml.jackson.databind.JsonNode): Seq[(String, com.fasterxml.jackson.databind.JsonNode)] =
    n.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
}
