package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.{ListMap, TreeMap}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Command line of the benchmark JVM (perfbench/run.py builds it). */
final case class Args(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    data: String = "",
    digests: String = "",
    work: String = "",
    cores: Int = 4,
    setups: Int = 3,
    pin: Boolean = false,
    corrupt: Option[String] = None,
    checkDumps: String = "")

object Args {
  def parse(argv: Array[String]): Args =
    argv.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--seed", v)) => a.copy(seed = v.toLong)
      case (a, Array("--seconds", v)) => a.copy(seconds = v.toDouble)
      case (a, Array("--trace", v)) => a.copy(trace = v == "1")
      case (a, Array("--data", v)) => a.copy(data = v)
      case (a, Array("--digests", v)) => a.copy(digests = v)
      case (a, Array("--work", v)) => a.copy(work = v)
      case (a, Array("--cores", v)) => a.copy(cores = v.toInt)
      case (a, Array("--setups", v)) => a.copy(setups = v.toInt)
      case (a, Array("--pin", v)) => a.copy(pin = v == "1")
      case (a, Array("--corrupt", v)) => a.copy(corrupt = Some(v))
      case (a, Array("--check-dumps", v)) => a.copy(checkDumps = v)
      case (_, other) => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }
}

/** The benchmark: set up a workload several times (session with the
  * engine's rewrite rules, any index builds, one untimed warm-up pass) and
  * report the median set-up time, then run whole timed passes in a closed
  * loop until the time budget is spent. With tracing on, every second pass runs
  * with the bench's listeners attached; end-to-end figures always come
  * from the untraced passes.
  */
object Main {
  /** Jackson from Spark's jars, for the pinned digests, spans and result line. */
  val json: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** One JSON object with its keys in the given order. */
  def jsonObj(kv: (String, Any)*): String = json.writeValueAsString(ListMap(kv: _*))

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.DotProductRewrite.install(spark)
    graft.functions.Md5ChainRewrite.install(spark)
    graft.functions.PqFoldRewrite.install(spark)
    spark
  }

  /** Digest each catalog operation's result as dumped by graft.Verify
    * (the files the DuckDB oracle compares) and compare with the pinned
    * digest; returns the process exit code.
    */
  def checkDumps(a: Args, pinned: Map[String, String]): Int = {
    val spark = session(a)
    val bad = (Workloads.warehouse ++ Workloads.streamGates).count { op =>
      val d = Digest.of(spark.read.parquet(s"${a.checkDumps}/$op"))
      val ok = pinned.get(op).contains(d)
      println(s"dump $op ${if (ok) "matches the pinned digest" else s"MISMATCH $d pinned ${pinned.get(op)}"}")
      !ok
    }
    spark.stop()
    if (bad == 0) 0 else 1
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
    val processStartMs = ProcessHandle.current().info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())
    val pinned =
      if (a.digests.nonEmpty && Files.exists(Paths.get(a.digests)))
        json.readValue(Files.readString(Paths.get(a.digests)),
          classOf[java.util.Map[String, String]]).asScala.toMap
      else Map.empty[String, String]
    val checked = a.corrupt.fold(pinned)(op => pinned.updated(op, "corrupted"))
    if (a.checkDumps.nonEmpty) sys.exit(checkDumps(a, pinned))

    // ---- set-up, several times; the median is setup_s --------------------
    var spark: SparkSession = null
    var rec: Recorder = null
    var wl: Workload = null
    val setupS = ArrayBuffer[Double]()
    val failures = ArrayBuffer[(String, String)]()
    var attempted = 0L
    for (round <- 1 to a.setups) {
      val t0 = if (round == 1) processStartMs else System.currentTimeMillis()
      if (spark != null) {
        failures ++= rec.failures; attempted += rec.attempted
        spark.stop()
      }
      spark = session(a)
      rec = new Recorder(spark)
      wl = a.workload match {
        case "warehouse" =>
          new CatalogWorkload(spark, a.data, Workloads.warehouse, checked, a.pin)
        case "ingest" => new Ingest(
          new IndexLifecycle(spark, a.data, s"${a.work}/index", rec),
          new CatalogWorkload(spark, a.data, Workloads.streamGates, checked, a.pin))
      }
      wl.pass(new Random(a.seed * 7919 + round), rec)
      setupS += (System.currentTimeMillis() - t0) / 1000.0
    }

    // ---- timed passes, closed loop ---------------------------------------
    val trace = if (!a.trace) None else Some(new Trace(spark, wl match {
      case in: Ingest => () => in.index.dataFiles()
      case _ => () => Set.empty[java.nio.file.Path]
    }))
    val rng = new Random(a.seed)
    rec.timing = true
    val tracedPass = ArrayBuffer[Boolean]()
    val passStart = ArrayBuffer[Int]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole passes, so every run times the same mix of operations
    var passes = 0
    while (passes < (if (a.trace) 2 else 1) || elapsed < a.seconds) {
      val traced = trace.isDefined && passes % 2 == 1
      passStart += rec.samples.size
      tracedPass += traced
      if (traced) { trace.get.attach(); rec.trace = trace }
      rec.pass = passes
      wl.pass(rng, rec)
      if (traced) { rec.trace = None; trace.get.detach() }
      passes += 1
    }
    passStart += rec.samples.size
    val wall = elapsed
    failures ++= rec.failures; attempted += rec.attempted
    def samplesOf(traced: Boolean): Seq[Double] =
      (0 until passes).filter(p => tracedPass(p) == traced)
        .flatMap(p => rec.samples.slice(passStart(p), passStart(p + 1)).map(_._2))
    val plain = samplesOf(false)
    def opsPerS(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.size / xs.sum

    // ---- report: failures first, so a clipped tail still shows them ------
    val out = new StringBuilder
    def line(s: String): Unit = out.append(s).append('\n')
    line(s"workload ${a.workload} seed ${a.seed} cores ${a.cores} passes $passes " +
      f"wall_s $wall%.3f trace ${if (a.trace) 1 else 0}")
    if (failures.isEmpty) line("failures: none")
    else {
      line(s"failures: ${failures.size}")
      failures.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (op, fs) =>
        line(s"  FAILED $op x${fs.size}: ${fs.head._2}")
      }
    }
    if (a.pin) {
      val unstable = rec.digests.filter(_._2.size != 1).keys.toSeq.sorted
      if (unstable.nonEmpty) line(s"  UNSTABLE digests: ${unstable.mkString(",")}")
      val stable = rec.digests.filter(_._2.size == 1).map { case (k, v) => k -> v.head }
      Files.writeString(Paths.get(a.digests),
        json.writerWithDefaultPrettyPrinter()
          .writeValueAsString(TreeMap.from(pinned ++ stable)) + "\n")
      line(s"pinned ${stable.size} digests to ${a.digests}")
    }
    val p90 = Stats.quantile(plain, 0.9)
    line(s"samples ${plain.size} beyond_p90 ${plain.count(_ > p90)}")
    line("setup rounds s: " + setupS.map(x => f"$x%.3f").mkString(" "))
    line("pass op_s: " + (0 until passes).map(p =>
      f"${rec.samples.slice(passStart(p), passStart(p + 1)).map(_._2).sum}%.3f").mkString(" "))
    line(f"failed_ratio ${failures.size.toDouble / math.max(1L, attempted)}%.4f 1")
    wl.report.foreach { case (n, v, u) => line(f"$n $v%.4f $u") }
    val perOp = rec.samples.groupBy(_._1).view.mapValues(xs => Stats.median(xs.map(_._2).toSeq))
      .toSeq.sortBy(-_._2)
    line("median op_s: " + perOp.map { case (n, v) => f"$n=$v%.3f" }.mkString(" "))

    val metrics: Seq[(String, Double, String)] = trace match {
      case None => Seq(
        ("setup_s", Stats.median(setupS.toSeq), "s"),
        ("ops_per_s", opsPerS(plain), "op/s"),
        ("op_p50_s", Stats.median(plain), "s"),
        ("op_p90_s", p90, "s"))
      case Some(t) =>
        val m = Layers.metrics(t, a.cores) ++ wl.layerMetrics ++ Layers.zeroPersist(wl)
        Layers.selfTimes(t).foreach { case (l, v) => line(f"self_s $l $v%.4f") }
        val spans = Paths.get(s"${a.work}/spans-${a.workload}-${a.seed}.jsonl")
        Files.write(spans, (t.spanLines.mkString("\n") + "\n").getBytes("UTF-8"))
        line(s"spans ${t.spanLines.size} written to ${spans.getFileName}")
        m :+ (("trace_overhead", opsPerS(plain) / math.max(1e-12, opsPerS(samplesOf(true))), "1"))
    }
    metrics.foreach { case (n, v, u) => line(s"metric $n $v $u") }
    print(out)
    println(jsonObj(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size.toLong,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap))
    System.out.flush()
    spark.stop()
  }
}
