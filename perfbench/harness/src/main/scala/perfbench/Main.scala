package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One timed operation: what it was, when it ran, how long it took, and
  * where its output is (checked by run.py after the JVM exits). */
final case class Op(kind: String, startMs: Long, latencyS: Double,
    out: String, extra: Map[String, Any] = Map.empty)

/** The result of one timed phase. */
final case class Phase(ops: Seq[Op], wallS: Double,
    info: Map[String, Any] = Map.empty)

trait Workload {
  /** Input registration plus the untimed warm-up pass (plus any
    * workload-specific preparation); returns its timed parts. */
  def setup(spark: SparkSession): Map[String, Double]

  /** Run the closed (or open) loop for `seconds` and return every op. */
  def measure(spark: SparkSession, t: Tracer, seconds: Double,
      phase: String): Phase

  /** Layer metrics that only this workload can compute (traced phase). */
  def layerMetrics(spark: SparkSession, t: Tracer, c: Counters,
      p: Phase): Map[String, Double]

  /** Files run.py needs to check outputs (oracle SQL text etc.). */
  def checkInfo: Map[String, Any] = Map.empty

  /** Spark settings this workload's deployment needs. */
  def sessionConf: Map[String, String] = Map.empty
}

/** Benchmark harness entry point, launched by run.py:
  * {{{
  * Main --workload rides|curation|lakehouse --inputs DIR --work DIR
  *      --seconds S --trace 0|1
  * }}}
  * Writes `result.json` (and, traced, `spans.jsonl`) into the work dir. */
object Main {

  def session(work: String, conf: Map[String, String]): SparkSession = {
    val spark = GraftSession.builder("perfbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.driver.host", "localhost")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = GraftSession.cpus.toInt
    val w: Workload = a("workload") match {
      case "rides" => new Rides(a("inputs"), work)
      case "curation" => new Curation(a("inputs"), work)
      case "lakehouse" => new Lakehouse(a("inputs"), work)
      case other => sys.error(s"unknown workload $other")
    }

    val t0 = System.nanoTime()
    val spark = session(work, w.sessionConf)
    val t1 = System.nanoTime()
    GraftSession.adopt(spark)
    val t2 = System.nanoTime()
    val setup = w.setup(spark) ++ Map(
      "session_s" -> (t1 - t0) / 1e9, "adopt_s" -> (t2 - t1) / 1e9,
      "setup_s" -> (System.nanoTime() - t0) / 1e9)

    val counters = new Counters(spark)
    val plain = w.measure(spark, new Tracer(spark.sparkContext, false),
      seconds, "untraced")
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "cores" -> cores,
      "setup" -> setup, "untraced" -> phaseJson(plain),
      "check" -> w.checkInfo)
    if (traced) {
      counters.reset()
      val t = new Tracer(spark.sparkContext, true)
      val p = w.measure(spark, t, seconds, "traced")
      val jobs = p.ops.size
      val layers = mutable.LinkedHashMap[String, Double]()
      layers ++= Stats.spanMetrics(t, jobs)
      layers ++= Stats.runtimeMetrics(counters, t, jobs, p.wallS, cores)
      layers ++= w.layerMetrics(spark, t, counters, p)
      for (k <- Seq("session", "adopt", "warmup"))
        layers(s"core.${k}_s") = setup(s"${k}_s")
      t.writeSpans(s"$work/spans.jsonl")
      result("traced") = phaseJson(p)
      result("layers") = layers
    }
    result("vm_hwm_kb") = vmHwmKb()
    val out = new java.io.PrintWriter(s"$work/result.json", "UTF-8")
    try out.println(Json(result)) finally out.close()
    spark.stop()
  }

  private def phaseJson(p: Phase): Map[String, Any] = Map(
    "wall_s" -> p.wallS, "info" -> p.info,
    "ops" -> p.ops.map(o => Map("kind" -> o.kind, "start_ms" -> o.startMs,
      "latency_s" -> o.latencyS, "out" -> o.out) ++ o.extra))

  /** Peak resident set of this process, from /proc (Linux). */
  def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  /** One client: run `next` back to back until `seconds` have passed
    * since the first op started and at least `minOps` ran, or it has no
    * more input (None); returns the ops and the wall time from the first
    * op's start to the last op's end. */
  def closedLoop(seconds: Double, minOps: Int = 1)(next: Int => Option[Op]): Phase = {
    val ops = mutable.ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    var i = 0
    var more = true
    while (more && (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds)) {
      next(i) match {
        case Some(op) => ops += op; i += 1
        case None => more = false
      }
    }
    Phase(ops.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** Time one op; `startMs` is wall-clock for the span file. */
  def timed(kind: String, out: String)(body: => Map[String, Any]): Op = {
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val extra = body
    Op(kind, ms, (System.nanoTime() - t0) / 1e9, out, extra)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}: ${apply(x)}" }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
