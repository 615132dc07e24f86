package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Catalog
import graft.core.Tables
import graft.operators.{RideCounts, StationDistances, TotalDistance}
import graft.sources.Sinks

/** The reference's four questions over generated rides, one client in a
  * closed loop cycling Q-easy, Q-hard, Q-dist, Q-total; each result goes
  * through the reference's text sink (Sinks.csv). */
final class Rides(inputs: String, work: String) extends Workload {
  private val kinds = Seq("q_easy", "q_hard", "q_dist", "q_total")

  /** Registers the inputs, then warms up with one untimed pass of the
    * four questions over them (a pass over smaller inputs leaves the
    * first timed pass measurably slower). */
  def setup(spark: SparkSession): Map[String, Double] = {
    val t0 = System.nanoTime()
    Tables.lineitem(spark, inputs).createOrReplaceTempView("lineitem")
    Tables.supplier(spark, inputs).createOrReplaceTempView("supplier")
    val t1 = System.nanoTime()
    val off = new Tracer(spark.sparkContext, false)
    kinds.foreach(k => run(spark, off, k, s"$work/out/warmup-$k"))
    Map("register_s" -> (t1 - t0) / 1e9,
      "warmup_s" -> (System.nanoTime() - t1) / 1e9)
  }

  override def checkInfo: Map[String, Any] = Map(
    "easy_sql" -> Catalog.easySql,
    "geodesic_cte" -> graft.GeodesicOracleSql.pairsCte)

  private def run(spark: SparkSession, t: Tracer, kind: String,
      out: String): Unit = {
    def rides = t.span("sources.scan")(t.out(Tables.rides(spark, inputs)))
    def stations =
      t.span("sources.scan")(t.out(Tables.stationsById(spark, inputs)))
    val result = kind match {
      case "q_easy" =>
        t.span("plans.sql")(spark.sql(Catalog.easySql))
      case "q_hard" =>
        val r = rides
        t.span("operators.topn")(t.out(RideCounts.topRoutes(
          r, "start_station_id", "end_station_id", 100)))
      case "q_dist" =>
        val s = stations
        t.span("operators.pairwise")(t.out(StationDistances.pairwise(s, "id")))
      case "q_total" =>
        val r = rides
        val counts = t.span("operators.count_per_pair")(t.out(
          RideCounts.countPerPair(r, "start_station_id", "end_station_id", "cnt")))
        val s = stations
        val dists = t.span("operators.pairwise")(t.out(
          StationDistances.pairwise(s, "id")))
        t.span("operators.total_km")(t.out(TotalDistance.totalKm(
          counts, dists, "start_station_id", "end_station_id", "cnt")))
    }
    t.span("sources.sink")(Sinks.csv(result, out))
  }

  def measure(spark: SparkSession, t: Tracer, seconds: Double,
      phase: String): Phase =
    Main.closedLoop(seconds) { i =>
      val kind = kinds(i % kinds.size)
      val out = s"$work/out/$phase-$i-$kind"
      val op = Main.timed(kind, out) {
        t.span(s"job.$kind")(run(spark, t, kind, out))
        Map.empty
      }
      t.release()
      Some(op)
    }

  /** Kernel share of Q-dist: the geodesic pair frame reduced to a sum,
    * minus the same frame with a trivial distance, per pair. */
  def layerMetrics(spark: SparkSession, t: Tracer, c: Counters,
      p: Phase): Map[String, Double] = {
    val st = Tables.stationsById(spark, inputs).cache()
    val pairs = st.count() * st.count()
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.agg(sum("distance_km")).collect()
      (System.nanoTime() - t0).toDouble
    }
    val diffs = (1 to 3).map { _ =>
      time(StationDistances.pairwise(st, "id")) -
        time(StationDistances.pairwiseWith(st, "id",
          (la1, lo1, la2, lo2) => la1 - la2 + lo1 - lo2))
    }
    st.unpersist()
    val scanGroups = Stats.groupsOf(t, "sources.scan")
    val sinkGroups = Stats.groupsOf(t, "sources.sink")
    val scans = p.ops.count(o => o.kind != "q_easy")
    val n = p.ops.size.max(1).toDouble
    Map(
      "expr.geodesic_pairs" -> pairs.toDouble,
      "expr.geodesic_ns_per_pair" -> Stats.median(diffs) / pairs,
      "sources.scan_bytes" ->
        c.runtime.sum(scanGroups)(_.inBytes).toDouble / scans.max(1),
      "sources.scan_rows" ->
        c.runtime.sum(scanGroups)(_.inRows).toDouble / scans.max(1),
      "sources.sink_bytes" -> c.runtime.sum(sinkGroups)(_.outBytes) / n)
  }
}
