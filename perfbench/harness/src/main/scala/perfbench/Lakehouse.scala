package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{GraftConcurrentWriteException, GraftMaintenance, GraftParquetV2,
  GraftScanTelemetry, GraftTableLog}
import graft.streaming.CdcApply

/** One CDC event as the stream carries it; `o_seq` lands in the table so
  * every row records the event that last wrote it. */
final case class CdcEvent(o_orderkey: Long, op: String, seq: Long,
    o_custkey: Long, o_orderstatus: String, o_totalcents: Long, o_seq: Long)

/** Writes beside reads on one graft table. An open-loop generator thread
  * delivers the CDC log at a fixed rate, one batch per tick; an ingest
  * thread drains it with CdcApply.sink (one micro-batch of everything
  * delivered so far per pass, so each pass commits one version); a
  * maintenance thread runs compactSmallFiles or rewriteDeletes, in turn,
  * after every `maintEvery` ingest commits, concurrently with the next
  * MERGEs, and either side retries the commits the other makes it lose; one
  * closed-loop reader issues point lookups, range aggregates and
  * versionAsOf range aggregates, each pinned to a version whose CDC
  * prefix is known, so run.py can check it against a replay. */
final class Lakehouse(inputs: String, work: String) extends Workload {
  private val fmt = "graft.sources.GraftParquetTableProvider"
  private val cat = "graft_lake"
  private val warehouse = s"$work/lake"
  /** The schedule run.py chose, recorded beside the generated inputs. */
  private val params = {
    val p = new java.util.Properties
    val in = new java.io.FileInputStream(s"$inputs/schedule.properties")
    try p.load(in) finally in.close()
    p
  }
  private val seedRows = params.getProperty("seed_rows").toLong
  private val rate = params.getProperty("rate_per_s").toDouble
  private val tickMs = params.getProperty("tick_ms").toLong
  /** An 8 s phase makes 4–5 ingest commits, so every phase runs
    * maintenance exactly once: a phase with one stall or two would make
    * the lag depend on which it got. */
  private val maintEvery = 3
  private var maintRuns = 0            // across phases: the steps alternate
  /** A pass starts at most this often (a processing-time trigger): the
    * batch window, and so the lag, does not depend on how fast the last
    * MERGE happened to be. */
  private val TriggerMs = 2000L
  /** Compaction target: a few files per table, so MERGE rewrites and
    * zone-map pruning act per file rather than on one file. */
  private val CompactTargetBytes = 1L << 20
  /** Attempts per maintenance step that loses its commit to a MERGE. */
  private val MaintAttempts = 3
  private val dataCols = Seq("o_custkey", "o_orderstatus", "o_totalcents", "o_seq")

  private var path: String = _
  private var table: String = _
  private var events: Array[CdcEvent] = _
  private var readerOps: Array[Array[Long]] = _
  private var mem: MemoryStream[CdcEvent] = _
  private var nextEvent = 0            // first event of the next phase
  /** CDC prefix after each delivery to `mem`: MemoryStream offset i is
    * the i-th delivery. */
  private val memEnd = mutable.ArrayBuffer[Long]()
  private var opCursor = 0
  private var ckpt: String = _
  /** (version, committed CDC prefix) of every version an ingest pass
    * made. Maintenance versions are left out: readers pin ingest
    * versions only. */
  private val versions = mutable.ArrayBuffer[(Long, Long)]()
  private val head = new AtomicReference[(Long, Long)]((0L, 0L))
  private var stream: StreamListener = _

  /** Reads, ingest and maintenance share the executor slots fairly (one
    * pool each) rather than first come, first served, so a lookup does
    * not queue behind every task of a MERGE stage. Row-level writes are
    * merge-on-read: a MERGE writes new rows and deletion vectors, and
    * maintenance folds them back. */
  override def sessionConf: Map[String, String] = Map(
    "spark.scheduler.mode" -> "FAIR",
    "spark.graft.rowLevelMode" -> "merge-on-read")

  private def conf(spark: SparkSession): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
  }

  private def version(): Long = GraftTableLog.latestVersion(path).getOrElse(-1L)

  private def fresh(spark: SparkSession, name: String): String = {
    val p = s"$warehouse/sf/$name"
    val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(p), true)
    p
  }

  /** Whether `e` is the library's retryable lost-commit refusal. */
  private def conflict(e: Throwable): Boolean = causes(e)
    .exists(_.isInstanceOf[GraftConcurrentWriteException])

  private def causes(e: Throwable) = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  /** Whether `e` is a missing data file: a concurrent rewrite archived a
    * file between a read's (or a MERGE's) planning and its task. */
  private def missingFile(e: Throwable): Boolean = causes(e).exists(c =>
    c.isInstanceOf[java.io.FileNotFoundException] ||
      c.isInstanceOf[java.nio.file.NoSuchFileException])

  private def dataFiles(v: Long): Set[String] =
    GraftTableLog.readSnapshot(path, v)._1.map(new Path(_).getName).toSet

  /** Run one maintenance step, again after each lost commit, at most
    * MaintAttempts times; the version it committed, if it committed one
    * (a rewrite replaces files; a no-op step returns the head, which a
    * MERGE may just have moved). */
  private def retried(conflicts: AtomicLong)(step: => Long): Option[Long] = {
    for (_ <- 1 to MaintAttempts) {
      val v0 = version()
      try {
        val v = step
        return Some(v).filter(v => v > v0 && !(dataFiles(v - 1) subsetOf dataFiles(v)))
      } catch {
        case e: Exception if conflict(e) => conflicts.incrementAndGet()
      }
    }
    None
  }

  def setup(spark: SparkSession): Map[String, Double] = {
    import spark.implicits._
    conf(spark)
    val t0 = System.nanoTime()
    events = spark.read.parquet(s"$inputs/cdc_events.parquet")
      .select(col("key").as("o_orderkey"), col("op"), col("seq"),
        col("custkey").as("o_custkey"), col("status").as("o_orderstatus"),
        col("cents").as("o_totalcents"), col("seq").as("o_seq"))
      .as[CdcEvent].collect().sortBy(_.seq)
    readerOps = spark.read.parquet(s"$inputs/reader_ops.parquet").collect()
      .map(r => Array(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val seed = spark.read.parquet(s"$inputs/lake_seed")
    val t1 = System.nanoTime()
    // the initial table load
    table = s"$cat.sf.t"
    path = fresh(spark, "t")
    seed.write.format(fmt).option("path", path).mode("append").save()
    schema = spark.read.format(fmt).option("path", path).load().schema
    versions += ((version(), 0L))
    head.set(versions.last)
    val t2 = System.nanoTime()
    // warm-up: the whole ingest path (stream → MERGE → maintenance) on a
    // small side table, and every read kind on the real one
    val warmPath = fresh(spark, "warm")
    seed.limit(20000).write.format(fmt).option("path", warmPath)
      .mode("append").save()
    val warmMem = MemoryStream[CdcEvent](spark)
    for (b <- 0 until 3) {
      warmMem.addData(events.slice(b * 100, b * 100 + 100)
        .filter(_.o_orderkey < 20000).toSeq)
      CdcApply.sink(spark, warmMem.toDF(), s"$cat.sf.warm", warmPath,
          "warm", "o_orderkey", "op", "seq", dataCols)
        .option("checkpointLocation", s"$work/ckpt/warm")
        .trigger(Trigger.Once()).start().awaitTermination()
    }
    GraftMaintenance.compactSmallFiles(spark, warmPath, CompactTargetBytes)
    GraftMaintenance.rewriteDeletes(spark, warmPath)
    val off = new Tracer(spark.sparkContext, false)
    for (k <- 0 until 3) read(spark, off, Array(k.toLong, 5L, 1000L, 1L))
    // the real stream: a fresh source and checkpoint
    mem = MemoryStream[CdcEvent](spark)
    ckpt = s"$work/ckpt/t"
    stream = new StreamListener
    spark.streams.addListener(stream)
    Map("register_s" -> (t1 - t0) / 1e9, "load_s" -> (t2 - t1) / 1e9,
      "warmup_s" -> (System.nanoTime() - t2) / 1e9)
  }

  /** The key `off` writes back in the write history as of `prefix`
    * committed events (seed keys before the first event). */
  private def recentKey(off: Long, prefix: Long): Long =
    if (off < prefix) events((prefix - 1 - off).toInt).o_orderkey
    else seedRows - 1 - (off - prefix)

  /** The table's schema, read once while nothing writes: a reader that
    * lets the connector infer it per read can pick a file a concurrent
    * rewrite is archiving and fail (FileNotFoundException). */
  private var schema: org.apache.spark.sql.types.StructType = _

  private def reader(spark: SparkSession, v: Long): DataFrame =
    spark.read.format(fmt).schema(schema).option("path", path)
      .option("versionAsOf", v.toString).load()

  private def lookupDf(spark: SparkSession, v: Long, k: Long) =
    reader(spark, v).filter(col("o_orderkey") === k)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalcents", "o_seq")

  private def lookup(spark: SparkSession, v: Long, k: Long) =
    lookupDf(spark, v, k).collect()

  private def rangeDf(spark: SparkSession, v: Long, lo: Long, hi: Long) =
    reader(spark, v).filter(col("o_orderkey").between(lo, hi))
      .agg(count(lit(1)), coalesce(sum("o_totalcents"), lit(0L)))

  private def rangeAgg(spark: SparkSession, v: Long, lo: Long, hi: Long) =
    rangeDf(spark, v, lo, hi).collect()(0)

  /** One reader op: (kind, recency offset, range width, versions back). */
  private def read(spark: SparkSession, t: Tracer, op: Array[Long])
      : (String, Map[String, Any]) = {
    val (v, prefix) = head.get
    op(0) match {
      case 0 =>
        val k = recentKey(op(1), prefix)
        val rows = t.span("sources.lookup")(lookup(spark, v, k))
        "lookup" -> Map("version" -> v, "key" -> k,
          "rows" -> rows.toSeq.map(r => Seq(r.getLong(0), r.getLong(1),
            r.getString(2), r.getLong(3), r.getLong(4))))
      case kind =>
        val (tv, _) =
          if (kind == 1) (v, prefix)
          else synchronized(versions(math.max(0, versions.size - 1 - op(3).toInt)))
        val lo = recentKey(op(1), prefix)
        val r = t.span("sources.range")(rangeAgg(spark, tv, lo, lo + op(2)))
        (if (kind == 1) "range" else "travel") -> Map("version" -> tv,
          "lo" -> lo, "hi" -> (lo + op(2)), "n" -> r.getLong(0),
          "sum" -> r.getLong(1))
    }
  }

  /** Reads re-planned after a missing file: a concurrent rewrite can
    * archive a file between a read's planning and its use (a library
    * defect this counter tracks); the retry, after a short back-off,
    * resolves the pinned version again. Anything else, or a fourth
    * miss, fails the op. */
  private val readRetries = new AtomicLong

  private def withRetry[T](body: => T, attempt: Int = 1): T =
    try body
    catch {
      case e: Exception if attempt < 4 && missingFile(e) =>
        readRetries.incrementAndGet()
        Thread.sleep(100L << attempt)
        withRetry(body, attempt + 1)
    }

  def measure(spark: SparkSession, t: Tracer, seconds: Double,
      phase: String): Phase = {
    readRetries.set(0)
    val first = nextEvent
    val perTick = math.max(1, (rate * tickMs / 1000).toInt)
    val ticks = (seconds * 1000 / tickMs).toInt
    require(first + ticks * perTick <= events.length, "lakehouse: CDC log too short")
    val late = mutable.ArrayBuffer[Double]()
    val genDone, ingestDone = new AtomicBoolean(false)
    val maintaining = new AtomicBoolean(false)
    val ingestCommits = new AtomicInteger(0)
    val conflicts = new AtomicLong(0)
    val commits = mutable.ArrayBuffer[(Long, Long)]()  // (prefix, commit ms)
    // (version before, version after, stream run id) of each ingest pass
    val passes = mutable.ArrayBuffer[(Long, Long, String)]()
    val maint = mutable.ArrayBuffer[Map[String, Any]]()
    val maintVersions = new ConcurrentLinkedQueue[Long]()
    val errors = new ConcurrentLinkedQueue[String]()
    var genEndMs = 0L
    val t0 = System.currentTimeMillis() + 200
    val batches0 = stream.batches.size

    val generator = new Thread(() => {
      for (i <- 0 until ticks) {
        val due = t0 + (i + 1) * tickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        late += (System.currentTimeMillis() - due) / 1000.0
        val from = first + i * perTick
        mem.addData(events.slice(from, from + perTick).toSeq)
        memEnd.synchronized(memEnd += (from + perTick).toLong)
      }
      genEndMs = System.currentTimeMillis()
      genDone.set(true)
    }, "cdc-generator")

    val ingest = new Thread(() => {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "ingest")
      var nextPass = 0L
      var done = false
      while (!done) try {
        val committed = head.get._2
        val target = memEnd.synchronized(memEnd.lastOption.getOrElse(0L))
        if (target > committed && System.currentTimeMillis() >= nextPass) {
          nextPass = System.currentTimeMillis() + TriggerMs
          val v0 = version()
          val q = t.span("streaming.ingest") {
            val q = CdcApply.sink(spark, mem.toDF(), table, path, "cdc",
                "o_orderkey", "op", "seq", dataCols)
              .option("checkpointLocation", ckpt)
              .trigger(Trigger.Once()).start()
            // the stream runs its jobs under its own run id
            t.alias(q.runId.toString)
            q.awaitTermination()
            q
          }
          // one micro-batch, one MERGE, one version; should a pass ever
          // take several, only the last is pinned for readers. A
          // maintenance commit after the MERGE changes no rows, so the
          // head carries the MERGE's prefix either way
          val batches = q.recentProgress.filter(_.numInputRows > 0)
          val v1 = version()
          batches.foreach { p =>
            val end = p.sources(0).endOffset.trim.toLong
            val prefix = memEnd.synchronized(memEnd(end.toInt))
            val ms = java.time.Instant.parse(p.timestamp).toEpochMilli +
              p.durationMs.get("triggerExecution").longValue()
            commits += ((prefix, ms))
          }
          if (batches.nonEmpty) {
            val rec = (v1, commits.last._1)
            synchronized(versions += rec)
            head.set(rec)
            passes += ((v0, v1, q.runId.toString))
            ingestCommits.addAndGet(batches.length)
          }
        } else if (genDone.get && committed >= first + ticks * perTick) done = true
        else Thread.sleep(5)
      } catch {
        // a MERGE that lost its commit to maintenance, refused by the
        // library or failed on a file the maintenance archived under it:
        // the table is untouched and the batch is not checkpointed, so
        // the next pass replays it at once
        case e: Exception if conflict(e) || missingFile(e) =>
          conflicts.incrementAndGet()
          nextPass = 0L
        // any other failure leaves events uncommitted, which the check
        // reports; the generator runs out its schedule regardless
        case e: Exception =>
          errors.add(e.toString.take(300))
          done = true
      }
      ingestDone.set(true)
    }, "cdc-ingest")

    val maintenance = new Thread(() => {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maintenance")
      var runs = 0
      def due = ingestCommits.get >= (runs + 1) * maintEvery
      // a run that fell due on the phase's last commit still runs
      try while (!ingestDone.get || due) {
        if (due) {
          runs += 1
          maintRuns += 1
          maintaining.set(true)
          val m0 = System.nanoTime()
          // one commit per run, the two steps taking turns: a run that
          // committed twice would make a concurrent MERGE lose twice
          t.span("sources.compact") {
            retried(conflicts)(
              if (maintRuns % 2 == 1)
                GraftMaintenance.compactSmallFiles(spark, path, CompactTargetBytes)
              else GraftMaintenance.rewriteDeletes(spark, path))
              .foreach(maintVersions.add)
          }
          maint += Map("s" -> (System.nanoTime() - m0) / 1e9)
          maintaining.set(false)
        } else Thread.sleep(5)
      } catch {
        case e: Exception =>
          errors.add(e.toString.take(300))
          maintaining.set(false)
      }
    }, "table-maintenance")

    // every byte the table directory gains, archived generations included
    val bytes0 = dirBytes(spark, path)
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "reads")
    generator.start()
    ingest.start()
    maintenance.start()
    val readers = mutable.ArrayBuffer[Op]()
    val rw0 = System.nanoTime()
    while ((System.nanoTime() - rw0) / 1e9 < seconds) {
      val op = readerOps(opCursor % readerOps.length)
      opCursor += 1
      val during = maintaining.get
      val o = Main.timed("read", "") {
        try {
          val (kind, fields) = t.span(s"job.read")(withRetry(read(spark, t, op)))
          fields + ("kind" -> kind)
        } catch {
          case e: Exception => Map("kind" -> "error", "version" -> -1L,
            "error" -> e.toString.take(300))
        }
      }
      readers += o.copy(kind = o.extra("kind").toString,
        extra = o.extra - "kind" + ("maint" -> (during || maintaining.get)))
    }
    generator.join()
    ingest.join()
    maintenance.join()
    val wall = (System.nanoTime() - rw0) / 1e9
    nextEvent = first + ticks * perTick

    // the final table, as plain parquet: the check's input and the
    // denominator of space amplification
    val finalDir = s"$work/final-$phase"
    reader(spark, version()).coalesce(1).write.mode("overwrite").parquet(finalDir)
    val maintSet = maintVersions.asScala.toSet
    val info = Map[String, Any](
      "t0_ms" -> t0, "rate" -> rate, "first_event" -> first,
      "generated" -> nextEvent, "committed" -> head.get._2,
      "commits" -> commits.map { case (p, ms) => Seq(p, ms) },
      "versions" -> synchronized(versions.toSeq.map { case (v, p) => Seq(v, p) }),
      "generator_late_s" -> late.toSeq,
      // rows generated but not yet committed when the generator stopped
      "backlog_rows_end" -> (nextEvent - (first.toLong +: commits.collect {
        case (p, ms) if ms <= genEndMs => p }).max),
      "maintenance" -> maint.toSeq, "maintenance_versions" -> maintSet.toSeq.sorted,
      "commit_conflicts" -> conflicts.get,
      // per pass: the MERGE's version, its stream run id
      "merges" -> passes.toSeq.flatMap { case (v0, v1, run) =>
        (v1 until v0 by -1L).find(!maintSet(_)).map(v => Seq(v, run)) },
      "final_table" -> finalDir,
      "errors" -> errors.asScala.toSeq,
      "read_retries" -> readRetries.get,
      "snapshot_bytes" -> tableBytes(spark), "plain_bytes" -> dirBytes(spark, finalDir),
      "live_files" -> GraftParquetV2.listFiles(path).size,
      "batches_from" -> batches0,
      "bytes_written" -> (dirBytes(spark, path) - bytes0))
    Phase(readers.toSeq, wall, info)
  }

  private def scanCounters(): Seq[Long] = Seq(
    GraftScanTelemetry.decodedGroups.sum(), GraftScanTelemetry.skippedGroups.sum())

  /** The phase's first `n` reads, replayed alone, since the scan
    * counters are process-wide and the MERGEs and maintenance scan too.
    * Returns (row groups decoded, row groups skipped, files the scans
    * planned, files of the versions read). */
  private def replayedScans(spark: SparkSession, ops: Seq[Op], n: Int)
      : (Long, Long, Long, Long) = {
    val sample = ops.filter(_.extra("version") != -1L).take(n)
    val c0 = scanCounters()
    var planned, files = 0L
    sample.foreach { o =>
      val v = o.extra("version").asInstanceOf[Long]
      val df =
        if (o.kind == "lookup") lookupDf(spark, v, o.extra("key").asInstanceOf[Long])
        else rangeDf(spark, v, o.extra("lo").asInstanceOf[Long],
          o.extra("hi").asInstanceOf[Long])
      df.collect()
      planned += scannedFiles(df.queryExecution.executedPlan)
      files += dataFiles(v).size
    }
    val c = scanCounters().zip(c0).map { case (x, y) => x - y }
    (c(0), c(1), planned, files)
  }

  /** Input splits of a query's table scans: one per data file here, as
    * every file is far below the split size. */
  private def scannedFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scannedFiles(a.executedPlan)
    case q: QueryStageExec => scannedFiles(q.plan)
    case b: BatchScanExec => b.inputPartitions.size.toLong
    case other => other.children.map(scannedFiles).sum
  }

  private def files(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val out = mutable.ArrayBuffer[(String, Long)]()
    while (it.hasNext) {
      val s = it.next()
      out += ((s.getPath.toString.stripPrefix(p.toUri.toString), s.getLen))
    }
    out.filterNot(_._1.endsWith(".crc"))
  }

  private def dirBytes(spark: SparkSession, dir: String): Long =
    files(spark, dir).map(_._2).sum

  /** Bytes of the live table: data files, deletion vectors, sidecars and
    * the log; archived generations (reclaimable by vacuum) excluded. */
  private def tableBytes(spark: SparkSession): Long =
    files(spark, path).filterNot(f =>
      f._1.contains(GraftTableLog.ArchiveDir) || f._1.contains(CdcApply.EpochDir))
      .map(_._2).sum

  /** Per ingest pass, the table-version commit: from the end of the last
    * Spark job of the MERGE's stream run to the modification time of the
    * version's snapshot file (archive, rename and log write). */
  private def commitTimes(c: Counters, merges: Seq[Seq[Any]]): Seq[Double] = {
    val fs = new Path(path).getFileSystem(new org.apache.hadoop.conf.Configuration)
    merges.flatMap { m =>
      val committed = fs.getFileStatus(
        GraftTableLog.snapshotPath(path, m(0).toString.toLong)).getModificationTime
      Option(c.runtime.byGroup.get(m(1).toString)).flatMap(
        _.jobEnds.asScala.filter(_ <= committed).maxOption)
        .map(end => (committed - end) / 1000.0)
    }
  }

  /** Bytes of the data files each maintenance version added. */
  private def maintenanceBytes(versions: Seq[Long]): Double = {
    val size = GraftTableLog.fileSizes(path).map { case (f, n) => new Path(f).getName -> n }
    versions.map(v => (dataFiles(v) -- dataFiles(v - 1)).toSeq.map(size.getOrElse(_, 0L)).sum)
      .sum.toDouble
  }

  def layerMetrics(spark: SparkSession, t: Tracer, c: Counters,
      p: Phase): Map[String, Double] = {
    val info = p.info
    def seqD(k: String) = info(k).asInstanceOf[Seq[Any]].map(_.toString.toDouble)
    val b = stream.batches.asScala.toSeq.drop(info("batches_from").asInstanceOf[Int])
    val readGroups = Stats.groupsOf(t, "sources.lookup") ++ Stats.groupsOf(t, "sources.range")
    val written = info("bytes_written").toString.toDouble
    val committed = info("committed").toString.toDouble - info("first_event").toString.toDouble
    val finalRows = spark.read.parquet(info("final_table").toString).count().toDouble
    val plain = info("plain_bytes").toString.toDouble
    val returned = p.ops.map(o => o.kind match {
      case "lookup" => o.extra("rows").asInstanceOf[Seq[Any]].size.toLong
      case "range" | "travel" => o.extra("n").asInstanceOf[Long]
      case _ => 0L
    }).sum.toDouble
    val (decoded, skippedGroups, planned, files) = replayedScans(spark, p.ops, 10)
    val looks = p.ops.filter(_.kind == "lookup")
    val (during, outside) = looks.partition(_.extra("maint") == true)
    val maint = info("maintenance").asInstanceOf[Seq[Map[String, Any]]]
    Map(
      "sources.commit_s" -> Stats.median(
        commitTimes(c, info("merges").asInstanceOf[Seq[Seq[Any]]])),
      "sources.commits" -> b.size.toDouble,
      "sources.commit_conflicts" -> info("commit_conflicts").toString.toDouble,
      "sources.read_retries" -> info("read_retries").toString.toDouble,
      "sources.bytes_written" -> written,
      "sources.write_amp" -> written / math.max(1.0, committed * plain / finalRows),
      "sources.live_files" -> info("live_files").toString.toDouble,
      "sources.compact_s" -> Stats.median(maint.map(_("s").toString.toDouble)),
      "sources.compact_bytes_rewritten" -> maintenanceBytes(
        info("maintenance_versions").asInstanceOf[Seq[Long]]),
      "sources.lookup_stall_s" -> (if (during.isEmpty) 0.0 else
        Stats.median(during.map(_.latencyS)) - Stats.median(outside.map(_.latencyS))),
      "sources.rows_examined_per_row_returned" ->
        c.runtime.sum(readGroups)(_.inRows) / math.max(1.0, returned),
      "sources.files_skipped_frac" -> math.max(0.0, 1.0 - planned / math.max(1.0, files.toDouble)),
      "sources.groups_skipped_frac" ->
        skippedGroups / math.max(1.0, (decoded + skippedGroups).toDouble),
      "streaming.batches" -> b.size.toDouble,
      "streaming.batch_p50_s" -> Stats.median(b.map(_._1 / 1000.0)),
      "streaming.add_batch_p50_s" -> Stats.median(b.map(_._2 / 1000.0)),
      "streaming.rows_per_batch" -> Stats.median(b.map(_._3.toDouble)),
      "streaming.backlog_rows_end" -> info("backlog_rows_end").toString.toDouble,
      "streaming.generator_late_s" -> Stats.median(seqD("generator_late_s")))
  }
}
