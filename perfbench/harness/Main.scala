package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{SparkEntry, Watchdog}
import graft.pipeline.AirQuality
import graft.sources.Snapshots

/** The timed side of the benchmark: one JVM runs one workload.
  *
  * Closed loop, one client: the driver thread issues an operation only
  * after the previous one finished. Pass 0 is the warm-up and writes every
  * operation's full output for the correctness check (done afterwards by
  * run.py against the DuckDB oracles). Timed passes follow until
  * `--seconds` have elapsed and at least [[MinPasses]] are done, always
  * finishing the pass in progress. Each operation runs under
  * `graft.Watchdog`, so a hang becomes a counted failure. With `--trace 1`
  * at least four passes run, untraced and traced in turn, and the traced
  * ones attach the listeners in [[Tracer]].
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <tablesDir> <snapshotDir> <outDir> <cpus>
  * Writes `<outDir>/raw.json`; run.py turns it into the metrics.
  */
object Main {

  final case class Op(name: String, construct: () => DataFrame, action: DataFrame => Long)

  final case class OpRecord(pass: Int, name: String, traced: Boolean, wallMs: Double,
      constructMs: Double, actionMs: Double, count: Long,
      error: Option[String], csvMd5: Option[String])

  /** One query per operator family of `queries.Relational`, `Joins` and
    * `Aggregates` (JSON extraction, a join, SQL text, grouping sets, a
    * window), then product-quantized nearest neighbours through the
    * compiled `PqArgmin` kernel of `graft.functions` over cached frames,
    * and a micro-batch replay with state store, WAL and offsets. */
  val Queries = Seq("q_json_extract", "q_join_inner", "q_sql_revenue", "q_rollup",
    "q_session_window", "q_ann_pq", "q_stream_session")
  val TimeoutSec = 60L
  /** Timed passes per run at least, however long they take; the median of
    * three is robust to the first, which the JIT still speeds up. */
  val MinPasses = 3

  def nowMs: Double = System.currentTimeMillis().toDouble

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, tables, snapshot, out, cpus) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext

    val resultsDir = s"$out/results"
    val etlOut = new AtomicLong(0)
    def queryOp(name: String): Op = {
      val fn = SparkEntry.queries(name)
      Op(name, () => fn(spark, tables), _.count())
    }
    val ops: Seq[Op] = workload match {
      case "etl_snapshot" =>
        import spark.implicits._
        val cityRows = "\\{\"city\": \"([^\"]+)\", \"lat\": ([-0-9.e]+), \"lon\": ([-0-9.e]+)\\}".r
          .findAllMatchIn(Files.readString(Paths.get(s"$snapshot/cities.json")))
          .map(m => (m.group(1), m.group(2).toDouble, m.group(3).toDouble)).toSeq
        val cities = cityRows.toDF("city", "lat", "lon")
        Seq(Op("etl_snapshot",
          () => AirQuality.run(spark,
            Snapshots.readLocations(spark, s"$snapshot/locations.jsonl"),
            Snapshots.readLatest(spark, s"$snapshot/latest.jsonl"), cities),
          { df =>
            val path = s"$out/etl/${etlOut.incrementAndGet()}"
            AirQuality.writeCsv(df, path)
            0L
          }))
      case "queries" => Queries.map(queryOp)
      case w => sys.error(s"unknown workload $w")
    }

    // always on, in untraced passes too: rows read by tasks feed rows_per_s
    val rowsRead = new AtomicLong(0)
    sc.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => rowsRead.addAndGet(m.inputMetrics.recordsRead))
    })

    val tracer = new Tracer
    val traceRows = mutable.ArrayBuffer.empty[(Int, OpRecord, OpEvents, Span, Span, Span)]
    val records = mutable.ArrayBuffer.empty[OpRecord]

    /** MD5 and data-row count of the CSV the ETL wrote into `dir`. */
    def csvPart(dir: String): (String, Long) = {
      val part = new File(dir).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv")).get
      val bytes = Files.readAllBytes(part.toPath)
      (java.security.MessageDigest.getInstance("MD5").digest(bytes).map(b => f"${b & 0xff}%02x").mkString,
        bytes.count(_ == '\n') - 1L)
    }

    /** One operation under the watchdog; returns its record and the spans
      * of the operation, its construct call and its action. */
    def runOp(pass: Int, op: Op, traced: Boolean, dump: Boolean): OpRecord = {
      val id = s"$workload-p$pass-${op.name}"
      var cSpan, aSpan = Span(0, 0)
      def codegen = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val cg0 = codegen
      val t0 = System.nanoTime(); val e0 = nowMs
      def at(t: Long) = e0 + (t - t0) / 1e6
      val r = Watchdog.run(spark, id, TimeoutSec) {
        val c0 = System.nanoTime()
        val v = op.construct()
        val c1 = System.nanoTime()
        val n =
          if (dump && workload != "etl_snapshot") {
            v.coalesce(1).write.mode("overwrite")
              .parquet(s"$resultsDir/${op.name}")
            -1L
          } else op.action(v)
        val c2 = System.nanoTime()
        cSpan = Span(at(c0), at(c1)); aSpan = Span(at(c1), at(c2))
        n
      }
      val t1 = System.nanoTime()
      val opSpan = Span(e0, at(t1))
      val csv = if (workload == "etl_snapshot" && r.isRight) Some(csvPart(s"$out/etl/${etlOut.get}")) else None
      val rec = OpRecord(pass, op.name, traced, opSpan.ms, cSpan.ms, aSpan.ms,
        csv.map(_._2).getOrElse(r.getOrElse(-1L)), r.left.toOption, csv.map(_._1))
      if (traced) {
        PerfbenchBus.drain(sc)
        val ev = tracer.take()
        val cg1 = codegen
        ev.codegenCompiles = cg1._1 - cg0._1; ev.codegenNs = cg1._2 - cg0._2
        traceRows += ((pass, rec, ev, opSpan, cSpan, aSpan))
      }
      spark.sharedState.cacheManager.clearCache()
      rec
    }

    val passWalls = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Int)]
    val sourceProbes = mutable.ArrayBuffer.empty[(Double, Long, Long)]
    def cleanup(): Int = {
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      sc.getRDDStorageInfo.map(_.numCachedPartitions).sum
    }
    def runPass(pass: Int, traced: Boolean): Unit = {
      val order = new scala.util.Random(seed * 1000 + pass).shuffle(ops)
      if (traced) {
        sc.addSparkListener(tracer); spark.listenerManager.register(tracer)
        spark.streams.addListener(tracer.streams)
        PerfbenchBus.drain(sc); tracer.take()
      }
      val p0 = System.nanoTime()
      order.foreach(op => records += runOp(pass, op, traced, dump = false))
      val wall = (System.nanoTime() - p0) / 1e6
      if (traced && workload == "etl_snapshot") sourceProbes += sourceProbe()
      if (traced) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer)
        spark.streams.removeListener(tracer.streams)
      }
      passWalls += ((pass, traced, wall, cleanup()))
    }

    /** Times the two snapshot reads alone into the no-op sink. */
    def sourceProbe(): (Double, Long, Long) = {
      PerfbenchBus.drain(sc); tracer.take()
      val t0 = System.nanoTime()
      val dfs = Seq(Snapshots.readLocations(spark, s"$snapshot/locations.jsonl"),
        Snapshots.readLatest(spark, s"$snapshot/latest.jsonl"))
      dfs.foreach(_.write.format("noop").mode("overwrite").save())
      val ms = (System.nanoTime() - t0) / 1e6
      PerfbenchBus.drain(sc)
      val ev = tracer.take()
      (ms, ev.tasks, ev.inputRecords)
    }

    val calFn = SparkEntry.queries("q_scan_parquet")
    def calibrate(): Seq[Double] = (1 to 2).map { _ =>
      val t0 = System.nanoTime(); calFn(spark, tables).count(); (System.nanoTime() - t0) / 1e6
    }

    // ── set-up: calibration probe, then the warm-up pass (pass 0) ────────
    val sessionReadyMs = nowMs
    val calStart = calibrate()
    val warm = new scala.util.Random(seed * 1000).shuffle(ops)
      .map(op => runOp(0, op, traced = false, dump = true))
    cleanup()
    val firstTimedMs = nowMs

    // ── timed passes ─────────────────────────────────────────────────────
    val rows0 = rowsRead.get
    val timed0 = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - timed0) / 1e9
    // traced runs go untraced, traced, traced, untraced, so the warm-up
    // drift over the run cancels out of the tracing overhead
    val minPasses = if (trace) 4 else MinPasses
    while (pass < minPasses || elapsed < seconds) {
      pass += 1
      runPass(pass, traced = trace && pass % 4 / 2 == 1)
    }
    PerfbenchBus.drain(sc)
    val rowsTimed = rowsRead.get - rows0
    val timedEndMs = nowMs
    val calEnd = calibrate()
    cleanup()
    // the least of three post-GC readings, each after a pause: Spark's
    // context cleaner frees broadcast and shuffle blocks asynchronously
    // once a collection has queued their references, and background
    // threads can allocate between a collection and its reading
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(250); System.gc()
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val layers = if (trace) Layers.summarize(workload, cpus.toInt, traceRows.toSeq,
      passWalls.toSeq, sourceProbes.toSeq) else Map.empty[String, Double]

    val j = new Json
    j.obj {
      j.field("workload", workload); j.field("cpus", cpus.toInt)
      j.field("session_ready_ms", sessionReadyMs); j.field("first_timed_ms", firstTimedMs)
      j.field("timed_end_ms", timedEndMs)
      j.field("calibration_start_ms", calStart); j.field("calibration_end_ms", calEnd)
      j.field("rows_read", rowsTimed)
      j.field("retained_heap_mb", heapMb)
      j.key("passes"); j.arr(passWalls.toSeq) { case (p, t, w, b) =>
        j.obj { j.field("pass", p); j.field("traced", t); j.field("wall_ms", w); j.field("blocks_retained", b) }
      }
      j.key("ops"); j.arr(warm ++ records) { r =>
        j.obj {
          j.field("pass", r.pass); j.field("name", r.name); j.field("traced", r.traced)
          j.field("wall_ms", r.wallMs); j.field("construct_ms", r.constructMs)
          j.field("action_ms", r.actionMs); j.field("count", r.count)
          r.error.foreach(j.field("error", _)); r.csvMd5.foreach(j.field("csv_md5", _))
        }
      }
      j.key("oracles"); j.obj {
        ops.foreach(op => j.field(op.name,
          SparkEntry.oracleSql(if (workload == "etl_snapshot") "q_flagship" else op.name)))
      }
      j.key("layers"); j.obj { layers.toSeq.sortBy(_._1).foreach { case (k, v) => j.field(k, v) } }
    }
    Files.writeString(Paths.get(s"$out/raw.json"), j.toString)
    spark.stop()
  }
}

/** Minimal JSON writer: the harness emits one flat document. */
final class Json {
  private val b = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) b += ','; first = false }
  def key(k: String): Unit = { sep(); b ++= Json.str(k) += ':'; first = true }
  def obj(body: => Unit): Unit = { if (!first) b += ','; b += '{'; first = true; body; b += '}'; first = false }
  def arr[T](xs: Seq[T])(each: T => Unit): Unit = {
    if (!first) b += ','; b += '['; first = true; xs.foreach(each); b += ']'; first = false
  }
  def field(k: String, v: Any): Unit = {
    key(k)
    b ++= (v match {
      case s: String => Json.str(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case xs: Seq[_] => xs.mkString("[", ",", "]")
      case x => x.toString
    })
    first = false
  }
  override def toString: String = b.toString
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
