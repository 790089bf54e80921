package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.JsonFormat.q

/** Measuring half of the benchmark (`perfbench/run.py` is the other half):
  * runs one workload's query keys in a closed loop with one client, one key
  * at a time, each executed as `graft.Bench` does it —
  * `fn(spark, sfDir).queryExecution.toRdd.count()` — and writes raw records
  * (one JSON object per line) for run.py to turn into metrics.
  *
  * Phases, all in one JVM:
  *  1. Set-up, timed from JVM launch: a session with `Bench`'s conf on the
  *     empty private `java.io.tmpdir` that run.py creates (so every
  *     `LocalFs` landing is built here), then one untimed warm-up pass in
  *     the listed key order that also records each key's order-insensitive
  *     row digest.
  *  2. Timed passes until `seconds` have elapsed (whole passes, at least
  *     two, or three when traced). Each pass runs every key once, in a
  *     seeded permutation of the key order. With tracing on, every second pass is
  *     traced: a job listener is attached and each key is split into
  *     build / plan / exec; the other passes stay untraced so run.py can
  *     report the tracing overhead. A calibration job runs three times
  *     before the first pass and after every pass, outside the timed
  *     windows.
  *
  * Arguments are `name=value` pairs: keys, sf, seed, seconds, trace,
  * cores, out.
  */
object PerfBench {

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val kv = a.split("=", 2); kv(0) -> kv(1) }.toMap
    val keys = opt("keys").split(',').toSeq
    val sfDir = opt("sf")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val out = new PrintWriter(opt("out"), "UTF-8")
    val tmpDir = new File(sys.props("java.io.tmpdir"))
    val fns = keys.map(k => k -> SparkEntry.queries(k)).toMap
    def emit(fields: (String, Any)*): Unit = {
      out.println(fields.map { case (k, v) => q(k) + ":" + json(v) }
        .mkString("{", ",", "}"))
      out.flush()
    }

    val launched = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores)
    keys.foreach { k =>
      val before = published(tmpDir)
      val s0 = System.nanoTime()
      // the warm-up executes each plan through its digest query, which
      // yields the row count too
      val (rows, digest, err) =
        try { val (n, d) = rowDigest(fns(k)(spark, sfDir)); (n, d, "") }
        catch { case e: Throwable => (-1L, "", message(e)) }
      val wall = (System.nanoTime() - s0) / 1e9
      spark.catalog.clearCache()
      emit("type" -> "warm", "key" -> k, "wall" -> wall, "rows" -> rows,
        "error" -> err, "digest" -> digest,
        "landed" -> (published(tmpDir) -- before).size)
    }
    emit("type" -> "setup",
      "wall" -> (System.currentTimeMillis() - launched) / 1e3,
      "published" -> published(tmpDir).size, "bytes" -> du(tmpDir))

    def calibrate(after: Int): Unit = (1 to CalibReps).foreach { _ =>
      val c0 = System.nanoTime()
      spin(cores)
      emit("type" -> "calib", "after" -> after,
        "wall" -> (System.nanoTime() - c0) / 1e9)
    }
    val log = new JobLog
    calibrate(0)
    val start = System.nanoTime()
    // a traced run brackets its traced pass with two untraced ones, so the
    // warming of the first passes does not bias the tracing overhead
    val minPasses = if (trace) 3 else 2
    var pass = 0
    while (pass < minPasses ||
        (System.nanoTime() - start) / 1e9 < seconds) {
      pass += 1
      val traced = trace && pass % 2 == 0
      if (traced) spark.sparkContext.addSparkListener(log)
      val cpu0 = processCpuNs()
      val gc0 = gcMs()
      val p0 = System.nanoTime()
      permutation(keys, seed, pass).foreach { k =>
        val t0 = System.currentTimeMillis()
        val s0 = System.nanoTime()
        if (traced) {
          var phase = "build"
          val rec = try {
            val df = fns(k)(spark, sfDir)
            val s1 = System.nanoTime()
            phase = "plan"
            df.queryExecution.executedPlan
            val s2 = System.nanoTime()
            phase = "exec"
            val rows = df.queryExecution.toRdd.count()
            val s3 = System.nanoTime()
            val (exchanges, smj) = planCounts(df.queryExecution.executedPlan)
            Seq("rows" -> rows, "error" -> "", "build" -> (s1 - s0) / 1e9,
              "plan" -> (s2 - s1) / 1e9, "exec" -> (s3 - s2) / 1e9,
              "exchanges" -> exchanges, "smj" -> smj)
          } catch {
            case e: Throwable => Seq("rows" -> -1L,
              "error" -> s"$phase: ${message(e)}")
          }
          val wall = (System.nanoTime() - s0) / 1e9
          spark.catalog.clearCache()
          emit(Seq("type" -> "exec", "pass" -> pass, "traced" -> true,
            "key" -> k, "wall" -> wall, "t0" -> t0,
            "t1" -> System.currentTimeMillis()) ++ rec: _*)
        } else {
          val (rows, err) = run(spark, fns(k), sfDir)
          val wall = (System.nanoTime() - s0) / 1e9
          spark.catalog.clearCache()
          emit("type" -> "exec", "pass" -> pass, "traced" -> false,
            "key" -> k, "wall" -> wall, "rows" -> rows,
            "error" -> err.getOrElse(""))
        }
      }
      emit("type" -> "pass", "pass" -> pass, "traced" -> traced,
        "wall" -> (System.nanoTime() - p0) / 1e9,
        "cpu" -> (processCpuNs() - cpu0) / 1e9, "gc" -> (gcMs() - gc0) / 1e3)
      if (traced) {
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(log)
      }
      calibrate(pass)
    }
    log.jobs.foreach { j =>
      emit("type" -> "job", "id" -> j.id, "t0" -> j.start, "t1" -> j.end,
        "tasks" -> j.tasks, "cpu" -> j.cpuNs / 1e9,
        "shuffle" -> (j.shuffleRead + j.shuffleWrite), "spill" -> j.spill,
        "written" -> j.written)
    }
    emit("type" -> "end", "peak_rss_kb" -> peakRssKb())
    out.close()
    spark.stop()
  }

  /** The session `graft.Bench` builds, at a fixed core count. */
  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Calibration samples taken at each pass boundary. */
  private val CalibReps = 3

  private val sink = new java.util.concurrent.atomic.AtomicLong

  /** The calibration job: a fixed amount of integer work (xorshift steps)
    * on `cores` threads, using neither Spark nor the heap. Its wall time,
    * taken between passes, tracks the CPU throughput the host gives the
    * run; run.py divides the timed metrics by its median. Nothing the
    * program leaves behind on the heap can slow it down. */
  private def spin(cores: Int): Unit = {
    val threads = (1 to cores).map { t =>
      new Thread(() => {
        var x = t.toLong
        var i = 0
        while (i < 100000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
        }
        sink.addAndGet(x)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  private def run(spark: SparkSession,
      fn: (SparkSession, String) => DataFrame,
      sfDir: String): (Long, Option[String]) =
    try (fn(spark, sfDir).queryExecution.toRdd.count(), None)
    catch { case e: Throwable => (-1L, Some(message(e))) }

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  /** Fisher-Yates over java.util.Random, whose sequence is fixed by its
    * specification, so every commit sees the same order for one seed. */
  def permutation(keys: Seq[String], seed: Long, pass: Int): Seq[String] = {
    val a = keys.toArray
    val rnd = new java.util.Random(seed * 1000003L + pass)
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Row count and order-insensitive digest of a key's rows: `count:sum`
    * of a 64-bit hash per row. Floating-point values are compared to 9
    * significant digits, the tolerance that absorbs summation-order
    * differences. */
  def rowDigest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.toSeq
      .map(f => normalized(col(f.name), f.dataType)): _*)
    val r = named.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse("0")}")
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case MapType(_, v, _) => hasFloat(v)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case u: UserDefinedType[_] => isVector(u)
    case _ => false
  }

  private def isVector(u: UserDefinedType[_]): Boolean =
    u.userClass.getName.startsWith("org.apache.spark.ml.linalg.")

  private def normalized(c: Column, t: DataType): Column =
    if (!hasFloat(t)) c
    else t match {
      case DoubleType | FloatType => format_string("%.9g", c)
      case ArrayType(e, _) => transform(c, x => normalized(x, e))
      case MapType(_, v, _) => transform_values(c, (_, x) => normalized(x, v))
      case StructType(fs) =>
        struct(fs.toSeq.map(f =>
          normalized(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _ => normalized(
        org.apache.spark.ml.functions.vector_to_array(c), ArrayType(DoubleType))
    }

  /** (Exchange, SortMergeJoin) counts of the final adaptive plan, query
    * stages and subqueries included. */
  def planCounts(plan: SparkPlan): (Int, Int) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case o => (o.children ++ o.subqueries).flatMap(nodes)
    })
    val all = nodes(plan)
    (all.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }, all.count(_.isInstanceOf[SortMergeJoinExec]))
  }

  /** Top-level entries of the tmpdir that are published (`_SUCCESS`) dirs. */
  private def published(dir: File): Set[String] =
    Option(dir.listFiles).toSeq.flatten
      .filter(f => new File(f, "_SUCCESS").exists()).map(_.getName).toSet

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum
    else f.length()

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def json(v: Any): String = v match {
    case s: String => q(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => q(other.toString)
  }
}

/** Every Spark job with the summed metrics of its tasks. Jobs are given to
  * keys later by time window, not by job group: `Curation.boundaryPool`'s
  * threads inherit whatever local properties the key that created them set.
  */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val start: Long) {
    var end = -1L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var written = 0L
  }
  private val byId = scala.collection.mutable.LinkedHashMap[Int, Job]()
  private val stageJob = scala.collection.mutable.HashMap[Int, Job]()

  def jobs: Seq[Job] = synchronized(byId.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new Job(e.jobId, e.time)
    byId(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.written += m.outputMetrics.bytesWritten
    }
  }
}
