// Placed under org.apache.spark so it can drain the listener bus
// (`LiveListenerBus.waitUntilEmpty` is private[spark]) before reading
// the events of a traced pass.
package org.apache.spark.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{DocStore, DocStoreOps}

/** Benchmark driver: runs one workload's inventory keys in a closed
  * loop with a single client and records what each call did.
  *
  * It reads a plan written by perfbench/run.py (key order per pass,
  * commit-series batches, run length) and writes raw JSON-lines records
  * (`records.jsonl`); all arithmetic on them happens in Python. Time
  * stamps are epoch microseconds so they line up with Spark listener
  * times (epoch milliseconds).
  */
object Harness {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000

  final case class Plan(
      data: String, seconds: Double, minPasses: Int, warmups: Int,
      trace: Boolean, orders: Vector[Seq[String]],
      seriesDir: Option[String], batches: Vector[Seq[(Long, String, Long)]],
      verifyDir: String, plantFail: Option[String])

  def readPlan(path: String): Plan = {
    val lines = scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.split(" ", 2)).map(a => a(0) -> (if (a.length > 1) a(1) else ""))
      .toVector
    def one(k: String) = lines.collectFirst { case (`k`, v) => v }
    def all(k: String) = lines.collect { case (`k`, v) => v }
    Plan(
      data = one("data").get,
      seconds = one("seconds").get.toDouble,
      minPasses = one("min_passes").get.toInt,
      warmups = one("warmups").get.toInt,
      trace = one("trace").contains("1"),
      orders = all("order").map(_.split(" ").toSeq),
      seriesDir = one("series"),
      batches = all("batch").map(_.split(" ").toSeq.map { r =>
        val Array(id, lang, n) = r.split(":")
        (id.toLong, lang, n.toLong)
      }),
      verifyDir = one("verify").get,
      plantFail = one("plant_fail").filter(_.nonEmpty))
  }

  // ---------------------------------------------------------------- output
  private var out: PrintWriter = _
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def emit(fields: (String, Any)*): Unit = out.synchronized {
    out.println(fields.map { case (k, v) =>
      val js = v match {
        case s: String => q(s)
        case b: Boolean => b.toString
        case n: Int => n.toString
        case n: Long => n.toString
        case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
        case None => "null"
        case Some(x: String) => q(x)
        case xs: Seq[_] => xs.mkString("[", ",", "]")
        case other => q(other.toString)
      }
      q(k) + ":" + js
    }.mkString("{", ",", "}"))
  }

  // ------------------------------------------------------------- tracing
  /** Spark-side recorder, registered only for traced passes. Every job
    * carries the harness span that submitted it through the
    * `perfbench.span` local property (Spark copies local properties to
    * the threads it submits on behalf of a query).
    */
  final class Tracer extends SparkListener with QueryExecutionListener {
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    private val stageAcc =
      new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]
    val lines = new ConcurrentLinkedQueue[Seq[(String, Any)]]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageInfos.foreach(s => stageJob.put(s.stageId, e.jobId))
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty("perfbench.span"))).getOrElse("")
      lines.add(Seq("rec" -> "job_start", "job" -> e.jobId,
        "span" -> span, "t" -> e.time * 1000))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      lines.add(Seq("rec" -> "job_end", "job" -> e.jobId, "t" -> e.time * 1000))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageAcc.computeIfAbsent(e.stageId, _ => new Array[Long](7))
      val m = e.taskMetrics
      a.synchronized {
        a(0) += 1
        if (m != null) {
          a(1) += m.executorRunTime
          a(2) += m.executorCpuTime
          a(3) += m.jvmGCTime
          a(4) += m.shuffleReadMetrics.totalBytesRead
          a(5) += m.shuffleWriteMetrics.bytesWritten
          a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val a = Option(stageAcc.remove(s.stageId)).getOrElse(new Array[Long](7))
      lines.add(Seq("rec" -> "stage", "stage" -> s.stageId,
        "job" -> stageJob.getOrDefault(s.stageId, -1),
        "start" -> s.submissionTime.getOrElse(0L) * 1000,
        "end" -> s.completionTime.getOrElse(0L) * 1000,
        "tasks" -> a(0), "run_ms" -> a(1), "cpu_ns" -> a(2), "gc_ms" -> a(3),
        "shuffle_read_b" -> a(4), "shuffle_write_b" -> a(5),
        "spill_b" -> a(6)))
    }

    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        lines.add(Seq("rec" -> "phase", "name" -> name,
          "start" -> p.startTimeMs * 1000, "end" -> p.endTimeMs * 1000))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)

    def flush(): Unit = {
      var l = lines.poll()
      while (l != null) { emit(l: _*); l = lines.poll() }
    }
  }

  // ------------------------------------------------------------ helpers
  private def span[T](spark: SparkSession, id: String)(f: => T): (T, Long, Long) = {
    spark.sparkContext.setLocalProperty("perfbench.span", id)
    val t0 = nowUs
    try { val r = f; (r, t0, nowUs) }
    finally spark.sparkContext.setLocalProperty("perfbench.span", null)
  }

  private def errorOf(t: Throwable): String =
    s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}"

  private def counters: Seq[Long] = Seq(DocStore.blocksRead.sum,
    DocStore.blocksSkipped.sum, DocStore.filesBloomSkipped.sum,
    DocStore.filesPartitionSkipped.sum)

  /** Old-generation use after a full GC, repeated until two samples
    * agree: Spark's ContextCleaner releases broadcast and shuffle state
    * asynchronously once a GC has found it unreachable.
    */
  private def oldGenMb(): Double = {
    def sample(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
        .map(_.getUsage.getUsed).sum / 1048576.0
    }
    var prev = sample()
    var cur = { Thread.sleep(50); sample() }
    var i = 0
    while (math.abs(cur - prev) > 0.5 && i < 10) {
      Thread.sleep(50)
      prev = cur
      cur = sample()
      i += 1
    }
    cur
  }

  /** Data files and manifest bytes of a docstore table directory. */
  private def tableFiles(dir: String): (Int, Long) = {
    val fs = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
    (fs.count(_.getName.endsWith(".gds")),
      fs.filter(f => f.getName.startsWith(DocStore.ManifestPrefix) ||
        f.getName.startsWith(DocStore.CheckpointPrefix)).map(_.length).sum)
  }

  // --------------------------------------------------------------- main
  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    out = new PrintWriter(args(1), "UTF-8")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep the status store small so retained driver heap reflects
      // the program, not how many jobs the run has seen so far
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    emit("rec" -> "session", "t" -> nowUs, "cpus" -> cpus)
    val queries = graft.queries.Inventory.queries
    val tracer = new Tracer

    def runKey(pass: Int, key: String, sink: DataFrame => Unit): Unit = {
      spark.catalog.clearCache()
      val rdds0 = spark.sparkContext.getPersistentRDDs.size
      val c0 = counters
      val id = s"$pass/$key"
      val buildFn: () => DataFrame = () =>
        if (plan.plantFail.contains(key))
          throw new IllegalStateException(s"planted failure in $key")
        else queries(key)(spark, plan.data)
      try {
        val (df, b0, b1) = span(spark, s"$id/build")(buildFn())
        val (_, s0, s1) = span(spark, s"$id/sink")(sink(df))
        val c1 = counters
        emit("rec" -> "key", "pass" -> pass, "key" -> key, "ok" -> true,
          "build" -> Seq(b0, b1), "sink" -> Seq(s0, s1),
          "rdds_left" -> (spark.sparkContext.getPersistentRDDs.size - rdds0),
          "counters" -> c1.zip(c0).map { case (a, b) => a - b })
      } catch {
        case t: Throwable =>
          emit("rec" -> "key", "pass" -> pass, "key" -> key, "ok" -> false,
            "error" -> errorOf(t))
      }
    }

    /** The commit series: a fresh table, then one small MERGE upsert per
      * batch, each timed on its own.
      */
    def runSeries(pass: Int, dir: String): Unit = {
      org.apache.spark.util.Utils.deleteRecursively(new File(dir))
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("n_chars", LongType)))
      try {
        val (_, i0, i1) = span(spark, s"$pass/series/init") {
          spark.read.parquet(s"${plan.data}/documents.parquet")
            .select("doc_id", "lang", "n_chars")
            .repartitionByRange(8, col("doc_id"))
            .sortWithinPartitions("doc_id")
            .write.format("docstore").mode("overwrite").save(dir)
        }
        emit("rec" -> "series_init", "pass" -> pass, "span" -> Seq(i0, i1))
      } catch {
        case t: Throwable =>
          emit("rec" -> "series_init", "pass" -> pass, "ok" -> false,
            "error" -> errorOf(t))
          return
      }
      plan.batches.zipWithIndex.foreach { case (rows, i) =>
        val batch = spark.createDataFrame(
          rows.map { case (id, l, n) => Row(id, l, n) }.asJava, schema)
        val (files0, _) = tableFiles(dir)
        val c0 = counters
        try {
          val (_, t0, t1) = span(spark, s"$pass/commit/$i") {
            DocStoreOps.merge(spark, dir, batch, "doc_id")
          }
          val (files1, manifestBytes) = tableFiles(dir)
          val c1 = counters
          emit("rec" -> "commit", "pass" -> pass, "i" -> i, "ok" -> true,
            "span" -> Seq(t0, t1), "files_written" -> math.max(0, files1 - files0),
            "manifest_bytes" -> manifestBytes,
            "counters" -> c1.zip(c0).map { case (a, b) => a - b })
        } catch {
          case t: Throwable =>
            emit("rec" -> "commit", "pass" -> pass, "i" -> i, "ok" -> false,
              "error" -> errorOf(t))
        }
      }
    }

    /** Untimed: the series table's final row count and sum(n_chars). */
    def checkSeries(pass: Int, dir: String): Unit =
      try {
        val r = spark.read.format("docstore").load(dir)
          .agg(count(lit(1)), sum("n_chars")).collect()(0)
        emit("rec" -> "series_check", "pass" -> pass, "rows" -> r.getLong(0),
          "sum_chars" -> r.getLong(1))
      } catch {
        case t: Throwable =>
          emit("rec" -> "series_check", "pass" -> pass, "ok" -> false,
            "error" -> errorOf(t))
      }

    /** Releases what the pass left persisted, so the next pass starts
      * clean, then samples the heap the driver still retains.
      */
    def endPass(pass: Int): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      if (pass >= plan.warmups)
        emit("rec" -> "heap", "pass" -> pass, "old_gen_mb" -> oldGenMb())
    }

    def runPass(pass: Int, sink: (String, DataFrame) => Unit, timed: Boolean,
        series: Boolean): Unit = {
      val t0 = nowUs
      plan.orders(pass % plan.orders.size).foreach(k => runKey(pass, k, df => sink(k, df)))
      if (series) plan.seriesDir.foreach(runSeries(pass, _))
      emit("rec" -> "pass", "pass" -> pass, "span" -> Seq(t0, nowUs), "timed" -> timed)
      if (series) plan.seriesDir.foreach(checkSeries(pass, _))
    }

    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()
    /** Writes each key's output for the correctness digest. */
    def verify(pass: Int): (String, DataFrame) => Unit =
      (k, df) => df.coalesce(1).write.mode("overwrite").parquet(s"${plan.verifyDir}/$pass/$k")
    // warm-up at the workload's own scale; the first pass also writes
    // every key's output for the correctness digest
    (0 until plan.warmups).foreach { p =>
      runPass(p, if (p == 0) verify(p) else noop, timed = false, series = true)
      endPass(p)
    }
    emit("rec" -> "timed_start", "t" -> nowUs)
    val start = System.nanoTime()
    var pass = plan.warmups
    def elapsed = (System.nanoTime() - start) / 1e9
    while (pass - plan.warmups < plan.minPasses || elapsed < plan.seconds) {
      // in a traced run, odd passes are untraced so the tracing
      // overhead is measured in the same process
      val traced = plan.trace && (pass - plan.warmups) % 2 == 0
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      emit("rec" -> "pass_mode", "pass" -> pass, "traced" -> traced)
      runPass(pass, noop, timed = true, series = true)
      if (traced) {
        spark.sparkContext.listenerBus.waitUntilEmpty()
        spark.listenerManager.unregister(tracer)
        spark.sparkContext.removeSparkListener(tracer)
        tracer.flush()
      }
      endPass(pass)
      pass += 1
    }
    // one more untimed pass writes every key's output again, so a defect
    // that shows only after repeated builder calls is caught too; the
    // commit series is already checked after every pass
    runPass(pass, verify(pass), timed = false, series = false)
    emit("rec" -> "done", "t" -> nowUs)
    out.close()
    spark.stop()
  }
}
