package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.SparkEntry
import graft.core.{BlockHygiene, BuildLog, Tables}
import graft.operators.MapReduceTasks
import graft.sources.{DocSource, TextSink}

/** JVM side of the benchmark (perfbench/run.py drives it).
  *
  *   run <docs|tables> <dataDir> <outDir> <workDir> <warmPasses> <trace> <op,op,...>
  *
  * sets up the session and prints READY (the caller times JVM launch ->
  * READY as set-up), runs a cold pass over the operations, then `warmPasses`
  * warm passes, and writes <outDir>/result.json and <outDir>/spans.jsonl.
  * With tracing, the cold pass and the even-numbered warm passes are traced
  * and the caller asks for at least three warm passes, so traced warm2 sits
  * between untraced warm1 and warm3.
  *
  * Only the engine's public entry points are called. Between operations,
  * `BlockHygiene.free(blocking = true)` runs outside the timed window. */
object Harness {
  val OpProperty = "perfbench.op"

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: kind :: dataDir :: outDir :: workDir :: warmPasses :: trace :: ops :: Nil =>
      new Run(kind, dataDir, Paths.get(outDir), Paths.get(workDir), warmPasses.toInt,
        trace == "1", ops.split(",").toSeq).main()
    case _ =>
      System.err.println("usage: Harness run <docs|tables> <dataDir> <outDir> <workDir> " +
        "<warmPasses> <trace 0|1> <op,op,...>")
      sys.exit(2)
  }

  /** Session as every engine entry point builds it, plus the one-time ICU
    * collation warmup graft.Bench also pays before timing. Spark's scratch
    * space lives under `workDir`. */
  def session(workDir: Path, spans: Spans): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = spans.span("entry.session") {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", workDir.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toUri.toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    spans.span("entry.registry") {
      Tables.configure(spark)
      graft.functions.Registry.register(spark)
    }
    spans.span("entry.warmup") {
      spark.range(1)
        .selectExpr("upper('a') u", "lower('A') l", "initcap('a b') i",
          "regexp_replace('a','a','b') r", "split('a,b', ',') s")
        .write.format("noop").mode("overwrite").save()
    }
    spark
  }
}

/** One operation's outcome in one pass. */
final case class OpResult(
    op: String, pass: String, planS: Double, execS: Double,
    error: Option[String], digest: String, value: String) {
  def totalS: Double = planS + execS
}

final class Run(
    kind: String, dataDir: String, outDir: Path, workDir: Path,
    warmPasses: Int, trace: Boolean, ops: Seq[String]) {

  private val spans = new Spans(s"${ProcessHandle.current.pid}-${System.currentTimeMillis}")
  private val results = mutable.ArrayBuffer.empty[OpResult]
  private val passes = mutable.ArrayBuffer.empty[(String, Boolean, Double)]
  private val counters = mutable.Map.empty[String, PassCounters]
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private var spark: SparkSession = _

  private lazy val numFiles: Int =
    new String(Files.readAllBytes(Paths.get(dataDir, "NUM_FILES")), "UTF-8").trim.toInt

  def main(): Unit = {
    HeapPeak.start()
    spans.enabled = trace
    spark = Harness.session(workDir, spans)
    spans.enabled = false
    println("READY")
    System.out.flush()

    val buildsBefore = BuildLog.snapshot()
    runPass("cold", traced = trace)
    val builds = BuildLog.snapshot().map { case (k, v) => k -> (v - buildsBefore.getOrElse(k, 0.0)) }
    val diskBytes = treeBytes(workDir.resolve("warehouse"))

    for (n <- 1 to warmPasses) runPass(s"warm$n", traced = trace && n % 2 == 0)
    if (trace) {
      functionProbes()
      traceMetrics(builds, diskBytes)
    }
    metrics("peak_rss_mb") = peakRssMb()
    write(builds)
    spark.stop()
  }

  /** One pass over every operation; returns its timed seconds. */
  private def runPass(pass: String, traced: Boolean): Double = {
    val pc = new PassCounters
    if (traced) {
      counters(pass) = pc
      spark.sparkContext.addSparkListener(pc)
    }
    spans.enabled = traced
    val total = spans.span(s"pass.$pass") {
      ops.map { op =>
        val r = spans.span(s"op.$op")(runOp(op, pass))
        results += r
        BlockHygiene.free(spark, blocking = true)
        r.totalS
      }.sum
    }
    spans.enabled = false
    if (traced) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(pc)
    }
    passes += ((pass, traced, total))
    total
  }

  private def runOp(op: String, pass: String): OpResult = {
    spark.sparkContext.setLocalProperty(Harness.OpProperty, op)
    var planS = 0.0
    var execS = 0.0
    def timed[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = spans.span(name)(body)
      (v, (System.nanoTime() - t0) / 1e9)
    }
    try {
      kind match {
        case "docs" =>
          val out = outDir.resolve(pass).resolve(op).toString
          val (df, p) = timed("operators.plan") {
            val docs = spans.span("sources.DocSource.read")(DocSource.read(spark, dataDir, numFiles))
            op match {
              case "mr_read" => docs.selectExpr("count(*)", "sum(length(content))", "sum(doc_id)")
              case "mr_task1" => MapReduceTasks.task1(docs)
              case "mr_task2" => MapReduceTasks.task2(docs)
              case "mr_task3" => MapReduceTasks.task3(docs)
              case "mr_wordcount" => MapReduceTasks.wordCount(docs)
            }
          }
          planS = p
          if (op == "mr_read") {
            val (row, e) = timed("operators.exec")(df.collect().head)
            execS = e
            OpResult(op, pass, planS, execS, None, "", s"${row.getLong(0)} ${row.getLong(1)} ${row.getLong(2)}")
          } else {
            val (_, e) = timed("operators.exec")(spans.span("sources.TextSink.write")(TextSink.write(df, out)))
            execS = e
            OpResult(op, pass, planS, execS, None, "", out)
          }
        case "tables" =>
          val (df, p) = timed("operators.plan")(SparkEntry.queries(op)(spark, dataDir))
          planS = p
          val (rows, e) = timed("operators.exec")(df.collect())
          execS = e
          // outside the timed window: the cold result goes to parquet as
          // graft.Verify writes it, for the repository's DuckDB check
          if (pass == "cold")
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.parquet(outDir.resolve("cold").resolve(op).toString)
          OpResult(op, pass, planS, execS, None, digest(df.columns, rows), "")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(2000)
        OpResult(op, pass, planS, execS, Some(msg), "", "")
    } finally spark.sparkContext.setLocalProperty(Harness.OpProperty, null)
  }

  /** Order-insensitive digest of a result, for the warm == cold check:
    * SHA-256 over the column names and the sorted row strings. */
  private def digest(columns: Array[String], rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(columns.mkString(",").getBytes("UTF-8"))
    rows.map(_.toString).sorted.foreach { r => md.update('\n'.toByte); md.update(r.getBytes("UTF-8")) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Expression-only projections over the corpus, to set against
    * sources.read_s: the read plus one custom codegen expression. */
  private def functionProbes(): Unit = if (kind == "docs") {
    for (fn <- Seq("char_class_counts", "letter_histogram")) {
      val t0 = System.nanoTime()
      DocSource.read(spark, dataDir, numFiles).select(expr(s"$fn(content)"))
        .write.format("noop").mode("overwrite").save()
      metrics(s"functions.${fn}_s") = (System.nanoTime() - t0) / 1e9
      BlockHygiene.free(spark, blocking = true)
    }
  }

  private def traceMetrics(builds: Map[String, Double], diskBytes: Long): Unit = {
    val mb = 1024.0 * 1024.0
    val cores = Runtime.getRuntime.availableProcessors
    val warmName = "warm2"
    val wall = passes.map(p => p._1 -> p._3).toMap
    val warmWall = wall(warmName)
    val pc = counters(warmName)
    val cold = counters("cold")
    val warmOps = results.filter(_.pass == warmName)

    metrics("entry.session_s") = spans.seconds("entry.session")
    metrics("entry.registry_s") = spans.seconds("entry.registry")
    metrics("entry.warmup_s") = spans.seconds("entry.warmup")

    val docsOps = warmOps.filter(_.op.startsWith("mr_")).map(_.op).toSet
    metrics("sources.read_s") = warmOps.filter(_.op == "mr_read").map(_.totalS).sum
    metrics("sources.list_s") = pc.listSpans.map { case (s, e) => (e - s) / 1e3 }.sum
    metrics("sources.list_tasks") = pc.listTasks
    metrics("sources.input_mb") =
      pc.inputBytesByOp.filter(kv => kind == "docs" && docsOps(kv._1)).values.sum / mb
    metrics("sources.write_s") =
      warmOps.filter(r => kind == "docs" && r.op != "mr_read").map(_.execS).sum
    if (kind != "docs") {
      metrics("functions.char_class_counts_s") = 0.0
      metrics("functions.letter_histogram_s") = 0.0
    }

    metrics("core.ingest_table_writes") = cold.tableWrites.size
    metrics("core.ingest_table_write_s") = cold.tableWrites.map { case (s, e) => (e - s) / 1e3 }.sum
    metrics("core.ingest_model_s") = builds.filter(_._1.startsWith("model:")).values.sum
    metrics("core.ingest_disk_mb") = diskBytes / mb
    metrics("core.buildlog_sum_s") = builds.values.sum
    metrics("core.scan_input_mb") =
      if (kind == "tables") pc.inputBytesByOp.values.sum / mb else 0.0

    metrics("operators.plan_s") = warmOps.map(_.planS).sum
    metrics("operators.exec_s") = warmOps.map(_.execS).sum

    metrics("spark.jobs") = pc.jobs
    metrics("spark.stages") = pc.stages
    metrics("spark.tasks") = pc.tasks
    metrics("spark.task_failures") = pc.taskFailures
    metrics("spark.executor_run_s") = pc.runMs / 1e3
    metrics("spark.executor_cpu_s") = pc.cpuNs / 1e9
    metrics("spark.gc_s") = pc.gcMs / 1e3
    metrics("spark.core_util") = pc.runMs / 1e3 / (cores * warmWall)
    metrics("spark.no_stage_s") = math.max(0.0, warmWall - unionSeconds(pc.stageSpans.toSeq))
    metrics("spark.shuffle_write_mb") = pc.shuffleWrite / mb
    metrics("spark.shuffle_read_mb") = pc.shuffleRead / mb
    metrics("spark.spill_mb") = pc.spill / mb
    metrics("spark.task_skew") =
      if (pc.stageSkews.isEmpty) 1.0 else pc.stageSkews.sum / pc.stageSkews.size
    // against the untraced passes on either side, so JIT warm-up still
    // speeding up successive passes does not read as a negative overhead
    metrics("trace_overhead") = warmWall / ((wall("warm1") + wall("warm3")) / 2) - 1.0
  }

  private def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var end = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (e > end) {
        covered += e - math.max(s, end)
        end = e
      }
    }
    covered / 1e3
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally walk.close()
    }

  /** Peak resident memory with the heap counted by occupancy: `VmHWM`
    * less the committed heap (fixed and pre-touched, so always resident in
    * full), plus the largest heap occupancy seen after a collection. The
    * fixed heap keeps the timings steady; this keeps the metric moving with
    * what the program retains on the heap. */
  private def peakRssMb(): Double = {
    val hwmKb = Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    val committed = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    (hwmKb * 1024.0 - committed + HeapPeak.bytes) / (1024.0 * 1024.0)
  }

  /** result.json: every operation run, the passes, the metrics, the oracle
    * SQL of each query, and the BuildLog entries the cold pass added. */
  private def write(builds: Map[String, Double]): Unit = {
    val opsJson = results.map { r =>
      Json.obj(Seq(
        "op" -> Json.str(r.op), "pass" -> Json.str(r.pass),
        "plan_s" -> Json.num(r.planS), "exec_s" -> Json.num(r.execS),
        "error" -> r.error.map(Json.str).getOrElse("null"),
        "digest" -> Json.str(r.digest),
        "value" -> Json.str(r.value)))
    }.mkString("[", ",", "]")
    val passJson = passes.map { case (p, t, s) =>
      Json.obj(Seq("pass" -> Json.str(p), "traced" -> t.toString, "seconds" -> Json.num(s)))
    }.mkString("[", ",", "]")
    val metricsJson = Json.obj(metrics.map { case (k, v) => k -> Json.num(v) })
    val oracle = if (kind == "tables") SparkEntry.oracleSql else Map.empty[String, String]
    val oracleJson = Json.obj(ops.map(op => op -> oracle.get(op).map(Json.str).getOrElse("null")))
    val body = Json.obj(Seq(
      "cores" -> Runtime.getRuntime.availableProcessors.toString,
      "passes" -> passJson, "ops" -> opsJson, "metrics" -> metricsJson,
      "oracle_sql" -> oracleJson,
      "cold_builds" -> Json.obj(builds.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })))
    Files.write(outDir.resolve("result.json"), body.getBytes("UTF-8"))
    Files.write(outDir.resolve("spans.jsonl"), spans.toJson.getBytes("UTF-8"))
  }
}

/** Largest heap occupancy after a garbage collection, from the collectors'
  * notifications; the current occupancy when no collection has run. */
object HeapPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peak = -1L

  def start(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    for (gc <- ManagementFactory.getGarbageCollectorMXBeans.asScala)
      gc.asInstanceOf[NotificationEmitter].addNotificationListener(
        (n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
              .getGcInfo.getMemoryUsageAfterGc.asScala
            val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { peak = math.max(peak, used) }
          },
        null, null)
  }

  def bytes: Long = synchronized {
    if (peak >= 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}
