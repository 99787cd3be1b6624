package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{CacheHygiene, GraftSession, SparkEntry, Tables}
import graft.sources.JsonArraySink
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{CodegenSupport, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark process: builds the session, runs `warmups` untimed
  * passes, then `passes` timed passes of the workload's operations, and
  * writes a JSON record. With tracing on, as many traced passes follow with
  * the listeners below registered, and the layer probes run after them.
  *
  * Usage: PerfBench <workload> <dataDir> <outDir> <passes> <trace 0|1> <cpus> <warmups>
  */
object PerfBench {

  /** `build` is the construct phase (for the engine's iterative queries it
    * runs eager jobs), `act` the execute phase; `layer` groups operations
    * for the per-layer split.
    */
  final case class Op(name: String, layer: String, build: () => DataFrame,
                      act: DataFrame => Result = collectAll)
  final case class Result(rows: Array[Row], schema: StructType)

  private def collectAll(df: DataFrame): Result = Result(df.collect(), df.schema)
  private def countOnly(df: DataFrame): Result =
    Result(Array(Row(df.collect().length.toLong)),
      StructType(Seq(StructField("n", LongType))))

  // each query costs about a second per pass on a 4-core host whatever the
  // input size, so the set is cut to the queries that carry the corpus
  // layers (README.md, "Queries")
  val corpusQueries = Seq("q75_minhash_lsh", "q76_simhash",
    "q220_countmin_sketch", "q387_bleu_stats", "q201_importance_weights",
    "q85_dedup_components")

  // ------------------------------------------------------------------
  // article ETL: the reference pipeline through the V2 connector

  val ieeeCols = Seq("journal", "indexation", "publication", "doi", "titre",
    "chercheurs", "laboratoires", "abstract", "keywords", "pays", "quartile")
  private val countries = Seq("China", "India", "United States", "Germany",
    "France", "Japan", "Australia", "Canada")
  private val quartiles = Seq(("KDD", "Q1"), ("ICSE", "Q1"), ("CHI", "Q1"),
    ("ICMLT", "Q2"), ("ICDCN", "Q2"), ("TEI", "Q2"), ("ACM REP", "Q3"))

  def articleOps(spark: SparkSession, dataDir: String, outDir: String): Seq[Op] = {
    def scan(): DataFrame = spark.read.format("graft.sources.ArticleSourceV2")
      .option("dataDir", dataDir).load()
    def firstCountry(src: org.apache.spark.sql.Column) =
      countries.foldLeft(lit(null).cast("string")) { (acc, c) =>
        coalesce(acc, when(src.contains(c), lit(c)))
      }
    // the 11/9-column union projection with every enrichment column
    def enriched(): DataFrame = scan()
      .withColumn("bare_doi",
        regexp_replace(col("doi"), "^(DOI: |https://doi\\.org/)", ""))
      .withColumn("registrant", regexp_extract(col("bare_doi"), "^(10\\.[0-9]+)", 1))
      .withColumn("authors", split(col("chercheurs"), "; "))
      .withColumn("pays_extracted", coalesce(firstCountry(col("laboratoires")),
        firstCountry(col("abstract")), lit("(unknown)")))
      .withColumn("acro", regexp_extract(col("journal"), "^(.*?) '[0-9]+:", 1))
    val dim = spark.createDataFrame(quartiles).toDF("acro", "quartile_rank")
    val v2Out = s"$outDir/v2_write"
    val arrayOut = s"$outDir/array_sink.json"
    Seq(
      Op("scan_profile", "scan", () => scan().groupBy(col("indexation"))
        .agg(count(lit(1)).as("n"), ieeeCols.map(c => count(col(c)).as(s"n_$c")): _*)),
      Op("count_by_indexation", "pushdown",
        () => scan().groupBy(col("indexation")).agg(count(lit(1)).as("n"))),
      Op("filter_acm_doi", "pushdown", () => scan()
        .filter(col("indexation") === "ACM" && col("doi").isNotNull)
        .select(col("doi"), col("titre")), countOnly),
      Op("contains_china", "pushdown", () => scan()
        .filter(col("abstract").contains("China")).select(col("doi")), countOnly),
      Op("limit_1000", "pushdown", () => scan().select(col("titre")).limit(1000),
        countOnly),
      Op("doi_registrants", "enrich", () => enriched()
        .filter(col("doi").isNotNull)
        .groupBy(col("indexation"), col("registrant"))
        .agg(count(lit(1)).as("n"), countDistinct(col("bare_doi")).as("n_distinct"))),
      Op("top_authors", "enrich", () => enriched()
        .select(explode(col("authors")).as("author"))
        .filter(col("author") =!= "")
        .groupBy(col("author")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("author")).limit(10)),
      Op("countries", "enrich", () => enriched()
        .groupBy(col("pays_extracted")).agg(count(lit(1)).as("n"))),
      Op("quartiles", "enrich", () => enriched()
        .filter(col("journal").isNotNull)
        .join(broadcast(dim), Seq("acro"), "left")
        .groupBy(coalesce(col("quartile_rank"), lit("(unranked)")).as("q"))
        .agg(count(lit(1)).as("n"), countDistinct(col("acro")).as("n_venues"))),
      Op("v2_write", "write", () => scan(), df => {
        df.write.format("graft.sources.ArticleSourceV2").option("path", v2Out)
          .mode("overwrite").save()
        Result(Array.empty, new StructType())
      }),
      Op("array_sink", "array_sink", () => scan(), df => {
        JsonArraySink.write(df, ieeeCols, arrayOut)
        Result(Array.empty, new StructType())
      }))
  }

  def queryOps(names: Seq[String], layer: String, spark: SparkSession,
               dataDir: String): Seq[Op] = {
    val qs = SparkEntry.queries
    names.map(n => Op(n, layer, () => qs(n)(spark, dataDir)))
  }

  // ------------------------------------------------------------------
  // tracing: Spark task listener, query-execution listener, plan census

  final class ExecCounters extends SparkListener {
    val jobs, stages, tasks, taskMs, taskCpuNs, shuffleWrite, shuffleRead,
      spill, scan = new AtomicLong
    val peakExecMem = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        scan.addAndGet(m.inputMetrics.bytesRead)
        peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
  }

  final class PlanCounters extends QueryExecutionListener {
    val analysisMs, optimizeMs, physicalMs, exchanges, reused, broadcasts,
      smj, shj, bhj, fallbacks = new AtomicLong
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      analysisMs.addAndGet(ms("analysis"))
      optimizeMs.addAndGet(ms("optimization"))
      physicalMs.addAndGet(ms("planning"))
      census(qe.executedPlan, inCodegen = false)
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

    private def census(p: SparkPlan, inCodegen: Boolean): Unit = {
      p.expressions.foreach(_.foreach {
        case _: CodegenFallback => fallbacks.incrementAndGet()
        case _ =>
      })
      p match {
        case a: AdaptiveSparkPlanExec => census(a.executedPlan, inCodegen)
        case s: QueryStageExec => census(s.plan, inCodegen = false)
        case w: WholeStageCodegenExec => census(w.child, inCodegen = true)
        case i: InputAdapter => census(i.child, inCodegen = false)
        case _: ReusedExchangeExec => reused.incrementAndGet()
        case _ =>
          p match {
            case _: ShuffleExchangeExec => exchanges.incrementAndGet()
            case _: BroadcastExchangeExec => broadcasts.incrementAndGet()
            case _: SortMergeJoinExec => smj.incrementAndGet()
            case _: ShuffledHashJoinExec => shj.incrementAndGet()
            case _: BroadcastHashJoinExec => bhj.incrementAndGet()
            case c: CodegenSupport if !inCodegen && c.supportCodegen &&
                !c.isInstanceOf[BatchScanExec] => fallbacks.incrementAndGet()
            case _ =>
          }
          p.children.foreach(census(_, inCodegen))
      }
      p.subqueries.foreach(census(_, inCodegen = false))
    }
  }

  /** Largest heap in use just after a collection, over the collections since
    * the last `reset`: the heap the program keeps live, which the resident
    * set under a fixed heap does not show (G1 grows into the whole heap). */
  final class LiveHeap extends NotificationListener {
    private val peak = new AtomicLong
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc
        peak.accumulateAndGet(after.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum, math.max)
      }
    def reset(): Unit = peak.set(0L)
    def mb: Double = peak.get / 1048576.0
  }

  /** Rows leaving the V2 scan nodes of an executed DataFrame. */
  def scanRows(df: DataFrame): Long = {
    def walk(p: SparkPlan): Long = (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case b: BatchScanExec => b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ => 0L
    }) + p.children.map(walk).sum
    walk(df.queryExecution.executedPlan)
  }

  // ------------------------------------------------------------------

  private def now(): Double = System.nanoTime() / 1e9
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds(): Double = osBean.getProcessCpuTime / 1e9
  private def gc(): (Double, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum / 1e3, bs.map(_.getCollectionCount).sum)
  }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Everything measured in one pass; `counters` is filled in traced passes. */
  final class Pass {
    var wall, cpu = 0.0
    val construct, execute = mutable.LinkedHashMap.empty[String, Double]
    var release, gcS, steal = 0.0
    var gcCount = 0L
    val counters = mutable.LinkedHashMap.empty[String, Double]
    val results = mutable.LinkedHashMap.empty[String, Result]
    val errors = mutable.LinkedHashMap.empty[String, String]
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, passesArg, traceArg, cpus, warmups) = args
    val passes = passesArg.toInt
    val trace = traceArg == "1"

    val t0 = now()
    val spark = GraftSession.get(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = now() - t0

    val ops = workload match {
      case "article_etl" => articleOps(spark, dataDir, outDir)
      case "corpus_mix" => queryOps(corpusQueries, "query", spark, dataDir)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val sc = spark.sparkContext
    val exec = new ExecCounters
    val plans = new PlanCounters
    var traced = false

    def snapshot(): Map[String, Double] = if (!traced) Map.empty else {
      org.apache.spark.perfbench.BusDrain(sc)
      Map(
        "exec.jobs" -> exec.jobs.get.toDouble,
        "exec.stages" -> exec.stages.get.toDouble,
        "exec.tasks" -> exec.tasks.get.toDouble,
        "exec.task_s" -> exec.taskMs.get / 1e3,
        "exec.task_cpu_s" -> exec.taskCpuNs.get / 1e9,
        "exec.shuffle_write_mb" -> exec.shuffleWrite.get / 1048576.0,
        "exec.shuffle_read_mb" -> exec.shuffleRead.get / 1048576.0,
        "exec.spill_mb" -> exec.spill.get / 1048576.0,
        "exec.scan_mb" -> exec.scan.get / 1048576.0,
        "plans.analysis_s" -> plans.analysisMs.get / 1e3,
        "plans.optimize_s" -> plans.optimizeMs.get / 1e3,
        "plans.physical_s" -> plans.physicalMs.get / 1e3,
        "plans.exchanges" -> plans.exchanges.get.toDouble,
        "plans.reused_exchanges" -> plans.reused.get.toDouble,
        "plans.broadcast_exchanges" -> plans.broadcasts.get.toDouble,
        "plans.smj" -> plans.smj.get.toDouble,
        "plans.shj" -> plans.shj.get.toDouble,
        "plans.bhj" -> plans.bhj.get.toDouble,
        "plans.codegen_fallbacks" -> plans.fallbacks.get.toDouble)
    }

    def runPass(): Pass = {
      val p = new Pass
      val before = snapshot()
      exec.peakExecMem.set(0L)
      val (gc0, gcn0) = gc()
      var constructJobs = 0L
      var scanRowsSum, pushdownRows = 0L
      val s0 = stealTicks()
      val c0 = cpuSeconds()
      val w0 = now()
      ops.foreach { op =>
        try {
          val j0 = if (traced) { org.apache.spark.perfbench.BusDrain(sc); exec.jobs.get } else 0L
          val a = now()
          val df = op.build()
          val b = now()
          if (traced) { org.apache.spark.perfbench.BusDrain(sc); constructJobs += exec.jobs.get - j0 }
          val r = op.act(df)
          val c = now()
          p.construct(op.name) = b - a
          p.execute(op.name) = c - b
          p.results(op.name) = r
          if (traced && op.layer == "scan") scanRowsSum += scanRows(df)
          if (traced && op.layer == "pushdown") pushdownRows += scanRows(df)
        } catch {
          case scala.util.control.NonFatal(e) =>
            p.errors(op.name) = s"${e.getClass.getName}: ${e.getMessage}".take(400)
        }
        val r0 = now()
        CacheHygiene.release(spark)
        p.release += now() - r0
      }
      p.wall = now() - w0
      p.cpu = cpuSeconds() - c0
      val s1 = stealTicks()
      p.steal = if (s1._2 > s0._2) (s1._1 - s0._1).toDouble / (s1._2 - s0._2) else 0.0
      val (gc1, gcn1) = gc()
      p.gcS = gc1 - gc0
      p.gcCount = gcn1 - gcn0
      if (traced) {
        val after = snapshot()
        after.foreach { case (k, v) => p.counters(k) = v - before(k) }
        p.counters("exec.peak_exec_mem_mb") = exec.peakExecMem.get / 1048576.0
        p.counters("operators.construct_jobs") = constructJobs.toDouble
        p.counters("sources.scan_rows") = scanRowsSum.toDouble
        p.counters("sources.pushdown_rows_emitted") = pushdownRows.toDouble
      }
      p
    }

    // warm-up: first codegen, JIT, parquet footers; counted in setup
    (1 to warmups.toInt).foreach(_ => runPass())
    val firstPassEpoch = System.currentTimeMillis() / 1e3
    val liveHeap = new LiveHeap
    val untraced = mutable.ArrayBuffer.empty[Pass]
    val tracedPasses = mutable.ArrayBuffer.empty[Pass]
    // a traced run splits its passes: plain first, then traced
    val plain = if (trace) math.max(2, passes / 2) else passes
    (1 to plain).foreach(_ => untraced += runPass())
    val liveHeapMb = liveHeap.mb
    var tracedLiveHeapMb = 0.0
    if (trace) {
      liveHeap.reset()
      sc.addSparkListener(exec)
      spark.listenerManager.register(plans)
      traced = true
      (1 to plain).foreach(_ => tracedPasses += runPass())
      tracedLiveHeapMb = liveHeap.mb
      traced = false
      spark.listenerManager.unregister(plans)
      sc.removeSparkListener(exec)
    }
    val measured = (untraced ++ tracedPasses).toSeq
    val peakRssMb = vmHwmMb()
    val nonHeapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getUsage.getUsed).sum / 1048576.0

    // outputs of the final pass, written after the timed window for checking
    val last = measured.last
    last.results.foreach { case (name, r) =>
      if (r.schema.nonEmpty)
        spark.createDataFrame(java.util.Arrays.asList(r.rows: _*), r.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/results/$name")
    }
    val oracle = SparkEntry.oracleSql
    val oracleJson = ops.map(_.name).filter(oracle.contains)
      .map(n => s"${q(n)}: ${q(oracle(n))}").mkString("{", ", ", "}")

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      layers ++= traceLayers(spark, workload, dataDir, outDir, ops, untraced.toSeq,
        tracedPasses.toSeq, sessionStart, tracedLiveHeapMb)
    }
    // failed operations: every execution of an op that threw, in any pass
    val errors = measured.flatMap(_.errors.keys)
    val errorText = measured.flatMap(_.errors).toMap
    val rec = new StringBuilder
    rec ++= "{"
    rec ++= s""""workload": ${q(workload)}, "first_pass_epoch": $firstPassEpoch, """
    rec ++= s""""session_start_s": $sessionStart, "peak_rss_mb": $peakRssMb, """
    rec ++= s""""live_heap_mb": $liveHeapMb, "nonheap_mb": $nonHeapMb, """
    rec ++= s""""ops": ${ops.map(o => q(o.name)).mkString("[", ", ", "]")}, """
    rec ++= s""""passes": ${measured.size}, """
    rec ++= s""""pass_s": ${untraced.map(_.wall).mkString("[", ", ", "]")}, """
    rec ++= s""""cpu_s": ${untraced.map(_.cpu).mkString("[", ", ", "]")}, """
    rec ++= s""""steal": ${untraced.map(_.steal).mkString("[", ", ", "]")}, """
    rec ++= s""""op_s": ${ops.map(o => s"${q(o.name)}: ${median(untraced.flatMap(p =>
      p.construct.get(o.name).zip(p.execute.get(o.name)).map(t => t._1 + t._2)).toSeq)}")
      .mkString("{", ", ", "}")}, """
    rec ++= s""""failed_ops": ${errors.map(q).mkString("[", ", ", "]")}, """
    rec ++= s""""errors": ${errorText.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")}, """
    rec ++= s""""oracle_sql": $oracleJson, """
    rec ++= s""""layers": ${layers.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")}"""
    rec ++= "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/record.json"), rec.toString)
    spark.stop()
  }

  private def traceLayers(spark: SparkSession, workload: String, dataDir: String,
                          outDir: String, ops: Seq[Op], untraced: Seq[Pass],
                          traced: Seq[Pass], sessionStart: Double, liveHeapMb: Double)
      : mutable.LinkedHashMap[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def med(f: Pass => Double) = median(traced.map(f))
    m("session.start_s") = sessionStart
    m("trace.overhead_s") = median(traced.map(_.wall)) - median(untraced.map(_.wall))
    m("operators.construct_s") = med(_.construct.values.sum)
    m("hygiene.release_s") = med(_.release)
    traced.head.counters.keys.foreach(k => m(k) = med(_.counters(k)))
    ops.filter(_.layer == "query").foreach { o =>
      m(s"${o.name}.construct_s") = med(_.construct.getOrElse(o.name, 0.0))
      m(s"${o.name}.execute_s") = med(_.execute.getOrElse(o.name, 0.0))
    }
    def layerS(layer: String) = med(p => ops.filter(_.layer == layer)
      .map(o => p.construct.getOrElse(o.name, 0.0) + p.execute.getOrElse(o.name, 0.0)).sum)
    if (workload == "article_etl") {
      m("sources.scan_s") = layerS("scan")
      m("sources.pushdown_s") = layerS("pushdown")
      m("sources.write_s") = layerS("write")
      m("sources.array_sink_s") = layerS("array_sink")
      def mb(f: java.io.File): Double =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(mb).sum
        else f.length / 1048576.0
      m("sources.read_mb") = mb(new java.io.File(dataDir))
      m("sources.write_mb") = mb(new java.io.File(s"$outDir/v2_write"))
      m("sources.array_sink_mb") = mb(new java.io.File(s"$outDir/array_sink.json"))
    }
    m("jvm.gc_s") = med(_.gcS)
    m("jvm.gc_count") = med(_.gcCount.toDouble)
    m("jvm.jit_s") = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    m("jvm.heap_peak_mb") = liveHeapMb
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    m("codegen.classes") = cg.getCount.toDouble
    m("codegen.compile_s") = cg.getCount * cg.getSnapshot.getMean / 1e3
    if (workload == "corpus_mix") m ++= kernelProbes(spark, dataDir)
    m
  }

  /** One kernel projected over the documents (repeated so the kernel, not
    * task overhead, dominates) into a noop sink; median of three runs.
    */
  private def kernelProbes(spark: SparkSession, dataDir: String)
      : Seq[(String, Double)] = {
    val docs = Tables.documents(spark, dataDir).crossJoin(spark.range(20).toDF("rep"))
      .select(split(col("text"), " ").as("t"), col("text"))
    val probes = Seq(
      "minhash" -> docs.select(expr("graft_minhash(t, 16)")),
      "simhash" -> docs.select(expr("graft_simhash(t, 32)")),
      "cms" -> docs.select(explode(col("t")).as("w")).select(expr("graft_cms(w)")),
      "bleu_clip" -> docs.select(col("t").as("r"))
        .select(expr("graft_bleu_clip(filter(r, (x, i) -> (i + 1) % 7 != 0), r)")),
      "md5_hex_bits" -> docs.select(
        expr("CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)")))
    probes.flatMap { case (name, df) =>
      df.write.format("noop").mode("overwrite").save()
      val ts = (1 to 3).map { _ =>
        val a = now()
        df.write.format("noop").mode("overwrite").save()
        now() - a
      }
      Seq(s"functions.${name}_s" -> median(ts),
        s"functions.${name}_rows" -> df.count().toDouble)
    }
  }

  /** (steal, total) jiffies summed over the host's cpus; /proc/stat is only read. */
  private def stealTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } finally src.close()
  }

  private def vmHwmMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally status.close()
  }

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
