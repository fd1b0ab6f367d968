package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.inmet.{Ingest, Pipeline, Warehouse}

/** JVM side of the benchmark: runs one workload against the compiled engine
  * and writes what it measured as one JSON object to `resultFile`.
  *
  * Usage: PerfBench <workload> <seconds> <trace 0|1> <inputDir> <workDir> <resultFile>
  *
  * Phases, in order:
  *  1. session start (timed from JVM start);
  *  2. `SetupReps` cold preparations, each on a fresh copy of the inputs, so
  *     every one starts without per-corpus state (index_lifecycle: every
  *     index built into the store; inmet_etl: the corpus listed);
  *  3. one untimed warm-up: for index_lifecycle, each registered query
  *     written once to `workDir/results` for the DuckDB oracle; for
  *     inmet_etl, one pass over the first ten stations;
  *  4. timed passes until `seconds` have elapsed (at least `MinPasses`);
  *     with tracing on, in `TracedOrder`: untraced passes, the same ops
  *     under a listener, and the per-step traced ops;
  *  5. the bypass checks and the on-disk size of what the workload wrote.
  * Untimed hygiene (Bench.cleanup's) runs before every op. */
object PerfBench {

  /** Read-only operator queries that run in index_lifecycle's pass after
    * the lifecycle queries; each must leave the index store untouched. */
  val OperatorQueries: Seq[String] =
    Seq("q_agg_pricing", "q_kmeans")
  /** Queries whose adaptive gate issues its own count job. */
  val GateQueries: Seq[String] = Seq("q_kmeans")
  val Lifecycle: Seq[String] = Seq(
    "q_dedup_index_append", "q_dedup_index_compact", "q_ann_ivf_serve",
    "q_contamination_serve")
  val Counters: Seq[String] =
    Seq("jobs", "tasks", "cpu_s", "gc_s", "input_mb", "shuffle_mb", "output_mb", "result_mb")

  val SetupReps = 3
  val MinPasses = 3
  /** Order of the passes in a traced run: two of each kind, palindromic so
    * that a drift in host speed during the run falls equally on the
    * untraced and the listened passes, with per-step passes at the ends,
    * where the first timed pass's extra cost lands. */
  val TracedOrder = Seq("steps", "plain", "listened", "listened", "plain", "steps")
  val SpanProp = "perfbench.span"

  def layerOf(span: String): String = span.takeWhile(_ != '.') match {
    case "ingest" => "inmet.Ingest"
    case "dsv2" => "sources.v2.InmetSource"
    case "pipeline" | "warehouse" => "inmet.Pipeline"
    case "query" => "operators"
    case "lifecycle" => "sources.IndexStore"
  }

  final case class Pass(wall: Double, cpu: Double, failed: Boolean)

  /** One timed unit of work; `check` runs untimed after it. */
  final case class Op(span: String, run: () => Unit, check: () => Boolean = () => true)

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS: Double = cpuBean.getProcessCpuTime / 1e9
  private def nowS: Double = System.nanoTime / 1e9
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Sums task metrics per span, for the spans tagged through [[SpanProp]]. */
  final class LayerListener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, String]
    val totals = new ConcurrentHashMap[String, Array[Double]]
    private def add(span: String, i: Int, v: Double): Unit = {
      val a = totals.computeIfAbsent(span, _ => new Array[Double](Counters.size))
      a.synchronized { a(i) += v }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).foreach { s =>
        e.stageIds.foreach(stageSpan.put(_, s))
        add(s, 0, 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) {
        add(s, 1, 1)
        add(s, 2, m.executorCpuTime / 1e9)
        add(s, 3, m.jvmGCTime / 1e3)
        add(s, 4, m.inputMetrics.bytesRead / 1e6)
        add(s, 5, m.shuffleWriteMetrics.bytesWritten / 1e6)
        add(s, 6, m.outputMetrics.bytesWritten / 1e6)
        add(s, 7, m.resultSize / 1e6)
      }
    }
  }

  def storeEntries(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val ls = Files.list(dir)
      try ls.iterator.asScala.filter(_.getFileName.toString.startsWith("graft_idx_")).toList
      finally ls.close()
    }

  /** (files, bytes) under `paths`. */
  def diskUsage(paths: Seq[Path]): (Long, Long) = {
    var files, bytes = 0L
    paths.filter(Files.exists(_)).foreach { p =>
      val w = Files.walk(p)
      try w.iterator.asScala.filter(Files.isRegularFile(_)).foreach { f =>
        files += 1
        bytes += Files.size(f)
      } finally w.close()
    }
    (files, bytes)
  }

  def copyDir(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val ls = Files.list(src)
    try ls.iterator.asScala.filter(Files.isRegularFile(_)).foreach { f =>
      Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
    } finally ls.close()
  }

  /** `{"k": 1, ...}` of whole numbers, as gen_inmet.py writes it. */
  def readCounts(p: Path): Map[String, Long] =
    "\"(\\w+)\":\\s*(-?\\d+)".r.findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsArg, traceArg, inputArg, workArg, resultFile) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val input = Paths.get(inputArg).toAbsolutePath
    val work = Paths.get(workArg).toAbsolutePath
    val store = Paths.get(System.getProperty("java.io.tmpdir"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val checks = mutable.LinkedHashMap[String, Boolean]()
    // the index store must be this run's own temp directory, beside
    // workDir, and empty: not a shared one that other processes have filled
    checks("store_isolated_and_empty") =
      store.toAbsolutePath.normalize.getParent == work.normalize.getParent && storeEntries(store).isEmpty

    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis - jvmStartMs) / 1e3

    var attempted, failed = 0
    val failures = mutable.ArrayBuffer[String]()
    def cleanup(): Unit = {
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.startsWith("graft_stream"))
        .foreach(t => spark.catalog.dropTempView(t.name))
      graft.PerfBenchHooks.releaseMaterialized()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    def storeState = { val e = storeEntries(store); (e.map(_.getFileName.toString).toSet, diskUsage(e)) }
    /** Runs `op` with hygiene first; returns (wall s, cpu s). A throw, a
      * failed check, or an operator query that changes the index store
      * counts against `attempted` and never stops the pass. */
    def exec(op: Op): (Double, Double) = {
      val h0 = nowS
      cleanup()
      val hygS = nowS - h0
      val storeBefore = if (op.span.startsWith("query.")) storeState else null
      attempted += 1
      spark.sparkContext.setLocalProperty(SpanProp, op.span)
      val (t0, c0) = (nowS, cpuS)
      val ok = try { op.run(); true } catch {
        case e: Throwable =>
          failures += s"${op.span}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          false
      }
      val res = (nowS - t0, cpuS - c0)
      System.err.println(f"[perfbench] ${op.span}%-40s ${res._1}%.3f s (hygiene $hygS%.3f s)")
      spark.sparkContext.setLocalProperty(SpanProp, null)
      if (ok && storeBefore != null && storeState != storeBefore) {
        failures += s"${op.span}: changed the index store"
        failed += 1
      } else if (ok && !(try op.check() catch { case _: Throwable => false })) {
        failures += s"${op.span}: result check failed"
        failed += 1
      } else if (!ok) failed += 1
      res
    }

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    lazy val queries = SparkEntry.queries
    def queryOps(names: Seq[String], prefix: String, dir: () => String): Seq[Op] =
      names.map(n => Op(s"$prefix.$n", () => noop(queries(n)(spark, dir()))))

    // ------------------------------------------------------------ workloads
    val corpora = (0 until SetupReps).map(r => work.resolve(s"corpus$r"))
    var corpus: Path = corpora.last
    def cur = corpus.toString
    val out = work.resolve("out")
    val stageDir = out.resolve("stage").toString
    val anDir = out.resolve("analytic").toString
    val expected = if (workload == "inmet_etl") readCounts(input.resolve("expected.json")) else Map.empty[String, Long]
    // the INMET warm-up reads only the first ten stations: a full-corpus
    // warm-up cost about 8 s more per run and still left the first timed
    // pass some 13 % slower than the rest (30 % after the partial one)
    var stations = "*"
    def glob = s"$cur/INMET_B$stations.csv"
    def rowCount(p: String): Long = spark.read.parquet(p).count()
    def expect(pairs: (String, String)*): () => Boolean = () =>
      pairs.forall { case (dir, key) => rowCount(dir) == expected(key) }
    val stageChecks = Seq(s"$stageDir/previsoes" -> "stage_rows", s"$stageDir/cidades" -> "stations")
    val analyticChecks = Seq(s"$stageDir/datas" -> "days",
      s"$anDir/dim_cidade_atributos" -> "stations",
      s"$anDir/fato_agg_previsoes_dia" -> "daily_rows",
      s"$anDir/cidade_kpis_mensal" -> "kpi_rows")

    def dsv2Rollup(): DataFrame =
      spark.read.format("graft.sources.v2.InmetSource").load(glob)
        .groupBy("wmo", "data_medicao")
        .agg(count(lit(1)).as("n"), sum("precipitacao_mm").as("precip"),
          min("temperatura_c").as("t_min"), max("temperatura_c").as("t_max"))
    var rollup: org.apache.spark.sql.Row = null
    val dsv2Op = Op("dsv2.rollup",
      () => rollup = dsv2Rollup().agg(count(lit(1)), sum("n"), sum("precip")).collect().head,
      () => rollup.getLong(0) == expected("daily_rows") &&
        rollup.getLong(1) == expected("stage_rows") &&
        math.round(rollup.getDouble(2) * 10) == expected("precip_tenths"))

    // the traced INMET pass: Pipeline.run's steps one by one, each forced
    var lines, cid, prev, dim, fato: DataFrame = null
    def write(df: DataFrame, p: String): Unit = df.write.mode("overwrite").parquet(p)
    val inmetTraced = Seq(
      Op("ingest.read_lines", () => { lines = Ingest.readLines(spark, glob); noop(lines) }),
      Op("ingest.column_index", () => noop(Ingest.fileColumnIndex(spark, lines))),
      Op("ingest.cidades", () => { cid = Ingest.cidades(Ingest.stationHeadersRaw(lines)); noop(cid) }),
      Op("ingest.previsoes", () => { prev = Ingest.previsoes(spark, lines); noop(prev) }),
      Op("ingest.datas", () => noop(Ingest.datas(prev))),
      Op("pipeline.stage_write", () => {
        write(cid, s"$stageDir/cidades"); write(prev, s"$stageDir/previsoes")
      }, expect(stageChecks: _*)),
      Op("pipeline.datas_write", () =>
        write(Ingest.datas(spark.read.parquet(s"$stageDir/previsoes")), s"$stageDir/datas"),
        expect(analyticChecks.head)),
      Op("warehouse.dim", () => {
        dim = Warehouse.dimCidadeAtributos(spark.read.parquet(s"$stageDir/cidades"))
        write(dim, s"$anDir/dim_cidade_atributos")
      }, expect(analyticChecks(1))),
      Op("warehouse.fato_dia", () => {
        fato = Warehouse.fatoAggPrevisoesDia(spark.read.parquet(s"$stageDir/previsoes"), dim)
        write(fato, s"$anDir/fato_agg_previsoes_dia")
      }, expect(analyticChecks(2))),
      Op("warehouse.kpis_mensal", () =>
        write(Warehouse.cidadeKpisMensal(fato, dim, spark.read.parquet(s"$stageDir/datas")),
          s"$anDir/cidade_kpis_mensal"), expect(analyticChecks(3))),
      dsv2Op)

    val (untracedOps, tracedOps, prepare, checkNames, outPaths): (
      Seq[Op], Seq[Op], () => Unit, Seq[String], () => Seq[Path]) = workload match {
      case "inmet_etl" =>
        val ops = Seq(
          Op("pipeline.run", () => Pipeline.run(spark, glob, stageDir, anDir),
            expect(stageChecks ++ analyticChecks: _*)),
          dsv2Op)
        (ops, inmetTraced,
          () => spark.read.text(glob).inputFiles,
          Nil, () => Seq(out))
      case "index_lifecycle" =>
        val ops = queryOps(Lifecycle, "lifecycle", () => cur) ++
          queryOps(OperatorQueries, "query", () => cur)
        def tags = Seq("documents", "embeddings").map(t => graft.sources.FixtureCache.sourceTag(cur, t))
        (ops, ops,
          () => Lifecycle.foreach(n => queries(n)(spark, cur)),
          Lifecycle ++ OperatorQueries,
          () => storeEntries(store).filter(p => tags.exists(p.getFileName.toString.endsWith)))
      case w => sys.error(s"unknown workload $w")
    }

    // ------------------------------------------------------------ set-up
    val prepS = corpora.map { c =>
      copyDir(input, c)
      corpus = c
      cleanup()
      val t0 = nowS
      try prepare() catch {
        case e: Throwable =>
          attempted += 1; failed += 1
          failures += s"setup: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      nowS - t0
    }
    val buildsPerSetup = graft.PerfBenchHooks.indexBuilds / SetupReps
    val (setupFiles, setupBytes) = diskUsage(outPaths())
    val setupS = sessionS + median(prepS)
    System.err.println(f"[perfbench] session $sessionS%.2f s, prep ${prepS.mkString(" ")}")
    // warm-up: the query workloads' oracle dumps double as their first
    // execution; the INMET workload runs one untimed pass
    val results = work.resolve("results")
    val warm0 = nowS
    checkNames.foreach { n =>
      exec(Op(s"check.$n", () =>
        queries(n)(spark, cur).coalesce(1).write.mode("overwrite").parquet(results.resolve(n).toString)))
    }
    if (checkNames.nonEmpty) {
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => checkNames.contains(k) }
      Files.writeString(results.resolve("oracle_sql.json"), json(oracle))
    } else {
      stations = "000?"
      (untracedOps ++ (if (trace) tracedOps else Nil)).foreach(op => exec(op.copy(check = () => true)))
      stations = "*"
    }
    val warmupS = nowS - warm0

    // ------------------------------------------------------------ timed passes
    // An untraced run has only plain passes: the untraced ops. A traced run
    // adds listened passes (the same ops, span-tagged, under a listener whose
    // counts are dropped: the tracing-overhead pass) and per-step passes
    // (the traced ops under the listener that gives the per-layer counters
    // and span times).
    val listener = new LayerListener
    val order = if (trace) TracedOrder else Seq.fill(MinPasses)("plain")
    val passes = mutable.ArrayBuffer[Pass]()
    val listenedPasses = mutable.ArrayBuffer[Double]()
    var countedPasses = 0
    val spanTimes = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def underListener(l: LayerListener, ops: Seq[Op]): Seq[(String, Double)] = {
      spark.sparkContext.addSparkListener(l)
      try ops.map(op => op.span -> exec(op)._1) finally {
        org.apache.spark.PerfBenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
    }
    val t0 = nowS
    var i = 0
    while (nowS - t0 < seconds || i < order.size) {
      order(i % order.size) match {
        case "plain" =>
          val failedBefore = failed
          val r = untracedOps.map(exec)
          passes += Pass(r.map(_._1).sum, r.map(_._2).sum, failed > failedBefore)
        case "listened" =>
          listenedPasses += underListener(new LayerListener, untracedOps).map(_._2).sum
        case "steps" =>
          underListener(listener, tracedOps).foreach { case (s, t) =>
            spanTimes.getOrElseUpdate(s, mutable.ArrayBuffer()) += t
          }
          countedPasses += 1
      }
      i += 1
    }
    val timedS = nowS - t0

    // ------------------------------------------------------------ checks
    val (outFiles, outBytes) = diskUsage(outPaths())
    if (workload == "inmet_etl") checks("store_empty_at_end") = storeEntries(store).isEmpty
    spark.stop()

    // ------------------------------------------------------------ report
    // a pass with a failed op ranks as slowest, so a failure never makes
    // the median faster; if failed passes hold the median, report the
    // slowest pass measured
    def passMedian(f: Pass => Double): Double = {
      val m = median(passes.map(p => if (p.failed) Double.PositiveInfinity else f(p)).toSeq)
      if (m.isInfinite) passes.map(f).max else m
    }
    val wall = passes.map(_.wall).toSeq
    val e2e = mutable.LinkedHashMap[String, Double](
      "pass_s" -> passMedian(_.wall),
      "setup_s" -> setupS,
      "out_mb" -> outBytes / 1e6)
    val layer = mutable.LinkedHashMap[String, Double]()
    if (trace) {
      val n = countedPasses.toDouble
      spanTimes.foreach { case (s, ts) =>
        layer(s + "_s") = median(ts.toSeq)
      }
      val byLayer = mutable.Map[String, Array[Double]]()
      listener.totals.asScala.foreach { case (s, a) =>
        val acc = byLayer.getOrElseUpdate(layerOf(s), new Array[Double](Counters.size))
        a.indices.foreach(j => acc(j) += a(j) / n)
        if (s.startsWith("query.") && GateQueries.contains(s.stripPrefix("query.")))
          layer(s"$s.jobs") = a(0) / n
      }
      byLayer.foreach { case (l, a) => Counters.zip(a).foreach { case (c, v) => layer(s"$l.$c") = v } }
      if (workload == "index_lifecycle") {
        layer("store.files") = setupFiles.toDouble
        layer("store.mb_written") = setupBytes / 1e6
        layer("store.snapshots_built") = buildsPerSetup.toDouble
      }
      layer("trace_overhead_pct") = (median(listenedPasses.toSeq) / median(wall) - 1) * 100
      // process CPU of the untraced passes: on a shared host its run-to-run
      // spread exceeds any end-to-end bound, so it is reported here, unbounded
      layer("pass_cpu_s") = passMedian(_.cpu)
    }
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "checks" -> checks, "passes" -> wall.size, "listened_passes" -> listenedPasses.size,
      "pass_times" -> wall, "prep_s" -> prepS, "session_s" -> sessionS,
      "warmup_s" -> warmupS, "timed_s" -> timedS, "out_files" -> outFiles,
      "end_to_end" -> e2e, "per_layer" -> layer)
    Files.writeString(Paths.get(resultFile), json(report) + "\n")
  }
}
