package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.SparkEntry
import graft.core.{Catalog, DataTests, EngineDefaults, ModelRunner}

/** Minimal JSON writing; the harness only emits numbers, strings,
  * arrays and objects.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** One timed public call: which pass and stage it belonged to, its wall
  * time, the rows a warm query returned (-1 otherwise), and the error
  * that failed it, if any.
  */
final case class Op(pass: Int, stage: String, name: String, seconds: Double,
    rows: Long, error: Option[String])

/** Runs one workload in one JVM: set-up several times, measured passes
  * for a fixed time, leak stamps, then the output dumps the checker
  * compares. Writes `result.json` (and `spans.json` when traced) into
  * the output directory.
  *
  *   perfbench.Main <workload> <dataDir> <outDir> <seconds> <trace 0|1>
  *     <seed> <cpus> <setups>
  */
object Main {
  val Relational: Seq[String] = Seq("q1_agg", "q3_join_agg", "q38_events_window")

  val LlmStages: Seq[(String, Seq[String])] = Seq(
    "text" -> Seq("t1_langid", "t5_pii_scrub", "t16_char_entropy"),
    "dedup" -> Seq("d1_dedup_exact", "d4_dedup_simhash"),
    "search" -> Seq("s1_ann_brute", "t17_bm25"))

  /** Recall gates run once per invocation as output checks. */
  val RecallGates: Seq[String] = Seq("s3b_ivf_recall_gate")

  /** Warm passes per run: enough that a warm figure is a median of
    * several seconds of work (an llm_curation pass is the shorter one).
    */
  val WarmPasses: Map[String, Int] = Map("warehouse" -> 1, "llm_curation" -> 2)

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsArg, traceArg, seedArg,
      cpusArg, setupsArg) = args
    new Run(workload, dataDir, Paths.get(outDir), secondsArg.toDouble,
      traceArg == "1", seedArg.toLong, cpusArg.toInt, setupsArg.toInt).run()
  }
}

final class Run(workload: String, dataDir: String, out: Path, seconds: Double,
    trace: Boolean, seed: Long, cpus: Int, setups: Int) {
  import Main._

  private val ops = mutable.ArrayBuffer[Op]()
  private val setupTimes = mutable.ArrayBuffer[Map[String, Double]]()
  private val passes = mutable.ArrayBuffer[(Int, Boolean, Long, Long, Double, Double)]()
  private val planCounts = mutable.Map[Int, mutable.Map[String, Long]]()
  private val cachePeak = mutable.Map[String, Long]().withDefaultValue(0L)
  private val extra = mutable.LinkedHashMap[String, String]()
  private var tracer: Option[Tracer] = None
  private var traced = false
  private var spark: SparkSession = _

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def span[A](name: String, layer: String)(body: => A): A =
    tracer match {
      case Some(t) if traced => t.span(name, layer)(body)
      case _ => body
    }

  /** Build the session the way graft's entry points do, register the
    * inputs through the catalog's read side, and warm up with a scan of
    * the largest input table.
    */
  private def setup(): Unit = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    val t0 = System.nanoTime()
    spark = EngineDefaults.scaled(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString), dataDir, cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    val src = new Catalog(spark, "file:" + dataDir)
    src.registerAll()
    src.catalogTable().collect()
    val t2 = System.nanoTime()
    val largest = src.listRelations("").maxBy(t =>
      src.fs.getContentSummary(src.relationPath("", t)).getLength)
    spark.sql(s"SELECT count(*) FROM $largest").collect()
    val t3 = System.nanoTime()
    setupTimes += Map("total" -> (t3 - t0) / 1e9, "session" -> (t1 - t0) / 1e9,
      "register" -> (t2 - t1) / 1e9, "warmup" -> (t3 - t2) / 1e9)
  }

  /** One measured public call; a throw counts the op as failed. */
  private def op(pass: Int, stage: String, name: String)(body: => Long): Unit = {
    val t0 = System.nanoTime()
    var rows = -1L
    val err = try { rows = span(name, "call")(body); None } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    ops += Op(pass, stage, name, secs(t0), rows, err)
    err.foreach(e => System.err.println(s"[perfbench] $name failed: $e"))
  }

  /** Build, plan and execute one query key. Warm passes run the full
    * physical plan through `toRdd.count()`, the action graft's own bench
    * uses. The cold pass instead writes the result as one parquet file
    * for the output check, so every key's first execution is the one
    * checked.
    */
  private def query(pass: Int, stage: String, key: String): Unit = {
    var df: DataFrame = null
    op(pass, stage, key) {
      df = span("build", "queries.build") { SparkEntry.queries(key)(spark, dataDir) }
      span("plan", "queries.plan") { df.queryExecution.executedPlan }
      span("exec", "queries.exec") {
        if (pass == 0) {
          df.coalesce(1).write.mode("overwrite").parquet(out.resolve(s"check/$key").toString)
          -1L
        } else df.queryExecution.toRdd.count()
      }
    }
    if (traced && df != null) countPlan(pass, df)
    sampleCache()
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Node counts of the final (post-AQE) plan. */
  private def countPlan(pass: Int, df: DataFrame): Unit = {
    val c = planCounts.getOrElseUpdate(pass, mutable.Map[String, Long]().withDefaultValue(0L))
    nodes(df.queryExecution.executedPlan).foreach {
      case _: ShuffleExchangeLike => c("plan.exchanges") += 1
      case _: ReusedExchangeExec => c("plan.reused_exchanges") += 1
      case _: FileSourceScanExec | _: BatchScanExec => c("plan.scans") += 1
      case _: InMemoryTableScanExec => c("plan.cached_scans") += 1
      case _ =>
    }
  }

  private def cacheNow(): (Long, Long, Long) = {
    val sc = spark.sparkContext
    val info = sc.getRDDStorageInfo
    (sc.getPersistentRDDs.size.toLong, info.map(_.memSize).sum, info.map(_.diskSize).sum)
  }

  private def sampleCache(): Unit = {
    val (n, mem, disk) = cacheNow()
    cachePeak("cache.persisted_rdds_peak") = cachePeak("cache.persisted_rdds_peak") max n
    cachePeak("cache.mem_bytes_peak") = cachePeak("cache.mem_bytes_peak") max mem
    cachePeak("cache.disk_bytes_peak") = cachePeak("cache.disk_bytes_peak") max disk
  }

  // ---------------------------------------------------------------- passes

  private def queries(pass: Int, stage: String, keys: Seq[String]): Unit =
    span(stage, "stage") {
      new Random(seed * 1000 + pass).shuffle(keys).foreach(query(pass, stage, _))
    }

  private var violations = 0L
  private var warehouse: Path = _

  /** A warehouse day: build the DAG and test it, run the analysts'
    * ad-hoc queries over the sources, then the incremental re-run, its
    * tests and the compaction of the largest fact.
    */
  private def warehousePass(pass: Int): Unit = {
    warehouse = out.resolve(s"warehouse/pass$pass")
    val target = new Catalog(spark, "file:" + warehouse)
    def resolver(rerun: Boolean)(schema: String, table: String): DataFrame = {
      val inc = rerun && (table == "orders" || table == "lineitem")
      spark.read.parquet(if (inc) s"$dataDir/increment/$table.parquet"
        else s"$dataDir/$table.parquet")
    }
    def tests(pass: Int, stage: String): Unit = {
      def check(name: String)(v: => DataFrame): Unit =
        op(pass, stage, name) { span(name, "datatests") { violations += v.count(); -1L } }
      check("unique_fct_orders") { DataTests.unique(target.table("", "fct_orders"), "o_orderkey") }
      check("not_null_customer_ltv") {
        DataTests.notNull(target.table("", "mart_customer_ltv"), "c_custkey") }
      check("accepted_status") { DataTests.acceptedValues(
        target.table("", "fct_orders"), "o_orderstatus", Seq("F", "O", "P")) }
      check("relationships_orders_customer") { DataTests.relationships(
        target.table("", "fct_orders"), "o_custkey",
        target.table("", "dim_customer"), "c_custkey") }
    }
    span("dag_build", "stage") {
      op(pass, "dag_build", "ModelRunner.run") {
        span("ModelRunner.run", "modelrunner") {
          new ModelRunner(target, resolver(rerun = false))
            .run(Dag.models(Dag.BuildAsOf), threads = cpus)
        }
        -1L
      }
      tests(pass, "dag_build")
    }
    queries(pass, "adhoc", Relational)
    span("dag_rerun", "stage") {
      op(pass, "dag_rerun", "ModelRunner.run") {
        span("ModelRunner.run", "modelrunner") {
          new ModelRunner(target, resolver(rerun = true))
            .run(Dag.models(Dag.RerunAsOf), threads = cpus)
        }
        -1L
      }
      tests(pass, "dag_rerun")
      op(pass, "dag_rerun", "Catalog.compact") {
        span("Catalog.compact", "catalog.write") { target.compact("", Dag.Compacted, cpus) }
        -1L
      }
      op(pass, "dag_rerun", "Catalog.catalogTable") {
        span("Catalog.catalogTable", "catalog.read") { target.catalogTable().collect() }
        -1L
      }
    }
  }

  private def onePass(pass: Int): Unit = workload match {
    case "warehouse" => warehousePass(pass)
    case "llm_curation" => LlmStages.foreach { case (stage, keys) => queries(pass, stage, keys) }
  }

  private def dropWarehouses(): Unit = {
    val dir = out.resolve("warehouse")
    if (Files.exists(dir)) deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  private def cpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def fsStats(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    if (st == null) Map.empty
    else st.getLongStatistics.asScala.map(s => s.getName -> s.getValue).toMap
  }

  private val fsDeltas = mutable.Map[Int, Map[String, Long]]()

  /** Measured passes: pass 0 is the first run of the workload in a fresh
    * JVM (cold: every plan is new to codegen and the JIT); the workload's
    * warm passes follow, and more until `seconds` have elapsed. In a
    * traced run the warm passes alternate traced / untraced (traced
    * first), so one run also measures the tracing overhead.
    */
  private def measure(): Unit = {
    val t0 = System.nanoTime()
    var pass = 0
    while (pass <= WarmPasses(workload) || secs(t0) < seconds || (trace && pass < 3)) {
      traced = trace && pass % 2 == 1
      tracer.foreach(_.pass = pass)
      if (workload == "warehouse") dropWarehouses()
      val fs0 = fsStats()
      val c0 = cpuNs()
      val s0 = Clock.nowUs
      val p0 = System.nanoTime()
      span(s"pass $pass", "run") { onePass(pass) }
      val wall = secs(p0)
      val s1 = Clock.nowUs
      val fs1 = fsStats()
      fsDeltas(pass) = fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }
      passes += ((pass, traced, s0, s1, wall, (cpuNs() - c0) / 1e9))
      pass += 1
    }
    traced = false
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** What the run leaves behind once its passes are over. */
  private def leaks(): Map[String, Long] = {
    val (n, mem, disk) = cacheNow()
    val scratch = treeBytes(Paths.get(System.getProperty("java.io.tmpdir")))
    val threads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .count(t => t.isAlive && !t.isDaemon && t != Thread.currentThread())
    Map("leak.persisted_rdds" -> n, "leak.cached_bytes" -> (mem + disk),
      "leak.scratch_bytes" -> scratch, "leak.live_threads" -> threads.toLong)
  }

  // ---------------------------------------------------------------- checks

  /** What the checker needs beyond the cold pass's query outputs: the
    * oracle SQL of every checked key, the keys whose oracle is an exact
    * answer to an approximate operator, the recall gates' outputs and,
    * for the warehouse, the DAG and the final warehouse.
    */
  private def checkInputs(): Unit = {
    val keys = workload match {
      case "warehouse" => Relational
      case _ => LlmStages.flatMap(_._2)
    }
    // a gate that throws leaves no output, which the checker reports
    if (workload == "llm_curation") RecallGates.foreach { k =>
      try SparkEntry.queries(k)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(s"check/$k").toString)
      catch { case e: Throwable => System.err.println(s"[perfbench] $k failed: ${e.getMessage}") }
    }
    val oracles = SparkEntry.oracleSql
    val checked = (keys ++ (if (workload == "llm_curation") RecallGates else Nil))
    val approximate = checked.filter(SparkEntry.quadraticOracles.contains)
    Files.createDirectories(out.resolve("check"))
    Files.writeString(out.resolve("check/oracle_sql.json"),
      Json.obj(checked.map(k => k -> oracles.get(k).map(Json.str).getOrElse("null"))))
    extra("approximate") = Json.arr(approximate.map(Json.str))
    if (workload == "warehouse") {
      Files.writeString(out.resolve("dag.json"), Dag.json)
      extra("warehouse") = Json.str(warehouse.toString)
      extra("dag_as_of") = Json.arr(Seq(Dag.BuildAsOf, Dag.RerunAsOf).map(Json.str))
    }
  }

  // ---------------------------------------------------------------- output

  def run(): Unit = {
    Files.createDirectories(out)
    (1 to setups).foreach(_ => setup())
    if (trace) {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      tracer = Some(t)
    }
    val peersBefore = graft.Bench.liveGraftPeers()
    measure()
    val rssMb = vmHwmMb()
    val leak = leaks()
    val peers = (peersBefore ++ graft.Bench.liveGraftPeers()).distinct
    val checkT0 = System.nanoTime()
    checkInputs()
    val checkS = secs(checkT0)
    val warehouseBytes = if (warehouse == null) 0L else treeBytes(warehouse)
    spark.stop()  // drains the listener bus before the trace is read
    val layers = tracer.map(t => Layers(t, passes.toSeq, fsDeltas.toMap,
      planCounts.view.mapValues(_.toMap).toMap, setupTimes.toSeq, warehouseBytes))
    layers.foreach(l => Files.writeString(out.resolve("spans.json"), l.spansJson))
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "setups" -> Json.arr(setupTimes.map(m => Json.obj(m.map { case (k, v) => k -> Json.num(v) }))),
      "passes" -> Json.arr(passes.map { case (i, tr, s0, s1, wall, cpu) =>
        Json.obj(Seq("pass" -> i.toString, "traced" -> tr.toString,
          "start_us" -> s0.toString, "end_us" -> s1.toString,
          "wall_s" -> Json.num(wall), "cpu_s" -> Json.num(cpu)))
      }),
      "ops" -> Json.arr(ops.map(o => Json.obj(Seq("pass" -> o.pass.toString,
        "stage" -> Json.str(o.stage), "name" -> Json.str(o.name),
        "seconds" -> Json.num(o.seconds), "rows" -> o.rows.toString,
        "error" -> o.error.map(Json.str).getOrElse("null"))))),
      "violations" -> violations.toString,
      "peak_rss_mb" -> Json.num(rssMb),
      "leaks" -> Json.obj(leak.map { case (k, v) => k -> v.toString }),
      "cache_peaks" -> Json.obj(cachePeak.map { case (k, v) => k -> v.toString }),
      "peers" -> Json.arr(peers.map(Json.str)),
      "check_s" -> Json.num(checkS),
      "layers" -> layers.map(l => Json.obj(l.metrics.map { case (k, v) => k -> Json.num(v) }))
        .getOrElse("null"),
    ) ++ extra)
    Files.writeString(out.resolve("result.json"), result)
  }
}
