package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.Tables
import graft.catalog.{DialectQueries, QueryCatalog}
import graft.lang.Lowering

/** The benchmark's JVM side: sets the engine up, runs one workload as a
  * closed loop with one client for a fixed time, and writes raw samples,
  * spans and result files to `<work>/samples.json` for `run.py`, which
  * checks the results against DuckDB and derives the metrics.
  *
  * Usage (normally through run.py):
  *   Main run <workload> <seconds> <trace 0|1> <work dir> <inputs dir>
  *   Main catalog <out file>        (row inventory, for choosing the mix)
  */
object Main {
  val Cores = 4
  val Setups = 3

  final case class Request(name: String, kind: String, traced: Boolean,
      compileS: Double, latencyS: Double, check: String, error: String,
      extra: Map[String, Any] = Map.empty)

  /** Everything one run hands back to run.py. */
  final class Run(val work: Path) {
    val setupS = mutable.ArrayBuffer.empty[Double]
    val requests = mutable.ArrayBuffer.empty[Request]
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    private val digests = mutable.HashMap.empty[(String, String), String]
    private val pending = mutable.ArrayBuffer.empty[(SparkSession, String, Array[Row],
      org.apache.spark.sql.types.StructType)]

    /** Register a collected result under a check id: the first result of
      * each (key, digest) is kept for the oracle compare; a repeat with
      * the same digest shares the check. The kept rows are written as
      * parquet by [[writeChecks]], after the timed loop. */
    def check(spark: SparkSession, key: String, rows: Array[Row],
        schema: org.apache.spark.sql.types.StructType, oracle: Map[String, Any]): String = {
      val d = digest(rows)
      digests.getOrElseUpdate((key, d), {
        val id = s"${key}__${checks.count(_._1.startsWith(key + "__"))}"
        val dir = work.resolve("results").resolve(id).toString
        pending += ((spark, dir, rows, schema))
        checks(id) = oracle ++ Map("result" -> dir)
        id
      })
    }

    def writeChecks(): Unit = {
      pending.foreach { case (spark, dir, rows, schema) =>
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(dir)
      }
      pending.clear()
    }
  }

  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: workload :: seconds :: trace :: work :: inputs :: Nil =>
      run(workload, seconds.toDouble, trace == "1", Paths.get(work), Paths.get(inputs))
    case "catalog" :: out :: Nil => catalog(Paths.get(out))
    case _ =>
      System.err.println("usage: Main run <workload> <seconds> <trace> <work> <inputs> | catalog <out>")
      sys.exit(2)
  }

  // ---------------------------------------------------------------- set-up

  def openSession(work: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
    Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    if (trace) b.withExtensions(Trace.install)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.TdFunctions.ensureRegistered(spark)
    spark
  }

  /** Set up [[Setups]] times and keep the last session: the first set-up
    * is timed from JVM start, each later one from stopping the previous
    * session. Each includes the workload's warm-up. */
  def setUp(r: Run, trace: Boolean)(warm: SparkSession => Unit): SparkSession = {
    var spark: SparkSession = null
    var t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
      (System.currentTimeMillis() * 1000000L - System.nanoTime())
    (1 to Setups).foreach { _ =>
      if (spark != null) {
        t0 = System.nanoTime()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = openSession(r.work, trace)
      warm(spark)
      r.setupS += (System.nanoTime() - t0) / 1e9
    }
    if (trace) Trace.attach(spark)
    spark
  }

  // --------------------------------------------------------------- requests

  /** One closed-loop request: build the DataFrame, force its executed plan
    * (compile), collect every row. Times are wall-clock ns deltas. */
  def request(r: Run, spark: SparkSession, name: String, kind: String, traced: Boolean,
      oracle: Map[String, Any], extra: Map[String, Any] = Map.empty)(
      build: => DataFrame): Option[Array[Row]] = {
    Trace.enabled = traced
    val req = Trace.newRequest()
    val t0 = System.nanoTime()
    var tc = t0
    try {
      val (df, rows) = Trace.span("unattributed", s"request:$name") {
        val df = build
        val qe = df.queryExecution
        Trace.span("catalyst", "analyzed")(qe.analyzed)
        Trace.span("catalyst", "optimized")(qe.optimizedPlan)
        Trace.span("catalyst", "planned")(qe.executedPlan)
        tc = System.nanoTime()
        val rows = Trace.span("exec", "collect")(df.collect())
        (df, rows)
      }
      val t1 = System.nanoTime()
      val planStats = if (traced) {
        Trace.drain()
        Trace.enabled = false
        planCounts(df, rows.length) ++ Map("req" -> req) ++
          (if (kind == "pairs") Trace.Plans.filteredAggRows(df.queryExecution.executedPlan)
            .map("candidate_pairs" -> _) else None)
      } else Map.empty[String, Any]
      Trace.enabled = false
      val check = r.check(spark, name, rows, df.schema, oracle)
      r.requests += Request(name, kind, traced, (tc - t0) / 1e9, (t1 - t0) / 1e9, check, null,
        extra ++ planStats)
      Some(rows)
    } catch {
      case e: Throwable =>
        Trace.enabled = false
        r.requests += Request(name, kind, traced, (tc - t0) / 1e9, (System.nanoTime() - t0) / 1e9,
          null, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}", extra)
        None
    }
  }

  /** A request as the run's mode wants it: once, untraced, in a timed
    * run; in a traced run twice back to back, traced and untraced in
    * alternating order, so the pair's ratio measures tracing overhead. */
  def measure(r: Run, spark: SparkSession, name: String, kind: String, trace: Boolean,
      oracle: Map[String, Any])(build: Boolean => DataFrame): Option[Array[Row]] =
    if (!trace) request(r, spark, name, kind, traced = false, oracle)(build(false))
    else {
      val pair = r.requests.size
      val order = if (pair % 4 == 0) Seq(false, true) else Seq(true, false)
      order.map(t => request(r, spark, name, kind, t, oracle, Map("pair" -> pair))(build(t))).last
    }

  /** Catalyst and plan counts of a traced request's final DataFrame. */
  def planCounts(df: DataFrame, resultRows: Int): Map[String, Any] = {
    val qe = df.queryExecution
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
    val rules = qe.tracker.rules.values
    val exec = qe.executedPlan
    Map(
      "analysis_s" -> phases.getOrElse("analysis", 0.0),
      "optimization_s" -> phases.getOrElse("optimization", 0.0),
      "planning_s" -> phases.getOrElse("planning", 0.0),
      "rule_invocations" -> rules.map(_.numInvocations).sum,
      "rule_effective" -> rules.map(_.numEffectiveInvocations).sum,
      "analyzed_nodes" -> qe.analyzed.collect { case n => n }.size,
      "plan_nodes" -> Trace.Plans.nodes(exec),
      "exchanges" -> Trace.Plans.exchanges(exec),
      "result_rows" -> resultRows)
  }

  // ---------------------------------------------------------------- catalog

  /** wv text of every flow-language catalog row (QueryCatalog's map plus
    * DialectQueries' private (name, text) list). */
  lazy val wvTexts: Map[String, String] = {
    val f = DialectQueries.getClass.getDeclaredField("texts")
    f.setAccessible(true)
    val dialect = f.get(DialectQueries).asInstanceOf[Seq[(String, String)]].toMap
    QueryCatalog.queryWvTexts ++ dialect
  }

  def catalog(out: Path): Unit = {
    val oracle = QueryCatalog.oracleSql
    val lines = QueryCatalog.all.map { case (n, _, o) =>
      val text = wvTexts.get(n)
      val fns = text.toSeq.flatMap(t => Lowering.nativeTableFunctions
        .filter(f => ("\\b" + f + "\\s*\\(").r.findFirstIn(t).isDefined))
      Json(Map("name" -> n, "oracle" -> o.isDefined, "wv" -> text.isDefined,
        "table_functions" -> fns, "oracle_sql" -> oracle.get(n)))
    }
    Files.write(out, lines.asJava)
  }

  // -------------------------------------------------------------- workloads

  def run(workload: String, seconds: Double, trace: Boolean, work: Path, inputs: Path): Unit = {
    ReferenceGuard.install()
    val r = new Run(work)
    val rt = Runtime.getRuntime
    val t = workload match {
      case "interactive_mix" => Interactive(r, seconds, trace, inputs)
      case "curation_batch" => Curation(r, seconds, trace, inputs)
      case "ingest_probe" => Ingest(r, seconds, trace, inputs)
      case other =>
        System.err.println(s"unknown workload: $other"); sys.exit(2)
    }
    r.writeChecks()
    val out = Map(
      "workload" -> workload,
      "setup_s" -> r.setupS,
      "wall_s" -> t,
      "requests" -> r.requests.map(q => Map("name" -> q.name, "kind" -> q.kind,
        "traced" -> q.traced, "compile_s" -> q.compileS, "latency_s" -> q.latencyS,
        "check" -> q.check, "error" -> q.error) ++ q.extra),
      "cycles" -> r.cycles,
      "checks" -> r.checks,
      "guarded_root" -> ReferenceGuard.forbidden,
      "jvm" -> Jvm.stats(),
      "spans" -> (if (trace) Trace.toJson else Nil))
    Files.writeString(work.resolve("samples.json"), Json(out))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Run `body`, one whole unit of a workload (a part of a round, an
    * ingest round, a curation pass) per call, until the unit boundary
    * nearest `seconds`: another unit starts only while the time so far
    * plus half a mean unit is short of `seconds`. Every run thus measures
    * whole units for about `seconds`. `body` returns false, having done
    * nothing, when its plan is used up. Returns the wall seconds. */
  def closedLoop(seconds: Double)(body: Int => Boolean): Double = {
    val t0 = System.nanoTime()
    val limit = seconds * 1e9
    def elapsed = (System.nanoTime() - t0).toDouble
    var i = 0
    while ((i == 0 || elapsed * (1 + 0.5 / i) < limit) && body(i)) i += 1
    elapsed / 1e9
  }
}

/** Gate-independence guard: any read under the reference-corpus root the
  * engine's TPC-H catalog names (`TpchCatalog.tpchDir`, two levels below
  * the root) throws, so a workload that opens it fails its operation
  * instead of passing only where that corpus happens to exist. A security
  * manager sees every java.io and NIO open, Hadoop's local reads included;
  * every other permission is granted. */
object ReferenceGuard extends SecurityManager {
  lazy val forbidden: Option[String] =
    try {
      val f = graft.catalog.TpchCatalog.getClass.getDeclaredField("tpchDir")
      f.setAccessible(true)
      Option(Paths.get(f.get(graft.catalog.TpchCatalog).toString).getParent)
        .flatMap(p => Option(p.getParent)).map(_.toString)
    } catch { case _: NoSuchFieldException => None }

  // checkRead also sees the class loader's own reads, so it must not load
  // classes itself: plain String operations on a precomputed prefix only
  private var root: String = _
  private var rootSlash: String = _

  def install(): Unit = {
    forbidden.foreach { r => root = r; rootSlash = r + "/" }
    checkRead("")
    System.setSecurityManager(this)
  }

  override def checkPermission(p: java.security.Permission): Unit = ()
  override def checkPermission(p: java.security.Permission, ctx: AnyRef): Unit = ()
  override def checkRead(file: String): Unit =
    if (root != null && file != null && (file == root || file.startsWith(rootSlash)))
      throw new SecurityException("benchmark guard: the workload opened " + file)
}

/** JVM-level figures: GC and JIT time, heap peak, resident-set peak. */
object Jvm {
  import java.lang.management.ManagementFactory
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
  def stats(): Map[String, Any] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwm = try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0) finally status.close()
    Map("gc_s" -> gcSeconds, "jit_s" -> jitSeconds, "heap_peak_mb" -> heapPeak / 1048576.0,
      "peak_rss_mb" -> hwm)
  }
}
