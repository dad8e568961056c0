package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import graft.{Graft, Tables}
import graft.catalog.QueryCatalog
import graft.lang.{Lowering, Parser}
import graft.operators.{Decontamination, Dedup, Retrieval, Sampling}
import graft.functions.TextFunctions
import Main.Run

/** Table resolution seen by the traced run: `Tables.resolver` wrapped in a
  * `tables` span that counts calls and memo hits (the same DataFrame
  * instance as the previous call for that table). */
object TracedTables {
  private val last = mutable.HashMap.empty[(String, String), AnyRef]

  def resolver(spark: SparkSession, dir: String): String => DataFrame =
    wrap(dir, Tables.resolver(spark, dir))

  def wrap(dir: String, base: String => DataFrame): String => DataFrame =
    name => Trace.span("tables", s"resolve:$name") {
      val df = base(name)
      Trace.count("resolve_calls")
      if (last.get((dir, name)).exists(_ eq df)) Trace.count("memo_hits")
      last((dir, name)) = df
      df
    }

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (Trace.enabled) resolver(spark, dir)(name) else Tables.read(spark, dir, name)

  /** `Graft.query` as the benchmark reproduces it: parse and lower in
    * their own spans, tables through the wrapped resolver. */
  def query(spark: SparkSession, text: String, resolve: String => DataFrame, base: String): DataFrame = {
    val stmts = Trace.span("lang", "parse") {
      Trace.count("parse_bytes", text.getBytes("UTF-8").length)
      Parser.parseStatements(text)
    }
    val ctx = Lowering.Context(spark, resolve, base)
    Trace.span("lang", "lower")(Lowering.lowerStatements(stmts, ctx))
      .getOrElse(spark.emptyDataFrame)
  }
}

/** `interactive_mix`: the seeded draw of catalog rows in `plan.txt`, one
  * after another, over the generated sf0.1-sized tables. Each line of the
  * plan is one part of a round (run.py interactive_plan), the loop's unit. */
object Interactive {
  val WarmUp = Seq("q_scan_filter_project", "q_sql_frontend")

  def apply(r: Run, seconds: Double, trace: Boolean, inputs: Path): Double = {
    val dir = inputs.resolve("tables").toString
    val plan = Files.readAllLines(inputs.resolve("plan.txt")).asScala.toVector
      .filter(_.trim.nonEmpty).map(_.trim.split("\\s+").toVector)
    val queries = QueryCatalog.queries
    val oracle = QueryCatalog.oracleSql
    // the timed loop measures repeat executions (an analyst re-running
    // queries): the first set-up runs the working set once, which warms
    // the JVM (generated code, JIT), and the loop's own session runs it
    // once more, which fills that session's read-plan memo. Without the
    // second pass a row's first timed run was about a third slower than
    // its later ones, so a run's median moved with how many parts it held.
    val working = Files.readAllLines(inputs.resolve("working_set.txt")).asScala.toSeq
    val spark = Main.setUp(r, trace) { s =>
      (WarmUp ++ (if (r.setupS.isEmpty) working else Nil)).foreach(n => queries(n)(s, dir).collect())
    }
    working.foreach(n => queries(n)(spark, dir).collect())
    Main.closedLoop(seconds) { i =>
      i < plan.size && {
        plan(i).foreach { name =>
          Main.measure(r, spark, name, "query", trace,
            Map("sql" -> oracle(name), "tables" -> dir)) { traced =>
            if (!traced) queries(name)(spark, dir)
            else Main.wvTexts.get(name) match {
              case Some(text) => TracedTables.query(spark, text, TracedTables.resolver(spark, dir), dir)
              case None => Trace.span("sql", "script")(queries(name)(spark, dir))
            }
          }
        }
        true
      }
    }
  }
}

/** `curation_batch`: passes of the catalog's curation compositions over a
  * seeded 5,000-doc corpus with planted near-duplicates. */
object Curation {
  val Rows = Seq("q_dedup_ngram_jaccard", "q_dedup_clusters", "q_dedup_drop_clusters",
    "q_split_by_cluster", "q_decontaminate_drop", "q_curation_pipeline")

  def pairs(docs: DataFrame): DataFrame = Trace.span("operators", "pairs")(
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.12))

  /** The composition of catalog row `name` over `docs`. */
  def build(name: String, docs: DataFrame): DataFrame = name match {
    case "q_dedup_ngram_jaccard" => pairs(docs).orderBy("id_a", "id_b")
    case "q_dedup_clusters" =>
      val p = pairs(docs)
      Trace.span("operators", "cc")(Dedup.connectedComponents(p)).orderBy("id")
    case "q_dedup_drop_clusters" =>
      val p = pairs(docs)
      Trace.span("operators", "drop")(Dedup.dropDuplicateClusters(docs, "doc_id", p))
        .select("doc_id", "lang", "source").orderBy("doc_id")
    case "q_split_by_cluster" =>
      val p = pairs(docs)
      Trace.span("operators", "split")(Sampling.splitByCluster(docs, "doc_id", p, 0.8))
        .select("doc_id", "split").orderBy("doc_id")
    case "q_decontaminate_drop" =>
      val eval = docs.filter(F.col("doc_id") < 3).select("text")
      Trace.span("operators", "decontaminate")(
        Decontamination.decontaminate(docs, "doc_id", "text", eval, "text", n = 4))
        .select("doc_id").orderBy("doc_id")
    case "q_curation_pipeline" =>
      val eval = docs.filter(F.col("doc_id") < 3).select("text")
      val decon = Trace.span("operators", "decontaminate")(
        Decontamination.decontaminate(docs, "doc_id", "text", eval, "text", n = 4))
      val qual = decon.filter(F.round(TextFunctions.qualityScore(F.col("text")), 4) >= 0.6)
      val keepIds = Trace.span("operators", "exact_groups")(
        Dedup.exactGroups(qual, "doc_id", "text")).select(F.col("keep_id").as("doc_id"))
      val deduped = qual.join(keepIds, Seq("doc_id"), "left_semi")
      Trace.span("operators", "train_test_split")(Sampling.trainTestSplit(deduped, "doc_id", 0.8))
        .groupBy("split")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(TextFunctions.tokenCount(F.col("text")).cast("long")).as("n_tokens"))
        .orderBy("split")
  }

  def apply(r: Run, seconds: Double, trace: Boolean, inputs: Path): Double = {
    val dir = inputs.resolve("curation").toString
    val oracle = QueryCatalog.oracleSql
    val spark = Main.setUp(r, trace) { s =>
      val small = Tables.read(s, dir, "documents").filter(F.col("doc_id") < 400)
      Rows.foreach(n => build(n, small).collect())
    }
    val n = Tables.read(spark, dir, "documents").count()
    Main.closedLoop(seconds) { i =>
      val t0 = System.nanoTime()
      val ok = Rows.map { name =>
        Main.measure(r, spark, name, if (name == Rows.head) "pairs" else "op", trace,
          Map("sql" -> oracle(name), "tables" -> dir)) { _ =>
          build(name, TracedTables.read(spark, dir, "documents"))
        }.isDefined
      }
      r.cycles += Map("kind" -> "pass", "traced" -> trace, "docs" -> n,
        "wall_s" -> (System.nanoTime() - t0) / 1e9, "ok" -> ok.forall(identity))
      true
    }
  }
}

/** `ingest_probe`: rounds of stage batch → streaming dedup-against sink →
  * bm25 index append → seeded top-k probes and one wv read of the sink. */
object Ingest {
  val K = 10
  val ReadText = "from sink\ngroup by is_dup\nagg n = _.count\norder by is_dup"

  final class Dirs(root: Path, val index: String) {
    val src: Path = root.resolve("stream_src")
    val out: String = root.resolve("sink").toString
    val ck: String = root.resolve("checkpoint").toString
    Files.createDirectories(src)
  }

  def bytesUnder(paths: String*): Long = paths.map(p => java.nio.file.Paths.get(p))
    .filter(Files.exists(_))
    .map(p => Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum)
    .sum

  def filesUnder(path: String): Long =
    Files.walk(java.nio.file.Paths.get(path)).iterator().asScala
      .count(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))

  def apply(r: Run, seconds: Double, trace: Boolean, inputs: Path): Double = {
    val in = inputs.resolve("ingest")
    val basePath = in.resolve("ingest_base.parquet").toString
    val probes = in.resolve("probe_queries.parquet").toString
    val batches = Files.list(in.resolve("batches")).iterator().asScala.toVector.sortBy(_.toString)
    val probePlan = Files.readAllLines(inputs.resolve("probes.txt")).asScala.toVector
      .map(_.split(",").toSeq.map(_.toLong))
    // the base index persists on disk, so the first set-up writes it and
    // warms the whole round up once with the first batch (round -1 of the
    // same sink and index); later set-ups re-open the session and warm up
    // with one probe and one read
    val dirs = new Dirs(r.work.resolve("run"), r.work.resolve("bm25").toString)
    val spark = Main.setUp(r, trace) { s =>
      val base = Tables.readPath(s, basePath)
      if (r.setupS.isEmpty) {
        Retrieval.writeBm25Index(base, "doc_id", "text", dirs.index)
        round(r, s, dirs, base, batches.head, probes, Seq(0L), -1, traced = false, record = false)
      } else {
        Retrieval.bm25IndexTopK(s, dirs.index, Tables.readPath(s, probes).filter(F.col("qid") === 1L),
          "qid", "text", k = K).collect()
        Graft.query(s, ReadText, _ => s.read.parquet(dirs.out)).collect()
      }
    }
    val base = Tables.readPath(spark, basePath)
    val t = Main.closedLoop(seconds) { i =>
      i + 1 < batches.size && {
        round(r, spark, dirs, base, batches(i + 1), probes, probePlan(i % probePlan.size), i,
          traced = trace, record = true)
        true
      }
    }
    // the sink's final content, checked once against the oracle
    val sink = spark.read.parquet(dirs.out).select("doc_id", "is_dup", "dup_of")
    r.check(spark, "ingest_sink", sink.collect(), sink.schema,
      Map("kind" -> "ingest_sink", "rounds" -> r.cycles.size))
    t
  }

  def round(r: Run, spark: SparkSession, d: Dirs, base: DataFrame, batch: Path, probes: String, qids: Seq[Long],
      i: Int, traced: Boolean, record: Boolean): Unit = {
    Trace.enabled = traced
    Trace.newRequest()
    val idxBefore = if (traced) bytesUnder(d.index, d.index + "_df", d.index + "_meta") else 0L
    val t0 = System.nanoTime()
    var tStarted = 0L
    val q = Trace.span("unattributed", "request:round") {
      val tmp = d.src.resolve("." + batch.getFileName + ".tmp")
      Files.copy(batch, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, d.src.resolve(batch.getFileName), StandardCopyOption.ATOMIC_MOVE)
      val stream = spark.readStream.schema(base.schema).parquet(d.src.toString)
        .select("doc_id", "text")
      val q = Trace.span("streaming", "start")(graft.streaming.Subscribe.dedupAgainstAppend(
        stream, base.select("doc_id", "text"), "doc_id", "text", d.out, d.ck))
      tStarted = System.nanoTime()
      Trace.span("streaming", "await")(q.awaitTermination())
      val batchDf = spark.read.parquet(batch.toString).select("doc_id", "text")
      val kept = spark.read.parquet(d.out)
        .filter(!F.col("is_dup"))
        .select("doc_id")
        .join(batchDf, Seq("doc_id"))
      Trace.span("index", "append")(Retrieval.bm25IndexAppend(spark, d.index, kept, "doc_id", "text"))
      q
    }
    val t1 = System.nanoTime()
    if (traced) Trace.drain()
    Trace.enabled = false
    val appended = spark.read.parquet(d.out).filter(!F.col("is_dup"))
      .join(spark.read.parquet(batch.toString).select("doc_id"), Seq("doc_id")).count()
    val progress = q.recentProgress.toSeq
    val firstEnd = progress.headOption.map(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L))
    val startedEpochMs = System.currentTimeMillis() - (System.nanoTime() - tStarted) / 1000000L
    def dur(k: String): Double = progress.map(p => p.durationMs.getOrDefault(k, 0L).longValue).sum / 1e3
    if (record) {
      r.cycles += Map("kind" -> "round", "round" -> i, "traced" -> traced, "batch" -> batch.getFileName.toString,
        "freshness_s" -> (t1 - t0) / 1e9, "ingest_s" -> (t1 - t0) / 1e9, "appended_rows" -> appended,
        "stream" -> Map(
          "start_s" -> firstEnd.map(e => math.max(0L, e - startedEpochMs) / 1e3).getOrElse(0.0),
          "trigger_s" -> dur("triggerExecution"), "add_batch_s" -> dur("addBatch"),
          "query_planning_s" -> dur("queryPlanning"), "latest_offset_s" -> dur("latestOffset"),
          "wal_commit_s" -> dur("walCommit"), "rows" -> progress.map(_.numInputRows).sum),
        "index" -> (if (traced) Map(
          "bytes_added" -> (bytesUnder(d.index, d.index + "_df", d.index + "_meta") - idxBefore),
          "files" -> filesUnder(d.index)) else Map.empty))
    }
    val read = (t: Boolean) => {
      val sink: String => DataFrame = _ => spark.read.parquet(d.out)
      if (t) TracedTables.query(spark, ReadText, TracedTables.wrap(d.out, sink), "")
      else Graft.query(spark, ReadText, sink)
    }
    if (record) Main.measure(r, spark, s"read_r$i", "read", traced,
      Map("kind" -> "ingest_read", "round" -> i))(read)
    else read(false).collect()
    val texts = Tables.readPath(spark, probes)
    qids.foreach { qid =>
      val probe = () => Trace.span("index", "probe")(
        Retrieval.bm25IndexTopK(spark, d.index, texts.filter(F.col("qid") === qid), "qid", "text", k = K))
        .orderBy("query_id", "rank")
      if (record) Main.measure(r, spark, s"probe_r${i}_q$qid", "probe", traced,
        Map("kind" -> "bm25", "round" -> i, "qid" -> qid))(_ => probe())
      else probe().collect()
    }
  }
}
