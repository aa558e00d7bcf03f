package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.export.FederatedExport
import graft.ingest.AdvisoryJsonIngest
import graft.serve.Serving
import graft.streaming.DocumentStreaming

/** One benchmark run inside one JVM: set up `--setups` times (each in a
  * fresh session, the last one kept), run the workload's operations back
  * to back for `--seconds`, then write what happened to
  * `<out>/result.json` for the runner to check and summarize.
  *
  * Inputs are generated beforehand by `perfbench/gen.py`; this program
  * only reads them, so every call below is a call a user of the engine
  * makes with their own data.
  */
object Main {

  final case class Args(workload: String, data: String, out: String,
      seconds: Double, trace: Boolean, cpus: String, setups: Int)

  /** One operation: a request or a micro-batch. Warm-up operations are
    * checked but not part of the timed loop. */
  final case class Op(kind: String, ms: Double, rows: Int, error: String,
      warmUp: Boolean)

  /** The 24 `graft_<mart>` views `Engine.runAdvisoryPipeline` registers,
    * in the order it builds them. */
  val Marts: Seq[String] = Seq("advisories", "impacts", "unfurled",
    "packages", "version_ranks", "nearest_fixes", "advisory_risk",
    "package_risk", "advisory_sets", "todos", "conflicts", "changelog",
    "ssvc_decisions", "ssvc_relations", "commit_patches", "mitigations",
    "mitigation_curation", "cvss31_severities", "package_counts",
    "vulnerabilities", "vulnerability_membership",
    "v1_package_vuln_counts", "code_fixes", "package_changelog")

  /** Marts the serving requests read. */
  val ServedMarts: Seq[String] =
    Seq("advisories", "unfurled", "version_ranks", "nearest_fixes")

  val PageSize = 100

  /** One turn of the request mix (gen.py REQUEST_MIX). */
  val WarmUpRequests = 10

  val WarmUpBatches = 2

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("data"), kv("out"),
      kv("seconds").toDouble, kv("trace") == "1", kv("cpus"),
      kv("setups").toInt)
    val t = new Tracer(a.trace)
    val result = a.workload match {
      case "purl_lookup" => purlLookup(a, t)
      case "curation_stream" => curationStream(a, t)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    json.writeValue(new File(a.out, "result.json"),
      result ++ Map("trace" -> t.dump()))
  }

  // ---------------------------------------------------------------- common

  /** Session set-up repeated `a.setups` times, each from a fresh session;
    * returns the last session, what `prepare` built in it, and the set-up
    * and session-start seconds of every repetition. */
  private def setUp[T](a: Args, t: Tracer)(prepare: SparkSession => T)
      : (SparkSession, T, Seq[Double], Seq[Double]) = {
    var last: Option[(SparkSession, T)] = None
    val times = (1 to a.setups).map { i =>
      last.foreach(_._1.stop())
      val t0 = System.nanoTime()
      var sessionS = 0.0
      t.span("setup", i) {
        val spark = t.span("core.session", i) {
          Engine.newSession("perfbench", a.cpus)
        }
        sessionS = (System.nanoTime() - t0) / 1e9
        t.attach(spark)
        last = Some(spark -> prepare(spark))
      }
      ((System.nanoTime() - t0) / 1e9, sessionS)
    }
    val (spark, prepared) = last.get
    (spark, prepared, times.map(_._1), times.map(_._2))
  }

  /** Run `op(i)`, which returns the rows it answered, for operation i of
    * kind `kinds(i)`: first `warmUp` operations untimed by the loop, then
    * more until `seconds` have passed and at least `minTimed` ran, or every
    * operation ran. A thrown exception fails that operation only. */
  private def loop(a: Args, t: Tracer, kinds: IndexedSeq[String],
      warmUp: Int, minTimed: Int = 1)(op: Int => Int): (Seq[Op], Double) = {
    val ops = ArrayBuffer.empty[Op]
    def run(): Unit = {
      val i = ops.size
      val s = System.nanoTime()
      val (rows, err) =
        try (op(i), "")
        catch { case e: Exception =>
          (0, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      ops += Op(kinds(i), (System.nanoTime() - s) / 1e6, rows, err,
        i < warmUp)
    }
    while (ops.size < math.min(warmUp, kinds.size)) run()
    t.phaseLoop()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (ops.size < kinds.size &&
        (elapsed < a.seconds || ops.size < warmUp + minTimed)) run()
    (ops.toSeq, elapsed)
  }

  /** Live heap after a full collection, and storage memory still held by
    * persisted blocks. */
  private def memory(spark: SparkSession, t: Tracer): (Double, Double) = {
    t.settle()
    System.gc(); System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val cached = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0
    (heap, cached)
  }

  private def opsJson(ops: Seq[Op]): Seq[Map[String, Any]] = ops.map(o =>
    Map("kind" -> o.kind, "ms" -> o.ms, "rows" -> o.rows,
      "error" -> o.error, "warm_up" -> o.warmUp))

  private def common(setup: Seq[Double], session: Seq[Double],
      ops: Seq[Op], loopS: Double, mem: (Double, Double)): Map[String, Any] =
    Map("setup_s" -> setup, "session_s" -> session, "ops" -> opsJson(ops),
      "loop_s" -> loopS, "live_heap_mb" -> mem._1,
      "cached_mb_left" -> mem._2)

  private def readJsonLines(path: String): Seq[Map[String, Any]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(_.nonEmpty)
      .map(l => json.readValue(l, classOf[Map[String, Any]]))

  // ------------------------------------------------------------ advisory ETL

  /** One ETL pass, raw dump → persisted log → the 24 persisted marts →
    * FederatedCode export. Each step's span ends with the write that
    * consumes its output. */
  private def etlPass(spark: SparkSession, t: Tracer, data: String,
      out: String): Unit = {
    val feeds = new File(s"$data/dump").listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    t.span("ingest") {
      feeds.map(f => AdvisoryJsonIngest.readTree(spark, s"$data/dump/$f", f)
          .toDF())
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/log")
    }
    val built = t.span("derive") {
      val versions = spark.read.option("header", "true")
        .schema("base_purl string, version string")
        .csv(s"$data/versions.csv")
      val m = Engine.runAdvisoryPipeline(spark,
        spark.read.parquet(s"$out/log"), versions)
      Marts.foreach { n =>
        t.span(s"derive.$n") {
          spark.table(s"graft_$n").write.mode("overwrite")
            .parquet(s"$out/marts/$n")
        }
      }
      m
    }
    t.span("export") {
      FederatedExport.write(FederatedExport.serialize(built.advisories),
        s"$out/export/advisories")
      FederatedExport.write(FederatedExport.packageIndex(built.unfurled),
        s"$out/export/packages")
    }
  }

  /** Counts the runner checks against the generator's expectations, read
    * back from what a pass wrote (outside the timed region). */
  private def etlCounts(spark: SparkSession, out: String): Map[String, Any] = {
    val adv = spark.read.parquet(s"$out/marts/advisories")
    def docs(dir: String, prefix: String) = spark.read.text(dir)
      .filter(col("value").startsWith(prefix)).count()
    Map("log_rows" -> spark.read.parquet(s"$out/log").count(),
      "advisory_rows" -> adv.count(),
      "latest" -> adv.filter(col("is_latest")).count(),
      "unfurled_rows" -> spark.read.parquet(s"$out/marts/unfurled").count(),
      "mart_dirs" -> Marts.count(n => new File(s"$out/marts/$n").isDirectory),
      "export_advisory_docs" ->
        docs(s"$out/export/advisories", "advisory_id: "),
      "export_package_docs" -> docs(s"$out/export/packages", "- purl: "),
      "export_bytes" -> dataFiles(s"$out/export")._2)
  }

  // ------------------------------------------------------------ purl lookup

  /** One API request against the served marts: at most one page of rows,
    * rendered as the strings the runner compares with the expected
    * answer. */
  private def serve(spark: SparkSession, marts: Map[String, DataFrame],
      r: Map[String, Any]): Seq[String] = {
    import spark.implicits._
    def page(df: DataFrame, order: String): Seq[Row] =
      Serving.pageAfter(df, order, None, PageSize).collect().toSeq
    val adv = marts("advisories")
    val unf = marts("unfurled")
    r("kind") match {
      case "purl" =>
        page(Serving.affectingAdvisories(adv, unf, r("purl").toString,
          r("version").toString).select("avid"), "avid").map(_.getString(0))
      case "bulk" =>
        val purls = r("purls").asInstanceOf[Seq[Seq[String]]]
          .map(p => (p(0), p(1))).toDF("base_purl", "version")
        page(Serving.bulkLookup(unf, purls), "base_purl")
          .map(x => s"${x.getString(0)}@${x.getString(1)}=" +
            x.getAs[Boolean]("is_vulnerable"))
      case "package" =>
        page(Serving.packageDetail(unf, marts("version_ranks"),
            marts("nearest_fixes"))
            .filter(col("base_purl") === r("purl").toString), "version")
          .flatMap(x => x.getSeq[Row](x.fieldIndex("affecting"))
            .map(y => s"${x.getString(1)}:${y.getString(0)}"))
      case "search" =>
        page(Serving.searchAdvisories(adv, r("alias").toString)
          .select("advisory_id", "avid"), "advisory_id").map(_.getString(1))
    }
  }

  /** Set-up is the operator's ETL pass, which writes the marts the
    * requests are served from. The first block of requests (one full turn
    * of the mix) warms the server up, as a server warms up before taking
    * traffic; the timed loop continues from there. */
  private def purlLookup(a: Args, t: Tracer): Map[String, Any] = {
    val requests = readJsonLines(s"${a.data}/requests.jsonl")
    val dir = s"${a.out}/served"
    val etlS = ArrayBuffer.empty[Double]
    val (spark, marts, setup, session) = setUp(a, t) { s =>
      val t0 = System.nanoTime()
      etlPass(s, t, a.data, dir)
      etlS += (System.nanoTime() - t0) / 1e9
      ServedMarts.map(n => n -> s.read.parquet(s"$dir/marts/$n")).toMap
    }
    val etlCounted = etlCounts(spark, dir)
    val responses = ArrayBuffer.empty[Seq[String]]
    val kinds = requests.map(_("kind").toString).toIndexedSeq
    val (ops, loopS) = loop(a, t, kinds, WarmUpRequests) { i =>
      val rows = t.span(s"serve.${kinds(i)}", i) {
        serve(spark, marts, requests(i))
      }
      responses += rows
      rows.size
    }
    val mem = memory(spark, t)
    spark.stop()
    common(setup, session, ops, loopS, mem) ++
      Map("etl_s" -> etlS.toSeq, "etl" -> etlCounted,
        "responses" -> responses.toSeq)
  }

  // -------------------------------------------------------- curation stream

  private def curationStream(a: Args, t: Tracer): Map[String, Any] = {
    val batches = new File(s"${a.data}/batches").listFiles()
      .map(_.getPath).sorted.toSeq
    val root = s"${a.out}/sink"
    val docSchema = "doc_id long, text string"
    val (spark, sink, setup, session) = setUp(a, t) { s =>
      graft.core.Scratch.deleteRec(root)
      DocumentStreaming.registerSuite(s, s"$root/vocab",
        s.read.schema(docSchema).json(s"${a.data}/suite.jsonl"),
        "text", "doc_id")
      DocumentStreaming.curationSink(root, "text", "doc_id")
    }
    // the first batches pay the stream's one-time cold start: batch
    // latency still falls by a tenth from the second batch to the third.
    // At least three timed batches, so the median is a middle batch even
    // when a slow window fits only two into the loop's time.
    val (ops, loopS) = loop(a, t, batches.map(_ => "batch").toIndexedSeq,
        WarmUpBatches, minTimed = 3) { b =>
      t.span("streaming.batch", b) {
        sink(spark.read.schema(docSchema).json(batches(b)), b.toLong)
      }
      if (t.on) t.sample(Map("batch" -> b) ++ stateFiles(root))
      0
    }
    val mem = memory(spark, t)
    val ledger = spark.read.parquet(s"$root/ledger")
      .select(col("doc_id"), col("passes"), col("admitted"),
        col("batch_id").cast("long"))
      .collect().map(r => Seq(r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getLong(3))).toSeq
    val state = stateFiles(root)
    spark.stop()
    common(setup, session, ops, loopS, mem) ++
      Map("ledger" -> ledger, "state" -> state)
  }

  private def stateFiles(root: String): Map[String, Any] = {
    val (n, bytes) = dataFiles(root)
    Map("state_files" -> n, "state_bytes" -> bytes)
  }

  /** Data files and their bytes under `root`, counted the way the sinks'
    * state reads list them (hidden and `_` marker files excluded). */
  private def dataFiles(root: String): (Int, Long) = {
    val st = Files.walk(Paths.get(root))
    try {
      val files = st.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toSeq
      (files.size, files.map(p => Files.size(p)).sum)
    } finally st.close()
  }
}
