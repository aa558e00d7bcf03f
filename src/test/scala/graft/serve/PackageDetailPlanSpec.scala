package graft.serve

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession

/** A single-package request for package detail plans one exchange, pushes
  * its base_purl filter into every scan, and runs in at most two Spark
  * jobs. The marts are read back from parquet, as they are served. */
class PackageDetailPlanSpec extends AnyFunSuite with SparkTestSession {

  private val Purl = "pkg:npm/b"

  private lazy val marts: (DataFrame, DataFrame, DataFrame) = {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pkgdetail").toString
    def served(df: DataFrame, name: String): DataFrame = {
      df.write.parquet(s"$dir/$name")
      sp.read.parquet(s"$dir/$name")
    }
    val bases = Seq("pkg:npm/a", Purl, "pkg:npm/c")
    val ranked = bases.flatMap(b => (1 to 6).map(i => (b, s"1.$i", i)))
      .toDF("base_purl", "version", "version_rank")
    val unfurled = bases.flatMap(b => Seq(("adv/1", b, "1.2", true, false),
        ("adv/1", b, "1.3", true, false), ("adv/1", b, "1.4", false, true),
        ("adv/2", b, "1.5", true, false)))
      .toDF("avid", "base_purl", "version", "is_affected", "is_fixed")
    val nearestFix = bases.flatMap(b => Seq(("adv/1", b, "1.2", "1.4"),
        ("adv/1", b, "1.3", "1.4"), ("adv/2", b, "1.5", null)))
      .toDF("avid", "base_purl", "affected_version", "nearest_fixed_version")
    (served(unfurled, "unfurled"), served(ranked, "ranked"),
      served(nearestFix, "nearest_fixes"))
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec        => Seq(s.plan)
      case other                    => other.children
    }
    p +: inner.flatMap(nodes)
  }

  /** Runs `df` and checks its executed plan: one shuffle exchange, no
    * nested-loop or cartesian join, and `scans` file scans, each with
    * the pushed base_purl filter. */
  private def assertOneExchange(df: DataFrame, scans: Int): Unit = {
    df.collect()
    val plan = nodes(df.queryExecution.executedPlan)
    assert(plan.count(_.isInstanceOf[ShuffleExchangeExec]) == 1,
      df.queryExecution.executedPlan)
    assert(!plan.exists(p => p.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      p.isInstanceOf[CartesianProductExec]), df.queryExecution.executedPlan)
    val fileScans = plan.collect { case s: FileSourceScanExec => s }
    assert(fileScans.size == scans, df.queryExecution.executedPlan)
    fileScans.foreach(s => assert(
      s.metadata("PushedFilters").contains(s"EqualTo(base_purl,$Purl)"),
      s.metadata))
  }

  /** Spark jobs started by `body`. The jobs are tagged with a local
    * property; a sentinel job run afterwards marks the point by which the
    * listener bus has delivered every earlier job start. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.jobs"
    val tagged = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("counted") => tagged.incrementAndGet()
          case Some("sentinel") => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "counted")
      body
      sc.setLocalProperty(key, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus stalled")
      tagged.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("packageDetail for one package: one exchange, filter in every scan") {
    val (unfurled, ranked, nearestFix) = marts
    val detail = Serving.packageDetail(unfurled, ranked, nearestFix)
      .filter(col("base_purl") === Purl)
    assertOneExchange(detail, scans = 3)
    val got = detail.collect().map(r =>
      r.getString(1) -> r.getAs[String]("next_non_vulnerable")).toMap
    assert(got == Map("1.2" -> "1.4", "1.3" -> "1.4", "1.5" -> "1.6"))
  }

  test("nonVulnerableVersions for one package: one exchange, filter in " +
      "every scan") {
    val (unfurled, ranked, _) = marts
    assertOneExchange(Serving.nonVulnerableVersions(unfurled, ranked)
      .filter(col("base_purl") === Purl), scans = 2)
  }

  test("one page of package detail runs at most 2 Spark jobs") {
    val (unfurled, ranked, nearestFix) = marts
    val page = Serving.pageAfter(
      Serving.packageDetail(unfurled, ranked, nearestFix)
        .filter(col("base_purl") === Purl), "version", None, 100)
    var rows = 0
    val jobs = jobsOf { rows = page.collect().length }
    info(s"jobs: $jobs")
    assert(rows == 3)
    assert(jobs <= 2, s"$jobs jobs")
  }
}
