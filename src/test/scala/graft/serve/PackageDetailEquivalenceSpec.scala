package graft.serve

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SparkTestSession
import graft.serve.PackageDetailEquivalenceSpec.Marts

/** The windowed `Serving.nonVulnerableVersions` and `Serving.packageDetail`
  * answer what the join formulation they replaced answers. That
  * formulation is kept below as the reference. Results compare as
  * multisets, each `affecting` list sorted. */
class PackageDetailEquivalenceSpec extends AnyFunSuite
    with SparkTestSession {

  // ------------------------------------- the join formulation (reference)

  private def refNonVulnerableVersions(unfurled: DataFrame,
      ranked: DataFrame): DataFrame = {
    val vulnerable = unfurled.filter(col("is_affected"))
      .select(col("base_purl"), col("version")).distinct()
    val safe = ranked.join(vulnerable, Seq("base_purl", "version"), "left_anti")
      .select(col("base_purl").as("s_purl"), col("version").as("safe_version"),
        col("version_rank").as("safe_rank"))
    ranked.join(safe,
      col("base_purl") === col("s_purl") &&
        col("safe_rank") > col("version_rank"), "left")
      .groupBy(col("base_purl"), col("version"))
      .agg(min_by(col("safe_version"), col("safe_rank"))
        .as("next_non_vulnerable"),
        max_by(col("safe_version"), col("safe_rank"))
          .as("latest_non_vulnerable"))
  }

  private def refPackageDetail(unfurled: DataFrame, ranked: DataFrame,
      nearestFix: DataFrame): DataFrame = {
    val affected = unfurled.filter(col("is_affected"))
      .join(nearestFix,
        Seq("avid", "base_purl"), "left")
      .filter(col("version") === col("affected_version"))
      .groupBy("base_purl", "version")
      .agg(collect_list(struct(col("avid"),
        col("nearest_fixed_version"))).as("affecting"))
    val withNext = refNonVulnerableVersions(unfurled, ranked)
      .select("base_purl", "version", "next_non_vulnerable")
    affected.join(withNext, Seq("base_purl", "version"), "left")
  }

  // ------------------------------------------------------------ inputs

  /** Random packages: ghosts at rank 0, versions ranked twice, versions
    * both affected and fixed, affected versions missing from `ranked`,
    * repeated affected edges, repeated and NULL nearest fixes. Non-ghost
    * ranks are distinct per package, as row_number gives them. */
  private def generate(seed: Int): Marts = {
    val rnd = new Random(seed)
    def chance(p: Double) = rnd.nextDouble() < p
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val avids = (0 until 5).map(i => s"adv/$i")
    val perPackage = (0 until 6).map { p =>
      val base = s"pkg:npm/p$p"
      val versions = (0 until 2 + rnd.nextInt(8)).map(v => s"1.$v")
      val unranked = Seq(s"9.$p", s"9.$p.1")
      val rows = rnd.shuffle(versions ++ versions.filter(_ => chance(0.2)))
        .map(v => (v, chance(0.15)))
      val realRanks = Iterator.from(1)
      val ranked = rows.map { case (v, ghost) =>
        (base, v, if (ghost) 0 else realRanks.next())
      }
      val edges = (0 until rnd.nextInt(12)).map { _ =>
        val aff = chance(0.6)
        (pick(avids), base, pick(versions ++ unranked), aff,
          !aff || chance(0.25))
      }
      val unfurled = edges ++ edges.filter(_ => chance(0.2))
      val nearestFix = unfurled.filter(_._4).flatMap { case (a, b, v, _, _) =>
        val fix = if (chance(0.3)) null else pick(versions)
        Seq.fill(if (chance(0.2)) 2 else if (chance(0.2)) 0 else 1)(
          (a, b, v, fix))
      } ++ Seq.fill(rnd.nextInt(2))(
        (pick(avids), base, pick(versions), pick(versions)))
      (unfurled, ranked, nearestFix)
    }
    Marts(perPackage.flatMap(_._1), perPackage.flatMap(_._2),
      perPackage.flatMap(_._3))
  }

  private def frames(m: Marts): (DataFrame, DataFrame, DataFrame) = {
    val sp = spark
    import sp.implicits._
    (m.unfurled.toDF("avid", "base_purl", "version", "is_affected",
        "is_fixed"),
      m.ranked.toDF("base_purl", "version", "version_rank"),
      m.nearestFix.toDF("avid", "base_purl", "affected_version",
        "nearest_fixed_version"))
  }

  // ------------------------------------------------------------ compare

  private def opt(r: Row, f: String): Option[String] =
    Option(r.getAs[String](f))

  private def detailRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map { r =>
      val affecting = r.getSeq[Row](r.fieldIndex("affecting"))
        .map(e => (e.getString(0), Option(e.getString(1)))).sorted
      (r.getString(0), r.getString(1), affecting,
        opt(r, "next_non_vulnerable")).toString
    }.sorted

  private def nonVulnerableRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => (r.getString(0), r.getString(1),
      opt(r, "next_non_vulnerable"), opt(r, "latest_non_vulnerable"))
      .toString).sorted

  private def assertSame(m: Marts): Unit = {
    val (unfurled, ranked, nearestFix) = frames(m)
    val nv = nonVulnerableRows(Serving.nonVulnerableVersions(unfurled, ranked))
    assert(nv == nonVulnerableRows(refNonVulnerableVersions(unfurled, ranked)))
    val detail = detailRows(Serving.packageDetail(unfurled, ranked,
      nearestFix))
    assert(detail ==
      detailRows(refPackageDetail(unfurled, ranked, nearestFix)))
  }

  (1 to 6).foreach { seed =>
    test(s"generated packages, seed $seed: same rows as the join form") {
      val m = generate(seed)
      // the generator really produced the cases it is meant to cover
      assert(m.ranked.exists(_._3 == 0), "no ghost")
      assert(m.ranked.groupBy(r => (r._1, r._2)).exists(_._2.size > 1),
        "no version ranked twice")
      assert(m.unfurled.exists(u => u._4 && u._5), "no affected+fixed")
      assert(m.nearestFix.exists(_._4 == null), "no NULL nearest fix")
      assert(m.unfurled.exists(u => u._4 && u._3.startsWith("9.")),
        "no affected version missing from ranked")
      assert(m.unfurled.filter(_._4).groupBy(identity).exists(_._2.size > 1),
        "no repeated affected edge")
      assertSame(m)
    }
  }

  test("empty inputs: no rows, like the join form") {
    val full = generate(1)
    val none = Marts(Nil, Nil, Nil)
    assertSame(none)
    assertSame(full.copy(unfurled = Nil))
    assertSame(full.copy(ranked = Nil))
    assertSame(full.copy(nearestFix = Nil))
    val (u, r, f) = frames(none)
    assert(Serving.packageDetail(u, r, f).collect().isEmpty)
    assert(Serving.nonVulnerableVersions(u, r).collect().isEmpty)
  }
}

object PackageDetailEquivalenceSpec {
  /** Rows of the unfurl, version-rank and nearest-fix marts. */
  final case class Marts(unfurled: Seq[(String, String, String, Boolean,
      Boolean)], ranked: Seq[(String, String, Int)],
      nearestFix: Seq[(String, String, String, String)])
}
