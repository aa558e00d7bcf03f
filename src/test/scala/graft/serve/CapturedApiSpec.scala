package graft.serve

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.RefCapture
import graft.operators.SparkTestSession

/** Serving-layer golden compare against the reference's CAPTURED API
  * expectations — the response-side sibling of CapturedFixtureSpec.
  *
  * Two golden sources:
  *
  *  1. The package-details API responses asserted verbatim in
  *     tests/test_api.py (APITestCasePackage, lines 602-1007): the
  *     jackson-databind 5-version scenario with its three captured
  *     expected responses (base, ghost-on-self, ghost-on-latest). The
  *     engine-visible facets (is_vulnerable, next/latest
  *     non-vulnerable, affected_by / fixing advisory sets, per-advisory
  *     fixed_packages with nested vulnerability flags, sorted aliases)
  *     are rebuilt from Serving primitives and compared field by field.
  *     Request-scoped HTTP chrome (url/resource_url hosts, DB pks) has
  *     no engine analog and is skipped.
  *
  *  2. The Django data dumps under test_data/api_fixtures/
  *     ({debian,github,openssl}.json): real captured DB state — 178
  *     OpenSSL CVEs over 153 `pkg:generic/openssl` versions with
  *     letter-suffix versions (1.0.1g …) and 4040 links. The dumps load
  *     through a model-dump reader and the bulk serving marts run over
  *     them; expected values are recomputed independently with plain
  *     Scala collections over the parsed JSON (no Spark), so the two
  *     paths share no code below the fixture parse.
  */
class CapturedApiSpec extends AnyFunSuite with SparkTestSession {

  private val mapper = new ObjectMapper()

  // ---------------------------------------------------------------
  // Part 1 — the jackson-databind captured responses
  // (test_api.py:602-672 setUp; :668-772, :835-898, :900-1007 goldens)
  // ---------------------------------------------------------------

  private val JacksonBase = "pkg:maven/com.fasterxml.jackson.core/jackson-databind"

  /** setUp state (test_api.py:607-668): affected/fixing links. */
  private def jacksonUnfurled: DataFrame = {
    val sp = spark
    import sp.implicits._
    Seq(
      // set_as_fixing(2.12.6, vul3)
      ("VCID-vul3-vul3-vul3", "2.12.6", false, true),
      // 2.12.6.1: affected by vul2, fixing vul1
      ("VCID-vul2-vul2-vul2", "2.12.6.1", true, false),
      ("VCID-vul1-vul1-vul1", "2.12.6.1", false, true),
      // 2.13.1: affected by vul1, fixing vul3
      ("VCID-vul1-vul1-vul1", "2.13.1", true, false),
      ("VCID-vul3-vul3-vul3", "2.13.1", false, true),
      // 2.13.2: affected by vul2, fixing vul1
      ("VCID-vul2-vul2-vul2", "2.13.2", true, false),
      ("VCID-vul1-vul1-vul1", "2.13.2", false, true))
      .toDF("avid", "version", "is_affected", "is_fixed")
      .withColumn("base_purl", lit(JacksonBase))
  }

  private def jacksonPackages(ghosts: Set[String]): DataFrame = {
    val sp = spark
    import sp.implicits._
    Seq("2.12.6", "2.12.6.1", "2.13.1", "2.13.2", "2.14.0-rc1")
      .map(v => (JacksonBase, v, ghosts.contains(v)))
      .toDF("base_purl", "version", "is_ghost")
  }

  /** (next, latest) non-vulnerable for 2.13.1 under a ghost set. */
  private def nextLatest(ghosts: Set[String]): (Option[String], Option[String]) = {
    val ranked = Serving.versionRanks(jacksonPackages(ghosts))
    val row = Serving.nonVulnerableVersions(jacksonUnfurled, ranked)
      .filter(col("version") === "2.13.1").collect().head
    (Option(row.getAs[String]("next_non_vulnerable")),
      Option(row.getAs[String]("latest_non_vulnerable")))
  }

  test("captured maven rank order: 2.12.6 < 2.12.6.1 < 2.13.1 < 2.13.2 < 2.14.0-rc1") {
    val got = Serving.versionRanks(jacksonPackages(Set.empty))
      .orderBy("version_rank").select("version")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("2.12.6", "2.12.6.1", "2.13.1", "2.13.2", "2.14.0-rc1"))
  }

  test("golden base response facets (test_api.py:668-772)") {
    val sp = spark
    import sp.implicits._
    // is_vulnerable: True
    val req = Seq((JacksonBase, "2.13.1")).toDF("base_purl", "version")
    val vuln = Serving.bulkLookup(jacksonUnfurled, req).collect().head
    assert(vuln.getAs[Boolean]("is_vulnerable"))

    // next/latest non-vulnerable: both 2.14.0-rc1 (2.12.6 is safe but
    // LESSER — the captured response proves candidates are later-only)
    assert(nextLatest(Set.empty) == (Some("2.14.0-rc1"), Some("2.14.0-rc1")))

    // affected_by = [vul1], fixing = [vul3]
    val ghosts = jacksonPackages(Set.empty).filter(col("is_ghost"))
      .select("base_purl", "version")
    val fixedDetails = Serving.fixedPackageDetails(jacksonUnfurled, ghosts)
    val affecting = jacksonUnfurled
      .filter(col("is_affected") && col("version") === "2.13.1")
      .select("avid").collect().map(_.getString(0)).toSeq
    assert(affecting == Seq("VCID-vul1-vul1-vul1"))
    val fixing = fixedDetails.filter(col("version") === "2.13.1")
      .select("avid").collect().map(_.getString(0)).toSeq
    assert(fixing == Seq("VCID-vul3-vul3-vul3"))

    // vul1.fixed_packages = [2.13.2, vulnerable, affected by vul2];
    // vul3.fixed_packages = [2.12.6 safe, 2.13.1 vulnerable by vul1] —
    // the captured nesting, including per-fix is_vulnerable flags
    val affectedOf = jacksonUnfurled.filter(col("is_affected"))
      .groupBy("base_purl", "version")
      .agg(array_sort(collect_set(col("avid"))).as("affected_by"))
    val nested = fixedDetails
      .join(affectedOf, Seq("base_purl", "version"), "left")
      .withColumn("affected_by",
        coalesce(col("affected_by"), array().cast("array<string>")))
    def fixedOf(avid: String): Seq[(String, Boolean, Seq[String])] =
      nested.filter(col("avid") === avid)
        .orderBy("version")
        .collect().map(r => (r.getAs[String]("version"),
          r.getAs[Boolean]("is_vulnerable"),
          r.getAs[Seq[String]]("affected_by"))).toSeq
    assert(fixedOf("VCID-vul1-vul1-vul1") ==
      Seq(("2.12.6.1", true, Seq("VCID-vul2-vul2-vul2")),
        ("2.13.2", true, Seq("VCID-vul2-vul2-vul2"))))
    assert(fixedOf("VCID-vul3-vul3-vul3") ==
      Seq(("2.12.6", false, Seq.empty),
        ("2.13.1", true, Seq("VCID-vul1-vul1-vul1"))))
  }

  test("golden ghost-on-self response (test_api.py:835-898)") {
    // ghosted 2.13.1: fixing_vulnerabilities = [] and its rank reads 0,
    // so next=2.12.6 (the LOWEST safe version), latest=2.14.0-rc1
    val ghosts = Set("2.13.1")
    assert(nextLatest(ghosts) == (Some("2.12.6"), Some("2.14.0-rc1")))
    val ghostDim = jacksonPackages(ghosts).filter(col("is_ghost"))
      .select("base_purl", "version")
    val fixing = Serving.fixedPackageDetails(jacksonUnfurled, ghostDim)
      .filter(col("version") === "2.13.1")
      .select("avid").collect()
    assert(fixing.isEmpty, "a ghost package must not fix anything")
  }

  test("golden ghost-on-latest response (test_api.py:900-1007)") {
    // ghosted 2.14.0-rc1: no safe version later than 2.13.1 remains
    assert(nextLatest(Set("2.14.0-rc1")) == (None, None))
  }

  test("v3 set-member patches aggregation (test_api_v3.py:405-558)") {
    val sp = spark
    import sp.implicits._
    // the reference's PackageCommitPatchComplexTest scenario: set with
    // primary AVID-123 (introduced 0658…, fixed 98e5…) and member
    // AVID-456 (introduced 98e5…, fixed 2fc5…) — per-kind union with
    // the shared hash surfacing once per kind
    val url = "https://github.com/aboutcode-org/sample"
    val links = Seq(
      ("importer_1/AVID-123", "introduced",
        "06580c7f99c6fde7bcf18e30bdcc61f081430957", url),
      ("importer_1/AVID-123", "fixed",
        "98e516011d6e096e25247b82fc5f196bbeecff10", url),
      ("importer_1/AVID-456", "introduced",
        "98e516011d6e096e25247b82fc5f196bbeecff10", url),
      ("importer_1/AVID-456", "fixed",
        "2fc5f196bbeecff1098e516011d6e096e25247b8", url))
      .toDF("avid", "patch_kind", "commit_hash", "vcs_url")
    val members = Seq(
      (1L, "importer_1/AVID-123"), (1L, "importer_1/AVID-456"))
      .toDF("set_id", "avid")
    val got = Serving.patchSetMap(links, members)
      .collect().map { r =>
        r.getAs[String]("patch_kind") ->
          r.getSeq[Row](2).map(_.getString(0)).toSet
      }.toMap
    assert(got("introduced") == Set(
      "06580c7f99c6fde7bcf18e30bdcc61f081430957",
      "98e516011d6e096e25247b82fc5f196bbeecff10"))
    assert(got("fixed") == Set(
      "98e516011d6e096e25247b82fc5f196bbeecff10",
      "2fc5f196bbeecff1098e516011d6e096e25247b8"))
  }

  // ---------------------------------------------------------------
  // Part 2 — the api_fixtures Django dumps
  // ---------------------------------------------------------------

  /** One parsed model dump: model name → rows of (pk, fields). */
  private def loadDump(name: String): Map[String, Seq[(Long, Map[String, Any])]] = {
    assume(RefCapture.available, "reference test_data checkout not present")
    val node = mapper.readTree(RefCapture.text(s"api_fixtures/$name.json"))
    node.elements().asScala.toSeq.map { e =>
      val fields = e.get("fields")
      val kv = fields.fieldNames().asScala.map { f =>
        val v = fields.get(f)
        val any: Any =
          if (v.isNull) null
          else if (v.isNumber) v.asLong()
          else if (v.isBoolean) v.asBoolean()
          else v.asText()
        f -> any
      }.toMap
      (e.get("model").asText(), e.get("pk").asLong(), kv)
    }.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
  }

  /** v1 dump state → the serving model: purl per package pk, and the
    * unfurled link table ((avid, base_purl, version) with
    * is_affected/is_fixed edges; a packagerelatedvulnerability row
    * affects `package` and is fixed by `patched_package`). */
  private def dumpState(name: String): (
      Map[Long, (String, String)], // pk -> (base_purl, version)
      Map[Long, String],           // vuln pk -> vulnerability_id
      Seq[(Long, Long, Option[Long])]) = { // (package, vulnerability, patched)
    val dump = loadDump(name)
    val pkgs = dump.getOrElse("vulnerabilities.package", Seq.empty).map {
      case (pk, f) =>
        val ns = Option(f("namespace")).map(_.toString).getOrElse("")
        val base = if (ns.isEmpty) s"pkg:${f("type")}/${f("name")}"
        else s"pkg:${f("type")}/$ns/${f("name")}"
        pk -> (base, f("version").toString)
    }.toMap
    val vulns = dump.getOrElse("vulnerabilities.vulnerability", Seq.empty)
      .map { case (pk, f) => pk -> f("vulnerability_id").toString }.toMap
    val links = dump.getOrElse("vulnerabilities.packagerelatedvulnerability",
      Seq.empty).map { case (_, f) =>
      (f("package").asInstanceOf[Long], f("vulnerability").asInstanceOf[Long],
        Option(f("patched_package")).map(_.asInstanceOf[Long]))
    }
    (pkgs, vulns, links)
  }

  private def unfurledOf(pkgs: Map[Long, (String, String)],
      vulns: Map[Long, String],
      links: Seq[(Long, Long, Option[Long])]): DataFrame = {
    val sp = spark
    import sp.implicits._
    val rows = links.flatMap { case (p, v, patched) =>
      val avid = vulns(v)
      val aff = pkgs.get(p).map { case (b, ver) => (avid, b, ver, true, false) }
      val fix = patched.flatMap(pkgs.get).map {
        case (b, ver) => (avid, b, ver, false, true)
      }
      aff.toSeq ++ fix.toSeq
    }
    rows.toDF("avid", "base_purl", "version", "is_affected", "is_fixed")
  }

  test("openssl dump: bulk is_vulnerable matches an independent recompute") {
    val sp = spark
    import sp.implicits._
    val (pkgs, vulns, links) = dumpState("openssl")
    assert(vulns.size == 178 && pkgs.size == 153)
    val unfurled = unfurledOf(pkgs, vulns, links)

    // independent truth: plain-Scala set of affected (purl, version)
    val affectedSet = links.flatMap(l => pkgs.get(l._1)).toSet
    val req = pkgs.values.toSeq.distinct.toDF("base_purl", "version")
    val got = Serving.bulkLookup(unfurled, req)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Boolean]("is_vulnerable")).toMap
    assert(got.size == pkgs.values.toSet.size)
    got.foreach { case (key, flag) =>
      assert(flag == affectedSet.contains(key), s"is_vulnerable($key)")
    }
    assert(got.values.count(identity) > 0 && got.values.exists(!_))
  }

  test("openssl dump: per-vulnerability package counts match recompute") {
    val (pkgs, vulns, links) = dumpState("openssl")
    val unfurled = unfurledOf(pkgs, vulns, links)
    // independent truth via plain collections
    val want = links.groupBy(l => vulns(l._2)).view.mapValues { ls =>
      (ls.flatMap(l => pkgs.get(l._1)).distinct.size,
        ls.flatMap(_._3.flatMap(pkgs.get)).distinct.size)
    }.toMap
    val got = Serving.advisoryPackageCounts(unfurled)
      .collect().map(r => r.getAs[String]("avid") ->
        (r.getAs[Long]("vulnerable_package_count").toInt,
          r.getAs[Long]("patched_package_count").toInt)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (avid, counts) =>
      assert(counts == want(avid), s"counts($avid)")
    }
  }

  test("openssl dump: next/latest non-vulnerable honor letter-suffix order") {
    val sp = spark
    import sp.implicits._
    val (pkgs, vulns, links) = dumpState("openssl")
    val unfurled = unfurledOf(pkgs, vulns, links)
    val packages = pkgs.values.toSeq.distinct
      .toDF("base_purl", "version")
    val ranked = Serving.versionRanks(packages)
    val nv = Serving.nonVulnerableVersions(unfurled, ranked)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (Option(r.getAs[String]("next_non_vulnerable")),
          Option(r.getAs[String]("latest_non_vulnerable")))).toMap

    // independent truth: plain-Scala sort by VersionOrd over the parsed
    // dump (same comparator the native expression wraps, driven through
    // a separate code path: no window, no join)
    val affectedSet = links.flatMap(l => pkgs.get(l._1)).toSet
    val byBase = pkgs.values.toSeq.distinct.groupBy(_._1)
    byBase.foreach { case (base, vers) =>
      val scheme = base.stripPrefix("pkg:").takeWhile(_ != '/')
      val sorted = vers.map(_._2).distinct
        .sortBy(v => graft.functions.VersionOrd.sortKey(scheme, v))
      sorted.zipWithIndex.foreach { case (v, i) =>
        val safeLater = sorted.drop(i + 1)
          .filter(s => !affectedSet.contains((base, s)))
        val want = (safeLater.headOption, safeLater.lastOption)
        assert(nv((base, v)) == want, s"non-vuln($base@$v)")
      }
    }
  }

  test("debian + github dumps load and flag through the same path") {
    val sp = spark
    import sp.implicits._
    for (name <- Seq("debian", "github")) {
      val (pkgs, vulns, links) = dumpState(name)
      assert(pkgs.nonEmpty && vulns.nonEmpty && links.nonEmpty, name)
      val unfurled = unfurledOf(pkgs, vulns, links)
      val affectedSet = links.flatMap(l => pkgs.get(l._1)).toSet
      val req = pkgs.values.toSeq.distinct.toDF("base_purl", "version")
      val got = Serving.bulkLookup(unfurled, req)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          r.getAs[Boolean]("is_vulnerable")).toMap
      got.foreach { case (key, flag) =>
        assert(flag == affectedSet.contains(key), s"$name is_vulnerable($key)")
      }
    }
  }

  // ---------------------------------------------------------------
  // Part 3 — v3 advisory + package endpoint families
  // (test_api_v3.py:33-184 APIV3TestCase, :187-309 the two
  // multi-row scenarios), rebuilt through the REAL pipeline
  // (withContentIdAndLatest → impacts → unfurl) and the Serving
  // entry points, asserted against the reference tests' response
  // expectations.
  // ---------------------------------------------------------------

  private def v3Advisory(ds: String, id: String, aliases: Seq[String],
      affected: Seq[graft.model.AffectedRow]) =
    graft.model.AdvisoryRow(ds, id, "summary", aliases,
      Seq.empty, Seq.empty, Seq.empty, affected,
      java.sql.Timestamp.valueOf("2025-06-01 00:00:00"), None,
      "https://example.com/advisory", 100)

  test("v3 advisory endpoints golden (test_api_v3.py:33-154)") {
    val sp = spark
    import sp.implicits._
    import graft.derive.AdvisoryDerive
    val advisories = AdvisoryDerive.withContentIdAndLatest(Seq(
      v3Advisory("ghsa", "GHSA-1234", Seq.empty,
        Seq(graft.model.AffectedRow("pkg:pypi/sample",
          "vers:pypi/=1.0.0", "")))).toDF())
    val versions = Seq(("pkg:pypi/sample", "1.0.0"))
      .toDF("base_purl", "version")
    val unfurled =
      AdvisoryDerive.unfurl(AdvisoryDerive.impacts(advisories), versions)
    val req = Seq(("pkg:pypi/sample", "1.0.0"))
      .toDF("base_purl", "version")
    // advisories POST (latest_advisories_for_purls = affecting ∪ fixed):
    // advisory_id "GHSA-1234", advisory_uid "ghsa/GHSA-1234"
    val advs = Serving.advisoriesForPurls(advisories, unfurled, req,
      mode = "both").collect()
    assert(advs.length == 1)
    assert(advs.head.getAs[String]("advisory_id") == "GHSA-1234")
    assert(advs.head.getAs[String]("avid") == "ghsa/GHSA-1234")
    // affected-by-advisories list: one result; fixing list: empty
    assert(Serving.advisoriesForPurls(advisories, unfurled, req,
      mode = "affecting").count() == 1)
    assert(Serving.advisoriesForPurls(advisories, unfurled, req,
      mode = "fixed").count() == 0)
    // packages POST without details: echoes the vulnerable purl
    val pkgs = AdvisoryDerive.packages(versions)
    val exact = pkgs
      .filter(col("package_url") === "pkg:pypi/sample@1.0.0")
      .join(unfurled.filter(col("is_affected"))
        .select("base_purl", "version").distinct(),
        Seq("base_purl", "version"), "left_semi")
      .select("package_url").collect().map(_.getString(0)).toSeq
    assert(exact == Seq("pkg:pypi/sample@1.0.0"))
    // ignore_qualifiers_subpath: the qualified request purl still
    // answers with the plain vulnerable spelling
    val plain = Serving.vulnerablePlainPurlsOf(pkgs, unfurled,
      Seq("pkg:pypi/sample@1.0.0?foo=bar").toDF("purl"))
      .collect().map(_.getString(0)).toSeq
    assert(plain.contains("pkg:pypi/sample@1.0.0"))
  }

  test("v3 one package x 101 advisories: page of 100, first GHSA-12341") {
    val sp = spark
    import sp.implicits._
    import graft.derive.AdvisoryDerive
    // test_api_v3.py:187-245: 101 advisories GHSA-1234{1..101} all
    // affecting pkg:pypi/sample@1.0.0; the POST page holds 100 rows
    // and the first is GHSA-12341 (lexicographic avid order agrees
    // with the reference's insertion order on the first row)
    val rows = (1 to 101).map(i => v3Advisory("ghsa", s"GHSA-1234$i",
      Seq(s"CVE-2021-1234$i"),
      Seq(graft.model.AffectedRow("pkg:pypi/sample",
        "vers:pypi/=1.0.0", ""))))
    val advisories = AdvisoryDerive.withContentIdAndLatest(rows.toDF())
    val versions = Seq(("pkg:pypi/sample", "1.0.0"))
      .toDF("base_purl", "version")
    val unfurled =
      AdvisoryDerive.unfurl(AdvisoryDerive.impacts(advisories), versions)
    val req = Seq(("pkg:pypi/sample", "1.0.0"))
      .toDF("base_purl", "version")
    val all = Serving.advisoriesForPurls(advisories, unfurled, req,
      mode = "both")
    assert(all.count() == 101)
    val page = all.orderBy("avid").limit(100)
      .select("advisory_id").collect().map(_.getString(0)).toSeq
    assert(page.length == 100)
    assert(page.head == "GHSA-12341")
  }

  // ------------------------------------------------------------ part 4
  // V1 vulnerability DETAIL + V1 vulnerability SEARCH cascade, against
  // the reference's captured expectations (test_api.py:210-366 setUp +
  // golden responses; test_view.py:180-196; models.py:150-178), driven
  // through the real pipeline → serving path.

  test("V1 vulnerability detail golden (test_api.py:261-318)") {
    val sp = spark
    import sp.implicits._
    import graft.derive.{AdvisoryDerive, VulnerabilityV1}
    // the reference fixture: vulnerability summary "test", two FIXING
    // packages (pypi+deb flask@0.1.2), one reference "https://.com"
    // with an epss severity attached by url, weaknesses {119, 10000}
    // (10000 not in the catalog — must drop)
    val row = graft.model.AdvisoryRow("src", "ADV-1", "test", Seq.empty,
      Seq(graft.model.ReferenceRow("https://.com", "", "")),
      Seq(graft.model.SeverityRow("epss", "0.526", ".0016",
        "https://.com")),
      Seq(119, 10000),
      Seq(graft.model.AffectedRow("pkg:pypi/flask", "", "vers:pypi/=0.1.2"),
        graft.model.AffectedRow("pkg:deb/flask", "", "vers:deb/=0.1.2")),
      java.sql.Timestamp.valueOf("2025-06-01 00:00:00"), None,
      "https://example.com/advisory", 100)
    val advisories =
      AdvisoryDerive.withContentIdAndLatest(Seq(row).toDF())
    val versions = Seq(("pkg:pypi/flask", "0.1.2"),
      ("pkg:deb/flask", "0.1.2")).toDF("base_purl", "version")
    val unfurled =
      AdvisoryDerive.unfurl(AdvisoryDerive.impacts(advisories), versions)
    val member = VulnerabilityV1.membership(sp, advisories)
    val d = VulnerabilityV1
      .vulnerabilityDetail(sp, advisories, unfurled, member)
      .collect()
    assert(d.length == 1)
    val r = d.head
    assert(r.getAs[String]("summary") == "test")
    // epss severities are excluded from the range entirely
    // (api.py:262-264) — the golden's severity_range_score: None
    assert(r.isNullAt(r.fieldIndex("severity_range_score")))
    assert(r.getSeq[String](r.fieldIndex("aliases")).isEmpty)
    // fixed_packages sorted by purl: deb before pypi, both
    // is_vulnerable=false with empty affected_by lists — the golden's
    // exact order and flags
    val fixed = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("fixed_packages"))
      .map(p => (p.getString(0), p.getBoolean(1),
        p.getSeq[String](2)))
    assert(fixed == Seq(("pkg:deb/flask@0.1.2", false, Seq.empty),
      ("pkg:pypi/flask@0.1.2", false, Seq.empty)))
    assert(r.getSeq[org.apache.spark.sql.Row](
      r.fieldIndex("affected_packages")).isEmpty)
    // one reference with its epss score nested by URL equality
    val refs = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("references"))
      .map(x => (x.getString(0), x.getString(1), x.getString(2),
        x.getSeq[org.apache.spark.sql.Row](3)
          .map(s => (s.getString(0), s.getString(1), s.getString(2)))))
    assert(refs == Seq(("https://.com", "", "",
      Seq(("0.526", "epss", ".0016")))))
    // weaknesses: 119 renders with the catalog name (the golden's
    // string); the catalog-less 10000 drops. description is the one
    // field-level divergence (the bundled catalog carries id→name;
    // the reference reads descriptions from the vendored cwe2 db)
    val weak = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("weaknesses"))
      .map(w => (w.getInt(0), w.getString(1)))
    assert(weak == Seq((119,
      "Improper Restriction of Operations within the Bounds of a Memory Buffer")))
    // risk trio: the golden carries None because the reference's risk
    // pipeline had not run in that test; this mart computes at derive
    // time exactly what risk.py would store for the fixture —
    // ws = 0.526 × weight 5 / 10 → 0.3, no exploit/high-epss → 0.5,
    // risk = round(0.3 × 0.5, 1) = 0.2
    assert(r.getAs[Double]("weighted_severity") == 0.3)
    assert(r.getAs[Double]("exploitability") == 0.5)
    assert(r.getAs[Double]("risk_score") == 0.2)
    // the ?type= filtered golden (test_api.py:320-366): restricting to
    // pypi keeps only the pypi fixed package, other facets unchanged
    assert(fixed.filter(_._1.startsWith("pkg:pypi")) ==
      Seq(("pkg:pypi/flask@0.1.2", false, Seq.empty)))
  }

  test("V1 vulnerability search cascade tiers (models.py:150-178, " +
      "test_view.py:180-196)") {
    val sp = spark
    import sp.implicits._
    import graft.derive.{AdvisoryDerive, VulnerabilityV1}
    def adv(id: String, aliases: Seq[String], summary: String,
        refId: String = ""): graft.model.AdvisoryRow =
      graft.model.AdvisoryRow("src", id, summary, aliases,
        if (refId.isEmpty) Seq.empty
        else Seq(graft.model.ReferenceRow(
          s"https://ref.example/$refId", "advisory", refId)),
        Seq.empty, Seq.empty, Seq.empty,
        java.sql.Timestamp.valueOf("2025-06-01 00:00:00"), None,
        "https://example.com/advisory", 100)
    val advisories = AdvisoryDerive.withContentIdAndLatest(Seq(
      adv("ADV-A", Seq("CVE-2022-0001"), "first advisory"),
      adv("ADV-B", Seq("TEST-2022-123"), "other summary"),
      adv("ADV-C", Seq("GHSA-zzzz"), "mentions TEST-2022 in prose",
        refId = "GHSA-REF-77")).toDF())
    val member = VulnerabilityV1.membership(sp, advisories)
    val vulns = VulnerabilityV1.vulnerabilities(sp, advisories,
      precomputedMembership = Some(member))
    val refLinks = advisories.filter(col("is_latest"))
      .select(col("avid"), explode(col("references")).as("r"))
      .join(member.select("avid", "vulnerability_id"), Seq("avid"))
      .select(col("vulnerability_id"), col("r.reference_id"))
    def run(q: String): Seq[String] =
      VulnerabilityV1.search(vulns, refLinks, q)
        .select("vulnerability_id").collect().map(_.getString(0)).toSeq
    val vcidOf = member.select("avid", "vulnerability_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // tier 1: the exact VCID finds exactly its vulnerability
    // (test_view.py:180-184 — vcid works; a pk-style number does not)
    assert(run(vcidOf("src/ADV-A")) == Seq(vcidOf("src/ADV-A")))
    assert(run("12345").isEmpty)
    // tier 2: exact alias
    assert(run("CVE-2022-0001") == Seq(vcidOf("src/ADV-A")))
    // tier 3 beats tier 4: "TEST-2022" is an alias-contains hit on B
    // AND a summary hit on C — only B answers
    // (test_view.py:190-193's alias search)
    assert(run("TEST-2022") == Seq(vcidOf("src/ADV-B")))
    // tier 4: reference-id contains, case-insensitive, only when no
    // earlier tier fires anywhere
    assert(run("ghsa-ref") == Seq(vcidOf("src/ADV-C")))
    // summary-only hit at tier 4
    assert(run("prose") == Seq(vcidOf("src/ADV-C")))
    // empty query → none (test_view.py:186-188)
    assert(run("").isEmpty)
    assert(run("   ").isEmpty)
  }

  test("v3 one advisory x 101 packages: empty purls -> all vulnerable") {
    val sp = spark
    import sp.implicits._
    import graft.derive.AdvisoryDerive
    // test_api_v3.py:247-309: empty request purls switch the packages
    // POST to all_vulnerable_purls ordered by package_url; 101
    // vulnerable packages page to 100 results
    val affected = (1 to 101).map(i => graft.model.AffectedRow(
      s"pkg:pypi/sample$i", "vers:pypi/=1.0.0", ""))
    val advisories = AdvisoryDerive.withContentIdAndLatest(Seq(
      v3Advisory("ghsa", "GHSA-1234101", Seq("CVE-2021-1234101"),
        affected)).toDF())
    val versions = (1 to 101).map(i => (s"pkg:pypi/sample$i", "1.0.0"))
      .toDF("base_purl", "version")
    val unfurled =
      AdvisoryDerive.unfurl(AdvisoryDerive.impacts(advisories), versions)
    val pkgs = AdvisoryDerive.packages(versions)
    val all = Serving.allVulnerablePurls(pkgs, unfurled)
      .collect().map(_.getString(0)).toSeq
    assert(all.length == 101)
    val page = all.take(100)
    assert(page.length == 100)
    assert(page.forall(p =>
      p.startsWith("pkg:pypi/sample") && p.endsWith("@1.0.0")))
  }

  // ------------------------------------------------------------ part 5
  // api_v2 endpoint family, against tests/test_api_v2.py's captured
  // expectations (the reference keeps that suite commented out; the
  // assertions still document the serializer contract), driven through
  // the real pipeline → serving path.

  private def v2State() = {
    val sp = spark
    import sp.implicits._
    import graft.derive.{AdvisoryDerive, VulnerabilityV1}
    // the reference fixture (test_api_v2.py:216-239): django@3.2
    // AFFECTED by vuln1 (alias CVE-2021-1234), lodash@4.17.20 FIXING
    // vuln2 (alias CVE-2021-5678); plus a ghost package fixing vuln2
    // to pin the ghost rule
    def adv(id: String, alias: String, summary: String,
        affected: Seq[graft.model.AffectedRow]): graft.model.AdvisoryRow =
      graft.model.AdvisoryRow("src", id, summary, Seq(alias), Seq.empty,
        Seq.empty, Seq.empty, affected,
        java.sql.Timestamp.valueOf("2025-06-01 00:00:00"), None,
        "https://example.com/advisory", 100)
    val advisories = AdvisoryDerive.withContentIdAndLatest(Seq(
      adv("ADV-1", "CVE-2021-1234", "Test vulnerability 1",
        Seq(graft.model.AffectedRow("pkg:pypi/django",
          "vers:pypi/=3.2", ""))),
      adv("ADV-2", "CVE-2021-5678", "Test vulnerability 2",
        Seq(graft.model.AffectedRow("pkg:npm/lodash",
          "", "vers:npm/=4.17.20"),
          graft.model.AffectedRow("pkg:npm/ghostpkg",
            "", "vers:npm/=1.0"))),
      // fixed ONLY by the ghost package — visible in the list
      // endpoint's page dict (ORM relation, api_v2.py:312-314) while
      // every serialized package shows it fixing nothing
      adv("ADV-3", "CVE-2021-9999", "Test vulnerability 3",
        Seq(graft.model.AffectedRow("pkg:npm/ghostpkg",
          "", "vers:npm/=1.0")))).toDF())
    val packages = Seq(
      ("pkg:pypi/django", "3.2", false),
      ("pkg:npm/lodash", "4.17.20", false),
      ("pkg:npm/ghostpkg", "1.0", true))
      .toDF("base_purl", "version", "is_ghost")
    val versions = packages.select("base_purl", "version")
    val unfurled =
      AdvisoryDerive.unfurl(AdvisoryDerive.impacts(advisories), versions)
    val member = VulnerabilityV1.membership(sp, advisories)
    val vcidOf = member.select("avid", "vulnerability_id").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val rows = PackageV2.packageList(packages, unfurled, member)
      .collect().map(r => r.getString(0) -> r).toMap
    (advisories, packages, unfurled, member, vcidOf, rows)
  }

  test("PackageV2 serializer golden (test_api_v2.py:316-366, 425-461): " +
      "affected dict shape, fixing list, None next/latest/risk, ghost") {
    val (_, _, _, _, vcidOf, rows) = v2State()
    val (vcid1, vcid2) = (vcidOf("src/ADV-1"), vcidOf("src/ADV-2"))
    // django: affected_by_vulnerabilities == {vuln1: {code_fixes: [],
    // vulnerability_id, fixed_by_packages: None}} — vuln1 has no fixing
    // package; fixing []; next/latest/risk all None (risk pipeline and
    // safe versions absent in the fixture)
    val dj = rows("pkg:pypi/django@3.2")
    val affected = dj.getSeq[org.apache.spark.sql.Row](
      dj.fieldIndex("affected_by_vulnerabilities"))
      .map(x => (x.getString(0), Option(x.getString(1)),
        x.getSeq[String](2)))
    assert(affected == Seq((vcid1, None, Seq.empty)))
    assert(dj.getSeq[String](dj.fieldIndex("fixing_vulnerabilities")).isEmpty)
    assert(dj.isNullAt(dj.fieldIndex("next_non_vulnerable_version")))
    assert(dj.isNullAt(dj.fieldIndex("latest_non_vulnerable_version")))
    assert(dj.isNullAt(dj.fieldIndex("risk_score")))
    // lodash: fixes vuln2 (test_get_fixing_vulnerabilities:
    // == ["VCID-5678"]), affected empty
    val lo = rows("pkg:npm/lodash@4.17.20")
    assert(lo.getSeq[org.apache.spark.sql.Row](
      lo.fieldIndex("affected_by_vulnerabilities")).isEmpty)
    assert(lo.getSeq[String](lo.fieldIndex("fixing_vulnerabilities")) ==
      Seq(vcid2))
    // ghost package fixes NOTHING (api_v2.py:239-242) even though the
    // unfurl carries its fixed row
    val gh = rows("pkg:npm/ghostpkg@1.0")
    assert(gh.getSeq[String](gh.fieldIndex("fixing_vulnerabilities")).isEmpty)
  }

  test("PackageV2 queryset filters (test_api_v2.py:268-314, 393-423): " +
      "purl / affected_by / fixing, invalid filters -> empty") {
    val sp = spark
    val (_, packages, unfurled, member, vcidOf, _) = v2State()
    val (vcid1, vcid2) = (vcidOf("src/ADV-1"), vcidOf("src/ADV-2"))
    val list = PackageV2.packageList(packages, unfurled, member)
    def purls(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("purl").collect().map(_.getString(0)).toSeq.sorted
    // purl filter: exactly the requested package
    assert(purls(list.filter(col("purl") === "pkg:pypi/django@3.2")) ==
      Seq("pkg:pypi/django@3.2"))
    // affected_by_vulnerability filter -> django
    assert(purls(list.filter(exists(col("affected_by_vulnerabilities"),
      x => x.getField("vulnerability_id") === vcid1))) ==
      Seq("pkg:pypi/django@3.2"))
    // fixing_vulnerability filter -> lodash (the ghost is excluded by
    // its empty fixing list)
    assert(purls(list.filter(
      array_contains(col("fixing_vulnerabilities"), vcid2))) ==
      Seq("pkg:npm/lodash@4.17.20"))
    // invalid vulnerability / purl -> empty lists, not errors
    assert(purls(list.filter(exists(col("affected_by_vulnerabilities"),
      x => x.getField("vulnerability_id") === "VCID-9999"))).isEmpty)
    assert(purls(list.filter(
      col("purl") === "pkg:nonexistent/package@1.0.0")).isEmpty)
  }

  test("V2 list endpoints (test_api_v2.py:70-164, 241-266): page-scoped " +
      "vulnerabilities dict and vulnerability id/alias filters") {
    val sp = spark
    import graft.derive.VulnerabilityV1
    val (advisories, packages, unfurled, member, vcidOf, _) = v2State()
    val (vcid1, vcid2) = (vcidOf("src/ADV-1"), vcidOf("src/ADV-2"))
    val list = PackageV2.packageList(packages, unfurled, member)
    val vulns = VulnerabilityV1.vulnerabilities(sp, advisories,
      precomputedMembership = Some(member))
    val vcid3 = vcidOf("src/ADV-3")
    // test_list_packages: every VCID referenced by the page's packages
    // appears in the response's vulnerabilities dict. The fixing side
    // comes from the PRE-ghost-mask ORM relation (api_v2.py:312-314):
    // vuln3 is fixed only by the ghost package, yet it IS in the dict
    // even though no serialized package claims to fix it.
    val dict = PackageV2.vulnerabilitiesDict(list, vulns,
      fixingAll = Some(PackageV2.fixingRelation(unfurled, member)))
      .collect().map(r => r.getAs[String]("vulnerability_id") ->
        r.getAs[String]("summary")).toMap
    assert(dict.keySet == Set(vcid1, vcid2, vcid3))
    assert(dict(vcid1) == "Test vulnerability 1")
    assert(dict(vcid2) == "Test vulnerability 2")
    assert(dict(vcid3) == "Test vulnerability 3")
    // without the relation the dict degrades to the page rows'
    // ghost-masked arrays (documented fallback): vuln3 drops
    val masked = PackageV2.vulnerabilitiesDict(list, vulns)
      .collect().map(_.getAs[String]("vulnerability_id")).toSet
    assert(masked == Set(vcid1, vcid2))
    // vulnerability list filters (exact-in semantics, CharInFilter):
    // by id, by multiple ids, by alias, by multiple aliases
    def ids(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("vulnerability_id").collect().map(_.getString(0)).toSet
    assert(ids(vulns.filter(col("vulnerability_id") === vcid1)) ==
      Set(vcid1))
    assert(ids(vulns.filter(
      col("vulnerability_id").isin(vcid1, vcid2))) == Set(vcid1, vcid2))
    assert(ids(vulns.filter(
      array_contains(col("aliases"), "CVE-2021-5678"))) == Set(vcid2))
    assert(ids(vulns.filter(
      array_contains(col("aliases"), "CVE-2021-1234") ||
        array_contains(col("aliases"), "CVE-2021-5678"))) ==
      Set(vcid1, vcid2))
    // invalid id -> empty (test_invalid_vulnerability_id's 404)
    assert(ids(vulns.filter(col("vulnerability_id") === "VCID-9999"))
      .isEmpty)
  }

  test("CodeFixV2 endpoint (test_api_v2.py:860-913): list, filter by " +
      "advisory avid, unknown avid -> empty") {
    val sp = spark
    import sp.implicits._
    import graft.derive.AdvisoryDerive
    // the reference fixture: one advisory test_source/TEST-2025-001
    // with a code fix linking an affected package; built through the
    // real link-fed mart (codeFixesFromLinks)
    val links = Seq(
      ("test_source/TEST-2025-001",
        "https://github.com/org/repo/commit/abc123def"),
      ("test_source/TEST-2025-001",
        "https://example.com/advisory"))   // non-commit ref: dropped
      .toDF("avid", "url")
    val unfurled = Seq(
      ("test_source/TEST-2025-001", "pkg:pypi/affected_package", "1.0.0",
        true, false))
      .toDF("avid", "base_purl", "version", "is_affected", "is_fixed")
    val fixes = AdvisoryDerive.codeFixesFromLinks(links, unfurled)
    // list all: one code fix, affected_advisory_id == the avid
    val all = PackageV2.v2CodeFixes(fixes).collect()
    assert(all.length == 1)
    val r = all.head
    assert(r.getAs[String]("affected_advisory_id") ==
      "test_source/TEST-2025-001")
    assert(r.getSeq[String](r.fieldIndex("commits")) ==
      Seq("https://github.com/org/repo/commit/abc123def"))
    assert(r.getAs[String]("affected_package_purl") ==
      "pkg:pypi/affected_package@1.0.0")
    // filter by advisory_id: found
    assert(PackageV2.v2CodeFixes(fixes,
      Some("test_source/TEST-2025-001")).count() == 1)
    // unknown advisory_id: count == 0, not an error
    assert(PackageV2.v2CodeFixes(fixes,
      Some("nonexistent/ADVISORY-ID")).count() == 0)
  }
}
