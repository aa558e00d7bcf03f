package graft

import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.AdvisoryJsonIngest
import graft.operators.SparkTestSession

/** The switch-over surface: one call produces every mart, queryable with
  * plain spark.sql over the graft_* views. */
class EngineSpec extends AnyFunSuite with SparkTestSession {

  test("runAdvisoryPipeline registers queryable marts") {
    val sp = spark
    import sp.implicits._
    graft.functions.GraftFunctions.register(sp)
    val raw = Seq("pypa", "ghsa", "debian").map(src =>
      AdvisoryJsonIngest.readTree(sp,
        s"src/test/resources/fixtures/advisories/$src", src).toDF())
      .reduce(_ unionByName _)
    val versionsDim = Seq(
      ("pkg:pypi/foo", "1.0.0"), ("pkg:pypi/foo", "1.20.1"),
      ("pkg:pypi/bar", "1.0"), ("pkg:pypi/bar", "2.0"))
      .toDF("base_purl", "version")
    val marts = Engine.runAdvisoryPipeline(sp, raw, versionsDim)
    assert(marts.advisories.count() == 5)
    // SQL surface over the views, with the registered engine functions
    val vulnerable = sp.sql(
      """SELECT u.base_purl, u.version, r.risk_score
        |FROM graft_unfurled u
        |JOIN graft_advisory_risk r USING (avid)
        |WHERE u.is_affected ORDER BY u.base_purl, u.version""".stripMargin)
      .collect()
    assert(vulnerable.nonEmpty)
    val inRange = sp.sql(
      "SELECT version_in_range('1.5', 'vers:pypi/>=1.0|<2.0') AS m")
      .collect().head.getBoolean(0)
    assert(inRange)
    assert(sp.sql("SELECT count(*) FROM graft_advisory_sets")
      .collect().head.getLong(0) == 5)
    // round-3 marts are registered and queryable
    val mit = sp.sql(
      """SELECT avid, base_purl, upgrade_to_versions
        |FROM graft_mitigations ORDER BY avid, base_purl""".stripMargin)
      .collect()
    assert(mit.nonEmpty)
    assert(sp.sql(
      "SELECT * FROM graft_package_counts WHERE vulnerable_package_count > 0")
      .collect().nonEmpty)
    Seq("graft_mitigation_curation", "graft_cvss31_severities",
      "graft_commit_patches").foreach { v =>
      assert(sp.sql(s"SELECT count(*) FROM $v").collect().nonEmpty, v)
    }
    // V1 vulnerability-centric views: deterministic VCIDs, membership
    // covering every advisory, and the package count annotations
    val vulns = sp.sql(
      """SELECT vulnerability_id, summary FROM graft_vulnerabilities
        |ORDER BY vulnerability_id""".stripMargin).collect()
    assert(vulns.nonEmpty)
    assert(vulns.forall(_.getString(0).matches("VCID(-[a-hjkm-z1-9]{4}){3}")))
    assert(sp.sql("SELECT count(DISTINCT avid) FROM graft_vulnerability_membership")
      .collect().head.getLong(0) == 5)
    assert(sp.sql(
      "SELECT * FROM graft_v1_package_vuln_counts WHERE vulnerability_count > 0")
      .collect().nonEmpty)
  }

  test("Marts.release unpersists the pipeline's caches") {
    val sp = spark
    import sp.implicits._
    graft.functions.GraftFunctions.register(sp)
    val sc = sp.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val raw = AdvisoryJsonIngest.readTree(sp,
      "src/test/resources/fixtures/advisories/pypa", "pypa").toDF()
    val versionsDim = Seq(("pkg:pypi/foo", "1.0.0"),
      ("pkg:pypi/foo", "1.20.1")).toDF("base_purl", "version")
    val marts = Engine.runAdvisoryPipeline(sp, raw, versionsDim)
    Seq(marts.advisories, marts.unfurled, marts.versionRanks)
      .foreach(_.count())
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty)
    marts.release()
    Seq(marts.advisories, marts.unfurled, marts.versionRanks).foreach(df =>
      assert(df.storageLevel == StorageLevel.NONE))
    // the vulnerability membership's localCheckpoint is the only copy of
    // that mart's rows, not a cache: it stays while the marts are readable
    val left = sc.getPersistentRDDs -- before
    assert(left.values.forall(_.isCheckpointed),
      s"still persistent: ${left.values.mkString(", ")}")
    // the views read through the released caches, so they recompute
    assert(sp.sql("SELECT count(*) FROM graft_unfurled")
      .collect().head.getLong(0) == marts.unfurled.count())
  }

  test("runCorpusPipeline registers queryable corpus marts") {
    val sp = spark
    import sp.implicits._
    // ≥ 10 tokens per doc so chunkDupStats (chunkTokens=10) emits a row each
    val base = "spark engine corpus pipeline mart registration test words alpha beta"
    val docs = Seq(
      (1L, base, "src0"), (2L, base, "src0"),
      (3L, base + " richer", "src1"),
      (4L, "totally different content here with the usual words plus unique ones", "src1"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val bench = Seq((100L, base)).toDF("doc_id", "text")
    val vecs = Seq(
      (1L, Array(1.0f, 0.5f, -0.2f, 0.8f)),
      (2L, Array(1.0f, 0.5f, -0.2f, 0.8f)),
      (3L, Array(-0.6f, 0.1f, 0.9f, -0.3f)))
      .toDF("vec_id", "embedding")
    val marts = Engine.runCorpusPipeline(sp, docs,
      benchmark = Some(bench), embeddings = Some(vecs),
      samplePerStratum = 1)
    // cluster {1,2,3} survives as doc 3 (richest)
    val canon = sp.sql(
      "SELECT canonical_doc, cluster_size FROM graft_corpus_dedup_clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(canon.toSeq == Seq((3L, 3L)))
    // docs copying the benchmark text are flagged contaminated
    val contaminated = sp.sql(
      "SELECT doc_id FROM graft_corpus_contamination WHERE contaminated")
      .collect().map(_.getLong(0)).toSet
    assert(Set(1L, 2L, 3L).subsetOf(contaminated))
    assert(sp.sql("SELECT * FROM graft_corpus_quality WHERE passes")
      .collect().nonEmpty)
    assert(sp.sql("SELECT count(*) FROM graft_corpus_sample")
      .collect().head.getLong(0) == 2) // 1 per source stratum
    // identical embeddings pair up through sign-LSH
    val pairs = sp.sql(
      "SELECT id_a, id_b FROM graft_corpus_embed_neardups")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    // curation-stage marts: scoring, packing, and splits are registered
    assert(sp.sql("SELECT * FROM graft_corpus_tfidf").count() == 4)
    assert(sp.sql("SELECT * FROM graft_corpus_packed").count() == 4)
    val splits = sp.sql("SELECT DISTINCT split FROM graft_corpus_splits")
      .collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.nonEmpty)
    // distribution-profile mart: one row per source with the p50 tile
    val profile = sp.sql(
      "SELECT source, n_docs, p50 FROM graft_corpus_profile ORDER BY source")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(profile.toSeq == Seq(("src0", 2L), ("src1", 2L)))
    // chunk-dup mart: the shared base chunk recurs across docs 1-3; doc 4
    // is all-unique. Pin the flagged set and the clean doc's ratio.
    val chunkDup = sp.sql(
      "SELECT doc_id, dup_ratio, flagged FROM graft_corpus_chunk_dup")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(chunkDup.length == 4)
    assert(chunkDup.filter(_._3).map(_._1).toSet == Set(1L, 2L, 3L))
    assert(chunkDup.find(_._1 == 4L).exists(_._2 == 0.0))
    // PII mart is registered; the clean fixture passes through unscathed
    val redacted = sp.sql(
      "SELECT doc_id, n_emails, redacted FROM graft_corpus_redacted")
      .collect()
    assert(redacted.length == 4)
    assert(redacted.forall(_.getLong(1) == 0L))
    assert(redacted.find(_.getLong(0) == 1L)
      .exists(_.getString(2) == base))
    // the per-doc ledger folds every signal: docs 1-3 are benchmark-
    // contaminated near-dups (3 canonical), doc 4 is clean and kept
    val ledger = sp.sql(
      """SELECT doc_id, near_dup_paired, is_canonical, contaminated, keep
        |FROM graft_corpus_ledger ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(ledger.length == 4)
    assert(ledger.filter(_._2).map(_._1).toSet == Set(1L, 2L, 3L))
    assert(ledger.filter(_._3).map(_._1).toSet == Set(3L))
    assert(ledger.filter(_._5).map(_._1).toSet == Set(4L))
  }

  test("ledger keep flag derives from the confirmed-dedup graph, " +
      "not the MinHash candidate graph") {
    val sp = spark
    import sp.implicits._
    // Docs 1/2 are a MinHash FALSE POSITIVE: exact bigram Jaccard is
    // 10/22 ≈ 0.45 (below the 0.5 dedup threshold) but their 16-hash
    // MinHash signatures agree on 12/16 permutations including one full
    // 4-row LSH band, so minHashLshPairs emits them at est 0.75 (pair
    // found by exhaustive search over the engine's own hash family). A
    // ledger keyed on the candidate graph reads them paired ∧ ¬canonical
    // — "dropped by dedup" — although dedup keeps both; keyed on the
    // confirmed graph they are unpaired and kept.
    val docs = Seq(
      (1L, "the w14 w40 w18 w31 w00 w47 w06 w33", "src0"),
      (2L, "the w14 w40 w18 w31 w00 w49 w21 w30", "src0"),
      (3L, "the q1 q2 q3 q4 q5 q1 q2 q3 q4 q5", "src1"),
      (4L, "the q1 q2 q3 q4 q5 q1 q2 q3 q4 q5 richer", "src1"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    // preflight: the fixture really is a candidate-vs-confirmed split
    val cand = graft.operators.TextDedup
      .minHashLshPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)),
      "fixture must be a MinHash candidate pair")
    val confirmed = graft.operators.Corpus
      .confirmedNearDupPairs(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!confirmed.contains((1L, 2L)),
      "fixture must fail the exact-Jaccard confirm")
    assert(confirmed.contains((3L, 4L)))
    val marts = Engine.runCorpusPipeline(sp, docs, samplePerStratum = 1)
    val ledger = marts.ledger
      .select("doc_id", "near_dup_paired", "is_canonical", "keep")
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3))).toMap
    // the false-positive pair is NOT near_dup_paired and both survive
    assert(ledger(1L) == ((false, false, true)))
    assert(ledger(2L) == ((false, false, true)))
    // the confirmed pair behaves as before: canonical 4 kept, 3 dropped
    assert(ledger(4L) == ((true, true, true)))
    assert(ledger(3L) == ((true, false, false)))
    // soft-dedup policy rides the same graph: the confirmed pair shares
    // mass 0.5 + 0.5, everyone else is weight 1
    val soft = marts.ledger.select("doc_id", "soft_weight").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(soft == Map(1L -> 1.0, 2L -> 1.0, 3L -> 0.5, 4L -> 0.5))
  }

  test("substring-strip is an optional pipeline stage: off by default, " +
      "on it registers the mart and extends the ledger") {
    val sp = spark
    import sp.implicits._
    val run = "one two three four five six"
    val docs = Seq(
      (1L, s"$run aa bb cc dd ee ff gg hh", "src0"),  // canonical copy
      (2L, s"xx yy $run zz ww vv uu tt ss", "src0"),  // stripped copy
      (3L, "k1 k2 k3 k4 k5 k6 k7 k8 k9 k10 k11", "src1"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val off = Engine.runCorpusPipeline(sp, docs, samplePerStratum = 1)
    assert(off.substringStripped.isEmpty)
    assert(!off.ledger.columns.contains("substring_stripped_tokens"),
      "default ledger schema must be untouched")
    val on = Engine.runCorpusPipeline(sp, docs, samplePerStratum = 1,
      substringStripWindow = Some(4))
    val stripped = sp.sql(
      "SELECT doc_id, stripped_tokens, text FROM graft_corpus_substring_stripped")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(stripped(1L)._1 == 0L)  // canonical copy intact
    assert(stripped(2L) == ((6L, "xx yy zz ww vv uu tt ss")))
    assert(stripped(3L)._1 == 0L)
    val led = on.ledger
      .select("doc_id", "substring_stripped_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(led == Map(1L -> 0L, 2L -> 6L, 3L -> 0L))
  }
}
