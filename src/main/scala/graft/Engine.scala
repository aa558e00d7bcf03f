package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Sessions, Tables}
import graft.derive.AdvisoryDerive
import graft.functions.GraftFunctions

/** One-call facade for library users: build a session with the engine's
  * extensions, register the domain functions + testdata views, and expose
  * the advisory pipeline as a single call.
  *
  * A user of the reference switches by pointing `runAdvisoryPipeline` at
  * their advisory log + versions dimension and reading the returned marts
  * (or the registered `graft_*` views) with plain `spark.sql`.
  */
object Engine {

  /** Derived marts of one pipeline run. */
  final case class Marts(
      advisories: DataFrame,
      impacts: DataFrame,
      unfurled: DataFrame,
      packages: DataFrame,
      versionRanks: DataFrame,
      nearestFixes: DataFrame,
      advisoryRisk: DataFrame,
      packageRisk: DataFrame,
      advisorySets: DataFrame,
      todos: DataFrame,
      conflicts: DataFrame,
      changeLog: DataFrame,
      ssvcDecisions: DataFrame,
      ssvcRelations: DataFrame,
      commitPatches: DataFrame,
      mitigations: DataFrame,
      mitigationCuration: DataFrame,
      cvss31Severities: DataFrame,
      packageCounts: DataFrame,
      vulnerabilities: DataFrame,
      vulnerabilityMembership: DataFrame,
      v1PackageVulnCounts: DataFrame,
      codeFixes: DataFrame,
      packageChangeLog: DataFrame) {

    /** Unpersists the three frames `runAdvisoryPipeline` caches
      * (advisories, unfurled, version ranks). The marts and the
      * `graft_*` views stay readable; later reads recompute. */
    def release(): Unit =
      Seq(advisories, unfurled, versionRanks).foreach(_.unpersist())
  }

  /** Session with extensions + registered functions. */
  def newSession(appName: String = "graft", cpus: String = "32"): SparkSession = {
    val spark = Sessions.local(appName, cpus)
    GraftFunctions.register(spark)
    spark
  }

  /** Register the testdata tables as SQL views (spark.sql surface). */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    GraftFunctions.register(spark)
    Tables.registerAll(spark, dir)
  }

  /** Full derivation: advisory log + versions dimension → every derived
    * mart, also registered as `graft_<name>` temp views. */
  def runAdvisoryPipeline(spark: SparkSession, rawAdvisories: DataFrame,
      versionsDim: DataFrame,
      severityWeights: Map[String, Int] =
        graft.functions.SeverityWeights.map,
      patchTexts: Option[DataFrame] = None): Marts = {
    import spark.implicits._
    val advisories =
      AdvisoryDerive.withContentIdAndLatest(rawAdvisories).cache()
    val impacts = AdvisoryDerive.impacts(advisories)
    val unfurled = AdvisoryDerive.unfurl(impacts, versionsDim).cache()
    val ranked = AdvisoryDerive.versionRank(versionsDim).cache()
    val risk = AdvisoryDerive.advisoryRisk(advisories, severityWeights)
    val ssvc = AdvisoryDerive.ssvcDecisions(advisories)
    val patches = AdvisoryDerive.commitPatches(advisories,
      patchTexts.getOrElse(Seq.empty[(String, String, String)]
        .toDF("vcs_url", "commit_hash", "patch_text")))
    // V1 vulnerability-centric view (models.py:246-321): membership is
    // shared by the vulnerability mart and the V1 package counts
    val v1Member = graft.derive.VulnerabilityV1
      .membership(spark, advisories)
    val marts = Marts(
      advisories = advisories,
      impacts = impacts,
      unfurled = unfurled,
      packages = AdvisoryDerive.packages(versionsDim),
      versionRanks = ranked,
      nearestFixes = AdvisoryDerive.nearestFix(unfurled, ranked),
      advisoryRisk = risk,
      packageRisk = AdvisoryDerive.packageRisk(unfurled, risk),
      advisorySets = AdvisoryDerive.advisorySets(spark, advisories),
      todos = AdvisoryDerive.todos(advisories),
      conflicts = AdvisoryDerive.conflicts(advisories),
      changeLog = AdvisoryDerive.changeLog(advisories),
      ssvcDecisions = ssvc,
      ssvcRelations = AdvisoryDerive.ssvcRelations(advisories, ssvc),
      commitPatches = patches,
      mitigations = AdvisoryDerive.mitigations(unfurled, patches),
      mitigationCuration =
        AdvisoryDerive.mitigationCurationItems(unfurled),
      cvss31Severities = AdvisoryDerive.cveCvss31Severities(advisories),
      packageCounts = graft.serve.Serving.advisoryPackageCounts(unfurled),
      vulnerabilities = graft.derive.VulnerabilityV1
        .vulnerabilities(spark, advisories, severityWeights,
          precomputedMembership = Some(v1Member)),
      vulnerabilityMembership = v1Member,
      v1PackageVulnCounts = graft.derive.VulnerabilityV1
        .packageVulnerabilityCounts(unfurled, v1Member),
      codeFixes = AdvisoryDerive.codeFixes(advisories, unfurled),
      packageChangeLog =
        AdvisoryDerive.packageChangeLog(unfurled, advisories))
    Seq(
      "advisories" -> marts.advisories,
      "impacts" -> marts.impacts,
      "unfurled" -> marts.unfurled,
      "packages" -> marts.packages,
      "version_ranks" -> marts.versionRanks,
      "nearest_fixes" -> marts.nearestFixes,
      "advisory_risk" -> marts.advisoryRisk,
      "package_risk" -> marts.packageRisk,
      "advisory_sets" -> marts.advisorySets,
      "todos" -> marts.todos,
      "conflicts" -> marts.conflicts,
      "changelog" -> marts.changeLog,
      "ssvc_decisions" -> marts.ssvcDecisions,
      "ssvc_relations" -> marts.ssvcRelations,
      "commit_patches" -> marts.commitPatches,
      "mitigations" -> marts.mitigations,
      "mitigation_curation" -> marts.mitigationCuration,
      "cvss31_severities" -> marts.cvss31Severities,
      "package_counts" -> marts.packageCounts,
      "vulnerabilities" -> marts.vulnerabilities,
      "vulnerability_membership" -> marts.vulnerabilityMembership,
      "v1_package_vuln_counts" -> marts.v1PackageVulnCounts,
      "code_fixes" -> marts.codeFixes,
      "package_changelog" -> marts.packageChangeLog,
    ).foreach { case (n, df) => df.createOrReplaceTempView(s"graft_$n") }
    marts
  }

  /** End-to-end ADVISORY-side hash gate (a15) — the advisory analog of
    * the corpus side's `runCorpusPipeline(...).ledger`: one narrow row
    * per latest advisory proving the COMPOSED chain
    * ingest log → content-id/latest (withContentIdAndLatest) →
    * impacts → unfurl (versions dimension) → risk trio →
    * alias-connected sets (membership's vuln_key/primary) →
    * serving package counts — each stage the same proven library call
    * its component oracle checks (d1/w2, j12, v2_unfurl, a5–a7, d4,
    * s-family), but hash-gated here as ONE composition so a stage-glue
    * regression (a dropped filter, a wrong join key between stages)
    * cannot hide behind individually-green components.
    *
    * Scale shape: the log streams once through the content-id window
    * (keyed by avid), the unfurl join is the package-keyed equi-join,
    * risk and counts are map-side-combining groupBys, and membership
    * rides advisorySets' bounded label propagation — no new shuffle
    * beyond the components' own. */
  def advisoryLedger(spark: SparkSession, rawAdvisories: DataFrame,
      versionsDim: DataFrame,
      severityWeights: Map[String, Int] =
        graft.functions.SeverityWeights.map): DataFrame = {
    import org.apache.spark.sql.functions._
    // consumed by impacts, risk, membership and the final projection:
    // checkpoint so the log scan + content window run once, not 4x.
    // Filter to is_latest BEFORE the checkpoint: every consumer in
    // this composition filters is_latest anyway (their own filters
    // stay, now no-ops), so materializing the full log only to reread
    // superseded revisions 4x was pure waste — A15StageProbe at 100×
    // measured the full-log checkpoint at ~67 s of block churn for a
    // 15M-row log whose latest subset is 500 rows.
    val advisories = AdvisoryDerive.withContentIdAndLatest(rawAdvisories)
      .filter(col("is_latest"))
      .localCheckpoint()
    val impacts = AdvisoryDerive.impacts(advisories)
    val unfurled = AdvisoryDerive.unfurl(impacts, versionsDim)
    val risk = AdvisoryDerive.advisoryRisk(advisories, severityWeights)
    val member = graft.derive.VulnerabilityV1.membership(spark, advisories)
    val counts = graft.serve.Serving.advisoryPackageCounts(unfurled)
    advisories.filter(col("is_latest"))
      .select(col("avid"),
        substring(col("unique_content_id"), 1, 8).as("content_prefix"))
      .join(member.select(col("avid"), col("vuln_key").as("group_key"),
        col("primary_avid")), Seq("avid"))
      .join(risk, Seq("avid"), "left")
      .join(counts, Seq("avid"), "left")
      .select(col("avid"), col("content_prefix"), col("group_key"),
        col("primary_avid"), col("weighted_severity"),
        col("exploitability"), col("risk_score"),
        coalesce(col("vulnerable_package_count"), lit(0L))
          .as("vulnerable_package_count"),
        coalesce(col("patched_package_count"), lit(0L))
          .as("patched_package_count"))
  }

  /** Derived marts of one corpus-curation run. */
  final case class CorpusMarts(
      quality: DataFrame,
      nearDupPairs: DataFrame,
      dedupClusters: DataFrame,
      sample: DataFrame,
      tfidf: DataFrame,
      chunkDup: DataFrame,
      redacted: DataFrame,
      packed: DataFrame,
      splits: DataFrame,
      profile: DataFrame,
      vocabProfile: DataFrame,
      contamination: Option[DataFrame],
      embedNearDupPairs: Option[DataFrame],
      substringStripped: Option[DataFrame],
      ledger: DataFrame)

  /** Full corpus curation: documents (+ optional benchmark suite and
    * embeddings) → quality flags, near-dup pairs and clusters, a
    * deterministic per-source sample, contamination measurements, and
    * embedding near-dup candidates — also registered as
    * `graft_corpus_<name>` temp views. The same composition
    * CorpusQueries oracle-checks, exposed as one call; every stage is
    * the capped scale-safe library form.
    */
  def runCorpusPipeline(spark: SparkSession, documents: DataFrame,
      benchmark: Option[DataFrame] = None,
      embeddings: Option[DataFrame] = None,
      textCol: String = "text", idCol: String = "doc_id",
      qualityCol: String = "n_chars", strataCol: String = "source",
      samplePerStratum: Int = 1000,
      dedupMaxDf: Int = 10000,
      // cross-doc exact-substring strip (Lee et al. 2022) as an OPTIONAL
      // stage: Some(L) rebuilds each doc with non-canonical duplicated
      // >=L-token runs removed and adds `substring_stripped_tokens` to
      // the ledger; None (the default) leaves both mart and ledger
      // schema untouched
      substringStripWindow: Option[Int] = None): CorpusMarts = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Corpus, Similarity, TextDedup}
    val quality = Corpus.qualityFlags(documents, textCol)
    val nearDupPairs = TextDedup.minHashLshPairs(documents, textCol, idCol)
    // The dedup graph is built ONCE and feeds both the cluster mart and
    // the ledger's pair flag. Deriving the flag from the MinHash
    // candidate pairs instead (as an earlier revision did) double-counts
    // nothing but disagrees at the margins: a MinHash candidate whose
    // exact Jaccard never reaches the threshold is in no cluster, so it
    // would read paired ∧ ¬canonical — i.e. "dropped by dedup" — although
    // dedup keeps it. One graph makes paired ∧ ¬canonical exactly equal
    // to dropped-by-dedup. Cached: two consumers, and the pair set is
    // orders of magnitude smaller than the corpus.
    // dedupMaxDf is the stop-shingle cap (TextDedup.ngramJaccardPairs):
    // the default suits real corpora (huge vocab, low df); a
    // small-vocabulary corpus where every bigram is corpus-wide needs a
    // tight cap or the candidate join is quadratic (the x_curation_ledger
    // oracle runs at 40 for exactly that reason)
    val dedupPairs = Corpus.confirmedNearDupPairs(
      documents, textCol, idCol, maxDf = dedupMaxDf).cache()
    // label propagation runs ONCE; the canonical pick and the soft
    // weights both derive from the same component labels
    val dedupComp = Corpus.dedupComponents(dedupPairs)
    val dedupClusters = Corpus.dedupClustersFromComponents(
      documents, dedupComp, idCol, qualityCol)
    val redacted = Corpus.redactPii(documents, textCol, idCol)
    val splits = Corpus.splitAssign(documents, idCol)
    val contamination = benchmark.map(b =>
      Corpus.contamination(documents, b, textCol, idCol))
    // Per-doc curation ledger — the one-table artifact a practitioner
    // exports after a run: every keep/drop signal joined per document.
    // `near_dup_paired` marks docs in a CONFIRMED near-dup pair (the same
    // edge set the clusters are built from); all joins are on the doc id,
    // and the pair/cluster/contamination sides are far smaller than the
    // corpus, so at scale these are broadcast or bounded shuffles.
    val paired = dedupPairs.select(col("id_a").as(idCol))
      .union(dedupPairs.select(col("id_b").as(idCol)))
      .distinct().withColumn("_paired", lit(true))
    val canon = dedupClusters
      .select(col("canonical_doc").as(idCol), col("cluster_size"))
    val contamCols = contamination
      .map(_.select(col(idCol), col("contaminated")))
      .getOrElse(quality.select(col(idCol))
        .withColumn("contaminated", lit(false)).limit(0))
    // soft-dedup weights from the SAME component labels: the ledger
    // carries both policies — `keep` (hard dedup: canonical survives)
    // and `soft_weight` (every cluster member at 1/cluster_size, group
    // mass one document-equivalent) — so a data-constrained run can
    // reweight instead of dropping without recomputing the graph
    val soft = Corpus.softDedupWeightsFromComponents(dedupComp, idCol)
      .select(col(idCol), col("weight"))
    val substringStripped = substringStripWindow.map(l =>
      Corpus.stripSubstringDups(documents, textCol, idCol, windowTokens = l))
    val ledger0 = quality.select(col(idCol), col("passes"))
      .join(splits.select(col(idCol), col("split")), Seq(idCol), "left")
      .join(redacted.select(col(idCol),
        (col("n_emails") + col("n_ips") + col("n_phones")).as("pii_spans")),
        Seq(idCol), "left")
      .join(paired, Seq(idCol), "left")
      .join(canon, Seq(idCol), "left")
      .join(soft, Seq(idCol), "left")
      .join(contamCols, Seq(idCol), "left")
      .select(col(idCol), col("passes"), col("split"), col("pii_spans"),
        coalesce(col("_paired"), lit(false)).as("near_dup_paired"),
        col("cluster_size").isNotNull.as("is_canonical"),
        coalesce(col("weight"), lit(1.0)).as("soft_weight"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .withColumn("keep",
        col("passes") && !col("contaminated") &&
          (!col("near_dup_paired") || col("is_canonical")))
    // ledger gains the strip accounting ONLY when the stage is on, so
    // the default composition (and its oracle) keeps its schema
    val ledger = substringStripped match {
      case None => ledger0
      case Some(st) => ledger0.join(
        st.select(col(idCol),
          col("stripped_tokens").as("substring_stripped_tokens")),
        Seq(idCol), "left")
        .withColumn("substring_stripped_tokens",
          coalesce(col("substring_stripped_tokens"), lit(0L)))
    }
    val marts = CorpusMarts(
      quality = quality,
      nearDupPairs = nearDupPairs,
      dedupClusters = dedupClusters,
      sample = Corpus.stratifiedSample(documents, strataCol, idCol,
        samplePerStratum),
      tfidf = Corpus.tfIdfScores(documents, textCol, idCol),
      chunkDup = Corpus.chunkDupStats(documents, textCol, idCol),
      redacted = redacted,
      packed = Corpus.packSequences(documents, textCol, idCol, strataCol),
      splits = splits,
      // per-source distribution profile (GK sketch — the monitoring mart
      // a curation run watches for drift; exact twin is the oracle form)
      profile = Corpus.qualityQuantiles(documents, qualityCol, strataCol,
        Seq(0.5, 0.9, 0.99)),
      vocabProfile = Corpus.cardinalityProfile(documents, textCol,
        strataCol, idCol),
      contamination = contamination,
      embedNearDupPairs = embeddings.map(e =>
        Similarity.signLshPairs(e, "vec_id", "embedding")),
      substringStripped = substringStripped,
      ledger = ledger)
    (Seq(
      "corpus_quality" -> marts.quality,
      "corpus_neardup_pairs" -> marts.nearDupPairs,
      "corpus_dedup_clusters" -> marts.dedupClusters,
      "corpus_sample" -> marts.sample,
      "corpus_tfidf" -> marts.tfidf,
      "corpus_chunk_dup" -> marts.chunkDup,
      "corpus_redacted" -> marts.redacted,
      "corpus_packed" -> marts.packed,
      "corpus_splits" -> marts.splits,
      "corpus_profile" -> marts.profile,
      "corpus_vocab_profile" -> marts.vocabProfile,
      "corpus_ledger" -> marts.ledger) ++
      marts.contamination.map("corpus_contamination" -> _) ++
      marts.embedNearDupPairs.map("corpus_embed_neardups" -> _) ++
      marts.substringStripped.map("corpus_substring_stripped" -> _))
      .foreach { case (n, df) => df.createOrReplaceTempView(s"graft_$n") }
    marts
  }
}
