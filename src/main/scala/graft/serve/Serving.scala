package graft.serve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Serving-layer queries: the reference's API querysets as parameterized
  * DataFrame functions over the derived tables (SURVEY §2.3–§2.6, §3.3).
  *
  * Serving reads pre-computed marts (advisories+latest, unfurled links,
  * ranks, risks) — every function here is a filter/join/aggregate over
  * them, with nested JSON responses assembled via collect_list(struct)
  * instead of per-row Python (api_v3.py:399-444).
  */
object Serving {

  /** latest_affecting_advisories_for_purl (models.py:2946-2953): the
    * advisories whose affected set contains this concrete purl version. */
  def affectingAdvisories(advisories: DataFrame, unfurled: DataFrame,
      basePurl: String, version: String): DataFrame = {
    val affectingAvids = unfurled.filter(col("base_purl") === basePurl &&
      col("version") === version && col("is_affected"))
      .select("avid")
    advisories.filter(col("is_latest"))
      .join(affectingAvids, Seq("avid"), "left_semi")
  }

  /** Bulk purl lookup with is_vulnerable flags (api_v3.py:253-339, J13+J3).
    *
    * The request list is the bounded side (an API call's purls — thousands
    * at most), so THAT is what gets broadcast; the vulnerable set derives
    * from the full unfurled corpus and must stream map-side. Broadcasting
    * the corpus side would OOM the driver at production scale.
    */
  def bulkLookup(unfurled: DataFrame, purls: DataFrame): DataFrame = {
    // Step 1 streams the corpus map-side against the broadcast request
    // list (left_semi, build = purls), so `hits` is bounded by the request
    // size. Step 2 then broadcasts only those bounded hits to flag the
    // original list. (An outer join preserving purls can't build the purls
    // side, so the one-join form would force a corpus broadcast.)
    // Order matters: semi-join FIRST, then distinct — the dedup shuffle
    // runs over the request-bounded hits, not the whole affected corpus.
    // Per-request that is the difference between a map-only probe plus a
    // tiny exchange and re-aggregating the corpus on every API call.
    val hits = unfurled.filter(col("is_affected"))
      .select(col("base_purl"), col("version"))
      .join(broadcast(purls), Seq("base_purl", "version"), "left_semi")
      .distinct()
      .withColumn("_hit", lit(true))
    purls.join(broadcast(hits), Seq("base_purl", "version"), "left")
      .withColumn("is_vulnerable", coalesce(col("_hit"), lit(false)))
      .drop("_hit")
  }

  /** The ONE mode→edge mapping both purl-lookup entry points share; an
    * unknown mode is a caller error and must fail as one (a bare
    * MatchError from an API parameter names nothing). */
  private def unfurlEdge(mode: String): Column = mode match {
    case "affecting" => col("is_affected")
    case "fixed"     => col("is_fixed")
    case "both"      => col("is_affected") || col("is_fixed")
    case other => throw new IllegalArgumentException(
      s"unknown mode '$other' (expected: affecting, fixed, both)")
  }

  /** The latest-affecting / latest-fixed-by queryset family
    * (models.py:2946-3067) as one parameterized form. `purls` is the
    * bounded request list (base_purl, version); `mode` selects which
    * unfurl edge qualifies an advisory:
    *  - "affecting": latest_affecting_advisories_for_purl(s)
    *  - "fixed": latest_fixed_by_advisories_for_purl(s)
    *  - "both": latest_advisories_for_purl(s) (affecting ∪ fixed-by)
    * The reference's `_all_impacts_unfurled_at__isnull=False` guard is
    * implicit here: unfurled rows only exist for unfurled impacts.
    * Scale shape: corpus streams against the broadcast request, the
    * matched avid set (request-bounded) semi-joins advisories.
    */
  def advisoriesForPurls(advisories: DataFrame, unfurled: DataFrame,
      purls: DataFrame, mode: String = "affecting"): DataFrame = {
    val edge = unfurlEdge(mode)
    val avids = unfurled.filter(edge)
      .join(broadcast(purls), Seq("base_purl", "version"), "left_semi")
      .select("avid").distinct()
    advisories.filter(col("is_latest"))
      .join(broadcast(avids), Seq("avid"), "left_semi")
  }

  /** latest_*_advisory_purls_pairs (models.py:2966-2978, 3003-3015):
    * distinct (versioned purl, avid) pairs for a request list. */
  def advisoryPurlPairs(unfurled: DataFrame, purls: DataFrame,
      mode: String = "affecting"): DataFrame = {
    val edge = unfurlEdge(mode)
    unfurled.filter(edge)
      .join(broadcast(purls), Seq("base_purl", "version"), "left_semi")
      .select(concat(col("base_purl"), lit("@"), col("version")).as("purl"),
        col("avid"))
      .distinct()
  }

  /** todo_excluded (models.py:3069-3073, TODO_EXCLUDED_PIPELINES): drop
    * advisories from datasources flagged exclude_from_package_todo —
    * a data-shaped dimension set, broadcast by construction. */
  def todoExcluded(advisories: DataFrame,
      excludedDatasources: DataFrame): DataFrame =
    advisories.join(
      broadcast(excludedDatasources.select("datasource_id")),
      Seq("datasource_id"), "left_anti")

  /** Search cascade (models.py:150-178 VulnerabilityQuerySet.search),
    * tier for tier: exact id → exact alias → id-or-alias icontains →
    * reference-id-or-summary icontains; the first non-empty tier wins,
    * ordered by id.
    *
    * One-pass formulation instead of the reference's per-tier exists()
    * short-circuits: each row is tagged with the BEST tier it matches
    * (a single when-chain, all four predicates evaluated in one codegen
    * stage), the winning tier is the global min of that tag, and the
    * result is the tag-filtered rows. Always exactly two scans and one
    * driver round-trip (the scalar min) — the probe-per-tier version
    * costs up to four scans and three driver round-trips when the query
    * only matches late tiers, which is the worst case that matters at
    * scale. Semantics are identical; s17/s17b oracle the cascade
    * including the tier-4 fallback. */
  def searchAdvisories(advisories: DataFrame, query: String): DataFrame = {
    val q = Option(query).map(_.trim).getOrElse("")
    val latest = advisories.filter(col("is_latest"))
    if (q.isEmpty) return latest.limit(0)
    val lowered = q.toLowerCase
    val tier =
      when(col("advisory_id") === q, 1)
        .when(array_contains(col("aliases"), q), 2)
        .when(lower(col("advisory_id")).contains(lowered) ||
          exists(col("aliases"), a => lower(a).contains(lowered)), 3)
        .when(lower(col("summary")).contains(lowered) ||
          exists(col("references"),
            r => lower(r.getField("reference_id")).contains(lowered)), 4)
    val tagged = latest.withColumn("_tier", tier)
      .filter(col("_tier").isNotNull)
    val best = tagged.agg(min("_tier")).collect().head
    if (best.isNullAt(0)) latest.limit(0)
    else tagged.filter(col("_tier") === best.getInt(0)).drop("_tier")
      .orderBy("advisory_id")
  }

  /** with_package_counts (models.py:179-183): per advisory, the distinct
    * affected and fixed-by package version counts — the queryset's
    * Count(distinct) annotations as one partial-aggregatable groupBy
    * over the unfurl links. */
  def advisoryPackageCounts(unfurled: DataFrame): DataFrame =
    unfurled.groupBy("avid")
      .agg(
        count_distinct(when(col("is_affected"),
          concat(col("base_purl"), lit("@"), col("version"))))
          .as("vulnerable_package_count"),
        count_distinct(when(col("is_fixed"),
          concat(col("base_purl"), lit("@"), col("version"))))
          .as("patched_package_count"))

  /** Package detail (views.py:160-198): affecting advisories + nearest
    * fixes + next non-vulnerable version, nested per package.
    *
    * Scale shape: one hash exchange on base_purl. The ranked rows, the
    * affected edges and the nearest-fix rows travel it together, tagged
    * by kind. One window per (base_purl, version) gives the vulnerable
    * flag and the version's fixes, a running window per base_purl the
    * next safe version, and the final groupBy reuses the same
    * partitioning. A base_purl filter on the result reaches all three
    * scans. */
  def packageDetail(unfurled: DataFrame, ranked: DataFrame,
      nearestFix: DataFrame): DataFrame = {
    // the fix travels as a struct that is never NULL: a NULL
    // nearest_fixed_version is still a row of the join
    val fixes = nearestFix.select(col("base_purl"),
      col("affected_version").as("version"),
      struct(col("avid"), col("nearest_fixed_version")).as("_fix"),
      lit(FixRow).as("_kind"))
    // each affected edge joins its version's fixes on avid
    val edgeFixes = when(col("_kind") === EdgeRow,
      transform(filter(col("_fixes"), f => f.getField("avid") === col("avid")),
        f => struct(col("avid"), f.getField("nearest_fixed_version")
          .as("nearest_fixed_version"))))
    // next non-vulnerable: the ONE W3 implementation — re-deriving the
    // safe-version logic here had already drifted once (it lacked
    // latest_non_vulnerable); any fix to the semantics must land in
    // safeNeighbours alone
    safeNeighbours(unfurled, ranked, Seq(fixes),
        Map("_fixes" -> collect_list(col("_fix"))))
      .groupBy("base_purl", "version")
      .agg(flatten(collect_list(edgeFixes)).as("affecting"),
        min_by(col("_next"), col("version_rank")).as("next_non_vulnerable"))
      .filter(size(col("affecting")) > 0)
  }

  /** Nested API response for the affecting advisories of one purl version
    * (api_v3.py:566-743 bulk shape): advisory fields + aliases + severity
    * list + risk trio + the ArrayAgg'd fixed-by versions per advisory
    * (A4), assembled with collect_list(struct) instead of per-row Python.
    */
  def affectingAdvisoriesDetail(advisories: DataFrame, unfurled: DataFrame,
      riskScores: DataFrame, basePurl: String, version: String,
      mitigations: Option[DataFrame] = None): DataFrame = {
    val affecting = affectingAdvisories(advisories, unfurled, basePurl, version)
    val fixedBy = unfurled.filter(col("base_purl") === basePurl &&
        col("is_fixed"))
      .groupBy("avid")
      .agg(array_sort(collect_set(col("version"))).as("fixed_by_versions"))
    val base = affecting
      .join(riskScores, Seq("avid"), "left")
      .join(fixedBy, Seq("avid"), "left")
      .select(col("avid"), col("summary"),
        array_sort(col("aliases")).as("aliases"),
        expr("transform(severities, s -> struct(s.scoring_system, s.value))")
          .as("severities"),
        col("weighted_severity"), col("exploitability"), col("risk_score"),
        coalesce(col("fixed_by_versions"), array()).as("fixed_by_versions"))
    // Optional remediation block (AdvisoryMitigations,
    // models.py:3473-3531): the per-purl mitigation rows nested per
    // advisory — upgrade purl sets, patch links, config-change text —
    // the v3 detail's mitigations prefetch.
    mitigations match {
      case None => base
      case Some(mit) =>
        val nested = mit
          .groupBy("avid")
          .agg(sort_array(collect_list(struct(
            col("base_purl"), col("upgrade_to_versions"),
            col("patches"), col("config_change"),
            col("replace_with_packages")))).as("mitigations"))
        base.join(nested, Seq("avid"), "left")
          .withColumn("mitigations", coalesce(col("mitigations"), array()))
    }
  }

  /** Next non-vulnerable version per package version (W3): lowest-ranked
    * safe version above each version's rank within the purl group, and
    * the highest-ranked one (`latest_non_vulnerable`). One row per
    * distinct (base_purl, version) of `ranked`; a version ranked twice
    * answers for its lower rank. */
  def nonVulnerableVersions(unfurled: DataFrame, ranked: DataFrame): DataFrame =
    safeNeighbours(unfurled, ranked)
      .filter(col("_kind") === RankRow)
      .groupBy("base_purl", "version")
      .agg(min_by(col("_next"), col("version_rank"))
        .as("next_non_vulnerable"),
        min_by(col("_latest"), col("version_rank"))
          .as("latest_non_vulnerable"))

  private val RankRow = 0
  private val EdgeRow = 1
  private val FixRow = 2

  /** W3 on one exchange: the ranked rows (`_kind` RankRow), the affected
    * edges (EdgeRow, with their avid) and the caller's `tagged` rows are
    * hash-partitioned on base_purl once. One window per (base_purl,
    * version) gives every row its version's `_vulnerable` flag (an
    * affected edge exists) and the caller's `perVersion` aggregates. A
    * second gives each ranked row `_next` / `_latest`: the lowest- and
    * highest-ranked safe (ranked, not vulnerable) version ranked strictly
    * above it, or null. That window runs in descending rank order with
    * frame (unbounded preceding, -1), which holds exactly the higher
    * ranks, ranks being integers; it grows by one row per step, so the
    * work is linear in a package's versions, not quadratic like a
    * rank-greater self-join. Ghosts rank 0, below every real version,
    * so they never answer as safe. */
  private def safeNeighbours(unfurled: DataFrame, ranked: DataFrame,
      tagged: Seq[DataFrame] = Nil,
      perVersion: Map[String, Column] = Map.empty): DataFrame = {
    val rows = (ranked.select(col("base_purl"), col("version"),
        col("version_rank"), lit(RankRow).as("_kind")) +:
      unfurled.filter(col("is_affected")).select(col("base_purl"),
        col("version"), col("avid"), lit(EdgeRow).as("_kind")) +:
      tagged).reduce(_.unionByName(_, allowMissingColumns = true))
    val sameVersion = Window.partitionBy("base_purl", "version")
    val above = Window.partitionBy("base_purl")
      .orderBy(col("version_rank").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val safe = when(col("_kind") === RankRow && !col("_vulnerable"),
      struct(col("version_rank"), col("version")))
    rows.repartition(col("base_purl"))
      .withColumns((perVersion +
          ("_vulnerable" -> max(col("_kind") === EdgeRow)))
        .map { case (n, agg) => n -> agg.over(sameVersion) })
      .withColumns(Map(
        "_next" -> min(safe).over(above).getField("version"),
        "_latest" -> max(safe).over(above).getField("version")))
  }

  /** version_rank per package version (models.py:953-973
    * calculate_version_rank): row_number within the base-purl group
    * ordered by the ecosystem sort key (scheme = purl type). Ghost
    * packages rank 0 — they are skipped by every rank-gt comparison,
    * which reproduces the reference's API-visible behavior: ghosts are
    * excluded from non-vulnerable candidates (models.py:818
    * only_non_vulnerable is_ghost=False), and a ghost package's own
    * rank reads as 0 (captured in test_api.py:900-1007 — a ghosted
    * version treats every non-ghost safe version as "later").
    *
    * Scale shape: one window per base_purl partition — the same shuffle
    * the w1 rank mart already pays; the sort key is the codegen'd
    * native expression, no UDF in the window order. */
  def versionRanks(packages: DataFrame): DataFrame = {
    val ghost = if (packages.columns.contains("is_ghost"))
      col("is_ghost") else lit(false)
    val keyed = packages.withColumn("_ghost", coalesce(ghost, lit(false)))
      .withColumn("_vkey", call_function("version_sort_key_native",
        regexp_extract(col("base_purl"), "^pkg:([^/]+)/", 1),
        col("version")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("base_purl"), col("_ghost")).orderBy(col("_vkey"))
    keyed
      .withColumn("version_rank",
        when(col("_ghost"), lit(0)).otherwise(row_number().over(w)))
      .drop("_ghost", "_vkey")
  }

  /** CPE-style reference lookup (J14, api.py:693-731): advisories whose
    * references carry the given reference_id (exact or bulk). */
  def byReferenceId(advisories: DataFrame, referenceIds: Seq[String]): DataFrame =
    advisories.filter(col("is_latest"))
      .filter(exists(col("references"),
        r => r.getField("reference_id").isin(referenceIds: _*)))

  /** Package search (P3, models.py:746-764 PackageQuerySet.search):
    * best-effort cascade — when the query parses as a purl it is
    * normalized through the codec exactly like the reference's
    * plain_purl (qualifiers and subpath stripped, VERSION kept) and
    * prefix-matched case-insensitively on package_url; otherwise the
    * raw query icontains-matches. Ordered by package_url like the
    * queryset. So `pkg:npm/lodash@4.17.0?arch=x64` normalizes before
    * matching instead of failing the literal prefix. */
  def searchPackages(packages: DataFrame, query: String): DataFrame = {
    val q = Option(query).map(_.trim).getOrElse("")
    if (q.isEmpty) return packages.limit(0)
    val asPurl =
      try Some(graft.functions.PurlCodec.parse(q).plain.format)
      catch { case _: Exception => None }
    val filtered = asPurl match {
      case Some(p) =>
        packages.filter(lower(col("package_url")).startsWith(p.toLowerCase))
      case None =>
        packages.filter(lower(col("package_url")).contains(q.toLowerCase))
    }
    filtered.orderBy("package_url")
  }

  /** Keyed pagination (W6): stable page after an order key — for serving
    * use keyed pagination, not OFFSET, so deep pages stay O(page). */
  def pageAfter(df: DataFrame, orderCol: String, after: Option[String],
      pageSize: Int): DataFrame = {
    val ordered = after match {
      case Some(k) => df.filter(col(orderCol) > k)
      case None    => df
    }
    ordered.orderBy(col(orderCol)).limit(pageSize)
  }

  /** AdvisorySet summaries (A3, api_v3.py:623-630): per group the max
    * weighted severity / exploitability over members plus the recomputed
    * capped risk (api_v3.py:743 min(max_exp*max_sev, 10)). */
  def advisorySetSummaries(sets: DataFrame, riskScores: DataFrame): DataFrame =
    sets.join(riskScores, Seq("avid"), "left")
      .groupBy("group_id")
      .agg(first("primary_avid").as("primary_avid"),
        count(lit(1)).as("member_count"),
        max("weighted_severity").as("max_severity"),
        max("exploitability").as("max_exploitability"))
      .withColumn("risk_score",
        round(least(coalesce(col("max_severity"), lit(0.0)) *
          coalesce(col("max_exploitability"), lit(0.0)), lit(10.0)), 1))

  /** Nested SSVC lists per advisory (api_v3.py:424-443: the
    * related_ssvcs / source_ssvcs Prefetch shape — vector, decision,
    * options, source advisory url). `ssvc` from
    * AdvisoryDerive.ssvcDecisions, `relations` from ssvcRelations. */
  def advisorySsvc(advisories: DataFrame, ssvc: DataFrame,
      relations: DataFrame): DataFrame = {
    val ssvcStruct = struct(col("vector"), col("decision"), col("options"),
      col("source_url"))
    val related = relations.join(ssvc, Seq("source_avid"))
      .groupBy("avid")
      .agg(collect_list(ssvcStruct).as("related_ssvcs"))
    val source = ssvc.groupBy(col("source_avid").as("avid"))
      .agg(collect_list(ssvcStruct).as("source_ssvcs"))
    advisories.filter(col("is_latest"))
      .select("avid", "summary", "aliases")
      .join(related, Seq("avid"), "left")
      .join(source, Seq("avid"), "left")
      .withColumn("related_ssvcs",
        coalesce(col("related_ssvcs"), array()))
      .withColumn("source_ssvcs",
        coalesce(col("source_ssvcs"), array()))
  }

  /** The max_advisories response gate (api_v3.py:795-805): per
    * requested purl, the sorted advisory-id list — unless the count
    * exceeds `maxAdvisories`, in which case the endpoint answers a
    * NULL sentinel ("too many, fetch individually") instead of
    * truncating. Request side broadcast as everywhere in the bulk
    * family; the corpus streams. */
  def cappedAdvisoriesPerPurl(unfurled: DataFrame, purls: DataFrame,
      maxAdvisories: Int, mode: String = "affecting"): DataFrame =
    advisoryPurlPairs(unfurled, purls, mode)
      .groupBy("purl")
      .agg(array_sort(collect_set(col("avid"))).as("_avids"))
      .select(col("purl"),
        when(size(col("_avids")) > maxAdvisories, lit(null))
          .otherwise(col("_avids")).as("advisories"),
        (size(col("_avids")) > maxAdvisories).as("overflow"))

  /** Per-ADVISORY-SET SSVC trees (api_v3.py:692-704): union the
    * members' SSVC rows, keep ONE row per source_url. The reference
    * keeps first-seen iteration order over a defaultdict — no engine
    * analog — so the deterministic contract here is: per (set,
    * source_url) the lexicographically-least full row
    * (avid, vector, decision, options) wins — the key must be TOTAL or
    * the pick is engine-dependent — and the set's trees list sorts by
    * source_url.
    *
    * @param ssvcRows (avid, vector, decision, options, source_url) —
    *                 per-advisory SSVC rows (advisorySsvc's flat input)
    * @param setMembers (set_id, avid)
    */
  def ssvcSetTrees(ssvcRows: DataFrame, setMembers: DataFrame): DataFrame = {
    // pre-reduce per (avid, source_url) BEFORE the membership fan-out:
    // the min_by ordering key LEADS with avid, so the per-avid minimum
    // is a lossless partial — the set-level minimum over the members'
    // union equals the minimum of the per-avid minima. The first cut
    // joined the raw ssvc rows against the members (a many-sets-per-
    // advisory fan-out) and carried every row's structs through the
    // first aggregation: 38 s of the round-15 noop close for a result
    // the 450-row pre-reduced side reproduces exactly. The min struct
    // is simultaneously the ordering key and (suffix) the value.
    val perAvid = ssvcRows
      .groupBy("avid", "source_url")
      .agg(min(struct(col("avid").as("a"), col("vector"),
        col("decision"), col("options"))).as("k"))
    setMembers.join(perAvid, Seq("avid"))
      .groupBy("set_id", "source_url")
      .agg(min(col("k")).as("k"))
      .groupBy("set_id")
      .agg(array_sort(collect_list(struct(col("source_url"),
        col("k.vector").as("vector"), col("k.decision").as("decision"),
        col("k.options").as("options")))).as("ssvc_trees"))
  }

  /** Nested exploit list per advisory (the Exploit model's serving shape,
    * models.py:1720-1812 incl. the Known/Unknown rendering of
    * known_ransomware_campaign_use). `exploits` from
    * AdvisoryDerive.advisoryExploits. */
  def advisoryExploitsDetail(advisories: DataFrame,
      exploits: DataFrame): DataFrame = {
    val nested = exploits.groupBy("avid")
      .agg(collect_list(struct(
        col("data_source"), col("record_id"), col("description"),
        col("date_added"), col("source_date_published"),
        col("exploit_type"), col("platform"), col("source_url"),
        when(col("known_ransomware_campaign_use"), "Known")
          .otherwise("Unknown").as("known_ransomware_campaign_use")))
        .as("exploits"))
    advisories.filter(col("is_latest"))
      .select("avid", "summary", "aliases")
      .join(nested, Seq("avid"), "left")
      .withColumn("exploits", coalesce(col("exploits"), array()))
  }

  /** Vulnerability counts per package group (A1/A2). */
  def vulnerabilityCounts(unfurled: DataFrame): DataFrame =
    unfurled.filter(col("is_affected"))
      .groupBy("base_purl")
      .agg(countDistinct("avid").as("advisory_count"),
        countDistinct("version").as("affected_version_count"))

  /** Package-type directory (api_v3.py:342-353 PackageTypesView): the
    * distinct purl types ordered by type — the reference caches this
    * hourly; here it is a partial-aggregatable distinct over one pruned
    * column, so the scan reads only `type`. */
  def packageTypes(packages: DataFrame): DataFrame =
    packages.select("type").distinct().orderBy("type")

  /** Fixed-package details (views.py:438-478 get_fixed_package_details):
    * per advisory the fixed-by package versions, each flagged
    * is_vulnerable = "is this fix version itself affected by some latest
    * unfurled advisory" (the reference's Exists annotation), with ghost
    * packages excluded (is_ghost=False filter).
    *
    * Scale shape: the vulnerable set is a corpus-wide distinct on
    * (base_purl, version) equi-joined back — partial-aggregatable, no
    * broadcast of the corpus; the ghost dimension is the bounded side
    * and anti-joins broadcast. */
  def fixedPackageDetails(unfurled: DataFrame,
      ghosts: DataFrame): DataFrame = {
    val fixedRows = unfurled.filter(col("is_fixed"))
      .select("avid", "base_purl", "version").distinct()
      .join(broadcast(ghosts.select("base_purl", "version")),
        Seq("base_purl", "version"), "left_anti")
    val vulnerable = unfurled.filter(col("is_affected"))
      .select("base_purl", "version").distinct()
      .withColumn("_v", lit(true))
    fixedRows.join(vulnerable, Seq("base_purl", "version"), "left")
      .withColumn("is_vulnerable", coalesce(col("_v"), lit(false)))
      .drop("_v")
  }

  /** fixed_by_packages (api_v3.py:355-365
    * AffectedByAdvisoryV3Serializer): per advisory the sorted distinct
    * non-null fixed-by package urls — the values_list(...).exclude(
    * isnull).distinct() as one collect_set aggregation. */
  def fixedByPackagePurls(unfurled: DataFrame): DataFrame =
    unfurled.filter(col("is_fixed") && col("version").isNotNull)
      .groupBy("avid")
      .agg(array_sort(collect_set(
        concat(col("base_purl"), lit("@"), col("version"))))
        .as("fixed_by_packages"))

  /** get_patches_bulk (api_v3.py:474-527): the introduced/fixed commit
    * patches per (package, advisory) for one bulk-lookup request. Both
    * request sides (package ids, advisory ids) are bounded page-sized
    * lists — broadcast semi-joins, so the corpus-scale patch-link table
    * is pruned before anything shuffles. Rows carrying neither a commit
    * hash nor a VCS url are dropped — a NULL-based guard, where the
    * reference's `if row["commit_hash"] or row["vcs_url"]` uses Python
    * truthiness and so also drops empty strings; and the `distinct()` is
    * an intentional normalization beyond the reference, which appends
    * rows with no per-key seen set. */
  def patchesBulk(patchLinks: DataFrame, packages: DataFrame,
      advisories: DataFrame): DataFrame =
    patchLinks
      .join(broadcast(packages.select("base_purl")),
        Seq("base_purl"), "left_semi")
      .join(broadcast(advisories.select("avid")), Seq("avid"), "left_semi")
      .filter(col("commit_hash").isNotNull || col("vcs_url").isNotNull)
      .select("base_purl", "avid", "patch_kind", "commit_hash", "vcs_url")
      .distinct()

  /** build_patch_set_map (api_v3.py:528-560 + :707-724): the
    * introduced/fixed commit patches of an ADVISORY SET = the deduped
    * union over its member advisories' patches — the aggregation behind
    * `introduced_in_patches`/`fixed_in_patches` in the v3 details
    * response (asserted by the reference's
    * PackageCommitPatchComplexTest: the primary's fix hash reappearing
    * as a member's introduced hash must surface once per kind).
    * Patches sort canonically (hash, url) — the reference preserves
    * first-seen iteration order, which has no engine analog; the SET of
    * patches per (advisory_set, kind) is the contract.
    *
    * Scale shape: members (set_id, avid) equi-join the patch-link
    * corpus on avid, then one map-side-combining collect_set per
    * (set, kind) — member lists are advisory-set-bounded.
    *
    * @param patchLinks (avid, patch_kind, commit_hash, vcs_url)
    * @param setMembers (set_id, avid)
    */
  def patchSetMap(patchLinks: DataFrame, setMembers: DataFrame): DataFrame =
    // distinct BEFORE the membership fan-out: collect_set is a set
    // union, so deduping the (avid, kind, patch) rows first is lossless
    // — and the raw link table repeats each patch massively (the first
    // cut fanned 600k raw rows ×30 sets into the aggregation, 29 s of
    // the round-15 noop close; the distinct side is ~1% of that)
    setMembers.join(
      patchLinks
        .filter(col("commit_hash").isNotNull || col("vcs_url").isNotNull)
        .select("avid", "patch_kind", "commit_hash", "vcs_url")
        .distinct(),
      Seq("avid"))
      .groupBy("set_id", "patch_kind")
      .agg(array_sort(collect_set(struct(col("commit_hash"),
        col("vcs_url")))).as("patches"))

  /** severity_range_score (api.py:259-281 via utils.py:512-545
    * get_severity_range): the "min - max" string over a vulnerability's
    * severity VALUES — textual buckets expand to their [lo, hi] pair,
    * numerics pass through, unknown words drop, null when nothing
    * parses. Pure column arithmetic over the collected value array
    * (codegen'd — no UDF); the double→string cast renders 1-decimal
    * doubles exactly like Python str(float). */
  def severityRangeCol(values: Column): Column = {
    // numeric grammar + int-3 rendering shared with the scalar twin
    // (Cvss.severityRange / Cvss.NumericScoreRe) and the a14 oracle:
    // the reference's low bucket upper bound is the INT 3, so an
    // all-low maximum renders "3"; a parsed numeric 3.0 wins as "3.0"
    val numRe = graft.functions.Cvss.NumericScoreRe
    // Java-trim parity with the scalar twin: String.trim strips every
    // char <= U+0020 (tabs, newlines, NUL) while Spark/DuckDB trim()
    // strips ASCII space only — normalize with the explicit
    // control-char class so a tab-padded value parses in BOTH twins
    // (the a14 oracle mirrors the same regexp). Trimmed ONCE per
    // element here: the first cut re-ran the regexp inside every
    // downstream lambda (~7 regex evals per value) and a14's bench
    // median rose 28%.
    val tvals = transform(values, v =>
      regexp_replace(v, "^[\\x00-\\x20]+|[\\x00-\\x20]+$", ""))
    // finite-only AND |d| < 1e16, like the scalar twin and the a14
    // oracle: overflow spellings ("1e999") drop instead of rendering
    // engine-specific infinity strings, and finite large magnitudes
    // ("1e17") drop because above 1e16 the Spark cast ("1.0E17") stops
    // matching Python str(float) ("1e+17")
    val isNum = (t: Column) => t.rlike(numRe) &&
      abs(t.cast("double")) < lit(1e16)
    val buckets = map(
      lit("low"), array(lit(0.1), lit(3.0)),
      lit("moderate"), array(lit(4.0), lit(6.9)),
      lit("medium"), array(lit(4.0), lit(6.9)),
      lit("high"), array(lit(7.0), lit(8.9)),
      lit("important"), array(lit(7.0), lit(8.9)),
      lit("critical"), array(lit(9.0), lit(10.0)))
    // "+ 0.0" folds negative zero like the scalar twin and the oracle
    // (array_min/array_max pick an order-dependent sign otherwise)
    val expanded = flatten(transform(tvals, t =>
      when(isNum(t), array(t.cast("double") + lit(0.0)))
        .otherwise(coalesce(element_at(buckets, lower(t)),
          array().cast("array<double>")))))
    val lowUsed = exists(tvals, t => lower(t) === "low")
    val numericThree =
      exists(tvals, t => isNum(t) && t.cast("double") === 3.0)
    // Python str(float) parity, mirroring the scalar twin's py():
    // integral doubles render "<long>.0" (a plain double→string cast is
    // Java Double.toString, which flips to scientific at 1e7 — "1.2E7"
    // where Python says "12000000.0"); non-integral doubles fall back
    // to the cast, where Spark's Double.toString IS the scalar's
    // d.toString, so the twins agree on the whole clamped domain
    val pyStr = (d: Column) =>
      when(d === floor(d) && abs(d) < lit(1e16),
        concat(d.cast("long").cast("string"), lit(".0")))
        .otherwise(d.cast("string"))
    val mx = array_max(expanded)
    val maxStr = when(mx === 3.0 && lowUsed && !numericThree, lit("3"))
      .otherwise(pyStr(mx))
    when(size(expanded) > 0,
      concat(pyStr(array_min(expanded)), lit(" - "), maxStr))
  }

  /** All vulnerable purls (api_v3.py:268-272 empty-purls mode,
    * models.py:3693-3704 `all_vulnerable_purls`): every package with at
    * least one affecting impact from a latest, fully-unfurled advisory
    * (the `unfurled` mart only carries those), as the ordered purl
    * list. One left-semi against the distinct affected
    * (base_purl, version) edge — no aggregation state; at corpus scale
    * this is a shuffle on the package key and nothing else. */
  def allVulnerablePurls(packages: DataFrame,
      unfurled: DataFrame): DataFrame =
    packages.join(
      unfurled.filter(col("is_affected"))
        .select("base_purl", "version").distinct(),
      Seq("base_purl", "version"), "left_semi")
      .select("package_url").orderBy("package_url")

  /** v3 packages POST with details=false +
    * ignore_qualifiers_subpath=true (api_v3.py:276-315): the queried
    * purls stripped to their plain form (no qualifiers/subpath), matched
    * against `plain_package_url`, reduced to the vulnerable ones, and
    * returned in the plain spelling — one row per matching package row
    * like the reference's values_list (no distinct: two packages that
    * differ only in qualifiers both answer). The request side
    * broadcasts; the vulnerable edge is the same semi-join as
    * [[allVulnerablePurls]]. */
  def vulnerablePlainPurlsOf(packages: DataFrame, unfurled: DataFrame,
      purls: DataFrame): DataFrame = {
    val queried = purls
      .select(graft.functions.GraftFunctions.purlPlainUdf(col("purl"))
        .as("q")).distinct()
    packages
      .join(broadcast(queried), col("plain_package_url") === col("q"),
        "left_semi")
      .join(unfurled.filter(col("is_affected"))
        .select("base_purl", "version").distinct(),
        Seq("base_purl", "version"), "left_semi")
      .select(col("plain_package_url").as("purl"))
      .orderBy("purl")
  }

  /** The v3 bulk-packages endpoint composed END-TO-END as one mart
    * (api_v3.py:253-339 create + :566-700 get_affected_advisories_bulk +
    * :891-959 get_fixing_advisories_bulk): filter_purls →
    * is_vulnerable Exists → per-advisory fixed-by ArrayAgg →
    * AdvisorySet max-severity primary → one canonical nested-JSON
    * response row per requested purl.
    *
    * Scale contract: the REQUEST list is the broadcast side everywhere
    * (an API page — thousands at most); the unfurled link corpus streams
    * through semi/equi joins keyed on it, and the only full-corpus
    * aggregations (fixed-by per advisory, never-affected versions per
    * package) are map-side-combining groupBys that existed as their own
    * marts (s14/s15) before composition.
    *
    * The JSON is assembled with deterministic string building (sorted
    * arrays, explicit null spelling) so the DuckDB oracle reproduces it
    * byte-for-byte — the canonical-JSON discipline of the export sinks.
    *
    * @param severities (avid, severity INT) — the advisory severity dim
    */
  def v3BulkPackages(unfurled: DataFrame, severities: DataFrame,
      request: DataFrame): DataFrame = {
    val req = request.select(col("base_purl"), col("version"),
      concat(col("base_purl"), lit("@"), col("version")).as("purl"))

    // affecting edges for the requested purls (request broadcast)
    val aff = unfurled.filter(col("is_affected"))
      .join(broadcast(req), Seq("base_purl", "version"))
      .select(col("purl"), col("avid")).distinct()

    // per-advisory fixed-by purls (ArrayAgg, api_v3.py:592-597) — only
    // for advisories that affect a requested purl (semi-join prune)
    val fixedBy = unfurled.filter(col("is_fixed") && col("version").isNotNull)
      .join(broadcast(aff.select("avid").distinct()), Seq("avid"),
        "left_semi")
      .select(col("avid"),
        concat(col("base_purl"), lit("@"), col("version")).as("fp"))
      .distinct()
      .groupBy("avid")
      .agg(array_sort(collect_set(col("fp"))).as("fixed_by"))

    val affEntries = aff.join(fixedBy, Seq("avid"), "left")
      .select(col("purl"), concat(
        lit("{\"advisory_id\":\""), col("avid"),
        lit("\",\"fixed_by_packages\":["),
        concat_ws(",", transform(coalesce(col("fixed_by"),
          array().cast("array<string>")),
          x => concat(lit("\""), x, lit("\"")))),
        lit("]}")).as("entry"))
      .groupBy("purl")
      .agg(concat_ws(",", array_sort(collect_list(col("entry"))))
        .as("affected_entries"))

    // fixing advisories per purl with the AdvisorySet max-severity
    // primary (api_v3.py:891-959): primary = max_by severity, tiebroken
    // on the FULL avid string (fixed-width severity prefix). A
    // numeric-suffix ordinal would NULL out ids with no trailing digits
    // (e.g. ghsa/GHSA-xxxx-yyyy) and max_by silently drops NULL-keyed
    // rows.
    val fix = unfurled.filter(col("is_fixed"))
      .join(broadcast(req), Seq("base_purl", "version"))
      .select(col("purl"), col("avid")).distinct()
      .join(broadcast(severities), Seq("avid"), "left")
      .withColumn("sev", coalesce(col("severity"), lit(0)))
      .withColumn("ord", concat(lpad(col("sev").cast("string"), 4, "0"),
        col("avid")))
    val fixing = fix.groupBy("purl")
      .agg(expr("max_by(avid, ord)").as("primary_avid"),
        max(col("sev")).as("max_severity"),
        countDistinct(col("avid")).as("set_size"))

    // latest_non_vulnerable_version per base purl: the highest version
    // in ECOSYSTEM version order (models.py:1039-1067
    // get_non_vulnerable_versions → sorted_versions[-1]) never flagged
    // affected anywhere in the corpus. Lexicographic max(version) is
    // wrong ("1.9" > "1.10"); rank with the same codegen'd sort key the
    // w1/w3 rank marts use, scheme taken from the purl type.
    val nonVuln = unfurled
      .groupBy("base_purl", "version")
      .agg(max(when(col("is_affected"), 1).otherwise(0)).as("everAff"))
      .filter(col("everAff") === 0)
      .withColumn("vkey", call_function("version_sort_key_native",
        regexp_extract(col("base_purl"), "^pkg:([^/]+)/", 1),
        col("version")))
      .groupBy("base_purl")
      .agg(expr("max_by(version, vkey)").as("latest_nonvuln"))

    req
      .join(affEntries, Seq("purl"), "left")
      .join(fixing, Seq("purl"), "left")
      .join(nonVuln, Seq("base_purl"), "left")
      .select(col("purl"),
        col("affected_entries").isNotNull.as("is_vulnerable"),
        concat(
          lit("{\"purl\":\""), col("purl"),
          lit("\",\"is_vulnerable\":"),
          when(col("affected_entries").isNotNull, "true").otherwise("false"),
          lit(",\"affected_by_vulnerabilities\":["),
          coalesce(col("affected_entries"), lit("")),
          lit("],\"fixing_vulnerabilities\":"),
          when(col("primary_avid").isNotNull, concat(
            lit("{\"primary\":\""), col("primary_avid"),
            lit("\",\"severity\":"), col("max_severity").cast("string"),
            lit(",\"size\":"), col("set_size").cast("string"), lit("}")))
            .otherwise(lit("null")),
          lit(",\"latest_non_vulnerable_version\":"),
          when(col("latest_nonvuln").isNotNull,
            concat(lit("\""), col("latest_nonvuln"), lit("\"")))
            .otherwise(lit("null")),
          lit("}")).as("response"))
  }
}
