package graft.capex

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.Relational.topK
import graft.functions.TextMatch
import CapexVocab._

/** Spark-native capex engine: derives the reference's capex table shape from
  * the driver's TPC-H-ish tables (SURVEY.md §3) and applies the 19-rule
  * pipeline (process_capex.py:1080-1181) as ONE declarative Catalyst plan —
  * the pandas reference materializes the frame ~19 times; here every rule is
  * a pure Column predicate over a single scan + two broadcast dim joins, so
  * Catalyst fuses the whole rule chain into one whole-stage-codegen'd pass.
  *
  * Scale posture (SURVEY.md §5): lineitem/orders shuffle-join on orderkey;
  * customer, nation, region and the office/regioncode dims broadcast; the
  * representative-row window partitions by RequestNo (same key family as the
  * join), and the fail-open reinstatement is an aggregate + anti-join on the
  * robust key — no driver-side state, unlike the reference's global dict.
  */
object CapexDerive {

  private def pick(vocab: Seq[String], idx: Column): Column =
    element_at(array(vocab.map(lit): _*), (idx % vocab.size).cast("int") + 1)

  private def containsAny(c: Column, kws: Seq[String]): Column =
    kws.map(k => lower(c).contains(k.toLowerCase)).reduce(_ || _)

  private def caseMap(c: Column, m: Seq[(String, String)]): Column =
    m.foldRight(c) { case ((from, to), acc) => when(c === from, to).otherwise(acc) }

  /** The office-location dim (reference office_location.csv, here played by
    * nation ⋈ region): office=n_name, zone=r_name, region=n_name (NATION_7
    * plays 'MUM'), regioncode=r_name.
    */
  def offices(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(
        col("n_name").as("office"),
        col("r_name").as("zone"),
        when(col("n_name") === MumNation, "MUM").otherwise(col("n_name")).as("region"),
        col("r_name").as("regioncode"),
        col("n_nationkey"))

  /** Regioncode fallback dim: one row per regioncode; the reference's dict
    * build iterates office rows in order so the LAST office per regioncode
    * wins the region value (process_capex.py:259-264) → max_by(nationkey).
    */
  def regionCodes(spark: SparkSession, dir: String): DataFrame =
    offices(spark, dir).groupBy(col("regioncode"))
      .agg(min(col("zone")).as("fb_zone"),
           expr("max_by(region, n_nationkey)").as("fb_region"))

  /** The raw capex-shaped frame: one row per lineitem, every column a pure
    * deterministic function of the join keys (CapexVocab). Non-null by
    * construction so pandas-NaN edge cases can't diverge between engines.
    */
  def raw(spark: SparkSession, dir: String): DataFrame = {
    // Spread the scan FIRST (single-file testdata = one partition), keyed by
    // the EXACT RequestNo string expression the projection aliases below so
    // the request-grouped enrichment runs core-parallel off one shuffle.
    // (AQE's runtime coalescing erases the partitioning metadata across the
    // checkpoint boundary, so the ranked() window still inserts its own
    // exchange — narrow by then; a production deployment buckets the fact
    // by RequestNo to delete it.)
    val li = Tables.lineitem(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism,
        concat(lit("REQ-"), (col("l_orderkey") / 16).cast("bigint").cast("string")))
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    val ok = col("l_orderkey"); val ln = col("l_linenumber").cast("bigint")
    val pk = col("l_partkey"); val sk = col("l_suppkey")
    // Deterministic unique row id: the testdata's (orderkey, linenumber) is
    // NOT unique, so hash the full natural key (money fields decimal-exact)
    // — engine-independent and a stable tie-break for every window below.
    val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    val qcents = (col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(
        md5(concat_ws("|", ok, ln, pk, sk, cents, qcents).cast("binary")).as("rid"),
        // One "request" spans 16 orders (~64 lineitems at any scale factor)
        // so representative down-selection and fail-open genuinely fire.
        concat(lit("REQ-"), (ok / 16).cast("bigint").cast("string")).as("RequestNo"),
        pick(Statuses, ok * 3 + ln).as("CurrentStatus"),
        pick(Functions, ok + ln * 2).as("RequestFunction"),
        pick(VendorSel, pk + ln * 7).as("IsSelectedVendor"),
        when(sk % 7 === 0, "").otherwise(concat(lit("Vendor "), sk.cast("string"))).as("VendorName"),
        pick(Items, pk).as("AssetItemName"),
        pick(ItemCats, sk).as("ItemCategory"),
        pick(AssetCats, pk + sk).as("AssetCategoryName"),
        pick(Remarks, ok * 5 + ln * 3).as("UserRemarks"),
        when(ok % 17 === 0, concat(lit("BR-"), (ok % 89).cast("string")))
          .otherwise(col("n_name")).as("BranchCode"),
        col("l_extendedprice").as("AssetItemAmount"),
        col("o_orderdate").as("RequestDate"))
  }

  /** Owner of the shared enriched/kept frames: they outlive any one caller,
    * so neither a thread's `Checkpoints.releaseAll` nor a `scoped` block
    * frees them — only `clearCache`.
    */
  private val scope = new graft.Checkpoints.Scope

  /** localCheckpoint rather than persist: it CUTS THE LINEAGE, so the many
    * downstream queries (ranked/kept/reinstated/pipeline and every rule
    * query) analyze a one-node LogicalRDD instead of re-walking the
    * ~60-expression enriched tree. Measured: the capex pipeline's cost is
    * ~1s of data compute and tens of seconds of repeated Catalyst
    * analysis/codegen without the cut. On a multi-executor cluster the
    * blocks live on executors (MEMORY_AND_DISK); the trade is losing
    * recompute-on-failure for this cached stage, the standard trade for
    * iterative pipelines.
    */
  private def cached(spark: SparkSession, dir: String, key: String)
                    (build: => DataFrame): DataFrame =
    scope.memo((spark, dir, key))(build.localCheckpoint(true))

  /** raw + Zone/Region (broadcast dim join w/ regex whole-word fallback from
    * UserRemarks — reference process_capex.py:225-289) + every rule flag,
    * normalized category, exclusion label, keys, priority and tag columns,
    * built as a single Catalyst plan and memoised lineage-cut.
    */
  def enriched(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "enriched")(buildEnriched(spark, dir))

  /** Release the enriched/kept frames (bench hygiene between unrelated
    * queries; blocking so the release doesn't GC-churn the next query's
    * timing).
    */
  def clearCache(): Unit = scope.release()

  /** The zone/region-mapped frame (ablation layer 1 — see tools.CapexAblate). */
  private[graft] def ablMapped(spark: SparkSession, dir: String): DataFrame = {
    // raw() already spread the scan by the RequestNo grouping — no second
    // exchange of the wide frame here.
    val base = raw(spark, dir)
    val off = offices(spark, dir).select(
      col("office"), col("zone").as("map_zone"), col("region").as("map_region"))
    val rc = regionCodes(spark, dir)

    // Whole-word regioncode search without a per-row regex compile: the
    // remark is normalized to space-separated uppercase words once, then
    // the join probes padded containment — identical semantics to the
    // oracle's \b regex for alphanumeric(+space) codes.
    base
      .withColumn("rem_norm",
        concat(lit(" "),
          regexp_replace(upper(col("UserRemarks")), "[^A-Z0-9]+", " "), lit(" ")))
      .join(broadcast(off), base("BranchCode") === off("office"), "left")
      .join(broadcast(rc),
        col("office").isNull &&
          col("rem_norm").contains(concat(lit(" "), col("regioncode"), lit(" "))),
        "left")
      .withColumn("Zone", coalesce(col("map_zone"), col("fb_zone"), lit("Unknown")))
      .withColumn("Region", coalesce(col("map_region"), col("fb_region"), lit("Unknown")))
      .drop("office", "map_zone", "map_region", "regioncode", "fb_zone", "fb_region", "rem_norm")
  }

  /** mapped + the category recode/normalize/split block (ablation layer 2). */
  private[graft] def ablWithCats(spark: SparkSession, dir: String): DataFrame = {
    val mapped = ablMapped(spark, dir)
    val item = col("AssetItemName")
    val acatRaw = col("AssetCategoryName")

    // Office/Furniture recode (rule 4): typo-mapped upper category, regex
    // class check, allowed-item substring override (process_capex.py:742-770).
    val catu = caseMap(upper(trim(acatRaw)), OfficeFurnitureTypoMap)
    val isOfficeFurn = catu.rlike("\\bOFFICE\\b.*\\bEQUIP") || catu.rlike("\\bFURNIT")
    val allowedHit = containsAny(item, OfficeFurnitureAllowedItems)
    val acatRecode = when(isOfficeFurn && !allowedHit, "PLANT & MACHINERY").otherwise(acatRaw)

    val norm = (c: Column) => caseMap(upper(trim(c)), NormalizeMap)

    // Fence after acat_recode (r13): CollapseProject would inline the
    // recode tree (two rlikes + the typo caseMap + the allowed-items
    // contains chain) into EVERY branch of the NormalizeMap caseMap that
    // consumes it — CASE WHEN branches are CSE-exempt, so the regexes ran
    // ~10x per row (ablated: the cats projection alone cost ~1.0 s wall /
    // ~32 s CPU at sf0.1). The fence binds acat_recode once per row.
    graft.plans.Fence(mapped.withColumn("acat_recode", acatRecode))
      .withColumn("acat_norm", norm(col("acat_recode")))
      .withColumn("acat_norm_raw", norm(acatRaw))
      .withColumn("acat_split",
        PmSplitItems.reverse.foldRight(col("acat_norm")) { case (kw, acc) =>
          when(lower(item).contains(kw.toLowerCase), s"PLANT & MACHINERY - $kw").otherwise(acc)
        })
  }

  /** withCats (checkpointed) + the dictionary flag joins (ablation layer 3). */
  private[graft] def ablWithFlags(spark: SparkSession, dir: String): DataFrame = {
    val item = col("AssetItemName"); val icat = col("ItemCategory")
    val rem = col("UserRemarks")
    // Materialize here: (a) the two dictionary builds below and the main
    // flag/rule projection all consume withCats — without a barrier each
    // re-executes the scan+joins+category chain; (b) the barrier halves the
    // size of each whole-stage-codegen'd stage, whose Janino+JIT cost —
    // not row compute — dominates this build.
    val withCats = graft.Checkpoints.current.track(ablWithCats(spark, dir).localCheckpoint(true))

    // Remark flags (negation-aware): the matcher is a pure function of the
    // text, so run it over the DISTINCT remark dictionary / device-text
    // tuples and join the verdicts back (broadcast — bounded by dictionary
    // cardinality, not row count). Same results as inline evaluation, but
    // compute scales with distinct texts: at 100 TB the per-row HOF work
    // collapses onto the (shuffled-distinct) dictionary.
    val remFlags = {
      // Fence, not cp (r14): the barrier exists to keep the tokenizer out
      // of the flag lambdas, and a projection fence does that without the
      // eager materialize job a checkpoint costs — the dict is a single
      // linear consumer chain (distinct → flags → broadcast build), so
      // nothing re-reads it. nn is NOT barriered: inlining it into the 6
      // flag lambdas re-runs the window scan 6× per dict row — bounded by
      // dict cardinality, cheaper than another barrier.
      val d = graft.plans.Fence(withCats.select(rem.as("UserRemarks")).distinct()
        .withColumn("rtoks", TextMatch.tokens(col("UserRemarks"))))
        .withColumn("nn", TextMatch.nonNegatedTokens(col("rtoks")))
      d.select(col("UserRemarks"),
        TextMatch.isTestDemo(col("rtoks"), col("nn")).as("flag_test_demo"),
        TextMatch.isPersonal(col("rtoks"), col("nn")).as("flag_personal"),
        TextMatch.isExperimental(col("rtoks"), col("nn")).as("flag_experimental"),
        TextMatch.mentionsDarkStore(col("rtoks"), col("nn")).as("flag_dark_store"),
        TextMatch.mentionsCounter(col("rtoks"), col("nn")).as("flag_counter"),
        TextMatch.mentionsDsWord(col("rtoks")).as("flag_ds"))
    }
    val devDim = {
      // Fence, not cp — same single-consumer rationale as remFlags
      val d = graft.plans.Fence(
        withCats.select(item, icat, col("acat_recode"), rem).distinct()
          .withColumn("dtoks", TextMatch.tokens(concat_ws(" ", item, icat, col("acat_recode"), rem))))
        .withColumn("nn_d", TextMatch.nonNegatedTokens(col("dtoks")))
      d.select(col("AssetItemName"), col("ItemCategory"), col("acat_recode"), col("UserRemarks"),
        TextMatch.anyPhraseNonNegated(col("dtoks"), col("nn_d"),
          TextMatch.PersonalDeviceWords).as("device_hit"))
    }
    withCats
      .join(broadcast(remFlags), Seq("UserRemarks"))
      .join(broadcast(devDim),
        Seq("AssetItemName", "ItemCategory", "acat_recode", "UserRemarks"))
      .withColumn("nonrel",
        col("flag_test_demo") || col("flag_personal") || col("flag_experimental"))
  }

  /** private[graft] so the plan-audit spec can inspect the PRE-checkpoint
    * build plan (the public enriched() returns a lineage-cut LogicalRDD
    * whose joins are no longer visible to explain). Split into the abl*
    * layers above (r14) so tools.CapexAblate can time each block alone;
    * composition is unchanged.
    */
  private[graft] def buildEnriched(spark: SparkSession, dir: String): DataFrame = {
    val item = col("AssetItemName"); val icat = col("ItemCategory")
    val acatRaw = col("AssetCategoryName"); val rem = col("UserRemarks")
    val withFlags = ablWithFlags(spark, dir)

    // Rule removal predicates in pipeline order.
    val kwHit = (kw: String) =>
      lower(item).contains(kw.toLowerCase) || lower(icat).contains(kw.toLowerCase) ||
        lower(rem).contains(kw.toLowerCase)
    val cctvHit = Seq(item, icat, rem)
      .map(c => lower(c).contains("cctv") || lower(c).contains("camera")).reduce(_ || _)

    val withRules = withFlags
      .withColumn("rm_r1", lower(trim(col("CurrentStatus"))) === "rejected")
      .withColumn("rm_r2", trim(col("IsSelectedVendor")) === "-")
      .withColumn("rm_r3",
        lower(trim(col("RequestFunction"))).isin(RemovedFunctions: _*))
      .withColumn("rm_r3a",
        TextMatch.isExcludedEquipment(concat_ws(" ", item, icat, acatRaw)))
      .withColumn("rm_r5", !lower(trim(col("acat_norm"))).isin(AllowedCategories: _*))
      .withColumn("rm_r5a", col("device_hit"))
      .withColumn("rm_r6",
        col("flag_ds") || col("flag_dark_store") ||
          (col("flag_counter") && !containsAny(item, LegitimateCounterItems)))
      .withColumn("rm_r8", col("RequestFunction") === "IT" && col("nonrel"))
      .withColumn("rm_r9",
        (col("CurrentStatus") === "Approval in Progress") ||
          (col("CurrentStatus") === "Sent for Approval" && col("nonrel")))
      .withColumn("rm_r10", col("flag_dark_store"))
      .withColumn("rm_r11", col("RequestFunction") === "Admin" && col("nonrel"))
      .withColumn("rm_r12", col("RequestFunction") === "Ops" && col("nonrel"))
      .withColumn("rm_r13", col("RequestFunction") === "Ops through IT" && col("nonrel"))
      .withColumn("rm_r18",
        NonOpsKeywords.map(kwHit).reduce(_ || _) || cctvHit)

    val r18Label = NonOpsKeywords.foldRight(lit(LabelR18Cctv): Column) { case (kw, acc) =>
      when(kwHit(kw), labelR18(kw)).otherwise(acc)
    }
    // Attribution chains generated from the ONE rule table
    // (CapexVocab.RuleAttribution); r18 appended with its keyword-dependent
    // label. Reference: _record_exclusions (process_capex.py:181-223) and
    // its per-rule call sites.
    def attrib(pick: ((String, String, String, String)) => Column,
               r18: Column): Column =
      RuleAttribution.foldRight(
        when(col("rm_r18"), r18).otherwise(lit(null).cast("string"))) {
        case (entry, acc) => when(col(entry._1), pick(entry)).otherwise(acc)
      }
    val labeled = graft.plans.Fence(withRules)
      // fenced (r13): the four attribution chains below each fold over the
      // rm_* flags; without the barrier CollapseProject substitutes every
      // flag's keyword-contains tree into every chain's branches (rm_r18
      // alone is ~10 keywords x 3 columns), re-evaluating them up to 4x
      // per row. The fence makes them bound booleans.
      .withColumn("excluded_by", attrib(e => lit(e._2), r18Label))
      .withColumn("survives", col("excluded_by").isNull)
      .withColumn("trigger_column", attrib(e => lit(e._3), lit("AssetItemName")))
      .withColumn("trigger_value", attrib(e => col(e._4), item))

    // req_key is EXACTLY key_strict's first field (trim, null→'') — the
    // reference pandas strips/fillna('')s before keying
    // (process_capex.py:53); every downstream window/join leads with
    // req_key so degenerate RequestNo (NULL, padded, '|'-containing)
    // groups identically to the keys themselves, and bucketing by req_key
    // satisfies every tail distribution (see rankedOf). Fields are
    // null-coalesced BEFORE concat so the key values match the oracle's
    // `||` dialect byte-for-byte on NULL inputs too (concat_ws would skip
    // a NULL field, DuckDB `||` would null the whole key).
    labeled
      .withColumn("req_key", coalesce(trim(col("RequestNo")), lit("")))
      .withColumn("key_strict",
        concat_ws("|", col("req_key"), coalesce(trim(item), lit("")),
          coalesce(trim(col("VendorName")), lit(""))))
      .withColumn("key_robust",
        when(coalesce(trim(col("VendorName")), lit("")) === "",
          concat_ws("|", col("req_key"), coalesce(trim(item), lit(""))))
        .otherwise(col("key_strict")))
      .withColumn("priority",
        when(col("CurrentStatus") === "Approved", 100).otherwise(0) +
          when(col("CurrentStatus") === "Sent for Approval", 50).otherwise(0) +
          when(col("IsSelectedVendor") === "Yes", 10).otherwise(0))
      .withColumn("category_type",
        when(containsAny(item, RentalKeywords), "Rental_Opex")
          .when(containsAny(item, SorterKeywords), "Sorter")
          .when(containsAny(item, AmcKeywords), "AMC")
          .otherwise("Regular"))
      .withColumn("remarks_final",
        when(upper(trim(col("Region"))).isin("MUMBAI", "MUM"),
          concat(rem, lit(MumComment))).otherwise(rem))
  }

  private def kwHitCol(kw: String): Column =
    Seq(col("AssetItemName"), col("ItemCategory"), col("UserRemarks"))
      .map(c => lower(c).contains(kw.toLowerCase)).reduce(_ || _)

  /** Human-readable per-row exclusion prose — explain_exclusion_reason
    * (process_capex.py:385-501). Deliberately NOT the pipeline's label
    * chain: the reference's explain function checks in its own order
    * (category before remark flags, no CCTV branch in rule 18, its own
    * narrower normalization map) and trims where the rules don't; a pure
    * projection over enriched columns, evaluated only by the queries that
    * ask for it.
    */
  private[capex] def explainReason: Column = {
    val rfT = trim(col("RequestFunction"))
    val ac2 = caseMap(upper(trim(col("AssetCategoryName"))), ExplainNormMap)
    val r18kw = NonOpsKeywords.foldRight(lit(null).cast("string")) { case (kw, acc) =>
      when(kwHitCol(kw), lit(s"Non-Ops equipment keyword: '$kw'")).otherwise(acc)
    }
    when(col("rm_r1"), "Rejected status")
      .when(col("rm_r2"), "IsSelectedVendor is '-'")
      .when(col("rm_r3"), concat(lit("Removed RequestFunction '"), rfT, lit("'")))
      .when(col("rm_r3a"), "Excluded equipment: Air Conditioner/Fan/Fire Extinguisher")
      .when(!ac2.isin(ExplainAllowedCats: _*),
        concat(lit("Asset category excluded after normalization ('"), ac2, lit("')")))
      .when(col("flag_ds"), "UserRemarks mention 'DS'")
      .when(col("flag_dark_store"), "UserRemarks mention 'dark store'")
      .when(col("flag_counter"), "UserRemarks mention 'counter'")
      .when(col("device_hit"),
        "Mention of personal computing device (laptop/macbook/tablet/phone)")
      .when(rfT === "IT" && col("nonrel"), "IT non-relevant by UserRemarks")
      .when(rfT === "Admin" && col("nonrel"), "Admin non-relevant by UserRemarks")
      .when(rfT === "Ops" && col("nonrel"), "Ops non-relevant by UserRemarks")
      .when(rfT === "Ops through IT" && col("nonrel"),
        "Ops through IT non-relevant by UserRemarks")
      .when(trim(col("CurrentStatus")) === "Approval in Progress",
        "Status 'Approval in Progress' removed")
      .otherwise(coalesce(r18kw, lit("Unknown")))
  }

  /** Per-row first-fire step index in the reference's APPLICATION order:
    * rules 1..13 from RuleAttribution, then rule 18 expanded per keyword
    * (remove_non_ops_equipment loops keywords, recording per keyword —
    * process_capex.py:857-875; CCTV last). NULL = the row survives every
    * rule. A robust key's recorded exclusion reason is the label at the
    * step where its LAST row fell (_record_exclusions fires when the key
    * first goes missing from `after`, and first write wins), i.e. the
    * excluded_by of the max-index row.
    */
  private[capex] def ruleStepIdx: Column = {
    val r18KwIdx = NonOpsKeywords.zipWithIndex
      .foldRight(lit(NonOpsKeywords.size): Column) { case ((kw, i), acc) =>
        when(kwHitCol(kw), i).otherwise(acc)
      }
    RuleAttribution.zipWithIndex.foldRight(
      when(col("rm_r18"), lit(RuleAttribution.size + 1) + r18KwIdx)
        .otherwise(lit(null).cast("int"))) {
      case (((flag, _, _, _), i), acc) => when(col(flag), i + 1).otherwise(acc)
    }
  }

  /** Rule survivors with the representative-row rank (reference
    * select_representative_rows_per_requestno, process_capex.py:1006-1045):
    * priority 100/50/10, ≤5 rows per RequestNo; tie-break by rid (documented
    * delta from pandas' unstable sort, SURVEY.md §4).
    */
  def ranked(spark: SparkSession, dir: String): DataFrame =
    rankedOf(enriched(spark, dir))

  /** Representative-rank over any enriched frame. Every downstream window /
    * aggregate / join in this module leads its key with req_key
    * (= coalesce(trim(RequestNo), ''), the exact key_strict prefix): the
    * keys (key_strict, key_robust) each EMBED req_key, so the grouping is
    * unchanged, but the required distribution becomes satisfiable by a
    * req_key-clustered input — which is exactly what lets the
    * BucketedSink path below run the whole pipeline tail with zero
    * exchanges (HashPartitioning(req_key) satisfies any clustering that
    * lists req_key among its keys). req_key rather than raw RequestNo so
    * NULL/whitespace-padded RequestNo groups exactly like the embedded
    * key prefix — the oracle partitions on the same expression.
    */
  private[graft] def rankedOf(enr: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("req_key"))
      .orderBy(col("priority").desc, col("rid").asc)
    enr.filter(col("survives")).withColumn("rk", row_number().over(w))
  }

  /** Kept rows after representative down-selection, deduped by
    * (key_strict, amount) keeping min rid (the fail-open merge dedup,
    * process_capex.py:53, made unconditional + deterministic per SURVEY §4).
    */
  def kept(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "kept")(keptOf(enriched(spark, dir)))

  private[graft] def keptOf(enr: DataFrame): DataFrame = {
    // req_key leads the dedup key (key_strict starts with it — identical
    // groups, bucket-satisfiable distribution; see rankedOf)
    firstPerAmount(rankedOf(enr).filter(col("rk") <= 5))
  }

  /** Fail-open reinstatement (process_capex.py:12-56): raw rows whose robust
    * key survived the rules but lost every row to representative
    * down-selection — i.e. keys with no recorded exclusion reason that are
    * missing from the processed output. Distributed as aggregate+anti-join;
    * no EXCLUSION_REASONS dict.
    */
  def reinstated(spark: SparkSession, dir: String): DataFrame =
    reinstatedOf(enriched(spark, dir), kept(spark, dir))

  private[graft] def reinstatedOf(enr: DataFrame, keptDf: DataFrame): DataFrame = {
    // req_key rides along every key projection/join (it is the first field
    // of each key and never NULL, so equi-joins lose no rows — same
    // semantics, bucket-satisfiable; see rankedOf)
    val survivorKeys = enr.filter(col("survives"))
      .select(col("req_key"), col("key_robust")).distinct()
    val keptKeys = keptDf.select(col("req_key"), col("key_robust")).distinct()
    val failopenKeys = survivorKeys.join(keptKeys, Seq("req_key", "key_robust"), "left_anti")
    val keptPairs = keptDf
      .select(col("req_key"), col("key_strict"), col("AssetItemAmount")).distinct()
    firstPerAmount(enr.join(failopenKeys, Seq("req_key", "key_robust"), "left_semi")
      .join(keptPairs, Seq("req_key", "key_strict", "AssetItemAmount"), "left_anti"))
  }

  /** The lowest-rid row per (key_strict, amount) — the merge dedup both
    * kept and reinstated rows go through.
    */
  private def firstPerAmount(rows: DataFrame): DataFrame =
    topK(rows, Seq(col("req_key"), col("key_strict"), col("AssetItemAmount")),
      Seq(col("rid").asc), 1, "dup_rn").drop("dup_rn")

  private val pipelineCols: Seq[String] = Seq(
    "rid", "RequestNo", "AssetItemName", "VendorName", "CompositePrimaryKey",
    "CurrentStatus", "RequestFunction", "IsSelectedVendor", "ItemCategory",
    "AssetCategoryName", "AssetCategoryName_2", "UserRemarks", "Zone",
    "Region", "Category_Type", "AssetItemAmount", "RequestDate",
    "ReincludedViaFailOpen", "FailOpenNote")

  /** The flagship end-to-end pipeline (rules 1-19 + fail-open), one frame. */
  def pipeline(spark: SparkSession, dir: String): DataFrame =
    pipelineOf(enriched(spark, dir), kept(spark, dir))

  private[graft] def pipelineOf(enr: DataFrame, keptDf: DataFrame): DataFrame = {
    val keptOut = keptDf.select(
      col("rid"), col("RequestNo"), col("AssetItemName"), col("VendorName"),
      col("key_strict").as("CompositePrimaryKey"), col("CurrentStatus"),
      col("RequestFunction"), col("IsSelectedVendor"), col("ItemCategory"),
      col("acat_recode").as("AssetCategoryName"),
      col("acat_split").as("AssetCategoryName_2"),
      col("remarks_final").as("UserRemarks"), col("Zone"), col("Region"),
      col("category_type").as("Category_Type"), col("AssetItemAmount"),
      col("RequestDate"), lit(false).as("ReincludedViaFailOpen"),
      lit(null).cast("string").as("FailOpenNote"))
    val reinOut = reinstatedOf(enr, keptDf).select(
      col("rid"), col("RequestNo"), col("AssetItemName"), col("VendorName"),
      col("key_strict").as("CompositePrimaryKey"), col("CurrentStatus"),
      col("RequestFunction"), col("IsSelectedVendor"), col("ItemCategory"),
      col("AssetCategoryName"),
      col("acat_norm_raw").as("AssetCategoryName_2"),
      col("UserRemarks"), col("Zone"), col("Region"),
      lit(null).cast("string").as("Category_Type"), col("AssetItemAmount"),
      col("RequestDate"), lit(true).as("ReincludedViaFailOpen"),
      // besides the boolean, reinstated rows carry the reference's note
      // string (process_capex.py:36)
      lit(FailOpenNote).as("FailOpenNote"))
    keptOut.unionByName(reinOut).select(pipelineCols.map(col): _*)
  }

  /** Deterministic per-dataset table name for the bucketed enriched fact
    * (the EdgeCase battery runs every query over empty/null datasets — a
    * shared name would leak one dataset's fact into another's query). The
    * name folds in a CONTENT fingerprint of the input files (path + size +
    * mtime of every parquet under the tables the pipeline reads), so
    * rewriting a dataset in place invalidates the cached table instead of
    * silently serving the stale fact (the two flagship twins must never
    * disagree).
    */
  private def bucketedTableFor(dir: String): String = {
    val fp = graft.sources.BucketedSink.contentFingerprint(
      Seq("lineitem", "orders", "customer", "nation", "region")
        .map(t => s"$dir/$t.parquet"))
    "capex_enriched_b_" + graft.sources.BucketedSink.nameHash(s"$dir\n$fp")
  }

  /** SURVEY §5's "a production deployment would bucket the fact by
    * RequestNo to delete even those [exchanges]", made executable: the
    * enriched rule output is written ONCE as a req_key-bucketed,
    * bucket-sorted table (one full shuffle, paid at ingest), and the whole
    * pipeline tail — representative-row window, kept-dedup window, every
    * fail-open distinct/semi/anti join — then plans over the bucketed scan
    * with ZERO Exchange nodes (BucketingSpec asserts this), because every
    * downstream key leads with req_key (see rankedOf). The unbucketed
    * `capex_pipeline` keeps the enriched localCheckpoint cache instead;
    * same rows either way (the driver gate hash-checks both against one
    * oracle).
    */
  def pipelineBucketed(spark: SparkSession, dir: String): DataFrame = {
    val table = ensureBucketedEnriched(spark, dir)
    val enr = spark.table(table)
    pipelineOf(enr, keptOf(enr))
  }

  /** Write the bucketed enriched fact if this dataset's table is missing;
    * returns the table name. 32 buckets ≈ shuffle-partition sizing at this
    * scale (2-3× cores at cluster scale, one bucket per executor-memory
    * working set).
    */
  def ensureBucketedEnriched(spark: SparkSession, dir: String,
                             buckets: Int = 32): String =
    graft.sources.BucketedSink.ensureTable(spark, bucketedTableFor(dir)) {
      // the build's barriers are dead once the table is on disk
      graft.Checkpoints.scoped(graft.sources.BucketedSink.writeBucketed(
        buildEnriched(spark, dir), bucketedTableFor(dir), "req_key", buckets,
        sortCols = Seq("req_key")))
    }
}
