package graft.assemble

import graft.normalize.Normalize.spanText
import graft.score.ErRule
import graft.util.{Confs, Materialize}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity assembly: cluster assignments + per-doc features → resolved
  * entity report rows with the reference's output shape
  * (/root/reference/test/fixtures/flow-output.jsonl: RESOLVED_ENTITY
  * {ENTITY_ID, ENTITY_NAME, FEATURES, RECORD_SUMMARY, RECORDS} +
  * RELATED_ENTITIES).
  *
  * FEATURES reproduces Senzing's nesting: per feature type, VARIANT
  * GROUPS keyed by a normalized value (nickname-canonical name,
  * house+street, year+day-set DOB, phone suffix, …) and usage type;
  * each group carries a representative FEAT_DESC (earliest record's
  * raw value), a LIB_FEAT_ID, and FEAT_DESC_VALUES listing every raw
  * variant (fixture: NAME "Robert Smith" groups Robert/Robbie/
  * Bob J/Bob, flow-output.jsonl:1). RECORDS carry MATCH_KEY,
  * MATCH_LEVEL_CODE and a synthesized ERRULE_CODE; RELATED_ENTITIES
  * carry match key (with the reference's " (Ambiguous)" suffix),
  * ERRULE_CODE, IS_AMBIGUOUS / IS_DISCLOSED flags, and the related
  * entity's ENTITY_NAME + RECORD_SUMMARY.
  *
  * Original span sequences ride along inside RECORDS (sorted by
  * offset) so the per-row invariant — span-sequence equality of
  * (kind, text, media_ref, order) — is checkable on the final output.
  */
object Assemble {

  /** Per-doc feature entries: (ftype, desc, canon, usage) — raw
    * description from the spans, grouping key from the normalized
    * feature columns (the docs frame carries both). Reads the
    * offset-SORTED spans out of the export-shaped RECORD struct:
    * extraction is then independent of the array's physical order
    * (the span-sequence contract is offset order), and the assembly
    * checkpoint only has to carry ONE copy of the span data.
    */
  private def docFeatureEntries: Column = {
    val sp = col("record_struct.SPANS")
    def f(ftype: String, value: Column, canon: Column, usage: Column = lit(null)): Column =
      when(value.isNotNull, struct(lit(ftype).as("ftype"), value.as("desc"),
        coalesce(canon.cast("string"), lower(value)).as("canon"), usage.as("usage")))
    val addrRaw = coalesce(
      spanText(sp, "addr_full"),
      nullif(trim(concat_ws(" ",
        spanText(sp, "addr_line1"),
        spanText(sp, "addr_city"),
        spanText(sp, "addr_state"),
        spanText(sp, "addr_postal_code"))), lit("")))
    // a generation ordinal in the given-name field renders AFTER the
    // surname ("Morris I" + "Klein" → "Morris Klein I") and
    // parentheses are dropped — the reference's display forms
    val fm = nullif(concat_ws(" ",
      trim(spanText(sp, "primary_name_first")),
      trim(spanText(sp, "primary_name_middle"))), lit(""))
    val fmToks = split(fm, " +")
    val genToks = typedlit(Seq("i", "ii", "iii", "iv", "v", "jr", "sr"))
    val genTok = when(size(fmToks) >= 2 &&
      array_contains(genToks, lower(element_at(fmToks, -1))), element_at(fmToks, -1))
    val fmBase = when(genTok.isNotNull,
      array_join(slice(fmToks, lit(1), size(fmToks) - 1), " ")).otherwise(fm)
    val nameRaw = regexp_replace(coalesce(
      nullif(concat_ws(" ", fmBase,
        trim(spanText(sp, "primary_name_last")), genTok), lit("")),
      spanText(sp, "primary_name_full"),
      spanText(sp, "primary_name_org"),
      spanText(sp, "secondary_name_org"),
      spanText(sp, "native_name_full")), "[()]", "")
    // canon keys: variants that should share one feature group
    val nameCanon = concat_ws(" ",
      get(split(col("given_can"), " "), lit(0)), col("surname"))
    val dobCanon = concat_ws(":", col("dob.y"),
      least(col("dob.m"), col("dob.d")), greatest(col("dob.m"), col("dob.d")))
    val addrCanon = concat_ws(":", col("addr.house"), col("addr.street"))
    val nameUsage = when(spanText(sp, "primary_name_first").isNotNull ||
      spanText(sp, "primary_name_last").isNotNull ||
      spanText(sp, "primary_name_full").isNotNull, "PRIMARY")
    filter(array(
      f("NAME", nameRaw, nullif(nameCanon, lit("")), nameUsage),
      f("DOB", spanText(sp, "date_of_birth"), nullif(dobCanon, lit(""))),
      f("ADDRESS", addrRaw, nullif(addrCanon, lit("")),
        upper(trim(spanText(sp, "addr_type")))),
      f("PHONE", spanText(sp, "phone_number"), col("phone7"),
        upper(trim(spanText(sp, "phone_type")))),
      f("EMAIL", spanText(sp, "email_address"), col("email")),
      f("SSN", spanText(sp, "ssn_number"), col("ssn")),
      f("PASSPORT", spanText(sp, "passport_number"), col("passport")),
      f("DRLIC", spanText(sp, "drivers_license_number"), col("drlic")),
      f("NATIONAL_ID", spanText(sp, "national_id_number"), col("national_id")),
      f("GENDER", spanText(sp, "gender"), col("gender")),
      f("RECORD_TYPE", spanText(sp, "record_type"), upper(trim(spanText(sp, "record_type"))))
    ), e => e.isNotNull)
  }

  /** Match-key term order as the reference renders it (name term
    * first, PNAME last — flow-output.jsonl keys like
    * `+NAME+DOB+PHONE+EMAIL`, `+DOB+ADDRESS+EMAIL+PNAME`).
    */
  private val KeyMidOrder = Seq("DOB", "ADDRESS", "PHONE", "EMAIL", "SSN",
    "PASSPORT", "DRLIC", "NATIONAL_ID")

  /** Render a distinct-term array back into a canonical match key.
    * On +/- conflict across edges the + wins (the grown entity holds a
    * matching variant); +NAME subsumes partial-name terms. When
    * `seedName` is non-null the name slot is taken from the doc's edge
    * to its entity SEED instead of the union — the reference evaluates
    * an arriving record's name against the entity it joins, whose
    * display identity is the seed's (golden: "B Smith" joining Robert
    * Smith's entity renders +PNAME even though it initial-matches the
    * later "Bob Smith" record).
    */
  private def renderKeyUnion(terms: Column, seedName: Column): Column = {
    def has(t: String): Column = array_contains(terms, t)
    val nameTerm = when(seedName.isNotNull,
      when(seedName.isin("+NAME", "+SURNAME", "-NAME"), seedName).otherwise(""))
      .otherwise(when(has("+NAME"), "+NAME")
        .when(has("+SURNAME"), "+SURNAME")
        .when(!has("+PNAME") && has("-NAME"), "-NAME").otherwise(""))
    val mids = KeyMidOrder.map(f =>
      when(has(s"+$f"), s"+$f").when(has(s"-$f"), s"-$f").otherwise(""): Column)
    val pnameTerm = when(seedName.isNotNull,
      when(seedName === "+PNAME", "+PNAME").otherwise(""))
      .otherwise(when(!has("+NAME") && has("+PNAME"), "+PNAME").otherwise(""))
    val tail = Seq(
      when(has("-GENDER"), "-GENDER").otherwise(""),
      when(has("+GENERATION"), "+GENERATION")
        .when(has("-GENERATION"), "-GENERATION").otherwise(""),
      pnameTerm)
    concat((nameTerm +: mids) ++ tail: _*)
  }

  /** Per-doc MATCH_KEY with ingest-order emulation. In the reference a
    * record resolves INTO the growing entity, so its key reflects every
    * feature that matched the records already loaded — not one edge.
    * Docs arrive in doc_id order (pairs are canonical doc_a < doc_b):
    * a doc's key is the union of matched features over all its RESOLVED
    * edges to EARLIER docs. A doc with no earlier edge (it was merged
    * by later arrivals) keeps its best edge's key. The cluster seed
    * (min doc_id = entity_id) reports an empty MATCH_KEY like the
    * reference's first record of each entity.
    */
  /** Render a relationship (entity-vs-entity) match key: the name term
    * (from the cross-pair name rank), every agreeing feature in
    * canonical family order, then every denial — the reference's
    * relationship grammar (`+SURNAME+ADDRESS+EMAIL-DOB-SSN`,
    * `+PNAME+PHONE-DOB`: positives first, denials last, +PNAME leads
    * like any other name term here, unlike record keys).
    */
  private def renderRelKey(terms: Column, nrank: Column,
      emailEq: Column, phoneEq: Column, amb: Column): Column = {
    def has(t: String): Column = array_contains(terms, t)
    val nameTerm = when(nrank === 3, "+NAME").when(nrank === 2, "+PNAME")
      .when(nrank === 1, "+SURNAME").otherwise("")
    def agreed(f: String): Column = f match {
      case "EMAIL" => has("+EMAIL") || emailEq
      case "PHONE" => has("+PHONE") || phoneEq
      case _       => has(s"+$f")
    }
    val pos = KeyMidOrder.map(f => when(agreed(f), s"+$f").otherwise(""): Column)
    // ambiguous relationships render positives only (the golden
    // suppressed-merge bands carry no denial terms); -NAME never
    // renders in a relationship band
    val neg = (KeyMidOrder ++ Seq("GENDER", "GENERATION")).map(f =>
      when(!amb && has(s"-$f") && !agreed(f), s"-$f").otherwise(""): Column)
    concat(nameTerm +: (pos ++ neg): _*)
  }

  private def perDocMatchInfo(resolvedEdges: DataFrame,
      assignments: DataFrame): DataFrame = {
    val terms0 = filter(split(col("match_key"), "(?=[+-])"), t => t =!= "")
    // edge-level name-term adjustments (see Scoring's xk flag doc): a
    // truncation given adds +NAME; a mid-band given against a strong
    // surname adds +PNAME
    val termsEdge =
      when(col("xk_name_add"), concat(terms0, array(lit("+NAME"))))
        .when(col("xk_name_pname"), concat(terms0, array(lit("+PNAME"))))
        .otherwise(terms0)
    // the doc's edge to its entity SEED (entity_id = min member doc_id;
    // edges are canonical doc_a < doc_b, so the seed is always doc_a):
    // its name class overrides the union's name slot — see
    // renderKeyUnion
    val seedName = resolvedEdges
      .join(assignments.select(col("entity_id").as("doc_a"),
        col("doc_id").as("doc_b")), Seq("doc_a", "doc_b"), "left_semi")
      .filter(col("xk_name_cmp"))
      .select(col("doc_b").as("doc_id"),
        when(array_contains(termsEdge, "+NAME"), "+NAME")
          .when(array_contains(termsEdge, "+SURNAME"), "+SURNAME")
          .when(array_contains(termsEdge, "-NAME"), "-NAME")
          .when(array_contains(termsEdge, "+PNAME"), "+PNAME")
          .otherwise("").as("seed_name"),
        col("xk_name_lvl").as("name_lvl"),
        col("xk_ssn_short").as("ssn_short"),
        col("xk_nid_close").as("nid_close"))
    val unionKey = resolvedEdges
      .select(col("doc_b").as("doc_id"), termsEdge.as("terms"))
      .groupBy("doc_id")
      .agg(array_distinct(flatten(collect_list(col("terms")))).as("terms"))
      .join(seedName, Seq("doc_id"), "left")
      .select(col("doc_id"),
        renderKeyUnion(col("terms"), col("seed_name")).as("mk_union"),
        col("name_lvl"), coalesce(col("ssn_short"), lit(false)).as("ssn_short"),
        coalesce(col("nid_close"), lit(false)).as("nid_close"))
    val both = resolvedEdges
      .select(col("doc_a").as("doc_id"), col("score"), col("match_key"))
      .unionAll(resolvedEdges.select(col("doc_b").as("doc_id"), col("score"), col("match_key")))
    val best = both.groupBy("doc_id")
      .agg(max_by(col("match_key"), struct(col("score"), col("match_key"))).as("mk_best"))
    best.join(unionKey, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("mk_union"), col("mk_best")).as("match_key"),
        col("name_lvl"), coalesce(col("ssn_short"), lit(false)).as("ssn_short"),
        coalesce(col("nid_close"), lit(false)).as("nid_close"))
  }

  /** Assemble resolved entities.
    *
    * @param features Normalize.features output
    * @param docsWithSpans (doc_id, spans)
    * @param assignments (doc_id, entity_id)
    * @param edges scored edges as graft.score.Ambiguity emits them:
    *        Scoring's columns (`level`, `score`, `match_key` and the
    *        `xk_*` export-key flags) plus `is_ambiguous`
    * @param numberEntities dense ascending ENTITY_ID longs and dense
    *        LIB_FEAT_IDs (distributed range numbering); when false,
    *        ids are stable hashes/keys — no numbering pass at all.
    * @param ambiguousDocs (doc_id, conflict_desc) from Ambiguity —
    *        holders of the AMBIGUOUS_ENTITY feature.
    * @param relatedAssignments assignment frame used to resolve the
    *        OTHER endpoint of related-entity edges; defaults to
    *        `assignments`. Delta export passes the full assignment
    *        frame here while `assignments` is the affected subset, so
    *        relationships pointing at unaffected entities survive
    *        (their name/summary enrichment is null — BRIEF-style, like
    *        the reference's delta flags).
    */
  def entities(
      features: DataFrame,
      docsWithSpans: DataFrame,
      assignments: DataFrame,
      edges: DataFrame,
      numberEntities: Boolean = true,
      ambiguousDocs: Option[DataFrame] = None,
      relatedAssignments: Option[DataFrame] = None,
      /** Durable parquet snapshots for the two intra-assembly
        * materializations (docs, entries) — executor-loss survival;
        * localCheckpoint otherwise. NOTE: a parquet round-trip does
        * not preserve the hash(entity_id) outputPartitioning that the
        * in-memory path exploits, so the durable path re-shuffles the
        * downstream rollups — byte-identical output, slower
        * (FixtureResolveSpec pins the equality).
        */
      checkpointDir: Option[String] = None): DataFrame = {

    val resolved = edges.filter(col("level") === "RESOLVED")
    val matchInfo = perDocMatchInfo(resolved, assignments)

    // dense ENTITY_IDs (distributed range numbering off the narrow
    // assignment frame); needed early so RELATED_ENTITIES can carry the
    // other side's numeric id like the reference
    val entityIds =
      if (numberEntities)
        Some(denseIds(assignments.select(col("entity_id").as("entity_key")), "entity_key"))
      else None

    // the export-shaped RECORD struct is built HERE, in the single
    // checkpoint-write pass — the ERRULE case-when tree and the span
    // sort run once per doc at materialization instead of inside the
    // downstream aggregation's read, and consumers that don't touch
    // RECORDS (entries, the related-entities summary) prune the fat
    // struct column at the parquet/block scan
    val seedKey = coalesce(
      when(col("doc_id") === col("entity_id"), lit("")), col("match_key"), lit(""))
    val docs = features
      .join(docsWithSpans.select("doc_id", "spans"), "doc_id")
      .join(assignments, "doc_id")
      .join(matchInfo, Seq("doc_id"), "left")
      .withColumn("record_struct", struct(
        col("doc_id").as("DOC_ID"),
        col("data_source").as("DATA_SOURCE"),
        col("record_id").as("RECORD_ID"),
        seedKey.as("MATCH_KEY"),
        when(col("doc_id") === col("entity_id"), lit(""))
          .otherwise(lit("RESOLVED")).as("MATCH_LEVEL_CODE"),
        when(seedKey === "", lit(""))
          .otherwise(ErRule.code(seedKey, lit("RESOLVED"),
            col("name_lvl"), col("ssn_short"), col("nid_close"))).as("ERRULE_CODE"),
        array_sort(col("spans"),
          (l, r) => when(l.getField("offset") < r.getField("offset"), -1)
            .when(l.getField("offset") > r.getField("offset"), 1).otherwise(0))
          .as("SPANS")))
      // spans are the fattest bytes in this frame and the checkpoint
      // fans into 3 scans — carry the one sorted copy inside the
      // RECORD struct ONLY (raw order is recoverable from offsets;
      // nothing downstream reads it)
      .drop("spans")
      // lay the checkpoint out hash(entity_id) — every downstream
      // aggregation and join in this assembly keys on entity_id (or an
      // entity_id-prefixed tuple, which hash(entity_id) also satisfies)
      // and localCheckpoint preserves outputPartitioning, so RECORDS,
      // RECORD_SUMMARY and the final entity joins all run exchange-free
      // off this one shuffle. Explicit partition count: a user-numbered
      // repartition is exempt from AQE coalescing, so the downstream
      // aggs keep full width instead of whatever advisory size the
      // checkpoint bytes suggest
      .transform(d => d.repartition(
        d.sparkSession.sessionState.conf.numShufflePartitions, col("entity_id")))
      // AQE scoped OFF for the materialization only: localCheckpoint
      // captures the physical plan's outputPartitioning into the
      // LogicalRDD, and AdaptiveSparkPlanExec reports Unknown — with
      // AQE on, the hash(entity_id) layout would be invisible and every
      // downstream agg would re-shuffle (BASELINE.md, "Assembly exchange
      // elimination": 1 exchange with AQE on vs 0 off on the identical
      // query). The joins feeding this frame are uniform doc_id-keyed;
      // skipping AQE here costs nothing
      .transform(d => Confs.withConfs(d.sparkSession)(
        "spark.sql.adaptive.enabled" -> "false")(
        // fanned into 3 aggregations below
        Materialize(d, "asm_docs", checkpointDir).df))

    // ---- FEATURES: variant groups per (entity, ftype, canon, usage) ----
    val baseEntries = docs
      .select(col("entity_id"), col("doc_id"), explode(docFeatureEntries).as("fe"))
      .select(col("entity_id"), col("doc_id"), col("fe.ftype").as("ftype"),
        col("fe.desc").as("desc"), col("fe.canon").as("canon"), col("fe.usage").as("usage"))
    val ambEntries = ambiguousDocs.map(_.join(assignments, "doc_id")
      .select(col("entity_id"), col("doc_id"), lit("AMBIGUOUS_ENTITY").as("ftype"),
        col("conflict_desc").as("desc"), col("conflict_desc").as("canon"),
        lit(null).cast("string").as("usage")))
    // materialized: feeds three aggregations (FEATURES, ENTITY_NAME, lib
    // ids) — also sidesteps an AQE attribute-resolution bug when the
    // Generate(explode) branch is reused across them
    // the union with the (doc_id-partitioned) ambiguous branch drops the
    // hash(entity_id) layout inherited from the docs checkpoint — restore
    // it (only then: without the union baseEntries inherits it narrowly)
    // so the whole perDesc → groups → featMap → ENTITY_NAME rollup chain
    // (every grouping is entity_id-prefixed) aggregates without exchanges
    val entries = ambEntries.fold(baseEntries)(amb =>
        baseEntries.unionByName(amb).transform(d => d.repartition(
          d.sparkSession.sessionState.conf.numShufflePartitions, col("entity_id"))))
      // AQE off for the same partitioning-capture reason as assemble_docs
      .transform(d => Confs.withConfs(d.sparkSession)(
        "spark.sql.adaptive.enabled" -> "false")(
        Materialize(d, "asm_entries", checkpointDir).df))

    val perDesc = entries
      .groupBy("entity_id", "ftype", "canon", "usage", "desc")
      .agg(min("doc_id").as("first_doc"))
      .withColumn("lib_key", concat_ws("", col("ftype"), col("desc")))
    // LIB_FEAT_ID: dense corpus-level id per distinct (ftype, desc) in
    // numbered (report-parity) mode; stable hash otherwise
    val withLib =
      if (numberEntities)
        perDesc.join(
          denseIds(perDesc.select("lib_key"), "lib_key", outCol = "lib_id"), "lib_key")
      else perDesc.withColumn("lib_id", pmod(xxhash64(col("lib_key")), lit(Long.MaxValue)))

    // rep = FIRST element of the (first_doc, desc)-sorted variant list
    // (r6): the former min_by over the same ordering key computed an
    // identical value (within one group equal (first_doc, desc) implies
    // equal lib_id), but a struct-buffered min_by forces the whole
    // aggregation into SortAggregate — sort included; collect_list
    // alone stays ObjectHashAggregate, and the sorted list was being
    // built anyway.
    val groups = withLib
      .groupBy("entity_id", "ftype", "canon", "usage")
      .agg(array_sort(collect_list(
        struct(col("first_doc"), col("desc"), col("lib_id")))).as("sorted"))
      .select(col("entity_id"), col("ftype"), col("canon"), col("usage"),
        struct(get(col("sorted"), lit(0)).getField("desc").as("desc"),
          get(col("sorted"), lit(0)).getField("lib_id").as("lib_id")).as("rep"),
        transform(col("sorted"),
          v => struct(v.getField("desc").as("FEAT_DESC"),
            v.getField("lib_id").as("LIB_FEAT_ID"))).as("FEAT_DESC_VALUES"))
    val featMap = groups
      .groupBy("entity_id", "ftype")
      .agg(array_sort(collect_list(struct(
        col("rep.desc").as("FEAT_DESC"),
        col("rep.lib_id").as("LIB_FEAT_ID"),
        col("usage").as("USAGE_TYPE"),
        col("FEAT_DESC_VALUES")))).as("arr"))
      .groupBy("entity_id")
      .agg(map_from_entries(array_sort(collect_list(struct(col("ftype"), col("arr")))))
        .as("FEATURES"))

    // ---- ENTITY_NAME: approximation of Senzing's display-name pick,
    // calibrated on the fixture: most frequent exact normalized name,
    // then longest alphabetic form, then least punctuation, then the
    // latest record's value. The 3 residual misses (Daniella Shaw /
    // Anna Maria Aguilar / Mark Miller) want the EARLIEST record, but
    // 5 other ties (Robbie Smith / Magdalena Jones / Morrie Klempsky /
    // George Weest / Candace Kellar) want the LATEST, and no observable
    // feature separates the groups (golden picks the less-generic
    // surname in one tie and the more-common given-name spelling in
    // another) — the pick is GNR-internal; latest is the best simple
    // fit at 71/74. ----
    // two chained aggregations, NOT candidates⋈freq + one aggregation:
    // within one nnorm group freq is constant, so the global
    // lexicographic max over (freq, alpha-len, -punct, doc_id) equals
    // the max over per-group maxes of (alpha-len, -punct, doc_id) —
    // same pick, one fewer scan, and (unlike the join, which demands
    // all-key co-partitioning) both groupBys are entity_id-prefixed so
    // they run exchange-free off the entries checkpoint's layout
    val nameCand = entries.filter(col("ftype") === "NAME")
      .withColumn("nnorm", regexp_replace(lower(col("desc")), "[^a-z ]", ""))
    val nameAlpha = length(regexp_replace(lower(col("desc")), "[^a-z]", ""))
    val namePunct = -length(regexp_replace(col("desc"), "[a-zA-Z ]", ""))
    val perNorm = nameCand.groupBy("entity_id", "nnorm").agg(
      count(lit(1)).as("freq"),
      max_by(
        struct(nameAlpha.as("alen"), namePunct.as("npunct"),
          col("doc_id").as("doc_id"), col("desc").as("desc")),
        struct(nameAlpha, namePunct, col("doc_id"))).as("best"))
    val entityName = perNorm
      .groupBy("entity_id")
      .agg(max_by(col("best.desc"), struct(
        col("freq"), col("best.alen"), col("best.npunct"), col("best.doc_id")))
        .as("ENTITY_NAME"))

    // ---- RECORDS + RECORD_SUMMARY ----
    // one aggregation over the pre-built structs; RECORD_SUMMARY is a
    // PROJECTION of the collected RECORDS (per-entity arrays are small
    // — group sizes are bounded by the blocking caps), replacing the
    // former second groupBy + join on the base path: one fewer
    // shuffle, one fewer scan of the fat docs checkpoint
    val recordsAgg = docs.groupBy("entity_id").agg(
      array_sort(collect_list(col("record_struct"))).as("RECORDS"),
      count(lit(1)).as("RECORD_COUNT"))
    def summaryOfRecords(records: Column): Column =
      array_sort(transform(
        array_distinct(transform(records, r => r.getField("DATA_SOURCE"))),
        ds => struct(
          ds.as("DATA_SOURCE"),
          size(filter(records, r => r.getField("DATA_SOURCE") === ds))
            .cast("long").as("RECORD_COUNT"))))
    val recordsWithSummary = recordsAgg
      .withColumn("RECORD_SUMMARY", summaryOfRecords(col("RECORDS")))

    // narrow twin of RECORD_SUMMARY for the related-entities
    // enrichment join (otherCore): aggregated from two pruned columns
    // of the checkpoint rather than re-running the fat RECORDS
    // aggregation a second time
    val summary = docs.groupBy("entity_id", "data_source")
      .agg(count(lit(1)).as("RECORD_COUNT"))
      .groupBy("entity_id")
      .agg(array_sort(collect_list(struct(
        col("data_source").as("DATA_SOURCE"),
        col("RECORD_COUNT")))).as("RECORD_SUMMARY"))

    // ---- RELATED_ENTITIES: entity-vs-entity relationship bands.
    // The reference compares the two entities' accumulated feature
    // sets, so the relationship key is the UNION of agreements across
    // every cross-entity edge (a + anywhere wins over a − elsewhere;
    // generic-value suppression applies to scoring, not to the key —
    // a household-shared email still renders +EMAIL), positives first
    // then denials, with the name class from the best cross pair; the
    // level is POSSIBLY_SAME exactly when full name support (+NAME)
    // exists, POSSIBLY_RELATED otherwise. ----
    val nonResolved = edges.filter(col("level") =!= "RESOLVED")
    val relAssign = relatedAssignments.getOrElse(assignments)
    val aAssign = relAssign
      .select(col("doc_id").as("doc_a"), col("entity_id").as("entity_a"))
    val bAssign = relAssign
      .select(col("doc_id").as("doc_b"), col("entity_id").as("entity_b"))
    val relTerms = filter(split(col("match_key"), "(?=[+-])"), t => t =!= "")
    val nameRank = when(col("xk_rel_name") === "NAME", 3)
      .when(col("xk_rel_name") === "PNAME", 2)
      .when(col("xk_rel_name") === "SURNAME", 1).otherwise(0)
    val crossEdges = nonResolved
      .join(aAssign, "doc_a").join(bAssign, "doc_b")
      .filter(col("entity_a") =!= col("entity_b"))
      // canonicalize the ENTITY pair: both edge orientations (a doc of
      // A below a doc of B and vice versa) contribute to ONE band
      .select(
        least(col("entity_a"), col("entity_b")).as("entity_a"),
        greatest(col("entity_a"), col("entity_b")).as("entity_b"),
        relTerms.as("terms"), nameRank.as("nrank"),
        col("xk_email_eq"), col("xk_phone_eq"), col("is_ambiguous"))
      .groupBy("entity_a", "entity_b")
      .agg(
        array_distinct(flatten(collect_list(col("terms")))).as("terms"),
        max(col("nrank")).as("nrank"),
        max(col("xk_email_eq")).as("email_eq"),
        max(col("xk_phone_eq")).as("phone_eq"),
        max(col("is_ambiguous")).as("amb"))
      .select(col("entity_a"), col("entity_b"),
        renderRelKey(col("terms"), col("nrank"), col("email_eq"), col("phone_eq"),
          col("amb")).as("match_key"),
        when(col("nrank") === 3, "POSSIBLY_SAME").otherwise("POSSIBLY_RELATED")
          .as("level"),
        col("amb"))
    // both orientations from ONE pass over crossEdges: a unionAll of two
    // selects re-executes the whole (edges ⋈ assignments ⋈ assignments →
    // groupBy) subtree twice; exploding a 2-element array is narrow
    val relatedBoth = crossEdges
      .select(explode(array(
        struct(col("entity_a").as("entity_id"), col("entity_b").as("other"),
          col("match_key"), col("level"), col("amb")),
        struct(col("entity_b").as("entity_id"), col("entity_a").as("other"),
          col("match_key"), col("level"), col("amb")))).as("r"))
      .select(col("r.entity_id").as("entity_id"), col("r.other").as("other"),
        col("r.match_key").as("match_key"), col("r.level").as("level"),
        col("r.amb").as("amb"))
    // SHUFFLE_HASH hints: same sort-skipping rationale as the final
    // entity joins below — these narrow maps hash-build cheaply
    val otherCore = entityName
      .join(summary.hint("SHUFFLE_HASH"), Seq("entity_id"), "left")
      .join(entityIds.fold(
        entityName.select(col("entity_id"),
          pmod(xxhash64(col("entity_id")), lit(Long.MaxValue)).as("other_eid")))(ids =>
        ids.select(col("entity_key").as("entity_id"), col("ENTITY_ID").as("other_eid")))
        .hint("SHUFFLE_HASH"),
        Seq("entity_id"), "left")
      .select(col("entity_id").as("other"), col("other_eid"),
        col("ENTITY_NAME").as("other_name"),
        col("RECORD_SUMMARY").as("other_summary"))
    val related = relatedBoth
      .join(otherCore.hint("SHUFFLE_HASH"), Seq("other"), "left")
      .groupBy("entity_id")
      .agg(array_sort(collect_list(struct(
        col("other").as("RELATED_ENTITY_KEY"),
        col("other_eid").as("ENTITY_ID"),
        col("level").as("MATCH_LEVEL_CODE"),
        concat(col("match_key"), when(col("amb"), " (Ambiguous)").otherwise(""))
          .as("MATCH_KEY"),
        ErRule.code(col("match_key"), col("level")).as("ERRULE_CODE"),
        when(col("amb"), 1).otherwise(0).as("IS_AMBIGUOUS"),
        lit(0).as("IS_DISCLOSED"),
        col("other_name").as("ENTITY_NAME"),
        col("other_summary").as("RECORD_SUMMARY")))).as("RELATED_ENTITIES"))

    // SHUFFLE_HASH hints (r6): all four frames share the
    // hash(entity_id) layout, so these joins are already exchange-free
    // — but as sort-merge joins each one SORTED its inputs by the
    // 19-char entity key, including the fat collected-RECORDS side
    // (the dominant time in the final query's per-operator SQL
    // metrics, OPTIMIZATION_r06.md "Assembly"). A shuffled-hash join
    // builds the narrow aggregate side and streams the fat side
    // unsorted; join results are strategy-invariant.
    val base = recordsWithSummary
      .join(entityName.hint("SHUFFLE_HASH"), Seq("entity_id"), "left")
      .join(featMap.hint("SHUFFLE_HASH"), Seq("entity_id"), "left")
      .join(related.hint("SHUFFLE_HASH"), Seq("entity_id"), "left")
      .withColumn("RELATED_ENTITIES", coalesce(col("RELATED_ENTITIES"),
        array().cast(
          "array<struct<RELATED_ENTITY_KEY:string,ENTITY_ID:bigint," +
            "MATCH_LEVEL_CODE:string," +
            "MATCH_KEY:string,ERRULE_CODE:string,IS_AMBIGUOUS:int,IS_DISCLOSED:int," +
            "ENTITY_NAME:string," +
            "RECORD_SUMMARY:array<struct<DATA_SOURCE:string,RECORD_COUNT:bigint>>>>")))

    // `entity_key` stays the canonical (string, min-doc-id) id; ENTITY_ID
    // is the reference-parity dense ascending long. Numbering is fully
    // distributed (no single-partition window): range-partition the key
    // set, row_number within each range, add per-partition offsets.
    // In the unnumbered (delta-export) path the top-level ENTITY_ID uses
    // the SAME hash id that RELATED_ENTITIES.ENTITY_ID carries (see
    // otherCore above), so relationship ids cross-reference within one
    // export; entity_key remains the stable string id. pmod (not abs):
    // abs(Long.MinValue) is still negative in Java semantics. Collision
    // stance: a 64-bit-hash collision between two entity_keys in one
    // export would alias their cross-references — accepted (p < 1e-9
    // below ~10^5 entities per delta export); entity_key is the
    // collision-free stable id and numbered mode has no hash at all.
    val keyed = base.withColumnRenamed("entity_id", "entity_key")
    entityIds.fold(
      keyed.withColumn("ENTITY_ID", pmod(xxhash64(col("entity_key")), lit(Long.MaxValue))))(ids =>
      keyed.join(ids, "entity_key"))
  }

  /** Dense ascending 1-based long ids over the distinct values of
    * `keyCol`, without funnelling the data through one partition:
    * range-repartition on the key, row_number per partition (ranges are
    * disjoint and ordered), then add the cumulative partition offsets —
    * the only driver-side state is one count per partition. Equivalent
    * to `dense_rank().over(Window.orderBy(keyCol))` on distinct keys.
    */
  def denseIds(keys: DataFrame, keyCol: String, partitions: Int = 0,
      outCol: String = "ENTITY_ID"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // partitions scale with the session's shuffle parallelism (cluster
    // deployments set spark.sql.shuffle.partitions to 1000s; a fixed 64
    // would mean 64 single-task range sorts at 10^9 entities).
    val nPart = if (partitions > 0) partitions
      else math.max(64, keys.sparkSession.sessionState.conf.numShufflePartitions)
    val ranged = keys.select(keyCol).distinct()
      .repartitionByRange(nPart, col(keyCol))
      .withColumn("_pid", spark_partition_id())
      .transform(Materialize(_, "dense_ids", None).df) // pin the (sampled) range boundaries
    val counts = ranged.groupBy("_pid").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until nPart).scanLeft(0L) {
      case (acc, pid) => acc + counts.getOrElse(pid, 0L)
    }
    val offMap = typedlit((0 until nPart).map(p => p -> offsets(p)).toMap)
    val w = Window.partitionBy("_pid").orderBy(col(keyCol))
    ranged.withColumn(outCol,
        row_number().over(w).cast("long") + element_at(offMap, col("_pid")))
      .drop("_pid")
  }

  /** Render entities to the reference's JSONL export shape, ordered by
    * ENTITY_ID (the fixture's ids ascend; a range-sorted export makes
    * re-export bytes reproducible run-to-run — the sort is one range
    * shuffle over already-assembled rows, cheap relative to assembly).
    */
  def toExportJson(entities: DataFrame): DataFrame =
    entities.orderBy("ENTITY_ID").select(to_json(struct(
      struct(
        col("ENTITY_ID"),
        col("ENTITY_NAME"),
        col("FEATURES"),
        col("RECORD_SUMMARY"),
        col("RECORDS")).as("RESOLVED_ENTITY"),
      col("RELATED_ENTITIES"))).as("value"))
}
