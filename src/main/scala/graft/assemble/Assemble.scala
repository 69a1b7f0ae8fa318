package graft.assemble

import graft.normalize.Normalize.spanText
import graft.score.ErRule
import graft.util.{Confs, Materialize}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
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
    * feature columns (the docs frame carries both), plus the
    * AMBIGUOUS_ENTITY entry of a doc with a `conflict_desc`. Reads the
    * offset-SORTED spans `sp` that RECORDS carries: extraction is then
    * independent of the array's physical order (the span-sequence
    * contract is offset order).
    */
  private def docFeatureEntries(sp: Column): Column = {
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
      f("RECORD_TYPE", spanText(sp, "record_type"), upper(trim(spanText(sp, "record_type")))),
      f("AMBIGUOUS_ENTITY", col("conflict_desc"), col("conflict_desc"))
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

  /** Per-doc MATCH_KEY inputs with ingest-order emulation. In the
    * reference a record resolves INTO the growing entity, so its key
    * reflects every feature that matched the records already loaded —
    * not one edge. Docs arrive in doc_id order (pairs are canonical
    * doc_a < doc_b): a doc's key is the union of matched features over
    * all its RESOLVED edges to EARLIER docs. A doc with no earlier edge
    * (it was merged by later arrivals) keeps its best edge's key. The
    * cluster seed (min doc_id = entity_id) reports an empty MATCH_KEY
    * like the reference's first record of each entity.
    *
    * One aggregation over both endpoints of every RESOLVED edge: per
    * doc the best edge key (`mk_best`), the union of its later-endpoint
    * terms (`terms`, `n_later` edges) and, per earlier neighbour, the
    * name class of that edge (`seeds`) — the docs projection picks the
    * one whose neighbour is the doc's entity seed ([[matchKeyColumns]]).
    */
  private def perDocMatchInfo(resolvedEdges: DataFrame): DataFrame = {
    val terms0 = filter(split(col("match_key"), "(?=[+-])"), t => t =!= "")
    // edge-level name-term adjustments (see Scoring's xk flag doc): a
    // truncation given adds +NAME; a mid-band given against a strong
    // surname adds +PNAME
    val termsEdge =
      when(col("xk_name_add"), concat(terms0, array(lit("+NAME"))))
        .when(col("xk_name_pname"), concat(terms0, array(lit("+PNAME"))))
        .otherwise(terms0)
    val seedName = when(array_contains(termsEdge, "+NAME"), "+NAME")
      .when(array_contains(termsEdge, "+SURNAME"), "+SURNAME")
      .when(array_contains(termsEdge, "-NAME"), "-NAME")
      .when(array_contains(termsEdge, "+PNAME"), "+PNAME")
      .otherwise("")
    val later = col("pos") === 1
    resolvedEdges
      .select(col("doc_a"), col("doc_b"),
        struct(col("score"), col("match_key")).as("best"),
        termsEdge.as("terms"),
        when(col("xk_name_cmp"), struct(col("doc_a").as("other"),
          seedName.as("seed_name"), col("xk_name_lvl").as("name_lvl"),
          col("xk_ssn_short").as("ssn_short"), col("xk_nid_close").as("nid_close")))
          .as("seed"))
      .select(posexplode(array(col("doc_a"), col("doc_b"))).as(Seq("pos", "doc_id")),
        col("best"), col("terms"), col("seed"))
      .groupBy("doc_id")
      .agg(max(col("best")).getField("match_key").as("mk_best"),
        array_distinct(flatten(collect_list(when(later, col("terms"))))).as("terms"),
        count(when(later, 1)).as("n_later"),
        collect_list(when(later, col("seed"))).as("seeds"))
  }

  /** MATCH_KEY and the ERRULE inputs of a doc joined to its
    * [[perDocMatchInfo]] row and its `entity_id`. The seed edge (to
    * entity_id = min member doc_id; edges are canonical, so the seed is
    * always doc_a) overrides the union's name slot — see
    * renderKeyUnion.
    */
  private def matchKeyColumns(docs: DataFrame): DataFrame =
    docs
      .withColumn("seed", get(filter(col("seeds"),
        s => s.getField("other") === col("entity_id")), lit(0)))
      .withColumn("match_key", coalesce(
        when(col("n_later") > 0,
          renderKeyUnion(col("terms"), col("seed").getField("seed_name"))),
        col("mk_best")))
      .withColumn("name_lvl", col("seed").getField("name_lvl"))
      .withColumn("ssn_short", coalesce(col("seed").getField("ssn_short"), lit(false)))
      .withColumn("nid_close", coalesce(col("seed").getField("nid_close"), lit(false)))

  /** `body(v)` with `v` evaluated once: a lambda binding. Inside a
    * lambda, Catalyst re-evaluates a non-attribute argument at every
    * use, once per array element.
    */
  private def let(v: Column)(body: Column => Column): Column =
    get(transform(array(v), body), lit(0))

  /** Contiguous runs of equal `key` in the sorted array `arr`, as an
    * array of slices in order — a groupBy inside one row, linear after
    * the sort. Null keys compare equal, as in groupBy.
    */
  private def runs(arr: Column, key: Column => Column): Column = let(arr) { a =>
    val n = size(a)
    val indices = when(n > 0, sequence(lit(0), n - 1)).otherwise(array().cast("array<int>"))
    let(filter(indices, i => i === 0 || !(key(get(a, i)) <=> key(get(a, i - 1))))) { starts =>
      transform(starts, (s, j) => slice(a, s + 1, coalesce(get(starts, j + 1), n) - s))
    }
  }

  /** FEATURES from an entity's feature entries (ftype, canon, usage,
    * desc, doc_id, lib_id): one description per (ftype, canon, usage,
    * desc) with the earliest doc carrying it, variant groups per
    * (ftype, canon, usage) whose representative is the FIRST of the
    * (first_doc, desc) ordered variants, grouped per ftype into a map.
    * Null when the entity has no feature.
    */
  private def featuresOf(entries: Column): Column = {
    val perDesc = transform(runs(array_sort(entries), e => struct(e.getField("ftype"),
        e.getField("canon"), e.getField("usage"), e.getField("desc"))),
      r => let(get(r, lit(0)))(e => struct(e.getField("ftype").as("ftype"),
        e.getField("canon").as("canon"), e.getField("usage").as("usage"),
        e.getField("doc_id").as("first_doc"), e.getField("desc").as("desc"),
        e.getField("lib_id").as("lib_id"))))
    val groups = runs(array_sort(perDesc),
      d => struct(d.getField("ftype"), d.getField("canon"), d.getField("usage")))
    val byType = runs(transform(groups, g => let(get(g, lit(0))) { rep =>
      struct(rep.getField("ftype").as("ftype"), struct(
        rep.getField("desc").as("FEAT_DESC"),
        rep.getField("lib_id").as("LIB_FEAT_ID"),
        rep.getField("usage").as("USAGE_TYPE"),
        transform(g, v => struct(v.getField("desc").as("FEAT_DESC"),
          v.getField("lib_id").as("LIB_FEAT_ID"))).as("FEAT_DESC_VALUES")).as("feat"))
    }), _.getField("ftype"))
    when(size(entries) > 0, map_from_entries(transform(byType, t => struct(
      get(t, lit(0)).getField("ftype").as("ftype"),
      array_sort(transform(t, _.getField("feat"))).as("arr")))))
  }

  /** Per-doc display-name candidate for [[entityNameOf]]: the doc's
    * NAME entry with its normalized form and tie-break keys.
    */
  private def nameCandidate(fe: Column): Column =
    let(get(filter(fe, e => e.getField("ftype") === "NAME"), lit(0)).getField("desc")) { desc =>
      when(desc.isNotNull, struct(
        regexp_replace(lower(desc), "[^a-z ]", "").as("nnorm"),
        length(regexp_replace(lower(desc), "[^a-z]", "")).as("alen"),
        (-length(regexp_replace(desc, "[a-zA-Z ]", ""))).as("npunct"),
        col("doc_id").as("doc_id"),
        desc.as("desc")))
    }

  /** ENTITY_NAME: approximation of Senzing's display-name pick,
    * calibrated on the fixture: most frequent exact normalized name,
    * then longest alphabetic form, then least punctuation, then the
    * latest record's value. The 3 residual misses (Daniella Shaw /
    * Anna Maria Aguilar / Mark Miller) want the EARLIEST record, but 5
    * other ties (Robbie Smith / Magdalena Jones / Morrie Klempsky /
    * George Weest / Candace Kellar) want the LATEST, and no observable
    * feature separates the groups (golden picks the less-generic
    * surname in one tie and the more-common given-name spelling in
    * another) — the pick is GNR-internal; latest is the best simple
    * fit at 71/74. The max over (run size, alen, npunct, doc_id) of the
    * runs of equal normalized names; doc_id is unique per candidate,
    * so there are no ties. Null without candidates.
    */
  private def entityNameOf(candidates: Column): Column =
    when(size(candidates) > 0, array_max(transform(
      runs(array_sort(candidates), _.getField("nnorm")),
      r => struct(size(r).as("freq"), array_max(transform(r, c => struct(
        c.getField("alen"), c.getField("npunct"), c.getField("doc_id"),
        c.getField("desc").as("desc")))).as("best"))))
      .getField("best").getField("desc"))

  /** RECORD_SUMMARY of an entity's collected RECORDS: records per
    * DATA_SOURCE, in DATA_SOURCE order.
    */
  private def summaryOfRecords(records: Column): Column =
    array_sort(transform(
      array_distinct(transform(records, r => r.getField("DATA_SOURCE"))),
      ds => struct(
        ds.as("DATA_SOURCE"),
        size(filter(records, r => r.getField("DATA_SOURCE") === ds))
          .cast("long").as("RECORD_COUNT"))))

  /** The RECORD_SUMMARY that RELATED_ENTITIES carry, from the entity's
    * collected `struct(ds)` rows: a null DATA_SOURCE is counted as its
    * own source here (groupBy semantics).
    */
  private def sourceCounts(sources: Column): Column =
    array_sort(transform(runs(array_sort(sources), _.getField("ds")),
      r => struct(get(r, lit(0)).getField("ds").as("DATA_SOURCE"),
        size(r).cast("long").as("RECORD_COUNT"))))

  /** RELATED_ENTITIES from an entity's cross-entity edges (other,
    * other_eid, other_name, other_summary, terms, nrank, email_eq,
    * phone_eq, amb): one band per other entity. The reference compares
    * the two entities' accumulated feature sets, so a band's key is
    * the UNION of agreements across its edges (a + anywhere wins over a
    * − elsewhere; generic-value suppression applies to scoring, not to
    * the key — a household-shared email still renders +EMAIL),
    * positives first then denials, with the name class from the best
    * edge; the level is POSSIBLY_SAME exactly when full name support
    * (+NAME) exists, POSSIBLY_RELATED otherwise.
    */
  private def relatedOf(edges: Column): Column =
    array_sort(transform(runs(array_sort(edges), _.getField("other")), band =>
      let(struct(
        get(band, lit(0)).as("first"),
        array_distinct(flatten(transform(band, _.getField("terms")))).as("terms"),
        array_max(transform(band, _.getField("nrank"))).as("nrank"),
        array_max(transform(band, _.getField("email_eq"))).as("email_eq"),
        array_max(transform(band, _.getField("phone_eq"))).as("phone_eq"),
        array_max(transform(band, _.getField("amb"))).as("amb"))) { b =>
        val amb = b.getField("amb")
        let(struct(
          renderRelKey(b.getField("terms"), b.getField("nrank"), b.getField("email_eq"),
            b.getField("phone_eq"), amb).as("key"),
          when(b.getField("nrank") === 3, "POSSIBLY_SAME").otherwise("POSSIBLY_RELATED")
            .as("level"))) { k =>
          val first = b.getField("first")
          struct(
            first.getField("other").as("RELATED_ENTITY_KEY"),
            first.getField("other_eid").as("ENTITY_ID"),
            k.getField("level").as("MATCH_LEVEL_CODE"),
            concat(k.getField("key"), when(amb, " (Ambiguous)").otherwise("")).as("MATCH_KEY"),
            ErRule.code(k.getField("key"), k.getField("level")).as("ERRULE_CODE"),
            when(amb, 1).otherwise(0).as("IS_AMBIGUOUS"),
            lit(0).as("IS_DISCLOSED"),
            first.getField("other_name").as("ENTITY_NAME"),
            first.getField("other_summary").as("RECORD_SUMMARY"))
        }
      }))

  private def hashId(key: Column): Column = pmod(xxhash64(key), lit(Long.MaxValue))

  /** Assemble resolved entities.
    *
    * Eager passes, then one lazy report query:
    *  - `dense_ids` (numbered mode): the assignments with dense
    *    ENTITY_IDs;
    *  - `asm_docs`: one row per doc — its ENTITY_ID, the export-shaped
    *    RECORD struct, its feature entries and display-name candidate;
    *  - `dense_ids` (numbered mode): the feature entries with dense
    *    corpus-level LIB_FEAT_IDs over their distinct (ftype, desc);
    *  - the returned frame: the report's input rows — records, feature
    *    entries, cross-entity edges — range-partitioned by ENTITY_ID in
    *    one exchange, then ONE aggregation per entity whose arrays are
    *    shaped into RECORDS, FEATURES, ENTITY_NAME and RELATED_ENTITIES
    *    by projections. The aggregation and [[toExportJson]]'s ENTITY_ID
    *    sort reuse the range layout: no further exchange.
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
    * @param ambiguousDocs (doc_id, conflict_desc) from Ambiguity, one
    *        row per doc — holders of the AMBIGUOUS_ENTITY feature.
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
      /** Durable parquet snapshot for the `asm_docs` materialization
        * — executor-loss survival; localCheckpoint otherwise
        * (MaterializeSpec pins that both give the same export).
        */
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = features.sparkSession
    // `entity_key` stays the canonical (string, min-doc-id) id; ENTITY_ID
    // (`eid` until the report) is the reference-parity dense ascending
    // long. In the unnumbered (delta-export) path it is a stable hash,
    // the SAME id RELATED_ENTITIES.ENTITY_ID carries, so relationship
    // ids cross-reference within one export. pmod (not abs):
    // abs(Long.MinValue) is still negative in Java semantics. Collision
    // stance: a 64-bit-hash collision between two entity_keys in one
    // export would alias their cross-references — accepted (p < 1e-9
    // below ~10^5 entities per delta export); the report groups by
    // (ENTITY_ID, entity_key), so colliding entities stay separate.
    def hashEid(df: DataFrame): DataFrame = df.withColumn("eid", hashId(col("entity_id")))
    val assignE =
      if (numberEntities) withDenseIds(assignments, "entity_id", "eid") else hashEid(assignments)

    // ---- asm_docs: the export-shaped RECORD struct is built HERE, in
    // the single checkpoint-write pass — the ERRULE case-when tree and
    // the span sort run once per doc — next to the doc's feature
    // entries (the AMBIGUOUS_ENTITY entry included), so nothing
    // downstream re-reads the spans or the normalized columns ----
    val matched = matchKeyColumns(features
      .join(docsWithSpans.select("doc_id", "spans"), "doc_id")
      .join(assignE, "doc_id")
      .join(perDocMatchInfo(edges.filter(col("level") === "RESOLVED")).hint("SHUFFLE_HASH"),
        Seq("doc_id"), "left"))
    val withAmb = ambiguousDocs.fold(matched.withColumn("conflict_desc", lit(null).cast("string")))(
      amb => matched.join(amb.select("doc_id", "conflict_desc").hint("SHUFFLE_HASH"),
        Seq("doc_id"), "left"))
    val seedKey = coalesce(
      when(col("doc_id") === col("entity_id"), lit("")), col("match_key"), lit(""))
    val docs = materialize(withAmb
      .withColumn("sspans", array_sort(col("spans"),
        (l, r) => when(l.getField("offset") < r.getField("offset"), -1)
          .when(l.getField("offset") > r.getField("offset"), 1).otherwise(0)))
      .withColumn("fe", docFeatureEntries(col("sspans")))
      .select(col("eid"), col("entity_id"), col("doc_id"), col("data_source"),
        struct(
          col("doc_id").as("DOC_ID"),
          col("data_source").as("DATA_SOURCE"),
          col("record_id").as("RECORD_ID"),
          seedKey.as("MATCH_KEY"),
          when(col("doc_id") === col("entity_id"), lit(""))
            .otherwise(lit("RESOLVED")).as("MATCH_LEVEL_CODE"),
          when(seedKey === "", lit(""))
            .otherwise(ErRule.code(seedKey, lit("RESOLVED"),
              col("name_lvl"), col("ssn_short"), col("nid_close"))).as("ERRULE_CODE"),
          col("sspans").as("SPANS")).as("record_struct"),
        col("fe"), nameCandidate(col("fe")).as("name")), "asm_docs", checkpointDir)

    // ---- feature entries with LIB_FEAT_ID: dense over the corpus's
    // distinct (ftype, desc) keys in numbered (report-parity) mode, a
    // stable hash otherwise. U+0001 separates the two parts, so no
    // (ftype, desc) pair can spell another's key ----
    val entries = docs
      .select(col("eid"), col("entity_id"), col("doc_id"), explode(col("fe")).as("e"))
      .select(col("eid"), col("entity_id"), col("doc_id"), col("e.*"))
      .withColumn("lib_key", concat_ws("\u0001", col("ftype"), col("desc")))
    val withLib = if (numberEntities) withDenseIds(entries, "lib_key", "lib_id")
      else entries.withColumn("lib_id", hashId(col("lib_key")))

    // ---- RELATED_ENTITIES rows: the non-RESOLVED edges between two
    // entities, with the other entity's id and enrichment ----
    val relAssign = relatedAssignments.fold(assignE)(all =>
      if (numberEntities)
        all.join(assignE.select("entity_id", "eid").distinct(), Seq("entity_id"), "left")
      else hashEid(all))
    def endpoint(side: String): DataFrame = relAssign.select(col("doc_id").as(s"doc_$side"),
      col("entity_id").as(s"entity_$side"), col("eid").as(s"eid_$side")).hint("SHUFFLE_HASH")
    val crossEdges = edges.filter(col("level") =!= "RESOLVED")
      .join(endpoint("a"), "doc_a").join(endpoint("b"), "doc_b")
      .filter(col("entity_a") =!= col("entity_b"))
      .withColumn("terms", filter(split(col("match_key"), "(?=[+-])"), t => t =!= ""))
      .withColumn("nrank", when(col("xk_rel_name") === "NAME", 3)
        .when(col("xk_rel_name") === "PNAME", 2)
        .when(col("xk_rel_name") === "SURNAME", 1).otherwise(0))
    // every cross edge seen from both of its entities; the report folds
    // an entity's edges into one band per other entity (relatedOf)
    def seenFrom(self: String, other: String): Column = struct(
      col(s"entity_$self").as("entity_id"), col(s"eid_$self").as("eid"),
      col(s"entity_$other").as("other"), col("terms"), col("nrank"),
      col("xk_email_eq").as("email_eq"), col("xk_phone_eq").as("phone_eq"),
      col("is_ambiguous").as("amb"))
    val relatedBoth = crossEdges
      .select(explode(array(seenFrom("a", "b"), seenFrom("b", "a"))).as("r"))
      .select(col("r.*"))
    // the other side's ENTITY_ID, ENTITY_NAME and RECORD_SUMMARY, for
    // the assembled entities that have a display name (others keep a
    // bare band)
    val otherCore = docs
      .groupBy("eid", "entity_id")
      .agg(collect_list(col("name")).as("names"),
        collect_list(struct(col("data_source").as("ds"))).as("sources"))
      .filter(size(col("names")) > 0)
      .select(col("entity_id").as("other"), col("eid").as("other_eid"),
        entityNameOf(col("names")).as("other_name"),
        sourceCounts(col("sources")).as("other_summary"))
    val relRows = relatedBoth
      .join(otherCore.hint("SHUFFLE_HASH"), Seq("other"), "left")
      .select(col("eid"), col("entity_id"), struct(col("other"), col("other_eid"),
        col("other_name"), col("other_summary"), col("terms"), col("nrank"),
        col("email_eq"), col("phone_eq"), col("amb")).as("rel"))

    // ---- the report: every input row, range-laid-out by ENTITY_ID
    // (the export order) in one exchange, then ONE aggregation per
    // entity; rows of entities outside `assignments` (bands of
    // unaffected delta entities) carry no record and are dropped ----
    docs
      .select(col("eid"), col("entity_id"), col("record_struct").as("rec"), col("name"))
      .unionByName(withLib.select(col("eid"), col("entity_id"), struct(
        col("ftype"), col("canon"), col("usage"), col("desc"), col("doc_id"),
        col("lib_id")).as("entry")), allowMissingColumns = true)
      .unionByName(relRows, allowMissingColumns = true)
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions, col("eid"))
      .groupBy("eid", "entity_id")
      .agg(
        array_sort(collect_list(col("rec"))).as("RECORDS"),
        collect_list(col("name")).as("names"),
        collect_list(col("entry")).as("entries"),
        collect_list(col("rel")).as("rels"))
      .filter(size(col("RECORDS")) > 0)
      .select(col("entity_id").as("entity_key"), col("RECORDS"),
        size(col("RECORDS")).cast("long").as("RECORD_COUNT"),
        summaryOfRecords(col("RECORDS")).as("RECORD_SUMMARY"),
        entityNameOf(col("names")).as("ENTITY_NAME"),
        featuresOf(col("entries")).as("FEATURES"),
        relatedOf(col("rels")).as("RELATED_ENTITIES"), col("eid").as("ENTITY_ID"))
  }

  /** Materialize with AQE scoped OFF, so the materialization runs as
    * one job: with AQE on, every exchange inside it is a job of its own.
    */
  private def materialize(df: DataFrame, tag: String, dir: Option[String]): DataFrame =
    Confs.withConfs(df.sparkSession)("spark.sql.adaptive.enabled" -> "false")(
      Materialize(df, tag, dir).df)

  /** `rows` plus `outCol`: the dense ascending 1-based rank of `keyCol`
    * over the distinct keys of `rows`, materialized, without funnelling
    * the data through one partition: range-repartition on the key,
    * dense_rank inside each range, then add the key counts of the
    * earlier ranges. The only driver-side state is one count per range.
    * Equivalent to `dense_rank().over(Window.orderBy(keyCol))`.
    */
  private def withDenseIds(rows: DataFrame, keyCol: String, outCol: String): DataFrame = {
    // ranges scale with the session's shuffle parallelism (cluster
    // deployments set spark.sql.shuffle.partitions to 1000s), with no
    // floor: a small input at a small setting gets few, small tasks
    val nPart = rows.sparkSession.sessionState.conf.numShufflePartitions
    // pins the (sampled) range boundaries and the in-range ranks
    val ranked = materialize(rows
      .repartitionByRange(nPart, col(keyCol))
      .withColumn("_range", spark_partition_id())
      .withColumn("_rank", dense_rank().over(Window.partitionBy("_range").orderBy(keyCol))),
      "dense_ids", None)
    // keys per range: the top rank, from one pass over the checkpoint
    val tops = ranked.select("_range", "_rank").queryExecution.toRdd
      .mapPartitions(_.foldLeft(Map.empty[Int, Int]) { (m, r) =>
        m.updated(r.getInt(0), math.max(m.getOrElse(r.getInt(0), 0), r.getInt(1)))
      }.iterator)
    val keys = Materialize.tagged("dense_ids")(tops.collect()).groupMapReduce(_._1)(_._2)(math.max)
    val offsets = (0 until nPart).scanLeft(0L)((acc, p) => acc + keys.getOrElse(p, 0))
    val offMap = typedlit((0 until nPart).map(p => p -> offsets(p)).toMap)
    ranked.withColumn(outCol, col("_rank") + element_at(offMap, col("_range")))
      .drop("_range", "_rank")
  }

  /** Render entities to the reference's JSONL export shape, ordered by
    * ENTITY_ID (the fixture's ids ascend; a sorted export makes
    * re-export bytes reproducible run-to-run). Assembled entities are
    * already range-laid-out by ENTITY_ID, so the sort is local to each
    * partition.
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
