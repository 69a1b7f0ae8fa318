package graft.score

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pairwise scoring: per-feature comparators combined by a
  * Fellegi–Sunter-style weighted sum, all expressed as Catalyst
  * columns (the only non-built-in kernels are the codegen'd
  * name-similarity expressions).
  *
  * Physical shape (matters at 10^12 pairs): the plan joins the
  * candidate pairs to the feature table twice (one broadcast when the
  * feature side is small, SMJ otherwise), reduces every comparator to
  * a NARROW scalar (two name sims + boolean/int agreement codes,
  * ~60 bytes/row), then folds the scalars into points, score,
  * MATCH_KEY, and level.
  *
  * The comparator chain after the joins is a prepared projection
  * (graft.util.Prepared): planned and compiled once per JVM and
  * `Weights`, evaluated once per pair, and never fused into the joins'
  * codegen (fused, the tree's generated method cannot be split and
  * exceeds janino's 64 KB limit, falling back to interpreted eval).
  *
  * Weights/thresholds are calibrated against the reference's golden
  * clustering (/root/reference/test/fixtures/flow-output.jsonl):
  * every RESOLVED merge there has name support plus ≥1 agreeing
  * strong feature, or ≥2 strong features when the name is missing;
  * every near-miss (POSSIBLY_SAME / POSSIBLY_RELATED) carries a
  * disagreeing exclusive feature (−DOB/−SSN/−PASSPORT) or lacks name
  * support. MATCH_KEY strings reproduce the reference's
  * `("+"|"-")FEATURE` grammar.
  */
object Scoring {

  final case class Weights(
      nameStrong: Double = 4.0,
      /** Strong-name weight when the full canonical name is a corpus
        * cohort (Generic name_generic flag): name+DOB alone must not
        * resolve two "John Smith 1980-05-12"s — the coincidence
        * probability is too high at population scale (measured 55%
        * false on 400k docs). name+{address,phone,email,id} still
        * resolves.
        */
      nameCommonStrong: Double = 2.5,
      nameGivenOnly: Double = 2.5,
      nameSurnameOnly: Double = 2.5,
      nameDisagree: Double = -4.0,
      generationDisagree: Double = -2.0,
      dobExact: Double = 2.0,
      dobNear: Double = 1.5,
      dobDisagree: Double = -3.0,
      phoneFull: Double = 3.0,
      phoneSuffix: Double = 2.5,
      email: Double = 3.0,
      ssn: Double = 4.0,
      ssnDisagree: Double = -3.0,
      passport: Double = 4.0,
      passportDisagree: Double = -3.0,
      drlic: Double = 4.0,
      drlicDisagree: Double = -2.0,
      nationalId: Double = 3.0,
      nationalIdDisagree: Double = -2.0,
      addr: Double = 2.5,
      genderAgree: Double = 0.5,
      genderDisagree: Double = -0.5,
      thetaResolve: Double = 5.0,
      thetaPossible: Double = 2.0)

  private def a(c: String): Column = col(s"a.$c")
  private def b(c: String): Column = col(s"b.$c")

  /** Columns the scorer needs from the feature table. Keeping the
    * projection minimal matters: the pair join fans features out
    * once per candidate pair.
    */
  val scoringColumns: Seq[String] = Seq(
    "doc_id", "record_type", "given_raw", "given_can", "generation", "surname",
    "org_name", "dob", "phone_digits", "phone7", "email", "ssn", "passport",
    "drlic", "national_id", "national_id_country", "addr", "gender",
    "email_generic", "email_verygeneric", "phone_generic", "addr_generic", "ssn_generic",
    "passport_generic", "drlic_generic", "nid_generic", "name_generic")

  /** -1 = disagree, 0 = not comparable (missing / generic), 1 = agree. */
  private def cmp3(l: Column, r: Column, generic: Column): Column =
    when(l.isNotNull && r.isNotNull,
      when(l === r, when(generic, 0).otherwise(1)).otherwise(-1)).otherwise(0)

  /** Score candidate pairs. `pairs` has (doc_a, doc_b); `features` is
    * the Normalize output (with generic flags). Returns one row per
    * pair with score, MATCH_KEY, and level.
    */
  def scorePairs(pairs: DataFrame, features: DataFrame, w: Weights = Weights(),
      broadcastFeatures: Boolean = false): DataFrame =
    // the level filter runs on the prepared output, so Catalyst cannot
    // push it (and the whole comparator tree with it) into the second
    // join's condition, where every pair evaluated the tree twice
    comparators(pairFeatures(pairs, features, broadcastFeatures), w)
      .filter(col("level").isNotNull)

  /** Every candidate pair with both sides' scoring columns, `a_<col>`
    * and `b_<col>`: the input of [[comparators]].
    */
  private[graft] def pairFeatures(pairs: DataFrame, features: DataFrame,
      broadcastFeatures: Boolean): DataFrame = {
    // The candidate-pair side is ~an order of magnitude wider than the
    // feature side; broadcasting features avoids shuffling+sorting the
    // pair table twice. Callers enable it when the feature table fits
    // executor memory (ResolveJob decides from the materialized count);
    // at 10^12 docs the SMJ (or a bucketed co-located join) is the path.
    // prune the addr struct to the two fields the comparators read —
    // the pair join fans every feature row out ~17×, and at 10^12 pairs
    // the zip/street/digits payload would ride two shuffles for nothing
    val f0 = features.select(scoringColumns.map {
      case "addr" => struct(col("addr.house").as("house"),
        col("addr.stokens").as("stokens")).as("addr")
      case c => col(c)
    }: _*)
    val f = if (broadcastFeatures) broadcast(f0) else f0
    // Fan-out join + a plain column passthrough. Both sides keep every
    // scoring column, flags the comparators read from one side only
    // included: identical build sides are one broadcast, which the
    // second join reuses.
    pairs
      .join(f.as("a"), col("doc_a") === a("doc_id"))
      .join(f.as("b"), col("doc_b") === b("doc_id"))
      .select((Seq(col("doc_a"), col("doc_b")) ++
        scoringColumns.filterNot(_ == "doc_id").map(c => a(c).as(s"a_$c")) ++
        scoringColumns.filterNot(_ == "doc_id").map(c => b(c).as(s"b_$c"))): _*)
  }

  /** The comparator chain over [[pairFeatures]]: one row per pair with
    * score, MATCH_KEY, level (null below every band) and the export-key
    * flags. A pure projection, planned and compiled once per JVM for
    * each `Weights` (graft.util.Prepared).
    */
  private val comparators = graft.util.Prepared[Weights]("scoring")(compare)

  /** [[comparators]] as a plain Catalyst build. */
  private[graft] def compare(joined: DataFrame, w: Weights): DataFrame = {
    def a2(c: String): Column = col(s"a_$c")
    def b2(c: String): Column = col(s"b_$c")

    // ---- stage 2a: narrow comparator scalars ----
    val sA = coalesce(a2("surname"), a2("org_name"))
    val sB = coalesce(b2("surname"), b2("org_name"))
    // each sim kernel is invoked exactly ONCE here; the arrangement
    // (straight vs swapped) is decided in stage 2 on the scalars
    val gs = greatest(
      given_name_sim(a2("given_raw"), b2("given_raw")),
      given_name_sim(a2("given_can"), b2("given_can")))
    val ss = surname_sim(sA, sB)
    val gsSwap = given_name_sim(a2("given_can"), sB)
    val ssSwap = given_name_sim(sA, b2("given_can"))

    val (ya, ma, da) = (a2("dob.y"), a2("dob.m"), a2("dob.d"))
    val (yb, mb, db) = (b2("dob.y"), b2("dob.m"), b2("dob.d"))
    val bothDob = a2("dob").isNotNull && b2("dob").isNotNull
    val yNear = abs(ya - yb) <= 1
    val dRevB = (db % 10) * 10 + floor(db / 10).cast("int")
    // 2 = exact/swap, 1 = near, -1 = disagree, 0 = not comparable
    val dobCmp =
      when(bothDob && ya === yb && ma === mb && da === db, 2)
        .when(bothDob && ma === db && da === mb && yNear, 2)
        .when(bothDob && ma === mb && da === db && yNear, 1)
        .when(bothDob && ya === yb && ma === mb && (abs(da - db) <= 1 || da === dRevB), 1)
        .when(bothDob, -1)
        .otherwise(0)

    // 2 = full match, 1 = suffix-7 match, 0 = not comparable
    val phoneCmp =
      when(a2("phone7").isNotNull && b2("phone7").isNotNull &&
        a2("phone7") === b2("phone7") && !a2("phone_generic"),
        when(a2("phone_digits") === b2("phone_digits"), 2).otherwise(1))
        .otherwise(0)

    // ---- export-key refinement flags (raw) ----
    // These NEVER touch score/level/per-edge MATCH_KEY (oracle-pinned);
    // Assemble.perDocMatchInfo folds them into the per-RECORD key to
    // mirror the reference's record-into-growing-entity keys:
    //  - a ≥3-letter strict-prefix given (hypocorism truncation) ADDS
    //    +NAME (golden 1046: "Pat"/"Patricia" → +NAME+…);
    //  - a mid-band given (neither agreeing nor conflicting) against a
    //    strong surname renders +PNAME (golden 1004: "B" vs the seed
    //    record's "Robert" → …+PNAME).
    val faTok = get(split(a2("given_can"), " "), lit(0))
    val fbTok = get(split(b2("given_can"), " "), lit(0))
    val truncSet = typedlit(graft.normalize.Normalize.TruncNicknames.toSeq)
    val shortTok = when(length(faTok) <= length(fbTok), faTok).otherwise(fbTok)
    val xkTrunc = length(faTok) >= 3 && length(fbTok) >= 3 &&
      length(faTok) =!= length(fbTok) &&
      (startswith(faTok, fbTok) || startswith(fbTok, faTok)) &&
      array_contains(truncSet, shortTok)

    // a 4-digit SSN is a LAST-4 partial, not a full exclusive id — the
    // reference's rule cascade fires MSTAB_CNAME (matching stabilizers)
    // instead of a shared-F1 rule for such matches (golden record 1080)
    val xkSsnShort = a2("ssn").isNotNull && length(a2("ssn")) < 9

    // a national id agreeing on the NUMBER while the issuing-country
    // qualifier is one-sided or differing is a CLOSE F1, not a shared
    // F1 — the reference fires CF1_* rules for it (golden 1070)
    val xkNidClose = a2("national_id").isNotNull &&
      a2("national_id") === b2("national_id") &&
      !(a2("national_id_country") <=> b2("national_id_country"))

    // raw-form name equality: the reference's SNAME rules require the
    // name to match as ENTERED — a nickname-canonical match like
    // Zara/Sahra scores full but fires a CNAME/PNAME rule. A surname
    // differing by ONE substituted character (Weest/Wiest — a typo, not
    // a different name) still counts as same; a transposition or a
    // compound extension (Desqueir/Desquire, Sanchez Mendoza) does not.
    val xkRawSame = a2("given_raw").isNotNull &&
      a2("given_raw") === b2("given_raw") && sA.isNotNull && sB.isNotNull &&
      (sA === sB || (length(sA) === length(sB) && levenshtein(sA, sB) === 1))

    // raw first-token edit distance: a mid-band given within lev 3
    // (Mary/Marsha) renders +PNAME in relationship keys while a
    // longer-range prefix (Anna/Annabelle — a different name, not a
    // variant) only credits +SURNAME
    val faRaw = get(split(a2("given_raw"), " "), lit(0))
    val fbRaw = get(split(b2("given_raw"), " "), lit(0))

    val narrow = joined.select(
      col("doc_a"), col("doc_b"),
      coalesce(xkTrunc, lit(false)).as("xk_trunc_raw"),
      coalesce(xkSsnShort, lit(false)).as("xk_ssn_short_raw"),
      coalesce(xkRawSame, lit(false)).as("xk_raw_same_raw"),
      coalesce(xkNidClose, lit(false)).as("xk_nid_close"),
      levenshtein(faRaw, fbRaw).as("xk_given_lev"),
      coalesce(length(faRaw) <= 1 || length(fbRaw) <= 1, lit(false))
        .as("xk_given_init"),
      coalesce(a2("email").isNotNull && a2("email") === b2("email") &&
        !a2("email_verygeneric"), lit(false)).as("xk_email_eq"),
      coalesce(a2("phone7").isNotNull && a2("phone7") === b2("phone7"), lit(false))
        .as("xk_phone_eq"),
      gs.as("gs_straight"), ss.as("ss_straight"),
      gsSwap.as("gs_swap"), ssSwap.as("ss_swap"),
      (a2("generation").isNotNull && b2("generation").isNotNull &&
        a2("generation") =!= b2("generation")).as("gen_conflict"),
      (a2("name_generic") || b2("name_generic")).as("name_common"),
      dobCmp.as("dob_cmp"),
      phoneCmp.as("phone_cmp"),
      (a2("email").isNotNull && a2("email") === b2("email") && !a2("email_generic"))
        .as("email_eq"),
      cmp3(a2("ssn"), b2("ssn"), a2("ssn_generic")).as("ssn_cmp"),
      cmp3(a2("passport"), b2("passport"), a2("passport_generic")).as("passport_cmp"),
      cmp3(a2("drlic"), b2("drlic"), a2("drlic_generic")).as("drlic_cmp"),
      cmp3(a2("national_id"), b2("national_id"), a2("nid_generic")).as("nid_cmp"),
      // BOTH sides' generic flags: the flag is keyed on (house, first
      // street token), which can differ between two matching addresses
      // — a one-sided check would make suppression depend on which doc
      // sorted as doc_a (order-dependent scoring)
      (a2("addr.house").isNotNull && a2("addr.house") === b2("addr.house") &&
        size(array_intersect(a2("addr.stokens"), b2("addr.stokens"))) >= 1 &&
        !a2("addr_generic") && !b2("addr_generic")).as("addr_eq"),
      cmp3(a2("gender"), b2("gender"), lit(false)).as("gender_cmp"),
      (a2("record_type").isNotNull && b2("record_type").isNotNull &&
        a2("record_type") =!= b2("record_type")).as("type_block"))

    // ---- stage 2: points, score, MATCH_KEY, level ----
    val compStraight = lit(0.55) * col("gs_straight") + lit(0.45) * col("ss_straight")
    val compSwap = lit(0.55) * col("gs_swap") + lit(0.45) * col("ss_swap")
    val useSwap = compSwap.isNotNull && (compStraight.isNull || (compSwap > compStraight))
    val arranged = narrow
      .withColumn("gs", when(useSwap, col("gs_swap")).otherwise(col("gs_straight")))
      .withColumn("ss", when(useSwap, col("ss_swap")).otherwise(col("ss_straight")))
    val gsB = col("gs")
    val ssB = col("ss")
    val bothFull = gsB.isNotNull && ssB.isNotNull
    // Strong agreement needs BOTH components: a shared surname must not
    // compensate a conflicting given name (the fixture's Mark/Marsha
    // twins share surname+DOB+address+email and still stay separate).
    val namePts =
      when(bothFull && gsB >= 0.92 && ssB >= 0.88,
        when(col("name_common"), w.nameCommonStrong).otherwise(w.nameStrong))
        .when(bothFull && gsB < 0.65 && ssB < 0.65, w.nameDisagree)
        .when(bothFull, 0.0)
        .when(gsB.isNotNull && gsB >= 0.9, w.nameGivenOnly)
        .when(ssB.isNotNull && ssB >= 0.92, w.nameSurnameOnly)
        .when(ssB.isNotNull && ssB < 0.6, w.nameDisagree / 2)
        .otherwise(0.0)
    val genPts = when(col("gen_conflict"), w.generationDisagree).otherwise(0.0)
    val dobPts = when(col("dob_cmp") === 2, w.dobExact)
      .when(col("dob_cmp") === 1, w.dobNear)
      .when(col("dob_cmp") === -1, w.dobDisagree).otherwise(0.0)
    val phonePts = when(col("phone_cmp") === 2, w.phoneFull)
      .when(col("phone_cmp") === 1, w.phoneSuffix).otherwise(0.0)
    val emailPts = when(col("email_eq"), w.email).otherwise(0.0)
    def idPts(c: String, agree: Double, disagree: Double): Column =
      when(col(c) === 1, agree).when(col(c) === -1, disagree).otherwise(0.0)
    val ssnPts = idPts("ssn_cmp", w.ssn, w.ssnDisagree)
    val passportPts = idPts("passport_cmp", w.passport, w.passportDisagree)
    val drlicPts = idPts("drlic_cmp", w.drlic, w.drlicDisagree)
    val nidPts = idPts("nid_cmp", w.nationalId, w.nationalIdDisagree)
    val addrPts = when(col("addr_eq"), w.addr).otherwise(0.0)
    val genderPts = idPts("gender_cmp", w.genderAgree, w.genderDisagree)

    // name CLASS for key/level rendering (golden grammar): NAME = both
    // components agree, or agreement with the other component missing
    // (fixture: surname-only "Andreason" pairs and given-only "Beau"
    // render +NAME); PNAME = given agrees but the surname DISAGREES
    // (fixture: Magdalena Smith/Jones → +DOB+DRLIC+PNAME — partial,
    // appended last, zero points); SURNAME = surname agrees but the
    // given disagrees (POSSIBLY_RELATED evidence only, zero points)
    val nameClass =
      when(bothFull && gsB >= 0.92 && ssB >= 0.88, "NAME")
        // the partial-name boundary sits ABOVE plain JW noise: unrelated
        // surnames sharing letters (anderson/jones = 0.658) still render
        // +PNAME in the golden export, so the disagree cutoff is 0.70
        .when(bothFull && gsB >= 0.92 && ssB < 0.70, "PNAME")
        .when(bothFull && ssB >= 0.88 && gsB < 0.65, "SURNAME")
        .when(gsB.isNotNull && ssB.isNull && gsB >= 0.9, "NAME")
        .when(ssB.isNotNull && gsB.isNull && ssB >= 0.92, "NAME")

    // SAME name (post-normalization exact match of both components) vs
    // merely CLOSE: Senzing's rule cascade resolves bare name+DOB only
    // for SAME names (fixture: +NAME+DOB RESOLVED records carry
    // SNAME_SSTAB, while close-name +NAME+DOB relationships are
    // CNAME_CSTAB at POSSIBLY_SAME). JW-similar-but-distinct surnames
    // must not merge on a DOB coincidence.
    val nameSame = bothFull && gsB >= 0.999 && ssB >= 0.999

    // export-key flags: truncation gated on the straight orientation (a
    // swapped-field match must not trigger the given-name prefix rule);
    // the mid-band partial is computed on the arranged components
    val xkNameAdd = coalesce(
      !useSwap && col("xk_trunc_raw") && nameClass.isNull &&
        ssB.isNotNull && ssB >= 0.88, lit(false))
    val xkNamePname = coalesce(
      bothFull && ssB >= 0.88 && nameClass.isNull && !xkNameAdd, lit(false))
    val xkNameCmp = gsB.isNotNull || ssB.isNotNull
    // name agreement LEVEL for rule-code synthesis (Senzing's
    // SNAME/CNAME/PNAME distinction): S = raw-form exact (as entered),
    // C = full score via canonicalization / a missing component,
    // P = compared but sub-exact; null = no name comparison
    val xkNameLvl =
      when(col("xk_raw_same_raw"), "S")
        .when(nameSame, "C")
        .when(gsB >= 0.999 && ssB.isNull, "C")
        .when(ssB >= 0.999 && gsB.isNull, "C")
        .when(xkNameCmp, "P")
    val xkSsnShortEq = coalesce(
      col("xk_ssn_short_raw") && col("ssn_cmp") === 1, lit(false))
    // relationship-band name class (entity-vs-entity key rendering):
    // NAME for strong agreement or a curated truncation hypocorism
    // (Pat/Patrick) — but never through the single-initial boost (the
    // reference scores "Jim" vs an entity holding "J" as surname-only);
    // PNAME for a close given variant (lev <= 2) over a strong surname;
    // SURNAME when only the surname holds up
    val notInit = !col("xk_given_init")
    val xkRelName =
      when(nameClass === "NAME" && notInit, "NAME")
        .when(col("xk_trunc_raw") && ssB.isNotNull && ssB >= 0.88 && notInit,
          "NAME")
        .when(nameClass === "PNAME" && notInit, "PNAME")
        .when(bothFull && ssB >= 0.88 && gsB < 0.92 && notInit &&
          coalesce(col("xk_given_lev") <= 2, lit(false)), "PNAME")
        .when(bothFull && ssB >= 0.88, "SURNAME")
        .when(nameClass === "SURNAME", "SURNAME")

    val ptsNamed = Seq(
      nameClass.as("name_class"),
      nameSame.as("name_same"),
      xkNameAdd.as("xk_name_add"),
      xkNamePname.as("xk_name_pname"),
      xkNameCmp.as("xk_name_cmp"),
      xkNameLvl.as("xk_name_lvl"),
      xkSsnShortEq.as("xk_ssn_short"),
      col("xk_nid_close"),
      xkRelName.as("xk_rel_name"),
      col("xk_email_eq"), col("xk_phone_eq"),
      namePts.as("name_pts"), genPts.as("gen_pts"), dobPts.as("dob_pts"),
      phonePts.as("phone_pts"), emailPts.as("email_pts"), ssnPts.as("ssn_pts"),
      passportPts.as("passport_pts"), drlicPts.as("drlic_pts"),
      nidPts.as("nid_pts"), addrPts.as("addr_pts"), genderPts.as("gender_pts"),
      col("type_block"))
    val pts = arranged.select((Seq(col("doc_a"), col("doc_b")) ++ ptsNamed): _*)

    val score = when(col("type_block"), lit(-100.0)).otherwise(
      col("name_pts") + col("gen_pts") + col("dob_pts") + col("phone_pts") +
        col("email_pts") + col("ssn_pts") + col("passport_pts") +
        col("drlic_pts") + col("nid_pts") + col("addr_pts") + col("gender_pts"))

    def key(pts: Column, name: String): Column =
      when(pts > 0, s"+$name").when(pts < 0, s"-$name").otherwise("")

    val matchKey = concat(
      // name term first (NAME / SURNAME), except PNAME which the
      // reference renders LAST (+DOB+ADDRESS+EMAIL+PNAME)
      when(col("name_class") === "NAME" && col("name_pts") > 0, "+NAME")
        .when(col("name_class") === "SURNAME", "+SURNAME")
        .when(col("name_pts") < 0, "-NAME").otherwise(""),
      key(col("dob_pts"), "DOB"),
      key(col("addr_pts"), "ADDRESS"), key(col("phone_pts"), "PHONE"),
      key(col("email_pts"), "EMAIL"), key(col("ssn_pts"), "SSN"),
      key(col("passport_pts"), "PASSPORT"), key(col("drlic_pts"), "DRLIC"),
      key(col("nid_pts"), "NATIONAL_ID"),
      // gender agreement is weak evidence Senzing never CREDITS in a
      // match key — the fixture has -GENDER but zero +GENDER
      when(col("gender_pts") < 0, "-GENDER").otherwise(""),
      key(col("gen_pts"), "GENERATION"),
      when(col("name_class") === "PNAME", "+PNAME").otherwise(""))

    val scored = pts.withColumn("score", score)
    // bare name+DOB with a merely-CLOSE name: demoted to POSSIBLY_SAME
    // (Senzing's CNAME_CSTAB) regardless of score — see nameSame above
    val bareNameDob = col("name_pts") > 0 && col("dob_pts") > 0 &&
      col("phone_pts") <= 0 && col("email_pts") <= 0 && col("addr_pts") <= 0 &&
      col("ssn_pts") <= 0 && col("passport_pts") <= 0 &&
      col("drlic_pts") <= 0 && col("nid_pts") <= 0
    // POSSIBLY_SAME requires FULL-name support (fixture: every
    // POSSIBLY_SAME key carries +NAME; surname/partial-name matches are
    // POSSIBLY_RELATED however they score)
    val level =
      when(col("score") >= w.thetaResolve &&
        (!bareNameDob || col("name_same")), "RESOLVED")
        .when(col("score") >= w.thetaPossible && col("name_class") === "NAME",
          "POSSIBLY_SAME")
        .when(col("email_pts") > 0 || col("phone_pts") > 0 || col("addr_pts") > 0 ||
          col("ssn_pts") > 0 || col("passport_pts") > 0 || col("drlic_pts") > 0 ||
          col("nid_pts") > 0 || col("name_class") === "SURNAME", "POSSIBLY_RELATED")

    scored.select(
      col("doc_a"), col("doc_b"),
      col("score"),
      matchKey.as("match_key"),
      level.as("level"),
      col("xk_name_add"), col("xk_name_pname"), col("xk_name_cmp"),
      col("xk_name_lvl"), col("xk_ssn_short"), col("xk_nid_close"),
      col("xk_rel_name"), col("xk_email_eq"), col("xk_phone_eq"))
  }
}
