package graft.normalize

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Span-sequence → typed-feature extraction and normalization.
  *
  * Everything here is built from Catalyst built-in expressions (no
  * UDFs): whole-stage codegen applies end-to-end and the projection
  * prunes to exactly the span fields needed.
  *
  * The reference delegates this to Senzing's feature mapper (contract
  * visible as the FEATURES keys of
  * /root/reference/test/fixtures/flow-output.jsonl vs the input keys of
  * customers.jsonl): PRIMARY_NAME_* → NAME, ADDR_* → ADDRESS,
  * PHONE_NUMBER → PHONE, DATE_OF_BIRTH → DOB, etc.
  */
object Normalize {

  /** Public-knowledge nickname → canonical given-name map (standard
    * English hypocorisms). Applied tokenwise to given names.
    */
  /** Common English truncation hypocorisms — given names that
    * conventionally stand for any longer name they prefix ("Pat" is
    * both Patricia and Patrick, so it can't live in the
    * single-canonical [[Nicknames]] map). A prefix match only counts
    * as a name AGREEMENT when the short form is one of these: "Anna"
    * prefixes "Annabelle" but is a full name in its own right, and the
    * reference scores that pair as surname-only. Public linguistic
    * knowledge, same provenance as the nickname map.
    */
  val TruncNicknames: Set[String] = Set(
    "pat", "chris", "alex", "sam", "ben", "dan", "matt", "nick", "tim",
    "rob", "mike", "will", "jess", "steph", "fred", "greg", "nate",
    "zach", "josh", "dave", "ron", "don", "ken", "jim", "tom", "joe",
    "ed", "gabe", "theo", "vic", "max", "abby", "mel", "raph", "phil",
    "fran", "stan", "leo", "gus", "cal", "vince", "russ", "marg")

  val Nicknames: Map[String, String] = Map(
    "bob" -> "robert", "bobby" -> "robert", "robbie" -> "robert", "rob" -> "robert",
    "bill" -> "william", "billy" -> "william", "will" -> "william", "willy" -> "william",
    "dick" -> "richard", "rick" -> "richard", "ricky" -> "richard", "rich" -> "richard",
    "jim" -> "james", "jimmy" -> "james", "jamie" -> "james",
    "mike" -> "michael", "mikey" -> "michael",
    "dave" -> "david", "davey" -> "david",
    "tom" -> "thomas", "tommy" -> "thomas",
    "joe" -> "joseph", "joey" -> "joseph",
    "dan" -> "daniel", "danny" -> "daniel",
    "chuck" -> "charles", "charlie" -> "charles",
    "ed" -> "edward", "eddie" -> "edward", "ted" -> "edward", "ned" -> "edward",
    "tony" -> "anthony",
    "steve" -> "steven", "steph" -> "stephanie",
    "patty" -> "patricia", "tricia" -> "patricia",
    "liz" -> "elizabeth", "beth" -> "elizabeth", "betty" -> "elizabeth",
    "betsy" -> "elizabeth", "eliza" -> "elizabeth",
    "peggy" -> "margaret", "meg" -> "margaret", "maggie" -> "margaret",
    "sue" -> "susan", "susie" -> "susan", "suzy" -> "susan",
    "kate" -> "katherine", "kathy" -> "katherine", "katie" -> "katherine",
    "kitty" -> "katherine",
    "jen" -> "jennifer", "jenny" -> "jennifer",
    "barb" -> "barbara", "barbie" -> "barbara",
    "dot" -> "dorothy", "dottie" -> "dorothy",
    "jeff" -> "jeffrey", "geoff" -> "jeffrey", "geoffrey" -> "jeffrey",
    "greg" -> "gregory",
    "ken" -> "kenneth", "kenny" -> "kenneth",
    "ron" -> "ronald", "ronnie" -> "ronald",
    "don" -> "donald", "donnie" -> "donald",
    "sam" -> "samuel", "sammy" -> "samuel",
    "ben" -> "benjamin", "benny" -> "benjamin",
    "alex" -> "alexander", "sandy" -> "sandra",
    "nick" -> "nicholas", "chris" -> "christopher",
    "frank" -> "francis", "frankie" -> "francis",
    "hank" -> "henry", "harry" -> "henry",
    "larry" -> "lawrence", "gerry" -> "gerald", "jerry" -> "gerald",
    "andy" -> "andrew", "drew" -> "andrew",
    "leigh" -> "lee", "lea" -> "lee",
    "marie" -> "mary", "susanne" -> "susan", "suzanne" -> "susan",
    "sahra" -> "sarah", "zara" -> "sarah",
    "annabelle" -> "annabel", "anabella" -> "annabel", "annabella" -> "annabel",
    "kandace" -> "candace",
    "muhammed" -> "mohamed", "muhammad" -> "mohamed", "mohammed" -> "mohamed",
    "morrie" -> "morris",
    "gene" -> "eugene", "vicky" -> "victoria", "vickie" -> "victoria",
    "wendy" -> "gwendolyn", "trish" -> "patricia",
    "abby" -> "abigail", "gail" -> "abigail",
    "becky" -> "rebecca", "debbie" -> "deborah", "deb" -> "deborah",
    "cindy" -> "cynthia", "mandy" -> "amanda",
    "christie" -> "christine", "chrissy" -> "christine",
    "flo" -> "florence", "fred" -> "frederick", "freddie" -> "frederick",
    "walt" -> "walter", "wally" -> "walter",
    "ray" -> "raymond", "lou" -> "louis", "stan" -> "stanley",
    "bert" -> "albert", "al" -> "albert", "art" -> "arthur",
    "cathy" -> "catherine", "carrie" -> "caroline",
    "ellie" -> "eleanor", "nell" -> "eleanor",
    "molly" -> "mary", "polly" -> "mary",
    "nan" -> "nancy", "nanny" -> "nancy",
    "phil" -> "philip", "pete" -> "peter",
    "rose" -> "rosemary", "sally" -> "sarah",
    "terry" -> "terence", "tim" -> "timothy", "timmy" -> "timothy",
    "vince" -> "vincent", "zach" -> "zachary")

  /** Pinyin romanization for common CJK name characters (public
    * standard Hanyu Pinyin). Lets a NATIVE_NAME_FULL like 王杰 compare
    * against the romanized "Wang Jie" (fixture entities 55-63 merge a
    * native-name record with its romanized sibling on +NAME+DOB+…).
    */
  val Pinyin: Map[String, String] = Map(
    "王" -> "wang", "李" -> "li", "张" -> "zhang", "刘" -> "liu",
    "陈" -> "chen", "杨" -> "yang", "黄" -> "huang", "赵" -> "zhao",
    "吴" -> "wu", "周" -> "zhou", "徐" -> "xu", "孙" -> "sun",
    "马" -> "ma", "朱" -> "zhu", "胡" -> "hu", "郭" -> "guo",
    "何" -> "he", "林" -> "lin", "罗" -> "luo", "郑" -> "zheng",
    "杰" -> "jie", "伟" -> "wei", "秀" -> "xiu", "英" -> "ying",
    "芳" -> "fang", "娜" -> "na", "敏" -> "min", "静" -> "jing",
    "丽" -> "li", "强" -> "qiang", "磊" -> "lei", "军" -> "jun",
    "洋" -> "yang", "勇" -> "yong", "艳" -> "yan", "娟" -> "juan",
    "涛" -> "tao", "明" -> "ming", "超" -> "chao", "霞" -> "xia",
    "平" -> "ping", "刚" -> "gang", "桂" -> "gui", "玉" -> "yu",
    "华" -> "hua", "文" -> "wen", "红" -> "hong", "梅" -> "mei")

  /** Address stop tokens (street types, unit words, directions) — US
    * postal-standard abbreviations and their long forms.
    */
  val AddrStop: Seq[String] = Seq(
    "st", "street", "strasse", "ave", "avenue", "ln", "lane", "rd", "road",
    "dr", "drive", "ct", "court", "blvd", "boulevard", "way", "pl", "place",
    "cir", "circle", "hwy", "highway", "ter", "terrace",
    "apt", "apartment", "apartments", "aparments", "suite", "ste", "unit",
    "po", "box", "p", "o",
    "n", "s", "e", "w", "ne", "nw", "se", "sw",
    "north", "south", "east", "west")

  private val MonthNames = Map(
    "jan" -> 1, "feb" -> 2, "mar" -> 3, "apr" -> 4, "may" -> 5, "jun" -> 6,
    "jul" -> 7, "aug" -> 8, "sep" -> 9, "oct" -> 10, "nov" -> 11, "dec" -> 12)

  /** First text value of a given span kind (null if absent).
    *
    * Codegen'd kernel (r6): the former HOF formulation
    * `get(filter(spans, s -> s.kind = kind), 0).text` is a
    * CodegenFallback ArrayFilter — interpreted lambda dispatch plus a
    * filtered-array allocation on EVERY evaluation, and this function
    * is evaluated ~25× per row in [[features]] and again in
    * Assemble.docFeatureEntries: the measured allocation wall of the
    * features_raw/assembly stages (BASELINE.md round-5 STAGEMS,
    * ~2.9×/4 scaling). Identical null semantics are spec-pinned
    * against the HOF formulation (NormalizeKernelSpec).
    */
  def spanText(spans: Column, kind: String): Column =
    graft.functions.GraftFunctions.span_first_text(spans, kind)

  private def intOrNull(c: Column): Column =
    nullif(c, lit("")).cast("int")

  /** Lowercase, strip everything but letters/spaces, squeeze blanks. */
  private def alphaNorm(c: Column): Column =
    nullif(trim(regexp_replace(regexp_replace(lower(c), "[^a-z ]", ""), " +", " ")), lit(""))

  private def digitsOf(c: Column): Column =
    nullif(regexp_replace(c, "[^0-9]", ""), lit(""))

  private def alnumUpper(c: Column): Column =
    nullif(regexp_replace(upper(c), "[^A-Z0-9]", ""), lit(""))

  /** Tokenwise map through a dictionary; unseen tokens pass through.
    * Codegen'd kernel (r6) — the Catalyst `array_join(transform(split,
    * t -> coalesce(element_at(m, t), t)))` paid an interpreted lambda
    * plus a linear scan of the 120-entry map literal per token;
    * equivalence (split keeping empty segments, missing-token
    * pass-through) is spec-pinned in NormalizeKernelSpec.
    */
  private def canonTokens(c: Column, dict: Map[String, String]): Column =
    graft.functions.GraftFunctions.canon_tokens(c, dict)

  /** Transliterate a CJK string to space-joined pinyin; null if any
    * character is unknown (then the name is treated as not comparable,
    * contributing nothing to the score — never a penalty).
    */
  private def pinyinName(c: Column): Column = {
    val m = typedlit(Pinyin)
    val toks = transform(filter(split(c, ""), ch => ch =!= ""), ch => element_at(m, ch))
    when(c.isNotNull && size(toks) > 0 && !array_contains(transform(toks, t => t.isNull), true),
      array_join(toks, " "))
  }

  /** Parse the reference's observed DOB formats into struct(y,m,d).
    * Formats seen in customers.jsonl: M/d/yyyy, M/d/yy, d-MMM-yy,
    * "MMM d yyyy", yyyy-MM-dd, and day-first D/M/yyyy when the first
    * component exceeds 12. Pure string ops (ANSI-safe; no to_date
    * exceptions on junk).
    *
    * Codegen'd kernel (r6): the Catalyst formulation below (kept as
    * [[parseDobCatalyst]] — the spec's reference implementation) runs
    * 13 interpreted regexp_extract matches per row; the kernel runs
    * each anchored pattern at most once. Equivalence spec-pinned
    * (NormalizeKernelSpec).
    */
  def parseDob(raw: Column): Column =
    graft.functions.GraftFunctions.parse_dob(trim(raw))

  /** Pre-r6 Catalyst formulation of [[parseDob]] — retained as the
    * executable spec reference (NormalizeKernelSpec pins the kernel
    * against it).
    */
  def parseDobCatalyst(raw: Column): Column = {
    val s = trim(raw)
    val slash = regexp_extract(s, "^(\\d{1,2})/(\\d{1,2})/(\\d{2,4})$", 0)
    val mSl = intOrNull(regexp_extract(s, "^(\\d{1,2})/(\\d{1,2})/(\\d{2,4})$", 1))
    val dSl = intOrNull(regexp_extract(s, "^(\\d{1,2})/(\\d{1,2})/(\\d{2,4})$", 2))
    val ySl = intOrNull(regexp_extract(s, "^(\\d{1,2})/(\\d{1,2})/(\\d{2,4})$", 3))
    val iso = regexp_extract(s, "^(\\d{4})-(\\d{1,2})-(\\d{1,2})$", 0)
    val yIso = intOrNull(regexp_extract(s, "^(\\d{4})-(\\d{1,2})-(\\d{1,2})$", 1))
    val mIso = intOrNull(regexp_extract(s, "^(\\d{4})-(\\d{1,2})-(\\d{1,2})$", 2))
    val dIso = intOrNull(regexp_extract(s, "^(\\d{4})-(\\d{1,2})-(\\d{1,2})$", 3))
    val dmy = regexp_extract(s, "^(\\d{1,2})-([A-Za-z]{3})-(\\d{2,4})$", 0)
    val dDmy = intOrNull(regexp_extract(s, "^(\\d{1,2})-([A-Za-z]{3})-(\\d{2,4})$", 1))
    val monDmy = lower(regexp_extract(s, "^(\\d{1,2})-([A-Za-z]{3})-(\\d{2,4})$", 2))
    val yDmy = intOrNull(regexp_extract(s, "^(\\d{1,2})-([A-Za-z]{3})-(\\d{2,4})$", 3))
    val mdy = regexp_extract(s, "^([A-Za-z]{3})[a-z]* (\\d{1,2}),? (\\d{2,4})$", 0)
    val monMdy = lower(regexp_extract(s, "^([A-Za-z]{3})[a-z]* (\\d{1,2}),? (\\d{2,4})$", 1))
    val dMdy = intOrNull(regexp_extract(s, "^([A-Za-z]{3})[a-z]* (\\d{1,2}),? (\\d{2,4})$", 2))
    val yMdy = intOrNull(regexp_extract(s, "^([A-Za-z]{3})[a-z]* (\\d{1,2}),? (\\d{2,4})$", 3))
    val monMap = typedlit(MonthNames)

    def fixYear(y: Column): Column =
      when(y >= 100, y).when(y <= 25, y + 2000).otherwise(y + 1900)

    val (y0, m0, d0) = (
      when(slash =!= "", fixYear(ySl)).when(iso =!= "", yIso)
        .when(dmy =!= "", fixYear(yDmy)).when(mdy =!= "", fixYear(yMdy)),
      when(slash =!= "", mSl).when(iso =!= "", mIso)
        .when(dmy =!= "", element_at(monMap, monDmy))
        .when(mdy =!= "", element_at(monMap, monMdy)),
      when(slash =!= "", dSl).when(iso =!= "", dIso)
        .when(dmy =!= "", dDmy).when(mdy =!= "", dMdy))
    // day-first form: 20/8/1991 → month 20 invalid → swap m/d
    val needSwap = m0 > 12 && d0 <= 12
    val y = y0
    val m = when(needSwap, d0).otherwise(m0)
    val d = when(needSwap, m0).otherwise(d0)
    when(y.isNotNull && m.isNotNull && d.isNotNull && m.between(1, 12) && d.between(1, 31),
      struct(y.as("y"), m.as("m"), d.as("d")))
  }

  /** Normalized address parts from a free-text address:
    * struct(house, zip, street — first non-stop alpha token after
    * blanking digits, stokens — all non-stop alphanumeric tokens,
    * digits — every pure-digit token, distinct: unmatched numeric
    * components (unit numbers, a second conflicting postal) demote an
    * address match in the export key, see Assemble.perDocMatchInfo).
    *
    * Codegen'd one-pass kernel (r6): the Catalyst formulation — two
    * regex replaces feeding THREE interpreted HOF filters with
    * per-token rlike, over a token subtree each filter re-derived —
    * measured as ~80% of the whole features_raw stage (5.2 s of 6.4 s
    * on 200k docs, local[4]; OPTIMIZATION_r06.md "features_raw").
    * Identical output is spec-pinned against that formulation
    * (NormalizeKernelSpec).
    */
  def parseAddr(raw: Column): Column =
    graft.functions.GraftFunctions.parse_addr(raw, AddrStop.toSet.toSeq)

  /** Strip generation suffixes (jr/sr/ii/iii/iv) from a surname. */
  private def stripGeneration(c: Column): Column = {
    val gens = typedlit(Seq("jr", "sr", "ii", "iii", "iv"))
    val kept = filter(split(c, " "), t => !array_contains(gens, t))
    nullif(array_join(kept, " "), lit(""))
  }

  /** Full feature-extraction projection over the canonical doc table.
    * Input: (doc_id, spans); output carries spans untouched (span-
    * sequence invariant) plus one column per typed feature.
    */
  def features(docs: DataFrame): DataFrame = {
    val sp = col("spans")
    val first = alphaNorm(coalesce(spanText(sp, "primary_name_first"), spanText(sp, "name_first")))
    val middle = alphaNorm(coalesce(spanText(sp, "primary_name_middle"), spanText(sp, "name_middle")))
    val last = alphaNorm(coalesce(spanText(sp, "primary_name_last"), spanText(sp, "name_last")))
    val org = alphaNorm(coalesce(spanText(sp, "primary_name_org"), spanText(sp, "secondary_name_org")))
    val full = alphaNorm(coalesce(spanText(sp, "primary_name_full"), spanText(sp, "name_full")))
    val native = trim(spanText(sp, "native_name_full"))
    val nativePy = pinyinName(native)

    // name assembly precedence: explicit parts > full > native pinyin
    val fullToks = split(full, " ")
    val givenFromFull = when(full.isNotNull && size(fullToks) > 1,
      array_join(slice(fullToks, lit(1), size(fullToks) - 1), " "))
    val surnameFromFull = when(full.isNotNull, element_at(fullToks, -1))
    val pyToks = split(nativePy, " ")
    val givenFromNative = when(nativePy.isNotNull && size(pyToks) > 1,
      array_join(slice(pyToks, lit(2), greatest(size(pyToks) - 1, lit(1))), " "))
    val surnameFromNative = when(nativePy.isNotNull, element_at(pyToks, 1))

    val givenRaw0 = coalesce(
      when(first.isNotNull, concat_ws(" ", first, middle)), givenFromFull, givenFromNative)
    // generation ordinal carried as its own feature (fixture: "Morris I"
    // vs "Morris II" stay separate with -GENERATION,
    // /root/reference/test/fixtures/flow-output.jsonl entities 75/76)
    val gToks = split(givenRaw0, " ")
    val gLast = element_at(gToks, -1)
    val genSet = typedlit(Seq("i", "ii", "iii", "iv", "v", "jr", "sr"))
    val hasGen = size(gToks) >= 2 && array_contains(genSet, gLast)
    val givenRaw = when(hasGen,
      array_join(slice(gToks, lit(1), size(gToks) - 1), " ")).otherwise(givenRaw0)
    val generation = when(hasGen, gLast)
    val surnameRaw = coalesce(last, surnameFromFull, surnameFromNative)
    val surname = stripGeneration(surnameRaw)

    val emailRaw = lower(trim(spanText(sp, "email_address")))
    val emailAngle = nullif(regexp_extract(emailRaw, "<([^>]+)>", 1), lit(""))

    val phoneDigits = digitsOf(spanText(sp, "phone_number"))

    val genderRaw = upper(trim(spanText(sp, "gender")))

    // spans deliberately NOT carried: the feature table is checkpointed
    // and fanned out through joins at every stage — keeping it narrow
    // (~300 B/row vs ~1.5 KB with spans) halves stage-snapshot IO. The
    // assembler re-joins the docs table for the span-sequence output.
    docs.select(
      col("doc_id"),
      spanText(sp, "data_source").as("data_source"),
      spanText(sp, "record_id").as("record_id"),
      upper(trim(spanText(sp, "record_type"))).as("record_type"),
      givenRaw.as("given_raw"),
      canonTokens(givenRaw, Nicknames).as("given_can"),
      // (TruncNicknames gates the prefix rule in Scoring)
      generation.as("generation"),
      surname.as("surname"),
      org.as("org_name"),
      parseDob(spanText(sp, "date_of_birth")).as("dob"),
      phoneDigits.as("phone_digits"),
      when(length(phoneDigits) >= 7, substring(phoneDigits, -7, 7)).as("phone7"),
      coalesce(emailAngle, nullif(emailRaw, lit(""))).as("email"),
      digitsOf(spanText(sp, "ssn_number")).as("ssn"),
      alnumUpper(spanText(sp, "passport_number")).as("passport"),
      alnumUpper(spanText(sp, "drivers_license_number")).as("drlic"),
      alnumUpper(spanText(sp, "national_id_number")).as("national_id"),
      alnumUpper(spanText(sp, "national_id_country")).as("national_id_country"),
      parseAddr(coalesce(
        spanText(sp, "addr_full"),
        concat_ws(" ",
          coalesce(spanText(sp, "addr_line1"), lit("")),
          coalesce(spanText(sp, "addr_city"), lit("")),
          coalesce(spanText(sp, "addr_state"), lit("")),
          coalesce(spanText(sp, "addr_postal_code"), lit(""))))).as("addr"),
      when(genderRaw.isin("M", "MALE"), "M")
        .when(genderRaw.isin("F", "FEMALE"), "F").as("gender"))
  }
}
