package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality signals, marker-based language scoring, and
  * deterministic document fingerprints. All pure column expressions
  * (codegen-friendly, partition-parallel, no UDFs, no driver loops).
  */
object Text {

  /** Whitespace tokenization; robust to repeated spaces. */
  def tokens(text: Column): Column =
    filter(split(text, " +"), w => w =!= "")

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Count of tokens that appear in `vocab`. */
  def vocabHits(text: Column, vocab: Seq[String]): Column =
    size(filter(tokens(text), w => w.isin(vocab.map(lit): _*)))

  /** Distinct word n-gram shingles (the unit for Jaccard / MinHash dedup)
    * from a PRE-BOUND token-array column. Guarded so texts shorter than
    * `n` words yield an empty set (Spark's `sequence(1, 0)` would
    * otherwise count DOWN).
    *
    * `w` MUST be a projected attribute (`.withColumn("w", tokens(...))`),
    * not an expression tree: Spark higher-order-function lambdas are
    * interpreted with no common-subexpression elimination, so an embedded
    * tree re-evaluates once per `element_at` — ~n×shingles regex
    * tokenizations per row if `w` is `tokens(text)` inline. A bound
    * attribute is an O(1) row read. (Catalyst's CollapseProject keeps the
    * binding: it never inlines a non-cheap alias referenced more than
    * once.) */
  def shinglesFromTokens(w: Column, n: Int): Column =
    when(size(w) >= n,
      array_distinct(transform(sequence(lit(1), size(w) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(w, i + k)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Convenience single-expression form of [[shinglesFromTokens]] — fine
    * for tests and one-off rows; hot paths must bind the tokens first. */
  def wordShingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Jaccard similarity of two pre-computed distinct shingle sets.
    * Exact int-cardinality division — bit-identical across engines. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter / (size(a) + size(b) - inter)
  }

  /** Shingle sets hashed to 64-bit ints from a PRE-BOUND token-array
    * column: same cardinalities as [[shinglesFromTokens]] (collisions are
    * ~2^-64), but set intersection runs on longs instead of strings — the
    * representation to carry through pairwise-verify joins at corpus
    * scale. The n tokens are hashed directly (multi-arg xxhash64) — no
    * intermediate concat'd strings. Same bound-attribute contract as
    * [[shinglesFromTokens]]. */
  def hashedShinglesFromTokens(w: Column, n: Int): Column =
    when(size(w) >= n,
      array_distinct(transform(sequence(lit(1), size(w) - (n - 1)), i =>
        xxhash64((0 until n).map(k => element_at(w, i + k)): _*))))
      .otherwise(array().cast("array<bigint>"))

  /** Convenience single-expression form of [[hashedShinglesFromTokens]] —
    * fine for tests; hot paths must bind the tokens first. */
  def hashedShingles(text: Column, n: Int): Column =
    hashedShinglesFromTokens(tokens(text), n)

  /** Deterministic rolling polynomial fingerprint over the first
    * `prefixLen` characters: fold (acc*31 + codepoint) mod 1e9+7.
    * Engine-portable (same result in any SQL engine with a list fold).
    */
  def fingerprint(text: Column, prefixLen: Int = 64): Column = {
    val chars = filter(split(substring(text, 1, prefixLen), ""), c => c =!= "")
    val codes = transform(chars, c => ascii(c).cast("long"))
    aggregate(codes, lit(0L), (acc, x) => (acc * 31L + x) % 1000000007L)
  }

  /** RANK-ORDERED character-trigram profiles (most frequent first,
    * spaces significant) for Cavnar-Trenkle out-of-place scoring —
    * approximate public frequency rankings, 100/language — deep enough
    * that confusable pairs separate on profile BODY, not just the head
    * (es/pt: shared Romance core, but es "del/los/cion/en la" vs pt
    * "do/dos/da/cao/na" boundary trigrams diverge high in the ranking,
    * and the tail carries the morphology — es "-ndo/-mos" vs pt
    * "-ava/-nha/oes"). ASCII only — the synthetic corpus is ASCII, and
    * pt here is the de-accented romanization. */
  val langProfilesRanked: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(
      "en ", "er ", " de", "der", "ie ", "sch", "ein", "ich", "nd ", "und",
      " un", "che", "ung", "ng ", "ch ", " ei", "den", "gen", "ten", " ge",
      "cht", "ht ", "in ", "te ", " di", "die", "hen", "ine", "nen", " be",
      "ver", " ve", "es ", "ber", "ren", "ege", "ste", "and", " da", "das",
      "eit", "ter", "ere", "nde", "ens", "ert", "hei", "ind", "ner", "sse",
      "ese", "ite", "ist", " is", "st ", "sta", " au", "auf", "uf ", "aus",
      "us ", " mi", "mit", "it ", " zu", "zu ", "um ", "lle", "ell", "uch",
      "auc", "ach", " na", "nac", "ben", "abe", " ha", "hat", "wir", " wi",
      "wie", "ier", "sei", " se", "sic", "ebe", "lic", "ige", "ale", "rau",
      "run", "nge", "rei", "eic", "hre", "ihr", " ih", "wer", " we", "ges"),
    "en" -> Seq(
      "the", " th", "he ", "and", " an", "nd ", "ing", "ng ", " of", "of ",
      "ed ", " in", "in ", "ion", " to", "to ", "er ", "at ", "en ", "on ",
      "re ", "tio", " co", "es ", " a ", "ent", "nt ", "is ", " be", " re",
      "hat", "ere", "his", "con", "ter", " wi", "ati", "ver", "all", " ma",
      " he", "her", "tha", " ha", "has", "ave", "hav", " no", "not", "ot ",
      " it", "it ", "its", " is", "as ", " as", "al ", " al", "ll ", "or ",
      " or", "for", " fo", "ith", "wit", "th ", "ht ", "igh", "out", "ut ",
      " ou", "our", "ur ", "st ", " st", "sta", "ted", "ers", "res", " pr",
      "pro", "com", " wh", "whi", "hic", "ich", "ne ", "one", " on", "nce",
      "enc", "men", "eme", "ons", "ess", "ive", "ly ", " li", "int", " se"),
    "es" -> Seq(
      " de", "de ", " la", "la ", "os ", "el ", " el", "en ", " en", "as ",
      "es ", "ue ", "que", " qu", "ent", "ado", "do ", "ion", "cio", "nte",
      " co", "sta", "ara", "los", " lo", "a d", "e l", "ien", "con", "est",
      "cia", "res", "nci", "dad", "ida", " es", "del", "aci", "ada", "o d",
      " se", "se ", " po", "por", "or ", "par", " pa", "ra ", " su", "su ",
      "un ", " un", "una", "na ", "to ", "nto", " no", "no ", "las", " a ",
      "al ", " al", "er ", "ar ", "a l", "s d", "e e", "n e", "ant", "tra",
      " tr", "ter", "ria", "ica", "nes", "one", "mos", "emo", "and", "ndo",
      "o e", "a e", " me", "men", "nta", "tos", "dos", "ist", "ito", "ore",
      "ier", "era", "pro", " pr", "re ", "rec", "ci ", "ale", "nal", "ona"),
    "fr" -> Seq(
      "es ", " de", "de ", "le ", " le", "ent", "nt ", "la ", " la", "ion",
      "on ", "re ", " co", "e d", "e l", "que", " qu", "ue ", "les", " pa",
      "ait", "eur", "our", "ant", "tio", "ons", "eme", "men", " et", "et ",
      " un", "une", "des", " se", "ur ", "ais", "oir", "err", "ous", " pr",
      "ell", "lle", "e p", " po", "pou", "pas", "par", "as ", "dan", " da",
      "ans", "ns ", " en", "en ", "ne ", "e c", "ce ", " ce", "son", " so",
      "sur", " su", "qui", "ui ", "ver", "ure", "eux", "aux", "au ", " au",
      "t d", "s d", "e e", "n d", "is ", "ien", "ier", "iqu", " pl", "plu",
      "lus", "us ", "ont", "not", "nos", "je ", " je", "vou", " vo", "com",
      "tre", " tr", "tra", "ran", "nte", "ete", "tes", "ses", "ees", "mme"),
    "pt" -> Seq(
      " de", "de ", "os ", " do", "do ", "da ", " da", "ao ", " co", "que",
      " qu", "ue ", "nte", "ent", "em ", " em", "ra ", " pa", "es ", "ade",
      "dad", "ida", "o d", "a d", "res", "cao", " ca", "dos", "as ", "nto",
      " no", "no ", "na ", " na", "com", "par", "ar ", "and", "ada", "men",
      "ess", "sse", "est", "sta", "ta ", "to ", "o c", "o s", "a c", "a s",
      "e a", " e ", "e d", "e s", "s a", "s e", "o a", "por", " po", "or ",
      "pra", "pre", " pr", "pro", "ter", " te", "tem", "tra", " tr", "uma",
      " um", "um ", "mai", " ma", "mas", "ais", "is ", "for", " fo", "ram",
      "ava", "ndo", " ac", "aca", "aco", "oes", "coe", "ico", "ica", "ria",
      "rio", "io ", "ia ", "nha", "ha ", "lha", "seu", " se", "sua", "su "),
    "zh" -> Seq(
      "ng ", "an ", "en ", "shi", "zhe", "ang", "eng", "ong", "ian", "uan",
      "hao", " zh", " sh", "ao ", " yi", "yi ", "ui ", "uo ", " ha", "ha ",
      " ch", "chu", "hen", " wo", "wo ", "de ", " de", "e s", "i s", "gu ",
      "men", " me", "ia ", " xi", "xia", "ing", " li", "li ", "u d", "o s",
      "luo", "zho", "hou", "ou ", " ho", "dao", " da", "da ", "le ", " le",
      "iu ", "jiu", " ji", "jia", "guo", " gu", "dui", " du", "ren", " re",
      "ne ", "nen", "in ", " ne", "mei", "n x", "wei", " we", "you", " yo",
      "yao", "hua", " hu", "hui", "zai", " za", "zi ", "shu", "hu ", "sho",
      "xin", " qi", "qu ", "ai ", "tia", "nia", "lia", "ta ", " ta", "ti ",
      "tin", "min", "ei ", "na ", "qia", "wan", "g d", "ge ", " ge", "i d"))

  /** Quality signals: share of alphabetic chars, mean word length — kept
    * as exact integer numerators/denominators for oracle-stable output. */
  def charCount(text: Column): Column = length(text)
  def nonSpaceChars(text: Column): Column =
    length(regexp_replace(text, " ", ""))
}
