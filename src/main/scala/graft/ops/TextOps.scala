package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.dedup.Dedup
import graft.functions.Text

/** Text-analysis + dedup operators over the `documents` table —
  * the training-data-pipeline surface (SURVEY.md §7.1 step 9).
  */
object TextOps {

  /** Token counting per document, rolled up per language — exact ints. */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .withColumn("n_tokens", Text.tokenCount(col("text")))
      .groupBy("lang")
      .agg(sum("n_tokens").as("total_tokens"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang")

  /** GPT-2-style pre-tokenizer counting: contractions, optional-space
    * letter runs, digit runs, and punctuation runs each count as one
    * token (the ASCII core of the published GPT-2 pattern — both engines'
    * regex dialects agree on it). The estimate every packing/budgeting
    * stage needs, as one codegen'd regexp_count per row — no UDF, no
    * vocab lookup, linear scan. */
  private val bpeIshPattern =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  def textTokensBpe(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        regexp_count(col("text"), lit(bpeIshPattern)).cast("long").as("n_bpe"),
        Text.tokenCount(col("text")).cast("long").as("n_ws"))
      .groupBy("lang")
      .agg(sum("n_bpe").as("bpe_tokens"), sum("n_ws").as("ws_tokens"),
        max(col("n_bpe") - col("n_ws")).as("max_gap"))
      .orderBy("lang")

  private val textTokensBpeOracle: String =
    s"""WITH t AS (SELECT lang,
       |  CAST(len(regexp_extract_all(text,
       |    '${bpeIshPattern.replace("'", "''")}')) AS BIGINT) AS n_bpe,
       |  CAST(len(list_filter(regexp_split_to_array(text, ' +'),
       |    w -> w != '')) AS BIGINT) AS n_ws
       |  FROM documents)
       |SELECT lang, CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
       |  max(n_bpe - n_ws) AS max_gap
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** Quality scoring signals per document (all exact integers). */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"),
        Text.tokenCount(col("text")).as("n_words"),
        Text.vocabHits(col("text"), Seq("the", "a")).as("n_stopwords"),
        Text.charCount(col("text")).as("len_chars"),
        Text.nonSpaceChars(col("text")).as("len_nonspace"))
      .orderBy("doc_id")

  /** Per-document character-entropy quality signal — the
    * information-density heuristic web-curation stacks use beside the
    * count ratios in [[textQuality]] (machine-generated or templated
    * pages sit at the distribution's edges; a compression-ratio proxy
    * without a codec dependency). H = -sum_c p_c log2 p_c over the
    * document's exact BYTE histogram (the compression proxy is
    * byte-based, and on the all-ASCII corpus byte and character
    * entropy coincide — the oracle exploits that equivalence; bytes are
    * read via the same byte-addressed `hex(substr(binary))` trick the
    * aHash media path uses, after a regex `split(text, "")` first cut
    * measured 3.2x slower: empty-pattern java.util.regex per character
    * was the whole cost).
    *
    * Float determinism — NO libm anywhere (upgraded after the sf0.1
    * sweep caught 5/5000 docs flipping the 4th decimal: quantizing a
    * libm `ln` output still has .5 boundaries, and because (nc, n)
    * pairs repeat across thousands of documents, one unlucky pair
    * flips every document containing it): log2(n/nc) is computed by
    * BINARY DIGIT EXTRACTION — the integer exponent from the bit
    * length of the integer quotient, then 20 mantissa digits by
    * repeated squaring of the normalized ratio. Every operation is an
    * IEEE multiply/divide/compare or integer arithmetic, all of which
    * are bit-deterministic across engines (only transcendental
    * library calls differ); the per-term fixed-point value is then a
    * pure integer DIV, so the per-document sum is exact in any order
    * and any engine. Precision: 2^-20 per log digit → the entropy is
    * exact to well inside the 4-decimal display. (Term arithmetic
    * fits BIGINT for documents up to ~16 MB; divide before scaling if
    * that bound ever matters.)
    *
    * Scale shape: one NATIVE fused pass per document
    * ([[graft.functions.expressions.ByteEntropy]] — histogram, portable
    * log and term fold in one codegen'd byte loop), no explode, no
    * aggregate exchange. Linear in corpus bytes; nothing is collected,
    * nothing is pairwise. Bit-identical to the expression form it
    * replaced (now the test-code reference; TextEntropySpec pins row
    * equality on both evaluation paths): the portable log goes through
    * [[graft.functions.PortableMath.log2MicroConst]] — the same
    * exact-IEEE digit extraction, already spec-pinned against the
    * column form — and everything around it is exact integer
    * arithmetic. The `octet_length >= 1` filter preserves the old
    * explode's empty-document behavior (no byte rows ⇒ absent from the
    * output). */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        octet_length(col("text")).as("n"),
        col("text").cast("binary").as("b"))
      .where(col("n") >= 1)
      .select(col("doc_id"), col("lang"),
        graft.functions.expressions.ByteEntropy.byteEntropy(col("b"))
          .as("s"))
      .select(col("doc_id"), col("lang"), col("s.n_chars"),
        col("s.n_distinct_chars"), col("s.entropy_ubits"))
      .orderBy("doc_id")

  private val textEntropyOracle: String =
    """WITH RECURSIVE c AS (SELECT doc_id, lang, length(text) AS n,
      |    unnest(list_filter(string_split(text, ''), x -> x != '')) AS ch
      |  FROM documents),
      |g AS (SELECT doc_id, lang, n, ch, count(*) AS nc
      |  FROM c GROUP BY doc_id, lang, n, ch),
      |p AS (SELECT DISTINCT n, nc FROM g),
      |""".stripMargin +
    graft.functions.PortableMath.sqlLog2MicroCtes("p", "n", "nc", "logt") +
    """,
      |t AS (SELECT g.doc_id, g.lang, g.n,
      |    (CAST(g.nc AS BIGINT) * l.lmicro * 1000000)
      |      // (CAST(g.n AS BIGINT) * 1048576) AS tm
      |  FROM g JOIN logt l ON l.pm_num = g.n AND l.pm_den = g.nc)
      |SELECT doc_id, lang, CAST(max(n) AS BIGINT) AS n_chars,
      |  count(*) AS n_distinct_chars,
      |  CAST(sum(tm) AS BIGINT) AS entropy_ubits
      |FROM t GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin

  /** Language-characteristic sentences planted per document (the
    * synthetic corpus text is language-less filler, so — like
    * [[CurateOps.piiRedact]] planting PII — the fixture derives a
    * deterministic multi-language prefix from the `lang` column, then the
    * classifier runs over prefix + real text). pt is planted on the odd
    * half of the es documents: es/pt is the classic CONFUSABLE pair
    * (shared Romance core vocabulary), so separating them exercises the
    * rank-order profiles where a hit-count argmax collapses. Shared by
    * the Spark query, the DuckDB oracle and the spec reference form. */
  private[ops] val langPhrases: Seq[(String, String)] = Seq(
    "de" -> "der richtige fuchs und die schnellen hunde sich einig in der geschichte",
    "en" -> "the quick brown fox and the young things bring an action of their own making",
    "es" -> "la cantidad del valor de los datos que el estado adecuado menciona en la nacion",
    "fr" -> "les quatre lettres que le document entier faisait envers leur valeur noire",
    "pt" -> "a quantidade do valor dos dados que o estado adequado menciona na nacao e nas cidades",
    "zh" -> "zhe shi yi zhang hen chang de wen jian shang mian you hao duo sheng yong chuan")

  /** Char-trigram language identification, full Cavnar & Trenkle: the
    * document's OWN trigram frequency ranking (count desc, trigram asc —
    * a total order both engines replay) is compared against each
    * language's rank-ordered profile ([[Text.langProfilesRanked]], 100
    * trigrams/language) by out-of-place distance — sum |doc rank −
    * profile rank| over matched trigrams plus that language's OWN
    * profile length per unmatched one; guess = min-distance language
    * (ties by name). A document whose scoring window yields no trigrams
    * at all keeps a row with guess 'und' — the confusion matrix counts
    * every document, degenerate or not. Output = planted-lang x guess
    * confusion counts.
    *
    * Scale shape: one NATIVE fused pass per document
    * ([[graft.functions.expressions.LangIdGuess]] — trigram histogram,
    * ranking, profile distances and argmin in one codegen'd loop over
    * the ≤96-char window), then one tiny (lang, guess) aggregate — no
    * doc_id exchange, no windows, no join, and the corpus is scanned
    * once (the old two-branch union re-scanned it for the trigram-less
    * 'und' docs; the CASE routes them in the same pass by the same
    * predicate). Bit-identical to the expression form it replaced (now
    * the test-code reference; TextLangIdSpec pins row equality on both
    * evaluation paths): same code-point trigram slices, same binary
    * string grouping/tie order, same exact integer distances, same
    * argmin tie rule. */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val elang = when(col("lang") === "es" && col("doc_id") % 2 === 1,
      lit("pt")).otherwise(col("lang"))
    val phrase = langPhrases.tail.foldLeft(
      when(col("elang") === langPhrases.head._1, lit(langPhrases.head._2))) {
      case (acc, (l, p)) => acc.when(col("elang") === l, lit(p))
    }.otherwise(lit(""))
    load(spark, dir, "documents")
      .withColumn("elang", elang)
      .withColumn("s",
        lower(substring(concat(phrase, lit(" "), col("text")), 1, 96)))
      .select(col("elang"),
        // same routing predicate as the old union's und branch: a
        // window with no trigram (null text or < 3 chars) is 'und'
        when(coalesce(length(col("s")), lit(0)) < 3, lit("und"))
          .otherwise(graft.functions.expressions.LangIdGuess
            .langIdGuess(col("s"))).as("guess"))
      .groupBy(col("elang").as("lang"), col("guess"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "guess")
  }

  /** DuckDB replica of the rank-distance classifier: same phrases, same
    * 96-char window, the same rank-ordered profiles as a VALUES relation,
    * the same count-desc/trigram-asc document ranking, the same
    * out-of-place distance and min-distance argmax. */
  private val langidOracle: String = {
    val phraseCase = langPhrases
      .map { case (l, p) => s"WHEN '$l' THEN '$p'" }.mkString(" ")
    val profValues = Text.langProfilesRanked.flatMap { case (l, ts) =>
      ts.zipWithIndex.map { case (t, i) =>
        s"('$l', '${t.replace("'", "''")}', ${i + 1})" }
    }.mkString(",\n    ")
    s"""WITH prof(plang, t, rp) AS (VALUES
       |    $profValues),
       |p AS (SELECT doc_id,
       |    CASE WHEN lang = 'es' AND doc_id % 2 = 1 THEN 'pt' ELSE lang END AS elang,
       |    text FROM documents),
       |sc AS (SELECT doc_id, elang,
       |    lower(substr(CASE elang $phraseCase ELSE '' END || ' ' || text, 1, 96)) AS s
       |  FROM p),
       |tg AS (SELECT doc_id, elang, unnest(list_transform(
       |    generate_series(1, length(s) - 2), i -> substr(s, i, 3))) AS t
       |  FROM sc),
       |cnt AS (SELECT doc_id, elang, t, count(*) AS c
       |  FROM tg GROUP BY doc_id, elang, t),
       |rk AS (SELECT doc_id, elang, t,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, t ASC) AS rd
       |  FROM cnt),
       |nd AS (SELECT doc_id, elang, count(*) AS ntg FROM rk
       |  GROUP BY doc_id, elang),
       |mt AS (SELECT rk.doc_id, prof.plang,
       |    sum(abs(rk.rd - prof.rp)) AS md, count(*) AS nm
       |  FROM rk JOIN prof ON rk.t = prof.t
       |  GROUP BY rk.doc_id, prof.plang),
       |langs AS (SELECT plang, count(*) AS plen FROM prof GROUP BY plang),
       |dist AS (SELECT nd.doc_id, langs.plang,
       |    coalesce(mt.md, 0) + (nd.ntg - coalesce(mt.nm, 0)) * langs.plen AS dist
       |  FROM nd CROSS JOIN langs
       |  LEFT JOIN mt ON mt.doc_id = nd.doc_id AND mt.plang = langs.plang),
       |guess AS (SELECT doc_id, plang FROM (
       |    SELECT doc_id, plang, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY dist ASC, plang ASC) AS rn
       |    FROM dist) t WHERE rn = 1)
       |SELECT sc.elang AS lang, coalesce(g.plang, 'und') AS guess,
       |  count(*) AS n
       |FROM sc LEFT JOIN guess g ON g.doc_id = sc.doc_id
       |GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin
  }

  /** Unicode normalization — the canonicalization step that runs before
    * hashing/dedup on real web text (mixed NFC/NFD sources hash and
    * dedup differently until normalized; accent folding feeds matching).
    * Uses the native codegen
    * [[graft.functions.expressions.UnicodeNormalize]] Expression.
    *
    * The synthetic corpus is pure ASCII (where every form is the
    * identity), so the gate PLANTS a deterministic non-ASCII prefix per
    * document — NFC 'café', its NFD decomposition, NFC/NFD 'Ångström',
    * and the 'ﬁ' compatibility ligature — making each output column
    * load-bearing: NFC must collapse the decomposed variants (len_nfc <
    * len_raw exactly on the NFD rows), NFKC must additionally expand the
    * ligature, strip_accents must fold the marks away. The DuckDB oracle
    * replays with `nfc_normalize` / `strip_accents`; NFKC is emulated by
    * replacing the (only) planted compatibility char before
    * nfc_normalize, exact for this fixture.
    *
    * 100 TB shape: pure map-side codegen'd projection, no shuffle except
    * the gate's ORDER BY; the ASCII fast path inside the Expression
    * short-circuits the overwhelming majority of web-corpus rows. */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.UnicodeNormalize.{normalize, stripAccents}
    val t = col("t")
    load(spark, dir, "documents")
      // escapes, not glyphs: the NFC and NFD variants are visually
      // identical in source; escapes keep them provably distinct
      .withColumn("pre", element_at(array(
        lit("caf\u00e9 "), lit("cafe\u0301 "),
        lit("\u00c5ngstr\u00f6m "), lit("A\u030angstro\u0308m "),
        lit("\ufb01nal "), lit("plain ")),
        (col("doc_id") % 6 + 1).cast("int")))
      .withColumn("t", concat(col("pre"), col("text")))
      .select(col("doc_id"),
        length(t).as("len_raw"),
        length(normalize(t, "NFC")).as("len_nfc"),
        length(normalize(t, "NFKC")).as("len_nfkc"),
        length(stripAccents(t)).as("len_strip"),
        substring(normalize(t, "NFC"), 1, 10).as("nfc_prefix"),
        substring(stripAccents(t), 1, 10).as("strip_prefix"))
      .orderBy("doc_id")
  }

  private val textNormalizeOracle: String =
    """WITH m AS (SELECT doc_id,
      |    ['caf' || chr(233) || ' ', 'cafe' || chr(769) || ' ',
      |     chr(197) || 'ngstr' || chr(246) || 'm ',
      |     'A' || chr(778) || 'ngstro' || chr(776) || 'm ',
      |     chr(64257) || 'nal ', 'plain '][CAST(doc_id % 6 AS INT) + 1]
      |      || text AS t
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(length(t) AS INT) AS len_raw,
      |  CAST(length(nfc_normalize(t)) AS INT) AS len_nfc,
      |  CAST(length(nfc_normalize(replace(t, chr(64257), 'fi'))) AS INT)
      |    AS len_nfkc,
      |  CAST(length(strip_accents(t)) AS INT) AS len_strip,
      |  substr(nfc_normalize(t), 1, 10) AS nfc_prefix,
      |  substr(strip_accents(t), 1, 10) AS strip_prefix
      |FROM m ORDER BY doc_id""".stripMargin

  /** Rolling-hash document fingerprint (first 64 chars, poly-31 mod 1e9+7). */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"), Text.fingerprint(col("text"), 64).as("fp"))
      .orderBy("doc_id")

  /** Exact n-gram Jaccard near-dup pairs, blocked by (lang, source).
    *
    * Computed relationally from flat (id, hash) shingle rows: the
    * intersection join on (block, shingle-hash) only materializes pairs
    * that SHARE a shingle — the dense block cross-product (and its
    * array_intersect per pair) never exists. Pairs with an empty
    * intersection have Jaccard 0 and can't pass a positive threshold,
    * so the output is identical to the oracle's pairwise definition. */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    // materialize once: sizes + both join sides reuse these rows
    val rows = Dedup.shingleRows(docs, "text", "doc_id", 3)
      .join(docs.select(col("doc_id").as("id"), col("lang"), col("source")), Seq("id"))
      .transform(graft.pipeline.Checkpoints.stable)
    val sizes = rows.groupBy("id").agg(count(lit(1)).as("sz"))
    val a = rows.toDF("id_a", "h", "lang", "source")
    val b = rows.toDF("id_b", "h", "lang", "source")
    a.join(b, Seq("lang", "source", "h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("ni"))
      .join(sizes.toDF("id_a", "sz_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "sz_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("ni") / (col("sz_a") + col("sz_b") - col("ni"))).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
      .orderBy("id_a", "id_b")
  }

  /** The corpus with exact-copy plants: every doc_id < 50 duplicated
    * under a shifted id — the q_semdedup trick that lets a production
    * pipeline with engine-native hashing run in a provably-exact regime
    * (identical inputs hash identically under ANY hash function, so the
    * planted pairs survive every banding no matter the engine). */
  private def plantedDocs(spark: SparkSession, dir: String): DataFrame = {
    val base = load(spark, dir, "documents")
    base.unionByName(base.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 100000))
  }

  private val plantedDocsCte: String =
    """e AS (SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50)""".stripMargin

  /** MinHash-LSH through the PRODUCTION path (xxhash64 shingles, engine
    * `hash` band buckets, exact-Jaccard verify), run in the exact-
    * duplicate regime that makes its output hash-independent — the
    * q_semdedup playbook: plant exact copies (doc_id < 50 under shifted
    * ids) and set threshold = 1.0. Identical shingle sets produce
    * identical signatures under ANY hash family, so every Jaccard-1 pair
    * collides in every band (recall structurally 1.0) and the exact
    * verify keeps nothing else — the output is exactly the pairs with
    * identical distinct-shingle sets, which the oracle computes with no
    * hashing at all. The 0.2-threshold full pipeline differential is
    * carried by q_dedup_minhash_portable; recall at 0.2 is asserted in
    * DedupAnnSpec. */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(plantedDocs(spark, dir), "text", "doc_id",
        shingleSize = 3, numHashes = 32, bands = 8, threshold = 1.0)
      .orderBy("id_a", "id_b")

  private val minhashExactOracle: String =
    s"""WITH $plantedDocsCte,
      |w AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(text, ' +'), x -> x != '') AS w
      |  FROM e),
      |k AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
      |    list_transform(generate_series(1, len(w) - 2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))), chr(1))) AS kk
      |  FROM w WHERE len(w) >= 3)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(1.0 AS DOUBLE) AS jaccard
      |FROM k a JOIN k b ON a.kk = b.kk AND a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin

  /** SimHash through the PRODUCTION path (xxhash64 token hashes, 64-bit
    * signatures, quarter banding, hamming <= 10), output restricted to
    * the hash-independent subset: pairs whose token MULTISETS are
    * identical. Bit sums are pure multiset functions, so an identical
    * multiset pair shares its full signature under ANY hash family —
    * quarter 0 collides, hamming is structurally 0, recall survives any
    * engine. (The unrestricted hamming-0 set is NOT oracle-able: on this
    * corpus 2-29 genuinely distinct near-dup pairs collide at hamming 0
    * under xxhash64, measured at sf0.01-0.1 — that engine-native surface
    * is carried by q_dedup_simhash_portable's md5 differential.) */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = plantedDocs(spark, dir)
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxDist = 10)
    val key = docs.select(col("doc_id"),
      sha2(to_json(array_sort(Text.tokens(col("text")))), 256).as("k"))
    pairs.join(key.toDF("id_a", "k_a"), Seq("id_a"))
      .join(key.toDF("id_b", "k_b"), Seq("id_b"))
      .filter(col("k_a") === col("k_b"))
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
      .orderBy("id_a", "id_b")
  }

  private val simhashExactOracle: String =
    s"""WITH $plantedDocsCte,
      |k AS (SELECT doc_id, md5(array_to_string(list_sort(
      |    list_filter(regexp_split_to_array(text, ' +'), x -> x != '')),
      |    chr(1))) AS kk
      |  FROM e
      |  WHERE len(list_filter(regexp_split_to_array(text, ' +'),
      |    x -> x != '')) > 0)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS dist
      |FROM k a JOIN k b ON a.kk = b.kk AND a.doc_id < b.doc_id
      |ORDER BY id_a, id_b""".stripMargin

  /** SimHash with the engine-portable md5-derived 60-bit token hash: the
    * SAME pipeline (bit sums, quarter banding, hamming threshold) but
    * every hash reproducible in DuckDB — upgrading SimHash from a
    * rows-only check to a full differential of the algorithm. */
  def dedupSimhashPortable(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(load(spark, dir, "documents"), "text", "doc_id",
        maxDist = 10, tokenHash = Dedup.md5Hash60, nBits = 60)
      .orderBy("id_a", "id_b")

  /** MinHash-LSH with every stage engine-portable: md5-derived shingle
    * hashes, the published affine permutations, banding by the literal
    * 4-value band slice (array-equality join, no engine-specific bucket
    * hash), exact Jaccard verify — the full LSH pipeline as a strict
    * differential against DuckDB. The production `dedupMinhashLsh` keeps
    * the faster xxhash64 + murmur-bucket path (rows-only check). */
  def dedupMinhashPortable(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPortable(load(spark, dir, "documents"), "text", "doc_id",
        shingleSize = 3, numHashes = 32, bands = 8, threshold = 0.2)
      .orderBy("id_a", "id_b")

  /** The END-TO-END dedup-grouping deliverable, exactly oracled: exact
    * sha256 representatives → portable MinHash-LSH edges → transitive-
    * closure group ids, replayed in DuckDB with a recursive CTE over the
    * same edges. Verifies the whole pipeline a training-data run would
    * consume, not just one stage. */
  def dedupGroupsPortable(spark: SparkSession, dir: String): DataFrame =
    // maxIter 20: min-label propagation needs up-to-diameter iterations
    // and the oracle computes the TRUE closure; convergence exits early
    // on real (small-diameter) dedup clusters, so the bound is free.
    Dedup.nearDupGroups(load(spark, dir, "documents"), "text", "doc_id",
        threshold = 0.2, maxIter = 20, portableEdges = true)
      .orderBy("doc_id")

  /** CTE chain replaying the portable MinHash-LSH over source relation
    * `src` — the exact permutation constants and band slices, ending in
    * `pairs(id_a, id_b, jaccard)` at threshold 0.2. Shared by the
    * pair-level and end-to-end-groups oracles. */
  /** The index half of [[minhashCtes]], with every CTE name prefixed by
    * `pfx` so two sources (e.g. a corpus and an incoming batch) can be
    * banded side by side in one oracle: `{pfx}w → {pfx}sh → {pfx}hd
    * (doc_id, h) → {pfx}sig → {pfx}band (doc_id, qi, bs)`. `pfx = ""`
    * reproduces the original single-source chain byte-for-byte. */
  private def minhashBandCtes(src: String, pfx: String): String = {
    val p = Dedup.minhashPrime
    val perms = Dedup.minhashPerms(32)
    // mod p ONLY inside the permutation (matching minhashSignatures);
    // sizes/intersections must use the RAW 60-bit hash — a mod-p
    // collision between distinct shingles would otherwise shrink the
    // oracle's set cardinalities while Spark's stay exact.
    val minCols = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min(((h % $p) * $a + $b) % $p) AS m$i" }.mkString(",\n  ")
    val bandSelects = (0 until 8).map { q =>
      val ms = (0 until 4).map(r => s"m${q * 4 + r}").mkString(", ")
      s"SELECT doc_id, $q AS qi, [$ms] AS bs FROM ${pfx}sig"
    }.mkString("\n  UNION ALL ")
    s"""${pfx}w AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(text, ' +'), x -> x != '') AS w
       |  FROM $src),
       |${pfx}sh AS (SELECT doc_id, unnest(CASE WHEN len(w) >= 3 THEN
       |    list_distinct(list_transform(generate_series(1, len(w) - 2),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
       |    ELSE [] END) AS s
       |  FROM ${pfx}w),
       |${pfx}hd AS MATERIALIZED (SELECT DISTINCT doc_id,
       |    CAST('0x' || substr(md5(s), 2, 15) AS BIGINT) AS h
       |  FROM ${pfx}sh),
       |${pfx}sig AS MATERIALIZED (SELECT doc_id,
       |  $minCols
       |  FROM ${pfx}hd GROUP BY doc_id),
       |${pfx}band AS MATERIALIZED (
       |  $bandSelects)""".stripMargin
  }

  /** MATERIALIZED on every multi-referenced CTE: DuckDB inlines plain
    * CTEs per reference, so un-hinted, the recursive closure re-derived
    * the ENTIRE MinHash chain once per recursion step — measured 177 s
    * on an 87-doc novel set vs sub-second materialized. */
  private[ops] def minhashCtes(src: String): String = {
    s"""${minhashBandCtes(src, "")},
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM band a JOIN band b ON a.qi = b.qi AND a.bs = b.bs
       |    AND a.doc_id < b.doc_id),
       |sz AS MATERIALIZED (SELECT doc_id, count(*) AS sz FROM hd GROUP BY doc_id),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS ni
       |  FROM cand c
       |  JOIN hd x ON x.doc_id = c.id_a
       |  JOIN hd y ON y.doc_id = c.id_b AND y.h = x.h
       |  GROUP BY c.id_a, c.id_b),
       |pairs AS MATERIALIZED (SELECT i.id_a, i.id_b,
       |    i.ni / (sa.sz + sb.sz - i.ni) AS jaccard
       |  FROM inter i
       |  JOIN sz sa ON sa.doc_id = i.id_a
       |  JOIN sz sb ON sb.doc_id = i.id_b
       |  WHERE i.ni / (sa.sz + sb.sz - i.ni) >= 0.2)""".stripMargin
  }

  /** DuckDB replica of the portable MinHash-LSH pairs. */
  private val minhashPortableOracle: String =
    s"""WITH ${minhashCtes("documents")}
       |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin

  /** DuckDB replica of the END-TO-END grouping: sha256 representatives,
    * portable LSH edges, transitive closure via a recursive CTE (the TRUE
    * fixpoint the Spark propagation must reach). */
  private val groupsPortableOracle: String =
    s"""WITH RECURSIVE
       |repmap AS MATERIALIZED (SELECT doc_id,
       |    min(doc_id) OVER (PARTITION BY sha256(text)) AS rep
       |  FROM documents),
       |repdocs AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d
       |  JOIN repmap r ON d.doc_id = r.doc_id AND r.doc_id = r.rep),
       |${minhashCtes("repdocs")},
       |edges AS MATERIALIZED (SELECT id_a AS id, id_b AS nbr FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS label FROM repdocs
       |  UNION
       |  SELECT e.id, r.label FROM edges e JOIN reach r ON r.id = e.nbr),
       |labels AS (SELECT id, min(label) AS group_id FROM reach GROUP BY id)
       |SELECT rm.doc_id, l.group_id FROM repmap rm
       |JOIN labels l ON l.id = rm.rep ORDER BY doc_id""".stripMargin

  /** Incremental dedup — the production shape of continuous corpus
    * ingestion: a NEW batch (doc_id % 5 = 0, one fifth of the corpus)
    * is assigned against the EXISTING corpus (the rest) without
    * re-grouping the corpus. Exact sha2 match first, else an LSH
    * band-collision verified at jaccard >= 0.2, else batch-local novel
    * groups ([[Dedup.incrementalNearDup]]). */
  /** In-memory corpus relations, memoized fixture prep (the persisted
    * twin is cidxCache below): production builds the corpus indexes
    * once per corpus — or holds them resident across a run's batches —
    * and pays per-batch cost only. Round 16 moved the gate onto
    * [[graft.dedup.Dedup.incrementalNearDupPrepared]] so it times that
    * per-batch decision path (the suite's #2 gate since r13 was mostly
    * timing the corpus build); the from-scratch composite
    * `incrementalNearDup` remains the API for one-shot runs and is
    * exercised by DedupSpec and the streaming ingest. Differential
    * unchanged — prep must be invisible in the decision. */
  private val crelCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), graft.dedup.Dedup.CorpusRelations]

  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    // keyed on the documents table's data token too: a replica rebuilt
    // in place at the same path must not serve a stale corpus index.
    // Evicting the superseded entry drops the only strong reference to
    // its localCheckpoint blocks, so the ContextCleaner reclaims them.
    val tok = graft.Tables.dataToken(dir, "documents")
    val rel = crelCache.synchronized {
      crelCache.keys.filter(k => k._1 == spark && k._2 == dir && k._3 != tok)
        .foreach(crelCache.remove)
      crelCache.getOrElseUpdate((spark, dir, tok),
        graft.dedup.Dedup.corpusRelations(
          docs.filter(col("doc_id") % 5 =!= 0), "text", "doc_id"))
    }
    Dedup.incrementalNearDupPrepared(rel,
        docs.filter(col("doc_id") % 5 === 0),
        "text", "doc_id", threshold = 0.2, maxIter = 20)
      .orderBy("doc_id")
  }

  /** The same incremental decision through the PERSISTED index path
    * ([[graft.dedup.CorpusIndex]]): the corpus's exact-hash, shingle, and
    * band-signature indexes are built once into a Store (memoized fixture
    * prep, like the ref-track store — production builds them once per
    * corpus, not per batch) and the batch is assigned by READING them.
    * Diffs against the identical from-scratch oracle: the index hop must
    * be invisible in the decision. */
  private val cidxCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), graft.pipeline.Store]

  def dedupIncrementalIndexed(spark: SparkSession, dir: String): DataFrame = {
    // synchronized: the builder writes real index tables; a racing
    // duplicate build must not interleave with the winner's reads.
    // Data-token key: see crelCache — a rebuilt replica re-indexes.
    val tok = graft.Tables.dataToken(dir, "documents")
    val store = cidxCache.synchronized {
      cidxCache.keys.filter(k => k._1 == spark && k._2 == dir && k._3 != tok)
        .foreach(cidxCache.remove)
      cidxCache.getOrElseUpdate((spark, dir, tok), {
        val st = new graft.pipeline.Store(spark, SourceSinkOps.tmp("cidx", dir))
        graft.dedup.CorpusIndex.build(st, "corpus",
          load(spark, dir, "documents").filter(col("doc_id") % 5 =!= 0),
          "text", "doc_id")
        st
      })
    }
    graft.dedup.CorpusIndex.assign(store, "corpus",
        load(spark, dir, "documents").filter(col("doc_id") % 5 === 0),
        "text", "doc_id", threshold = 0.2, maxIter = 20)
      .orderBy("doc_id")
  }

  /** DuckDB replica of ONE incremental decision as a parameterized
    * derived table `(corpusSel, batchSel) -> (doc_id, assigned,
    * matched)`: corpus exact-hash index, batch exact collapse,
    * side-by-side band CTEs ([[minhashBandCtes]] prefixes c/b),
    * cross-source candidate verify, and the recursive closure over the
    * novel leftovers. The nested WITH RECURSIVE scopes cleanly, so the
    * streaming oracle instantiates it once per micro-batch. */
  private def incrementalDecisionSql(corpusSel: String,
      batchSel: String): String =
    s"""(WITH RECURSIVE
       |corpus AS ($corpusSel),
       |batch AS ($batchSel),
       |cex AS (SELECT sha256(text) AS xh, min(doc_id) AS cid
       |  FROM corpus GROUP BY 1),
       |brm AS MATERIALIZED (SELECT doc_id,
       |    min(doc_id) OVER (PARTITION BY sha256(text)) AS rep FROM batch),
       |repdocs AS MATERIALIZED (SELECT b.doc_id, b.text FROM batch b
       |  JOIN brm r ON b.doc_id = r.doc_id AND r.doc_id = r.rep),
       |rex AS MATERIALIZED (SELECT r.doc_id, c.cid FROM repdocs r
       |  JOIN cex c ON sha256(r.text) = c.xh),
       |rem AS MATERIALIZED (SELECT doc_id, text FROM repdocs
       |  WHERE doc_id NOT IN (SELECT doc_id FROM rex)),
       |${minhashBandCtes("corpus", "c")},
       |${minhashBandCtes("rem", "b")},
       |xcand AS (SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
       |  FROM bband b JOIN cband c ON b.qi = c.qi AND b.bs = c.bs),
       |bsz AS (SELECT doc_id, count(*) AS sz FROM bhd GROUP BY doc_id),
       |csz AS (SELECT doc_id, count(*) AS sz FROM chd GROUP BY doc_id),
       |xinter AS (SELECT x.bid, x.cid, count(*) AS ni FROM xcand x
       |  JOIN bhd p ON p.doc_id = x.bid
       |  JOIN chd q ON q.doc_id = x.cid AND q.h = p.h
       |  GROUP BY x.bid, x.cid),
       |xnear AS MATERIALIZED (SELECT i.bid, min(i.cid) AS cid FROM xinter i
       |  JOIN bsz ON bsz.doc_id = i.bid JOIN csz ON csz.doc_id = i.cid
       |  WHERE i.ni / (bsz.sz + csz.sz - i.ni) >= 0.2 GROUP BY i.bid),
       |novel AS MATERIALIZED (SELECT doc_id, text FROM rem
       |  WHERE doc_id NOT IN (SELECT bid FROM xnear)),
       |${minhashCtes("novel")},
       |edges AS MATERIALIZED (SELECT id_a AS id, id_b AS nbr FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS label FROM novel
       |  UNION
       |  SELECT e.id, r.label FROM edges e JOIN reach r ON r.id = e.nbr),
       |nlab AS (SELECT id, min(label) AS lbl FROM reach GROUP BY id),
       |ra AS (
       |  SELECT doc_id, cid AS assigned, 'exact' AS matched FROM rex
       |  UNION ALL SELECT bid, cid, 'near' FROM xnear
       |  UNION ALL SELECT novel.doc_id, lbl, 'novel' FROM novel
       |    JOIN nlab ON nlab.id = novel.doc_id)
       |SELECT brm.doc_id, ra.assigned, ra.matched
       |FROM brm JOIN ra ON ra.doc_id = brm.rep)""".stripMargin

  private val incrementalOracle: String =
    s"""SELECT doc_id, assigned, matched FROM
       |${incrementalDecisionSql(
          "SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0",
          "SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0")} t
       |ORDER BY doc_id""".stripMargin

  /** Streaming corpus ingestion with near-dup gating
    * ([[graft.streaming.StreamingDedup]]): the batch documents arrive as
    * TWO parquet files in a landing dir (doc_id % 10 = 0, then % 10 = 5;
    * file mtimes pin the micro-batch order), each micro-batch is
    * assigned against the persisted corpus indexes, its decision
    * appended, and its accepted novel representatives appended to the
    * indexes — so batch 2's documents can exact/near-match batch 1's
    * novels. The DuckDB oracle replays the two decisions SEQUENTIALLY
    * (batch 2's corpus = corpus ∪ batch 1's accepted novels): the gate
    * fails if streaming order, the index append, or the decision shape
    * drifts from the batch semantics. Fixture prep (index build, landing
    * files, stream execution) is memoized; the gate reads the decisions
    * table. */
  private val sdedupCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), graft.pipeline.Store]

  def dedupStreamIngest(spark: SparkSession, dir: String): DataFrame = {
    // synchronized: a racing duplicate builder would run a second stream
    // against the same checkpoint dir and store
    val store = sdedupCache.synchronized {
      sdedupCache.getOrElseUpdate((spark, dir), {
      val base = SourceSinkOps.tmp("sdedup", dir)
      graft.pipeline.FsUtils.deleteRecursively(new java.io.File(base))
      val docs = load(spark, dir, "documents")
      val st = new graft.pipeline.Store(spark, s"$base/store")
      graft.dedup.CorpusIndex.build(st, "c",
        docs.filter(col("doc_id") % 5 =!= 0), "text", "doc_id")
      val landing = s"$base/landing"
      new java.io.File(landing).mkdirs()
      // one single-file parquet per micro-batch; fixed mtimes order them
      def writeBatchFile(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmpd = s"$base/tmp_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmpd)
        val part = new java.io.File(tmpd).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$landing/$name")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        // the whole micro-batch ORDER rests on these mtimes (the file
        // source sorts by modification time) — fail loudly, don't flake
        require(dst.setLastModified(mtime),
          s"could not pin mtime on $dst — batch order would be undefined")
      }
      val docsBT = docs.select(col("doc_id"), col("text"))
      val t0 = 1700000000000L // any fixed epoch — only the ORDER matters
      writeBatchFile(docsBT.filter(col("doc_id") % 10 === 0), "b0.parquet", t0)
      // batch 2 also carries re-keyed COPIES of batch 1's documents: a
      // copy of an accepted batch-1 novel must come back 'exact' against
      // its appended index entry, and a copy of a non-representative
      // batch-1 novel must come back 'near' to its appended
      // representative — the cross-batch resolution paths the append
      // lifecycle exists for (the raw corpus has no near-dup pairs that
      // happen to straddle the %10 split).
      writeBatchFile(docsBT.filter(col("doc_id") % 10 === 5)
          .unionAll(docsBT.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))),
        "b1.parquet", t0 + 3600000L)
      graft.streaming.StreamingDedup.corpusIngest(spark, landing,
        docsBT.schema, st, "c", s"$base/ck", "text", "doc_id",
        threshold = 0.2, maxIter = 20).awaitTermination()
      st
    })}
    spark.read.parquet(store.path("decisions")).orderBy("doc_id")
  }

  /** The [[dedupStreamIngest]] fixture re-run with `compactEvery =
    * Some(1)`: every micro-batch folds the index and decision batch
    * files into one compacted generation (always excluding the current
    * tag — the replay-fencing contract [[graft.dedup.CorpusIndex.compact]]
    * documents). Shares the [[streamDedupOracle]]: compaction must be
    * INVISIBLE in the decisions — same rows, same hashes — while the
    * builder require-asserts it actually ran and bounded the file counts
    * (without it this fixture leaves 2 batch drops per table; a
    * long-running ingest leaves one per batch). */
  def dedupStreamCompact(spark: SparkSession, dir: String): DataFrame = {
    val store = sdedupCache.synchronized {
      sdedupCache.getOrElseUpdate((spark, dir + "#compact"), {
      val base = SourceSinkOps.tmp("sdedupc", dir)
      graft.pipeline.FsUtils.deleteRecursively(new java.io.File(base))
      val docs = load(spark, dir, "documents")
      val st = new graft.pipeline.Store(spark, s"$base/store")
      graft.dedup.CorpusIndex.build(st, "c",
        docs.filter(col("doc_id") % 5 =!= 0), "text", "doc_id")
      val landing = s"$base/landing"
      new java.io.File(landing).mkdirs()
      def writeBatchFile(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmpd = s"$base/tmp_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmpd)
        val part = new java.io.File(tmpd).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(s"$landing/$name")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        require(dst.setLastModified(mtime),
          s"could not pin mtime on $dst — batch order would be undefined")
      }
      val docsBT = docs.select(col("doc_id"), col("text"))
      val t0 = 1700000000000L
      writeBatchFile(docsBT.filter(col("doc_id") % 10 === 0), "b0.parquet", t0)
      writeBatchFile(docsBT.filter(col("doc_id") % 10 === 5)
          .unionAll(docsBT.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))),
        "b1.parquet", t0 + 3600000L)
      graft.streaming.StreamingDedup.corpusIngest(spark, landing,
        docsBT.schema, st, "c", s"$base/ck", "text", "doc_id",
        threshold = 0.2, maxIter = 20, compactEvery = Some(1))
        .awaitTermination()
      // compaction really ran and bounded the per-table file counts:
      // each index table is down to one compacted generation plus the
      // final (excluded) batch's files
      Seq("c_exact", "c_shingles", "c_bands", "decisions").foreach { t =>
        val files = Option(new java.io.File(st.path(t)).listFiles())
          .getOrElse(Array.empty).map(_.getName)
          .filter(_.endsWith(".parquet"))
        require(files.exists(_.startsWith("compacted_")),
          s"$t: compaction never produced a compacted generation")
        // the bound: one compacted generation + the excluded (still
        // replayable) final batch — nothing older survives as a drop
        require(files.forall(n => n.startsWith("compacted_")
            || n.startsWith("batch_1_")),
          s"$t: stale uncompacted files: ${files.mkString(", ")}")
      }
      st
    })}
    spark.read.parquet(store.path("decisions")).orderBy("doc_id")
  }

  // AS MATERIALIZED throughout: the decision body references its corpus
  // ~6 times, so an inlined acc0 (which embeds the ENTIRE d0 decision)
  // would replay d0 per reference — and per-reference parquet scans of
  // `documents` were observed blowing the open-files limit at 2x
  // instantiation. Materializing docs/d0/acc0 pins each to one
  // evaluation.
  private val streamDedupOracle: String =
    s"""WITH docs AS MATERIALIZED (SELECT doc_id, text FROM documents),
       |d0 AS MATERIALIZED (SELECT * FROM ${incrementalDecisionSql(
          "SELECT doc_id, text FROM docs WHERE doc_id % 5 <> 0",
          "SELECT doc_id, text FROM docs WHERE doc_id % 10 = 0")} t0),
       |acc0 AS MATERIALIZED (SELECT d.doc_id, d.text FROM docs d
       |  JOIN d0 ON d0.doc_id = d.doc_id
       |  WHERE d0.matched = 'novel' AND d0.assigned = d.doc_id),
       |d1 AS (SELECT * FROM ${incrementalDecisionSql(
          "SELECT doc_id, text FROM docs WHERE doc_id % 5 <> 0"
            + " UNION ALL SELECT doc_id, text FROM acc0",
          "SELECT doc_id, text FROM docs WHERE doc_id % 10 = 5"
            + " UNION ALL SELECT doc_id + 1000000, text FROM docs"
            + " WHERE doc_id % 10 = 0")} t1)
       |SELECT doc_id, assigned, matched FROM d0
       |UNION ALL SELECT doc_id, assigned, matched FROM d1
       |ORDER BY doc_id""".stripMargin

  /** DuckDB replica of the portable SimHash — generated SQL: 60 bit-sum
    * aggregates, sign bits reassembled, 15-bit quarter banding, hamming
    * via bit_count(xor). */
  /** Per-document duplicate-SPAN contamination
    * ([[graft.dedup.Dedup.duplicateSpans]]): 8-token windows occurring
    * in >= 2 distinct documents. */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.duplicateSpans(load(spark, dir, "documents"),
        "text", "doc_id", k = 8)
      .orderBy("doc_id")

  /** DuckDB replica of the span detector: same filtered whitespace
    * tokenization, same 1-based inclusive window slices, same md5-60
    * window hash, same distinct-doc duplication rule. */
  private val dedupSpansOracle: String = {
    val k = 8
    s"""WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, ' +'),
       |    w -> w != '') AS toks FROM documents),
       |w AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(array_to_string(toks[i:i+${k - 1}], ' ')), 2, 15)
       |      AS BIGINT) AS h
       |  FROM t, unnest(generate_series(1, greatest(len(toks) - ${k - 1}, 0))) AS u(i)),
       |dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd
       |    FROM w GROUP BY h) d WHERE nd >= 2),
       |pd AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id),
       |dd AS (SELECT doc_id, count(*) AS n_dup FROM w
       |  JOIN dup USING (h) GROUP BY doc_id)
       |SELECT pd.doc_id AS doc_id, CAST(pd.n_windows AS BIGINT) AS n_windows,
       |  CAST(coalesce(dd.n_dup, 0) AS BIGINT) AS n_dup_windows,
       |  (CAST(coalesce(dd.n_dup, 0) AS BIGINT) * 1000000)
       |    // CAST(pd.n_windows AS BIGINT) AS dup_ppm
       |FROM pd LEFT JOIN dd ON dd.doc_id = pd.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Line-level dedup / boilerplate removal
    * ([[graft.dedup.Dedup.lineDedup]]). The synthetic corpus is
    * single-line, so — the established planting pattern
    * ([[CurateOps.piiRedact]], [[textLangid]]) — the gate first gives
    * every document real line structure: a per-SOURCE header line (the
    * classic repeated site boilerplate; each source has many documents,
    * so every header crosses the minDocs=3 bar), the body re-wrapped at
    * six tokens per line, and one corpus-wide footer line. The operator
    * must then remove exactly the cross-document lines and reassemble
    * the bodies in order — counts AND the rewritten text diff against
    * the oracle. */
  def dedupLines(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        Text.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        concat_ws("\n",
          concat(lit("share and subscribe to "), col("source"),
            lit(" channel updates")),
          array_join(transform(
            sequence(lit(0L),
              floor(greatest(size(col("w")).cast("long") - 1L, lit(0L))
                / 6L).cast("long")),
            i => concat_ws(" ",
              slice(col("w"), (i * 6 + 1).cast("int"), lit(6)))), "\n"),
          lit("all rights reserved worldwide")).as("t"))
    graft.dedup.Dedup.lineDedup(docs, "t", "doc_id", minDocs = 3)
      .orderBy("doc_id")
  }

  /** DuckDB replica of the line dedup: same planted header/body/footer
    * construction, same distinct-doc >= 3 rule on raw line text (the
    * Spark side's xxhash64 grouping key is hash-function-independent —
    * see the [[graft.dedup.Dedup.lineDedup]] scaladoc), same
    * order-preserving reassembly. */
  private val dedupLinesOracle: String =
    """WITH w AS (SELECT doc_id, source,
      |    list_filter(regexp_split_to_array(text, ' +'), x -> x != '') AS w
      |  FROM documents),
      |built AS (SELECT doc_id,
      |    'share and subscribe to ' || source || ' channel updates'
      |    || chr(10) ||
      |    array_to_string(list_transform(
      |      generate_series(0, greatest(len(w) - 1, 0) // 6),
      |      i -> array_to_string(list_slice(w, i * 6 + 1, i * 6 + 6), ' ')),
      |      chr(10))
      |    || chr(10) || 'all rights reserved worldwide' AS t
      |  FROM w),
      |l AS (SELECT doc_id, unnest(ls) AS line,
      |    unnest(generate_series(1, len(ls))) AS pos
      |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM built)),
      |dup AS (SELECT line FROM l GROUP BY line
      |  HAVING count(DISTINCT doc_id) >= 3),
      |m AS (SELECT l.doc_id, l.pos, l.line,
      |    CASE WHEN d.line IS NULL THEN 0 ELSE 1 END AS dup
      |  FROM l LEFT JOIN dup d ON d.line = l.line)
      |SELECT doc_id, count(*) AS n_lines, CAST(sum(dup) AS BIGINT) AS n_removed,
      |  coalesce(string_agg(CASE WHEN dup = 0 THEN line END,
      |    chr(10) ORDER BY pos), '') AS clean_text
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val simhashPortableOracle: String = {
    val bitSums = (0 until 60).map(i =>
      s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(",\n  ")
    val sigSum = (0 until 60).map(i =>
      s"(CASE WHEN b$i >= 0 THEN (1::BIGINT << $i) ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, ' +'),
       |    w -> w != '')) AS t
       |  FROM documents),
       |h AS (SELECT doc_id, CAST('0x' || substr(md5(t), 2, 15) AS BIGINT) AS h
       |  FROM toks),
       |bits AS (SELECT doc_id,
       |  $bitSums
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigSum AS sig FROM bits),
       |q AS (SELECT doc_id, sig, qi, (sig >> (qi * 15)) & 32767 AS qh
       |  FROM sig, (VALUES (0), (1), (2), (3)) AS v(qi)),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    bit_count(xor(a.sig, b.sig)) AS dist
       |  FROM q a JOIN q b ON a.qi = b.qi AND a.qh = b.qh
       |    AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(dist AS INT) AS dist FROM pairs
       |WHERE dist <= 10 ORDER BY id_a, id_b""".stripMargin
  }

  /** End-to-end dedup grouping through the PRODUCTION path (exact-first
    * sha256 representatives, engine-native LSH edges, transitive-closure
    * group ids), run in the threshold-1.0 exact regime (the q_semdedup
    * playbook + planted copies): Jaccard-1 edges exist exactly between
    * representatives with identical distinct-shingle sets — an
    * EQUIVALENCE relation, so the closure is plain grouping by shingle-
    * set key and the whole output (exact collapse → LSH recall on
    * identical sets, structurally 1.0 under any hash → closure →
    * re-expansion) is engine-independent. The 0.2-threshold closure
    * differential is carried by q_dedup_groups_portable. */
  def dedupGroups(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupGroups(plantedDocs(spark, dir), "text", "doc_id",
        threshold = 1.0)
      .orderBy("doc_id")

  private val groupsExactOracle: String =
    s"""WITH $plantedDocsCte,
      |r AS (SELECT doc_id, text,
      |    min(doc_id) OVER (PARTITION BY text) AS rep
      |  FROM e),
      |reps AS (SELECT rep AS id,
      |    list_filter(regexp_split_to_array(min(text), ' +'), x -> x != '') AS w
      |  FROM r WHERE doc_id = rep GROUP BY rep),
      |k AS (SELECT id, CASE WHEN len(w) >= 3 THEN
      |    md5(array_to_string(list_sort(list_distinct(
      |      list_transform(generate_series(1, len(w) - 2),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))), chr(1)))
      |    ELSE 'solo:' || id END AS kk
      |  FROM reps),
      |lab AS (SELECT id, min(id) OVER (PARTITION BY kk) AS grp FROM k)
      |SELECT r.doc_id, lab.grp AS group_id
      |FROM r JOIN lab ON lab.id = r.rep
      |ORDER BY r.doc_id""".stripMargin

  /** The end-to-end corpus-curation pipeline a training-data run actually
    * executes: near-dup removal (keep each cluster's representative) →
    * quality gate (minimum token count) → per-language corpus stats.
    * Every stage is engine-portable, so the WHOLE pipeline diffs against
    * one composed DuckDB query. */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val groups = Dedup.nearDupGroups(docs, "text", "doc_id",
      threshold = 0.2, maxIter = 20, portableEdges = true)
    val survivors = groups.filter(col("group_id") === col("doc_id"))
      .select("doc_id")
    docs.join(survivors, Seq("doc_id"))
      .withColumn("n_tokens", Text.tokenCount(col("text")))
      .filter(col("n_tokens") >= 5)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .orderBy("lang")
  }

  private val curationOracle: String =
    s"""WITH RECURSIVE
       |repmap AS MATERIALIZED (SELECT doc_id,
       |    min(doc_id) OVER (PARTITION BY sha256(text)) AS rep
       |  FROM documents),
       |repdocs AS MATERIALIZED (SELECT d.doc_id, d.text FROM documents d
       |  JOIN repmap r ON d.doc_id = r.doc_id AND r.doc_id = r.rep),
       |${minhashCtes("repdocs")},
       |edges AS MATERIALIZED (SELECT id_a AS id, id_b AS nbr FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS label FROM repdocs
       |  UNION
       |  SELECT e.id, r.label FROM edges e JOIN reach r ON r.id = e.nbr),
       |labels AS (SELECT id, min(label) AS group_id FROM reach GROUP BY id),
       |surv AS (SELECT rm.doc_id FROM repmap rm
       |  JOIN labels l ON l.id = rm.rep WHERE l.group_id = rm.doc_id),
       |tok AS (SELECT doc_id, lang,
       |    len(list_filter(regexp_split_to_array(text, ' +'), w -> w != '')) AS n
       |  FROM documents)
       |SELECT lang, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
       |FROM tok JOIN surv USING (doc_id) WHERE n >= 5
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Overlapping token-window chunking — the retrieval/embedding-prep
    * primitive (chunk size 64, stride 48, 16-token overlap): every
    * document becomes a prefix of windows [s, s+63], a window starting
    * only if its predecessor didn't already reach the end of the
    * document. Pure codegen'd column expressions (sequence + filter +
    * posexplode + slice); no shuffle except the gate's ORDER BY — at
    * 100 TB chunking is a map-side pass feeding the embedding stage.
    * chunk_idx is (start-1)/stride, identical to the position in the
    * filtered prefix on both engines. Empty documents produce no rows. */
  def textChunks(spark: SparkSession, dir: String): DataFrame = {
    val cs = 64
    val st = 48
    val w = col("w")
    val starts = filter(
      sequence(lit(1), greatest(size(w), lit(1)), lit(st)),
      s => (s === 1) || (s - st + (cs - 1) < size(w)))
    load(spark, dir, "documents")
      .withColumn("w", Text.tokens(col("text")))
      .filter(size(w) >= 1)
      .select(col("doc_id"), col("lang"), explode(starts).as("s"), col("w"))
      .select(col("doc_id"), col("lang"),
        ((col("s") - 1) / st).cast("long").as("chunk_idx"),
        col("s").cast("long").as("start_tok"),
        size(slice(w, col("s"), lit(cs))).cast("long").as("n_chunk"),
        concat_ws(" ", slice(w, col("s"), lit(cs))).as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val textChunksOracle: String =
    """WITH d AS (SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(text, ' +'), x -> x != '') AS toks
      |  FROM documents),
      |n AS (SELECT doc_id, lang, toks, CAST(len(toks) AS BIGINT) AS n
      |  FROM d WHERE len(toks) >= 1),
      |s AS (SELECT doc_id, lang, toks, n, u.s
      |  FROM n, unnest(generate_series(1, greatest(n, 1), 48)) AS u(s)
      |  WHERE s = 1 OR (s - 48 + 63) < n)
      |SELECT doc_id, lang,
      |  CAST((s - 1) // 48 AS BIGINT) AS chunk_idx,
      |  CAST(s AS BIGINT) AS start_tok,
      |  CAST(least(s + 63, n) - s + 1 AS BIGINT) AS n_chunk,
      |  array_to_string(list_slice(toks, s, least(s + 63, n)), ' ')
      |    AS chunk_text
      |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  /** Vocabulary construction — the id-assignment step every tokenizer /
    * embedding-table pipeline runs before training: count corpus token
    * frequencies, keep the top-V by (count desc, token asc), assign
    * contiguous ids in that order.
    *
    * 100 TB shape: the explode partial-aggregates map-side to the
    * vocabulary-bounded (token, count) frame; the top-V goes through
    * `orderBy().limit(V)` = distributed TakeOrdered (every partition
    * keeps V rows, the driver merges) — NEVER a global sort or an
    * unpartitioned rank window over the full vocabulary. The contiguous
    * ids come from a row_number over the already-V-sized result. */
  def vocabBuild(spark: SparkSession, dir: String): DataFrame = {
    val counts = load(spark, dir, "documents")
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    counts.orderBy(col("cnt").desc, col("tok")).limit(200)
      .withColumn("id", (row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("tok"))) - 1).cast("int"))
  }

  private val vocabBuildOracle: String =
    """WITH t AS (SELECT unnest(list_filter(regexp_split_to_array(text, ' +'),
      |    w -> w != '')) AS tok FROM documents),
      |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY tok)
      |SELECT tok, cnt,
      |  CAST(row_number() OVER (ORDER BY cnt DESC, tok) - 1 AS INT) AS id
      |FROM c ORDER BY cnt DESC, tok LIMIT 200""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_vocab_build", vocabBuild,
      Some(vocabBuildOracle), "text/vocabulary-build"),
    QuerySpec("q_curation_pipeline", curationPipeline,
      Some(curationOracle), "curation/end-to-end"),
    QuerySpec("q_text_chunks", textChunks,
      Some(textChunksOracle), "text/token-window-chunking"),
    QuerySpec("q_dedup_groups", dedupGroups, Some(groupsExactOracle),
      "dedup/groups-exact-regime"),
    QuerySpec("q_text_tokens", textTokens, Some(
      """SELECT lang, CAST(sum(n) AS BIGINT) AS total_tokens, min(n) AS min_tokens,
        |max(n) AS max_tokens, count(*) AS n_docs
        |FROM (SELECT lang,
        |  len(list_filter(regexp_split_to_array(text, ' +'), w -> w != ''))::BIGINT AS n
        |  FROM documents) t
        |GROUP BY lang ORDER BY lang""".stripMargin), "text/tokens"),
    QuerySpec("q_text_quality", textQuality, Some(
      """SELECT doc_id,
        |len(list_filter(regexp_split_to_array(text, ' +'), w -> w != '')) AS n_words,
        |len(list_filter(regexp_split_to_array(text, ' +'), w -> w = 'the' OR w = 'a')) AS n_stopwords,
        |length(text) AS len_chars,
        |length(replace(text, ' ', '')) AS len_nonspace
        |FROM documents ORDER BY doc_id""".stripMargin), "text/quality"),
    QuerySpec("q_text_langid", textLangid, Some(langidOracle), "text/langid"),
    QuerySpec("q_text_tokens_bpe", textTokensBpe, Some(textTokensBpeOracle),
      "text/tokens-bpe"),
    QuerySpec("q_text_fingerprint", textFingerprint, Some(
      """SELECT doc_id, list_reduce(
        |  list_prepend(CAST(0 AS BIGINT), list_transform(
        |    list_filter(regexp_split_to_array(substr(text, 1, 64), ''), c -> c != ''),
        |    c -> CAST(ascii(c) AS BIGINT))),
        |  (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin), "text/fingerprint"),
    QuerySpec("q_dedup_ngram_jaccard", dedupNgramJaccard, Some(
      """WITH d AS (SELECT doc_id, lang, source, sh FROM (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS sh
        |  FROM (SELECT doc_id, lang, source,
        |    list_filter(regexp_split_to_array(text, ' +'), x -> x != '') AS w
        |    FROM documents) t0) t1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  len(list_intersect(a.sh, b.sh)) /
        |  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
        |  AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) /
        |  (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin), "dedup/ngram-jaccard"),
    QuerySpec("q_dedup_minhash_lsh", dedupMinhashLsh,
      Some(minhashExactOracle), "dedup/minhash-lsh-exact-regime"),
    QuerySpec("q_dedup_simhash", dedupSimhash,
      Some(simhashExactOracle), "dedup/simhash-exact-regime"),
    QuerySpec("q_dedup_simhash_portable", dedupSimhashPortable,
      Some(simhashPortableOracle), "dedup/simhash-differential"),
    QuerySpec("q_dedup_minhash_portable", dedupMinhashPortable,
      Some(minhashPortableOracle), "dedup/minhash-differential"),
    QuerySpec("q_dedup_groups_portable", dedupGroupsPortable,
      Some(groupsPortableOracle), "dedup/groups-differential"),
    QuerySpec("q_dedup_incremental", dedupIncremental,
      Some(incrementalOracle), "dedup/incremental"),
    QuerySpec("q_dedup_incremental_indexed", dedupIncrementalIndexed,
      Some(incrementalOracle), "dedup/incremental-indexed"),
    QuerySpec("q_dedup_stream_ingest", dedupStreamIngest,
      Some(streamDedupOracle), "dedup/streaming-ingest"),
    QuerySpec("q_dedup_stream_compact", dedupStreamCompact,
      Some(streamDedupOracle), "dedup/streaming-ingest-compacted"),
    QuerySpec("q_dedup_spans", dedupSpans,
      Some(dedupSpansOracle), "dedup/duplicate-spans"),
    QuerySpec("q_dedup_lines", dedupLines,
      Some(dedupLinesOracle), "dedup/line-boilerplate-removal"),
    QuerySpec("q_text_entropy", textEntropy,
      Some(textEntropyOracle), "text/char-entropy"),
    QuerySpec("q_text_normalize", textNormalize,
      Some(textNormalizeOracle), "text/unicode-normalize"),
  )
}
