package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact edit-distance similarity self-join — the entity-resolution /
  * near-identical-title matcher (fuzzy record linkage over titles, names,
  * short fields). Returns every unordered id pair with
  * `levenshtein(a, b) <= maxDist`, exactly — candidate generation prunes,
  * never drops.
  *
  * Algorithm, outside-in:
  *
  * 1. EXACT-COLLAPSE FIRST (the [[graft.dedup.Dedup.nearDupGroups]]
  *    lesson): all work runs over DISTINCT strings; id multiplicity
  *    re-expands only at the end. A duplicate-heavy corpus (the
  *    realistic title/name case) costs the quadratic machinery nothing —
  *    the expansion is bounded by the OUTPUT, which is the contract.
  *
  * 2. Candidate generation by positional q-gram prefix filtering (the
  *    ED-Join family, Xiao/Wang/Lin, VLDB'08). One edit destroys at most
  *    `q` of a string's `len - q + 1` q-grams, so `ed <= d` implies the
  *    q-gram MULTISETS share at least `max(|s|,|t|) - q + 1 - d*q`
  *    elements; by the prefix-filter theorem a qualifying pair must then
  *    collide within the first `d*q + 1` multiset elements of each
  *    string under ANY shared total order. Elements are ordered
  *    rarest-first (global element frequency), so stopword grams sort
  *    last and never fan out. Candidates are `distinct`-ed BEFORE the
  *    exact verify (one codegen `levenshtein` per candidate).
  *
  * 3. The count bound is vacuous below `len = q*(d+1)`, so pairs whose
  *    SHORTER side is under that floor go through a length-banded brute
  *    branch confined to the short-string sliver (both sides of such a
  *    pair are `< q*(d+1) + d` by the length filter).
  *
  * 100 TB shape: every stage is a keyed shuffle over gram-sized rows —
  * no broadcast of anything corpus-sized. Two regimes are inherently
  * super-linear and documented as such: (a) a low-entropy alphabet makes
  * q-grams weakly selective, growing the candidate join with distinct-
  * string density²; (b) the OUTPUT itself grows as corpus² × pair
  * density for a fixed threshold — no exact algorithm avoids rows it
  * must emit.
  */
object EditJoin {

  /** Candidate verify shared by all six join sites: join `a`/`b` (aliased
    * "a"/"b") on the pruning condition and keep pairs whose banded
    * levenshtein is within `maxDist` (the banded kernel returns -1 above
    * the band). `lev >= 0` rides in the join condition, so non-matches
    * die inside the join operator and never materialize as output rows;
    * the projected `ed` re-evaluates the kernel only for SURVIVORS
    * (output-bound, tiny vs candidates).
    *
    * Why not project `ed` once and filter above the join: the round-12
    * edit assumed that halves kernel evaluations, but
    * PushPredicateThroughJoin rewrites the deterministic filter back
    * into the join condition anyway. Measured (same JVM, interleaved
    * A/B/A/B, 4 reps, sf0.1; README "EditJoin verify-form A/B"):
    * condition vs project min 4.35s vs 5.59s (q_join_fuzzy), 4.92s vs
    * 5.84s (q_entity_resolution), 2.85s vs 2.78s
    * (q_decontaminate_fuzzy); plan census shows BOTH forms carry 4
    * levenshtein instances and no standalone Filter, i.e. the project
    * form is optimized back into a join-condition shape but still runs
    * 1.2-1.3x slower. */
  private def verifiedPairs(a: DataFrame, b: DataFrame,
      cond: org.apache.spark.sql.Column, outL: String, outR: String,
      maxDist: Int): DataFrame = {
    val lv = levenshtein(col("a.str"), col("b.str"), maxDist)
    a.as("a").join(b.as("b"), cond && lv >= 0)
      .select(col("a.str").as(outL), col("b.str").as(outR),
        lv.cast("int").as("ed"))
  }

  /** All pairs (id_a < id_b) with levenshtein(str_a, str_b) <= maxDist.
    * Output columns: id_a, id_b, ed. Exact for any input; null strings
    * never match. */
  def selfJoin(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, q: Int = 2): DataFrame = {
    require(maxDist >= 0 && q >= 1, "maxDist >= 0, q >= 1")
    val floor = q * (maxDist + 1) // below this the gram bound is vacuous

    // exact-collapse: one representative per distinct string, with the
    // full sorted member-id list riding the SAME shuffle — the ed = 0
    // branch and the final expansion both read it, so the corpus is
    // scanned/tokenized once and every downstream consumer reuses one
    // exchange instead of rebuilding a members frame per branch
    // (measured: the per-branch broadcast builds re-ran the scan).
    val s2 = df.filter(col(strCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(strCol).as("str"))
      .groupBy("str").agg(min("id").as("id"),
        sort_array(collect_list("id")).as("ids"))
      .withColumn("len", length(col("str")))
    val s = s2.select("str", "id", "len")

    // --- brute branch (distinct strings): pairs whose shorter side is
    // below the gram floor; both sides < floor + maxDist by length band.
    // banded threshold form: O(d·n) DP with early exit, -1 when above
    val shortish = s.filter(col("len") < floor + maxDist)
    val brute = verifiedPairs(shortish, shortish,
      col("a.id") < col("b.id") &&
        least(col("a.len"), col("b.len")) < floor &&
        abs(col("a.len") - col("b.len")) <= maxDist,
      "str_a", "str_b", maxDist)

    // --- gram branch (distinct strings with BOTH sides >= floor).
    // Multiset elements are (gram, occurrence-index); the string rides
    // along — the prefix frame is (d*q+1) rows per DISTINCT string, so
    // carrying it is cheap and lets the exact verify run INSIDE the
    // candidate join stage: the bucket-pair blowup (the weakly-
    // selective-gram regime) is filtered in-task by the codegen banded
    // levenshtein and never reaches an exchange. Only survivors dedup.
    //
    // The prefix frame is tiny but the bucket join EXPLODES inside the
    // join stage — AQE, seeing only the small shuffle, would coalesce it
    // to one partition and serialize the whole verify on a single task
    // (measured: 52 s -> ~3 s at sf0.1). An explicit-width repartition
    // on the join key is preserved by AQE and spreads the bucket work.
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val prefixP = prefixSelf(gramsOf(s, floor, q), maxDist, q)
      .repartition(nParts, col("gram"), col("occ"))

    val verified = verifiedPairs(prefixP, prefixP,
        col("a.gram") === col("b.gram") && col("a.occ") === col("b.occ") &&
          col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= maxDist,
        "str_a", "str_b", maxDist)
      .distinct()

    // --- expand distinct-string results back to id pairs (output-bound):
    // cross-string matches via the member-id lists of both sides;
    // same-string (ed = 0) pairs enumerated straight off each string's
    // sorted member list (i < j), no self-join.
    val diff = brute.unionByName(verified)
      .join(s2.select(col("str").as("str_a"), col("ids").as("la")), "str_a")
      .join(s2.select(col("str").as("str_b"), col("ids").as("lb")), "str_b")
      .select(explode(col("la")).as("ia"), col("lb"), col("ed"))
      .select(col("ia"), explode(col("lb")).as("ib"), col("ed"))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("ed"))
    // pairs (ids(i), ids(j)), i < j, off the sorted list: posexplode the
    // anchor, slice the tail per anchor row — per-row memory stays
    // O(dup count), never O(dup count²), however heavy one string's
    // duplication gets (the output itself is quadratic by contract)
    val same = s2.filter(size(col("ids")) >= 2)
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"), explode(slice(col("ids"), col("i") + lit(2),
        size(col("ids")) - col("i") - 1)).as("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).cast("int").as("ed"))

    diff.unionByName(same)
  }

  /** Cross-corpus form: all pairs (id_l, id_r) with
    * levenshtein(str_l, str_r) <= maxDist between two DIFFERENT corpora —
    * the fuzzy-decontamination shape (train titles vs benchmark titles,
    * where exact-hash decontamination misses near-identical rephrasings).
    * Same machinery as [[selfJoin]]: exact-collapse per side, shared
    * rarest-first element order built from the UNION of both sides'
    * gram multisets (the prefix-filter theorem needs one total order
    * across both corpora), in-join banded verify, short-string brute
    * branch, output-bound expansion. */
  def join(left: DataFrame, right: DataFrame, idCol: String, strCol: String,
      maxDist: Int, q: Int = 2): DataFrame = {
    require(maxDist >= 0 && q >= 1, "maxDist >= 0, q >= 1")
    val floor = q * (maxDist + 1)

    val (ls, rs) = (collapse(left, idCol, strCol), collapse(right, idCol, strCol))

    // brute branch: pairs whose shorter side is under the gram floor
    val (lShort, rShort) =
      (ls.filter(col("len") < floor + maxDist),
        rs.filter(col("len") < floor + maxDist))
    val brute = verifiedPairs(lShort, rShort,
      least(col("a.len"), col("b.len")) < floor &&
        abs(col("a.len") - col("b.len")) <= maxDist,
      "str_l", "str_r", maxDist)

    // gram branch over both-long pairs, prefixes under ONE shared order:
    // both sides' grams union into one frame, the shared element
    // frequency is a count window over (gram, occ) on that union (no
    // aggregate + join-back), and the per-string rank partitions on
    // (side, id) — ids may collide across corpora
    val u = gramsOf(ls, floor, q).withColumn("side", lit("l"))
      .unionByName(gramsOf(rs, floor, q).withColumn("side", lit("r")))
    val pfx = u
      .withColumn("freq",
        count(lit(1)).over(Window.partitionBy("gram", "occ")))
      .withColumn("rn", row_number().over(Window.partitionBy("side", "id")
        .orderBy(col("freq"), col("gram"), col("occ"))))
      .filter(col("rn") <= maxDist * q + 1)
      .select("side", "id", "len", "str", "gram", "occ")
    val nParts = left.sparkSession.sessionState.conf.numShufflePartitions
    val lp = pfx.filter(col("side") === "l").drop("side")
      .repartition(nParts, col("gram"), col("occ"))
    val rp = pfx.filter(col("side") === "r").drop("side")
      .repartition(nParts, col("gram"), col("occ"))

    val verified = verifiedPairs(lp, rp,
        col("a.gram") === col("b.gram") && col("a.occ") === col("b.occ") &&
          abs(col("a.len") - col("b.len")) <= maxDist,
        "str_l", "str_r", maxDist)
      .distinct()

    // expand back to id pairs via each side's member list (output-bound)
    val lMembers = left.filter(col(strCol).isNotNull)
      .select(col(strCol).as("str_l"), col(idCol).cast("long").as("id_l"))
    val rMembers = right.filter(col(strCol).isNotNull)
      .select(col(strCol).as("str_r"), col(idCol).cast("long").as("id_r"))
    brute.unionByName(verified)
      .join(lMembers, "str_l").join(rMembers, "str_r")
      .select("id_l", "id_r", "ed")
  }

  // ---- persisted prefix index: build the corpus side once, assign
  // incoming batches against the frozen tables (the CorpusIndex /
  // Ivf.buildPersisted serving pattern). The element order is FROZEN at
  // build time; batch grams unseen by the corpus get frequency 0 and
  // sort first — any consistent total order satisfies the prefix-filter
  // theorem (prefix SIZES come from multiset sizes, not frequencies),
  // and an unseen gram can never collide with a corpus element anyway.
  import org.apache.spark.sql.types._

  private val membersSchema = StructType(Seq(
    StructField("str", StringType), StructField("id", LongType)))
  private val stringsSchema = StructType(Seq(
    StructField("str", StringType), StructField("id", LongType),
    StructField("len", IntegerType)))
  private val prefixSchema = StructType(Seq(
    StructField("id", LongType), StructField("len", IntegerType),
    StructField("str", StringType), StructField("gram", StringType),
    StructField("occ", IntegerType)))
  private val freqSchema = StructType(Seq(
    StructField("gram", StringType), StructField("occ", IntegerType),
    StructField("freq", LongType)))
  private val metaSchema = StructType(Seq(
    StructField("max_dist", IntegerType), StructField("q", IntegerType)))

  private def collapse(df: DataFrame, idCol: String,
      strCol: String): DataFrame =
    df.filter(col(strCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(strCol).as("str"))
      .groupBy("str").agg(min("id").as("id"))
      .withColumn("len", length(col("str")))

  private def gramsOf(s: DataFrame, floor: Int, q: Int): DataFrame =
    s.filter(col("len") >= floor)
      .select(col("id"), col("len"), col("str"),
        posexplode(transform(sequence(lit(1), col("len") - (q - 1)),
          i => col("str").substr(i, lit(q)))).as(Seq("pos", "gram")))
      .withColumn("occ", row_number().over(
        Window.partitionBy("id", "gram").orderBy("pos")))
      .select("id", "len", "str", "gram", "occ")

  /** Prefix selection against an EXPLICIT frequency relation — the
    * persisted-index path, where the element order is frozen at build
    * time (batch grams unseen by the corpus get frequency 0). */
  private def prefixOf(g: DataFrame, freq: DataFrame, maxDist: Int,
      q: Int): DataFrame =
    g.join(freq, Seq("gram", "occ"), "left")
      .na.fill(0L, Seq("freq"))
      .withColumn("rn", row_number().over(Window.partitionBy("id")
        .orderBy(col("freq"), col("gram"), col("occ"))))
      .filter(col("rn") <= maxDist * q + 1)
      .select("id", "len", "str", "gram", "occ")

  /** Prefix selection where the frequency IS the gram frame's own
    * (gram, occ) count — one count window on the existing shuffle
    * instead of an aggregate plus a join back (same values, two fewer
    * stages; the in-plan self-join path). */
  private def prefixSelf(g: DataFrame, maxDist: Int, q: Int): DataFrame =
    g.withColumn("freq",
        count(lit(1)).over(Window.partitionBy("gram", "occ")))
      .withColumn("rn", row_number().over(Window.partitionBy("id")
        .orderBy(col("freq"), col("gram"), col("occ"))))
      .filter(col("rn") <= maxDist * q + 1)
      .select("id", "len", "str", "gram", "occ")

  /** Build the corpus-side index under `name`: member list, distinct
    * strings, frozen element frequencies, and the d·q+1-element prefix
    * relation. `maxDist`/`q` are recorded and enforced at serve time. */
  def buildIndex(store: graft.pipeline.Store, name: String,
      corpus: DataFrame, idCol: String, strCol: String,
      maxDist: Int, q: Int = 2): Unit = {
    require(maxDist >= 0 && q >= 1, "maxDist >= 0, q >= 1")
    val floor = q * (maxDist + 1)
    val spark = corpus.sparkSession
    import spark.implicits._
    val members = corpus.filter(col(strCol).isNotNull)
      .select(col(strCol).as("str"), col(idCol).cast("long").as("id"))
    val s = collapse(corpus, idCol, strCol)
    val g = gramsOf(s, floor, q)
    val freq = g.groupBy("gram", "occ").agg(count(lit(1)).as("freq"))
    store.write(s"${name}_members", members)
    store.write(s"${name}_strings", s.select("str", "id", "len"))
    store.write(s"${name}_freq", freq)
    store.write(s"${name}_prefix", prefixOf(g, freq, maxDist, q))
    store.write(s"${name}_meta", Seq((maxDist, q)).toDF("max_dist", "q"))
  }

  /** All pairs (id_batch, id_corpus, ed) with ed <= maxDist between a
    * new batch and the INDEXED corpus — no corpus-side gram recompute,
    * no corpus scan beyond the stored prefix/short relations. */
  def assignAgainstIndex(store: graft.pipeline.Store, name: String,
      batch: DataFrame, idCol: String, strCol: String,
      maxDist: Int, q: Int = 2): DataFrame = {
    graft.dedup.IndexCommits.validate(store, name,
      Seq("_members", "_strings", "_prefix"))
    val meta = store.read(s"${name}_meta", metaSchema).collect()
    require(meta.length == 1 && meta(0).getInt(0) == maxDist &&
      meta(0).getInt(1) == q,
      s"index '$name' was built for (maxDist, q) = " +
        s"${meta.toSeq.map(r => (r.getInt(0), r.getInt(1)))}, " +
        s"serve asked ($maxDist, $q)")
    val floor = q * (maxDist + 1)

    val bs = collapse(batch, idCol, strCol)
    val cs = store.read(s"${name}_strings", stringsSchema)

    val bShort = bs.filter(col("len") < floor + maxDist)
    val cShort = cs.filter(col("len") < floor + maxDist)
    val brute = verifiedPairs(bShort, cShort,
      least(col("a.len"), col("b.len")) < floor &&
        abs(col("a.len") - col("b.len")) <= maxDist,
      "str_l", "str_r", maxDist)

    val freq = store.read(s"${name}_freq", freqSchema)
    val nParts = batch.sparkSession.sessionState.conf.numShufflePartitions
    val bp = prefixOf(gramsOf(bs, floor, q), freq, maxDist, q)
      .repartition(nParts, col("gram"), col("occ"))
    val cp = store.read(s"${name}_prefix", prefixSchema)
      .repartition(nParts, col("gram"), col("occ"))
    val verified = verifiedPairs(bp, cp,
        col("a.gram") === col("b.gram") && col("a.occ") === col("b.occ") &&
          abs(col("a.len") - col("b.len")) <= maxDist,
        "str_l", "str_r", maxDist)
      .distinct()

    val bMembers = batch.filter(col(strCol).isNotNull)
      .select(col(strCol).as("str_l"), col(idCol).cast("long").as("id_l"))
    val cMembers = store.read(s"${name}_members", membersSchema)
      .select(col("str").as("str_r"), col("id").as("id_r"))
    brute.unionByName(verified)
      .join(bMembers, "str_l").join(cMembers, "str_r")
      .select("id_l", "id_r", "ed")
  }

  /** One incremental DECISION per batch row against the indexed corpus
    * — the per-micro-batch core of
    * [[graft.streaming.StreamingDedup.fuzzyIngest]], decision semantics
    * mirroring [[graft.dedup.CorpusIndex.assign]] on the edit-distance
    * modality. Returns `(idCol, assigned, matched)`:
    *
    *  - batch rows exact-collapse by string first (rep = min id per
    *    distinct string; copies inherit their rep's decision);
    *  - a rep with ANY corpus match within `maxDist` assigns to the
    *    (min ed, then min corpus id) match — `matched` is 'exact' at
    *    ed 0, 'near' otherwise;
    *  - the leftovers close over the within-batch fuzzy graph
    *    ([[selfJoin]] edges → min-label components) — `matched` is
    *    'novel', `assigned` the component minimum (self for the
    *    component representative, which is what [[appendToIndex]]
    *    should then be fed). */
  def assignDecisions(store: graft.pipeline.Store, name: String,
      batch: DataFrame, idCol: String, strCol: String,
      maxDist: Int, q: Int = 2, maxIter: Int = 20): DataFrame = {
    val b = batch.filter(col(strCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(strCol).as("str"))
    val brm = b.withColumn("rep",
      min("id").over(Window.partitionBy("str")))
    val reps = brm.filter(col("id") === col("rep"))
      .select(col("id").as(idCol), col("str").as(strCol))
    val best = assignAgainstIndex(store, name, reps, idCol, strCol,
        maxDist, q)
      .groupBy("id_l").agg(min(struct(col("ed"), col("id_r"))).as("m"))
      .select(col("id_l").as("id"), col("m.id_r").as("assigned"),
        when(col("m.ed") === 0, "exact").otherwise("near").as("matched"))
    val novel = reps
      .select(col(idCol).cast("long").as("id"), col(strCol).as("str"))
      .join(best.select("id"), Seq("id"), "left_anti")
      .transform(graft.pipeline.Checkpoints.stable) // feeds the edge join AND the label expansion
    val edges = selfJoin(novel.select(col("id"), col("str")), "id", "str",
      maxDist, q)
    val labels = graft.graph.ConnectedComponents
      .run(edges.select("id_a", "id_b"), maxIter)
    val novelDec = novel.join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("assigned"),
        lit("novel").as("matched"))
    brm.join(best.unionByName(novelDec).withColumnRenamed("id", "rep"),
        Seq("rep"))
      .select(col("id").as(idCol), col("assigned"), col("matched"))
  }

  /** Append accepted novel representatives to the persisted index
    * (member list, distinct strings, prefix relation) as a
    * `batchTag`-keyed file publication — per-batch cost proportional to
    * the BATCH, no read-modify-write of corpus data, replay-safe when
    * paired with [[clearBatch]] at batch start (the
    * [[graft.dedup.CorpusIndex.append]] contract). The element order
    * stays FROZEN at the build-time `_freq` table: appended strings'
    * prefixes are computed under it, which keeps ONE total order across
    * corpus, appends, and future batches — all the prefix-filter
    * theorem requires (an appended gram unseen at build time sorts at
    * frequency 0, exactly where future batches will sort it). */
  def appendToIndex(store: graft.pipeline.Store, name: String,
      novel: DataFrame, idCol: String, strCol: String, batchTag: String,
      maxDist: Int, q: Int = 2): Unit = {
    val meta = store.read(s"${name}_meta", metaSchema).collect()
    require(meta.length == 1 && meta(0).getInt(0) == maxDist &&
      meta(0).getInt(1) == q,
      s"index '$name' was built for (maxDist, q) = " +
        s"${meta.toSeq.map(r => (r.getInt(0), r.getInt(1)))}, " +
        s"append asked ($maxDist, $q)")
    val floor = q * (maxDist + 1)
    val members = novel.filter(col(strCol).isNotNull)
      .select(col(strCol).as("str"), col(idCol).cast("long").as("id"))
    val s = collapse(novel, idCol, strCol).transform(graft.pipeline.Checkpoints.stable)
    val freq = store.read(s"${name}_freq", freqSchema)
    import graft.pipeline.FsUtils.publishBatch
    publishBatch(members, store.path(s"${name}_members"), batchTag)
    publishBatch(s.select("str", "id", "len"),
      store.path(s"${name}_strings"), batchTag)
    publishBatch(prefixOf(gramsOf(s, floor, q), freq, maxDist, q),
      store.path(s"${name}_prefix"), batchTag)
    // cross-table commit point, written LAST (IndexCommits contract)
    graft.dedup.IndexCommits.mark(store, name, batchTag)
  }

  /** Purge every index file a previous attempt of `batchTag` published
    * — the batch-start half of the replay-safety contract. The commit
    * marker goes first, so no purge ordering can present a partial
    * batch as committed. */
  def clearBatch(store: graft.pipeline.Store, name: String,
      batchTag: String): Unit = {
    graft.dedup.IndexCommits.unmark(store, name, batchTag)
    Seq("_members", "_strings", "_prefix").foreach(sfx =>
      graft.pipeline.FsUtils.clearBatch(store.path(s"$name$sfx"), batchTag))
  }
}
