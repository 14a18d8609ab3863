package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join via prefix filtering — the classic
  * All-Pairs/PPJoin family (Bayardo et al. WWW'07, Xiao et al. WWW'08,
  * public algorithms): find every pair with Jaccard ≥ t WITHOUT the
  * all-pairs product.
  *
  * Why it scales where q17's crossJoin baseline can't: tokens get a
  * global rarest-first total order (document frequency ascending, token
  * ascending) and each record only indexes its PREFIX — the first
  * |x| − ⌈t·|x|⌉ + 1 ordered tokens. The prefix-filtering lemma
  * guarantees two records with J ≥ t share at least one prefix token
  * under the same total order, so the candidate generator is a plain
  * token equi-join over prefixes, with two exact filters on top:
  *
  *  - length-ratio: t ≤ |a|/|b| ≤ 1/t, integer form;
  *  - PPJoin positional: a shared prefix token at 1-based positions
  *    (pa, pb) bounds the achievable overlap by 1 + min(|a|−pa, |b|−pb),
  *    and J ≥ t needs overlap ≥ ⌈t(|a|+|b|)/(1+t)⌉ — on a DENSE corpus
  *    (small shared vocabulary, most pairs similar: exactly the
  *    adversarial shape of the synthetic documents table) this collapses
  *    "shares any rare token" to near the true result before any
  *    verification runs.
  *
  * The (df, tok) token dictionary is ranked to ints through
  * [[GlobalRank.byLongStringKey]] — a two-pass distributed row_number
  * (range-bucket local ranks + O(P) collected offsets), NOT a
  * SinglePartition `Window.orderBy` — so a 10⁹-token web-corpus
  * vocabulary ranks across the cluster instead of through one task.
  * The candidate join then keys on an int and the exact verification
  * intersects SORTED INT arrays carried through the join — no string
  * comparisons and no join back to the corpus on the hot path. No false
  * negatives at any stage — output EQUALS brute force (the q107 oracle
  * re-derives it as the full quadratic join in SQL).
  *
  * The threshold is an exact rational tNum/tDen so every comparison is
  * integer arithmetic (tDen·|a∩b| ≥ tNum·|a∪b|) — no float thresholds
  * anywhere, bit-stable across engines.
  */
object SetSimJoin {

  private def tokensOf(docs: DataFrame, idCol: String, wordsCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(col(wordsCol)).as("tok"))

  /** The (tok, df) dictionary — ONE pass over the exploded corpus that
    * both routes (vocabulary size = dict row count, exact) and feeds
    * whichever path runs: the dense path derives its bit assignment
    * from it, the sparse path its rarest-first rank. Eagerly
    * localCheckpoint'd: it has 2+ consumers and its true size lets AQE
    * broadcast it when tiny. Replaces the former separate
    * approx_count_distinct probe pass, so routing costs no extra scan. */
  private def buildDict(toks: DataFrame): DataFrame =
    toks.groupBy("tok").agg(count(lit(1)).as("df")).localCheckpoint(true)

  /** The dictionary and its row count for the sparse-only test hooks,
    * which skip routing: an RDD count of the checkpointed frame, so a
    * hook runs no SQL aggregate beyond the sparse plan itself. */
  private def unroutedDict(toks: DataFrame): (DataFrame, Long) = {
    val dict = buildDict(toks)
    (dict, dict.rdd.count())
  }

  /** Rarest-first int rank per token, distributed (no SinglePartition):
    * the (df asc, tok asc) total order of the WWW'07 family. `vocab` is
    * the dictionary's row count: ranks past 2^31 - 1 would wrap the int
    * cast, so a larger vocabulary fails here instead. */
  private[graft] def rankedDict(dict: DataFrame, vocab: Long): DataFrame = {
    require(vocab <= Int.MaxValue,
      s"vocabulary of $vocab tokens overflows the int token rank")
    GlobalRank.byLongStringKey(dict, "df", "tok", "rank64")
      .select(col("tok"), col("rank64").cast("int").as("rank"))
  }

  /** Deduped candidate pairs with their rank-array payloads:
    * (a_id, b_id, aw, bw, a_len, b_len).
    *
    * The candidate-dedup Exchange carries ONLY (a_id, b_id, a_len,
    * b_len) — four scalars per candidate. On a dense corpus the prefix
    * equi-join emits one candidate row per SHARED PREFIX TOKEN, so
    * letting the two rank arrays ride that Exchange costs
    * O(candidates·|tokens|) shuffle bytes; instead the arrays are
    * re-attached AFTER dedup by two equi-joins back to the corpus-sized
    * ranked frame (candidate-count rows × two ints on the probe side).
    * `ranked` is eagerly localCheckpoint'd because it feeds three
    * consumers (the prefix explode and both re-attach joins) — without
    * it AQE would re-run the dictionary rank per consumer. */
  private def candAndRanked(toks: DataFrame, dict: DataFrame, vocab: Long,
                            tNum: Long, tDen: Long): (DataFrame, DataFrame) = {
    val ranked = toks.join(rankedDict(dict, vocab), "tok")
      .groupBy("doc_id").agg(sort_array(collect_list(col("rank"))).as("rw"))
      .select(col("doc_id"), col("rw"), size(col("rw")).as("len"))
      .withColumn("plen",
        col("len") - expr(s"CAST(($tNum * len + $tDen - 1) div $tDen AS INT)") + 1)
      .localCheckpoint(true)
    val pre = ranked.select(col("doc_id"), col("len"),
      posexplode(slice(col("rw"), lit(1), col("plen"))).as(Seq("pos0", "rtok")))
    // required overlap alpha = ceil(tNum*(la+lb) / (tNum+tDen))
    val alpha = expr(
      s"CAST(($tNum * (a.len + b.len) + ${tNum + tDen} - 1) div ${tNum + tDen} AS INT)")
    val cand = pre.as("a").join(pre.as("b"), col("a.rtok") === col("b.rtok"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .where(col("a.len") * tNum <= col("b.len") * tDen &&
        col("b.len") * tNum <= col("a.len") * tDen)
      .where(lit(1) + least(col("a.len") - (col("a.pos0") + 1),
        col("b.len") - (col("b.pos0") + 1)) >= alpha)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.len").as("a_len"), col("b.len").as("b_len"))
      .dropDuplicates("a_id", "b_id")
    (cand, ranked)
  }

  private def prefixCandidates(toks: DataFrame, dict: DataFrame, vocab: Long,
                               tNum: Long, tDen: Long): DataFrame = {
    val (cand, ranked) = candAndRanked(toks, dict, vocab, tNum, tDen)
    cand
      .join(ranked.select(col("doc_id").as("a_id"), col("rw").as("aw")), "a_id")
      .join(ranked.select(col("doc_id").as("b_id"), col("rw").as("bw")), "b_id")
      .select("a_id", "b_id", "aw", "bw", "a_len", "b_len")
  }

  /** Candidate (a_id, b_id) pairs — a superset of the true result by the
    * prefix-filtering lemma. Exposed for the pruning-effectiveness
    * spec. */
  private[graft] def candidates(docs: DataFrame, idCol: String, wordsCol: String,
                                tNum: Long, tDen: Long): DataFrame = {
    val toks = tokensOf(docs, idCol, wordsCol)
    val (dict, vocab) = unroutedDict(toks)
    candAndRanked(toks, dict, vocab, tNum, tDen)._1.select("a_id", "b_id")
  }

  // ---------------------------------------------------------------------
  // Dense-corpus path: bitset signatures over a tiny global vocabulary.
  //
  // Prefix filtering assumes rare tokens exist; on an adversarially DENSE
  // corpus (vocabulary of a few dozen tokens, every token hot) every
  // prefix token has df ≈ corpus size and the candidate equi-join
  // degenerates toward corpus². But a vocabulary that fits 62 bits admits
  // an exact representation the prefix family can't touch: each distinct
  // token SET is one long bitmask, |A∩B| = bit_count(a&b) and
  // |A∪B| = bit_count(a|b), so the candidate generator collapses to a
  // broadcast nested-loop join over DISTINCT masks (D ≤ MaxDenseClasses
  // rows of 8 bytes) with a popcount predicate — D² integer ops, no
  // array shuffle, no verification stage. Doc pairs are then expanded by
  // two mask-keyed hash joins back to the (doc_id, mask) frame, so huge
  // duplicate classes never materialize as giant collected rows. On a
  // dense corpus the RESULT is what's quadratic (k identical docs emit
  // k² pairs no matter the algorithm); this path makes everything before
  // the unavoidable expansion O(corpus + D²).
  //
  // Routing reads the vocabulary size off the shared dictionary (no
  // separate probe pass); sparse corpora (real web text) exceed the
  // 62-bit budget and keep the WWW'07 prefix-filter plan unchanged.
  // ---------------------------------------------------------------------

  private val MaxDenseBits = 62
  private val MaxDenseClasses = 20000L

  /** (doc_id, mask) + distinct-mask frames when the corpus is dense
    * enough for the bitset path, else None. Both frames are eagerly
    * localCheckpoint'd: `sets` feeds both expansion joins, `masks` both
    * sides of the BNLJ, and the checkpointed sizes let AQE broadcast
    * them from true stats. The caller guarantees |dict| ≤ MaxDenseBits,
    * so the bit-assignment window is a ≤62-row bounded frame (the q90
    * |sources|-window shape), never corpus- or vocabulary-scaled. */
  private def denseSets(toks: DataFrame,
                        dict: DataFrame): Option[(DataFrame, DataFrame)] = {
    val bits = dict.select("tok")
      .withColumn("bit", row_number().over(Window.orderBy(col("tok"))) - 1)
    // bit_or, not sum: robust even if a caller passes non-deduped arrays
    val sets = toks.join(broadcast(bits), "tok")
      .groupBy("doc_id").agg(expr("bit_or(shiftleft(1L, bit))").as("mask"))
      .localCheckpoint(true)
    val masks = sets.select("mask").distinct().localCheckpoint(true)
    if (masks.count() > MaxDenseClasses) None else Some((sets, masks))
  }

  private def denseJaccard(sets: DataFrame, masks: DataFrame,
                           tNum: Long, tDen: Long): DataFrame = {
    val am = col("am"); val bm = col("bm")
    // am <= bm visits each unordered CLASS pair once (incl. the diagonal
    // for within-class duplicates); D² popcounts, 8-byte broadcast rows
    val mp = masks.select(col("mask").as("am"))
      .join(broadcast(masks.select(col("mask").as("bm"))),
        am <= bm &&
          bit_count(am.bitwiseAND(bm)) * lit(tDen) >= bit_count(am.bitwiseOR(bm)) * lit(tNum))
      .localCheckpoint(true)
    sets.select(col("doc_id").as("x"), col("mask").as("am"))
      .join(mp, "am")
      .join(sets.select(col("doc_id").as("y"), col("mask").as("bm")), "bm")
      // cross-class pairs are unique already; the diagonal would emit
      // both (x,y) and (y,x) → keep x < y there
      .where(am < bm || col("x") < col("y"))
      .select(least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"),
        bit_count(am.bitwiseAND(bm)).as("n_common"),
        bit_count(am.bitwiseOR(bm)).as("n_union"))
  }

  private def denseContainment(sets: DataFrame, masks: DataFrame,
                               tNum: Long, tDen: Long): DataFrame = {
    val am = col("am"); val bm = col("bm")
    // directed predicate: both orientations of each class pair are
    // distinct join rows (and the diagonal always qualifies: A ⊇ A)
    val mp = masks.select(col("mask").as("am"))
      .join(broadcast(masks.select(col("mask").as("bm"))),
        bit_count(am.bitwiseAND(bm)) * lit(tDen) >= bit_count(am) * lit(tNum))
      .localCheckpoint(true)
    sets.select(col("doc_id").as("x"), col("mask").as("am"))
      .join(mp, "am")
      .join(sets.select(col("doc_id").as("y"), col("mask").as("bm")), "bm")
      .where(col("x") =!= col("y"))
      .select(col("x").as("contained_id"), col("y").as("container_id"),
        bit_count(am.bitwiseAND(bm)).as("n_common"),
        bit_count(am).as("a_len"))
  }

  /** All pairs with Jaccard(words_a, words_b) ≥ tNum/tDen, exactly.
    * `wordsCol` must hold de-duplicated token arrays. Output:
    * (a_id, b_id, n_common, n_union) with a_id < b_id. Adaptive: a
    * ≤62-token vocabulary routes to the bitset-signature plan, anything
    * larger to prefix filtering — both exact, same output; one shared
    * dictionary pass makes the routing decision. */
  def jaccardSelfJoin(docs: DataFrame, idCol: String, wordsCol: String,
                      tNum: Long, tDen: Long): DataFrame = {
    val toks = tokensOf(docs, idCol, wordsCol)
    val dict = buildDict(toks)
    val vocab = dict.count()
    val dense =
      if (vocab <= MaxDenseBits) denseSets(toks, dict) else None
    dense match {
      case Some((sets, masks)) => denseJaccard(sets, masks, tNum, tDen)
      case None                => prefixJaccard(toks, dict, vocab, tNum, tDen)
    }
  }

  private def prefixJaccard(toks: DataFrame, dict: DataFrame, vocab: Long,
                            tNum: Long, tDen: Long): DataFrame =
    prefixCandidates(toks, dict, vocab, tNum, tDen)
      .withColumn("n_common", size(array_intersect(col("aw"), col("bw"))))
      .withColumn("n_union", col("a_len") + col("b_len") - col("n_common"))
      .where(col("n_common") * tDen >= col("n_union") * tNum)
      .select("a_id", "b_id", "n_common", "n_union")

  /** Prefix-filtered Jaccard plan, unconditionally (exposed for tests). */
  private[graft] def sparseJaccardSelfJoin(docs: DataFrame, idCol: String, wordsCol: String,
                                           tNum: Long, tDen: Long): DataFrame = {
    val toks = tokensOf(docs, idCol, wordsCol)
    val (dict, vocab) = unroutedDict(toks)
    prefixJaccard(toks, dict, vocab, tNum, tDen)
  }

  /** Exact CONTAINMENT self-join: every DIRECTED pair with
    * |A∩B| / |A| ≥ tNum/tDen, A ≠ B — the asymmetric cousin of Jaccard
    * that catches a document CONTAINED in another (quoted articles,
    * boilerplate-wrapped mirrors) which symmetric similarity misses
    * whenever the container is much longer (J ≈ |A|/|B| → 0 while
    * containment = 1).
    *
    * Prefix filtering is one-sided here (the overlap-join shape of
    * JOSIE/ssjoin): only the CONTAINED side can be pruned — it needs
    * overlap α = ⌈t·|A|⌉, so by the prefix lemma one of A's first
    * |A| − α + 1 rarest-first tokens must appear in B — while the
    * container side has no length upper bound and must index ALL its
    * tokens. The equi-join key distribution still concentrates on RARE
    * tokens (prefixes are rarest-first, so a hot stopword enters a
    * prefix only for docs made almost entirely of hot tokens), which is
    * what keeps the candidate count near df(rare)² instead of corpus².
    * Length (|B| ≥ α) and PPJoin positional filters apply unchanged;
    * verification intersects the same sorted rank arrays, and the
    * threshold stays an exact rational. Output equals brute force.
    * Adaptive like [[jaccardSelfJoin]]: ≤62-token vocabularies take the
    * bitset plan (where one-sided pruning has nothing rare to index). */
  def containmentSelfJoin(docs: DataFrame, idCol: String, wordsCol: String,
                          tNum: Long, tDen: Long): DataFrame = {
    val toks = tokensOf(docs, idCol, wordsCol)
    val dict = buildDict(toks)
    val vocab = dict.count()
    val dense =
      if (vocab <= MaxDenseBits) denseSets(toks, dict) else None
    dense match {
      case Some((sets, masks)) => denseContainment(sets, masks, tNum, tDen)
      case None                => prefixContainment(toks, dict, vocab, tNum, tDen)
    }
  }

  private def prefixContainment(toks: DataFrame, dict: DataFrame, vocab: Long,
                                tNum: Long, tDen: Long): DataFrame = {
    val ranked = toks.join(rankedDict(dict, vocab), "tok")
      .groupBy("doc_id").agg(sort_array(collect_list(col("rank"))).as("rw"))
      .select(col("doc_id"), col("rw"), size(col("rw")).as("len"))
      .withColumn("alpha", expr(s"CAST(($tNum * len + $tDen - 1) div $tDen AS INT)"))
      .withColumn("plen", col("len") - col("alpha") + 1)
      .localCheckpoint(true)
    val pre = ranked.select(col("doc_id"), col("len"), col("alpha"),
      posexplode(slice(col("rw"), lit(1), col("plen"))).as(Seq("pos0", "rtok")))
    val full = ranked.select(col("doc_id"), col("len"),
      posexplode(col("rw")).as(Seq("pos0", "rtok")))
    val cand = pre.as("a").join(full.as("b"), col("a.rtok") === col("b.rtok"))
      .where(col("a.doc_id") =!= col("b.doc_id"))
      .where(col("b.len") >= col("a.alpha"))
      .where(lit(1) + least(col("a.len") - (col("a.pos0") + 1),
        col("b.len") - (col("b.pos0") + 1)) >= col("a.alpha"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.len").as("a_len"))
      .dropDuplicates("a_id", "b_id")
    cand
      .join(ranked.select(col("doc_id").as("a_id"), col("rw").as("aw")), "a_id")
      .join(ranked.select(col("doc_id").as("b_id"), col("rw").as("bw")), "b_id")
      .withColumn("n_common", size(array_intersect(col("aw"), col("bw"))))
      .where(col("n_common") * tDen >= col("a_len") * tNum)
      .select(col("a_id").as("contained_id"), col("b_id").as("container_id"),
        col("n_common"), col("a_len"))
  }

  /** Prefix-filtered containment plan, unconditionally (exposed for tests). */
  private[graft] def sparseContainmentSelfJoin(docs: DataFrame, idCol: String, wordsCol: String,
                                               tNum: Long, tDen: Long): DataFrame = {
    val toks = tokensOf(docs, idCol, wordsCol)
    val (dict, vocab) = unroutedDict(toks)
    prefixContainment(toks, dict, vocab, tNum, tDen)
  }
}
