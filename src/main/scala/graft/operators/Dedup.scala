package graft.operators

import graft.QueryModule
import graft.functions.TextFns
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines.
  *
  * Scale design: nothing here is a cross join. Exact dedup is one
  * groupBy(content-hash). Near-dup candidates come from inverted-index /
  * band-bucket joins whose fan-out is bounded: shingle posting lists are
  * capped (df cap), MinHash bands hash to narrow buckets, cosine pairs are
  * blocked by LSH sign-buckets. That is what survives 100 TB; the exact
  * Jaccard/cosine verification then runs only on candidates.
  *
  * MinHash/SimHash signatures come from one-pass native kernels
  * (graft.functions.HashKernels) — pure projections, no signature shuffle
  * (rows-only oracle: their hash mixing is not reasonably expressible in
  * SQL).
  */
object Dedup extends QueryModule {

  /** Cap on shingle posting-list length: ultra-common shingles generate
    * O(df²) candidate pairs and carry no dedup signal — standard trick. */
  val ShingleDfCap = 100

  /** q_dedup_exact: content-hash groupBy, min-id survivor. Reads the bare
    * table, not the tokenized rawDocs stage — it never touches rtoks, so
    * it must not pay (or pin) corpus-wide tokenization. */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("content_md5"))
      .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_copies"))

  private val qDedupExactSql =
    """SELECT md5(text) AS content_md5, min(doc_id) AS survivor_id, count(*) AS n_copies
       FROM documents GROUP BY md5(text)"""

  /** Distinct word-3-gram shingles per doc (shared by Jaccard + MinHash),
    * keyed by the 8-BYTE xxhash64 of the shingle — every downstream
    * groupBy/join shuffles fixed-width longs instead of 20-40-byte strings
    * (several-fold less shuffle volume; the sql-oracle hash-gate on
    * q_dedup_jaccard proves pair identity is preserved — a 64-bit collision
    * within one corpus is ~n²/2⁶⁵, vanishing even at 10¹⁰ shingles).
    * Memoized + persisted: the Jaccard query, the minhash verify stage
    * and the per-doc size lookups all consume this subtree (and the
    * df-capped posting derived from it is persisted separately below).
    * MEMORY_AND_DISK is the honest 100 TB posture too: a shared stage
    * this hot is materialized once (cache or checkpoint), never
    * recomputed per consumer. */
  def docShingles(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"dedup.shingles:$dir") {
      TextPrep.rawDocs(s, dir)
        .select(col("doc_id"), explode(TextFns.shingles(col("rtoks"), 3)).as("shingle"))
        .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The same distinct hashed-shingle relation over an arbitrary
    * (doc_id, text) frame — the per-batch input of [[dedupFoldBatch]]
    * (a streaming micro-batch, a daily delta load). */
  def docShinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFns.rawTokens(col("text")).as("rtoks"))
      .select(col("doc_id"), explode(TextFns.shingles(col("rtoks"), 3)).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .distinct()

  /** q_dedup_jaccard: exact n-gram Jaccard via inverted-index self-join.
    * |A∩B| from the posting-list join, |A|,|B| from per-doc shingle counts;
    * J = c / (|A|+|B|-c). Pairs with J ≥ 0.12 (calibrated to the corpus). */
  /** Per-doc distinct-shingle counts — consumed from two join positions
    * of the Jaccard query (|A| and |B| lookups), materialized with the
    * same shared-hot-stage rule as docShingles. */
  private def docSizes(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"dedup.sizes:$dir") {
      docShingles(s, dir).groupBy("doc_id").agg(count(lit(1)).as("sz"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The (doc_a, doc_b, common-shingle-count) candidate-pair stream off
    * the df-capped posting — memoized + persisted: TWO gated consumers
    * (exact Jaccard and Broder containment) read it. Grouped df-capped
    * posting lists (one row per shingle); the df cap is enforced with a
    * count + semi-join BEFORE collect_list so the agg buffer is bounded
    * by the cap even against viral shingles — then the i<j pair stream is
    * expanded inline (graft.functions.Pairs): one shuffle and a
    * projection where a self-join formulation would sort-merge the
    * posting against itself. */
  private def cappedPairCounts(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"dedup.paircounts:$dir") {
      val sh = docShingles(s, dir)
      val capped = sh.join(
        sh.groupBy("sh").agg(count(lit(1)).as("sdf"))
          .filter(col("sdf") <= ShingleDfCap && col("sdf") >= 2).select("sh"),
        Seq("sh"))
        .groupBy("sh").agg(collect_list(col("doc_id")).as("ds"))
      capped
        .select(explode(graft.functions.Pairs.orderedPairs(col("ds"))).as("p"))
        .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
        .agg(count(lit(1)).as("common"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** q_novelty: per-document trigram commonness — mean corpus document-
    * frequency of the doc's distinct 3-gram shingles (high = boilerplate
    * assembled from phrases every other doc also uses, low = novel
    * content). The continuous companion to the pairwise dedup family:
    * where Jaccard asks "which pair is near-identical", this scores how
    * TEMPLATE-LIKE each doc is against the whole corpus, the signal a
    * curation pipeline thresholds before any pair join. Reuses the
    * memoized docShingles stage (no new corpus pass); df is one shingle-
    * keyed aggregate joined back, then per-doc sums stay exact integers
    * to one division. Hash-keyed shingles Spark-side vs string shingles
    * oracle-side — identical counts under the same vanishing-collision
    * argument as q_dedup_jaccard. */
  def qNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    val df = sh.groupBy("sh").agg(count(lit(1)).as("sdf"))
    sh.join(df, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), sum(col("sdf")).as("df_sum"))
      .select(col("doc_id"), col("n_tri"), col("df_sum"),
        round(col("df_sum").cast("double") / col("n_tri"), 6).as("mean_df"))
  }

  private lazy val qNoveltySql =
    s"""WITH d AS (SELECT doc_id, ${graft.functions.TextFns.rawTokensSql("text")} AS toks
         FROM documents),
       sh AS (SELECT DISTINCT doc_id,
                unnest(${graft.functions.TextFns.shinglesSql("toks", 3)}) AS shingle
              FROM d),
       df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS sdf FROM sh GROUP BY shingle)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri,
         CAST(sum(sdf) AS BIGINT) AS df_sum,
         round(CAST(sum(sdf) AS DOUBLE) / count(*), 6) AS mean_df
       FROM sh JOIN df USING (shingle) GROUP BY doc_id"""

  /** q_dedup_incremental: INCREMENTAL near-dup maintenance — fold a
    * batch of NEW documents (doc_id ≡ 4 mod 5, ~20%) into an existing
    * corpus' pair state without re-running the corpus×corpus join. The
    * subtle part is that the df-capped candidate semantics is NOT
    * compositional: a shingle's cap status depends on the WHOLE corpus'
    * df, so new documents can push a shingle over [[ShingleDfCap]] and
    * change the capped-common count of pairs that contain NO new doc.
    * The incremental plan handles that exactly:
    *
    *  1. shingle dfs merge ADDITIVELY (base df + delta df — the
    *     q_incr_agg law again);
    *  2. the delta candidate set is |Δ|-bounded: new-doc posting entries
    *     join the full posting on MERGED-capped shingles, so only pairs
    *     touching a new doc are generated (cap ENTRIES — df reaching 2 —
    *     always involve a new doc, since two base docs sharing a shingle
    *     already had df ≥ 2);
    *  3. cap EXITS (df pushed past the cap BY the delta) are the
    *     non-compositional repairs: every base×base pair of an exiting
    *     shingle's base posting re-verifies (bounded: an exiting
    *     shingle's base posting has ≤ cap docs);
    *  4. all affected pairs re-verify against the MERGED capped shingle
    *     sets (candidate-bounded set intersection, the qJaccardPrefix
    *     verify shape); per-doc sizes are corpus-independent, so state
    *     J values for untouched pairs stay valid;
    *  5. result = (state ∖ affected) ∪ re-verified.
    *
    * The gate is the full point: the oracle is the byte-identical FULL
    * recompute (qDedupJaccardSql), so the incremental path must
    * reproduce every pair and every J value, cap transitions included. */
  def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    // the fold itself runs LIVE here (only the base state is memoized):
    // this query's bench number measures the delta fold, so a memoized
    // result would leave nothing measuring it. Consumers that only need
    // the folded RELATION read the memoized incrFoldedPairs instead.
    val sh = docShingles(s, dir)
    dedupFoldBatchWithState(sh.filter(!incrIsNew), incrDfState(s, dir),
      incrBaseState(s, dir), sh.filter(incrIsNew), docSizes(s, dir))
  }

  /** The 80/20 base/delta doc split shared by the incremental family
    * (q_dedup_incremental and the label-fold consumers). */
  private def incrIsNew = (col("doc_id") % 5) === 4

  /** Yesterday's PAIR state over the base docs — the fold from an EMPTY
    * state IS the base recompute (the fold is total: an empty base has
    * no exits and every candidate is new). Memoized per (session, dir). */
  private[graft] def incrBaseState(s: SparkSession, dir: String): DataFrame = {
    val prevSh = docShingles(s, dir).filter(!incrIsNew)
    val emptyPairs = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("doc_b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("jaccard",
          org.apache.spark.sql.types.DoubleType))))
    graft.ModelCache.getOrElseUpdate(s, s"dedup.incr.base:$dir") {
      // localCheckpoint (the clustersOf rationale): the fold's returned
      // plan nests the whole batch pipeline — as prevPairs of the LIVE
      // fold it would be re-canonicalized by every downstream job
      dedupFoldBatch(prevSh.filter(lit(false)), emptyPairs, prevSh,
        docSizes(s, dir))
        .localCheckpoint(true)
    }
  }

  /** Yesterday's shingle-df STATE (sh → df over the base posting) — the
    * other half of the stored state a production incremental pipeline
    * keeps beside the pair relation: the capped-candidate semantics
    * depends on the whole corpus' df, and re-deriving it meant a full
    * vocabulary-sized re-aggregation of the accumulated posting on EVERY
    * fold (the r21 verdict's "df-merge stage" — measured ~5.5 task-sec
    * of the live fold's ~35 at sf0.1). Stored hash-partitioned AND
    * sorted on sh so the fold's |Δ|-bounded joins against it reuse the
    * layout (guide §2.4/§6 sort-once) instead of re-shuffling state. */
  private[graft] def incrDfState(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"dedup.incr.dfs:$dir") {
      docShingles(s, dir).filter(!incrIsNew)
        .groupBy("sh").agg(count(lit(1)).as("df_base"))
        .sortWithinPartitions("sh")
        .localCheckpoint(true)
    }

  /** Today's FOLDED pair relation (base state + the delta batch) —
    * memoized: the pair fold is read by q_dedup_incremental itself AND
    * by the label-fold consumers downstream. */
  private def incrFoldedPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    graft.ModelCache.getOrElseUpdate(s, s"dedup.incr.folded:$dir") {
      // localCheckpoint (the clustersOf rationale)
      dedupFoldBatchWithState(sh.filter(!incrIsNew), incrDfState(s, dir),
        incrBaseState(s, dir), sh.filter(incrIsNew), docSizes(s, dir))
        .localCheckpoint(true)
    }
  }

  /** ONE batch step of incremental near-dup maintenance — the reusable
    * fold behind [[qDedupIncremental]] (see its doc for the algorithm
    * and the cap-transition argument). Inputs are the STORED state a
    * production pipeline keeps: the accumulated posting relation
    * `prevSh` (doc_id, sh), the accumulated pair relation `prevPairs`
    * (doc_a, doc_b, jaccard), the batch's posting `newSh`, and the
    * corpus-independent per-doc sizes. Returns the new pair relation.
    * Folding from an EMPTY state is the full recompute, and
    * DedupIncrementalSpec pins multi-batch folds equal to the one-shot
    * recompute — the fold is associative in the only sense that matters.
    * Scale: every stage is |Δ|-bounded except the one additive df merge. */
  def dedupFoldBatch(prevSh: DataFrame, prevPairs: DataFrame,
      newSh: DataFrame, sizes: DataFrame): DataFrame =
    dedupFoldBatchWithState(prevSh,
      prevSh.groupBy("sh").agg(count(lit(1)).as("df_base")),
      prevPairs, newSh, sizes)

  /** [[dedupFoldBatch]] with the base shingle-df relation supplied as
    * STORED STATE (`prevDfs`: sh → df_base, the aggregate a production
    * pipeline maintains additively beside the posting). Every stage is
    * now |Δ|-bounded: the old form re-aggregated the FULL accumulated
    * posting for the df merge on every fold and joined the full posting
    * twice more — here the delta df aggregate joins the stored state
    * (sort-merge against the state's own sorted layout), and the only
    * full-posting touches left are the affected-doc semi-join (broadcast
    * of a candidate-bounded id set over the persisted posting) and the
    * cap-exit posting lookup (delta-shingle-bounded join). Equivalence:
    * df_full = df_base + df_delta is the additive law; a capped shingle
    * with NO delta occurrence has unchanged posting and can generate no
    * new candidate, so restricting the candidate join to delta shingles
    * loses nothing (cap ENTRIES and EXITS both require a delta
    * occurrence — see the qDedupIncremental doc). */
  def dedupFoldBatchWithState(prevSh: DataFrame, prevDfs: DataFrame,
      prevPairs: DataFrame, newSh: DataFrame, sizes: DataFrame): DataFrame = {
    val cap = ShingleDfCap
    // |Δ|-sized delta df aggregate, merged with the stored base dfs —
    // read from three positions below (candidates, exits, repair verify)
    val dMerged = newSh.groupBy("sh").agg(count(lit(1)).as("df_delta"))
      .join(prevDfs, Seq("sh"), "left_outer")
      .select(col("sh"), col("df_delta"),
        coalesce(col("df_base"), lit(0L)).as("df_base"))
      .select(col("sh"), col("df_base"),
        (col("df_base") + col("df_delta")).as("df_full"))
      .localCheckpoint(true)
    // only delta shingles can be capped-AND-relevant for new candidates:
    // a shingle without a delta occurrence has an unchanged posting
    val cappedDelta = dMerged
      .filter(col("df_full") >= 2 && col("df_full") <= cap).select("sh")
    // |Δ|-bounded candidates WITH their exact capped-common counts, in
    // the ONE posting join (r22): every shingle a new doc shares with
    // anyone is by definition a delta shingle, so counting the
    // candidate-generation join's matches per pair IS the intersection
    // |A∩B| over the merged capped shingle sets — the r21 form threw the
    // join matches away (distinct), re-collected both docs' full sets
    // and re-intersected 400 k sorted arrays per fold. Both-new pairs
    // appear from both sides of the join, so they count once via the
    // nd < od gate; new-base pairs appear once by construction.
    val fullPost = prevSh.select(col("sh"), col("doc_id"), lit(false).as("od_new"))
      .unionByName(newSh.select(col("sh"), col("doc_id"), lit(true).as("od_new")))
    val newCommon = newSh.select(col("sh"), col("doc_id").as("nd"))
      .join(cappedDelta, Seq("sh"))
      .join(fullPost.select(col("sh"), col("doc_id").as("od"), col("od_new")),
        Seq("sh"))
      .filter(col("nd") =!= col("od") && (!col("od_new") || col("nd") < col("od")))
      .groupBy(least(col("nd"), col("od")).as("doc_a"),
        greatest(col("nd"), col("od")).as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .localCheckpoint(true) // two consumers: the anti-join's affected set
      //                        and the fresh-pair scoring
    // cap-exit repairs: base×base pairs of shingles the delta pushed out.
    // These pairs may still share OTHER capped shingles (delta or not),
    // so their common counts come from a repair-doc-bounded posting
    // self-join over the merged capped shingle status — an exiting
    // shingle's base posting has ≤ cap docs, so everything here is tiny.
    val exits = dMerged.filter(col("df_base") >= 2 &&
      col("df_base") <= cap && col("df_full") > cap).select("sh")
    val repairCand = prevSh
      .join(exits, Seq("sh"))
      .groupBy("sh").agg(collect_list(col("doc_id")).as("ds"))
      .select(explode(graft.functions.Pairs.orderedPairs(col("ds"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
      .localCheckpoint(true) // read by the affected union, the repair-doc
      //                        id set, and the repair-common semi-join
    val repairDocs = repairCand.select(col("doc_a").as("doc_id"))
      .unionByName(repairCand.select(col("doc_b").as("doc_id"))).distinct()
    // merged capped posting of the repair docs only (df_full = df_base
    // + df_delta additively; sh ∉ Δ keeps df_full = df_base)
    val repairPost = prevSh.select(col("sh"), col("doc_id"))
      .join(repairDocs, Seq("doc_id"), "left_semi")
      .join(prevDfs, Seq("sh"), "left_outer")
      .join(dMerged.select(col("sh"), col("df_full").as("df_m")),
        Seq("sh"), "left_outer")
      .filter(coalesce(col("df_m"), col("df_base"), lit(0L)).between(2, cap))
      .select(col("doc_id"), col("sh"))
      .localCheckpoint(true) // two sides of the self-join below
    val repairCommon = repairPost.select(col("doc_id").as("doc_a"), col("sh"))
      .join(repairPost.select(col("doc_id").as("doc_b"), col("sh")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
      .join(repairCand, Seq("doc_a", "doc_b"), "left_semi")
    // affected = every candidate pair, INCLUDING repair pairs whose
    // merged common dropped to 0 (they must leave the state); new-side
    // and repair-side pair sets are disjoint (a new-side pair always
    // contains a new doc, a repair pair never does)
    val affected = newCommon.select("doc_a", "doc_b")
      .unionByName(repairCand)
    val fresh = jaccardOfCommon(sizes,
      newCommon.unionByName(repairCommon))
    prevPairs.join(affected, Seq("doc_a", "doc_b"), "left_anti")
      .unionByName(fresh)
  }

  /** (doc_a, doc_b, common) → the gated J ≥ 0.12 pair relation, sizes
    * from the per-doc distinct-shingle counts (which are
    * corpus-independent — a doc's size never changes as the corpus
    * grows, which is what lets incremental state J values stay valid). */
  private def jaccardOfCommon(sizes: DataFrame,
      common: DataFrame): DataFrame =
    common
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.12)

  /** Jaccard threshold of [[qJaccardPrefix]]. */
  val PrefixJaccardTau = 0.3

  /** q_jaccard_prefix: prefix-filtered set-similarity join (the PPJoin
    * family, Xiao et al. 2008 — THE candidate-reduction technique for
    * threshold joins, and the LOSSLESS answer to the df-cap trade the
    * plain inverted-index path makes): order every doc's shingles by
    * global rarity (df asc, hash asc); for J ≥ τ a matching pair MUST
    * share a shingle within both docs' first |A| − ⌈τ·|A|⌉ + 1 shingles,
    * so the posting self-join runs over PREFIXES only — ultra-common
    * shingles land at the END of the ordering and never generate
    * candidates, which is exactly what the lossy ShingleDfCap
    * approximates. Verification intersects the two sorted per-doc
    * shingle arrays per CANDIDATE (doc-length-bounded work, the PPJoin
    * verify stage). Exact by the prefix-filter theorem — the oracle is
    * the UNCAPPED brute-force threshold join and must match pair for
    * pair. */
  def qJaccardPrefix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docShingles(s, dir)
    val df = sh.groupBy("sh").agg(count(lit(1)).as("sdf"))
    val w = Window.partitionBy("doc_id").orderBy(col("sdf").asc, col("sh").asc)
    val prefix = sh.join(df, Seq("sh"))
      .withColumn("pos", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("pos") <=
        col("sz") - ceil(col("sz") * PrefixJaccardTau).cast("long") + 1)
      .select(col("doc_id"), col("sh"), col("pos"), col("sz"))
    // PPJoin length + position filters on top of the prefix filter
    // (Xiao et al. 2008 §3, r22 — both LOSSLESS for J ≥ τ, in exact
    // integer arithmetic with τ = 0.3 = 3/10, so τ/(1+τ) = 3/13):
    //  - length: J ≤ min(|A|,|B|)/max(|A|,|B|), so J ≥ τ needs
    //    10·min ≥ 3·max;
    //  - position: J ≥ τ ⟺ c ≥ τ/(1+τ)·(|A|+|B|); at a shared prefix
    //    shingle with positions (pa, pb) the overlap is bounded by
    //    1 + min(|A|−pa, |B|−pb) PLUS the shared shingles before it —
    //    for the pair's FIRST shared shingle that prior count is 0, so
    //    any true pair passes the per-match test 13·(1 + min(|A|−pa,
    //    |B|−pb)) ≥ 3·(|A|+|B|) at its first match and survives the
    //    post-filter distinct. Candidates that pass no match are
    //    provably below τ and skip the verify stage entirely.
    // candidates materialize ONCE (localCheckpoint): three consumers —
    // the doc restriction below reads it twice and the final join once —
    // would otherwise each replay the prefix self-join
    val cand = prefix.select(col("doc_id").as("doc_a"), col("sh"),
        col("pos").as("pa"), col("sz").as("sz_a"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("sh"),
        col("pos").as("pb"), col("sz").as("sz_b")), Seq("sh"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("sz_a"), col("sz_b")) * 10 >=
        greatest(col("sz_a"), col("sz_b")) * 3)
      .filter((lit(1) + least(col("sz_a") - col("pa"),
        col("sz_b") - col("pb"))) * 13 >= (col("sz_a") + col("sz_b")) * 3)
      .select("doc_a", "doc_b").distinct()
      .localCheckpoint(true)
    // the verify stage materializes sorted shingle sets ONLY for docs
    // that appear in some candidate (semi-join first): set building is
    // candidate-bounded, not corpus-bounded
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    val sets = sh.join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh"))).as("set"),
        count(lit(1)).as("sz"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("set").as("set_a"),
        col("sz").as("sz_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("set").as("set_b"),
        col("sz").as("sz_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("common"),
        col("sz_a"), col("sz_b"))
      .filter(col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")).cast("double")
        >= PrefixJaccardTau)
      .select(col("doc_a"), col("doc_b"),
        round(col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"), 6)
          .as("jaccard"))
  }

  private lazy val qJaccardPrefixSql = {
    val toks = TextFns.rawTokensSql("text")
    s"""WITH sh AS (
         SELECT DISTINCT doc_id, unnest(${TextFns.shinglesSql("toks", 3)}) AS shingle
         FROM (SELECT doc_id, $toks AS toks FROM documents)),
       sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS common
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b,
         round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
       FROM pairs
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common)
         >= $PrefixJaccardTau"""
  }

  def qDedupJaccard(s: SparkSession, dir: String): DataFrame = {
    val sizes = docSizes(s, dir)
    val pairs = cappedPairCounts(s, dir)
    // sizes is one row PER DOCUMENT — never broadcast it; a shuffle join on
    // the pair keys is the plan that survives 100 TB (same as exactJaccardOf).
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.12)
  }

  /** The sh/capped/sizes/pairs CTE block — ONE definition shared by the
    * Jaccard and containment oracles (their Spark twins genuinely share
    * docShingles/cappedPairCounts, so the SQL twins must share the
    * candidate definition too). Callers prepend WITH. */
  private lazy val pairCountCtes = {
    val toks = TextFns.rawTokensSql("text")
    s"""sh AS (
         SELECT DISTINCT doc_id, unnest(${TextFns.shinglesSql("toks", 3)}) AS shingle
         FROM (SELECT doc_id, $toks AS toks FROM documents)),
       capped AS (
         SELECT sh.doc_id, sh.shingle FROM sh JOIN (
           SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= $ShingleDfCap) g
           USING (shingle)),
       sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2)"""
  }

  private lazy val qDedupJaccardSql =
    s"""WITH $pairCountCtes
       SELECT doc_a, doc_b,
         round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
       FROM pairs
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.12"""

  /** q_containment: Broder CONTAINMENT pairs — the asymmetric near-dup
    * measure Jaccard misses: a short doc quoted wholesale inside a long
    * one has tiny Jaccard (union is huge) but containment
    * C(A→B) = |A∩B|/|A| ≈ 1. Same shared posting/size stages and the
    * same df-capped intersection stream as q_dedup_jaccard — one more
    * formula over the identical candidate pairs, no new corpus pass.
    * Emits both directions; kept when either side is ≥ 0.5 contained. */
  def qContainment(s: SparkSession, dir: String): DataFrame = {
    val sizes = docSizes(s, dir)
    val pairs = cappedPairCounts(s, dir)
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("common").cast("double") / col("sz_a"), 6).as("cont_a"),
        round(col("common").cast("double") / col("sz_b"), 6).as("cont_b"))
      .filter(col("cont_a") >= 0.5 || col("cont_b") >= 0.5)
  }

  private lazy val qContainmentSql = {
    s"""WITH $pairCountCtes
       SELECT doc_a, doc_b,
         round(CAST(common AS DOUBLE) / sa.sz, 6) AS cont_a,
         round(CAST(common AS DOUBLE) / sb.sz, 6) AS cont_b
       FROM pairs
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE round(CAST(common AS DOUBLE) / sa.sz, 6) >= 0.5
          OR round(CAST(common AS DOUBLE) / sb.sz, 6) >= 0.5"""
  }

  /** q_dedup_cosine: embedding near-dup pairs. Output is id-pairs only (no
    * float column) so the compare is immune to fp representation; both
    * engines evaluate the identical IEEE sequence (sequential dot in
    * double). Bounded block: vec_id < 500 on both sides — the unbounded
    * scale path is the LSH-bucketed variant (q_ann_lsh). */
  def qDedupCosine(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .filter(col("vec_id") < 500)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        SimilaritySearch.cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= 0.35)
      .select("vec_a", "vec_b")
  }

  private val qDedupCosineSql =
    """WITH e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 500)
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       FROM e a JOIN e b ON a.vec_id < b.vec_id
       WHERE list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35"""

  /** Benchmark-id ceiling and cosine threshold for semantic
    * decontamination: vec_id < 100 plays the held-out benchmark
    * embedding set (the q_decontaminate id-rule convention), τ shared
    * with the cosine dedup family. */
  val DeconBenchMax = 100L
  val DeconSemTau = 0.35

  /** q_decon_semantic: SEMANTIC benchmark decontamination — the
    * embedding twin of q_decontaminate's 5-gram overlap: a paraphrased
    * or translated benchmark item shares no shingles with its source
    * but still sits next to it in embedding space, which is why modern
    * pipelines run both lexical AND semantic decontamination passes.
    * Each training vector is scored against EVERY benchmark vector and
    * flagged when max cosine ≥ τ, with the argmax benchmark id
    * (tie-broken to the smallest id) and the exact hit count emitted —
    * ids and integers only, no float column, so the compare is immune
    * to fp representation while both engines evaluate the identical
    * IEEE dot-product sequence (the q_dedup_cosine discipline).
    *
    * Scale shape: the benchmark side BROADCASTS — benchmark suites are
    * bounded by construction (thousands of items, not corpus-sized), so
    * unlike near-dup dedup this operator's exact form IS the 100 TB
    * plan: one map-side pass over training embeddings against the
    * broadcast benchmark matrix, then a groupBy over only the flagged
    * rows. No LSH approximation needed where one side is small. */
  def qDeconSemantic(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val bench = e.filter(col("vec_id") < DeconBenchMax)
      .select(col("vec_id").as("bench_id"), col("v").as("bv"))
    e.filter(col("vec_id") >= DeconBenchMax)
      .crossJoin(broadcast(bench))
      .select(col("vec_id"), col("bench_id"),
        SimilaritySearch.cosine(col("v"), col("bv")).as("cos"))
      .filter(col("cos") >= DeconSemTau)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_hits"),
        min(struct((-col("cos")).as("nc"), col("bench_id")))
          .getField("bench_id").as("bench_id"))
      .select(col("vec_id"), col("bench_id"), col("n_hits"))
  }

  private val qDeconSemanticSql =
    s"""WITH e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       bench AS (SELECT vec_id AS bench_id, v AS bv FROM e
                 WHERE vec_id < $DeconBenchMax),
       train AS (SELECT vec_id, v FROM e WHERE vec_id >= $DeconBenchMax),
       f AS (SELECT t.vec_id, b.bench_id,
               list_dot_product(t.v, b.bv) /
                 (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(b.bv, b.bv))) AS cos
             FROM train t CROSS JOIN bench b
             WHERE list_dot_product(t.v, b.bv) /
                 (sqrt(list_dot_product(t.v, t.v)) * sqrt(list_dot_product(b.bv, b.bv)))
               >= $DeconSemTau),
       r AS (SELECT vec_id, bench_id, cos,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY cos DESC, bench_id ASC) AS rn,
               count(*) OVER (PARTITION BY vec_id) AS n_hits
             FROM f)
       SELECT vec_id, bench_id, CAST(n_hits AS BIGINT) AS n_hits
       FROM r WHERE rn = 1"""

  /** q_dedup_cosine_lsh: the SCALE path for embedding near-dup pairs.
    * Candidates come from sign-bucket collisions (the same 8-table × 6-plane
    * deterministic hyperplanes as q_ann_lsh) — an equi-join on (tbl, bucket),
    * never all-pairs — then exact cosine ≥ τ verifies each candidate.
    * Verified pairs ⊆ the exact all-pairs result (recall < 1 is the LSH
    * trade; more tables buys recall). q_dedup_cosine keeps the hard-coded
    * exact block as the small-scale oracle cross-check; THIS is the operator
    * you run at 100 TB. Rows-only oracle (hash mixing isn't SQL-portable). */
  def qDedupCosineLsh(s: SparkSession, dir: String): DataFrame = {
    val posted = SimilaritySearch.postedBuckets(s, dir)
      .select("vec_id", "tbl", "bucket")
    val cand = posted.groupBy("tbl", "bucket")
      .agg(collect_list(col("vec_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(graft.functions.Pairs.orderedPairs(col("ds"))).as("p"))
      .select(col("p.a").as("vec_a"), col("p.b").as("vec_b"))
      .distinct()
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        SimilaritySearch.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= 0.35)
      .select("vec_a", "vec_b")
  }

  /** q_dedup_semantic: SemDeDup-style cluster-then-dedup — the modern
    * embedding-dedup recipe for web-scale corpora (Abbas et al. 2023,
    * arXiv:2303.09540): a seeded KMeans partitions the embedding space,
    * and near-dup pairs are only sought WITHIN a cluster. k scales with
    * corpus size (k ≈ n/128) so expected cluster size — and with it the
    * per-cluster pair expansion — stays bounded as the corpus grows; the
    * all-pairs cost becomes k·O(128²) instead of O(n²). Same verify
    * threshold as the exact block, so reported pairs are a recall-traded
    * subset of q_dedup_cosine (spec-pinned). Rows-only oracle (KMeans is
    * not SQL-portable). */
  def qDedupSemantic(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val assigned = graft.ModelCache.getOrElseUpdate(s, s"semdedup.assigned:$dir") {
      val feats = e.select(col("vec_id"), col("v"), array_to_vector(col("v")).as("features"))
      val k = math.max(8L, e.count() / 128).toInt
      val km = new KMeans().setK(k).setSeed(42L).setMaxIter(20)
        .setFeaturesCol("features").fit(feats)
      km.transform(feats)
        .select(col("vec_id"), col("v"), col("prediction").as("cluster"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val cand = assigned.groupBy("cluster")
      .agg(collect_list(col("vec_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("cluster"), explode(graft.functions.Pairs.orderedPairs(col("ds"))).as("p"))
      .select(col("cluster"), col("p.a").as("vec_a"), col("p.b").as("vec_b"))
    cand
      .join(assigned.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(assigned.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .select(col("cluster"), col("vec_a"), col("vec_b"),
        SimilaritySearch.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= 0.35)
      .select("cluster", "vec_a", "vec_b")
  }

  // ---------------- MinHash + LSH banding ----------------

  val NumHashes = 128
  val NumBands = 16 // 8 rows/band

  /** MinHash signatures via the one-pass native kernel
    * (graft.functions.HashKernels.minhash): the full 128-wide signature is
    * a PURE PROJECTION over each document's shingle array — no explode, no
    * aggregate, no shuffle (the old formulation exploded shingles and ran
    * 128 min-aggregate buffers through an exchange). min is blind to
    * duplicates, so skipping the distinct() is exact. */
  def minhashSignaturesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFns.rawTokens(col("text")).as("toks"))
      .select(col("doc_id"), TextFns.shingles(col("toks"), 3).as("sgs"))
      .filter(size(col("sgs")) > 0)
      .select(col("doc_id"),
        graft.functions.HashKernelCols.minhash(col("sgs"), NumHashes).as("sig"))

  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), TextFns.shingles(col("rtoks"), 3).as("sgs"))
      .filter(size(col("sgs")) > 0)
      .select(col("doc_id"),
        graft.functions.HashKernelCols.minhash(col("sgs"), NumHashes).as("sig"))

  /** q_dedup_minhash: band-bucket candidate pairs → exact-Jaccard verify.
    * Verified pairs are by construction a SUBSET of q_dedup_jaccard's exact
    * result (recall < 1 is the LSH trade); rows-only oracle (hash mixing
    * not SQL-portable). */
  def qDedupMinhash(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    // candidate pairs are MATERIALIZED (memoized per session + persisted):
    // the verify stage consumes them from three positions (both id-prune
    // sides + the intersection join), which would otherwise re-run the
    // signature/banding pipeline per consumer — the same shared-hot-stage
    // rule as docShingles/postedBuckets
    val cand = graft.ModelCache.getOrElseUpdate(s, s"dedup.minhash.cand:$dir") {
      val sig = minhashSignatures(s, dir)
      val rowsPerBand = NumHashes / NumBands
      val bands = sig.select(col("doc_id"),
        explode(array((0 until NumBands).map { b =>
          struct(lit(b).as("band"),
            xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
              .map(i => col("sig")(i)): _*).as("key"))
        }: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      // band buckets → inline pair expansion (identical pair stream to the
      // old band self-join, one shuffle instead of a sort-merge join);
      // bucket width is bounded by the duplicate-cluster size
      bands.groupBy("band", "key").agg(collect_list(col("doc_id")).as("ds"))
        .filter(size(col("ds")) >= 2)
        .select(explode(graft.functions.Pairs.orderedPairs(col("ds"))).as("p"))
        .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    exactJaccardOf(sh, cand).filter(col("jaccard") >= 0.12)
  }

  /** Sketch-estimate error ceiling for the MinHash audit: with 128
    * hashes the estimator's sd is ≤ √(0.25/128) ≈ 0.044, so 0.15 is
    * >3σ at the worst-case J — and the estimate is DETERMINISTIC (fixed
    * hash family), so the bound either holds for a given corpus or it
    * doesn't: measured max |est − J| is 0.040 at sf0.01 and 0.048 at
    * sf0.1, comfortably inside. */
  val MinhashAuditBound = 0.15

  /** q_minhash_audit: accuracy certificate for the MinHash estimator —
    * for every EXACT near-dup pair (the SQL-derivable q_dedup_jaccard
    * set, so the oracle reproduces the rows), compare the 128-hash
    * signature agreement rate against the exact Jaccard and assert the
    * error ceiling. This hash-gates the signature kernel's statistical
    * contract, which the rows-only q_dedup_minhash gate never could:
    * a broken hash family (correlated components, biased mixing) blows
    * the bound and fails the gate. Estimate computed only on the exact
    * pair set — pairs ≪ corpus, one broadcast-friendly join per side. */
  def qMinhashAudit(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir)
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / NumHashes
    qDedupJaccard(s, dir)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        (abs(est - col("jaccard")) <= MinhashAuditBound).as("est_within_bound"))
  }

  private lazy val qMinhashAuditSql =
    s"""WITH $pairCountCtes
       SELECT doc_a, doc_b,
         round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard,
         TRUE AS est_within_bound
       FROM pairs
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.12"""

  /** SimHash audit ceilings, calibrated on the driver corpus (the
    * signature is DETERMINISTIC — fixed hash family — so each bound
    * either holds for a corpus or it doesn't): identical token streams
    * (jaccard = 1.0) must collide EXACTLY (hamming 0, sharp); strong
    * pairs (J ≥ 0.5) measured max hamming 11 at sf0.1 → ceiling 20; weak
    * pairs measured max 28 → ceiling 44 = E[hamming | unrelated] + 3σ
    * (32 + 3·√(64·0.25)), the catastrophic-breakage bound a constant or
    * anti-correlated bit plane would blow. */
  val SimhashAuditStrongBound = 20
  val SimhashAuditWeakBound = 44

  /** q_simhash_audit: accuracy certificate for the SimHash kernel — the
    * q_minhash_audit pattern applied to the second rows-only signature
    * path: for every EXACT near-dup pair (the SQL-derivable
    * q_dedup_jaccard set, so the oracle reproduces the rows), the 64-bit
    * signature hamming distance must respect the jaccard-banded ceiling,
    * asserted as a boolean the oracle gates literally. A broken kernel
    * (biased mixing, dead bits, a sign error in the occurrence sums)
    * fails the jaccard=1.0 exact-collision clause or the strong-pair
    * ceiling. Signatures join onto pairs ≪ corpus — one projection +
    * two broadcast-friendly joins. */
  def qSimhashAudit(s: SparkSession, dir: String): DataFrame = {
    val sh = simhash(s, dir)
    val hamming = expr("bit_count(sig_a ^ sig_b)")
    qDedupJaccard(s, dir)
      .join(sh.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        when(col("jaccard") === 1.0, hamming === 0)
          .when(col("jaccard") >= 0.5, hamming <= SimhashAuditStrongBound)
          .otherwise(hamming <= SimhashAuditWeakBound).as("hamming_ok"))
  }

  private lazy val qSimhashAuditSql =
    s"""WITH $pairCountCtes
       SELECT doc_a, doc_b,
         round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard,
         TRUE AS hamming_ok
       FROM pairs
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.12"""

  /** Cosine-LSH recall floor: 4·n_caught ≥ n_pairs (recall ≥ 0.25,
    * cross-multiplied — no fp ratio in the gate). Measured recall of the
    * 8×6 hyperplane index over the exact ≥0.35 pair set: 0.384 at
    * sf0.01, 0.437 at sf0.1 (deterministic planes — the number is a
    * property of the corpus, not a draw). Chance collision would sit
    * orders below the floor: a broken plane family or bucket join fails
    * the gate. */
  val CosineLshRecallDen = 4

  /** q_cosine_lsh_audit: accuracy certificate for the hyperplane-LSH
    * candidate generator — q_ann_recall made DuckDB-gated: ground truth
    * is the SQL-derivable exact cosine pair set (the q_dedup_cosine
    * block), Spark left-joins the LSH bucket-collision candidates onto
    * it and emits ONE row: the exact pair count (oracle recomputes it)
    * and the cross-multiplied recall floor as a boolean the oracle
    * asserts literally. Candidate generation stays the (tbl, bucket)
    * equi-join — the audit never runs all-pairs outside the bounded
    * <500 ground-truth block. */
  def qCosineLshAudit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .filter(col("vec_id") < 500)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val exact = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        SimilaritySearch.cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= 0.35)
    val cand = SimilaritySearch.postedBuckets(s, dir)
      .select("vec_id", "tbl", "bucket")
      .groupBy("tbl", "bucket")
      .agg(collect_list(col("vec_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(graft.functions.Pairs.orderedPairs(col("ds"))).as("p"))
      .select(col("p.a").as("vec_a"), col("p.b").as("vec_b"))
      .distinct()
      .withColumn("hit", lit(1L))
    exact.join(cand, Seq("vec_a", "vec_b"), "left_outer")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
      .select(col("n_pairs"),
        (col("n_caught") * CosineLshRecallDen >= col("n_pairs")).as("recall_ok"))
  }

  /** SemDeDup recall floor: 4·n_caught ≥ n_pairs (recall ≥ 0.25,
    * cross-multiplied — no fp ratio in the gate). Recall here is the
    * probability a true near-dup pair lands in one KMeans cell — the
    * recall/cost trade SemDeDup makes by construction (seeded cells, so
    * the number is a corpus property, not a draw). Measured over the
    * exact ≥0.35 block: 0.410 at sf0.01 (111/271), 0.265 at sf0.1
    * (63/238 — k ∝ n/128 spreads the probe block over more cells). */
  val SemanticRecallDen = 4

  /** q_semantic_audit: accuracy certificate for SemDeDup's
    * cluster-then-dedup recall — q_cosine_lsh_audit's rule applied to the
    * KMeans-cell candidate generator. Ground truth is the SQL-derivable
    * exact cosine ≥0.35 pair set over the bounded vec_id<500 block; the
    * emitted intra-cluster verified pairs left-join onto it. Two
    * guarantees: the recall floor (cross-multiplied), and PRECISION — a
    * SemDeDup pair inside the block that is NOT in the exact set means
    * the verify threshold broke (SemDeDup's reported pairs are
    * cosine-verified, so within the block they must be a subset). */
  def qSemanticAudit(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .filter(col("vec_id") < 500)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val exact = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        SimilaritySearch.cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= 0.35)
    val sem = qDedupSemantic(s, dir)
      .filter(col("vec_a") < 500 && col("vec_b") < 500)
      .select(col("vec_a"), col("vec_b")).withColumn("hit", lit(1L))
    val recall = exact.join(sem, Seq("vec_a", "vec_b"), "left_outer")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
    val falsePos = sem.join(exact.select(col("vec_a"), col("vec_b"))
        .withColumn("truth", lit(1L)), Seq("vec_a", "vec_b"), "left_outer")
      .agg(sum(when(col("truth").isNull, 1L).otherwise(0L)).as("n_false"))
    recall.crossJoin(broadcast(falsePos))
      .select(col("n_pairs"),
        (col("n_caught") * SemanticRecallDen >= col("n_pairs")).as("recall_ok"),
        (col("n_false") === 0L).as("precision_ok"))
  }

  private val qSemanticAuditSql =
    """WITH e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 500)
       SELECT CAST(count(*) AS BIGINT) AS n_pairs, TRUE AS recall_ok,
         TRUE AS precision_ok
       FROM e a JOIN e b ON a.vec_id < b.vec_id
       WHERE list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35"""

  private val qCosineLshAuditSql =
    """WITH e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 500)
       SELECT CAST(count(*) AS BIGINT) AS n_pairs, TRUE AS recall_ok
       FROM e a JOIN e b ON a.vec_id < b.vec_id
       WHERE list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35"""

  /** Exact Jaccard restricted to candidate pairs (the verify stage all
    * LSH variants share). Joins on the 8-byte shingle hash from
    * docShingles, not the string — and FIRST prunes the posting to the
    * docs that appear in a candidate pair (a semi-join against the tiny
    * candidate id set): LSH's whole point is candidates ≪ corpus, so the
    * expensive intersection joins must only ever see candidate docs. */
  def exactJaccardOf(sh: DataFrame, cand: DataFrame): DataFrame = {
    val ids = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val shc = sh.join(ids, Seq("doc_id"), "left_semi")
    val sizes = shc.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = cand
      .join(shc.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(shc.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")), 6)
          .as("jaccard"))
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash per doc via the one-pass native kernel
    * (graft.functions.HashKernels.simhash64): per-bit signed occurrence
    * sums over xxhash64(token), sign → bit — identical signature to the
    * 64-sum-aggregate formulation it replaces (MlSpec proves bit-equality),
    * but as a pure projection: no explode, no aggregation exchange. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    TextPrep.rawDocs(s, dir)
      .filter(size(col("rtoks")) > 0) // zero-token docs carry no signal (the
      // aggregate formulation excluded them by construction; the kernel
      // would give them all-identical signatures and spurious collisions)
      .select(col("doc_id"), graft.functions.HashKernelCols.simhash64(col("rtoks")).as("simhash"))

  /** q_dedup_simhash: 4×16-bit band buckets → hamming ≤ 6 verified pairs.
    * Rows-only oracle. */
  def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    val sig = simhash(s, dir)
    val bands = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          expr(s"(simhash >> ${b * 16}) & 65535").as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    bands.groupBy("band", "key")
      .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(graft.functions.Pairs.orderedPairs(col("ds"))).as("p"))
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        expr("bit_count(p.a.simhash ^ p.b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
  }

  // ---------------- Duplicate-cluster assembly ----------------

  /** Edge count up to which [[connectedComponents]] collects the edges
    * and solves them on the driver (the q_keywords take(limit + 1)
    * convention). */
  val CcLocalLimit: Int = 1 << 20

  /** Backstop on [[ccDistributed]]'s rounds. Pointer jumping makes the
    * rounds needed O(log diameter), so a converging graph stops long
    * before the cap. */
  val CcRoundCap = 50

  /** Connected components over an undirected edge list `(a, b)` with
    * LONG or INT endpoints: one `(id, label)` row per node, both in the
    * endpoints' type, where `label` is the minimum node id of the node's
    * component. The edges are probed with `take(CcLocalLimit + 1)`: when
    * they fit, [[ccLocal]]'s union-find runs on the driver; above the
    * limit, [[ccDistributed]] runs fused hook-hook-shortcut rounds to the
    * fixpoint, with [[CcRoundCap]] as a backstop only. Union-by-min and
    * the min-label fixpoint both give component minima, so the path never
    * changes the answer. This is the large-scale dedup clustering step: a
    * pair list alone doesn't say which docs to drop — the cluster id
    * does (keep min(doc_id) per cluster, drop the rest). */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val head = e.take(CcLocalLimit + 1)
    if (head.length > CcLocalLimit) return ccDistributed(e)
    def node(v: Any): Long = v match {
      case l: java.lang.Long => l
      case i: java.lang.Integer => i.longValue
      case other => throw new IllegalArgumentException(
        s"connectedComponents: endpoint $other is not LONG or INT")
    }
    val kt = e.schema("a").dataType
    import e.sparkSession.implicits._
    ccLocal(head.toSeq.map(r => (node(r.get(0)), node(r.get(1)))))
      .toDF("id", "label")
      .select(col("id").cast(kt).as("id"), col("label").cast(kt).as("label"))
  }

  /** The distributed min-label loop behind [[connectedComponents]]
    * (Shiloach–Vishkin hook + shortcut, the O(log n)-round contraction
    * class of Kiveris et al. 2014's small-star/large-star). Labels start
    * as node ids; a round is two HOOKS (min over self and neighbors'
    * labels, one edge join + groupBy each) and one SHORTCUT (l(v) ←
    * l(l(v)), one node-sized self-join), composed into one plan and
    * materialized once. Labels are always node ids of the same component
    * and only decrease, so a round with no lowered label means the hook
    * fixpoint holds: every label is its component's minimum. */
  private[graft] def ccDistributed(edges: DataFrame): DataFrame = {
    // localCheckpoint, not persist (the clustersOf rationale): round k's
    // plan starts from materialized blocks instead of re-analyzing
    // rounds 1..k−1
    val adj = edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    var labels = adj.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    def hook(lbl: DataFrame): DataFrame = {
      val nbrMin = adj
        .join(lbl.select(col("id").as("b"), col("label").as("nl")), Seq("b"))
        .groupBy(col("a").as("id")).agg(min(col("nl")).as("nl"))
      lbl.join(nbrMin, Seq("id"), "left_outer")
        .select(col("id"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
    }
    var changed = true
    var round = 0
    while (changed && round < CcRoundCap) {
      val h2 = hook(hook(labels))
      val next = h2
        .join(h2.select(col("id").as("pid"), col("label").as("pl")),
          col("label") === col("pid"), "left_outer")
        .select(col("id"),
          least(col("label"), coalesce(col("pl"), col("label"))).as("l2"))
        .join(labels.select(col("id"), col("label").as("prev")), Seq("id"))
        .select(col("id"), col("l2").as("label"), col("prev"))
        .localCheckpoint(true)
      changed = next.filter(col("label") < col("prev")).limit(1).count() > 0
      labels = next.select("id", "label")
      round += 1
    }
    labels
  }

  /** Driver-side min-root union-find over a collected Long edge list —
    * [[connectedComponents]]'s local path. Union-by-min keeps every root
    * the minimum of its component, so the output labels match
    * [[ccDistributed]]'s exactly. */
  def ccLocal(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(k => k -> find(k))
  }

  /** q_dedup_clusters: duplicate CLUSTERS from the exact-Jaccard pair
    * graph — the operator that turns pairwise near-dup hits into a
    * per-doc cluster assignment (cluster id = min doc_id reachable).
    * Hash-gated against a DuckDB recursive-CTE transitive closure. */
  /** The exact-Jaccard pair graph as an (a < b) edge list, memoized +
    * persisted per session: the clusters query iterates over it and the
    * graph-stats query references it from six join positions — without
    * materialization each reference re-runs the whole pair pipeline. */
  def jaccardEdges(s: SparkSession, dir: String): DataFrame =
    jaccardPairs(s, dir).select(col("doc_a").as("a"), col("doc_b").as("b"))

  /** The exact-Jaccard pair relation WITH its jaccard values, memoized +
    * persisted per session — the shared INPUT of the cluster family
    * (edge projection above) and the LSH planner family (which evaluates
    * its S-curves against the observed jaccard distribution). The r21
    * form memoized qLshPlan's entire 8-row RESULT, which under the
    * bench's min-of-reps timed a cache read instead of the planner
    * computation (r21 ADVICE) — now only this input is memoized and the
    * planner's explode + aggregate runs live on every invocation. */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"dedup.jaccard.pairs:$dir") {
      // size-adaptive layout: the jaccard query ends in broadcast joins,
      // so its output inherits the capped posting's 32-partition layout
      // with a few rows each — and every consumer pass (the CC loop
      // reads the edge projection dozens of times) pays a fleet of
      // near-empty tasks. The keyed repartition gives AQE a coalesce
      // point: near-dup-density-sized locally → 1 partition; at 100 TB
      // the same code keeps size-proportional parallelism (§2.2).
      // localCheckpoint, not persist (the clustersOf rationale): with
      // persist every consumer ACTION re-canonicalized the whole
      // qDedupJaccard join tree per cache lookup — probe: the live LSH
      // planner spent 0.9 s wall on 0.04 task-sec, all driver time.
      qDedupJaccard(s, dir).repartition(col("doc_a"))
        .localCheckpoint(true)
    }

  /** Cluster labels memoized per (session, dir): connected components
    * run ONCE even though two gated queries (q_dedup_clusters,
    * q_split_leakfree) consume them — the docShingles shared-hot-stage
    * rule. */
  private def clustersOf(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"dedup.clusters:$dir") {
      // localCheckpoint, not persist (r21): persist keeps the CC fold's
      // full nested-join LINEAGE as the logical plan, so every consumer
      // action re-canonicalized a many-thousand-node tree for the cache
      // lookup (~0.5-1 s of driver time per run on q_dedup_canonical /
      // q_split_leakfree); the checkpoint's LogicalRDD plan is O(1)
      connectedComponents(jaccardEdges(s, dir))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .localCheckpoint(true)
    }

  def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    clustersOf(s, dir)

  /** The recursive transitive-closure CTE chain (pr/edges/nodes/walk) —
    * ONE definition shared by the cluster oracle and the leakage-free
    * split oracle, so the cluster-id convention cannot drift between the
    * two gated queries. Callers prepend WITH RECURSIVE. */
  private lazy val clusterWalkCtes =
    s"""pr AS ($qDedupJaccardSql),
       edges AS (
         SELECT doc_a AS a, doc_b AS b FROM pr
         UNION ALL SELECT doc_b, doc_a FROM pr),
       nodes AS (SELECT DISTINCT a AS id FROM edges),
       walk(id, root) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT e.b, w.root FROM walk w JOIN edges e ON e.a = w.id)"""

  private lazy val qDedupClustersSql =
    s"""WITH RECURSIVE
       $clusterWalkCtes
       SELECT id AS doc_id, CAST(min(root) AS BIGINT) AS cluster_id
       FROM walk GROUP BY id"""

  /** q_dedup_canonical: quality-aware duplicate canonicalization — the
    * curation decision the min-id survivor rule (37/40d) gets WRONG when
    * duplicates differ in quality (a truncated page and its full copy
    * are near-dups; min-id keeps whichever crawled first): per near-dup
    * cluster, keep the member with the HIGHEST quality score (ties
    * broken by lowest doc_id — max over a (quality, −doc_id) struct, a
    * partial-aggregable argmax, no row_number pass), and report the
    * quality the corpus GAINS over the min-id baseline. Reuses the
    * memoized cluster labels and the gated quality substrate — one
    * node-sized join, one cluster-keyed aggregate. q_gain subtracts two
    * floor-6dp grid values, so the final round() never straddles the
    * HALF_UP seam. */
  def qDedupCanonical(s: SparkSession, dir: String): DataFrame =
    canonicalOf(s, dir, clustersOf(s, dir))

  /** The canonical-election aggregate over an arbitrary (doc_id,
    * cluster_id) label relation — shared by the full recompute and the
    * incremental touched-cluster re-derive. */
  private def canonicalOf(s: SparkSession, dir: String,
      labels: DataFrame): DataFrame = {
    // the quality substrate is a tiny (doc_id, quality) relation behind a
    // full-corpus tokenization — memoized so the incremental consumer's
    // touched-cluster re-election doesn't re-tokenize the corpus per call
    val q = graft.ModelCache.getOrElseUpdate(s, s"dedup.canon.quality:$dir") {
      TextAnalysis.qQuality(s, dir).select(col("doc_id"), col("quality"))
        .localCheckpoint(true)
    }
    labels.join(q, Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("best"),
        min(struct(col("doc_id"), col("quality").as("q0"))).as("firstm"))
      .select(col("cluster_id"),
        (-col("best.nid")).cast("long").as("canonical_doc"),
        col("n_members"),
        col("best.quality").as("q_canonical"),
        col("firstm.q0").as("q_min_id"),
        round(col("best.quality") - col("firstm.q0"), 6).as("q_gain"))
  }

  private lazy val qDedupCanonicalSql =
    s"""WITH RECURSIVE
       $clusterWalkCtes,
       cl AS (SELECT id AS doc_id, CAST(min(root) AS BIGINT) AS cluster_id
              FROM walk GROUP BY id),
       q AS (SELECT doc_id, quality FROM (${TextAnalysis.qQualitySql})),
       m AS (SELECT cl.cluster_id, cl.doc_id, q.quality
             FROM cl JOIN q USING (doc_id)),
       r AS (SELECT m.*,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY quality DESC, doc_id ASC) AS rk,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY doc_id ASC) AS rid
             FROM m)
       SELECT cluster_id,
         CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS canonical_doc,
         CAST(count(*) AS BIGINT) AS n_members,
         max(CASE WHEN rk = 1 THEN quality END) AS q_canonical,
         max(CASE WHEN rid = 1 THEN quality END) AS q_min_id,
         round(max(CASE WHEN rk = 1 THEN quality END)
           - max(CASE WHEN rid = 1 THEN quality END), 6) AS q_gain
       FROM r GROUP BY 1"""

  /** Backstop on BFS rounds (near-dup components are near-cliques; their
    * diameter is tiny — the cap only guards pathological chains). */
  val BfsMaxDepth = 20

  /** q_bfs_depth: BFS hop distance from each near-dup cluster's CANONICAL
    * doc (the min-id survivor exact dedup keeps) to every other member —
    * the "how far from the kept copy" diagnostic that distinguishes
    * direct near-dups (depth 1) from transitive ones (depth ≥ 2, members
    * only connected through intermediate revisions; the pairs a
    * threshold tightening would orphan). Distributed multi-source BFS:
    * seed = the canonical nodes, each round ONE equi-join of the current
    * distance map against the symmetric edge list + a min-groupBy — the
    * same round shape as connectedComponents' hook; only the
    * reached-node COUNT hits the driver (BFS layering makes first-reach
    * minimal, so convergence = no new nodes). Hash-gated against a
    * DuckDB recursive-CTE shortest-path with the same depth cap. */
  def qBfsDepth(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint(eager) per round, NOT persist: each iteration's plan
    // embeds the previous one's (which itself embeds the whole memoized
    // pair pipeline via sym), so without lineage truncation Catalyst
    // re-analyzes an exponentially growing tree — measured 6.5 s → 26 s
    // per COUNT by round two at sf0.01 on cached 50-row inputs, pure
    // planning cost. The checkpoint pins each round to its materialized
    // blocks and the per-round job is milliseconds again (the
    // connectedComponents/pageRank rule).
    val edges = jaccardEdges(s, dir)
    val sym = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    var dist = qDedupClusters(s, dir)
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id").as("id"), lit(0L).as("d"))
      .localCheckpoint(true)
    var total = dist.count()
    var changed = true
    var i = 0
    while (changed && i < BfsMaxDepth) {
      val nxt = sym
        .join(dist.select(col("id").as("a"), col("d")), Seq("a"))
        .select(col("b").as("id"), (col("d") + 1L).as("d"))
        .unionByName(dist)
        .groupBy("id").agg(min(col("d")).as("d"))
        .localCheckpoint(true)
      val n = nxt.count()
      changed = n != total
      total = n
      dist = nxt
      i += 1
    }
    dist.select(col("id").as("doc_id"), col("d").cast("int").as("depth"))
  }

  private lazy val qBfsDepthSql =
    s"""WITH RECURSIVE
       $clusterWalkCtes,
       roots AS (SELECT id, min(root) AS canon FROM walk GROUP BY id),
       bfs(id, d) AS (
         SELECT id, 0 FROM roots WHERE id = canon
         UNION
         SELECT e.b, b.d + 1 FROM bfs b JOIN edges e ON e.a = b.id
         WHERE b.d < $BfsMaxDepth)
       SELECT id AS doc_id, CAST(min(d) AS INT) AS depth
       FROM bfs GROUP BY id"""

  /** Damped PageRank over an undirected edge list, fixed-iteration power
    * method. Each round is ONE equi-join (out-edges ⋈ current ranks, with
    * the source degree pre-attached) plus one aggregation — the classic
    * distributed formulation; ranks materialize + persist per round and
    * the previous round unpersists, so state stays two node-sized tables
    * regardless of iteration count. No dangling mass: symmetrized edges
    * give every node out-degree ≥ 1. Literals 0.15/0.85 are written
    * identically in the DuckDB oracle (1−0.85 ≠ 0.15 in IEEE doubles —
    * the same discipline as every shared constant). */
  /** Driver-side power method over an edge list — the SAME math and
    * iteration count as [[pageRank]], for graphs already known to be
    * small (e.g. a vocabulary co-occurrence graph: node count is bounded
    * by the vocabulary, not the corpus). Callers collect the edge list
    * with a take(limit+1) probe and fall back to the distributed loop
    * above the limit (the q_keywords pattern; KeywordsLocalSpec pins the
    * two paths equal). */
  def pageRankLocal(edges: Seq[(String, String)], iters: Int = 10): Seq[(String, Double)] = {
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val deg: Map[String, Long] =
      sym.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = deg.size
    var ranks: Map[String, Double] = deg.map { case (k, _) => k -> 1.0 / n }
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map.empty[String, Double]
      sym.foreach { case (a, b) =>
        contrib(b) = contrib.getOrElse(b, 0.0) + ranks(a) / deg(a)
      }
      ranks = deg.map { case (k, _) => k -> (0.15 / n + 0.85 * contrib.getOrElse(k, 0.0)) }
    }
    ranks.toSeq
  }

  def pageRank(edges: DataFrame, iters: Int = 10): DataFrame = {
    val sym = edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy("a").agg(count(lit(1)).as("deg"))
    // localCheckpoint (eager) rather than persist: it TRUNCATES lineage,
    // so iteration k's plan is one join over a materialized table — not k
    // nested copies of the whole upstream pipeline (which blows up the
    // driver during analysis long before executors see data)
    val out = sym.join(deg, Seq("a"))
      .select(col("a"), col("b"), col("deg")).localCheckpoint(true)
    val n = out.select("a").distinct().count()
    var ranks = deg.select(col("a").as("id"), lit(1.0 / n).as("r")).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val next = out
        .join(ranks.select(col("id").as("a"), col("r")), Seq("a"))
        .groupBy(col("b").as("id"))
        .agg((lit(0.15) / n + lit(0.85) * sum(col("r") / col("deg"))).as("r"))
        .localCheckpoint(true)
      ranks.unpersist()
      ranks = next
    }
    ranks
  }

  /** q_pagerank: PageRank centrality of the near-dup graph — ranks the
    * canonical representatives duplicates cluster around (high-rank nodes
    * are the "hub" texts many near-copies orbit). Oracle: the identical
    * 10-iteration power method as a DuckDB recursive CTE with aggregation
    * in the recursive term. */
  def qPagerank(s: SparkSession, dir: String): DataFrame =
    pageRank(jaccardEdges(s, dir))
      .select(col("id").as("doc_id"), round(col("r"), 6).as("pagerank"))

  private val qPagerankSql =
    s"""WITH RECURSIVE
       pr0 AS ($qDedupJaccardSql),
       edges AS (
         SELECT doc_a AS a, doc_b AS b FROM pr0
         UNION ALL SELECT doc_b, doc_a FROM pr0),
       deg AS (SELECT a, count(*) AS deg FROM edges GROUP BY a),
       nn AS (SELECT count(*) AS c FROM deg),
       walk(iter, id, r) AS (
         SELECT 0, a, 1.0 / (SELECT c FROM nn) FROM deg
         UNION ALL
         SELECT w.iter + 1, e.b, 0.15 / (SELECT c FROM nn) + 0.85 * sum(w.r / d.deg)
         FROM walk w JOIN edges e ON e.a = w.id JOIN deg d ON d.a = w.id
         WHERE w.iter < 10
         GROUP BY w.iter + 1, e.b)
       SELECT id AS doc_id, round(r, 6) AS pagerank FROM walk WHERE iter = 10"""

  /** q_graph_stats: structure of the near-dup pair graph in one row —
    * nodes, edges, max degree, triangles, and global clustering
    * (3·triangles / wedges). Duplicate graphs that are unions of
    * near-cliques cluster ≈ 1; chain-like contamination clusters ≈ 0 —
    * the shape diagnostic for a dedup run. Triangles come from two
    * equi-joins over the (a<b)-oriented edge list (fan-out bounded by
    * node degree, the standard distributed triangle count); wedges are
    * Σ C(deg, 2) from one degree aggregate. */
  def qGraphStats(s: SparkSession, dir: String): DataFrame =
    graphStatsOf(jaccardEdges(s, dir))

  /** Graph-statistics core over an (a < b)-oriented edge list — see
    * [[qGraphStats]]. */
  /** q_local_clustering: PER-NODE clustering coefficient over the
    * near-dup graph — the node-level refinement of q_graph_stats' one
    * global number (a node embedded in a clique scores 1, a pure hub
    * bridging otherwise-unconnected copies scores 0 — the difference
    * between "member of a dup farm" and "template shared by unrelated
    * docs", which the global coefficient averages away): per node,
    * triangles through it over C(deg, 2). Triangles come from the SAME
    * two equi-joins as the global count, then each found triangle
    * credits its three corners via one explode — degree-bounded fan-out,
    * no new pair machinery; wedge counts are exact integers and the
    * division happens once per node. */
  def qLocalClustering(s: SparkSession, dir: String): DataFrame = {
    val e = jaccardEdges(s, dir)
    val deg = e.select(col("a").as("id")).unionByName(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val triCorners = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(explode(array(col("e1.a"), col("e1.b"), col("e2.b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri"))
    deg.join(triCorners, Seq("id"), "left_outer")
      .select(col("id").as("doc_id"), col("deg").as("degree"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        // even product, halved exactly in DECIMAL (the graphStatsOf rule)
        ((col("deg") * (col("deg") - 1)).cast("decimal(38,0)") / 2)
          .cast("long").as("n_wedges"))
      .select(col("doc_id"), col("degree"), col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          round(col("n_triangles").cast("double") / col("n_wedges"), 6))
          .as("local_clustering"))
  }

  private lazy val qLocalClusteringSql =
    s"""WITH pr AS MATERIALIZED ($qDedupJaccardSql),
       e AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pr),
       deg AS (
         SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
       tc AS (
         SELECT id, CAST(count(*) AS BIGINT) AS tri FROM (
           SELECT unnest([e1.a, e1.b, e2.b]) AS id
           FROM e e1 JOIN e e2 ON e1.b = e2.a
             JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) GROUP BY id)
       SELECT deg.id AS doc_id, deg.deg AS degree,
         coalesce(tc.tri, 0) AS n_triangles,
         CAST(deg.deg * (deg.deg - 1) // 2 AS BIGINT) AS n_wedges,
         CASE WHEN deg.deg * (deg.deg - 1) // 2 > 0
           THEN round(CAST(coalesce(tc.tri, 0) AS DOUBLE)
             / CAST(deg.deg * (deg.deg - 1) // 2 AS BIGINT), 6) END
           AS local_clustering
       FROM deg LEFT JOIN tc ON tc.id = deg.id"""

  def graphStatsOf(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("id")).unionByName(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"), max(col("deg")).as("max_degree"),
      // sum the EVEN product exactly in DECIMAL and halve once at the
      // end — the old per-row /2 promoted to a double sum, which loses
      // integer exactness past 2^53 at web-scale degree mass (r15 audit)
      (sum((col("deg") * (col("deg") - 1)).cast("decimal(38,0)")) / 2)
        .cast("long").as("n_wedges"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(degStats).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          floor(lit(3.0) * col("n_triangles") / col("n_wedges") * lit(1000000.0) + lit(0.5))
            / lit(1000000.0)).as("clustering"))
  }

  private val qGraphStatsSql =
    s"""WITH pr AS ($qDedupJaccardSql),
       e AS (SELECT doc_a AS a, doc_b AS b FROM pr),
       deg AS (
         SELECT id, count(*) AS deg FROM (
           SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY id),
       tri AS (
         SELECT count(*) AS n_triangles
         FROM e e1 JOIN e e2 ON e1.b = e2.a
           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       ds AS (
         SELECT count(*) AS n_nodes, max(deg) AS max_degree,
           CAST(sum(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges
         FROM deg),
       ec AS (SELECT count(*) AS n_edges FROM e)
       SELECT n_nodes, n_edges, max_degree, CAST(n_triangles AS BIGINT) AS n_triangles,
         n_wedges,
         CASE WHEN n_wedges > 0
           THEN floor(3.0 * n_triangles / n_wedges * 1000000.0 + 0.5) / 1000000.0
         END AS clustering
       FROM ec CROSS JOIN ds CROSS JOIN tri"""

  // ---------------- Line-level dedup (C4-style) ----------------

  /** A line seen in more than this many distinct documents is boilerplate
    * (navigation, disclaimers, headers) and is removed from every doc. */
  val LineDupMaxDocs = 2

  /** Line-level dedup — the C4-style boilerplate purge: split documents
    * into sentence-ish lines, count each normalized line's distinct-doc
    * frequency corpus-wide, strip lines above the threshold, and
    * reassemble the remaining lines in order.
    *
    * Scale shape: one explode, one groupBy on the 16-byte md5 of the
    * normalized line (never the raw string — fixed-width shuffle), one
    * semi-join-shaped filter back, one per-doc ordered reassembly. The
    * dropped-line mass is exactly the boilerplate share of the corpus. */
  def lineDedupOf(docs: DataFrame, maxDocs: Int = LineDupMaxDocs): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\\. ")).as(Seq("pos", "line")))
      .filter(length(trim(col("line"))) > 0)
      .select(col("doc_id"), col("pos"), col("line"),
        md5(lower(trim(col("line")))).as("lk"))
    val rare = lines.groupBy("lk")
      .agg(countDistinct(col("doc_id")).as("line_docs"))
      .filter(col("line_docs") <= maxDocs)
      .select("lk")
    val kept = lines.join(rare, Seq("lk"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), ". ")).as("kept_md5"))
    docs
      .select(col("doc_id"),
        size(filter(split(col("text"), "\\. "), l => length(trim(l)) > 0))
          .cast("long").as("n_lines"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
  }

  /** q_line_dedup: the boilerplate purge over the documents table. */
  def qLineDedup(s: SparkSession, dir: String): DataFrame =
    lineDedupOf(TextPrep.rawDocs(s, dir))

  private val qLineDedupSql =
    s"""WITH l0 AS (
         SELECT doc_id, unnest(regexp_split_to_array(text, '\\. ')) AS line,
           generate_subscripts(regexp_split_to_array(text, '\\. '), 1) AS pos
         FROM documents),
       lines AS (
         SELECT doc_id, pos, line, md5(lower(trim(line))) AS lk
         FROM l0 WHERE len(trim(line)) > 0),
       rare AS (
         SELECT lk FROM lines GROUP BY lk
         HAVING count(DISTINCT doc_id) <= $LineDupMaxDocs),
       kept AS (
         SELECT doc_id, count(*) AS n_kept,
           md5(string_agg(line, '. ' ORDER BY pos)) AS kept_md5
         FROM lines SEMI JOIN rare USING (lk) GROUP BY doc_id),
       base AS (
         SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\. '),
             l -> len(trim(l)) > 0)) AS BIGINT) AS n_lines
         FROM documents)
       SELECT base.doc_id, base.n_lines,
         CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
         coalesce(kept.kept_md5, md5('')) AS kept_md5
       FROM base LEFT JOIN kept ON base.doc_id = kept.doc_id"""

  // ---------------- Repeated-span detection ----------------

  /** Span shingle width: 5-token windows (the decontamination width — long
    * enough to be distinctive, short enough to catch partial copies). */
  val SpanN = 5

  /** Repeated n-gram SPAN detection — the exact-substring dedup signal
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better": substrings repeated anywhere in the corpus are memorization
    * fuel; they are removed span-wise, not doc-wise). The suffix-array
    * construction of the paper is single-machine; the distributed
    * equivalent: every n-token window that occurs more than once
    * corpus-wide (one posting count on the 8-byte window hash) marks its
    * start position, and per doc the marked positions merge into MAXIMAL
    * spans — two starts chain while their gap is ≤ n (their windows
    * overlap or touch), one lag+running-sum island pass per doc. Output is
    * one row per maximal repeated span with its token bounds — exactly
    * what a span-removal rewrite consumes.
    *
    * Scale shape: posting count is one aggregate on a fixed-width key;
    * the island pass shuffles once on doc_id. Nothing is quadratic and no
    * suffix array is materialized. */
  def repeatedSpans(docs: DataFrame, n: Int = SpanN): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksDf =
      if (docs.columns.contains("rtoks")) docs.select(col("doc_id"), col("rtoks"))
      else docs.select(col("doc_id"), TextFns.rawTokens(col("text")).as("rtoks"))
    val starts = toksDf
      .select(col("doc_id"), posexplode(TextFns.shingles(col("rtoks"), n)).as(Seq("pos", "shingle")))
      .select(col("doc_id"), col("pos"), xxhash64(col("shingle")).as("sh"))
    val dupKeys = starts.groupBy("sh").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > 1).select("sh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    starts.join(dupKeys, Seq("sh"), "left_semi")
      .select(col("doc_id"), col("pos"))
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, 0).otherwise(1))
      .withColumn("span_id", sum(col("new_span"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_id")
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (n - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_toks"))
  }

  /** Corpus spans memoized per (session, dir): the shingle posting count
    * runs once for q_dup_spans AND q_span_scrub. */
  private def spansOf(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"dedup.spans:$dir") {
      repeatedSpans(TextPrep.rawDocs(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** q_dup_spans: maximal repeated 5-gram spans over the documents table. */
  def qDupSpans(s: SparkSession, dir: String): DataFrame =
    spansOf(s, dir)

  /** The duplicated-position island chain (t/s/dup/d/m/g) parameterized
    * by window length n — ONE definition shared by the span-detection
    * and BOTH span-scrub oracles (hashed 5-gram at [[SpanN]], TRUE
    * ExactSubstr coverage at [[ExactSubstrMinLen]] — the window-union
    * reduction q_exact_substr_spans' gate proves equals the suffix-group
    * coverage), so the merge rule cannot drift between gated queries.
    * Callers prepend WITH. */
  private def islandCtes(n: Int) = {
    val toks = TextFns.rawTokensSql("text")
    s"""t AS (SELECT doc_id, $toks AS toks FROM documents),
       s AS (
         SELECT doc_id, unnest(${TextFns.shinglesSql("toks", n)}) AS shingle,
           generate_subscripts(${TextFns.shinglesSql("toks", n)}, 1) - 1 AS pos
         FROM t),
       dup AS (SELECT shingle FROM s GROUP BY shingle HAVING count(*) > 1),
       d AS (SELECT doc_id, pos FROM s SEMI JOIN dup USING (shingle)),
       m AS (
         SELECT doc_id, pos, CASE WHEN pos - lag(pos)
           OVER (PARTITION BY doc_id ORDER BY pos) <= $n THEN 0 ELSE 1 END AS new_span
         FROM d),
       g AS (
         SELECT doc_id, pos, sum(new_span)
           OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
         FROM m)"""
  }

  private lazy val spanChainCtes = islandCtes(SpanN)

  private lazy val qDupSpansSql =
    s"""WITH $spanChainCtes
       SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) + ${SpanN - 1} AS BIGINT) AS span_end,
         CAST(max(pos) + ${SpanN - 1} - min(pos) + 1 AS BIGINT) AS span_toks
       FROM g GROUP BY doc_id, span_id"""

  // ---------------- ExactSubstr (suffix-ordering maximal repeats) ----------------

  /** Minimum repeat length L in tokens for [[qExactSubstr]] — Lee et al.
    * 2022 remove substrings of ≥ 50 BPE tokens; the synthetic corpus's
    * templates repeat at shorter spans, so the shipped default is 10
    * (the parameter, not the algorithm, is corpus-tuned). */
  val ExactSubstrMinLen = 10

  /** Suffix truncation depth C = the longest reportable repeat unit.
    * Bounds every aggregate's state to C tokens per group; repeats
    * longer than C surface with repeat_toks = C and capped = true
    * (coverage, [[qExactSubstrSpans]], is NOT affected by the cap —
    * every interior position of a long repeat is itself a duplicated
    * suffix start, so chained members cover the full extent). */
  val ExactSubstrCap = 40

  /** (doc_id, pos, gram, prev_tok, sufarr) for every position that
    * begins a full L-gram: the suffix relation, truncated at C tokens.
    * Recomputed per consumer (a pure projection off the corpus scan —
    * cheaper than pinning corpus-wide suffix slices in the cache). */
  private def suffixStarts(s: SparkSession, dir: String): DataFrame = {
    val d = TextPrep.rawDocs(s, dir)
    val base =
      if (d.columns.contains("rtoks")) d.select(col("doc_id"), col("source"), col("rtoks"))
      else d.select(col("doc_id"), col("source"), TextFns.rawTokens(col("text")).as("rtoks"))
    base.select(col("doc_id"), col("source"), col("rtoks"),
        posexplode(TextFns.shingles(col("rtoks"), ExactSubstrMinLen))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("source"), col("pos"), col("gram"),
        when(col("pos") >= 1, element_at(col("rtoks"), col("pos"))).as("prev_tok"),
        slice(col("rtoks"), col("pos") + 1, lit(ExactSubstrCap)).as("sufarr"))
  }

  /** Left-maximality (the suffix-array diagonal rule) over the group
    * aggregates: a group whose occurrences are ALL preceded by one same
    * token is an interior slice of a longer repeat reported one
    * position left. */
  private def leftMaximal: Column =
    !(col("n_prev") === col("n_occ") && col("prev_min") === col("prev_max"))

  /** TRUE exact-substring dedup (Lee et al. 2022's ExactSubstr) — the
    * real maximal-repeat semantics q_dup_spans only approximates (hashed
    * 5-gram islands give COVERAGE; they cannot name the repeated UNITS,
    * their lengths, or their occurrence counts). The paper builds a
    * single-machine suffix array; the distributed equivalent here rests
    * on two order-theoretic facts:
    *
    *  1. suffixes sharing a duplicated L-token prefix are CONTIGUOUS in
    *     suffix order, so the suffix array's LCP-interval structure at
    *     depth ≥ L is exactly the duplicate-L-gram grouping — no global
    *     suffix sort has to be materialized;
    *  2. within one group, the longest prefix shared by ALL occurrences
    *     (the repeat unit's length) is LCP(lexicographic MIN suffix,
    *     lexicographic MAX suffix) — a sorted set's common prefix is the
    *     LCP of its extremes — and min/max are partial-aggregable, so
    *     the whole suffix-sort collapses into ONE combiner-friendly
    *     aggregate carrying ≤ C tokens of state per group.
    *
    * Left-maximality (the suffix-array diagonal rule) prunes interior
    * redundancy: a group whose occurrences are ALL preceded by the same
    * token is an interior slice of a longer repeat reported one position
    * left, so it is dropped. Emitted per maximal unit: content digest,
    * exact length m = LCP(min,max) capped at C, exact occurrence and
    * doc counts — every column deterministic and DuckDB-derivable, so
    * the gate is a full hash gate, stronger than the certificate the
    * operator was scoped for. Scale: one shuffle on the gram key with
    * map-side combining; no window, no sort, no candidate pairs. */
  def qExactSubstr(s: SparkSession, dir: String): DataFrame =
    exactSubstrGroups(s, dir)
      .filter(leftMaximal)
      .select(
        md5(array_join(slice(col("min_arr"), lit(1), col("m").cast("int")), " "))
          .as("repeat_md5"),
        col("m").as("repeat_toks"), col("n_occ"), col("n_docs"),
        (col("m") === ExactSubstrCap).as("capped"))

  /** Duplicated-suffix groups with their set-LCP m — memoized: one
    * aggregate feeds q_exact_substr AND q_exact_substr_spans. */
  private def exactSubstrGroups(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"dedup.exactsubstr:$dir") {
      val grp = suffixStarts(s, dir)
        .withColumn("sufkey", array_join(col("sufarr"), " "))
        .groupBy("gram")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          count(col("prev_tok")).as("n_prev"),
          min(col("prev_tok")).as("prev_min"), max(col("prev_tok")).as("prev_max"),
          min_by(col("sufarr"), col("sufkey")).as("min_arr"),
          max(col("sufkey")).as("max_key"))
        .filter(col("n_occ") > 1)
      val ff = array_position(
        zip_with(col("min_arr"), split(col("max_key"), " "),
          (a, b) => a.eqNullSafe(b)), lit(false))
      grp.withColumn("m",
          when(ff > 0, ff - 1)
            .otherwise(least(size(col("min_arr")), size(split(col("max_key"), " "))))
            .cast("long"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** q_exact_substr_spans: per-doc merged COVERED intervals off the
    * suffix groups — each group member covers [pos, pos+m), intervals
    * union per doc through a doc-keyed running-max-end island pass. The
    * gate is the operator's cross-paradigm correctness proof run as a
    * query: the oracle computes coverage the ENTIRELY different
    * L-gram-island way (every position under a ≥L repeat lies under a
    * duplicated L-gram and vice versa — the window-union reduction of
    * ExactSubstr), and the two interval sets must match row-for-row.
    * This is what a span-scrub consumes; q_span_scrub's rewrite applies
    * unchanged downstream. */
  def qExactSubstrSpans(s: SparkSession, dir: String): DataFrame =
    exactSpansOf(s, dir)

  /** The TRUE-span coverage intervals, memoized + persisted: TWO gated
    * consumers (the spans query itself and the exact scrub 40g4, which
    * q_pipeline's capstone rides) — the docShingles shared-hot-stage
    * rule. */
  private def exactSpansOf(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"dedup.exactspans:$dir") {
      exactSubstrSpansUncached(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private def exactSubstrSpansUncached(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val iv = suffixStarts(s, dir).select(col("doc_id"), col("pos"), col("gram"))
      .join(exactSubstrGroups(s, dir).select(col("gram"), col("m")), Seq("gram"))
      .select(col("doc_id"), col("pos").cast("long").as("st"),
        (col("pos") + col("m") - 1L).as("en"))
    val w = Window.partitionBy("doc_id").orderBy("st")
    iv.withColumn("max_en_before",
        max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("st") > coalesce(col("max_en_before"), lit(-1L)) + 1L, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_id")
      .agg(min(col("st")).as("span_start"), max(col("en")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_toks"))
  }

  /** Shared oracle CTE chain (t → s → p → grp → lcp, with the set-LCP
    * `m` computed once in lcp) — ONE definition consumed by the unit and
    * the cross-source oracles so the LCP/left-maximality rules cannot
    * drift between gated queries. Callers prepend WITH. */
  private lazy val exactSubstrCtes = {
    val L = ExactSubstrMinLen; val C = ExactSubstrCap
    val toks = TextFns.rawTokensSql("text")
    val sh = TextFns.shinglesSql("toks", L)
    s"""t AS (SELECT doc_id, source, $toks AS toks FROM documents),
       s AS (SELECT doc_id, source, generate_subscripts($sh, 1) AS posn,
               unnest($sh) AS gram, toks
             FROM t),
       p AS (SELECT doc_id, source, gram,
               CASE WHEN posn >= 2 THEN toks[posn - 1] END AS prev_tok,
               list_slice(toks, posn, posn + $C - 1) AS suf,
               array_to_string(list_slice(toks, posn, posn + $C - 1), ' ') AS sufkey
             FROM s),
       grp AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_occ,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 count(prev_tok) AS n_prev,
                 min(prev_tok) AS prev_min, max(prev_tok) AS prev_max,
                 arg_min(suf, sufkey) AS min_arr,
                 string_split(max(sufkey), ' ') AS max_arr
               FROM p GROUP BY gram HAVING count(*) > 1),
       lcp AS (SELECT *,
                 CASE WHEN list_position(list_transform(
                     range(1, least(len(min_arr), len(max_arr)) + 1),
                     i -> min_arr[i] = max_arr[i]), false) IS NULL
                   OR list_position(list_transform(
                     range(1, least(len(min_arr), len(max_arr)) + 1),
                     i -> min_arr[i] = max_arr[i]), false) = 0
                 THEN least(len(min_arr), len(max_arr))
                 ELSE list_position(list_transform(
                     range(1, least(len(min_arr), len(max_arr)) + 1),
                     i -> min_arr[i] = max_arr[i]), false) - 1 END AS m
               FROM grp)"""
  }

  private lazy val qExactSubstrSql =
    s"""WITH $exactSubstrCtes
       SELECT md5(array_to_string(list_slice(min_arr, 1, m), ' ')) AS repeat_md5,
         CAST(m AS BIGINT) AS repeat_toks, n_occ, n_docs,
         m = $ExactSubstrCap AS capped
       FROM lcp
       WHERE NOT (n_prev = n_occ AND prev_min = prev_max)"""

  /** q_source_verbatim: cross-source VERBATIM contamination matrix — the
    * exact-substring counterpart of 47b2's shingle-Jaccard overlap
    * (which asks "how similar are two sources"; this asks the curation
    * question "how much text do they share LITERALLY, and how long does
    * it run"): for each source pair, the number of duplicated L-gram
    * groups present in both, how many left-maximal repeat UNITS span
    * both, and the longest shared verbatim run (max set-LCP, capped at
    * C). Rides the memoized suffix groups; the pair expansion is one
    * posting self-join on the gram key whose fan-out per gram is
    * (#sources containing it choose 2) — bounded by the source
    * DIMENSION, never the corpus (the bounded-dims convention of
    * q_mutual_info / q_cramers_v). */
  def qSourceVerbatim(s: SparkSession, dir: String): DataFrame = {
    // distinct-gram×source-sized; checkpoint — the self-join's two sides
    // would otherwise each replay the suffix-start posexplode + slice
    // chain (token×cap fan-out, the heaviest un-memoized stage here)
    val perSrc = suffixStarts(s, dir).select(col("gram"), col("source")).distinct()
      .localCheckpoint(true)
    val pairs = perSrc.as("a").join(perSrc.as("b"),
        col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
      .select(col("a.gram").as("gram"), col("a.source").as("src_a"),
        col("b.source").as("src_b"))
    pairs.join(exactSubstrGroups(s, dir)
        .select(col("gram"), col("m"), leftMaximal.as("lm")), Seq("gram"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_grams_shared"),
        sum(when(col("lm"), 1L).otherwise(0L)).as("n_units_shared"),
        max(col("m")).as("max_repeat_toks"))
  }

  private lazy val qSourceVerbatimSql =
    s"""WITH $exactSubstrCtes,
       ps AS (SELECT DISTINCT gram, source FROM p),
       pr AS (SELECT a.gram AS gram, a.source AS src_a, b.source AS src_b
              FROM ps a JOIN ps b ON a.gram = b.gram AND a.source < b.source)
       SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_grams_shared,
         CAST(sum(CASE WHEN NOT (n_prev = n_occ AND prev_min = prev_max)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_units_shared,
         CAST(max(m) AS BIGINT) AS max_repeat_toks
       FROM pr JOIN lcp USING (gram)
       GROUP BY src_a, src_b"""

  private lazy val qExactSubstrSpansSql = {
    val L = ExactSubstrMinLen
    s"""WITH ${islandCtes(L)}
       SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(pos) + ${L - 1} AS BIGINT) AS span_end,
         CAST(max(pos) + ${L - 1} - min(pos) + 1 AS BIGINT) AS span_toks
       FROM g GROUP BY doc_id, span_id"""
  }

  /** q_split_leakfree: LEAKAGE-AWARE train/test split — the reason dedup
    * clusters exist in a training pipeline: near-duplicate docs must land
    * on the SAME side, or eval leaks paraphrases of training data. Every
    * doc's split group is its near-dup cluster id (its own id when
    * unclustered — singleton group), and the side is a content-hash gate
    * on the GROUP id (md5 first nibble ∈ {0,1,2} → test, ≈ 18.75%), so
    * the assignment is reproducible, driver-state-free, and whole clusters
    * move together by construction. One left join against the cluster
    * relation on top of the corpus scan. */
  def qSplitLeakfree(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .join(qDedupClusters(s, dir), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
      .select(col("doc_id"), col("group_id"),
        when(substring(md5(col("group_id").cast("string")), 1, 1).isin("0", "1", "2"), "test")
          .otherwise("train").as("split"))

  private[operators] lazy val qSplitLeakfreeSql =
    s"""WITH RECURSIVE
       $clusterWalkCtes,
       cl AS (SELECT id AS doc_id, CAST(min(root) AS BIGINT) AS cluster_id
              FROM walk GROUP BY id)
       SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS group_id,
         CASE WHEN substr(md5(CAST(coalesce(cl.cluster_id, d.doc_id) AS VARCHAR)), 1, 1)
                IN ('0', '1', '2') THEN 'test' ELSE 'train' END AS split
       FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id"""

  /** ONE batch step of incremental CLUSTER-LABEL maintenance — the
    * consumer-side fold that completes the incremental chain (r18 folded
    * the pair STATE; this folds the LABELS the curation queries read):
    * given yesterday's labels over yesterday's pair relation and today's
    * pair relation (a [[dedupFoldBatch]] output), produce today's labels
    * without re-running CC over the full graph.
    *
    * Additions are the classical quotient contraction (the ccFoldBatch
    * argument: new edges contract through base labels, CC runs on the
    * |Δ|-sized quotient, and since base labels are component MINIMA the
    * quotient min IS the global min). Deletions — which the pair fold
    * CAN produce (a cap exit re-verifies a base pair below threshold) —
    * break monotone folding, so every base cluster that LOST an edge is
    * DISSOLVED into singletons and re-solved from its surviving edges
    * inside the same quotient graph (work bounded by the touched
    * clusters' edges, never the corpus). Every untouched cluster's
    * labels are frozen; the final relation carries exactly the rows a
    * full CC over `newPairs` would — one (doc_id, cluster_id) per doc
    * with ≥1 current edge (a doc that lost its last edge drops out). */
  def labelFoldBatch(baseLabels: DataFrame, basePairs: DataFrame,
      newPairs: DataFrame): DataFrame = {
    val baseE = basePairs.select(col("doc_a"), col("doc_b"))
    val newE = newPairs.select(col("doc_a"), col("doc_b"))
    labelFoldDelta(baseLabels, newPairs,
      newE.except(baseE), baseE.except(newE))
  }

  /** The explicit-delta label fold's full result: today's labels PLUS
    * the touched sets the fold already knows — so a downstream consumer
    * (canonical election, split refresh) can stay delta-bounded instead
    * of re-discovering what changed by diffing |V|-sized label
    * snapshots. Both touched relations are OVER-approximations (a
    * listed cluster may turn out unchanged — recomputing it is a no-op)
    * but never under-approximations, which is the correctness side.
    *
    *  - `affectedBase`: every base cluster id whose membership MAY have
    *    changed (dissolved by a deletion, or contracted into the
    *    quotient graph by an added/surviving edge);
    *  - `touchedDocs`: every doc whose label MAY have changed (members
    *    of affected base clusters + endpoints of added edges). */
  case class LabelFold(labels: DataFrame, affectedBase: DataFrame,
      touchedDocs: DataFrame)

  /** [[labelFoldBatch]] with the edge delta passed EXPLICITLY — the
    * production entry point: a pipeline that just ran the pair fold
    * KNOWS which pairs appeared and disappeared, so handing the delta
    * over skips the two snapshot-diff anti-joins (the only full-|E|
    * stages of the fold; everything downstream is delta/touched-bounded
    * except the final |V|-sized endpoint projection, which is the
    * output). The two gated consumers share one memoized diff per
    * (session, dir) through this seam. */
  def labelFoldDelta(baseLabels: DataFrame, newPairs: DataFrame,
      addedE: DataFrame, removedE: DataFrame): DataFrame =
    labelFoldDeltaTouched(baseLabels, newPairs, addedE, removedE).labels

  /** [[labelFoldDelta]] returning the [[LabelFold]] with touched sets. */
  def labelFoldDeltaTouched(baseLabels: DataFrame, newPairs: DataFrame,
      addedE: DataFrame, removedE: DataFrame): LabelFold = {
    val newE = newPairs.select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true) // read from four positions below
    val added = addedE.select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true) // read twice: quotient edges + touched docs
    val removed = removedE.select(col("doc_a"), col("doc_b"))
    // clusters that lost an edge: dissolve into singletons
    val dissolved = baseLabels
      .join(removed.select(col("doc_a").as("doc_id"))
          .unionByName(removed.select(col("doc_b").as("doc_id"))).distinct(),
        Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct().localCheckpoint(true)
    val dDocs = baseLabels.join(dissolved, Seq("cluster_id"), "left_semi")
      .select("doc_id").localCheckpoint(true)
    // eff(doc): own id inside a dissolved cluster; else its base label;
    // else (brand-new doc, handled by coalesce at the join sites) own id
    val effRel = baseLabels
      .join(dDocs.withColumn("dd", lit(true)), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("dd").isNotNull, col("doc_id"))
          .otherwise(col("cluster_id")).as("eff"))
      .localCheckpoint(true)
    // the quotient graph: added edges + every surviving edge touching a
    // dissolved cluster, both endpoints contracted through eff
    val touchD = newE
      .join(dDocs.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .unionByName(newE
        .join(dDocs.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        .select("doc_a", "doc_b"))
    val reduced = added.unionByName(touchD).distinct()
      .join(effRel.select(col("doc_id").as("doc_a"), col("eff").as("ea")),
        Seq("doc_a"), "left_outer")
      .join(effRel.select(col("doc_id").as("doc_b"), col("eff").as("eb")),
        Seq("doc_b"), "left_outer")
      .select(coalesce(col("ea"), col("doc_a")).as("a"),
        coalesce(col("eb"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(true) // read twice: quotient CC + touched clusters
    val quotient = connectedComponents(reduced)
    // final labels for every CURRENT-edge endpoint: quotient result when
    // its eff node merged/re-solved, frozen base label otherwise
    val labels = newE.select(col("doc_a").as("doc_id"))
      .unionByName(newE.select(col("doc_b").as("doc_id"))).distinct()
      .join(effRel, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("eff"), col("doc_id")).as("eff"))
      .join(quotient.select(col("id").as("eff"), col("label")),
        Seq("eff"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("label"), col("eff")).as("cluster_id"))
    // touched sets, all delta/quotient-bounded. Quotient nodes that are
    // not base cluster ids (dissolved docs' own ids, brand-new docs' ids)
    // ride along harmlessly: no base canonical row matches them and no
    // member lookup finds them (cluster ids ARE doc ids — the min member
    // — so a non-cluster doc id can never collide with a live cluster).
    val quotientNodes = reduced.select(col("a").as("cluster_id"))
      .unionByName(reduced.select(col("b").as("cluster_id"))).distinct()
    val affectedBase = dissolved.unionByName(quotientNodes).distinct()
    val touchedDocs = baseLabels
      .join(affectedBase, Seq("cluster_id"), "left_semi").select("doc_id")
      .unionByName(added.select(col("doc_a").as("doc_id")))
      .unionByName(added.select(col("doc_b").as("doc_id")))
      .distinct()
    LabelFold(labels, affectedBase, touchedDocs)
  }

  /** q_split_incremental: the leakage-free SPLIT maintained
    * incrementally (r18 verdict task 4 — incremental tier 2, folding the
    * CONSUMERS of the pair state): yesterday's labels over the base-doc
    * pair relation fold with today's delta through [[labelFoldBatch]]
    * (quotient contraction for merges, touched-cluster re-solve for the
    * deletions cap exits can produce), then the identical md5 group gate
    * as q_split_leakfree assigns sides. At 100 TB the daily unit of work
    * is the delta: this path re-labels only quotient-sized state, while
    * the assignment stays REPRODUCIBLE — the gate is content-hashed on
    * the group id, so an unchanged cluster's side never moves between
    * days. The oracle is the byte-identical FULL recompute
    * (qSplitLeakfreeSql): every doc, every group id, every side. */
  /** Yesterday's LABELS over the base pair state — memoized: both label
    * consumers (split, canonical) fold from the same stored relation. */
  private def incrBaseLabels(s: SparkSession, dir: String): DataFrame = {
    val basePairs = incrBaseState(s, dir)
    graft.ModelCache.getOrElseUpdate(s, s"dedup.incr.labels:$dir") {
      connectedComponents(basePairs
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** The folded labels over today's pair state, via the explicit-delta
    * seam: the snapshot diff (the only full-|E| stages) is memoized per
    * (session, dir) so the two gated consumers pay it once. The FULL
    * fold result (labels + touched sets) is memoized, so the canonical
    * consumer reads what-changed from the fold itself instead of
    * re-diffing |V|-sized label snapshots (r19 verdict task 4). */
  private def incrNewFold(s: SparkSession, dir: String): LabelFold = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val basePairs = incrBaseState(s, dir)
    val folded = incrFoldedPairs(s, dir)
    val added = graft.ModelCache.getOrElseUpdate(s, s"dedup.incr.added:$dir") {
      folded.select(col("doc_a"), col("doc_b"))
        .except(basePairs.select(col("doc_a"), col("doc_b"))).persist(lvl)
    }
    val removed = graft.ModelCache.getOrElseUpdate(s, s"dedup.incr.removed:$dir") {
      basePairs.select(col("doc_a"), col("doc_b"))
        .except(folded.select(col("doc_a"), col("doc_b"))).persist(lvl)
    }
    // today's labels are themselves state a production pipeline lands
    // (tomorrow's baseLabels) — materialized once, read by both
    // consumers. localCheckpoint (eager) rather than persist: it also
    // TRUNCATES the quotient-CC lineage, so the consumers' joins embed
    // a leaf scan instead of re-optimizing the whole iterative plan
    // per job (measured 74 s vs 12 s at k9 on the lineage alone).
    graft.ModelCache.getOrElseUpdate(s, s"dedup.incr.fold:$dir") {
      val f = labelFoldDeltaTouched(incrBaseLabels(s, dir), folded,
        added, removed)
      LabelFold(f.labels.localCheckpoint(true),
        f.affectedBase.localCheckpoint(true),
        f.touchedDocs.localCheckpoint(true))
    }
  }

  private def incrNewLabels(s: SparkSession, dir: String): DataFrame =
    incrNewFold(s, dir).labels

  def qSplitIncremental(s: SparkSession, dir: String): DataFrame = {
    val labels = incrNewLabels(s, dir)
    Tables.documents(s, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
      .select(col("doc_id"), col("group_id"),
        when(substring(md5(col("group_id").cast("string")), 1, 1)
          .isin("0", "1", "2"), "test").otherwise("train").as("split"))
  }

  /** q_canonical_incremental: the quality-aware canonical election
    * maintained incrementally — the second label CONSUMER folded (beside
    * [[qSplitIncremental]]): yesterday's canonical rows stay FROZEN for
    * every cluster whose membership did not change, and the election
    * re-runs only over TOUCHED clusters. Touched comes FROM THE FOLD
    * itself ([[LabelFold]] — r19 verdict task 4: production knows its
    * delta, so no |V|-sized base⟗new label diff is ever paid here):
    *
    *  - `affectedBase` marks every base cluster the delta could have
    *    moved (dissolved by a deletion or contracted into the quotient
    *    by an added edge) — their old rows are stale even when only a
    *    GAINED member changed (member count moved);
    *  - `touchedDocs` (members of affected base clusters + added-edge
    *    endpoints) mark the NEW clusters needing re-election;
    *  - kept = base canonical rows in neither set; recomputed = the
    *    canonical aggregate over touched clusters' CURRENT membership.
    *
    * The touched sets over-approximate (an unchanged listed cluster is
    * re-elected to the identical row), never under-approximate, so the
    * union is byte-identical to the full recompute. Work is bounded by
    * the touched clusters' size, never the corpus; doc quality is
    * static so frozen rows cannot go stale through the quality side.
    * The oracle is the byte-identical FULL recompute
    * (qDedupCanonicalSql) — every cluster, every canonical pick, every
    * gain value. */
  def qCanonicalIncremental(s: SparkSession, dir: String): DataFrame = {
    val baseLabels = incrBaseLabels(s, dir)
    val fold = incrNewFold(s, dir)
    val newLabels = fold.labels
    // (touchedNew, obsolete) are deterministic batch state like the fold
    // itself — a production pipeline derives them once per delta, so the
    // per-call plan is just kept ∪ re-elected over checkpointed leaves
    val (touchedNew, obsolete) = graft.ModelCache.getOrElseUpdate(
        s, s"dedup.incr.touched:$dir") {
      val tn = newLabels
        .join(fold.touchedDocs, Seq("doc_id"), "left_semi")
        .select("cluster_id").distinct().localCheckpoint(true)
      val ob = fold.affectedBase.unionByName(tn).distinct()
        .localCheckpoint(true)
      (tn, ob)
    }
    // localCheckpoint, not persist: persist caches blocks but every
    // consumer job still re-optimizes the embedded CC+election lineage
    // (the measured 74 s vs 12 s lesson in SCALING.md)
    val baseCanon = graft.ModelCache.getOrElseUpdate(s, s"dedup.incr.canon:$dir") {
      canonicalOf(s, dir, baseLabels).localCheckpoint(true)
    }
    val kept = baseCanon.join(obsolete, Seq("cluster_id"), "left_anti")
    val recomputed = canonicalOf(s, dir,
      newLabels.join(touchedNew, Seq("cluster_id"), "left_semi"))
    kept.unionByName(recomputed)
  }

  /** q_span_scrub: the span-REMOVAL rewrite that consumes q_dup_spans —
    * every token inside any repeated span is dropped (conservative
    * remove-all, the q_line_dedup convention: no survivor election across
    * docs), and each doc emits its before/after token accounting plus an
    * md5 over the kept tokens in order, so the rewrite is verifiable
    * without shipping text. Dropped-position marking is an explode of the
    * span ranges into (doc, pos) keys — bounded by the duplicated mass —
    * followed by one equi-anti-join; no non-equi join anywhere. */
  def qSpanScrub(s: SparkSession, dir: String): DataFrame =
    scrubWith(TextPrep.rawDocs(s, dir), spansOf(s, dir))

  /** q_span_scrub_exact: the same span-removal rewrite fed by the TRUE
    * ExactSubstr coverage intervals (q_exact_substr_spans) instead of
    * the hashed 5-gram islands — the semantically-right scrub unit (Lee
    * et al. 2022 remove the maximal repeated SUBSTRINGS, not a fixed-n
    * window union at n=5): only text under a ≥[[ExactSubstrMinLen]]-token
    * verbatim repeat is dropped, so short formulaic 5-grams survive. The
    * rewrite machinery (explode + equi-anti-join + ordered kept-digest)
    * is byte-identical to q_span_scrub — only the spans relation differs,
    * and it arrives memoized (exactSpansOf). The oracle reuses the
    * L-gram island chain whose equality to the suffix-group coverage is
    * q_exact_substr_spans' gated theorem. */
  def qSpanScrubExact(s: SparkSession, dir: String): DataFrame =
    scrubWith(TextPrep.rawDocs(s, dir), exactSpansOf(s, dir))

  def qSpanScrubOf(docsIn: DataFrame): DataFrame =
    scrubWith(docsIn, repeatedSpans(docsIn))

  private def scrubWith(docsIn: DataFrame, spans: DataFrame): DataFrame = {
    val docs =
      if (docsIn.columns.contains("rtoks")) docsIn.select(col("doc_id"), col("rtoks"))
      else docsIn.select(col("doc_id"), TextFns.rawTokens(col("text")).as("rtoks"))
    val toks = docs
      .select(col("doc_id"), posexplode(col("rtoks")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val dropped = spans
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val kept = toks.join(dropped, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ")).as("kept_md5"))
    docs
      .select(col("doc_id"), size(col("rtoks")).cast("long").as("n_toks"))
      .filter(col("n_toks") > 0)
      .join(kept, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
  }

  /** The scrub oracle over the n-token island chain — shared by the
    * 5-gram and exact-span scrub gates (only n differs). */
  private def scrubSqlOver(n: Int) = {
    s"""WITH ${islandCtes(n)},
       spans AS (
         SELECT doc_id, min(pos) AS span_start, max(pos) + ${n - 1} AS span_end
         FROM g GROUP BY doc_id, span_id),
       dropped AS (
         SELECT doc_id, unnest(range(span_start, span_end + 1)) AS pos FROM spans),
       tk AS (
         SELECT doc_id, unnest(toks) AS tok,
           generate_subscripts(toks, 1) - 1 AS pos
         FROM t),
       kept AS (
         SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
           md5(string_agg(tk.tok, ' ' ORDER BY tk.pos)) AS kept_md5
         FROM tk ANTI JOIN dropped ON tk.doc_id = dropped.doc_id AND tk.pos = dropped.pos
         GROUP BY tk.doc_id)
       SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
         coalesce(kept.n_kept, 0) AS n_kept,
         coalesce(kept.kept_md5, md5('')) AS kept_md5
       FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id
       WHERE len(t.toks) > 0"""
  }

  private[operators] lazy val qSpanScrubSql = scrubSqlOver(SpanN)

  private[operators] lazy val qSpanScrubExactSql =
    scrubSqlOver(ExactSubstrMinLen)

  /** q_source_overlap: pairwise cross-SOURCE content overlap — the
    * dataset-card matrix that says which ingestion sources duplicate each
    * other (mirror sites, syndication, re-crawls): distinct 3-gram
    * shingles per source (source count is small and fixed, so this is a
    * bounded rollup of the shared docShingles stage), one self-join on
    * the shingle key for the pair intersections, Jaccard per source pair.
    * Fan-out per shingle is ≤ sources², a constant — scale-safe at any
    * corpus size. */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // the (source, shingle) relation appears FOUR times in this one query
    // (both self-join sides + both size lookups) — materialize it, the
    // shared-hot-stage rule
    val srcSh = graft.ModelCache.getOrElseUpdate(s, s"dedup.srcsh:$dir") {
      docShingles(s, dir)
        .join(Tables.documents(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("sh")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val sizes = srcSh.groupBy("source").agg(count(lit(1)).as("sz"))
    val pairs = srcSh.as("a").join(srcSh.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("source").as("source_a"), col("sz").as("sz_a")), Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("sz").as("sz_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_shared")), 6).as("jaccard"))
  }

  private val qSourceOverlapSql = {
    val toks = TextFns.rawTokensSql("text")
    s"""WITH sh AS (
         SELECT DISTINCT source, unnest(${TextFns.shinglesSql("toks", 3)}) AS shingle
         FROM (SELECT source, $toks AS toks FROM documents)),
       sizes AS (SELECT source, count(*) AS sz FROM sh GROUP BY source),
       pairs AS (
         SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
         GROUP BY 1, 2)
       SELECT source_a, source_b, n_shared,
         round(CAST(n_shared AS DOUBLE) / (sa.sz + sb.sz - n_shared), 6) AS jaccard
       FROM pairs
       JOIN sizes sa ON sa.source = source_a
       JOIN sizes sb ON sb.source = source_b"""
  }

  // ---------------- Benchmark decontamination ----------------

  /** 5-gram windows are long enough to be distinctive (boilerplate 3-grams
    * collide constantly; 5-token runs rarely do) and short enough to catch
    * partial copies. ≥3 shared distinct 5-grams ≈ an 7+-token verbatim
    * overlap — the standard contamination signal. */
  val DecontamN = 5
  val DecontamMinShared = 3

  /** Cross-set n-gram overlap — training-data DECONTAMINATION: flag
    * training documents that share ≥ minShared distinct word-n-grams with
    * any benchmark document, so eval-set text can be purged from a
    * training corpus.
    *
    * Scale shape: distinct (doc, xxhash64(shingle)) postings on both
    * sides, one inverted-index equi-join on the 8-byte hash, one pair
    * aggregate. Per-shingle fan-out is |train posts| × |bench posts|;
    * the bench side is normally a small benchmark suite, but a df cap on
    * its posting lists ([[ShingleDfCap]]) hard-bounds the fan-out even
    * against viral boilerplate n-grams — a 5-gram shared across 100+
    * benchmark docs is boilerplate, not contamination signal. */
  def decontaminate(docs: DataFrame, isBench: Column,
      n: Int = DecontamN, minShared: Int = DecontamMinShared): DataFrame = {
    val toksDf =
      if (docs.columns.contains("rtoks")) docs.select(col("doc_id"), col("rtoks"))
      else docs.select(col("doc_id"), TextFns.rawTokens(col("text")).as("rtoks"))
    val sh = toksDf
      .select(col("doc_id"), isBench.as("is_bench"), col("rtoks"))
      .select(col("doc_id"), col("is_bench"),
        explode(TextFns.shingles(col("rtoks"), n)).as("shingle"))
      .select(col("doc_id"), col("is_bench"), xxhash64(col("shingle")).as("sh"))
      .distinct()
    val benchAll = sh.filter(col("is_bench")).select(col("doc_id").as("bench_id"), col("sh"))
    val bench = benchAll.join(
      benchAll.groupBy("sh").agg(count(lit(1)).as("bdf"))
        .filter(col("bdf") <= ShingleDfCap).select("sh"),
      Seq("sh"))
    val train = sh.filter(!col("is_bench")).select(col("doc_id"), col("sh"))
    train.join(bench, Seq("sh"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench_matches"), max(col("n_shared")).as("max_shared"))
  }

  /** q_decontaminate: the corpus split by a deterministic id rule
    * (doc_id % 7 = 0 plays the held-out benchmark; everything else is
    * training data). */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame =
    decontaminate(TextPrep.rawDocs(s, dir), col("doc_id") % 7 === 0)

  private[operators] val qDecontaminateSql = {
    val toks = TextFns.rawTokensSql("text")
    s"""WITH sh AS (
         SELECT DISTINCT doc_id, unnest(${TextFns.shinglesSql("toks", DecontamN)}) AS shingle
         FROM (SELECT doc_id, $toks AS toks FROM documents)),
       b0 AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 7 = 0),
       b AS (
         SELECT b0.bench_id, b0.shingle FROM b0 JOIN (
           SELECT shingle FROM b0 GROUP BY shingle HAVING count(*) <= $ShingleDfCap) g
           USING (shingle)),
       t AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 7 <> 0),
       p AS (
         SELECT t.doc_id, b.bench_id, count(*) AS n_shared
         FROM t JOIN b USING (shingle) GROUP BY 1, 2
         HAVING count(*) >= $DecontamMinShared)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
         CAST(max(n_shared) AS BIGINT) AS max_shared
       FROM p GROUP BY doc_id"""
  }

  /** q_rouge_pairs: ROUGE-1/ROUGE-2 F1 over the near-dup candidate pairs —
    * the summarization-eval overlap family (Lin 2004) run as a dedup
    * DIAGNOSTIC: once the shingle-Jaccard pass flags a candidate pair,
    * ROUGE says how much of each doc's surface the overlap actually
    * covers (multiset n-gram recall/precision), which separates
    * "template with swapped slots" (high ROUGE-1, low ROUGE-2) from
    * "near-verbatim copy" (both high). Multiset match
    * mₙ = Σ_g min(cntₐ(g), cnt_b(g)) over raw-token n-grams;
    * F1 = 2mₙ/(nₐ+n_b) (the harmonic identity — all arithmetic integer
    * until ONE shared double division, so the 6dp round is fp-immune).
    * Plan: the pair set is the SAME memoized df-capped candidate stream
    * as Jaccard/containment (no new corpus pass for candidates); the
    * per-pair gram join fans out by |pairs|·|doc grams| — bounded by the
    * near-dup density times doc length, never corpus² — and shuffles on
    * (doc, gram) keys. */
  /** Per-pair multiset 1/2-gram match counts + both docs' gram totals —
    * ONE assembly shared by q_rouge_pairs and q_bleu_pairs (the
    * featureVectors rule: both metrics must score the identical match
    * multiset). Columns: doc_a, doc_b, m1, m2, n1a, n2a, n1b, n2b. */
  private def pairGramStats(s: SparkSession, dir: String): DataFrame =
    graft.ModelCache.getOrElseUpdate(s, s"dedup.pairgrams:$dir") {
      pairGramStatsBuild(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private def pairGramStatsBuild(s: SparkSession, dir: String): DataFrame = {
    // pairs is near-dup-density-sized; checkpoint once — three join
    // positions read it, and each un-truncated reference replayed the
    // whole candidate join chain (guide §3.3).
    val pairs = qDedupJaccard(s, dir).select("doc_a", "doc_b")
      .localCheckpoint(true)
    // Candidate-bounded gram counting (the qJaccardPrefix verify
    // discipline): only docs that appear in some pair can contribute a
    // match or a total, so the per-doc gram aggregates restrict to the
    // pair-member semi-join FIRST — r20 counted 1/2-grams over the WHOLE
    // corpus (two full explode + vocabulary-sized groupBys) to then keep
    // a few hundred docs' rows.
    val pairDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val toks = TextPrep.rawDocs(s, dir).select(col("doc_id"), col("rtoks"))
      .join(pairDocs, Seq("doc_id"), "left_semi")
      .localCheckpoint(true) // three consumers: uni, bi, tot
    val uni = toks.select(col("doc_id"), explode(col("rtoks")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
    val bi = toks
      .select(col("doc_id"), explode(TextFns.shingles(col("rtoks"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
    val tot = toks.select(col("doc_id"), size(col("rtoks")).cast("long").as("n1"),
      greatest(size(col("rtoks")) - 1, lit(0)).cast("long").as("n2"))
    def overlap(counts: DataFrame, name: String): DataFrame =
      pairs
        .join(counts.select(col("doc_id").as("doc_a"), col("g"), col("cnt").as("ca")),
          Seq("doc_a"))
        .join(counts.select(col("doc_id").as("doc_b"), col("g"), col("cnt").as("cb")),
          Seq("doc_b", "g"))
        .groupBy("doc_a", "doc_b")
        .agg(sum(least(col("ca"), col("cb"))).as(name))
    pairs
      .join(overlap(uni, "m1"), Seq("doc_a", "doc_b"), "left_outer")
      .join(overlap(bi, "m2"), Seq("doc_a", "doc_b"), "left_outer")
      .na.fill(0L, Seq("m1", "m2"))
      .join(tot.select(col("doc_id").as("doc_a"),
        col("n1").as("n1a"), col("n2").as("n2a")), Seq("doc_a"))
      .join(tot.select(col("doc_id").as("doc_b"),
        col("n1").as("n1b"), col("n2").as("n2b")), Seq("doc_b"))
  }

  def qRougePairs(s: SparkSession, dir: String): DataFrame =
    pairGramStats(s, dir)
      .select(col("doc_a"), col("doc_b"), col("m1"), col("m2"),
        round((col("m1") * 2).cast("double") / (col("n1a") + col("n1b")), 6)
          .as("rouge1_f"),
        round((col("m2") * 2).cast("double") / (col("n2a") + col("n2b")), 6)
          .as("rouge2_f"))

  /** q_bleu_pairs: sentence-BLEU-2 with brevity penalty over the SAME
    * memoized near-dup candidate stream and gram-match multiset as
    * q_rouge_pairs — the PRECISION-side twin (ROUGE-F is symmetric
    * recall-ish; BLEU is directional: "how much of the CANDIDATE is
    * covered", so a short verbatim extract scores high BLEU against its
    * source but low the other way — the asymmetry that separates
    * quote-extraction from template reuse, complementing 40b2's
    * set-level containment with multiset n-gram evidence). bleu2_ab
    * scores doc_b as candidate against reference doc_a (and ba the
    * reverse): BP·√(p₁·p₂) with pₙ the clipped precisions mₙ/nₙ and
    * BP = min(1, e^(1−ref/cand)). Any zero match or empty candidate →
    * NULL (log-undefined), never a fabricated 0. All counts exact
    * integers; one fixed double expression per direction. */
  def qBleuPairs(s: SparkSession, dir: String): DataFrame = {
    def D(c: Column) = c.cast("double")
    def bleu(m1: Column, m2: Column, refN1: Column,
        candN1: Column, candN2: Column): Column =
      when(m1 > 0 && m2 > 0 && candN2 > 0,
        round(least(lit(1.0), exp(lit(1.0) - D(refN1) / D(candN1))) *
          sqrt((D(m1) / D(candN1)) * (D(m2) / D(candN2))), 6))
        .otherwise(lit(null).cast("double"))
    pairGramStats(s, dir)
      .select(col("doc_a"), col("doc_b"), col("m1"), col("m2"),
        bleu(col("m1"), col("m2"), col("n1a"), col("n1b"), col("n2b"))
          .as("bleu2_ab"),
        bleu(col("m1"), col("m2"), col("n1b"), col("n1a"), col("n2a"))
          .as("bleu2_ba"))
  }

  /** Threshold ladder for the dedup sensitivity curve (starts at the
    * gated candidate floor 0.12). */
  val DedupThresholds: Seq[Double] =
    Seq(0.12, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)

  /** q_dedup_rate_curve: threshold-sensitivity curve of the Jaccard
    * near-dup stage — pair count and affected-doc count at every
    * threshold of a declared ladder, in ONE pass over the memoized
    * candidate relation (explode-over-thresholds, the scoreCombos
    * trick: widening the ladder costs an explode factor over the
    * BOUNDED pair set, not a rerun of the shingle join). The tuning
    * question every dedup deployment asks — "how much does the corpus
    * shrink if I tighten τ?" — answered as a hash-gated relation
    * instead of nine ad-hoc reruns; a cliff between adjacent rungs
    * marks a template family about to flip in or out of dedup. */
  def qDedupRateCurve(s: SparkSession, dir: String): DataFrame = {
    val ths = array(DedupThresholds.map(lit): _*)
    // pair-ladder-sized; checkpoint once — the n_pairs and n_docs
    // branches would otherwise each replay the candidate join chain
    val hit = qDedupJaccard(s, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(ths).as("t"))
      .filter(col("jaccard") >= col("t"))
      .localCheckpoint(true)
    val nPairs = hit.groupBy("t").agg(count(lit(1)).as("n_pairs"))
    val nDocs = hit
      .select(col("t"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy("t").agg(countDistinct(col("d")).as("n_docs"))
    val total = Tables.documents(s, dir).count()
    nPairs.join(nDocs, Seq("t"))
      .select(col("t").as("threshold"), col("n_pairs"), col("n_docs"),
        round(col("n_docs").cast("double") / total, 6).as("doc_frac"))
  }

  private lazy val qDedupRateCurveSql =
    s"""WITH pr AS ($qDedupJaccardSql),
       th AS (SELECT CAST(unnest([${DedupThresholds.mkString(", ")}]) AS DOUBLE) AS t),
       hit AS (SELECT th.t, pr.doc_a, pr.doc_b FROM pr JOIN th
               ON pr.jaccard >= th.t),
       np AS (SELECT t, CAST(count(*) AS BIGINT) AS n_pairs FROM hit GROUP BY t),
       nd AS (SELECT t, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
              FROM (SELECT t, doc_a AS d FROM hit
                    UNION ALL SELECT t, doc_b FROM hit) GROUP BY t),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
       SELECT np.t AS threshold, n_pairs, n_docs,
         round(CAST(n_docs AS DOUBLE) / CAST(tot.n AS DOUBLE), 6) AS doc_frac
       FROM np JOIN nd ON nd.t = np.t CROSS JOIN tot"""

  /** Target Jaccard threshold the LSH planner optimizes for (a realistic
    * dedup operating point inside the observed candidate range). */
  val LshPlanTau = 0.5

  /** The planner's signature budget = [[NumHashes]]; candidates are every
    * (b, r) split with b·r = budget and r a power of two, so every power
    * in the S-curve is computable by a SQUARING CHAIN — exact IEEE,
    * identical in both engines, no libm pow anywhere. */
  val LshPlanBudgetLog2 = 7 // 2^7 = NumHashes

  /** q_lsh_plan: analytic (b, r) band planner for the MinHash family —
    * the design tool that replaces knob-twiddling (the r17 adaptive-width
    * fix tuned ONE knob empirically; this evaluates the whole design
    * space): for each candidate split of the 128-hash budget, the banding
    * S-curve p(s) = 1 − (1 − s^r)^b is evaluated against the corpus'
    * OBSERVED pair-similarity distribution (the q_dedup_rate_curve
    * substrate: the exact ≥0.12 Jaccard pairs), emitting per candidate
    *  - expected FALSE-NEGATIVE mass Σ_{j ≥ τ} (1 − p(j)) — true pairs
    *    the banding would fail to surface,
    *  - expected FALSE-POSITIVE mass Σ_{j < τ} p(j) — observed sub-τ
    *    candidates it would surface anyway (the verify-stage bill),
    *  - the MMDS threshold approximation s50 ≈ (1/b)^(1/r) (a sqrt
    *    chain over exact power-of-two literals, precomputed once and
    *    injected into both engines — the q_viterbi libm-constant
    *    discipline),
    * and flags the total-mass argmin. All powers are squaring chains
    * (r, b powers of two); per-pair probabilities are rounded to 6dp and
    * summed as EXACT DECIMALS, so the masses are order-independent — no
    * bounded-fold needed, the aggregate map-side combines, and the whole
    * planner is one pass over the memoized pair relation at any corpus
    * scale. */
  def qLshPlan(s: SparkSession, dir: String): DataFrame =
    // LIVE per invocation (r21 ADVICE: the r21 ModelCache+persist here
    // memoized this query's own 8-row RESULT, so bench reps 2-3 timed a
    // cache read rather than the planner computation). The expensive
    // shared input — the exact pair relation — is what's memoized
    // ([[jaccardPairs]]); the explode + aggregate over it runs fresh for
    // the planner query and again inside the audit's argmin collect.
    qLshPlanBuild(s, dir)

  private def qLshPlanBuild(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def sq(c: Column, k: Int): Column = (1 to k).foldLeft(c)((x, _) => x * x)
    val cands = (0 to LshPlanBudgetLog2).map { m =>
      val r = 1 << m
      val b = 1 << (LshPlanBudgetLog2 - m)
      val s50 = (1 to m).foldLeft(1.0 / b)((x, _) => math.sqrt(x))
      val jr = sq(col("jaccard"), m)
      val p = lit(1.0) - sq(lit(1.0) - jr, LshPlanBudgetLog2 - m)
      struct(lit(b).as("b"), lit(r).as("r"), lit(s50).as("s50"), p.as("p"))
    }
    val dec = "decimal(28,6)"
    val ex = jaccardPairs(s, dir)
      .select(col("jaccard"), explode(array(cands: _*)).as("c"))
      .select(col("jaccard"), col("c.b").as("b"), col("c.r").as("r"),
        col("c.s50").as("s50"), col("c.p").as("p"))
    val agg = ex.groupBy("b", "r", "s50").agg(
      count(when(col("jaccard") >= LshPlanTau, 1)).as("n_true"),
      count(when(col("jaccard") < LshPlanTau, 1)).as("n_below"),
      sum(when(col("jaccard") >= LshPlanTau,
        round(lit(1.0) - col("p"), 6).cast(dec))
        .otherwise(lit(0).cast(dec))).as("fn"),
      sum(when(col("jaccard") < LshPlanTau, round(col("p"), 6).cast(dec))
        .otherwise(lit(0).cast(dec))).as("fp"))
    val w = Window.orderBy((col("fn") + col("fp")).asc, col("b").asc)
    agg.withColumn("best", row_number().over(w) === 1)
      .select(col("b"), col("r"), round(col("s50"), 6).as("s50"),
        col("n_true"), col("n_below"),
        col("fn").cast("double").as("exp_fn_mass"),
        col("fp").cast("double").as("exp_fp_mass"), col("best"))
  }

  private lazy val qLshPlanSql = {
    def sqs(e: String, k: Int): String =
      (1 to k).foldLeft(e)((x, _) => s"($x * $x)")
    val cands = (0 to LshPlanBudgetLog2).map { m =>
      val r = 1 << m
      val b = 1 << (LshPlanBudgetLog2 - m)
      val s50 = (1 to m).foldLeft(1.0 / b)((x, _) => math.sqrt(x))
      val p = s"(1.0 - ${sqs(s"(1.0 - ${sqs("jaccard", m)})", LshPlanBudgetLog2 - m)})"
      s"""SELECT jaccard, $b AS b, $r AS r, CAST($s50 AS DOUBLE) AS s50,
          $p AS p FROM pr"""
    }.mkString("\n       UNION ALL ")
    s"""WITH pr AS MATERIALIZED ($qDedupJaccardSql),
       ex AS ($cands),
       agg AS (SELECT b, r, s50,
           CAST(count(CASE WHEN jaccard >= $LshPlanTau THEN 1 END) AS BIGINT) AS n_true,
           CAST(count(CASE WHEN jaccard < $LshPlanTau THEN 1 END) AS BIGINT) AS n_below,
           sum(CASE WHEN jaccard >= $LshPlanTau
             THEN CAST(round(1.0 - p, 6) AS DECIMAL(28,6))
             ELSE CAST(0 AS DECIMAL(28,6)) END) AS fn,
           sum(CASE WHEN jaccard < $LshPlanTau
             THEN CAST(round(p, 6) AS DECIMAL(28,6))
             ELSE CAST(0 AS DECIMAL(28,6)) END) AS fp
         FROM ex GROUP BY 1, 2, 3)
       SELECT b, r, round(s50, 6) AS s50, n_true, n_below,
         CAST(fn AS DOUBLE) AS exp_fn_mass, CAST(fp AS DOUBLE) AS exp_fp_mass,
         row_number() OVER (ORDER BY fn + fp ASC, b ASC) = 1 AS best
       FROM agg"""
  }

  /** q_rate_knee: knee-point detection (the Kneedle construction,
    * Satopää et al. 2011, in its exact small-grid form) over the dedup
    * threshold-sensitivity curve — the DECISION step after
    * q_dedup_rate_curve draws the curve ("WHERE does tightening τ stop
    * buying much?"): normalize the (τ, n_pairs) curve to the unit
    * square, measure each rung's vertical distance BELOW the
    * endpoint-to-endpoint chord y = 1 − x (the curve decreases in τ, so
    * d = (1 − x) − y), and flag the argmax. Pure mirrored
    * algebra over the already-gated curve (the ladder is a 9-rung
    * dimension; min/max normalizers are single aggregates; distances
    * divide once and round on emission; argmax breaks ties on τ). */
  def qRateKnee(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // 9 rows (one per ladder rung); checkpoint — referenced by mm AND
    // norm, each replaying the curve aggregates otherwise
    val c = qDedupRateCurve(s, dir).select(col("threshold"), col("n_pairs"))
      .localCheckpoint(true)
    val mm = c.agg(min(col("threshold")).as("t0"), max(col("threshold")).as("t1"),
      min(col("n_pairs")).as("p0"), max(col("n_pairs")).as("p1"))
    // degenerate guards: a FLAT curve (all rungs hold the same mass —
    // every pair sits above the top rung, true at sf0.01) has no knee;
    // NULL normalizers propagate to NULL distances and knee stays false
    val norm = c.crossJoin(broadcast(mm))
      .select(col("threshold"), col("n_pairs"),
        when(col("t1") > col("t0"),
          (col("threshold") - col("t0")) / (col("t1") - col("t0"))).as("x"),
        when(col("p1") > col("p0"),
          (col("n_pairs") - col("p0")).cast("double") /
            (col("p1") - col("p0")).cast("double")).as("y"))
    // the curve DECREASES in τ, so the knee is max distance BELOW the
    // chord y = 1 − x … measured as d = (1 − x) − y
    val d = norm.select(col("threshold"), col("n_pairs"), col("x"), col("y"),
      (lit(1.0) - col("x") - col("y")).as("dist"))
    val w = Window.orderBy(col("dist").desc, col("threshold").asc)
    d.withColumn("rk", row_number().over(w))
      .select(col("threshold"), col("n_pairs"),
        round(col("dist"), 6).as("chord_dist"),
        (col("rk") === 1 && col("dist").isNotNull).as("knee"))
  }

  private lazy val qRateKneeSql =
    s"""WITH c AS ($qDedupRateCurveSql),
       mm AS (SELECT min(threshold) AS t0, max(threshold) AS t1,
                min(n_pairs) AS p0, max(n_pairs) AS p1
              FROM c),
       n AS (SELECT c.threshold, c.n_pairs,
               CASE WHEN mm.t1 > mm.t0
                 THEN (c.threshold - mm.t0) / (mm.t1 - mm.t0) END AS x,
               CASE WHEN mm.p1 > mm.p0
                 THEN CAST(c.n_pairs - mm.p0 AS DOUBLE)
                   / CAST(mm.p1 - mm.p0 AS DOUBLE) END AS y
             FROM c CROSS JOIN mm),
       d AS (SELECT threshold, n_pairs, 1.0 - x - y AS dist FROM n)
       SELECT threshold, n_pairs, round(dist, 6) AS chord_dist,
         row_number() OVER (ORDER BY dist DESC, threshold ASC) = 1
           AND dist IS NOT NULL AS knee
       FROM d"""

  /** Miss-rate ceiling for [[qLshPlanAudit]] — the planner's argmin
    * predicts FN mass ≈ 1e-4 of the true pairs at τ = 0.5; 5% is a >100×
    * margin, so the gate only trips if the plan-vs-reality loop is
    * actually broken (wrong S-curve, wrong banding, wrong signatures). */
  val LshPlanMissCeiling = 0.05

  /** q_lsh_plan_audit: the planner's choice, EXECUTED — q_lsh_plan picks
    * (b, r) analytically from the S-curve; this audit bands the real
    * 128-hash signatures at that argmin, collects the banded candidate
    * pairs, and measures the ACTUAL recall against the exact ≥τ pair set
    * (closing the plan→reality loop; a plan that scores well on paper
    * but misses real pairs fails here). SQL-derivable anchors (n_true
    * and the argmin (b, r), recomputed by the oracle through the same
    * S-curve algebra) hash-gate the row; the guarantees are booleans:
    * every true pair the banding surfaced is accounted and the miss
    * rate sits under [[LshPlanMissCeiling]] (exact found/missed counts
    * are deliberately NOT in the gated row — the ceiling permits
    * corpus-dependent misses the oracle cannot predict). The banding is the
    * q_dedup_minhash shape at the planner's geometry — one explode +
    * bucket groupBy, no all-pairs anywhere. */
  def qLshPlanAudit(s: SparkSession, dir: String): DataFrame = {
    val best = qLshPlan(s, dir).filter(col("best")).collect()(0)
    val b = best.getAs[Int]("b"); val r = best.getAs[Int]("r")
    val sig = minhashSignatures(s, dir)
    val bands = sig.select(col("doc_id"),
      explode(array((0 until b).map { band =>
        struct(lit(band).as("band"),
          xxhash64((band * r until (band + 1) * r)
            .map(i => col("sig")(i)): _*).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = bands.groupBy("band", "key")
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(graft.functions.Pairs.orderedPairs(col("ds"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
    val truePairs = jaccardPairs(s, dir)
      .filter(col("jaccard") >= LshPlanTau).select("doc_a", "doc_b")
    // n_true is already in the collected planner row (identical count in
    // every (b, r) candidate) — one count job instead of two
    val nTrue = best.getAs[Long]("n_true")
    val nFound = truePairs.join(cand, Seq("doc_a", "doc_b"), "left_semi").count()
    val missRate =
      if (nTrue == 0) 0.0 else (nTrue - nFound).toDouble / nTrue
    import s.implicits._
    // gate ONLY what the contract actually claims: the SQL-derivable
    // anchors (b, r, n_true) and the guarantee booleans. Exact
    // n_found/n_missed are NOT gated — the contract explicitly allows
    // up to [[LshPlanMissCeiling]] banding misses (recall is
    // corpus-dependent), so pinning n_missed = 0 in the oracle would
    // encode a stronger invariant than the audit certifies.
    Seq((b, r, nTrue,
      math.rint(missRate * 1e6) / 1e6 <= LshPlanMissCeiling,
      nFound <= nTrue))
      .toDF("b", "r", "n_true",
        "miss_under_ceiling", "found_within_true")
  }

  private lazy val qLshPlanAuditSql =
    s"""WITH plan AS ($qLshPlanSql),
       best AS (SELECT b, r FROM plan WHERE best),
       pr AS ($qDedupJaccardSql),
       tp AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM pr
              WHERE jaccard >= $LshPlanTau)
       SELECT CAST(best.b AS INT) AS b, CAST(best.r AS INT) AS r,
         tp.n_true,
         TRUE AS miss_under_ceiling, TRUE AS found_within_true
       FROM best CROSS JOIN tp"""

  /** Splice-window width (tokens). */
  val SpliceK = 4

  /** q_splice_pairs: suffix→prefix splice detection — doc A whose LAST
    * k raw tokens equal doc B's FIRST k (A ≠ B), the boilerplate-splice
    * / continuation signal the window-based dedup family cannot see
    * cheaply (a Jaccard candidate needs global shingle overlap; a
    * splice shares exactly ONE boundary window — chunked-crawl page
    * continuations, template headers glued to fresh bodies). Scale
    * shape: each doc contributes exactly one head key and one tail key,
    * so the candidate generation is ONE equi-join on the window string
    * (inverted-index shape, never corpus²); docs shorter than 2k are
    * excluded so head and tail windows cannot overlap. Emits the
    * matched window verbatim for triage. */
  def qSplicePairs(s: SparkSession, dir: String): DataFrame = {
    val k = SpliceK
    val ends = TextPrep.rawDocs(s, dir)
      .select(col("doc_id"), col("rtoks"))
      .filter(size(col("rtoks")) >= 2 * k)
      .select(col("doc_id"),
        concat_ws(" ", slice(col("rtoks"), 1, k)).as("head_g"),
        concat_ws(" ", slice(col("rtoks"), -k, k)).as("tail_g"))
    ends.as("a").join(ends.as("b"),
        col("a.tail_g") === col("b.head_g") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.tail_g").as("window"))
  }

  private lazy val qSplicePairsSql = {
    val k = SpliceK
    val toks = TextFns.rawTokensSql("text")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       e AS (SELECT doc_id,
               array_to_string(toks[1:$k], ' ') AS head_g,
               array_to_string(toks[len(toks) - ${k - 1}:len(toks)], ' ') AS tail_g
             FROM t WHERE len(toks) >= ${2 * k})
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.tail_g AS "window"
       FROM e a JOIN e b ON a.tail_g = b.head_g AND a.doc_id <> b.doc_id"""
  }

  /** The shared pair-gram CTE chain + join tail (pr/t/uni/bi/tot/o1/o2
    * with m1/m2/ta/tb in scope) — rouge and bleu oracle SQLs differ
    * only in their SELECT list, so the match-multiset convention cannot
    * drift between the two gated metrics. */
  private lazy val pairGramSqlCtes = {
    val toks = TextFns.rawTokensSql("text")
    s"""$pairCountCtes,
       pr AS (
         SELECT doc_a, doc_b FROM pairs
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) >= 0.12),
       t AS (SELECT doc_id, $toks AS toks FROM documents),
       uni AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY 1, 2),
       bi AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT doc_id, unnest(${TextFns.shinglesSql("toks", 2)}) AS g FROM t)
         GROUP BY 1, 2),
       tot AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n1,
         CAST(GREATEST(len(toks) - 1, 0) AS BIGINT) AS n2 FROM t),
       o1 AS (SELECT pr.doc_a, pr.doc_b, CAST(sum(LEAST(a.cnt, b.cnt)) AS BIGINT) AS m1
         FROM pr JOIN uni a ON a.doc_id = pr.doc_a
         JOIN uni b ON b.doc_id = pr.doc_b AND b.g = a.g GROUP BY 1, 2),
       o2 AS (SELECT pr.doc_a, pr.doc_b, CAST(sum(LEAST(a.cnt, b.cnt)) AS BIGINT) AS m2
         FROM pr JOIN bi a ON a.doc_id = pr.doc_a
         JOIN bi b ON b.doc_id = pr.doc_b AND b.g = a.g GROUP BY 1, 2)"""
  }

  private lazy val pairGramSqlTail =
    s"""FROM pr
       LEFT JOIN o1 ON o1.doc_a = pr.doc_a AND o1.doc_b = pr.doc_b
       LEFT JOIN o2 ON o2.doc_a = pr.doc_a AND o2.doc_b = pr.doc_b
       JOIN tot ta ON ta.doc_id = pr.doc_a
       JOIN tot tb ON tb.doc_id = pr.doc_b"""

  private lazy val qRougePairsSql =
    s"""WITH $pairGramSqlCtes
       SELECT pr.doc_a, pr.doc_b,
         COALESCE(o1.m1, 0) AS m1, COALESCE(o2.m2, 0) AS m2,
         round(CAST(2 * COALESCE(o1.m1, 0) AS DOUBLE) / (ta.n1 + tb.n1), 6) AS rouge1_f,
         round(CAST(2 * COALESCE(o2.m2, 0) AS DOUBLE) / (ta.n2 + tb.n2), 6) AS rouge2_f
       $pairGramSqlTail"""

  private lazy val qBleuPairsSql = {
    def bleu(refN1: String, candN1: String, candN2: String) =
      s"""CASE WHEN COALESCE(o1.m1, 0) > 0 AND COALESCE(o2.m2, 0) > 0
              AND $candN2 > 0 THEN
           round(least(1.0, exp(1.0 - CAST($refN1 AS DOUBLE) / CAST($candN1 AS DOUBLE)))
             * sqrt((CAST(o1.m1 AS DOUBLE) / CAST($candN1 AS DOUBLE))
                 * (CAST(o2.m2 AS DOUBLE) / CAST($candN2 AS DOUBLE))), 6)
         END"""
    s"""WITH $pairGramSqlCtes
       SELECT pr.doc_a, pr.doc_b,
         COALESCE(o1.m1, 0) AS m1, COALESCE(o2.m2, 0) AS m2,
         ${bleu("ta.n1", "tb.n1", "tb.n2")} AS bleu2_ab,
         ${bleu("tb.n1", "ta.n1", "ta.n2")} AS bleu2_ba
       $pairGramSqlTail"""
  }

  /** q_modularity: Newman modularity of the near-dup graph under the
    * SOURCE partition — "does duplication concentrate within sources, or
    * does it cross them?" (cross-source duplication is the syndication/
    * mirror signal q_source_overlap measures at the shingle level; this
    * is its graph-theoretic summary on the certified pair graph).
    * Q = Σ_c (e_c/m − (d_c/2m)²) over source communities; rearranged to
    * the all-integer form (4m·Σe_c − Σd_c²) / 4m² — degree sums and
    * intra-edge counts are exact integers, squares widen to
    * DECIMAL(38,0) (the 100 TB cross-multiplication rule), ONE double
    * division feeds the 6dp round. Per-source accounting rows (docs in
    * graph, degree mass, intra edges, exact contribution) plus the
    * total row (source = '__total__', q = modularity). Edges and
    * degrees reuse the memoized candidate stream — no new corpus
    * pass. */
  def qModularity(s: SparkSession, dir: String): DataFrame = {
    val e = jaccardEdges(s, dir)
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val es = e
      .join(src.select(col("doc_id").as("a"), col("source").as("src_a")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("src_b")), Seq("b"))
    val m = e.count()
    val deg = e.select(col("a").as("id")).unionByName(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .join(src.select(col("doc_id").as("id"), col("source")), Seq("id"))
    val perSrc = deg.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("deg")).as("d_c"))
      .join(
        es.filter(col("src_a") === col("src_b"))
          .groupBy(col("src_a").as("source")).agg(count(lit(1)).as("e_c")),
        Seq("source"), "left_outer")
      .na.fill(0L, Seq("e_c"))
    // contribution_c = (4m·e_c − d_c²) / 4m² — exact integers, one division
    val num = (lit(4L) * m * col("e_c")).cast("decimal(38,0)") -
      (col("d_c").cast("decimal(38,0)") * col("d_c").cast("decimal(38,0)"))
    val den = lit(4.0) * m * m
    val rows = perSrc.select(col("source"), col("n_docs"), col("d_c"), col("e_c"),
      round(num.cast("double") / den, 6).as("q"))
    val total = perSrc.agg(
        sum(col("n_docs")).as("n_docs"), sum(col("d_c")).as("d_c"),
        sum(col("e_c")).as("e_c"),
        round((sum((lit(4L) * m * col("e_c")).cast("decimal(38,0)") -
          col("d_c").cast("decimal(38,0)") * col("d_c").cast("decimal(38,0)")))
          .cast("double") / den, 6).as("q"))
      .select(lit("__total__").as("source"), col("n_docs"), col("d_c"),
        col("e_c"), col("q"))
    rows.unionByName(total)
  }

  private lazy val qModularitySql =
    s"""WITH pr AS ($qDedupJaccardSql),
       e AS (SELECT doc_a AS a, doc_b AS b FROM pr),
       m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
       deg AS (
         SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
       degs AS (
         SELECT d.id, d.deg, doc.source FROM deg d
         JOIN documents doc ON doc.doc_id = d.id),
       intra AS (
         SELECT da.source, CAST(count(*) AS BIGINT) AS e_c
         FROM e
         JOIN documents da ON da.doc_id = e.a
         JOIN documents db ON db.doc_id = e.b
         WHERE da.source = db.source GROUP BY 1),
       per AS (
         SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(s.deg) AS BIGINT) AS d_c,
           coalesce(any_value(i.e_c), 0) AS e_c
         FROM degs s LEFT JOIN intra i ON i.source = s.source
         GROUP BY 1),
       scored AS (
         SELECT source, n_docs, d_c, CAST(e_c AS BIGINT) AS e_c,
           round(CAST(CAST(4 * m.m * e_c AS DECIMAL(38,0)) -
             CAST(d_c AS DECIMAL(38,0)) * CAST(d_c AS DECIMAL(38,0)) AS DOUBLE)
             / (4.0 * m.m * m.m), 6) AS q
         FROM per CROSS JOIN m)
       SELECT source, n_docs, d_c, e_c, q FROM scored
       UNION ALL
       SELECT '__total__', CAST(sum(n_docs) AS BIGINT), CAST(sum(d_c) AS BIGINT),
         CAST(sum(e_c) AS BIGINT),
         round(CAST(sum(CAST(4 * m.m * e_c AS DECIMAL(38,0)) -
           CAST(d_c AS DECIMAL(38,0)) * CAST(d_c AS DECIMAL(38,0))) AS DOUBLE)
           / (4.0 * m.m * m.m), 6)
       FROM per CROSS JOIN m GROUP BY m.m"""

  /** q_assortativity: degree assortativity of the near-dup graph (Newman
    * 2002) — do heavy duplicators pair with heavy duplicators (template
    * farms, r > 0) or with singletons (hub-and-spoke syndication,
    * r < 0)? Pearson correlation of endpoint degrees over the 2m ordered
    * edge endpoints, reduced to FOUR exact-integer edge sums
    * (Σdadb, Σ(da+db), Σ(da²+db²), m): r = (n·Sxy − Sx²)/(n·Sxx − Sx²)
    * with n = 2m and Sxy doubled for symmetry — every moment widened to
    * DECIMAL(38,0) (the cross-multiplication rule), ONE double division,
    * NULL on a degree-regular graph (zero variance) like the
    * critical-value tables. Reuses the memoized edges; one join against
    * the degree table. */
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val e = jaccardEdges(s, dir)
    val deg = e.select(col("a").as("id")).unionByName(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val ed = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val agg = ed.agg(
      count(lit(1)).as("m"),
      sum(d(col("da")) * d(col("db"))).as("sxy"),
      sum(d(col("da")) + d(col("db"))).as("sx"),
      sum(d(col("da")) * d(col("da")) + d(col("db")) * d(col("db")))
        .as("sxx"))
    agg.select(col("m").as("n_edges"),
      when(d(lit(2L) * col("m")) * col("sxx") - col("sx") * col("sx") =!= 0,
        round((d(lit(2L) * col("m")) * (lit(2L).cast("decimal(38,0)") * col("sxy")) -
          col("sx") * col("sx")).cast("double") /
          (d(lit(2L) * col("m")) * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
        .as("r"))
  }

  private lazy val qAssortativitySql =
    s"""WITH pr AS ($qDedupJaccardSql),
       e AS (SELECT doc_a AS a, doc_b AS b FROM pr),
       deg AS (
         SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
       ed AS (
         SELECT da.deg AS da, db.deg AS db FROM e
         JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b),
       agg AS (
         SELECT CAST(count(*) AS BIGINT) AS m,
           sum(CAST(da AS DECIMAL(38,0)) * CAST(db AS DECIMAL(38,0))) AS sxy,
           sum(CAST(da AS DECIMAL(38,0)) + CAST(db AS DECIMAL(38,0))) AS sx,
           sum(CAST(da AS DECIMAL(38,0)) * CAST(da AS DECIMAL(38,0)) +
             CAST(db AS DECIMAL(38,0)) * CAST(db AS DECIMAL(38,0))) AS sxx
         FROM ed)
       SELECT m AS n_edges,
         CASE WHEN CAST(2 * m AS DECIMAL(38,0)) * sxx - sx * sx = 0 THEN NULL
           ELSE round(CAST(CAST(2 * m AS DECIMAL(38,0)) * (2 * sxy) - sx * sx AS DOUBLE)
             / CAST(CAST(2 * m AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE), 6)
         END AS r
       FROM agg"""

  /** k-core peel constants: core order and the FIXED simultaneous-peel
    * round count — both engines run EXACTLY this many rounds (near-dup
    * components are near-cliques; pendant chains collapse in a handful
    * of rounds, and an unconverged tail is identical on both sides by
    * construction, so the gate never depends on convergence). */
  val KCoreK = 2
  val KCoreRounds = 8

  /** q_kcore: bounded-round k-core peel of the near-dup graph — the
    * density skeleton beside the other graph diagnostics (q_graph_stats
    * counts triangles, q_pagerank scores centrality; the 2-core strips
    * PENDANT matches — docs attached to a dup cluster by a single edge,
    * the ones a threshold tightening orphans first — leaving the dense
    * dup-farm skeleton). Simultaneous peel: round i keeps nodes with
    * ≥ k neighbors INSIDE round i−1's survivor set; [[KCoreRounds]]
    * rounds, each ONE node-keyed semi-join pair + count (edges
    * checkpointed once, survivor sets node-sized, eager checkpoint per
    * round — the connectedComponents lineage rule). The oracle unrolls
    * the identical rounds as generated CTEs. Emits every graph node
    * with its degree (hash-anchored) and core membership. */
  def qKcore(s: SparkSession, dir: String): DataFrame =
    kcoreOf(jaccardEdges(s, dir))

  /** Peel core over an undirected (a, b) edge relation — see
    * [[qKcore]]. */
  def kcoreOf(edges: DataFrame): DataFrame = {
    val sym = edges.unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    val deg = sym.groupBy("a").agg(count(lit(1)).as("degree"))
    var keep = deg.select("a").localCheckpoint(true)
    for (_ <- 1 to KCoreRounds) {
      keep = sym
        .join(keep, Seq("a"))
        .join(keep.select(col("a").as("b")), Seq("b"))
        .groupBy("a").agg(count(lit(1)).as("c"))
        .filter(col("c") >= KCoreK)
        .select("a")
        .localCheckpoint(true)
    }
    deg.join(keep.withColumn("in_core", lit(true)), Seq("a"), "left")
      .select(col("a").as("doc_id"), col("degree"),
        coalesce(col("in_core"), lit(false)).as("in_core"))
  }

  private lazy val qKcoreSql = {
    // every k_i is referenced TWICE by round i+1 (both edge endpoints):
    // without MATERIALIZED, DuckDB inlines CTEs and the peel re-derives
    // the whole jaccard pipeline 2^rounds times
    val rounds = (1 to KCoreRounds).map(i =>
      s"""k$i AS MATERIALIZED (SELECT e.a FROM edges e
            JOIN k${i - 1} x ON e.a = x.a JOIN k${i - 1} y ON e.b = y.a
            GROUP BY e.a HAVING count(*) >= $KCoreK)""").mkString(",\n       ")
    s"""WITH pr AS MATERIALIZED ($qDedupJaccardSql),
       edges AS MATERIALIZED (
         SELECT doc_a AS a, doc_b AS b FROM pr
         UNION ALL SELECT doc_b, doc_a FROM pr),
       k0 AS MATERIALIZED (SELECT DISTINCT a FROM edges),
       $rounds,
       deg AS (SELECT a, CAST(count(*) AS BIGINT) AS degree
               FROM edges GROUP BY a)
       SELECT d.a AS doc_id, d.degree, (k.a IS NOT NULL) AS in_core
       FROM deg d LEFT JOIN k$KCoreRounds k ON d.a = k.a"""
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_assortativity" -> (qAssortativity _),
    "q_kcore" -> (qKcore _),
    "q_modularity" -> (qModularity _),
    "q_rouge_pairs" -> (qRougePairs _),
    "q_dedup_rate_curve" -> (qDedupRateCurve _),
    "q_lsh_plan" -> (qLshPlan _),
    "q_rate_knee" -> (qRateKnee _),
    "q_lsh_plan_audit" -> (qLshPlanAudit _),
    "q_bleu_pairs" -> (qBleuPairs _),
    "q_splice_pairs" -> (qSplicePairs _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_jaccard" -> (qDedupJaccard _),
    "q_dedup_incremental" -> (qDedupIncremental _),
    "q_jaccard_prefix" -> (qJaccardPrefix _),
    "q_novelty" -> (qNovelty _),
    "q_bfs_depth" -> (qBfsDepth _),
    "q_containment" -> (qContainment _),
    "q_dedup_cosine" -> (qDedupCosine _),
    "q_dedup_cosine_lsh" -> (qDedupCosineLsh _),
    "q_dedup_semantic" -> (qDedupSemantic _),
    "q_semantic_audit" -> (qSemanticAudit _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_minhash_audit" -> (qMinhashAudit _),
    "q_simhash_audit" -> (qSimhashAudit _),
    "q_cosine_lsh_audit" -> (qCosineLshAudit _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_decon_semantic" -> (qDeconSemantic _),
    "q_source_overlap" -> (qSourceOverlap _),
    "q_dup_spans" -> (qDupSpans _),
    "q_exact_substr" -> (qExactSubstr _),
    "q_exact_substr_spans" -> (qExactSubstrSpans _),
    "q_source_verbatim" -> (qSourceVerbatim _),
    "q_span_scrub" -> (qSpanScrub _),
    "q_span_scrub_exact" -> (qSpanScrubExact _),
    "q_split_leakfree" -> (qSplitLeakfree _),
    "q_split_incremental" -> (qSplitIncremental _),
    "q_canonical_incremental" -> (qCanonicalIncremental _),
    "q_line_dedup" -> (qLineDedup _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_dedup_canonical" -> (qDedupCanonical _),
    "q_graph_stats" -> (qGraphStats _),
    "q_local_clustering" -> (qLocalClustering _),
    "q_pagerank" -> (qPagerank _))

  override def oracles: Map[String, String] = Map(
    "q_modularity" -> qModularitySql,
    "q_kcore" -> qKcoreSql,
    "q_assortativity" -> qAssortativitySql,
    "q_rouge_pairs" -> qRougePairsSql,
    "q_dedup_rate_curve" -> qDedupRateCurveSql,
    "q_lsh_plan" -> qLshPlanSql,
    "q_rate_knee" -> qRateKneeSql,
    "q_lsh_plan_audit" -> qLshPlanAuditSql,
    "q_bleu_pairs" -> qBleuPairsSql,
    "q_splice_pairs" -> qSplicePairsSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_dedup_jaccard" -> qDedupJaccardSql,
    "q_dedup_incremental" -> qDedupJaccardSql, // the full recompute IS the gate
    "q_jaccard_prefix" -> qJaccardPrefixSql,
    "q_novelty" -> qNoveltySql,
    "q_bfs_depth" -> qBfsDepthSql,
    "q_minhash_audit" -> qMinhashAuditSql,
    "q_simhash_audit" -> qSimhashAuditSql,
    "q_cosine_lsh_audit" -> qCosineLshAuditSql,
    "q_semantic_audit" -> qSemanticAuditSql,
    "q_containment" -> qContainmentSql,
    "q_dedup_cosine" -> qDedupCosineSql,
    "q_decontaminate" -> qDecontaminateSql,
    "q_decon_semantic" -> qDeconSemanticSql,
    "q_source_overlap" -> qSourceOverlapSql,
    "q_dup_spans" -> qDupSpansSql,
    "q_exact_substr" -> qExactSubstrSql,
    "q_exact_substr_spans" -> qExactSubstrSpansSql,
    "q_source_verbatim" -> qSourceVerbatimSql,
    "q_span_scrub" -> qSpanScrubSql,
    "q_span_scrub_exact" -> qSpanScrubExactSql,
    "q_split_leakfree" -> qSplitLeakfreeSql,
    "q_split_incremental" -> qSplitLeakfreeSql,
    "q_canonical_incremental" -> qDedupCanonicalSql,
    "q_line_dedup" -> qLineDedupSql,
    "q_dedup_clusters" -> qDedupClustersSql,
    "q_dedup_canonical" -> qDedupCanonicalSql,
    "q_graph_stats" -> qGraphStatsSql,
    "q_local_clustering" -> qLocalClusteringSql,
    "q_pagerank" -> qPagerankSql)
}
