package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Checkpoints
import graft.Tables._
import graft.functions.TextFunctions._

/** Text-analysis and deduplication operators over `documents` — the
  * training-data-pipeline side of the engine: tokenization stats,
  * quality scoring, language-ID heuristic, fingerprinting, exact dedup,
  * n-gram Jaccard near-dup and MinHash near-dup estimation.
  *
  * Scale design: every operator is a pure shuffle-on-key plan. The
  * near-dup operators generate candidates by joining on shared
  * shingles / MinHash band keys — never an all-pairs cartesian — with a
  * document-frequency cap on shingles (stop-shingle removal), which is
  * what keeps the candidate join bounded at 100 TB.
  */
object TextQueries {

  private val Stopwords = Seq("the", "a", "of", "and", "to")
  private val StopSqlList = Stopwords.map(s => s"'$s'").mkString(", ")

  /** DuckDB twin of [[qualityKeep]] (defined below with the other
    * shared plan builders).
    */
  private def qualityKeepSql: String =
    s"""len($toksSql) >= 5
       |         AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '',
       |           'g')) AS DOUBLE) / length(text) >= 0.5
       |         AND CAST(len(list_filter($toksSql,
       |           t -> t IN ($StopSqlList))) AS DOUBLE)
       |           / len($toksSql) <= 0.5""".stripMargin

  /** Shingle document-frequency cap for near-dup candidate generation. */
  private val DfCap = 100

  /** Document-frequency cap for the inverted-index build: tokens in
    * more documents are stopwords whose posting lists dwarf any useful
    * retrieval signal (and whose aggregation buffers would be
    * unbounded). 380 keeps the fixture vocabulary's informative tail.
    */
  private val InvIdxDfCap = 380

  /** LSH band-bucket size cap: buckets with more members are skipped
    * during candidate generation (skew guard). Without it a degenerate
    * bucket of B docs contributes B²/2 candidate pairs — on this
    * corpus one bucket holds 78% of all docs (measured: 22.9M pairs
    * uncapped vs bounded with the cap), and at 100 TB an uncapped hot
    * bucket is a guaranteed straggler/OOM.
    */
  private[graft] val BucketCap = 50

  /** (doc_id, shingle) pairs, distinct, stop-shingles (df > cap)
    * removed; plus per-doc capped set sizes.
    */
  private def shingleRows(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      // Tokenize into a materialized column FIRST: referencing the
      // token array through an attribute makes codegen evaluate the
      // regex split once per row; inlining it into the shingle lambda
      // would re-split per shingle slot (~100× per document).
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        explode(array_distinct(wordShingles(col("toks"), 3))).as("sh"))

  /** All 2-combinations (a < b) of a sorted id array, as struct rows —
    * the posting-list pairing step of candidate generation. Caller must
    * ensure size(ids) >= 2 (Spark's sequence(1, 0) would descend).
    */
  private[operators] def pairCombinations(ids: Column): Column =
    explode(
      flatten(
        transform(
          sequence(lit(1), size(ids) - 1),
          i =>
            transform(
              slice(ids, i + 1, size(ids) - i),
              y => struct(get(ids, i - 1).as("a"), y.as("b"))))))

  /** All candidate near-dup pairs with their exact word-3-gram Jaccard
    * — shared by the top-K report (`ngram_jaccard`) and the
    * connected-components clustering (`dedup_clusters`).
    *
    * Posting-list plan with BOUNDED aggregation state: a count() pass
    * (O(1) state per key) finds each shingle's document frequency
    * first, keys outside the cap are dropped with a join, and only
    * the survivors reach collect_set — so no posting-list buffer can
    * exceed DfCap ids even when one hot shingle covers most of a
    * 100 TB corpus. (Filtering AFTER collect_set would bound the join
    * but still materialize the full hot posting list in one
    * aggregation buffer — executor OOM at scale.) The explicit hash
    * repartition on the shingle key makes the df aggregation AND the
    * join probe share the SAME exchange (AQE runtime stage reuse), so
    * the expensive scan+shingle transform runs once. The sizes side
    * is one row PER DOCUMENT, so it must NOT be broadcast (billions
    * of rows at 100 TB) — the candidate→size joins shuffle on a/b,
    * both sides already bounded.
    */
  /** Shared first phase of the shingle-df operators: distinct
    * (doc_id, sh) rows hash-partitioned on the shingle key, plus the
    * per-shingle document-frequency counts. The explicit repartition
    * makes every consumer (count aggregation, join probe) read ONE
    * exchange via AQE runtime stage reuse instead of re-running the
    * scan + shingle transform.
    */
  private def shingleDfs(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val rows = shingleRows(s, d).repartition(col("sh"))
    (rows, rows.groupBy("sh").agg(count(lit(1)).as("df")))
  }

  /** Candidate pairs + exact Jaccard, pinned and memoized per
    * (session, dir): three registered queries consume this table
    * (`ngram_jaccard`, the clustering family via [[neardupEdges]],
    * `minhash_jaccard_est`) and the candidate-generation pipeline
    * behind it is the most expensive text scan in the gate — one
    * materialization serves them all. Bounded by construction: the
    * DfCap posting caps bound the pair count at any corpus size.
    */
  private val pairCache = new SessionMemo[org.apache.spark.sql.DataFrame]

  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    pairCache.getOrCompute(s, d)(
      Checkpoints.pin(computeJaccardPairs(s, d)))

  /** `private[graft]`: NearDupPlanSpec asserts the candidate-join plan
    * SHAPE here — the registered queries read the eagerly pinned memo,
    * whose static plan no longer shows the builds (same caveat as
    * dedup_clusters in COVERAGE.md).
    */
  private[graft] def computeJaccardPairs(
      s: SparkSession, d: String): DataFrame = {
    val (rows, dfs) = shingleDfs(s, d)
    // ONE inner join carries df alongside each surviving (sh, doc_id)
    // row; both downstream branches derive from it. Per-doc size
    // counts every surviving shingle (df ≤ cap) including singletons;
    // the posting build additionally skips df == 1 keys, which cannot
    // produce a pair.
    val surviving =
      rows.join(dfs.filter(col("df") <= DfCap), Seq("sh"))
    val sizes = surviving
      .groupBy("doc_id")
      .agg(count(lit(1)).as("sz"))
    val posting = surviving
      .filter(col("df") >= 2)
      .groupBy("sh")
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
    val inter = posting
      .select(pairCombinations(col("ids")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("a", "sza"), "a")
      .join(sizes.toDF("b", "szb"), "b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")))
      .select("a", "b", "inter", "jaccard")
  }

  /** Connected components over the jaccard ≥ 0.9 near-dup pair graph:
    * min-label propagation to fixpoint (driver-looped, one
    * checkpointed label generation at a time — see `dedup_clusters`).
    * Returns (doc_id, cluster) for every doc that HAS a near-dup;
    * shared by `dedup_clusters` and `cluster_representatives`.
    *
    * The result is memoized per (session, dir): the label frame is
    * already materialized by the final `Checkpoints.pin`, so the
    * second consumer reuses it instead of re-running the whole
    * distributed fixpoint (the gate's most expensive iterative
    * computation). Per-generation pins take the durability tier from
    * `graft.Checkpoints` — executor-local by default, reliable
    * checkpoint files when `spark.graft.checkpoint.dir` is set (the
    * deployable mode: a 100 TB fixpoint must survive executor loss).
    */
  private val labelCache = new SessionMemo[org.apache.spark.sql.DataFrame]
  private val twoStarCache = new SessionMemo[org.apache.spark.sql.DataFrame]

  private def clusterLabels(s: SparkSession, d: String): DataFrame =
    labelCache.getOrCompute(s, d)(computeClusterLabels(s, d))

  /** The jaccard ≥ 0.9 near-dup edge list (symmetric), pinned and
    * memoized: the expensive candidate-pair pipeline behind it runs
    * ONCE per (session, dir) no matter how many consumers —
    * `dedup_clusters` (label propagation), `dedup_clusters_twostar`,
    * and `cluster_representatives` all read this frame.
    */
  private val neardupEdgeCache = new SessionMemo[org.apache.spark.sql.DataFrame]

  /** SimHash near-dup pairs (a, b, hamming ≤ 3): 32-bit signature
    * from per-bit token majorities, 4×8-bit banded Hamming LSH
    * (pigeonhole-complete for distance ≤ 3), count-first bounded
    * buckets like the MinHash path. Shared by `simhash_neardup` and
    * the `dedup_policy` union graph.
    */
  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
    // NO spread (r19 A/B): spreading the pinned signature build
    // measured wall-neutral across three runs (8.11 → 6.69/7.72/8.28,
    // box noise) while DOUBLING process CPU (19.3 → 40.2 s) — and
    // regressed standalone simhash_neardup 0.76 → 1.26 s outright.
    val tok = documents(s, d)
      .select(
        col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", hash60(col("tok")))
    val bitSums = (0 until 32).map(b =>
      sum(
        when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
          .otherwise(-1)).as(s"s$b"))
    val assembled = (0 until 32)
      .map(b =>
        when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    // Pinned (r18): the band self-join below reads this frame through
    // both join sides — each side re-ran the tokenize + 32 bit-sum
    // aggregation. One row per doc (2 longs).
    val sim = Checkpoints.pin(tok
      .groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), assembled.cast("long").as("simhash")))
    val bandRows = sim
      .select(
        col("doc_id"),
        col("simhash"),
        explode(array((0 until 4).map(lit): _*)).as("band"))
      .withColumn(
        "key",
        expr("(simhash >> (band * 8)) & 255"))
      .repartition(col("band"), col("key"))
    val okBuckets = bandRows
      .groupBy("band", "key")
      .agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, BucketCap))
      .select("band", "key")
    val surv = bandRows.join(okBuckets, Seq("band", "key"), "left_semi")
    val a = surv.select(
      col("band"), col("key"),
      col("doc_id").as("a"), col("simhash").as("sa"))
    val b = surv.select(
      col("band"), col("key"),
      col("doc_id").as("b"), col("simhash").as("sb"))
    a.join(b, Seq("band", "key"))
      .filter(col("a") < col("b"))
      .withColumn(
        "hamming", expr("bit_count(sa ^ sb)").cast("int"))
      .filter(col("hamming") <= 3)
      .select("a", "b", "hamming")
      .distinct()
  }

  /** Top-30 subword vocabulary shared by `wordpiece_vocab` and the
    * `wordpiece_stats` segmentation: every full 2..4-char substring
    * of every token occurrence, counted corpus-wide, top-30 by
    * (count desc, piece asc).
    */
  private def wordpieceVocab(s: SparkSession, d: String): DataFrame =
    // spread: the 2..4-char substring explosion below is the heaviest
    // per-row expression in the text family (measured 1.26→0.89 s when
    // the single-row-group scan stops pinning it to one core).
    graft.Tables.spread(documents(s, d).select(col("text")))
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .select(explode(flatten(
        transform(sequence(lit(2), lit(4)), l =>
          when(length(col("w")) >= l,
            transform(sequence(lit(1), length(col("w")) - l + 1),
              p => col("w").substr(p, l)))
            .otherwise(array().cast("array<string>"))))).as("piece"))
      .groupBy("piece")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(30)

  /** Child session configured for the reliable checkpoint tier —
    * memoized per (parent session, dir) so `dedup_clusters_reliable`
    * computes its fixpoint once per gate JVM.
    */
  private val reliableSessionCache = new SessionMemo[SparkSession]

  private[operators] def neardupEdges(
      s: SparkSession, d: String): DataFrame =
    neardupEdgeCache.getOrCompute(s, d) {
      val pairs = jaccardPairs(s, d)
        .filter(col("jaccard") >= 0.9)
        .select(col("a"), col("b"))
      Checkpoints.pin(pairs
        .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
        .toDF("src", "dst"))
    }

  private def computeClusterLabels(
      s: SparkSession, d: String): DataFrame = {
    val edges = neardupEdges(s, d)
    // One checkpointed generation lives at a time: each round
    // materializes `next` (with an inline change flag — no extra
    // join just to detect convergence), counts changes off the
    // checkpoint, and unpersists the PREVIOUS generation — total
    // cached state stays one label table plus the edge list.
    var checkpointed = Checkpoints.pin(edges
      .select(col("src").as("doc_id"))
      .distinct()
      .withColumn("lab", col("doc_id")))
    var labels = checkpointed
    var changed = 1L
    var rounds = 0
    val MaxRounds = 50
    while (changed > 0 && rounds < MaxRounds) {
      val neighborMin = edges
        .join(labels.toDF("dst", "dlab"), "dst")
        .groupBy("src")
        .agg(min(col("dlab")).as("nmin"))
        .toDF("doc_id", "nmin")
      val next = Checkpoints.pin(labels
        .join(neighborMin, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          least(col("lab"), coalesce(col("nmin"), col("lab"))).as("lab"),
          (col("nmin").isNotNull && col("nmin") < col("lab")).as("chg")))
      changed = next.filter(col("chg")).count()
      Checkpoints.unpin(checkpointed)
      checkpointed = next
      labels = next.select("doc_id", "lab")
      rounds += 1
    }
    // The cap is a runaway guard, not a tolerated outcome: labels
    // short of the fixpoint silently under-merge clusters (and
    // diverge from the exact-closure oracle), so fail loudly.
    require(
      changed == 0,
      s"clusterLabels did not converge within $MaxRounds rounds — " +
        "component diameter exceeds the cap; use large-star/small-star")
    // edges stays pinned: it is the memoized frame other consumers
    // (two-star CC) read.
    labels.select(col("doc_id"), col("lab").as("cluster"))
  }

  /** [[BpeRounds]] BPE training rounds on word TYPES weighted by
    * frequency —
    * not raw token instances: the pair statistic
    * Σ_word cnt(word)·pairs(word) is identical, but every round
    * rewrites |vocab| rows instead of |corpus| tokens (the standard
    * BPE-trainer optimization; at 100 TB the difference between
    * re-materializing a corpus per merge and a dictionary). Distinct
    * spaced forms can COLLIDE after a merge ("a b c" → "ab c" meets
    * an existing "ab c"), so each round re-aggregates counts. The
    * learned (round, pair, n) table is memoized per (session, dir) —
    * a bounded driver-side value shared by `bpe_train_merges` and
    * `bpe_apply`.
    */
  private val bpeMergeCache = new SessionMemo[Seq[(Int, String, Long)]]

  /** Training rounds. 8 (not 3) so the apply path PROVES its plan
    * depth is independent of merge count (BpeApplyPlanSpec): 8 merges
    * with pins every [[BpeApplyPinEvery]] leave at most
    * [[BpeApplyPinEvery]] replace expressions in any executed plan.
    */
  private val BpeRounds = 8

  /** The apply dictionary is re-pinned after this many folded merges:
    * plan depth is bounded by this constant however long the learned
    * merge list grows (30k merges = 30k/4 shallow generations, never
    * a 30k-deep expression tree).
    */
  private val BpeApplyPinEvery = 4

  private def trainBpeMerges(
      s: SparkSession, d: String): Seq[(Int, String, Long)] = {
    bpeMergeCache.getOrCompute(s, d) {
      var words = Checkpoints.pin(documents(s, d)
        .select(explode(tokens(col("text"))).as("raw"))
        .filter(length(col("raw")) >= 2)
        .groupBy("raw")
        .agg(count(lit(1)).as("cnt"))
        .select(
          trim(regexp_replace(col("raw"), "(.)", "$1 ")).as("w"),
          col("cnt")))
      val merges = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
      var r = 1
      var done = false
      while (r <= BpeRounds && !done) {
        val top = words
          .select(split(col("w"), " ").as("syms"), col("cnt"))
          // guard: a fully-merged 1-symbol word has no pairs, and an
          // unguarded sequence(1, 0) would descend into element_at 0
          .filter(size(col("syms")) >= 2)
          .select(explode(transform(
            sequence(lit(1), size(col("syms")) - 1),
            i => concat_ws(" ",
              element_at(col("syms"), i),
              element_at(col("syms"), i + 1)))).as("pair"),
            col("cnt"))
          .groupBy("pair").agg(sum(col("cnt")).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(1)
          .collect()
        if (top.isEmpty) done = true
        else {
          val pair = top(0).getString(0)
          merges += ((r, pair, top(0).getLong(1)))
          val prev = words
          // Column-level literals (never interpolated into SQL text):
          // the pair is corpus-derived and may contain any non-space
          // characters.
          words = Checkpoints.pin(words
            .select(
              trim(call_function("replace",
                concat(lit(" "), col("w"), lit(" ")),
                lit(s" $pair "),
                lit(" " + pair.replace(" ", "") + " "))).as("w"),
              col("cnt"))
            .groupBy("w").agg(sum(col("cnt")).as("cnt")))
          Checkpoints.unpin(prev)
          r += 1
        }
      }
      Checkpoints.unpin(words)
      merges.toSeq
    }
  }

  /** Candidate pairs accepted per batched-trainer driver round. */
  private val BpeBatchK = 4

  private val bpeBatchCache =
    new SessionMemo[(Int, Seq[(Int, String, Long)])]

  /** BATCHED BPE training — the job-count fix for a realistic
    * vocabulary: the sequential trainer above runs one full
    * pair-count job per merge (30k merges = 30k sequential Spark
    * jobs); this trainer collects the top candidate pairs per round
    * and accepts up to [[BpeBatchK]] of them greedily, skipping any
    * candidate that SHARES A SYMBOL with one already accepted in the
    * round. Disjoint pairs can't overlap in any word, so merging one
    * leaves the others' counts untouched — each accepted merge is
    * exactly the argmax the sequential trainer would have taken,
    * EXCEPT when a merge creates a new pair (x, ab) whose count ties
    * past a deferred candidate; `BpeBatchedSpec` asserts the fixture
    * reproduces the sequential vocabulary exactly, and the gate pins
    * the batched output to the SAME oracle as `bpe_train_merges`.
    * Rounds collapse ~BpeBatchK× (the spec asserts the bound), so a
    * 30k-merge vocabulary runs ~30k/K driver rounds (see SCALE.md).
    * Returns (driver rounds used, merges with global 1-based index).
    */
  private[graft] def trainBpeMergesBatched(
      s: SparkSession, d: String): (Int, Seq[(Int, String, Long)]) = {
    bpeBatchCache.getOrCompute(s, d) {
      var words = Checkpoints.pin(documents(s, d)
        .select(explode(tokens(col("text"))).as("raw"))
        .filter(length(col("raw")) >= 2)
        .groupBy("raw")
        .agg(count(lit(1)).as("cnt"))
        .select(
          trim(regexp_replace(col("raw"), "(.)", "$1 ")).as("w"),
          col("cnt")))
      val merges =
        scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
      var rounds = 0
      var done = false
      while (merges.size < BpeRounds && !done) {
        // Oversample the candidate list: overlap skips can reject up
        // to K-1 rows between acceptances, and a short list would
        // silently under-fill the batch.
        val top = words
          .select(split(col("w"), " ").as("syms"), col("cnt"))
          .filter(size(col("syms")) >= 2)
          .select(explode(transform(
            sequence(lit(1), size(col("syms")) - 1),
            i => concat_ws(" ",
              element_at(col("syms"), i),
              element_at(col("syms"), i + 1)))).as("pair"),
            col("cnt"))
          .groupBy("pair").agg(sum(col("cnt")).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(BpeBatchK * 4)
          .collect()
        if (top.isEmpty) done = true
        else {
          rounds += 1
          val budget = math.min(BpeBatchK, BpeRounds - merges.size)
          // SEQUENTIAL-EXACT batching (r19; closes the documented
          // sf0.001 tie+cascade divergence). A batch is the maximal
          // PREFIX of the (n desc, pair asc)-sorted candidates that
          // is provably what the sequential trainer would do next:
          //   - STOP at the first candidate sharing a symbol with an
          //     acceptance (the old code skipped it and kept
          //     scanning; but a deferred pair outranks everything
          //     below it, and a merge-created cascade pair is
          //     count-bounded by some overlapping — hence deferred —
          //     pair, so acceptances past a skip can be overtaken);
          //   - TRIM trailing acceptances whose count ties the best
          //     non-accepted candidate (a cascade pair can tie into
          //     the window and win the lexicographic tiebreak).
          // After the trim every acceptance beyond the argmax
          // STRICTLY outcounts every non-accepted pair — and hence
          // every pair a within-batch merge can create or grow —
          // so the sequential trainer provably takes exactly this
          // prefix, in this order, at these counts. Batches still
          // fill when counts separate (the common case at real
          // scale); on tie-dense degenerate corpora the trainer
          // degrades toward one-merge-per-round and stays exact.
          val accepted =
            scala.collection.mutable.ArrayBuffer[(String, Long)]()
          val usedSyms = scala.collection.mutable.Set[String]()
          var nextCount: Option[Long] = None
          val it = top.iterator
          while (nextCount.isEmpty && accepted.size < budget &&
              it.hasNext) {
            val row = it.next()
            val pair = row.getString(0)
            val syms = pair.split(" ")
            if (syms.exists(usedSyms)) nextCount = Some(row.getLong(1))
            else {
              accepted += ((pair, row.getLong(1)))
              usedSyms ++= syms
            }
          }
          if (nextCount.isEmpty && it.hasNext)
            nextCount = Some(it.next().getLong(1))
          val safe = nextCount match {
            case Some(nc) =>
              var k = accepted.size
              while (k > 1 && accepted(k - 1)._2 <= nc) k -= 1
              accepted.take(k)
            case None =>
              // Candidate list exhausted at the batch boundary: no
              // visibility past it, so only the argmax is provably
              // sequential (never hit at gate scale — the list is
              // oversampled 4× the budget).
              accepted.take(1)
          }
          safe.foreach { case (pair, n) =>
            merges += ((merges.size + 1, pair, n))
          }
          val prev = words
          // ONE rewrite+re-aggregate pass applies the whole batch —
          // this is the job-count win: pair-count + rewrite once per
          // ROUND, not once per merge.
          words = Checkpoints.pin(safe.foldLeft(
            words.select(
              concat(lit(" "), col("w"), lit(" ")).as("w"),
              col("cnt"))) { case (df, (pair, _)) =>
              df.select(
                call_function("replace", col("w"),
                  lit(s" $pair "),
                  lit(" " + pair.replace(" ", "") + " ")).as("w"),
                col("cnt"))
            }
            .select(trim(col("w")).as("w"), col("cnt"))
            .groupBy("w").agg(sum(col("cnt")).as("cnt")))
          Checkpoints.unpin(prev)
        }
      }
      Checkpoints.unpin(words)
      (rounds, merges.toSeq)
    }
  }

  /** Memoized APPLY dictionary: distinct raw word → symbol count
    * after all learned merges. Folds the trainer's merge expression
    * [[BpeApplyPinEvery]] merges at a time with a Checkpoints pin
    * between segments, so every generation's executed plan holds a
    * CONSTANT number of replace expressions however many merges were
    * learned. The finished dictionary stays pinned (memoized, like
    * the cluster-label edge table) — it is the frame every apply
    * consumer joins against.
    */
  private val bpeDictCache = new SessionMemo[DataFrame]

  private[graft] def bpeDictionary(s: SparkSession, d: String): DataFrame =
    bpeDictCache.getOrCompute(s, d) {
      val pairs = trainBpeMerges(s, d).map(_._2)
      var dict = Checkpoints.pin(
        documents(s, d)
          .select(explode(tokens(col("text"))).as("raw"))
          .filter(length(col("raw")) >= 2)
          .distinct()
          .select(
            col("raw"),
            trim(regexp_replace(col("raw"), "(.)", "$1 ")).as("w")))
      pairs.grouped(BpeApplyPinEvery).foreach { group =>
        val prev = dict
        dict = Checkpoints.pin(group.foldLeft(dict) { (df, pair) =>
          df.withColumn("w",
            trim(call_function("replace",
              concat(lit(" "), col("w"), lit(" ")),
              lit(s" $pair "),
              lit(" " + pair.replace(" ", "") + " "))))
        })
        Checkpoints.unpin(prev)
      }
      dict.select(
        col("raw"),
        size(split(col("w"), " ")).cast("long").as("n_syms"))
    }

  /** Shared per-doc compression report over a (raw, n_syms)
    * dictionary — the single reduction both apply paths (declarative
    * fold and imperative fast path) go through, so the two gate
    * queries sharing one oracle cannot drift.
    */
  private def bpeApplyReport(
      s: SparkSession, d: String, sized: DataFrame): DataFrame =
    documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("raw"))
      .filter(length(col("raw")) >= 2)
      .join(sized, Seq("raw"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("raw")).cast("long")).as("n_symbols_raw"),
        sum(col("n_syms")).as("n_symbols"))
      .withColumn("compression_ppm",
        expr("n_symbols * 1000000 DIV n_symbols_raw"))
      .orderBy("doc_id")

  /** Imperative per-word BPE apply — the production fast path a
    * 30k-merge vocabulary runs inside one `mapPartitions` pass over
    * word types (broadcast merge list, zero plan growth; a
    * rank-indexed pair lookup drops the per-word cost below the
    * naive O(merges × len) shown here). Semantics are EXACTLY the
    * space-delimited replace the declarative dictionary folds:
    * merges apply in learned order, each pass left-to-right and
    * non-overlapping, and a match can never START on the symbol
    * immediately after a merge — the string form consumed that
    * symbol's leading delimiter (the documented alternate-occurrence
    * wart). `BpeImperativeApplySpec` pins equality against the
    * declarative dictionary over the whole fixture vocabulary.
    */
  private[graft] def applyMergesImperative(
      word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms: Array[String] = word.map(_.toString).toArray
    merges.foreach { case (a, b) =>
      val out = new scala.collection.mutable.ArrayBuffer[String](
        syms.length)
      var i = 0
      var justMerged = false
      while (i < syms.length) {
        if (!justMerged && i + 1 < syms.length &&
          syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2; justMerged = true
        } else {
          out += syms(i); i += 1; justMerged = false
        }
      }
      syms = out.toArray
    }
    syms.toSeq
  }

  /** The C4-style quality predicate over `text` — shared by
    * `quality_filter` and the `corpus_card` report (its SQL twin is
    * [[qualityKeepSql]]).
    */
  private def qualityKeep: Column = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val nAlpha = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
    val nStop = size(filter(toks, t => t.isin(Stopwords: _*)))
    nTokens >= 5 &&
      nAlpha.cast("double") / length(col("text")) >= 0.5 &&
      nStop.cast("double") / nTokens <= 0.5
  }

  /** 8-slot MinHash signatures over distinct word unigrams — the
    * shared first stage of every MinHash operator (signatures report,
    * band-pair generation, estimator calibration, incremental
    * near-dup).
    */
  /** Stopword-vote language prediction — ONE expression shared by
    * `lang_id` (the operator) and `langid_confusion` (its eval), so
    * the eval always scores exactly what the operator predicts.
    */
  private def withPredLang(docs: DataFrame): DataFrame = {
    def hits(ws: Seq[String]) =
      size(filter(tokens(lower(col("text"))), t => t.isin(ws: _*)))
    docs
      .withColumn("en_hits", hits(Seq("the", "a", "of", "and")))
      .withColumn("de_hits", hits(Seq("der", "die", "das", "und")))
      .withColumn("fr_hits", hits(Seq("le", "la", "et", "les")))
      .withColumn("es_hits", hits(Seq("el", "los", "y", "una")))
      .withColumn(
        "pred_lang",
        when(
          col("en_hits") >= greatest(
            col("de_hits"), col("fr_hits"), col("es_hits")) &&
            col("en_hits") > 0, "en")
          .when(
            col("de_hits") >= greatest(col("fr_hits"), col("es_hits")) &&
              col("de_hits") > 0, "de")
          .when(col("fr_hits") >= col("es_hits") && col("fr_hits") > 0,
            "fr")
          .when(col("es_hits") > 0, "es")
          .otherwise("unknown"))
  }

  private def minhashSigs(
      s: SparkSession, d: String, pin: Boolean = true): DataFrame = {
    // NO spread here (r19 A/B): inserting the exchange below the pin
    // build regressed the whole 10-query minhash family 1.2-1.7×
    // (subset bench, same box) — the 8-slot min agg is cheap enough
    // that the shuffled text + 32-task overhead costs more than the
    // fused single-task tokenize it replaces.
    val tok = documents(s, d)
      .select(
        col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", hash60(col("tok")))
    val aggs = (0 until 8).map(i =>
      min(minhashSlot(col("h"), i)).as(s"h$i"))
    val sig = tok.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    // Pinned (r18): every multi-branch consumer reads the signature
    // frame through several plan branches (4 band projections + both
    // scoring sides), each of which re-ran the tokenize+min-slot
    // aggregation — e.g. incremental_neardup evaluated it ~6×. The
    // frame is one row per doc (9 longs), so the eager materialization
    // is far cheaper than a single re-evaluation. Callers whose plan
    // reads the frame EXACTLY ONCE pass pin = false and skip the
    // materialization overhead (r18 accepted regressions #1).
    if (pin) Checkpoints.pin(sig) else sig
  }

  /** (doc_id, band, key) LSH band keys from 8-slot signatures:
    * 4 bands × 2 slots.
    */
  private def bandKeys(sig: DataFrame): DataFrame =
    (0 until 4).map { j =>
      sig.select(
        col("doc_id"),
        lit(j).as("band"),
        concat_ws("_", col(s"h${2 * j}"), col(s"h${2 * j + 1}"))
          .as("key"))
    }.reduce(_ unionByName _)

  /** Distinct LSH candidate pairs (a < b) from band buckets, with
    * BOUNDED aggregation state: a count() pass (O(1) state per
    * bucket) sizes every band bucket first, buckets outside
    * [2, BucketCap] are dropped with a semi join, and only the
    * survivors reach collect_set — so no bucket buffer can exceed
    * BucketCap ids even for the measured 78%-of-docs hot bucket.
    * (Filtering after collect_set would bound the pair join but
    * still materialize the full hot bucket in one aggregation
    * buffer — executor OOM at 100 TB.) Shared by
    * `minhash_band_pairs` and the `neardup_cascade` recall stage.
    */
  private def minhashCandidatePairs(sig: DataFrame): DataFrame = {
    val bandsParted = bandKeys(sig).repartition(col("band"), col("key"))
    val okBuckets = bandsParted
      .groupBy("band", "key")
      .agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, BucketCap))
      .select("band", "key")
    bandsParted
      .join(okBuckets, Seq("band", "key"), "left_semi")
      .groupBy("band", "key")
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
      .select(pairCombinations(col("ids")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Corpus stats per language tag.
    "text_stats" -> ((s, d) =>
      documents(s, d)
        .select(
          col("lang"),
          col("n_chars"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("n_tokens")).as("sum_tokens"),
          max(col("n_tokens")).as("max_tokens"),
          (sum(col("n_tokens")).cast("double") / count(lit(1)))
            .as("avg_tokens"))
        .orderBy("lang")),

    // Per-document quality signals: all integer counts plus single-
    // division ratios (bit-deterministic).
    "text_quality" -> ((s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          length(col("text")).as("len"),
          size(tokens(col("text"))).as("n_tokens"),
          length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
            .as("n_alpha"),
          size(filter(tokens(col("text")), t => t.isin(Stopwords: _*)))
            .as("n_stop"))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / col("n_tokens"))
        .withColumn("alpha_ratio",
          col("n_alpha").cast("double") / col("len"))
        .orderBy("doc_id")),

    // Language-ID heuristic: stopword-set voting with deterministic
    // tie-break order (en > de > fr > es > unknown).
    "lang_id" -> ((s, d) =>
      withPredLang(documents(s, d))
        .groupBy("pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("pred_lang")),

    // LANG-ID CONFUSION vs the gold `lang` labels — the classifier
    // eval the `lang_id` heuristic itself needs before any corpus-mix
    // decision trusts its output (the sibling of `knn_accuracy` on
    // the text side). Same prediction expression (shared helper —
    // the eval can never drift from the operator it scores); each
    // (gold, pred) cell carries its count and share of the gold row
    // in exact ppm, so per-language recall reads straight off the
    // diagonal.
    "langid_confusion" -> ((s, d) => {
      val wg = Window.partitionBy("lang")
      withPredLang(documents(s, d))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .withColumn("n_gold", sum(col("n")).over(wg))
        .withColumn("share_ppm", expr("1000000 * n DIV n_gold"))
        .select("lang", "pred_lang", "n", "n_gold", "share_ppm")
        .orderBy("lang", "pred_lang")
    }),

    // approx_top_k (Spark 4.1's DataSketches frequent-items surface):
    // the sketch tracks far more items than this corpus's vocabulary,
    // so its counts are EXACT here — which is what makes the
    // estimator gateable: every token whose exact count strictly
    // exceeds the rank-11 count MUST appear in any correct top-10
    // (ties at the boundary are the only legitimately ambiguous
    // members, so the harness excludes them), and each must carry its
    // exact count. The oracle derives the same qualifying set from
    // plain counts.
    "approx_topk_sketch" -> ((s, d) => {
      val toks = documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
      val est = toks
        .agg(expr("approx_top_k(tok, 10)").as("tops"))
        .select(explode(col("tops")).as("e"))
        .select(col("e.item").as("tok"), col("e.count").as("est_n"))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      val r11 = exact
        .orderBy(col("n").desc, col("tok"))
        .limit(11)
        .agg(min(col("n")).as("boundary_n"))
      val mustAppear = exact
        .crossJoin(broadcast(r11))
        .filter(col("n") > col("boundary_n"))
      mustAppear
        .join(est, Seq("tok"), "left")
        .select(
          col("tok"), col("n"),
          (col("est_n").isNotNull &&
            col("est_n") === col("n")).as("exact_in_topk"))
        .orderBy(col("n").desc, col("tok"))
    }),

    // LSH PARAMETER SWEEP — the bands×rows tuning table a near-dup
    // deployment reads before committing to a banding: the SAME
    // 8-slot signatures evaluated at 8×1 / 4×2 / 2×4 / 1×8, each
    // config generating candidates through the standard viable-bucket
    // join (2..BucketCap — the production path, caps included) and
    // scored by the family's ≥4/8 signature-match acceptance. More
    // bands ⇒ more candidates, lower precision; the sweep makes that
    // curve a measured table instead of folklore. One signature
    // build serves all four configs and both sides of the scoring
    // join.
    "lsh_param_sweep" -> ((s, d) => {
      // minhashSigs pins internally (r18) — the 15 per-config band
      // projections and both scoring sides read one materialization
      // (previously every branch re-ran the tokenize+groupBy build:
      // 31.5 CPU-s for a 4.1 s query in the r18 baseline floors).
      val sig = minhashSigs(s, d)
      // All four configs' band keys in ONE pass — explode over the 15
      // (bands, band, key) structs per doc instead of a 15-branch
      // union — and ONE shared bucket-size/semi-join/self-join/
      // distinct chain keyed by (bands, band, key). Configs are
      // disjoint on the `bands` token, so each config's candidate set
      // is exactly the per-config chain's; the explicit repartition
      // lets the count pass, the semi join and the pair join all read
      // a single exchange (the minhashCandidatePairs pattern).
      val structs = Seq((8, 1), (4, 2), (2, 4), (1, 8)).flatMap {
        case (nb, r) =>
          (0 until nb).map { j =>
            struct(
              lit(nb.toLong).as("bands"),
              lit(j).as("band"),
              concat_ws("_",
                (0 until r).map(k => col(s"h${j * r + k}")): _*)
                .as("key"))
          }
      }
      val bands = sig
        .select(col("doc_id"), explode(array(structs: _*)).as("bk"))
        .select(col("bk.bands").as("bands"), col("bk.band").as("band"),
          col("bk.key").as("key"), col("doc_id"))
        .repartition(col("bands"), col("band"), col("key"))
      val ok = bands
        .groupBy("bands", "band", "key")
        .agg(count(lit(1)).as("n"))
        .filter(col("n").between(2, BucketCap))
        .select("bands", "band", "key")
      val small =
        bands.join(ok, Seq("bands", "band", "key"), "left_semi")
      val cands = small
        .select(col("bands"), col("band"), col("key"),
          col("doc_id").as("a"))
        .join(
          small.select(col("bands"), col("band"), col("key"),
            col("doc_id").as("b")),
          Seq("bands", "band", "key"))
        .filter(col("a") < col("b"))
        .select(col("bands"), col("a"), col("b"))
        .distinct()
      val sa = sig.toDF("a" +: (0 until 8).map(i => s"a$i"): _*)
      val sb = sig.toDF("b" +: (0 until 8).map(i => s"b$i"): _*)
      val matches = (0 until 8)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      cands
        .join(sa, "a")
        .join(sb, "b")
        .withColumn("n_match", matches)
        .groupBy("bands")
        .agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("n_match") >= 4, 1L).otherwise(0L))
            .as("n_accepted"))
        .select(
          col("bands"),
          expr("CAST(8 DIV bands AS BIGINT)").as("rows_per_band"),
          col("n_candidates"), col("n_accepted"),
          when(col("n_candidates") > 0,
            expr("1000000 * n_accepted DIV n_candidates"))
            .as("precision_ppm"))
        .orderBy("bands")
    }),

    // CONCAT-THEN-CHUNK blocks — the GPT-style pretraining layout
    // token_pack does NOT cover: documents concatenate into one token
    // stream (per shard) and cut every 2048 tokens REGARDLESS of
    // document boundaries, so a document can span blocks. Per shard:
    // block count (ceil of the token total), boundary-spanning doc
    // count (start block ≠ end block — the attention-masking cost of
    // this layout), and the tail block's fill. Offsets come from one
    // cumulative sum over the per-shard doc order — the same sharded
    // prefix-sum scale shape as token_pack.
    "concat_blocks" -> ((s, d) => {
      val w = Window
        .partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      documents(s, d)
        .select(
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          (hash60(normText(col("text"))) % 8).as("shard"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("blk_start", expr("(cum - n_tokens) DIV 2048"))
        .withColumn("blk_end", expr("(cum - 1) DIV 2048"))
        .groupBy("shard")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          expr("CAST((sum(n_tokens) + 2047) DIV 2048 AS BIGINT)")
            .as("n_blocks"),
          sum(when(col("blk_end") > col("blk_start"), 1L)
            .otherwise(0L)).as("n_spanning"),
          expr("CAST(sum(n_tokens) % 2048 AS BIGINT)")
            .as("tail_fill"))
        .orderBy("shard")
    }),

    // PREFERENCE-PAIR ASSEMBLY — the DPO/RLHF data-prep shape: within
    // each source bucket, pair high-scored documents (chosen) against
    // low-scored ones (rejected) with a minimum quality gap, capped
    // per bucket. Score is the integer stopword-density proxy
    // (1000·n_stop DIV n_tokens — the text_quality convention);
    // chosen = top-3 per source, rejected = bottom-3, pairs cross
    // WITHIN the bucket only (9 per source before the gap cut), so
    // pair volume is buckets × 9 at any corpus size — never a
    // corpus-scale pair join. Windows rank within per-source
    // partitions over the scored doc frame.
    "preference_pairs" -> ((s, d) => {
      val scored = documents(s, d)
        .select(
          col("doc_id"), col("source"),
          expr("(1000 * CAST(size(filter(split(trim(text), '\\\\s+'), " +
            s"t -> t IN ($StopSqlList))) AS BIGINT)) DIV " +
            "size(split(trim(text), '\\\\s+'))").as("score_milli"))
      val wTop = Window.partitionBy("source")
        .orderBy(col("score_milli").desc, col("doc_id"))
      val wBot = Window.partitionBy("source")
        .orderBy(col("score_milli").asc, col("doc_id"))
      val chosen = scored
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 3)
        .select(col("source"), col("doc_id").as("chosen_id"),
          col("score_milli").as("chosen_score"))
      val rejected = scored
        .withColumn("rn", row_number().over(wBot))
        .filter(col("rn") <= 3)
        .select(col("source"), col("doc_id").as("rejected_id"),
          col("score_milli").as("rejected_score"))
      chosen
        .join(rejected, Seq("source"))
        .withColumn("gap_milli",
          col("chosen_score") - col("rejected_score"))
        .filter(col("gap_milli") >= 100)
        .select("source", "chosen_id", "rejected_id", "gap_milli")
        .orderBy("source", "chosen_id", "rejected_id")
    }),

    // VOCABULARY COVERAGE curve — the tokenizer-budget question every
    // vocab-size decision starts from: what share of corpus token
    // OCCURRENCES does a top-k frequency vocabulary cover, at several
    // k. Cumulative sum runs over the DISTINCT-TOKEN frame in
    // (count DESC, token ASC) rank order (the auc_quality scale
    // contract — vocabulary-scale, never corpus-scale), and each
    // requested k reads the row at rank min(k, |V|) via a 4-row
    // broadcast join. Exact integer ppm.
    "ngram_coverage" -> ((s, d) => {
      val counts = documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wRank = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token").asc)
      val cum = counts
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .withColumn("cum_n", sum(col("n")).over(w))
      val tot = counts.agg(
        sum(col("n")).as("total_n"),
        count(lit(1)).as("vocab_n"))
      val ks = tot.select(
        col("total_n"), col("vocab_n"),
        explode(array(lit(100L), lit(1000L), lit(5000L),
          lit(20000L))).as("k"))
        .withColumn("rank", least(col("k"), col("vocab_n")))
      broadcast(ks)
        .join(cum.select("rank", "cum_n"), Seq("rank"))
        .select(
          col("k"),
          col("rank").as("vocab_used"),
          expr("1000000 * cum_n DIV total_n").as("covered_ppm"))
        .orderBy("k")
    }),

    // Global token frequency top-20.
    "token_topk" -> ((s, d) =>
      documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)),

    // TOKEN DRIFT between corpus snapshots — the text-side sibling of
    // `embedding_drift` (and the per-token refinement of
    // `dataset_drift`'s whole-distribution TVD): which WORDS moved
    // between yesterday's corpus and today's append. Rate difference
    // per token kept exact by cross-multiplying against each half's
    // total token count (c1·T2 − c2·T1), sign factored out of the
    // division; top-20 by absolute drift. One explode + one
    // aggregation carrying both halves' counts; the two totals ride
    // a one-row broadcast.
    "token_drift" -> ((s, d) => {
      val half = documents(s, d)
        .agg(expr("CAST(count(1) DIV 2 AS BIGINT)").as("h"))
      val tok = documents(s, d)
        .crossJoin(broadcast(half))
        .select(col("doc_id"), col("h"),
          explode(tokens(col("text"))).as("tok"))
        .withColumn("snap",
          when(col("doc_id") < col("h"), 1).otherwise(2))
      val counts = tok.groupBy("tok")
        .agg(
          sum(when(col("snap") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("snap") === 2, 1L).otherwise(0L)).as("c2"))
      val totals = counts.agg(
        sum(col("c1")).as("t1"), sum(col("c2")).as("t2"))
      counts.crossJoin(broadcast(totals))
        .withColumn("num", col("c1") * col("t2") - col("c2") * col("t1"))
        .withColumn("drift_ppm",
          when(col("num") >= 0,
            expr("1000000 * num DIV (t1 * t2)"))
            .otherwise(-expr("1000000 * (-num) DIV (t1 * t2)")))
        .withColumn("abs_ppm", abs(col("drift_ppm")))
        .orderBy(col("abs_ppm").desc, col("tok").asc)
        .limit(20)
        .select("tok", "c1", "c2", "drift_ppm")
    }),

    // TOKEN PMI COLLOCATIONS (word2phrase shape): top-20 token pairs
    // by document-level pointwise mutual information — the phrase
    // detector run before tokenizer training merges multi-word units.
    // PMI ranks by the integer cross-multiplication
    // lift_ppm = 10⁶·n_ab·N DIV (n_a·n_b) (monotone in PMI, no log
    // needed), computed over the SAME basket machinery as the
    // market-basket family: per-doc distinct token sets explode into
    // canonical pairs (doc-bounded O(t²), the fixture's ~40-token
    // docs), counts aggregate map-side, marginals join on the token
    // key, and n_ab ≥ 5 drops the unstable tail.
    "token_pmi" -> ((s, d) => {
      // NOT pinned (r19 A/B, second attempt after r18's): pin+spread
      // of this frame measured 1.63 → 3.30 s — the two consumer
      // branches were evaluating the duplicate tokenize CONCURRENTLY
      // (independent stages of one job), so the pin only serialized
      // them and added a 2M-row materialization.
      val dt = documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("tok"))
      val pairs = dt.groupBy("doc_id")
        .agg(array_sort(collect_set(col("tok"))).as("items"))
        .select(pairCombinations(col("items")).as("p"))
        .select(col("p.a").as("ta"), col("p.b").as("tb"))
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      val marg = dt.groupBy(col("tok"))
        .agg(count(lit(1)).as("n_tok"))
      val total = documents(s, d).agg(count(lit(1)).as("n_docs"))
      pairs
        .join(marg.select(col("tok").as("ta"),
          col("n_tok").as("n_a")), Seq("ta"))
        .join(marg.select(col("tok").as("tb"),
          col("n_tok").as("n_b")), Seq("tb"))
        .crossJoin(broadcast(total))
        .withColumn("lift_ppm",
          expr("1000000 * n_ab * n_docs DIV (n_a * n_b)"))
        .select("ta", "tb", "n_ab", "n_a", "n_b", "lift_ppm")
        .orderBy(col("lift_ppm").desc, col("n_ab").desc,
          col("ta"), col("tb"))
        .limit(20)
    }),

    // TOKEN BURSTINESS (Church–Gale): collection frequency over
    // document frequency — a token that appears 40 times across 4
    // docs (bursty: topical, content-bearing) reads very differently
    // from one appearing 40 times across 40 docs (dispersed:
    // function-word-like), and the ratio is the standard stopword/
    // keyword discriminator a curation pass uses where raw frequency
    // cannot. ONE token explode feeds both counts (cf = all
    // occurrences, df = distinct docs) in a single aggregation;
    // burst_ppm = 10⁶·cf DIV df stays exact. df ≥ 10 drops the
    // unstable tail; top-20 by (burst desc, token).
    "token_burstiness" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(
          count(lit(1)).as("cf"),
          countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 10)
        .withColumn("burst_ppm", expr("1000000 * cf DIV df"))
        .orderBy(col("burst_ppm").desc, col("token").asc)
        .limit(20)),

    // Quantized Flesch reading-ease — the readability member of the
    // quality-signal family, in the repo's integer convention:
    // score_milli = 206835 − (1015·words) DIV sentences
    //             − (84600·syllables) DIV words,
    // with sentences = max(#[.!?], 1) and syllables = maximal
    // [aeiouy]+ runs in the lowercased text (runs can't span
    // whitespace, so the whole-text count equals the per-word sum —
    // one regexp pass, no explode). Floor divisions over positive
    // integers are identical cross-engine; zero libm. Pure
    // projection, zero shuffle.
    "readability" -> ((s, d) =>
      documents(s, d)
        .filter(length(trim(col("text"))) >= 1)
        .select(
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_words"),
          greatest(
            size(regexp_extract_all(col("text"), lit("[.!?]"), lit(0)))
              .cast("long"),
            lit(1L)).as("n_sentences"),
          size(regexp_extract_all(lower(col("text")),
            lit("[aeiouy]+"), lit(0))).cast("long").as("n_syllables"))
        .withColumn("flesch_milli",
          lit(206835L)
            - expr("(1015 * n_words) DIV n_sentences")
            - expr("(84600 * n_syllables) DIV n_words"))
        .orderBy("doc_id")),

    // Cross-document boilerplate signal: the fraction of a document's
    // 3-gram shingles that are CORPUS-COMMON (df > DfCap — navigation
    // chrome, license blocks, templated headers). High ratio → the
    // document is mostly shared boilerplate; the complement of the
    // within-document repetition_score. One count() pass per shingle
    // key (bounded state) + a shuffle join back — no posting lists at
    // all on this path.
    "boilerplate_ratio" -> ((s, d) => {
      val (rows, dfs) = shingleDfs(s, d)
      rows
        .join(dfs, Seq("sh"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_shingles"),
          sum(when(col("df") > DfCap, 1L).otherwise(0L)).as("n_boiler"))
        .withColumn("boiler_ratio",
          col("n_boiler").cast("double") / col("n_shingles"))
        .orderBy("doc_id")
    }),

    // Corpus mixing — deterministic weighted downsampling to target
    // per-language proportions (the data-mixing step before
    // training). The keep decision is a pure function of the CONTENT
    // hash, so it survives re-partitioning/re-ingestion and dups land
    // on the same side of the cut; per-mille quotas: en full, de
    // half, fr/es quarter, rest 10%.
    "corpus_mix" -> ((s, d) => {
      val quota = when(col("lang") === "en", 1000L)
        .when(col("lang") === "de", 500L)
        .when(col("lang").isin("fr", "es"), 250L)
        .otherwise(100L)
      documents(s, d)
        .withColumn(
          "keep",
          (hash60(normText(col("text"))) % 1000 < quota).cast("long"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("keep")).as("n_kept"))
        .withColumn("keep_rate",
          col("n_kept").cast("double") / col("n_docs"))
        .orderBy("lang")
    }),

    // DSIR-shaped data selection — rank raw documents by how well
    // their hashed-token profile matches a TARGET domain (here the
    // 'en' slice plays the target sample). Per-bucket importance is
    // the smoothed target/corpus rate ratio in ppm — the log-free
    // rational adaptation (same rationale as bm25_topk's idf: libm
    // ln() diverges between engines), preserving the ranking's
    // direction; a document's score is the exact-integer SUM of its
    // tokens' bucket ratios. At 100 TB: the bucket table is a
    // CONSTANT 64 rows (broadcast), the token stream joins it by
    // bucket id and reduces per doc_id — one scan, one shuffle,
    // importance state never grows with corpus size.
    "dsir_weights" -> ((s, d) => {
      // NOT pinned (r19 A/B re-confirming r18's revert): pin+spread
      // measured flat (1.02×) — the duplicate tokenize branches run
      // concurrently, so the pin buys nothing at the measured scale.
      val toks = documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
        .withColumn("b", hash60(col("tok")) % 64)
      val buckets = toks.groupBy("b").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tb"),
        count(lit(1)).as("rb"))
      val totals = buckets.agg(
        sum(col("tb")).as("tt"), sum(col("rb")).as("rt"))
      val weighted = buckets.crossJoin(broadcast(totals))
        .withColumn("w_ppm",
          expr("(1000000 * (tb + 1) * rt) DIV ((rb + 1) * tt)"))
        .select("b", "w_ppm")
      toks
        .join(broadcast(weighted), Seq("b"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_toks"),
          sum(col("w_ppm")).as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("doc_id").asc)
        .limit(20)
    }),

    // Dataset drift monitoring — exact total-variation distance (in
    // ppm) between two corpus snapshots (doc_id parity plays the
    // batch boundary) over each categorical dimension. TVD is the
    // rational divergence: ½·Σ|p_v − q_v| cross-multiplies into
    // integers as (10⁶·Σ|o1_v·N2 − o2_v·N1|) DIV (2·N1·N2), so the
    // whole drift scorecard hash-pins (KL/JS need logs — engine-
    // divergent). At 100 TB the per-value count table is bounded by
    // the dimension's cardinality, and the cross-multiplied
    // numerator approaches long range around N ≈ 3·10⁹ — the decimal
    // widening is a one-line change, same note as bm25_topk's ppm.
    "dataset_drift" -> ((s, d) => {
      def dimDrift(dim: String): DataFrame = {
        val counts = documents(s, d)
          .groupBy(col(dim).as("v"))
          .agg(
            sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L))
              .as("o1"),
            sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L))
              .as("o2"))
        val totals = counts.agg(
          sum(col("o1")).as("na"), sum(col("o2")).as("nb"))
        counts.crossJoin(broadcast(totals))
          .agg(
            max(col("na")).as("n_a"),
            max(col("nb")).as("n_b"),
            count(lit(1)).as("n_values"),
            sum(abs(col("o1") * col("nb") - col("o2") * col("na")))
              .as("num"))
          .withColumn("tvd_ppm",
            expr("(1000000 * num) DIV (2 * n_a * n_b)"))
          .select(lit(dim).as("dimension"), col("n_a"), col("n_b"),
            col("n_values"), col("tvd_ppm"))
      }
      dimDrift("lang")
        .unionByName(dimDrift("source"))
        .orderBy("dimension")
    }),

    // Padding-efficiency report — the batching cost model that
    // justifies length bucketing: documents batch 32-at-a-time per
    // shard either in ARRIVAL order or LENGTH-SORTED, each batch pads
    // every member to its max length, and the wasted slot-tokens are
    // reported per strategy in exact ppm. The sorted strategy's lower
    // waste is the measured argument for length-aware batching in a
    // training data loader. Windows are PARTITIONED by the content-
    // hash shard (parallel, never a global sort funnel — same shape
    // as token_pack); at 100 TB shard count scales with the corpus.
    "padding_efficiency" -> ((s, d) => {
      val base = documents(s, d).select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        (hash60(normText(col("text"))) % 8).as("shard"))
      def waste(strategy: String, order: Seq[Column]): DataFrame = {
        val w = Window.partitionBy("shard").orderBy(order: _*)
        base
          .withColumn("rn", row_number().over(w))
          .withColumn("batch", expr("(rn - 1) div 32"))
          .groupBy("shard", "batch")
          .agg(
            count(lit(1)).as("bn"),
            max(col("n_tokens")).as("mx"),
            sum(col("n_tokens")).as("tok"))
          .groupBy("shard")
          .agg(
            sum(col("bn")).as("n_docs"),
            count(lit(1)).as("n_batches"),
            sum(col("bn") * col("mx")).as("slots"),
            sum(col("tok")).as("tok"))
          .withColumn("waste_ppm",
            expr("(1000000 * (slots - tok)) DIV slots"))
          .select(lit(strategy).as("strategy"), col("shard"),
            col("n_docs"), col("n_batches"), col("waste_ppm"))
      }
      waste("arrival", Seq(col("doc_id")))
        .unionByName(
          waste("sorted", Seq(col("n_tokens"), col("doc_id"))))
        .orderBy("strategy", "shard")
    }),

    // Temperature-scaled mixture weights (T=2): the standard
    // tail-upweighting rule w_l ∝ n_l^(1/T) = sqrt(n_l) for a
    // multilingual training mix. sqrt is correctly-rounded IEEE on
    // both engines, and the weights quantize to exact milli integers
    // (floor(sqrt·1000)) BEFORE normalization, so shares and target
    // document counts are pure integer arithmetic — the mixture spec
    // hash-pins. The keep decision executing this plan is
    // corpus_mix's content-hash rule; state is one row per language.
    "corpus_mix_temperature" -> ((s, d) => {
      val counts = documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w_milli",
          floor(sqrt(col("n_docs").cast("double")) * 1000)
            .cast("long"))
      val tot = counts.agg(
        sum(col("w_milli")).as("wt"), sum(col("n_docs")).as("nt"))
      counts.crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("(1000000 * w_milli) DIV wt"))
        .withColumn("target_docs",
          expr("(share_ppm * nt) DIV 1000000"))
        .select("lang", "n_docs", "w_milli", "share_ppm",
          "target_docs")
        .orderBy("lang")
    }),

    // Sequence packing — concatenate each shard's documents into a
    // token stream and cut 2048-token context windows; a document's
    // bin is where it STARTS (straddling allowed), so bin assignment
    // is a running sum + integer division. Shard = content hash mod 8
    // keeps the windows deterministic under re-partitioning, and the
    // running-sum window is PARTITIONED by shard — parallel, never a
    // global funnel.
    "token_pack" -> ((s, d) => {
      val w = Window
        .partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      documents(s, d)
        .select(
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          (hash60(normText(col("text"))) % 8).as("shard"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("bin", expr("(cum - n_tokens) div 2048"))
        .groupBy("shard", "bin")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .orderBy("shard", "bin")
    }),

    // Dedup-rate report — the monitoring number a pipeline tracks per
    // ingestion batch: exact-duplicate rate per language from content
    // fingerprints (docs minus distinct fingerprints over docs).
    "dedup_rate" -> ((s, d) =>
      documents(s, d)
        .select(
          col("lang"),
          hash60(normText(col("text"))).as("fp"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"))
        .withColumn(
          "dup_rate",
          (col("n_docs") - col("n_unique")).cast("double") / col("n_docs"))
        .orderBy("lang")),

    // Incremental ingestion dedup — the steady-state shape of a
    // production corpus: docs < 250 stand in for the EXISTING corpus,
    // docs >= 250 for the newly-crawled batch. Keep a new doc only if
    // its content fingerprint is (a) first within the batch (min
    // doc_id wins, deterministic) and (b) absent from the corpus
    // (anti join on the fingerprint — the corpus side stays where it
    // is; only fingerprints shuffle, never content).
    "incremental_dedup" -> ((s, d) => {
      val fp = documents(s, d)
        .select(
          col("doc_id"),
          hash60(normText(col("text"))).as("fingerprint"))
      val corpus = fp.filter(col("doc_id") < 250)
      val batch = fp.filter(col("doc_id") >= 250)
      batch
        .groupBy("fingerprint")
        .agg(min(col("doc_id")).as("doc_id"))
        .join(corpus.select("fingerprint"), Seq("fingerprint"), "left_anti")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    }),

    // Bigram frequency top-K — the n-gram statistics pass of a corpus
    // LM analysis; same shuffle-on-key shape as token_topk with the
    // shingle transform fused into the scan.
    "bigram_topk" -> ((s, d) =>
      documents(s, d)
        .select(tokens(col("text")).as("toks"))
        .select(explode(wordShingles(col("toks"), 2)).as("bg"))
        .groupBy("bg")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bg").asc)
        .limit(20)),

    // Inverted index (token → sorted posting list): the retrieval-side
    // build. Same bounded-aggregation-state pattern as the near-dup
    // generators — a count() pass finds each token's document
    // frequency, tokens outside [2, InvIdxDfCap] are dropped BEFORE
    // collect_set, so no posting buffer exceeds the cap; the emitted
    // list is additionally truncated to its first 10 ids (the full
    // list is index payload, not a query result).
    "inverted_index" -> ((s, d) => {
      val tok = documents(s, d)
        .select(
          col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("token"))
      val dfs = tok
        .groupBy("token")
        .agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, InvIdxDfCap))
      tok
        .join(dfs, Seq("token"))
        .groupBy("token", "df")
        .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
        .select(
          col("token"), col("df"),
          concat_ws(",", slice(col("ids"), 1, 10)).as("postings_head"))
        .orderBy("token")
    }),

    // Within-document repetition (Gopher-style quality signal): the
    // fraction of a document's word-3-grams that are repeats of an
    // earlier 3-gram in the same document. Boilerplate and looping
    // generations score high; one expression pass, no shuffle.
    // Shape note (r18): the straightforward project+filter form made
    // Catalyst push `size(sh) >= 1` below the projection and collapse
    // the alias, so the whole shingle HOF — and the regex split
    // inside it, which the CASE re-evaluates per reference — ran
    // 6-8× per row (2.5 s at sf0.1, plan audited). explode evaluates
    // the transform ONCE per row (empty arrays drop exactly like the
    // old size≥1 filter) and the counts aggregate instead of
    // re-walking arrays; spread() unpins the per-row work from the
    // single-row-group scan. Same rows, same order.
    "repetition_score" -> ((s, d) =>
      graft.Tables.spread(
        documents(s, d).select(col("doc_id"), col("text")))
        .select(
          col("doc_id"),
          explode(wordShingles(tokens(col("text")), 3)).as("sh"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).cast("int").as("n_shingles"),
          countDistinct(col("sh")).cast("int").as("n_distinct"))
        .withColumn(
          "repetition",
          (col("n_shingles") - col("n_distinct")).cast("double") /
            col("n_shingles"))
        .orderBy("doc_id")),

    // BPE-ish token counting: subword pieces as ≤4-char letter chunks,
    // single digits, and punctuation runs-of-one. The alternatives are
    // DISJOINT character classes with greedy quantifiers, so Java
    // regex (Spark) and RE2 (DuckDB) tokenize identically — no
    // leftmost-vs-longest ambiguity. Expression-only, one pass.
    "token_count_bpe" -> ((s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
            .cast("long").as("n_bpe_tokens"))
        .withColumn("bpe_per_word",
          col("n_bpe_tokens").cast("double") / col("n_ws_tokens"))
        .orderBy("doc_id")),

    // C4-style quality-filter chain: length, alphabetic-ratio and
    // stopword-ratio gates composed as one predicate, then a per-lang
    // keep-rate summary — the shape of a real corpus-cleaning pass
    // (filters push into the scan; the aggregate is the only shuffle).
    "quality_filter" -> ((s, d) =>
      documents(s, d)
        .withColumn("keep", qualityKeep)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("n_chars")).otherwise(0L))
            .as("kept_chars"))
        .withColumn("keep_rate",
          col("n_kept").cast("double") / col("n_docs"))
        .orderBy("lang")),

    // Per-REASON rejection counts for the quality gate — the
    // observability twin of neardup_cap_report: a keep-rate alone
    // can't tell an operator WHICH predicate to retune when yield
    // drops. Reasons overlap by design (a doc can fail several), so
    // the row also carries total docs and total rejected for the
    // denominator. One expression scan, one global aggregate.
    "quality_reject_reasons" -> ((s, d) => {
      // Tokenize into a MATERIALIZED column first (the shingleRows
      // rule): inlined, codegen would re-run the regex split for
      // every reason column — ~6 splits per document in one scan.
      val nTokens = size(col("toks"))
      val nStop = size(filter(col("toks"), t => t.isin(Stopwords: _*)))
      documents(s, d)
        .select(col("text"), tokens(col("text")).as("toks"))
        .select(
          (nTokens < 5).as("r_short"),
          (length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
            .cast("double") / length(col("text")) < 0.5).as("r_alpha"),
          (nStop.cast("double") / nTokens > 0.5).as("r_stop"))
        // keep ≡ no reason fired (false && null = false on both
        // engines, so the zero-token edge stays consistent).
        .withColumn("keep",
          !col("r_short") && !col("r_alpha") && !col("r_stop"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(!col("keep"), 1L).otherwise(0L)).as("n_rejected"),
          sum(when(col("r_short"), 1L).otherwise(0L)).as("n_too_short"),
          sum(when(col("r_alpha"), 1L).otherwise(0L)).as("n_low_alpha"),
          sum(when(col("r_stop"), 1L).otherwise(0L)).as("n_stopword_heavy"))
    }),

    // The per-language DATASET CARD: the corpus summary a curation
    // run publishes with every snapshot — volume, exact-duplicate
    // rate, and quality keep rate, composed from the verified
    // fingerprint/quality building blocks in ONE scan + one grouped
    // aggregation (rates as exact ppm so the card hash-pins).
    "corpus_card" -> ((s, d) =>
      documents(s, d)
        .select(
          col("lang"),
          col("n_chars"),
          hash60(normText(col("text"))).as("fingerprint"),
          qualityKeep.as("keep"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          (count(lit(1)) - countDistinct(col("fingerprint")))
            .as("n_exact_dups"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality_kept"))
        .withColumn("dup_ppm",
          expr("n_exact_dups * 1000000 DIV n_docs"))
        .withColumn("keep_ppm",
          expr("n_quality_kept * 1000000 DIV n_docs"))
        .orderBy("lang")),

    // Per-SPLIT release card — the corpus_card computed per
    // train/val/test assignment: a release gate checks that the
    // content-hash split didn't concentrate tokens, duplicates, or a
    // language into one side. Split key and metrics reuse the exact
    // conventions of dataset_split and corpus_card; one scan, one
    // grouped aggregation, state = 3 rows.
    "split_card" -> ((s, d) =>
      documents(s, d)
        .select(
          col("lang"),
          col("n_chars"),
          hash60(normText(col("text"))).as("fingerprint"))
        .withColumn("bucket", pmod(col("fingerprint"), lit(10)))
        .withColumn("split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          (count(lit(1)) - countDistinct(col("fingerprint")))
            .as("n_exact_dups"),
          countDistinct(col("lang")).as("n_langs"))
        .withColumn("mean_chars", expr("total_chars DIV n_docs"))
        .orderBy("split")),

    // Deterministic train/val/test split (8/1/1) keyed on the CONTENT
    // fingerprint, not the row id — the reproducible-sampling pattern
    // a training pipeline needs: membership survives re-ingestion and
    // re-partitioning, and exact duplicates always land in the same
    // split (no train/test leakage through dup pairs).
    "dataset_split" -> ((s, d) =>
      documents(s, d)
        .withColumn("bucket", pmod(hash60(normText(col("text"))), lit(10)))
        .withColumn(
          "split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("split")),

    // Stratified sampling: exactly 20 documents per language, chosen
    // by content-hash rank — a deterministic reservoir (same sample
    // under any partitioning / re-ingestion, like dataset_split but
    // exact-N per stratum). Runs on the custom GroupedTopK operator,
    // so the per-stratum selection is heap-bounded, not a sort.
    "stratified_sample" -> ((s, d) => {
      val src = documents(s, d)
        .select(
          col("lang"),
          col("doc_id"),
          hash60(normText(col("text"))).as("h"))
      graft.plans.GroupedTopK
        .topK(src, Seq("lang"), Seq(("h", false), ("doc_id", false)), 20)
        .select("lang", "rnk", "doc_id")
        .orderBy("lang", "rnk")
    }),

    // Train/test LEAKAGE audit: exact duplicates cannot straddle a
    // content-hash split (same norm → same bucket), but NEAR-dups
    // can — and every leaking pair inflates eval scores. The audit
    // counts jaccard ≥ 0.9 pairs whose endpoints land in different
    // splits under (a) the content-hash split and (b) a
    // cluster-keyed split (clustered docs take their cluster id's
    // hash, so both endpoints of ANY near-dup pair share a key —
    // structurally zero leakage, which the gate pins as an
    // invariant, not an assumption). One key join per side over the
    // memoized pair/label frames.
    "split_leakage" -> ((s, d) => {
      def splitLab(bucket: Column): Column =
        when(bucket < 8, "train")
          .when(bucket === 8, "val")
          .otherwise("test")
      val pairs = jaccardPairs(s, d)
        .filter(col("jaccard") >= 0.9)
        .select("a", "b")
      val contentKeys = documents(s, d).select(
        col("doc_id"),
        splitLab(pmod(hash60(normText(col("text"))), lit(10))).as("cs"))
      val clusterKeys = clusterLabels(s, d).select(
        col("doc_id"),
        splitLab(pmod(hash60(col("cluster").cast("string")), lit(10)))
          .as("ks"))
      val keys = contentKeys
        .join(clusterKeys, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("cs"),
          coalesce(col("ks"), col("cs")).as("kcs"))
      pairs
        .join(keys.toDF("a", "a_cs", "a_kcs"), "a")
        .join(keys.toDF("b", "b_cs", "b_kcs"), "b")
        .agg(
          count(lit(1)).as("n_neardup_pairs"),
          sum(when(col("a_cs") =!= col("b_cs"), 1L).otherwise(0L))
            .as("n_leaking_content_split"),
          sum(when(col("a_kcs") =!= col("b_kcs"), 1L).otherwise(0L))
            .as("n_leaking_cluster_split"))
    }),

    // THE COMPOSED CURATION PIPELINE — the verified stages chained in
    // the order a training-data run executes them: quality filter →
    // exact keep-first dedup → near-dup cluster keep (representative
    // = longest text, smallest doc_id — same decision as
    // cluster_representatives, over the memoized full-corpus labels)
    // → content-hash 8/1/1 split. Output is the per-stage yield table
    // (docs + whitespace tokens surviving each stage, then per split)
    // — the funnel report a curation run publishes. Composition costs
    // one scan plus the stages' own bounded joins: the cluster labels
    // are the memoized fixpoint, the keep-first key is the already-
    // shuffled norm key, and no stage re-reads the corpus.
    "curation_pipeline" -> ((s, d) => {
      // Pinned (r18): five stage rows + the dedup joins all branch
      // from this frame — as a plain subtree each branch re-ran the
      // tokenize/normalize/quality expressions over the corpus (38
      // regex-split sites in the audited plan). One evaluation, one
      // bounded (doc_id, n_toks, norm, q) frame.
      val base = Checkpoints.pin(documents(s, d).select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        normText(col("text")).as("norm"),
        qualityKeep.as("q")))
      val quality = base.filter(col("q"))
      val keepFirst = quality
        .groupBy("norm")
        .agg(min(col("doc_id")).as("doc_id"))
      val exact = quality.join(keepFirst, Seq("norm", "doc_id"), "left_semi")
      val labels = clusterLabels(s, d)
      // Representatives are chosen among the docs that SURVIVED the
      // preceding stages, not the raw corpus: a cluster whose
      // longest member was quality-rejected must still keep its best
      // surviving member — ranking over the full corpus would elect
      // an already-dropped doc and silently erase the whole cluster
      // from the funnel.
      val reps = labels
        .join(exact.select("doc_id"), Seq("doc_id"), "left_semi")
        .join(documents(s, d).select(col("doc_id"), col("n_chars")),
          Seq("doc_id"))
        .groupBy("cluster")
        .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg")))
          .as("best"))
        .select((-col("best.neg")).as("doc_id"))
      val neardup = exact
        .join(labels.select(col("doc_id"), lit(true).as("clustered")),
          Seq("doc_id"), "left")
        .join(reps.select(col("doc_id"), lit(true).as("rep")),
          Seq("doc_id"), "left")
        .filter(col("clustered").isNull || col("rep").isNotNull)
      def stageRow(df: DataFrame, name: String) =
        df.agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
      val splits = neardup
        .withColumn("bucket", pmod(hash60(col("norm")), lit(10)))
        .withColumn(
          "stage",
          when(col("bucket") < 8, "split_train")
            .when(col("bucket") === 8, "split_val")
            .otherwise("split_test"))
        .groupBy("stage")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"))
      stageRow(base, "s0_raw")
        .unionByName(stageRow(quality, "s1_quality"))
        .unionByName(stageRow(exact, "s2_exact_dedup"))
        .unionByName(stageRow(neardup, "s3_neardup_keep"))
        .unionByName(splits)
        .orderBy("stage")
    }),

    // Per-document PROVENANCE — the audit twin of the
    // curation_pipeline funnel: every document's disposition, i.e.
    // the FIRST stage that rejected it (quality → exact keep-first →
    // near-dup representative choice) or its final split when kept.
    // Same predicates, same keeper rules, same content-hash buckets
    // as the funnel, so the two artifacts reconcile by construction;
    // this is the row-level answer to "why is doc X not in the
    // training set". One scan + the memoized cluster labels + three
    // key-local left joins.
    "curation_provenance" -> ((s, d) => {
      // Pinned (r18): same rationale as curation_pipeline's base —
      // the disposition branches below re-ran the normalize/quality
      // expressions per consumer.
      val base = Checkpoints.pin(documents(s, d).select(
        col("doc_id"),
        normText(col("text")).as("norm"),
        qualityKeep.as("q")))
      val minq = base.filter(col("q"))
        .groupBy("norm").agg(min(col("doc_id")).as("first_id"))
      val exactKeep = base.filter(col("q"))
        .join(minq, Seq("norm"))
        .filter(col("doc_id") === col("first_id"))
        .select("doc_id")
      val labels = clusterLabels(s, d)
      val reps = labels
        .join(exactKeep, Seq("doc_id"), "left_semi")
        .join(documents(s, d).select(col("doc_id"), col("n_chars")),
          Seq("doc_id"))
        .groupBy("cluster")
        .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg")))
          .as("best"))
        .select((-col("best.neg")).as("doc_id"), lit(true).as("rep"))
      base
        .join(minq, Seq("norm"), "left")
        .join(labels.select(col("doc_id"), lit(true).as("clustered")),
          Seq("doc_id"), "left")
        .join(reps, Seq("doc_id"), "left")
        .withColumn("bucket", hash60(col("norm")) % 10)
        .withColumn("disposition",
          when(!col("q"), "rejected_quality")
            .when(col("doc_id") =!= col("first_id"),
              "rejected_exact_dup")
            .when(col("clustered").isNotNull && col("rep").isNull,
              "rejected_neardup")
            .when(col("bucket") < 8, "kept_train")
            .when(col("bucket") === 8, "kept_val")
            .otherwise("kept_test"))
        .select("doc_id", "disposition")
        .orderBy("doc_id")
    }),

    // Deterministic 60-bit document fingerprint over normalized text.
    "doc_fingerprint" -> ((s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          hash60(normText(col("text"))).as("fingerprint"))
        .orderBy("doc_id")),

    // Exact dedup summary over the normalized-text key.
    "dedup_exact" -> ((s, d) =>
      documents(s, d)
        .select(normText(col("text")).as("norm"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("norm")).as("n_distinct"),
          (count(lit(1)) - countDistinct(col("norm"))).as("n_dupes"))),

    // Exact dedup keep-first: min doc_id per normalized key.
    "dedup_exact_keep_first" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), normText(col("text")).as("norm"))
        .groupBy("norm")
        .agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).as("n_copies"))
        .select(col("keep_doc_id"), col("n_copies"))
        .orderBy("keep_doc_id")),

    // Sub-document dedup (the RefinedWeb/CCNet "line dedup" shape,
    // re-expressed over fixed 80-char chunk units — the synthetic
    // corpus has no newlines): a chunk occurrence is DROPPED when the
    // identical chunk text also appears in an earlier document
    // (keep-first, like dedup_exact_keep_first but at chunk grain);
    // each document is then reassembled from its surviving chunks in
    // position order and pinned by content hash. Scale shape: explode →
    // one groupBy(chunk) for the first-owner table → one equi-join back
    // → one groupBy(doc). The first-owner table is corpus-sized but the
    // join is a plain shuffle-on-key — never all-pairs — and the
    // reassembly buffer is bounded by a single document's chunk count.
    "chunk_dedup" -> ((s, d) => {
      val ch = documents(s, d)
        .filter(length(col("text")) >= 1)
        .select(
          col("doc_id"),
          posexplode(
            transform(
              sequence(lit(1), length(col("text")), lit(80)),
              i => col("text").substr(i, lit(80)))))
        .select(col("doc_id"), col("pos").as("idx"),
          col("col").as("chunk"))
      val firstDoc = ch.groupBy("chunk")
        .agg(min(col("doc_id")).as("first_doc"))
      ch.join(firstDoc, Seq("chunk"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("doc_id") =!= col("first_doc"), 1L)
            .otherwise(0L)).as("n_dropped"),
          hash60(
            array_join(
              transform(
                array_sort(
                  collect_list(
                    when(col("doc_id") === col("first_doc"),
                      struct(col("idx"), col("chunk"))))),
                x => x.getField("chunk")),
              "")).as("kept_hash"))
        .orderBy("doc_id")
    }),

    // Cross-document repeated-SPAN detection — the distributed
    // re-expression of suffix-array exact-substring dedup (the "50-
    // char repeated substring" pass of modern training-data pipelines):
    // every positional 8-gram shingle whose shingle text occurs in >= 2
    // DISTINCT documents is marked, and maximal runs of consecutive
    // marked positions are recovered with the gaps-and-islands window
    // (pos - row_number), so a run of L shingles = a repeated span of
    // L+7 tokens. A suffix array is inherently sequential; this shape
    // is two shuffle-on-key passes (shingle df, then per-doc windows)
    // and finds the same >=8-token repeated spans.
    "exact_substring_spans" -> ((s, d) => {
      val n = 8
      val sh = documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          posexplode(wordShingles(col("toks"), n)))
        .select(col("doc_id"), col("pos"), col("col").as("sh"))
      val rep = sh.groupBy("sh")
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2)
      val wd = Window.partitionBy("doc_id").orderBy("pos")
      val runs = sh.join(rep, Seq("sh"))
        .withColumn("grp", col("pos") - row_number().over(wd))
        .groupBy("doc_id", "grp")
        .agg(count(lit(1)).as("run_shingles"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_runs"),
          max(col("run_shingles")).as("max_run"),
          sum(col("run_shingles")).as("n_rep"))
      documents(s, d).select(col("doc_id"))
        .join(runs, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_rep"), lit(0L)).as("n_rep_shingles"),
          coalesce(col("n_runs"), lit(0L)).as("n_runs"),
          coalesce(col("max_run") + (n - 1), lit(0L))
            .as("max_span_tokens"))
        .orderBy("doc_id")
    }),

    // In-corpus bigram language-model quality score — the CCNet/KenLM
    // perplexity-filter shape with the external LM replaced by a model
    // TRAINED ON THE CORPUS ITSELF in the same job: unigram + bigram
    // count tables (vocabulary-sized — Heaps-law sublinear in corpus
    // size, so both joins stay small relative to the fact scan; the
    // unigram side is broadcastable), then each document scores
    // avg over its bigrams of the Laplace-smoothed conditional
    // P(w2|w1) = (c12 + 1) / (c1 + V). All arithmetic is scaled
    // INTEGER (ppm, floor division) so an out-of-vocabulary-free
    // in-corpus model hash-pins exactly — no libm, no FP summation
    // order. Documents with < 2 tokens have no bigrams and drop out on
    // both sides identically.
    "bigram_lm_score" -> ((s, d) => {
      val toksDf = documents(s, d)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      // Pinned (r18): the bigram rows feed the model counts AND the
      // scoring join — as a plain subtree the tokenize+shingle
      // explode ran per consumer (8 regex-split sites in the audited
      // plan).
      val bg = Checkpoints.pin(toksDf.select(col("doc_id"),
        explode(wordShingles(col("toks"), 2)).as("bg")))
      val c2 = bg.groupBy("bg").agg(count(lit(1)).as("cbg"))
      val c1 = toksDf.select(explode(col("toks")).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("cw"))
      val vsz = c1.agg(count(lit(1)).as("vsz"))
      bg.join(c2, Seq("bg"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .join(c1, Seq("w1"))
        .crossJoin(vsz) // ONE-ROW smoothing denominator, broadcast
        .select(col("doc_id"),
          expr("((cbg + 1) * 1000000) DIV (cw + vsz)").as("p_ppm"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("p_ppm")).as("sum_p_ppm"))
        .withColumn("avg_p_ppm", expr("sum_p_ppm DIV n_bigrams"))
        .orderBy("doc_id")
    }),

    // Fixed-size chunking with overlap (100-char windows, stride 80) —
    // the context-window preparation step of an LLM training pipeline.
    // Pure expression work (sequence + substr), no shuffle at all;
    // chunks are emitted as 60-bit hashes so the oracle pins content
    // without megabyte-wide compare rows.
    "doc_chunks" -> ((s, d) =>
      documents(s, d)
        .filter(col("doc_id") < 20)
        // Guard empty text: Spark's sequence(1, 0) DESCENDS instead
        // of yielding an empty array (same trap wordShingles guards);
        // the oracle's generate_series(1, 0) emits nothing, so both
        // sides drop zero-length documents identically.
        .filter(length(col("text")) >= 1)
        .select(
          col("doc_id"),
          posexplode(
            transform(
              sequence(lit(1), length(col("text")), lit(80)),
              i => col("text").substr(i, lit(100)))))
        .select(
          col("doc_id"),
          col("pos").as("chunk_idx"),
          length(col("col")).as("chunk_len"),
          hash60(col("col")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")),

    // Benchmark decontamination: fraction of each training document's
    // 3-gram shingles that appear in the benchmark set (docs 0-4 as
    // the stand-in eval suite). The benchmark side is broadcast — it
    // is bounded by the eval-suite size, never by the corpus — so the
    // scan over training docs is the only fact-sized work.
    "contamination" -> ((s, d) => {
      val all = shingleRows(s, d)
      val bench = all
        .filter(col("doc_id") < 5)
        .select(col("sh"))
        .distinct()
        .withColumn("hit", lit(1L))
      all
        .filter(col("doc_id") >= 5)
        .join(broadcast(bench), Seq("sh"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_shingles"),
          coalesce(sum(col("hit")), lit(0L)).as("n_contaminated"))
        .withColumn("contamination_rate",
          col("n_contaminated").cast("double") / col("n_shingles"))
        .orderBy("doc_id")
    }),

    // Exact near-dup: word-3-gram Jaccard, candidates from shared
    // shingles after stop-shingle (df > cap) removal; top-20 pairs.
    "ngram_jaccard" -> ((s, d) =>
      jaccardPairs(s, d)
        .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
        .limit(20)),

    // EXACT set-similarity join via PPJoin-style PREFIX FILTERING
    // (Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08) — the exact
    // counterpart to the probabilistic MinHash screen: for token-set
    // Jaccard ≥ τ = 4/5, any qualifying pair must (a) satisfy the
    // LENGTH filter 4·max(|a|,|b|) ≤ 5·min(|a|,|b|), and (b) share a
    // token among each side's first |d| − ceil(4|d|/5) + 1 tokens
    // under a GLOBAL rarest-first order (df asc, token asc) — so
    // candidates come from a SHORT prefix-token equi-join over
    // mostly-rare postings, never all pairs, and exact verification
    // touches only candidates. ceil(4|d|/5) = (4|d|+4) DIV 5 keeps
    // every bound in integers. The sets are 3-gram SHINGLE hashes —
    // the family's established granularity; raw token sets measured
    // degenerate on the tiny-vocabulary fixture (30k+ qualifying
    // pairs at τ=0.8 because most documents cover most of the
    // 31-word vocabulary, while shingle sets separate them).
    // `SetSimJoinSpec` proves COMPLETENESS (≡ brute-force all-pairs)
    // on randomized inputs — a lossy filter is the failure mode the
    // spec exists for.
    "setsim_prefix_join" -> ((s, d) => {
      // Five consumers read this frame (sizes, dfs, prefix ranking,
      // and the two verification sides) — pinned so the corpus is
      // shingled ONCE, not per consumer (measured 5.5 s → one scan
      // in the sf0.1 sweep).
      // spread (r18): the shingle explode is the pin's dominant cost
      // (round-13 stage probe: 3.4-5.6 s) and the single-row-group
      // scan ran it on one core.
      val rows = Checkpoints.pin(graft.Tables.spread(
        documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode(wordShingles(tokens(col("text")), 3)).as("sh"))
        .select(col("doc_id"), hash60(col("sh")).as("tok"))
        .distinct())
      val sizes = rows.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val dfs = rows.groupBy("tok").agg(count(lit(1)).as("df"))
      val ordered = rows.join(dfs, "tok")
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy(col("df").asc, col("tok").asc)))
        .join(sizes, "doc_id")
        // prefix length p = sz − ceil(4·sz/5) + 1
        .filter(col("rn") <=
          col("sz") - expr("(4 * sz + 4) DIV 5") + 1)
        .select(col("doc_id"), col("tok"), col("sz"))
      val cand = ordered.select(
          col("tok"), col("doc_id").as("a"), col("sz").as("sa"))
        .join(ordered.select(
          col("tok"), col("doc_id").as("b"), col("sz").as("sb")),
          Seq("tok"))
        .filter(col("a") < col("b") &&
          greatest(col("sa"), col("sb")) * 4 <=
            least(col("sa"), col("sb")) * 5)
        .select("a", "b", "sa", "sb")
        .distinct()
      // Round-13 drift adjudication (the +25% r11→r12 clean-sweep
      // move with no code change): a dedicated-JVM stage probe
      // measured pin(shingle+distinct) at 3.4-5.6 s as the dominant
      // cost, candidate gen ~1.0 s, and BOTH verification shapes —
      // this explode-join and an array_intersect-over-candidate-pairs
      // variant — at 1.5 s each, with full-query steady state ~4.25 s
      // under either (COVERAGE.md, round 13). The sweep numbers
      // 4.09→5.12 bracket that; the drift is run-to-run scatter on
      // the scan+shuffle, not a plan regression, so the established
      // shape stays.
      val inter = cand
        .join(rows.select(col("doc_id").as("a"), col("tok")), Seq("a"))
        .join(rows.select(col("doc_id").as("b"), col("tok")),
          Seq("b", "tok"))
        .groupBy("a", "b", "sa", "sb")
        .agg(count(lit(1)).as("n_inter"))
      inter
        .withColumn("n_union", col("sa") + col("sb") - col("n_inter"))
        .filter(col("n_inter") * 5 >= col("n_union") * 4)
        .select(col("a"), col("b"), col("n_inter"), col("n_union"),
          (col("n_inter").cast("double") / col("n_union").cast("double"))
            .as("jaccard"))
        .orderBy("a", "b")
    }),

    // ASYMMETRIC containment — the dedup relation symmetric Jaccard
    // misses: a short document wholly quoted inside a long one has
    // low Jaccard (union is large) but containment ≈ 1, and the
    // CONTAINED side is the removal candidate. containment =
    // inter / min(|A|,|B|) over the same memoized candidate pairs
    // (no new scan); direction is pinned (smaller shingle set is
    // contained; equal sizes → larger doc_id contained, matching the
    // keep-first convention). At 100 TB this rides the same bounded
    // posting-list candidate generation — containment adds two size
    // joins, never a new pair source.
    "containment_pairs" -> ((s, d) => {
      val (rows, dfs) = shingleDfs(s, d)
      val sizes = rows
        .join(dfs.filter(col("df") <= DfCap), Seq("sh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("sz"))
      jaccardPairs(s, d)
        .join(sizes.toDF("a", "sza"), "a")
        .join(sizes.toDF("b", "szb"), "b")
        .withColumn("containment",
          col("inter").cast("double") /
            least(col("sza"), col("szb")))
        .filter(col("containment") >= 0.8)
        .withColumn("contained_id",
          when(col("sza") < col("szb"), col("a"))
            .when(col("szb") < col("sza"), col("b"))
            .otherwise(greatest(col("a"), col("b"))))
        .withColumn("container_id",
          when(col("contained_id") === col("a"), col("b"))
            .otherwise(col("a")))
        .select("contained_id", "container_id", "inter",
          "containment")
        .orderBy(col("containment").desc, col("contained_id").asc,
          col("container_id").asc)
        .limit(50)
    }),

    // Per-source reputation scorecard — the crawl-prioritization
    // artifact a web-scale curation loop maintains: volume, exact-dup
    // rate, short-document rate (both exact ppm), mean length, and
    // language spread per source. One scan, one grouped aggregation;
    // at 100 TB the state is one row per source.
    "source_reputation" -> ((s, d) =>
      documents(s, d)
        .withColumn("fp", hash60(normText(col("text"))))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          sum(when(col("n_chars") < 200, 1L).otherwise(0L))
            .as("n_short"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .withColumn("dup_ppm",
          expr("(1000000 * (n_docs - n_unique)) DIV n_docs"))
        .withColumn("short_ppm",
          expr("(1000000 * n_short) DIV n_docs"))
        .withColumn("mean_chars", expr("sum_chars DIV n_docs"))
        .select("source", "n_docs", "dup_ppm", "short_ppm",
          "mean_chars", "n_langs")
        .orderBy("source")),

    // Near-dup CLUSTERS: connected components over the high-similarity
    // pair graph (jaccard ≥ 0.9) — pairs alone under-count dups (a
    // 3-way dup group is 3 pairs but ONE keeper); the cluster id (min
    // doc_id in the component) is what a dedup pass keys its keeper
    // choice on. Min-label propagation to a FIXPOINT: each round every
    // node takes the min label among itself and its neighbors; the
    // driver loop re-plans per round (same shape as MLlib/GraphFrames
    // iterative jobs) and `Checkpoints.pin` truncates the growing
    // lineage (reliable-file tier available via
    // spark.graft.checkpoint.dir). Rounds needed = graph diameter —
    // near-dup components
    // are small and dense, so this converges in a few rounds at any
    // corpus size (a pathological long-chain graph would want the
    // large-star/small-star variant instead; the oracle closes the
    // same graph with a recursive CTE).
    "dedup_clusters" -> ((s, d) =>
      clusterLabels(s, d).orderBy("doc_id")),

    // The SAME clustering executed through the RELIABLE checkpoint
    // tier (Checkpoints.scala): an isolated child session pins every
    // generation via Dataset.checkpoint to files on shared storage —
    // the tier a 100 TB run needs, where a lost executor must not
    // lose the fixpoint. Registering it here puts reliable
    // checkpointing inside the DuckDB gate, not just a spec: the
    // result must be row/hash-identical to the exact closure oracle.
    // The child session is memoized so the label fixpoint (memoized
    // per session) also runs once per gate JVM.
    "dedup_clusters_reliable" -> ((s, d) => {
      val rs = reliableSessionCache.getOrCompute(s, d) {
        val ns = s.newSession()
        // Checkpoint FILES outlive unpin (only blocks are released);
        // they live in the parent's scratch, which Fs.release or the
        // root's exit hook deletes, suffixed by the source dir since
        // the child and its labels are memoized per (s, d).
        ns.conf.set(graft.Checkpoints.ConfKey, graft.Fs.scratch(s,
          s"reliable_ckpt-${new java.io.File(d).getName}"))
        ns
      }
      clusterLabels(rs, d).orderBy("doc_id")
    }),

    // Cluster-level dedup report over the memoized labels: how many
    // near-dup groups exist, how many docs they absorb, and the
    // largest group — the numbers a curation run logs per corpus
    // snapshot. Mean group size in exact ppm (single integer
    // division), so the report hash-pins.
    "cluster_stats" -> ((s, d) =>
      clusterLabels(s, d)
        .groupBy("cluster")
        .agg(count(lit(1)).as("sz"))
        .agg(
          count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_docs_clustered"),
          max(col("sz")).as("max_cluster_size"),
          expr("sum(sz) * 1000000 DIV count(1)").as("mean_size_ppm"))),

    // Two-stage near-dup CASCADE — the industrial shape: a cheap
    // LSH recall stage proposes candidates, the exact-Jaccard stage
    // confirms them, and the report measures each stage's yield
    // (candidates, confirmed at ≥ 0.7, precision in exact ppm). At
    // 100 TB the cascade is what makes exact confirmation affordable:
    // it runs only on the LSH-bounded candidate set, never the
    // corpus. Candidates outside the shingle-candidate table (no
    // shared surviving shingle) count as unconfirmed on both engines.
    "neardup_cascade" -> ((s, d) => {
      val cand = minhashCandidatePairs(minhashSigs(s, d))
      val confirmed = cand
        .join(jaccardPairs(s, d), Seq("a", "b"), "left")
        .select((coalesce(col("jaccard"), lit(0.0)) >= 0.7).as("dup"))
      confirmed.agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_confirmed"),
        expr("sum(CASE WHEN dup THEN 1 ELSE 0 END) * 1000000 " +
          "DIV count(1)").as("precision_ppm"))
    }),

    // The SAME components via alternating large-star/small-star
    // (TwoStarCC): O(log²) rounds in graph size regardless of
    // component diameter — the deployable fallback the min-label
    // convergence cap points at, pinned against the identical
    // transitive-closure oracle. Memoized like the label-propagation
    // family: one fixpoint per (session, dir) however often the
    // registry runs.
    "dedup_clusters_twostar" -> ((s, d) =>
      twoStarCache.getOrCompute(s, d)(
        TwoStarCC.components(neardupEdges(s, d)))
        .select(col("node").as("doc_id"), col("component").as("cluster"))
        .orderBy("doc_id")),

    // Per near-dup cluster, the document a dedup pass KEEPS: the
    // longest text wins (the standard quality heuristic), smallest
    // doc_id breaks ties. One key-equi join of the cluster labels
    // against doc lengths + a per-cluster max — no per-cluster
    // materialization beyond the winner row.
    "cluster_representatives" -> ((s, d) => {
      val labeled = clusterLabels(s, d)
        .join(documents(s, d).select("doc_id", "n_chars"), "doc_id")
      labeled
        .groupBy("cluster")
        .agg(
          count(lit(1)).as("n_members"),
          max(struct(
            col("n_chars"),
            (-col("doc_id")).as("neg_id"))).as("best"))
        .select(
          col("cluster"),
          col("n_members"),
          (-col("best.neg_id")).as("rep_doc_id"),
          col("best.n_chars").as("rep_n_chars"))
        .orderBy("cluster")
    }),

    // One BPE-training iteration: corpus-wide counts of adjacent
    // within-word character pairs (the statistic each BPE merge step
    // maximizes). The pair explode is linear in corpus characters and
    // fused into the scan; counting partial-aggregates map-side and
    // the top-30 is TakeOrderedAndProject — no global sort.
    "bpe_pair_counts" -> ((s, d) =>
      documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .select(explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(30)),

    // BpeRounds BPE training rounds: words become space-separated symbol
    // sequences; each round counts adjacent symbol pairs
    // distributedly, picks the global argmax (ONE row to the driver —
    // bounded, the standard shape for iterative trainers), and merges
    // that pair corpus-wide via space-delimited NON-OVERLAPPING
    // left-to-right string replace — semantics both engines share
    // exactly. Documented divergence from strict pairwise BPE: in a
    // RUN of the same repeated symbol the shared delimiter makes only
    // alternate occurrences merge per pass; the pair statistics and
    // argmax selection are unaffected. Each round's corpus is
    // pinned via `Checkpoints` (one generation at a time, like
    // dedup_clusters) so round k never replays rounds 1..k-1. The
    // oracle unrolls the same rounds; on a degenerate corpus with no
    // pairs both sides emit zero rounds.
    "bpe_train_merges" -> ((s, d) =>
      s.createDataFrame(trainBpeMerges(s, d))
        .toDF("round", "pair", "n")
        .orderBy("round")),

    // BATCHED BPE training (trainBpeMergesBatched): up to BpeBatchK
    // symbol-disjoint merges accepted per driver round, so the
    // pair-count job runs once per ROUND instead of once per merge —
    // the difference between 30k and ~7.5k sequential Spark jobs at a
    // real vocabulary size. The well-known batched-BPE divergence is
    // ORDER, not content: a candidate sharing a symbol with a
    // higher-ranked acceptance defers one round (fixture: "o r"
    // defers behind "e r", swapping merges 4/5), while disjointness
    // keeps every recorded count identical to the sequential
    // trainer's at-acceptance count. The gate therefore pins the
    // order-free invariant — the merged VOCABULARY and its counts,
    // sorted by pair — against the sequential trainer's unrolled
    // oracle; BpeBatchedSpec asserts set-equality with the sequential
    // list and the round-count collapse.
    "bpe_train_batched" -> ((s, d) =>
      s.createDataFrame(trainBpeMergesBatched(s, d)._2)
        .toDF("round", "pair", "n")
        .select("pair", "n")
        .orderBy("pair")),

    // Tokenizer APPLY: the merges learned by `bpe_train_merges`
    // applied corpus-wide with doc attribution — per document, the
    // symbol counts before/after and the exact compression in ppm.
    // Merges rewrite word TYPES, never instances, so the apply is a
    // DICTIONARY pass: distinct raw words fold the trainer's merge
    // expression, re-pinned via Checkpoints every BpeApplyPinEvery
    // merges so any EXECUTED plan holds at most that many replace
    // expressions — depth independent of merge count (a 30k-merge
    // vocabulary is 30k/4 shallow dictionary generations, not a
    // 30k-deep tree; BpeApplyPlanSpec pins this). The corpus then
    // touches the merges through ONE equi-join against the finished
    // dictionary — at 100 TB the corpus streams once and the
    // dictionary (word types) is the only iterated frame. Dictionary
    // and merge table are memoized per (session, dir).
    "bpe_apply" -> ((s, d) =>
      bpeApplyReport(s, d, bpeDictionary(s, d))),

    // The IMPERATIVE fast path through the gate: the dictionary built
    // by one typed mapPartitions pass over distinct word types with
    // the broadcast merge list (applyMergesImperative — the shape a
    // 30k-merge vocabulary ships), then the same instance join and
    // report as bpe_apply. Shares bpe_apply's oracle verbatim: the
    // two paths must be indistinguishable to the gate.
    "bpe_apply_fast" -> ((s, d) => {
      import s.implicits._
      val merges = trainBpeMerges(s, d).map { m =>
        val Array(a, b) = m._2.split(" ")
        (a, b)
      }
      val bc = s.sparkContext.broadcast(merges)
      val sized = documents(s, d)
        .select(explode(tokens(col("text"))).as("raw"))
        .filter(length(col("raw")) >= 2)
        .distinct()
        .as[String]
        .mapPartitions { words =>
          val ms = bc.value
          words.map(w => (w, applyMergesImperative(w, ms).length.toLong))
        }
        .toDF("raw", "n_syms")
      bpeApplyReport(s, d, sized)
    }),

    // WordPiece-style subword vocabulary — the SECOND tokenizer
    // family beside BPE: candidate pieces are every full 2..4-char
    // substring of every token occurrence, counted corpus-wide; the
    // vocabulary is the top-30 by (count desc, piece asc). One
    // explode + one groupBy + TakeOrderedAndProject — the substring
    // transform is fused into the scan, counts shuffle on the piece
    // key only.
    "wordpiece_vocab" -> ((s, d) =>
      wordpieceVocab(s, d)
        .orderBy(col("cnt").desc, col("piece").asc)),

    // Greedy longest-match segmentation with the learned vocabulary —
    // WordPiece/SentencePiece's APPLY step as a pure expression-level
    // state machine: per word type, a single HOF fold over character
    // positions carries (pos, n_pieces) and at each owned position
    // consumes the longest vocab piece (4→3→2, else a 1-char
    // fallback). No UDF, no driver loop — the vocabulary rides as a
    // ONE-ROW broadcast array and membership is array_contains, so
    // the whole segmentation codegen-composes into the scan.
    // Segmentation runs once per word TYPE (the bpe_apply dictionary
    // precedent) and instances join the finished dictionary. The
    // oracle replays the identical clamped-greedy rule as a
    // per-word-type recursive CTE.
    "wordpiece_stats" -> ((s, d) => {
      val varr = wordpieceVocab(s, d)
        .agg(array_sort(collect_list(col("piece"))).as("varr"))
      val words = documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .distinct()
      val segmented = words
        .crossJoin(broadcast(varr))
        .withColumn("np",
          aggregate(
            sequence(lit(1), length(col("w"))),
            struct(lit(1).as("pos"), lit(0).as("n")),
            (st, i) => {
              val pos = st.getField("pos")
              val n = st.getField("n")
              def hit(l: Int) = array_contains(
                col("varr"), col("w").substr(pos, lit(l)))
              val step = when(hit(4), 4)
                .when(hit(3), 3)
                .when(hit(2), 2)
                .otherwise(1)
              when(i < pos, st).otherwise(
                struct((pos + step).as("pos"), (n + 1).as("n")))
            },
            st => st.getField("n")))
        .select(col("w"), col("np"))
      documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .join(segmented, Seq("w"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(col("np").cast("long")).as("n_pieces"))
        .withColumn("ppt_ppm",
          expr("(1000000 * n_pieces) DIV n_tokens"))
        .orderBy("doc_id")
    }),

    // Per-source SIGNATURE TERMS — tf·idf with the log-free rational
    // idf over SOURCE counts ((2N−2df+1)/(2df+1), the bm25_topk
    // convention), top-5 terms per source through the custom
    // GroupedTopK operator (bounded per-key heap, no per-partition
    // sort). The artifact a domain-analysis pass reads to see what
    // each source is "about" — and a second consumer proving the
    // custom physical operator composes into ordinary pipelines. The
    // tf↔df join shuffles on the token key (df is corpus-vocabulary
    // sized, never broadcast); the source-count scalar is a one-row
    // broadcast.
    "top_terms_per_source" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .filter(length(col("tok")) > 0)
      val tf = toks.groupBy("source", "tok")
        .agg(count(lit(1)).as("tf"))
      val dfs = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val tot = tf.select(countDistinct(col("source")).as("ns"))
      val scored = tf
        .join(dfs, Seq("tok"))
        .crossJoin(broadcast(tot))
        .withColumn("score_ppm",
          expr("(1000000 * tf * (2*ns - 2*df + 1)) DIV (2*df + 1)"))
        .select("source", "tok", "score_ppm")
      graft.plans.GroupedTopK
        .topK(scored, Seq("source"),
          Seq(("score_ppm", true), ("tok", false)), 5)
        .orderBy("source", "rnk")
    }),

    // Rare-token ratio: per-doc fraction (ppm, exact integer) of token
    // OCCURRENCES outside the corpus top-20 vocabulary — the
    // out-of-vocabulary quality signal. The vocab is bounded by K →
    // broadcast; docs stream through one join + one aggregation.
    "rare_token_ratio" -> ((s, d) => {
      val tok = documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val vocab = tok.groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
        .select(col("token"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
            .as("n_rare"))
        .withColumn("rare_ppm", expr("n_rare * 1000000 DIV n_tokens"))
        .orderBy("doc_id")
    }),

    // MinHash signatures (8 slots) over distinct word unigrams.
    // pin = false: the report consumes the signature frame exactly
    // once, so the eager materialization is pure overhead here.
    "minhash_signatures" -> ((s, d) =>
      minhashSigs(s, d, pin = false).orderBy("doc_id")),

    // INCREMENTAL near-dup: the NEW batch (doc_id >= 250) screened
    // against the EXISTING corpus (doc_id < 250) — the steady-state
    // ingest shape, extending `incremental_dedup` from exact to
    // near-duplicate. Band-bucket candidates join ONLY new-vs-old
    // (never corpus-vs-corpus: the corpus was already deduped when it
    // was the batch), buckets are count-first capped like the batch
    // near-dup path, and each new doc reports its best corpus match
    // by matching signature slots (≥ 4 of 8 ⇒ est. jaccard ≥ 0.5),
    // smallest corpus doc id breaking ties.
    "incremental_neardup" -> ((s, d) => {
      val sig = minhashSigs(s, d)
      val parted = bandKeys(sig).repartition(col("band"), col("key"))
      val okBuckets = parted
        .groupBy("band", "key")
        .agg(count(lit(1)).as("n"))
        .filter(col("n").between(2, BucketCap))
        .select("band", "key")
      val small = parted.join(okBuckets, Seq("band", "key"), "left_semi")
      val cand = small
        .filter(col("doc_id") >= 250)
        .select(col("band"), col("key"), col("doc_id").as("a"))
        .join(
          small
            .filter(col("doc_id") < 250)
            .select(col("band"), col("key"), col("doc_id").as("b")),
          Seq("band", "key"))
        .select("a", "b")
        .distinct()
      val sa = sig.toDF("a" +: (0 until 8).map(i => s"a$i"): _*)
      val sb = sig.toDF("b" +: (0 until 8).map(i => s"b$i"): _*)
      val matches = (0 until 8)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      cand
        .join(sa, "a")
        .join(sb, "b")
        .select(col("a"), col("b"), matches.cast("int").as("n_match"))
        .filter(col("n_match") >= 4)
        .groupBy("a")
        .agg(max(struct(col("n_match"), (-col("b")).as("neg"))).as("best"))
        .select(
          col("a").as("doc_id"),
          (-col("best.neg")).as("dup_of"),
          col("best.n_match").as("n_match"))
        .orderBy("doc_id")
    }),

    // STREAMING near-dup: the incremental screen as a stateful
    // stream — corpus band buckets live as BOUNDED transformWithState
    // state (ListState capped at BucketCap + overflow counter), and
    // each arriving new doc probes exactly its own band buckets.
    // Bucket viability is decided over CORPUS members only (a stream
    // cannot know future arrivals; see StreamNearDup's contract
    // note) and the oracle pins exactly those semantics;
    // StreamNearDupSpec additionally pins the stateful pipeline
    // against an independent batch implementation of the same
    // contract.
    "stream_neardup" -> ((s, d) =>
      graft.streaming.StreamNearDup.run(s, d, BucketCap)),

    // STREAMING heavy hitters: the Misra-Gries summary lives as
    // transformWithState state sharded over 8 token-hash ranges while
    // the corpus replays as four micro-batches; the batch tail then
    // recounts the bounded candidate set EXACTLY and applies the same
    // freq·64 > n cut as `heavy_hitters` — identical output (and the
    // identical oracle) under any arrival order, because the MG
    // guarantee makes every above-threshold token survive the stream
    // no matter how merges interleave. See StreamHeavyHitters.
    "stream_heavy_hitters" -> ((s, d) => {
      val cands = graft.streaming.StreamHeavyHitters.candidates(s, d)
      val toks = documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
      val tot = toks.agg(count(lit(1)).as("n"))
      toks
        .join(broadcast(cands), "tok")
        .crossJoin(broadcast(tot))
        .groupBy("tok", "n")
        .agg(count(lit(1)).as("freq"))
        .filter(col("freq") * 64 > col("n"))
        .select(
          col("tok"),
          col("freq"),
          (col("freq").cast("double") / col("n").cast("double"))
            .as("frac_of_corpus"))
        .orderBy(col("freq").desc, col("tok").asc)
    }),

    // "No silent caps" for the STREAMING screen (the
    // neardup_cap_report principle applied to stream_neardup's
    // corpus-only viability rule): per band, how many buckets hold
    // corpus members, how many are poisoned (corpus count > cap ⇒
    // probed by nobody), and how many corpus postings sit in poisoned
    // buckets — the recall the bounded-state guard trades away,
    // observable instead of silent. Exact integers over the same
    // band-key derivation the stream uses.
    "stream_neardup_report" -> ((s, d) => {
      val counts = graft.streaming.StreamNearDup
        .corpusBandCounts(s, d)
      counts
        .groupBy("band")
        .agg(
          count(lit(1)).as("n_buckets"),
          sum(when(col("n") > BucketCap, 1L).otherwise(0L))
            .as("n_poisoned"),
          sum(when(col("n") > BucketCap, col("n")).otherwise(0L))
            .as("n_postings_dropped"))
        .orderBy("band")
    }),

    // MinHash near-dup estimation: candidates share a 2-slot band,
    // similarity estimated as matching-slot fraction; top-20 pairs.
    "minhash_band_pairs" -> ((s, d) => {
      // The signature subplan is referenced three times (band keys +
      // both sides of the candidate join). No cache(): the doc_id
      // shuffle under the signature aggregation is identical in all
      // three branches so AQE's runtime stage cache computes it once
      // (ReusedExchange in the final adaptive plan), and no cached
      // copies accumulate across bench invocations.
      val sig = minhashSigs(s, d)
      val cand = minhashCandidatePairs(sig)
      // One row per document: never broadcast (OOM at 100 TB). Plain
      // shuffle joins on a/b — the candidate side is already bounded
      // by the banding + bucket cap, so both joins stay proportional
      // to the candidate count.
      val sa = sig.toDF("a" +: (0 until 8).map(i => s"a$i"): _*)
      val sb = sig.toDF("b" +: (0 until 8).map(i => s"b$i"): _*)
      val matches = (0 until 8)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      cand
        .join(sa, "a")
        .join(sb, "b")
        .withColumn("n_match", matches)
        .withColumn("est_jaccard", col("n_match").cast("double") / 8)
        .select("a", "b", "n_match", "est_jaccard")
        .orderBy(col("n_match").desc, col("a").asc, col("b").asc)
        .limit(20)
    }),

    // MINHASH CANDIDATE-GENERATOR EVAL — the dedup family's
    // `ann_report`: on a 200-doc sample, score the PRODUCTION banded
    // candidate pairs (whole-corpus buckets, caps and all, restricted
    // to sample pairs — so cap-drops count against recall, as they
    // would in production) against exact token-set Jaccard ≥ 4/5
    // ground truth. The truth side is a posting join WITHIN the
    // bounded sample (token-hash rows, so both engines see identical
    // collision behavior); the threshold test cross-multiplies
    // (5·inter ≥ 4·union) — no float Jaccard anywhere. One row:
    // exact counts + precision/recall in integer ppm, ppm guarded
    // against empty denominators.
    "minhash_eval" -> ((s, d) => {
      val sample = 200
      val th = documents(s, d).filter(col("doc_id") < sample)
        .select(col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("tok"))
        .select(col("doc_id"), hash60(col("tok")).as("h"))
      val sizes = th.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val inter = th.select(col("doc_id").as("a"), col("h"))
        .join(th.select(col("doc_id").as("b"), col("h")), Seq("h"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      val truth = inter
        .join(sizes.toDF("a", "sza"), "a")
        .join(sizes.toDF("b", "szb"), "b")
        .filter(col("inter") * 5 >=
          (col("sza") + col("szb") - col("inter")) * 4)
        .select("a", "b")
      val cand = minhashCandidatePairs(minhashSigs(s, d))
        .filter(col("a") < sample && col("b") < sample)
      val tp = cand.join(truth, Seq("a", "b"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(tp.agg(count(lit(1)).as("n_tp")))
        .withColumn("precision_ppm",
          when(col("n_cand") > 0, expr("1000000 * n_tp DIV n_cand")))
        .withColumn("recall_ppm",
          when(col("n_truth") > 0, expr("1000000 * n_tp DIV n_truth")))
    }),

    // "No silent caps": the near-dup generators bound candidate
    // growth with three df/bucket caps (shingle DfCap, MinHash band
    // BucketCap, inverted-index InvIdxDfCap) — each trades recall
    // among HOT keys for tractability, and at 100 TB that trade is
    // the knob an operator tunes. This report makes every cap's
    // effect observable: per stage, how many keys the cap drops and
    // how many postings (doc attachments) go with them. All exact
    // integer counts over the same first-stage frames the operators
    // themselves read.
    "neardup_cap_report" -> ((s, d) => {
      def report(df: DataFrame, stage: String, cap: Int) =
        df.agg(
          count(lit(1)).as("n_keys_total"),
          sum(when(col("n") > cap, 1L).otherwise(0L))
            .as("n_keys_dropped"),
          sum(when(col("n") > cap, col("n")).otherwise(0L))
            .as("n_postings_dropped"))
          .select(
            lit(stage).as("stage"),
            lit(cap).as("cap_limit"),
            col("n_keys_total"),
            col("n_keys_dropped"),
            col("n_postings_dropped"))
      val shingleDf = shingleRows(s, d)
        .groupBy("sh").agg(count(lit(1)).as("n"))
      val bucketDf = bandKeys(minhashSigs(s, d))
        .groupBy("band", "key").agg(count(lit(1)).as("n"))
      val tokenDf = documents(s, d)
        .select(
          col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
      report(shingleDf, "shingle_df", DfCap)
        .unionByName(report(bucketDf, "minhash_bucket", BucketCap))
        .unionByName(report(tokenDf, "invidx_df", InvIdxDfCap))
        .orderBy("stage")
    }),

    // The same signatures through the typed Aggregator surface
    // (KeyValueGroupedDataset + Aggregator with associative sketch
    // merge) — must equal the expression-level aggregation, which the
    // shared oracle semantics pin.
    "minhash_agg_typed" -> ((s, d) => {
      import s.implicits._
      val tok = documents(s, d)
        .select(
          col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("tok"))
        .select(col("doc_id"), hash60(col("tok")).as("h"))
        .as[(Long, Long)]
      tok
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(graft.functions.MinHashAggregator.toColumn.name("sig"))
        .toDF("doc_id", "sig")
        .select(
          col("doc_id"),
          array_join(transform(col("sig"), _.cast("string")), "_")
            .as("signature"))
        .orderBy("doc_id")
    }),

    // 16-bit SimHash over distinct token hashes (majority vote per bit;
    // ties → 0).
    "simhash16" -> ((s, d) => {
      val tok = documents(s, d)
        .select(
          col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("tok"))
        .withColumn("h", hash60(col("tok")))
      val bitSums = (0 until 16).map(b =>
        sum(
          when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
            .otherwise(-1)).as(s"s$b"))
      val assembled = (0 until 16)
        .map(b => when(col(s"s$b") > 0, lit(1 << b)).otherwise(lit(0)))
        .reduce(_ + _)
      tok
        .groupBy("doc_id")
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), assembled.as("simhash"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup pairs: banded Hamming LSH over a 32-bit
    // signature — 4 bands of 8 bits. Any pair within Hamming distance
    // 3 agrees on at least one whole band (pigeonhole: 3 flipped bits
    // cannot touch all 4 bands), so band-bucket candidate generation
    // is RECALL-COMPLETE for the ≤3 output filter — except in buckets
    // dropped by the size cap, the same bounded-join trade-off as the
    // MinHash path (the oracle mirrors the cap). 32 signature bits
    // (not the 16 of the `simhash16` report) so band buckets stay
    // under the cap as the corpus grows — at 100 TB the signature
    // widens to 64/128 bits and band count rises with it, which is
    // the standard SimHash scaling knob. Aggregation state is bounded
    // the same way as the MinHash path: count() first, semi-join
    // survivors, then the pair self-join runs only inside ≤BucketCap
    // buckets.
    "simhash_neardup" -> ((s, d) =>
      simhashPairs(s, d).orderBy("a", "b")),

    // MULTI-SIGNAL dedup policy — the decision rule real curation
    // pipelines actually run: a pair is a duplicate if ANY signal
    // fires (exact fingerprint, shingle Jaccard ≥ 0.9, SimHash
    // Hamming ≤ 3), and the removal set is the connected components
    // of the UNION graph. One summary row: per-signal edge counts
    // (which signal carries the catch), combined component stats,
    // and the row count the policy would remove. Components run
    // through the diameter-independent two-star labeling; exact
    // groups contribute STAR edges (rep→member), never quadratic
    // within-group pairs. The oracle closes the identical union
    // graph with a recursive CTE.
    "dedup_policy" -> ((s, d) => {
      val fp = documents(s, d).select(col("doc_id"),
        hash60(normText(col("text"))).as("fp"))
      val reps = fp.groupBy("fp")
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
      // Pinned per-signal edge frames: the clustering AND the edge
      // counts both consume them, and the simhash band join is too
      // expensive to recompute per action (jaccardPairs is already
      // memoized; exact/simhash get the same treatment here). The
      // three materializations are independent — overlapped
      // (guide §2.6 via graft.Par) instead of paying each build's
      // straggler tail before the next starts.
      val Seq(exactE, jacE, shE) = graft.Par.inParallel[DataFrame](Seq(
        () => Checkpoints.pin(fp.join(reps, Seq("fp"))
          .filter(col("doc_id") =!= col("rep"))
          .select(col("rep").as("src"), col("doc_id").as("dst"))),
        () => jaccardPairs(s, d)
          .filter(col("jaccard") >= 0.9)
          .select(col("a").as("src"), col("b").as("dst")),
        () => Checkpoints.pin(simhashPairs(s, d)
          .select(col("a").as("src"), col("b").as("dst")))))
      val comp = TwoStarCC.components(
        exactE.unionByName(jacE).unionByName(shE))
      val cstats = comp.groupBy("component")
        .agg(count(lit(1)).as("sz"))
        .agg(
          count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_nodes"),
          (sum(col("sz")) - count(lit(1))).as("n_removed"),
          max(col("sz")).as("largest_cluster"))
      exactE.agg(count(lit(1)).as("n_exact_edges"))
        .crossJoin(jacE.agg(count(lit(1)).as("n_jaccard_edges")))
        .crossJoin(shE.agg(count(lit(1)).as("n_simhash_edges")))
        .crossJoin(cstats)
    }),

    // MinHash Jaccard ESTIMATOR quality: for every exact near-dup
    // candidate pair, the 8-slot signature-agreement fraction next to
    // the true word-3-gram Jaccard and the absolute estimation error.
    // Both columns are exact deterministic computations (the estimate
    // is a hash function of the inputs, not a sample), so the whole
    // report hash-pins cross-engine — the operator a pipeline uses to
    // CALIBRATE its banding thresholds before a 100 TB run.
    "minhash_jaccard_est" -> ((s, d) => {
      val exact = jaccardPairs(s, d)
      val sig = minhashSigs(s, d)
      val sa = sig.toDF("a" +: (0 until 8).map(i => s"a$i"): _*)
      val sb = sig.toDF("b" +: (0 until 8).map(i => s"b$i"): _*)
      val matches = (0 until 8)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      exact
        .join(sa, "a")
        .join(sb, "b")
        .withColumn("n_match", matches)
        .withColumn("est_jaccard", col("n_match").cast("double") / 8)
        .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
        .select("a", "b", "jaccard", "est_jaccard", "abs_err")
        .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
        .limit(20)
    }),

    // Character-distribution diversity per document — the quality
    // signal that catches mojibake, binary-in-text and keyboard-mash
    // documents. Reports collision probability Σc²/n² (the chance two
    // random character draws agree) and its reciprocal, the effective
    // alphabet size. Deliberately NOT Shannon entropy: every statistic
    // here reduces to exact BIGINT sufficient statistics (n, Σc²,
    // max c) followed by single IEEE divisions, so the report
    // hash-pins cross-engine — whereas ln() differs between the JVM
    // and DuckDB's libm (measured: 11 of the first 500k integer
    // inputs differ in the last bit), which would break the bit-exact
    // gate. Two-level aggregation: (doc, char) counts shuffle once,
    // per-doc state is O(alphabet).
    "char_diversity" -> ((s, d) => {
      val counts = documents(s, d)
        .filter(length(col("text")) > 0)
        .select(
          col("doc_id"),
          explode(split(col("text"), "")).as("ch"))
        .groupBy("doc_id", "ch")
        .agg(count(lit(1)).as("c"))
      val n = sum(col("c")).cast("long")
      val sumsq = sum(col("c") * col("c")).cast("long")
      counts
        .groupBy("doc_id")
        .agg(
          n.as("n_chars_tot"),
          count(lit(1)).cast("long").as("n_distinct_chars"),
          (max(col("c")).cast("double") / n.cast("double"))
            .as("max_char_frac"),
          (sumsq.cast("double") /
            (n.cast("double") * n.cast("double"))).as("coll_prob"),
          ((n.cast("double") * n.cast("double")) /
            sumsq.cast("double")).as("eff_alphabet"))
        .orderBy("doc_id")
    }),

    // EXACT global quantile via the histogram two-pass — the
    // length-based quality cut (keep the longest 10%) without
    // approx_percentile's estimator noise and without sorting the
    // corpus: aggregate a (length → count) histogram (one shuffle,
    // O(1) state per length), cumulative-sum it, take the
    // nearest-rank p90 threshold. The cumsum window is unpartitioned
    // BY DESIGN and still scale-safe: its input is the VALUE DOMAIN
    // (distinct lengths — bounded by max document length, independent
    // of corpus row count), never the corpus rows. Threshold joins
    // back as a 1-row broadcast.
    "length_p90_filter" -> ((s, d) => {
      val hist = documents(s, d)
        .groupBy("n_chars")
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("n_chars")
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val cum = hist.withColumn("cumc", sum(col("c")).over(w))
      val tot = hist.agg(sum(col("c")).as("n_total"))
      val thr = cum
        .crossJoin(broadcast(tot))
        .filter(col("cumc") >= ceil(lit(0.9) * col("n_total")))
        .agg(
          min(col("n_chars")).as("p90_threshold"),
          min(col("n_total")).as("n_docs_total"))
      documents(s, d)
        .crossJoin(broadcast(thr))
        .filter(col("n_chars") >= col("p90_threshold"))
        .groupBy("p90_threshold", "n_docs_total")
        .agg(count(lit(1)).as("n_docs_kept"))
        .select(
          col("p90_threshold"),
          col("n_docs_total"),
          col("n_docs_kept"),
          (col("n_docs_kept").cast("double") /
            col("n_docs_total").cast("double")).as("frac_kept"))
    }),

    // Heavy hitters via a MERGEABLE Misra-Gries summary (the typed
    // Aggregator surface, capacity 256): each partition reduces its
    // token stream to ≤256 counters, summaries merge associatively, so
    // only O(K) state crosses the wire — the sketch a 100 TB vocabulary
    // scan uses where exact per-token counting would shuffle billions
    // of keys. The MG summary's own counts are merge-order dependent,
    // so it serves ONLY as a candidate set (guaranteed ⊇ every token
    // with freq > n/257); exact counts join back over the ≤256-token
    // broadcast and the output keeps tokens with freq·64 > n — far
    // above the error floor, hence deterministic. (This fixture's
    // vocabulary fits the summary outright; the guarantee is what
    // matters at real vocabulary sizes.) Two corpus scans total: the
    // corpus token count rides the SAME typed aggregation as the MG
    // summary, and the second scan only counts the ≤K candidates.
    "heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val toks = documents(s, d)
        .select(explode(tokens(col("text"))).as("tok"))
      val mgAndTotal = toks
        .as[String]
        .groupByKey(_ => 0)
        .agg(
          new graft.functions.MisraGriesAggregator(256)
            .toColumn.name("cands"),
          count(lit(1)).as[Long].name("n"))
        .toDF("g", "cands", "n")
      val cands = mgAndTotal
        .select(
          explode(map_keys(col("cands"))).as("tok"),
          col("n"))
      toks
        .join(broadcast(cands), "tok")
        .groupBy("tok", "n")
        .agg(count(lit(1)).as("freq"))
        .filter(col("freq") * 64 > col("n"))
        .select(
          col("tok"),
          col("freq"),
          (col("freq").cast("double") / col("n").cast("double"))
            .as("frac_of_corpus"))
        .orderBy(col("freq").desc, col("tok").asc)
    }),

    // Count-min sketch — the THIRD sketch family (Misra-Gries bounds
    // heavy hitters, HLL bounds distinct counts; CMS bounds POINT
    // FREQUENCY queries). d=3 hash rows × w=16 buckets, deliberately
    // narrow so the fixture vocabulary actually collides and the
    // one-sided error (est >= exact, overcount = sum of colliding
    // tokens' counts) is observable in the pinned output rather than
    // degenerating to the exact counts. Each occurrence increments one
    // cell per row — expressed as explode(d) + groupBy(row, bucket),
    // the same mergeable-by-addition state a streaming CMS keeps per
    // partition; estimates are min over rows. The hash is the engine's
    // deterministic hash60, so the ORACLE REBUILDS THE IDENTICAL
    // SKETCH, collisions included — the approximation itself is
    // hash-pinned, not just bounded.
    "cms_estimate" -> ((s, d) => {
      val w = 16
      // NOT pinned/spread (r19 A/B): pin+spread of this frame won
      // ~0.5 s wall consistently (2.03 → 1.31-1.56 s) but at 10× the
      // process CPU (2.0 → 21.6 s — exchange + eager materialization
      // churn). A tenfold CPU bill for a sub-second wall win is the
      // opposite of 100 TB readiness; reverted like the other
      // concurrent-duplicate pins (see OPTIMIZATION_r19.md).
      val toks = documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
      val exact = toks.groupBy("token")
        .agg(count(lit(1)).as("exact_n"))
      def bucketed(df: DataFrame): DataFrame = df
        .select(col("token"),
          explode(sequence(lit(0), lit(2))).as("r"))
        .withColumn("bucket",
          pmod(hash60(concat_ws(":", col("r"), col("token"))), lit(w)))
      val cms = bucketed(toks)
        .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
      bucketed(exact.select(col("token")))
        .join(cms, Seq("r", "bucket"))
        .groupBy("token").agg(min(col("cnt")).as("est_n"))
        .join(exact, Seq("token"))
        .select(col("token"), col("exact_n"), col("est_n"),
          (col("est_n") - col("exact_n")).as("overcount"))
        .orderBy(col("exact_n").desc, col("token").asc)
        .limit(20)
    })
  )

  // ------------------------------------------------------------------ //

  /** Disjoint-class subword pattern — identical under Java regex and
    * RE2 (no alternation-order ambiguity, greedy-only quantifiers).
    * Passed as a Column literal on the Spark side and a plain DuckDB
    * string on the oracle side, so no SQL-escape divergence.
    */
  private val BpePattern = "[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"

  private val toksSql = "regexp_split_to_array(trim(text), '\\s+')"

  /** DuckDB twin of [[simhashPairs]] as a CTE chain ending in
    * `shpairs(a, b, hamming)` — shared by the `simhash_neardup`
    * oracle and the `dedup_policy` union graph. Includes
    * `tokHashCte`.
    */
  private def simhashPairCtes: String = {
    val sums = (0 until 32)
      .map(b =>
        s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n         ")
    val assemble = (0 until 32)
      .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""$tokHashCte,
       |bits AS (
       |  SELECT doc_id,
       |         $sums
       |  FROM tok GROUP BY doc_id),
       |sim AS (
       |  SELECT doc_id, CAST($assemble AS BIGINT) AS simhash
       |  FROM bits),
       |bands AS (
       |  SELECT doc_id, simhash, band,
       |         (simhash >> (band * 8)) & 255 AS key
       |  FROM sim CROSS JOIN (VALUES (0), (1), (2), (3)) bj(band)),
       |ok AS (
       |  SELECT band, key FROM bands GROUP BY band, key
       |  HAVING count(*) BETWEEN 2 AND $BucketCap),
       |surv AS (
       |  SELECT b.doc_id, b.simhash, b.band, b.key
       |  FROM bands b JOIN ok USING (band, key)),
       |shpairs AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |         CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER)
       |           AS hamming
       |  FROM surv x JOIN surv y
       |    ON x.band = y.band AND x.key = y.key
       |   AND x.doc_id < y.doc_id
       |  WHERE bit_count(xor(x.simhash, y.simhash)) <= 3)""".stripMargin
  }

  /** DuckDB twin of [[wordpieceVocab]]: token occurrences → all full
    * 2..4-char substrings → top-30 pieces. Ends in `wpvocab(piece,
    * cnt)` with `wptoks(w)` also in scope.
    */
  private def wordpieceVocabCtes: String =
    s"""wptoks AS MATERIALIZED (
       |  SELECT t AS w
       |  FROM (SELECT unnest($toksSql) AS t FROM documents) u
       |  WHERE length(t) > 0
       |), wpvocab AS MATERIALIZED (
       |  SELECT piece, count(*) AS cnt FROM (
       |    SELECT substr(w, pp.p, ll.l) AS piece
       |    FROM wptoks,
       |         LATERAL unnest([2, 3, 4]) AS ll(l),
       |         LATERAL unnest(generate_series(1, length(w) - ll.l + 1))
       |           AS pp(p)
       |  ) z
       |  GROUP BY piece
       |  ORDER BY cnt DESC, piece ASC
       |  LIMIT 30
       |)""".stripMargin
  private val normSql =
    "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

  /** Shared CTE: per-doc stopword-vote scores + prediction — the
    * `lang_id`/`langid_confusion` twin of [[withPredLang]].
    */
  private val langScoredCte =
    s"""hits AS (
       |  SELECT lang,
       |    len(list_filter(regexp_split_to_array(trim(lower(text)),
       |      '\\s+'), t -> t IN ('the','a','of','and'))) AS en_hits,
       |    len(list_filter(regexp_split_to_array(trim(lower(text)),
       |      '\\s+'), t -> t IN ('der','die','das','und'))) AS de_hits,
       |    len(list_filter(regexp_split_to_array(trim(lower(text)),
       |      '\\s+'), t -> t IN ('le','la','et','les'))) AS fr_hits,
       |    len(list_filter(regexp_split_to_array(trim(lower(text)),
       |      '\\s+'), t -> t IN ('el','los','y','una'))) AS es_hits
       |  FROM documents
       |), scored AS (
       |  SELECT lang, CASE
       |    WHEN en_hits >= greatest(de_hits, fr_hits, es_hits)
       |         AND en_hits > 0 THEN 'en'
       |    WHEN de_hits >= greatest(fr_hits, es_hits)
       |         AND de_hits > 0 THEN 'de'
       |    WHEN fr_hits >= es_hits AND fr_hits > 0 THEN 'fr'
       |    WHEN es_hits > 0 THEN 'es'
       |    ELSE 'unknown' END AS pred_lang
       |  FROM hits)""".stripMargin

  /** Shared CTE: distinct (doc_id, token-hash) pairs. */
  private val tokHashCte =
    s"""tok AS (
       |  SELECT doc_id, ${hash60Sql("t")} AS h FROM (
       |    SELECT doc_id, unnest(list_distinct($toksSql)) AS t
       |    FROM documents) z
       |)""".stripMargin

  private val sigSelect = {
    val slots = (0 until 8)
      .map(i => s"min(${minhashSlotSql("h", i)}) AS h$i")
      .mkString(", ")
    s"SELECT doc_id, $slots FROM tok GROUP BY doc_id"
  }

  /** DuckDB twin of the BPE trainer's rounds as a TYPE-weighted
    * dictionary chain d0..dBpeRounds (raw word, spaced form, corpus
    * count) with per-round pair stats p/t — shared by the train and
    * apply oracles. Type-weighted Σ cnt·pairs(type) equals the
    * instance-level count by construction, and keeps the unrolled
    * 8-round SQL dictionary-sized (the instance-level form was a
    * multi-minute oracle at sf0.01). Every CTE is MATERIALIZED:
    * DuckDB otherwise inlines each reference, and with three
    * references per round (p_k, plus t_k twice in d_k) the unrolled
    * chain re-evaluates d0 exponentially — ~3^rounds scans at 8
    * rounds, another multi-minute oracle. The coalesce makes rounds
    * past an early training stop no-ops: replace(w, '  ', …) can
    * never match a single-spaced word.
    */
  private val bpeDictRoundsCte: String = {
    val d0 =
      s"""d0 AS MATERIALIZED (
         |  SELECT w AS raw,
         |         trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS w,
         |         cnt
         |  FROM (SELECT w, count(*) AS cnt
         |        FROM (SELECT unnest($toksSql) AS w FROM documents) u
         |        WHERE length(w) >= 2 GROUP BY w) v
         |)""".stripMargin
    val rounds = (1 to BpeRounds).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT s[i] || ' ' || s[i+1] AS pair, sum(cnt) AS n
         |  FROM (SELECT string_split(w, ' ') AS s, cnt
         |        FROM d${k - 1}) q,
         |       LATERAL unnest(generate_series(1, len(s) - 1)) AS t(i)
         |  GROUP BY pair
         |), t$k AS MATERIALIZED (
         |  SELECT pair, CAST(n AS BIGINT) AS n FROM p$k
         |  ORDER BY n DESC, pair LIMIT 1
         |), d$k AS MATERIALIZED (
         |  SELECT raw, trim(replace(' ' || w || ' ',
         |    ' ' || coalesce((SELECT pair FROM t$k), '') || ' ',
         |    ' ' || replace(coalesce((SELECT pair FROM t$k), ''),
         |      ' ', '') || ' '))
         |    AS w, cnt
         |  FROM d${k - 1}
         |)""".stripMargin
    }
    (d0 +: rounds).mkString(",\n")
  }

  /** The 4-band (2-slot) LSH band keys over `sigs` — ONE builder for
    * every oracle that reconstructs the banding (band pairs, typed
    * aggregator twin, incremental near-dup, cap report, cascade), so
    * the band count/key format cannot drift between them.
    */
  private val bandSelectsSql: String = (0 until 4)
    .map(j =>
      s"SELECT doc_id, $j AS band, " +
        s"concat_ws('_', h${2 * j}, h${2 * j + 1}) AS key FROM sigs")
    .mkString("\n  UNION ALL\n  ")

  /** DuckDB twin of [[jaccardPairs]] as a CTE chain ending in `pairs`
    * (a, b, inter BIGINT, jaccard) — shared by the `ngram_jaccard`
    * report oracle and the `dedup_clusters` closure oracle.
    */
  private val jaccardPairsSqlCte: String =
    s"""rows_ AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id, unnest(${wordShinglesSql(toksSql, 3)}) AS sh
       |    FROM documents) u
       |), capped AS (
       |  SELECT doc_id, sh FROM rows_
       |  WHERE sh IN (SELECT sh FROM rows_ GROUP BY sh
       |               HAVING count(*) <= $DfCap)
       |), sizes AS (
       |  SELECT doc_id, count(*) AS sz FROM capped GROUP BY doc_id
       |), inter AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       |  FROM capped x JOIN capped y ON x.sh = y.sh
       |  WHERE x.doc_id < y.doc_id
       |  GROUP BY x.doc_id, y.doc_id
       |), pairs AS (
       |  SELECT a, b, CAST(inter AS BIGINT) AS inter,
       |         CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)
       |           AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = a
       |  JOIN sizes sb ON sb.doc_id = b
       |)""".stripMargin

  /** The jaccard ≥ 0.9 transitive-closure CTE block ending in
    * `clusters(doc_id, cluster)` — ONE definition of the clustering
    * for every oracle that consumes it (dedup_clusters + twin,
    * cluster_stats, cluster_representatives, split_leakage,
    * curation_pipeline). Must be interpolated after a WITH RECURSIVE
    * that established `pairs` (jaccardPairsSqlCte).
    */
  private val clusterClosureCtes: String =
    """hi AS (SELECT a, b FROM pairs WHERE jaccard >= 0.9),
      |edges AS (SELECT a AS src, b AS dst FROM hi
      |          UNION SELECT b, a FROM hi),
      |nodes AS (SELECT DISTINCT src AS doc FROM edges),
      |reach(doc, lab) AS (
      |  SELECT doc, doc FROM nodes
      |  UNION
      |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.doc
      |),
      |clusters AS (
      |  SELECT doc AS doc_id, CAST(min(lab) AS BIGINT) AS cluster
      |  FROM reach GROUP BY doc
      |)""".stripMargin

  /** Connected components of the jaccard ≥ 0.9 graph as a recursive
    * transitive closure — the shared oracle of `dedup_clusters` and
    * its reliable-tier twin.
    */
  private val clusterClosureSql: String =
    s"""WITH RECURSIVE $jaccardPairsSqlCte,
       |$clusterClosureCtes
       |SELECT doc_id, cluster FROM clusters
       |ORDER BY doc_id""".stripMargin

  private lazy val heavyHittersOracle: String =
    s"""WITH toks AS (
       |  SELECT unnest($toksSql) AS tok FROM documents
       |), tot AS (
       |  SELECT count(*) AS n FROM toks
       |)
       |SELECT tok, count(*) AS freq,
       |       CAST(count(*) AS DOUBLE) / CAST(min(n) AS DOUBLE)
       |         AS frac_of_corpus
       |FROM toks, tot
       |GROUP BY tok, n HAVING count(*) * 64 > n
       |ORDER BY freq DESC, tok ASC""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "text_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       CAST(sum(len($toksSql)) AS BIGINT) AS sum_tokens,
         |       CAST(max(len($toksSql)) AS BIGINT) AS max_tokens,
         |       CAST(sum(len($toksSql)) AS DOUBLE) / count(*)
         |         AS avg_tokens
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |       CAST(length(text) AS INTEGER) AS len,
         |       CAST(len($toksSql) AS INTEGER) AS n_tokens,
         |       CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
         |         AS INTEGER) AS n_alpha,
         |       CAST(len(list_filter($toksSql,
         |         t -> t IN ($StopSqlList))) AS INTEGER) AS n_stop,
         |       CAST(len(list_filter($toksSql,
         |         t -> t IN ($StopSqlList))) AS DOUBLE)
         |         / len($toksSql) AS stop_ratio,
         |       CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
         |         AS DOUBLE) / length(text) AS alpha_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      s"""WITH $langScoredCte
         |SELECT pred_lang, count(*) AS n_docs
         |FROM scored GROUP BY pred_lang ORDER BY pred_lang""".stripMargin,
    "langid_confusion" ->
      s"""WITH $langScoredCte,
         |cells AS (
         |  SELECT lang, pred_lang, count(*) AS n
         |  FROM scored GROUP BY 1, 2
         |)
         |SELECT lang, pred_lang, n,
         |       CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
         |         AS n_gold,
         |       CAST(1000000 * n
         |         // sum(n) OVER (PARTITION BY lang) AS BIGINT)
         |         AS share_ppm
         |FROM cells ORDER BY lang, pred_lang""".stripMargin,
    "token_topk" ->
      s"""SELECT token, count(*) AS n FROM (
         |  SELECT unnest($toksSql) AS token FROM documents) t
         |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,
    "preference_pairs" ->
      s"""WITH scored AS (
         |  SELECT doc_id, source,
         |         CAST((1000 * CAST(len(list_filter($toksSql,
         |             t -> t IN ($StopSqlList))) AS BIGINT))
         |           // len($toksSql) AS BIGINT) AS score_milli
         |  FROM documents
         |), ch AS (
         |  SELECT source, doc_id AS chosen_id,
         |         score_milli AS chosen_score,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY score_milli DESC, doc_id) AS rn
         |  FROM scored
         |), rj AS (
         |  SELECT source, doc_id AS rejected_id,
         |         score_milli AS rejected_score,
         |         row_number() OVER (PARTITION BY source
         |           ORDER BY score_milli ASC, doc_id) AS rn
         |  FROM scored
         |)
         |SELECT c.source, c.chosen_id, r.rejected_id,
         |       CAST(c.chosen_score - r.rejected_score AS BIGINT)
         |         AS gap_milli
         |FROM ch c JOIN rj r ON c.source = r.source
         |WHERE c.rn <= 3 AND r.rn <= 3
         |  AND c.chosen_score - r.rejected_score >= 100
         |ORDER BY c.source, c.chosen_id, r.rejected_id""".stripMargin,
    "ngram_coverage" ->
      s"""WITH counts AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT unnest($toksSql) AS token FROM documents) t
         |  GROUP BY token
         |), cum AS (
         |  SELECT CAST(row_number() OVER
         |           (ORDER BY n DESC, token ASC) AS BIGINT) AS rank,
         |         CAST(sum(n) OVER (ORDER BY n DESC, token ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_n
         |  FROM counts
         |), tot AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS total_n,
         |         CAST(count(*) AS BIGINT) AS vocab_n
         |  FROM counts
         |), ks AS (
         |  SELECT k, least(k, vocab_n) AS rank, total_n
         |  FROM tot, LATERAL unnest([CAST(100 AS BIGINT),
         |    CAST(1000 AS BIGINT), CAST(5000 AS BIGINT),
         |    CAST(20000 AS BIGINT)]) AS u(k)
         |)
         |SELECT ks.k, ks.rank AS vocab_used,
         |       CAST(1000000 * c.cum_n // ks.total_n AS BIGINT)
         |         AS covered_ppm
         |FROM ks JOIN cum c ON c.rank = ks.rank
         |ORDER BY ks.k""".stripMargin,
    "token_drift" ->
      s"""WITH hf AS (
         |  SELECT CAST(count(*) // 2 AS BIGINT) AS h FROM documents
         |), tk AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents
         |), cnt AS (
         |  SELECT tok,
         |         CAST(sum(CASE WHEN t.doc_id < hf.h THEN 1 ELSE 0
         |           END) AS BIGINT) AS c1,
         |         CAST(sum(CASE WHEN t.doc_id >= hf.h THEN 1 ELSE 0
         |           END) AS BIGINT) AS c2
         |  FROM tk t CROSS JOIN hf GROUP BY tok
         |), tt AS (
         |  SELECT CAST(sum(c1) AS BIGINT) AS t1,
         |         CAST(sum(c2) AS BIGINT) AS t2
         |  FROM cnt
         |)
         |SELECT tok, c1, c2,
         |       CASE WHEN c1 * t2 - c2 * t1 >= 0
         |         THEN CAST(1000000 * (c1 * t2 - c2 * t1)
         |           // (t1 * t2) AS BIGINT)
         |         ELSE -CAST(1000000 * (c2 * t1 - c1 * t2)
         |           // (t1 * t2) AS BIGINT)
         |       END AS drift_ppm
         |FROM cnt CROSS JOIN tt
         |ORDER BY abs(CASE WHEN c1 * t2 - c2 * t1 >= 0
         |    THEN CAST(1000000 * (c1 * t2 - c2 * t1)
         |      // (t1 * t2) AS BIGINT)
         |    ELSE -CAST(1000000 * (c2 * t1 - c1 * t2)
         |      // (t1 * t2) AS BIGINT) END) DESC, tok ASC
         |LIMIT 20""".stripMargin,
    "token_pmi" ->
      s"""WITH dt AS (
         |  SELECT DISTINCT doc_id, unnest(list_distinct($toksSql))
         |    AS tok
         |  FROM documents
         |), pr AS (
         |  SELECT x.tok AS ta, y.tok AS tb, count(*) AS n_ab
         |  FROM dt x JOIN dt y
         |    ON x.doc_id = y.doc_id AND x.tok < y.tok
         |  GROUP BY 1, 2 HAVING count(*) >= 5
         |), mg AS (
         |  SELECT tok, count(*) AS n_tok FROM dt GROUP BY 1
         |), t AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT p.ta, p.tb, p.n_ab,
         |       a.n_tok AS n_a, b.n_tok AS n_b,
         |       CAST(1000000 * p.n_ab * t.n_docs
         |         // (a.n_tok * b.n_tok) AS BIGINT) AS lift_ppm
         |FROM pr p
         |JOIN mg a ON a.tok = p.ta
         |JOIN mg b ON b.tok = p.tb
         |CROSS JOIN t
         |ORDER BY lift_ppm DESC, n_ab DESC, ta, tb
         |LIMIT 20""".stripMargin,
    "token_burstiness" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM documents
         |), agg AS (
         |  SELECT token, count(*) AS cf,
         |         count(DISTINCT doc_id) AS df
         |  FROM tk GROUP BY token HAVING count(DISTINCT doc_id) >= 10
         |)
         |SELECT token, cf, df,
         |       CAST(1000000 * cf // df AS BIGINT) AS burst_ppm
         |FROM agg ORDER BY burst_ppm DESC, token ASC
         |LIMIT 20""".stripMargin,
    "readability" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |           AS BIGINT) AS n_words,
        |         greatest(CAST(len(regexp_extract_all(text, '[.!?]'))
        |           AS BIGINT), 1) AS n_sentences,
        |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |           AS BIGINT) AS n_syllables
        |  FROM documents WHERE length(trim(text)) >= 1)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |       206835 - (1015 * n_words) // n_sentences
        |              - (84600 * n_syllables) // n_words AS flesch_milli
        |FROM b ORDER BY doc_id""".stripMargin,
    "boilerplate_ratio" ->
      s"""WITH rows_ AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest(${wordShinglesSql(toksSql, 3)}) AS sh
         |    FROM documents) u
         |), dfs AS (
         |  SELECT sh, count(*) AS df FROM rows_ GROUP BY sh
         |)
         |SELECT doc_id, count(*) AS n_shingles,
         |       CAST(sum(CASE WHEN df > $DfCap THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_boiler,
         |       CAST(sum(CASE WHEN df > $DfCap THEN 1 ELSE 0 END)
         |         AS DOUBLE) / count(*) AS boiler_ratio
         |FROM rows_ JOIN dfs USING (sh)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "corpus_mix" ->
      s"""SELECT lang, n_docs, n_kept,
         |       CAST(n_kept AS DOUBLE) / n_docs AS keep_rate
         |FROM (
         |  SELECT lang, count(*) AS n_docs,
         |         CAST(sum(CASE WHEN ${hash60Sql(normSql)} % 1000 <
         |           CASE WHEN lang = 'en' THEN 1000
         |                WHEN lang = 'de' THEN 500
         |                WHEN lang IN ('fr', 'es') THEN 250
         |                ELSE 100 END
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |  FROM documents GROUP BY lang) t
         |ORDER BY lang""".stripMargin,
    "top_terms_per_source" ->
      s"""WITH st AS (
         |  SELECT source, t AS tok
         |  FROM (SELECT source, unnest($toksSql) AS t
         |        FROM documents) u
         |  WHERE length(t) > 0
         |), tfq AS MATERIALIZED (
         |  SELECT source, tok, count(*) AS tf FROM st GROUP BY 1, 2
         |), dfs AS (
         |  SELECT tok, count(*) AS df FROM tfq GROUP BY 1
         |), ns AS (
         |  SELECT count(DISTINCT source) AS ns FROM tfq
         |), scored AS (
         |  SELECT f.source, f.tok,
         |         CAST((1000000 * f.tf * (2*n.ns - 2*d.df + 1))
         |           // (2*d.df + 1) AS BIGINT) AS score_ppm
         |  FROM tfq f JOIN dfs d USING (tok) CROSS JOIN ns n
         |)
         |SELECT source, tok, score_ppm, CAST(rnk AS INTEGER) AS rnk
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY score_ppm DESC, tok ASC) AS rnk
         |  FROM scored) t
         |WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,
    "wordpiece_vocab" ->
      s"""WITH $wordpieceVocabCtes
         |SELECT piece, cnt FROM wpvocab
         |ORDER BY cnt DESC, piece ASC""".stripMargin,
    "wordpiece_stats" ->
      s"""WITH RECURSIVE
         |$wordpieceVocabCtes,
         |vl AS (SELECT list(piece ORDER BY piece) AS varr
         |       FROM wpvocab),
         |wtypes AS (SELECT DISTINCT w FROM wptoks),
         |seg(w, pos, n) AS (
         |  SELECT w, 1, 0 FROM wtypes
         |  UNION ALL
         |  SELECT s.w,
         |         s.pos + CASE
         |           WHEN list_contains(v.varr, substr(s.w, s.pos, 4))
         |             THEN 4
         |           WHEN list_contains(v.varr, substr(s.w, s.pos, 3))
         |             THEN 3
         |           WHEN list_contains(v.varr, substr(s.w, s.pos, 2))
         |             THEN 2
         |           ELSE 1 END,
         |         s.n + 1
         |  FROM seg s, vl v
         |  WHERE s.pos <= length(s.w)
         |),
         |wcount AS (
         |  SELECT w, n AS np FROM seg WHERE pos > length(w)
         |)
         |SELECT doc_id, count(*) AS n_tokens,
         |       CAST(sum(np) AS BIGINT) AS n_pieces,
         |       (1000000 * CAST(sum(np) AS BIGINT)) // count(*)
         |         AS ppt_ppm
         |FROM (SELECT doc_id, t AS w
         |      FROM (SELECT doc_id, unnest($toksSql) AS t
         |            FROM documents) u
         |      WHERE length(t) > 0) dt
         |JOIN wcount USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dsir_weights" ->
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, lang, tok, ${hash60Sql("tok")} % 64 AS b
         |  FROM (SELECT doc_id, lang, unnest($toksSql) AS tok
         |        FROM documents) u
         |  WHERE length(tok) > 0
         |), buckets AS (
         |  SELECT b,
         |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tb,
         |         count(*) AS rb
         |  FROM toks GROUP BY b
         |), totals AS (
         |  SELECT CAST(sum(tb) AS BIGINT) AS tt,
         |         CAST(sum(rb) AS BIGINT) AS rt FROM buckets
         |), weighted AS (
         |  SELECT b,
         |         (1000000 * (tb + 1) * rt) // ((rb + 1) * tt) AS w_ppm
         |  FROM buckets CROSS JOIN totals
         |)
         |SELECT doc_id, count(*) AS n_toks,
         |       CAST(sum(w_ppm) AS BIGINT) AS score_ppm
         |FROM toks JOIN weighted USING (b)
         |GROUP BY doc_id
         |ORDER BY score_ppm DESC, doc_id ASC LIMIT 20""".stripMargin,
    "dataset_drift" -> {
      def dimSql(dim: String) =
        s"""SELECT '$dim' AS dimension,
           |       CAST(max(na) AS BIGINT) AS n_a,
           |       CAST(max(nb) AS BIGINT) AS n_b,
           |       count(*) AS n_values,
           |       CAST((1000000 * sum(abs(o1 * nb - o2 * na)))
           |         // (2 * max(na) * max(nb)) AS BIGINT) AS tvd_ppm
           |FROM (
           |  SELECT o1, o2, sum(o1) OVER () AS na,
           |         sum(o2) OVER () AS nb
           |  FROM (SELECT $dim AS v,
           |          sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
           |            AS o1,
           |          sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
           |            AS o2
           |        FROM documents GROUP BY 1) c) t""".stripMargin
      s"""${dimSql("lang")}
         |UNION ALL
         |${dimSql("source")}
         |ORDER BY dimension""".stripMargin
    },
    "padding_efficiency" -> {
      def stratSql(name: String, order: String) =
        s"""SELECT '$name' AS strategy, shard,
           |       CAST(sum(bn) AS BIGINT) AS n_docs,
           |       count(*) AS n_batches,
           |       CAST((1000000 * (sum(bn * mx) - sum(tok)))
           |         // sum(bn * mx) AS BIGINT) AS waste_ppm
           |FROM (
           |  SELECT shard, (rn - 1) // 32 AS batch, count(*) AS bn,
           |         max(n_tokens) AS mx, sum(n_tokens) AS tok
           |  FROM (SELECT shard, n_tokens,
           |          row_number() OVER (PARTITION BY shard
           |            ORDER BY $order) AS rn
           |        FROM pt) r
           |  GROUP BY shard, batch) b
           |GROUP BY shard""".stripMargin
      s"""WITH pt AS MATERIALIZED (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |         ${hash60Sql(normSql)} % 8 AS shard
         |  FROM documents
         |)
         |${stratSql("arrival", "doc_id")}
         |UNION ALL
         |${stratSql("sorted", "n_tokens, doc_id")}
         |ORDER BY strategy, shard""".stripMargin
    },
    "corpus_mix_temperature" ->
      """WITH c AS (
        |  SELECT lang, count(*) AS n_docs,
        |         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000)
        |           AS BIGINT) AS w_milli
        |  FROM documents GROUP BY lang
        |), t AS (
        |  SELECT CAST(sum(w_milli) AS BIGINT) AS wt,
        |         CAST(sum(n_docs) AS BIGINT) AS nt FROM c
        |)
        |SELECT lang, n_docs, w_milli,
        |       CAST((1000000 * w_milli) // wt AS BIGINT) AS share_ppm,
        |       CAST(((1000000 * w_milli) // wt * nt) // 1000000
        |         AS BIGINT) AS target_docs
        |FROM c CROSS JOIN t ORDER BY lang""".stripMargin,
    "approx_topk_sketch" ->
      s"""WITH counts AS (
         |  SELECT token AS tok, CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT unnest($toksSql) AS token FROM documents) t
         |  GROUP BY tok
         |), r11 AS (
         |  SELECT min(n) AS boundary_n FROM (
         |    SELECT n FROM counts
         |    ORDER BY n DESC, tok LIMIT 11) q
         |)
         |SELECT c.tok, c.n, TRUE AS exact_in_topk
         |FROM counts c CROSS JOIN r11
         |WHERE c.n > r11.boundary_n
         |ORDER BY c.n DESC, c.tok""".stripMargin,
    "lsh_param_sweep" -> {
      val matchExpr = (0 until 8)
        .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      val perConfig = Seq((8, 1), (4, 2), (2, 4), (1, 8)).map {
        case (nb, r) =>
          val bandSel = (0 until nb).map { j =>
            val key = (0 until r)
              .map(k => s"h${j * r + k}").mkString(", ")
            s"SELECT doc_id, $j AS band, concat_ws('_', $key) AS key" +
              " FROM sigs"
          }.mkString("\n  UNION ALL\n  ")
          s"""cand_$nb AS (
             |  SELECT DISTINCT $nb AS bands, x.doc_id AS a,
             |         y.doc_id AS b
             |  FROM (
             |    SELECT b.* FROM (
             |      $bandSel) b
             |    JOIN (SELECT band, key FROM (
             |            $bandSel) g
             |          GROUP BY band, key
             |          HAVING count(*) BETWEEN 2 AND $BucketCap) ok
             |      ON b.band = ok.band AND b.key = ok.key) x
             |  JOIN (
             |    SELECT b.* FROM (
             |      $bandSel) b
             |    JOIN (SELECT band, key FROM (
             |            $bandSel) g
             |          GROUP BY band, key
             |          HAVING count(*) BETWEEN 2 AND $BucketCap) ok
             |      ON b.band = ok.band AND b.key = ok.key) y
             |    ON x.band = y.band AND x.key = y.key
             |   AND x.doc_id < y.doc_id
             |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $tokHashCte,
         |sigs AS ($sigSelect),
         |$perConfig,
         |cand AS (
         |  SELECT * FROM cand_8 UNION ALL SELECT * FROM cand_4
         |  UNION ALL SELECT * FROM cand_2 UNION ALL
         |  SELECT * FROM cand_1
         |), scored AS (
         |  SELECT c.bands, ($matchExpr) AS n_match
         |  FROM cand c
         |  JOIN sigs sa ON sa.doc_id = c.a
         |  JOIN sigs sb ON sb.doc_id = c.b
         |)
         |SELECT CAST(bands AS BIGINT) AS bands,
         |       CAST(8 // bands AS BIGINT) AS rows_per_band,
         |       CAST(count(*) AS BIGINT) AS n_candidates,
         |       CAST(sum(CASE WHEN n_match >= 4 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_accepted,
         |       CAST(CASE WHEN count(*) > 0
         |         THEN 1000000 * sum(CASE WHEN n_match >= 4
         |                 THEN 1 ELSE 0 END) // count(*)
         |         END AS BIGINT) AS precision_ppm
         |FROM scored GROUP BY bands ORDER BY bands""".stripMargin
    },
    "concat_blocks" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |         ${hash60Sql(normSql)} % 8 AS shard
         |  FROM documents
         |), c AS (
         |  SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS cum
         |  FROM t
         |)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST((sum(n_tokens) + 2047) // 2048 AS BIGINT)
         |         AS n_blocks,
         |       CAST(sum(CASE WHEN (cum - 1) // 2048
         |           > (cum - n_tokens) // 2048 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_spanning,
         |       CAST(sum(n_tokens) % 2048 AS BIGINT) AS tail_fill
         |FROM c GROUP BY shard ORDER BY shard""".stripMargin,
    "token_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |         ${hash60Sql(normSql)} % 8 AS shard
         |  FROM documents
         |), c AS (
         |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard
         |    ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t
         |)
         |SELECT shard, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM c GROUP BY shard, bin
         |ORDER BY shard, bin""".stripMargin,
    "dedup_rate" ->
      s"""SELECT lang, count(*) AS n_docs,
         |       count(DISTINCT ${hash60Sql(normSql)}) AS n_unique,
         |       CAST(count(*) - count(DISTINCT ${hash60Sql(normSql)})
         |         AS DOUBLE) / count(*) AS dup_rate
         |FROM documents GROUP BY lang
         |ORDER BY lang""".stripMargin,
    // NOT EXISTS, not NOT IN: Spark's left_anti keeps a batch row
    // whenever no corpus row MATCHES (null-safe), while NOT IN over a
    // set containing a NULL would return zero rows — the two only
    // agree because fixtures have no NULL text, and this oracle must
    // not depend on that.
    "incremental_dedup" ->
      s"""WITH fp AS (
         |  SELECT doc_id, ${hash60Sql(normSql)} AS fingerprint
         |  FROM documents
         |), batch AS (
         |  SELECT fingerprint, min(doc_id) AS doc_id FROM fp
         |  WHERE doc_id >= 250 GROUP BY fingerprint
         |)
         |SELECT doc_id, fingerprint FROM batch b
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM fp c
         |  WHERE c.doc_id < 250 AND c.fingerprint = b.fingerprint)
         |ORDER BY doc_id""".stripMargin,
    "bigram_topk" ->
      s"""SELECT bg, count(*) AS n FROM (
         |  SELECT unnest(${wordShinglesSql(toksSql, 2)}) AS bg
         |  FROM documents) t
         |GROUP BY bg ORDER BY n DESC, bg ASC LIMIT 20""".stripMargin,
    "inverted_index" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct($toksSql)) AS token
         |  FROM documents
         |), df AS (
         |  SELECT token, count(*) AS df FROM tok GROUP BY token
         |)
         |SELECT tok.token AS token, CAST(df.df AS BIGINT) AS df,
         |       array_to_string(
         |         list_slice(list_sort(list(tok.doc_id)), 1, 10), ',')
         |         AS postings_head
         |FROM tok JOIN df ON tok.token = df.token
         |WHERE df.df BETWEEN 2 AND $InvIdxDfCap
         |GROUP BY tok.token, df.df
         |ORDER BY token""".stripMargin,
    "doc_fingerprint" ->
      s"""SELECT doc_id, ${hash60Sql(normSql)} AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,
    // Same pair graph, same split arithmetic; the cluster-keyed
    // column must read zero.
    "split_leakage" ->
      s"""WITH RECURSIVE $jaccardPairsSqlCte,
         |$clusterClosureCtes,
         |keys_ AS (
         |  SELECT d.doc_id,
         |         CASE WHEN ${hash60Sql(normSql)} % 10 < 8 THEN 'train'
         |              WHEN ${hash60Sql(normSql)} % 10 = 8 THEN 'val'
         |              ELSE 'test' END AS cs,
         |         CASE WHEN c.doc_id IS NULL THEN NULL
         |              WHEN ${hash60Sql("CAST(c.cluster AS VARCHAR)")}
         |                % 10 < 8 THEN 'train'
         |              WHEN ${hash60Sql("CAST(c.cluster AS VARCHAR)")}
         |                % 10 = 8 THEN 'val'
         |              ELSE 'test' END AS ks
         |  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
         |)
         |SELECT count(*) AS n_neardup_pairs,
         |       CAST(sum(CASE WHEN ka.cs <> kb.cs THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_leaking_content_split,
         |       CAST(sum(CASE WHEN coalesce(ka.ks, ka.cs)
         |           <> coalesce(kb.ks, kb.cs) THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_leaking_cluster_split
         |FROM hi
         |JOIN keys_ ka ON ka.doc_id = hi.a
         |JOIN keys_ kb ON kb.doc_id = hi.b""".stripMargin,

    // The funnel rebuilt stage by stage: same quality predicate, same
    // min-doc_id keep-first, the closure-derived cluster
    // representatives (n_chars DESC, doc_id tiebreak), same
    // hash-of-norm split. A doc_id is a keep-first winner iff it is
    // the min of ITS OWN norm group (ids are unique), so the plain IN
    // suffices.
    "curation_pipeline" ->
      s"""WITH RECURSIVE $jaccardPairsSqlCte,
         |$clusterClosureCtes,
         |base AS (
         |  SELECT doc_id, $normSql AS norm,
         |         CAST(len($toksSql) AS BIGINT) AS n_toks,
         |         $qualityKeepSql AS q
         |  FROM documents
         |),
         |quality AS (SELECT * FROM base WHERE q),
         |exact AS (
         |  SELECT * FROM quality
         |  WHERE doc_id IN (SELECT min(doc_id) FROM quality GROUP BY norm)
         |),
         |reps AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id,
         |           row_number() OVER (PARTITION BY c.cluster
         |             ORDER BY d.n_chars DESC, c.doc_id) AS rn
         |    FROM clusters c
         |    JOIN exact e ON e.doc_id = c.doc_id
         |    JOIN documents d ON d.doc_id = c.doc_id) t
         |  WHERE rn = 1
         |),
         |neardup AS (
         |  SELECT e.* FROM exact e
         |  LEFT JOIN clusters c ON c.doc_id = e.doc_id
         |  LEFT JOIN reps r ON r.doc_id = e.doc_id
         |  WHERE c.doc_id IS NULL OR r.doc_id IS NOT NULL
         |),
         |splits AS (
         |  SELECT CASE WHEN b < 8 THEN 'split_train'
         |              WHEN b = 8 THEN 'split_val'
         |              ELSE 'split_test' END AS stage,
         |         count(*) AS n_docs,
         |         CAST(sum(n_toks) AS BIGINT) AS n_tokens
         |  FROM (SELECT ${hash60Sql("norm")} % 10 AS b, n_toks
         |        FROM neardup) z
         |  GROUP BY stage
         |)
         |SELECT 's0_raw' AS stage, count(*) AS n_docs,
         |       CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM base
         |UNION ALL SELECT 's1_quality', count(*),
         |       CAST(sum(n_toks) AS BIGINT) FROM quality
         |UNION ALL SELECT 's2_exact_dedup', count(*),
         |       CAST(sum(n_toks) AS BIGINT) FROM exact
         |UNION ALL SELECT 's3_neardup_keep', count(*),
         |       CAST(sum(n_toks) AS BIGINT) FROM neardup
         |UNION ALL SELECT stage, n_docs, n_tokens FROM splits
         |ORDER BY stage""".stripMargin,
    "split_card" ->
      s"""WITH sb AS (
         |  SELECT lang, n_chars, ${hash60Sql(normSql)} AS fp,
         |         ${hash60Sql(normSql)} % 10 AS bucket
         |  FROM documents
         |)
         |SELECT CASE WHEN bucket < 8 THEN 'train'
         |            WHEN bucket = 8 THEN 'val'
         |            ELSE 'test' END AS split,
         |       count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       CAST(count(*) - count(DISTINCT fp) AS BIGINT)
         |         AS n_exact_dups,
         |       count(DISTINCT lang) AS n_langs,
         |       CAST(sum(n_chars) AS BIGINT) // count(*) AS mean_chars
         |FROM sb GROUP BY split ORDER BY split""".stripMargin,
    "curation_provenance" ->
      s"""WITH RECURSIVE $jaccardPairsSqlCte,
         |$clusterClosureCtes,
         |base AS (
         |  SELECT doc_id, $normSql AS norm, $qualityKeepSql AS q
         |  FROM documents
         |),
         |minq AS (
         |  SELECT norm, min(doc_id) AS first_id
         |  FROM base WHERE q GROUP BY norm
         |),
         |exactk AS (
         |  SELECT b.doc_id FROM base b
         |  JOIN minq m ON b.norm = m.norm AND b.doc_id = m.first_id
         |  WHERE b.q
         |),
         |reps AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id,
         |           row_number() OVER (PARTITION BY c.cluster
         |             ORDER BY d.n_chars DESC, c.doc_id) AS rn
         |    FROM clusters c
         |    JOIN exactk e ON e.doc_id = c.doc_id
         |    JOIN documents d ON d.doc_id = c.doc_id) t
         |  WHERE rn = 1
         |)
         |SELECT b.doc_id,
         |  CASE WHEN NOT b.q THEN 'rejected_quality'
         |       WHEN b.doc_id <> m.first_id THEN 'rejected_exact_dup'
         |       WHEN c.doc_id IS NOT NULL AND r.doc_id IS NULL
         |         THEN 'rejected_neardup'
         |       WHEN ${hash60Sql("b.norm")} % 10 < 8 THEN 'kept_train'
         |       WHEN ${hash60Sql("b.norm")} % 10 = 8 THEN 'kept_val'
         |       ELSE 'kept_test' END AS disposition
         |FROM base b
         |LEFT JOIN minq m ON m.norm = b.norm
         |LEFT JOIN clusters c ON c.doc_id = b.doc_id
         |LEFT JOIN reps r ON r.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    "stratified_sample" ->
      s"""SELECT lang, CAST(rnk AS INTEGER) AS rnk, doc_id FROM (
         |  SELECT lang, doc_id,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY h ASC, doc_id ASC) AS rnk
         |  FROM (SELECT lang, doc_id, ${hash60Sql(normSql)} AS h
         |        FROM documents) t) z
         |WHERE rnk <= 20 ORDER BY lang, rnk""".stripMargin,
    "dataset_split" ->
      s"""WITH b AS (
         |  SELECT ${hash60Sql(normSql)} % 10 AS bucket, n_chars, lang
         |  FROM documents)
         |SELECT CASE WHEN bucket < 8 THEN 'train'
         |            WHEN bucket = 8 THEN 'val'
         |            ELSE 'test' END AS split,
         |       count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       count(DISTINCT lang) AS n_langs
         |FROM b GROUP BY split ORDER BY split""".stripMargin,
    "repetition_score" ->
      s"""SELECT doc_id,
         |       CAST(len(sh) AS INTEGER) AS n_shingles,
         |       CAST(len(list_distinct(sh)) AS INTEGER) AS n_distinct,
         |       CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE)
         |         / len(sh) AS repetition
         |FROM (SELECT doc_id, ${wordShinglesSql(toksSql, 3)} AS sh
         |      FROM documents) t
         |WHERE len(sh) >= 1
         |ORDER BY doc_id""".stripMargin,
    "token_count_bpe" ->
      s"""SELECT doc_id,
         |       CAST(len($toksSql) AS BIGINT) AS n_ws_tokens,
         |       CAST(len(regexp_extract_all(text, '$BpePattern'))
         |         AS BIGINT) AS n_bpe_tokens,
         |       CAST(len(regexp_extract_all(text, '$BpePattern'))
         |         AS DOUBLE) / len($toksSql) AS bpe_per_word
         |FROM documents ORDER BY doc_id""".stripMargin,
    "corpus_card" ->
      s"""WITH scored AS (
         |  SELECT lang, n_chars,
         |         ${hash60Sql(normSql)} AS fingerprint,
         |         $qualityKeepSql AS keep
         |  FROM documents)
         |SELECT lang,
         |       count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       CAST(count(*) - count(DISTINCT fingerprint) AS BIGINT)
         |         AS n_exact_dups,
         |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_quality_kept,
         |       CAST((count(*) - count(DISTINCT fingerprint)) * 1000000
         |         // count(*) AS BIGINT) AS dup_ppm,
         |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000
         |         // count(*) AS BIGINT) AS keep_ppm
         |FROM scored GROUP BY lang ORDER BY lang""".stripMargin,
    "quality_reject_reasons" ->
      s"""WITH scored AS (
         |  SELECT len($toksSql) < 5 AS r_short,
         |         CAST(length(regexp_replace(text, '[^a-zA-Z]', '',
         |           'g')) AS DOUBLE) / length(text) < 0.5 AS r_alpha,
         |         CAST(len(list_filter($toksSql,
         |           t -> t IN ($StopSqlList))) AS DOUBLE)
         |           / len($toksSql) > 0.5 AS r_stop,
         |         $qualityKeepSql AS keep
         |  FROM documents)
         |SELECT count(*) AS n_docs,
         |       CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_rejected,
         |       CAST(sum(CASE WHEN r_short THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_too_short,
         |       CAST(sum(CASE WHEN r_alpha THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_low_alpha,
         |       CAST(sum(CASE WHEN r_stop THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_stopword_heavy
         |FROM scored""".stripMargin,
    "quality_filter" ->
      s"""WITH scored AS (
         |  SELECT lang, n_chars, $qualityKeepSql AS keep
         |  FROM documents)
         |SELECT lang,
         |       count(*) AS n_docs,
         |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_kept,
         |       CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END)
         |         AS BIGINT) AS kept_chars,
         |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
         |         / count(*) AS keep_rate
         |FROM scored GROUP BY lang ORDER BY lang""".stripMargin,
    "dedup_exact" ->
      s"""SELECT count(*) AS n_docs,
         |       count(DISTINCT $normSql) AS n_distinct,
         |       count(*) - count(DISTINCT $normSql) AS n_dupes
         |FROM documents""".stripMargin,
    "dedup_exact_keep_first" ->
      s"""SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
         |FROM (SELECT doc_id, $normSql AS norm FROM documents) t
         |GROUP BY norm ORDER BY keep_doc_id""".stripMargin,
    "chunk_dedup" ->
      s"""WITH ch AS (
         |  SELECT doc_id, (u.i - 1) // 80 AS idx,
         |         substring(text, CAST(u.i AS INTEGER), 80) AS chunk
         |  FROM documents,
         |       LATERAL unnest(generate_series(1, length(text), 80))
         |         AS u(i)
         |  WHERE length(text) >= 1
         |), fd AS (
         |  SELECT chunk, min(doc_id) AS first_doc FROM ch GROUP BY chunk
         |)
         |SELECT doc_id, count(*) AS n_chunks,
         |       CAST(sum(CASE WHEN doc_id != first_doc THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_dropped,
         |       ${hash60Sql(
           "coalesce(string_agg(CASE WHEN doc_id = first_doc " +
             "THEN chunk END, '' ORDER BY idx), '')")} AS kept_hash
         |FROM ch JOIN fd USING (chunk)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "exact_substring_spans" ->
      s"""WITH sh AS MATERIALIZED (
         |  SELECT doc_id, u.i - 1 AS pos, shs[u.i] AS sh FROM (
         |    SELECT doc_id, ${wordShinglesSql(toksSql, 8)} AS shs
         |    FROM documents) t,
         |    LATERAL unnest(range(1, len(shs)+1)) AS u(i)
         |), rep AS (
         |  SELECT sh FROM sh GROUP BY sh
         |  HAVING count(DISTINCT doc_id) >= 2
         |), runs AS (
         |  SELECT doc_id, count(*) AS run_shingles FROM (
         |    SELECT doc_id, pos,
         |           pos - row_number() OVER (PARTITION BY doc_id
         |             ORDER BY pos) AS grp
         |    FROM sh JOIN rep USING (sh)) g
         |  GROUP BY doc_id, grp
         |), per AS (
         |  SELECT doc_id, count(*) AS n_runs,
         |         max(run_shingles) AS max_run,
         |         sum(run_shingles) AS n_rep
         |  FROM runs GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |       CAST(coalesce(n_rep, 0) AS BIGINT) AS n_rep_shingles,
         |       CAST(coalesce(n_runs, 0) AS BIGINT) AS n_runs,
         |       CAST(coalesce(max_run + 7, 0) AS BIGINT)
         |         AS max_span_tokens
         |FROM documents d LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "bigram_lm_score" ->
      s"""WITH bg AS (
         |  SELECT doc_id, unnest(${wordShinglesSql(toksSql, 2)}) AS bg
         |  FROM documents
         |), c2 AS (SELECT bg, count(*) AS cbg FROM bg GROUP BY bg),
         |c1 AS (
         |  SELECT w1, count(*) AS cw FROM (
         |    SELECT unnest($toksSql) AS w1 FROM documents) u
         |  GROUP BY w1
         |), v AS (SELECT count(*) AS vsz FROM c1)
         |SELECT doc_id, count(*) AS n_bigrams,
         |       CAST(sum(((cbg + 1) * 1000000) // (cw + vsz))
         |         AS BIGINT) AS sum_p_ppm,
         |       CAST(sum(((cbg + 1) * 1000000) // (cw + vsz))
         |         // count(*) AS BIGINT) AS avg_p_ppm
         |FROM bg JOIN c2 USING (bg)
         |     JOIN c1 ON split_part(bg.bg, ' ', 1) = c1.w1, v
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_chunks" ->
      s"""SELECT doc_id,
         |       CAST(p AS INTEGER) AS chunk_idx,
         |       CAST(length(substring(text, CAST(i AS INTEGER), 100))
         |         AS INTEGER) AS chunk_len,
         |       ${hash60Sql("substring(text, CAST(i AS INTEGER), 100)")}
         |         AS chunk_hash
         |FROM (
         |  SELECT doc_id, text,
         |         unnest(generate_series(1, length(text), 80)) AS i,
         |         unnest(generate_series(0,
         |           (length(text)-1)//80)) AS p
         |  FROM documents
         |  WHERE doc_id < 20 AND length(text) >= 1) t
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "contamination" ->
      s"""WITH rows_ AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest(${wordShinglesSql(toksSql, 3)}) AS sh
         |    FROM documents) u
         |), bench AS (
         |  SELECT DISTINCT sh FROM rows_ WHERE doc_id < 5
         |)
         |SELECT t.doc_id,
         |       count(*) AS n_shingles,
         |       CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_contaminated,
         |       CAST(sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
         |         AS DOUBLE) / count(*) AS contamination_rate
         |FROM (SELECT * FROM rows_ WHERE doc_id >= 5) t
         |LEFT JOIN bench b ON t.sh = b.sh
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "setsim_prefix_join" ->
      s"""WITH rows_ AS (
         |  SELECT DISTINCT doc_id, ${hash60Sql("sh")} AS tok FROM (
         |    SELECT doc_id, unnest(${wordShinglesSql(toksSql, 3)}) AS sh
         |    FROM documents) z),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM rows_
         |          GROUP BY doc_id),
         |dfs AS (SELECT tok, count(*) AS df FROM rows_ GROUP BY tok),
         |ordered AS (
         |  SELECT r.doc_id, r.tok, s.sz FROM (
         |    SELECT r.doc_id, r.tok,
         |           row_number() OVER (PARTITION BY r.doc_id
         |             ORDER BY d.df ASC, r.tok ASC) AS rn
         |    FROM rows_ r JOIN dfs d ON d.tok = r.tok) r
         |  JOIN sizes s ON s.doc_id = r.doc_id
         |  WHERE r.rn <= s.sz - (4 * s.sz + 4) // 5 + 1),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |         x.sz AS sa, y.sz AS sb
         |  FROM ordered x JOIN ordered y ON x.tok = y.tok
         |    AND x.doc_id < y.doc_id
         |    AND greatest(x.sz, y.sz) * 4 <= least(x.sz, y.sz) * 5),
         |inter AS (
         |  SELECT c.a, c.b, c.sa, c.sb, count(*) AS n_inter
         |  FROM cand c
         |  JOIN rows_ ra ON ra.doc_id = c.a
         |  JOIN rows_ rb ON rb.doc_id = c.b AND rb.tok = ra.tok
         |  GROUP BY c.a, c.b, c.sa, c.sb)
         |SELECT a, b, n_inter, sa + sb - n_inter AS n_union,
         |       CAST(n_inter AS DOUBLE) /
         |         CAST(sa + sb - n_inter AS DOUBLE) AS jaccard
         |FROM inter WHERE n_inter * 5 >= (sa + sb - n_inter) * 4
         |ORDER BY a, b""".stripMargin,
    "ngram_jaccard" ->
      s"""WITH $jaccardPairsSqlCte
         |SELECT a, b, inter, jaccard FROM pairs
         |ORDER BY jaccard DESC, a ASC, b ASC LIMIT 20""".stripMargin,
    "containment_pairs" ->
      s"""WITH $jaccardPairsSqlCte,
         |cont AS (
         |  SELECT p.a, p.b, p.inter, sa.sz AS sza, sb.sz AS szb,
         |         CAST(p.inter AS DOUBLE) / least(sa.sz, sb.sz)
         |           AS containment
         |  FROM pairs p
         |  JOIN sizes sa ON sa.doc_id = p.a
         |  JOIN sizes sb ON sb.doc_id = p.b
         |)
         |SELECT CASE WHEN sza < szb THEN a WHEN szb < sza THEN b
         |            ELSE greatest(a, b) END AS contained_id,
         |       CASE WHEN sza < szb THEN b WHEN szb < sza THEN a
         |            ELSE least(a, b) END AS container_id,
         |       inter, containment
         |FROM cont WHERE containment >= 0.8
         |ORDER BY containment DESC, contained_id ASC,
         |         container_id ASC
         |LIMIT 50""".stripMargin,
    "source_reputation" ->
      s"""SELECT source, n_docs,
         |       (1000000 * (n_docs - n_unique)) // n_docs AS dup_ppm,
         |       (1000000 * n_short) // n_docs AS short_ppm,
         |       sum_chars // n_docs AS mean_chars, n_langs
         |FROM (
         |  SELECT source, count(*) AS n_docs,
         |         count(DISTINCT ${hash60Sql(normSql)}) AS n_unique,
         |         CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_short,
         |         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |         count(DISTINCT lang) AS n_langs
         |  FROM documents GROUP BY source) t
         |ORDER BY source""".stripMargin,
    // Connected components as a recursive transitive closure (
    // [[clusterClosureSql]]) — exact fixpoint, independently derived
    // from the same pair graph the Spark side propagates labels over.
    "dedup_clusters" -> clusterClosureSql,
    // The reliable-tier run must land on the IDENTICAL closure.
    "dedup_clusters_reliable" -> clusterClosureSql,
    "cluster_stats" ->
      s"""WITH RECURSIVE $jaccardPairsSqlCte,
         |$clusterClosureCtes,
         |szs AS (
         |  SELECT cluster, count(*) AS sz FROM clusters GROUP BY cluster
         |)
         |SELECT count(*) AS n_clusters,
         |       CAST(sum(sz) AS BIGINT) AS n_docs_clustered,
         |       CAST(max(sz) AS BIGINT) AS max_cluster_size,
         |       CAST(sum(sz) * 1000000 // count(*) AS BIGINT)
         |         AS mean_size_ppm
         |FROM szs""".stripMargin,
    "neardup_cascade" -> {
      val bandSelects = bandSelectsSql
      s"""WITH $jaccardPairsSqlCte,
         |$tokHashCte,
         |sigs AS ($sigSelect),
         |bands AS (
         |  $bandSelects
         |), small AS (
         |  SELECT b.* FROM bands b
         |  JOIN (SELECT band, key FROM bands GROUP BY band, key
         |        HAVING count(*) BETWEEN 2 AND $BucketCap) ok
         |    ON b.band = ok.band AND b.key = ok.key
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM small x JOIN small y
         |    ON x.band = y.band AND x.key = y.key
         |  WHERE x.doc_id < y.doc_id
         |), scored AS (
         |  SELECT CASE WHEN coalesce(p.jaccard, 0) >= 0.7
         |              THEN 1 ELSE 0 END AS dup
         |  FROM cand c LEFT JOIN pairs p ON p.a = c.a AND p.b = c.b
         |)
         |SELECT count(*) AS n_candidates,
         |       CAST(sum(dup) AS BIGINT) AS n_confirmed,
         |       CAST(sum(dup) * 1000000 // count(*) AS BIGINT)
         |         AS precision_ppm
         |FROM scored""".stripMargin
    },
    // Identical closure oracle as dedup_clusters: the two-star
    // algorithm must produce the same labeling.
    "dedup_clusters_twostar" ->
      s"""WITH RECURSIVE $jaccardPairsSqlCte,
         |$clusterClosureCtes
       |SELECT doc_id, cluster FROM clusters
       |ORDER BY doc_id""".stripMargin,
    "cluster_representatives" ->
      s"""WITH RECURSIVE $jaccardPairsSqlCte,
         |$clusterClosureCtes,
         |scored AS (
         |  SELECT c.cluster, c.doc_id, d.n_chars,
         |         count(*) OVER (PARTITION BY c.cluster) AS n_members,
         |         row_number() OVER (PARTITION BY c.cluster
         |           ORDER BY d.n_chars DESC, c.doc_id) AS rn
         |  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
         |)
         |SELECT cluster, n_members, doc_id AS rep_doc_id,
         |       n_chars AS rep_n_chars
         |FROM scored WHERE rn = 1 ORDER BY cluster""".stripMargin,
    "bpe_pair_counts" ->
      s"""WITH words AS (
         |  SELECT unnest($toksSql) AS w FROM documents
         |), pairs_ AS (
         |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair
         |  FROM words, LATERAL unnest(generate_series(1, length(w) - 1))
         |    AS t(i)
         |  WHERE length(w) >= 2
         |)
         |SELECT pair, count(*) AS n FROM pairs_
         |GROUP BY pair ORDER BY n DESC, pair LIMIT 30""".stripMargin,
    "bpe_train_merges" ->
      s"""WITH $bpeDictRoundsCte
         |SELECT CAST(1 AS INTEGER) AS round, pair, n FROM t1
         |${(2 to BpeRounds)
          .map(k => s"UNION ALL SELECT $k, pair, n FROM t$k")
          .mkString("\n")}
         |ORDER BY round""".stripMargin,
    // The batched trainer is pinned ORDER-FREE against the sequential
    // rounds: same merged vocabulary, same at-acceptance counts
    // (disjointness makes counts order-invariant), acceptance order
    // free to differ by the documented one-round deferral.
    "bpe_train_batched" ->
      s"""WITH $bpeDictRoundsCte,
         |seqm AS (
         |  SELECT pair, n FROM t1
         |${(2 to BpeRounds)
          .map(k => s"  UNION ALL SELECT pair, n FROM t$k")
          .mkString("\n")}
         |)
         |SELECT pair, n FROM seqm ORDER BY pair""".stripMargin,
    // Same unrolled training rounds; the finished dictionary
    // d{BpeRounds} (raw word → merged form) then joins the
    // DOC-ATTRIBUTED instances ONCE and reduces to the per-doc
    // compression report — mirroring the Spark side's dictionary
    // join.
    "bpe_apply" ->
      s"""WITH $bpeDictRoundsCte,
         |inst AS (
         |  SELECT doc_id, w AS rw
         |  FROM (SELECT doc_id, unnest($toksSql) AS w FROM documents) u
         |  WHERE length(w) >= 2
         |)
         |SELECT doc_id,
         |       count(*) AS n_words,
         |       CAST(sum(length(rw)) AS BIGINT) AS n_symbols_raw,
         |       CAST(sum(len(string_split(dd.w, ' '))) AS BIGINT)
         |         AS n_symbols,
         |       CAST(sum(len(string_split(dd.w, ' '))) * 1000000
         |         // sum(length(rw)) AS BIGINT) AS compression_ppm
         |FROM inst JOIN d$BpeRounds dd ON dd.raw = inst.rw
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // The imperative fast path must be gate-indistinguishable from
    // the declarative apply — same oracle, verbatim.
    "bpe_apply_fast" ->
      s"""WITH $bpeDictRoundsCte,
         |inst AS (
         |  SELECT doc_id, w AS rw
         |  FROM (SELECT doc_id, unnest($toksSql) AS w FROM documents) u
         |  WHERE length(w) >= 2
         |)
         |SELECT doc_id,
         |       count(*) AS n_words,
         |       CAST(sum(length(rw)) AS BIGINT) AS n_symbols_raw,
         |       CAST(sum(len(string_split(dd.w, ' '))) AS BIGINT)
         |         AS n_symbols,
         |       CAST(sum(len(string_split(dd.w, ' '))) * 1000000
         |         // sum(length(rw)) AS BIGINT) AS compression_ppm
         |FROM inst JOIN d$BpeRounds dd ON dd.raw = inst.rw
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "rare_token_ratio" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM documents
         |), vocab AS (
         |  SELECT token FROM (
         |    SELECT token, count(*) AS n FROM tok GROUP BY token
         |    ORDER BY n DESC, token LIMIT 20) v
         |)
         |SELECT t.doc_id,
         |       count(*) AS n_tokens,
         |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_rare,
         |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
         |            * 1000000 // count(*) AS BIGINT) AS rare_ppm
         |FROM tok t LEFT JOIN vocab v ON t.token = v.token
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "minhash_signatures" ->
      s"""WITH $tokHashCte
         |$sigSelect ORDER BY doc_id""".stripMargin,
    "neardup_cap_report" -> {
      val bandSelects = bandSelectsSql
      def stageSelect(stage: String, cap: Int, from: String) =
        s"""SELECT '$stage' AS stage, $cap AS cap_limit,
           |       count(*) AS n_keys_total,
           |       CAST(sum(CASE WHEN n > $cap THEN 1 ELSE 0 END)
           |         AS BIGINT) AS n_keys_dropped,
           |       CAST(sum(CASE WHEN n > $cap THEN n ELSE 0 END)
           |         AS BIGINT) AS n_postings_dropped
           |FROM $from""".stripMargin
      s"""WITH $tokHashCte,
         |sigs AS ($sigSelect),
         |bands AS (
         |  $bandSelects
         |), bucketdf AS (
         |  SELECT band, key, count(*) AS n FROM bands GROUP BY band, key
         |), shdf AS (
         |  SELECT sh, count(*) AS n FROM (
         |    SELECT DISTINCT doc_id, sh FROM (
         |      SELECT doc_id, unnest(${wordShinglesSql(toksSql, 3)}) AS sh
         |      FROM documents) u) r
         |  GROUP BY sh
         |), tokdf AS (
         |  SELECT tok, count(*) AS n FROM (
         |    SELECT DISTINCT doc_id, unnest($toksSql) AS tok
         |    FROM documents) u
         |  GROUP BY tok
         |)
         |${stageSelect("invidx_df", InvIdxDfCap, "tokdf")}
         |UNION ALL
         |${stageSelect("minhash_bucket", BucketCap, "bucketdf")}
         |UNION ALL
         |${stageSelect("shingle_df", DfCap, "shdf")}
         |ORDER BY stage""".stripMargin
    },
    "minhash_band_pairs" -> {
      val bandSelects = bandSelectsSql
      val matchExpr = (0 until 8)
        .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $tokHashCte,
         |sigs AS ($sigSelect),
         |bands AS (
         |  $bandSelects
         |), small AS (
         |  SELECT b.* FROM bands b
         |  JOIN (SELECT band, key FROM bands GROUP BY band, key
         |        HAVING count(*) <= $BucketCap) ok
         |    ON b.band = ok.band AND b.key = ok.key
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM small x JOIN small y
         |    ON x.band = y.band AND x.key = y.key
         |  WHERE x.doc_id < y.doc_id
         |)
         |SELECT a, b,
         |       CAST($matchExpr AS INTEGER) AS n_match,
         |       CAST($matchExpr AS DOUBLE) / 8 AS est_jaccard
         |FROM cand
         |JOIN sigs sa ON sa.doc_id = a
         |JOIN sigs sb ON sb.doc_id = b
         |ORDER BY n_match DESC, a ASC, b ASC LIMIT 20""".stripMargin
    },
    "minhash_eval" -> {
      val bandSelects = bandSelectsSql
      s"""WITH $tokHashCte,
         |sigs AS ($sigSelect),
         |bands AS (
         |  $bandSelects
         |), small AS (
         |  SELECT b.* FROM bands b
         |  JOIN (SELECT band, key FROM bands GROUP BY band, key
         |        HAVING count(*) BETWEEN 2 AND $BucketCap) ok
         |    ON b.band = ok.band AND b.key = ok.key
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM small x JOIN small y
         |    ON x.band = y.band AND x.key = y.key
         |  WHERE x.doc_id < y.doc_id
         |    AND x.doc_id < 200 AND y.doc_id < 200
         |), st AS (
         |  SELECT doc_id, h FROM tok WHERE doc_id < 200
         |), sz AS (
         |  SELECT doc_id, count(*) AS sz FROM st GROUP BY 1
         |), intr AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
         |  FROM st x JOIN st y ON x.h = y.h AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2
         |), truth AS (
         |  SELECT i.a, i.b FROM intr i
         |  JOIN sz za ON za.doc_id = i.a
         |  JOIN sz zb ON zb.doc_id = i.b
         |  WHERE i.i * 5 >= (za.sz + zb.sz - i.i) * 4
         |), counts AS (
         |  SELECT (SELECT count(*) FROM truth) AS n_truth,
         |         (SELECT count(*) FROM cand) AS n_cand,
         |         (SELECT count(*) FROM cand c JOIN truth t
         |            ON t.a = c.a AND t.b = c.b) AS n_tp
         |)
         |SELECT n_truth, n_cand, n_tp,
         |       CASE WHEN n_cand > 0
         |         THEN CAST(1000000 * n_tp // n_cand AS BIGINT)
         |       END AS precision_ppm,
         |       CASE WHEN n_truth > 0
         |         THEN CAST(1000000 * n_tp // n_truth AS BIGINT)
         |       END AS recall_ppm
         |FROM counts""".stripMargin
    },
    "incremental_neardup" -> {
      val bandSelects = bandSelectsSql
      val matchExpr = (0 until 8)
        .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $tokHashCte,
         |sigs AS ($sigSelect),
         |bands AS (
         |  $bandSelects
         |), small AS (
         |  SELECT b.* FROM bands b
         |  JOIN (SELECT band, key FROM bands GROUP BY band, key
         |        HAVING count(*) BETWEEN 2 AND $BucketCap) ok
         |    ON b.band = ok.band AND b.key = ok.key
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM small x JOIN small y
         |    ON x.band = y.band AND x.key = y.key
         |  WHERE x.doc_id >= 250 AND y.doc_id < 250
         |), scored AS (
         |  SELECT a, b, $matchExpr AS n_match
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = a
         |  JOIN sigs sb ON sb.doc_id = b
         |  WHERE $matchExpr >= 4
         |), ranked AS (
         |  SELECT a, b, n_match,
         |         row_number() OVER (PARTITION BY a
         |           ORDER BY n_match DESC, b ASC) AS rn
         |  FROM scored
         |)
         |SELECT a AS doc_id, b AS dup_of, CAST(n_match AS INTEGER) AS n_match
         |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },
    // The streaming screen's contract: bucket viability over CORPUS
    // members only (count BETWEEN 1 AND cap — the index side is
    // bounded, queries add no state and cannot retroactively poison
    // a bucket), candidates new×corpus within viable buckets,
    // n_match ≥ 4, best match per new doc. Identical signature/band
    // derivations to the batch oracles.
    "stream_neardup" -> {
      val bandSelects = bandSelectsSql
      val matchExpr = (0 until 8)
        .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $tokHashCte,
         |sigs AS ($sigSelect),
         |bands AS (
         |  $bandSelects
         |), okb AS (
         |  SELECT band, key FROM bands WHERE doc_id < 250
         |  GROUP BY band, key HAVING count(*) BETWEEN 1 AND $BucketCap
         |), cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x
         |  JOIN okb ON x.band = okb.band AND x.key = okb.key
         |  JOIN bands y ON y.band = x.band AND y.key = x.key
         |  WHERE x.doc_id >= 250 AND y.doc_id < 250
         |), scored AS (
         |  SELECT a, b, $matchExpr AS n_match
         |  FROM cand
         |  JOIN sigs sa ON sa.doc_id = a
         |  JOIN sigs sb ON sb.doc_id = b
         |  WHERE $matchExpr >= 4
         |), ranked AS (
         |  SELECT a, b, n_match,
         |         row_number() OVER (PARTITION BY a
         |           ORDER BY n_match DESC, b ASC) AS rn
         |  FROM scored
         |)
         |SELECT a AS doc_id, b AS dup_of, CAST(n_match AS INTEGER) AS n_match
         |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },
    "stream_neardup_report" -> {
      val bandSelects = bandSelectsSql
      s"""WITH $tokHashCte,
         |sigs AS ($sigSelect),
         |bands AS (
         |  $bandSelects
         |)
         |SELECT band, count(*) AS n_buckets,
         |       CAST(sum(CASE WHEN n > $BucketCap THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_poisoned,
         |       CAST(sum(CASE WHEN n > $BucketCap THEN n ELSE 0 END)
         |         AS BIGINT) AS n_postings_dropped
         |FROM (SELECT band, key, count(*) AS n
         |      FROM bands WHERE doc_id < 250
         |      GROUP BY band, key) c
         |GROUP BY band ORDER BY band""".stripMargin
    },
    "minhash_agg_typed" -> {
      val sigConcat = (0 until 8).map(i => s"h$i").mkString(", ")
      s"""WITH $tokHashCte,
         |sigs AS ($sigSelect)
         |SELECT doc_id, concat_ws('_', $sigConcat) AS signature
         |FROM sigs ORDER BY doc_id""".stripMargin
    },
    "simhash16" -> {
      val sums = (0 until 16)
        .map(b =>
          s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n         ")
      val assemble = (0 until 16)
        .map(b => s"CASE WHEN s$b > 0 THEN ${1 << b} ELSE 0 END")
        .mkString(" + ")
      s"""WITH $tokHashCte,
         |bits AS (
         |  SELECT doc_id,
         |         $sums
         |  FROM tok GROUP BY doc_id)
         |SELECT doc_id, CAST($assemble AS INTEGER) AS simhash
         |FROM bits ORDER BY doc_id""".stripMargin
    },
    "simhash_neardup" ->
      s"""WITH $simhashPairCtes
         |SELECT a, b, hamming FROM shpairs
         |ORDER BY a, b""".stripMargin,
    "dedup_policy" ->
      s"""WITH RECURSIVE
         |$jaccardPairsSqlCte,
         |$simhashPairCtes,
         |fpt AS (
         |  SELECT doc_id, ${hash60Sql(normSql)} AS fp FROM documents
         |), fpg AS (
         |  SELECT fp, min(doc_id) AS rep, count(*) AS cnt
         |  FROM fpt GROUP BY fp
         |), exacte AS MATERIALIZED (
         |  SELECT g.rep AS a, f.doc_id AS b
         |  FROM fpt f JOIN fpg g USING (fp)
         |  WHERE g.cnt >= 2 AND f.doc_id <> g.rep
         |), jace AS MATERIALIZED (
         |  SELECT a, b FROM pairs WHERE jaccard >= 0.9
         |), hi AS (
         |  SELECT a, b FROM exacte
         |  UNION SELECT a, b FROM jace
         |  UNION SELECT a, b FROM shpairs
         |), edges AS (
         |  SELECT a AS src, b AS dst FROM hi
         |  UNION SELECT b, a FROM hi
         |), nodes AS (SELECT DISTINCT src AS doc FROM edges),
         |reach(doc, lab) AS (
         |  SELECT doc, doc FROM nodes
         |  UNION
         |  SELECT e.src, r.lab FROM edges e JOIN reach r
         |    ON e.dst = r.doc
         |), comp AS (
         |  SELECT doc, min(lab) AS component FROM reach GROUP BY doc
         |), csz AS (
         |  SELECT component, count(*) AS sz FROM comp GROUP BY 1
         |)
         |SELECT (SELECT count(*) FROM exacte) AS n_exact_edges,
         |       (SELECT count(*) FROM jace) AS n_jaccard_edges,
         |       (SELECT count(*) FROM shpairs) AS n_simhash_edges,
         |       count(*) AS n_clusters,
         |       CAST(sum(sz) AS BIGINT) AS n_nodes,
         |       CAST(sum(sz) - count(*) AS BIGINT) AS n_removed,
         |       CAST(max(sz) AS BIGINT) AS largest_cluster
         |FROM csz""".stripMargin,
    "minhash_jaccard_est" -> {
      val nMatch = (0 until 8)
        .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $jaccardPairsSqlCte,
         |$tokHashCte,
         |sig AS ($sigSelect)
         |SELECT p.a, p.b, p.jaccard,
         |       CAST($nMatch AS DOUBLE) / 8 AS est_jaccard,
         |       abs(CAST($nMatch AS DOUBLE) / 8 - p.jaccard) AS abs_err
         |FROM pairs p
         |JOIN sig sa ON sa.doc_id = p.a
         |JOIN sig sb ON sb.doc_id = p.b
         |ORDER BY p.jaccard DESC, p.a ASC, p.b ASC
         |LIMIT 20""".stripMargin
    },
    "char_diversity" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE length(text) > 0
        |), counts AS (
        |  SELECT doc_id, ch, count(*) AS c
        |  FROM chars GROUP BY doc_id, ch
        |)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_chars_tot,
        |       CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
        |         AS max_char_frac,
        |       CAST(sum(c*c) AS DOUBLE) /
        |         (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
        |         AS coll_prob,
        |       (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) /
        |         CAST(sum(c*c) AS DOUBLE) AS eff_alphabet
        |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "length_p90_filter" ->
      """WITH hist AS (
        |  SELECT n_chars, count(*) AS c FROM documents GROUP BY n_chars
        |), tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_total FROM hist
        |), cum AS (
        |  SELECT n_chars,
        |         sum(c) OVER (ORDER BY n_chars
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cumc
        |  FROM hist
        |), thr AS (
        |  SELECT min(n_chars) AS p90_threshold,
        |         min(n_total) AS n_docs_total
        |  FROM cum, tot WHERE cumc >= ceil(0.9 * n_total)
        |)
        |SELECT t.p90_threshold,
        |       t.n_docs_total,
        |       count(*) AS n_docs_kept,
        |       CAST(count(*) AS DOUBLE) / CAST(t.n_docs_total AS DOUBLE)
        |         AS frac_kept
        |FROM documents d, thr t
        |WHERE d.n_chars >= t.p90_threshold
        |GROUP BY t.p90_threshold, t.n_docs_total""".stripMargin,
    "heavy_hitters" -> heavyHittersOracle,
    // The STREAMING summary must land on the identical final report:
    // same oracle string, so the stateful path cannot drift from the
    // batch sketch (both are candidates + exact recount; see
    // StreamHeavyHitters' determinism contract).
    "stream_heavy_hitters" -> heavyHittersOracle,
    "cms_estimate" ->
      s"""WITH toks AS MATERIALIZED (
         |  SELECT unnest($toksSql) AS token FROM documents
         |), exact_ AS MATERIALIZED (
         |  SELECT token, count(*) AS exact_n FROM toks GROUP BY token
         |), rws AS (
         |  SELECT u.r AS r,
         |         ${hash60Sql(
           "CAST(u.r AS VARCHAR) || ':' || token")} % 16 AS bucket,
         |         count(*) AS cnt
         |  FROM toks, LATERAL unnest(range(0, 3)) AS u(r)
         |  GROUP BY 1, 2
         |), lk AS (
         |  SELECT token, u.r AS r,
         |         ${hash60Sql(
           "CAST(u.r AS VARCHAR) || ':' || token")} % 16 AS bucket
         |  FROM exact_, LATERAL unnest(range(0, 3)) AS u(r)
         |), est AS (
         |  SELECT token, min(cnt) AS est_n
         |  FROM lk JOIN rws USING (r, bucket) GROUP BY token
         |)
         |SELECT token, exact_n, est_n, est_n - exact_n AS overcount
         |FROM exact_ JOIN est USING (token)
         |ORDER BY exact_n DESC, token ASC LIMIT 20""".stripMargin
  )
}
