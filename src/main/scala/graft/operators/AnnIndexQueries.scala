package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.Vectors._
import SimilarityQueries._

/** Persisted ANN index: the build-once / query-many split every
  * billion-scale vector deployment runs (the reference recomputes
  * nothing because it is 157 lines of pandas; at 100 TB the index IS
  * the artifact — built by a nightly job, served by everything else).
  *
  * The in-session ANN family ([[SimilarityQueries]]) derives buckets,
  * cells and codes from the embeddings each run. This module writes
  * those derivations as partitioned parquet tables and serves the same
  * top-K queries from the written tables alone:
  *
  *   - `vectors/`       — the LSH-bucketed vector store, one row per
  *     (table, vector), hive-partitioned by (t, bucket): a probe of
  *     bucket b in table t is a partition-pruned directory read, so
  *     serving cost scales with probed-partition size, never with N.
  *   - `ivf_centroids/` — the coarse-quantizer centroids (bounded by
  *     K; one file, broadcast by every consumer).
  *   - `ivf_assign/`    — (vec_id, cid), partitioned by cid: an IVF
  *     probe reads only its cell partitions.
  *   - `pq_codebook/`   — (m, code, csub), M×Codes rows, broadcast.
  *   - `pq_codes/`      — (vec_id, m, code): 8 bytes of codes per
  *     vector instead of 256 bytes of floats — the table an ADC scan
  *     actually reads.
  *
  * The build stages REUSE the in-session derivations
  * ([[SimilarityQueries.pqSubvectors]]/[[SimilarityQueries.pqCodesOf]],
  * `ivfProbes`, `Vectors.lshBucketAt`), so the persisted index and the
  * in-session queries cannot drift; the serve queries are oracle-pinned
  * to the SAME DuckDB SQL as their in-session twins
  * (`cosine_topk_lsh_hi`, `ivfpq_topk`) — identical answers from the
  * persisted index are part of the gate, not an aspiration.
  */
object AnnIndexQueries {

  /** One index build per (session, sfDir) — every serve query and the
    * manifest consume the same written tables, exactly the
    * build-once/query-many contract the module demonstrates.
    */
  private val indexCache = new SessionMemo[String]

  private[operators] def indexDir(s: SparkSession, d: String): String =
    indexCache.getOrCompute(s, d)(build(s, d))

  /** The session's scratch dir `name-<hash of d>`: an index is
    * memoized per (session, source dir), so two fixture scales in one
    * session (the test suites) must not overwrite each other's index
    * mid-read.
    */
  private def root(s: SparkSession, name: String, d: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    graft.Fs.scratch(s, s"$name-$h")
  }

  /** LSH vector store rows for a corpus: NTables rows per vector,
    * partitioned downstream by (t, bucket). The embedding rides
    * along — the store doubles as the float-vector table for exact
    * scoring/re-rank, laid out so a probe's candidates are one
    * partition directory. Shared by the full build and the
    * incremental layers so the bucketing cannot drift.
    */
  private def lshRowsOf(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("embedding"),
        explode(array((0 until NTables).map(t =>
          struct(lit(t).as("t"),
            lshBucketAt(col("embedding"), NPlanes, t * NPlanes)
              .as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("embedding"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))

  /** IVF assignment of an arbitrary corpus against a PERSISTED
    * centroid table (cid, centv): same bit-deterministic cosine and
    * (sim desc, cid asc) argmax as the in-session `ivfProbes` — the
    * append path must assign new vectors with the FROZEN quantizer,
    * not retrain it.
    */
  private def assignAgainst(
      corpus: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cid").asc)
    corpus
      .crossJoin(broadcast(cents.select(col("cid"), col("centv"))))
      .withColumn("csim", cosine(col("embedding"), col("centv")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cid"))
  }

  private def build(s: SparkSession, d: String): String = {
    val dir = root(s, "graft_ann_index", d)
    val emb = embeddings(s, d)

    lshRowsOf(emb).write.mode("overwrite")
      .partitionBy("t", "bucket").parquet(s"$dir/vectors")

    // IVF: centroid table (bounded by NCells — one file) and the
    // cell assignment, partitioned by cid.
    emb.filter(col("vec_id") < NCells)
      .select(col("vec_id").as("cid"), col("embedding").as("centv"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/ivf_centroids")
    ivfProbes(s, d, 1)
      .select(col("vec_id"), col("cid"))
      .write.mode("overwrite")
      .partitionBy("cid").parquet(s"$dir/ivf_assign")

    // PQ: codebook (M×Codes, one file) + per-vector codes — the same
    // subspace/argmin stages as the in-session encode.
    val subs = pqSubvectors(
      emb.select(col("vec_id"), col("embedding").as("vec")))
    val cents = pqCodebookOf(subs)
    cents.coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/pq_codebook")
    pqCodesOf(subs, cents)
      .write.mode("overwrite").parquet(s"$dir/pq_codes")
    dir
  }

  // ------------------------------------------------------------------
  // Incremental maintenance: append-only DELTA layers + compaction.
  //
  // A 100 TB persisted index is never fully rebuilt for a day's new
  // embeddings: the append job hashes/assigns/encodes ONLY the new
  // batch against the frozen quantizers (centroids + PQ codebook are
  // trained at base-build time — both are derived from the smallest
  // vec_ids, which live in the base corpus, so freezing them loses
  // nothing here) and writes the derivations as a sibling DELTA layer
  // under the index root. Serving reads base ∪ delta; a periodic
  // compaction merges the layers back into one (restoring the
  // one-directory-per-partition read pattern as deltas accumulate).
  // Because every per-vector derivation (LSH bucket, cell id, PQ
  // code) is corpus-independent given the quantizers, base ∪ delta is
  // BYTE-IDENTICAL to a from-scratch rebuild over the unioned corpus
  // — `ann_index_compact` pins that with the full-rebuild oracle, and
  // the incr serve queries pin it with the in-session oracles.
  // ------------------------------------------------------------------

  /** The incremental build's observable result: the index root, the
    * layer split points (layer i holds vec_ids in
    * [thresholds(i), thresholds(i+1))), and — per append — file
    * snapshots of every EXISTING layer taken before and after that
    * append. AnnIndexSpec asserts each pair is identical: an append
    * must touch ONLY its own new delta, never base or earlier deltas.
    */
  private[graft] case class IncrIndex(
      dir: String,
      thresholds: Seq[Long],
      appendProofs: Seq[(Seq[(String, Long, Long)],
        Seq[(String, Long, Long)])])

  private val incrCache = new SessionMemo[IncrIndex]

  private[graft] def incrIndex(s: SparkSession, d: String): IncrIndex =
    incrCache.getOrCompute(s, d)(buildIncr(s, d))

  /** Recursive (relative path, size, mtime) inventory of a layer dir,
    * sorted — the "did the append touch base?" evidence.
    */
  private def snapshot(dir: String): Seq[(String, Long, Long)] = {
    val base = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(base)) Seq.empty
    else {
      val walk = java.nio.file.Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(p => (
            base.relativize(p).toString,
            java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis))
          .toSeq.sortBy(_._1)
      } finally walk.close()
    }
  }

  /** Write one layer (base or delta): the corpus's LSH rows, its IVF
    * assignment against the frozen centroids, and its PQ codes
    * against the frozen codebook. Identical stage code to the full
    * build — only the corpus differs.
    */
  private def writeLayer(
      s: SparkSession, corpus: DataFrame,
      indexDir: String, layerDir: String): Unit = {
    lshRowsOf(corpus).write.mode("overwrite")
      .partitionBy("t", "bucket").parquet(s"$layerDir/vectors")
    assignAgainst(corpus, s.read.parquet(s"$indexDir/ivf_centroids"))
      .write.mode("overwrite")
      .partitionBy("cid").parquet(s"$layerDir/ivf_assign")
    pqCodesOf(
      pqSubvectors(corpus.select(col("vec_id"), col("embedding").as("vec"))),
      s.read.parquet(s"$indexDir/pq_codebook"))
      .write.mode("overwrite").parquet(s"$layerDir/pq_codes")
  }

  /** The three growing components and their partition layouts; the
    * two quantizer tables are bounded and frozen, so they are never
    * layered or compacted.
    */
  private val LayeredComponents: Seq[(String, Seq[String])] = Seq(
    "vectors" -> Seq("t", "bucket"),
    "ivf_assign" -> Seq("cid"),
    "pq_codes" -> Seq.empty)

  /** Number of accumulated append batches in the incremental build —
    * deltas ACCUMULATE between compactions, so two proves the general
    * shape (layer isolation per append, serve over base ∪ all
    * deltas), not the one-delta special case.
    */
  private[graft] val NDeltas = 2

  private def buildIncr(s: SparkSession, d: String): IncrIndex = {
    val dir = root(s, "graft_ann_incr", d)
    val emb = embeddings(s, d)

    // The "history vs arriving days" split: first 80% of vec_ids are
    // the already-indexed corpus, the rest arrive as two successive
    // append batches (80–90%, 90–100%).
    val n = emb.count()
    val thresholds = Seq(0L, 4L * n / 5, 9L * n / 10, n)
    require(thresholds(1) > math.max(NCells, PqCodes),
      s"base corpus [0,${thresholds(1)}) must contain the quantizer " +
        "training rows")
    require(thresholds.sliding(2).forall(w => w(1) > w.head),
      s"degenerate layer split $thresholds for corpus of $n")
    def slice(i: Int): DataFrame = emb.filter(
      col("vec_id") >= thresholds(i) &&
        col("vec_id") < thresholds(i + 1))
    val base = slice(0)

    // Base build: train (= snapshot) the quantizers, then write the
    // base layer with them.
    base.filter(col("vec_id") < NCells)
      .select(col("vec_id").as("cid"), col("embedding").as("centv"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/ivf_centroids")
    pqCodebookOf(
      pqSubvectors(base.select(col("vec_id"), col("embedding").as("vec"))))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/pq_codebook")
    writeLayer(s, base, dir, s"$dir/base")

    // Appends: derivations for each NEW batch only — every layer
    // already on disk must be untouched by every later append
    // (snapshots prove it per append).
    val proofs = (0 until NDeltas).map { i =>
      val watched = s"$dir/base" +:
        (0 until i).map(j => s"$dir/delta/d$j")
      val before = watched.flatMap(snapshot)
      writeLayer(s, slice(i + 1), dir, s"$dir/delta/d$i")
      val after = watched.flatMap(snapshot)
      (before, after)
    }

    // Compaction: merge each layered component back into one table,
    // preserving its partition layout.
    for ((comp, parts) <- LayeredComponents) {
      val merged = layeredRead(s, dir, comp)
      val w = merged.write.mode("overwrite")
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
        .parquet(s"$dir/compacted/$comp")
    }

    IncrIndex(dir, thresholds, proofs)
  }

  /** base ∪ delta0 ∪ … read of one layered component — what the
    * serve tier reads between compactions. Each layer root is read
    * separately and unioned (Spark's partition inference rejects
    * multiple partitioned roots in one read); pushed filters prune
    * partitions in EVERY branch, so a probe still reads only its
    * (t, bucket) or cid directories per layer.
    */
  private def layeredRead(
      s: SparkSession, dir: String, comp: String): DataFrame =
    ((s"$dir/base/$comp") +:
      (0 until NDeltas).map(i => s"$dir/delta/d$i/$comp"))
      .map(p => s.read.parquet(p))
      .reduce(_ unionByName _)

  /** Component stats computed FROM a written table: rows, distinct
    * keys, and an integer content checksum — the triple the manifest
    * oracle-pins against DuckDB re-deriving the same index from the
    * source embeddings.
    */
  private def stats(
      name: String, df: DataFrame,
      key: Column, keyId: Column): DataFrame =
    df.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(keyId).as("n_keys"),
        sum(key).cast("long").as("key_sum"))
      .select(lit(name).as("component"),
        col("n_rows"), col("n_keys"), col("key_sum"))

  /** The three layered components' stats for one layer directory,
    * tagged with the layer name — the `ann_index_append` manifest.
    */
  private def layerStats(
      s: SparkSession, layer: String, layerDir: String): DataFrame =
    stats("ivf_assign", s.read.parquet(s"$layerDir/ivf_assign"),
        col("cid"), col("cid"))
      .unionByName(stats("lsh_vectors",
        s.read.parquet(s"$layerDir/vectors"), col("bucket"),
        col("t") * lit(1 << NPlanes) + col("bucket")))
      .unionByName(stats("pq_codes",
        s.read.parquet(s"$layerDir/pq_codes"), col("code"),
        col("m") * lit(PqCodes) + col("code")))
      .select(lit(layer).as("layer"), col("component"),
        col("n_rows"), col("n_keys"), col("key_sum"))

  /** Five-component manifest over a set of component frames — shared
    * by `ann_index_build` (full index) and `ann_index_compact`
    * (merged layers), which must produce IDENTICAL manifests; both
    * pin against the same full-rebuild oracle.
    */
  private def manifestOf(
      vecs: DataFrame, cents: DataFrame, assign: DataFrame,
      codebook: DataFrame, codes: DataFrame): DataFrame =
    stats("ivf_assign", assign, col("cid"), col("cid"))
      .unionByName(stats("ivf_centroids", cents,
        col("cid"), col("cid")))
      .unionByName(stats("lsh_vectors", vecs, col("bucket"),
        col("t") * lit(1 << NPlanes) + col("bucket")))
      .unionByName(stats("pq_codebook", codebook, col("code"),
        col("m") * lit(PqCodes) + col("code")))
      .unionByName(stats("pq_codes", codes, col("code"),
        col("m") * lit(PqCodes) + col("code")))
      .orderBy("component")

  /** Serve the HIGH-RECALL LSH top-K from a persisted bucketed
    * vector store: probe keys explode from the query rows of the
    * store, the candidate join hits only probed (t, bucket)
    * partitions, and exact scoring reads float vectors from the
    * store itself — the source embeddings table is never touched.
    * One implementation for the compact store and the base ∪ delta
    * layered read, so the incremental serve cannot drift.
    */
  private[graft] def lshServe(vecs: DataFrame): DataFrame = {
    val masks = (0 until (1 << NPlanes))
      .filter(m => Integer.bitCount(m) <= ProbeRadius)
    val probes = vecs
      .filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("t"),
        explode(array(masks.map(m =>
          col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val cand = broadcast(probes)
      .join(vecs.select(col("vec_id"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .filter(col("qid") =!= col("vec_id"))
      .select("qid", "vec_id")
      .distinct()
    // Canonical float-vector copy: table 0 of the store (each table
    // carries the full vector set).
    val store = vecs.filter(col("t") === 0)
      .select(col("vec_id"), col("embedding"))
    val qe = store.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id").asc)
    cand
      .join(broadcast(qe), Seq("qid"))
      .join(store, Seq("vec_id"))
      .withColumn("sim", cosine(col("qe"), col("embedding")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select("qid", "vec_id", "rnk", "sim")
      .orderBy("qid", "rnk")
  }

  /** Serve IVF-PQ top-K from persisted component frames: centroids
    * broadcast from the bounded centroid table, candidates arrive
    * through the cid-partitioned assignment, and ADC scores against
    * the codeword reconstruction decoded from codes ⋈ codebook (the
    * decode tail is shared with the in-session encode, so the
    * order-pinned L2 fold sees identical arrays). Shared by the
    * compact and layered serve paths.
    */
  private[graft] def ivfpqServe(
      vecs: DataFrame, cents: DataFrame, assign: DataFrame,
      codebook: DataFrame, codes: DataFrame): DataFrame = {
    val store = vecs.filter(col("t") === 0)
      .select(col("vec_id"), col("embedding"))
    val recon = pqReconFromCodes(codes, codebook)
    val q = store.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wProbe = Window.partitionBy("qid")
      .orderBy(col("csim").desc, col("cid").asc)
    val qprobes = q
      .crossJoin(broadcast(cents)) // bounded by NCells
      .withColumn("csim", cosine(col("qe"), col("centv")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= 2)
      .select("qid", "cid")
    val wTop = Window.partitionBy("qid")
      .orderBy(col("ad2").asc, col("vec_id").asc)
    broadcast(qprobes)
      .join(assign, Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .select("qid", "vec_id")
      .distinct()
      .join(recon, Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("ad2", l2sq(col("qe"), col("recon")))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= TopK)
      .select("qid", "vec_id", "rnk", "ad2")
      .orderBy("qid", "rnk")
  }

  // ------------------------------------------------------------------
  // CATALOG-PINNED index: version-linked to the kv table it indexes.
  //
  // The plain persisted index above is built from raw parquet and has
  // no tie to its source — DML the embeddings and every serve query
  // silently answers from a stale index, the first failure a nightly
  // 100 TB pipeline hits. This variant builds FROM a kv catalog table
  // and records (table dir, snapshot version) in a `_pin.json`
  // manifest beside the index: serving FAILS LOUD when the table head
  // has moved (StaleAnnIndexException), and the refresh path is
  // CDC-INCREMENTAL — only the rows the `$changes` table reports
  // since the pinned version are hashed into a new delta layer (the
  // same frozen-derivation append the incremental index proves), then
  // the pin advances. Maintenance commits (compaction etc.) emit no
  // changes and advance the pin with an empty refresh. Non-insert
  // changes (DELETE/UPDATE of indexed rows) refuse the incremental
  // path — a tombstone cannot be appended into an LSH store — and
  // demand a rebuild, fail-loud rather than serve resurrected rows.
  // ------------------------------------------------------------------

  final class StaleAnnIndexException(msg: String)
      extends RuntimeException(msg)

  private[graft] case class AnnPin(
      tableDir: String, version: Int, deltas: Int)

  private def pinPath(idxDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(idxDir, "_pin.json")

  /** Atomic (temp + move) like every metadata write in the catalog:
    * a torn pin must never make a stale index look current.
    */
  private[graft] def writePin(idxDir: String, pin: AnnPin): Unit = {
    val body =
      s"""{"table":"${pin.tableDir}","version":${pin.version},""" +
        s""""deltas":${pin.deltas}}"""
    java.nio.file.Files.createDirectories(pinPath(idxDir).getParent)
    graft.Fs.replaceAtomically(pinPath(idxDir),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private val PinRe =
    """\{"table":"([^"]+)","version":(\d+),"deltas":(\d+)\}""".r

  private[graft] def readPin(idxDir: String): AnnPin = {
    val p = pinPath(idxDir)
    require(java.nio.file.Files.isRegularFile(p),
      s"no _pin.json under $idxDir — not a catalog-pinned ann index")
    new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8).trim match {
      case PinRe(t, v, k) => AnnPin(t, v.toInt, k.toInt)
      case other => throw new IllegalArgumentException(
        s"corrupt _pin.json under $idxDir: $other")
    }
  }

  /** Build the LSH store from a snapshotted kv catalog table and pin
    * it to the version it indexed. The build captures the head BEFORE
    * reading and re-checks it AFTER writing — a commit racing the
    * build would leave an index of ambiguous lineage, so it fails
    * loud instead (re-run; the table is untouched).
    */
  private[graft] def buildPinned(
      s: SparkSession, tableName: String, tableDir: String,
      idxDir: String): AnnPin = {
    graft.Fs.deleteRecursively(idxDir)
    val v0 = graft.sources.KvSnapshots.latest(tableDir).getOrElse(
      throw new IllegalArgumentException(
        s"$tableName has no snapshots — a pinned index needs a " +
          "version to pin"))
    val cs = s.table(tableName).columns
    val emb = s.table(tableName)
      .select(col(cs(0)).as("vec_id"), col("embedding"))
    lshRowsOf(emb).write.mode("overwrite")
      .partitionBy("t", "bucket").parquet(s"$idxDir/base/vectors")
    val v1 = graft.sources.KvSnapshots.latest(tableDir)
    require(v1.contains(v0),
      s"table $tableName moved from v$v0 to $v1 during the index " +
        "build — re-run (the scan's lineage is ambiguous)")
    val pin = AnnPin(tableDir, v0, 0)
    writePin(idxDir, pin)
    pin
  }

  /** base ∪ delta read of the pinned store's vector layers. */
  private def pinnedVectors(
      s: SparkSession, idxDir: String, pin: AnnPin): DataFrame =
    (s"$idxDir/base/vectors" +:
      (0 until pin.deltas).map(i => s"$idxDir/delta/d$i/vectors"))
      .map(p => s.read.parquet(p))
      .reduce(_ unionByName _)

  /** Serve the high-recall LSH top-K from a pinned index — REFUSING
    * to answer when the indexed table's head has moved past the pin.
    * The staleness check is one manifest-listing stat against the
    * pin, paid once per serve plan — metadata-cheap at any scale.
    */
  private[graft] def servePinned(
      s: SparkSession, idxDir: String): DataFrame = {
    val pin = readPin(idxDir)
    val head = graft.sources.KvSnapshots.latest(pin.tableDir)
    if (!head.contains(pin.version))
      throw new StaleAnnIndexException(
        s"ann index at $idxDir is pinned to v${pin.version} of " +
          s"${pin.tableDir} but the table head is " +
          s"${head.fold("<gone>")(v => s"v$v")} — run the " +
          "CDC-incremental refresh (insert-only history) or rebuild")
    lshServe(pinnedVectors(s, idxDir, pin))
  }

  /** CDC-INCREMENTAL refresh: hash ONLY the rows `$changes` reports
    * after the pinned version into a new delta layer, then advance
    * the pin to the table head. `changes` is the table's unfiltered
    * `$changes` frame (vec_id, embedding, _change_type,
    * _commit_version). Insert-only histories refresh in O(delta);
    * anything else (a delete/update touching indexed rows) refuses —
    * the sound options are rebuild or tombstone-aware serving, and
    * silently skipping a delete would serve resurrected rows.
    */
  private[graft] def refreshPinned(
      s: SparkSession, changes: DataFrame, idxDir: String): AnnPin = {
    val pin = readPin(idxDir)
    val head = graft.sources.KvSnapshots.latest(pin.tableDir)
      .getOrElse(throw new IllegalStateException(
        s"indexed table ${pin.tableDir} has no snapshots left"))
    if (head == pin.version) return pin
    val delta = changes
      .filter(col("_commit_version") > pin.version &&
        col("_commit_version") <= head)
    val nonInsert =
      delta.filter(col("_change_type") =!= "insert").count()
    require(nonInsert == 0L,
      s"the history after v${pin.version} carries $nonInsert " +
        "non-insert change rows — the incremental ann refresh is " +
        "append-only; rebuild the index instead")
    val cs = delta.columns
    val rows = delta.select(col(cs(0)).as("vec_id"), col("embedding"))
    val next =
      if (rows.isEmpty) pin.copy(version = head)
      else {
        lshRowsOf(rows).write.mode("overwrite")
          .partitionBy("t", "bucket")
          .parquet(s"$idxDir/delta/d${pin.deltas}/vectors")
        AnnPin(pin.tableDir, head, pin.deltas + 1)
      }
    writePin(idxDir, next)
    next
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // Build (or reuse) the persisted index and report a per-component
    // manifest READ BACK from the written tables — row counts,
    // distinct partition keys, and integer checksums over the derived
    // columns (bucket ids, cell ids, code ids). The oracle re-derives
    // all five components from the source embeddings in DuckDB, so a
    // wrong bucket/cell/code anywhere in the written index moves a
    // checksum and fails the hash.
    "ann_index_build" -> ((s, d) => {
      val dir = indexDir(s, d)
      manifestOf(
        s.read.parquet(s"$dir/vectors"),
        s.read.parquet(s"$dir/ivf_centroids"),
        s.read.parquet(s"$dir/ivf_assign"),
        s.read.parquet(s"$dir/pq_codebook"),
        s.read.parquet(s"$dir/pq_codes"))
    }),

    // INCREMENTAL appends: hash/assign/encode ONLY each new batch
    // (the last 20% of vec_ids, arriving as TWO successive appends —
    // deltas accumulate between compactions) against the quantizers
    // frozen at base-build time, each writing its own sibling delta
    // layer — base and earlier deltas are not touched (AnnIndexSpec
    // asserts the per-append snapshots). The manifest reports every
    // layer's three growing components read back from the written
    // tables; the oracle re-derives the same three-way split from the
    // source embeddings, so a wrong bucket/cell/code in ANY layer —
    // or a row landing in the wrong layer — moves a checksum.
    "ann_index_append" -> ((s, d) => {
      val idx = incrIndex(s, d)
      (0 until NDeltas)
        .map(i => layerStats(s, s"delta$i", s"${idx.dir}/delta/d$i"))
        .foldLeft(layerStats(s, "base", s"${idx.dir}/base"))(
          _ unionByName _)
        .orderBy("layer", "component")
    }),

    // COMPACTION: merge base ∪ delta back into single component
    // tables (same partition layouts). The manifest over the
    // compacted tables is pinned against the SAME full-rebuild
    // oracle as `ann_index_build` — compaction must be byte-
    // identical (at checksum granularity) to rebuilding the whole
    // index from the unioned corpus.
    "ann_index_compact" -> ((s, d) => {
      val idx = incrIndex(s, d)
      manifestOf(
        s.read.parquet(s"${idx.dir}/compacted/vectors"),
        s.read.parquet(s"${idx.dir}/ivf_centroids"),
        s.read.parquet(s"${idx.dir}/compacted/ivf_assign"),
        s.read.parquet(s"${idx.dir}/pq_codebook"),
        s.read.parquet(s"${idx.dir}/compacted/pq_codes"))
    }),

    // Serve between compactions: the SAME LSH top-K as
    // `ann_index_query`, reading base ∪ delta — pinned to the same
    // in-session oracle, so the layered read must give identical
    // answers to both the compact index and the session derivation.
    "ann_index_query_incr" -> ((s, d) => {
      val idx = incrIndex(s, d)
      lshServe(layeredRead(s, idx.dir, "vectors"))
    }),

    // And the IVF-PQ serve over the layered components (quantizer
    // tables are shared/frozen; the three growing components read
    // base ∪ delta).
    "ann_index_ivfpq_incr" -> ((s, d) => {
      val idx = incrIndex(s, d)
      ivfpqServe(
        layeredRead(s, idx.dir, "vectors"),
        s.read.parquet(s"${idx.dir}/ivf_centroids"),
        layeredRead(s, idx.dir, "ivf_assign"),
        s.read.parquet(s"${idx.dir}/pq_codebook"),
        layeredRead(s, idx.dir, "pq_codes"))
    }),

    // Serve the HIGH-RECALL LSH top-K from the PERSISTED index: probe
    // keys explode from the query rows of the bucketed store, the
    // candidate join hits only probed (t, bucket) partitions, and
    // exact scoring reads float vectors from the store itself — the
    // source embeddings table is never touched (AnnIndexSpec asserts
    // every scan in the plan is under the index root). Pinned to the
    // SAME oracle as the in-session `cosine_topk_lsh_hi`.
    "ann_index_query" -> ((s, d) =>
      lshServe(s.read.parquet(s"${indexDir(s, d)}/vectors"))),

    // Serve IVF-PQ top-K from the PERSISTED index: centroids broadcast
    // from the bounded centroid table, candidates arrive through the
    // cid-partitioned assignment, and ADC scores against the codeword
    // reconstruction decoded from pq_codes ⋈ pq_codebook (the decode
    // tail is shared with the in-session encode, so the order-pinned
    // L2 fold sees identical arrays). Pinned to the SAME oracle as
    // the in-session `ivfpq_topk`.
    "ann_index_ivfpq" -> ((s, d) => {
      val dir = indexDir(s, d)
      ivfpqServe(
        s.read.parquet(s"$dir/vectors"),
        s.read.parquet(s"$dir/ivf_centroids"),
        s.read.parquet(s"$dir/ivf_assign"),
        s.read.parquet(s"$dir/pq_codebook"),
        s.read.parquet(s"$dir/pq_codes"))
    }))

  // Re-derive all five index components from the source embeddings
  // with the same CTE chains the in-session oracles use, and emit
  // the same (rows, keys, checksum) triple per component. Shared
  // VERBATIM by `ann_index_build` (full index) and
  // `ann_index_compact` (merged base ∪ delta layers): compaction must
  // reproduce the full rebuild exactly.
  private val fullManifestOracle: String =
    s"""WITH $normCte,
       |$assignCte,
       |${tableBucketCte("t0", 0)},
       |${tableBucketCte("t1", NPlanes)},
       |$pqReconCtes,
       |lshrows AS (
       |  SELECT 0 AS t, vec_id, bucket FROM t0
       |  UNION ALL
       |  SELECT 1 AS t, vec_id, bucket FROM t1
       |)
       |SELECT component, n_rows, n_keys, key_sum FROM (
       |  SELECT 'ivf_assign' AS component, count(*) AS n_rows,
       |         count(DISTINCT cid) AS n_keys,
       |         CAST(sum(cid) AS BIGINT) AS key_sum
       |  FROM assign
       |  UNION ALL
       |  SELECT 'ivf_centroids', count(*), count(DISTINCT vec_id),
       |         CAST(sum(vec_id) AS BIGINT)
       |  FROM embeddings WHERE vec_id < $NCells
       |  UNION ALL
       |  SELECT 'lsh_vectors', count(*),
       |         count(DISTINCT t * ${1 << NPlanes} + bucket),
       |         CAST(sum(bucket) AS BIGINT)
       |  FROM lshrows
       |  UNION ALL
       |  SELECT 'pq_codebook', count(*),
       |         count(DISTINCT m * $PqCodes + code),
       |         CAST(sum(code) AS BIGINT)
       |  FROM cents
       |  UNION ALL
       |  SELECT 'pq_codes', count(*),
       |         count(DISTINCT m * $PqCodes + code),
       |         CAST(sum(code) AS BIGINT)
       |  FROM codes
       |) t ORDER BY component""".stripMargin

  // The append manifest's oracle: the SAME component derivations,
  // split into base/delta0/delta1 layers at the 80%/90% vec_id
  // thresholds the incremental build uses. A row assigned to the
  // wrong layer, or a wrong derivation in any layer, moves a
  // per-layer checksum.
  private val appendOracle: String = {
    val layerCase =
      """CASE WHEN vec_id < (SELECT tv1 FROM thr) THEN 'base'
        |         WHEN vec_id < (SELECT tv2 FROM thr) THEN 'delta0'
        |         ELSE 'delta1' END""".stripMargin
    s"""WITH $normCte,
       |$assignCte,
       |${tableBucketCte("t0", 0)},
       |${tableBucketCte("t1", NPlanes)},
       |$pqReconCtes,
       |thr AS (SELECT (4 * count(*)) // 5 AS tv1,
       |               (9 * count(*)) // 10 AS tv2 FROM embeddings),
       |lshrows AS (
       |  SELECT 0 AS t, vec_id, bucket FROM t0
       |  UNION ALL
       |  SELECT 1 AS t, vec_id, bucket FROM t1
       |)
       |SELECT layer, component, n_rows, n_keys, key_sum FROM (
       |  SELECT $layerCase AS layer,
       |         'ivf_assign' AS component, count(*) AS n_rows,
       |         count(DISTINCT cid) AS n_keys,
       |         CAST(sum(cid) AS BIGINT) AS key_sum
       |  FROM assign GROUP BY 1
       |  UNION ALL
       |  SELECT $layerCase,
       |         'lsh_vectors', count(*),
       |         count(DISTINCT t * ${1 << NPlanes} + bucket),
       |         CAST(sum(bucket) AS BIGINT)
       |  FROM lshrows GROUP BY 1
       |  UNION ALL
       |  SELECT $layerCase,
       |         'pq_codes', count(*),
       |         count(DISTINCT m * $PqCodes + code),
       |         CAST(sum(code) AS BIGINT)
       |  FROM codes GROUP BY 1
       |) t ORDER BY layer, component""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "ann_index_build" -> fullManifestOracle,
    "ann_index_compact" -> fullManifestOracle,
    "ann_index_append" -> appendOracle,
    // The serve paths must reproduce their in-session twins EXACTLY —
    // same oracle strings, so neither the persisted index nor the
    // layered base ∪ delta read can drift from the session derivation
    // without failing the gate.
    "ann_index_query" ->
      SimilarityQueries.oracleSql("cosine_topk_lsh_hi"),
    "ann_index_ivfpq" ->
      SimilarityQueries.oracleSql("ivfpq_topk"),
    "ann_index_query_incr" ->
      SimilarityQueries.oracleSql("cosine_topk_lsh_hi"),
    "ann_index_ivfpq_incr" ->
      SimilarityQueries.oracleSql("ivfpq_topk"))
}
