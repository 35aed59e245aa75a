package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.functions.expressions.TopKExpressions
import org.apache.spark.sql.types.StructType
import graft.store.{ManifestFileIndex, ManifestStore, PartFile, TagFence}
import graft.store.ManifestStore.conf
import graft.store.ManifestFileIndex.{Root, readRoots, stage}

/** Keyword and hybrid retrieval over a document corpus — the lookup side of
  * a training-data pipeline (find documents for a probe set, attribute a
  * benchmark answer to its source, build retrieval eval sets).
  *
  * Scale notes (100 TB discipline):
  *  - BM25 never builds a full inverted index as a shuffled intermediate:
  *    postings are FILTERED TO THE QUERY TERMS at the exploded scan (a
  *    broadcast semi-join), so the only wide shuffle is the per-(doc, term)
  *    frequency aggregation over matching postings.
  *  - Document length and corpus stats ride along as narrow columns /
  *    one-row broadcasts — no extra join against the corpus.
  *  - Top-k uses the TopKBy aggregate (map-side k-truncation), never a
  *    window: a common query term can match the whole corpus, and a window
  *    would funnel every candidate's score through one reducer per query.
  *  - Scores are 6dp-rounded per-term contributions summed as DECIMAL, so
  *    the total is exact and association-order-independent — the ranking
  *    (and an external SQL oracle recomputing it) cannot flip on fp
  *    reassociation across partitionings.
  */
object Search {

  /** BM25 top-k keyword retrieval. `queries` is a small table of
    * `(query_id long, qtext string)` (broadcast everywhere — the corpus is
    * the big side). Returns `(query_id, rank, doc_id, score)`, rank 1..k by
    * (score desc, doc_id asc).
    *
    * `excludeSelf` drops the `doc_id == query_id` hit — for related-document
    * retrieval where each query is built from a corpus document.
    */
  def bm25TopK(
      docs: DataFrame,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      excludeSelf: Boolean = false,
      idCol: String = "doc_id",
      textCol: String = "text",
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext"): DataFrame = {
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(Text.tokens(col(queryTextCol)))).as("tok"))
    // one narrow pass over the corpus: tokenize once, carry the document
    // length on every posting row (no later join back against the corpus),
    // keep only postings matching some query term
    val postings = docs
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("double").as("dl"),
        explode(col("__toks")).as("tok"))
      .join(broadcast(qterms.select(col("tok")).distinct()), Seq("tok"), "left_semi")
    val tf = postings.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
    // document frequency over the query terms only — tiny, broadcast back
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
    // corpus-level stats are over ALL documents (not just candidates)
    val corpus = docs.select(size(Text.tokens(col(textCol))).cast("double").as("__dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("__dl")).as("avgdl"))
    bm25Scored(tf.join(broadcast(dfreq), Seq("tok")).crossJoin(broadcast(corpus))
      .join(broadcast(qterms), Seq("tok")), col("n_docs"), col("avgdl"), k, k1, b, excludeSelf)
  }

  /** Top-k of BM25 over `(query_id, doc_id, tf, dl, df)` term rows: each
    * per-(query, doc, term) contribution is rounded then summed as decimal
    * — exact, order-independent (see the object scaladoc).
    */
  private def bm25Scored(terms: DataFrame, nDocs: org.apache.spark.sql.Column,
      avgdl: org.apache.spark.sql.Column, k: Int, k1: Double, b: Double,
      excludeSelf: Boolean): DataFrame = {
    val perDoc = terms
      .withColumn("__w", round(
        log(lit(1.0) + (nDocs - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)), 6)
        .cast("decimal(18,6)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__w")).as("__dec"))
    val scoped =
      if (excludeSelf) perDoc.filter(col("query_id") =!= col("doc_id")) else perDoc
    topKScored(scoped.select(col("query_id"), col("doc_id"),
      col("__dec").cast("double").as("score")), k)
  }

  /** Reciprocal-rank fusion of ranked runs (each `(query_id, doc_id, rank)`,
    * rank 1-based): fused score = sum over runs of 1/(kRrf + rank), top-k
    * per query. The standard way to combine keyword (BM25) and vector (ANN)
    * retrieval without score calibration — only ranks enter the fusion.
    * Weights are 9dp-rounded and summed as decimal (exact, see scaladoc).
    */
  def rrfFuse(runs: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrfFuse: need at least one run")
    val unioned = runs
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
    val fused = unioned
      .withColumn("__w",
        round(lit(1.0) / (lit(kRrf.toDouble) + col("rank")), 9).cast("decimal(12,9)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__w")).as("__dec"))
      .select(col("query_id"), col("doc_id"), col("__dec").cast("double").as("score"))
    topKScored(fused, k)
  }

  /** Maximal-marginal-relevance diversification (Carbonell & Goldstein
    * 1998) of per-query candidate lists: greedily re-rank `candidates`
    * (`(query_id, doc_id, <relCol>, <vecCol>)` — the output of any
    * retrieval top-k joined to its document embeddings) so each pick
    * maximizes `λ·rel − (1−λ)·max cosine to the already-picked set`. The
    * anti-redundancy pass a RAG context window or a few-shot selector
    * runs after retrieval: near-duplicate hits stop crowding out
    * coverage.
    *
    * Scale shape: ONE bounded collect_list per query (the candidate list
    * is a top-N, so per-group state is N structs by construction — never
    * corpus-sized) feeding the codegen'd [[graft.functions.expressions
    * .MmrSelect]] kernel (O(k·N·dim) per query), then a posexplode.
    * No join, no window, one query-keyed exchange. Selection and
    * tie-breaks (9dp-rounded score, then lower id) are engine-portable,
    * so the full ranking is SQL-replayable and the declared query
    * (`search_mmr`) is FULLY oracled.
    *
    * Returns `(query_id, doc_id, mmr, rank)`, rank 1..k in selection
    * order.
    */
  def mmrRerank(candidates: DataFrame, k: Int, lambda: Double = 0.7,
      relCol: String = "score", vecCol: String = "vec"): DataFrame = {
    val packed = candidates
      .groupBy(col("query_id"))
      .agg(collect_list(struct(
        col("doc_id").cast("long").as("id"),
        col(relCol).cast("double").as("rel"),
        col(vecCol).as("vec"))).as("__cands"))
      .select(col("query_id"),
        graft.functions.expressions.VectorExpressions
          .mmr_select(col("__cands"), lambda, k).as("__sel"))
    packed
      .select(col("query_id"), explode(col("__sel")).as("__s"))
      .select(col("query_id"), col("__s.doc_id").as("doc_id"),
        col("__s.mmr").as("mmr"), col("__s.rank").as("rank"))
  }

  /** Per-document TF-IDF keyword extraction: the top `k` terms of each
    * document by `tf * ln((N+1)/(df+1))` — the smoothed idf form, so a
    * term in every doc still scores >= 0. Scores are 6dp-rounded with
    * ties broken by term, making the ranking engine-portable (the same
    * discipline as the BM25 scores). Returns
    * `(<idCol>, rank, tok, score)`, rank 1..k.
    *
    * Scale shape: tf is one hash-agg over the exploded token stream; df
    * is a second hash-agg over (term) — corpus-vocabulary-sized, so it
    * JOINS back on the term key rather than broadcasting (unlike BM25,
    * where df is bounded by the query vocabulary). The final top-k window
    * partitions by document — bounded by doc length, never by corpus.
    */
  def tfidfTopTerms(
      docs: DataFrame,
      k: Int,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0, "tfidfTopTerms: k must be positive")
    val tf = docs
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score").desc, col("tok"))
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("tok"), col("score"))
  }

  /** Map-side-truncated top-k over `(query_id, doc_id, score)` →
    * `(query_id, rank, doc_id, score)`, rank 1..k by (score desc, doc_id asc).
    */
  private def topKScored(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(TopKExpressions.topk_by_scored(col("score"), col("doc_id"), k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"), (col("__pos") + 1).cast("long").as("rank"),
        col("__e.id").as("doc_id"), col("__e.score").as("score"))

  // ===================================================== persisted index ==
  //
  // The text analog of the persisted IVF index: pay the corpus
  // tokenize/tf/df scan once, then every query reads only the index
  // partitions its terms hash to. Layout under `indexDir`:
  //
  //   _manifest/           records of {numBuckets, nDocs, sumDl, dict,
  //                        postings[], appliedTags[]} — every mutation
  //                        stages its data dirs first and commits by
  //                        publishing ONE manifest record (the GraftDB/IVF
  //                        write-then-flip contract); readers never see a
  //                        torn batch
  //   postings-<uuid>/bucket=N/  (tok, doc_id, tf, dl) — immutable roots,
  //                        one per build/append, partitioned by
  //                        bucket = xxhash64(tok) % numBuckets
  //   dict-<uuid>/bucket=N/      (tok, df) — document-frequency roots: the
  //                        base root (full vocabulary, written at
  //                        build/compaction) plus one DELTA root per
  //                        append holding only the batch's vocabulary;
  //                        readers sum df across roots (integer-valued
  //                        doubles — exact at any fold order). df lives
  //                        here and not on posting rows exactly so
  //                        appends never rewrite postings, and the delta
  //                        design means an append's write cost is
  //                        proportional to the BATCH vocabulary, never
  //                        the corpus vocabulary
  //
  // Read contract: each family reads as ONE parquet scan over the part
  // files the manifest records (graft.store.ManifestFileIndex), its
  // `bucket`/`ps` partition filter pruning to the probed buckets; it
  // lists nothing.
  //
  // nDocs/sumDl are exact integer totals (avgdl = sumDl/nDocs reproduces
  // the scan form's avg() bit-for-bit — integer-valued doubles sum
  // exactly), and tf/df/dl are integer-valued, so indexed scores are
  // BIT-IDENTICAL to [[bm25TopK]]'s at any append history: the indexed
  // query stays fully oracled, not rows-only. Pick `numBuckets` for the
  // target corpus — buckets are the probe read granularity (a few hundred
  // at 100 TB keeps each bucket a manageable scan while a 3-term query
  // still reads <= 3/numBuckets of the index).
  //
  // Lifecycle at streaming-ingest scale: every append adds one postings
  // root and one dict-delta root, so a long-lived stream accumulates
  // roots (the LSM small-files problem). [[compactTextIndex]] folds them
  // back to one root each — the text analog of
  // [[Similarity.compactIvfAppends]] — and the manifest itself stays
  // bounded because NUMERIC batch tags collapse to a single high-water
  // mark instead of growing `appliedTags` forever.

  /** `dict` is the base df root; `dicts` are per-append delta roots.
    * Replay fencing: a tag that parses entirely as a Long is a SEQUENCE
    * tag (the Structured Streaming batch-id contract — monotonically
    * increasing, [[graft.streaming.EventStream.ingestToTextIndex]] passes
    * the micro-batch id) and is fenced by `tagHighWater` alone — O(1)
    * manifest state at any stream lifetime. Non-numeric tags are
    * remembered exactly in `appliedTags` (bounded by the caller's tag
    * universe; legacy manifests may hold numeric tags here too — they are
    * honored on read and absorbed into the high-water at compaction).
    *
    * `levelRoots` counts the leading postings roots that are FOLD
    * products (base + minor-fold L1s) — a minor fold must never re-fold
    * them, or per-fold cost would grow with the stream's lifetime instead
    * of the data appended since the last fold. The first `levelRoots - 1`
    * entries of `dicts` are their df siblings (the base's df lives in
    * `dict`). Legacy manifests default to 1: only the base is a fold
    * product.
    *
    * Delete lifecycle (the reference's Del→tombstone→compaction-purge
    * discipline, `kv/lsm/compact.go`'s bottom-only dead-drop, applied to
    * the inverted index):
    *  - `docLens` are `(doc_id, dl)` sidecar roots, one per build/append —
    *    the per-document length table a delete needs to fix nDocs/sumDl
    *    exactly (a zero-token doc has NO postings rows, so lengths are
    *    not recoverable from postings alone). `docLensFull` records that
    *    EVERY live doc is covered — false for an index whose base
    *    predates the sidecar (deletes on such an index would silently
    *    no-op for base docs, so [[deleteFromTextIndex]] refuses instead).
    *  - `tombs` are `(doc_id, dl)` tombstone roots, one per delete batch,
    *    DISJOINT by construction (a delete anti-joins prior tombstones).
    *    Queries subtract tombstoned postings at read; only a MAJOR fold
    *    physically purges them (minor folds carry dead rows verbatim —
    *    the LSM rule that tombstones drop only at the bottom level, where
    *    the dict can be recomputed consistently).
    *  - `nDeleted`/`sumDlDeleted` are the running exact totals backing
    *    the live corpus stats (nDocs - nDeleted, sumDl - sumDlDeleted).
    */
  private[llmops] final case class TextIndexManifest(
      numBuckets: Int,
      nDocs: Long,
      sumDl: Long,
      dict: String,
      postings: Vector[String],
      appliedTags: Vector[String] = Vector.empty,
      dicts: Vector[String] = Vector.empty,
      tagHighWater: Long = -1L,
      levelRoots: Int = 1,
      docLens: Vector[String] = Vector.empty,
      docLensFull: Boolean = false,
      tombs: Vector[String] = Vector.empty,
      nDeleted: Long = 0L,
      sumDlDeleted: Long = 0L,
      // per root, its part files (absent on older indexes: their roots list)
      files: Map[String, Vector[PartFile]] = Map.empty)

  /** A sequence tag is a [[TagFence.numericTag]] digit string, or the
    * historical `stream-batch-<n>` prefix this module's own streaming
    * ingest used to write, recognized as the same sequence: an index
    * built by the old ingest keeps its replay fence across the upgrade
    * (the bare batch id continues the identical numbering).
    */
  private def seqTag(t: String): Option[Long] = TagFence.numericTag(
    if (t.startsWith("stream-batch-")) t.substring("stream-batch-".length) else t)

  // A legacy manifest remembers batch 17 as "stream-batch-17" while the
  // upgraded ingest replays it as "17": the fence value-compares its tag
  // vector through seqTag, so the replay is still caught. Sign-decorated
  // numerics ("+5") take the exact path now, but a pre-upgrade writer
  // absorbed them into the high-water without storing them — honor that
  // fence too (nonnegative only, so a "-1" tag can never collide with the
  // -1 never-applied sentinel). The full-fold and tag-only compaction
  // paths absorb through this one fence, so the migration can never
  // diverge between them.
  private val tags = new TagFence[TextIndexManifest](
    m => (m.appliedTags, m.tagHighWater),
    (m, t, hw) => m.copy(appliedTags = t, tagHighWater = hw),
    seqTag,
    (tag, hw) => scala.util.Try(java.lang.Long.parseLong(tag)).toOption
      .exists(v => v >= 0 && v <= hw))

  // serializes index mutations in-process (build, append, vacuum); the
  // cross-process contract is ManifestStore's
  private val textLock = new Object

  private[llmops] val textStore =
    new ManifestStore[TextIndexManifest]("text-index", "vacuumTextIndex")

  /** Build a fresh persisted inverted index over `docs` (replacing any
    * prior manifest at `indexDir`; superseded dirs are reclaimed by
    * [[vacuumTextIndex]]).
    */
  def buildTextIndex(
      docs: DataFrame,
      indexDir: String,
      numBuckets: Int = 64,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = textLock.synchronized {
    require(numBuckets > 0, "buildTextIndex: numBuckets must be positive")
    val spark = docs.sparkSession
    val m0 = textStore.read(conf(spark), indexDir)
    val (p, d, l, n, sumDl) =
      stageIndexDelta(docs, indexDir, numBuckets, idCol, textCol, skipIfEmpty = false).get
    textStore.commitIfUnchanged(conf(spark), indexDir, m0,
      withFiles(TextIndexManifest(numBuckets, n, sumDl, d._1, Vector(p._1),
        docLens = Vector(l._1), docLensFull = true), p, d, l))
  }

  /** Append a document batch to an existing index: stage a new postings
    * root + a df DELTA root holding only the batch's vocabulary (untouched
    * buckets are never rewritten — append cost is proportional to the
    * batch, not the corpus), then seal both with one manifest swap.
    * Returns false (and writes NOTHING — an empty or replayed batch never
    * stages orphan dirs) when the batch is empty or `batchTag` was already
    * applied — the exactly-once guard for streaming replays
    * ([[graft.streaming.EventStream.ingestToTextIndex]] passes the
    * micro-batch id; see [[TextIndexManifest]] for the numeric-tag
    * high-water contract). RESERVED tag namespace: pure digit strings and
    * `stream-batch-<n>` are sequence tags — they belong to the monotonic
    * streaming ingest, and an ad-hoc append using one (e.g. a date like
    * "20240101") would jump the high-water and silently fence out every
    * later streaming batch below it. Tag manual appends with anything
    * non-numeric ("backfill-2024-01-01") for exact-match semantics. The
    * corpus contract is append-only NEW doc ids; re-appending a live id
    * double-counts it (dedup at ingest is `dedupStream`'s job).
    */
  def appendToTextIndex(
      indexDir: String,
      docs: DataFrame,
      batchTag: Option[String] = None,
      idCol: String = "doc_id",
      textCol: String = "text"): Boolean = textLock.synchronized {
    val spark = docs.sparkSession
    val m = textStore.required(conf(spark), indexDir, "appendToTextIndex")
    if (batchTag.exists(tags.applied(m, _))) return false // replayed batch
    val staged = stageIndexDelta(docs, indexDir, m.numBuckets,
      idCol, textCol, skipIfEmpty = true)
    if (staged.isEmpty) return false // empty batch: nothing was written
    val (p, d, l, n, sumDl) = staged.get
    val next = m.copy(
      nDocs = m.nDocs + n, sumDl = m.sumDl + sumDl,
      postings = m.postings :+ p._1, dicts = m.dicts :+ d._1,
      docLens = m.docLens :+ l._1) // docLensFull inherited: appends can't
                                   // retrofit coverage a legacy base lacks
    textStore.commitOrDrop(conf(spark), indexDir, m, withFiles(tags.record(next, batchTag), p, d, l),
      Seq(p._1, d._1, l._1))
    true
  }

  /** Delete documents from the index — the reference's `Del` applied to
    * the inverted index: a delete writes a TOMBSTONE root (the ids plus
    * their doc lengths, resolved against the doc-length sidecar) and one
    * manifest swap; the postings themselves are untouched. Queries
    * subtract tombstoned rows at read time (and the manifest's running
    * `nDeleted`/`sumDlDeleted` keep the corpus stats exact), so indexed
    * scores stay BIT-IDENTICAL to the scan form over the remaining
    * corpus. The physical purge is [[compactTextIndex]]'s major fold —
    * the LSM's bottom-level dead-drop — after which the tombstones
    * themselves are dropped and reclaimed by [[vacuumTextIndex]].
    *
    * Ids absent from the index (never added, or already tombstoned) are
    * ignored — a replayed delete is idempotent. Returns the count of
    * NEWLY deleted documents (0 writes nothing).
    *
    * Scale shape: the delete batch joins only the doc-length sidecar
    * (16 bytes/doc), never the postings — and the sidecar scan PRUNES to
    * the batch's id-hash buckets, so delete cost is proportional to the
    * touched buckets, not the corpus. A query then broadcasts the
    * accumulated tombstones — deletes between major folds must stay
    * broadcast-sized (the same class of bound as the query-term set), and
    * the major fold is what resets it.
    *
    * Contract: a tombstoned id stays dead until a major fold purges the
    * tombstone — re-appending it before then resurrects nothing (the
    * tombstone wins at read, matching LSM delete semantics without
    * per-row sequence numbers); re-appending after the fold works.
    * Requires `docLensFull` (an index whose base predates the doc-length
    * sidecar can't fix its stats exactly) — rebuild or re-index to gain
    * delete support.
    */
  def deleteFromTextIndex(
      indexDir: String,
      ids: DataFrame,
      idCol: String = "doc_id"): Long = textLock.synchronized {
    val spark = ids.sparkSession
    val m = textStore.required(conf(spark), indexDir, "deleteFromTextIndex")
    if (!m.docLensFull) throw new IllegalStateException(
      s"deleteFromTextIndex: index at $indexDir predates the doc-length " +
        "sidecar (docLensFull=false) — stats could not be adjusted exactly; " +
        "rebuild the index with buildTextIndex to gain delete support")
    val delIds = ids.select(col(idCol).cast("long").as("doc_id")).distinct()
    // the batch's id-hash buckets (bounded driver metadata, <= numBuckets
    // values) prune the sidecar scan — delete cost is proportional to the
    // touched buckets, never the corpus
    val delPs = delIds
      .select(pmod(xxhash64(col("doc_id")), lit(m.numBuckets.toLong)).cast("int").as("ps"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val victims0 = readRoots(spark, indexDir, m.docLens, m.files, docLenSchema, Some("ps"))
      .filter(col("ps").isin(delPs: _*))
      .join(delIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("dl"))
    val victims = if (m.tombs.isEmpty) victims0
      else victims0.join(tombIds(spark, indexDir, m), Seq("doc_id"), "left_anti")
    // stage first, then read the staged root back for the exact totals —
    // one compute of the join, and the stats are exactly what was written
    val t @ (tDir, _) = stage(victims, indexDir, "tombs-", None)
    val stats = readRoots(spark, indexDir, Seq(t._1), Map(t), tombSchema, None)
      .agg(count(lit(1)).as("n"), coalesce(sum(col("dl")), lit(0L)).as("sdl")).head()
    val (n, sdl) = (stats.getLong(0), stats.getLong(1))
    if (n == 0) { // nothing newly deleted: drop the stage, swap nothing
      new org.apache.hadoop.fs.Path(indexDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(s"$indexDir/$tDir"), true)
      return 0L
    }
    textStore.commitOrDrop(conf(spark), indexDir, m, withFiles(m.copy(
      tombs = m.tombs :+ tDir,
      nDeleted = m.nDeleted + n, sumDlDeleted = m.sumDlDeleted + sdl), t), Seq(tDir))
    n
  }

  // explicit read schemas, partition column included
  private val postingsSchema =
    StructType.fromDDL("tok STRING, doc_id BIGINT, tf DOUBLE, dl DOUBLE, bucket INT")
  private val dictSchema = StructType.fromDDL("tok STRING, df DOUBLE, bucket INT")
  // tombstone roots: (doc_id, dl), read whole (they are delete-batch-sized)
  private val tombSchema = StructType.fromDDL("doc_id BIGINT, dl BIGINT")
  // doc-length sidecar roots add an id-hash partition column so a delete
  // prunes its read to the batch's buckets instead of scanning the whole
  // corpus-sized sidecar
  private val docLenSchema = StructType.fromDDL("doc_id BIGINT, dl BIGINT, ps INT")

  /** Stage one batch's postings root, df-delta root, and doc-length
    * sidecar root (each holding only the batch's rows/vocabulary — see
    * [[TextIndexManifest]]). Staged dirs are invisible until the caller's
    * manifest swap; a crash here leaves orphans for [[vacuumTextIndex]].
    * Returns None (writing nothing) for an empty batch when `skipIfEmpty`
    * — the stats action runs BEFORE any write, so empty streaming
    * micro-batches cost one count and zero orphan dirs. (A fresh BUILD of
    * an empty corpus still writes its roots: that is the legitimate
    * streaming start state.)
    */
  private def stageIndexDelta(docs: DataFrame, indexDir: String, numBuckets: Int,
      idCol: String, textCol: String,
      skipIfEmpty: Boolean): Option[(Root, Root, Root, Long, Long)] = {
    val spark = docs.sparkSession
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      Text.tokens(col(textCol)).as("__toks"))
    val stats = base.agg(count(lit(1)).as("n"),
      coalesce(sum(size(col("__toks")).cast("long")), lit(0L)).as("sumDl")).head()
    val (n, sumDl) = (stats.getLong(0), stats.getLong(1))
    if (skipIfEmpty && n == 0) return None
    val postings = base
      .select(col("doc_id"), size(col("__toks")).cast("double").as("dl"),
        explode(col("__toks")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(numBuckets.toLong)).cast("int"))
    // one writer task per bucket hash (the IVF index's repartition(cell)
    // layout): without it every shuffle task writes a file into every
    // bucket dir — numBuckets x tasks files per root, and the probe pays
    // that file count on every query (measured 2.7x on the fresh-build
    // probe at sf0.01). numBuckets is the write-parallelism floor here,
    // which is exactly its documented sizing contract.
    val p = stage(postings, indexDir, "postings-", Some("bucket"))
    // df delta from the STAGED postings (one narrow read-back — cheaper
    // than recomputing the tokenize+tf pipeline, and exactly consistent
    // with what was written). Only the batch's buckets materialize as
    // partitions — untouched vocabulary is never read or rewritten.
    val d = stage(readRoots(spark, indexDir, Seq(p._1), Map(p), postingsSchema, Some("bucket"))
      .groupBy(col("tok"), col("bucket")).agg(count(lit(1)).cast("double").as("df")),
      indexDir, "dict-", Some("bucket"))
    // doc-length sidecar: the per-document row a later delete joins
    // against to fix nDocs/sumDl exactly (16 bytes/doc — noise next to
    // the postings, and the only way a ZERO-TOKEN doc leaves any trace).
    // Partitioned by id hash so a delete prunes to its batch's buckets
    // instead of scanning the corpus-sized sidecar.
    val l = stage(base.select(col("doc_id"), size(col("__toks")).cast("long").as("dl"))
      .withColumn("ps", pmod(xxhash64(col("doc_id")), lit(numBuckets.toLong)).cast("int")),
      indexDir, "doclens-", Some("ps"))
    Some((p, d, l, n, sumDl))
  }

  /** `next` with the staged roots' files recorded and the files of roots
    * it no longer names dropped.
    */
  private def withFiles(next: TextIndexManifest, staged: Root*): TextIndexManifest = {
    val live = liveRoots(next)
    next.copy(files = (next.files ++ staged).filter { case (r, _) => live(r) })
  }

  private def liveRoots(m: TextIndexManifest): Set[String] =
    (m.postings ++ m.dicts ++ m.docLens ++ m.tombs :+ m.dict).toSet

  /** All tombstoned ids — roots are disjoint by construction (every
    * delete anti-joins the prior tombstones), so the union IS the set.
    */
  private def tombIds(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, m: TextIndexManifest): DataFrame =
    readRoots(spark, indexDir, m.tombs, m.files, tombSchema, None).select(col("doc_id"))

  /** Fold append roots back together — the text analog of
    * [[Similarity.compactIvfAppends]], and the reference's own lifecycle
    * discipline applied to the inverted index: an LSM accumulates L0
    * segments per flush and owes its read latency to compaction
    * (reference `kv/lsm/compact.go` — level merge as the engine's
    * standing background duty); here append roots are the L0s. A
    * long-lived streaming ingest seals one postings root and one dict
    * delta per micro-batch; queries union ALL of them, so root count
    * eventually dominates probe latency (file-listing storms + thousands
    * of tiny parquet reads).
    *
    * Two fold shapes — the LSM's major/minor split:
    *  - `includeBase = true` (major): EVERYTHING folds to one
    *    bucket-partitioned root each — minimal read amplification, but
    *    the write rewrites the whole corpus index.
    *  - `includeBase = false` (minor): only the UNFOLDED append roots
    *    (the L0s past `levelRoots`) fold, into one new L1 postings root
    *    + one df-delta sibling. Earlier fold products — the base AND
    *    previous L1s — are never re-read or rewritten, so each fold's
    *    cost is proportional to the data appended SINCE THE LAST FOLD
    *    (re-folding prior L1s would make per-fold cost grow with stream
    *    lifetime). L1 roots accumulate one per fold cycle;
    *    [[maintainTextIndex]]'s size-ratio policy decides when a major
    *    fold collapses them.
    *
    * Either shape absorbs legacy numeric tags into the high-water mark
    * (see [[TextIndexManifest]]) and commits with the stage-then-swap
    * contract of every other mutation — readers never see a half-folded
    * index, scores stay BIT-IDENTICAL (integer-valued tf/df/dl sums are
    * fold-order-independent), and the replay fence survives. Returns
    * true when a fold (or tag-only migration) happened.
    */
  def compactTextIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      includeBase: Boolean = true): Boolean = textLock.synchronized {
    // one task per bucket hash: each bucket partition folds to a bounded
    // file count instead of one file per (root x bucket)
    def foldRoots(m: TextIndexManifest, postRoots: Seq[String],
        dictRoots: Seq[String]): (Root, Option[Root]) = {
      val p = stage(readRoots(spark, indexDir, postRoots, m.files, postingsSchema, Some("bucket")),
        indexDir, "postings-", Some("bucket"))
      // a legacy manifest (pre-delta-dict format) may fold postings with
      // NO dict deltas in play — nothing to write on that side
      val d = if (dictRoots.isEmpty) None
        else Some(stage(readRoots(spark, indexDir, dictRoots, m.files, dictSchema, Some("bucket"))
          .groupBy(col("tok"), col("bucket")).agg(sum(col("df")).as("df")),
          indexDir, "dict-", Some("bucket")))
      (p, d)
    }
    textStore.read(conf(spark), indexDir) match {
      case Some(m) if includeBase && (m.postings.size > 1 || m.dicts.nonEmpty ||
          m.tombs.nonEmpty || m.docLens.size > 1) =>
        // the major fold is the PURGE point for tombstoned docs (the
        // LSM's bottom-level dead-drop): postings fold minus the dead
        // rows, the dict is RECOMPUTED from the folded live postings when
        // tombstones are in play (the summed dfs count dead docs), the
        // doc-length sidecar folds minus the dead docs, and the manifest
        // absorbs nDeleted/sumDlDeleted into the base totals
        val all = readRoots(spark, indexDir, m.postings, m.files, postingsSchema, Some("bucket"))
        val live = if (m.tombs.isEmpty) all
          else all.join(broadcast(tombIds(spark, indexDir, m)), Seq("doc_id"), "left_anti")
        val p = stage(live, indexDir, "postings-", Some("bucket"))
        val foldedDict =
          if (m.tombs.isEmpty)
            readRoots(spark, indexDir, m.dict +: m.dicts, m.files, dictSchema, Some("bucket"))
              .groupBy(col("tok"), col("bucket")).agg(sum(col("df")).as("df"))
          else // one postings row per live (doc, tok): the row count IS df
            readRoots(spark, indexDir, Seq(p._1), Map(p), postingsSchema, Some("bucket"))
              .groupBy(col("tok"), col("bucket"))
              .agg(count(lit(1)).cast("double").as("df"))
        val d = stage(foldedDict, indexDir, "dict-", Some("bucket"))
        val l = if (m.docLens.isEmpty) None else {
          val lens = readRoots(spark, indexDir, m.docLens, m.files, docLenSchema, Some("ps"))
          Some(stage(if (m.tombs.isEmpty) lens
            else lens.join(broadcast(tombIds(spark, indexDir, m)), Seq("doc_id"), "left_anti"),
            indexDir, "doclens-", Some("ps")))
        }
        textStore.commitOrDrop(conf(spark), indexDir, m, withFiles(tags.absorb(m).copy(
          dict = d._1, dicts = Vector.empty, postings = Vector(p._1),
          levelRoots = 1, docLens = l.map(_._1).toVector,
          tombs = Vector.empty,
          nDocs = m.nDocs - m.nDeleted, sumDl = m.sumDl - m.sumDlDeleted,
          nDeleted = 0L, sumDlDeleted = 0L), Seq(p, d) ++ l: _*),
          Seq(p._1, d._1) ++ l.map(_._1))
        true
      case Some(m) if !includeBase && m.postings.size - m.levelRoots >= 2 =>
        // fold ONLY the L0s — prior fold products stay untouched
        val (p, d) = foldRoots(m,
          m.postings.drop(m.levelRoots), m.dicts.drop(m.levelRoots - 1))
        textStore.commitOrDrop(conf(spark), indexDir, m, withFiles(tags.absorb(m).copy(
          postings = m.postings.take(m.levelRoots) :+ p._1,
          dicts = m.dicts.take(m.levelRoots - 1) ++ d.map(_._1).toVector,
          levelRoots = m.levelRoots + 1), p +: d.toSeq: _*),
          p._1 +: d.map(_._1).toSeq)
        true
      case Some(m) if tags.pending(m) =>
        // nothing to fold — only legacy numeric tags to absorb: a pure
        // manifest edit, never a corpus-wide postings/dict rewrite
        textStore.commitIfUnchanged(conf(spark), indexDir, Some(m), tags.absorb(m))
        true
      case _ => false
    }
  }

  /** The standing-stream maintenance policy: minor-fold the accumulated
    * L0 roots (cost proportional to data appended since the last fold),
    * then run a MAJOR fold only once the non-base roots have grown to
    * `majorSizeRatio` x the base root's bytes — the classic size-ratio
    * merge policy. Majors amortize geometrically under it: the corpus
    * rewrite happens when appends have roughly doubled the index, so each
    * row is rewritten O(log growth) times over a stream's lifetime, never
    * per fold cycle. (A major is also when a replayed base-row duplicate
    * finally collapses — see [[Similarity.compactIvfAppends]]'s note on
    * the same policy for vectors.) Root sizes are the byte lengths the
    * manifest records for each root's files.
    *
    * A major ALSO fires once tombstoned docs exceed `deadRatio` of the
    * indexed corpus (manifest counters — free to check): every query pays
    * the dead rows' scan and df-correction until the purge, so a
    * delete-heavy index must not wait for appends to trip the size
    * trigger. Returns true when any fold ran.
    */
  def maintainTextIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      majorSizeRatio: Double = 1.0, deadRatio: Double = 0.25): Boolean = textLock.synchronized {
    val minored = compactTextIndex(spark, indexDir, includeBase = false)
    val majored = textStore.read(conf(spark), indexDir) match {
      case Some(m) if m.nDeleted > 0 && m.nDeleted >= deadRatio * m.nDocs =>
        compactTextIndex(spark, indexDir)
      case Some(m) if m.postings.size > 1 =>
        def bytes(root: String): Long = ManifestFileIndex.rootFiles(spark, indexDir,
          Seq(root), m.files, Some("bucket")).map(_.length).sum
        val base = math.max(1L, bytes(m.postings.head))
        if (m.postings.tail.map(bytes).sum >= majorSizeRatio * base)
          compactTextIndex(spark, indexDir)
        else false
      case _ => false
    }
    minored || majored
  }

  /** BM25 top-k through a [[buildTextIndex]] index: query terms hash to
    * their buckets driver-side (bounded metadata, like the IVF centroid
    * rank — and with the same Spark `xxhash64` expression the build used,
    * never a reimplementation), and both the postings and dict scans
    * PRUNE to those partitions. Same output contract and BIT-IDENTICAL
    * scores to [[bm25TopK]] over the build+appends corpus.
    */
  def bm25TopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      excludeSelf: Boolean = false,
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext"): DataFrame = {
    val m = textStore.required(conf(spark), indexDir, "bm25TopKIndexed")
    // LIVE corpus stats: exact integer totals minus the tombstoned docs'
    // exact contributions — avgdl reproduces the scan form's avg() over
    // the remaining corpus bit-for-bit. Any value serves an empty index
    // (no postings, so no arithmetic runs); guarding keeps the plan free
    // of a constant NaN.
    val nLive = m.nDocs - m.nDeleted
    val avgdl = if (nLive == 0) 1.0 else (m.sumDl - m.sumDlDeleted).toDouble / nLive
    val qterms = queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(Text.tokens(col(queryTextCol)))).as("tok"))
    val buckets = qterms.select(
        pmod(xxhash64(col("tok")), lit(m.numBuckets.toLong)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // ONE scan per family, its partition filter pruning to the probed
    // buckets' files. The df sum across the base dict + append deltas
    // (integer-valued doubles: exact at any root count/order) runs over
    // the PRUNED buckets only — bounded by the query vocabulary.
    val inBuckets = col("bucket").isin(buckets: _*)
    val prunedPostings = readRoots(spark, indexDir, m.postings, m.files, postingsSchema,
      Some("bucket")).filter(inBuckets)
    val dictTotals = readRoots(spark, indexDir, m.dict +: m.dicts, m.files, dictSchema,
      Some("bucket")).filter(inBuckets).groupBy(col("tok")).agg(sum(col("df")).as("df"))
    // tombstones subtract at read (the purge is the major fold's job):
    // dead postings rows still sit in the roots AND in the dict's df
    // sums, so one broadcast of the tombstoned ids both filters the
    // postings and corrects df — each dead doc has exactly one postings
    // row per term it contained, so the per-term dead-row count IS the
    // df correction, computable inside the already-pruned buckets
    val (postings, dict) =
      if (m.tombs.isEmpty) (prunedPostings, dictTotals.select(col("tok"), col("df")))
      else {
        val dead = broadcast(tombIds(spark, indexDir, m))
        val ddf = prunedPostings.join(dead, Seq("doc_id"), "left_semi")
          .groupBy(col("tok")).agg(count(lit(1)).cast("double").as("__ddf"))
        (prunedPostings.join(dead, Seq("doc_id"), "left_anti"),
          dictTotals.join(ddf, Seq("tok"), "left")
            .select(col("tok"),
              (col("df") - coalesce(col("__ddf"), lit(0.0))).as("df")))
      }
    bm25Scored(postings.join(broadcast(dict), Seq("tok")).join(broadcast(qterms), Seq("tok")),
      lit(nLive.toDouble), lit(avgdl), k, k1, b, excludeSelf)
  }

  /** Delete index dirs the manifest no longer references — crashed stages
    * and superseded dicts/postings (the explicit cleanup point, like
    * `GraftDB.vacuum`; in-flight readers of old dirs are the caller's
    * concern). Dirs modified within `minAgeMs` of now are SPARED: a
    * cross-process writer mid-stage has dirs on disk that no manifest
    * references yet, and the manifest re-read guard only detects
    * COMMITTED foreign mutations — the age grace keeps vacuum from
    * deleting a concurrent stage out from under its writer (pass 0 to
    * reclaim everything, e.g. after a known crash with no live writers).
    * Returns the number of directories removed.
    */
  def vacuumTextIndex(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      minAgeMs: Long = 600000L): Int = textLock.synchronized {
    textStore.vacuum(conf(spark), indexDir, minAgeMs)(m => Seq("" -> ManifestStore.unreferenced(
      liveRoots(m), "postings-", "dict-", "doclens-", "tombs-")))
  }
}
