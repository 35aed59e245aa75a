package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.store.{ManifestFileIndex, ManifestStore, PartFile, TagFence}
import graft.store.ManifestStore.conf
import graft.store.ManifestFileIndex.{Root, stage}

/** Incrementally-maintained materialized JOIN views — delta-join
  * maintenance for the enrichment join every pipeline materializes:
  * an append-only FACT stream equi-joined against an upsertable
  * DIMENSION (LWW per key, deletes as tombstones). The view equals
  * `facts_so_far JOIN dim_current` at every point — the classical IVM
  * contract (`ΔV = Δfact ⋈ dim  ∪  fact ⋈ Δdim`), not the weaker
  * "join-at-ingest-time" snapshot.
  *
  * Architecture (the LSM discipline shared with [[AggView]] and the
  * index families; reference anchors: `kv/lsm/level.go:82` immutable
  * runs, `kv/lsm/compact.go:124` background folds, `kv/file/
  * manifest.go:27` the authoritative root list):
  *
  *  - The view is stored as LEFT-join rows (fact columns + nullable dim
  *    payload + a `__m` matched flag), hash-bucketed on the join key
  *    (`pk` partition column). Storing the unmatched fact rows is what
  *    makes the view self-contained: a dim upsert that creates a NEVER-
  *    BEFORE-SEEN key can heal its orphaned fact rows from the view's
  *    own storage — no re-read of the fact source, ever.
  *  - Fact appends are O(Δfact): delta LEFT JOIN current dim, one new
  *    root, one manifest swap.
  *  - Dim upserts are O(Δdim + affected buckets): the delta's keys
  *    touch a bounded set of pk buckets; ONLY those buckets' view rows
  *    are re-joined (partition-pruned) and written as a replacement
  *    root. The manifest maps each pk bucket to the roots that own it,
  *    so a rebuilt bucket atomically supersedes its old rows WITHOUT
  *    row-level LWW at read time — readers pay one scan, never a
  *    resolve.
  *  - The dim itself persists as LWW generations (`__seq`, `__del`),
  *    pk-partitioned for pruned bucket rebuilds; [[compactJoinView]]
  *    folds both the view roots and the dim generations.
  *
  * Exactly-once: `batchTag` fences replayed micro-batches (numeric tags
  * collapse into a high-water mark at fold, the shared contract).
  * Crash-safety: roots stage under fresh UUID dirs and become visible
  * only at the manifest swap; a writer whose snapshot a foreign commit
  * moved deletes its stage and throws (`ManifestStore` states the
  * cross-process window); [[vacuumJoinView]] reclaims orphans past an
  * age grace.
  *
  * Read contract: a read is ONE parquet scan over the part files and
  * data schemas the manifest records ([[graft.store.ManifestFileIndex]]),
  * taking each root's files of the buckets it still owns only, so rows a
  * rebuild superseded are never read; it lists nothing. A staged root
  * whose footers do not read under the recorded schema aborts its commit.
  *
  * Scale notes: no driver-side data collects — affected-bucket lists
  * are bounded by `numBuckets`, taken from the staged root's recorded
  * files. The append join is a plain equi-join (AQE broadcasts a small
  * dim; a large dim shuffles on the key like any keyed join). Bucket
  * rebuilds scan only the affected `pk` partitions.
  */
object JoinView {

  // `pks` = the pk buckets this root currently OWNS (dim upserts narrow
  // it as bucket ownership moves to rebuild roots); a read takes only the
  // root's files of those buckets
  private[operators] final case class RootEntry(dir: String, pks: Seq[Int])

  private[operators] final case class JoinViewManifest(
      joinKeys: Seq[String],
      factCols: Seq[String],
      dimCols: Seq[String],
      numBuckets: Int,
      roots: Vector[RootEntry],
      dimRoots: Vector[String],
      nextSeq: Long = 1L,
      // SEPARATE exactly-once fences for the two maintenance families:
      // a fact stream and a dim-CDC stream each number their micro-
      // batches from 0, so one shared high-water would let whichever
      // stream advances first silently fence the other out
      appliedTags: Vector[String] = Vector.empty,
      tagHighWater: Long = -1L,
      dimAppliedTags: Vector[String] = Vector.empty,
      dimTagHighWater: Long = -1L,
      // per root (view roots and dim generations), its part files; their
      // data schemas (StructType.json). Absent on older views: their roots
      // list and a footer gives the schema
      files: Map[String, Vector[PartFile]] = Map.empty,
      schema: String = "",
      dimSchema: String = "")

  private val lock = new Object

  private[operators] val store =
    new ManifestStore[JoinViewManifest]("join-view", "vacuumJoinView")
  private val factTags = TagFence.numeric[JoinViewManifest](
    m => (m.appliedTags, m.tagHighWater),
    (m, t, hw) => m.copy(appliedTags = t, tagHighWater = hw))
  private val dimTags = TagFence.numeric[JoinViewManifest](
    m => (m.dimAppliedTags, m.dimTagHighWater),
    (m, t, hw) => m.copy(dimAppliedTags = t, dimTagHighWater = hw))

  private def pkExpr(keys: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets)).cast("int")

  /** The pk buckets a staged root holds, from its recorded files. */
  private def pksOf(files: Vector[PartFile]): Seq[Int] = files.flatMap(_.part).distinct.sorted

  /** The dim generations' files (`dim`) or the view roots' files of the
    * buckets each still owns, with their data schema.
    */
  private def filesAndSchema(spark: SparkSession, viewDir: String, m: JoinViewManifest,
      dim: Boolean): (Seq[PartFile], StructType) = {
    val files =
      if (dim) ManifestFileIndex.rootFiles(spark, viewDir, m.dimRoots, m.files, Some("pk"))
      else m.roots.flatMap { r =>
        val owned = r.pks.toSet
        ManifestFileIndex.rootFiles(spark, viewDir, Seq(r.dir), m.files, Some("pk"))
          .filter(f => owned(f.part.get))
      }
    (files, ManifestFileIndex.recordedSchema(spark, if (dim) m.dimSchema else m.schema, files))
  }

  /** [[filesAndSchema]] read as one scan. */
  private def scan(spark: SparkSession, viewDir: String, m: JoinViewManifest,
      dim: Boolean): DataFrame = {
    val (files, schema) = filesAndSchema(spark, viewDir, m, dim)
    ManifestFileIndex.read(spark, files, schema, Some("pk"))
  }

  /** Current dimension state: LWW per key across generations, tombstones
    * dropped. `pkFilter` prunes the generations' one scan to the probed
    * buckets (None = full dim).
    */
  private def dimCurrent(spark: SparkSession, viewDir: String,
      m: JoinViewManifest, pkFilter: Option[Seq[Int]]): DataFrame = {
    val all = scan(spark, viewDir, m, dim = true)
    val gens = pkFilter.fold(all)(pks => all.filter(col("pk").isin(pks: _*)))
    val payload = struct((m.dimCols.map(col) :+ col("__del")): _*)
    gens.groupBy(m.joinKeys.map(col): _*)
      .agg(max_by(payload, col("__seq")).as("__p"))
      .filter(!col("__p.__del"))
      .select((m.joinKeys.map(col) ++
        m.dimCols.map(c => col(s"__p.$c").as(c))): _*)
  }

  /** Left-join a fact slice against the current dim; output carries the
    * fact columns, nullable dim payload, the `__m` matched flag, and the
    * pk bucket column.
    */
  private def joined(facts: DataFrame, dim: DataFrame,
      m: JoinViewManifest): DataFrame =
    facts
      .join(dim.withColumn("__m", lit(true)), m.joinKeys, "left")
      .withColumn("__m", coalesce(col("__m"), lit(false)))
      .withColumn("pk", pkExpr(m.joinKeys, m.numBuckets))


  /** One dim generation's rows. `delExpr` is the per-row tombstone flag;
    * when every row is a delete the delta may carry only key columns —
    * payload types then come from the recorded dim schema so the
    * generations stay union-compatible.
    */
  private def dimGeneration(spark: SparkSession, viewDir: String,
      delta: DataFrame, m: JoinViewManifest, seq: Long, delExpr: Column): DataFrame = {
    lazy val dimSchema = filesAndSchema(spark, viewDir, m, dim = true)._2
    val have = delta.columns.toSet
    val cols = m.joinKeys.map(col) ++ m.dimCols.map { c =>
      if (have(c)) col(c)
      else lit(null).cast(dimSchema(c).dataType).as(c)
    }
    delta.select((cols :+ lit(seq).as("__seq") :+ delExpr.as("__del")): _*)
      .withColumn("pk", pkExpr(m.joinKeys, m.numBuckets))
  }

  /** `next` with the staged roots' files and the schemas recorded, once
    * each staged root reads under its schema. Evaluated inside
    * `commitOrDrop`, so a root that does not read aborts the commit.
    */
  private def withStaged(spark: SparkSession, viewDir: String, m: JoinViewManifest,
      views: Seq[Root], dims: Seq[Root],
      next: JoinViewManifest): JoinViewManifest = {
    val schema = filesAndSchema(spark, viewDir, m, dim = false)._2
    val dimSchema = filesAndSchema(spark, viewDir, m, dim = true)._2
    views.foreach(ManifestFileIndex.requireReadable(spark, viewDir, _, schema))
    dims.foreach(ManifestFileIndex.requireReadable(spark, viewDir, _, dimSchema))
    val live = next.roots.map(_.dir).toSet ++ next.dimRoots
    next.copy(files = (next.files ++ views ++ dims).filter { case (r, _) => live(r) },
      schema = schema.json, dimSchema = dimSchema.json)
  }

  /** Create the view at `viewDir`: `fact` LEFT-materialized against
    * `dim`, bucketed on `joinKeys` (columns of BOTH inputs; all other
    * column names must be disjoint). Replaces any prior manifest;
    * superseded dirs wait for [[vacuumJoinView]].
    */
  def buildJoinView(
      fact: DataFrame,
      dim: DataFrame,
      viewDir: String,
      joinKeys: Seq[String],
      numBuckets: Int = 32): Unit = lock.synchronized {
    require(joinKeys.nonEmpty, "buildJoinView: at least one join key")
    require(!fact.isEmpty,
      "buildJoinView: empty initial fact — build once data exists " +
        "(an empty partitioned root has no readable schema)")
    val spark = fact.sparkSession
    val factCols = fact.columns.filterNot(joinKeys.contains).toSeq
    val dimCols = dim.columns.filterNot(joinKeys.contains).toSeq
    val clash = factCols.intersect(dimCols)
    require(clash.isEmpty,
      s"buildJoinView: fact/dim column names must be disjoint, got $clash")
    require(!(factCols ++ dimCols).exists(c => c == "pk" || c.startsWith("__")),
      "buildJoinView: pk and __-prefixed column names are reserved")
    val prior = store.read(conf(spark), viewDir)
    val m0 = JoinViewManifest(joinKeys, factCols, dimCols, numBuckets,
      Vector.empty, Vector.empty)
    val gen = dimGeneration(spark, viewDir, dim, m0, seq = 0L, lit(false))
    val (dimDir, dimFs) = stage(gen, viewDir, "jvdim-", Some("pk"))
    val m1 = m0.copy(dimRoots = Vector(dimDir), files = Map(dimDir -> dimFs),
      dimSchema = ManifestFileIndex.dataSchema(gen.schema, "pk").json)
    val rows = joined(fact, dimCurrent(spark, viewDir, m1, None), m1)
    val (root, files) = stage(rows, viewDir, "jv-", Some("pk"))
    store.commitIfUnchanged(conf(spark), viewDir, prior,
      m1.copy(roots = Vector(RootEntry(root, pksOf(files))),
        files = m1.files + (root -> files),
        schema = ManifestFileIndex.dataSchema(rows.schema, "pk").json))
  }

  /** Fold one fact delta into the view: Δfact LEFT JOIN current dim →
    * one new root; O(Δ), the base roots are never re-read. Exactly-once
    * under `batchTag`; empty deltas stage nothing. Returns true when the
    * view changed.
    */
  def appendFactsToJoinView(
      viewDir: String,
      delta: DataFrame,
      batchTag: Option[String] = None): Boolean = lock.synchronized {
    val spark = delta.sparkSession
    val m = store.required(conf(spark), viewDir, "appendFactsToJoinView")
    if (batchTag.exists(factTags.applied(m, _))) return false
    if (delta.isEmpty) return false
    val (dir, files) = stage(joined(delta.select((m.joinKeys ++ m.factCols).map(col): _*),
      dimCurrent(spark, viewDir, m, None), m), viewDir, "jv-", Some("pk"))
    store.commitOrDrop(conf(spark), viewDir, m, withStaged(spark, viewDir, m, Seq(dir -> files), Nil,
      factTags.record(m.copy(roots = m.roots :+ RootEntry(dir, pksOf(files))), batchTag)),
      Seq(dir))
    true
  }

  /** Apply a dim delta (upsert when `delete` is false, tombstone the
    * delta's keys when true) and repair the view: the delta lands as a
    * new dim generation, then ONLY the pk buckets its keys hash to are
    * re-joined — view rows of untouched buckets are never read or
    * written. Exactly-once under `batchTag`. Returns true when applied.
    */
  def upsertDimToJoinView(
      viewDir: String,
      delta: DataFrame,
      delete: Boolean = false,
      batchTag: Option[String] = None): Boolean =
    dimMutate(viewDir, delta, lit(delete), batchTag)

  /** Apply one MIXED CDC dim batch — rows flagged by boolean `delCol`
    * tombstone their keys, the rest upsert — as a single generation and
    * a single bucket repair, so a micro-batch carrying both ops stays
    * atomic under one exactly-once tag (two tagged calls would fence
    * each other out). Delete rows may carry null payloads.
    */
  def applyDimCdcToJoinView(
      viewDir: String,
      delta: DataFrame,
      delCol: String = "__delete",
      batchTag: Option[String] = None): Boolean =
    dimMutate(viewDir, delta.drop("pk"), col(delCol), batchTag)

  private def dimMutate(
      viewDir: String,
      delta: DataFrame,
      delExpr: Column,
      batchTag: Option[String]): Boolean = lock.synchronized {
    val spark = delta.sparkSession
    val m = store.required(conf(spark), viewDir, "upsertDimToJoinView")
    if (batchTag.exists(dimTags.applied(m, _))) return false
    if (delta.isEmpty) return false
    val (dimDir, dimFs) = stage(dimGeneration(spark, viewDir, delta, m, m.nextSeq, delExpr),
      viewDir, "jvdim-", Some("pk"))
    val touched = pksOf(dimFs)
    val mDim = m.copy(dimRoots = m.dimRoots :+ dimDir, nextSeq = m.nextSeq + 1,
      files = m.files + (dimDir -> dimFs))
    // rebuild ONLY the touched buckets, from the view's own fact columns.
    // Buckets no root owns hold no fact rows — nothing to repair there
    // (a brand-new dim key with no facts yet joins when facts arrive).
    val touchedSet = touched.toSet
    val owned = touched.filter(p => m.roots.exists(_.pks.contains(p)))
    val staged: Option[Root] =
      if (owned.isEmpty) None
      else {
        val factSlice = readRaw(spark, viewDir, mDim)
          .filter(col("pk").isin(owned: _*))
          .select((m.joinKeys ++ m.factCols).map(col): _*)
        Some(stage(joined(factSlice, dimCurrent(spark, viewDir, mDim, Some(owned)), m),
          viewDir, "jv-", Some("pk")))
      }
    // an affected bucket's ownership moves atomically to the rebuild
    // root; roots left owning nothing are dropped (vacuum reclaims them)
    val kept = mDim.roots
      .map(r => r.copy(pks = r.pks.filterNot(touchedSet)))
      .filter(_.pks.nonEmpty)
    val next = mDim.copy(roots = staged match {
      case Some((dir, files)) if files.nonEmpty => kept :+ RootEntry(dir, pksOf(files))
      case _ => kept
    })
    store.commitOrDrop(conf(spark), viewDir, m,
      withStaged(spark, viewDir, m, staged.toSeq, Seq(dimDir -> dimFs), dimTags.record(next, batchTag)),
      dimDir +: staged.map(_._1).toSeq)
    true
  }

  /** The stored LEFT-join rows (fact cols + nullable dim payload + __m +
    * `pk`): one scan over each root's files of the buckets it owns.
    */
  private def readRaw(spark: SparkSession, viewDir: String, m: JoinViewManifest): DataFrame =
    scan(spark, viewDir, m, dim = false)

  /** Read the view. `inner = true` (default) yields exactly
    * `facts JOIN dim_current`; `inner = false` yields the LEFT form with
    * unmatched fact rows carrying null dim payload.
    */
  def readJoinView(spark: SparkSession, viewDir: String,
      inner: Boolean = true): DataFrame = {
    val m = store.required(conf(spark), viewDir, "readJoinView")
    val raw = readRaw(spark, viewDir, m)
    val base = if (inner) raw.filter(col("__m")) else raw
    base.select((m.joinKeys ++ m.factCols ++ m.dimCols).map(col): _*)
  }

  /** Point lookup of one join-key tuple — the view's answer to the
    * reference's `Get` (`kv/db.go:107-130`: manifest → prune → resolve):
    * the key hashes to ONE pk bucket and the view's scan prunes to the
    * owning root's files of that bucket. Returns the inner rows for that
    * key (empty when unmatched/deleted).
    */
  def lookupJoinView(spark: SparkSession, viewDir: String,
      values: Seq[Any]): DataFrame = {
    val m = store.required(conf(spark), viewDir, "lookupJoinView")
    require(values.length == m.joinKeys.length,
      s"lookupJoinView: ${m.joinKeys.length} key values expected")
    val raw = readRaw(spark, viewDir, m)
    val typed = m.joinKeys.zip(values)
      .map { case (k, v) => (k, lit(v).cast(raw.schema(k).dataType)) }
    val pk = spark.range(1)
      .select(typed.map { case (k, v) => v.as(k) }: _*)
      .select(pkExpr(m.joinKeys, m.numBuckets).as("pk"))
      .collect().head.getInt(0)
    val pred = typed.map { case (k, v) => col(k) <=> v }.reduce(_ && _)
    raw.filter(col("pk") === pk && pred && col("__m"))
      .select((m.joinKeys ++ m.factCols ++ m.dimCols).map(col): _*)
  }

  /** Fold the view to one root per family: all view roots into a single
    * full-coverage root, all dim generations into one LWW-resolved
    * generation (tombstones drop — nothing older remains to resurrect).
    * Bit-identical reads before/after. Returns true when a fold ran.
    */
  def compactJoinView(spark: SparkSession, viewDir: String): Boolean = lock.synchronized {
    store.read(conf(spark), viewDir) match {
      case Some(m) if m.roots.size > 1 || m.dimRoots.size > 1 ||
          factTags.pending(m) || dimTags.pending(m) =>
        val (root, files) = stage(readRaw(spark, viewDir, m), viewDir, "jv-", Some("pk"))
        val (dimDir, dimFs) = stage(dimGeneration(spark, viewDir,
          dimCurrent(spark, viewDir, m, None), m, m.nextSeq, lit(false)), viewDir, "jvdim-", Some("pk"))
        store.commitOrDrop(conf(spark), viewDir, m, withStaged(spark, viewDir, m,
          Seq(root -> files), Seq(dimDir -> dimFs), dimTags.absorb(factTags.absorb(m.copy(
            roots = Vector(RootEntry(root, pksOf(files))),
            dimRoots = Vector(dimDir),
            nextSeq = m.nextSeq + 1)))), Seq(root, dimDir))
        true
      case _ => false
    }
  }

  /** Auto-fold policy (the shared `maintain` contract): fold when view
    * roots or dim generations pile past the thresholds.
    */
  def maintainJoinView(spark: SparkSession, viewDir: String,
      foldRootsAbove: Int = 4, foldDimGensAbove: Int = 4): Boolean =
    lock.synchronized {
      store.read(conf(spark), viewDir) match {
        case Some(m) if m.roots.size > foldRootsAbove ||
            m.dimRoots.size > foldDimGensAbove =>
          compactJoinView(spark, viewDir)
        case _ => false
      }
    }

  /** Delete staged dirs the manifest no longer references past an age
    * grace (crashed stages, superseded folds, fully-rebuilt roots).
    * Returns the number of directories removed.
    */
  def vacuumJoinView(spark: SparkSession, viewDir: String,
      minAgeMs: Long = 600000L): Int = lock.synchronized {
    store.vacuum(conf(spark), viewDir, minAgeMs)(m => Seq("" -> ManifestStore.unreferenced(
      m.roots.map(_.dir).toSet ++ m.dimRoots, "jv-", "jvdim-")))
  }
}
