package graft.streaming

import graft.model.{ChangeFeed, SchemaDiscovery}
import graft.model.SchemaDiscovery.DocSchema
import graft.ops.{Compact, Flatten, Split, Transform}
import graft.WarehouseOptions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.hadoop.fs.Path

/** Continuous ingestion: the Spark Structured Streaming form of the
  * reference's monitor mode (`index.js:143-170` — longpoll loop, per-batch
  * insert, checkpoint).
  *
  * Source: a stream of change-feed lines (file source here; a CouchDB
  * `_changes` MicroBatchStream source can be swapped in without touching
  * the batch logic). Each micro-batch runs the same distributed pipeline as
  * batch ingestion — the `foreachBatch` body is the direct analog of the
  * reference's `batch` event handler:
  *
  *   1. merge the batch into the per-id latest-change STATE table
  *      (last-writer-wins by seqNum, tombstones retained so deletes win
  *      over late replays — one shuffle on id per batch);
  *   2. re-publish each docType's flattened table (parquet + temp view);
  *   3. advance the warehouse checkpoint side-file (A13) — Spark's own
  *      `checkpointLocation` handles source offsets, the side-file is the
  *      queryable `couchwarehouse_checkpoints` analog.
  *
  * At-least-once delivery + idempotent merge (replayed changes collapse in
  * the LWW window) reproduces the reference's REPLACE-by-PK semantics
  * exactly (`lib/sqlite.js:82`, SURVEY §4 "Idempotent re-delivery").
  *
  * Scale: state merge is a single hash shuffle on doc id; publish is a
  * partitioned parquet overwrite. Nothing driver-side grows with data —
  * the driver holds only frozen schemas and the seq counter, like the
  * reference's single node held `theSchema`. All state plumbing
  * (checkpoint side-file, schema donors, bucket/agg swaps) drives the
  * Hadoop `FileSystem` resolved from `warehouseDir`, so the warehouse
  * can live on cluster storage — the swaps are dst-absent renames,
  * atomic on HDFS/POSIX; see [[StateFs]] for the object-store boundary.
  */
final class StreamIngest(
    spark: SparkSession,
    opts: WarehouseOptions,
    warehouseDir: String,
    maintainAgg: Option[StreamIngest.AggSpec] = None) {

  private val stateDir = s"$warehouseDir/_state"
  private val fs = new Path(warehouseDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val checkpointFile = new Path(s"$warehouseDir/_checkpoints.json")
  private val schemaDir = new Path(s"$warehouseDir/_schemas")
  private val aggDir = new Path(s"$warehouseDir/_agg")

  /** The bucket and agg swaps commit by dst-absent directory rename, which
    * is only atomic where rename is a metadata op (HDFS/POSIX): refuse
    * copy-rename object stores up front ([[StateFs]]). A warehouse that
    * holds the retired manifest layout (`_state_v`/`_agg_v`) would read
    * here as EMPTY and be forked silently, so it is refused as well.
    */
  private def verifyLayout(): Unit = {
    StateFs.requireAtomicDirRename(fs, "StreamIngest's bucketed state",
      "Keep the warehouse on HDFS or a POSIX filesystem.")
    Seq("_state_v", "_agg_v").map(n => new Path(s"$warehouseDir/$n"))
      .find(fs.exists).foreach { p =>
        throw new IllegalStateException(
          s"warehouse state at $warehouseDir holds $p, the manifest-protocol " +
            "layout that graft no longer reads — opening it would see an " +
            "EMPTY warehouse and fork it. Rebuild the warehouse from its " +
            "change feed.")
      }
  }

  /** Frozen per-docType schemas, persisted as the donor document JSON so a
    * restarted stream keeps first-doc-wins semantics (§1.4).
    */
  private val schemas = scala.collection.mutable.LinkedHashMap.empty[String, DocSchema]
  loadSchemas()
  verifyLayout()
  recoverState()
  verifyBucketCount()
  bootstrapAggIfNeeded()

  def discoveredSchemas: Map[String, DocSchema] = schemas.toMap

  /** Tail a directory of spool-chunk files through the DSv2 couch-changes
    * MicroBatchStream (one micro-batch per new chunk; Mango selector and
    * parsing happen inside the reader).
    */
  def start(inputDir: String, sparkCheckpointDir: String): StreamingQuery = {
    val reader = spark.readStream.format("couch-changes")
    val changes = opts.mangoSelector
      .foldLeft(reader)((r, sel) => r.option("selector", sel))
      .load(inputDir)
    changes.writeStream
      .option("checkpointLocation", sparkCheckpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) => applyBatch(batch, batchId) }
      .start()
  }

  /** Number of hash buckets the state table is partitioned into. A batch
    * only ever rewrites the buckets that contain a changed id, so merge
    * cost is O(touched buckets), not O(table) — the property that keeps
    * per-batch work bounded when the warehouse is 100 TB and a micro-batch
    * is megabytes. Size so one bucket ≈ a comfortable task read
    * (table_bytes / buckets ≲ a few hundred MB at target scale).
    */
  // lazy: read in the constructor-body guard, which runs before plain
  // vals declared here would initialize
  private lazy val stateBuckets: Int =
    spark.conf.getOption("graft.state.buckets").map(_.toInt).getOrElse(64)

  /** The bucket count the persisted state was written with. Changing
    * `graft.state.buckets` against existing state would hash an update
    * for id X into a bucket its current row does not live in — the
    * touched-bucket merge would never read the old row, and BOTH
    * versions would survive as silent duplicates. Guarded like
    * [[SketchMaintenance]] guards sketch dimensions: fail loudly at
    * construction.
    */
  // def, not val: the constructor-body guard runs before later vals init
  private def bucketMeta = new Path(s"$warehouseDir/_state_buckets")

  private def verifyBucketCount(): Unit =
    if (fs.exists(bucketMeta)) {
      val persisted = StateFs.readString(fs, bucketMeta).trim.toInt
      if (persisted != stateBuckets)
        throw new IllegalStateException(
          s"state was bucketed with $persisted buckets but " +
            s"graft.state.buckets=$stateBuckets — a different count strands " +
            "existing rows in buckets the merge never probes (silent " +
            "duplicate ids). Restore the original setting or rebuild the " +
            "warehouse.")
    }

  private def bucketCol = pmod(crc32(col("id")), lit(stateBuckets)).cast("int")

  /** One micro-batch application; also callable directly for batch replay
    * tests. Idempotent: applying the same batch twice is a no-op.
    *
    * Bucketed merge: ids hash to a `_bucket` partition; only partitions
    * present in the batch are read back, merged (last-writer-wins), and
    * atomically swapped in from a staging write ([[writeBuckets]]).
    * Untouched buckets are never read or rewritten.
    */
  def applyBatch(batch0: DataFrame, batchId: Long): Unit = {
    val batch = opts.transform(batch0)
      .select(col("id"), col("seqNum"), col("deleted"), col("doc"))
      .withColumn("_bucket", bucketCol)
      .cache()
    try {
      val touched = batch.select("_bucket").distinct().collect().map(_.getInt(0))
      val merged = existingStateTouched(touched) match {
        case Some(st) => st.unionByName(batch)
        case None     => batch
      }
      // LWW per id, tombstones RETAINED (deletes survive replays; a doc
      // re-created after deletion wins via its higher seq) — the exact
      // semantic of the shared CDC compaction
      val state0 = Compact.latestChanges(merged)
      // the maintained aggregate reads `state` too — cache so the LWW
      // window runs once, and release before the bucket swap
      val state = if (maintainAgg.isDefined) state0.cache() else state0
      try {
        // agg BEFORE state (see updateAgg's exactly-once argument)
        maintainAgg.foreach(updateAgg(_, batch, touched, state, batchId))
        writeBuckets(state)
      } finally if (maintainAgg.isDefined) { state.unpersist(); () }

      publishWith(Some(batch))
      advanceCheckpoint(batch)
    } finally batch.unpersist()
  }

  /** Incrementally maintain `count/sum by group` over the live docs
    * ([[IncrementalAgg]]): delta = (batch ids' live rows AFTER the merge)
    * minus (their live rows BEFORE it), applied to a one-row-per-group
    * table — never a rescan of the state.
    *
    * Exactly-once across crash/replay, by ordering + marker:
    * the agg directory (data + the batchId that built it) swaps in
    * atomically BEFORE the state buckets do. A crash after the agg swap
    * but before the state swap replays the batch: the marker says the
    * delta is already applied, the skip is correct because pre-state is
    * unchanged. A crash after both swaps replays into the marker skip +
    * the idempotent LWW merge. Deltas are computed from state diffs (not
    * raw batch rows), so even an unguarded re-apply of an absorbed batch
    * is a zero delta.
    *
    * The maintained table is dashboard-shaped (one row per group, written
    * `coalesce(1)`); for group cardinalities past ~10^7 rows, split the
    * write across files and swap the directory the same way.
    */
  private def updateAgg(spec: StreamIngest.AggSpec, batch: DataFrame,
                        touched: Array[Int], state: DataFrame,
                        batchId: Long): Unit = {
    val applied = appliedAggBatch()
    if (batchId <= applied) {
      // A crash between the agg swap and the state swap re-delivers exactly
      // batchId == applied — that skip is the exactly-once path. A batchId
      // further back can only mean the Spark streaming checkpoint was reset
      // against an existing warehouse (batchIds restart at 0): skipping
      // would silently freeze the aggregate while state keeps advancing, so
      // fail loudly and point at the re-bootstrap path instead.
      val margin = StreamIngest.AggReplayMargin
      if (applied - batchId > margin)
        throw new IllegalStateException(
          s"maintained-aggregate batchId went backwards: got $batchId but " +
            s"$applied is already applied (more than the replay margin of " +
            s"$margin). The streaming checkpoint was " +
            "likely reset against an existing warehouse. Delete " +
            s"$aggDir to re-bootstrap the aggregate from live state, or " +
            "restore the original checkpointLocation.")
      return
    }
    val ids = batch.select("id").distinct()
    // live (grp, value) rows of the batch's ids; docs without the group
    // field are outside the aggregate (a null join key would never merge)
    def rows(df: DataFrame): DataFrame = aggRows(spec, df.join(ids, "id"))
    val pre = existingStateTouched(touched) match {
      case Some(st) => rows(st)
      case None     => rows(state.limit(0))
    }
    val post = rows(state)
    val current = aggData()
      .getOrElse(IncrementalAgg.empty(pre, "grp"))
    val merged = IncrementalAgg.merge(current,
      IncrementalAgg.delta(pre, post, "grp", "value"), "grp")
    commitAgg(merged, batchId)
  }

  /** Land `merged` as the live aggregate for `batchId`: data + marker
    * staged together, swapped in as ONE directory rename.
    */
  private def commitAgg(merged: DataFrame, batchId: Long): Unit = {
    val staging = new Path(s"$warehouseDir/_agg_staging")
    val retired = new Path(s"$warehouseDir/._agg.old")
    deleteRecursively(staging)
    deleteRecursively(retired)
    merged.coalesce(1).write.parquet(new Path(staging, "data").toString)
    StateFs.writeString(fs, new Path(staging, "batchid"), batchId.toString)
    if (fs.exists(aggDir))
      StateFs.renameInto(fs, aggDir, retired)
    StateFs.renameInto(fs, staging, aggDir)
    deleteRecursively(retired)
  }

  /** The live aggregate's raw data. */
  private def aggData(): Option[DataFrame] =
    if (fs.exists(new Path(aggDir, "data")))
      Some(spark.read.parquet(new Path(aggDir, "data").toString))
    else None

  private def appliedAggBatch(): Long = {
    val f = new Path(aggDir, "batchid")
    if (fs.exists(f)) StateFs.readString(fs, f).trim.toLong else -1L
  }

  /** The live `(grp, value)` rows a maintained aggregate is built from. */
  private def aggRows(spec: StreamIngest.AggSpec, df: DataFrame): DataFrame =
    df.where(!col("deleted") && !col("id").startsWith("_design"))
      .select(get_json_object(col("doc"), spec.groupPath).as("grp"),
        get_json_object(col("doc"), spec.valuePath).cast("double").as("value"))
      .where(col("grp").isNotNull)

  /** Enabling `maintainAgg` on a warehouse that ALREADY has state must not
    * start the aggregate from empty — docs never touched by later batches
    * would never be counted. One-off bootstrap: recompute the aggregate
    * from the live state ([[IncrementalAgg.recompute]]) and land it with
    * marker batchId -1, so every subsequent micro-batch applies on top.
    * Runs once (aggDir existing skips it) and lands through [[commitAgg]],
    * the same crash-safe swap [[updateAgg]] uses.
    */
  private def bootstrapAggIfNeeded(): Unit = maintainAgg.foreach { spec =>
    if (!fs.exists(aggDir)) existingState().foreach { st =>
      commitAgg(IncrementalAgg.recompute(aggRows(spec, st), "grp", "value"), -1L)
    }
  }

  /** The warehouse's OWN outbound change feed from persisted state — the
    * CouchDB `_changes` contract re-exposed for downstream incremental
    * consumers: latest change per id with `seqNum > since`, tombstones
    * included so deletes propagate (the state table already holds exactly
    * that — this is a filter over the bucketed parquet, no shuffle).
    * Resume token = `max(seqNum)` consumed ([[checkpoint]] for all).
    */
  def changesSince(since: Long): DataFrame =
    existingState()
      .getOrElse(throw new IllegalStateException(
        "changesSince before any ingested state"))
      .where(col("seqNum") > since)
      .select("id", "seqNum", "deleted", "doc")

  /** The maintained aggregate as `(grp, n, total)`, when configured. */
  def maintainedAgg: Option[DataFrame] =
    aggData().map(IncrementalAgg.finish(_, "grp"))

  /** Publish the merged (touched-bucket-only) state via a staging write +
    * per-bucket atomic renames, instead of dynamically overwriting the
    * directory a task may still be reading from. A reader never observes a
    * partially written bucket: the swap is rename-only. A crash between
    * two bucket swaps can leave a bucket retired but not yet replaced —
    * [[recoverState]] restores it on the next start, and the LWW merge is
    * replay-idempotent on top of that.
    */
  private def writeBuckets(state: DataFrame): Unit = {
    val root = new Path(stateDir)
    val staging = new Path(s"$warehouseDir/_state_staging")
    deleteRecursively(staging)
    state.write.mode("overwrite").partitionBy("_bucket").parquet(staging.toString)
    fs.mkdirs(root)
    if (!fs.exists(bucketMeta))
      StateFs.writeString(fs, bucketMeta, stateBuckets.toString)
    StateFs.listNames(fs, staging).foreach { name =>
      if (name.startsWith("_bucket=")) {
        // the retired name starts with '.', so Spark's file listing never
        // picks it up even if a crash strands it
        val target = new Path(root, name)
        val retired = new Path(root, s".$name.old")
        deleteRecursively(retired)
        if (fs.exists(target))
          StateFs.renameInto(fs, target, retired)
        StateFs.renameInto(fs, new Path(staging, name), target)
        deleteRecursively(retired)
      }
    }
    deleteRecursively(staging)
  }

  /** Crash recovery for [[writeBuckets]]: a retired bucket whose
    * replacement never landed is moved back; leftover retired/staging
    * directories from completed swaps are dropped.
    */
  private def recoverState(): Unit = {
    val root = new Path(stateDir)
    StateFs.listNames(fs, root).foreach { name =>
      if (name.startsWith("._bucket=") && name.endsWith(".old")) {
        val p = new Path(root, name)
        val target = new Path(root, name.stripPrefix(".").stripSuffix(".old"))
        if (fs.exists(target)) deleteRecursively(p)
        else StateFs.renameInto(fs, p, target)
      }
    }
    deleteRecursively(new Path(s"$warehouseDir/_state_staging"))
    // agg swap recovery: a retired agg whose replacement never landed is
    // restored; leftover staging from an incomplete build is dropped
    val aggRetired = new Path(s"$warehouseDir/._agg.old")
    if (fs.exists(aggRetired)) {
      if (fs.exists(aggDir)) deleteRecursively(aggRetired)
      else StateFs.renameInto(fs, aggRetired, aggDir)
    }
    deleteRecursively(new Path(s"$warehouseDir/_agg_staging"))
  }

  private def deleteRecursively(p: Path): Unit =
    StateFs.deleteRecursively(fs, p)

  /** The persisted state table, when at least one bucket has landed. The
    * bucket check (not a bare directory-exists) keeps an all-filtered
    * first batch — which creates the state root but moves no buckets —
    * from poisoning every later read with an unreadable empty directory.
    */
  private def existingState(): Option[DataFrame] = {
    val hasBuckets =
      StateFs.listNames(fs, new Path(stateDir)).exists(_.startsWith("_bucket="))
    if (hasBuckets) Some(spark.read.parquet(stateDir)) else None
  }

  /** State rows of the `touched` buckets only — None when no state exists
    * yet. Reads the partitioned table and prunes to the touched buckets.
    */
  private def existingStateTouched(touched: Array[Int]): Option[DataFrame] =
    existingState().map(
      _.where(col("_bucket").isin(touched.map(Integer.valueOf).toIndexedSeq: _*)))

  /** docTypes ever published, cached so the per-batch path never rescans
    * the full state (None until the first publish seeds it — from state
    * on restart, from the batch alone on a fresh warehouse).
    */
  private var knownTypes: Option[Set[String]] = None

  private def typesOf(df: DataFrame, splitField: String): Set[String] =
    df.where(!col("deleted"))
      .select(Split.docType(splitField, col("doc")).as("t")).distinct()
      .collect().map(_.getString(0)).toSet

  /** Re-register flattened per-type views over the live rows. The
    * external form scans state for the type set once and caches it;
    * [[applyBatch]] extends the cache from the (tiny, cached) batch
    * instead — per-batch publish cost stays O(touched types), never a
    * full-state scan per trigger. A type whose last doc is deleted keeps
    * its (now empty) view — known types never un-publish.
    */
  def publish(): Unit = publishWith(None)

  private def publishWith(batch: Option[DataFrame]): Unit = existingState().foreach { st =>
    val live = st.where(!col("deleted"))
    val types = opts.split match {
      case Some(f) =>
        val seeded = knownTypes.getOrElse(typesOf(live, f))
        val all = batch.map(b => seeded ++ typesOf(b, f)).getOrElse(seeded)
        knownTypes = Some(all)
        all.toSeq.sorted
      case None => Seq(Split.DefaultType)
    }
    types.foreach { t =>
      val slice = opts.split match {
        case Some(f) => live.where(Split.docType(f, col("doc")) === t)
        case None    => live
      }
      val schema = schemas.getOrElseUpdate(t, discoverFrom(slice, t))
      if (schema.leaves.nonEmpty) {
        val name = Split.tableName(opts.database, opts.split.map(_ => t))
        Flatten(slice, schema).createOrReplaceTempView(name)
      }
    }
  }

  private def discoverFrom(slice: DataFrame, docType: String): DocSchema =
    slice.orderBy(col("seqNum")).select("doc").limit(1).collect().headOption match {
      case Some(r) =>
        val s = SchemaDiscovery.discover(r.getString(0))
        persistSchema(docType, r.getString(0))
        s
      case None => DocSchema(Seq.empty)
    }

  private def persistSchema(docType: String, donorDoc: String): Unit = {
    fs.mkdirs(schemaDir)
    StateFs.writeString(fs, new Path(schemaDir, s"$docType.json"), donorDoc)
  }

  private def loadSchemas(): Unit =
    StateFs.listNames(fs, schemaDir).foreach { n =>
      val t = n.stripSuffix(".json")
      schemas(t) = SchemaDiscovery.discover(
        StateFs.readString(fs, new Path(schemaDir, n)))
    }

  def checkpoint: Long =
    if (fs.exists(checkpointFile))
      StateFs.readString(fs, checkpointFile).trim.toLong
    else 0L

  private def advanceCheckpoint(batch: DataFrame): Unit = {
    val maxSeq = batch.agg(max(col("seqNum"))).collect().headOption
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
    maxSeq.filter(_ > checkpoint).foreach { s =>
      // advisory side-file (re-derived from state on the next batch):
      // a torn overwrite is tolerated — see StateFs.writeString
      StateFs.writeString(fs, checkpointFile, s.toString)
    }
  }

}

object StreamIngest {
  /** JSON paths (get_json_object syntax, e.g. `$.type` / `$.amount`)
    * naming the doc fields the maintained aggregate groups and sums by.
    */
  final case class AggSpec(groupPath: String, valuePath: String)

  /** How far a replayed batchId may legitimately lag the applied marker:
    * zero — with the synchronous progress tracking [[StreamIngest.start]]
    * configures, the only legitimate re-delivery is the marker batch
    * itself (the crash window between the agg swap and the offset
    * commit), so any batchId strictly below the marker is a reset
    * checkpoint and must fail loudly rather than silently drop its
    * delta.
    */
  val AggReplayMargin: Long = 0L

  /** Recursive delete over LOCAL java.nio paths (no-op when absent) —
    * only the CLI `--reset` still uses it (its target is the launching
    * user's local spool/warehouse dirs by construction); every state
    * owner, [[graft.ops.Maintenance]] included, drives the Hadoop
    * `FileSystem` ([[StateFs]]).
    */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally s.close()
    }
}
