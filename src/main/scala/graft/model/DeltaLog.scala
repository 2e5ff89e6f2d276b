package graft.model

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import MergeOnReadStore.CompactedBatchId

/** Merge-on-read over one key schema — the incremental-dedup design in
  * README "Scale design", shared by [[MergeOnReadStore]] (string keys)
  * and [[DictMorStore]] (dictionary ids). Writers append RAW deltas —
  * inserts (`op` = "i") or tombstones ("d") — tagged with a
  * monotonically increasing batch id: ingest is O(delta), no existing
  * data is read. Readers reconstruct set semantics with one
  * latest-batch-wins aggregation per key, which the next aggregation
  * downstream usually absorbs. [[compact]] folds a graph partition back
  * into a pure-insert base so read amplification stays bounded — the
  * Iceberg/Hudi merge-on-read trade on plain partitioned parquet.
  *
  * Rows live in `layout` as the key columns plus `batch_id` and `op`;
  * the compaction horizon lives in one small file per compacted graph
  * under `markerDir` (underscore-prefixed, so Spark's parquet file
  * index skips it).
  */
private[model] final class DeltaLog(layout: PartitionLayout, keys: QuadKeys,
    markerDir: Path) {
  private val schema: StructType = StructType(keys.schema.fields ++ Seq(
    StructField("batch_id", LongType), StructField("op", StringType)))
  private val keyCols: Seq[Column] = keys.names.map(col)

  /** Writer-local monotonic batch ids for the [[QuadStore]] surface
    * (callers that manage their own batches pass explicit ids).
    * Wall-clock-seeded so ids stay monotonic across process restarts;
    * concurrent writers get distinct ids with overwhelming probability,
    * and quad-level last-wins only needs order between CONFLICTING
    * writes, which a sane ingest pipeline serializes per key anyway. */
  private val batchCounter =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis() * 1000L)
  def nextBatchId(): Long = batchCounter.incrementAndGet()

  /** Raw deltas (all batches, tombstones included). */
  def deltas(): DataFrame = layout.scan(schema)

  /** O(delta) write of key rows as batch `batchId` (non-negative — the
    * caller checks, before any side effect of its own). */
  def append(rows: DataFrame, batchId: Long, op: String): Unit =
    layout.append(rows.withColumn("batch_id", lit(batchId)).withColumn("op", lit(op)))

  private def lastOps(rows: DataFrame): DataFrame =
    rows.groupBy(keyCols: _*).agg(max_by(col("op"), col("batch_id")).as("last_op"))

  /** Keys whose latest batch is an insert. */
  private def latestInserts(rows: DataFrame): DataFrame =
    lastOps(rows).filter(col("last_op") === "i").select(keyCols: _*)

  private def upTo(asOf: Long): Column =
    col("batch_id") <= asOf || col("batch_id") === CompactedBatchId

  /** Set-semantics view: per key the LATEST batch wins, and it must be an
    * insert. READ-OPTIMIZED split (the Hudi/Iceberg MOR read): the
    * compacted base (reserved batch [[MergeOnReadStore.CompactedBatchId]],
    * distinct inserts by construction of [[compact]]) needs NO
    * latest-wins aggregation — only the post-compaction delta TAIL
    * aggregates, and the base is corrected by an anti-join against the
    * tail's touched keys. After regular compaction the tail is
    * batch-sized, so AQE broadcasts it and the base contributes a
    * map-side scan with ZERO corpus shuffle (InferenceScaleProbe
    * measures the refresh flat at 10x base). Graph-scoped reads prune
    * delta partitions (the graph filter pushes through both union
    * branches and the aggregation).
    *
    * NEVER-COMPACTED FAST PATH: a store with no horizon marker (one
    * driver-side FS stat — [[compact]] persists the marker BEFORE the
    * partition swap and [[clearGraph]] deletes it AFTER the partition,
    * precisely so "no marker" implies "no compacted base rows can
    * exist") skips the base scan and the anti-join entirely — two fewer
    * stages on every read of a fresh-ingest store, the common case for
    * short update lifecycles and streaming MOR ingest. */
  def merged(): DataFrame = {
    val d = deltas()
    if (horizon().isEmpty) return latestInserts(d)
    val base = d.filter(col("batch_id") === CompactedBatchId && col("op") === "i")
      .select(keyCols: _*)
    val tail = lastOps(d.filter(col("batch_id") =!= CompactedBatchId))
    keys.join(base, tail.select(keyCols: _*), "left_anti")
      .unionByName(tail.filter(col("last_op") === "i").select(keyCols: _*))
  }

  /** TIME TRAVEL: the view as of batch `asOf` — replay only deltas with
    * `batch_id <= asOf` through the same latest-wins aggregation. A
    * snapshot read is a FILTER (pushed into the parquet scan), not a
    * copy. [[compact]] folds a graph's history into the base and so
    * truncates how far back a snapshot reaches; snapshots older than the
    * horizon are REJECTED, never silently served the compacted state. */
  def asOf(asOf: Long): DataFrame = {
    requireReachable(asOf, "snapshot as-of batch")
    latestInserts(deltas().filter(upTo(asOf)))
  }

  /** CHANGE DATA FEED: the net per-key changes between the snapshot as-of
    * `fromBatch` (exclusive baseline) and as-of `toBatch` (inclusive) —
    * the Delta/Iceberg CDF read on this layout. Only keys WRITTEN inside
    * the window can differ between the two snapshots, so the plan is
    * O(window): the window's distinct touched keys BROADCAST into a
    * semi-join that prunes history to those keys in one map-side pass
    * (no corpus shuffle, no full-snapshot materialization), then the two
    * latest-wins endpoint states are compared by presence. A value update
    * surfaces as the new identity's `insert` (plus the old identity's
    * `delete` iff it was tombstoned); re-inserting a live quad or
    * re-tombstoning a dead one inside the window nets to NO change row.
    * `fromBatch` must be at or past the compaction horizon. */
  def changesBetween(fromBatch: Long, toBatch: Long): DataFrame = {
    require(fromBatch >= 0 && toBatch >= fromBatch,
      s"bad CDF window [$fromBatch, $toBatch]: need 0 <= from <= to")
    requireReachable(fromBatch, "CDF baseline batch")
    val d = deltas()
    val touched = d.filter(col("batch_id") > fromBatch && col("batch_id") <= toBatch)
      .select(keyCols: _*).distinct()
    val history = keys.join(d, broadcast(touched), "left_semi")
    def stateAt(asOf: Long, side: Int) =
      latestInserts(history.filter(upTo(asOf))).withColumn("cdf_side", lit(side))
    // groupBy treats nulls as equal, so presence flags need no <=> here
    stateAt(fromBatch, 0).unionByName(stateAt(toBatch, 1))
      .groupBy(keyCols: _*)
      .agg(max(when(col("cdf_side") === 0, 1).otherwise(0)).as("cdf_b"),
        max(when(col("cdf_side") === 1, 1).otherwise(0)).as("cdf_a"))
      .filter(col("cdf_b") =!= col("cdf_a"))
      .withColumn("change",
        when(col("cdf_a") === 1, lit("insert")).otherwise(lit("delete")))
      .select(keyCols :+ col("change"): _*)
  }

  /** Distinct real batch ids (the version history; the compacted
    * pseudo-batch is not a version) — a batch_id-only column scan. */
  def versions(): Seq[Long] =
    deltas().select(col("batch_id")).distinct()
      .collect().map(_.getLong(0))
      .filter(_ != CompactedBatchId).sorted.toIndexedSeq

  private def markerFile(graph: String): Path =
    new Path(markerDir, ExternalCatalogUtils.escapePathName(graph))

  /** Max batch id folded into a compacted base by any [[compact]] run, if
    * one exists — the oldest reachable snapshot. Read driver-side. */
  def horizon(): Option[Long] = {
    val fs = layout.fs
    if (!fs.exists(markerDir)) None
    else {
      val hs = fs.listStatus(markerDir).toSeq.map { st =>
        val in = fs.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      }
      if (hs.isEmpty) None else Some(hs.max)
    }
  }

  private def requireReachable(batch: Long, what: String): Unit = {
    val h = horizon()
    require(h.forall(batch >= _),
      s"$what $batch is unreachable: compaction folded history up to batch " +
        s"${h.get} into the base (retention trade); read a version >= the " +
        "horizon or stop compacting this store")
  }

  private def writeHorizon(graph: String, horizon: Long): Unit = {
    val fs = layout.fs
    if (!fs.exists(markerDir)) fs.mkdirs(markerDir)
    val out = fs.create(markerFile(graph), true)
    try out.write(horizon.toString.getBytes("UTF-8")) finally out.close()
  }

  private def graphTail(graph: String): DataFrame =
    deltas().where(col("graph") === graph).filter(col("batch_id") =!= CompactedBatchId)

  /** Auto-compaction policy: fold when the post-compaction delta TAIL of
    * `graph` exceeds `maxTailBatches` distinct batches. The tail is what
    * every [[merged]] read must aggregate and anti-join, so its length IS
    * the read cost — a bounded-tail policy keeps read amplification
    * O(maxTailBatches) regardless of ingest history. The trigger is a
    * batch_id-only distinct over one graph partition (column-stats
    * cheap). Returns true when a compaction ran. */
  def compactIfNeeded(graph: String, maxTailBatches: Int, numFiles: Int): Boolean = {
    val tailBatches = graphTail(graph).select(col("batch_id")).distinct().count()
    if (tailBatches > maxTailBatches) { compact(graph, numFiles); true }
    else false
  }

  /** Collapse one graph partition: rewrite its merged view as the
    * reserved compacted pseudo-batch (distinct inserts, no history,
    * clustered by `keys.clusterOrder`) and drop the masked deltas.
    * Post-compaction reads skip the latest-wins aggregation for these
    * rows — see [[merged]].
    *
    * The horizon (max real batch id folded, a batch_id-only aggregation)
    * is PERSISTED BEFORE the partition swap, so the marker exists by the
    * time base rows can. A crash between the two steps leaves the
    * conservative state: [[asOf]] rejects pre-horizon snapshots whose
    * deltas are in fact still all present, and [[merged]] takes the
    * (correct) split path over an empty base. */
  def compact(graph: String, numFiles: Int): Unit = {
    val maxBatch = graphTail(graph).agg(max(col("batch_id"))).collect().head
    val rows = merged().where(col("graph").isin(graph)).coalesce(numFiles)
      .sortWithinPartitions(keys.clusterOrder.map(col): _*)
      .withColumn("batch_id", lit(CompactedBatchId))
      .withColumn("op", lit("i"))
    layout.replace(Seq(graph), rows, "compact", () =>
      if (!maxBatch.isNullAt(0)) writeHorizon(graph, maxBatch.getLong(0)))
  }

  /** CLEAR/DROP stay physical: every delta of the graph lives in its
    * partition directory, so deleting it empties the merged view. The
    * graph's horizon marker goes AFTER the partition, so a crash between
    * the two leaves a marker over no base rows (the conservative state),
    * never base rows without a marker; once it is gone, a store whose
    * compacted graphs were all cleared regains the never-compacted read. */
  def clearGraph(graph: String): Unit = {
    layout.clearGraph(graph)
    val marker = markerFile(graph)
    if (layout.fs.exists(marker)) layout.fs.delete(marker, false)
  }
}

/** The merge-on-read write policy over a [[DeltaLog]]: the engine's
  * set-semantics ops become O(delta) writes (insert deltas, tombstones)
  * and the latest-wins read supplies the dedup that merge-on-write does
  * eagerly. */
trait MergeOnRead extends PartitionedStore {
  private lazy val log = new DeltaLog(layout, keys, new Path(path, "_compaction"))

  /** O(delta) write: no existing quad data is read. `op` = "i" (insert)
    * or "d" (delete tombstone masking every earlier batch of that quad).
    * Batch ids must be non-negative — [[MergeOnReadStore.CompactedBatchId]]
    * is reserved for the read-optimized compacted base. */
  def appendDelta(quads: DataFrame, batchId: Long, op: String = "i"): Unit = {
    require(batchId >= 0, s"batch ids must be >= 0 (got $batchId); " +
      s"$CompactedBatchId is reserved for compacted data")
    withEncoded(quads.select(GraphStore.columns: _*), insert = op == "i")(
      log.append(_, batchId, op))
  }

  /** Raw stored deltas (all batches, tombstones included). */
  def readDeltas(): DataFrame = log.deltas()
  protected def storedRows: DataFrame = readDeltas()

  def readEncoded(): DataFrame = log.merged()
  def readEncodedAsOf(asOf: Long): DataFrame = log.asOf(asOf)
  def readAsOf(asOf: Long): DataFrame = decode(readEncodedAsOf(asOf))
  def changesBetweenEncoded(fromBatch: Long, toBatch: Long): DataFrame =
    log.changesBetween(fromBatch, toBatch)
  /** Decoded CDF rows: any decode runs over the window-sized change set,
    * not the store. */
  def changesBetween(fromBatch: Long, toBatch: Long): DataFrame =
    decode(changesBetweenEncoded(fromBatch, toBatch), Seq("change"))
  def versions(): Seq[Long] = log.versions()
  def compactionHorizon(): Option[Long] = log.horizon()
  def compactIfNeeded(graph: String, maxTailBatches: Int = 8,
      numFiles: Int = 1): Boolean = log.compactIfNeeded(graph, maxTailBatches, numFiles)

  def appendDistinct(quads: DataFrame, knownGraphs: Option[Seq[String]]): Unit =
    appendDelta(quads, log.nextBatchId())
  /** DELETE as tombstones — O(delta), no partition rewrite. */
  def deleteQuads(quads: DataFrame, knownGraphs: Option[Seq[String]]): Unit =
    appendDelta(quads, log.nextBatchId(), op = "d")
  def compact(graph: String, numFiles: Int): Unit = log.compact(graph, numFiles)
  override def clearGraph(graph: String): Unit = log.clearGraph(graph)
}

/** Read-only SPARQL surface over a merge-on-read SNAPSHOT: the engine
  * queries history exactly like the live state (`new GraphEngine(new
  * SnapshotStore(store, v))`), with the batch filter pushed into the
  * delta scan — no per-version copy — and, on dictionary ids, every
  * pattern join still over longs. Mutations are rejected loudly:
  * rewriting history is a different feature (branching), not an
  * accidental write path.
  */
trait ReadOnlySnapshot extends PartitionedStore {
  protected def underlying: MergeOnRead
  protected def asOf: Long
  def spark: org.apache.spark.sql.SparkSession = underlying.spark
  def path: String = underlying.path
  def readEncoded(): DataFrame = underlying.readEncodedAsOf(asOf)

  protected final def readOnly: Nothing = throw new UnsupportedOperationException(
    s"snapshot as-of batch $asOf is read-only")
  protected def storedRows: DataFrame = readOnly
  def appendDistinct(quads: DataFrame, knownGraphs: Option[Seq[String]]): Unit = readOnly
  def deleteQuads(quads: DataFrame, knownGraphs: Option[Seq[String]]): Unit = readOnly
  override def clearGraph(graph: String): Unit = readOnly
  def compact(graph: String, numFiles: Int): Unit = readOnly
}
