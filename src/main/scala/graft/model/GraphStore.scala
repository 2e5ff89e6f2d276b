package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The statement-store contract the SPARQL engine runs against. The
  * backends combine a term encoding (string columns: [[GraphStore]],
  * [[MergeOnReadStore]]; dictionary ids: [[DictQuadStore]],
  * [[DictMorStore]]) with a write policy ([[MergeOnWrite]] — dedup at
  * insert, reads are plain scans; [[MergeOnRead]] — O(delta) writes,
  * set semantics reconstructed at read). Same observable graph state,
  * opposite read/write amplification trade — pick per workload.
  */
trait QuadStore {
  def spark: SparkSession
  /** The store's root directory — auxiliary artifacts (the cardinality
    * stats summary, dictionaries) live in underscore-prefixed
    * subdirectories beside the quad partitions. */
  def path: String
  def read(): DataFrame
  /** The merge (union) of the given named graphs — SPARQL `USING`. */
  def readGraphs(graphs: Seq[String]): DataFrame
  /** Set-semantics insert (Q11): the graph state afterwards contains
    * each distinct quad once, regardless of batch overlap or replays.
    *
    * `knownGraphs`: the target graphs when the CALLER knows them
    * statically (a compiled INSERT writes only its WITH/GRAPH target).
    * Without it a merge-on-write store must compute the batch an extra
    * time just to discover the graph set — for a mapping query that
    * means running the whole WHERE-clause join tree twice. */
  def appendDistinct(quads: DataFrame, knownGraphs: Option[Seq[String]] = None): Unit
  def insertData(quads: Seq[Quad]): Unit =
    appendDistinct(frameOf(quads), Some(quads.map(_.graph).distinct))
  /** SPARQL DELETE: the given quads are absent afterwards. */
  def deleteQuads(quads: DataFrame, knownGraphs: Option[Seq[String]] = None): Unit
  def deleteData(quads: Seq[Quad]): Unit =
    deleteQuads(frameOf(quads), Some(quads.map(_.graph).distinct))
  private def frameOf(quads: Seq[Quad]): DataFrame = {
    val sp = spark // stable identifier for the implicits import
    import sp.implicits._
    quads.toDF()
  }
  /** CLEAR (SILENT) GRAPH — truncate one named graph (Q13). */
  def clearGraph(graph: String): Unit
  /** DROP (SILENT) GRAPH — the same physical op on a partitioned store. */
  def dropGraph(graph: String): Unit = clearGraph(graph)
  /** Store maintenance (S9): rewrite one graph's files into `numFiles`
    * for scan efficiency — and, on merge-on-read, collapse history. */
  def compact(graph: String, numFiles: Int = 1): Unit
  def countGraph(graph: String): Long = readGraphs(Seq(graph)).count()
  /** Every graph currently present (the dataset's graph list — needed
    * by `CLEAR/DROP ALL|NAMED`, §3.2.2-3). Bounded by graph count. */
  def graphNames(): Seq[String]
}

/** A [[QuadStore]] over one [[PartitionLayout]]. The term encoding
  * supplies the stored key schema and the encode/decode steps; the write
  * policy ([[MergeOnWrite]] or [[MergeOnRead]]) supplies the
  * set-semantics view and the write paths.
  */
trait PartitionedStore extends QuadStore {
  protected def layout: PartitionLayout
  protected def keys: QuadKeys
  /** Stored-key rows for string-space quads; no side effects. */
  protected def encode(quads: DataFrame): DataFrame
  /** Runs `write` over the encoded `batch` (string-space quads); an
    * insert first makes the batch's terms encodable. */
  protected def withEncoded(batch: DataFrame, insert: Boolean)(write: DataFrame => Unit): Unit
  /** String-space quads, plus the `extra` columns, for stored-key rows. */
  protected def decode(rows: DataFrame, extra: Seq[String] = Nil): DataFrame
  /** Every stored row, history included. */
  protected def storedRows: DataFrame

  /** The set-semantics view in the stored key schema — what the SPARQL
    * compiler scans (identical to [[read]] on string keys). */
  def readEncoded(): DataFrame
  def readGraphsEncoded(graphs: Seq[String]): DataFrame =
    readEncoded().where(col("graph").isin(graphs: _*))
  def read(): DataFrame = decode(readEncoded())
  /** Compiles to partition pruning, not a scan-and-filter; on dictionary
    * ids the graphs are pruned BEFORE the decode joins. */
  def readGraphs(graphs: Seq[String]): DataFrame = decode(readGraphsEncoded(graphs))
  def graphNames(): Seq[String] = layout.graphNames()
  def clearGraph(graph: String): Unit = layout.clearGraph(graph)
}

/** The merge-on-write policy: set-semantics dedup at insert time, reads
  * are plain partition scans.
  */
trait MergeOnWrite extends PartitionedStore {
  def readEncoded(): DataFrame = layout.scan(keys.schema)
  protected def storedRows: DataFrame = readEncoded()

  private def graphsOf(quads: DataFrame): Seq[String] =
    quads.select("graph").distinct().collect().map(_.getString(0)).toSeq

  /** Set-semantics append (Q11): dedup the batch, encode it, and drop
    * the quads already present in the target graphs (anti-join on the
    * full key; existing quads are scanned partition-pruned, never
    * rewritten), so overlapping inserts in any order reach an
    * order-independent final state. */
  def appendDistinct(quads: DataFrame, knownGraphs: Option[Seq[String]]): Unit = {
    val batch = quads.select(GraphStore.columns: _*)
      .dropDuplicates(GraphStore.schema.fieldNames.toIndexedSeq)
    withEncoded(batch, insert = true) { enc =>
      val graphs = knownGraphs.getOrElse(graphsOf(batch))
      layout.append(keys.join(enc, readGraphsEncoded(graphs.toIndexedSeq), "left_anti"))
    }
  }

  /** Remove exact quads (SPARQL DELETE DATA / DELETE..WHERE). Only the
    * affected graph partitions are rewritten: survivors = existing
    * anti-join the delete set, staged and swapped in. A quad whose terms
    * the store cannot encode cannot identify a stored quad, so it drops
    * out as the correct no-op. For high-churn deletes at scale,
    * [[MergeOnRead]] tombstones replace the rewrite entirely. */
  def deleteQuads(quads: DataFrame, knownGraphs: Option[Seq[String]]): Unit = {
    val del = quads.select(GraphStore.columns: _*)
    val graphs = knownGraphs.getOrElse(graphsOf(del)).filter(layout.hasGraph)
    if (graphs.nonEmpty)
      layout.replace(graphs, keys.join(readGraphsEncoded(graphs.toIndexedSeq),
        encode(del), "left_anti"), "delete")
  }

  /** Store maintenance (S9, the reference's post-load optimize): rewrite
    * a graph partition into few large files SORTED by
    * `keys.clusterOrder` within each file — predicate-constant patterns
    * are the dominant scan shape, and with the sort a `p = <const>` scan
    * filter skips every row group whose p-range excludes the constant.
    * A clustered index build for one no-extra-shuffle sort. */
  def compact(graph: String, numFiles: Int): Unit =
    rewrite(graph, "compact")(_.coalesce(numFiles)
      .sortWithinPartitions(keys.clusterOrder.map(col): _*))

  /** Staged rewrite of one graph partition through `layoutOf`. */
  protected def rewrite(graph: String, tag: String)(layoutOf: DataFrame => DataFrame): Unit =
    layout.replace(Seq(graph), layoutOf(readGraphsEncoded(Seq(graph))), tag)
}

/** String-column encoding: the quad columns are stored as they are, so
  * encode and decode are projections. */
trait StringTerms extends PartitionedStore {
  protected final lazy val layout: PartitionLayout = new PartitionLayout(spark, path)
  protected final def keys: QuadKeys = QuadKeys.Strings
  protected def encode(quads: DataFrame): DataFrame = quads.select(GraphStore.columns: _*)
  protected def withEncoded(batch: DataFrame, insert: Boolean)(
      write: DataFrame => Unit): Unit = write(batch)
  protected def decode(rows: DataFrame, extra: Seq[String]): DataFrame = rows
}

/** Parquet-backed quad store partitioned by named graph, merge-on-write.
  *
  * Replaces the reference's Stardog endpoint as the statement store
  * (SURVEY.md §1.1). Named-graph scoping (`USING` / `WITH` / `GRAPH`,
  * `/root/reference/airflow_files/dags/sparql/tl_companies_mapping_org.sparql:34-35`)
  * becomes partition pruning on the `graph` partition column; CLEAR/DROP
  * GRAPH (`/root/reference/airflow_files/dags/load_knowledge_graph.py:337-383,619-667`)
  * becomes partition-directory deletion — O(1) metadata work instead of a
  * data rewrite, which is what makes truncate-and-reload viable at scale.
  *
  * Set semantics (RDF graphs are sets — SURVEY.md Q11): `appendDistinct`
  * dedups within the batch and anti-joins existing quads of the target
  * graphs, so the 16 mapping tasks can insert overlapping triples in any
  * order with an order-independent final state.
  */
final class GraphStore(val spark: SparkSession, val path: String)
    extends StringTerms with MergeOnWrite {

  /** Plain append (caller owns dedup). */
  def append(quads: DataFrame): Unit = layout.append(encode(quads))

  /** Range-CLUSTERED maintenance twin of [[compact]]: rewrite one graph
    * partition RANGE-partitioned on SUBJECT — every output file covers
    * a disjoint s-range (the range exchange assigns a key to exactly
    * one partition), so a constant-subject probe (the DESCRIBE /
    * per-entity-lookup shape, the other dominant SPARQL scan) touches
    * exactly ONE file by construction, where [[compact]]'s p-led
    * within-file sort only row-group-skips. At 100 TB the per-file
    * min/max boxes ARE the file-statistics index an entity-centric
    * workload needs — a lookup opens 1 of N files instead of all of
    * them. (p, o_value) trail the within-file sort so predicate runs
    * stay row-group-skippable inside each subject range. The staged
    * write + directory swap is [[compact]]'s crash discipline. */
  def clusterGraph(graph: String, numFiles: Int = 16): Unit =
    rewrite(graph, "cluster")(_.repartitionByRange(numFiles, col("s"))
      .sortWithinPartitions("graph", "s", "p", "o_value"))
}

object GraphStore {
  val schema: StructType = StructType(Seq(
    StructField("graph", StringType),
    StructField("s", StringType),
    StructField("p", StringType),
    StructField("o_value", StringType),
    StructField("o_type", StringType),
    StructField("o_lang", StringType),
    StructField("o_kind", StringType)))

  private[model] val columns: Seq[Column] = schema.fieldNames.toIndexedSeq.map(col)
}

/** Merge-on-read quad store over string columns: `appendDistinct`'s
  * read-before-write scan per insert dominates once the base is large,
  * so writers here append RAW deltas — see [[DeltaLog]]. The horizon
  * markers live in `<path>/_compaction`.
  */
final class MergeOnReadStore(val spark: SparkSession, val path: String)
    extends StringTerms with MergeOnRead {
  /** The latest-wins set-semantics view (= [[read]]). */
  def readMerged(): DataFrame = readEncoded()
}

/** Read-only SPARQL surface over a string merge-on-read snapshot — see
  * [[ReadOnlySnapshot]]. */
final class SnapshotStore(protected val underlying: MergeOnReadStore,
    protected val asOf: Long) extends StringTerms with ReadOnlySnapshot

object MergeOnReadStore {
  /** Reserved batch id marking compacted (already-merged, insert-only,
    * distinct) rows — writer batches are required non-negative, so the
    * read path can split base from tail on this id alone. */
  val CompactedBatchId: Long = -1L
}
