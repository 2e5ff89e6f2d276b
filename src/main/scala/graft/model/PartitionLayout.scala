package graft.model

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The on-disk layout every store shares: parquet under `root`, one
  * `graph=<escaped name>` directory per named graph. Named-graph scoping
  * (`USING` / `WITH` / `GRAPH`) is partition pruning on the `graph`
  * column, and CLEAR/DROP GRAPH is a directory delete — O(1) metadata
  * work instead of a data rewrite.
  */
private[model] final class PartitionLayout(spark: SparkSession, val root: String) {
  def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every row under `schema`, `graph` restored from the partition
    * column; an empty frame before the first write. */
  def scan(schema: StructType): DataFrame =
    if (!fs.exists(new Path(root)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).option("basePath", root).parquet(root)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)

  def append(rows: DataFrame): Unit =
    rows.write.partitionBy("graph").mode("append").parquet(root)

  private def partitionName(graph: String): String =
    "graph=" + ExternalCatalogUtils.escapePathName(graph)

  def hasGraph(graph: String): Boolean = fs.exists(new Path(root, partitionName(graph)))

  /** Graph list = partition directory list — pure metadata, no scan.
    * Under merge-on-read it may include fully-tombstoned graphs;
    * clearing those is a harmless no-op for CLEAR ALL/NAMED. */
  def graphNames(): Seq[String] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("graph="))
      .map(st => ExternalCatalogUtils.unescapePathName(
        st.getPath.getName.stripPrefix("graph=")))

  def clearGraph(graph: String): Unit = {
    val dir = new Path(root, partitionName(graph))
    if (fs.exists(dir)) fs.delete(dir, true)
  }

  /** Staged rewrite of whole graph partitions: `rows` (the new content of
    * `graphs`) is written to a sibling directory first, then each graph's
    * directory is swapped for its staged one; a graph with no staged rows
    * ends up absent. Untouched graphs never move, and a crash before the
    * swap leaves the old partitions in place. `beforeSwap` runs once the
    * staged write has succeeded (the merge-on-read horizon marker). */
  def replace(graphs: Seq[String], rows: DataFrame, tag: String,
      beforeSwap: () => Unit = () => ()): Unit = {
    val tmp = new Path(root + s".$tag-${System.nanoTime()}")
    rows.write.partitionBy("graph").parquet(tmp.toString)
    beforeSwap()
    graphs.foreach { g =>
      clearGraph(g)
      val src = new Path(tmp, partitionName(g))
      if (fs.exists(src)) fs.rename(src, new Path(root, partitionName(g)))
    }
    fs.delete(tmp, true)
  }
}

/** The columns that identify a stored quad, and how two frames of them
  * join. The join follows from the term encoding: string keys join
  * null-safe because `o_type`/`o_lang` are null for IRIs and plain
  * literals (plain equality never matches a null key, so a delete of the
  * dominant quad shape would silently miss); dictionary ids are never
  * null and keep plain equi-key hash semantics. `clusterOrder` is the
  * within-file sort every compaction writes: `graph` leads so the
  * partitionBy writer's required ordering is already satisfied and it
  * injects no sort of its own, and the predicate comes next so parquet
  * row-group min/max statistics skip whole row groups on `p = <const>`
  * scans (the layout trick RDF-3X bakes into its permutation indexes).
  */
private[model] final case class QuadKeys(schema: StructType, nullSafe: Boolean,
    clusterOrder: Seq[String]) {
  val names: Seq[String] = schema.fieldNames.toIndexedSeq

  /** `left` joined to `right` on the full key, `how` a semi or anti join. */
  def join(left: DataFrame, right: DataFrame, how: String): DataFrame =
    if (!nullSafe) left.join(right, names, how)
    else {
      val cond = names.map(k => col(s"keys_l.$k") <=> col(s"keys_r.$k")).reduce(_ && _)
      left.alias("keys_l").join(right.alias("keys_r"), cond, how)
    }
}

private[model] object QuadKeys {
  val Strings: QuadKeys =
    QuadKeys(GraphStore.schema, nullSafe = true, Seq("graph", "p", "s", "o_value"))
  val Ids: QuadKeys =
    QuadKeys(DictQuadStore.encSchema, nullSafe = false, Seq("graph", "p_id", "s_id", "o_id"))
}
