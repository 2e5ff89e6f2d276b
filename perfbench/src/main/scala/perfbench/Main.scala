package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.GraphEngine
import graft.ingest.JsonFlattener
import graft.model.{DictQuadStore, GraphStore, MergeOnReadStore, QuadStore}
import graft.pipeline.Pipeline
import graft.queries.ReferenceMappings
import graft.queries.ReferenceMappings._
import graft.sources.Sources
import graft.sparql.{Algebra, Compiler}

/** One benchmark run of one workload (`rebuild` or `rebuild_mor`) over the
  * inputs `gen.py` wrote. Writes a JSON record of raw samples, checks and,
  * when tracing, spans and their Spark counters; `run.py` turns it into
  * metrics.
  *
  * {{{
  * perfbench.Main --workload rebuild --input <dir> --work <dir> --out <file>
  *   --trace 0 --cpus 4 --seed 1
  * }}}
  */
object Main {
  final case class Args(workload: String, input: String, work: String, out: String,
      trace: Boolean, cpus: Int, seed: Long)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("input"), m("work"), m("out"),
      m("trace") == "1", m("cpus").toInt, m("seed").toLong)
    val bench = new Bench(a)
    try bench.run()
    finally bench.spark.stop()
  }
}

final class Bench(a: Main.Args) {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[${a.cpus}]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", a.cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"${a.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionReady = System.currentTimeMillis()

  private val tr = new Tracer(spark.sparkContext, a.trace, s"${a.workload}-${a.seed}")
  private val expected: JsonNode = mapper.readTree(new File(s"${a.input}/expected.json"))

  private val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private val failures = ArrayBuffer.empty[String]
  private var attempted = 0L

  private def sample(k: String, v: Double): Unit =
    samples.synchronized(samples.getOrElseUpdate(k, ArrayBuffer.empty) += v)

  /** Every checked output counts as one attempted operation. */
  private def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) failures += what
  }

  private def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---- stores -------------------------------------------------------------
  private val storeRoot = s"${a.work}/stores"
  private def freshDir(name: String): String = s"$storeRoot/$name-${System.nanoTime()}"

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
  }

  private def dirStats(path: String): (Long, Long) = {
    val files = Files.walk(Paths.get(path)).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    (files.map(Files.size).sum, files.size.toLong)
  }

  /** Between passes: drop every pinned frame and memo, so one backend's
    * cached data does not tax the next. */
  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    graft.ops.Dedup.clearCaches()
    graft.ops.Similarity.clearCaches()
    graft.ops.SemanticOps.clearCaches()
    graft.ops.Retrieval.clearCaches()
    graft.ops.Classify.clearCaches()
    graft.model.TermDictionary.clearCaches()
    graft.model.DictBackend.clearCaches()
  }

  private val backends: Map[String, String => QuadStore] = Map(
    "string" -> (d => new GraphStore(spark, d)),
    "mor" -> (d => new MergeOnReadStore(spark, d)),
    "dict" -> (d => new DictQuadStore(spark, d)))

  // ---- the job's layers ------------------------------------------------------
  private val sourceGraphs = Seq("ldap" -> gLdap, "tl_users" -> gTlUsers,
    "tl_companies" -> gTlCompanies, "tl_custom_fields" -> gTlCustomFields,
    "mam" -> gMamTenants)
  private val RunId = "perfbench-run"
  private val StartedAt = "2026-01-01T00:00:00"
  private val QuadCols = GraphStore.schema.fieldNames.toSeq

  private def readSource(dir: String, src: String) = tr.span("sources.read", "sources") {
    if (src == "mam") Sources.jsonDocumentFile(spark, s"$dir/$src")
    else Sources.jsonLines(spark, s"$dir/$src")
  }

  private def ingest(store: QuadStore, dir: String): Unit =
    sourceGraphs.foreach { case (src, g) =>
      val raw = readSource(dir, src)
      val quads = tr.span("ingest.flatten", "ingest") {
        JsonFlattener.flatten(raw, "json", g, source).toDF()
      }
      tr.span("model.appendDistinct", "model")(store.appendDistinct(quads, Some(Seq(g))))
    }

  /** clear → ingest 5 sources → clear target → 16 mappings → provenance →
    * finish; returns the seconds of each phase. */
  private def rebuildPass(store: QuadStore, dir: String, b: String): Seq[(String, Double)] = {
    val p = new Pipeline(store)
    def phase(n: String)(f: => Unit): (String, Double) =
      n -> secondsOf(tr.span(s"rebuild.$b.$n", "bench")(f))._2
    val clear = phase("clear")(tr.span("pipeline.clearAll", "pipeline")(p.clearAll()))
    val load = phase("ingest")(ingest(store, dir))
    // traced runs only: the staging size, outside the phase timings
    if (a.trace) values(s"rebuild.$b.staging_quads") =
      tr.span("model.count", "model")(store.readGraphs(p.stagingGraphs).count())
    val map = phase("map") {
      tr.span("model.clearGraph", "model")(store.clearGraph(gOrganizations))
      tr.span("pipeline.runMappings", "pipeline")(p.runMappings())
    }
    val prov = phase("provenance")(tr.span("pipeline.addProvenance", "pipeline")(
      p.addProvenance(RunId, StartedAt)))
    val finish = phase("finish")(tr.span("pipeline.finish", "pipeline")(p.finish()))
    Seq(clear, load, map, prov, finish)
  }

  private type QuadRow = Seq[String]
  /** The string pass's target graph, for the oracle check in run.py. */
  private var target: Seq[QuadRow] = Nil

  private def targetRows(store: QuadStore): Seq[QuadRow] =
    tr.span("model.readGraphs", "model") {
      store.readGraphs(Seq(gOrganizations)).select(QuadCols.map(col): _*).collect()
        .map(r => QuadCols.indices.map(i => r.getString(i))).toSeq
    }

  private def quadKey(r: QuadRow): String =
    r.map(x => if (x == null) "\u0000" else x).mkString("\u0001")

  private def sortedHash(rows: Seq[QuadRow]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(quadKey).sorted.foreach(k => md.update((k + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  // ---- output checks -----------------------------------------------------------
  private def subjectCounts(rows: Seq[QuadRow]): Map[String, Int] = {
    val types = rows.filter(_(2) == Algebra.dsl.rdfType).groupBy(r => "type " + r(3))
    val preds = rows.groupBy(r => "pred " + r(2))
    (types ++ preds).map { case (k, rs) => k -> rs.map(_(1)).distinct.size }
  }

  /** Class counts the generator predicts, and one check per mapping (the
    * fixture subset is checked against the oracle by run.py). */
  private def checkTarget(rows: Seq[QuadRow], b: String): Unit = {
    val got = subjectCounts(rows)
    val want = expected.get("counts").get("subjects")
    want.fieldNames().asScala.foreach { k =>
      val n = got.getOrElse(k, 0)
      check(n == want.get(k).asInt, s"rebuild/$b: $k has $n subjects, expected ${want.get(k).asInt}")
    }
    val proof = expected.get("counts").get("mapping_proof")
    ReferenceMappings.all.foreach { q =>
      val k = proof.get(q.name).asText
      check(got.getOrElse(k, 0) > 0 && got.getOrElse(k, 0) == want.get(k).asInt,
        s"rebuild/$b: mapping ${q.name} output missing ($k)")
    }
  }

  // ---- workloads -----------------------------------------------------------------
  def run(): Unit = {
    val (gc0, codegen0) = (Tracer.gcMs(), Tracer.codegenCount())
    val measure: () => Unit = a.workload match {
      case "rebuild" => rebuild("string")
      case "rebuild_mor" => rebuild("mor")
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val ready = System.currentTimeMillis()
    values("setup.session_s") =
      (sessionReady - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    values("setup.prep_s") = (ready - sessionReady) / 1e3
    val (_, measured) = secondsOf(measure())
    values("measured_s") = measured
    val (spans, counters) = tr.dump()
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "ready_epoch_ms" -> ready,
      "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.take(50),
      "samples" -> samples, "values" -> values,
      "target" -> target,
      "oracle_sql" -> graft.ops.RdfOps.oracleSql("rdf_mapping_pipeline"),
      "peak_rss_mb" -> peakRssMb(),
      "jvm" -> Map("gc_s" -> (Tracer.gcMs() - gc0) / 1e3,
        "codegen_classes" -> (Tracer.codegenCount() - codegen0)),
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "parent" -> s.parent, "run" -> s.run, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "gc_ms" -> s.gcMs, "codegen" -> s.codegen)),
      "counters" -> counters.map { case (k, v) => k.toString -> v })
    mapper.writeValue(new File(a.out), record)
  }

  /** CPU time of the whole JVM (every thread, JIT and GC included). */
  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** The backend a traced run adds after its first pass, and checks against
    * it: `rebuild` adds dict, `rebuild_mor` adds merge-on-write, so the two
    * traced runs together prove all three backends quad-identical. */
  private val tracedPartner = Map("string" -> "dict", "mor" -> "string")

  /** rebuild: the job on one store in a fresh JVM, as a nightly run meets it,
    * class loading, JIT and code generation included. The traced run adds
    * one warm pass on the partner backend and checks that both target graphs
    * are quad-identical; traced `rebuild_mor` also runs the 16 mappings alone.
    * Every run of a workload does the same passes. */
  private def rebuild(first: String): () => Unit = () => {
    val passes = (first +: (if (a.trace) Seq(tracedPartner(first)) else Nil))
      .map(b => b -> backends(b))
    val targets = passes.zipWithIndex.map { case ((b, mk), i) =>
      clearCaches()
      val dir = freshDir(b)
      val store = mk(dir)
      val cpu0 = cpuNs()
      val phases = tr.span(s"rebuild.$b", "bench")(rebuildPass(store, s"${a.input}/full", b))
      val total = phases.map(_._2).sum
      sample(s"rebuild.$b.cpu_s", (cpuNs() - cpu0) / 1e9)
      phases.foreach { case (n, s) => sample(s"rebuild.$b.${n}_s", s) }
      sample(s"rebuild.$b.total_s", total)
      val rows = targetRows(store)
      if (i == 0) checkTypesBySparql(store)
      if (a.trace) traceRebuildExtras(dir, b, rows.size, first = i == 0)
      deleteTree(dir)
      b -> rows
    }
    val (_, rows) = targets.head
    target = rows
    sample("op_ms", samples(s"rebuild.$first.total_s").head * 1e3)
    sample("target_quads", rows.size.toDouble)
    checkTarget(rows, first)
    val hash = sortedHash(rows)
    targets.tail.foreach { case (b, other) =>
      check(sortedHash(other) == hash, s"rebuild: $b target graph differs from $first")
    }
    if (a.trace && first != "string") {
      val dir = freshDir("staging")
      val staging = new GraphStore(spark, dir)
      ingest(staging, s"${a.input}/full")
      isolateMappings(staging)
      deleteTree(dir)
    }
  }

  /** Traced run only: store sizes, and flatten alone (the timed ingest
    * cannot separate it from the store write; it is the same on every
    * backend, so it runs once). */
  private def traceRebuildExtras(dir: String, b: String, target: Int, first: Boolean): Unit = {
    val (bytes, files) = dirStats(dir)
    values(s"model.$b.store_bytes") = bytes
    values(s"model.$b.files") = files
    values(s"model.$b.bytes_per_quad") = bytes.toDouble / math.max(target, 1)
    values(s"rebuild.$b.target_quads") = target
    if (first) values("ingest.flatten_s") = sourceGraphs.map { case (src, g) =>
      secondsOf(tr.span("ingest.flatten", "ingest") {
        JsonFlattener.flatten(readSource(s"${a.input}/full", src), "json", g, source).count()
      })._2
    }.sum
  }

  /** Traced run only: each of the 16 mappings alone over the staging graphs
    * of a merge-on-write store; the pipeline runs them in parallel. */
  private def isolateMappings(staging: QuadStore): Unit =
    ReferenceMappings.all.foreach { q =>
      val (n, s) = secondsOf(tr.span(s"sparql.mapping.${q.name}", "sparql") {
        Compiler.run(q, staging.readGraphs(q.usingGraphs)).count()
      })
      values(s"map.string.${q.name}_s") = s
      check(n > 0, s"mapping ${q.name} alone produced no quads")
    }

  // ---- SPARQL read-back --------------------------------------------------------------
  private def rowsOf(doc: String): Seq[Seq[String]] = {
    val root = mapper.readTree(doc)
    val vars = root.get("head").get("vars").elements().asScala.map(_.asText).toSeq
    root.get("results").get("bindings").elements().asScala.map { b =>
      vars.map(v => Option(b.get(v)).map(_.get("value").asText).orNull)
    }.toSeq
  }

  /** The class counts again, through the SPARQL surface of the engine
    * (parser, compiler, W3C JSON results). */
  private def checkTypesBySparql(store: QuadStore): Unit = {
    val q = s"SELECT ?type (COUNT(?o) AS ?n) FROM <$gOrganizations> " +
      "WHERE { ?o a ?type } GROUP BY ?type"
    val doc = tr.span("sparql.selectJson", "sparql")(new GraphEngine(store).selectJson(q))
    val got = rowsOf(doc).map(r => ("type " + r(0)) -> r(1).toInt).toMap
    val want = expected.get("counts").get("subjects")
    val types = want.fieldNames().asScala.filter(_.startsWith("type ")).toSeq
    check(types.forall(k => got.get(k).contains(want.get(k).asInt)),
      s"rebuild: class counts by SPARQL differ: ${types.map(k => k -> got.get(k))}")
  }
}
