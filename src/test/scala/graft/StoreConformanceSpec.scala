package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join

import graft.model.{DictMorStore, DictQuadStore, GraphStore, MergeOnReadStore, Quad, QuadStore}

/** One scripted write sequence on all four live backends (string and
  * dictionary terms, merge-on-write and merge-on-read): after every step
  * each backend's sorted `read()` must equal a plain set model of the
  * graph state. The sequence crosses compaction, so the merge-on-read
  * base/tail split and the merge-on-write partition swap are both held
  * to the same observable state, including quads whose null `o_type` /
  * `o_lang` are part of the identity.
  */
class StoreConformanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString + "/store"

  private val g1 = "http://ex/g1"
  private val g2 = "http://ex/g2"
  private val a = Quad.iri(g1, "http://ex/a", "http://ex/knows", "http://ex/b")
  private val b = Quad.lit(g1, "http://ex/a", "http://ex/name", "A") // null o_type/o_lang
  private val c = Quad.typed(g1, "http://ex/a", "http://ex/age", "7", Quad.xsd.integer)
  private val d = Quad(g1, "http://ex/b", "http://ex/name", "Bé", null, "fr", Quad.KindLiteral)
  private val e = Quad.iri(g2, "_:n1", "http://ex/knows", "http://ex/a")
  private val f = Quad.lit(g2, "http://ex/b", "http://ex/name", "B") // null o_type/o_lang

  private def key(q: Quad): String =
    Seq(q.graph, q.s, q.p, q.o_value, q.o_type, q.o_lang, q.o_kind).map(String.valueOf).mkString("|")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(r => (0 until 7).map(i => String.valueOf(r.get(i))).mkString("|"))
      .toSeq.sorted

  test("one write sequence reads the same on all four backends after every step") {
    val stores: Seq[(String, QuadStore)] = Seq(
      "string" -> new GraphStore(spark, tmp("conf-mow")),
      "mor" -> new MergeOnReadStore(spark, tmp("conf-mor")),
      "dict" -> new DictQuadStore(spark, tmp("conf-dict")),
      "dict-mor" -> new DictMorStore(spark, tmp("conf-dictmor")))
    var model = Set.empty[Quad]
    def step(name: String)(op: QuadStore => Unit)(next: Set[Quad] => Set[Quad]): Unit = {
      stores.foreach { case (_, st) => op(st) }
      model = next(model)
      val want = model.toSeq.map(key).sorted
      stores.foreach { case (backend, st) =>
        assert(rows(st.read()) == want, s"$backend after $name")
      }
    }
    step("first append")(_.appendDistinct(Seq(a, b, c, e).toDF()))(_ ++ Seq(a, b, c, e))
    step("overlapping append")(_.appendDistinct(Seq(b, c, d, f).toDF()))(_ ++ Seq(b, c, d, f))
    step("replay")(_.appendDistinct(Seq(b, c, d, f).toDF()))(identity)
    step("delete")(_.deleteQuads(Seq(a, f).toDF()))(_ -- Seq(a, f))
    step("compact")(_.compact(g1))(identity)
    step("delete after compaction")(_.deleteQuads(Seq(b, c).toDF()))(_ -- Seq(b, c))
    step("re-insert after compaction")(_.appendDistinct(Seq(b, a, d).toDF()))(_ ++ Seq(b, a, d))
    step("clear")(_.clearGraph(g1))(_.filterNot(_.graph == g1))
    step("re-append")(_.appendDistinct(Seq(a, b, f).toDF()))(_ ++ Seq(a, b, f))
  }

  test("clearGraph drops the graph's compaction marker: the never-compacted read returns") {
    def check(backend: String, st: QuadStore, horizon: () => Option[Long],
        merged: () => DataFrame): Unit = {
      st.appendDistinct(Seq(a, b).toDF())
      st.compact(g1)
      assert(horizon().isDefined, backend)
      st.clearGraph(g1)
      assert(horizon().isEmpty, s"$backend: clearGraph left the compaction marker")
      st.appendDistinct(Seq(c).toDF())
      val joins = merged().queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.isEmpty, s"$backend: merged read still joins a base:\n" +
        merged().queryExecution.optimizedPlan)
      assert(rows(st.read()) == Seq(key(c)), backend)
    }
    val mor = new MergeOnReadStore(spark, tmp("clear-mor"))
    check("mor", mor, () => mor.compactionHorizon(), () => mor.readMerged())
    val dictMor = new DictMorStore(spark, tmp("clear-dictmor"))
    check("dict-mor", dictMor, () => dictMor.compactionHorizon(), () => dictMor.readEncoded())
  }
}
