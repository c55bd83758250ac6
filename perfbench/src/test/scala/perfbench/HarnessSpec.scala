package perfbench

import java.io.File
import java.security.MessageDigest

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The benchmark's own arithmetic and bookkeeping, without Spark. */
class HarnessSpec extends AnyFunSuite {

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def notes(seed: Long) = sha(NoteGen.corpus(seed, 300).mkString("\n"))

  test("the same seed gives byte-identical inputs, another seed different ones") {
    assert(notes(7) === notes(7))
    assert(notes(7) !== notes(8))
    val ctx = Ctx(7, "", "")
    val qm = new QueryMix(ctx, "")
    assert(qm.order(0) === new QueryMix(ctx, "").order(0))
    assert(qm.order(0) !== new QueryMix(ctx.copy(seed = 8), "").order(0))
    assert(qm.order(0).sorted === qm.mix.sorted)
  }

  test("planted entities sit where the note text says they are") {
    NoteGen.corpus(3, 200).foreach { n =>
      n.ents.foreach(e => assert(n.text.substring(e.begin, e.end) === e.text))
    }
  }

  test("the percentile rule picks the highest percentile with >= 10 samples beyond it") {
    assert(Stats.tailPercentile(164) === Some(90.0)) // 16 beyond; p95 leaves 8
    assert(Stats.beyond(164, 90) === 16)
    assert(Stats.tailPercentile(1000) === Some(99.0))
    assert(Stats.tailPercentile(200) === Some(95.0))
    assert(Stats.tailPercentile(100) === Some(90.0))
    assert(Stats.tailPercentile(99) === Some(75.0))
    assert(Stats.tailPercentile(20) === Some(50.0))
    assert(Stats.tailPercentile(19) === None)
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 90) === 9.0)
    assert(Stats.percentile(xs, 100) === 10.0)
    assert(Stats.median(xs) === 5.0)
  }

  test("the units a run measures depend on its length alone") {
    val ctx = Ctx(7, "", "")
    val ws = Seq(new NoteNlp(ctx), new QueryMix(ctx, ""))
    assert(ws.map(_.units(12)) === Seq(10, 2))
    assert(ws.map(_.units(4)) === Seq(3, 1))
    assert(ws.map(_.units(0.1)) === Seq(1, 1))
  }

  test("span self time is the duration minus the direct children's") {
    val spans = Seq(
      Span(0, -1, "bench", "root", "r", 0, 100),
      Span(1, 0, "spark", "a", "r", 10, 40),
      Span(2, 0, "io", "b", "r", 50, 90),
      Span(3, 2, "spark", "c", "r", 60, 70))
    assert(Tracer.selfNs(spans) === Map(0 -> 30L, 1 -> 30L, 2 -> 30L, 3 -> 10L))
    val layers = Tracer.layerSelfSeconds(spans)
    assert(layers("spark") === 40e-9)
    assert(layers("io") === 30e-9)
    assert(layers("bench") === 30e-9)
    // self times add up to the root's wall time
    assert(Tracer.selfNs(spans).values.sum === 100L)
  }

  test("the tracer nests spans by call and records nothing when disabled") {
    val t = new Tracer(true)
    t.span("bench", "outer", "q1") {
      t.span("relational", "inner", "q1")(())
      t.span("spark", "action", "q1")(())
    }
    val s = t.spans
    assert(s.map(x => (x.name, x.parent)) ===
      Seq("outer" -> -1, "inner" -> 0, "action" -> 0))
    val off = new Tracer(false)
    assert(off.span("bench", "x", "r")(41 + 1) === 42)
    assert(off.spans.isEmpty)
  }

  test("every query of the engine maps to exactly one family") {
    val queries = graft.SparkEntry.queries.keySet
    assert(Families.familyOf.keySet === queries)
    assert(Families.names.flatMap(Families.members).size === queries.size)
    assert(Families.mix.map(Families.familyOf).toSet === Families.names.toSet)
  }

  test("BENCHMARK.json names exactly the metrics the benchmark reports") {
    val root = new File(sys.props("perfbench.root"))
    val json = new ObjectMapper().readTree(new File(root, "BENCHMARK.json"))
    def names(key: String) =
      json.get(key).elements().asScala.map(m =>
        m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(names("end_to_end") === Main.endToEnd)
    assert(names("per_layer") === Main.perLayer)
  }
}
