package perfbench

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** note_nlp's output check: a wrong or failing pass is a failed operation
  * with a report, never a crash of the run.
  */
class NoteNlpCheckSpec extends AnyFunSuite {

  private val root = sys.props("perfbench.root")

  test("a wrong or failing note_nlp pass counts as failed, not as a crash") {
    new File(sys.props("java.io.tmpdir")).mkdirs()
    val workDir = s"$root/.bench_build/test-work/note_nlp"
    val w = new NoteNlp(Ctx(11, s"$root/perfbench/data/sf0.001", workDir))
    // inputs written in one session and measured in the next, as Main does
    val first = Main.session(workDir)
    w.generate(first)
    first.stop()
    val spark = Main.session(workDir)
    val sentinel = new Sentinel
    try {
      w.setup(spark, 1)
      // drop one note that has planted entities: they go missing
      val dropped = w.corpus.find(_.ents.nonEmpty).get.id
      val edited = s"$workDir/inputs/edited"
      spark.read.parquet(w.notesDir).filter(col("note_id") =!= dropped)
        .write.mode("overwrite").parquet(edited)
      FileUtils.deleteDirectory(new File(w.notesDir))
      FileUtils.moveDirectory(new File(edited), new File(w.notesDir))

      val wrong = w.measure(spark, 1, new Tracer(false), None, sentinel)
      // the untimed passes and the timed one
      assert(wrong.attempted === NoteNlp.WarmPasses + 1)
      assert(wrong.failed === NoteNlp.WarmPasses + 1)
      assert(wrong.failures.forall(_.contains("missing [[")), wrong.failures)

      FileUtils.deleteDirectory(new File(w.notesDir))
      val broken = w.measure(spark, 1, new Tracer(false), None, sentinel)
      assert(broken.attempted === 1)
      assert(broken.failed === 1)
      assert(broken.failures.head.contains("threw"), broken.failures)
    } finally {
      sentinel.close()
      spark.stop()
    }
  }
}
