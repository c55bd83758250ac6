package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** An entity the note generator planted, with the qualifier flags its
  * sentence template implies.
  */
final case class Planted(begin: Int, end: Int, label: String, text: String,
    flags: Map[String, Boolean])

final case class Note(id: Long, text: String, ents: Seq[Planted], dates: Int)

/** French clinical-style notes from a seed. Lengths are long-tailed
  * (log-normal sentence counts). Entity sentences put one term or regex
  * target right after a cue from one or two of the five qualifier banks
  * of `graft.nlp.Patterns` (or after no cue), so every planted entity's
  * label, span and flags are known without running the engine.
  */
object NoteGen {

  val qualifiers: Seq[String] =
    Seq("negation", "family", "hypothesis", "reported_speech", "history")

  val terms: Map[String, Seq[String]] = Map(
    "diabete" -> Seq("diabète", "diabète de type 2"),
    "hta" -> Seq("hypertension artérielle"),
    "cancer" -> Seq("cancer du sein", "carcinome"),
    "avc" -> Seq("accident vasculaire cérébral"),
    "infection" -> Seq("pneumopathie", "infection urinaire"),
    "insuffisance" -> Seq("insuffisance cardiaque", "insuffisance rénale"))

  val regex: Map[String, Seq[String]] = Map("spo2" -> Seq("spo2 \\d{2,3} %"))

  /** Pipeline config handed to `graft.pipes.PipelineConfig.fromJson`. */
  val configJson: String = {
    def bank(m: Map[String, Seq[String]]) = m.toSeq.sortBy(_._1).map {
      case (k, vs) => Json(k) + ":" + Json(vs)
    }.mkString("{", ",", "}")
    s"""{"terms":${bank(terms)},"regex":${bank(regex)},""" +
      s""""qualifiers":${Json(qualifiers)},"dates":{"faithful":"false"}}"""
  }

  // (sentence template, qualifiers it sets); {t} marks the entity
  private val templates: Seq[(String, Set[String])] = Seq(
    ("On retrouve {t}.", Set.empty),
    ("Le bilan montre {t}.", Set.empty),
    ("Pas de {t}.", Set("negation")),
    ("Absence de {t}.", Set("negation")),
    ("Sa mère a présenté {t}.", Set("family")),
    ("Suspicion de {t}.", Set("hypothesis")),
    ("Le patient rapporte {t}.", Set("reported_speech")),
    ("Antécédent de {t}.", Set("history")),
    ("Pas d'antécédent de {t}.", Set("negation", "history")),
    ("Sa mère aurait {t}.", Set("family", "hypothesis")))

  private val fillers = Seq(
    "Bilan biologique réalisé ce jour.",
    "Patient vu en consultation de suivi.",
    "Traitement habituel poursuivi.",
    "Examen clinique sans particularité.",
    "Retour à domicile prévu.",
    "Sortie organisée avec le médecin traitant.")

  private val months = Seq("janvier", "février", "mars", "avril", "mai",
    "juin", "juillet", "août", "septembre", "octobre", "novembre",
    "décembre")

  private val termList: Seq[(String, String)] =
    terms.toSeq.sortBy(_._1).flatMap { case (l, vs) => vs.map(l -> _) }

  def note(rng: SplittableRandom, id: Long): Note = {
    val sb = new StringBuilder
    val ents = mutable.ArrayBuffer.empty[Planted]
    var dates = 0
    val n = math.max(2, math.min(150,
      math.round(math.exp(2.2 + 0.8 * gaussian(rng))).toInt))
    (0 until n).foreach { _ =>
      if (sb.nonEmpty) sb.append(if (rng.nextInt(8) == 0) "\n" else " ")
      val u = rng.nextDouble()
      if (u < 0.4) {
        val (tpl, flags) = templates(rng.nextInt(templates.size))
        val (label, text) =
          if (rng.nextInt(10) == 0) ("spo2", s"SpO2 ${88 + rng.nextInt(12)} %")
          else termList(rng.nextInt(termList.size))
        val at = tpl.indexOf("{t}")
        sb.append(tpl.substring(0, at))
        val begin = sb.length
        sb.append(text)
        ents += Planted(begin, sb.length, label, text,
          qualifiers.map(q => q -> flags(q)).toMap)
        sb.append(tpl.substring(at + 3))
      } else if (u < 0.5) {
        dates += 1
        val d = 1 + rng.nextInt(28)
        val m = 1 + rng.nextInt(12)
        val y = 2005 + rng.nextInt(18)
        if (rng.nextBoolean()) sb.append(f"Vu en consultation le $d%02d/$m%02d/$y.")
        else sb.append(s"Vu en consultation le $d ${months(m - 1)} $y.")
      } else sb.append(fillers(rng.nextInt(fillers.size)))
    }
    Note(id, sb.toString, ents.toSeq, dates)
  }

  def corpus(seed: Long, docs: Int): Seq[Note] = {
    val rng = new SplittableRandom(seed)
    (0 until docs).map(i => note(rng, i.toLong))
  }

  private def gaussian(rng: SplittableRandom): Double = {
    // Box-Muller from two uniforms
    val u1 = math.max(rng.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rng.nextDouble())
  }
}
