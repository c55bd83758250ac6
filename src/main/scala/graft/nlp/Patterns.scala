package graft.nlp

/** Cue-term banks for the rule-based qualifiers. Pattern banks are DATA, not
  * code (SURVEY.md §7.0): representative French clinical cue lists following
  * the reference's banks — negation `/root/reference/edsnlp/pipes/
  * qualifiers/negation/patterns.py`, family `.../family/patterns.py`,
  * hypothesis `.../hypothesis/patterns.py`, reported speech
  * `.../reported_speech/patterns.py`, terminations
  * `/root/reference/edsnlp/pipes/terminations.py`. Users can supply their
  * own lists per pipe, exactly like the reference.
  */
object Patterns {

  /** Leads ([[Lead]]) of the shipped cue regexes, each declared next to
    * its regex through [[led]]; `FusedPathSpec` proves them over the
    * whole BMP. `RegexMatcher.build` uses them, under its default flags,
    * in place of a derived lead.
    */
  private val declared = Map.newBuilder[String, Lead]

  private def led(lead: Lead)(regex: String): String = {
    declared += regex -> lead
    regex
  }

  /** Proposition delimiters bounding a cue's scope. */
  val termination: Seq[String] = Seq(
    "et", "bien que", "même si", "mais", "or", "alors que", "sauf",
    "cependant", "pourtant", "cause de", "source de", "hormis", "car",
    "parce que", "puisque", "ni", "en raison de", "qui", "que", "ainsi que",
    "avec", "toutefois", "en dehors", "dans le cadre", "du fait", ".", ",",
    ";", "...", "(", ")")

  val negation: QualifierPatterns = QualifierPatterns(
    name = "negation",
    pseudo = Seq(
      "aucun changement", "aucun doute", "aucune hésitation",
      "aucune diminution",
      "permet pas d'", "permet pas de", "permet pas d'écarter",
      "permet pas d'éliminer", "permet pas d'exclure",
      "permet pas d'infirmer", "permet pas d'interdire",
      "permet pas de nier", "permet pas de réfuter",
      "permet pas de rejeter",
      "ne permet pas d'", "ne permet pas de", "ne permet pas d'écarter",
      "ne permet pas d'éliminer", "ne permet pas d'exclure",
      "ne permet pas d'infirmer", "ne permet pas d'interdire",
      "ne permet pas de nier", "ne permet pas de réfuter",
      "ne permet pas de rejeter",
      "n'exclut pas", "non négligeable",
      "pas d'amélioration", "pas d'augmentation", "pas d'autre",
      "pas de changement", "pas de diminution", "pas de doute",
      "pas écarté", "pas écartée", "pas écartées",
      "pas exclu", "pas exclue", "pas exclues", "pas exclus",
      "pas immunisé", "pas immunisée", "pas immunisés", "pas immunisées",
      "sans amélioration", "sans aucun doute", "sans augmentation",
      "sans certitude", "sans changement", "sans diminution", "sans doute",
      "sans être certain"),
    preceding = Seq(
      "à la place de", "absence", "aucun", "aucune", "aucuns", "aucunes",
      "décline", "décliné",
      "dépourvu", "dépourvue", "dépourvus", "dépourvues",
      "disparition de", "disparition des",
      "élimination", "exclusion", "exclut", "excluent",
      "impossibilité de",
      "immunisé", "immunisée", "immunisés", "immunisées",
      "incapable de", "incapacité de",
      "incompatible avec", "incompatibles avec",
      "infirmation de", "infirmation du", "jamais",
      // NOTE: bare "ne"/"n'" are NOT preceding cues — the reference
      // gates them behind the preceding_regex lookahead (ne ... within
      // 3 words of pas/point/ni/aucun/jamais/rien); a bare cue would
      // wrongly negate "ne fume que" and pseudo-suppressed scopes like
      // "n'y a pas d'amélioration" (test_negation.py:14,29)
      "négatif", "négatif pour", "négative",
      "ni", "niant", "nie", "nié", "non", "nullement", "pas", "pas d'",
      "pas de", "permet d'exclure",
      "peu d'argument en", "peu d'argument pour",
      "peu d'arguments en", "peu d'arguments pour",
      "plus d'", "plus de", "plus d'aspect de", "sans",
      "symptôme atypique", "zéro",
      // the reference's `verbs` bank (negation/patterns.py:142-151) is
      // conjugated by its lemmatizer; the conjugation families are
      // enumerated here as data — écarter and interdire included
      "élimine", "éliminé", "éliminée", "éliminer", "éliminant",
      "exclue", "exclure", "excluant",
      "infirme", "infirmé", "infirmer", "infirmant",
      "réfute", "réfuté", "réfuter", "réfutant",
      "rejette", "rejeté", "rejeter", "rejetant",
      "écarte", "écarté", "écartée", "écarter", "écartant",
      "interdit", "interdite", "interdire", "interdisant"),
    following = Seq(
      ":0", ": 0", ": non", ":non", ": aucun", ": aucune",
      ": négatif", ": négative",
      "absent", "absente", "absents", "absentes",
      "dépourvu", "dépourvue", "dépourvus", "dépourvues",
      "disparait", "disparaissent", "élimination",
      "est exclu", "est exclue",
      "immunisé", "immunisée", "immunisés", "immunisées",
      "impossible", "improbable",
      "négatif", "négatifs", "négative", "négatives",
      "négligeable", "négligeables", "nié", "niée", "non", "nul", "nulle",
      "pas nécessaire", "peu probable",
      "exclu", "exclue", "exclus", "sont exclus", "sont exclues",
      "éliminé", "éliminée", "infirmé", "infirmée", "réfuté", "réfutée",
      // past participles of the remaining reference verbs — the
      // reference exposes Participe Passé forms as FOLLOWING cues too
      // (negation.py load_verbs:270)
      "écarté", "écartée", "écartés", "écartées",
      "rejeté", "rejetée", "interdit", "interdite"),
    precedingRegex = Seq(
      led(Lead.literal("aucun"))("(?i)aucun(e)?\\s+signe\\s+(de|d')"),
      // reference negation/patterns.py preceding_regex: "ne" followed
      // within 3 words by pas/point/ni/aucun/jamais/rien. (?U) makes
      // Java's \w unicode like Python's — without it an accented word
      // ("détecte") silently breaks the 3-word lookahead
      led(Lead.literal("ne"))(
        "(?iU)\\bne\\b(?=[ \\n]*(?:\\w*[ \\n]*){3}(?:pas|point|ni|aucun|jamais|rien))")),
    termination = termination)

  val family: QualifierPatterns = QualifierPatterns(
    name = "family",
    pseudo = Seq.empty,
    preceding = Seq(
      "aïeul", "aïeux", "antécédents familiaux", "antécédent familial",
      "arrière-grand-mère", "arrière-grand-père",
      "arrière-grands-parents", "atcd familiaux",
      "aux parents", "chez le père", "chez la mère", "chez les parents",
      "côté maternel", "côté paternel",
      "cousin", "cousine", "cousins", "cousines",
      "enfant", "enfants", "épouse", "époux",
      "familial", "familiale", "familiales", "familiaux", "famille",
      "fiancé", "fiancée", "fils", "fille", "filles",
      "frère", "frères", "grand-père", "grand-mère", "grands-parents",
      "maman", "mari", "mère", "neveu", "neveux", "nièce", "nièces",
      "oncle", "papa", "parent", "parents", "père",
      "soeur", "sœur", "soeurs", "sœurs", "tante"),
    following = Seq.empty,
    precedingRegex = Seq.empty,
    termination = termination)

  val hypothesis: QualifierPatterns = QualifierPatterns(
    name = "hypothesis",
    pseudo = Seq(
      "aucun doute", "même si", "pas de condition", "pas de doute",
      "pas de suspicion", "sans aucun doute", "sans condition",
      "sans risque", "sans suspicion", "suspicion écartée"),
    preceding = Seq(
      "à condition", "à la condition que", "à la recherche de",
      "à moins que", "au cas où", "au conditionnel", "conditionnel",
      "conditionnellement", "discret", "discrets", "discrète",
      "discrètes", "doute", "en admettant que", "en cas",
      "en considérant que", "en supposant que",
      "éventuel", "éventuelle", "éventuellement", "éventuels",
      "éventuelles", "exploration", "faudrait", "hypothèse", "hypothèses",
      "hypothétique", "idée de", "pas confirmer", "pas sûr", "pas sûre",
      "peut correspondre", "peut-être", "peuvent correspondre",
      "possibilité", "possible", "possiblement",
      "potentiel", "potentielle", "potentiellement", "potentiels",
      "potentielles", "prédisposant à", "probable", "probablement",
      "probables", "présomption", "recherche de", "recherche d'",
      "recherche des", "risque", "selon", "semble", "semblerait", "si",
      "s'il", "soit", "soupçon", "soupçonne", "sous condition",
      "sous réserve", "suspecte", "suspectée", "suspicion", "suspicions",
      "susceptible de",
      // verbs_hyp present forms (hypothesis/patterns.py:108-118)
      "envisage", "envisagent", "explore", "explorent",
      "suggère", "suggèrent", "s'apparente à",
      // conditional mood on common verbs — the reference conjugates its
      // whole verbs_eds list into conditional (patterns.py:120+); the
      // high-frequency clinical conditionals are enumerated as data
      "serait", "seraient", "aurait", "auraient",
      "pourrait", "pourraient", "devrait", "devraient",
      "ferait", "feraient", "sembleraient",
      "évoquerait", "évoqueraient", "correspondrait", "correspondraient",
      "s'agirait", "suggérerait", "resterait", "faudrait que"),
    following = Seq(
      "?", "envisageable", "envisageables",
      "hypothétique", "hypothétiquement", "hypothétiques",
      "pas certain", "pas certaine", "pas clair", "pas claire",
      "pas confirmé", "pas confirmée", "pas confirmés", "pas confirmées",
      "pas évident", "pas évidente", "pas sûr", "pas sûre",
      "possibilité", "possible", "potentiel", "potentielle", "potentiels",
      "probable", "probables", "à confirmer",
      // past participles of verbs_hyp become FOLLOWING cues in the
      // reference (hypothesis.py:257-259: tense == "Participe Passé"
      // -> list_hypo_verbs_following) — all gender/number forms
      "envisagé", "envisagée", "envisagés", "envisagées",
      "exploré", "explorée", "explorés", "explorées",
      "recherché", "recherchée", "recherchés", "recherchées",
      "soupçonné", "soupçonnée", "soupçonnés", "soupçonnées",
      "suggéré", "suggérée", "suggérés", "suggérées",
      "suspecté", "suspectée", "suspectés", "suspectées", "douté"),
    precedingRegex = Seq(
      led(Lead.literal("suspicion"))("(?i)suspicion(s)?\\s+(de|d')")),
    termination = termination)

  val reportedSpeech: QualifierPatterns = QualifierPatterns(
    name = "reported_speech",
    pseudo = Seq.empty,
    preceding = Seq(
      "affirme", "affirmant", "ajoute", "assure", "confirme",
      "crainte de", "d'après le patient", "d'après la patiente",
      "décrit", "décrivant", "démontre", "dit", "disant",
      "déclare", "déclarant", "évoque", "évoquant", "explique",
      "expliquant", "indique", "informe", "insinue", "insiste",
      "insiste sur le fait que", "jure", "menace de", "mentionne",
      "mentionnant", "nie", "niant", "note", "objecte", "observe",
      "parle", "pas de critique de", "peur de", "plaint", "précise",
      "prétend", "prévient", "promet", "se plaignant",
      "rapporte", "rapportant", "raconte", "racontant", "rappelle",
      "reconnaît", "réfute", "réplique", "répond", "répète", "révèle",
      "signale", "signalant", "souhaite", "souligne", "supplie",
      "selon le patient", "selon la patiente", "verbalise",
      "aux dires du patient", "aux dires de la patiente",
      // remaining reference verbs (reported_speech/patterns.py:3-46):
      // demander, faire remarquer, vouloir — conjugations as data
      "demande", "demandant", "fait remarquer", "faisant remarquer",
      "veut", "voulant", "souhaitant", "promettant", "jurant"),
    following = Seq("d'après le patient", "d'après la patiente"),
    precedingRegex = Seq.empty,
    // reported speech is the ONE reference qualifier that scopes by
    // sentence only: process calls _boundaries WITHOUT terminations
    // (reported_speech.py:236 vs negation.py:304 etc.), so "Rapporte
    // une tristesse avec des idées suicidaires" keeps the verb in
    // scope across "avec"
    termination = Seq.empty,
    // the reference flags entities INSIDE quotation marks
    // (reported_speech patterns.py `quotation`) — a containment cue
    containingRegex = Seq(led(Lead.Prefix("\"«"))("(\"[^\"]+\")|(«[^»]+»)")))

  /** History-of-illness section triggers (used by the history qualifier
    * together with section spans; `.../history/patterns.py`).
    */
  val history: QualifierPatterns = QualifierPatterns(
    name = "history",
    pseudo = Seq.empty,
    preceding = Seq(
      "antécédents", "antécédent", "atcd", "atcds", "antérieur",
      "antérieure", "antérieurement", "ancien", "ancienne", "anciens",
      "à l'âge de", "dans l'enfance", "dans sa jeunesse", "en 19",
      "il y a", "historique de", "précédemment", "précédent",
      "opéré en", "opérée en"),
    following = Seq(
      "dans l'enfance", "il y a"),
    // `\s` here is ASCII whitespace (no UNICODE_CHARACTER_CLASS)
    precedingRegex = Seq(led(Lead.Prefix("e", "n", " \t\n\u000B\f\r"))(
      "(?i)en\\s+(19|20)\\d\\d")),
    termination = termination)

  /** Declared leads of the shipped cue regexes, by regex. */
  private[graft] val cueLeads: Map[String, Lead] = declared.result()
}
