package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.nlp.{Normalizer, Patterns, QualifierPatterns}
import graft.pipes.DocPipeline

/** NLP-operator queries over the `documents` table, oracle-checked.
  *
  * The synthetic corpus is single-space lowercase words, so tokenizer /
  * phrase-matcher / qualifier outputs have exact SQL oracles (word splits +
  * prefix-sum char offsets). The French clinical semantics (accents,
  * sentence rules, cue banks) are covered by the ScalaTest golden examples
  * in NlpCoreSpec; these queries prove the distributed plumbing end-to-end.
  *
  * All queries are scan -> row-local UDF -> explode/agg: the only shuffle
  * is the final ORDER BY for deterministic output. At 100 TB the annotate
  * stage is embarrassingly parallel and column pruning keeps the scan to
  * (doc_id, text).
  */
object DocQueries {
  import Tables.documents

  private val matchTerms: Map[String, Seq[String]] = Map(
    "spark" -> Seq("spark"), "join" -> Seq("join"),
    "merge" -> Seq("merge"), "window" -> Seq("window"))

  /** Qualifier configured for the synthetic corpus: 'slow' negates what
    * follows it, 'the' terminates the cue's scope — structurally identical
    * to the French negation qualifier, just a different cue bank (pattern
    * banks are data).
    */
  private val syntheticNegation = QualifierPatterns(
    name = "negation",
    pseudo = Seq.empty,
    preceding = Seq("slow"),
    following = Seq.empty,
    precedingRegex = Seq.empty,
    termination = Seq("the"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_token_count" -> { (s, d) =>
      import s.implicits._
      documents(s, d)
        .withColumn("tokens", graft.functions.nlp.tokenize($"text"))
        .select($"doc_id",
          expr("size(filter(tokens, t -> NOT (t.text rlike '^\\\\s+$')))")
            .as("n_tokens"))
        .orderBy($"doc_id")
    },
    "q21_phrase_hits" -> { (s, d) =>
      import s.implicits._
      val pipe = DocPipeline(terms = Map("spark" -> Seq("spark")))
      documents(s, d)
        .withColumn("anno", pipe.annotateCol($"text"))
        .select($"doc_id", size($"anno.ents").as("n_hits"))
        .orderBy($"doc_id")
    },
    "q22_ents_explode" -> { (s, d) =>
      import s.implicits._
      val pipe = DocPipeline(terms = matchTerms)
      // annotate is CPU-heavy row-local work but the corpus parquet is a
      // single small file -> one input split; conditionally spread it
      // across cores BEFORE the pipe (identity when the scan already has
      // enough splits; q22 1.04 → 0.76 s, CHANGES.md)
      pipe.entsTable(graft.core.Spread.cpuFloor(documents(s, d)),
          "doc_id", "text")
        .select($"doc_id", $"begin".as("start_char"), $"end".as("end_char"),
          $"label")
        .orderBy($"doc_id", $"start_char")
    },
    "q23_qualifier" -> { (s, d) =>
      import s.implicits._
      val pipe = DocPipeline(
        terms = Map("join" -> Seq("join")),
        qualifiers = Seq(syntheticNegation))
      // spread the annotate as q22 does (q23 1.02 → 0.62 s, CHANGES.md)
      pipe.entsTable(graft.core.Spread.cpuFloor(documents(s, d)),
          "doc_id", "text")
        .select($"doc_id", $"begin".as("start_char"), $"negation")
        .orderBy($"doc_id", $"start_char")
    },
    "q65_omop_note_nlp" -> { (s, d) =>
      import s.implicits._
      // The flagship end-to-end slice (reference README quick-start,
      // `/root/reference/README.md:49-88`): an OMOP-shaped note table ->
      // normalize/tokenize -> sentences -> phrase matcher -> negation
      // qualifier -> one note_nlp row per entity with the qualifier
      // carried as a column. Everything the per-operator queries prove
      // in pieces, composed in ONE plan and hash-matched against an
      // oracle that recomputes spans + negation from scratch.
      // Scale shape: scan -> row-local annotate -> explode; the only
      // shuffle is the deterministic output ORDER BY.
      val note = documents(s, d).select(
        $"doc_id".as("note_id"), $"text".as("note_text"))
      val pipe = DocPipeline(
        terms = matchTerms,
        qualifiers = Seq(syntheticNegation))
      // spread the annotate as q22 does (q65 1.01 → 0.59 s, CHANGES.md)
      val ents = pipe.entsTable(
        graft.core.Spread.cpuFloor(note), "note_id", "note_text")
      graft.io.Omop
        .entsToNoteNlp(ents, "note_id", attrs = Seq("negation"),
          deterministicIds = true)
        .orderBy($"note_id", $"start_char")
    },
    "q67_hf_dataset_io" -> { (s, d) =>
      import s.implicits._
      // the HF save_to_disk interchange proved END TO END: a documents
      // sample goes out as sharded Arrow IPC (one shard per partition)
      // and comes back through the reader; the oracle recomputes the
      // same projection from the parquet source, so any loss or
      // corruption in either direction breaks the hash
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_hf_q67_" + new java.io.File(d).getName).getPath
      val sample = documents(s, d).filter($"doc_id" % 7 === 0)
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      graft.io.HfDatasetDisk.write(sample.repartition(4), dir)
      graft.io.HfDatasetDisk.read(s, dir)
        .select($"doc_id", $"lang", $"n_chars")
        .orderBy($"doc_id")
    }
  )

  val oracleSql: Map[String, String] = Map(
    "q20_token_count" ->
      """SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
         FROM documents ORDER BY doc_id""",
    "q21_phrase_hits" ->
      """SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), w -> w = 'spark'))
           AS INTEGER) AS n_hits
         FROM documents ORDER BY doc_id""",
    "q22_ents_explode" ->
      """WITH words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS i
           FROM documents),
         pos AS (
           SELECT doc_id, w, i,
             CAST(coalesce(sum(length(w) + 1) OVER (PARTITION BY doc_id
               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS INTEGER) AS start_char
           FROM words)
         SELECT doc_id, start_char,
           CAST(start_char + length(w) AS INTEGER) AS end_char, w AS label
         FROM pos WHERE w IN ('spark', 'join', 'merge', 'window')
         ORDER BY doc_id, start_char""",
    "q23_qualifier" ->
      """WITH words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS i
           FROM documents),
         scoped AS (
           SELECT doc_id, w, i,
             CAST(coalesce(sum(length(w) + 1) OVER (PARTITION BY doc_id
               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS INTEGER) AS start_char,
             max(CASE WHEN w = 'slow' THEN i END) OVER (PARTITION BY doc_id
               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_cue,
             max(CASE WHEN w = 'the' THEN i END) OVER (PARTITION BY doc_id
               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_term
           FROM words)
         SELECT doc_id, start_char,
           coalesce(last_cue, -1) > coalesce(last_term, -1) AS negation
         FROM scoped WHERE w = 'join'
         ORDER BY doc_id, start_char""",
    "q65_omop_note_nlp" ->
      """WITH words AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS i
           FROM documents),
         scoped AS (
           SELECT doc_id, w, i,
             CAST(coalesce(sum(length(w) + 1) OVER (PARTITION BY doc_id
               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS INTEGER) AS start_char,
             max(CASE WHEN w = 'slow' THEN i END) OVER (PARTITION BY doc_id
               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_cue,
             max(CASE WHEN w = 'the' THEN i END) OVER (PARTITION BY doc_id
               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_term
           FROM words)
         SELECT CAST(doc_id * 100000 + start_char AS BIGINT) AS note_nlp_id,
           doc_id AS note_id, start_char,
           CAST(start_char + length(w) AS INTEGER) AS end_char,
           w AS lexical_variant, w AS note_nlp_source_value,
           coalesce(last_cue, -1) > coalesce(last_term, -1) AS negation
         FROM scoped WHERE w IN ('spark', 'join', 'merge', 'window')
         ORDER BY note_id, start_char""",
    "q67_hf_dataset_io" ->
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id % 7 = 0 ORDER BY doc_id"""
  )
}
