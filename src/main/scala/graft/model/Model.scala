package graft.model

/** One span of an interleaved text+media document (the north-rule input
  * shape): `kind` is "text" or "media"; text spans carry one PDF page's
  * extracted text (the reference joins pages with "\n",
  * `/root/reference/src/extractor.py:82-93`); media spans carry an opaque
  * `mediaRef` that must pass through extraction unchanged and in order. */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** A document = ordered span sequence. */
final case class Doc(doc_id: String, spans: Seq[Span])

/** Output: the cleaned span sequence for a document (text spans after
  * boilerplate strip, media spans preserved; order by original offset). */
final case class OutSpans(doc_id: String, spans: Seq[Span])

/** The reference's 15-key extraction record
  * (`/root/reference/src/extractor.py:2709-2732`), plus the optional keys
  * emitted only by the Chinese path (`chinese_document_extractor.py:338-360`)
  * and the corrigendum path (`src/extractor.py:2774-2827`). Optional keys are
  * null when the corresponding path didn't run — mirroring dict-key absence
  * in the reference output. */
final case class CaseRecord(
    doc_id: String,
    case_number: String,
    trial_date: String,
    court_name: String,
    plaintiff: String,
    defendant: String,
    judge: String,
    case_type: String,
    lawyer: String,
    judgment_result: String,
    claim_amount: String,
    judgment_amount: String,
    language: String,
    document_type: String,
    file_name: String,
    file_path: String,
    // Chinese-path extras (chinese_document_extractor.py:345-346)
    plaintiff_lawyer: Option[String] = None,
    defendant_lawyer: Option[String] = None,
    // Corrigendum extras (src/extractor.py:2786-2825)
    corrected_document_type: Option[String] = None,
    original_document_date: Option[String] = None,
    corrigendum_date: Option[String] = None,
    correction_summary: Option[String] = None
)

/** Lineage/metrics row appended per partition at completion (SURVEY.md §7.6):
  * drives both resume (completed partitions are excluded on restart) and the
  * docs/sec..spans/sec throughput report. `bytes` is the bucket's span text
  * size in characters (Spark `length`), not bytes. */
final case class PartitionLineage(
    run_id: String,
    partition_id: Int,
    doc_id_min: String,
    doc_id_max: String,
    docs: Long,
    spans: Long,
    bytes: Long,
    status: String,
    started_at: Long,
    finished_at: Long
)
