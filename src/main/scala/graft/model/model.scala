package graft.model

/** Input row shape per BASELINE.json `input_hint`: an Iceberg-style table of
  * source-code repositories. `content` plays the role of the reference's
  * `title + " " + text` document text (benchmark/on_bm25s.py:54-59).
  */
final case class SourceFile(
    repo: String, path: String, commit: String, lang: String, content: String) {
  /** Unique docId convention (SURVEY.md §1.1). */
  def docId: String = s"$repo:$path@$commit"
}
