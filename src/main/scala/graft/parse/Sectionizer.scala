package graft.parse

import graft.model.{ChunkOut, LayoutElement, SectionOut}

/** Sectionize + chunk (reference: `text_extractor.py:77-104`,
  * `pdf_extractor.py:56-80`, `pipeline.py:409-425`).
  */
object Sectionizer {

  /** C1 — text/HTML: split on '\n\n'; one non-empty paragraph → single
    * "Document Content" section carrying the FULL content; several → one
    * "Section {i+1}" per stripped paragraph; empty content → element skipped
    * (Python truthiness of `element.get('content')`). No bboxes.
    */
  def textSections(elements: Seq[LayoutElement]): Seq[SectionOut] =
    elements.flatMap { e =>
      if (e.elementType != "text" || e.content.isEmpty) Seq.empty
      else {
        val paras = PyCompat.pySplitLit(e.content, "\n\n")
          .map(PyCompat.pyStrip).filter(_.nonEmpty)
        if (paras.length == 1) Seq(SectionOut("Document Content", e.content, 1, None))
        else paras.zipWithIndex.map { case (p, i) =>
          SectionOut(s"Section ${i + 1}", p, 1, None)
        }.toSeq
      }
    }

  // C2 (PDF sections, "Page {page}") lives inline in DocParser's pdf
  // branch, which must carry each section's anchor offset for media
  // interleaving — a second copy here was dead code that could drift.

  /** C4 — chunking (`pipeline.py:409-425`): paragraphs of full text, chunk_id
    * `{doc_id}_chunk_{i:03d}`, tokens = Python word count.
    */
  def chunks(fullText: String, docId: String): Seq[ChunkOut] =
    PyCompat.pySplitLit(fullText, "\n\n")
      .map(PyCompat.pyStrip).filter(_.nonEmpty)
      .zipWithIndex.map { case (p, i) =>
        ChunkOut(p, docId + "_chunk_" + pad3(i), PyCompat.pyWordCount(p))
      }.toSeq

  /** `%03d` of a non-negative index. */
  private def pad3(i: Int): String =
    if (i < 10) "00" + i else if (i < 100) "0" + i else i.toString
}
