package graft.sources

import scala.collection.mutable.ListBuffer

import graft.pipeline.{Coords, FontInfo, TextNormalization, TokenRow}

/** The token rows of one document, in order: the sink both readers
  * hand [[TextNormalization.wordTokens]]. The reader keeps the
  * position fields current; each token becomes one row at the next
  * `tokenIdx`. */
private[sources] final class TokenRows(docId: Long) extends TextNormalization.TokenSink {
  val rows: ListBuffer[TokenRow] = ListBuffer.empty[TokenRow]
  var pageIdx = 0
  var pageNumber = 0
  var pageWidth: Option[Double] = None
  var pageHeight: Option[Double] = None
  var blockIdx = 0
  var lineIdx = 0
  var tokenIdx = 0
  var font: FontInfo = FontInfo.empty

  def token(text: String, whitespace: String, coords: Coords): Unit = {
    rows += TokenRow(docId, pageIdx, blockIdx, lineIdx, tokenIdx, text,
      whitespace, font, Some(coords), pageNumber, pageWidth, pageHeight)
    tokenIdx += 1
  }
}
