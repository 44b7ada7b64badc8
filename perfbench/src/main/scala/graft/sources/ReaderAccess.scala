package graft.sources

/** The benchmark's view of the stream source reader's pk extraction, so the
  * replay filters records with the reader's own code rather than a copy.
  */
object ReaderAccess {
  /** The pk text the reader filters on; throws on malformed `Keys`. */
  def pkText(keysJson: String): Option[String] = CdcSource.pkText(keysJson)
}
