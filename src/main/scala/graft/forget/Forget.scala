package graft.forget

/** Path helpers shared by the Find → Forget hand-off. The Forget phase
  * itself is [[DistributedRewrite]]. */
object Forget {

  /** `input_file_name()` yields a percent-encoded `file:` URI; decode it
    * to a real filesystem path (spaces, '%', unicode) — raw strings that
    * aren't URIs pass through unchanged. */
  private[graft] def stripScheme(p: String): String =
    if (p.startsWith("file:"))
      try new java.net.URI(p).getPath
      catch { case _: java.net.URISyntaxException => p.stripPrefix("file:") }
    else p
}
