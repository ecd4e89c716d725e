package graft.routing

/** CDC file-path routing.
  *
  * The reference routes S3 keys shaped
  * `fair/{table}/{YYYY}/{MM}/{DD}/{file}.parquet` to a target table and
  * skips full-load files named `LOAD*` and any non-matching key
  * (reference: lambda/handler.py:765-783).
  */
object CdcPath {

  /** A routed CDC file. `date` is `YYYY-MM-DD`. */
  final case class CdcFile(table: String, date: String, fileName: String)

  sealed trait SkipReason { def message: String }
  case object NotCdcFile extends SkipReason { val message = "Not a CDC file" }
  case object LoadFile   extends SkipReason { val message = "LOAD file" }
  case object NoKeys     extends SkipReason { val message = "No primary keys configured" }
  case object AlreadyProcessed extends SkipReason { val message = "Already processed" }

  // Reference pattern anchored at the bucket-relative key
  // (handler.py:766); `root` generalizes the reference's hard-coded
  // `fair` prefix and, for local runs, any absolute path prefix.
  // Compiled once per root: a stream routes every row by its file path.
  private val patterns = new java.util.concurrent.ConcurrentHashMap[String, scala.util.matching.Regex]()
  private def pattern(root: String) = patterns.computeIfAbsent(root, r =>
    (raw"^(?:.*/)?" + java.util.regex.Pattern.quote(r) + raw"/([^/]+)/(\d{4})/(\d{2})/(\d{2})/([^/]+\.parquet)$$").r)

  /** Route one file key. Left = skip reason, Right = routed file. */
  def parse(key: String, root: String = "fair"): Either[SkipReason, CdcFile] =
    pattern(root).findFirstMatchIn(key) match {
      case None => Left(NotCdcFile)
      case Some(m) =>
        val file = m.group(5)
        if (file.startsWith("LOAD")) Left(LoadFile)
        else Right(CdcFile(m.group(1), s"${m.group(2)}-${m.group(3)}-${m.group(4)}", file))
    }

  /** Canonical ledger key for a file path: scheme/authority stripped,
    * path only. The reference's ledger keys are bucket-relative S3 keys
    * (handler.py:752-759); a URI-ish path (`file:///root/fair/...` from
    * `_metadata.file_path`) and a plain listing path (`/root/fair/...`)
    * must produce the SAME key or the streaming and backfill sides stop
    * recognizing each other's processed files.
    */
  def ledgerKey(path: String): String =
    scala.util.Try(new java.net.URI(path).getPath).toOption match {
      case Some(p) if p != null && p.nonEmpty => p
      case _ => path
    }
}
