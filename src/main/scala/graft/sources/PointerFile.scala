package graft.sources

import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}

/** The one pointer-swing primitive: [[TableCatalog]]'s refs and tags,
  * [[CommitLog]]'s batch mark and [[BucketedTableStore]]'s sidecars.
  * Write the new value to a temp file, then ATOMICALLY REPLACE the
  * pointer with one OVERWRITE rename
  * (`FileContext.rename(…, Rename.OVERWRITE)` — POSIX `rename(2)`
  * semantics on local/HDFS), so a pointer never goes missing between
  * two calls.
  *
  * Both the tmp WRITE and the rename go through [[FileContext]]
  * (RawLocalFs on local disks), never the checksummed `FileSystem`
  * view: mixing them strands stale `.<name>.crc` sidecars that
  * describe the OLD pointer bytes, and the next checksummed read
  * fails verification. A store written by the pre-FileContext
  * implementation may still carry such sidecars — they are deleted
  * here before the swing (one-time upgrade heal).
  */
private[sources] object PointerFile {

  /** Atomically set `pointer` to `value` via tmp-write + OVERWRITE
    * rename. `tag` only labels the failure message.
    */
  def swing(conf: Configuration, root: Path, pointer: Path, value: String,
      tag: String): Unit = {
    try {
      val fc = FileContext.getFileContext(pointer.toUri, conf)
      val tmp = new Path(root, pointer.getName + ".tmp")
      val out = fc.create(tmp,
        EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      out.write(value.getBytes("UTF-8"))
      out.close()
      // legacy-store heal: drop checksum sidecars a pre-FileContext
      // writer left for the pointer (they describe the old bytes)
      Seq(pointer, tmp).foreach { p =>
        val crc = new Path(p.getParent, s".${p.getName}.crc")
        if (fc.util.exists(crc)) fc.delete(crc, false)
      }
      fc.rename(tmp, pointer, Options.Rename.OVERWRITE)
    } catch {
      case e: Exception =>
        throw new IllegalStateException(s"pointer swing failed at $tag", e)
    }
  }
}
