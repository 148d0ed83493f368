package graft

import org.apache.hadoop.fs.RawLocalFileSystem
import java.net.URI

/** A local filesystem masquerading as S3A — for the scheme guards that
  * refuse directory-swap state on copy+delete-rename stores
  * (`StateFs.requireAtomicDirRename`). Its renames "work" (as S3A's do —
  * that is the hazard: they report success without atomicity), so only
  * the up-front guard stands between a caller and a silent mid-swap loss.
  */
class FakeS3aFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "s3a"
  override def getUri: URI = URI.create("s3a:///")
}
