package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one atomic publish: what graft writes to a staging path lands
  * with ONE rename, here — the graft form of the reference's
  * one-transaction migration (the `src/TransportorTemp.temp`
  * wrapper). No other file renames.
  *
  * Rename onto a name that already exists (measured on `file://` and
  * the raw local fs with Hadoop 3.4.2; HDFS documents the same):
  *
  *   - a DIRECTORY onto an existing non-empty directory NESTS the
  *     source under it and returns true. A rename that "won" may
  *     therefore have lost; [[dir]] checks for the nested tree and
  *     moves it back.
  *   - a FILE onto an existing file returns false on `file://` and
  *     HDFS, so a fresh-name rename is a create-if-absent there. The
  *     raw local fs (`RawLocalFileSystem`, POSIX rename(2)) overwrites
  *     instead, leaving [[marker]]'s sub-ms exists-to-rename window
  *     last-writer-wins. On an object store the marker is one
  *     if-none-match conditional PUT.
  *
  * Both operations report a loss and leave its policy (delete, retry,
  * refuse) to the caller. */
private[graft] object Publish {

  /** Rename the staged tree `staging` to `dst`. True when `staging`
    * became `dst`; false when `dst` already existed — the rename
    * refused, or nested `staging` under `dst`, in which case the tree
    * is moved back out to `staging` (only OUR subtree moves; the
    * winner's children are untouched). Either way a loss leaves the
    * staged tree at `staging`. */
  def dir(fs: FileSystem, staging: Path, dst: Path): Boolean = {
    if (!fs.rename(staging, dst)) return false
    val nested = new Path(dst, staging.getName)
    if (!fs.exists(nested)) return true
    if (!fs.rename(nested, staging))
      throw new IllegalStateException(
        s"Publish: rename nested $staging under the existing $dst and the " +
          s"move back failed — the staged tree remains at $nested")
    false
  }

  /** Create the small file `path` holding `bytes`, only if absent:
    * written to `_<stem>.tmp-<uuid>` beside it (`stem` = the leading
    * word of its name: `ptr-7` stages as `_ptr.tmp-…`), then ONE
    * rename. False when `path` already exists; the tmp file is
    * deleted either way. */
  def marker(fs: FileSystem, path: Path, bytes: Array[Byte]): Boolean = {
    if (fs.exists(path)) return false
    val stem = path.getName.takeWhile(c => c.isLetterOrDigit || c == '_')
    val tmp = new Path(path.getParent,
      s"_$stem.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val won = fs.rename(tmp, path)
    if (!won) fs.delete(tmp, false)
    won
  }
}
