package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** Tiny-sidecar / marker I/O for paths derived from an index or
  * collection root, routed through the Hadoop FileSystem API resolved
  * from the path's scheme — NOT `java.nio.file`. On a real cluster the
  * index root is object storage (`s3a://…`); `java.nio` silently
  * resolves such paths against the local disk and every marker protocol
  * (build keys, folded-batch replay guards, bucket-count sidecars)
  * breaks. On `file:`/bare paths this is the local filesystem with
  * identical observable behavior, so the swap is semantics-free for
  * every existing test and query.
  *
  * Scope: one-shot small files (tens of bytes). Directory swaps and
  * data files keep their existing code paths.
  */
object MetaIO {

  private def conf() =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** FileSystem for `p`'s scheme. `RawLocalFileSystem` (checksums off)
    * for local paths: these one-line markers sit beside parquet trees
    * whose writers already use the raw scheme, and the `.crc` twin file
    * would double the create/commit syscall cost the adaptive-bucket
    * work just removed.
    */
  private def fsFor(p: Path): FileSystem = {
    val fs = p.getFileSystem(conf())
    fs match {
      case local: org.apache.hadoop.fs.LocalFileSystem => local.getRaw
      case other => other
    }
  }

  def write(path: String, content: String): Unit = {
    val p = new Path(path)
    val fs = fsFor(p)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  def read(path: String): Option[String] = {
    val p = new Path(path)
    val fs = fsFor(p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = org.apache.commons.io.IOUtils.toByteArray(in)
        Some(new String(bytes, "UTF-8"))
      } finally in.close()
    }
  }

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fsFor(p).exists(p)
  }

  /** Copy a small marker file (used to carry sidecars through compaction
    * swaps). Overwrites an existing destination: compaction retries
    * re-copy into a tmp dir a crashed attempt may have left behind.
    */
  def copy(src: String, dst: String): Unit =
    read(src).foreach(write(dst, _))

  def delete(path: String): Unit = {
    val p = new Path(path)
    val fs = fsFor(p)
    if (fs.exists(p)) { fs.delete(p, false); () }
  }

  /** Recursive delete of a directory (no-op when missing). */
  def deleteDir(path: String): Unit = {
    val p = new Path(path)
    val fs = fsFor(p)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Rename `src` to `dst`. The destination must not exist (Hadoop's
    * rename nests the source INSIDE an existing destination directory
    * instead of replacing it); callers sweep first. Fails loudly — a
    * silent false return would let a swap publish a missing directory.
    */
  def rename(src: String, dst: String): Unit = {
    val s = new Path(src)
    val fs = fsFor(s)
    if (!fs.rename(s, new Path(dst)))
      throw new java.io.IOException(s"rename $src -> $dst failed")
  }

  /** Immediate children of `dir` (empty when the directory is missing)
    * — the marker-protocol directory listings.
    */
  def children(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(dir)
    val fs = fsFor(p)
    if (!fs.exists(p)) Seq.empty else fs.listStatus(p).toSeq
  }

  def childNames(dir: String): Seq[String] =
    children(dir).map(_.getPath.getName)
}
