package graft.core

import scala.jdk.CollectionConverters._

/** Small filesystem helpers shared by the store, server, and the
  * gate/bench harnesses (previously copy-pasted at each site).
  */
object Fs {
  /** Delete a file or directory tree. Does not follow directory
    * symlinks (listFiles on a symlink returns its target's children —
    * callers here only ever pass temp trees they created themselves).
    */
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** The entries of directory `dir`; none if it is not a directory. */
  private[graft] def list(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.isDirectory(dir)) Nil
    else {
      val ls = java.nio.file.Files.list(dir)
      try ls.iterator().asScala.toVector finally ls.close()
    }

  /** Hadoop FileSystem + Path for a location string — the I/O layer
    * the index-layout markers and generation manifests go through, so
    * an hdfs:// or s3a:// index root works on the SAME code path the
    * parquet data reads already support (a java.io.File marker read
    * against a remote root would claim the marker is missing even
    * though the seed wrote it).
    */
  def hadoop(path: String): (org.apache.hadoop.fs.FileSystem,
      org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    (p.getFileSystem(conf), p)
  }

  /** Small-file UTF-8 write through the Hadoop FS (overwrites). */
  def writeUtf8(path: String, content: String): Unit = {
    val (fs, p) = hadoop(path)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Small-file UTF-8 read through the Hadoop FS. */
  def readUtf8(path: String): String = {
    val (fs, p) = hadoop(path)
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](4096)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  def hadoopExists(path: String): Boolean = {
    val (fs, p) = hadoop(path)
    fs.exists(p)
  }
}
