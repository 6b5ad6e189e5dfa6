package graftbench

object Files {
  /** Delete `path` and everything under it (no-op when absent). */
  def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  /** Data files (by `suffix`) and their total bytes under `dir`. */
  def stats(dir: String, suffix: String = ".parquet"): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val fs = walk(new java.io.File(dir)).filter(_.getName.endsWith(suffix))
    (fs.size.toLong, fs.map(_.length).sum)
  }
}
