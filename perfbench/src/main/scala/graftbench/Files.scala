package graftbench

import java.io.File

object Files {
  def rm(path: String): Unit = {
    def go(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(path))
  }

  /** Bytes of the parquet data files under `path`. */
  def size(path: String): Long = {
    def go(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(go).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length()
      else 0L
    go(new File(path))
  }

  def write(path: String, text: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, text.getBytes("UTF-8"))
  }
}
