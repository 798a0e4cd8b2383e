package perfbench

import java.io.File

/** Small filesystem helpers for the working directory. */
object Dirs {
  /** Total bytes of the regular files under `path`. */
  def bytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.isFile) f.length()
      else 0L
    walk(new File(path))
  }

  /** Parquet data files under `path`: partition directories
    * (`__batch=N`) are walked, sidecar directories (`_checkpoint`,
    * `_quantizer`, ...) are not. */
  def dataFiles(path: String): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
        .filterNot(c => c.isDirectory && c.getName.startsWith("_") && !c.getName.startsWith("__"))
        .map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1
      else 0
    walk(new File(path))
  }
}
