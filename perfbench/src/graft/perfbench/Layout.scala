package graft.perfbench

import java.io.File

/** On-disk shape of the snapshot tables and plain parquet dirs under a
  * workload's lake/index roots, read straight from the filesystem
  * (untimed; no Spark job). */
final case class Layout(manifests: Int, checkpoints: Int, logBytes: Long,
    dataFiles: Int, smallFiles: Int, dvFiles: Int, bytes: Long)

object Layout {
  /** Data files below this size count as small (the benchmark's
    * compaction threshold). */
  val SmallFileBytes: Long = 256L << 10

  def scan(roots: Seq[String]): Layout = {
    var manifests, checkpoints, dataFiles, smallFiles, dvFiles = 0
    var logBytes, bytes = 0L
    roots.flatMap(Fs.files).foreach { f =>
      val path = f.getPath
      val name = f.getName
      bytes += f.length
      if (path.contains(File.separator + "_graft_log" + File.separator)) {
        logBytes += f.length
        if (name.endsWith(".manifest")) {
          manifests += 1
          if (!isDelta(f)) checkpoints += 1
        }
      } else if (name.endsWith(".parquet")) {
        if (path.contains(File.separator + "dv" + File.separator)) dvFiles += 1
        else {
          dataFiles += 1
          if (f.length < SmallFileBytes) smallFiles += 1
        }
      }
    }
    Layout(manifests, checkpoints, logBytes, dataFiles, smallFiles, dvFiles,
      bytes)
  }

  /** A delta manifest carries the `#delta` marker line after its
    * headers; every other manifest is a full snapshot (a checkpoint). */
  private def isDelta(f: File): Boolean = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().exists(_ == "#delta") finally src.close()
  }
}
