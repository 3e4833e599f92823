package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Temp-then-rename replacement for small metadata directories (index
  * params, bloom bitmaps): a plain Spark `mode("overwrite")` DELETES the
  * old output before writing the new one, so a crash mid-overwrite leaves
  * the directory empty and whatever depends on it unreadable. The swap
  * keeps a complete copy on disk at every instant except the tiny
  * delete→rename gap, and [[recoverLive]] closes that gap on the read
  * side by completing the interrupted rename.
  *
  * One implementation for every persistent index ([[graft.llm.SemIndex]],
  * [[graft.llm.SpanIndex]], [[graft.llm.MinhashIndex]], their params via
  * [[StoreParams]]) — the crash-safety invariants live here, not in
  * per-index copies.
  */
object AtomicDir {

  private def tmpPath(liveDir: String) = new Path(liveDir + "_tmp")

  /** Replace `liveDir`: `writeTmp` writes the COMPLETE new copy to the
    * tmp path it is given and must replace whatever a crash mid-tmp-write
    * left there (a Spark `mode("overwrite")` write does; [[StoreParams]]
    * deletes it first), then delete-live + checked-rename swaps it in. */
  def swap(spark: SparkSession, liveDir: String)(writeTmp: String => Unit): Unit = {
    val live = new Path(liveDir)
    val tmp = tmpPath(liveDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeTmp(tmp.toString)
    fs.delete(live, true)
    require(fs.rename(tmp, live),
      s"AtomicDir: swap rename failed ($tmp -> $live) — the tmp dir holds " +
        "the complete copy; the next read recovers it")
  }

  /** Complete an interrupted [[swap]] before reading: a crash between its
    * delete and rename leaves the only complete copy at `<liveDir>_tmp`.
    * Call before every read of a swapped directory. */
  def recoverLive(spark: SparkSession, liveDir: String): Unit = {
    val live = new Path(liveDir)
    val tmp = tmpPath(liveDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(live) && fs.exists(tmp))
      require(fs.rename(tmp, live),
        s"AtomicDir: recovering $live from $tmp failed")
  }
}
