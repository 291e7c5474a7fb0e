package graft.util

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** "Does this table structurally hold committed parquet data?" — decided
  * from the filesystem, never by swallowing a read failure (the
  * [[graft.streaming.WatchlistMonitor]] sweep's discipline, shared with
  * [[graft.streaming.CorpusIngest.compactGraduated]]): a
  * `scala.util.Try` around `spark.read` folds a transient IO error into
  * "table gone", and for
  * callers whose gone-branch is destructive (wipe the graduated markers,
  * re-sweep the whole watched set) that misread silently redoes — or
  * undoes — corpus-scale work. Structurally: a dir that is missing, or
  * holds no committed data file (a crash mid-first-write leaves only
  * `_temporary/`; an all-rejected stream leaves only `_SUCCESS`), has
  * never durably held rows, while a genuine read failure on a healthy
  * table PROPAGATES from the actual read that follows. NOT defended:
  * a concurrent `mode("overwrite")` of the same table — its
  * delete→write window is structurally identical to "removed", so
  * callers owe their gone-branch a single-writer contract (every
  * maintenance path here runs in one exclusive window).
  */
object CommittedTable {

  /** True iff `path` exists and holds at least one committed data file
    * ([[isCommittedDataFile]], recursive for partitioned layouts). */
  def hasData(spark: SparkSession, path: String): Boolean = {
    val p0 = new Path(path)
    val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = fs.makeQualified(p0)
    if (!fs.exists(p)) false
    else {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) found = isCommittedDataFile(p, it.next())
      found
    }
  }

  /** A committed, visible data file of the table at the QUALIFIED `root`:
    * a `.parquet` file, not a `_`/`.` marker, and not under a HIDDEN
    * (`_`/`.`-prefixed) ancestor dir below `root` — `_temporary/`
    * committer staging and a crash-orphaned `.compact_staging_*` dir
    * alike (plain Spark readers skip both shapes too). The one rule
    * behind [[hasData]] and every [[graft.operators.TableCompaction]]
    * listing, so their emptiness views cannot diverge inside a
    * compaction crash window. */
  def isCommittedDataFile(root: Path, f: FileStatus): Boolean = {
    val n = f.getPath.getName
    val rootPath = root.toUri.getPath
    def hiddenAncestor: Boolean = {
      var cur = f.getPath.getParent
      while (cur != null && cur.toUri.getPath != rootPath) {
        val cn = cur.getName
        if (cn.startsWith(".") || cn.startsWith("_")) return true
        cur = cur.getParent
      }
      false
    }
    f.isFile && n.endsWith(".parquet") &&
      !n.startsWith("_") && !n.startsWith(".") && !hiddenAncestor
  }
}
