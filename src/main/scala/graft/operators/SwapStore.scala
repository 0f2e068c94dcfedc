package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** ONE definition of the crash-safe directory-swap discipline every
  * maintained store follows — the only code that renames a store dir or
  * its `.next`/`.old` siblings. Users: [[AnnIndex]] postings,
  * [[IngestPipeline]] signatures, [[DeltaManifest]] logs, and the
  * streaming stores [[graft.streaming.ClusterStream]],
  * [[graft.streaming.PostingsStream]], [[graft.streaming.ParagraphStream]]
  * and the counter logs ([[graft.streaming.SketchStream]],
  * [[graft.streaming.QuantileStream]], [[graft.streaming.DriftStream]],
  * [[graft.streaming.NgramStream]], [[graft.streaming.UnigramStream]],
  * [[graft.streaming.GramStream]]).
  *
  * The rename-aside order:
  *
  *   write complete replacement at `dir.next`
  *   → rename(dir → dir.old)   (the live store is renamed ASIDE, never
  *                              deleted before its replacement is live)
  *   → rename(dir.next → dir)
  *   → delete(dir.old)
  *
  * At every instant the complete store exists under exactly one of
  * `dir` / `dir.next`, so [[repair]] can always finish an interrupted
  * swap:
  *   - `dir` missing + `dir.next` present ⇒ the crash hit between the
  *     renames and the REPLACEMENT is the complete copy — promote it;
  *   - `dir` present ⇒ authoritative (a replacement is only renamed in
  *     after `dir` moved aside); a stray `dir.old` from a crash before
  *     the final delete is dropped, and a partial `dir.next` beside a
  *     live `dir` is left for the next [[replace]] to delete and
  *     rewrite (readers never look at `.next`).
  *
  * A rename or delete that fails (throws, or returns false) before the
  * promotion leaves one of those states, and the failure propagates. The
  * one tolerated failure is a lost promote race: a concurrent reader's
  * [[repair]] may promote `dir.next` first, after which this side's
  * rename finds no source — that is success when `dir` exists and
  * `dir.next` is gone.
  *
  * CONTRACT: every read AND write path of a store compacted through
  * [[replace]] must call [[repair]] before touching the directory. The
  * repair-first rule is what closes the fragment-authoritative window:
  * without it, a post-crash append recreates `dir` with one batch,
  * making the stale fragment look authoritative while the complete
  * pre-crash store still sits in `.next` waiting to be deleted.
  */
object SwapStore {

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  def repair(spark: SparkSession, dir: String): Unit =
    repair(fsOf(spark, dir), dir)

  def repair(fs: FileSystem, dir: String): Unit = {
    val p = new Path(dir)
    val old = new Path(dir + ".old")
    if (!fs.exists(p) && fs.exists(new Path(dir + ".next")))
      promote(fs, dir, "swap repair")
    if (fs.exists(p) && fs.exists(old)) fs.delete(old, true)
  }

  /** rename(dir.next → dir), tolerating only a lost promote race. A
    * missing source surfaces as `false` on HDFS and as a
    * FileNotFoundException on the local filesystem; both are checked
    * against the same postcondition.
    */
  private def promote(fs: FileSystem, dir: String, what: String): Unit = {
    val p = new Path(dir)
    val next = new Path(dir + ".next")
    val moved =
      try fs.rename(next, p)
      catch { case _: java.io.FileNotFoundException if !fs.exists(next) => false }
    require(moved || (fs.exists(p) && !fs.exists(next)),
      s"$what failed: $next -> $p")
  }

  /** Replace `dir` crash-safely: `write` materializes the COMPLETE
    * replacement at the `.next` path it receives, then the rename-aside
    * swap promotes it. Runs [[repair]] first so a crashed prior swap is
    * finished before this one starts (its stranded `.next` would
    * otherwise be deleted as stale scratch).
    */
  def replace(spark: SparkSession, dir: String)(write: String => Unit): Unit = {
    val fs = fsOf(spark, dir)
    repair(fs, dir)
    val p = new Path(dir)
    val next = new Path(dir + ".next")
    val old = new Path(dir + ".old")
    // a stale `.next` would leak its partitions into this replacement,
    // and a stale `.old` would make the rename below nest `dir` inside it
    drop(fs, next)
    write(next.toString)
    drop(fs, old)
    if (fs.exists(p))
      require(fs.rename(p, old), s"compaction swap failed: $p -> $old")
    promote(fs, dir, "compaction swap")
    // the store is live; a `.old` this fails to delete is a stray that
    // the next repair drops
    fs.delete(old, true)
    ()
  }

  private def drop(fs: FileSystem, q: Path): Unit =
    if (fs.exists(q)) require(fs.delete(q, true), s"swap cleanup failed: $q")

  /** Remove a store AND its swap-state siblings (`.next` / `.old`) — the
    * reset an explicit rebuild needs: deleting only `dir` would let a
    * later [[repair]] promote a stranded pre-reset `.next`, resurrecting
    * the data the rebuild meant to discard.
    */
  def reset(spark: SparkSession, dir: String): Unit = {
    val fs = fsOf(spark, dir)
    Seq(dir, dir + ".next", dir + ".old").foreach(d => drop(fs, new Path(d)))
  }
}
