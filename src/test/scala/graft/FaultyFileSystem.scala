package graft

import java.net.URI

import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `faulty://` scheme, with one injectable
  * fault: the Nth `rename` or `delete` that touches a watched store dir
  * (`dir`, `dir.next` or `dir.old`, as source or destination — or, with
  * the `*Under` forms, any path under `dir` or a sibling) throws, or
  * returns `false` without doing anything. Every other call, and every
  * call outside an [[FaultyFileSystem.inject]] / [[FaultyFileSystem.record]]
  * block, goes straight to the local filesystem.
  *
  * Register it with [[FaultyFileSystem.register]], then address a store as
  * `faulty:///local/path`.
  */
class FaultyFileSystem extends FilterFileSystem(new FaultyFileSystem.Local) {
  import FaultyFileSystem._

  override def getScheme: String = scheme

  override def rename(src: Path, dst: Path): Boolean =
    intercept(s"rename ${key(src)} -> ${key(dst)}", Seq(src, dst))(
      super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean =
    intercept(s"delete ${key(p)}", Seq(p))(super.delete(p, recursive))
}

object FaultyFileSystem {
  val scheme = "faulty"

  /** The raw local filesystem, answering to the `faulty` scheme. */
  class Local extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$scheme:///")
    override def getScheme: String = scheme
  }

  sealed trait Fault
  /** The call throws an IOException and does nothing. */
  case object Throws extends Fault
  /** The call returns false and does nothing. */
  case object ReturnsFalse extends Fault
  /** The call runs normally (used with a `before` action). */
  case object Proceeds extends Fault

  private final case class Plan(watched: String => Boolean, at: Int,
      fault: Fault, before: () => Unit) {
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
  }

  @volatile private var plan: Option[Plan] = None

  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$scheme.impl", classOf[FaultyFileSystem].getName)

  private def key(p: Path): String = p.toUri.getPath.stripSuffix("/")

  private def watchedOf(dirs: Seq[String]): String => Boolean =
    dirs.flatMap { d =>
      val k = key(new Path(d))
      Seq(k, s"$k.next", s"$k.old")
    }.toSet

  /** Every path whose name starts with `dir`'s: the store, its swap
    * siblings and everything written inside them.
    */
  private def under(dir: String): String => Boolean = {
    val k = key(new Path(dir))
    _.startsWith(k)
  }

  private def intercept(call: String, paths: Seq[Path])(
      run: => Boolean): Boolean = {
    val fire = synchronized {
      plan.filter(p => paths.exists(q => p.watched(key(q)))).flatMap { p =>
        p.log += call
        if (p.log.size == p.at) { plan = None; Some(p) } else None
      }
    }
    fire match {
      case None => run
      case Some(p) =>
        p.before()
        p.fault match {
          case Throws => throw new java.io.IOException(s"injected fault: $call")
          case ReturnsFalse => false
          case Proceeds => run
        }
    }
  }

  private def armed[T](p: Plan)(body: => T): (T, Seq[String]) = {
    synchronized { plan = Some(p) }
    try { val r = body; (r, p.log.toSeq) }
    finally synchronized { plan = None }
  }

  /** Run `body` and return the watched calls it made, in order. */
  def record(dirs: Seq[String])(body: => Unit): Seq[String] =
    armed(Plan(watchedOf(dirs), 0, Proceeds, () => ()))(body)._2

  /** [[record]], watching every call under `dir` and its siblings. */
  def recordUnder(dir: String)(body: => Unit): Seq[String] =
    armed(Plan(under(dir), 0, Proceeds, () => ()))(body)._2

  /** Run `body` with `fault` on its `n`th (1-based) watched call, after
    * running `before`. The plan disarms as it fires, so `before` may
    * touch the watched dirs itself.
    */
  def inject[T](dirs: Seq[String], n: Int, fault: Fault,
      before: () => Unit = () => ())(body: => T): T =
    armed(Plan(watchedOf(dirs), n, fault, before))(body)._1

  /** [[inject]], counting every call under `dir` and its siblings —
    * the ones a store's writer makes inside its replacement too.
    */
  def injectUnder[T](dir: String, n: Int, fault: Fault)(body: => T): T =
    armed(Plan(under(dir), n, fault, () => ()))(body)._1
}
