package graft.etl

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import scala.util.Try

/** A frozen static: state a deployment builds long before the work that
  * probes it (a band index, a reference profile, trained codebooks), so
  * a benched probe times the probe, not the build. `build` runs at most
  * once per (SparkContext, fixture dir), however many threads ask at
  * once; the result is typically `localCheckpoint`ed frames.
  *
  * The memo is keyed by SparkContext the way `Tables.relMemo` is keyed
  * by session: a new context drops every earlier build, so a frame tied
  * to a stopped context is never served. A build that throws stays
  * failed for its context: every later call rethrows instead of
  * rebuilding, so after a failed [[Frozen.warm]] the work that needs
  * the static fails fast rather than paying the build inside a timed
  * region. */
final class Frozen[T](val name: String,
                      private val build: (SparkSession, String) => T) {
  def apply(spark: SparkSession, dir: String): T =
    Frozen.slot(this, spark, dir).value.get.asInstanceOf[T]
}

object Frozen {
  def apply[T](name: String)(build: (SparkSession, String) => T): Frozen[T] =
    new Frozen(name, build)

  /** One build: the lazy val serializes concurrent first callers on the
    * slot and runs the build outside the map, so a build may itself
    * read other statics. */
  private final class Slot(build: => Any) {
    lazy val value: Try[Any] = Try(build)
  }

  @volatile private var memo: (SparkContext,
    ConcurrentHashMap[(Frozen[_], String), Slot]) = null

  private def slot(f: Frozen[_], spark: SparkSession, dir: String): Slot = {
    val sc = spark.sparkContext
    val m = synchronized {
      if (memo == null || (memo._1 ne sc))
        memo = (sc, new ConcurrentHashMap[(Frozen[_], String), Slot]())
      memo._2
    }
    m.computeIfAbsent((f, dir), _ => new Slot(f.build(spark, dir)))
  }

  /** Build each of `statics` for `dir` (untimed warm-up). A failure is
    * reported on stderr and stays memoized, so the work that depends on
    * it fails fast. */
  def warm(spark: SparkSession, dir: String,
           statics: Seq[Frozen[_]]): Unit =
    statics.foreach { f =>
      Try(f(spark, dir)).failed.foreach { e =>
        System.err.println(s"[frozen] static '${f.name}' failed to build " +
          s"for $dir: ${e.getMessage}")
      }
    }
}
