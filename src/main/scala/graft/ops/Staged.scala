package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one per-JVM staging memo. A query's fixture, index or ground
  * truth is pipeline INPUT, not the operator under test: it is built on
  * the first call for its key and every later call (every later query
  * and bench pass in the JVM) reuses it, the way a real corpus or index
  * exists as data before the pipeline reads it (Tuplex's `cache`).
  * [[once]] memoizes any value (an index path, a checkpointed frame),
  * [[dir]] a [[TempDirs]] dir its build fills, and [[table]] a parquet
  * table read back with the schema it was written with.
  *
  * Keys are compared by value. Each site keys by its own name plus what
  * the staged value depends on (the source dir and any parameter), so
  * two sites never share an entry.
  *
  * Each key's value lives in its own holder, forced outside the shared
  * map: a build may stage another key (the image index stages the PNG
  * fixture) without a recursive map update, and a slow build blocks only
  * the callers of its own key. A build that throws is not memoized; the
  * next call for the key builds again. */
object Staged {

  private final class Holder {
    private var value: Option[Any] = None
    def force(build: => Any): Any = synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    }
  }

  private val holders = new java.util.concurrent.ConcurrentHashMap[Any, Holder]()

  /** `build`'s value for `key`, built once per JVM. */
  def once[T](key: Any)(build: => T): T =
    holders.computeIfAbsent(key, _ => new Holder).force(build).asInstanceOf[T]

  /** A [[TempDirs]] dir that `write` fills once per (`prefix`, `key`);
    * returns its path. */
  def dir(key: Any, prefix: String)(write: String => Unit): String =
    once((prefix, key)) { val w = TempDirs.tempDir(prefix); write(w); w }

  /** `df` written once per (`prefix`, `key`) to a [[TempDirs]] parquet
    * dir, and read back on every call with the schema read from the
    * written footers at staging time. The read-back therefore has the
    * schema inference would give it, and submits no inference job. */
  def table(s: SparkSession, key: Any, prefix: String)(df: => DataFrame): DataFrame = {
    val (path, schema) = once((prefix, key)) {
      val w = TempDirs.tempDir(prefix)
      df.write.mode("overwrite").parquet(w)
      (w, s.read.parquet(w).schema)
    }
    s.read.schema(schema).parquet(path)
  }
}
