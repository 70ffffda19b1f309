package graft

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.file.{Files, Path, Paths}

/** The one JSON record a Bench or Verify run writes:
  * `records/<tool>_<sfName>.json` under the working directory. It carries
  * the git `head`/`dirty` stamp, `sf`, `cpus`, the `only` filter, the
  * tool's own top-level fields and one line per query. A rerun overwrites
  * it; git keeps the history. */
private[graft] final class RunRecord(tool: String, sfDir: String, cpus: String,
    only: Option[Set[String]]) {
  import RunRecord.json

  val path: Path =
    Paths.get("records", s"${tool}_${RunRecord.sfName(sfDir)}.json").toAbsolutePath

  private val stamp: Seq[(String, Any)] = {
    val root = new java.io.File(System.getProperty("user.dir"))
    Seq("head" -> Bench.gitHead(root), "dirty" -> Bench.gitDirty(root),
      "sf" -> sfDir, "cpus" -> cpus, "only" -> only.map(_.toSeq.sorted))
  }

  /** Rewrites the whole file: the stamp, `fields`, then `queries` by name. */
  def write(fields: Seq[(String, Any)], queries: Map[String, Map[String, Any]]): Unit = {
    val top = (stamp ++ fields).map { case (k, v) =>
      s"  ${json.writeValueAsString(k)}: ${json.writeValueAsString(v)},"
    }
    val qs = queries.toSeq.sortBy(_._1).map { case (n, q) =>
      s"    ${json.writeValueAsString(n)}: ${json.writeValueAsString(q)}"
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path,
      (top :+ qs.mkString("  \"queries\": {\n", ",\n", "\n  }")).mkString("{\n", "\n", "\n}\n"))
  }
}

private[graft] object RunRecord {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  def sfName(sfDir: String): String = sfDir.replaceAll("/+$", "").split('/').last
}
