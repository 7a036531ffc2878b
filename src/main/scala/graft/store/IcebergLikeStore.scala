package graft.store

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Minimal Iceberg-style table layer: parquet data files under a table dir
  * plus an append-only `_commits/` JSON manifest log carrying per-partition
  * lineage and metrics. Provides the north rule's checkpoint/resume
  * semantics (killed build resumes from the last committed partition group)
  * without the Iceberg runtime jar, which does not ship in this offline
  * image (SURVEY.md §7.3).
  *
  * Mirrors the reference's index-persistence contract: engine params are
  * index-level metadata applied before querying (Elasticsearch settings
  * dance at benchmark/on_elastic.py:72-112; bm25s `model.save(dir)` at
  * inference/build_index.py:25-28).
  *
  * All IO goes through the Hadoop `FileSystem` of the active session's
  * `hadoopConfiguration`, so a plain path, a `file:` or an `hdfs:` URI
  * resolves exactly as Spark's own reads and writes of the same table dir.
  *
  * Commit protocol ([[stage]]): a group's writer overwrites the group's
  * final data directory; then its manifest is written to a hidden temp
  * file `_commits/.tmp-<seq>-<group>` and renamed to
  * `_commits/<seq>-<group>.json`. The rename is the commit point: a group
  * is committed iff its manifest exists. Data without a manifest (a killed
  * write) is overwritten by the next run of the stage, and readers skip
  * temp files. Each committed manifest is a snapshot of the log;
  * `_properties.json` (written last, by the same temp-and-rename) marks
  * the table complete.
  */
final case class PartitionCommit(
    group: String,
    files: Seq[String],
    rowCount: Long,
    metrics: Map[String, String],
    elapsedSec: Double)

class IcebergLikeStore(tableDir: String) {
  private val root = new Path(tableDir)
  private val fs: FileSystem =
    root.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
  private val commitsDir = new Path(root, "_commits")
  private val propsPath = new Path(root, "_properties.json")

  /** Committed manifests in commit order: `<seq>-<group>.json` names only. */
  private def listManifests(): Seq[Path] =
    if (!fs.exists(commitsDir)) Nil
    else fs.listStatus(commitsDir).toSeq.map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.headOption.exists(_.isDigit) && n.endsWith(".json")
      }
      .sortBy(_.getName)

  private def groupOf(manifest: Path): String = {
    val name = manifest.getName.stripSuffix(".json")
    name.substring(name.indexOf('-') + 1)
  }

  /** Groups already durably committed (resume skips these). */
  def committedGroups(): Set[String] = listManifests().map(groupOf).toSet

  def readCommits(): Seq[PartitionCommit] = listManifests().map(readCommit)

  /** The latest commit of `group`, if any: the stage metadata recorded at
    * commit time (row count, the files a segment group wrote) that a
    * resumed build reads instead of assuming the current layout.
    */
  def lastCommit(group: String): Option[PartitionCommit] =
    listManifests().filter(groupOf(_) == group).lastOption.map(readCommit)

  /** Run one build stage under the commit protocol: skip it if `group` is
    * committed; otherwise run `write` (returns the rows written), time it
    * and commit the group's manifest.
    */
  def stage(group: String, files: Seq[String], metrics: Map[String, String])(
      write: => Long): Unit =
    if (!committedGroups().contains(group)) {
      val s = System.nanoTime()
      val rows = write
      commit(PartitionCommit(group, files, rows, metrics, (System.nanoTime() - s) / 1e9))
    }

  private def commit(c: PartitionCommit): Unit = {
    val seq = listManifests().size
    val body = new java.util.LinkedHashMap[String, Any]
    body.put("group", c.group)
    body.put("rowCount", c.rowCount)
    body.put("files", c.files.asJava)
    body.put("metrics", new java.util.TreeMap(c.metrics.asJava))
    body.put("elapsedSec", c.elapsedSec)
    writeAtomically(new Path(commitsDir, f"$seq%05d-${c.group}.json"), body)
  }

  /** Table-level properties (scoring params etc.), written once at finish. */
  def writeProperties(props: Map[String, String]): Unit =
    writeAtomically(propsPath, new java.util.TreeMap(props.asJava))

  def readProperties(): Map[String, String] =
    if (!fs.exists(propsPath)) Map.empty
    else textFields(readJson(propsPath))

  def isComplete: Boolean = fs.exists(propsPath)

  private def readCommit(manifest: Path): PartitionCommit = {
    val j = readJson(manifest)
    if (!Seq("group", "rowCount", "elapsedSec").forall(j.has)) throw unreadable(manifest, null)
    PartitionCommit(j.get("group").asText, j.path("files").asScala.map(_.asText).toSeq,
      j.get("rowCount").asLong, textFields(j.path("metrics")), j.get("elapsedSec").asDouble)
  }

  private def textFields(j: JsonNode): Map[String, String] =
    j.properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap

  /** The JSON object in `p`. An empty, truncated or non-object file (a
    * write cut short outside the temp-and-rename protocol, or a damaged
    * copy) fails naming the file, not as a bare parser error or an NPE;
    * so does a manifest missing a field ([[readCommit]]).
    */
  private def readJson(p: Path): JsonNode = {
    val in = fs.open(p)
    val j =
      try IcebergLikeStore.Json.readTree(in)
      catch { case e: JsonProcessingException => throw unreadable(p, e) }
      finally in.close()
    if (j == null || !j.isObject) throw unreadable(p, null)
    j
  }

  private def unreadable(p: Path, cause: Throwable): IllegalStateException =
    new IllegalStateException(s"$p is empty or incomplete (truncated JSON or missing fields); " +
      "delete it and every later _commits manifest, then re-run the build to resume, " +
      "or delete the index and rebuild", cause)

  /** Write `value` as JSON to a hidden temp file beside `target`, then
    * rename it over `target`. A filesystem whose rename does not replace
    * (HDFS) gets the old target deleted first.
    */
  private def writeAtomically(target: Path, value: AnyRef): Unit = {
    val tmp = new Path(target.getParent, ".tmp-" + target.getName.stripSuffix(".json"))
    val out = fs.create(tmp, true)
    try out.write(IcebergLikeStore.Json.writerWithDefaultPrettyPrinter
      .writeValueAsBytes(value))
    finally out.close()
    if (!fs.rename(tmp, target) &&
        !(fs.delete(target, false) && fs.rename(tmp, target)))
      throw new java.io.IOException(s"could not rename $tmp to $target")
  }
}

object IcebergLikeStore {
  private val Json = new JsonMapper()
}
