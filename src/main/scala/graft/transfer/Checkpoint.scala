package graft.transfer

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Json

/** Thread-safe JSON checkpoint for resumable schema transfer — the same
  * format and atomic tmp-rename discipline as the reference
  * (`snowflake_to_postgres/checkpoint.py:12-104`):
  *
  * {{{
  * {"schema": "...", "target": "...",
  *  "completed": ["t1", ...], "in_progress": {"t2": 12345}}
  * }}}
  */
final class CheckpointManager(path: String, schema: String, target: String) {

  private val file: Path = Paths.get(path)
  private val completed = mutable.LinkedHashSet[String]()
  private val inProgress = mutable.LinkedHashMap[String, Long]()

  load()

  def isCompleted(table: String): Boolean = synchronized(completed.contains(table))
  def resumeOffset(table: String): Long = synchronized(inProgress.getOrElse(table, 0L))

  def markCompleted(table: String): Unit = synchronized {
    completed += table
    inProgress.remove(table)
    save()
  }

  /** Per-batch progress. Same JSON slot as the reference's absolute row
    * offset (checkpoint.py:60-74), but the chunked transfer stores the
    * COUNT of committed chunks — order-stable where a row offset is not
    * (see TransferEngine.transferChunked). */
  def updateProgress(table: String, progress: Long): Unit = synchronized {
    inProgress(table) = progress
    save()
  }

  def reset(): Unit = synchronized {
    completed.clear(); inProgress.clear()
    Files.deleteIfExists(file)
  }

  private def load(): Unit =
    if (Files.exists(file)) {
      val root = Json.mapper.readTree(file.toFile)
      completed ++= root.path("completed").asScala.map(_.asText)
      inProgress ++= root.path("in_progress").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong)
    }

  /** Atomic write: tmp file + rename (checkpoint.py:41-54). */
  private def save(): Unit = {
    val root = Json.mapper.createObjectNode().put("schema", schema).put("target", target)
    val done = root.putArray("completed")
    completed.foreach(t => done.add(t))
    val progress = root.putObject("in_progress")
    inProgress.foreach { case (k, v) => progress.put(k, v) }
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    if (file.getParent != null) Files.createDirectories(file.getParent)
    Files.write(tmp, Json.mapper.writeValueAsBytes(root))
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}
