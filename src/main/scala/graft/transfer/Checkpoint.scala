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
  *  "completed": ["t1", ...], "in_progress": {"t2": 12345},
  *  "partial": {"t2": {"partitions": 3, "committed": [0, 2]}}}
  * }}}
  *
  * `partial` is this engine's addition: the partitions of a chunked
  * table's next chunk that committed before the chunk as a whole failed
  * (see [[PartialWrite]]).
  */
final class CheckpointManager(path: String, schema: String, target: String) {

  private val file: Path = Paths.get(path)
  private val completed = mutable.LinkedHashSet[String]()
  private val inProgress = mutable.LinkedHashMap[String, Long]()
  private val partial = mutable.LinkedHashMap[String, (Int, Set[Int])]()

  load()

  def isCompleted(table: String): Boolean = synchronized(completed.contains(table))
  def resumeOffset(table: String): Long = synchronized(inProgress.getOrElse(table, 0L))

  /** The partitions of `table`'s next pending chunk that already committed,
    * with the number of partitions that chunk was staged over. */
  def committedPartitions(table: String): Option[(Int, Set[Int])] =
    synchronized(partial.get(table))

  def markCompleted(table: String): Unit = synchronized {
    completed += table
    inProgress.remove(table)
    partial.remove(table)
    save()
  }

  /** Per-batch progress. Same JSON slot as the reference's absolute row
    * offset (checkpoint.py:60-74), but the chunked transfer stores the
    * COUNT of committed chunks — order-stable where a row offset is not
    * (see TransferEngine.transferChunked). */
  def updateProgress(table: String, progress: Long): Unit = synchronized {
    inProgress(table) = progress
    partial.remove(table)
    save()
  }

  /** Record the partitions of `table`'s next chunk that committed, out of
    * the `partitions` it is staged over; cleared by the chunk's own
    * [[updateProgress]]. */
  def updatePartitions(table: String, partitions: Int, committed: Set[Int]): Unit = synchronized {
    partial(table) = (partitions, committed)
    save()
  }

  def reset(): Unit = synchronized {
    completed.clear(); inProgress.clear(); partial.clear()
    Files.deleteIfExists(file)
  }

  private def load(): Unit =
    if (Files.exists(file)) {
      val root = Json.mapper.readTree(file.toFile)
      completed ++= root.path("completed").asScala.map(_.asText)
      inProgress ++= root.path("in_progress").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong)
      partial ++= root.path("partial").properties().asScala.map { e =>
        e.getKey -> (e.getValue.path("partitions").asInt,
          e.getValue.path("committed").asScala.map(_.asInt).toSet)
      }
    }

  /** Atomic write: tmp file + rename (checkpoint.py:41-54). */
  private def save(): Unit = {
    val root = Json.mapper.createObjectNode().put("schema", schema).put("target", target)
    val done = root.putArray("completed")
    completed.foreach(t => done.add(t))
    val progress = root.putObject("in_progress")
    inProgress.foreach { case (k, v) => progress.put(k, v) }
    if (partial.nonEmpty) {
      val parts = root.putObject("partial")
      partial.foreach { case (k, (n, done)) =>
        val ids = parts.putObject(k).put("partitions", n).putArray("committed")
        done.toSeq.sorted.foreach(i => ids.add(i))
      }
    }
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    if (file.getParent != null) Files.createDirectories(file.getParent)
    Files.write(tmp, Json.mapper.writeValueAsBytes(root))
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}
