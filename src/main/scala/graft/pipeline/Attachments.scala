package graft.pipeline

import org.apache.spark.SparkFiles
import org.apache.spark.sql.SparkSession

/** Jet resource attachment (reference: config/JobConfig.java:586-700
  * `attachFile`/`attachDirectory` + core/ProcessorSupplier.java
  * `Context.attachedFile`/`attachedDirectory`): ship a file with the job and
  * resolve it inside tasks — the standard way a `mapUsingService` transform
  * gets its model file, lookup table, or license next to the code.
  *
  * Spark-native mapping: `SparkContext.addFile` distributes the file to every
  * executor's work directory once per job (torrent-style at cluster scale, a
  * local copy on local[*]); `SparkFiles.get(name)` resolves the local path
  * inside any task. No custom distribution machinery — the 100 TB story is
  * Spark's own file server.
  */
object Attachments {

  /** Driver side: attach a file by path; tasks resolve it via
    * [[attachedFile]] under its basename (or pass `id` to rename, matching
    * Jet's `attachFile(file, id)` overload — Spark keys by basename, so the
    * id is realized as a hard copy with the requested name).
    */
  def attachFile(spark: SparkSession, path: String): Unit =
    spark.sparkContext.addFile(path)

  def attachFile(spark: SparkSession, path: String, id: String): Unit = {
    // The id becomes a filename: a separator would escape the staging dir.
    require(!id.contains('/') && !id.contains('\\') && id.nonEmpty &&
      id != "." && id != "..", s"invalid attachment id: '$id'")
    val src = new java.io.File(path)
    // Fresh per-invocation staging dir: a fixed shared path would let two
    // concurrent drivers on one machine race on the same id (one job
    // attaching the other's content if an overwrite lands between the copy
    // and addFile's snapshot) and clobber unrelated files.
    val stageDir = java.nio.file.Files.createTempDirectory("graft_attach_")
    val renamed = stageDir.resolve(id)
    java.nio.file.Files.copy(src.toPath, renamed)
    // DeleteOnExitHook runs in REVERSE registration order: register the
    // directory FIRST so the file inside it is deleted before the (then
    // empty) directory — the other order leaks a graft_attach_* dir per call
    stageDir.toFile.deleteOnExit(); renamed.toFile.deleteOnExit()
    spark.sparkContext.addFile(renamed.toAbsolutePath.toString)
  }

  /** Driver side: attach a directory tree (Jet `attachDirectory`). */
  def attachDirectory(spark: SparkSession, path: String): Unit =
    spark.sparkContext.addFile(path, true)

  /** Task side (valid inside any task or service `create` fn): local path of
    * an attached file or directory, by name (Jet's `attachedFile` and
    * `attachedDirectory`).
    */
  def attachedFile(name: String): java.io.File =
    new java.io.File(SparkFiles.get(name))
}
