package graft.streaming

import java.io.{File, FileNotFoundException, InputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{AccessDeniedException, FileAlreadyExistsException => NioFileAlreadyExists, Files, FileSystemException, NoSuchFileException, Path => JPath, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, Path, PathFilter, PositionedReadable, Seekable}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Checkpoint file manager for LOCAL (`file:`) checkpoint roots built on
  * java.nio — the r19 fix for the per-commit fork storm.
  *
  * The measured pathology (stack-sampled from a q94 stream-stream-join loop,
  * OPTIMIZATION_r19.md): Spark's default `FileContextBasedCheckpointFileManager`
  * routes every atomic-write rename through Hadoop's
  * `RawLocalFileSystem.getFileLinkStatus`, which SHELLS OUT to `readlink`
  * (`Shell.execCommand`) — one fork+exec per checkpoint file, and a
  * micro-batch commits many (4 state partitions × up to 4 join stores +
  * offset WAL + commit log + checksum twins ≈ 20-40 files/batch). On this
  * box that made file renames the dominant RUNNABLE frames of the whole
  * streaming floor: ~0.75 s/batch on 2-row sentinel batches; q94 warm fell
  * 5.1 s → 3.4 s from the manager swap alone.
  *
  * NIO gives the same guarantees on a local filesystem with zero process
  * spawns and no Hadoop path translation:
  *
  *  - `createAtomic(overwrite = true)`  = write temp sibling + `Files.move`
  *    with `ATOMIC_MOVE` (rename(2) — atomic replace on POSIX);
  *  - `createAtomic(overwrite = false)` = write temp sibling +
  *    `Files.createLink` (link(2) fails `EEXIST` ATOMICALLY — strictly
  *    stronger than the check-then-rename of Spark's own
  *    `FileSystemBasedCheckpointFileManager` fallback), then unlink the temp;
  *  - reads/lists/deletes are plain NIO with Hadoop types on the boundary.
  *
  * NON-local checkpoint roots (hdfs:, s3a:, …) delegate every call to
  * Spark's default `FileContextBasedCheckpointFileManager`, whose FileContext
  * rename semantics are the right (and RPC-based, fork-free) choice there —
  * production clusters lose nothing. Selected via
  * `spark.sql.streaming.checkpointFileManagerClass` in [[graft.GraftSession]].
  * The checkpoint checksum layer (`spark.sql.streaming.checkpoint.
  * fileChecksum.enabled`, Spark 4.1) sits ABOVE the manager and keeps
  * working — its twin files just stop forking too.
  */
class LocalCheckpointFileManager(root: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val local: Boolean =
    Option(root.toUri.getScheme).forall(s => s == "file" || s == "local")

  // non-local roots get Spark's default manager wholesale
  private lazy val delegate: CheckpointFileManager =
    new FileContextBasedCheckpointFileManager(root, hadoopConf)

  private def jpath(p: Path): JPath = Paths.get(p.toUri.getPath)

  private def status(jp: JPath): FileStatus = {
    val f = jp.toFile
    // NOT new Path(f.toURI): File.toURI appends a trailing slash to
    // directory URIs and Hadoop Path PRESERVES it — Path.getName then reads
    // "" and every name-parsing consumer breaks (found via the state-metadata
    // source returning zero operators: its PathFilter parses dir names as
    // operator ids). The (scheme, authority, path) constructor takes the raw
    // path string, no URI round-trip.
    val abs = f.getAbsolutePath
    new FileStatus(f.length(), f.isDirectory, 1, 33554432L, f.lastModified(),
      new Path("file", null, if (abs.isEmpty) "/" else abs))
  }

  override def isLocal: Boolean = if (local) true else delegate.isLocal

  override def createCheckpointDirectory(): Path =
    if (!local) delegate.createCheckpointDirectory()
    else {
      val jp = jpath(root)
      Files.createDirectories(jp)
      // (scheme, authority, rawPath) — NOT new Path(jp.toUri): nio Path.toUri
      // appends a trailing slash for existing directories, the exact
      // Hadoop-Path pathology status() documents (getName becomes "").
      // ADVICE r19.
      val abs = jp.toAbsolutePath.toString
      new Path("file", null, if (abs.isEmpty) "/" else abs)
    }

  override def createAtomic(path: Path,
                            overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    if (!local) delegate.createAtomic(path, overwriteIfPossible)
    else {
      val dst = jpath(path)
      Files.createDirectories(dst.getParent)
      val tmp = dst.resolveSibling(
        s".${dst.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      val os = Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW,
        StandardOpenOption.WRITE)
      new CancellableFSDataOutputStream(os) {
        @volatile private var terminated = false
        override def close(): Unit = this.synchronized {
          if (!terminated) {
            terminated = true
            super.close() // flush + close the temp stream
            try {
              if (overwriteIfPossible) {
                Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
                  StandardCopyOption.REPLACE_EXISTING)
              } else {
                // link(2) fails EEXIST atomically — no check-then-rename race
                try Files.createLink(dst, tmp)
                catch {
                  case _: NioFileAlreadyExists =>
                    throw new FileAlreadyExistsException(
                      s"rename destination $dst already exists")
                  case e: Exception if LocalCheckpointFileManager.noHardLinks(e) =>
                    // file: roots on filesystems WITHOUT hard links (some
                    // overlay/network mounts) refuse link(2) — fall back to
                    // Spark's FileSystemBased manager semantics: exists-check
                    // + atomic move (a narrower no-overwrite guarantee, but
                    // the write succeeds instead of failing the query).
                    // Any other failure propagates.
                    if (Files.exists(dst))
                      throw new FileAlreadyExistsException(
                        s"rename destination $dst already exists")
                    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
                } finally Files.deleteIfExists(tmp)
              }
            } catch { case e: NoSuchFileException =>
              // temp vanished (external /tmp pruning): surface as the same
              // exception family the Hadoop managers raise
              throw new FileNotFoundException(e.getMessage)
            }
          }
        }
        override def cancel(): Unit = this.synchronized {
          if (!terminated) {
            terminated = true
            try super.close() catch { case _: Throwable => () }
            try { Files.deleteIfExists(tmp); () } catch { case _: Throwable => () }
          }
        }
      }
    }

  /** Minimal Seekable/PositionedReadable file stream — what
    * FSDataInputStream requires of its wrapped stream.
    */
  private final class SeekableFileInputStream(ch: FileChannel)
      extends InputStream with Seekable with PositionedReadable {
    override def read(): Int = {
      val b = ByteBuffer.allocate(1)
      if (ch.read(b) <= 0) -1 else b.get(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      ch.read(ByteBuffer.wrap(b, off, len))
    override def close(): Unit = ch.close()
    override def seek(pos: Long): Unit = { ch.position(pos); () }
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int =
      ch.read(ByteBuffer.wrap(buffer, offset, length), position)
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
                           length: Int): Unit = {
      var done = 0
      while (done < length) {
        val n = ch.read(ByteBuffer.wrap(buffer, offset + done, length - done),
          position + done)
        if (n < 0) throw new java.io.EOFException(
          s"EOF at ${position + done} reading $length bytes")
        done += n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }

  override def open(path: Path): FSDataInputStream =
    if (!local) delegate.open(path)
    else {
      val ch =
        try FileChannel.open(jpath(path), StandardOpenOption.READ)
        catch { case e: NoSuchFileException =>
          throw new FileNotFoundException(e.getMessage)
        }
      new FSDataInputStream(new SeekableFileInputStream(ch))
    }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    if (!local) delegate.list(path, filter)
    else {
      val jp = jpath(path)
      val entries =
        if (!Files.exists(jp)) throw new FileNotFoundException(jp.toString)
        else if (Files.isDirectory(jp)) {
          val s = Files.list(jp)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.map(status).toArray
          } finally s.close()
        } else Array(status(jp))
      entries.filter(st => filter.accept(st.getPath))
    }

  override def mkdirs(path: Path): Unit =
    if (!local) delegate.mkdirs(path)
    else { Files.createDirectories(jpath(path)); () }

  override def exists(path: Path): Boolean =
    if (!local) delegate.exists(path) else Files.exists(jpath(path))

  override def delete(path: Path): Unit =
    if (!local) delegate.delete(path)
    else {
      val jp = jpath(path)
      if (Files.exists(jp)) {
        // checkpoint dirs are deleted recursively (purge, temp cleanup).
        // Concurrent removals (state-store maintenance thread) can make the
        // walk itself throw for entries that vanish mid-traversal — treat
        // vanished entries as already deleted, exactly like deleteIfExists
        // does for the per-file case. ADVICE r19.
        try {
          if (Files.isDirectory(jp)) {
            val s = Files.walk(jp)
            try {
              import scala.jdk.CollectionConverters._
              s.sorted(java.util.Comparator.reverseOrder[JPath]())
                .iterator().asScala.foreach(p => Files.deleteIfExists(p))
            } finally s.close()
          } else Files.deleteIfExists(jp)
        } catch {
          case _: NoSuchFileException => ()
          case e: java.io.UncheckedIOException
              if e.getCause.isInstanceOf[NoSuchFileException] => ()
        }
      }
      ()
    }
}

object LocalCheckpointFileManager {
  /** The conf value [[graft.GraftSession]] installs. */
  val className: String = classOf[LocalCheckpointFileManager].getName

  /** Whether a failed `Files.createLink` says the filesystem has no hard
    * links: `UnsupportedOperationException`, or a `FileSystemException`
    * whose reason is EPERM ("Operation not permitted", what link(2) returns
    * on filesystems that do not support it) or ENOTSUP/EOPNOTSUPP
    * ("Operation not supported"). A denied permission, a missing file or any
    * other I/O failure is not, and must fail the write.
    */
  def noHardLinks(e: Throwable): Boolean = e match {
    case _: UnsupportedOperationException => true
    case _: AccessDeniedException | _: NoSuchFileException | _: NioFileAlreadyExists => false
    case f: FileSystemException => Option(f.getReason).exists(r =>
      r.contains("Operation not permitted") || r.contains("Operation not supported"))
    case _ => false
  }
}
