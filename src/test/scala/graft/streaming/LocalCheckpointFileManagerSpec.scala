package graft.streaming

import java.nio.file.{AccessDeniedException, FileSystemException, Files, NoSuchFileException, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the NIO local checkpoint manager (r19): the semantics
  * Spark's metadata logs and state stores rely on — atomic visible-or-absent
  * writes, atomic no-overwrite failure, cancellation leaving nothing behind,
  * seekable reads, list/delete behavior. The full streaming suite
  * (CheckpointRestartSpec, RescaleRestartSpec, ExactlyOnceE2ESpec, every
  * stream gate query) exercises it end-to-end since GraftSession wires it as
  * the session default.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def mk(): (LocalCheckpointFileManager, java.nio.file.Path) = {
    val dir = Files.createTempDirectory("graft_ckptmgr_")
    (new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration()), dir)
  }

  test("createAtomic(overwrite=true) is write-then-rename: absent until close, then complete") {
    val (fm, dir) = mk()
    val target = new Path(s"$dir/offsets/0")
    val out = fm.createAtomic(target, true)
    out.write("batch-0".getBytes("UTF-8"))
    assert(!fm.exists(target), "target must not exist before close")
    out.close()
    assert(fm.exists(target))
    val in = fm.open(target)
    val buf = new Array[Byte](7)
    in.readFully(0L, buf)
    in.close()
    assert(new String(buf, "UTF-8") === "batch-0")
    // overwrite allowed: a second atomic write replaces
    val out2 = fm.createAtomic(target, true)
    out2.write("batch-0'".getBytes("UTF-8")); out2.close()
    assert(fm.list(new Path(s"$dir/offsets")).length === 1)
  }

  test("createAtomic(overwrite=false) fails ATOMICALLY on an existing destination") {
    val (fm, dir) = mk()
    val target = new Path(s"$dir/commits/5")
    val a = fm.createAtomic(target, false)
    a.write("w1".getBytes); a.close()
    val b = fm.createAtomic(target, false)
    b.write("w2".getBytes)
    intercept[FileAlreadyExistsException] { b.close() }
    // loser's temp is cleaned up; winner's content intact
    assert(fm.list(new Path(s"$dir/commits")).length === 1)
    val in = fm.open(target)
    val buf = new Array[Byte](2)
    in.readFully(0L, buf); in.close()
    assert(new String(buf) === "w1")
  }

  test("cancel() leaves neither target nor temp file") {
    val (fm, dir) = mk()
    val target = new Path(s"$dir/state/1/1.delta")
    val out = fm.createAtomic(target, true)
    out.write(Array.fill(64)(7.toByte))
    out.cancel()
    assert(!fm.exists(target))
    assert(Files.list(Paths.get(s"$dir/state/1")).count() === 0)
  }

  test("open supports seek and positioned reads (FSDataInputStream contract)") {
    val (fm, dir) = mk()
    val target = new Path(s"$dir/f")
    val out = fm.createAtomic(target, true)
    out.write("0123456789".getBytes); out.close()
    val in = fm.open(target)
    in.seek(4L)
    assert(in.getPos === 4L)
    assert(in.read() === '4'.toInt)
    val buf = new Array[Byte](3)
    in.readFully(7L, buf)
    assert(new String(buf) === "789")
    assert(in.getPos === 5L, "positioned read must not move the cursor")
    in.close()
  }

  test("list filters, lists a bare file as itself, and throws on a missing path") {
    val (fm, dir) = mk()
    fm.mkdirs(new Path(s"$dir/d"))
    Seq("1.delta", "2.delta", "2.snapshot").foreach { n =>
      val o = fm.createAtomic(new Path(s"$dir/d/$n"), true)
      o.write(n.getBytes); o.close()
    }
    val deltas = fm.list(new Path(s"$dir/d"),
      (p: Path) => p.getName.endsWith(".delta"))
    assert(deltas.map(_.getPath.getName).sorted.toSeq === Seq("1.delta", "2.delta"))
    assert(deltas.forall(_.getLen > 0))
    assert(fm.list(new Path(s"$dir/d/1.delta")).length === 1)
    intercept[java.io.FileNotFoundException] {
      fm.list(new Path(s"$dir/nope"))
    }
    // DIRECTORY statuses must carry slash-free names: File.toURI appends a
    // trailing slash that Hadoop Path preserves, making getName "" — which
    // silently emptied the state-metadata source's operator listing (its
    // PathFilter parses directory names as operator ids); regression pin
    fm.mkdirs(new Path(s"$dir/ops/0"))
    val dirs = fm.list(new Path(s"$dir/ops"))
    assert(dirs.length === 1 && dirs.head.isDirectory)
    assert(dirs.head.getPath.getName === "0")
  }

  test("delete removes directories recursively; exists/mkdirs round-trip") {
    val (fm, dir) = mk()
    fm.mkdirs(new Path(s"$dir/a/b"))
    val o = fm.createAtomic(new Path(s"$dir/a/b/x"), true)
    o.write("x".getBytes); o.close()
    assert(fm.exists(new Path(s"$dir/a/b/x")))
    fm.delete(new Path(s"$dir/a"))
    assert(!fm.exists(new Path(s"$dir/a")))
    fm.delete(new Path(s"$dir/a")) // idempotent on missing
  }

  test("createCheckpointDirectory returns a file:-qualified root it created") {
    val dir = Files.createTempDirectory("graft_ckptmgr_root_")
    val root = new Path(s"$dir/sub/ckpt")
    val fm = new LocalCheckpointFileManager(root, new Configuration())
    val created = fm.createCheckpointDirectory()
    assert(created.toUri.getScheme === "file")
    assert(Files.isDirectory(Paths.get(created.toUri.getPath)))
    assert(fm.isLocal)
  }

  test("only a link-less filesystem falls back from link(2); other failures propagate") {
    import LocalCheckpointFileManager.noHardLinks
    assert(noHardLinks(new UnsupportedOperationException("links")))
    assert(noHardLinks(new FileSystemException("/c/.tmp", "/c/5", "Operation not permitted")))
    assert(noHardLinks(new FileSystemException("/c/.tmp", "/c/5", "Operation not supported")))
    assert(!noHardLinks(new AccessDeniedException("/c/.tmp", "/c/5", "Permission denied")))
    assert(!noHardLinks(new AccessDeniedException("/c/.tmp", "/c/5", "Operation not permitted")))
    assert(!noHardLinks(new FileSystemException("/c/.tmp", "/c/5", "Input/output error")))
    assert(!noHardLinks(new FileSystemException("/c/.tmp")))
    assert(!noHardLinks(new NoSuchFileException("/c/.tmp")))
    assert(!noHardLinks(new java.io.IOException("Operation not permitted")))
  }
}
