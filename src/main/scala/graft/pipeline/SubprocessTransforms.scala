package graft.pipeline

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ArrayBlockingQueue

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders}

/** External-worker service transform — the engine's answer to the reference's
  * Python/gRPC transforms (extensions/python/src/main/java/com/hazelcast/jet/
  * python/PythonTransforms.java:47-55,88-96 and PythonService.java): Jet ships
  * string batches to external Python workers and maps each input to exactly one
  * output. Same contract here, Spark-shaped: ONE long-lived worker process per
  * PARTITION (the unit that scales with the cluster — 1000 executors run 1000
  * workers with zero coordination), a newline-delimited UTF-8 pipe protocol,
  * and a strict one-line-out-per-line-in ordering contract (Jet's
  * `transform_list(items) -> items` in the same order).
  *
  * Flow control: the task thread writes input lines and emits results; a
  * single reader thread drains worker stdout into a bounded queue. The task
  * thread only writes while the queue is empty (results are always preferred),
  * so the queue bounds buffered output at `queueCapacity` lines and the OS
  * pipes bound everything else — no deadlock, no unbounded buffering, for any
  * relative speed of worker vs consumer. stderr is drained concurrently (a
  * worker that logs cannot wedge the pipe) and its tail is attached to any
  * failure. Non-zero exit, short output, or excess output all fail the task
  * loudly rather than dropping rows.
  *
  * The protocol is line-based: input strings must not contain raw '\n' (encode
  * first — e.g. base64 or JSON-escape — exactly as any line-oriented worker
  * expects). This is the documented extension seam for model-scoring /
  * tokenizer sidecars where the JVM lacks the library: the worker can be
  * `python3 score.py`, a sed/jq one-liner, or a shim that forwards to a local
  * inference server.
  */
object SubprocessTransforms {

  /** Stage-transforming function, used Jet-style:
    * `stage.apply(SubprocessTransforms.mapUsingSubprocess(Seq("python3", "w.py")))`
    * (reference usage `stage.apply(mapUsingPythonBatch(cfg))`).
    */
  def mapUsingSubprocess(command: Seq[String], env: Map[String, String] = Map.empty)
      : BatchStage[String] => BatchStage[String] =
    stage => new BatchStage(
      stage.ds.mapPartitions(transformPartition(command, env))(Encoders.STRING))

  /** Column-wise form for schema'd frames, batch or STREAMING (mapPartitions is
    * a narrow streaming-supported op): rewrites `colName` through the worker,
    * preserving all other columns by the one-in-one-out ordering contract.
    */
  def transformColumn(df: DataFrame, colName: String, command: Seq[String],
                      env: Map[String, String] = Map.empty): DataFrame = {
    val schema = df.schema
    val idx = schema.fieldIndex(colName)
    require(schema(idx).dataType == org.apache.spark.sql.types.StringType,
      s"$colName must be STRING, is ${schema(idx).dataType}")
    df.mapPartitions { rows =>
      // stage the original rows in step with the worker: outputs arrive in
      // input order, so a small pending queue re-attaches each result to its
      // row without materializing the partition
      val pending = new java.util.ArrayDeque[org.apache.spark.sql.Row]()
      val texts = rows.map { r => pending.addLast(r); r.getString(idx) }
      transformPartition(command, env)(texts).map { out =>
        val r = pending.removeFirst()
        val vals = r.toSeq.updated(idx, out)
        org.apache.spark.sql.Row.fromSeq(vals)
      }
    }(Encoders.row(schema))
  }

  /** The per-partition engine: worker lifecycle + pipelined line exchange. */
  def transformPartition(command: Seq[String], env: Map[String, String])(
      in: Iterator[String]): Iterator[String] = {
    if (!in.hasNext) return Iterator.empty
    val pb = new ProcessBuilder(command: _*)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    // kill the worker if the task dies for any reason (Jet: PythonService
    // destroys its workers on job completion/failure)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
      if (proc.isAlive) proc.destroyForcibly(); ()
    })

    val stderrTail = new java.util.concurrent.atomic.AtomicReference[String]("")
    val errDrainer = new Thread(() => {
      val r = new BufferedReader(new InputStreamReader(proc.getErrorStream, UTF_8))
      val buf = new StringBuilder
      try {
        var line = r.readLine()
        while (line != null) {
          buf.append(line).append('\n')
          if (buf.length > 8192) buf.delete(0, buf.length - 8192)
          line = r.readLine()
        }
      } catch { case _: Throwable => } finally {
        stderrTail.set(buf.toString)
        try r.close() catch { case _: Throwable => }
      }
    }, "graft-subprocess-stderr")
    errDrainer.setDaemon(true)
    errDrainer.start()

    // reader thread: worker stdout -> bounded queue; EOF -> sentinel
    val EOF = new AnyRef
    val queue = new ArrayBlockingQueue[AnyRef](1024)
    val reader = new Thread(() => {
      val r = new BufferedReader(new InputStreamReader(proc.getInputStream, UTF_8))
      try {
        var line = r.readLine()
        while (line != null) { queue.put(line); line = r.readLine() }
      } catch { case _: Throwable => } finally {
        try queue.put(EOF) catch { case _: InterruptedException => }
        try r.close() catch { case _: Throwable => }
      }
    }, "graft-subprocess-stdout")
    reader.setDaemon(true)
    reader.start()

    val w = new BufferedWriter(new OutputStreamWriter(proc.getOutputStream, UTF_8))

    new Iterator[String] {
      private var written = 0L
      private var emitted = 0L
      private var stdinClosed = false
      private var eofSeen = false

      private def fail(msg: String): Nothing = {
        proc.destroyForcibly()
        throw new IllegalStateException(
          s"subprocess ${command.mkString(" ")}: $msg" +
            (if (stderrTail.get.nonEmpty) s"; stderr tail:\n${stderrTail.get}" else ""))
      }

      private def closeStdin(): Unit = if (!stdinClosed) {
        stdinClosed = true
        try { w.flush(); w.close() }
        catch { case _: java.io.IOException => /* worker exited early: surface via counts */ }
      }

      override def hasNext: Boolean = emitted < written || in.hasNext

      override def next(): String = {
        if (!hasNext) throw new NoSuchElementException
        var out: AnyRef = queue.poll()
        while (out == null) {
          if (in.hasNext) {
            // prefer draining results; queue empty -> feed the worker one line
            try { w.write(in.next()); w.newLine(); written += 1 }
            catch { case e: java.io.IOException =>
              fail(s"worker closed stdin after $written lines (${e.getMessage})") }
            out = queue.poll()
          } else {
            closeStdin() // all input delivered; block for the remaining output
            out = queue.take()
          }
        }
        if (out eq EOF) {
          eofSeen = true
          errDrainer.join(2000)
          val code = proc.waitFor()
          if (code != 0) fail(s"exit code $code after $emitted/$written lines")
          fail(s"produced $emitted lines for $written inputs (short output)")
        }
        emitted += 1
        val s = out.asInstanceOf[String]
        if (emitted == written && !in.hasNext) verifyDone()
        s
      }

      /** After the last expected line: worker must emit EOF next (no excess). */
      private def verifyDone(): Unit = {
        closeStdin()
        val nxt = queue.take()
        if (!(nxt eq EOF)) fail(s"produced more than $written output lines (excess output)")
        eofSeen = true
        errDrainer.join(2000)
        val code = proc.waitFor()
        if (code != 0) fail(s"exit code $code")
      }
    }
  }
}
