package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.stream.Pipeline
import graft.table.IceLiteTable

/** A stage handed to `Pipeline.runFileStream`, tagged with its layer. */
final case class Stage(layer: String, name: String, f: DataFrame => DataFrame)

/** Traced wrapping of a stage chain for one query: each stage runs in its
  * own span and its output is materialized at the span boundary. The
  * merge `runFileStream` runs after the chain is inside the engine, so its
  * span is closed from the query's progress: it starts when the last stage
  * returns and ends when the batch's `addBatch` phase ends. */
final class StreamTrace(tr: Tracer, stages: Seq[Stage]) {
  private val epochStart = mutable.ArrayBuffer.empty[Double]
  private val chainEnd = mutable.ArrayBuffer.empty[Double]
  private val epochIds = mutable.ArrayBuffer.empty[Long]
  private val caches = mutable.ArrayBuffer.empty[DataFrame]
  private var parent = -1
  /** Call time of each stage without its materialization, ms. */
  val callMs = mutable.LinkedHashMap.empty[String, Double]

  private def release(): Unit = { caches.foreach(_.unpersist()); caches.clear() }

  def wrapped: Seq[DataFrame => DataFrame] = stages.zipWithIndex.map { case (s, i) =>
    (df: DataFrame) => {
      if (i == 0) {
        release()
        tr.epoch += 1
        epochIds += tr.epoch
        epochStart += tr.nowMs
        parent = tr.currentSpan
      }
      val out = tr.span(s.layer, s.name) {
        val t0 = tr.nowMs
        val lazyOut = s.f(df)
        callMs(s.name) = callMs.getOrElse(s.name, 0.0) + (tr.nowMs - t0)
        tr.materialize(lazyOut)
      }
      caches += out
      if (i == stages.size - 1) {
        chainEnd += tr.nowMs
        tr.label("merge", "merge")
      }
      out
    }
  }

  def finish(progress: Seq[StreamingQueryProgress]): Unit = {
    release()
    progress.zip(epochStart.zip(chainEnd).zip(epochIds)).foreach { case (p, ((start, end), e)) =>
      val batchEnd = start + p.durationMs.get("addBatch").doubleValue()
      tr.add(Span(tr.newId(), parent, "merge", "merge", e, end, math.max(end, batchEnd)))
    }
  }
}

object Streams {

  /** Run `Pipeline.runFileStream` over `src`, `files` files an epoch, to
    * the end of its input and record, in
    * `it`, the per-epoch latencies (`epoch_ms`, from the query progress),
    * the events of completed epochs and, if an epoch threw, the error. An
    * epoch that throws halts the stream, as it would a sink task. */
  def run(ctx: Ctx, src: String, files: Int, table: IceLiteTable, ckpt: String, streamId: String,
          stages: Seq[Stage], traced: Boolean, it: Iter): Unit = {
    val tr = ctx.tracer
    val st = if (traced) Some(new StreamTrace(tr, stages)) else None
    var q: StreamingQuery = null
    val err =
      try {
        tr.span("stream", s"runFileStream:$streamId") {
          q = Pipeline.runFileStream(ctx.spark, src, table, ckpt, streamId,
            st.map(_.wrapped).getOrElse(stages.map(_.f)), maxFilesPerTrigger = files)
          q.awaitTermination()
        }
        None
      } catch { case e: Throwable => Some(e) }
    // The stream thread submits its jobs under the query's run id.
    Option(q).foreach(q => it.push("ingest_groups", q.runId.toString))
    val progress = Option(q).map(_.recentProgress.toSeq).getOrElse(Nil)
      .filter(_.durationMs.containsKey("addBatch"))
    st.foreach { s =>
      s.finish(progress)
      s.callMs.foreach { case (k, v) => add(it, s"call_ms.$k", v) }
    }
    append(it, "epoch_ms", progress.map(_.durationMs.get("triggerExecution").doubleValue()))
    add(it, "epochs", progress.size.toDouble)
    add(it, "events", progress.map(_.numInputRows).sum.toDouble)
    err.foreach(e => it("error") = rootMessage(e))
  }

  def rootMessage(e: Throwable): String = {
    var c = e
    while (c.getCause != null) c = c.getCause
    s"${c.getClass.getSimpleName}: ${Option(c.getMessage).getOrElse("").split("\n").head}"
  }

  def add(it: Iter, k: String, v: Double): Unit =
    it(k) = it.m.get(k).map(_.asInstanceOf[Double]).getOrElse(0.0) + v

  def append(it: Iter, k: String, v: Seq[Double]): Unit =
    it(k) = it.m.get(k).map(_.asInstanceOf[List[Double]]).getOrElse(Nil) ++ v

  /** Eight full scans of the table through the DSv2 connector and one
    * through the native `read()`; every row and column is produced (noop
    * sink). Records `scan_ms` (DSv2) and `native_read_ms`. A scan is short
    * (about 0.2 s) and a GC pause can land in any of them, so the median
    * needs many. */
  def readBack(ctx: Ctx, table: IceLiteTable, it: Iter): Unit = {
    val tr = ctx.tracer
    append(it, "scan_ms", (1 to 8).map { _ =>
      val t0 = ctx.now
      tr.span("sources", "dsv2-scan") {
        ctx.spark.read.format("icelite").load(table.root).write.format("noop").mode("overwrite").save()
      }
      ctx.now - t0
    })
    val t0 = ctx.now
    tr.span("table", "native-read") { table.read().write.format("noop").mode("overwrite").save() }
    it("native_read_ms") = ctx.now - t0
  }

  /** Commit counters and data-file bytes added by versions after `from`:
    * the `CommitStats` each merge stored in its snapshot, the on-disk
    * size of every file a version added, and the rows of every file a
    * version replaced (what a copy-on-write merge or a compaction read
    * back from the table). */
  def commits(table: IceLiteTable, from: Long, it: Iter): Unit = {
    val to = table.snapshot.version
    var prev = table.snapshotAt(from).files.map(f => f.path -> f.rows).toMap
    (from + 1 to to).foreach { v =>
      val s = table.snapshotAt(v)
      s.stats.foreach { c =>
        add(it, "inserted", c.inserted.toDouble)
        add(it, "updated", c.updated.toDouble)
        add(it, "deleted", c.deleted.toDouble)
        add(it, "carried", c.carried.toDouble)
        add(it, "stale", c.stale.toDouble)
        add(it, "rewritten_files", c.rewrittenFiles.toDouble)
        add(it, "touched_buckets", c.touchedBuckets.toDouble)
      }
      val files = s.files.map(f => f.path -> f.rows).toMap
      add(it, "bytes_added", (files.keySet -- prev.keySet).toSeq
        .map(p => new File(s"${table.root}/$p").length().toDouble).sum)
      add(it, "rows_replaced", (prev -- files.keySet).values.sum.toDouble)
      prev = files
    }
    it("versions") = to.toDouble
  }
}
