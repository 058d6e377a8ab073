package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.stream.ChangeGen
import graft.table.IceLite

/** `live_tail`: a closed loop of small fixed-size epochs into a preloaded
  * MOR table, shaped like a Kafka Connect sink task (poll -> put ->
  * commit). After each merge it looks up keys it just wrote and reads the
  * epoch back through the DSv2 change feed from the previous version. One
  * client, no think time: the next epoch is polled when the previous
  * epoch's reads return. An iteration replays the same `Epochs` epochs on
  * a fresh copy of the preloaded table, so every iteration does the same
  * work however many of them a run fits. */
object LiveTail {
  val Docs = 10000L
  val Preload = 20000L
  val EpochSize = 10000L
  val Epochs = 3
  val Buckets = 8
  val LookupKeys = 20

  final case class In(chunks: Seq[Seq[String]], template: String, plain: String)

  def setup(spark: SparkSession, seed: Long, dir: String): In = {
    val preload = Plain.events(spark, seed, Docs, 0, Preload, 1.0, 0.0)
    IceLite.create(spark, s"$dir/template", ChangeGen.payloadSchema, "doc_id", Buckets,
      Map("write.mode" -> "mor")).merge(preload, "preload/0")
    val tail = Plain.events(spark, seed, Docs, Preload, Epochs * EpochSize, 2.0, 0.05)
    val chunks = Gen.writeChunks(tail, epochOf(col("lsn")), s"$dir/binlog", Epochs)
    Plain.flat(preload.union(tail)).write.parquet(s"$dir/plain")
    In(chunks, s"$dir/template", s"$dir/plain")
  }

  private def epochOf(lsn: Column): Column = ((lsn - Preload) / EpochSize).cast("int")

  /** What the oracle expects each epoch to show. */
  final case class Expect(keys: Map[Int, Seq[String]], feed: Map[Int, Set[Seq[Any]]],
                          lookups: Map[Int, Set[Seq[Any]]], state: DataFrame)

  def expect(spark: SparkSession, in: In): Expect = {
    val events = spark.read.parquet(in.plain)
    // Lookup keys: per epoch, the first keys (by lsn) the epoch upserts.
    val asked = events.filter(col("lsn") >= Preload && col("op") =!= "d")
      .groupBy(epochOf(col("lsn")).as("epoch"), col("doc_id")).agg(min("lsn").as("first"))
      .withColumn("rank", row_number().over(Window.partitionBy("epoch").orderBy("first")))
      .filter(col("rank") <= LookupKeys)
      .select("epoch", "doc_id")
    val keys = asked.collect().groupBy(_.getInt(0)).map { case (e, rs) => e -> rs.map(_.getString(1)).toSeq }
    // Expected lookup rows: each asked key's live state after its epoch.
    val lookups = asked.join(events, Seq("doc_id"))
      .filter(col("lsn") < lit(Preload) + (col("epoch") + 1) * EpochSize)
      .withColumn("rn", row_number().over(Window.partitionBy("epoch", "doc_id").orderBy(col("lsn").desc)))
      .filter(col("rn") === 1 && col("op") =!= "d")
      .select(col("epoch"), col("doc_id"), col("n_tok").cast("long"))
    val feed = Oracle.feed(events, Preload, EpochSize).select("epoch", "doc_id", "change_op", "lsn", "n_tok")
    Expect(keys, byEpoch(feed.collect()), byEpoch(lookups.collect()), Oracle.fold(events).cache())
  }

  /** Rows keyed by their leading epoch column, as value sequences. */
  private def byEpoch(rows: Array[Row]): Map[Int, Set[Seq[Any]]] =
    rows.groupBy(_.get(0).toString.toInt).map { case (e, rs) => e -> rs.map(r => normalize(r.toSeq.tail)).toSet }

  private def normalize(vs: Seq[Any]): Seq[Any] = vs.map {
    case n: java.lang.Number => n.longValue()
    case v => v
  }

  private def diff(a: Set[Seq[Any]], b: Set[Seq[Any]]): Long = ((a -- b).size + (b -- a).size).toLong

  def run(ctx: Ctx): mutable.Map[String, Any] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val res = mutable.LinkedHashMap.empty[String, Any]
    val in = Main.setUp(ctx, res)(dir => setup(spark, ctx.seed, dir))
    val ex = ctx.phase("oracle")(expect(spark, in))
    val schema = Gen.eventSchema(spark)
    Main.loop(ctx, res, warmups = 1) { traced =>
      val it = new Iter(traced)
      val dir = ctx.freshDir("iter")
      Files.copy(new File(in.template), new File(s"$dir/table"))
      val table = IceLite.load(spark, s"$dir/table")
      val v0 = table.snapshot.version
      var mismatch = 0L
      (0 until Epochs).foreach { i =>
        tr.epoch = i
        val (found, changes) = Main.timed(ctx, traced) {
          val t0 = ctx.now
          val prev = tr.span("table", "snapshot")(table.snapshot.version)
          Streams.append(it, "snapshot_ms", Seq(ctx.now - t0))
          val t1 = ctx.now
          val batch = ctx.ingest(it, traced) {
            val batch = tr.span("stream", "poll") {
              val df = spark.read.schema(schema).parquet(in.chunks(i): _*)
              if (traced) tr.materialize(df) else df
            }
            tr.span("merge", "put")(table.merge(batch, s"tail/$i"))
            batch
          }
          val t2 = ctx.now
          if (traced) batch.unpersist()
          val found = tr.span("table", "lookup")(table.lookup(ex.keys(i)).select("doc_id", "n_tok").collect())
          val t3 = ctx.now
          val changes = tr.span("sources", "change-feed") {
            spark.read.format("icelite").option("changeFeed", "true").option("startingVersion", prev)
              .load(table.root).select("doc_id", "change_op", "lsn", "n_tok").collect()
          }
          val t4 = ctx.now
          Streams.append(it, "epoch_ms", Seq(t2 - t1))
          Streams.append(it, "lookup_ms", Seq(t3 - t2))
          Streams.append(it, "feed_ms", Seq(t4 - t3))
          Streams.append(it, "read_ms", Seq(t4 - t2))
          Streams.add(it, "ingest_s", (t2 - t1) / 1000)
          Streams.add(it, "wall_s", (t4 - t0) / 1000)
          (found, changes)
        }
        Streams.add(it, "feed_rows", changes.length.toDouble)
        // A delete's lsn is the tombstone's; only upserts compare lsn and payload.
        val feedRows = changes.map { r =>
          val live = r.getString(1) != "delete"
          normalize(Seq(r.get(0), r.get(1), if (live) r.get(2) else null, if (live) r.get(3) else null))
        }.toSet
        mismatch += diff(feedRows, ex.feed.getOrElse(i, Set.empty))
        mismatch += diff(found.map(r => normalize(r.toSeq)).toSet, ex.lookups.getOrElse(i, Set.empty))
      }
      it("events") = (Epochs * EpochSize).toDouble
      it("attempted") = (Epochs * EpochSize).toDouble
      Streams.commits(table, v0, it)
      it("mismatch_rows") = (mismatch + ctx.phase("oracle")(Oracle.mismatches(table.read(), ex.state))).toDouble
      Files.delete(new File(dir))
      it
    }
    res
  }
}
