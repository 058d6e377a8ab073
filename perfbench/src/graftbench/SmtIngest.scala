package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.schema.{InferOptions, SchemaRegistry}
import graft.smt.{JoseConfig, JoseDecrypt, JsonDeserialize, JsonDeserializeConfig}
import graft.smt.Stages.{TombstoneFilter, UnwrapDebezium}
import graft.stream.ChangeGen
import graft.table.IceLite

/** `smt_ingest`: Debezium JSON envelopes, a share of them JWE-encrypted,
  * through the full SMT chain into a COW table in two 40k-event epochs
  * (four times `live_tail`'s), then read back in full. The source adds a
  * top-level column half-way through the stream, and the oldest chunk is
  * delivered last (out of order), so the merge also meets stale rows. */
object SmtIngest {
  val Docs = 32000L
  val Events = 80000L
  val Chunks = 2
  /** Files per chunk: each epoch reads four files, as a sink task would
    * poll four topic partitions, so the chain's stages run a task per
    * core. */
  val ChunkFiles = 4
  val Buckets = 8
  val JweShare = 0.2

  final case class In(binlog: String, plain: String)

  def setup(spark: SparkSession, seed: Long, dir: String): In = {
    Gen.smtPlain(spark, seed, Docs, Events, driftAt = Events / 2).write.parquet(s"$dir/plain")
    val plain = spark.read.parquet(s"$dir/plain")
    // delivery position: chunk 0 (the oldest lsns) goes last
    val position = ((col("lsn") * Chunks / Events).cast("int") + (Chunks - 1)) % Chunks
    Gen.writeChunks(Gen.smtBinlog(spark, plain, seed, JweShare), position, s"$dir/binlog", Chunks, ChunkFiles)
    In(s"$dir/binlog", s"$dir/plain")
  }

  /** The chain a Kafka Connect sink would run: the record value as bytes
    * (converter), JOSE decrypt with skip-on-error and the two fixture
    * keys, bytes to text, JSON deserialize with schema union, envelope
    * fields to columns, Debezium unwrap, tombstone drop. */
  def chain(): (Seq[Stage], JsonDeserialize) = {
    val jd = new JsonDeserialize(JsonDeserializeConfig(Seq("value"), "documents",
      InferOptions(optionalStructFields = true)), new SchemaRegistry(true))
    (Seq(
      Stage("stream", "record", _.select(col("metadata").cast(BinaryType).as("value"))),
      Stage("smt", "jose-decrypt", JoseDecrypt(JoseConfig(Gen.joseKeys, skipOnError = true), "value")),
      Stage("smt", "string-converter", _.withColumn("value", col("value").cast(StringType))),
      Stage("schema", "json-deserialize", jd),
      Stage("smt", "envelope", _.select("value.*")),
      Stage("smt", "unwrap", UnwrapDebezium("doc_id")),
      Stage("smt", "tombstone-filter", TombstoneFilter())), jd)
  }

  def run(ctx: Ctx): mutable.Map[String, Any] = {
    val spark = ctx.spark
    val res = mutable.LinkedHashMap.empty[String, Any]
    val in = Main.setUp(ctx, res)(dir => setup(spark, ctx.seed, dir))
    val expected = Oracle.fold(spark.read.parquet(in.plain)).cache()
    val rows = ctx.phase("oracle")(expected.count())
    Main.loop(ctx, res, warmups = 1) { traced =>
      val it = new Iter(traced)
      val dir = ctx.freshDir("iter")
      val table = IceLite.create(spark, s"$dir/table", ChangeGen.payloadSchema, "doc_id", Buckets)
      val (stages, jd) = chain()
      Main.timed(ctx, traced) {
        val t0 = ctx.now
        Streams.run(ctx, in.binlog, ChunkFiles, table, s"$dir/ckpt", "ingest", stages, traced, it)
        it("ingest_s") = (ctx.now - t0) / 1000
        Streams.readBack(ctx, table, it)
        it("wall_s") = (ctx.now - t0) / 1000
      }
      it("attempted") = Events.toDouble
      it("scan_rows") = rows.toDouble
      it("schema_classes") = jd.registry.get("documents", "value").size.toDouble
      it("union_failures") = jd.unionFailures.get().toDouble
      Streams.commits(table, 0L, it)
      it("mismatch_rows") = ctx.phase("oracle")(Oracle.mismatches(table.read(), expected)).toDouble
      Files.delete(new java.io.File(dir))
      it
    }
    res("drift") = ctx.phase("drift")(DriftProbe.run(ctx))
    res
  }
}

/** Nested-drift probe (untimed): a small stream whose JSON payload gains
  * a nested field mid-stream (`meta{quality}` -> `meta{quality,
  * pipeline{version}}`) goes through the same chain into a COW and a MOR
  * table. Reports the epochs that failed; a failing epoch halts its
  * stream, so it and every later epoch count. */
object DriftProbe {
  val Events = 200L
  val Chunks = 2

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val dir = ctx.freshDir("drift")
    val base = Gen.smtPlain(spark, ctx.seed, 50, Events, driftAt = Long.MaxValue)
    val quality = round(Gen.u(ctx.seed, "quality") * 100, 2)
    val meta = struct(quality.as("quality"),
      when(col("lsn") >= Events / 2, struct(lit(2).as("version"))).as("pipeline"))
    val plain = base.withColumn("meta", meta)
    val binlog = Gen.toEventSchema(spark,
      plain.select(col("op"), col("lsn"), Gen.envelope(col("meta")).as("metadata")))
    Gen.writeChunks(binlog, (col("lsn") * Chunks / Events).cast("int"), s"$dir/binlog", Chunks)
    val results = Seq("cow", "mor").map { mode =>
      val it = new Iter(false)
      val table = IceLite.create(spark, s"$dir/$mode", ChangeGen.payloadSchema, "doc_id", 4,
        Map("write.mode" -> mode))
      Streams.run(ctx, s"$dir/binlog", 1, table, s"$dir/$mode-ckpt", "drift", SmtIngest.chain()._1,
        traced = false, it)
      mode -> it.m
    }
    Files.delete(new java.io.File(dir))
    val epochs = results.map(_._2.getOrElse("epochs", 0.0).asInstanceOf[Double]).sum
    val events = results.map(_._2.getOrElse("events", 0.0).asInstanceOf[Double]).sum
    Map(
      "epochs" -> Chunks * results.size,
      "failed_epochs" -> (Chunks * results.size - epochs),
      "events" -> Events * results.size,
      "failed_events" -> (Events * results.size - events),
      "errors" -> results.map { case (m, r) => m -> r.getOrElse("error", "") }.toMap)
  }
}
