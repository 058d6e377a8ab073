package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.util.Base64

import javax.crypto.Cipher
import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.stream.{ChangeGen, GenConfig}

/** Input generation. Every input is a pure function of the seed: change
  * events come from [[ChangeGen]], envelopes and JWE encryption are
  * derived from each event's lsn. The program under test only ever sees
  * the parquet files written here. */
object Gen {
  // Reference JOSE fixtures (base64 JWK oct keys), the same pair the
  // engine's JoseDecrypt tests use. The decrypt stage is configured with
  // both, so key2 payloads exercise the try-next-key path.
  val joseKeys: Seq[String] = Seq(
    "eyJrdHkiOiJvY3QiLCJraWQiOiJIMmg1WHlIM0dPSHQ4Wm5vTndBOUFoay1FQlJ3cTQxTHo3U01pWDJDLVRJIiwiYWxnIjoiQTI1NkdDTSIsImsiOiJkR2tQRU41YUhaQnFocDY5TmpVWGpjTUJST1R4amZ6Yl9hYldVeUo2ajBBIn0=",
    "eyJrdHkiOiJvY3QiLCJraWQiOiJjbmVkYXRXNEg4SFA4VjFFSVQ3QjJsdHk0TXFsM3FKV3ZPUmk1MFZVdWZvIiwiYWxnIjoiQTI1NkdDTSIsImsiOiJjYmtncEtVZ1c0RFRaS2RkQzAwcHJTSjl5UnZGSGc3OTFOa0V6R2RLTFlZIn0=")

  /** Schema of the file-tailed binlog that `Pipeline.runFileStream` reads. */
  def eventSchema(spark: SparkSession): StructType =
    ChangeGen.events(spark, GenConfig(numEvents = 1)).schema

  private def b64url(b: Array[Byte]): String = Base64.getUrlEncoder.withoutPadding.encodeToString(b)

  /** Direct-mode A256GCM flattened JWE of `plain` under fixture key `k`,
    * IV derived from (seed, lsn). */
  def jwe(plain: String, k: Int, seed: Long, lsn: Long): String = {
    val jwk = new String(Base64.getDecoder.decode(joseKeys(k)), StandardCharsets.UTF_8)
    val kid = "\"kid\":\"([^\"]+)\"".r.findFirstMatchIn(jwk).get.group(1)
    val key = graft.smt.Jwe.keyFromBase64Jwk(joseKeys(k))
    val prot = b64url(s"""{"alg":"dir","enc":"A256GCM","kid":"$kid"}""".getBytes(StandardCharsets.UTF_8))
    val iv = new Array[Byte](12)
    new java.util.Random(seed * 1000003L + lsn).nextBytes(iv)
    val c = Cipher.getInstance("AES/GCM/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"), new GCMParameterSpec(128, iv))
    c.updateAAD(prot.getBytes(StandardCharsets.US_ASCII))
    val out = c.doFinal(plain.getBytes(StandardCharsets.UTF_8))
    val ct = java.util.Arrays.copyOfRange(out, 0, out.length - 16)
    val tag = java.util.Arrays.copyOfRange(out, out.length - 16, out.length)
    s"""{"protected":"$prot","iv":"${b64url(iv)}","ciphertext":"${b64url(ct)}","tag":"${b64url(tag)}"}"""
  }

  /** Deterministic uniform in [0,1) from (seed, lsn, tag). */
  def u(seed: Long, tag: String): Column =
    pmod(xxhash64(lit(seed), col("lsn"), lit(tag)), lit(1L << 40)).cast(DoubleType) / lit((1L << 40).toDouble)

  /** Plaintext events of the SMT workload: ChangeGen events flattened to
    * (doc_id, op, lsn, tokens, n_tok, source, lang). `lang` is the column
    * the source adds at `driftAt` (null before). */
  def smtPlain(spark: SparkSession, seed: Long, numDocs: Long, numEvents: Long, driftAt: Long): DataFrame = {
    val lang = element_at(array(lit("en"), lit("fr"), lit("de"), lit("es")),
      (pmod(xxhash64(lit(seed + 7), col("lsn")), lit(4L)) + 1).cast(IntegerType))
    Plain.flat(Plain.events(spark, seed, numDocs, 0, numEvents, 2.0, 0.05))
      .withColumn("lang", when(col("op") =!= "d" && col("lsn") >= driftAt, lang))
  }

  /** Debezium JSON envelope of a plaintext row; deletes carry their key in
    * `before`. `to_json` drops null fields, so pre-drift rows have no
    * `lang` and each op has only its own image. */
  def envelope(extra: Column*): Column = {
    val after = when(col("op") =!= "d", struct(Seq(col("doc_id"), col("tokens"), col("n_tok"), col("source"),
      col("lang")) ++ extra: _*))
    to_json(struct(col("op"), when(col("op") === "d", struct(col("doc_id"))).as("before"), after.as("after"),
      (lit(1700000000000L) + col("lsn")).as("ts_ms"),
      struct(col("lsn"), lit("public.documents").as("table")).as("source")))
  }

  /** Binlog rows: the record value (envelope text, a `jweShare` of it
    * JWE-encrypted) in the `metadata` column; everything else the stream
    * needs only as record offsets (`op`, `lsn`). The key and images are
    * left null so that the SMT chain is the only path to the payload. */
  def smtBinlog(spark: SparkSession, plain: DataFrame, seed: Long, jweShare: Double): DataFrame = {
    val enc = udf((s: String, k: Int, lsn: Long) => jwe(s, k, seed, lsn))
    val v = envelope()
    val keyIdx = (u(seed, "jwe-key") < 0.5).cast(IntegerType)
    val text = when(u(seed, "jwe") < jweShare, enc(v, keyIdx, col("lsn"))).otherwise(v)
    toEventSchema(spark, plain.select(col("op"), col("lsn"), text.as("metadata")))
  }

  /** Project any frame carrying some event columns onto the binlog schema
    * (absent columns null). */
  def toEventSchema(spark: SparkSession, df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    df.select(eventSchema(spark).fields.toSeq.map(f =>
      (if (have(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)): _*)
  }

  /** Write `df` as `files` parquet files per `chunk` value (0 until n),
    * rows spread over them by lsn, into `dir` as `chunk-%05d-%02d.parquet`
    * (a chunk's files are like the partitions of a topic). File mtimes
    * increase with the chunk number, so a file source taking `files` files
    * per trigger delivers one chunk per epoch, in chunk order. One job.
    * Returns each chunk's files. */
  def writeChunks(df: DataFrame, chunk: Column, dir: String, n: Int, files: Int = 1): Seq[Seq[String]] = {
    val tmp = s"$dir/_parts"
    df.withColumn("__chunk", chunk).withColumn("__file", pmod(col("lsn"), lit(files.toLong)))
      .repartition(col("__chunk"), col("__file"))
      .write.partitionBy("__chunk", "__file").parquet(tmp)
    val base = System.currentTimeMillis()
    val out = (0 until n).map { i =>
      (0 until files).map { j =>
        val part = new File(s"$tmp/__chunk=$i/__file=$j")
        val written = Option(part.listFiles()).getOrElse(Array.empty[File]).filter(_.getName.endsWith(".parquet"))
        require(written.length == 1, s"chunk $i file $j of $dir has ${written.length} files")
        val dst = new File(f"$dir/chunk-$i%05d-$j%02d.parquet")
        require(written.head.renameTo(dst), s"cannot move ${written.head} to $dst")
        dst.setLastModified(base + 1000L * i)
        dst.getPath
      }
    }
    Files.delete(new File(tmp))
    out
  }
}

/** Events straight from the generator, flattened to the oracle's
  * plaintext shape (doc_id, op, lsn, tokens, n_tok, source). */
object Plain {
  def events(spark: SparkSession, seed: Long, docs: Long, start: Long, n: Long,
             skew: Double, deletes: Double): DataFrame =
    ChangeGen.events(spark, GenConfig(numDocs = docs, numEvents = n, seed = seed, skew = skew,
      deleteRatio = deletes, startLsn = start, withMetadata = false))

  def flat(ev: DataFrame): DataFrame =
    ev.select(col("doc_id"), col("op"), col("lsn"), col("after.tokens").as("tokens"),
      col("after.n_tok").as("n_tok"), col("after.source").as("source"))
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  def copy(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).foreach(_.foreach(c => copy(c, new File(dst, c.getName))))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath): Unit
}
