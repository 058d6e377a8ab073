package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Independent correctness oracle: a window-function last-write-wins fold
  * over the plaintext events the generator kept at set-up. It shares no
  * code with the engine's merge or read paths. */
object Oracle {

  /** Live rows after folding `events` (doc_id, op, lsn, payload...):
    * the max-lsn event per key, dropped when it is a delete. */
  def fold(events: DataFrame): DataFrame =
    events
      .withColumn("__rn", row_number().over(Window.partitionBy("doc_id").orderBy(col("lsn").desc)))
      .filter(col("__rn") === 1 && col("op") =!= "d")
      .drop("__rn", "op", "lsn")

  /** Rows of the symmetric difference between `actual` and `expected`,
    * as multisets of rows of `expected`'s columns, compared after casting
    * the expected side to the table's evolved types. A key whose payload
    * differs counts twice (one row missing, one extra), and a row the
    * table holds twice counts once, which a join on the key would miss.
    * Both sides are tens of thousands of rows, collected to the driver. */
  def mismatches(actual: DataFrame, expected: DataFrame): Long = {
    val cols = expected.columns.toSeq
    val want = expected.select(cols.map(c => col(c).cast(actual.schema(c).dataType)): _*).collect()
    val got = actual.select(cols.map(col): _*).collect()
    val n = mutable.HashMap.empty[Row, Long]
    got.foreach(r => n(r) = n.getOrElse(r, 0L) + 1)
    want.foreach(r => n(r) = n.getOrElse(r, 0L) - 1)
    n.valuesIterator.map(math.abs).sum
  }

  /** Expected change feed per epoch of a tail: for each (key, epoch) the
    * epoch's last event against the key's state after the previous epoch
    * it appeared in (preload events are epoch -1). Rows: (epoch, doc_id,
    * change_op, lsn, n_tok); lsn and n_tok are null for deletes. */
  def feed(events: DataFrame, tailStart: Long, epochSize: Long): DataFrame = {
    val epoch = when(col("lsn") < tailStart, lit(-1L))
      .otherwise(floor((col("lsn") - tailStart) / epochSize).cast("long"))
    val last = events.withColumn("epoch", epoch)
      .withColumn("__rn", row_number().over(Window.partitionBy("doc_id", "epoch").orderBy(col("lsn").desc)))
      .filter(col("__rn") === 1)
      .withColumn("live", col("op") =!= "d")
      .withColumn("prev", coalesce(lag(col("live"), 1).over(Window.partitionBy("doc_id").orderBy("epoch")),
        lit(false)))
    last.filter(col("epoch") >= 0)
      .select(col("epoch"), col("doc_id"),
        when(!col("prev") && col("live"), "insert")
          .when(col("prev") && col("live"), "update")
          .when(col("prev") && !col("live"), "delete").as("change_op"),
        when(col("live"), col("lsn")).as("lsn"),
        when(col("live"), col("n_tok").cast("long")).as("n_tok"))
      .filter(col("change_op").isNotNull)
  }
}
