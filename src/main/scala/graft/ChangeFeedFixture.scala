package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The change feed the TxTable lanes share, written once: the seed
  * snapshot, changesets A and B over it, the stream schema of a
  * changeset and the `event_id % 7` aggregate the stream-merge oracle
  * (`DataOpsOracles.streamMerge`) reads. The oracles replay the same
  * definitions in SQL. Lanes keep their own file layouts (a 3-way
  * bucket split, bucket-clustered files) and build their variants from
  * these frames with column order kept. */
private[graft] object ChangeFeedFixture {

  private def pbucket: Column = (col("event_id") % 8).as("pbucket")

  /** The seed snapshot: (event_id, value, pbucket) over even ids. */
  def seed(ev: DataFrame): DataFrame =
    ev.where(col("event_id") % 2 === 0).select(col("event_id"), col("value"), pbucket)

  /** Changeset A over ids divisible by 3: odd ids insert, multiples of
    * 12 delete, the rest update; changed values are value + 500. */
  def changesA(ev: DataFrame): DataFrame =
    ev.where(col("event_id") % 3 === 0)
      .select(col("event_id"),
        when(col("event_id") % 2 =!= 0, "insert")
          .when(col("event_id") % 12 === 0, "delete")
          .otherwise("update").as("op"),
        (col("value") + 500).as("value"), pbucket)

  /** Changeset B over ids divisible by 5, applied after A: ids odd and
    * not divisible by 3 insert, multiples of 20 delete, the rest
    * update; changed values are value + 900. */
  def changesB(ev: DataFrame): DataFrame =
    ev.where(col("event_id") % 5 === 0)
      .select(col("event_id"),
        when(col("event_id") % 2 =!= 0 && col("event_id") % 3 =!= 0, "insert")
          .when(col("event_id") % 20 === 0, "delete")
          .otherwise("update").as("op"),
        (col("value") + 900).as("value"), pbucket)

  /** The schema a stream reads changeset files with. */
  val changeSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("op", StringType),
    StructField("value", DoubleType), StructField("pbucket", LongType)))

  /** The seed as version 1 of `table`, A merged as version 2, B as 3. */
  def commitChain(s: SparkSession, table: String, ev: DataFrame): Unit = {
    graft.ext.TxTable.commitReplace(s, table, seed(ev), Some("pbucket"))
    graft.ext.TxTable.mergeChangeSet(s, table, changesA(ev), "event_id", "op", "pbucket")
    graft.ext.TxTable.mergeChangeSet(s, table, changesB(ev), "event_id", "op", "pbucket")
  }

  /** (k = event_id % 7, n, value_sum), value summed exactly. */
  def bySeven(df: DataFrame): DataFrame =
    df.groupBy((col("event_id") % 7).as("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("value_sum"))
}
