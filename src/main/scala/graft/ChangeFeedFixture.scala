package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The change feed the TxTable lanes share, written once per engine:
  * the seed snapshot, changesets A and B over it, the stream schema of
  * a changeset, the `event_id % 7` aggregate the stream-merge oracle
  * (`DataOpsOracles.streamMerge`) reads and the per-version read-back.
  * The oracle side is here too: [[replayA]] and [[replayAB]] replay the
  * same definitions as DuckDB CTEs and [[perVersionSql]] mirrors
  * [[perVersion]]. Lanes keep their own file layouts (a 3-way bucket
  * split, bucket-clustered files) and build their variants from these
  * frames with column order kept. */
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
      .agg(count(lit(1)).as("n"), QueryUtil.dsum(col("value")).as("value_sum"))

  /** (version, bucket = event_id % 10, n, value_sum) of `table` at each
    * of `versions`, every read time-travelling from the latest log
    * state; unioned and ordered by (version, bucket). */
  def perVersion(s: SparkSession, table: String, versions: Seq[Int]): DataFrame =
    versions.map { v =>
      graft.ext.TxTable.read(s, table, versionAsOf = Some(v.toLong))
        .groupBy((col("event_id") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), QueryUtil.dsum(col("value")).as("value_sum"))
        .withColumn("version", lit(v))
    }.reduce(_ unionByName _)
      .select("version", "bucket", "n", "value_sum")
      .orderBy("version", "bucket")

  /** DuckDB CTEs replaying the seed and changeset A: `s1` the seed,
    * `ca` the changeset, `s2` the merge (values only, no `pbucket`). */
  val replayA: String =
    """s1 AS (SELECT event_id, value FROM events WHERE event_id % 2 = 0),
      |ca AS (SELECT event_id,
      |    CASE WHEN event_id % 2 <> 0 THEN 'insert'
      |      WHEN event_id % 12 = 0 THEN 'delete'
      |      ELSE 'update' END AS op,
      |    value + 500 AS value
      |  FROM events WHERE event_id % 3 = 0),
      |s2 AS (
      |  SELECT s1.event_id, s1.value FROM s1
      |  LEFT JOIN ca ON s1.event_id = ca.event_id AND ca.op IN ('update', 'delete')
      |  WHERE ca.event_id IS NULL
      |  UNION ALL
      |  SELECT event_id, value FROM ca WHERE op IN ('insert', 'update'))""".stripMargin

  /** [[replayA]], then `cb` changeset B and `s3` its merge: the DuckDB
    * replay of [[commitChain]], `sN` the content of version N. */
  val replayAB: String =
    replayA + """,
      |cb AS (SELECT event_id,
      |    CASE WHEN event_id % 2 <> 0 AND event_id % 3 <> 0 THEN 'insert'
      |      WHEN event_id % 20 = 0 THEN 'delete'
      |      ELSE 'update' END AS op,
      |    value + 900 AS value
      |  FROM events WHERE event_id % 5 = 0),
      |s3 AS (
      |  SELECT s2.event_id, s2.value FROM s2
      |  LEFT JOIN cb ON s2.event_id = cb.event_id AND cb.op IN ('update', 'delete')
      |  WHERE cb.event_id IS NULL
      |  UNION ALL
      |  SELECT event_id, value FROM cb WHERE op IN ('insert', 'update'))""".stripMargin

  /** `WITH ctes` ahead of `body`, which either goes on with more CTEs
    * or is the main SELECT. */
  def withCtes(ctes: String, body: String): String = {
    val sep = if (body.startsWith("SELECT")) "\n" else ",\n"
    s"WITH $ctes$sep$body"
  }

  /** The oracle side of [[perVersion]]: one CTE `aN` per (version N,
    * source relation) pair, then their union ordered by (version,
    * bucket). A source may carry its own WHERE. */
  def perVersionSql(sources: (Int, String)*): String = {
    val ctes = sources.map { case (v, src) =>
      s"""a$v AS (SELECT $v AS version, CAST(event_id % 10 AS BIGINT) AS bucket,
         |    count(*) AS n,
         |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
         |  FROM $src GROUP BY 2)""".stripMargin
    }
    val union = sources.map { case (v, _) => s"SELECT * FROM a$v" }.mkString(" UNION ALL ")
    ctes.mkString(",\n") +
      s"\nSELECT version, bucket, n, value_sum FROM (\n  $union)\nORDER BY version, bucket"
  }
}
