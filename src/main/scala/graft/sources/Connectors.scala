package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Connector surface mirroring the reference's external I/O
  * (SURVEY.md §2.1), kept thin over Spark's own readers/writers. The
  * zero-egress build can't reach a MySQL/Kafka/Hive endpoint, so
  * network connectors are configuration builders (exercised for SQL
  * generation and config shape in tests); the file-based equivalents
  * run for real.
  */
object Connectors {

  // ------------------------------------------------------------- JDBC

  /** Batch JDBC source (`doc/temp.md:446-453`,
    * `doc/Cumulative.java:37-44`). Unlike the reference (single-task
    * full-table read), a partitioned read is REQUIRED here: at any
    * real size an unpartitioned JDBC scan is one task on one
    * connection.
    */
  def jdbcSource(spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, user: String, password: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .option("user", user)
      .option("password", password)
      .load()

  /** Batch JDBC sink, append/overwrite (`doc/temp.md:477-485`,
    * `doc/Cumulative.java:84-90`).
    */
  def jdbcSink(df: DataFrame, url: String, table: String, mode: SaveMode,
      props: Properties): Unit =
    df.write.mode(mode).jdbc(url, table, props)

  /** MySQL upsert statement for a keyed result table — the SQL the
    * production `foreachBatch` JDBC upsert executes per row batch
    * (`INSERT ... ON DUPLICATE KEY UPDATE`, the MySQL equivalent of
    * the Flink sink's PK upsert, `doc/temp.md:317-329`).
    */
  def mysqlUpsertSql(table: String, columns: Seq[String], keyCols: Seq[String]): String = {
    require(columns.nonEmpty && keyCols.forall(columns.contains))
    val collist = columns.mkString("(", ", ", ")")
    val placeholders = columns.map(_ => "?").mkString("(", ", ", ")")
    val updates = columns.filterNot(keyCols.contains)
      .map(c => s"$c = VALUES($c)").mkString(", ")
    s"INSERT INTO $table $collist VALUES $placeholders" +
      (if (updates.nonEmpty) s" ON DUPLICATE KEY UPDATE $updates" else "")
  }

  /** ANSI SQL type for a Spark column type — for generated DDL/DML
    * against the embedded (Derby) and MySQL upsert endpoints.
    */
  def sqlTypeFor(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType => "SMALLINT"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case StringType => "VARCHAR(4096)"
    case other => throw new IllegalArgumentException(
      s"no JDBC mapping for ${other.simpleString}")
  }

  /** DDL for a keyed result table — the reference's MySQL result
    * tables declare `PRIMARY KEY` per query (`doc/temp.md:317-371`);
    * the PK is what turns INSERT semantics into upsert semantics.
    */
  def createTableSql(table: String, schema: StructType, keyCols: Seq[String]): String = {
    require(keyCols.nonEmpty && keyCols.forall(schema.fieldNames.contains))
    val cols = schema.fields.map { f =>
      val notNull = if (keyCols.contains(f.name)) " NOT NULL" else ""
      s"${f.name} ${sqlTypeFor(f.dataType)}$notNull"
    }
    s"CREATE TABLE $table (${cols.mkString(", ")}, " +
      s"PRIMARY KEY (${keyCols.mkString(", ")}))"
  }

  /** Keyed UPDATE — first leg of the portable (Derby-executable)
    * upsert: parameters bind non-key columns first, then key columns.
    */
  def updateSql(table: String, columns: Seq[String], keyCols: Seq[String]): String = {
    val sets = columns.filterNot(keyCols.contains).map(c => s"$c = ?")
    require(sets.nonEmpty, "update needs at least one non-key column")
    s"UPDATE $table SET ${sets.mkString(", ")} " +
      s"WHERE ${keyCols.map(c => s"$c = ?").mkString(" AND ")}"
  }

  /** Plain INSERT — second leg of the portable upsert (applied to the
    * keys the UPDATE missed).
    */
  def insertSql(table: String, columns: Seq[String]): String =
    s"INSERT INTO $table ${columns.mkString("(", ", ", ")")} " +
      s"VALUES ${columns.map(_ => "?").mkString("(", ", ", ")")}"

  // ------------------------------------------------------------ Kafka

  /** Kafka streaming source (`doc/temp.md:293-312`): value bytes →
    * JSON decode with the declared schema. The returned builder is
    * ready to `.load()` where a broker exists; offline tests use
    * [[graft.gen.OrderGen.decodeJson]] on any DataFrame with a
    * `value` column.
    *
    * Live-broker status: this sandbox ships neither the
    * `spark-sql-kafka` connector jar nor a broker (zero egress), so
    * `.load()` here cannot execute offline — the strongest executable
    * pin is ConnectorsSpec's "kafka wire SCHEMA" test, which streams
    * micro-batches carrying the connector's exact output relation
    * (binary key/value, topic, partition, offset, timestamp,
    * timestampType) through the same `select(value)` →
    * [[graft.gen.OrderGen.decodeJson]] chain [[wireStream]]'s kafka
    * case uses after `.load()`. A deployment adds the connector jar
    * and broker coordinates; no code changes.
    */
  def kafkaSourceReader(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "earliest") =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)

  /** Configured wire source — the single point where deployment shape
    * enters the consume chain. Every variant presents the wire as a
    * `value` column (Kafka: the record's binary value; a text-file
    * queue of JSON lines: the line — the zero-egress stand-in), so a
    * live broker differs from the offline e2e by CONFIG ONLY, never
    * by code path.
    *
    * cfg: `format` = "kafka" (default) | "text";
    * kafka → `kafka.bootstrap.servers`, `subscribe`, optional
    * `startingOffsets`; text → `path`.
    */
  def wireStream(spark: SparkSession, cfg: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    cfg.getOrElse("format", "kafka") match {
      case "kafka" =>
        kafkaSourceReader(spark, cfg("kafka.bootstrap.servers"),
          cfg("subscribe"), cfg.getOrElse("startingOffsets", "earliest"))
          .load().select(col("value"))
      case "text" =>
        spark.readStream.format("text").load(cfg("path")).select(col("value"))
      case other =>
        throw new IllegalArgumentException(s"unknown wire format: $other")
    }
  }

  /** The whole consumer entry — [[wireStream]] (config-selected
    * source) composed with [[graft.gen.OrderGen.decodeJson]]
    * (declared decode + event-time column). No watermark: the
    * event-time queries ([[graft.streaming.StreamingQueries]] Q1/Q2)
    * declare their own, and Spark rejects a redefined watermark when
    * the query starts. StreamingSpec's e2e runs THIS with
    * `format=text`; a production deployment passes broker
    * coordinates and nothing else changes.
    */
  def consumeOrders(spark: SparkSession, cfg: Map[String, String]): DataFrame =
    graft.gen.OrderGen.decodeJson(wireStream(spark, cfg))

  // ---------------------------------------------------- Hive-style ORC

  /** Bucketed ORC table at rest — the reference's Hive fact table
    * (`clustered by(order_id) into 2 buckets stored as orc`,
    * `doc/temp.md:636-651`) minus ACID (Spark checkpointing provides
    * the delivery guarantee instead, SURVEY.md §3.3). Bucketing
    * pre-shuffles by key at write time so later joins/aggs on
    * `order_id` skip their exchange.
    */
  def writeBucketedOrc(df: DataFrame, table: String, bucketCol: String,
      buckets: Int = 2): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("orc")
      .saveAsTable(table)
}
