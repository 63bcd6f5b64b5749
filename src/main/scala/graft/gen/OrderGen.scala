package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GEN — the reference's synthetic order generator re-expressed as a
  * distributed, deterministic, closed-form columnar pipeline.
  *
  * Reference (`code/project/entryTask/src/main/entryTask/__init__.py:13-25`,
  * `datagenkafka.py:9-33`): an infinite Python loop emitting one JSON
  * order every 3–10 s to Kafka. Here the same value distributions are
  * derived from `spark.range(n)` — every column is a pure function of
  * the row index and a seed, so the output is identical regardless of
  * partitioning/executor count, and generation parallelizes linearly
  * (no sequential RNG state, unlike the reference's loop).
  *
  * Field rules (FIXTURES.md §A):
  *  - `order_id`: unique 15-digit id — an affine bijection
  *    `(a·i + b) mod M` over the 9·10¹⁴ id space (gcd(a, M) = 1 makes
  *    it injective: random-looking AND collision-free, which a raw
  *    hash cannot guarantee).
  *  - `user_id`/`amount`/`channel_id`: uniform via xxhash64(i, field, seed).
  *  - `order_time`: epoch seconds, base + 3·i + jitter(0..7) —
  *    monotone with 3–10 s inter-arrival spacing like the reference's
  *    `sleep(randint(3,10))`, but order-independent (no cumulative
  *    state ⇒ no single-partition window scan at 100 TB).
  */
object OrderGen {

  /** 2024-01-01 00:00:00 UTC, matching the fixture epoch. */
  val BaseEpoch: Long = 1704067200L

  private val M = 900000000000000L // 15-digit id space
  private val A = 1000000007L      // prime, coprime with M = 2^14·3^2·5^14

  def orders(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    val i = col("id")
    def h(field: String) = xxhash64(i, lit(field), lit(seed))
    spark.range(0, n)
      .select(
        (lit(100000000000000L) + pmod(i * lit(A) + lit(seed), lit(M))).as("order_id"),
        (lit(1L) + pmod(h("user_id"), lit(5000L))).as("user_id"),
        lit("beijing").as("order_tz"),
        (lit(1L) + pmod(h("amount"), lit(10000L))).as("amount"),
        lit("rmb").as("currency"),
        pmod(h("channel_id"), lit(201L)).as("channel_id"),
        (lit(BaseEpoch) + i * lit(3L) + pmod(h("jitter"), lit(8L))).as("order_time"))
  }

  /** The JSON wire form (reference: `json.dumps` → Kafka,
    * `__init__.py:22`): one STRING column `value`, exactly what a
    * Kafka sink/source carries.
    */
  def ordersJson(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame =
    orders(spark, n, seed)
      .select(to_json(struct(col("*"))).as("value"))

  /** Schema-on-read decode of the wire form (`from_json`), mirroring
    * the Flink table's `'format' = 'json'` (`doc/temp.md:310`) and its
    * computed event-time column `ts`. `value` may be STRING (text
    * queue) or BINARY (a Kafka record's value); the cast is a no-op
    * Catalyst removes on string input.
    */
  def decodeJson(wire: DataFrame): DataFrame =
    wire.select(from_json(col("value").cast("string"),
        graft.model.Schemas.orderSchema).as("o"))
      .select(col("o.*"))
      .withColumn("ts", timestamp_seconds(col("order_time")))

  /** GEN as a STREAM — the reference's actual shape (an endless
    * producer, `__init__.py:13-25`): Spark's rate source supplies a
    * monotonically increasing row index (`value`), and the same pure
    * per-index derivations produce the order columns. Deterministic
    * given the index, so a replay regenerates identical orders —
    * which is what makes downstream exactly-once achievable.
    */
  def ordersStream(spark: SparkSession, rowsPerSecond: Int = 100,
      seed: Long = 42L): DataFrame = {
    val i = col("value")
    def h(field: String) = xxhash64(i, lit(field), lit(seed))
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(
        (lit(100000000000000L) + pmod(i * lit(A) + lit(seed), lit(M))).as("order_id"),
        (lit(1L) + pmod(h("user_id"), lit(5000L))).as("user_id"),
        lit("beijing").as("order_tz"),
        (lit(1L) + pmod(h("amount"), lit(10000L))).as("amount"),
        lit("rmb").as("currency"),
        pmod(h("channel_id"), lit(201L)).as("channel_id"),
        (lit(BaseEpoch) + i * lit(3L) + pmod(h("jitter"), lit(8L))).as("order_time"))
      .withColumn("ts", timestamp_seconds(col("order_time")))
      .withWatermark("ts", "5 seconds")
  }
}
