package perfbench

import graft.model.{CondValue, Condition}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive content fingerprint of a segment: row count plus the sum
  * of `xxhash64` over every row (summed exactly, so it cannot overflow).
  */
final case class Fingerprint(rows: Long, hashSum: BigInt)

object Fingerprint {
  val Empty: Fingerprint = Fingerprint(0L, BigInt(0))
  val SegmentCols: Seq[String] =
    Seq("user_id", "total_transactions", "total_spent", "transaction_types")

  /** Spark's `xxhash64` of one segment row, computed on the driver: seed 42,
    * folded over the columns in order, a double hashed by its bits.
    */
  def rowHash(user: Long, count: Long, spent: Double, types: String): Long = {
    var h = XXH64.hashLong(user, 42L)
    h = XXH64.hashLong(count, h)
    h = XXH64.hashLong(if (spent == 0.0) 0L else java.lang.Double.doubleToLongBits(spent), h)
    XXH64.hashUTF8String(UTF8String.fromString(types), h)
  }

  def rowHash(r: Row): Long = rowHash(r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))

  /** Fingerprints of the stored segments of `ids`, read straight from their
    * directories and hashed by Spark, in one job.
    */
  def stored(spark: SparkSession, warehouse: String, ids: Seq[Long]): Map[Long, Fingerprint] = {
    val got = spark.read.parquet(ids.map(id => s"$warehouse/segment_output_$id"): _*)
      .withColumn("rule_id",
        regexp_extract(input_file_name(), "segment_output_(\\d+)/", 1).cast(LongType))
      .groupBy("rule_id")
      .agg(count(lit(1)), sum(xxhash64(SegmentCols.map(col): _*).cast(DecimalType(38, 0))))
      .collect()
      .map(r => r.getLong(0) -> Fingerprint(r.getLong(1), BigInt(r.getDecimal(2).toBigInteger)))
      .toMap
    ids.map(id => id -> got.getOrElse(id, Empty)).toMap
  }
}

/** Expected segments, computed on the driver without Spark and without any
  * engine code. The generator's rows are rebuilt from its seeded hash
  * formula; `inputMatches` confirms, with one scan of the written file, that
  * they are the rows the engine reads. Conditions of the generator's grammar
  * are evaluated directly; the keyed intersection keeps the first input's
  * rows whose user is in every other input.
  */
final class Oracle(spark: SparkSession, dataDir: String, seed: Long, rows: Long, users: Long) {
  private val n = rows.toInt
  private val user = new Array[Int](n)
  private val cents = new Array[Int](n) // value × 100: generated values have two decimals
  private val day = new Array[Int](n)   // days since 1970-01-01, UTC
  private val tier = new Array[Byte](n)

  private def h(id: Long, salt: Int): Long =
    XXH64.hashInt(salt, XXH64.hashLong(seed, XXH64.hashLong(id, 42L)))

  locally {
    val dayMicros = 86400L * 1000000L
    var i = 0
    while (i < n) {
      val micros = Gen.StartEpochS * 1000000L + Math.floorMod(h(i, 1), Gen.Days * dayMicros)
      day(i) = Math.floorDiv(micros, dayMicros).toInt
      user(i) = Math.floorMod(h(i, 2), users).toInt
      cents(i) = Math.floorMod(h(i, 4), 50000L).toInt
      tier(i) = (Math.floorMod(h(i, 5), 100L) % 4 + 1).toByte
      i += 1
    }
  }

  /** One scan of the written file, hashed like the rebuilt rows. */
  val inputMatches: Boolean = {
    val r = spark.read.parquet(s"$dataDir/events.parquet").selectExpr(
      "CAST(user_id AS BIGINT) AS u",
      "CAST(round(value * 100) AS BIGINT) AS c",
      "CAST(datediff(to_date(CAST(ts AS TIMESTAMP)), DATE'1970-01-01') AS BIGINT) AS d",
      "CAST(regexp_extract(props, '\"k\": *([0-9]+)', 1) AS BIGINT) % 4 + 1 AS t")
      .selectExpr("count(*)", "sum(CAST(xxhash64(u, c, d, t) AS DECIMAL(38,0)))")
      .head()
    var sum = BigInt(0)
    var i = 0
    while (i < n) {
      var x = XXH64.hashLong(user(i).toLong, 42L)
      x = XXH64.hashLong(cents(i).toLong, x)
      x = XXH64.hashLong(day(i).toLong, x)
      sum += XXH64.hashLong(tier(i).toLong, x)
      i += 1
    }
    r.getLong(0) == rows && BigInt(r.getDecimal(1).toBigInteger) == sum
  }

  private def cmp(op: String, c: Int): Boolean = op match {
    case ">"  => c > 0
    case ">=" => c >= 0
    case "<"  => c < 0
    case "<=" => c <= 0
    case "="  => c == 0
    case "!=" => c != 0
    case other => sys.error(s"operator outside the generator's grammar: $other")
  }
  private def one(c: Condition): String = c.value match {
    case CondValue.One(v) => v
    case other => sys.error(s"scalar value expected: $other")
  }
  private def epochDay(s: String): Int = java.time.LocalDate.parse(s).toEpochDay.toInt

  /** Row filter of one WHERE-routed condition. */
  private def where(c: Condition): Int => Boolean = (c.field, c.operator) match {
    case ("transaction_amount", "BETWEEN") =>
      val (lo, hi) = (one(c).toDouble, c.value2.get.toDouble)
      i => { val v = cents(i) / 100.0; v >= lo && v <= hi }
    case ("transaction_amount", op) =>
      val x = one(c).toDouble
      i => cmp(op, java.lang.Double.compare(cents(i) / 100.0, x))
    case ("transaction_date", "BETWEEN") =>
      val (lo, hi) = (epochDay(one(c)), epochDay(c.value2.get))
      i => day(i) >= lo && day(i) <= hi
    case ("city_tier", "IN") =>
      val set = c.value match {
        case CondValue.Many(vs) => vs.map(_.toInt).toSet
        case other => sys.error(s"list value expected: $other")
      }
      i => set.contains(tier(i).toInt)
    case other => sys.error(s"condition outside the generator's grammar: $other")
  }

  /** Group filter of one HAVING-routed condition over (count, total spent). */
  private def having(c: Condition): (Long, Double) => Boolean = c.field match {
    case "total_spend" =>
      val x = one(c).toDouble
      (_, spent) => cmp(c.operator, java.lang.Double.compare(spent, x))
    case "transaction_count" =>
      val x = one(c).toLong
      (count, _) => cmp(c.operator, java.lang.Long.compare(count, x))
    case other => sys.error(s"condition outside the generator's grammar: $other")
  }

  private def isHaving(c: Condition): Boolean =
    c.field == "total_spend" || c.field == "transaction_count"

  /** A segment as user → (transactions, total spent); transaction_types is
    * always EVENTS, the transaction view's only source.
    */
  type Segment = Map[Long, (Long, Double)]

  /** The segment of a base rule: filter, per-user aggregate, post-filter. */
  def base(conditions: Seq[Condition]): Segment = {
    val filters = conditions.filterNot(isHaving).map(where).toArray
    val groups = conditions.filter(isHaving).map(having)
    val count = new Array[Long](users.toInt)
    val sumCents = new Array[Long](users.toInt)
    var i = 0
    while (i < n) {
      if (filters.forall(_(i))) { count(user(i)) += 1; sumCents(user(i)) += cents(i) }
      i += 1
    }
    (0 until users.toInt).iterator.filter(u => count(u) > 0)
      .map(u => u.toLong -> ((count(u), BigDecimal(sumCents(u), 2).toDouble)))
      .filter { case (_, (c, s)) => groups.forall(_(c, s)) }
      .toMap
  }

  /** Keyed intersection: rows of `first` whose user is in every other input. */
  def intersect(first: Segment, others: Seq[Segment]): Segment =
    first.filter { case (u, _) => others.forall(_.contains(u)) }

  def rowHashes(s: Segment): Set[Long] =
    s.iterator.map { case (u, (c, spent)) => Fingerprint.rowHash(u, c, spent, "EVENTS") }.toSet

  def fingerprint(s: Segment): Fingerprint =
    Fingerprint(s.size.toLong, s.iterator.map { case (u, (c, spent)) =>
      BigInt(Fingerprint.rowHash(u, c, spent, "EVENTS"))
    }.sum)
}
