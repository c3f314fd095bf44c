package perfbench

import graft.model.Condition
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Seeded inputs: an events-shaped parquet table and rules drawn from a small
  * condition grammar. The same seed always yields the same rows and rules.
  */
object Gen {

  /** Events span this many days from 2024-01-01, like the corpus fixtures. */
  val Days = 90
  val StartEpochS = 1704067200L // 2024-01-01T00:00:00Z
  private val EventTypes = Seq("view", "click", "purchase", "signup", "error", "share")
  /** Mean of the generated `value` column (uniform over [0, 500)). */
  val MeanValue = 250.0

  /** Writes `rows` events for `users` users as `<dir>/events.parquet`, the
    * layout `Tables.transactions` reads. Every column is a hash of the row id
    * and the seed, so the table does not depend on partitioning.
    */
  def writeEvents(spark: SparkSession, seed: Long, rows: Long, users: Long,
      dir: String, files: Int): Unit = {
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))
    val types = array(EventTypes.map(lit): _*)
    spark.range(0L, rows, 1L, files).select(
      col("id").as("event_id"),
      timestamp_micros(lit(StartEpochS * 1000000L) + pmod(h(1), lit(Days * 86400L * 1000000L)))
        .cast("timestamp_ntz").as("ts"),
      pmod(h(2), lit(users)).as("user_id"),
      element_at(types, (pmod(h(3), lit(EventTypes.size.toLong)) + 1).cast("int")).as("event_type"),
      (pmod(h(4), lit(50000L)) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  def day(offset: Int): String =
    java.time.LocalDate.of(2024, 1, 1).plusDays(offset.toLong).toString
}

/** One generated rule as the benchmark's model knows it: the conditions the
  * analyst submits and the plan the reuse rewrite must bind them to.
  * `parents` are model indices of rules created earlier.
  */
final case class RuleSpec(name: String, conditions: Seq[Condition],
    parents: Seq[Int], residual: Seq[Condition], active: Boolean) {
  def isCompound: Boolean = parents.nonEmpty
}

/** Draws conditions that no other rule of the run uses, so a rule's condition
  * set contains another rule's set only where the generator put it there on
  * purpose (a compound rule). That makes every plan known in advance.
  *
  * Grammar: `transaction_amount` > / BETWEEN, `city_tier` IN, and
  * `transaction_date` BETWEEN route to WHERE; `total_spend` > and
  * `transaction_count` >= route to HAVING.
  */
final class CondFactory(seed: Long, txPerUser: Double) {
  private val rnd = new scala.util.Random(seed)
  private val used = mutable.Set.empty[Condition]
  private val meanSpend = txPerUser * Gen.MeanValue

  private def money(v: Double): String = f"$v%.2f"

  private def draw(kind: Int): Condition = kind match {
    case 0 => Condition("transaction_amount", ">", money(20 + rnd.nextDouble() * 400))
    case 1 =>
      val lo = rnd.nextDouble() * 300
      Condition.between("transaction_amount", money(lo), money(lo + 60 + rnd.nextDouble() * 180))
    case 2 =>
      // always two of the four tiers, so a tier rule keeps half the events
      // whatever the seed
      val tiers = rnd.shuffle((1 to 4).toList).take(2).sorted
      Condition.in("city_tier", tiers.map(_.toString))
    case 3 =>
      val from = rnd.nextInt(Gen.Days - 40)
      Condition.between("transaction_date", Gen.day(from), Gen.day(from + 14 + rnd.nextInt(25)))
    case 4 => Condition("total_spend", ">", money(meanSpend * (0.1 + rnd.nextDouble() * 0.9)))
    case _ => Condition("transaction_count", ">=", (1 + rnd.nextInt(math.max(2, txPerUser.toInt))).toString)
  }

  /** A condition of kind `kind % 6` that no rule has used yet; falls over to
    * the next kind when one kind runs out of unused values.
    */
  def fresh(kind: Int): Condition = {
    var k = kind
    var tries = 0
    var c = draw(k % 6)
    while (used.contains(c)) {
      tries += 1
      if (tries % 20 == 0) k += 1
      c = draw(k % 6)
    }
    used += c
    c
  }

  /** A base rule of one or two conditions; the first is a WHERE condition
    * (of kind `kind` if given), a second is a HAVING condition, so the rule
    * is filter + aggregate + post-aggregate filter.
    */
  def base(n: Int, kind: Option[Int] = None): Seq[Condition] = {
    val first = fresh(kind.getOrElse(rnd.nextInt(4)))
    if (n == 1) Seq(first) else Seq(first, fresh(4 + rnd.nextInt(2)))
  }

  /** A residual condition for a compound rule (of kind `kind` if given). */
  def residual(kind: Option[Int] = None): Condition = fresh(kind.getOrElse(rnd.nextInt(6)))
}

/** The rule sets of the workloads. */
object Rules {

  /** Kind 2 of [[CondFactory]]: `city_tier`, which the transaction view
    * parses out of each event's JSON properties.
    */
  val TierKind = 2

  /** The base rules of `mix` (one-condition first), then its compound rules,
    * each built from two one-condition parents, then `inactive` inactive base
    * rules. `kind` fixes the kind of the one-condition rules' and the
    * residuals' conditions.
    */
  def catalog(f: CondFactory, mix: Mix, inactive: Int, kind: Option[Int] = None): Vector[RuleSpec] = {
    val out = mutable.ArrayBuffer.empty[RuleSpec]
    def add(r: RuleSpec): Unit = out += r.copy(name = s"${r.name}_${out.size}")
    (0 until mix.singles).foreach(_ => add(RuleSpec("base1", f.base(1, kind), Nil, Nil, active = true)))
    (0 until mix.doubles).foreach(_ => add(RuleSpec("base2", f.base(2), Nil, Nil, active = true)))
    (0 until mix.compounds).foreach { c =>
      // disjoint parent pairs while they last, so each parent is reused evenly
      val a = (2 * c) % mix.singles
      val b = (2 * c + 1) % mix.singles
      val res = if (c < mix.withResidual) Seq(f.residual(kind)) else Nil
      add(RuleSpec("compound", out(a).conditions ++ out(b).conditions ++ res,
        Seq(a, b), res, active = true))
    }
    (0 until inactive).foreach(_ => add(RuleSpec("inactive", f.base(1), Nil, Nil, active = false)))
    out.toVector
  }
}
