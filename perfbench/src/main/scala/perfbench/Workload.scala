package perfbench

import graft.model._
import graft.operators.SegmentRunner
import graft.plans.Planner
import graft.sources.{SegmentStore, Tables}
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A mix of rules: `singles`/`doubles` are one- and two-condition base
  * rules, `compounds` reuse two one-condition rules by INTERSECTION (the
  * first `withResidual` of them add a condition of their own).
  */
final case class Mix(singles: Int, doubles: Int, compounds: Int, withResidual: Int)

/** Sizes of one workload. Rules are DAILY; the `active` mix is refreshed by
  * every tick, `inactive` base rules never are, and the `drafts` mix is
  * seeded inactive into the catalog in one write before the rest are
  * created. `kind` fixes the condition kind of the active one-condition
  * rules and residuals.
  */
final case class Shape(rows: Long, users: Long, active: Mix, inactive: Int, drafts: Mix,
    kind: Option[Int])

/** A workload's shape and the API op cycle, read from `workloads.json`, the
  * one place they are written down.
  */
object Shape {
  def load(file: String, name: String): Option[(Shape, Vector[String])] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(file))
    Option(root.path("workloads").get(name)).map { w =>
      val rules = w.path("rules")
      def mix(key: String) = {
        val m = rules.path(key)
        Mix(m.path("base_single").asInt(0), m.path("base_double").asInt(0),
          m.path("compound").asInt(0), m.path("compound_with_residual").asInt(0))
      }
      val kind = w.path("condition_kind").asText("") match {
        case "" => None
        case "city_tier" => Some(Rules.TierKind)
        case other => sys.error(s"unknown condition_kind $other")
      }
      val cycle = root.path("op_cycle").elements().asScala.map(_.asText()).toVector
      (Shape(w.path("rows").asLong(), w.path("users").asLong(), mix("active"),
        rules.path("inactive").asInt(0), mix("drafts"), kind), cycle)
    }
  }
}

/** The model's view of one catalog row. `stored` is what the catalog keeps:
  * all conditions of a base rule, only the residual of a compound one.
  */
final case class MRule(id: Long, name: String, stored: Seq[Condition],
    dependsOn: Seq[Long], active: Boolean) {
  def isBase: Boolean = dependsOn.isEmpty
  def row: (Long, String, Seq[Condition], Seq[Long], Option[String], Boolean) =
    (id, name, stored, dependsOn, if (dependsOn.isEmpty) None else Some("intersection"), active)
}

object MRule {
  def row(e: SegmentCatalogEntry): (Long, String, Seq[Condition], Seq[Long], Option[String], Boolean) =
    (e.ruleId, e.segmentName, e.conditions, e.dependsOn, e.operation, e.isActive)
}

/** Outcome counters: every checked tick refresh or API op is one attempt. */
final class Outcomes {
  var attempted = 0L
  var failed = 0L
  var seconds = 0.0 // spent checking, outside every measured span
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (notes.size < 20) notes += what }
  }
  def timed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally seconds += (System.nanoTime() - t0) / 1e9
  }
}

/** One run: set-up, measured ticks and API ops, checks, and (traced) the
  * per-layer probes.
  */
final class Workload(spark: SparkSession, shape: Shape, cycleKinds: Vector[String], seed: Long,
    work: String, tracer: Tracer, corruptExpected: Boolean) {

  private val dataDir = s"$work/data"
  private val warehouse = s"$work/warehouse"
  val out = new Outcomes

  private val store = new SegmentStore(spark, warehouse)
  private val runner = new SegmentRunner(store, () => Tables.transactions(spark, dataDir))

  private val model = mutable.LinkedHashMap.empty[Long, MRule]
  private var activeIds: Seq[Long] = Nil
  private val factory = new CondFactory(seed * 7919L + 1L, shape.rows.toDouble / shape.users)
  private val opRnd = new scala.util.Random(seed * 104729L + 3L)
  private var day = 0

  private def now: String = java.time.Instant.parse("2024-06-01T00:00:00Z")
    .plus(day.toLong, java.time.temporal.ChronoUnit.DAYS).toString

  // ---- set-up -------------------------------------------------------------

  def generate(): Unit =
    Gen.writeEvents(spark, seed, shape.rows, shape.users, dataDir, files = 4)

  /** Seeds the catalog: drafts in one catalog write, the rest through
    * `createRule`, whose returned plans are checked against the model.
    */
  def seed(): Unit = {
    val drafts = Rules.catalog(factory, shape.drafts, 0)
    val rules = Rules.catalog(factory, shape.active, shape.inactive, shape.kind)
    val ids = mutable.ArrayBuffer.empty[Long]
    val entries = drafts.zipWithIndex.map { case (spec, i) =>
      val id = i + 1L
      ids += id
      val m = toModel(id, spec.name, spec, ids.apply, active = false)
      model(id) = m
      SegmentCatalogEntry(id, m.name, s"segment_output_$id", m.stored, m.dependsOn,
        m.row._5, isActive = false)
    }
    if (entries.nonEmpty) store.saveCatalog(entries)
    val offset = drafts.size
    rules.foreach { spec =>
      val expectedId = model.keys.maxOption.getOrElse(0L) + 1L
      val m = toModel(expectedId, spec.name, spec, p => ids(offset + p), spec.active)
      val expected = planOf(m)
      val (id, got) = runner.createRule(spec.name, spec.conditions, isActive = spec.active)
      out.check(id == expectedId && got == expected,
        s"createRule ${spec.name}: got ($id, $got), want ($expectedId, $expected)")
      ids += id
      model(id) = m
    }
    activeIds = model.values.filter(_.active).map(_.id).toSeq
    seeded = Map(
      "base_single" -> model.values.count(m => m.isBase && m.stored.size == 1),
      "base_double" -> model.values.count(m => m.isBase && m.stored.size == 2),
      "compound" -> model.values.count(!_.isBase),
      "inactive" -> model.values.count(!_.active),
      "total" -> model.size,
      "active" -> activeIds.size)
  }

  /** Rules by kind right after seeding. */
  var seeded: Map[String, Int] = Map.empty

  /** Model row for a spec, with parent model indices resolved by `idOf`. */
  private def toModel(id: Long, name: String, spec: RuleSpec, idOf: Int => Long,
      active: Boolean): MRule =
    if (!spec.isCompound) MRule(id, name, spec.conditions, Nil, active)
    else {
      val parents = spec.parents.map(idOf)
      val ordered = parents.sortBy(p => (-model(p).stored.size, p))
      MRule(id, name, spec.residual, ordered, active)
    }

  /** The plan the reuse rewrite must bind a rule to: its stored conditions,
    * or INTERSECTION of its parents with its residual.
    */
  private def planOf(m: MRule): SegmentPlan =
    if (m.isBase) SegmentPlan.Base(m.stored)
    else SegmentPlan.Compound(m.dependsOn, SetOp.Intersection, m.stored)

  // ---- checks -------------------------------------------------------------
  //
  // Outputs are recorded right after each tick and preview; the oracle runs
  // once the measured window is over, when the JVM is warm, and checks them.

  private final case class TickSeen(now: String, counts: Map[Long, Long],
      stored: Map[Long, Fingerprint], catalog: Map[Long, (Long, Option[String], Option[String])])
  private val ticksSeen = mutable.ArrayBuffer.empty[TickSeen]
  private val previewsSeen = mutable.ArrayBuffer.empty[(Long, Array[Row])]

  /** Records a tick's returned counts, stored segments and catalog rows. */
  def recordTick(counts: Map[Long, Long]): Unit = out.timed {
    val stored = Fingerprint.stored(spark, warehouse, activeIds)
    val catalog = store.loadCatalog()
      .map(e => e.ruleId -> (e.rowCount, e.lastRefreshedAt, e.nextRunAt)).toMap
    ticksSeen += TickSeen(now, counts, stored, catalog)
  }

  /** Computes every active rule's expected segment and checks each recorded
    * tick (refreshed set, returned counts, stored fingerprints, catalog rows)
    * and each recorded preview (row count, rows drawn from the segment).
    */
  def verify(): Unit = out.timed {
    val oracle = new Oracle(spark, dataDir, seed, shape.rows, shape.users)
    out.check(oracle.inputMatches, "the events file differs from the rows the oracle rebuilt")
    def full(id: Long): Seq[Condition] = model(id).dependsOn.flatMap(full) ++ model(id).stored
    val segments = activeIds.map { id =>
      val m = model(id)
      val in =
        if (m.isBase) Seq(m.stored)
        else m.dependsOn.map(full) ++ (if (m.stored.isEmpty) Nil else Seq(m.stored))
      val segs = in.map(oracle.base)
      id -> oracle.intersect(segs.head, segs.tail)
    }.toMap
    val expected = segments.map { case (id, seg) =>
      val f = oracle.fingerprint(seg)
      id -> (if (corruptExpected && id == activeIds.head) f.copy(hashSum = f.hashSum + 1) else f)
    }

    ticksSeen.foreach { t =>
      out.check(t.counts.keySet == activeIds.toSet,
        s"tick at ${t.now} refreshed ${t.counts.keys.toSeq.sorted}, want ${activeIds.sorted}")
      val next = java.time.Instant.parse(t.now).plus(1, java.time.temporal.ChronoUnit.DAYS).toString
      activeIds.foreach { id =>
        val want = expected(id)
        out.check(t.stored(id) == want && t.counts.get(id).contains(want.rows) &&
          t.catalog.get(id).contains((want.rows, Some(t.now), Some(next))),
          s"rule $id at ${t.now}: stored ${t.stored(id)}, returned ${t.counts.get(id)}, " +
            s"catalog ${t.catalog.get(id)}, want $want")
      }
    }

    val members = previewsSeen.map(_._1).distinct.map(id => id -> oracle.rowHashes(segments(id))).toMap
    previewsSeen.foreach { case (id, rows) =>
      val foreign = rows.count(r => !members(id)(Fingerprint.rowHash(r)))
      out.check(rows.length == math.min(100L, expected(id).rows) && foreign == 0,
        s"preview($id): ${rows.length} rows, $foreign not in the segment")
    }
  }

  def inputRows: Long = shape.rows

  // ---- ticks ----------------------------------------------------------------

  /** One scheduler tick: `now` advances a day, so every active rule is due. */
  def tick(): (Map[Long, Long], Span) = {
    day += 1
    tracer.span("tick", s"tick@$now")(runner.runDue(now))
  }

  // ---- API ops --------------------------------------------------------------

  private var cycle = 0
  private var draft: Option[Long] = None
  def cycleLength: Int = cycleKinds.size
  val writeKinds: Set[String] = Set("create", "update", "activate", "delete")
  val catalogLoads: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  val planMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  private def pick[A](xs: Seq[A]): A = xs(opRnd.nextInt(xs.size))

  /** Conditions for a new or updated rule: fresh base conditions, or two
    * base rules' conditions (plus a residual half the time) so the reuse
    * rewrite binds it as their INTERSECTION.
    */
  private def newConditions(exclude: Long): (Seq[Condition], Seq[Long], Seq[Condition]) = {
    val bases = model.values.filter(m => m.isBase && m.stored.nonEmpty && m.id != exclude).toSeq
    if (opRnd.nextInt(5) < 3 || bases.size < 2) (factory.base(1 + opRnd.nextInt(2)), Nil, Nil)
    else {
      val a = pick(bases)
      val b = pick(bases.filter(_.id != a.id))
      val res = if (opRnd.nextBoolean()) Seq(factory.residual()) else Nil
      (a.stored ++ b.stored ++ res, Seq(a.id, b.id).sortBy(p => (-model(p).stored.size, p)), res)
    }
  }

  private def catalogMatches(): Boolean = out.timed {
    val t0 = System.nanoTime()
    val got = store.loadCatalog()
    catalogLoads += (System.nanoTime() - t0) / 1e9
    got.map(MRule.row) == model.values.toSeq.sortBy(_.id).map(_.row)
  }

  private def lineageOf(id: Long): (Set[Long], Set[(Long, Long)]) = {
    val nodes = mutable.Set.empty[Long]
    val edges = mutable.Set.empty[(Long, Long)]
    def walk(i: Long): Unit = if (nodes.add(i)) model.get(i).foreach(_.dependsOn.foreach { p =>
      edges += ((p, i)); walk(p)
    })
    walk(id)
    (nodes.toSet, edges.toSet)
  }

  /** Runs the next op of the cycle, timed as a span, then checks it. The
    * cycle creates one draft rule, updates, activates and deletes it, so the
    * catalog's size and the seeded rules stay as they were.
    */
  def op(): Span = {
    val kind = cycleKinds(cycle % cycleKinds.size)
    cycle += 1
    val ids = model.keys.toSeq
    val sample = kind match {
      case "list" =>
        val page = 1 + opRnd.nextInt((ids.size + 9) / 10)
        val (got, s) = tracer.span("op", kind)(runner.listRules(page, 10))
        val want = model.values.toSeq.sortBy(_.id).slice((page - 1) * 10, page * 10)
        out.check(got.map(MRule.row) == want.map(_.row), s"listRules($page) mismatch")
        s
      case "get" =>
        val id = pick(ids)
        val (got, s) = tracer.span("op", kind)(runner.getRule(id))
        out.check(got.map(MRule.row) == Some(model(id).row), s"getRule($id) = $got")
        s
      case "lineage" =>
        val compounds = ids.filter(i => !model(i).isBase)
        val id = if (compounds.nonEmpty) pick(compounds) else pick(ids)
        val ((nodes, edges), s) = tracer.span("op", kind)(store.lineage(id))
        out.check(nodes.size == nodes.toSet.size && (nodes.toSet, edges.toSet) == lineageOf(id),
          s"lineage($id) = ($nodes, $edges)")
        s
      case "preview" =>
        val id = pick(activeIds)
        val (rows, s) = tracer.span("op", kind)(store.read(id).limit(100).collect())
        previewsSeen += ((id, rows))
        s
      case "create" =>
        val (conds, parents, res) = newConditions(exclude = -1L)
        val id = ids.max + 1
        val name = s"draft_$cycle"
        if (tracer.enabled) planMs += timePlanning(conds)
        val ((gotId, got), s) = tracer.span("op", kind)(runner.createRule(name, conds, isActive = false))
        model(id) = MRule(id, name, if (parents.isEmpty) conds else res, parents, active = false)
        draft = Some(id)
        out.check(gotId == id && got == planOf(model(id)) && catalogMatches(),
          s"createRule: got ($gotId, $got)")
        s
      case "update" =>
        val id = draft.get
        val (conds, parents, res) = newConditions(exclude = id)
        val (got, s) = tracer.span("op", kind)(runner.updateRule(id, conds))
        model(id) = model(id).copy(stored = if (parents.isEmpty) conds else res, dependsOn = parents)
        out.check(got == planOf(model(id)) && catalogMatches(), s"updateRule($id): $got")
        s
      case "activate" =>
        val id = draft.get
        val (_, s) = tracer.span("op", kind)(runner.setActive(id, true))
        model(id) = model(id).copy(active = true)
        out.check(catalogMatches(), s"setActive($id) catalog mismatch")
        s
      case "delete" =>
        val id = draft.get
        val (_, s) = tracer.span("op", kind)(runner.deleteRule(id))
        model.remove(id)
        draft = None
        out.check(catalogMatches() && !store.exists(id), s"deleteRule($id) catalog mismatch")
        s
    }
    sample
  }

  /** Milliseconds the reuse rewrite takes for `conds` against the catalog. */
  private def timePlanning(conds: Seq[Condition]): Double = {
    val existing = model.values.map(m => Rule(m.id, m.name, m.stored, dependencies = m.dependsOn,
      operation = if (m.isBase) None else Some(SetOp.Intersection))).toSeq
    val t0 = System.nanoTime()
    Planner.planNew(conds, existing)
    (System.nanoTime() - t0) / 1e6
  }

  // ---- traced probes --------------------------------------------------------

  /** Compute floor: each active rule's stored plan evaluated to a noop sink;
    * seconds per rule, split into base and compound plans. A workload without
    * an active compound rule evaluates the INTERSECTION of its first two
    * active base rules instead, so the set-operation layer is measured on
    * every workload.
    */
  def computeFloor(): (Seq[Double], Seq[Double]) = {
    val catalog = store.loadCatalog().map(e => e.ruleId -> e).toMap
    val plans = activeIds.map { id =>
      val e = catalog(id)
      Planner.planStored(Rule(id, e.segmentName, e.conditions, dependencies = e.dependsOn,
        operation = e.operation.flatMap(SetOp.parse)))
    }
    val probe = if (plans.exists(_.isInstanceOf[SegmentPlan.Compound])) Nil
      else Seq(SegmentPlan.Compound(activeIds.filter(model(_).isBase).take(2), SetOp.Intersection, Nil))
    val times = (plans ++ probe).map { p =>
      val t0 = System.nanoTime()
      Planner.evaluate(p, Tables.transactions(spark, dataDir), store.read)
        .write.format("noop").mode("overwrite").save()
      (p.isInstanceOf[SegmentPlan.Base], (System.nanoTime() - t0) / 1e9)
    }
    (times.filter(_._1).map(_._2), times.filterNot(_._1).map(_._2))
  }

  def warehouseSnapshot(): FsSnapshot = FsSnapshot.walk(warehouse)

  def activeCount: Int = activeIds.size
}
