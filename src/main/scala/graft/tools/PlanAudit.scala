package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.{CollectLimitExec, LocalTableScanExec, RangeExec, SparkPlan, GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import scala.util.Try
import scala.util.control.NonFatal

/** Scale-guard audit: build every registered query's physical plan and
  * flag the shapes that do not survive a 100x scale-up:
  *
  *   1. `CartesianProduct` / `BroadcastNestedLoopJoin` /
  *      `Exchange SinglePartition` (string-level);
  *   2. WINDOWS WITH AN EMPTY PARTITION SPEC — a corpus through one
  *      window partition is a cliff class found twice by hand.
  *      Deliberately-bounded frames are spelled with
  *      [[graft.functions.WindowKeys.onePartition]], which survives as
  *      a non-empty spec, so any empty spec left is an unreviewed hit;
  *   3. HINT-FORCED broadcast builds not provably bounded — a
  *      `broadcast()` hint whose build subtree reaches a data source
  *      without passing a bounding node grows with the corpus and OOMs
  *      the driver at scale, and the hint BYPASSES the planner's size
  *      check, so nothing re-plans it. (Un-hinted broadcasts are
  *      chosen FROM size estimates and re-chosen at scale — AQE
  *      replaces them with shuffle joins when the build outgrows the
  *      threshold — so they are definitionally not forced cliffs and
  *      are not flagged; flagging them at audit SF would drown the
  *      signal in every small-side join the planner rightly
  *      broadcasts at 60k rows.) Build sides bounded by construction
  *      (ONE-ROW aggregates, limits, local relations, small ranges)
  *      pass silently; a build bounded only by a GROUPED aggregate is
  *      a separate hit kind (`grouped-agg-broadcast`) because a
  *      corpus-cardinality grouping key makes the frame corpus-sized —
  *      each such site must state why its key's cardinality is
  *      feature-sized or runtime-measured;
  *   4. `multi-scan`: a query outside [[graft.Queries.lifecycle]] whose
  *      executed plan counts scans + generates >= 5 with zero
  *      `ReusedExchange` — the signature of a hidden multi-pass diamond
  *      (plan-level exchange reuse never deduplicates a re-aliased
  *      derived branch, so every extra consumer of a derived frame
  *      re-runs its corpus pass). Only this kind runs the query (a
  *      `noop` write); the other kinds read plans.
  *
  * Some hits are INTENTIONAL (exact ANN baselines broadcast a
  * filter-selected query side; fixture-fed parsers broadcast a local
  * relation) — every such site lives in [[graft.PlanAuditExceptions]]
  * with its bound justification. [[gate]] fails on any hit NOT listed
  * there, on any listed entry of a query it ran that matched no hit
  * (stale), and on any query that throws. `PlanGateSpec` runs it over
  * every registered query at sf0.001 in the test suite; `main` runs the
  * same gate at any scale and exits 1 when it fails.
  * Usage: `sbt "runMain graft.tools.PlanAudit [sfDir]"`.
  */
object PlanAudit {
  private val Flags = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
    "Exchange SinglePartition")

  /** Bound class of a broadcast build subtree. A GROUPED aggregate does
    * NOT bound a build regardless of corpus size — a groupBy on a
    * corpus-cardinality key (distinct doc ids, raw values) produces a
    * corpus-sized frame, exactly the cliff class this check exists for.
    * Only one-row aggregates (empty grouping list) are hard bounds;
    * grouped-aggregate builds surface as their own hit kind so each
    * site must carry a reviewed statement of WHY its grouping key's
    * cardinality is feature-sized, not corpus-sized. */
  private sealed trait Bound
  private case object Hard extends Bound
  private case object GroupedAgg extends Bound
  private case object Unbounded extends Bound

  private def nodeBound(p: SparkPlan): Option[Bound] = p match {
    case a: HashAggregateExec =>
      Some(if (a.groupingExpressions.isEmpty) Hard else GroupedAgg)
    case a: ObjectHashAggregateExec =>
      Some(if (a.groupingExpressions.isEmpty) Hard else GroupedAgg)
    case a: SortAggregateExec =>
      Some(if (a.groupingExpressions.isEmpty) Hard else GroupedAgg)
    case _: GlobalLimitExec | _: LocalLimitExec |
         _: TakeOrderedAndProjectExec | _: CollectLimitExec |
         _: LocalTableScanExec => Some(Hard)
    case r: RangeExec => Some(
      if (r.numElements.isValidLong && r.numElements.toLong <= 1000000L) Hard
      else Unbounded)
    case _ => None
  }

  /** Worst bound along any root-to-leaf path of a PHYSICAL build
    * subtree: a path reaching a data source with no bounding node is
    * Unbounded; a path whose first bound is a grouped aggregate is
    * GroupedAgg. Descends AQE wrappers, query stages, and cached
    * relations (the scale-adaptive operators persist their histogram
    * frames, which buries the producing subtree behind an
    * InMemoryTableScan leaf). */
  private def buildBound(p: SparkPlan): Bound = p match {
    case a: AdaptiveSparkPlanExec => buildBound(a.initialPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      buildBound(q.plan)
    case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      buildBound(c.relation.cachedPlan)
    case _ => nodeBound(p) match {
      case Some(b) => b
      case None =>
        if (p.children.isEmpty) Unbounded
        else {
          val cs = p.children.map(buildBound)
          if (cs.contains(Unbounded)) Unbounded
          else if (cs.contains(GroupedAgg)) GroupedAgg
          else Hard
        }
    }
  }

  /** [[buildBound]] for the LOGICAL side of a hinted join: same bound
    * classes over logical nodes, descending into cached-relation
    * physical plans where the optimizer spliced one in. */
  private def logicalBound(p: logical.LogicalPlan): Bound = p match {
    case a: logical.Aggregate =>
      if (a.groupingExpressions.isEmpty) Hard else GroupedAgg
    case _: logical.Deduplicate => GroupedAgg
    case _: logical.GlobalLimit | _: logical.LocalLimit |
         _: logical.LocalRelation | _: logical.OneRowRelation => Hard
    case r: logical.Range =>
      if (r.numElements.isValidLong && r.numElements.toLong <= 1000000L)
        Hard
      else Unbounded
    case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
      buildBound(m.cachedPlan)
    case _ =>
      if (p.children.isEmpty) Unbounded
      else {
        val cs = p.children.map(logicalBound)
        if (cs.contains(Unbounded)) Unbounded
        else if (cs.contains(GroupedAgg)) GroupedAgg
        else Hard
      }
  }

  private[tools] def audit(df: DataFrame): Seq[String] = {
    val qe = df.queryExecution
    val planStr = qe.executedPlan.toString
    val stringHits = Flags.filter(planStr.contains)
    // windows inside CACHED subplans hide behind InMemoryRelation
    // leaves of the logical plan — walk their physical cachedPlan too
    // (WindowExec there), or a persisted operator could smuggle an
    // unpartitioned window past the audit
    val cachedWindowHits = qe.optimizedPlan.collectWithSubqueries {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        m.cachedPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => "unpartitioned-window"
        }
    }.flatten
    val windowHits = (qe.optimizedPlan.collectWithSubqueries {
      case w: logical.Window if w.partitionSpec.isEmpty =>
        "unpartitioned-window"
      case w: logical.WindowGroupLimit if w.partitionSpec.isEmpty =>
        "unpartitioned-window"
    } ++ cachedWindowHits).distinct
    // hint-FORCED broadcasts only: the optimizer folds broadcast()
    // hints into the owning Join's JoinHint, so the logical plan is
    // where forced-vs-chosen is decidable. (An earlier spelling walked
    // the physical tree for BroadcastExchangeExec under the AQE
    // wrapper's inputPlan — which predates EnsureRequirements and
    // contains no exchanges at all, an audit-wide false negative; and
    // the post-EnsureRequirements tree cannot distinguish a forced
    // broadcast from a size-chosen one AQE would re-plan at scale.)
    val broadcastHits = qe.optimizedPlan.collectWithSubqueries {
      case j: logical.Join =>
        Seq((j.hint.leftHint, j.left), (j.hint.rightHint, j.right))
          .flatMap {
            case (Some(h), side) if h.strategy.contains(logical.BROADCAST) =>
              val leafNames = side.collectLeaves().map(_.nodeName).distinct
                .mkString("+")
              // LogicalRDD leaves (checkpointed frames) are anonymous —
              // the nodeName alone would let any FUTURE broadcast over
              // any checkpointed frame in the same query ride a stale
              // justification. Append the broadcast
              // side's output schema so the exception key names WHICH
              // frame was reviewed; a new frame = a new key = NEW hit.
              val leaves =
                if (leafNames.contains("LogicalRDD"))
                  leafNames +
                    side.output.map(_.name).mkString("[", ",", "]")
                else leafNames
              logicalBound(side) match {
                case Hard => Nil
                case GroupedAgg => Seq(s"grouped-agg-broadcast($leaves)")
                case Unbounded => Seq(s"unbounded-broadcast($leaves)")
              }
            case _ => Nil
          }
    }.flatten.distinct
    stringHits ++ windowHits ++ broadcastHits
  }

  /** Scan census of an EXECUTED plan: `multi-scan` when scans +
    * generates >= 5 with zero exchange reuse. Call after running `df`,
    * so cached subplans print their final adaptive plans. */
  private def multiScan(df: DataFrame): Seq[String] = {
    val s = df.queryExecution.executedPlan.toString
    def n(node: String) = node.r.findAllIn(s).length
    if (n("FileScan") + n("Generate") >= 5 && n("ReusedExchange") == 0)
      Seq("multi-scan")
    else Nil
  }

  /** One flagged plan shape: the query, the hit kind (the key in
    * [[graft.PlanAuditExceptions]]) and its reviewed justification, if
    * any. */
  final case class Hit(query: String, kind: String, why: Option[String])

  /** The outcome of one [[gate]] run over `queries` registered queries.
    * `stale` lists the reviewed (query, kind) entries of queries that
    * ran without throwing but matched no hit. */
  final case class GateResult(hits: Seq[Hit], errors: Seq[(String, String)],
                              stale: Seq[(String, String)], queries: Int) {
    def unreviewed: Seq[Hit] = hits.filter(_.why.isEmpty)
    def ok: Boolean = unreviewed.isEmpty && errors.isEmpty && stale.isEmpty
    def summary: String =
      s"${hits.size - unreviewed.size} reviewed hits, ${unreviewed.size} " +
        s"NEW, ${stale.size} stale, ${errors.size} failed queries — over " +
        s"$queries queries" +
        (if (ok) "" else ": " + (unreviewed.map(h => s"${h.query}: ${h.kind}")
          ++ stale.map { case (q, k) => s"$q: $k is reviewed but matched no hit" }
          ++ errors.map { case (q, e) => s"$q threw $e" }).mkString("; "))
  }

  /** Audit every registered query against `sfDir` and review each hit
    * against [[graft.PlanAuditExceptions]]. Each query starts and ends
    * with no cached data, persisted RDDs, streams or loaded state
    * stores, so its plan does not depend on what ran before it. */
  def gate(spark: SparkSession, sfDir: String): GateResult = {
    val reviewed = graft.SparkEntry.planAuditExceptions
    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val hits = Seq.newBuilder[Hit]
    val errors = Seq.newBuilder[(String, String)]
    reset(spark)
    queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val kinds = audit(df) ++ (
          if (graft.Queries.lifecycle(name)) Nil
          else {
            df.write.format("noop").mode("overwrite").save()
            multiScan(df)
          })
        kinds.foreach(k =>
          hits += Hit(name, k, reviewed.get(name).flatMap(_.get(k))))
      } catch { case NonFatal(e) =>
        errors += name -> (s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(120))
      } finally reset(spark)
    }
    val (hit, failed) = (hits.result(), errors.result())
    val found = hit.map(h => (h.query, h.kind)).toSet
    val ran = queries.map(_._1).toSet -- failed.map(_._1)
    val stale = reviewed.toSeq.filter(e => ran(e._1)).flatMap { case (q, kinds) =>
      kinds.keys.filterNot(k => found((q, k))).map(q -> _) }.sorted
    GateResult(hit, failed, stale, queries.size)
  }

  private def reset(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => Try(q.stop()))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    Try(org.apache.spark.sql.graft.bridge.unloadStateStores())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark: SparkSession = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    val result = gate(spark, sfDir)
    spark.stop()
    result.hits.foreach(h => println(s"[audit] ${h.query}: ${h.kind} — " +
      h.why.fold("NEW (unreviewed)")(why => s"OK ($why)")))
    result.stale.foreach { case (q, k) =>
      println(s"[audit] $q: $k — STALE (reviewed, no hit)") }
    result.errors.foreach { case (q, e) => println(s"[audit] $q: PLAN-ERROR $e") }
    println(s"[audit] done: ${result.summary}")
    if (!result.ok) sys.exit(1)
  }
}
